package graft.tools

import graft.SparkEnv
import graft.streaming.{ParquetServingStore, ServingStore}

/** Round-15 (VERDICT r14 #3): measure the serving-store read-latency
  * creep a long-running stream causes by accumulating `batch_id=`
  * subtrees, and show compaction restores the flat floor.
  *
  * Simulates the production write pattern: each micro-batch upserts
  * the CURRENT day's hourly counters (24 keys × 3 types), days cycling
  * through a month — so every key is re-emitted many times and the
  * latest-batch-wins merge has real resolution work. At checkpoints of
  * accumulated batch count, measures the point-lookup latency
  * (`lookupRows("click/hour/<day>")` — the read `HttpServing` serves a
  * GET with) and the full-store resolve (`latest().count`), min over
  * passes; then compacts (retain 2) and re-measures.
  *
  *   sbt "runMain graft.tools.ServeCompactProf [maxBatches]"
  */
object ServeCompactProf {
  def main(args: Array[String]): Unit = {
    val maxBatches = if (args.nonEmpty) args(0).toInt else 200
    val spark = SparkEnv.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Bench.warmCpu(spark)
    val store = new ParquetServingStore(spark, SparkEnv.scratchDir("compact-prof"))
    val types = Seq("click", "view", "purchase")

    def batchRows(b: Int): Seq[ServingStore.CounterRow] = {
      val day = f"2024-01-${b % 28 + 1}%02d"
      for (t <- types; h <- 0 until 24)
        yield ServingStore.CounterRow(f"$t/hour/$day-$h%02d", b + 1L, b * 0.5)
    }

    def measure(tag: String): Unit = {
      val probe = f"click/hour/2024-01-05"
      def minOf(f: => Unit): Double =
        (1 to 5).map { _ =>
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }.min
      val lk = minOf(store.lookupRows(probe))
      val full = minOf(store.latest().queryExecution.toRdd.count())
      println(f"$tag%-28s dirs=${store.batchDirCount}%4d  lookup=${lk * 1000}%.1f ms  full-resolve=$full%.3f s")
    }

    val checkpoints = Set(10, 50, 100, maxBatches)
    for (b <- 0 until maxBatches) {
      store.merge(b.toLong, batchRows(b))
      if (checkpoints(b + 1)) measure(s"accumulated ${b + 1} batches")
    }
    val t0 = System.nanoTime()
    store.compact(retainBatches = 2)
    println(f"compact(retain=2) took ${(System.nanoTime() - t0) / 1e9}%.1f s")
    measure("after compaction")
    spark.stop()
  }
}
