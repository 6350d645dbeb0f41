package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.streaming.{ParquetServingStore, ServingStore}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The serving read `ParquetServingStore.lookupRows` — a direct,
  * pruned parquet read — answers exactly what the Spark plan
  * `lookup(prefix)` answers, over every store shape the write and
  * compaction paths produce, and starts no Spark job.
  */
class ServingLookupSpec extends SparkSpec {
  import spark.implicits._

  private def row(k: String, n: Long, v: Double) = ServingStore.CounterRow(k, n, v)

  private def assertEquivalent(store: ParquetServingStore, prefix: String)
      : Set[ServingStore.CounterRow] = {
    val direct = store.lookupRows(prefix)
    val planned = store.lookup(prefix).as[ServingStore.CounterRow].collect()
    assert(direct.size == direct.map(_.key).distinct.size, s"$prefix: duplicate keys")
    assert(direct.toSet == planned.toSet, s"prefix '$prefix'")
    direct.toSet
  }

  /** A store with a compacted base, a replay of a folded batch, live
    * batch dirs, a tombstone, a maintenance-space batch, a key
    * without '/' (stored under gran=NONE), a bucket Spark escapes in
    * its partition dir name and non-ASCII keys.
    */
  private def mixedStore(): ParquetServingStore = {
    val store = new ParquetServingStore(spark, SparkEnv.scratchDir("lookup-mixed"))
    def batch(b: Int) = Seq(
      row(s"click/hour/2024-01-0${b % 3 + 4}-1$b", b + 1, b * 1.5),
      row("click/hour/2024-01-05-13", 10L + b, b.toDouble),
      row(s"click/day/2024-01-0${b % 4 + 2}", 20L + b, 0.5 * b),
      row("click/day/2024-02-01", 30L + b, b.toDouble),
      row("click/month/2024-01", 40L + b, 0.25 * b),
      row("click/year/2024", 50L + b, b.toDouble),
      row("view/hour/2024-01-05-13", 60L + b, 1.0),
      row(s"user/7/click/day/2024-01-0${b % 3 + 1}", 70L + b, 2.0 * b),
      row("user/8/click/day/2024-01-01", 80L + b, 3.0),
      row("total", 90L + b, b.toDouble),
      // escaped partition values and multi-byte UTF-8 keys
      row("odd/day/a:b=c%d", 100L + b, 1.0),
      row(s"\u00e9t\u00e9/hour/2024-01-05-0$b", 110L + b, 1.0))
    (0 until 5).foreach(b => store.merge(b, batch(b)))
    store.compact(retainBatches = 0)
    // recovery replays batch 4, already folded: its dir is live again
    store.merge(4, batch(4))
    (5 until 7).foreach(b => store.merge(b, batch(b)))
    store.merge(7, Seq(row("click/day/2024-02-01", 0, 0.0))) // tombstone
    store.merge(ParquetServingStore.MaintenanceIdBase,
      Seq(row("click/month/2024-01", 400, 4.0), row("view/day/2024-01-05", 5, 5.0)))
    store
  }

  test("lookupRows equals lookup(prefix) at every granularity, over a base, " +
      "a folded-batch replay, live and maintenance dirs and a tombstone") {
    val store = mixedStore()
    val nonEmpty = Seq(
      "click/hour/2024-01-05", "click/hour/2024-01-05-13", "click/hour/",
      "click/day/2024-01", "click/day/2024-01-03",
      "click/month/2024", "click/month/2024-01",
      "click/year/2024", "click/year/",
      "user/7/click/day/2024-01", "user/",
      "click/", "view/", "total", "odd/day/a:b", "odd/",
      "\u00e9t\u00e9/hour/2024-01-05", "\u00e9", "")
    nonEmpty.foreach(p => assert(assertEquivalent(store, p).nonEmpty, p))
    // the maintenance batch wins over every stream batch
    assert(store.lookupRows("click/month/2024-01").map(_.nEvents) == Seq(400L))
    // latest stream batch wins over the base and the replayed batch
    assert(store.lookupRows("click/year/2024").map(_.nEvents) == Seq(56L))
    // the tombstoned key reads as deleted, by either path
    assert(assertEquivalent(store, "click/day/2024-02").isEmpty)
    assert(assertEquivalent(store, "nope/").isEmpty)
    assert(assertEquivalent(store, "click/hour/2023").isEmpty)
  }

  test("lookupRows equals lookup(prefix) on an empty store and on a store " +
      "holding only _SUCCESS-only batch dirs") {
    val missing = new ParquetServingStore(spark,
      SparkEnv.scratchDir("lookup-missing") + "/never-written")
    val empty = new ParquetServingStore(spark, SparkEnv.scratchDir("lookup-empty"))
    val idle = new ParquetServingStore(spark, SparkEnv.scratchDir("lookup-idle"))
    val noRows = Seq.empty[(String, Long, Double)].toDF("key", "n_events", "sum_value")
    (0 until 3).foreach(b => idle.sinkBatch(noRows, b))
    assert(idle.batchDirCount == 0)
    for (s <- Seq(missing, empty, idle); p <- Seq("", "click/", "click/hour/2024-01-05"))
      assert(assertEquivalent(s, p).isEmpty)
  }

  test("lookupRows starts no Spark job") {
    val store = mixedStore()
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      org.apache.spark.GraftScratchBridge.waitListenerBusEmpty(sc)
      jobs.set(0)
      Seq("click/hour/2024-01-05", "user/7/click/day/2024-01", "click/", "")
        .foreach(p => assert(store.lookupRows(p).nonEmpty, p))
      org.apache.spark.GraftScratchBridge.waitListenerBusEmpty(sc)
      assert(jobs.get == 0, s"${jobs.get} Spark jobs during lookupRows")
      // the listener does see the planned path's jobs
      store.lookup("click/").collect()
      org.apache.spark.GraftScratchBridge.waitListenerBusEmpty(sc)
      assert(jobs.get > 0)
    } finally sc.removeSparkListener(listener)
  }
}
