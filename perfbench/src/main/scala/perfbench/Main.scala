package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, trace: Trace, seed: Long,
    seconds: Double, work: Path, fixture: String)

/** What a workload measured: end-to-end metrics, per-layer metrics, the
  * operation tally, and extra JSON the outer runner checks.
  */
final class Outcome {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer.empty[String]
  val extra = mutable.LinkedHashMap.empty[String, String]

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = layers(name) = (value, unit)
  def fail(why: String): Unit = { failed += 1; if (notes.size < 20) notes += why }
}

/** Benchmark entry point inside the JVM. The outer runner (run.py)
  * builds the classpath, launches this main once per run, and checks
  * and prints the result.
  *
  *   perfbench.Main --workload <library|serve> --seed <n>
  *     --seconds <s> --trace <0|1> --work <dir> --fixture <dir>
  *     --out <result.json> --t0 <epoch ms at launch>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val traced = opts.getOrElse("trace", "0") == "1"
    val t0 = opts("t0").toDouble
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val trace = new Trace(traced)
    StreamProbe.trace = trace

    val spark = graft.SparkEnv.builder()
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamProbe].getName)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - t0) / 1e3
    val sched = if (traced) {
      val p = new SchedProbe(trace)
      spark.sparkContext.addSparkListener(p)
      Some(p)
    } else None

    val w0 = System.nanoTime()
    Workloads.warm(workload, spark)
    val warmS = (System.nanoTime() - w0) / 1e9

    val ctx = Ctx(spark, trace, opts("seed").toLong, opts("seconds").toDouble, work,
      Paths.get(opts("fixture")).toAbsolutePath.toString)
    val out = new Outcome
    try {
      out.layer("setup.session_s", sessionS, "s")
      out.layer("setup.warm_s", warmS, "s")
      val setupS = sessionS + warmS + Workloads.run(workload, ctx, out)
      out.metric("setup_s", setupS, "s")

      sched.foreach(_.quiesce())
      if (traced) {
        Layers.report(trace, out)
        trace.writeJsonl(work.resolve("spans.jsonl"))
      }
      spark.stop()
      // what the process still holds once the session is gone: the
      // library's caches. Heap used after full collections, least of three.
      val heapMb = (1 to 3).map { _ =>
        System.gc()
        java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      }.min
      out.metric("heap_live_mb", heapMb, "MB")
      writeResult(Paths.get(opts("out")), out)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1) // no result file: the outer runner reports the failure
    }
    sys.exit(0)
  }

  private def writeResult(path: Path, out: Outcome): Unit = {
    def obj(m: mutable.LinkedHashMap[String, (Double, String)]) = m.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val extra = out.extra.map { case (k, v) => s",${Json.str(k)}:$v" }.mkString
    val json = s"""{"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""metrics":${obj(out.metrics)},"layers":${obj(out.layers)},""" +
      s""""notes":${out.notes.map(Json.str).mkString("[", ",", "]")}$extra}"""
    Files.writeString(path, json)
  }
}
