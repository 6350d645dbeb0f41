package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.streaming.{ParquetServingStore, ServingStore}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A [[ParquetServingStore]] that times the calls made on it and runs
  * `compact()` after every `compactEvery` micro-batches, the maintenance
  * cadence a deployment would run. Every call is delegated unchanged.
  */
final class TimedStore(spark: SparkSession, path: String, compactEvery: Int, trace: Trace)
    extends ServingStore {
  private val inner = new ParquetServingStore(spark, path)
  /** (batch id, start, end) of each `sinkBatch`, in trace milliseconds. */
  val sinks = new ConcurrentLinkedQueue[(Long, Double, Double)]()
  private var sunk = 0 // sinkBatch runs on the one stream thread

  override def merge(batchId: Long, rows: Seq[ServingStore.CounterRow]): Unit =
    inner.merge(batchId, rows)

  override def snapshot(): Seq[ServingStore.CounterRow] = inner.snapshot()

  override def sinkBatch(keyed: DataFrame, batchId: Long): Unit = {
    val s = trace.nowMs
    inner.sinkBatch(keyed, batchId)
    val e = trace.nowMs
    sinks.add((batchId, s, e))
    if (trace.enabled) {
      trace.record("sinkBatch", 0, s, e, Map("store" -> path, "batch" -> batchId.toString))
      trace.add("store.files", parquetFiles(s"$path/batch_id=$batchId"))
      trace.max("store.batch_dirs_max", inner.batchDirCount)
    }
    sunk += 1
    if (sunk % compactEvery == 0) {
      val c = trace.nowMs
      inner.compact()
      trace.record("compact", 0, c, trace.nowMs, Map("store" -> path))
      trace.add("store.compactions", 1)
    }
  }

  override def lookupRows(keyPrefix: String): Seq[ServingStore.CounterRow] = {
    val sc = spark.sparkContext
    sc.setLocalProperty(SchedProbe.LookupProp, "1")
    val s = trace.nowMs
    try inner.lookupRows(keyPrefix)
    finally {
      val e = trace.nowMs
      sc.setLocalProperty(SchedProbe.LookupProp, null)
      if (trace.enabled) {
        trace.record("lookupRows", 0, s, e, Map("prefix" -> keyPrefix))
        trace.add("store.lookups", 1)
        trace.add("store.batch_dirs_at_read", inner.batchDirCount)
      }
    }
  }

  private def parquetFiles(dir: String): Int = {
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try w.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    finally w.close()
  }
}

object TimedStore {
  /** Bytes on disk under `dir`. */
  def diskBytes(dir: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(dir)) 0L
    else {
      val w = java.nio.file.Files.walk(dir)
      try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally w.close()
    }
}
