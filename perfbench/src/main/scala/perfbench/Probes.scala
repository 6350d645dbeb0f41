package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Scheduler and executor counters from Spark's public listener bus.
  * Registered only on the traced run.
  */
final class SchedProbe(trace: Trace) extends SparkListener {
  @volatile private var lastEventNs = System.nanoTime()
  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    trace.add("sched.jobs", 1)
    if (Option(e.properties).exists(_.getProperty(SchedProbe.LookupProp) != null))
      trace.add("store.lookup_jobs", 1)
    touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    trace.add("sched.stages", 1)
    touch()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    trace.add("sched.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val run = m.executorRunTime.toDouble
      val deser = m.executorDeserializeTime.toDouble
      trace.add("sched.delay_s", math.max(0.0, e.taskInfo.duration - run - deser) / 1e3)
      trace.add("exec.task_run_s", run / 1e3)
      trace.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
      trace.add("exec.gc_s", m.jvmGCTime / 1e3)
      trace.add("exec.input_mb", m.inputMetrics.bytesRead / 1e6)
      trace.add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      trace.add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
    }
    touch()
  }

  /** The listener bus is asynchronous: wait until it has been quiet for
    * a moment so the counters include every event of the run.
    */
  def quiesce(quietMs: Long = 300, maxMs: Long = 10000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() - lastEventNs < quietMs * 1000000L &&
        System.nanoTime() < deadline) Thread.sleep(50)
  }
}

object SchedProbe {
  /** Thread-local Spark property marking jobs submitted by a store lookup. */
  val LookupProp = "perfbench.lookup"
}

/** One micro-batch as Spark's progress event reports it. */
final case class BatchProgress(runId: String, label: String, batchId: Long,
    startMs: Double, durations: Map[String, Long], numInputRows: Long,
    stateCommitMs: Long, stateRows: Long, stateMemoryBytes: Long) {
  def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
}

/** Streaming progress, collected through the public
  * `spark.sql.streaming.streamingQueryListeners` hook. The hook
  * instantiates [[StreamProbe]] once per session, and the library runs
  * each pipeline on its own cloned session, so every instance forwards
  * to this one collector.
  */
object StreamProbe {
  @volatile var trace: Trace = new Trace(false)
  /** Label the harness gives to the next stream it starts. */
  @volatile var label: String = ""

  private val startedAt = new ConcurrentHashMap[String, (String, Double)]()
  private val progress = new ConcurrentLinkedQueue[BatchProgress]()
  private val terminated = ConcurrentHashMap.newKeySet[String]()

  private def epochMs(iso: String): Double =
    trace.fromEpochMs(java.time.Instant.parse(iso).toEpochMilli.toDouble)

  private[perfbench] def started(e: QueryStartedEvent): Unit =
    startedAt.put(e.runId.toString, (label, epochMs(e.timestamp)))

  private[perfbench] def onProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val run = p.runId.toString
    val ops = p.stateOperators.toSeq
    progress.add(BatchProgress(run, Option(startedAt.get(run)).map(_._1).getOrElse(""),
      p.batchId, epochMs(p.timestamp),
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows, ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
      ops.map(_.memoryUsedBytes).sum))
  }

  private[perfbench] def ended(e: QueryTerminatedEvent): Unit =
    terminated.add(e.runId.toString)

  /** Wait until `n` streams have terminated, so that every progress
    * event of those streams has been delivered.
    */
  def awaitTerminated(n: Int, maxMs: Long = 30000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (terminated.size < n && System.nanoTime() < deadline) Thread.sleep(10)
    if (terminated.size < n)
      throw new IllegalStateException(s"only ${terminated.size} of $n streams reported termination")
  }

  def batches: Seq[BatchProgress] = progress.asScala.toSeq
  /** Query-start time per run, in trace milliseconds. */
  def starts: Map[String, Double] = startedAt.asScala.map { case (k, v) => k -> v._2 }.toMap
}

final class StreamProbe extends StreamingQueryListener {
  override def onQueryStarted(e: QueryStartedEvent): Unit = StreamProbe.started(e)
  override def onQueryProgress(e: QueryProgressEvent): Unit = StreamProbe.onProgress(e)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = StreamProbe.ended(e)
}
