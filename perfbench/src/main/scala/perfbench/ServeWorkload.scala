package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.streaming.{HttpServing, Serving, ServingStore}
import org.apache.spark.sql.DataFrame

/** `serve`: the counter pipeline end to end, writes beside reads.
  *
  *  1. Backlog (cold): in the fresh JVM, both shipped runners fold a
  *     backlog of seeded event files, one file per micro-batch, each
  *     into its own store, the multi-granularity cube first. The decorated
  *     stores compact every `compactEvery` batches. Its wall time is
  *     `cold_s`; both stores must then equal the reference.
  *  2. Window: `HttpServing` serves both stores. One closed-loop client
  *     issues a seeded mix of GETs, a second closed-loop client probes one
  *     marker counter, an open-loop thread releases new event files at a
  *     fixed rate, and the main thread drains them with the account-daily
  *     runner, one drain after another. Every file carries one marker
  *     event, so the probe's count says which files are readable. The
  *     window lasts `--seconds`, and longer until the mix client has
  *     `minMixGets` answers.
  *  3. Final drain and checks: every GET answered 200 and parsed, the
  *     probe count never fell, and final reads and the account store
  *     equal the reference.
  */
object ServeWorkload {
  val MarkerAccount = 999999L
  val typeWeights = Seq("click" -> 0.5, "view" -> 0.3, "purchase" -> 0.12,
    "signup" -> 0.05, "error" -> 0.03)
  val backlog = GenParams(events = 16000, files = 8, accounts = 2000, zipfS = 1.1,
    typeWeights = typeWeights, lateShare = 0.1, lateMaxDays = 5, days = 28,
    markerAccount = MarkerAccount)
  /** Events per released file and files released per second. */
  val releaseEvents = 100
  val releasePerS = 5.0
  /** The window lasts `--seconds`, and longer until the mix client has
    * this many answered GETs (ten beyond p75), at most `maxWindow` times
    * `--seconds`. Files are staged for the longest window.
    */
  val minMixGets = 40
  val maxWindow = 1.6
  val compactEvery = 8
  /** Generations in set-up; the median is reported. */
  val setupRepeats = 3
  /** Read mix, as a fixed cycle so every run reads the same shares:
    * per-account month listings (5 in 10), per-type hour reads from the
    * cube store (3 in 10), per-account month `?agg=sum` rollups (2 in 10).
    */
  val mixCycle = Seq("month", "hour", "month", "sum", "month", "hour", "month", "sum",
    "month", "hour")

  private val mapper = new ObjectMapper()

  /** One client GET; `error` holds the answer or exception of a failed one. */
  final case class Get(path: String, startMs: Double, endMs: Double, status: Int,
      body: Option[JsonNode], bytes: Int, error: String = "")

  /** Read schedule: the mix cycle, with seeded accounts, types and days. */
  def schedule(seed: Long, n: Int): IndexedSeq[String] = {
    val rng = new java.util.SplittableRandom(seed)
    val zipf = EventGen.cdfOf((1 to backlog.accounts).map(r => 1.0 / math.pow(r, backlog.zipfS)))
    val types = typeWeights.map(_._1).toIndexedSeq
    val typeCdf = EventGen.cdfOf(typeWeights.map(_._2))
    (0 until n).map { i =>
      val acct = EventGen.draw(zipf, rng.nextDouble())
      val typ = types(EventGen.draw(typeCdf, rng.nextDouble()))
      val day = 1 + rng.nextInt(backlog.days)
      mixCycle(i % mixCycle.size) match {
        case "month" => s"user/$acct/$typ/day/2024-01"
        case "hour" => f"$typ/hour/2024-01-$day%02d"
        case _ => s"user/$acct/$typ/day/2024-01?agg=sum"
      }
    }
  }

  def get(port: Int, path: String, trace: Trace): Get = {
    val s = trace.nowMs
    val c = URI.create(s"http://127.0.0.1:$port/stats/$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    try {
      val status = c.getResponseCode
      val in = if (status < 400) c.getInputStream else c.getErrorStream
      val bytes = try in.readAllBytes() finally in.close()
      val body = if (status == 200) scala.util.Try(mapper.readTree(bytes)).toOption else None
      Get(path, s, trace.nowMs, status, body, bytes.length,
        if (body.isDefined) "" else new String(bytes, "UTF-8").take(300))
    } catch {
      case e: java.io.IOException => Get(path, s, trace.nowMs, -1, None, 0, e.toString)
    }
  }

  /** Serves account keys from the account-daily store and the rest from
    * the cube store; the one store `HttpServing.start` takes.
    */
  final class Routed(account: ServingStore, cube: ServingStore) extends ServingStore {
    override def merge(batchId: Long, rows: Seq[ServingStore.CounterRow]): Unit =
      throw new UnsupportedOperationException("read-only view")
    override def sinkBatch(keyed: DataFrame, batchId: Long): Unit =
      throw new UnsupportedOperationException("read-only view")
    override def snapshot(): Seq[ServingStore.CounterRow] = account.snapshot() ++ cube.snapshot()
    override def lookupRows(keyPrefix: String): Seq[ServingStore.CounterRow] =
      (if (keyPrefix.startsWith("user/")) account else cube).lookupRows(keyPrefix)
  }

  def run(ctx: Ctx, out: Outcome): Double = {
    import ctx.{spark, trace}
    // Event files, stores and checkpoints live where the library keeps its
    // own: the tmpfs scratch root, deleted when the JVM exits. The listing
    // lets the outer runner remove it after a JVM it had to kill.
    val root = java.nio.file.Paths.get(graft.SparkEnv.scratchDir("perfbench-serve"))
    Files.writeString(ctx.work.resolve("scratch.txt"), root.toString + "\n")
    val nRelease = (releasePerS * ctx.seconds * maxWindow).toInt
    val release = backlog.copy(events = releaseEvents * nRelease, files = nRelease)
    var pre: IndexedSeq[IndexedSeq[Ev]] = IndexedSeq.empty
    var rel: IndexedSeq[IndexedSeq[Ev]] = IndexedSeq.empty
    val genS = (0 until setupRepeats).map { i =>
      val t = System.nanoTime()
      pre = EventGen.generate(backlog, ctx.seed)
      rel = EventGen.generate(release, ctx.seed + 1)
      val now = System.currentTimeMillis()
      EventGen.write(pre, root.resolve(s"gen$i/events.parquet"), now - 60000L)
      EventGen.write(rel, root.resolve(s"gen$i/staged"), now - 60000L)
      (System.nanoTime() - t) / 1e9
    }
    val src = root.resolve(s"gen${setupRepeats - 1}")
    val input = src.resolve("events.parquet")
    val staged = src.resolve("staged")
    val sfDir = src.toString
    val schedule = this.schedule(ctx.seed + 2, 20000)
    val setupS = Stats.median(genS)
    out.layer("setup.generate_s", setupS, "s")

    val account = new TimedStore(spark, root.resolve("account").toString, compactEvery, trace)
    val cube = new TimedStore(spark, root.resolve("cube").toString, compactEvery, trace)
    def runner(label: String)(body: => Unit): (Double, Double) = {
      StreamProbe.label = label
      val s = trace.nowMs
      body
      val e = trace.nowMs
      trace.record("runner", 0, s, e, Map("label" -> label))
      (s, e)
    }
    // (released files landed, start, end, account sinkBatch calls before it)
    val drains = mutable.ArrayBuffer.empty[(Int, Double, Double, Int)]
    def drain(filesLanded: Int): Unit = {
      val before = account.sinks.size
      val (s, e) = runner(s"serve/account/${drains.size}") {
        Serving.runAccountPipelineMetered(spark, sfDir, account,
          root.resolve("account-ckpt").toString)
      }
      drains += ((filesLanded, s, e, before))
    }

    // --- backlog: one file per micro-batch, through both runners ---
    System.setProperty("graft.stream.maxFilesPerTrigger", "1")
    val (b0, _) = runner("serve/cube/backlog") {
      Serving.runMultiGranularityCube(spark, sfDir, cube, root.resolve("cube-ckpt").toString)
    }
    drain(0)
    System.clearProperty("graft.stream.maxFilesPerTrigger")
    val coldS = (drains.last._3 - b0) / 1e3
    val backlogRef = new EventGen.Reference().add(pre.flatten)
    val wrongCube = Checks.counters(cube.snapshot(), backlogRef.cube)
    val wrongBacklog = Checks.counters(account.snapshot(), backlogRef.account)

    val (server, port) = HttpServing.start(new Routed(account, cube))
    try {
      // --- the timed window ---
      val landed = new AtomicInteger(0)
      val due = new Array[Double](nRelease)
      val late = new Array[Double](nRelease)
      @volatile var stopMix = false
      @volatile var stopRelease = false
      val mixOkCount = new AtomicInteger(0)
      @volatile var stopProbe = false
      val mixGets = new ConcurrentLinkedQueue[Get]()
      val probes = new ConcurrentLinkedQueue[(Double, Long, String)]() // end, count, error
      val markerPath = s"user/$MarkerAccount/${EventGen.MarkerType}/day/2024-01?agg=sum"
      val w0 = trace.nowMs
      val threads = Seq(
        new Thread(() => {
          var i = 0
          while (!stopMix) {
            val g = get(port, schedule(i % schedule.size), trace)
            mixGets.add(g)
            if (g.status == 200) mixOkCount.incrementAndGet()
            i += 1
          }
        }, "perfbench-mix"),
        new Thread(() => {
          while (!stopProbe) {
            val g = get(port, markerPath, trace)
            val n = g.body.map(_.path("n_events")).filter(_.isNumber).map(_.asLong)
            probes.add((g.endMs, n.getOrElse(-1L),
              if (n.isDefined) "" else s"status ${g.status}: ${g.error}"))
          }
        }, "perfbench-probe"),
        new Thread(() => {
          var lastMtime = 0L
          var j = 0
          while (j < nRelease && !stopRelease) {
            due(j) = w0 + j * 1e3 / releasePerS
            val wait = due(j) - trace.nowMs
            if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
            val f = staged.resolve(EventGen.fileName(j))
            lastMtime = math.max(System.currentTimeMillis(), lastMtime + 1)
            Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(lastMtime))
            Files.move(f, input.resolve(s"rel-${EventGen.fileName(j)}"), StandardCopyOption.ATOMIC_MOVE)
            late(j) = trace.nowMs - due(j)
            landed.incrementAndGet()
            j += 1
          }
        }, "perfbench-release"))
      threads.foreach(_.start())
      var drained = 0
      def windowOpen: Boolean = {
        val ms = trace.nowMs - w0
        ms < ctx.seconds * 1e3 ||
          (mixOkCount.get < minMixGets && ms < ctx.seconds * maxWindow * 1e3)
      }
      while (windowOpen) {
        val n = landed.get
        if (n > drained) { drain(n); drained = n } else Thread.sleep(2)
      }
      stopMix = true
      stopRelease = true
      threads(0).join()
      val mixS = (trace.nowMs - w0) / 1e3
      threads(2).join()
      val released = landed.get
      if (released > drained) { drain(released); drained = released }
      // let the probe see the last drain
      val expectCount = backlog.files + released
      val deadline = trace.nowMs + 30000
      while (!probes.asScala.exists(_._2 >= expectCount) && trace.nowMs < deadline) Thread.sleep(5)
      stopProbe = true
      threads(1).join()
      StreamProbe.awaitTerminated(drains.size + 1)

      // --- correctness ---
      val ref = new EventGen.Reference().add(pre.flatten).add(rel.take(released).flatten)
      val finals = schedule.take(8).distinct.map(get(port, _, trace))
      val gets = mixGets.asScala.toSeq ++ finals
      val batches = backlog.files * 2
      out.attempted = batches + gets.size + probes.size + 1
      if (wrongCube + wrongBacklog > 0) {
        out.failed += batches
        out.notes += s"backlog: $wrongCube cube and $wrongBacklog account counters differ from the reference"
      }
      gets.filter(g => g.status != 200 || g.body.isEmpty)
        .foreach(g => out.fail(s"GET ${g.path}: status ${g.status}: ${g.error}"))
      probes.asScala.filter(_._3.nonEmpty).foreach(p => out.fail(s"probe GET failed: ${p._3}"))
      probes.asScala.toSeq.filter(_._3.isEmpty).sortBy(_._1).map(_._2).sliding(2).foreach {
        case Seq(a, b) if b < a => out.fail(s"probe count went from $a to $b")
        case _ =>
      }
      finals.filter(_.body.isDefined).foreach { g =>
        val expected = if (g.path.startsWith("user/")) ref.account else backlogRef.cube
        if (!Checks.answer(g.path, g.body.get, expected))
          out.fail(s"GET ${g.path} differs from the reference")
      }
      val wrong = Checks.counters(account.snapshot(), ref.account)
      if (wrong > 0) out.fail(s"$wrong account counters differ from the reference")

      // --- metrics ---
      val mixOk = mixGets.asScala.toSeq.filter(_.status == 200)
      val lat = mixOk.map(g => g.endMs - g.startMs)
      out.notes += f"window $mixS%.1f s: ${mixOk.size} answered mix GETs, " +
        s"${probes.size} probes, $released files released"
      out.metric("cold_s", coldS, "s")
      out.metric("op_p50_ms", Stats.median(lat), "ms")
      out.metric("op_p75_ms", Stats.quantile(lat, 0.75), "ms")
      out.metric("throughput_per_s", mixOk.size / mixS, "1/s")
      val sorted = probes.asScala.toSeq.sortBy(_._1)
      val seen = (0 until released).map { j =>
        sorted.find(_._2 >= backlog.files + j + 1).map(_._1).getOrElse(Double.NaN)
      }
      seen.zipWithIndex.filter(_._1.isNaN)
        .foreach { case (_, j) => out.fail(s"file $j never became readable") }
      val fresh = seen.indices.map(j => seen(j) - due(j)).filterNot(_.isNaN)
      out.metric("fresh_p50_ms", Stats.median(fresh), "ms")
      out.metric("fresh_p75_ms", Stats.quantile(fresh, 0.75), "ms")

      if (trace.enabled) {
        trace.max("store.disk_mb",
          (TimedStore.diskBytes(root.resolve("account")) +
            TimedStore.diskBytes(root.resolve("cube"))) / 1e6)
        Layers.http(trace, gets)
        // each file's freshness, split: release → drain start → drain end → probe saw it
        val ds = drains.drop(1).toIndexedSeq
        val sinks = account.sinks.asScala.toIndexedSeq
        (0 until released).foreach { j =>
          ds.find(_._1 >= j + 1).foreach { case (_, s, e, before) =>
            trace.record("fresh.wait", 0, due(j), s)
            trace.record("fresh.drain", 0, s, e)
            val sinkEnd = sinks.drop(before).map(_._3).filter(_ <= e).lastOption.getOrElse(e)
            trace.record("fresh.visible_lag", 0, sinkEnd, seen(j))
          }
          trace.record("gen.late", 0, due(j), due(j) + late(j))
        }
      }
    } finally server.stop(0)
    setupS
  }
}
