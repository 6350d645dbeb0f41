package perfbench

/** Per-layer metrics of a traced run, derived from the spans and counts
  * recorded at each layer boundary. Every traced run reports every
  * metric; a layer a workload does not use reads 0.
  */
object Layers {
  /** (name, unit, what it is). Times of repeated operations are medians. */
  val metrics: Seq[(String, String, String)] = Seq(
    ("setup.session_s", "s", "JVM start to a ready SparkSession (SparkEnv)"),
    ("setup.warm_s", "s", "JIT and CPU warm-up"),
    ("setup.generate_s", "s", "input generation, median of the set-up repeats"),
    ("library.construct_s", "s", "time inside the declared query functions, cold pass"),
    ("library.cold_premium_s", "s", "cold minus median warm time, summed over queries"),
    ("plan.analysis_s", "s", "QueryPlanningTracker analysis, warm passes"),
    ("plan.optimization_s", "s", "QueryPlanningTracker optimization, warm passes"),
    ("plan.physical_s", "s", "QueryPlanningTracker physical planning, warm passes"),
    ("sched.jobs", "count", "Spark jobs started"),
    ("sched.stages", "count", "stages completed"),
    ("sched.tasks", "count", "tasks completed"),
    ("sched.delay_s", "s", "task duration minus run and deserialize time, summed"),
    ("exec.task_run_s", "s", "executor run time, summed"),
    ("exec.task_cpu_s", "s", "executor CPU time, summed"),
    ("exec.gc_s", "s", "executor GC time, summed"),
    ("exec.input_mb", "MB", "bytes read by tasks"),
    ("exec.shuffle_write_mb", "MB", "shuffle bytes written"),
    ("exec.shuffle_read_mb", "MB", "shuffle bytes read"),
    ("stream.batches", "count", "micro-batches"),
    ("stream.latest_offset_ms", "ms", "source latestOffset per batch"),
    ("stream.get_batch_ms", "ms", "source getBatch per batch"),
    ("stream.start_gap_ms", "ms", "query start to first trigger"),
    ("stream.stop_gap_ms", "ms", "last batch end to the runner's return"),
    ("stream.query_planning_ms", "ms", "micro-batch query planning"),
    ("stream.add_batch_ms", "ms", "micro-batch addBatch (sink included)"),
    ("stream.wal_commit_ms", "ms", "offset log write"),
    ("stream.commit_offsets_ms", "ms", "commit log write"),
    ("stream.rows_per_batch", "count", "input rows per micro-batch"),
    ("state.commit_ms", "ms", "state store commit per batch"),
    ("state.rows_total", "count", "state rows, largest seen"),
    ("state.memory_mb", "MB", "state memory, largest seen"),
    ("store.sink_ms", "ms", "ParquetServingStore.sinkBatch"),
    ("store.files_per_batch", "count", "parquet files written per sinkBatch"),
    ("store.compact_ms", "ms", "ParquetServingStore.compact"),
    ("store.compactions", "count", "compactions run"),
    ("store.batch_dirs_max", "count", "committed batch dirs, largest seen after a sink"),
    ("store.batch_dirs_at_read", "count", "committed batch dirs at each lookup, mean"),
    ("store.lookup_ms", "ms", "ParquetServingStore.lookupRows, server side"),
    ("store.lookup_jobs", "count", "Spark jobs per lookupRows, mean"),
    ("store.disk_mb", "MB", "bytes on disk of the stores, largest seen"),
    ("http.request_ms", "ms", "client GET time"),
    ("http.queue_ms", "ms", "client GET time minus its lookupRows: dispatcher wait and render"),
    ("http.response_kb", "KB", "response body size, mean"),
    ("fresh.wait_ms", "ms", "file due to the start of the drain that folds it"),
    ("fresh.drain_ms", "ms", "that drain's wall time"),
    ("fresh.visible_lag_ms", "ms", "its sinkBatch returned to the probe seeing the file"),
    ("gen.late_ms", "ms", "how late the open-loop release ran"))

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** GET spans with their server-side lookupRows as child. */
  def http(trace: Trace, gets: Seq[ServeWorkload.Get]): Unit = {
    val lookups = trace.named("lookupRows")
    gets.foreach { g =>
      val id = trace.record("GET", 0, g.startMs, g.endMs,
        Map("path" -> g.path, "status" -> g.status.toString, "bytes" -> g.bytes.toString))
      val prefix = g.path.takeWhile(_ != '?')
      lookups.find(l => l.attrs.get("prefix").contains(prefix) &&
          l.startMs >= g.startMs && l.endMs <= g.endMs)
        .foreach { l =>
          trace.reparent(l.id, id)
          trace.record("http.queue", id, g.startMs, g.startMs + g.endMs - g.startMs - l.durMs)
        }
    }
  }

  /** Batch spans from Spark's progress events, with the sinkBatch that ran
    * inside each as child, then every per-layer metric.
    */
  def report(trace: Trace, out: Outcome): Unit = {
    val batches = StreamProbe.batches
    val sinks = trace.named("sinkBatch")
    batches.foreach { b =>
      val end = b.startMs + b.triggerMs
      val id = trace.record("batch", 0, b.startMs, end,
        Map("label" -> b.label, "batch" -> b.batchId.toString, "rows" -> b.numInputRows.toString,
          "state_rows" -> b.stateRows.toString) ++ b.durations.map { case (k, v) => k -> v.toString })
      sinks.find(s => s.attrs.get("batch").contains(b.batchId.toString) &&
          s.startMs >= b.startMs - 1 && s.endMs <= end + 1)
        .foreach(s => trace.reparent(s.id, id))
    }
    def phase(k: String) = med(batches.map(_.durations.getOrElse(k, 0L).toDouble))
    val runners = trace.named("runner")
    val starts = StreamProbe.starts
    val startGaps = batches.groupBy(_.runId).toSeq.flatMap { case (run, bs) =>
      starts.get(run).map(s => bs.map(_.startMs).min - s)
    }
    val stopGaps = runners.flatMap { r =>
      val bs = batches.filter(_.label == r.attrs("label"))
      if (bs.isEmpty) None else Some(r.endMs - bs.map(b => b.startMs + b.triggerMs).max)
    }
    val lookups = trace.named("lookupRows")
    val nLookups = trace.counter("store.lookups")
    val gets = trace.named("GET")
    val derived = Map(
      "stream.batches" -> batches.size.toDouble,
      "stream.latest_offset_ms" -> phase("latestOffset"),
      "stream.get_batch_ms" -> phase("getBatch"),
      "stream.start_gap_ms" -> med(startGaps),
      "stream.stop_gap_ms" -> med(stopGaps),
      "stream.query_planning_ms" -> phase("queryPlanning"),
      "stream.add_batch_ms" -> phase("addBatch"),
      "stream.wal_commit_ms" -> phase("walCommit"),
      "stream.commit_offsets_ms" -> phase("commitOffsets"),
      "stream.rows_per_batch" -> med(batches.map(_.numInputRows.toDouble)),
      "state.commit_ms" -> med(batches.map(_.stateCommitMs.toDouble)),
      "state.rows_total" -> (0L +: batches.map(_.stateRows)).max.toDouble,
      "state.memory_mb" -> (0L +: batches.map(_.stateMemoryBytes)).max / 1e6,
      "store.sink_ms" -> med(sinks.map(_.durMs)),
      "store.files_per_batch" -> (if (sinks.isEmpty) 0.0 else trace.counter("store.files") / sinks.size),
      "store.compact_ms" -> med(trace.named("compact").map(_.durMs)),
      "store.batch_dirs_max" -> trace.maximum("store.batch_dirs_max"),
      "store.batch_dirs_at_read" -> (if (nLookups == 0) 0.0 else trace.counter("store.batch_dirs_at_read") / nLookups),
      "store.lookup_ms" -> med(lookups.map(_.durMs)),
      "store.lookup_jobs" -> (if (nLookups == 0) 0.0 else trace.counter("store.lookup_jobs") / nLookups),
      "store.disk_mb" -> trace.maximum("store.disk_mb"),
      "http.request_ms" -> med(gets.map(_.durMs)),
      "http.queue_ms" -> med(trace.named("http.queue").map(_.durMs)),
      "http.response_kb" -> mean(gets.map(_.attrs("bytes").toDouble / 1e3)),
      "fresh.wait_ms" -> med(trace.named("fresh.wait").map(_.durMs)),
      "fresh.drain_ms" -> med(trace.named("fresh.drain").map(_.durMs)),
      "fresh.visible_lag_ms" -> med(trace.named("fresh.visible_lag").map(_.durMs)),
      "gen.late_ms" -> med(trace.named("gen.late").map(_.durMs)))
    metrics.foreach { case (name, unit, _) =>
      val v = out.layers.get(name).map(_._1)
        .orElse(derived.get(name))
        .getOrElse(trace.counter(name))
      out.layer(name, v, unit)
    }
  }
}
