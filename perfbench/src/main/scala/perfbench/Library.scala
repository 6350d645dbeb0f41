package perfbench

import graft.SparkEntry

/** `library`: declared queries over the committed fixture, timed with
  * the library bench's protocol (clear the cache, then
  * `queryExecution.toRdd.count` of the declared plan). One cold pass in
  * the fresh JVM, then warm passes until the run's seconds are spent.
  */
object Library {

  /** The declared queries this workload times: the 39 with the lowest cold
    * time at the parent commit (4 cores, this fixture), plus
    * q_quality_classifier, one of the largest cold premiums. All 224
    * oracle-checked queries take ~110 s cold, more than a run can spend.
    */
  val queries: Seq[String] = Seq(
    "q_anti_join", "q_approx_percentiles_prod", "q_array_funcs",
    "q_cond_null_funcs", "q_corpus_shuffle", "q_date_arith", "q_doc_quality",
    "q_epoch_batches", "q_events_cube", "q_events_hourly", "q_exact_dedup",
    "q_funnel_conversions", "q_hof_funcs", "q_json_extract",
    "q_kmv_distinct_users", "q_kmv_exact_distinct", "q_left_join_agg", "q_mad",
    "q_mixture_epochs", "q_mixture_sample", "q_pack_sequences", "q_percentiles",
    "q_pii_redact", "q_quality_classifier", "q_quality_scores", "q_regexp_funcs",
    "q_semi_join", "q_shuffle_hash_join", "q_source_cap", "q_stratified_sample",
    "q_token_budget", "q_top_ngram_fraction", "q_top_types_per_user", "q_tpch_q6",
    "q_unpivot_grid", "q_value_histogram", "q_weighted_sample",
    "q_window_analytic", "q_window_rank", "q_winnow_fingerprints")
  /** Warm passes run at least this often, so the warm percentiles rest on
    * 80 samples; more follow while the run's seconds last. The cold pass
    * runs in the fixed order above: which query first touches shared code
    * paths moves its cost, and the cold figures must compare across seeds.
    * The seed permutes the warm passes' order.
    */
  val minWarmPasses = 2

  private final case class Exec(name: String, pass: Int, secs: Double, rows: Long, ok: Boolean)

  def run(ctx: Ctx, out: Outcome): Double = {
    import ctx.{spark, trace}
    val g0 = System.nanoTime()
    val all = SparkEntry.queries
    val order = new scala.util.Random(ctx.seed).shuffle(queries)
    val setupS = (System.nanoTime() - g0) / 1e9

    def execute(name: String, pass: Int): Exec = {
      spark.catalog.clearCache()
      val fn = all(name)
      val t0 = System.nanoTime()
      var rows = -1L
      val ok =
        try {
          rows =
            if (!trace.enabled) fn(spark, ctx.fixture).queryExecution.toRdd.count()
            else traced(name, pass, fn)
          true
        } catch { case e: Throwable =>
          out.notes += s"$name pass $pass: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          false
        }
      Exec(name, pass, (System.nanoTime() - t0) / 1e9, rows, ok)
    }

    def traced(name: String, pass: Int,
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Long =
      trace.span("query", 0, Map("query" -> name, "pass" -> pass.toString)) { id =>
        val df = trace.span("construct", id, Map("query" -> name))(_ => fn(spark, ctx.fixture))
        val qe = df.queryExecution
        trace.span("plan", id)(_ => qe.executedPlan)
        val rows = trace.span("execute", id)(_ => qe.toRdd.count())
        if (pass > 0) {
          val ph = qe.tracker.phases
          def add(metric: String, phase: String) =
            ph.get(phase).foreach(p => trace.add(metric, p.durationMs / 1e3))
          add("plan.analysis_s", "analysis")
          add("plan.optimization_s", "optimization")
          add("plan.physical_s", "planning")
        }
        rows
      }

    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    val cold = queries.map(execute(_, 0))
    val warmPasses = Iterator.from(1)
      .takeWhile(p => p <= minWarmPasses || elapsed < ctx.seconds)
      .map { p => val t = System.nanoTime(); (order.map(execute(_, p)), (System.nanoTime() - t) / 1e9) }
      .toVector
    val warm = warmPasses.flatMap(_._1)
    val execs = cold ++ warm

    out.attempted = execs.size
    execs.filterNot(_.ok).foreach(e => out.fail(s"${e.name} pass ${e.pass} failed"))
    val okWarm = warm.filter(_.ok)
    out.metric("cold_s", cold.map(_.secs).sum, "s")
    out.metric("op_p50_ms", Stats.median(okWarm.map(_.secs * 1e3)), "ms")
    out.metric("op_p75_ms", Stats.quantile(okWarm.map(_.secs * 1e3), 0.75), "ms")
    out.metric("throughput_per_s", okWarm.size / warmPasses.map(_._2).sum, "1/s")
    val okCold = cold.filter(_.ok)
    out.metric("fresh_p50_ms", Stats.median(okCold.map(_.secs * 1e3)), "ms")
    out.metric("fresh_p75_ms", Stats.quantile(okCold.map(_.secs * 1e3), 0.75), "ms")

    // Row counts per execution, for the outer runner's oracle check.
    val rows = execs.groupBy(_.name).map { case (q, es) =>
      s"${Json.str(q)}:${es.sortBy(_.pass).map(_.rows).mkString("[", ",", "]")}"
    }
    out.extra("library_rows") = rows.mkString("{", ",", "}")
    out.extra("oracle_sql") = order.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
      .map { case (q, sql) => s"${Json.str(q)}:${Json.str(sql)}" }.mkString("{", ",", "}")

    if (trace.enabled) {
      // cold premium per query: cold time minus the query's median warm time
      val warmBy = okWarm.groupBy(_.name).map { case (q, es) => q -> Stats.median(es.map(_.secs)) }
      val premium = okCold.flatMap(c => warmBy.get(c.name).map(w => c.name -> (c.secs - w)))
      trace.add("library.cold_premium_s", premium.map(_._2).sum)
      out.extra("cold_premium_s") = premium.sortBy(-_._2)
        .map { case (q, p) => s"${Json.str(q)}:${Json.num(p)}" }.mkString("{", ",", "}")
      val coldConstruct = trace.all.filter(s => s.name == "construct").groupBy(_.attrs("query"))
        .map(_._2.minBy(_.startMs).durMs).sum
      trace.add("library.construct_s", coldConstruct / 1e3)
    }
    setupS
  }
}
