package graft

import graft.streaming.{HttpServing, InMemoryServingStore, ParquetServingStore, ServingStore}

/** HTTP serving layer: prefix listing and aggregate answers over a
  * live store, end-to-end through real sockets — including the full
  * pipeline form (stream → store → HTTP GET), the reference's
  * ingest-to-API round trip.
  */
class HttpServingSpec extends SparkSpec {

  private def httpGet(port: Int, path: String): String = {
    val url = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL
    val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    try scala.io.Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
    finally conn.disconnect()
  }

  test("prefix listing and aggregate answers over HTTP") {
    val store = new InMemoryServingStore
    store.merge(0L, Seq(
      ServingStore.CounterRow("click/hour/2024-01-01-10", 5L, 12.5),
      ServingStore.CounterRow("click/hour/2024-01-01-11", 7L, 1.0),
      ServingStore.CounterRow("view/hour/2024-01-01-10", 3L, 9.0)))
    val (server, port) = HttpServing.start(store)
    try {
      val listing = httpGet(port, "/stats/click/hour/")
      assert(listing ==
        """{"click/hour/2024-01-01-10": {"n_events": 5, "sum_value": 12.5}, """ +
          """"click/hour/2024-01-01-11": {"n_events": 7, "sum_value": 1}}""",
        listing)
      val agg = httpGet(port, "/stats/click/?agg=sum")
      assert(agg == """{"n_events": 12, "sum_value": 13.5, "n_keys": 2}""", agg)
      // empty prefix: list is empty, aggregate sums are null (the
      // same SQL semantics the DSv2 pushdown fix established)
      assert(httpGet(port, "/stats/zzz/") == "{}")
      assert(httpGet(port, "/stats/zzz/?agg=sum") ==
        """{"n_events": null, "sum_value": null, "n_keys": 0}""")
    } finally server.stop(0)
  }

  test("HTTP over the durable store (base + live batch dirs) answers " +
      "byte-identically to an in-memory store fed the resolved rows") {
    def row(k: String, n: Long, v: Double) = ServingStore.CounterRow(k, n, v)
    val batches = (0 until 6).map(b => Seq(
      row(s"click/hour/2024-01-05-1$b", b + 1L, b * 1.25),
      row("click/hour/2024-01-05-13", 10L + b, 0.1 * b),
      row(s"click/day/2024-01-0${b % 3 + 1}", 20L + b, b.toDouble),
      row("view/month/2024-01", 30L + b, 2.5),
      row("user/7/click/day/2024-01-02", 40L + b, b.toDouble))) :+
      Seq(row("click/day/2024-01-01", 0, 0.0)) // tombstone, live dir
    val durable = new ParquetServingStore(spark, SparkEnv.scratchDir("http-parquet"))
    batches.take(4).zipWithIndex.foreach { case (rows, b) => durable.merge(b, rows) }
    durable.compact(retainBatches = 1)
    batches.zipWithIndex.drop(4).foreach { case (rows, b) => durable.merge(b, rows) }
    // resolved in plain Scala: later batches win per key, n=0 deleted
    val resolved = batches.flatten.groupMapReduce(_.key)(identity)((_, later) => later)
      .values.filter(_.nEvents != 0).toSeq
    val memory = new InMemoryServingStore
    memory.merge(0L, resolved)
    val (ps, pPort) = HttpServing.start(durable)
    val (ms, mPort) = HttpServing.start(memory)
    try {
      for (prefix <- Seq("click/hour/2024-01-05", "click/day/", "click/",
          "view/month/2024", "user/7/", "", "zzz/"); q <- Seq("", "?agg=sum")) {
        val path = s"/stats/$prefix$q"
        assert(httpGet(pPort, path) == httpGet(mPort, path), path)
      }
      assert(httpGet(pPort, "/stats/click/day/2024-01-01") == "{}")
    } finally { ps.stop(0); ms.stop(0) }
  }

  test("stream -> store -> HTTP GET round trip matches the batch rollup") {
    import org.apache.spark.sql.functions._
    val store = new InMemoryServingStore
    graft.streaming.Serving.runPipeline(spark, sf, store,
      SparkEnv.scratchDir("http-serve-ckpt"))
    val (server, port) = HttpServing.start(store)
    try {
      val agg = httpGet(port, "/stats/click/hour/?agg=sum")
      val expected = Tables.events(spark, sf)
        .filter(col("event_type") === "click")
        .agg(count(lit(1)).as("n")).collect()(0).getLong(0)
      assert(agg.contains(s""""n_events": $expected,"""), s"$agg vs $expected")
    } finally server.stop(0)
  }
}
