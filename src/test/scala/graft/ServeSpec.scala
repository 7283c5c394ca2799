package graft

/** End-to-end smoke of the demo HTTP front door: real socket, real
  * requests, the engine's actual top-k plans behind them. */
class ServeSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  private def get(port: Int, path: String): String = {
    val url = java.net.URI.create(s"http://127.0.0.1:$port$path").toURL
    val conn = url.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try {
      assert(conn.getResponseCode == 200)
      new String(conn.getInputStream.readAllBytes(), "UTF-8")
    } finally conn.disconnect()
  }

  test("health, etl, and both recs endpoints serve the reference shapes") {
    val server = Serve.start(spark, dir, port = 0) // ephemeral
    try {
      val port = server.getAddress.getPort
      assert(get(port, "/health") == """{"ok": true}""")
      assert(get(port, "/etl") == """{"ok": true}""")
      val prod = get(port, "/recs?product_id=1")
      assert(prod.contains(""""items": [{""") && prod.contains(""""took_ms":"""))
      assert(prod.contains(""""product_id":""") && prod.contains(""""score":""")
        && prod.contains(""""reason":"""))
      val cust = get(port, "/recs?customer_id=1")
      assert(cust.contains(""""items": [""") && cust.contains(""""took_ms":"""))
      // Neither param → 200 with an empty list, like the reference.
      val none = get(port, "/recs")
      assert(none.contains(""""items": []"""))
      // Unparseable id → graceful empty, not a 500.
      val bad = get(port, "/recs?product_id=notanumber")
      assert(bad.contains(""""items": []"""))
    } finally server.stop(0)
  }

  test("arm=ppr serves the ppr_fixed_recs oracle row's top-k, same wire shape") {
    val server = Serve.start(spark, dir, port = 0)
    try {
      val port = server.getAddress.getPort
      // The oracle row (registry ppr_fixed_recs = pprFixedRecsShared,
      // seed customer 1) projected to the serving wire shape must BE the
      // arm's items, byte-for-byte — serving runs the same exact
      // fixed-iteration tier the driver hash-checks, never a float fork.
      val oracleRow = graph.GraphAlgs.pprFixedRecsShared(spark, dir)
        .select(org.apache.spark.sql.functions.col("product_id"),
          org.apache.spark.sql.functions.col("rank").as("score"),
          org.apache.spark.sql.functions.lit("personalized_pagerank")
            .as("reason"))
      val expected = operators.Json.toItemsArray(oracleRow)
      assert(expected != "[]", "vacuous: the PPR oracle row is empty")
      val got = get(port, "/recs?customer_id=1&arm=ppr")
      assert(got.startsWith(s"""{"items": $expected, "took_ms":"""),
        s"ppr arm diverged from the oracle row:\n$got\nvs $expected")
      assert(expected.contains("personalized_pagerank"))
      // Unknown seed under the ppr arm → the co-occurrence cascade, not
      // an empty answer and not a 500.
      val unknown = get(port, "/recs?customer_id=999999999&arm=ppr")
      assert(unknown.contains(""""items": """) &&
        unknown.contains(""""took_ms":"""))
      // An unknown arm value leaves the default cascade untouched.
      val default = get(port, "/recs?customer_id=1")
      val odd = get(port, "/recs?customer_id=1&arm=whatever")
      assert(odd.split(""""took_ms"""").head ==
        default.split(""""took_ms"""").head)
    } finally server.stop(0)
  }

  test("arm=item and arm=rrf serve their oracle rows' top-k, same wire shape") {
    val server = Serve.start(spark, dir, port = 0)
    try {
      val port = server.getAddress.getPort
      // arm=item: the precomputed shelf filtered to the seed must BE the
      // response items, byte-for-byte (the item_item_topk registry row's
      // machinery behind a point filter).
      val itemExpected = operators.Json.toItemsArray(
        graph.GraphAlgs.itemItemServing(spark, dir, 1L))
      assert(itemExpected != "[]", "vacuous: item shelf empty for seed 1")
      assert(itemExpected.contains(""""reason":"item-item""""))
      val gotItem = get(port, "/recs?product_id=1&arm=item")
      assert(gotItem.startsWith(s"""{"items": $itemExpected, "took_ms":"""),
        s"item arm diverged from the shelf:\n$gotItem\nvs $itemExpected")
      // arm=rrf: the rec_rrf_fusion tier projected to the wire shape.
      val rrfExpected = operators.Json.toItemsArray(
        operators.Recs.rrfServing(spark, dir, 1L))
      assert(rrfExpected != "[]", "vacuous: rrf empty for seed 1")
      assert(rrfExpected.contains(""""reason":"rrf_fusion""""))
      val gotRrf = get(port, "/recs?product_id=1&arm=rrf")
      assert(gotRrf.startsWith(s"""{"items": $rrfExpected, "took_ms":"""),
        s"rrf arm diverged from the fusion tier:\n$gotRrf\nvs $rrfExpected")
      // The two arms rank differently in general; both must keep the
      // wire shape fields.
      for (g <- Seq(gotItem, gotRrf))
        assert(g.contains(""""product_id":""") && g.contains(""""score":"""))
      // Unknown seed under each arm → the default cascade (200, items
      // key present), never a 500 or a bare empty when fallback exists.
      for (arm <- Seq("item", "rrf")) {
        val unknown = get(port, s"/recs?product_id=999999999&arm=$arm")
        assert(unknown.contains(""""items": """) &&
          unknown.contains(""""took_ms":"""), s"arm=$arm unknown seed broke")
      }
    } finally server.stop(0)
  }

  test("16 parallel clients get each their own seed's answer — no cross-request bleed") {
    // The reference runs a driver per request (app/main.py's FastAPI +
    // Neo4j session lifecycle); here all requests share ONE SparkSession
    // behind a bounded 4-thread pool. Correctness under concurrency =
    // every response equals the sequentially-computed answer for ITS
    // request's seed, byte-for-byte on the items array.
    val server = Serve.start(spark, dir, port = 0)
    try {
      val port = server.getAddress.getPort
      val seeds: Seq[(String, Long)] =
        (1L to 8L).map("product_id" -> _) ++ (1L to 8L).map("customer_id" -> _)
      val expected = seeds.map { case (kind, id) =>
        val df =
          if (kind == "product_id")
            operators.Recs.recsForProduct(spark, dir, id)
          else operators.Recs.recsForCustomer(spark, dir, id)
        (kind, id) -> operators.Json.toItemsArray(df)
      }.toMap
      // At least one non-empty answer on each arm, or the test is vacuous.
      assert(expected.exists { case ((k, _), v) => k == "product_id" && v != "[]" })
      assert(expected.exists { case ((k, _), v) => k == "customer_id" && v != "[]" })
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      try {
        val futures = seeds.map { case (kind, id) =>
          pool.submit(new java.util.concurrent.Callable[(String, Long, String)] {
            def call() = (kind, id, get(port, s"/recs?$kind=$id"))
          })
        }
        for (f <- futures) {
          val (kind, id, body) = f.get(120, java.util.concurrent.TimeUnit.SECONDS)
          val items = expected((kind, id))
          assert(body.startsWith(s"""{"items": $items, "took_ms":"""),
            s"$kind=$id got a response not matching its own seed:\n$body")
        }
      } finally pool.shutdown()
    } finally server.stop(0)
  }

  test("a broken engine degrades per-endpoint: ok:false probes, empty recs") {
    // A dir with no tables: /health stays true (the liveness probe is
    // engine-only), but /etl and /recs hit missing parquet — each must
    // answer 200 in ITS OWN shape (a checker parses /etl for `ok`; an
    // items body would read as unparseable).
    val server = Serve.start(spark, "/nonexistent-graft-dir", port = 0)
    try {
      val port = server.getAddress.getPort
      assert(get(port, "/health") == """{"ok": true}""")
      assert(get(port, "/etl") == """{"ok": false}""")
      val recs = get(port, "/recs?product_id=1")
      assert(recs.contains(""""items": []""") &&
        recs.contains(""""took_ms":"""))
    } finally server.stop(0)
  }

  test("a missing table directory answers 200 with empty items and counts the exception class") {
    val missing = java.nio.file.Files.createTempDirectory("graft-no-tables").toString
    val cls = classOf[org.apache.spark.sql.AnalysisException].getName
    val before = Serve.degradations.getOrElse(cls, 0L)
    val server = Serve.start(spark, missing, port = 0)
    try {
      val got = get(server.getAddress.getPort, "/recs?product_id=1")
      assert(got.startsWith("""{"items": [], "took_ms":"""), got)
      assert(Serve.degradations.getOrElse(cls, 0L) == before + 1,
        Serve.degradations.toString)
    } finally server.stop(0)
  }
}
