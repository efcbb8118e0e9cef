package graft.serve

import graft.{SparkEntry, SparkSpecBase}
import graft.dict.Dictionary
import graft.query.{FieldCollection, Widgets}

/** The HTTP serving entry (§3 lifecycle parity): the reference's
  * browser → proxy → ES round trip is widget-state JSON in, bucket JSON
  * out (`services/webapp/src/collections.js:146-208`, `views.js:103-115`).
  * These specs drive SparkEntry.serveHttp over a real localhost socket —
  * the same JDK-HttpServer seam SourcesSpec uses for ingest — and pin the
  * wire results to the engine-direct (oracled) forms.
  */
class WidgetServerSpec extends SparkSpecBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def post(url: String, body: String): (Int, String) = {
    val client = java.net.http.HttpClient.newHttpClient()
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
      .build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private val widgetState =
    """[{"name": "l_quantity", "type": "range", "value": [10, 20],
      |  "enabled": {"state": true, "lastEnabled": 1}},
      | {"name": "l_returnflag", "type": "text", "value": "r",
      |  "enabled": {"state": true, "lastEnabled": 2}},
      | {"name": "l_linestatus", "type": "text", "value": "x",
      |  "enabled": {"state": false, "lastEnabled": 0}}]""".stripMargin

  test("fromJson decodes the wire state to the same spec as programmatic selects") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val fields = Widgets.fieldsFromDictionary(
      Dictionary.profile(li, exactDistinct = false))
    val wire = Widgets.fromJson(fields, widgetState)
    val direct = fields
      .select("l_quantity", Widgets.Selection.RangeSel(10, 20))
      .select("l_returnflag", Widgets.Selection.TextSel("r"))
    assert(wire.spec === direct.spec)
    assert(wire.displayText === direct.displayText)
  }

  test("fromJson skips disabled, null-value, and empty-array widgets like enabledValueFields") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val fields = Widgets.fieldsFromDictionary(
      Dictionary.profile(li, exactDistinct = false))
    val allAtRest = Widgets.fromJson(fields,
      """[{"name": "l_quantity", "value": null,
        |  "enabled": {"state": true, "lastEnabled": 1}},
        | {"name": "l_returnflag", "value": "r",
        |  "enabled": {"state": false, "lastEnabled": 2}},
        | {"name": "l_linestatus", "value": "z", "enabled": null}]""".stripMargin)
    assert(allAtRest.selections.isEmpty)
    // a state blob contradicting the dictionary fails fast
    intercept[IllegalArgumentException] {
      Widgets.fromJson(fields,
        """[{"name": "no_such_field", "value": "x",
          |  "enabled": {"state": true, "lastEnabled": 1}}]""".stripMargin)
    }
  }

  test("fromJson rejects a scalar value on an enum widget (Jackson coercion hole)") {
    val fields = FieldCollection(Seq(
      Widgets.Field("priority", graft.schema.VarType.Enum(Seq("a", "b")), "g", "d")),
      Map.empty)
    // elements() on a scalar is empty → EnumSel(Nil) → MatchAll would
    // silently discard the user's selection; it must fail like Bool/Text
    val e = intercept[IllegalArgumentException] {
      Widgets.fromJson(fields,
        """[{"name": "priority", "value": "a",
          |  "enabled": {"state": true, "lastEnabled": 1}}]""".stripMargin)
    }
    assert(e.getMessage.contains("priority"))
    // a real string array stays legal
    val ok = Widgets.fromJson(fields,
      """[{"name": "priority", "value": ["a"],
        |  "enabled": {"state": true, "lastEnabled": 1}}]""".stripMargin)
    assert(ok.selections("priority") === Widgets.Selection.EnumSel(Seq("a")))
  }

  test("POST /query returns exactly the engine-direct buckets") {
    val server = SparkEntry.serveHttp(spark, sfDir)
    try {
      val port = server.getAddress.getPort
      val (code, body) = post(s"http://127.0.0.1:$port/query", widgetState)
      assert(code === 200)
      val direct = WidgetServer.collectRowsJson(
        SparkEntry.queries("w_json_widget_query")(spark, sfDir))
      assert(body === direct)
      assert(body.startsWith("[{") && body.contains("l_linestatus"))
    } finally server.stop(0)
  }

  test("POST /dashboard with empty body serves the saved dashboard's buckets") {
    val server = SparkEntry.serveHttp(spark, sfDir)
    try {
      val port = server.getAddress.getPort
      val (code, body) = post(s"http://127.0.0.1:$port/dashboard", "")
      assert(code === 200)
      val direct = WidgetServer.collectRowsJson(
        SparkEntry.queries("dashboard_refresh_warm")(spark, sfDir))
      assert(body === direct)

      // a mutated widget state changes the buckets through the same route
      val (code2, body2) = post(s"http://127.0.0.1:$port/dashboard",
        """[{"name": "year", "value": [2015, 2017],
          |  "enabled": {"state": true, "lastEnabled": 1}},
          | {"name": "hour", "value": [0, 5],
          |  "enabled": {"state": true, "lastEnabled": 2}}]""".stripMargin)
      assert(code2 === 200)
      assert(body2 !== body)

      // a state filtering OUTSIDE the rollup dims (month) routes to the
      // full-scan fallback and still serves — the covering check must
      // never turn an answerable query into an error
      val (code3, body3) = post(s"http://127.0.0.1:$port/dashboard",
        """[{"name": "month", "value": [1, 6],
          |  "enabled": {"state": true, "lastEnabled": 1}}]""".stripMargin)
      assert(code3 === 200)
      assert(body3.startsWith("["))
      assert(body3 !== body)
    } finally server.stop(0)
  }

  test("POST /suggest serves the federated typeahead from the wire") {
    val server = SparkEntry.serveHttp(spark, sfDir)
    try {
      val port = server.getAddress.getPort
      val (code, body) = post(s"http://127.0.0.1:$port/suggest",
        """{"field": "description", "prefix": "a", "size": 10}""")
      assert(code === 200)
      val direct = WidgetServer.collectRowsJson(
        SparkEntry.queries("g7_typeahead_federated")(spark, sfDir))
      assert(body === direct)
    } finally server.stop(0)
  }

  test("POST /significant scores the current state's slice; rollup and scan paths agree on the wire") {
    val server = SparkEntry.serveHttp(spark, sfDir)
    try {
      val port = server.getAddress.getPort
      // empty state: foreground == background, so every JLH score is
      // exactly 0.0 and fg_count == bg_count
      val (code0, body0) = post(s"http://127.0.0.1:$port/significant",
        """{"field": "description", "size": 5}""")
      assert(code0 === 200)
      assert(body0.startsWith("["))
      assert(body0.contains("\"score\":0.0"))
      // a city slice stays inside the rollup dims → served from the
      // rollup (rollup ≡ corpus is proven by PreAggSpec and the shared
      // g_significant_terms_preagg oracle; this pins the ROUTE). city is
      // a TEXT widget — analyzed phrase-prefix, so "baltimore" matches
      // "Baltimore"
      val cityState =
        """[{"name": "city", "value": "baltimore",
          |  "enabled": {"state": true, "lastEnabled": 1}}]""".stripMargin
      val (code1, covered) = post(s"http://127.0.0.1:$port/significant",
        s"""{"field": "description", "size": 5, "state": $cityState}""")
      assert(code1 === 200)
      assert(covered !== body0)
      // a genuine slice: the top term is over-represented (score > 0) and
      // every row respects fg_count <= bg_count
      val rows = new com.fasterxml.jackson.databind.ObjectMapper().readTree(covered)
      assert(rows.isArray && rows.size > 0)
      assert(rows.get(0).path("score").asDouble() > 0.0)
      val rit = rows.elements()
      while (rit.hasNext) {
        val r = rit.next()
        assert(r.path("fg_count").asLong() <= r.path("bg_count").asLong())
      }
      // month is NOT a rollup dimension → the same request routes through
      // the corpus scan; still answers (never an error for answerable
      // states — the /dashboard routing contract)
      val uncoveredState =
        """[{"name": "city", "value": "baltimore",
          |  "enabled": {"state": true, "lastEnabled": 1}},
          | {"name": "month", "value": [1, 12],
          |  "enabled": {"state": true, "lastEnabled": 2}}]""".stripMargin
      val (code2, scanned) = post(s"http://127.0.0.1:$port/significant",
        s"""{"field": "description", "size": 5, "state": $uncoveredState}""")
      assert(code2 === 200)
      assert(scanned.startsWith("[") && scanned.contains("\"term\":"))
    } finally server.stop(0)
  }

  test("POST /geotile serves zoom and drill-down as integer shifts over the rollup") {
    val server = SparkEntry.serveHttp(spark, sfDir)
    try {
      val port = server.getAddress.getPort
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val (code, body) = post(s"http://127.0.0.1:$port/geotile", """{"z": 4}""")
      assert(code === 200)
      val rows = mapper.readTree(body)
      assert(rows.isArray && rows.size > 0, body)
      val top = rows.elements().next()
      val tile = top.path("tile").asText()
      assert(tile.startsWith("4/"), body)
      assert(top.path("count").asLong() > 0L)
      // drill into the busiest tile: every returned z=6 tile must be a
      // descendant (its z=4 ancestor is the clicked cell), counts sum ≤
      // the parent's count cap at most
      val Array(_, cx, cy) = tile.split("/")
      val (code2, drilled) = post(s"http://127.0.0.1:$port/geotile",
        s"""{"z": 6, "cell": "$tile", "size": 100}""")
      assert(code2 === 200)
      val drows = mapper.readTree(drilled)
      assert(drows.isArray && drows.size > 0, drilled)
      var sum = 0L
      val it = drows.elements()
      while (it.hasNext) {
        val r = it.next()
        val Array(z6, x6, y6) = r.path("tile").asText().split("/")
        assert(z6 === "6")
        assert((x6.toLong >> 2) === cx.toLong && (y6.toLong >> 2) === cy.toLong,
          s"tile outside the clicked cell: $drilled")
        sum += r.path("count").asLong()
      }
      assert(sum === top.path("count").asLong(),
        "drill-down counts must tile the clicked cell exactly")
    } finally server.stop(0)
  }

  test("POST /histogram buckets the state's slice; rollup and scan routes agree on the wire") {
    val server = SparkEntry.serveHttp(spark, sfDir)
    try {
      val port = server.getAddress.getPort
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val cityState =
        """[{"name": "city", "value": "baltimore",
          |  "enabled": {"state": true, "lastEnabled": 1}}]""".stripMargin
      // hour and city are both cube dims → the rollup serves this
      val (code1, covered) = post(s"http://127.0.0.1:$port/histogram",
        s"""{"field": "hour", "interval": 6, "state": $cityState}""")
      assert(code1 === 200)
      val rows = mapper.readTree(covered)
      assert(rows.isArray && rows.size > 0 && rows.size <= 4,
        s"interval-6 hour buckets: $covered")
      var it = rows.elements()
      while (it.hasNext) {
        val r = it.next()
        assert(r.path("bucket").asDouble() % 6.0 === 0.0)
        assert(r.path("count").asLong() > 0L)
      }
      // month is not a cube dim → the same request routes through the
      // corpus scan (never an error for answerable states — the
      // /dashboard routing contract); same wire shape, and the month
      // filter genuinely constrains (fixture months are partly null), so
      // the scanned slice is a subset of the rollup-served one
      val uncovered =
        """[{"name": "city", "value": "baltimore",
          |  "enabled": {"state": true, "lastEnabled": 1}},
          | {"name": "month", "value": [1, 12],
          |  "enabled": {"state": true, "lastEnabled": 2}}]""".stripMargin
      val (code2, scanned) = post(s"http://127.0.0.1:$port/histogram",
        s"""{"field": "hour", "interval": 6, "state": $uncovered}""")
      assert(code2 === 200)
      val srows = mapper.readTree(scanned)
      assert(srows.isArray, scanned)
      val coveredCounts = {
        var m = Map.empty[Double, Long]
        val cit = rows.elements()
        while (cit.hasNext) { val r = cit.next()
          m += r.path("bucket").asDouble() -> r.path("count").asLong() }
        m
      }
      val sit = srows.elements()
      while (sit.hasNext) {
        val r = sit.next()
        val b = r.path("bucket").asDouble()
        assert(b % 6.0 === 0.0)
        assert(r.path("count").asLong() <= coveredCounts.getOrElse(b, 0L),
          s"scanned slice must be a subset of the covered slice: $scanned vs $covered")
      }
    } finally server.stop(0)
  }

  test("client faults are 400, wrong method 405, wrong path 404 — engine faults stay 500") {
    val server = SparkEntry.serveHttp(spark, sfDir)
    try {
      val port = server.getAddress.getPort
      // malformed JSON: a request-parse failure, not an engine fault
      val (code, body) = post(s"http://127.0.0.1:$port/query", "this is not json")
      assert(code === 400)
      assert(body.startsWith("{\"error\":"))
      // a state blob contradicting the dictionary: validation, still client-side
      val (code2, body2) = post(s"http://127.0.0.1:$port/query",
        """[{"name": "no_such_field", "value": "x",
          |  "enabled": {"state": true, "lastEnabled": 1}}]""".stripMargin)
      assert(code2 === 400)
      assert(body2.contains("no_such_field"))
      // a range widget with a scalar value: malformed bounds, clear message
      val (code3, body3) = post(s"http://127.0.0.1:$port/query",
        """[{"name": "l_quantity", "value": 10,
          |  "enabled": {"state": true, "lastEnabled": 1}}]""".stripMargin)
      assert(code3 === 400)
      assert(body3.contains("l_quantity"))
      // a text widget with an ARRAY value: Jackson's asText() would give
      // "" (MatchAll — the user's selection silently discarded); must 400
      val (code3b, body3b) = post(s"http://127.0.0.1:$port/query",
        """[{"name": "l_returnflag", "value": ["r"],
          |  "enabled": {"state": true, "lastEnabled": 1}}]""".stripMargin)
      assert(code3b === 400)
      assert(body3b.contains("l_returnflag"))
      // JDK HttpServer prefix-matches contexts; the handler must not
      val client = java.net.http.HttpClient.newHttpClient()
      val getResp = client.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port/query")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(getResp.statusCode() === 405)
      val (code4, _) = post(s"http://127.0.0.1:$port/queryanything", widgetState)
      assert(code4 === 404)
      // malformed members the engine would otherwise trip over (a pattern
      // match on the split cell, a null element of a non-array) are
      // client faults too
      val (code5, body5) = post(s"http://127.0.0.1:$port/geotile",
        """{"z": 6, "cell": "4-4-6"}""")
      assert(code5 === 400 && body5.contains("z/x/y"), body5)
      val (code6, body6) = post(s"http://127.0.0.1:$port/search",
        """{"q": "dup", "after": 7}""")
      assert(code6 === 400 && body6.contains("[score, id]"), body6)
      assert(post(s"http://127.0.0.1:$port/search",
        """{"q": "dup", "after": [1.0]}""")._1 === 400)
      // a pair of non-numbers must not read as score 0.0 / id 0
      val (code7, body7) = post(s"http://127.0.0.1:$port/search",
        """{"q": "dup", "after": ["x", "y"]}""")
      assert(code7 === 400 && body7.contains("[score, id]"), body7)
    } finally server.stop(0)
  }

  test("every size/k/window parameter is held to the 1..1000 page budget") {
    val server = SparkEntry.serveHttp(spark, sfDir)
    try {
      val port = server.getAddress.getPort
      Seq(
        "/suggest" -> """{"prefix": "a", "size": 100000}""",
        "/geotile" -> """{"z": 4, "size": 100000}""",
        "/significant" -> """{"field": "description", "size": 0}""",
        "/explain" -> """{"q": "dup", "size": 100000}""",
        "/knn" -> """{"vec_id": 3, "k": 100000}""",
        "/knn" -> """{"vec_id": 3, "similarity": 0.2, "size": 100000}""",
        "/sparse" -> """{"terms": {"vector": 2.0}, "k": 100000}""",
        "/fuse" -> """{"q": "dup", "vec_id": 0, "k": 100000}""",
        "/fuse" -> """{"q": "dup", "vec_id": 0, "mmr": {"k": 100000}}""",
        "/search" -> """{"q": "dup", "rescore": {"q": "vector scan", "window": 100000}}""",
        "/search" -> """{"q": "dup", "size": 0}""",
        "/mlt" -> """{"like": "dup dup", "size": 100000}""",
        "/complete" -> """{"prefix": "sp", "size": 100000}""",
        "/percolate" -> """{"queries": {"a_dup": "text:dup"}, "size": 100000}""",
        "/retriever" -> """{"retriever": {"pinned": {"ids": [1], "rank_window_size": 100000,
                           |  "retriever": {"standard": {"query": "dup"}}}}}""".stripMargin
      ).foreach { case (path, body) =>
        val (code, resp) = post(s"http://127.0.0.1:$port$path", body)
        assert(code === 400 && resp.contains("1..1000"), s"$path $body -> $code $resp")
      }
    } finally server.stop(0)
  }

  test("POST /fields serves the Q8 dictionary projection on page load") {
    val server = SparkEntry.serveHttp(spark, sfDir)
    try {
      val port = server.getAddress.getPort
      val (code, body) = post(s"http://127.0.0.1:$port/fields", "")
      assert(code === 200)
      val direct = WidgetServer.collectRowsJson(
        SparkEntry.queries("q8_dict_fetch_warm")(spark, sfDir))
      assert(body === direct)
      assert(body.contains("dict_field") && body.contains("dict_vartype"))
    } finally server.stop(0)
  }

  test("POST /search serves BM25 with filter, collapse, search_after, and highlight on the wire") {
    import org.apache.spark.sql.functions._
    val server = SparkEntry.serveHttp(spark, sfDir)
    try {
      val port = server.getAddress.getPort
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val analyzed = concat(lit(" "),
        graft.expr.TextMatch.normalized(col("text")), lit(" "))

      // plain ranked page == engine-direct topK
      val (c1, b1) = post(s"http://127.0.0.1:$port/search",
        """{"q": "dup vector scan", "size": 5}""")
      assert(c1 === 200)
      assert(b1 === WidgetServer.collectRowsJson(
        graft.query.Bm25.topKRaw(docs, "doc_id", "text", "dup vector scan", 5)))

      // filter narrows the scored corpus (stats shift with it, like ES
      // filtered query context narrows the index)
      val (c2, b2) = post(s"http://127.0.0.1:$port/search",
        """{"q": "dup vector scan", "filter": "lang:en", "size": 5}""")
      assert(c2 === 200)
      val enDocs = docs.where(graft.query.QueryString.parse(
        "lang:en", "text").compile)
      assert(b2 === WidgetServer.collectRowsJson(
        graft.query.Bm25.topKRaw(enDocs, "doc_id", "text", "dup vector scan", 5)))

      // collapse: one best hit per lang
      val (c3, b3) = post(s"http://127.0.0.1:$port/search",
        """{"q": "dup vector scan", "collapse": "lang", "size": 3}""")
      assert(c3 === 200)
      val scored = graft.query.Bm25.scored(docs, "doc_id", analyzed,
        graft.query.Bm25.Terms.words("dup vector scan"))
      assert(b3 === WidgetServer.collectRowsJson(
        graft.query.Paging.collapseTopHits(
          scored.join(docs.select("doc_id", "lang"), "doc_id"),
          "doc_id", "score", "lang", 3)))

      // search_after: page 2 stitches to the full ranking
      val p1 = scored.orderBy(desc("score"), asc("doc_id")).limit(2)
        .collect().last
      val (c4, b4) = post(s"http://127.0.0.1:$port/search",
        s"""{"q": "dup vector scan", "size": 2,
           | "after": [${p1.getDouble(1)}, ${p1.getLong(0)}]}""".stripMargin)
      assert(c4 === 200)
      assert(b4 === WidgetServer.collectRowsJson(
        graft.query.Paging.searchAfter(scored, "doc_id", "score",
          p1.getDouble(1), p1.getLong(0), 2)))

      // highlight decorates the page with wrapped matches
      val (c5, b5) = post(s"http://127.0.0.1:$port/search",
        """{"q": "dup", "size": 2, "highlight": true}""")
      assert(c5 === 200)
      assert(b5.contains("<em>dup</em>"))

      // filter_language: "kuery" routes the filter through the Kql
      // compiler (Kibana's default bar language); a KQL range would be a
      // query_string parse error, so the toggle provably switches parsers
      val (cK, bK) = post(s"http://127.0.0.1:$port/search",
        """{"q": "dup vector scan", "filter": "lang:en and n_chars >= 200",
          | "filter_language": "kuery", "size": 5}""".stripMargin)
      assert(cK === 200)
      val kqlDocs = docs.where(graft.query.Kql.parse(
        "lang:en and n_chars >= 200", Some("text")).compile)
      assert(bK === WidgetServer.collectRowsJson(
        graft.query.Bm25.topKRaw(kqlDocs, "doc_id", "text", "dup vector scan", 5)))
      assert(post(s"http://127.0.0.1:$port/search",
        """{"q": "dup", "filter": "x", "filter_language": "esql"}""")._1 === 400)

      // fields^boost: the multi-field weighted path, wire ≡ engine-direct
      val (cF, bF) = post(s"http://127.0.0.1:$port/search",
        """{"q": "src1 merge", "fields": ["text^5", "source"], "size": 5}""")
      assert(cF === 200)
      assert(bF === WidgetServer.collectRowsJson(
        graft.query.Bm25.multiMatchWeightedTopK(docs, "doc_id",
          Seq("text" -> 5.0, "source" -> 1.0), "src1 merge", 5)))
      // fields does not compose with collapse — loud 400, not a silent drop
      assert(post(s"http://127.0.0.1:$port/search",
        """{"q": "dup", "fields": ["text"], "collapse": "lang"}""")._1 === 400)

      // missing q is a client fault
      assert(post(s"http://127.0.0.1:$port/search", """{"size": 2}""")._1 === 400)

      // rescore: the window recombines with the phrase boost, pinned to
      // the engine-direct form
      val (c6, b6) = post(s"http://127.0.0.1:$port/search",
        """{"q": "dup vector scan", "size": 4,
          | "rescore": {"q": "vector scan", "window": 3, "weight": 2.0}}""".stripMargin)
      assert(c6 === 200)
      val boost = docs.select(col("doc_id"),
        when(graft.expr.TextMatch.containsToken(col("text"), "vector scan"),
          lit(1.0)).otherwise(lit(0.0)).as("boost"))
      assert(b6 === WidgetServer.collectRowsJson(
        graft.query.Hybrid.rescore(scored, "doc_id", "score", boost, "boost",
            windowSize = 3, rescoreWeight = 2.0)
          .orderBy("rank").limit(4)))
      assert(post(s"http://127.0.0.1:$port/search",
        """{"q": "dup", "rescore": {"window": 3}}""")._1 === 400)

      // query_string boosts compile to scoring weights on THIS path
      // (the filter path keeps its loud rejection): `vector^2` must
      // re-rank vs the unboosted query, pinned to the engine-direct
      // boosted form
      val (c7, b7) = post(s"http://127.0.0.1:$port/search",
        """{"q": "vector^2 dup scan^0.5", "size": 5}""")
      assert(c7 === 200)
      assert(b7 === WidgetServer.collectRowsJson(
        graft.query.Bm25.topK(docs, "doc_id", analyzed, graft.query.Bm25.Terms.boosted(
          Seq("vector" -> 2.0, "dup" -> 1.0, "scan" -> 0.5)), 5)))
      assert(b7 !== b1)
      // a boost in the FILTER stays a client fault
      assert(post(s"http://127.0.0.1:$port/search",
        """{"q": "dup", "filter": "text:a^2", "size": 2}""")._1 === 400)
      // ROUTE CONTRACT (round-15 advice): a CARET-FREE q keeps the
      // tolerant bag-of-words path — operator tokens score as plain
      // words (the pre-boost behavior), they do not 400
      val (c7b, b7b) = post(s"http://127.0.0.1:$port/search",
        """{"q": "dup AND vector", "size": 3}""")
      assert(c7b === 200)
      assert(b7b === WidgetServer.collectRowsJson(
        graft.query.Bm25.topKRaw(docs, "doc_id", "text", "dup AND vector", 3)))
      // ...while a boosted q opts into the strict flat-list contract:
      // structure alongside a caret rejects loudly
      assert(post(s"http://127.0.0.1:$port/search",
        """{"q": "dup^2 AND vector", "size": 3}""")._1 === 400)

      // _explain: the per-term decomposition, pinned to engine-direct
      val (c8, b8) = post(s"http://127.0.0.1:$port/explain",
        """{"q": "dup vector scan", "size": 3}""")
      assert(c8 === 200)
      assert(b8 === WidgetServer.collectRowsJson(
        graft.query.Bm25.explainTopK(docs, "doc_id", analyzed,
          "dup vector scan", k = 3)))
      assert(b8.contains("\"contribution\""))
      assert(post(s"http://127.0.0.1:$port/explain", """{"size": 3}""")._1 === 400)

      // _termvectors: per-doc term stats for a requested id list
      val (c9, b9) = post(s"http://127.0.0.1:$port/termvectors",
        """{"ids": [0, 1]}""")
      assert(c9 === 200)
      assert(b9 === WidgetServer.collectRowsJson(
        graft.query.TermVectors.termVectors(
            docs.where(col("doc_id").isin(0L, 1L)), "doc_id", "text")
          .orderBy("doc_id", "term")))
      assert(post(s"http://127.0.0.1:$port/termvectors", """{}""")._1 === 400)
    } finally server.stop(0)
  }

  test("POST /search cross_fields mode, /mlt, and /complete serve wire ≡ engine") {
    import org.apache.spark.sql.functions._
    val server = SparkEntry.serveHttp(spark, sfDir)
    try {
      val port = server.getAddress.getPort
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val analyzed = concat(lit(" "),
        graft.expr.TextMatch.normalized(col("text")), lit(" "))

      // cross_fields with tie_breaker on the multi-field path
      val (c1, b1) = post(s"http://127.0.0.1:$port/search",
        """{"q": "src1 spark", "fields": ["text", "source"],
          | "mode": "cross_fields", "tie_breaker": 0.3, "size": 5}""".stripMargin)
      assert(c1 === 200)
      assert(b1 === WidgetServer.collectRowsJson(
        graft.query.Bm25.crossFieldsTopK(docs, "doc_id",
          Seq("text" -> 1.0, "source" -> 1.0), "src1 spark", 5,
          tieBreaker = 0.3)))
      // tie_breaker without cross_fields is a client fault
      assert(post(s"http://127.0.0.1:$port/search",
        """{"q": "a", "fields": ["text"], "tie_breaker": 0.3}""")._1 === 400)

      // /mlt scored: like-text top-k ≡ engine-direct
      val like = "dup vector scan dup fast vector fast"
      val p = graft.query.MoreLikeThis.MltParams(maxQueryTerms = 3,
        minTermFreq = 2, minDocFreq = 2, minimumShouldMatch = "50%")
      val (c2, b2) = post(s"http://127.0.0.1:$port/mlt",
        s"""{"like": "$like", "max_query_terms": 3, "min_term_freq": 2,
           | "min_doc_freq": 2, "minimum_should_match": "50%", "size": 5}""".stripMargin)
      assert(c2 === 200)
      assert(b2 === WidgetServer.collectRowsJson(
        graft.query.MoreLikeThis.likeTextTopK(docs, "doc_id", analyzed,
          like, k = 5, p)))
      // /mlt filter-context: the match set with matched counts
      val (c3, b3) = post(s"http://127.0.0.1:$port/mlt",
        s"""{"like": "$like", "max_query_terms": 3, "min_term_freq": 2,
           | "min_doc_freq": 2, "minimum_should_match": "50%",
           | "scored": false, "size": 7}""".stripMargin)
      assert(c3 === 200)
      assert(b3 === WidgetServer.collectRowsJson(
        graft.query.MoreLikeThis.likeTextMatchSet(docs, "doc_id", analyzed,
          like, p).orderBy("doc_id").limit(7)))
      assert(post(s"http://127.0.0.1:$port/mlt", """{"size": 3}""")._1 === 400)

      // /complete: fuzzy completion ≡ engine-direct
      val (c4, b4) = post(s"http://127.0.0.1:$port/complete",
        """{"prefix": "sp", "size": 4, "fuzziness": 1}""")
      assert(c4 === 200)
      assert(b4 === WidgetServer.collectRowsJson(
        graft.query.Fuzzy.suggestCompletion(
          graft.query.Fuzzy.vocabularyWithFreq(docs, col("text")),
          "sp", size = 4, fuzziness = 1, prefixLength = 1)))
      assert(post(s"http://127.0.0.1:$port/complete", """{"size": 2}""")._1 === 400)
      assert(post(s"http://127.0.0.1:$port/complete",
        """{"prefix": "sp", "fuzziness": 9}""")._1 === 400)

      // page budgets: oversize requests are client faults, not OOM risks
      assert(post(s"http://127.0.0.1:$port/search",
        """{"q": "dup", "size": 100000}""")._1 === 400)
      assert(post(s"http://127.0.0.1:$port/mlt",
        """{"like": "dup dup", "size": 100000}""")._1 === 400)
      assert(post(s"http://127.0.0.1:$port/complete",
        """{"prefix": "sp", "size": 100000}""")._1 === 400)
    } finally server.stop(0)
  }

  test("POST /analyze returns token streams; /search analyzer=english stems both sides") {
    import org.apache.spark.sql.functions._
    val server = SparkEntry.serveHttp(spark, sfDir)
    try {
      val port = server.getAddress.getPort
      // _analyze: the standard stream, then english (stopwords + stems)
      val (c1, b1) = post(s"http://127.0.0.1:$port/analyze",
        """{"text": "The Merging Tables"}""")
      assert(c1 === 200)
      assert(b1.contains("\"token\":\"the\"") && b1.contains("\"token\":\"merging\""))
      val (c2, b2) = post(s"http://127.0.0.1:$port/analyze",
        """{"analyzer": "english", "text": "The Merging Tables"}""")
      assert(c2 === 200)
      assert(b2.contains("\"token\":\"merg\"") && b2.contains("\"token\":\"tabl\"")
        && !b2.contains("\"token\":\"the\""))
      assert(post(s"http://127.0.0.1:$port/analyze",
        """{"analyzer": "porter9", "text": "x"}""")._1 === 400)
      assert(post(s"http://127.0.0.1:$port/analyze", """{}""")._1 === 400)

      // /search analyzer=english: the query-side inflection "batches"
      // stems to the corpus token "batch" — the standard path finds
      // nothing, the english path ranks (wire ≡ engine)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val an = graft.expr.TextMatch.EnglishAnalyzer
      val (c3, b3) = post(s"http://127.0.0.1:$port/search",
        """{"q": "batches", "analyzer": "english", "size": 5}""")
      assert(c3 === 200)
      assert(b3 === WidgetServer.collectRowsJson(
        graft.query.Bm25.scored(docs, "doc_id",
            concat(lit(" "), an.normalized(col("text")), lit(" ")),
            graft.query.Bm25.Terms.words("batches", an))
          .orderBy(desc("score"), asc("doc_id")).limit(5)))
      assert(b3.contains("doc_id"), "english analyzer finds the inflection")
      val (c4, b4) = post(s"http://127.0.0.1:$port/search",
        """{"q": "batches", "size": 5}""")
      assert(c4 === 200 && !b4.contains("doc_id"), "standard path: no hits")
      // composition rejects
      assert(post(s"http://127.0.0.1:$port/search",
        """{"q": "batches", "analyzer": "english", "highlight": true}""")._1 === 400)
      assert(post(s"http://127.0.0.1:$port/search",
        """{"q": "batch^2", "analyzer": "english"}""")._1 === 400)
    } finally server.stop(0)
  }

  test("POST /retriever compiles the ES retriever tree on the wire") {
    val server = SparkEntry.serveHttp(spark, sfDir)
    try {
      val port = server.getAddress.getPort
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val tree =
        """{"retriever": {"rrf": {"retrievers": [
          |  {"standard": {"query": "dup vector", "rank_window_size": 15}},
          |  {"standard": {"query": "spark merge", "rank_window_size": 15}}
          |], "rank_window_size": 8}}}""".stripMargin
      val (c1, b1) = post(s"http://127.0.0.1:$port/retriever", tree)
      assert(c1 === 200)
      assert(b1 === WidgetServer.collectRowsJson(
        graft.query.Retriever.compile(docs, emb, tree)))
      // the inference seam is a client fault on the wire
      assert(post(s"http://127.0.0.1:$port/retriever",
        """{"retriever": {"text_similarity_reranker": {}}}""")._1 === 400)
      assert(post(s"http://127.0.0.1:$port/retriever",
        """{"retriever": {"frobnicate": {}}}""")._1 === 400)
      // page budget and DSL-object filters are client faults on the wire
      assert(post(s"http://127.0.0.1:$port/retriever",
        """{"retriever": {"standard": {"query": "dup", "rank_window_size": 100000}}}""")._1 === 400)
      assert(post(s"http://127.0.0.1:$port/retriever",
        """{"retriever": {"standard": {"query": "dup", "filter": {"term": {"lang": "en"}}}}}""")._1 === 400)
    } finally server.stop(0)
  }

  test("POST /fuse serves rrf and linear hybrid retrieval, with optional MMR") {
    import org.apache.spark.sql.functions._
    val server = SparkEntry.serveHttp(spark, sfDir)
    try {
      val port = server.getAddress.getPort
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val bmScored = graft.query.Bm25.topKRaw(docs, "doc_id", "text",
        "dup vector scan", k = 50).select(col("doc_id"), col("score"))
      val vecScored = graft.ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          emb.where(col("vec_id") === 0), "vec_id", "embedding", k = 50)
        .select(col("neighbor_id").as("doc_id"), col("rank"), col("cos").as("score"))

      val (c1, b1) = post(s"http://127.0.0.1:$port/fuse",
        """{"q": "dup vector scan", "vec_id": 0, "k": 5, "mode": "rrf"}""")
      assert(c1 === 200)
      val bmRun = graft.query.Hybrid.withRank(bmScored, "score", "doc_id")
        .select("doc_id", "rank")
      assert(b1 === WidgetServer.collectRowsJson(
        graft.query.Hybrid.rrf(Seq(bmRun, vecScored.select("doc_id", "rank")),
            "doc_id", "rank", topK = 5)
          .withColumnRenamed("rrf_score", "fused_score")
          .orderBy(desc("fused_score"), asc("doc_id"))))

      val (c2, b2) = post(s"http://127.0.0.1:$port/fuse",
        """{"q": "dup vector scan", "vec_id": 0, "k": 5, "mode": "linear",
          | "weights": [0.6, 0.4]}""".stripMargin)
      assert(c2 === 200)
      assert(b2 === WidgetServer.collectRowsJson(
        graft.query.Hybrid.linearFusion(
            Seq(bmScored -> 0.6, vecScored.select("doc_id", "score") -> 0.4),
            "doc_id", "score", topK = 5)
          .orderBy(desc("fused_score"), asc("doc_id"))))

      // MMR diversification of the fused list returns pick-ordered rows
      val (c3, b3) = post(s"http://127.0.0.1:$port/fuse",
        """{"q": "dup vector scan", "vec_id": 0, "k": 10, "mode": "rrf",
          | "mmr": {"k": 3, "lambda": 0.7}}""".stripMargin)
      assert(c3 === 200)
      val om = new com.fasterxml.jackson.databind.ObjectMapper().readTree(b3)
      assert(om.isArray && om.size() === 3)
      assert((0 until 3).map(i => om.get(i).path("pick").asInt()) === Seq(1, 2, 3))

      // faults: missing q / vec_id, unknown mode
      assert(post(s"http://127.0.0.1:$port/fuse", """{"vec_id": 0}""")._1 === 400)
      assert(post(s"http://127.0.0.1:$port/fuse", """{"q": "x"}""")._1 === 400)
      assert(post(s"http://127.0.0.1:$port/fuse",
        """{"q": "dup", "vec_id": 0, "mode": "zmode"}""")._1 === 400)
    } finally server.stop(0)
  }

  test("POST /knn serves exact and IVF vector search with the pre-filter on the wire") {
    import org.apache.spark.sql.functions._
    val server = SparkEntry.serveHttp(spark, sfDir)
    try {
      val port = server.getAddress.getPort
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val queries = emb.where(col("vec_id") === 3L)

      val (c1, b1) = post(s"http://127.0.0.1:$port/knn",
        """{"vec_id": 3, "k": 4}""")
      assert(c1 === 200)
      assert(b1 === WidgetServer.collectRowsJson(
        graft.ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", 4)))

      // pre-filter narrows candidates before ranking
      val (c2, b2) = post(s"http://127.0.0.1:$port/knn",
        """{"vec_id": 3, "k": 4, "filter": "label:[0 TO 2]"}""")
      assert(c2 === 200)
      val filtered = emb.where(graft.query.QueryString.parse(
        "label:[0 TO 2]", "label").compile)
      assert(b2 === WidgetServer.collectRowsJson(
        graft.ops.Similarity.bruteForceTopK(filtered, "vec_id", "embedding",
          queries, "vec_id", "embedding", 4)))
      assert(b2 !== b1)

      // IVF path: shared full-corpus centroids, filtered index rows
      val (c3, b3) = post(s"http://127.0.0.1:$port/knn",
        """{"vec_id": 3, "k": 4, "nprobe": 3}""")
      assert(c3 === 200)
      val cents = graft.ops.Similarity.kmeansCentroids(
        emb, "vec_id", "embedding", k = 8, iters = 0)
      assert(b3 === WidgetServer.collectRowsJson(
        graft.ops.Similarity.ivfTopKFromIndex(
          graft.ops.Similarity.assignCells(emb, "vec_id", "embedding", cents),
          cents, queries, "vec_id", "embedding", 4, nprobe = 3)))

      assert(post(s"http://127.0.0.1:$port/knn", """{"k": 4}""")._1 === 400)

      // ES similarity threshold: hits below cosine t drop AFTER the k cut
      val (c4, b4) = post(s"http://127.0.0.1:$port/knn",
        """{"vec_id": 3, "k": 4, "similarity": 0.2}""")
      assert(c4 === 200)
      assert(b4 === WidgetServer.collectRowsJson(
        graft.ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", 4).where(col("cos") >= 0.2)))

      // similarity WITHOUT k = a pure RADIUS search: every hit ≥ t, no
      // rank window — exact brute path...
      val (c5, b5) = post(s"http://127.0.0.1:$port/knn",
        """{"vec_id": 3, "similarity": 0.2}""")
      assert(c5 === 200)
      assert(b5 === WidgetServer.collectRowsJson(
        graft.ops.Similarity.bruteForceRadius(emb, "vec_id", "embedding",
            queries, "vec_id", "embedding", 0.2)
          .orderBy(desc("cos"), asc("neighbor_id"))))
      // ...and the cell-pruned serving path when nprobe is given
      val (c6, b6) = post(s"http://127.0.0.1:$port/knn",
        """{"vec_id": 3, "similarity": 0.2, "nprobe": 3}""")
      assert(c6 === 200)
      assert(b6 === WidgetServer.collectRowsJson(
        graft.ops.Similarity.ivfRadius(
            graft.ops.Similarity.assignCells(emb, "vec_id", "embedding", cents),
            cents, queries, "vec_id", "embedding", 0.2, nprobe = 3)
          .orderBy(desc("cos"), asc("neighbor_id"))))

      // the radius response is BOUNDED: "size" caps the page (default
      // 1000) — the route-contract guard against a permissive threshold
      // streaming a corpus down one HTTP body
      val (c7, b7) = post(s"http://127.0.0.1:$port/knn",
        """{"vec_id": 3, "similarity": 0.2, "size": 2}""")
      assert(c7 === 200)
      assert(b7 === WidgetServer.collectRowsJson(
        graft.ops.Similarity.bruteForceRadius(emb, "vec_id", "embedding",
            queries, "vec_id", "embedding", 0.2)
          .orderBy(desc("cos"), asc("neighbor_id")).limit(2)))
    } finally server.stop(0)
  }

  test("POST /sparse serves sparse_vector retrieval with pruning on the wire") {
    val server = SparkEntry.serveHttp(spark, sfDir)
    try {
      val port = server.getAddress.getPort
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val postings = graft.query.SparseVector.tfPostings(docs, "doc_id", "text")

      // wire ≡ engine-direct (the search_sparse_vector path)
      val (c1, b1) = post(s"http://127.0.0.1:$port/sparse",
        """{"terms": {"vector": 2.0, "dup": 1.5, "scan": 0.5}, "k": 5}""")
      assert(c1 === 200)
      assert(b1 === WidgetServer.collectRowsJson(graft.query.SparseVector.topK(
        postings, "doc_id",
        Seq("vector" -> 2.0, "dup" -> 1.5, "scan" -> 0.5), k = 5)))

      // the array form carries the same query
      val (c1b, b1b) = post(s"http://127.0.0.1:$port/sparse",
        """{"terms": [["vector", 2.0], ["dup", 1.5], ["scan", 0.5]], "k": 5}""")
      assert(c1b === 200 && b1b === b1)

      // pruning on the wire ≡ engine-direct prune → topK, and it does
      // real work (the pruned page differs from the unpruned one)
      val (c2, b2) = post(s"http://127.0.0.1:$port/sparse",
        """{"terms": {"vector": 2.0, "dup": 0.5, "scan": 0.3, "merge": 0.25},
          | "k": 5, "prune": true, "freq_ratio": 1.0}""".stripMargin)
      assert(c2 === 200)
      val kept = graft.query.SparseVector.prune(postings,
        Seq("vector" -> 2.0, "dup" -> 0.5, "scan" -> 0.3, "merge" -> 0.25),
        freqRatioThreshold = 1.0, weightThreshold = 0.4)
      assert(b2 === WidgetServer.collectRowsJson(
        graft.query.SparseVector.topK(postings, "doc_id", kept, k = 5)))
      val (c2b, b2b) = post(s"http://127.0.0.1:$port/sparse",
        """{"terms": {"vector": 2.0, "dup": 0.5, "scan": 0.3, "merge": 0.25},
          | "k": 5}""".stripMargin)
      assert(c2b === 200)
      assert(b2b !== b2, "pruning changed nothing on the wire")

      // fault pins: missing terms, malformed weight, duplicate terms
      // (array form), thresholds outside the ES ranges
      assert(post(s"http://127.0.0.1:$port/sparse", """{"k": 5}""")._1 === 400)
      assert(post(s"http://127.0.0.1:$port/sparse",
        """{"terms": {"vector": "heavy"}}""")._1 === 400)
      assert(post(s"http://127.0.0.1:$port/sparse",
        """{"terms": [["vector", 2.0], ["vector", 1.0]]}""")._1 === 400)
      assert(post(s"http://127.0.0.1:$port/sparse",
        """{"terms": {"vector": 2.0}, "prune": true, "freq_ratio": 0.5}""")._1
        === 400)
    } finally server.stop(0)
  }

  test("POST /esql runs piped programs on the wire — wire ≡ engine-direct, capped, 400 pins") {
    val server = SparkEntry.serveHttp(spark, sfDir)
    try {
      val port = server.getAddress.getPort
      def resolve(t: String) = spark.read.parquet(s"$sfDir/$t.parquet")

      // wire ≡ engine-direct for a full program (STATS + SORT)
      val program =
        "FROM documents | WHERE lang == \"en\" | STATS n = COUNT(*) BY source | SORT n DESC, source | LIMIT 5"
      val (c1, b1) = post(s"http://127.0.0.1:$port/esql",
        s"""{"query": "${program.replace("\"", "\\\"")}"}""")
      assert(c1 === 200)
      assert(b1 === WidgetServer.collectRowsJson(
        graft.query.Esql.run(program, resolve)))

      // ENRICH policy is live on the wire
      val enrich =
        "FROM customer | ENRICH nations ON c_nationkey WITH nation = n_name | STATS n = COUNT(*) BY nation | SORT nation | LIMIT 3"
      val (c2, b2) = post(s"http://127.0.0.1:$port/esql",
        s"""{"query": "${enrich.replace("\"", "\\\"")}"}""")
      assert(c2 === 200 && b2.contains("NATION_0"))

      // the row cap bounds an unbounded program (sf0.001 lineitem > 1000)
      val (c3, b3) = post(s"http://127.0.0.1:$port/esql",
        """{"query": "FROM lineitem | KEEP l_orderkey"}""")
      assert(c3 === 200)
      assert(b3.count(_ == '{') === 1000)

      // QSTR/KQL live on the wire via the default_field option; absent,
      // they 400 naming the option (the mapping seam)
      val qstr =
        "FROM documents | WHERE QSTR(\"merge*\") | STATS n = COUNT(*) | LIMIT 1"
      val (c5, b5) = post(s"http://127.0.0.1:$port/esql",
        s"""{"query": "${qstr.replace("\"", "\\\"")}", "default_field": "text"}""")
      assert(c5 === 200)
      assert(b5 === WidgetServer.collectRowsJson(
        graft.query.Esql.run(qstr, resolve, defaultField = Some("text"))))
      val (c6, b6) = post(s"http://127.0.0.1:$port/esql",
        s"""{"query": "${qstr.replace("\"", "\\\"")}"}""")
      assert(c6 === 400 && b6.contains("default_field"))

      // named ?params bind on the wire — ES's array-of-one-field-objects
      // shape AND the plain-object map; positional entries 400
      val pq = "FROM documents | WHERE lang == ?l | STATS n = COUNT(*) | LIMIT 1"
      val (cp1, bp1) = post(s"http://127.0.0.1:$port/esql",
        s"""{"query": "${pq.replace("\"", "\\\"")}", "params": [{"l": "en"}]}""")
      assert(cp1 === 200)
      assert(bp1 === WidgetServer.collectRowsJson(
        graft.query.Esql.run(pq, resolve, params = Map("l" -> "en"))))
      val (cp2, bp2) = post(s"http://127.0.0.1:$port/esql",
        s"""{"query": "${pq.replace("\"", "\\\"")}", "params": {"l": "en"}}""")
      assert(cp2 === 200 && bp2 === bp1)
      val (cp3, bp3) = post(s"http://127.0.0.1:$port/esql",
        s"""{"query": "${pq.replace("\"", "\\\"")}", "params": ["en"]}""")
      assert(cp3 === 400 && bp3.contains("one-field"))
      val (cp4, bp4) = post(s"http://127.0.0.1:$port/esql",
        s"""{"query": "${pq.replace("\"", "\\\"")}"}""")
      assert(cp4 === 400 && bp4.contains("unbound parameter"))
      // ??field identifier params splice in the scanner — same wire map
      val iq = "FROM documents | STATS n = COUNT(*) BY ??g | SORT ??g | LIMIT 3"
      val (cp5, bp5) = post(s"http://127.0.0.1:$port/esql",
        s"""{"query": "${iq.replace("\"", "\\\"")}", "params": [{"g": "lang"}]}""")
      assert(cp5 === 200)
      assert(bp5 === WidgetServer.collectRowsJson(
        graft.query.Esql.run(iq, resolve, params = Map("g" -> "lang"))))
      val (cp6, bp6) = post(s"http://127.0.0.1:$port/esql",
        s"""{"query": "${iq.replace("\"", "\\\"")}", "params": [{"g": "lang; DROP"}]}""")
      assert(cp6 === 400 && bp6.contains("not a field name"))

      // 400 pins: missing query, parse error, unknown index, NOW()
      assert(post(s"http://127.0.0.1:$port/esql", "{}")._1 === 400)
      assert(post(s"http://127.0.0.1:$port/esql",
        """{"query": "FROM documents | FROBNICATE"}""")._1 === 400)
      val (c4, b4) = post(s"http://127.0.0.1:$port/esql",
        """{"query": "FROM secrets | LIMIT 1"}""")
      assert(c4 === 400 && b4.contains("unknown index"))
      assert(post(s"http://127.0.0.1:$port/esql",
        """{"query": "FROM documents | EVAL t = NOW()"}""")._1 === 400)

      // KNN + METADATA _score live on the wire (vector search inside the
      // pipe language); METADATA _id 400s naming the seam
      val knn = "FROM embeddings METADATA _score | WHERE KNN(embedding, [" +
        Seq.fill(64)("0.25").mkString(", ") +
        "], {\"k\": 3, \"metric\": \"dot_product\", \"tiebreak\": \"vec_id\"}) | KEEP vec_id, _score"
      val (ck, bk) = post(s"http://127.0.0.1:$port/esql",
        s"""{"query": "${knn.replace("\"", "\\\"")}"}""")
      assert(ck === 200)
      assert(bk === WidgetServer.collectRowsJson(
        graft.query.Esql.run(knn, resolve)))
      val (cm, bm) = post(s"http://127.0.0.1:$port/esql",
        """{"query": "FROM documents METADATA _id | LIMIT 1"}""")
      assert(cm === 400 && bm.contains("no hidden document store"))
    } finally server.stop(0)
  }

  test("POST /geo serves the map's box and pin filters as a geohash grid") {
    import org.apache.spark.sql.functions._
    val server = SparkEntry.serveHttp(spark, sfDir)
    try {
      val port = server.getAddress.getPort
      val pts = spark.read.parquet(s"$sfDir/customer.parquet")
        .withColumn("lat", pmod(col("c_acctbal"), lit(180)) - 90 + lit(0.001))
        .withColumn("lon", pmod(col("c_custkey"), lit(360)) - 180 + lit(0.001))

      // viewport box (antimeridian-crossing) → the same grid as the
      // compiled GeoBoundingBox over the fixture points
      val (c1, b1) = post(s"http://127.0.0.1:$port/geo",
        """{"box": {"top": 60, "left": 150, "bottom": -10, "right": -120},
          | "precision": 2}""".stripMargin)
      assert(c1 === 200)
      assert(b1 === WidgetServer.collectRowsJson(graft.query.Aggs.geohashGrid(
        pts.where(graft.query.FilterSpec.GeoBoundingBox(
          "lat", "lon", 60, 150, -10, -120).compile), "lat", "lon", 2)))

      // radius pin composes with the box as a conjunction
      val (c2, b2) = post(s"http://127.0.0.1:$port/geo",
        """{"pin": {"lat": 10.0, "lon": 20.0, "km": 3000.0}}""")
      assert(c2 === 200)
      assert(b2 === WidgetServer.collectRowsJson(graft.query.Aggs.geohashGrid(
        pts.where(graft.query.FilterSpec.GeoDistance(
          "lat", "lon", 10.0, 20.0, 3000.0).compile), "lat", "lon", 2)))
      assert(b1 !== b2)

      // a pin without km is a loud 400, not a silent default radius
      assert(post(s"http://127.0.0.1:$port/geo",
        """{"pin": {"lat": 0, "lon": 0}}""")._1 === 400)
    } finally server.stop(0)
  }

  test("POST /percolate matches posted stored queries against the corpus on the wire") {
    val server = SparkEntry.serveHttp(spark, sfDir)
    try {
      val port = server.getAddress.getPort
      val (code, body) = post(s"http://127.0.0.1:$port/percolate",
        """{"queries": {"a_dup": "text:dup", "a_vs": "text:\"vector scan\""}}""")
      assert(code === 200)
      val stored = graft.query.Percolator.fromStrings(
        Seq("a_dup" -> "text:dup", "a_vs" -> """text:"vector scan""""), "text")
      val hits = graft.query.Percolator.percolateLong(
        spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", stored)
        .orderBy("query_id", "doc_id")
      val direct = WidgetServer.collectRowsJson(hits)
      assert(body === direct)
      assert(post(s"http://127.0.0.1:$port/percolate", """{}""")._1 === 400)

      // a size that holds every match serves them all; a size the first
      // query alone fills is a 400, not a page with the later query's
      // alerts silently cut
      val n = hits.count()
      val nDup = hits.where("query_id = 'a_dup'").count()
      assert(nDup > 0 && nDup < n)
      val both = """"queries": {"a_dup": "text:dup", "a_vs": "text:\"vector scan\""}"""
      assert(post(s"http://127.0.0.1:$port/percolate", s"""{$both, "size": $n}""") === ((200, direct)))
      val (code2, body2) = post(s"http://127.0.0.1:$port/percolate", s"""{$both, "size": $nDup}""")
      assert(code2 === 400 && body2.contains(s"more than $nDup matches"), body2)
    } finally server.stop(0)
  }
}
