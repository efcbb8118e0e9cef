package graft

import org.apache.spark.sql.SparkSession

/** Zero-change evidence for the serving tier, the twin of [[PlanDump]]:
  * starts [[SparkEntry.serveHttp]] over a sf dir, POSTs a fixed request set
  * to all 20 routes (the bodies `WidgetServerSpec` drives, client faults
  * included) and writes, per request, its path, request body, status and
  * response body. Run it on two trees over the same sf dir and `cmp` the
  * outputs: equal files mean every route answers every request the same,
  * byte for byte.
  *
  * Usage: sbt "Test/runMain graft.RouteDump <sfDir> <out>"
  */
object RouteDump {

  private val widgetState =
    """[{"name": "l_quantity", "type": "range", "value": [10, 20],
      |  "enabled": {"state": true, "lastEnabled": 1}},
      | {"name": "l_returnflag", "type": "text", "value": "r",
      |  "enabled": {"state": true, "lastEnabled": 2}},
      | {"name": "l_linestatus", "type": "text", "value": "x",
      |  "enabled": {"state": false, "lastEnabled": 0}}]""".stripMargin

  private val cityState =
    """[{"name": "city", "value": "baltimore",
      |  "enabled": {"state": true, "lastEnabled": 1}}]""".stripMargin

  private val cityMonthState =
    """[{"name": "city", "value": "baltimore",
      |  "enabled": {"state": true, "lastEnabled": 1}},
      | {"name": "month", "value": [1, 12],
      |  "enabled": {"state": true, "lastEnabled": 2}}]""".stripMargin

  private def esql(program: String, extra: String = ""): String =
    s"""{"query": "${program.replace("\"", "\\\"")}"$extra}"""

  private val knnProgram = "FROM embeddings METADATA _score | WHERE KNN(embedding, [" +
    Seq.fill(64)("0.25").mkString(", ") +
    "], {\"k\": 3, \"metric\": \"dot_product\", \"tiebreak\": \"vec_id\"}) | KEEP vec_id, _score"

  private val linearTree =
    """{"retriever": {"linear": {"retrievers": [
      |  {"retriever": {"standard": {"query": "dup vector"}}, "weight": 0.7, "normalizer": "minmax"},
      |  {"retriever": {"knn": {"field": "embedding", "query_vector": [""".stripMargin +
      Seq.fill(64)("0.25").mkString(", ") +
      """], "k": 5}}, "weight": 0.3}], "rank_window_size": 6}}}"""

  private val like = "dup vector scan dup fast vector fast"

  /** `(path, body)` in send order. */
  val requests: Seq[(String, String)] = Seq(
    "/query" -> widgetState,
    "/query" -> "this is not json",
    "/query" -> """[{"name": "no_such_field", "value": "x", "enabled": {"state": true, "lastEnabled": 1}}]""",
    "/query" -> """[{"name": "l_quantity", "value": 10, "enabled": {"state": true, "lastEnabled": 1}}]""",
    "/query" -> """[{"name": "l_returnflag", "value": ["r"], "enabled": {"state": true, "lastEnabled": 1}}]""",
    "/query" -> "",
    "/dashboard" -> "",
    "/dashboard" -> "  ",
    "/dashboard" -> """[{"name": "year", "value": [2015, 2017], "enabled": {"state": true, "lastEnabled": 1}},
                      | {"name": "hour", "value": [0, 5], "enabled": {"state": true, "lastEnabled": 2}}]""".stripMargin,
    "/dashboard" -> """[{"name": "month", "value": [1, 6], "enabled": {"state": true, "lastEnabled": 1}}]""",
    "/dashboard" -> """[{"name": "year", "value": [2015""",
    "/dashboard" -> "{}",
    "/fields" -> "",
    "/fields" -> "{}",
    "/fields" -> "this is not json",
    "/suggest" -> """{"field": "description", "prefix": "a", "size": 10}""",
    "/suggest" -> """{"prefix": "th"}""",
    "/suggest" -> "this is not json",
    "/suggest" -> """{"field": "description", "prefix": "a", "size": 100000}""",
    "/significant" -> """{"field": "description", "size": 5}""",
    "/significant" -> s"""{"field": "description", "size": 5, "state": $cityState}""",
    "/significant" -> s"""{"field": "description", "size": 5, "state": $cityMonthState}""",
    "/significant" -> """{"field": "description", "size": 0}""",
    "/geotile" -> """{"z": 4}""",
    "/geotile" -> """{"z": 2, "size": 10}""",
    "/geotile" -> """{"z": 6, "cell": "4/4/6", "size": 100}""",
    "/geotile" -> """{"z": 6, "cell": "4-4-6"}""",
    "/geotile" -> """{"z": 4, "size": 100000}""",
    "/histogram" -> s"""{"field": "hour", "interval": 6, "state": $cityState}""",
    "/histogram" -> s"""{"field": "hour", "interval": 6, "state": $cityMonthState}""",
    "/histogram" -> """{"field": "hour", "interval": 3}""",
    "/histogram" -> """{"field": "hour", "state": {"not": "an array"}}""",
    "/search" -> """{"q": "dup vector scan", "size": 5}""",
    "/search" -> """{"q": "dup vector scan", "filter": "lang:en", "size": 5}""",
    "/search" -> """{"q": "dup vector scan", "collapse": "lang", "size": 3}""",
    "/search" -> """{"q": "dup vector scan", "size": 2, "after": [1.0, 3]}""",
    "/search" -> """{"q": "dup vector scan", "size": 2, "after": 7}""",
    "/search" -> """{"q": "dup vector scan", "size": 2, "after": ["x", "y"]}""",
    "/search" -> """{"q": "dup", "size": 2, "highlight": true}""",
    "/search" -> """{"q": "dup vector scan", "filter": "lang:en and n_chars >= 200", "filter_language": "kuery", "size": 5}""",
    "/search" -> """{"q": "dup", "filter": "x", "filter_language": "esql"}""",
    "/search" -> """{"q": "src1 merge", "fields": ["text^5", "source"], "size": 5}""",
    "/search" -> """{"q": "dup", "fields": ["text"], "collapse": "lang"}""",
    "/search" -> """{"q": "src1 spark", "fields": ["text", "source"], "mode": "cross_fields", "tie_breaker": 0.3, "size": 5}""",
    "/search" -> """{"q": "a", "fields": ["text"], "tie_breaker": 0.3}""",
    "/search" -> """{"size": 2}""",
    "/search" -> """{"q": "dup vector scan", "size": 4, "rescore": {"q": "vector scan", "window": 3, "weight": 2.0}}""",
    "/search" -> """{"q": "dup", "rescore": {"window": 3}}""",
    "/search" -> """{"q": "dup", "rescore": {"q": "vector scan", "window": 100000}}""",
    "/search" -> """{"q": "vector^2 dup scan^0.5", "size": 5}""",
    "/search" -> """{"q": "dup", "filter": "text:a^2", "size": 2}""",
    "/search" -> """{"q": "dup AND vector", "size": 3}""",
    "/search" -> """{"q": "dup^2 AND vector", "size": 3}""",
    "/search" -> """{"q": "batches", "analyzer": "english", "size": 5}""",
    "/search" -> """{"q": "batches", "size": 5}""",
    "/search" -> """{"q": "batches", "analyzer": "english", "highlight": true}""",
    "/search" -> """{"q": "batch^2", "analyzer": "english"}""",
    "/search" -> """{"q": "dup", "size": 100000}""",
    "/explain" -> """{"q": "dup vector scan", "size": 3}""",
    "/explain" -> """{"size": 3}""",
    "/explain" -> """{"q": "dup", "size": 100000}""",
    "/termvectors" -> """{"ids": [0, 1]}""",
    "/termvectors" -> "{}",
    "/analyze" -> """{"text": "The Merging Tables"}""",
    "/analyze" -> """{"analyzer": "english", "text": "The Merging Tables"}""",
    "/analyze" -> """{"analyzer": "porter9", "text": "x"}""",
    "/analyze" -> "{}",
    "/mlt" -> s"""{"like": "$like", "max_query_terms": 3, "min_term_freq": 2, "min_doc_freq": 2, "minimum_should_match": "50%", "size": 5}""",
    "/mlt" -> s"""{"like": "$like", "max_query_terms": 3, "min_term_freq": 2, "min_doc_freq": 2, "minimum_should_match": "50%", "scored": false, "size": 7}""",
    "/mlt" -> """{"size": 3}""",
    "/mlt" -> """{"like": "dup dup", "size": 100000}""",
    "/complete" -> """{"prefix": "sp", "size": 4, "fuzziness": 1}""",
    "/complete" -> """{"size": 2}""",
    "/complete" -> """{"prefix": "sp", "fuzziness": 9}""",
    "/complete" -> """{"prefix": "sp", "size": 100000}""",
    "/retriever" -> """{"retriever": {"rrf": {"retrievers": [
                      |  {"standard": {"query": "dup vector", "rank_window_size": 15}},
                      |  {"standard": {"query": "spark merge", "rank_window_size": 15}}
                      |], "rank_window_size": 8}}}""".stripMargin,
    "/retriever" -> """{"standard": {"query": "vector^2 dup", "filter": "lang:en"}}""",
    "/retriever" -> linearTree,
    "/retriever" -> """{"retriever": {"pinned": {"ids": [3, 1], "retriever": {"standard": {"query": "dup"}}}}}""",
    "/retriever" -> """{"retriever": {"rescorer": {"rescore": {"q": "vector scan", "window": 3}, "retriever": {"standard": {"query": "dup vector scan"}}}}}""",
    "/retriever" -> """{"retriever": {"text_similarity_reranker": {}}}""",
    "/retriever" -> """{"retriever": {"frobnicate": {}}}""",
    "/retriever" -> """{"retriever": {"standard": {"query": "dup", "rank_window_size": 100000}}}""",
    "/retriever" -> """{"retriever": {"standard": {"query": "dup", "filter": {"term": {"lang": "en"}}}}}""",
    "/retriever" -> "",
    "/fuse" -> """{"q": "dup vector scan", "vec_id": 0, "k": 5, "mode": "rrf"}""",
    "/fuse" -> """{"q": "dup vector scan", "vec_id": 0, "k": 5, "mode": "linear", "weights": [0.6, 0.4]}""",
    "/fuse" -> """{"q": "dup vector scan", "vec_id": 0, "k": 10, "mode": "rrf", "mmr": {"k": 3, "lambda": 0.7}}""",
    "/fuse" -> """{"vec_id": 0}""",
    "/fuse" -> """{"q": "x"}""",
    "/fuse" -> """{"q": "dup", "vec_id": 0, "mode": "zmode"}""",
    "/fuse" -> """{"q": "dup", "vec_id": 0, "k": 100000}""",
    "/fuse" -> """{"q": "dup", "vec_id": 0, "mmr": {"k": 0}}""",
    "/knn" -> """{"vec_id": 3, "k": 4}""",
    "/knn" -> """{"vec_id": 3, "k": 4, "filter": "label:[0 TO 2]"}""",
    "/knn" -> """{"vec_id": 3, "k": 4, "nprobe": 3}""",
    "/knn" -> """{"k": 4}""",
    "/knn" -> """{"vec_id": 3, "k": 4, "similarity": 0.2}""",
    "/knn" -> """{"vec_id": 3, "similarity": 0.2}""",
    "/knn" -> """{"vec_id": 3, "similarity": 0.2, "nprobe": 3}""",
    "/knn" -> """{"vec_id": 3, "similarity": 0.2, "size": 2}""",
    "/knn" -> """{"vec_id": 3, "k": 100000}""",
    "/knn" -> """{"vec_id": 3, "similarity": 0.2, "size": 100000}""",
    "/sparse" -> """{"terms": {"vector": 2.0, "dup": 1.5, "scan": 0.5}, "k": 5}""",
    "/sparse" -> """{"terms": [["vector", 2.0], ["dup", 1.5], ["scan", 0.5]], "k": 5}""",
    "/sparse" -> """{"terms": {"vector": 2.0, "dup": 0.5, "scan": 0.3, "merge": 0.25}, "k": 5, "prune": true, "freq_ratio": 1.0}""",
    "/sparse" -> """{"k": 5}""",
    "/sparse" -> """{"terms": {"vector": "heavy"}}""",
    "/sparse" -> """{"terms": [["vector", 2.0], ["vector", 1.0]]}""",
    "/sparse" -> """{"terms": {"vector": 2.0}, "prune": true, "freq_ratio": 0.5}""",
    "/sparse" -> """{"terms": {"vector": 2.0}, "k": 100000}""",
    "/esql" -> esql("FROM documents | WHERE lang == \"en\" | STATS n = COUNT(*) BY source | SORT n DESC, source | LIMIT 5"),
    "/esql" -> esql("FROM customer | ENRICH nations ON c_nationkey WITH nation = n_name | STATS n = COUNT(*) BY nation | SORT nation | LIMIT 3"),
    "/esql" -> esql("FROM lineitem | KEEP l_orderkey"),
    "/esql" -> esql("FROM documents | WHERE QSTR(\"merge*\") | STATS n = COUNT(*) | LIMIT 1", """, "default_field": "text""""),
    "/esql" -> esql("FROM documents | WHERE QSTR(\"merge*\") | STATS n = COUNT(*) | LIMIT 1"),
    "/esql" -> esql("FROM documents | WHERE lang == ?l | STATS n = COUNT(*) | LIMIT 1", """, "params": [{"l": "en"}]"""),
    "/esql" -> esql("FROM documents | WHERE lang == ?l | STATS n = COUNT(*) | LIMIT 1", """, "params": {"l": "en"}"""),
    "/esql" -> esql("FROM documents | WHERE lang == ?l | STATS n = COUNT(*) | LIMIT 1", """, "params": ["en"]"""),
    "/esql" -> esql("FROM documents | WHERE lang == ?l | STATS n = COUNT(*) | LIMIT 1"),
    "/esql" -> esql("FROM documents | STATS n = COUNT(*) BY ??g | SORT ??g | LIMIT 3", """, "params": [{"g": "lang"}]"""),
    "/esql" -> esql("FROM documents | STATS n = COUNT(*) BY ??g | SORT ??g | LIMIT 3", """, "params": [{"g": "lang; DROP"}]"""),
    "/esql" -> "{}",
    "/esql" -> """{"query": ""}""",
    "/esql" -> """{"query": "FROM documents | FROBNICATE"}""",
    "/esql" -> """{"query": "FROM secrets | LIMIT 1"}""",
    "/esql" -> """{"query": "FROM documents | EVAL t = NOW()"}""",
    "/esql" -> esql(knnProgram),
    "/esql" -> """{"query": "FROM documents METADATA _id | LIMIT 1"}""",
    "/geo" -> """{"box": {"top": 60, "left": 150, "bottom": -10, "right": -120}, "precision": 2}""",
    "/geo" -> """{"pin": {"lat": 10.0, "lon": 20.0, "km": 3000.0}}""",
    "/geo" -> """{"pin": {"lat": 0, "lon": 0}}""",
    "/percolate" -> """{"queries": {"a_dup": "text:dup", "a_vs": "text:\"vector scan\""}}""",
    "/percolate" -> """{"queries": {"a_dup": "text:dup"}, "size": 100000}""",
    "/percolate" -> "{}")

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val client = java.net.http.HttpClient.newHttpClient()
    val req = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port$path"))
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
      .build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, out) = args
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val server = SparkEntry.serveHttp(spark, sfDir)
    val dump = new StringBuilder
    try {
      val port = server.getAddress.getPort
      requests.foreach { case (path, body) =>
        val (code, resp) = post(port, path, body)
        dump ++= s"== POST $path ${body.replaceAll("\\s*\n\\s*", " ")}\n$code $resp\n"
      }
    } finally server.stop(0)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), dump.toString)
    println(s"[routedump] ${requests.size} requests -> $out")
    spark.stop()
  }
}
