package graft.query

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** The retriever-tree compiler: composition against the underlying tiers,
  * pinned/rescorer behavior, and the stated seams' loud rejects.
  */
class RetrieverSpec extends SparkSpecBase {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("standard leaf IS the BM25 tier; knn leaf IS the cosine scorer; rrf composes them") {
    val vec = (0 until 64).map(i => (((i * 3) % 7) - 3) / 4.0)
    val vecJson = vec.mkString("[", ", ", "]")
    val tree = Retriever.compile(docs, emb,
      s"""{"retriever": {"rrf": {"retrievers": [
         |  {"standard": {"query": "dup vector", "rank_window_size": 20}},
         |  {"knn": {"field": "embedding", "query_vector": $vecJson, "k": 20}}
         |], "rank_constant": 60, "rank_window_size": 10}}}""".stripMargin)
      .select("doc_id", "score").as[(Long, Double)].collect().toSeq
    // engine-direct composition of the same tiers
    val analyzed = concat(lit(" "), graft.expr.TextMatch.normalized(col("text")), lit(" "))
    val bm = Hybrid.withRank(
      Bm25.scored(docs, "doc_id", analyzed, Bm25.Terms.words("dup vector"))
        .orderBy(desc("score"), asc("doc_id")).limit(20), "score", "doc_id")
    val qv = array(vec.map(lit): _*).cast("array<double>")
    val kn = Hybrid.withRank(
      emb.select(col("vec_id").as("doc_id"),
          graft.expr.VectorMath.cosine(col("embedding").cast("array<double>"), qv).as("score"))
        .orderBy(desc("score"), asc("doc_id")).limit(20), "score", "doc_id")
    val direct = Hybrid.rrf(Seq(bm.select("doc_id", "rank"), kn.select("doc_id", "rank")),
        "doc_id", "rank", rrfK = 60, topK = 10)
      .select(col("doc_id"), col("rrf_score"))
      .as[(Long, Double)].collect().toSeq
    assert(tree === direct)
  }

  test("pinned node surfaces curated ids first; rescorer re-ranks only its window") {
    val out = Retriever.compile(docs, emb,
      """{"retriever": {"pinned": {"ids": [7, 3],
        |  "retriever": {"standard": {"query": "dup vector", "rank_window_size": 20}},
        |  "rank_window_size": 10}}}""".stripMargin).collect()
    assert(out(0).getLong(0) == 7L && out(1).getLong(0) == 3L)
    assert(out(0).getAs[Boolean]("pinned") && !out(2).getAs[Boolean]("pinned"))
    // rescorer: the phrase boost reorders inside the window, output keeps
    // (doc_id, rank, score)
    val rs = Retriever.compile(docs, emb,
      """{"retriever": {"rescorer": {
        |  "rescore": {"q": "vector scan", "window": 5, "weight": 10.0},
        |  "retriever": {"standard": {"query": "dup vector scan", "rank_window_size": 20}}}}}""".stripMargin)
      .collect()
    assert(rs.map(_.getInt(1)).toSeq == (1 to rs.length).toSeq, "gapless ranks")
  }

  test("knn leaf pre-filters candidates before the k cut (ES's filter semantics)") {
    val vec = (0 until 64).map(i => (((i * 3) % 7) - 3) / 4.0)
    val vecJson = vec.mkString("[", ", ", "]")
    val filtered = Retriever.compile(docs, emb,
      s"""{"retriever": {"knn": {"field": "embedding", "query_vector": $vecJson,
         |  "k": 10, "filter": "label:[0 TO 2]"}}}""".stripMargin)
      .select("doc_id").as[Long].collect().toSet
    val labels = emb.where(col("label").between(0, 2))
      .select("vec_id").as[Long].collect().toSet
    assert(filtered.subsetOf(labels), "every hit satisfies the pre-filter")
    val unfiltered = Retriever.compile(docs, emb,
      s"""{"retriever": {"knn": {"field": "embedding", "query_vector": $vecJson, "k": 10}}}""")
      .select("doc_id").as[Long].collect().toSet
    // pre-filter semantics: next-nearest IN-filter vectors are admitted
    // into the k — the filtered set is NOT just unfiltered ∩ filter
    assert(filtered != unfiltered)
    assert(filtered.size == 10, "the filter prunes candidates, not the k")
  }

  test("stated seams reject loudly: reranker, linear-over-pinned, unknown type, bad normalizer") {
    def err(json: String): String =
      intercept[IllegalArgumentException](Retriever.compile(docs, emb, json)).getMessage
    assert(err("""{"retriever": {"text_similarity_reranker": {}}}""")
      .contains("inference-bound"))
    assert(err("""{"retriever": {"linear": {"retrievers": [
      |  {"retriever": {"pinned": {"ids": [1],
      |    "retriever": {"standard": {"query": "dup"}}}}}]}}}""".stripMargin)
      .contains("SCORED retrievers"))
    assert(err("""{"retriever": {"frobnicate": {}}}""").contains("unknown type"))
    assert(err("""{"retriever": {"linear": {"retrievers": [
      |  {"retriever": {"standard": {"query": "dup"}}, "normalizer": "l2"}]}}}""".stripMargin)
      .contains("none|minmax"))
    assert(err("""{"retriever": {"knn": {"field": "other", "query_vector": [1.0]}}}""")
      .contains("dense_vector mapping"))
    assert(err("""{"retriever": {"standard": {}}}""").contains("missing query"))
    // an ES DSL-object filter must not silently become MatchAll
    assert(err("""{"retriever": {"standard": {"query": "dup",
      |  "filter": {"term": {"lang": "en"}}}}}""".stripMargin)
      .contains("query_string STRING"))
    assert(err("""{"retriever": {"knn": {"field": "embedding",
      |  "query_vector": [1.0], "filter": {"term": {"label": 1}}}}}""".stripMargin)
      .contains("query_string STRING"))
    // the serving page budget holds at every node
    assert(err("""{"retriever": {"standard": {"query": "dup", "rank_window_size": 100000}}}""")
      .contains("1..1000"))
    assert(err("""{"retriever": {"rrf": {"retrievers": [
      |  {"standard": {"query": "dup"}}], "rank_window_size": 5000}}}""".stripMargin)
      .contains("1..1000"))
  }
}
