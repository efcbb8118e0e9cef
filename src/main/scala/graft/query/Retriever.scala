package graft.query

import com.fasterxml.jackson.databind.JsonNode
import graft.expr.TextMatch
import graft.serve.Requests.{choice, page, text}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The ES search API's `retriever` tree (8.14 `rrf` GA → 9.x `linear` /
  * `pinned` / `rescorer`): one JSON object describing a RECURSIVE
  * retrieval pipeline — leaves retrieve, inner nodes combine — compiled
  * here onto the engine's proven tiers ([[Bm25]], the brute-force vector
  * scorer, [[Hybrid]]). This is the modern ES request shape; the flat
  * `/search` + `/knn` + `/fuse` routes are its special cases.
  *
  * Node types:
  *   - `standard`: `{"query": "<query_string>", "filter": "<query_string>"?,
  *     "rank_window_size": k?}` — BM25 over the documents corpus (boosts
  *     via the caret grammar, filter narrowing the scored frame — the
  *     `/search` contract);
  *   - `knn`: `{"field": "embedding", "query_vector": [...],
  *     "k": n}` — exact cosine over the embeddings corpus (`num_candidates`
  *     accepted and inert: every candidate is examined);
  *   - `rrf`: `{"retrievers": [<node>...], "rank_constant": 60?,
  *     "rank_window_size": 10?}` — reciprocal-rank fusion of the children
  *     ([[Hybrid.rrf]]; consumes RANKS, so any child composes);
  *   - `linear`: `{"retrievers": [{"retriever": <node>, "weight": w?,
  *     "normalizer": "minmax"|"none"?}...], "rank_window_size": 10?}` —
  *     weighted score fusion (ES 9.x; consumes SCORES, so children must
  *     be scored — `pinned` under `linear` rejects);
  *   - `pinned`: `{"ids": [...], "retriever": <node>}` — curated ids
  *     first, the organic child after, stale ids validated against the
  *     corpus ([[Hybrid.pinned]]);
  *   - `rescorer`: `{"rescore": {"q": "<phrase>", "window": N?,
  *     "weight": w?}, "retriever": <node>}` — the child's top window
  *     re-ranked by the phrase boost, the tail keeping primary order
  *     ([[Hybrid.rescore]]);
  *   - `text_similarity_reranker` REJECTS loudly: inference-bound (the
  *     ES|QL RERANK seam) — run the first-stage retriever here, rerank
  *     outside.
  *
  * Unified node output: `(doc_id, rank, …)` with `score` present on
  * scored nodes — vector ids alias to `doc_id` (the corpus convention the
  * hybrid tier already fuses by). Scale shape: every leaf is a bounded
  * top-k (TakeOrderedAndProject), every combiner joins k-row frames —
  * the tree's cost is its leaves' scans, once each.
  */
object Retriever {

  private final case class Compiled(run: DataFrame, scored: Boolean)

  /** Compile `{"retriever": {...}}` (or the bare node) and return the
    * ranked frame: `(doc_id, rank[, score][, pinned])`, rank ascending.
    * Every node's output bound — rank_window_size / k / window — is a
    * serving page ([[graft.serve.Requests.page]]): a deeper window is a
    * client fault, not a driver-memory risk.
    */
  def compile(docs: DataFrame, embeddings: DataFrame, json: String): DataFrame =
    compile(docs, embeddings, graft.Json.read(json))

  /** [[compile]] over an already-decoded tree. */
  def compile(docs: DataFrame, embeddings: DataFrame, root: JsonNode): DataFrame =
    compileNode(docs, embeddings,
      if (root.has("retriever")) root.get("retriever") else root).run

  /** The single-field lexical leaf — the `standard` node and the `/search`
    * route: BM25 over `docs`' padded analyzed `text`, per-term weights when
    * `q` carries `term^2` carets, the tolerant bag of words otherwise.
    * Unordered and unlimited, like [[Bm25.scored]]; [[Hits.top]] cuts
    * the page.
    */
  private[graft] def lexical(
      docs: DataFrame, q: String, an: TextMatch.Analyzer = TextMatch.AsciiAnalyzer): DataFrame =
    Bm25.scored(docs, "doc_id", an.padded(col("text")),
      if (QueryString.hasBoost(q)) Bm25.Terms.boosted(QueryString.boostedTerms(q))
      else Bm25.Terms.words(q, an))

  /** The rescore leaf — `/search`'s `rescore` member and the `rescorer`
    * node: `{"rescore": {"q": "<phrase>", "window": N?, "weight": w?}}`
    * re-ranks the top window of the scored `run` by the phrase boost over
    * `docs`, the tail keeping primary order ([[Hybrid.rescore]]).
    */
  private[graft] def rescored(run: DataFrame, docs: DataFrame, o: JsonNode, what: String): DataFrame = {
    val r = o.path("rescore")
    val rq = r.path("q").asText("")
    require(rq.nonEmpty, s"$what: rescore.q missing")
    Hybrid.rescore(run, "doc_id", "score", Hybrid.phraseBoost(docs, rq), "boost",
      windowSize = page(o, "rescore.window", 10, what),
      rescoreWeight = r.path("weight").asDouble(2.0))
  }

  /** A node's optional `filter` over `base`: a query_string STRING — the
    * ES DSL-object form is not compiled (a loud seam, not a silent
    * MatchAll).
    */
  private def filtered(base: DataFrame, o: JsonNode, what: String, defaultField: String): DataFrame =
    if (!o.hasNonNull("filter")) base
    else {
      require(o.path("filter").isTextual, s"$what: filter is a query_string STRING here — the " +
        "ES DSL-object form is not compiled (loud seam, not a silent MatchAll)")
      base.where(QueryString.parse(o.path("filter").asText(), defaultField).compile)
    }

  /** A combiner's `retrievers` array. */
  private def children(o: JsonNode, what: String): Seq[JsonNode] = {
    val arr = o.path("retrievers")
    require(arr.isArray && arr.size() > 0, s"$what: retrievers must be a non-empty array")
    (0 until arr.size()).map(arr.get)
  }

  private def compileNode(docs: DataFrame, emb: DataFrame, n: JsonNode): Compiled = {
    require(n.isObject && n.size() == 1,
      s"retriever: a node is exactly one {\"<type>\": {...}} object, got ${n.toString.take(80)}")
    val kind = n.fieldNames().next()
    val o = n.get(kind)
    kind match {
      case "standard" =>
        val q = text(o, "query", "retriever.standard")
        val window = page(o, "rank_window_size", 10, "retriever.standard")
        val base = filtered(docs, o, "retriever.standard", "text")
        Compiled(Hybrid.withRank(Hits.top(lexical(base, q), "doc_id", window), "score", "doc_id"),
          scored = true)

      case "knn" =>
        require(o.path("field").asText("") == "embedding",
          "retriever.knn: field must be 'embedding' (the engine's vector column — " +
            "there is no dense_vector mapping to resolve others from)")
        val qvNode = o.path("query_vector")
        require(qvNode.isArray && qvNode.size() > 0,
          "retriever.knn: query_vector must be a non-empty array")
        val k = page(o, "k", 10, "retriever.knn")
        // num_candidates accepted and inert — this is an exact scan
        val qv = array((0 until qvNode.size()).map(i => lit(qvNode.get(i).asDouble())): _*)
          .cast("array<double>")
        val v = col("embedding").cast("array<double>")
        // ES knn filter: PRE-filter semantics — candidates prune BEFORE
        // the k cut (the recall-preserving form, the /knn route's
        // contract), query_string over the vector corpus's metadata
        val run = filtered(emb, o, "retriever.knn", "label")
          .select(col("vec_id").as("doc_id"), graft.expr.VectorMath.cosine(v, qv).as("score"))
        Compiled(Hybrid.withRank(Hits.top(run, "doc_id", k), "score", "doc_id"), scored = true)

      case "rrf" =>
        val runs = children(o, "retriever.rrf").map(compileNode(docs, emb, _).run)
        val fused = Hybrid.rrf(
          runs.map(_.select(col("doc_id"), col("rank"))),
          "doc_id", "rank",
          rrfK = o.path("rank_constant").asInt(60),
          topK = page(o, "rank_window_size", 10, "retriever.rrf"))
        Compiled(
          Hybrid.withRank(fused.withColumnRenamed("rrf_score", "score"), "score", "doc_id"),
          scored = true)

      case "linear" =>
        val entries = children(o, "retriever.linear").map { e =>
          require(e.isObject && e.has("retriever"),
            "retriever.linear: each entry is {\"retriever\": <node>, \"weight\": w, \"normalizer\": ...}")
          val child = compileNode(docs, emb, e.get("retriever"))
          require(child.scored,
            "retriever.linear: children must be SCORED retrievers (a pinned " +
              "child has rank but no score magnitude — fuse it with rrf)")
          val norm = choice(e, "normalizer", "retriever.linear", "none", "minmax")
          (child.run, e.path("weight").asDouble(1.0), norm)
        }
        // r18 optimization: min/max over a whole-frame window instead of a
        // separate aggregate + crossJoin — the two-reference form
        // re-executed the CHILD RETRIEVER subtree twice per minmax entry
        // (same fix as Hybrid.linearFusion; children are k-row windows by
        // construction, so the unpartitioned window is bounded).
        val fullFrame = org.apache.spark.sql.expressions.Window
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)
        val contribs = entries.zipWithIndex.map { case ((r, weight, norm), i) =>
          val scoredRun = r.select(col("doc_id"), col("score"))
          val c =
            if (norm == "none") lit(weight) * col("score")
            else {
              // min-max over the child's own top-k window — the
              // linearFusion rule, degenerate window → 1.0
              lit(weight) * when(col("_mx") === col("_mn"), lit(1.0))
                .otherwise((col("score") - col("_mn")) / (col("_mx") - col("_mn")))
            }
          val base =
            if (norm == "none") scoredRun
            else scoredRun
              .withColumn("_mn", min(col("score")).over(fullFrame))
              .withColumn("_mx", max(col("score")).over(fullFrame))
          base.select(col("doc_id"), c.as(s"_c$i"))
        }
        val joined = contribs.reduce((a, b) => a.join(b, Seq("doc_id"), "full_outer"))
        val score = contribs.indices.map(i => coalesce(col(s"_c$i"), lit(0.0))).reduce(_ + _)
        val fused = Hits.top(joined.withColumn("score", score).select(col("doc_id"), col("score")),
          "doc_id", page(o, "rank_window_size", 10, "retriever.linear"))
        Compiled(Hybrid.withRank(fused, "score", "doc_id"), scored = true)

      case "pinned" =>
        val idsNode = o.path("ids")
        require(idsNode.isArray && idsNode.size() > 0, "retriever.pinned: ids must be a non-empty array")
        require(o.has("retriever"), "retriever.pinned: missing the organic retriever")
        val child = compileNode(docs, emb, o.get("retriever"))
        require(child.scored, "retriever.pinned: the organic child must be scored")
        val ids = (0 until idsNode.size()).map(i => idsNode.get(i).asLong())
        Compiled(
          Hybrid.pinned(child.run, "doc_id", "score", ids,
            topK = page(o, "rank_window_size", 10, "retriever.pinned"), corpus = Some(docs)),
          scored = false)

      case "rescorer" =>
        require(o.has("retriever"), "retriever.rescorer: missing the wrapped retriever")
        val child = compileNode(docs, emb, o.get("retriever"))
        require(child.scored, "retriever.rescorer: the wrapped child must be scored")
        Compiled(rescored(child.run, docs, o, "retriever.rescorer"), scored = true)

      case "text_similarity_reranker" =>
        throw new IllegalArgumentException(
          "retriever.text_similarity_reranker is inference-bound (the RERANK " +
            "seam) — run the first-stage retriever here and rerank outside")

      case other =>
        throw new IllegalArgumentException(
          s"retriever: unknown type '$other' (standard, knn, rrf, linear, " +
            "pinned, rescorer)")
    }
  }
}
