package graft
package registry

import graft.ops.Similarity
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import SparkEntry._
import OracleSql._

/** Ranking and retrieval on the serving path: hybrid and RRF
  * retrievers, function-score variants, LTR, rank eval, MMR and
  * significant terms.
  */
object RetrievalQueries extends Family("serving") {

  /** The padded analyzed form of a raw text column — the Bm25/TextMatch
    * convention, shared by the more_like_this entries.
    */
  private def analyzedText(c: String) =
    graft.expr.TextMatch.AsciiAnalyzer.padded(col(c))

  /** more_like_this's like-text and knobs, shared by the three committed
    * queries and their oracles. tf: dup=3, vector/scan/fast/the=2, rest 1;
    * min_word_length 3 keeps 'the' (a real candidate the ranking must
    * beat) while min_term_freq 2 drops the singletons.
    */
  private val mltLikeText =
    "dup vector scan dup fast vector merge fast the the a scan batch window key value spark row dup"

  private val mltParams = graft.query.MoreLikeThis.MltParams(
    maxQueryTerms = 4, minTermFreq = 2, minDocFreq = 5,
    minWordLength = 3, minimumShouldMatch = "50%")

  /** The retriever tree's knn leaf in DuckDB: `knr(doc_id, rank)`, the
    * top 50 embeddings by exact cosine against the dyadic literal query
    * vector.
    */
  private def knnLeafCtesSql: String = {
    val qLit = s"CAST(${knnQueryVec.mkString("[", ", ", "]")} AS DOUBLE[])"
    s"""e AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |), kn AS (
       |  SELECT vec_id AS doc_id,
       |    list_inner_product(v, $qLit)
       |      / (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product($qLit, $qLit))) AS score
       |  FROM e
       |), knr AS (
       |  SELECT doc_id, rank FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
       |    FROM kn
       |  ) WHERE rank <= 50
       |)""".stripMargin
  }

  /** The BM25 run of `query` over `documents.text` (top `k`) in DuckDB:
    * CTEs `bm(doc_id, score)` and `bmr(doc_id, rank)`.
    */
  private def bm25RunCtesSql(query: String, k: Int): String =
    s"""bm AS (
       |${graft.query.Bm25.oracleSql("documents", "doc_id", "text",
         graft.query.Bm25.Terms.words(query), k)}
       |), bmr AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
       |  FROM bm
       |)""".stripMargin

  /** The exact cosine of every other embedding against `vec_id = 0`: CTEs
    * `e(vec_id, v)`, `q` and `scored(doc_id, cos)`.
    */
  private val vecZeroCosineCtesSql: String =
    """e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |), q AS (
      |  SELECT * FROM e WHERE vec_id = 0
      |), scored AS (
      |  SELECT e.vec_id AS doc_id,
      |    list_inner_product(e.v, q.v)
      |      / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(q.v, q.v))) AS cos
      |  FROM e, q WHERE e.vec_id <> q.vec_id
      |)""".stripMargin

  /** Reciprocal-rank fusion's parts (rank constant 60) of two ranked CTEs
    * `(doc_id, rank)`: CTEs `c0` and `c1`, each doc's `c` = 1 / (60 + rank)
    * in run `a` and `b`.
    */
  private def rrfPartsCtesSql(a: String, b: String): String =
    s"""c0 AS (SELECT doc_id, 1.0 / (60.0 + rank) AS c FROM $a),
       |c1 AS (SELECT doc_id, 1.0 / (60.0 + rank) AS c FROM $b)""".stripMargin

  /** A run `src(doc_id, score)` min-max normalized over its own window
    * and scaled by `weight`: CTEs `<name>_st` and `name(doc_id, c)`.
    */
  private def minMaxPartCtesSql(name: String, src: String, weight: Double): String =
    s"""${name}_st AS (SELECT min(score) AS mn, max(score) AS mx FROM $src),
       |$name AS (
       |  SELECT doc_id, $weight * CASE WHEN mx = mn THEN 1.0
       |    ELSE (score - mn) / (mx - mn) END AS c
       |  FROM $src, ${name}_st
       |)""".stripMargin

  /** The two part CTEs `a` and `b` (`doc_id, c`) summed per doc (a doc
    * missing from one part scores 0 there), as `scoreAs`: the top `limit`.
    */
  private def fusedSql(a: String, b: String, scoreAs: String, limit: Int): String =
    s"""SELECT doc_id, coalesce($a.c, 0.0) + coalesce($b.c, 0.0) AS $scoreAs
       |FROM $a FULL OUTER JOIN $b USING (doc_id)
       |ORDER BY $scoreAs DESC, doc_id ASC LIMIT $limit""".stripMargin

  /** The multi_match oracles' per-field runs: every document's scored
    * BM25 of "src1 spark" over `text` as CTE `s0(doc_id, score)` and over
    * `source` as `s1`.
    */
  private val multiMatchRunsCtesSql: String = {
    def run(field: String) =
      graft.query.Bm25.oracleSqlScored("documents", "doc_id", field,
        graft.query.Bm25.Terms.words("src1 spark"))
    s"""s0 AS (
       |${run("text")}
       |), s1 AS (
       |${run("source")}
       |)""".stripMargin
  }

  /** A fused CTE `f(doc_id, score)` re-ranked: `doc_id, rank, score`. */
  private val rankedFusedSql: String =
    """SELECT doc_id,
      |  row_number() OVER (ORDER BY score DESC, doc_id ASC)::INT AS rank, score
      |FROM f ORDER BY rank""".stripMargin

  val cases: Seq[QueryCase] = Seq(
    // LTR feature log: Bm25's exact analyzer/TF/IDF/score spellings with
    // the feature projection and the judged-label join.
    QueryCase("q_ltr_features", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES LTR feature logging: per hit in the result window, the raw
      // ranking features (per-term TF, per-term IDF, doc length, BM25
      // total — shared trees with the serving scorer) joined with the
      // judged label. The log IS reranker training data — the search
      // tier feeding the training-data tier.
      import graft.expr.TextMatch
      val docs = load(dir, "documents")
      val judged = docs.where(TextMatch.containsToken(col("text"), "dup"))
        .select("doc_id")
      graft.query.Ltr.logFeatures(docs, "doc_id", "text",
        "dup vector scan", judged, k = 15)
    }, Some(
      graft.query.Ltr.oracleSql("documents", "doc_id", "text",
        "dup vector scan",
        graft.expr.TextMatch.containsTokenSql("text", "dup"), k = 15))),

    // rank_eval: identical run (shared scored CTE + rank), identical
    // judged set, fixed IEEE metric trees, rank-ordered DCG folds with
    // arg_max extraction, round(ndcg, 6).
    QueryCase("q_rank_eval", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES rank_eval: score the search_bm25 run against a judged set
      // (docs containing the rare term 'dup') — precision/recall@15,
      // MRR, binary-gain NDCG@15. The offline ranking regression test.
      import graft.expr.TextMatch
      val docs = load(dir, "documents")
      // (r18: examined — checkpointing the run + judged set measured 2.3×
      // WORSE: RankEval's duplicated subtrees end in exchanges (the
      // judged-set distinct, the BM25 stats broadcast) that ReuseExchange
      // already dedupes inside the one evaluation job, and the eager
      // checkpoints serialized what previously overlapped. Left lazy.)
      val run = graft.query.Bm25.topKRaw(docs, "doc_id", "text",
        "dup vector scan", k = 15)
      val relevant = docs.where(TextMatch.containsToken(col("text"), "dup"))
        .select("doc_id")
      graft.query.RankEval.evaluate(run, "doc_id", "score", relevant, k = 15)
    }, Some({
      val scored = graft.query.Bm25.oracleSqlScored(
        "documents", "doc_id", "text", graft.query.Bm25.Terms.words("dup vector scan"))
      val relPred = graft.expr.TextMatch.containsTokenSql("text", "dup")
      s"""WITH s AS (
         |$scored
         |), run AS (
         |  SELECT doc_id, score FROM s ORDER BY score DESC, doc_id ASC LIMIT 15
         |), ranked AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
         |  FROM run
         |), rel AS (
         |  SELECT doc_id FROM documents WHERE $relPred
         |), tot AS (
         |  SELECT count(*)::BIGINT AS r FROM rel
         |), flags AS (
         |  SELECT rank, (doc_id IN (SELECT doc_id FROM rel)) AS is_rel FROM ranked
         |), fold AS (
         |  SELECT rank, sum(CASE WHEN is_rel
         |      THEN 1.0 / (ln(rank + 1) / ln(2.0)) ELSE 0.0 END)
         |    OVER (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sdcg
         |  FROM flags
         |), dcg AS (
         |  SELECT arg_max(sdcg, rank) AS dcg FROM fold
         |), hits AS (
         |  SELECT sum(CASE WHEN is_rel THEN 1 ELSE 0 END)::BIGINT AS h,
         |    min(CASE WHEN is_rel THEN rank END)::BIGINT AS fr
         |  FROM flags
         |), ideal AS (
         |  SELECT i FROM tot, unnest(range(1, least(15, r) + 1)) AS u(i)
         |), ifold AS (
         |  SELECT i, sum(1.0 / (ln(i + 1) / ln(2.0)))
         |    OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sidcg
         |  FROM ideal
         |), idcg AS (
         |  SELECT arg_max(sidcg, i) AS idcg FROM ifold
         |)
         |SELECT h::DOUBLE / 15 AS precision_at_k,
         |  CASE WHEN r = 0 THEN 0.0 ELSE h::DOUBLE / r::DOUBLE END AS recall_at_k,
         |  CASE WHEN fr IS NULL THEN 0.0 ELSE 1.0 / fr::DOUBLE END AS mrr,
         |  CASE WHEN idcg IS NULL OR idcg = 0.0 THEN 0.0
         |       ELSE round(dcg / idcg, 6) END AS ndcg_at_k
         |FROM hits, tot, dcg, idcg""".stripMargin
    })),

    // JLH restated on the same exact integer doc-frequency counts; the
    // score is the identical three-op IEEE tree, so it hash-matches. The
    // (score DESC, term ASC) total order makes the limit boundary
    // deterministic in both engines.
    QueryCase("g_significant_terms", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES significant_terms: which tokens characterize the zh slice of
      // the corpus vs the whole? JLH score over exact doc-frequency
      // counts; one term exchange + a 1-row totals broadcast.
      query.Aggs.significantTerms(load(dir, "documents"),
        ops.Dedup.tokens(col("text")), col("lang") === "zh", n = 15)
    }, Some(
      s"""WITH base AS (
         |  SELECT list_distinct($duckToks) AS terms, (lang = 'zh') AS fg
         |  FROM documents
         |), $significantCountCtesSql
         |${jlhScoreSql(15)}""".stripMargin)),

    // The chi_square heuristic: the same exact counts, the textbook 2×2
    // contingency tree in DOUBLE arithmetic, identical operation order.
    QueryCase("g_significant_terms_chi2", (s, dir) => {
      implicit val spark: SparkSession = s
      // The chi_square significance heuristic (ES's alternative scorer —
      // the textbook 2×2 contingency χ² over fg/bg marginals): same
      // exact-count plumbing as the JLH form, a different fixed IEEE
      // tree the oracle replays.
      query.Aggs.significantTerms(load(dir, "documents"),
        ops.Dedup.tokens(col("text")), col("lang") === "zh", n = 15,
        heuristic = "chi_square")
    }, Some(
      s"""WITH base AS (
         |  SELECT list_distinct($duckToks) AS terms, (lang = 'zh') AS fg
         |  FROM documents
         |), $significantCountCtesSql
         |${chi2ScoreSql(15)}""".stripMargin)),

    // The scale-path hybrid: BM25 run via its oracle builder, vector run
    // via the full oracled IVF-PQ restatement, fused with the same
    // two-term RRF arithmetic.
    QueryCase("search_hybrid_rrf_ivfpq", (s, dir) => {
      implicit val spark: SparkSession = s
      // The SERVING-SCALE hybrid: same RRF fusion, but the vector run is
      // the IVF-PQ index (coarse cells + one-byte ADC codes — the path
      // whose index fits executor memory at 100 TB) instead of the
      // brute-force scan. Still fully oracled: the oracled refineIters=0
      // IVF-PQ construction supplies the ranks.
      val docs = load(dir, "documents")
      val emb = load(dir, "embeddings")
      val bmRun = query.Hybrid.withRank(
          query.Bm25.topKRaw(docs, "doc_id", "text", "spark merge join window", k = 50),
          "score", "doc_id")
        .select("doc_id", "rank")
      val vecRun = ops.Similarity.ivfPqTopK(emb, "vec_id", "embedding",
          emb.where(col("vec_id") === 0), "vec_id", "embedding", k = 50,
          dim = 64, nlist = 8, nprobe = 3, m = 8, ksub = 16)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      query.Hybrid.rrf(Seq(bmRun, vecRun), "doc_id", "rank", rrfK = 60, topK = 20)
        .orderBy(desc("rrf_score"), asc("doc_id"))
    }, Some({
      val pq = ivfPqSql(nlist = 8, nprobe = 3, m = 8, ksub = 16, dim = 64,
        k = 50, nQueries = 1)
      s"""WITH ${bm25RunCtesSql("spark merge join window", 50)}, vr AS (
         |  SELECT neighbor_id AS doc_id, rank FROM (
         |$pq
         |  )
         |), ${rrfPartsCtesSql("bmr", "vr")}
         |${fusedSql("c0", "c1", "rrf_score", 20)}""".stripMargin
    })),

    // Both retriever runs restate by their own proven oracle constructions
    // (the BM25 query verbatim, the brute-force cosine ranking shape);
    // fusion adds integer ranks and a two-term sum, order-exact in IEEE.
    QueryCase("search_hybrid_rrf", (s, dir) => {
      implicit val spark: SparkSession = s
      // Hybrid retrieval: BM25 top-50 over the text corpus fused with
      // brute-force cosine top-50 around embedding 0 (ids align by
      // construction in the test data) via Reciprocal Rank Fusion.
      // Both runs are fully oracled retrievers; fusion adds only integer
      // ranks and two-term IEEE sums, so the whole pipeline hash-matches.
      val docs = load(dir, "documents")
      val emb = load(dir, "embeddings")
      val bmRun = query.Hybrid.withRank(
          query.Bm25.topKRaw(docs, "doc_id", "text", "spark merge join window", k = 50),
          "score", "doc_id")
        .select("doc_id", "rank")
      val vecRun = ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          emb.where(col("vec_id") === 0), "vec_id", "embedding", k = 50)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      query.Hybrid.rrf(Seq(bmRun, vecRun), "doc_id", "rank", rrfK = 60, topK = 20)
        .orderBy(desc("rrf_score"), asc("doc_id"))
    }, Some(
      s"""WITH ${bm25RunCtesSql("spark merge join window", 50)}, $vecZeroCosineCtesSql, vr AS (
         |  SELECT doc_id, rank FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS rank
         |    FROM scored
         |  ) WHERE rank <= 50
         |), ${rrfPartsCtesSql("bmr", "vr")}
         |${fusedSql("c0", "c1", "rrf_score", 20)}""".stripMargin)),

    // the retriever tree's rrf restated: the standard leaf is the proven
    // BM25 CTE, the knn leaf the op-for-op cosine against the dyadic
    // literal vector, rrf the two-term reciprocal sum
    QueryCase("q_retriever_rrf", (s, dir) => {
      implicit val spark: SparkSession = s
      // The ES 9.x `retriever` TREE compiled recursively: an rrf node
      // fusing a standard (BM25) leaf with a knn (exact cosine) leaf —
      // the modern request shape whose flat routes are special cases.
      // Every stage is the proven tier underneath; the tree adds only
      // the JSON recursion, so the whole pipeline hash-matches.
      val vec = knnQueryVec.mkString("[", ", ", "]")
      query.Retriever.compile(load(dir, "documents"), load(dir, "embeddings"),
        s"""{"retriever": {"rrf": {"retrievers": [
           |  {"standard": {"query": "spark merge join window", "rank_window_size": 50}},
           |  {"knn": {"field": "embedding", "query_vector": $vec, "k": 50}}
           |], "rank_constant": 60, "rank_window_size": 20}}}""".stripMargin)
        .select("doc_id", "rank", "score")
        .orderBy("rank")
    }, Some(
      s"""WITH ${bm25RunCtesSql("spark merge join window", 50)}, $knnLeafCtesSql, ${rrfPartsCtesSql("bmr", "knr")},
         |f AS (
         |${fusedSql("c0", "c1", "score", 20)}
         |)
         |$rankedFusedSql""".stripMargin)),

    // the nested tree: linear's min-max windows over (a) the BM25 leaf
    // and (b) the WHOLE rrf subtree above — recursion as CTE composition
    QueryCase("q_retriever_linear_nested", (s, dir) => {
      implicit val spark: SparkSession = s
      // NESTED recursion — linear fusion whose second child is ITSELF an
      // rrf subtree: linear consumes its children's SCORES (min-max
      // normalized over each child's own window), the inner rrf consumes
      // ITS children's RANKS. The shape ES serves as retriever-in-
      // retriever; teeth: the rrf child's score magnitudes (~1/60) only
      // matter AFTER its min-max normalization.
      val vec = knnQueryVec.mkString("[", ", ", "]")
      query.Retriever.compile(load(dir, "documents"), load(dir, "embeddings"),
        s"""{"retriever": {"linear": {"retrievers": [
           |  {"retriever": {"standard": {"query": "dup vector scan", "rank_window_size": 30}},
           |   "weight": 0.7, "normalizer": "minmax"},
           |  {"retriever": {"rrf": {"retrievers": [
           |      {"standard": {"query": "spark merge join window", "rank_window_size": 50}},
           |      {"knn": {"field": "embedding", "query_vector": $vec, "k": 50}}
           |    ], "rank_window_size": 25}},
           |   "weight": 0.3, "normalizer": "minmax"}
           |], "rank_window_size": 15}}}""".stripMargin)
        .select("doc_id", "rank", "score")
        .orderBy("rank")
    }, Some({
      val bm1 = graft.query.Bm25.oracleSql(
        "documents", "doc_id", "text", graft.query.Bm25.Terms.words("dup vector scan"), 30)
      s"""WITH s1 AS (
         |$bm1
         |), ${bm25RunCtesSql("spark merge join window", 50)}, $knnLeafCtesSql, ${rrfPartsCtesSql("bmr", "knr")},
         |s2 AS (
         |${fusedSql("c0", "c1", "score", 25)}
         |), ${minMaxPartCtesSql("n0", "s1", 0.7)}, ${minMaxPartCtesSql("n1", "s2", 0.3)}, f AS (
         |${fusedSql("n0", "n1", "score", 15)}
         |)
         |$rankedFusedSql""".stripMargin
    })),

    // N-of-M restated: the same analyzed-containment clauses as integer
    // CASE sums against the same threshold.
    QueryCase("q_min_should_match", (s, dir) => {
      implicit val spark: SparkSession = s
      // Lucene's group minimum_should_match — `(a b c)~2`: the general
      // N-of-M should group (ES bool.should + minimum_should_match),
      // parsed by the grammar and compiled to ONE codegen'd integer sum.
      val spec = graft.query.QueryString.parse(
        "(text:dup text:merge text:vector)~2", defaultField = "text")
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }, Some({
      import graft.expr.TextMatch.containsTokenSql
      def c(t: String) = s"(CASE WHEN ${containsTokenSql("text", t)} THEN 1 ELSE 0 END)"
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${c("dup")} + ${c("merge")} + ${c("vector")} >= 2
         |ORDER BY doc_id""".stripMargin
    })),

    // msm spec grammar restated at its RESOLVED integer: -25% of 4
    // clauses = threshold 3 (the resolution itself is pinned in
    // QueryStringSpec against the ES documentation's own examples).
    QueryCase("q_msm_percent", (s, dir) => {
      implicit val spark: SparkSession = s
      // The full ES minimum_should_match SPEC grammar on the group
      // suffix: `~-25%` over 4 clauses resolves (driver-side, clause
      // count static) to 4 − ⌊4·0.25⌋ = 3 — percentages, negatives, and
      // k<spec conditionals all fold to one integer through
      // MinShouldMatch.resolve, and degenerate results (pure-OR or
      // never-matching) reject loudly instead of silently clamping.
      val spec = graft.query.QueryString.parse(
        "(text:dup text:merge text:vector text:scan)~-25%",
        defaultField = "text")
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }, Some({
      import graft.expr.TextMatch.containsTokenSql
      def c(t: String) = s"(CASE WHEN ${containsTokenSql("text", t)} THEN 1 ELSE 0 END)"
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${c("dup")} + ${c("merge")} + ${c("vector")} + ${c("scan")} >= 3
         |ORDER BY doc_id""".stripMargin
    })),

    // msm chain restated: the chain `2<-25% 4<60%` over 5 clauses folds
    // (largest k below n, then ⌊5·0.60⌋) to the integer 3 — the oracle
    // carries the folded bound over the same whole-token counts.
    QueryCase("q_msm_chain", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES minimum_should_match conditional CHAIN (the JSON-DSL
      // "multiple combinations" form, round-16 verdict #6): over these 5
      // clauses, `2<-25% 4<60%` picks the spec bound to the LARGEST k
      // below n — the 4< leg — so ⌊5·0.60⌋ = 3 of 5 must match. The
      // chain rule itself (all-required at n ≤ 2, the 2< leg at 3-4, in
      // any part order, nested conditionals rejected) is pinned across
      // clause counts in QueryStringSpec; this query proves the resolved
      // group end to end as one codegen'd integer sum.
      val terms = Seq("dup", "merge", "vector", "scan", "data")
      val msm = graft.query.FilterSpec.MinShouldMatch.resolve(
        "2<-25% 4<60%", terms.size)
      val spec = graft.query.FilterSpec.MinShouldMatch(
        msm, terms.map(t => graft.query.FilterSpec.TermMatch("text", t)))
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }, Some({
      import graft.expr.TextMatch.containsTokenSql
      def c(t: String) = s"(CASE WHEN ${containsTokenSql("text", t)} THEN 1 ELSE 0 END)"
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${c("dup")} + ${c("merge")} + ${c("vector")} + ${c("scan")}
         |  + ${c("data")} >= 3
         |ORDER BY doc_id""".stripMargin
    })),

    // multi_match restated: per-field BM25 runs by the proven scored
    // restatement, combined by greatest (best_fields) with absent fields 0.
    QueryCase("search_multi_match_best", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES multi_match best_fields (the default dis_max mode): each field
      // scored by its OWN BM25 statistics, a doc takes its best field's
      // score — 'src1' only matches in `source`, 'spark' only in `text`,
      // so the two fields genuinely compete.
      query.Hits.ordered(query.Bm25.multiMatchWeightedTopK(load(dir, "documents"), "doc_id",
          Seq("text" -> 1.0, "source" -> 1.0), "src1 spark", k = 20, mode = "best_fields"),
        "doc_id")
    }, Some({
      s"""WITH $multiMatchRunsCtesSql
         |SELECT doc_id,
         |  greatest(coalesce(s0.score, 0.0), coalesce(s1.score, 0.0)) AS score
         |FROM s0 FULL OUTER JOIN s1 USING (doc_id)
         |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin
    })),

    // ... and by their sum (most_fields).
    QueryCase("search_multi_match_most", (s, dir) => {
      implicit val spark: SparkSession = s
      // most_fields: the same per-field runs SUMMED — docs matching in
      // both fields outrank single-field matches.
      query.Hits.ordered(query.Bm25.multiMatchWeightedTopK(load(dir, "documents"), "doc_id",
          Seq("text" -> 1.0, "source" -> 1.0), "src1 spark", k = 20, mode = "most_fields"),
        "doc_id")
    }, Some({
      s"""WITH $multiMatchRunsCtesSql
         |SELECT doc_id,
         |  coalesce(s0.score, 0.0) + coalesce(s1.score, 0.0) AS score
         |FROM s0 FULL OUTER JOIN s1 USING (doc_id)
         |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin
    })),

    // combined_fields restated: the SAME concatenation expression through
    // the proven scored restatement - one stats set over the pooled field.
    QueryCase("search_combined_fields", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES combined_fields — the term-centric cousin of multi_match:
      // fields POOL into one (tf, dl, and IDF over the union — BM25F at
      // unit weights), the right mode for title+body-style parts of the
      // same text. One scan over the analyzed concatenation.
      query.Hits.ordered(query.Bm25.combinedFieldsTopK(load(dir, "documents"), "doc_id",
          Seq("text", "source"), "src1 spark", k = 20), "doc_id")
    }, Some(graft.query.Bm25.oracleSql(
      "documents", "doc_id",
      "concat_ws(' ', coalesce(text, ''), coalesce(source, ''))",
      graft.query.Bm25.Terms.words("src1 spark"), 20))),

    // dis_max restated: greatest + tb*(sum - greatest) over the same
    // per-field scored runs.
    QueryCase("search_multi_match_dismax", (s, dir) => {
      implicit val spark: SparkSession = s
      // dis_max with tie_breaker 0.3 (the ES knob between best_fields and
      // most_fields): best + 0.3*(sum of the other fields) - matching in
      // several fields counts, weighted below the best.
      query.Hits.ordered(query.Bm25.multiMatchWeightedTopK(load(dir, "documents"), "doc_id",
          Seq("text" -> 1.0, "source" -> 1.0), "src1 spark", k = 20, mode = "best_fields",
          tieBreaker = 0.3), "doc_id")
    }, Some({
      s"""WITH $multiMatchRunsCtesSql, j AS (
         |  SELECT doc_id, coalesce(s0.score, 0.0) AS a, coalesce(s1.score, 0.0) AS b
         |  FROM s0 FULL OUTER JOIN s1 USING (doc_id)
         |)
         |SELECT doc_id,
         |  greatest(a, b) + 0.3 * ((a + b) - greatest(a, b)) AS score
         |FROM j
         |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin
    })),

    // cross_fields restated: blended (greatest) DF per term, per-field
    // TF-normalization, per-term dis_max, left-folded term sum — the
    // generator mirrors the engine's float tree operator-for-operator.
    QueryCase("search_cross_fields", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES multi_match cross_fields — the TERM-centric mode (Lucene
      // BlendedTermQuery): per term, DF blends to the MAX across fields
      // (one shared IDF), TF-normalization stays per-field, per-term
      // dis_max then terms sum. Teeth: 'small' lives in BOTH p_name
      // (df 269 at sf0.01) and p_type (322) — the blended IDF uses 322
      // where best_fields' name-side scoring would use 269.
      query.Bm25.crossFieldsTopK(load(dir, "part"), "p_partkey",
        Seq("p_name" -> 1.0, "p_type" -> 1.0), "small bolt", k = 20)
    }, Some(graft.query.Bm25.oracleSqlCrossFields(
      "part", "p_partkey", Seq("p_name" -> 1.0, "p_type" -> 1.0),
      "small bolt", 20))),

    QueryCase("search_cross_fields_boosted", (s, dir) => {
      implicit val spark: SparkSession = s
      // cross_fields with a per-field boost (p_name^2) and tie_breaker
      // 0.3: the boost multiplies the field's term score BEFORE the
      // per-term dis_max, the tie_breaker folds the losing field back in.
      query.Bm25.crossFieldsTopK(load(dir, "part"), "p_partkey",
        Seq("p_name" -> 2.0, "p_type" -> 1.0), "small bolt", k = 20,
        tieBreaker = 0.3)
    }, Some(graft.query.Bm25.oracleSqlCrossFields(
      "part", "p_partkey", Seq("p_name" -> 2.0, "p_type" -> 1.0),
      "small bolt", 20, tieBreaker = 0.3))),

    // more_like_this restated END-TO-END in SQL: the oracle re-runs the
    // term SELECTION itself (like-text tf gates, corpus df via an
    // unnest-distinct join, classic-idf ranking with term tie-break),
    // then the match-set / BM25 halves over ITS selection — a selection
    // disagreement surfaces as a hash mismatch.
    QueryCase("q_mlt_terms", (s, dir) => {
      implicit val spark: SparkSession = s
      // more_like_this's SELECTION half, inspectable: like-text terms
      // with tf ≥ 2 and length ≥ 3 rank by Lucene's classic tf·idf
      // selection score against CORPUS statistics, top max_query_terms=4
      // survive. Teeth: 'dup' (tf 3, df 25/500 at sf0.01) dominates; the
      // common terms' cut is decided by their df spread, and the 'the' vs
      // 'vector' EXACT score tie (same tf, same df) breaks by term —
      // integer-derived scores make the order cross-engine stable.
      query.MoreLikeThis.likeTextTermsDF(s, load(dir, "documents"),
        analyzedText("text"), mltLikeText, mltParams)
    }, Some(graft.query.MoreLikeThis.oracleSqlLikeTextTerms(
      "documents", "doc_id", "text", mltLikeText, mltParams))),

    QueryCase("q_more_like_this", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES more_like_this in FILTER context: documents holding at least
      // minimum_should_match="50%" (2 of the 4 selected terms), with the
      // distinct-selected-term count. One stats aggregate (bounded
      // collect, ES's own shape) + one distributed scan.
      query.MoreLikeThis.likeTextMatchSet(load(dir, "documents"), "doc_id",
          analyzedText("text"), mltLikeText, mltParams)
        .orderBy("doc_id")
    }, Some(graft.query.MoreLikeThis.oracleSqlLikeTextMatchSet(
      "documents", "doc_id", "text", mltLikeText, mltParams))),

    QueryCase("q_more_like_this_scored", (s, dir) => {
      implicit val spark: SparkSession = s
      // more_like_this in QUERY context: BM25 top-15 over the selected
      // terms, the scoring statistics reused from the selection pass
      // (two corpus passes total). Scores round to 6 decimals on BOTH
      // sides — the oracle's term sum is join-ordered — and rank on the
      // rounded value with id tie-break.
      query.MoreLikeThis.likeTextTopK(load(dir, "documents"), "doc_id",
        analyzedText("text"), mltLikeText, k = 15, mltParams)
    }, Some(graft.query.MoreLikeThis.oracleSqlLikeTextTopK(
      "documents", "doc_id", "text", mltLikeText, k = 15, mltParams))),

    // terms_set restated: the same CASE sum against the same derived
    // per-row threshold.
    QueryCase("q_terms_set", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES terms_set - minimum_should_match read FROM THE DOCUMENT (the
      // "required skills" idiom): each doc demands (doc_id % 3) + 1 of the
      // four query terms; one codegen'd integer sum against the per-row
      // bound, no join.
      val spec = graft.query.FilterSpec.TermsSet("text",
        Seq("dup", "merge", "vector", "scan"), "req_terms")
      load(dir, "documents")
        .withColumn("req_terms", (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
        .where(spec.compile)
        .groupBy("req_terms").agg(count(lit(1)).as("n"))
        .orderBy("req_terms")
    }, Some({
      import graft.expr.TextMatch.containsTokenSql
      def c(t: String) = s"(CASE WHEN ${containsTokenSql("text", t)} THEN 1 ELSE 0 END)"
      s"""SELECT req_terms, count(*) AS n FROM (
         |  SELECT (doc_id % 3 + 1)::INT AS req_terms,
         |    ${c("dup")} + ${c("merge")} + ${c("vector")} + ${c("scan")} AS hits
         |  FROM documents)
         |WHERE hits >= req_terms
         |GROUP BY req_terms ORDER BY req_terms""".stripMargin
    })),

    // function_score restated with the engine's precomputed divisor
    // (s = scale/(1−decay) = 400.0) and the identical operator tree;
    // log1p(x) ≡ ln(1+x) well past 9 decimals at x ≥ 48.
    QueryCase("q_function_score", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES function_score: a linear length-decay around 400 chars
      // multiplied by a log1p popularity-style factor — the
      // relevance-shaping tier (freshness/distance/popularity) as fixed
      // IEEE trees (gauss/exp decay are spec-certified — bare exp()'s
      // last-ulp rounding is libm-specific; ln/log1p/sqrt oracle fine).
      val docs = load(dir, "documents")
      val score = query.Scoring.linearDecay(
          col("n_chars").cast("double"), origin = 400, scale = 200) *
        query.Scoring.fieldValueFactor(col("n_chars"), factor = 0.1,
          modifier = "log1p")
      query.Hits.top(docs.select(col("doc_id"), score.as("score"))
        .where(col("score") > 0), "doc_id", 30)
    }, Some(
      s"""SELECT doc_id, score FROM (
         |  SELECT doc_id,
         |    greatest(0.0, (400.0 - greatest(0.0, abs(n_chars::DOUBLE - 400.0) - 0.0))
         |      / 400.0)
         |    * (0.1 * ln(1 + coalesce(n_chars::DOUBLE, 0.0))) AS score
         |  FROM documents)
         |WHERE score > 0 ORDER BY score DESC, doc_id ASC LIMIT 30""".stripMargin)),

    // The combine-mode surface restated: per-function (match, weight·value)
    // columns once in a CTE, then each score column replays the engine's
    // exact fold — sum with the 4.0 max_boost cap under multiply, the
    // first-match cascade under max, the weighted average under sum. The
    // decay function is unfiltered so every doc matches ≥1 function (the
    // no-match→1 branch is constant-false and drops out of the oracle).
    QueryCase("q_function_score_modes", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES function_score COMBINE modes — score_mode folds the function
      // array (sum / first / weighted avg exercised here), max_boost caps
      // the combined factor, boost_mode merges with the query score
      // (multiply / max / sum exercised). Three functions: an unfiltered
      // linear length-decay at weight 2, a weight-only function (ES's
      // `weight` with no kernel — score 1) on lang:en at weight 3, and a
      // log1p popularity factor filtered to even doc_ids. All row-local
      // fixed IEEE trees over oracle-able kernels (no bare exp).
      import graft.query.Scoring.ScoreFunction
      val docs = load(dir, "documents")
      val qscore = query.Scoring.fieldValueFactor(col("n_chars"),
        factor = 0.01, modifier = "sqrt")
      val decay = ScoreFunction(query.Scoring.linearDecay(
        col("n_chars").cast("double"), origin = 400, scale = 200), weight = 2.0)
      val enWeight = ScoreFunction(lit(1.0), weight = 3.0,
        filter = Some(col("lang") === "en"))
      val popEven = ScoreFunction(query.Scoring.fieldValueFactor(
          col("doc_id"), factor = 0.5, modifier = "log1p"),
        filter = Some(pmod(col("doc_id"), lit(2)) === 0))
      val fns = Seq(decay, enWeight, popEven)
      docs.select(col("doc_id"),
          query.Scoring.functionScore(qscore, fns,
            scoreMode = "sum", boostMode = "multiply", maxBoost = 4.0)
            .as("score_sum"),
          // filtered functions FIRST so the `first` cascade is non-trivial
          query.Scoring.functionScore(qscore, Seq(enWeight, popEven, decay),
            scoreMode = "first", boostMode = "max").as("score_first"),
          query.Scoring.functionScore(qscore, fns,
            scoreMode = "avg", boostMode = "sum").as("score_avg"))
        .orderBy(desc("score_sum"), asc("doc_id"))
        .limit(40)
    }, Some(
      s"""WITH f AS (
         |  SELECT doc_id,
         |    0.01 * sqrt(coalesce(n_chars::DOUBLE, 0.0)) AS q,
         |    2.0 * greatest(0.0, (400.0 - greatest(0.0, abs(n_chars::DOUBLE - 400.0) - 0.0))
         |      / 400.0) AS v1,
         |    (lang = 'en') AS m2,
         |    (doc_id % 2 = 0) AS m3,
         |    1.0 * (0.5 * ln(1 + coalesce(doc_id::DOUBLE, 0.0))) AS v3
         |  FROM documents
         |)
         |SELECT doc_id,
         |  q * least(v1 + (CASE WHEN m2 THEN 3.0 ELSE 0.0 END)
         |    + (CASE WHEN m3 THEN v3 ELSE 0.0 END), 4.0) AS score_sum,
         |  greatest(q, CASE WHEN m2 THEN 3.0 WHEN m3 THEN v3 ELSE v1 END) AS score_first,
         |  q + ((v1 + (CASE WHEN m2 THEN 3.0 ELSE 0.0 END)
         |    + (CASE WHEN m3 THEN v3 ELSE 0.0 END))
         |    / (2.0 + (CASE WHEN m2 THEN 3.0 ELSE 0.0 END)
         |    + (CASE WHEN m3 THEN 1.0 ELSE 0.0 END))) AS score_avg
         |FROM f
         |ORDER BY score_sum DESC, doc_id ASC LIMIT 40""".stripMargin)),

    // Linear fusion restated: the same two runs, each min-max normalized
    // over its own top-50 window (degenerate run → 1.0), weighted 0.7/0.3,
    // absent docs contributing 0.
    QueryCase("search_linear_fusion", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES `linear` retriever fusion — the rank-free combiner for when
      // score MAGNITUDES matter: the same two proven runs rrf fuses by
      // rank, min-max normalized over their own top-50 windows and
      // weighted 0.7 lexical / 0.3 vector. Min/max are exact; the
      // normalization and weighted sum are fixed IEEE trees.
      val docs = load(dir, "documents")
      val emb = load(dir, "embeddings")
      val bmRun = query.Bm25.topKRaw(docs, "doc_id", "text",
        "spark merge join window", k = 50).select(col("doc_id"), col("score"))
      val vecRun = ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          emb.where(col("vec_id") === 0), "vec_id", "embedding", k = 50)
        .select(col("neighbor_id").as("doc_id"), col("cos").as("score"))
      query.Hybrid.linearFusion(Seq(bmRun -> 0.7, vecRun -> 0.3),
          "doc_id", "score", topK = 20)
        .orderBy(desc("fused_score"), asc("doc_id"))
    }, Some({
      val bm = graft.query.Bm25.oracleSql(
        "documents", "doc_id", "text", graft.query.Bm25.Terms.words("spark merge join window"), 50)
      s"""WITH bm AS (
         |$bm
         |), ${minMaxPartCtesSql("bn", "bm", 0.7)}, $vecZeroCosineCtesSql, vr AS (
         |  SELECT doc_id, cos AS score FROM (
         |    SELECT doc_id, cos, row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS rank
         |    FROM scored
         |  ) WHERE rank <= 50
         |), ${minMaxPartCtesSql("vn", "vr", 0.3)}
         |${fusedSql("bn", "vn", "fused_score", 20)}""".stripMargin
    })),

    // Pinned restated: three literal curated rows ranked 1..3, the organic
    // top-20 anti-filtered and shifted by 3.
    // Pinned restated with the existence contract: the curated VALUES
    // list semi-joins the corpus (the stale id 10000000 drops out),
    // survivors re-rank in curated order, organic ranks offset by the
    // SURVIVING pin count.
    QueryCase("search_pinned", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES `pinned` query — the editorial override: curated ids surface
      // first in their given order, the organic BM25 run follows with
      // the pinned ids deduped out. The curated list carries a STALE id
      // (10000000 — exists at no SF) and the corpus semi-join drops it,
      // the ES contract: only ids present in the index are promoted,
      // survivors' ranks compacting in curated order.
      val docs = load(dir, "documents")
      val organic = query.Bm25.topKRaw(docs, "doc_id", "text",
        "spark merge join window", k = 20)
      query.Hybrid.pinned(organic, "doc_id", "score",
          pinnedIds = Seq(400L, 10000000L, 7L, 123L), topK = 10,
          corpus = Some(docs))
        .orderBy("rank")
    }, Some({
      val bm = graft.query.Bm25.oracleSql(
        "documents", "doc_id", "text", graft.query.Bm25.Terms.words("spark merge join window"), 20)
      s"""WITH bm AS (
         |$bm
         |), pins AS (
         |  SELECT doc_id, pin_order FROM (VALUES
         |    (400::BIGINT, 1), (10000000::BIGINT, 2), (7::BIGINT, 3),
         |    (123::BIGINT, 4)) AS t(doc_id, pin_order)
         |  WHERE doc_id IN (SELECT doc_id FROM documents)
         |), pr AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY pin_order) AS rank,
         |    true AS pinned
         |  FROM pins
         |), org AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id ASC)
         |      + (SELECT count(*) FROM pins) AS rank,
         |    false AS pinned
         |  FROM bm WHERE doc_id NOT IN (400, 10000000, 7, 123)
         |)
         |SELECT doc_id, rank, pinned FROM (
         |  SELECT doc_id, rank, pinned FROM pr
         |  UNION ALL SELECT doc_id, rank, pinned FROM org)
         |ORDER BY rank LIMIT 10""".stripMargin
    })),

    // Rescore restated: primary ranks, the top-10 window recombined with
    // the phrase boost at weight 2, the tail below it untouched.
    QueryCase("search_rescore", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES `rescore` — the text twin of the vector rerank: BM25 nominates
      // 30, only the top-10 window pays the secondary scorer (an exact
      // phrase-containment boost at weight 2), everything below keeps
      // its primary order.
      val docs = load(dir, "documents")
      val primary = query.Bm25.topKRaw(docs, "doc_id", "text",
        "spark merge join window", k = 30)
      query.Hybrid.rescore(primary, "doc_id", "score",
          query.Hybrid.phraseBoost(docs, "big vector"), "boost",
          windowSize = 10, queryWeight = 1.0, rescoreWeight = 2.0)
        .orderBy("rank")
    }, Some({
      import graft.expr.TextMatch.containsTokenSql
      val bm = graft.query.Bm25.oracleSql(
        "documents", "doc_id", "text", graft.query.Bm25.Terms.words("spark merge join window"), 30)
      s"""WITH bm AS (
         |$bm
         |), pr AS (
         |  SELECT doc_id, score,
         |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS prank
         |  FROM bm
         |), win AS (
         |  SELECT p.doc_id,
         |    1.0 * p.score + 2.0 * (CASE WHEN ${containsTokenSql("d.text", "big vector")}
         |      THEN 1.0 ELSE 0.0 END) AS score,
         |    0 AS tier
         |  FROM pr p JOIN documents d ON d.doc_id = p.doc_id
         |  WHERE p.prank <= 10
         |), tl AS (
         |  SELECT doc_id, score, 1 AS tier FROM pr WHERE prank > 10
         |)
         |SELECT doc_id,
         |  row_number() OVER (ORDER BY tier ASC, score DESC, doc_id ASC) AS rank,
         |  score
         |FROM (SELECT * FROM win UNION ALL SELECT * FROM tl)
         |ORDER BY rank""".stripMargin
    })),

    // The MMR greedy trace unrolled: top-10 candidates, then pick-1 /
    // pick-2 / pick-3 as explicit CTE stages — each an argmax of the same
    // fixed λ·rel − (1−λ)·max-sim tree over the not-yet-picked set.
    QueryCase("search_mmr", (s, dir) => {
      implicit val spark: SparkSession = s
      // MMR diversification (Carbonell & Goldstein 1998) — the standard
      // post-retrieval step when the top of a ranked list is near-dup
      // heavy: greedy argmax of λ·rel − (1−λ)·max-sim-to-selected over
      // the retriever's top-10, k=3 picks, λ=0.7. The greedy loop
      // unrolls into k plan stages (no driver-side data), every score a
      // fixed IEEE tree over bit-reproducible cosines — the oracle
      // replays the full greedy trace as unrolled CTEs.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 3)
      val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "vec_id", "embedding", k = 10)
      val cands = top
        .select(col("query_id"), col("neighbor_id").as("cand_id"), col("cos").as("rel"))
        .join(emb.select(col("vec_id").as("cand_id"),
          Similarity.asDouble(col("embedding")).as("vec")), Seq("cand_id"))
      query.Mmr.diversify(cands, k = 3, lambda = 0.7)
        .orderBy("query_id", "pick")
    }, Some({
      def cosSql(a: String, b: String): String =
        s"list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a)) * " +
          s"sqrt(list_inner_product($b, $b)))"
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT * FROM e WHERE vec_id < 3),
         |scored AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
         |    ${cosSql("e.v", "q.v")} AS rel, e.v AS vec
         |  FROM e, q WHERE e.vec_id <> q.vec_id
         |), cand AS (
         |  SELECT * FROM scored
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY rel DESC, cand_id ASC) <= 10
         |), p1 AS (
         |  SELECT query_id, 1 AS pick, cand_id, rel, vec, 0.7 * rel AS mmr
         |  FROM cand
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY 0.7 * rel DESC, cand_id ASC) = 1
         |), m2 AS (
         |  SELECT c.query_id, c.cand_id, max(${cosSql("c.vec", "s.vec")}) AS msim
         |  FROM cand c JOIN p1 s USING (query_id)
         |  WHERE c.cand_id <> s.cand_id
         |  GROUP BY 1, 2
         |), p2 AS (
         |  SELECT c.query_id, 2 AS pick, c.cand_id, c.rel, c.vec,
         |    0.7 * c.rel - (1.0 - 0.7) * m.msim AS mmr
         |  FROM cand c JOIN m2 m ON c.query_id = m.query_id AND c.cand_id = m.cand_id
         |  QUALIFY row_number() OVER (PARTITION BY c.query_id
         |    ORDER BY 0.7 * c.rel - (1.0 - 0.7) * m.msim DESC, c.cand_id ASC) = 1
         |), sel2 AS (
         |  SELECT query_id, cand_id, vec FROM p1
         |  UNION ALL SELECT query_id, cand_id, vec FROM p2
         |), m3 AS (
         |  SELECT c.query_id, c.cand_id, max(${cosSql("c.vec", "s.vec")}) AS msim
         |  FROM cand c JOIN sel2 s USING (query_id)
         |  WHERE NOT EXISTS (SELECT 1 FROM sel2 s2
         |    WHERE s2.query_id = c.query_id AND s2.cand_id = c.cand_id)
         |  GROUP BY 1, 2
         |), p3 AS (
         |  SELECT c.query_id, 3 AS pick, c.cand_id, c.rel, c.vec,
         |    0.7 * c.rel - (1.0 - 0.7) * m.msim AS mmr
         |  FROM cand c JOIN m3 m ON c.query_id = m.query_id AND c.cand_id = m.cand_id
         |  QUALIFY row_number() OVER (PARTITION BY c.query_id
         |    ORDER BY 0.7 * c.rel - (1.0 - 0.7) * m.msim DESC, c.cand_id ASC) = 1
         |)
         |SELECT query_id, pick, cand_id, rel, mmr FROM (
         |  SELECT query_id, pick, cand_id, rel, mmr FROM p1
         |  UNION ALL SELECT query_id, pick, cand_id, rel, mmr FROM p2
         |  UNION ALL SELECT query_id, pick, cand_id, rel, mmr FROM p3)
         |ORDER BY query_id, pick""".stripMargin
    })),

    // random_score restated: the identical seeded md5 unit hash.
    QueryCase("q_random_score", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES function_score random_score with seed + field: deterministic
      // pseudo-random ordering (the reproducible sample page) — the
      // portable unit hash restates ES's seeded field hash.
      val score = query.Scoring.randomScore(col("doc_id"), seed = 7)
      load(dir, "documents").select(col("doc_id"), score.as("score"))
        .orderBy(asc("score"), asc("doc_id"))
        .limit(20)
    }, Some({
      import graft.ops.Sampling.hashUnitSql
      s"""SELECT doc_id, ${hashUnitSql("doc_id", 7)} AS score
         |FROM documents ORDER BY score ASC, doc_id ASC LIMIT 20""".stripMargin
    })),

    // boosting restated: the shared scored CTE, the same whole-token
    // negative probe, the same dyadic CASE multiply.
    QueryCase("q_boosting", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES `boosting` query: BM25 positive ("dup vector") with docs
      // matching the negative term ("merge") DEMOTED by
      // negative_boost = 0.25 — not excluded, the query's whole point.
      // 0.25 is dyadic so the demotion multiply is IEEE-exact; the
      // oracle replays the scored set and the same CASE.
      val docs = load(dir, "documents")
      val analyzed = graft.expr.TextMatch.AsciiAnalyzer.padded(col("text"))
      val scored = query.Bm25.scored(docs, "doc_id", analyzed,
        query.Bm25.Terms.words("dup vector"))
      val neg = docs.select(col("doc_id"),
        graft.expr.TextMatch.containsToken(col("text"), "merge").as("_neg"))
      query.Hits.top(scored.join(neg, "doc_id")
        .withColumn("score",
          query.Scoring.boosting(col("score"), col("_neg"), negativeBoost = 0.25))
        .select("doc_id", "score"), "doc_id", 15)
    }, Some({
      val scored = graft.query.Bm25.oracleSqlScored(
        "documents", "doc_id", "text", graft.query.Bm25.Terms.words("dup vector"))
      val neg = graft.expr.TextMatch.containsTokenSql("d2.text", "merge")
      s"""WITH s AS (
         |$scored
         |)
         |SELECT s.doc_id,
         |  CASE WHEN $neg THEN s.score * 0.25 ELSE s.score END AS score
         |FROM s JOIN documents d2 ON s.doc_id = d2.doc_id
         |ORDER BY score DESC, s.doc_id ASC LIMIT 15""".stripMargin
    })),

    // constant_score restated: the same compiled whole-token filters,
    // the literal.
    QueryCase("q_constant_score", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES `constant_score`: filter semantics with a scored hit list —
      // every match scores exactly the boost (1.5, dyadic), no tf/idf.
      // The filter is a compiled query_string conjunction; both engines
      // emit the same literal.
      val spec = graft.query.QueryString.parse(
        "lang:en AND text:vector", defaultField = "text")
      load(dir, "documents").where(spec.compile)
        .select(col("doc_id"),
          query.Scoring.constantScore(1.5).as("score"))
        .orderBy("doc_id")
    }, Some({
      val langEn = graft.expr.TextMatch.containsTokenSql("lang", "en")
      val in = graft.expr.TextMatch.containsTokenSql("text", "vector")
      s"""SELECT doc_id, 1.5 AS score FROM documents
         |WHERE $langEn AND $in
         |ORDER BY doc_id""".stripMargin
    })),

    // sparse_vector restated: the same tf postings (token-equality
    // counts over the identical analyzer stream), the same dyadic
    // (term, weight) VALUES list, one join + one sum per doc. The
    // streamed deployment twin shares it VERBATIM (epochs/replay/layout
    // invisible) via sparseVectorOracleSql below the map.
    QueryCase("search_sparse_vector", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES `sparse_vector` (ELSER/SPLADE serving): sparse dot product of
      // a (term, weight) query against at-rest tf postings — ONE
      // broadcast join on term + ONE doc-keyed aggregate, work ∝ the
      // query terms' postings (the inverted-index property). tf × dyadic
      // weights keep every product and sum IEEE-exact in any fold order
      // (SparseVector scaladoc).
      val postings = query.SparseVector.tfPostings(
        load(dir, "documents"), "doc_id", "text")
      query.SparseVector.topK(postings, "doc_id",
          Seq("vector" -> 2.0, "dup" -> 1.5, "scan" -> 0.5), k = 15)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("rank")
    }, Some(sparseVectorOracleSql)),

    // Token pruning restated end to end: df per term IS the postings row
    // count (one row per (doc, term)), avg df is total rows over distinct
    // terms, and the ES keep rule — NOT (frequent outlier AND
    // insignificant weight) — filters the query VALUES list before the
    // same join + sum. All comparisons are exact (integer dfs, one IEEE
    // division computed identically by both engines); scores stay
    // tf × dyadic.
    QueryCase("search_sparse_vector_pruned", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES sparse_vector `prune` (token pruning, the learned-sparse
      // stop-word guard): tokens that are BOTH corpus-frequent
      // (df > freq_ratio · avg df — 1.0 here, ES's legal minimum; this
      // synthetic corpus's Zipf head sits ~3-7% above the mean at every
      // sf, miles below the default 5×) AND insignificant
      // (w < 0.4 · best) drop before scoring. 'scan' and 'merge' prune
      // (frequent + light); 'dup' survives on rarity, 'vector' on
      // weight — the candidate set provably shrinks (docs matching only
      // scan/merge leave the result entirely) yet serving work drops,
      // which is the flag's whole point at ELSER scale.
      val postings = query.SparseVector.tfPostings(
        load(dir, "documents"), "doc_id", "text")
      // r18 optimization (guide §1.2): prune's df statistics come from ONE
      // checkpointed vocabulary-sized (term, df) table — the operator's own
      // documented serving shape ("at corpus scale serve from a maintained
      // df table") — instead of prune(postings, …) re-deriving the postings
      // explode once for the avg aggregate and again for the query-term df
      // collect. Identical keep decisions (pruneAgainstDf ≡ prune over
      // dfStats — SparseVectorSpec pins the equality).
      val dfTable = query.SparseVector.dfStats(postings).localCheckpoint()
      val kept = query.SparseVector.pruneAgainstDf(dfTable,
        Seq("vector" -> 2.0, "dup" -> 0.5, "scan" -> 0.3, "merge" -> 0.25),
        freqRatioThreshold = 1.0, weightThreshold = 0.4)
      query.SparseVector.topK(postings, "doc_id", kept, k = 15)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("rank")
    }, Some(
      s"""WITH $tfPostingsCtesSql, df AS (
        |  SELECT term, count(*)::DOUBLE AS df FROM p GROUP BY term
        |), a AS (
        |  SELECT count(*)::DOUBLE / count(DISTINCT term) AS avg_df FROM p
        |), q0 AS (
        |  SELECT * FROM (VALUES ('vector', 2.0), ('dup', 0.5),
        |    ('scan', 0.3), ('merge', 0.25)) AS q0(term, qw)
        |), q AS (
        |  SELECT q0.term, q0.qw FROM q0 LEFT JOIN df USING (term), a
        |  WHERE NOT (coalesce(df.df, 0.0) > 1.0 * a.avg_df
        |    AND q0.qw < 0.4 * (SELECT max(qw) FROM q0))
        |)
        |$sparseTop15Sql""".stripMargin)),

    // Quantized learned weights restated: the identical
    // floor(w·256 + 0.5)/256 dyadic snap on the same double literals
    // (both engines parse and multiply them identically), then the
    // standard postings join + sum — exact in any fold order.
    QueryCase("search_sparse_vector_quantized", (s, dir) => {
      implicit val spark: SparkSession = s
      // Arbitrary learned weights (ELSER floats) made bit-stable: the
      // non-dyadic query weights quantize to k/256 dyadics
      // (floor(w·256 + 0.5)/256 — the SQ8 arithmetic), so every tf·w
      // product and the doc-sum are IEEE-exact in any fold order and the
      // cross-engine hash can gate them. Closes the SparseVector class
      // scaladoc's float caveat with a mechanism instead of a warning.
      val postings = query.SparseVector.tfPostings(
        load(dir, "documents"), "doc_id", "text")
      query.SparseVector.topK(postings, "doc_id",
          query.SparseVector.quantizeWeights(
            Seq("vector" -> 1.7, "dup" -> 0.9, "scan" -> 0.31), bits = 8),
          k = 15)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("rank")
    }, Some(
      s"""WITH $tfPostingsCtesSql, q AS (
        |  SELECT term, floor(w * 256.0 + 0.5) / 256.0 AS qw
        |  FROM (VALUES ('vector', 1.7), ('dup', 0.9), ('scan', 0.31))
        |    AS q0(term, w)
        |)
        |$sparseTop15Sql""".stripMargin)),

    // The pruning+rescore composition restated: quantized weights, the
    // ES keep rule splitting the query into kept/pruned legs, the cheap
    // leg's ranked run bounded at the rescore page budget (QUALIFY
    // prank ≤ 1000 — the same distributed-top-k cut), the top-10 window
    // totalled with the pruned leg (1.0·x + 1.0·y, IEEE-exact dyadics),
    // the tail keeping primary order.
    QueryCase("search_sparse_vector_rescored", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES's full token-pruning serving story, composed from this
      // round's pieces: quantize the learned weights to dyadics, PRUNE
      // the frequent+light tokens for the cheap retrieval leg, then
      // rescore only the top-10 window with the pruned remainder
      // (`only_score_pruned_tokens: true` in a rescorer — the documented
      // companion of `prune`). Inside the window the total is the EXACT
      // full-query score (kept + pruned legs partition the terms);
      // below it, the cheap leg's order stands. Work profile at corpus
      // scale: the expensive wide posting lists (the pruned stop-words)
      // are only ever joined against the 10-doc window, never the
      // match set.
      val postings = query.SparseVector.tfPostings(
        load(dir, "documents"), "doc_id", "text")
      val all = query.SparseVector.quantizeWeights(
        Seq("vector" -> 2.0, "dup" -> 0.5, "scan" -> 0.3, "merge" -> 0.25))
      // r18 optimization: both prune legs read ONE checkpointed
      // vocabulary-sized df table (the operator's documented maintained-df
      // serving shape) instead of each prune(postings, …) re-deriving the
      // postings explode twice (avg pass + query-term collect) — 4 corpus
      // passes → 1. Keep/prune decisions identical (SparseVectorSpec pins
      // pruneAgainstDf ≡ prune over dfStats).
      val dfTable = query.SparseVector.dfStats(postings).localCheckpoint()
      val kept = query.SparseVector.pruneAgainstDf(dfTable, all,
        freqRatioThreshold = 1.0, weightThreshold = 0.4)
      val pruned = query.SparseVector.pruneAgainstDf(dfTable, all,
        freqRatioThreshold = 1.0, weightThreshold = 0.4,
        onlyScorePrunedTokens = true)
      query.Hybrid.rescore(
          query.SparseVector.score(postings, "doc_id", kept), "doc_id", "score",
          query.SparseVector.score(postings, "doc_id", pruned), "score",
          windowSize = 10)
        .orderBy("rank").limit(15)
    }, Some(
      s"""WITH $tfPostingsCtesSql, df AS (
        |  SELECT term, count(*)::DOUBLE AS df FROM p GROUP BY term
        |), a AS (
        |  SELECT count(*)::DOUBLE / count(DISTINCT term) AS avg_df FROM p
        |), q0 AS (
        |  SELECT term, floor(w * 256.0 + 0.5) / 256.0 AS qw
        |  FROM (VALUES ('vector', 2.0), ('dup', 0.5), ('scan', 0.3),
        |    ('merge', 0.25)) AS v(term, w)
        |), mx AS (SELECT max(qw) AS best FROM q0
        |), keep AS (
        |  SELECT q0.term, q0.qw FROM q0 LEFT JOIN df USING (term), a, mx
        |  WHERE NOT (coalesce(df.df, 0.0) > 1.0 * a.avg_df
        |    AND q0.qw < 0.4 * mx.best)
        |), prn AS (
        |  SELECT q0.term, q0.qw FROM q0 LEFT JOIN df USING (term), a, mx
        |  WHERE coalesce(df.df, 0.0) > 1.0 * a.avg_df
        |    AND q0.qw < 0.4 * mx.best
        |), run AS (
        |  SELECT doc_id, sum(weight * qw) AS score
        |  FROM p JOIN keep USING (term) GROUP BY doc_id
        |), bounded AS (
        |  SELECT doc_id, score,
        |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS prank
        |  FROM run QUALIFY prank <= 1000
        |), sec AS (
        |  SELECT doc_id, sum(weight * qw) AS s2
        |  FROM p JOIN prn USING (term) GROUP BY doc_id
        |), scored AS (
        |  SELECT b.doc_id,
        |    CASE WHEN b.prank <= 10
        |      THEN 1.0 * b.score + 1.0 * coalesce(sec.s2, 0.0)
        |      ELSE b.score END AS score,
        |    CASE WHEN b.prank <= 10 THEN 0 ELSE 1 END AS tier
        |  FROM bounded b LEFT JOIN sec USING (doc_id)
        |)
        |SELECT doc_id,
        |  row_number() OVER (ORDER BY tier ASC, score DESC, doc_id ASC) AS rank,
        |  score
        |FROM scored ORDER BY rank LIMIT 15""".stripMargin)))
}
