package graft.query

import graft.expr.{TextMatch, TokenOccurrences}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 ranked retrieval over analyzed text — the scored `match` query the
  * reference's serving half delegates to Elasticsearch. The dual-field
  * mapping exists precisely so analyzed subfields can answer scored queries
  * (`notebooks/lib/esindex.py:70-97`; the webapp issues its text clause in
  * query context, `services/webapp/src/collections.js:185-191`); this is
  * the engine-native scorer over the same at-rest analyzed columns
  * ([[graft.store.SearchIndex]]'s `_split` companions).
  *
  * Scoring is the standard Okapi BM25 with Lucene's non-negative IDF
  * (public formulas):
  *
  *   score(d, q) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
  *   idf(t)      = ln(1 + (N − df(t) + 0.5) / (df(t) + 0.5))
  *
  * Spark-first shape, 100 TB honest:
  *   - per-term TF is the codegen'd [[TokenOccurrences]] kernel over the
  *     padded analyzed form — one zero-copy substring scan per (row, term),
  *     inside whole-stage codegen (HOF token splitting evals interpreted
  *     per element — the measured pitfall);
  *   - corpus statistics (N, Σ|d|, per-term DF) are ONE single-pass
  *     aggregate collapsing to a 1-row frame, attached to the scoring scan
  *     via `crossJoin(broadcast(...))` — no unpartitioned window, no
  *     driver collect. At index scale the stats are per-index constants:
  *     compute them once at write time ([[corpusStats]]) and pass them in,
  *     and retrieval is a single scan;
  *   - top-k is `orderBy.limit` — per-partition partial top-k plus a final
  *     k-row merge (TakeOrderedAndProject, pinned in Bm25Spec), never a
  *     global sort.
  *
  * Every stage restates in ANSI SQL (the `search_bm25` oracle): token
  * equality counts for TF, integer-derived IDF inputs, and a left-folded
  * score sum in fixed term order, so the DuckDB cross-check hash-matches.
  */
object Bm25 {

  val DefaultK1 = 1.2
  val DefaultB = 0.75

  /** Document length in tokens of a PADDED analyzed column
    * ([[graft.store.SearchIndex.analyzedForm]]). Runs of spaces collapse
    * (the analyzed form keeps one per non-alphanumeric run, plus the pads),
    * so the split is on `" +"` with an explicit empty guard.
    */
  def docLength(analyzed: Column): Column = {
    val t = trim(analyzed)
    when(t === "", lit(0)).otherwise(size(split(t, " +")))
  }

  /** Analyze a raw query string into the distinct term set scored against.
    * Duplicate query terms collapse: a repeated term contributes once (the
    * common simplification of query-side TF; document the query, not the
    * operator, if per-occurrence boosting is ever needed).
    */
  def queryTerms(query: String,
      analyzer: TextMatch.Analyzer = TextMatch.AsciiAnalyzer): Seq[String] =
    analyzer.analyze(query).distinct

  /** One-pass corpus statistics for a term set, as a 1-row frame:
    * `_n` (doc count), `_sumdl` (total token count), `_df0.._dfT` (per-term
    * document frequencies, aligned with `terms`). All integers — exact under
    * any aggregation order, so downstream float math is deterministic.
    *
    * At rest these are per-index constants: persist the 1-row frame next to
    * the index and [[topK]] becomes a single corpus scan.
    */
  def corpusStats(docs: DataFrame, analyzed: Column, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "bm25: empty term set")
    val aggs =
      sum(docLength(analyzed).cast("long")).as("_sumdl") +:
        terms.zipWithIndex.map { case (t, i) =>
          sum(when(TokenOccurrences(analyzed, t) > 0, 1L).otherwise(0L)).as(s"_df$i")
        }
    docs.agg(count(lit(1)).as("_n"), aggs: _*)
  }

  /** Merge per-partition [[corpusStats]] frames (all built for the SAME
    * term set): every field — doc count, total token count, per-term DF —
    * is an integer sum, so statistics maintain INCREMENTALLY under the same
    * contract as the dictionary's sketch tables: profile only the newly
    * ingested partition, add the 1-row frames, never re-scan the corpus.
    * Exact, not approximate — integer sums are associative and
    * order-insensitive (pinned by the `search_bm25_incremental` oracle,
    * which must hash-match the whole-corpus scoring).
    */
  def mergeStats(parts: Seq[DataFrame]): DataFrame = {
    require(parts.nonEmpty, "bm25: no stats frames to merge")
    val cols = parts.head.columns.toSeq
    require(parts.forall(_.columns.toSeq == cols),
      "bm25: stats frames disagree on columns — different term sets?")
    val aggs = cols.map(c => sum(col(c)).as(c))
    parts.reduce(_.unionByName(_)).agg(aggs.head, aggs.tail: _*)
  }

  /** The BM25 score column over a row frame carrying `_dl`, `_tf<i>` and the
    * broadcast stats columns (`_n`, `_sumdl`, `_df<i>`). Fixed left-fold
    * over terms in order — the association the SQL oracle restates.
    */
  private[query] def scoreColumn(nTerms: Int, k1: Double, b: Double): Column =
    scoreColumnWeighted(Seq.fill(nTerms)(1.0), k1, b)

  /** [[scoreColumn]] with a per-term boost multiplying each term's BM25
    * contribution — the Lucene `term^boost` scoring semantics. Weight 1.0
    * emits the UNWEIGHTED term tree (no `1.0 *` node), so unboosted
    * queries keep the exact IEEE tree every existing oracle pins.
    */
  private[query] def scoreColumnWeighted(
      weights: Seq[Double], k1: Double, b: Double): Column = {
    val avgdl = col("_sumdl").cast("double") / col("_n").cast("double")
    val dlNorm = lit(1.0) - lit(b) + lit(b) * (col("_dl").cast("double") / avgdl)
    weights.zipWithIndex.map { case (w, i) =>
      val tf = col(s"_tf$i").cast("double")
      val df = col(s"_df$i")
      val idf = log(lit(1.0) + (col("_n") - df + lit(0.5)) / (df + lit(0.5)))
      val term = idf * ((tf * (lit(k1) + lit(1.0))) / (tf + lit(k1) * dlNorm))
      if (w == 1.0) term else lit(w) * term
    }.reduce(_ + _)
  }

  /** Top-`k` documents by BM25 score for `query`, over a PRE-ANALYZED
    * (padded) text column — the indexed path. Returns `(idCol, score)`
    * ordered by score descending, id ascending on ties; documents matching
    * no query term are excluded (they score 0 — retrieval, not annotation).
    *
    * @param stats precomputed [[corpusStats]] for `queryTerms(query)`; when
    *              absent they are computed here (one extra corpus pass —
    *              fine for ad-hoc use, persist them for serving)
    */
  def topK(
      docs: DataFrame,
      idCol: String,
      analyzed: Column,
      query: String,
      k: Int,
      k1: Double = DefaultK1,
      b: Double = DefaultB,
      stats: Option[DataFrame] = None,
      analyzer: TextMatch.Analyzer = TextMatch.AsciiAnalyzer): DataFrame = {
    val terms = queryTerms(query, analyzer)
    require(terms.nonEmpty, s"bm25: query '$query' has no analyzable terms")
    topKTerms(docs, idCol, analyzed, terms, k, k1, b, stats)
  }

  /** Scored PHRASE retrieval — the ES `match_phrase` in query context: the
    * whole analyzed query scores as one unit, with TF = count of token
    * positions where the full sequence occurs ([[TokenOccurrences]]'s
    * phrase form — self-overlapping occurrences all count, the semantics
    * the oracle restates as `toks[i:i+p-1] = [...]`) and DF/IDF of the
    * phrase itself. Same BM25 formula, same corpus-stats contract.
    */
  def topKPhrase(
      docs: DataFrame,
      idCol: String,
      analyzed: Column,
      phrase: String,
      k: Int,
      k1: Double = DefaultK1,
      b: Double = DefaultB,
      stats: Option[DataFrame] = None,
      analyzer: TextMatch.Analyzer = TextMatch.AsciiAnalyzer): DataFrame = {
    val toks = analyzer.analyze(phrase)
    require(toks.nonEmpty, s"bm25 phrase: '$phrase' has no analyzable tokens")
    topKTerms(docs, idCol, analyzed, Seq(toks.mkString(" ")), k, k1, b, stats)
  }

  /** Every matching document with its BM25 score, UNORDERED and
    * unlimited — the frame [[topK]] ranks, exposed for serving features
    * that need the full match set before their own bound: field collapse
    * ([[Paging.collapseTopHits]]) and keyset pagination
    * ([[Paging.searchAfter]]). Same contract as [[topK]] otherwise.
    */
  def scoredAll(
      docs: DataFrame,
      idCol: String,
      analyzed: Column,
      query: String,
      k1: Double = DefaultK1,
      b: Double = DefaultB,
      stats: Option[DataFrame] = None,
      analyzer: TextMatch.Analyzer = TextMatch.AsciiAnalyzer): DataFrame = {
    val terms = queryTerms(query, analyzer)
    require(terms.nonEmpty, s"bm25: query '$query' has no analyzable terms")
    scoredTerms(docs, idCol, analyzed, terms, k1, b, stats)
  }

  private[query] def scoredTerms(
      docs: DataFrame,
      idCol: String,
      analyzed: Column,
      terms: Seq[String],
      k1: Double,
      b: Double,
      stats: Option[DataFrame],
      weights: Option[Seq[Double]] = None): DataFrame = {
    val st = stats.getOrElse(corpusStats(docs, analyzed, terms))
    val ws = weights.getOrElse(Seq.fill(terms.size)(1.0))
    require(ws.size == terms.size, "bm25: weights/terms length mismatch")
    val base = docs.select(
      col(s"`$idCol`") +:
        docLength(analyzed).as("_dl") +:
        terms.zipWithIndex.map { case (t, i) => TokenOccurrences(analyzed, t).as(s"_tf$i") }: _*)
    base.crossJoin(broadcast(st))
      .where(terms.indices.map(i => col(s"_tf$i") > 0).reduce(_ || _))
      .withColumn("score", scoreColumnWeighted(ws, k1, b))
      .select(col(s"`$idCol`"), col("score"))
  }

  /** Scored retrieval with PER-TERM BOOSTS — the `query_string`
    * `term^2` scoring compilation (Lucene: a boost multiplies its term
    * query's score contribution inside the sum). Boost 1.0 terms score
    * with the exact unweighted tree, so a boost-free term list is
    * bit-identical to [[scoredAll]]. Terms must be pre-analyzed and
    * distinct ([[graft.query.QueryString.boostedTerms]] produces exactly
    * that).
    */
  def scoredAllBoosted(
      docs: DataFrame,
      idCol: String,
      analyzed: Column,
      termBoosts: Seq[(String, Double)],
      k1: Double = DefaultK1,
      b: Double = DefaultB,
      stats: Option[DataFrame] = None): DataFrame = {
    require(termBoosts.nonEmpty, "bm25: empty boosted term set")
    require(termBoosts.map(_._1).distinct.size == termBoosts.size,
      "bm25: duplicate terms in boosted term set")
    scoredTerms(docs, idCol, analyzed, termBoosts.map(_._1), k1, b, stats,
      weights = Some(termBoosts.map(_._2)))
  }

  /** ES `_explain` for BM25 retrieval — the relevance-debugging surface:
    * the top-`k` documents EXPLODED into one row per (document, query
    * term) carrying the full score decomposition — `tf` (the term's
    * occurrence count), `df`/`idf` (corpus statistics and the idf tree),
    * `dl` (document token length), the term's `contribution` (the exact
    * per-term product from the score fold), and the document's total
    * `score` — every value the SAME fixed IEEE tree the retrieval
    * computes, so the whole explanation restates in SQL. Rows order by
    * (score DESC, idCol, term) — the ranked list with its per-term
    * breakdown inline, ES's `_explain` details flattened.
    */
  def explainTopK(
      docs: DataFrame,
      idCol: String,
      analyzed: Column,
      query: String,
      k: Int,
      k1: Double = DefaultK1,
      b: Double = DefaultB,
      stats: Option[DataFrame] = None,
      analyzer: TextMatch.Analyzer = TextMatch.AsciiAnalyzer): DataFrame = {
    val terms = queryTerms(query, analyzer)
    require(terms.nonEmpty, s"bm25 explain: query '$query' has no analyzable terms")
    val st = stats.getOrElse(corpusStats(docs, analyzed, terms))
    val base = docs.select(
      col(s"`$idCol`") +:
        docLength(analyzed).as("_dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          TokenOccurrences(analyzed, t).as(s"_tf$i")
        }: _*)
    val avgdl = col("_sumdl").cast("double") / col("_n").cast("double")
    val dlNorm = lit(1.0) - lit(b) + lit(b) * (col("_dl").cast("double") / avgdl)
    def idfOf(i: Int): Column =
      log(lit(1.0) + (col("_n") - col(s"_df$i") + lit(0.5)) / (col(s"_df$i") + lit(0.5)))
    def contribOf(i: Int): Column = {
      val tf = col(s"_tf$i").cast("double")
      idfOf(i) * ((tf * (lit(k1) + lit(1.0))) / (tf + lit(k1) * dlNorm))
    }
    val details = array(terms.zipWithIndex.map { case (t, i) =>
      struct(lit(t).as("term"), col(s"_tf$i").cast("long").as("tf"),
        col(s"_df$i").cast("long").as("df"), idfOf(i).as("idf"),
        contribOf(i).as("contribution"))
    }: _*)
    base.crossJoin(broadcast(st))
      .where(terms.indices.map(i => col(s"_tf$i") > 0).reduce(_ || _))
      .withColumn("score", scoreColumn(terms.size, k1, b))
      .orderBy(desc("score"), asc(s"`$idCol`"))
      .limit(k)
      .select(col(s"`$idCol`"), col("_dl").cast("int").as("dl"),
        col("score"), explode(details).as("_d"))
      .select(col(s"`$idCol`"), col("_d.term").as("term"),
        col("_d.tf").as("tf"), col("_d.df").as("df"), col("_d.idf").as("idf"),
        col("dl"), col("_d.contribution").as("contribution"), col("score"))
      .orderBy(desc("score"), asc(s"`$idCol`"), asc("term"))
  }

  /** The [[explainTopK]] oracle: same base/stats CTEs as the scored
    * restatement, the top-k ranked subquery, then one UNION ALL branch
    * per term restating tf/df/idf/contribution with the identical
    * operator trees and literals.
    */
  def oracleSqlExplain(
      table: String,
      idCol: String,
      textExpr: String,
      query: String,
      k: Int,
      k1: Double = DefaultK1,
      b: Double = DefaultB): String = {
    val terms = queryTerms(query)
    require(terms.nonEmpty, s"bm25 explain oracle: '$query' has no analyzable terms")
    val dlNormB = s"(1.0 - $b + $b * (b.dl::DOUBLE / (st.sumdl::DOUBLE / st.n::DOUBLE)))"
    val score = terms.indices.map { i =>
      s"(ln(1.0 + (st.n - st.df$i + 0.5) / (st.df$i + 0.5)) * " +
        s"((b.tf$i::DOUBLE * ($k1 + 1.0)) / (b.tf$i::DOUBLE + $k1 * $dlNormB)))"
    }.mkString("(", "\n    + ", ")")
    val anyMatch = terms.indices.map(i => s"b.tf$i > 0").mkString(" OR ")
    val dlNormT = s"(1.0 - $b + $b * (t.dl::DOUBLE / (t.sumdl::DOUBLE / t.n::DOUBLE)))"
    val branches = terms.zipWithIndex.map { case (t, i) =>
      val idf = s"ln(1.0 + (t.n - t.df$i + 0.5) / (t.df$i + 0.5))"
      val contrib = s"($idf * ((t.tf$i::DOUBLE * ($k1 + 1.0)) / " +
        s"(t.tf$i::DOUBLE + $k1 * $dlNormT)))"
      s"""SELECT $idCol, '$t' AS term, tf$i::BIGINT AS tf, df$i::BIGINT AS df,
         |  $idf AS idf, dl::INT AS dl, $contrib AS contribution, score
         |FROM topk t""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${oracleBaseCtes(table, idCol, textExpr, terms)},
       |topk AS (
       |  SELECT b.*, st.*,
       |    $score AS score
       |  FROM base b, st
       |  WHERE $anyMatch
       |  ORDER BY score DESC, b.$idCol ASC LIMIT $k
       |)
       |$branches
       |ORDER BY score DESC, $idCol ASC, term ASC""".stripMargin
  }

  /** [[scoredAllBoosted]] ranked and limited — the boosted [[topK]]. */
  def topKBoosted(
      docs: DataFrame,
      idCol: String,
      analyzed: Column,
      termBoosts: Seq[(String, Double)],
      k: Int,
      k1: Double = DefaultK1,
      b: Double = DefaultB,
      stats: Option[DataFrame] = None): DataFrame =
    scoredAllBoosted(docs, idCol, analyzed, termBoosts, k1, b, stats)
      .orderBy(desc("score"), asc(s"`$idCol`"))
      .limit(k)

  private def topKTerms(
      docs: DataFrame,
      idCol: String,
      analyzed: Column,
      terms: Seq[String],
      k: Int,
      k1: Double,
      b: Double,
      stats: Option[DataFrame]): DataFrame =
    scoredTerms(docs, idCol, analyzed, terms, k1, b, stats)
      // Project BEFORE sort+limit: Limit(Sort(Project)) is the shape the
      // planner turns into TakeOrderedAndProject (per-partition partial
      // top-k, k-row final merge); Project(Limit(Sort)) is a full global
      // sort with a range exchange.
      .orderBy(desc("score"), asc(s"`$idCol`"))
      .limit(k)

  /** [[topK]] over a RAW text column: analyzes per row first (the unindexed
    * path — prefer a stored `_split` companion at scale).
    */
  def topKRaw(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      query: String,
      k: Int,
      k1: Double = DefaultK1,
      b: Double = DefaultB,
      analyzer: TextMatch.Analyzer = TextMatch.AsciiAnalyzer): DataFrame =
    topK(docs, idCol,
      analyzer.padded(col(s"`$textCol`")),
      query, k, k1, b, stats = None, analyzer = analyzer)

  /** ES `multi_match` over several raw text columns, each scored by its
    * OWN BM25 statistics (the ES contract — per-field IDF and avgdl, so a
    * term rare in `title` but common in `body` weighs differently per
    * field): `best_fields` takes the max of the per-field scores (ES's
    * `dis_max` with `tie_breaker` 0 — the default mode, right when the
    * query should match ONE field well), `most_fields` their sum (right
    * when fields are analyzed views of the same text). Docs matching in
    * no field don't appear. Per-field scoring keeps [[scoredAll]]'s scale
    * shape (one scan per field, broadcast stats); the combining join is
    * over match-bounded frames.
    */
  def multiMatchTopK(
      docs: DataFrame,
      idCol: String,
      textCols: Seq[String],
      query: String,
      k: Int,
      mode: String = "best_fields",
      k1: Double = DefaultK1,
      b: Double = DefaultB,
      tieBreaker: Double = 0.0,
      analyzer: TextMatch.Analyzer = TextMatch.AsciiAnalyzer): DataFrame = {
    require(textCols.nonEmpty, "multiMatch: no fields")
    require(mode == "best_fields" || mode == "most_fields",
      s"multiMatch: unsupported mode <$mode> (best_fields|most_fields)")
    require(tieBreaker >= 0 && tieBreaker <= 1,
      s"multiMatch: tie_breaker must be in [0,1], got $tieBreaker")
    require(tieBreaker == 0.0 || mode == "best_fields",
      "multiMatch: tie_breaker applies to best_fields (dis_max) only")
    val perField = textCols.zipWithIndex.map { case (f, i) =>
      scoredAll(docs, idCol,
          analyzer.padded(col(s"`$f`")),
          query, k1, b, stats = None, analyzer = analyzer)
        .select(col(s"`$idCol`"), col("score").as(s"_s$i"))
    }
    val joined = perField.reduce((a, c) => a.join(c, Seq(idCol), "full_outer"))
    val per = textCols.indices.map(i => coalesce(col(s"_s$i"), lit(0.0)))
    val combined =
      if (per.size == 1) per.head
      else if (mode == "best_fields" && tieBreaker == 0.0) greatest(per: _*)
      else if (mode == "best_fields")
        // ES dis_max with tie_breaker: best + tb·(sum of the others) —
        // matching in several fields now counts, weighted below the best.
        greatest(per: _*) +
          lit(tieBreaker) * (per.reduce(_ + _) - greatest(per: _*))
      else per.reduce(_ + _)
    joined
      .withColumn("score", combined)
      .select(col(s"`$idCol`"), col("score"))
      .orderBy(desc("score"), asc(s"`$idCol`"))
      .limit(k)
  }

  /** [[multiMatchTopK]] with PER-FIELD BOOSTS — ES's `fields:
    * ["title^3", "body"]` on `multi_match`, `query_string`, and
    * `simple_query_string`: each field's BM25 score (its OWN statistics,
    * the ES contract) multiplies its boost BEFORE combining.
    * `most_fields` sums the boosted scores — exactly Lucene
    * SimpleQueryParser's `newDefaultQuery` (a SHOULD clause per field
    * wrapped in a BoostQuery; BooleanQuery sums matching SHOULDs), so it
    * is THE scoring twin of [[SimpleQueryString.parseFields]];
    * `best_fields` takes their max (the dis_max ES builds for
    * query_string's bare clauses). Same scale shape as the unweighted
    * form: one scan per field, broadcast stats, match-bounded joins.
    */
  def multiMatchWeightedTopK(
      docs: DataFrame,
      idCol: String,
      fieldBoosts: Seq[(String, Double)],
      query: String,
      k: Int,
      mode: String = "most_fields",
      k1: Double = DefaultK1,
      b: Double = DefaultB,
      analyzer: TextMatch.Analyzer = TextMatch.AsciiAnalyzer): DataFrame = {
    require(fieldBoosts.nonEmpty, "multiMatchWeighted: no fields")
    require(fieldBoosts.forall(_._2 > 0),
      s"multiMatchWeighted: boosts must be positive, got ${fieldBoosts.map(_._2).mkString(",")}")
    require(mode == "best_fields" || mode == "most_fields",
      s"multiMatchWeighted: unsupported mode <$mode> (best_fields|most_fields)")
    val perField = fieldBoosts.zipWithIndex.map { case ((f, _), i) =>
      scoredAll(docs, idCol,
          analyzer.padded(col(s"`$f`")),
          query, k1, b, stats = None, analyzer = analyzer)
        .select(col(s"`$idCol`"), col("score").as(s"_s$i"))
    }
    val joined = perField.reduce((a, c) => a.join(c, Seq(idCol), "full_outer"))
    val per = fieldBoosts.zipWithIndex.map { case ((_, boost), i) =>
      lit(boost) * coalesce(col(s"_s$i"), lit(0.0))
    }
    val combined =
      if (per.size == 1) per.head
      else if (mode == "best_fields") greatest(per: _*)
      else per.reduce(_ + _)
    joined
      .withColumn("score", combined)
      .select(col(s"`$idCol`"), col("score"))
      .orderBy(desc("score"), asc(s"`$idCol`"))
      .limit(k)
  }

  /** ES `combined_fields` — the term-centric cousin of `multi_match`: the
    * fields are treated as ONE combined field (term frequencies and field
    * lengths pool, ONE set of corpus statistics over the union), which is
    * BM25F with unit field weights — the right mode when fields are parts
    * of the same text (title + body) rather than competing views. This
    * engine realizes the pooling literally: score BM25 over the analyzed
    * CONCATENATION of the fields (identical tf/dl/IDF algebra, one scan);
    * the oracle passes the same concatenation expression through the
    * proven scored restatement.
    */
  def combinedFieldsTopK(
      docs: DataFrame,
      idCol: String,
      textCols: Seq[String],
      query: String,
      k: Int,
      k1: Double = DefaultK1,
      b: Double = DefaultB,
      analyzer: TextMatch.Analyzer = TextMatch.AsciiAnalyzer): DataFrame = {
    require(textCols.nonEmpty, "combinedFields: no fields")
    val combined = concat_ws(" ",
      textCols.map(f => coalesce(col(s"`$f`"), lit(""))): _*)
    topK(docs, idCol,
      analyzer.padded(combined),
      query, k, k1, b, stats = None, analyzer = analyzer)
  }

  /** ES `multi_match` type `cross_fields` — the TERM-centric mode: each
    * query term must be findable in ANY of the fields, and each term's
    * score blends the fields' statistics instead of scoring per-field
    * queries independently (Lucene's `BlendedTermQuery`, the machinery ES
    * builds for cross_fields). The right mode when the fields jointly hold
    * ONE logical value split across columns (first_name + last_name): a
    * term rare in one field but common in another should not get an
    * artificially huge per-field IDF — exactly the failure best_fields
    * has on split names.
    *
    * Blending rule reproduced from Lucene (`BlendedTermQuery.blend`): the
    * per-term document frequency is the MAX across the blended fields
    * (one shared IDF per term), while TF-normalization stays per-field
    * (each field's own `tf`, `dl`, `avgdl` — a hit in a short field still
    * saturates against that field's length). Per term the per-field
    * scores combine dis_max-style: best + tie_breaker · (sum of the
    * rest) (ES's term-centric combine; default tie_breaker 0 = pure max);
    * terms then SUM (BooleanQuery over the blended term queries). A
    * per-field boost multiplies that field's term score BEFORE the
    * combine (ES `fields: ["a^3", "b"]`).
    *
    * Scale shape: ONE single-pass aggregate produces every statistic
    * (N, per-field Σdl, per term×field DF — all integer sums, mergeable),
    * broadcast-crossJoined to ONE scan computing all tf kernels row-local,
    * then `orderBy.limit` = TakeOrderedAndProject. One corpus pass for
    * stats + one for scoring — fewer scans than the per-field modes (which
    * run a scan per field), and no join at all.
    *
    * Delta stated: ES groups fields by analyzer and blends only within a
    * group (cross-analyzer fields fall back to best_fields combining) —
    * here one analyzer serves all fields, so there is exactly one group.
    */
  def crossFieldsTopK(
      docs: DataFrame,
      idCol: String,
      fieldBoosts: Seq[(String, Double)],
      query: String,
      k: Int,
      tieBreaker: Double = 0.0,
      k1: Double = DefaultK1,
      b: Double = DefaultB,
      analyzer: TextMatch.Analyzer = TextMatch.AsciiAnalyzer): DataFrame = {
    require(fieldBoosts.nonEmpty, "crossFields: no fields")
    require(fieldBoosts.forall(_._2 > 0),
      s"crossFields: boosts must be positive, got ${fieldBoosts.map(_._2).mkString(",")}")
    require(tieBreaker >= 0 && tieBreaker <= 1,
      s"crossFields: tie_breaker must be in [0,1], got $tieBreaker")
    val terms = queryTerms(query, analyzer)
    require(terms.nonEmpty, s"crossFields: query '$query' has no analyzable terms")
    val nf = fieldBoosts.size
    val analyzedCols = fieldBoosts.map { case (f, _) =>
      analyzer.padded(col(s"`$f`"))
    }
    // one-pass statistics: doc count, per-field total length, per
    // (term × field) document frequency — every cell an integer sum
    val statAggs = analyzedCols.zipWithIndex.flatMap { case (a, fi) =>
      sum(docLength(a).cast("long")).as(s"_sumdl$fi") +:
        terms.zipWithIndex.map { case (t, ti) =>
          sum(when(TokenOccurrences(a, t) > 0, 1L).otherwise(0L)).as(s"_df${ti}_$fi")
        }
    }
    val stats = docs.agg(count(lit(1)).as("_n"), statAggs: _*)
    val withStats = docs.crossJoin(broadcast(stats))
    val frame = analyzedCols.zipWithIndex.foldLeft(withStats) { case (d, (a, fi)) =>
      terms.zipWithIndex.foldLeft(d.withColumn(s"_dl$fi", docLength(a))) {
        case (dd, (t, ti)) => dd.withColumn(s"_tf${ti}_$fi", TokenOccurrences(a, t))
      }
    }
    val perTerm: Seq[Column] = terms.indices.map { ti =>
      val dfCols = (0 until nf).map(fi => col(s"_df${ti}_$fi"))
      val dfBlended = if (nf == 1) dfCols.head else greatest(dfCols: _*)
      val idf = log(lit(1.0) +
        (col("_n") - dfBlended + lit(0.5)) / (dfBlended + lit(0.5)))
      val perField: Seq[Column] = fieldBoosts.zipWithIndex.map { case ((_, w), fi) =>
        val tf = col(s"_tf${ti}_$fi").cast("double")
        val avgdl = col(s"_sumdl$fi").cast("double") / col("_n").cast("double")
        val dlNorm = lit(1.0) - lit(b) + lit(b) * (col(s"_dl$fi").cast("double") / avgdl)
        val sc = idf * ((tf * (lit(k1) + lit(1.0))) / (tf + lit(k1) * dlNorm))
        if (w == 1.0) sc else lit(w) * sc
      }
      if (perField.size == 1) perField.head
      else if (tieBreaker == 0.0) greatest(perField: _*)
      else greatest(perField: _*) +
        lit(tieBreaker) * (perField.reduce(_ + _) - greatest(perField: _*))
    }
    val anyMatch = (for { ti <- terms.indices; fi <- 0 until nf }
      yield col(s"_tf${ti}_$fi") > 0).reduce(_ || _)
    frame
      .where(anyMatch)
      .withColumn("score", perTerm.reduce(_ + _))
      .select(col(s"`$idCol`"), col("score"))
      .orderBy(desc("score"), asc(s"`$idCol`"))
      .limit(k)
  }

  /** DuckDB restatement of the whole retrieval for oracle SQL: same analyzer
    * (`regexp_replace` lowercase normalization), TF as token-equality counts
    * (provably equal to the kernel's boundary-sharing substring count), and
    * the score rendered with the engine's exact operator association and
    * literal text for `k1`/`b` — both engines then parse identical doubles
    * and execute identical IEEE ops (the lone `ln` agrees well past the
    * harness's 9-decimal rounding).
    */
  def oracleSql(
      table: String,
      idCol: String,
      textExpr: String,
      query: String,
      k: Int,
      k1: Double = DefaultK1,
      b: Double = DefaultB): String = {
    val terms = queryTerms(query)
    require(terms.nonEmpty, s"bm25 oracle: query '$query' has no analyzable terms")
    oracleSqlForTerms(table, idCol, textExpr, terms, k, k1, b)
  }

  /** [[oracleSql]] for the PHRASE form: one pseudo-term whose TF is the
    * token-sequence occurrence count.
    */
  def oracleSqlPhrase(
      table: String,
      idCol: String,
      textExpr: String,
      phrase: String,
      k: Int,
      k1: Double = DefaultK1,
      b: Double = DefaultB): String = {
    val toks = TextMatch.analyze(phrase)
    require(toks.nonEmpty, s"bm25 phrase oracle: '$phrase' has no analyzable tokens")
    oracleSqlForTerms(table, idCol, textExpr, Seq(toks.mkString(" ")), k, k1, b)
  }

  /** The scored match set as a self-contained SQL subquery — the
    * [[scoredAll]] twin, for oracles that rank/filter it further
    * (collapse, search_after). Columns: `(idCol, score)`.
    */
  def oracleSqlScored(
      table: String,
      idCol: String,
      textExpr: String,
      query: String,
      k1: Double = DefaultK1,
      b: Double = DefaultB): String = {
    val terms = queryTerms(query)
    require(terms.nonEmpty, s"bm25 oracle: query '$query' has no analyzable terms")
    oracleScoredForTerms(table, idCol, textExpr, terms, k1, b)
  }

  /** [[oracleSqlScored]] for the PHRASE form — one pseudo-term whose TF
    * is the token-sequence occurrence count and DF the phrase's document
    * frequency (the [[topKPhrase]] scoring restated unbounded, for
    * oracles that rank/filter it further).
    */
  def oracleSqlScoredPhrase(
      table: String,
      idCol: String,
      textExpr: String,
      phrase: String,
      k1: Double = DefaultK1,
      b: Double = DefaultB): String = {
    val toks = TextMatch.analyze(phrase)
    require(toks.nonEmpty, s"bm25 phrase oracle: '$phrase' has no analyzable tokens")
    oracleScoredForTerms(table, idCol, textExpr, Seq(toks.mkString(" ")), k1, b)
  }

  /** [[oracleSql]] with per-term boosts — the [[topKBoosted]] twin. */
  def oracleSqlBoosted(
      table: String,
      idCol: String,
      textExpr: String,
      termBoosts: Seq[(String, Double)],
      k: Int,
      k1: Double = DefaultK1,
      b: Double = DefaultB): String =
    oracleScoredForTerms(table, idCol, textExpr, termBoosts.map(_._1), k1, b,
      weights = Some(termBoosts.map(_._2))) +
      s"\nORDER BY score DESC, $idCol ASC LIMIT $k"

  /** [[crossFieldsTopK]]'s DuckDB restatement — per-field tokenization,
    * blended (greatest) DF per term, per-field TF-normalization with the
    * field's own length statistics, dis_max-with-tie_breaker per term,
    * and the same left-folded term sum. Every statistic is an integer and
    * the float tree matches the engine's association operator-for-operator
    * (greatest is exact), so the comparison is hash-exact.
    */
  def oracleSqlCrossFields(
      table: String,
      idCol: String,
      fieldExprBoosts: Seq[(String, Double)],
      query: String,
      k: Int,
      tieBreaker: Double = 0.0,
      k1: Double = DefaultK1,
      b: Double = DefaultB): String = {
    require(fieldExprBoosts.nonEmpty, "crossFields oracle: no fields")
    val terms = queryTerms(query)
    require(terms.nonEmpty, s"crossFields oracle: query '$query' has no analyzable terms")
    val nf = fieldExprBoosts.size
    val tokCols = fieldExprBoosts.zipWithIndex.map { case ((e, _), fi) =>
      s"${TextMatch.tokensSql(e)} AS toks$fi"
    }.mkString(",\n    ")
    val tfCols = (for { fi <- 0 until nf; (t, ti) <- terms.zipWithIndex } yield
      s"len(list_filter(toks$fi, x -> x = '$t'))::BIGINT AS tf${ti}_$fi"
      ).mkString(",\n    ")
    val dlCols = (0 until nf).map(fi => s"len(toks$fi)::BIGINT AS dl$fi").mkString(", ")
    val stCols = ((0 until nf).map(fi => s"sum(dl$fi)::BIGINT AS sumdl$fi") ++
      (for { fi <- 0 until nf; ti <- terms.indices } yield
        s"sum(CASE WHEN tf${ti}_$fi > 0 THEN 1 ELSE 0 END)::BIGINT AS df${ti}_$fi")
      ).mkString(",\n    ")
    val score = terms.indices.map { ti =>
      val dfB =
        if (nf == 1) s"st.df${ti}_0"
        else s"greatest(${(0 until nf).map(fi => s"st.df${ti}_$fi").mkString(", ")})"
      val idf = s"ln(1.0 + (st.n - $dfB + 0.5) / ($dfB + 0.5))"
      val perField = fieldExprBoosts.zipWithIndex.map { case ((_, w), fi) =>
        val dlNorm = s"(1.0 - $b + $b * (b.dl$fi::DOUBLE / (st.sumdl$fi::DOUBLE / st.n::DOUBLE)))"
        val sc = s"($idf * ((b.tf${ti}_$fi::DOUBLE * ($k1 + 1.0)) / " +
          s"(b.tf${ti}_$fi::DOUBLE + $k1 * $dlNorm)))"
        if (w == 1.0) sc else s"($w * $sc)"
      }
      if (perField.size == 1) perField.head
      else {
        val best = s"greatest(${perField.mkString(", ")})"
        if (tieBreaker == 0.0) best
        else s"($best + $tieBreaker * ((${perField.mkString(" + ")}) - $best))"
      }
    }.mkString("(", "\n    + ", ")")
    val anyMatch = (for { ti <- terms.indices; fi <- 0 until nf }
      yield s"b.tf${ti}_$fi > 0").mkString(" OR ")
    s"""WITH d AS (
       |  SELECT $idCol,
       |    $tokCols
       |  FROM $table
       |), base AS (
       |  SELECT $idCol, $dlCols,
       |    $tfCols
       |  FROM d
       |), st AS (
       |  SELECT count(*)::BIGINT AS n,
       |    $stCols
       |  FROM base
       |)
       |SELECT b.$idCol,
       |  $score AS score
       |FROM base b, st
       |WHERE $anyMatch
       |ORDER BY score DESC, b.$idCol ASC LIMIT $k""".stripMargin
  }

  private def oracleSqlForTerms(
      table: String,
      idCol: String,
      textExpr: String,
      terms: Seq[String],
      k: Int,
      k1: Double,
      b: Double): String =
    oracleScoredForTerms(table, idCol, textExpr, terms, k1, b) +
      s"\nORDER BY score DESC, $idCol ASC LIMIT $k"

  /** The shared `d`/`base`/`st` CTE bodies (no `WITH` keyword) — the
    * tokenized corpus, per-doc tf/dl, and the 1-row statistics — so
    * multi-stage oracles (explain, [[Ltr.oracleSql]]) can extend the
    * same scope.
    */
  private[query] def oracleBaseCtes(
      table: String,
      idCol: String,
      textExpr: String,
      terms: Seq[String]): String = {
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      if (t.contains(' ')) {
        // Phrase TF: count of starting positions of the full token
        // sequence — identical to the kernel's first-token stepping.
        val parts = t.split(' ')
        val list = parts.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(generate_series(1, len(toks) - ${parts.length - 1}), " +
          s"i -> toks[i:i+${parts.length - 1}] = $list))::BIGINT AS tf$i"
      } else s"len(list_filter(toks, x -> x = '$t'))::BIGINT AS tf$i"
    }.mkString(",\n    ")
    val dfCols = terms.indices.map { i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)::BIGINT AS df$i"
    }.mkString(",\n    ")
    s"""d AS (
       |  SELECT $idCol,
       |    ${TextMatch.tokensSql(textExpr)} AS toks
       |  FROM $table
       |), base AS (
       |  SELECT $idCol, len(toks)::BIGINT AS dl,
       |    $tfCols
       |  FROM d
       |), st AS (
       |  SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sumdl,
       |    $dfCols
       |  FROM base
       |)""".stripMargin
  }

  private def oracleScoredForTerms(
      table: String,
      idCol: String,
      textExpr: String,
      terms: Seq[String],
      k1: Double,
      b: Double,
      weights: Option[Seq[Double]] = None): String = {
    val ws = weights.getOrElse(Seq.fill(terms.size)(1.0))
    require(ws.size == terms.size, "bm25 oracle: weights/terms length mismatch")
    val dlNorm = s"(1.0 - $b + $b * (b.dl::DOUBLE / (st.sumdl::DOUBLE / st.n::DOUBLE)))"
    val score = terms.indices.map { i =>
      val term =
        s"(ln(1.0 + (st.n - st.df$i + 0.5) / (st.df$i + 0.5)) * " +
          s"((b.tf$i::DOUBLE * ($k1 + 1.0)) / (b.tf$i::DOUBLE + $k1 * $dlNorm)))"
      // boost 1.0 keeps the exact unweighted tree (the engine's own
      // short-circuit) so boost-free oracles stay bit-identical
      if (ws(i) == 1.0) term else s"(${ws(i)} * $term)"
    }.mkString("(", "\n    + ", ")")
    val anyMatch = terms.indices.map(i => s"b.tf$i > 0").mkString(" OR ")
    s"""WITH ${oracleBaseCtes(table, idCol, textExpr, terms)}
       |SELECT b.$idCol,
       |  $score AS score
       |FROM base b, st
       |WHERE $anyMatch""".stripMargin
  }
}
