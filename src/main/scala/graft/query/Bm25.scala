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
    * any aggregation order, so downstream float math is deterministic. The
    * one writer of these statistics: scoring and more_like_this's term
    * selection both read them here. An empty term set gives `_n` and
    * `_sumdl` alone (every scoring entry point refuses one before this).
    *
    * At rest these are per-index constants: persist the 1-row frame next to
    * the index and [[topK]] becomes a single corpus scan.
    */
  def corpusStats(docs: DataFrame, analyzed: Column, terms: Seq[String]): DataFrame = {
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

  /** Lucene's non-negative idf over an integer doc count `n` and document
    * frequency `df`: `ln(1 + (N − df + 0.5) / (df + 0.5))`.
    */
  private[query] def idf(n: Column, df: Column): Column =
    log(lit(1.0) + (n - df + lit(0.5)) / (df + lit(0.5)))

  /** One term's BM25 contribution, `idf · tf·(k1+1) / (tf + k1·(1 − b +
    * b·dl/avgdl))` with `avgdl = sumdl / n`. This operator tree, with
    * [[idf]], is THE score: every scorer folds it, and [[contributionSql]]
    * restates it operator for operator — the lockstep the hash-exact
    * DuckDB cross-check rests on. Change one, change both.
    */
  private[query] def contribution(idf: Column, tf: Column, dl: Column, sumdl: Column,
      n: Column, k1: Double, b: Double): Column = {
    val tfd = tf.cast("double")
    val avgdl = sumdl.cast("double") / n.cast("double")
    val dlNorm = lit(1.0) - lit(b) + lit(b) * (dl.cast("double") / avgdl)
    idf * ((tfd * (lit(k1) + lit(1.0))) / (tfd + lit(k1) * dlNorm))
  }

  /** [[idf]] in DuckDB SQL over the given column references. */
  private[query] def idfSql(n: String, df: String): String =
    s"ln(1.0 + ($n - $df + 0.5) / ($df + 0.5))"

  /** [[contribution]] in DuckDB SQL over the given column references
    * (`b.tf0`, `dls.dl`, `st.n`, …): the same operators and association,
    * and the literal text of `k1`/`b`, so both engines parse identical
    * doubles and run identical IEEE ops.
    */
  private[query] def contributionSql(idf: String, tf: String, dl: String, sumdl: String,
      n: String, k1: Double, b: Double): String = {
    val dlNorm = s"(1.0 - $b + $b * ($dl::DOUBLE / ($sumdl::DOUBLE / $n::DOUBLE)))"
    s"($idf * (($tf::DOUBLE * ($k1 + 1.0)) / ($tf::DOUBLE + $k1 * $dlNorm)))"
  }

  /** The terms a query scores, in score-fold order, each with its boost.
    * A boost multiplies its term's contribution (Lucene `term^boost`); a
    * unit boost emits the UNWEIGHTED term tree (no `1.0 *` node), so a
    * boost-free query keeps the exact IEEE tree every oracle pins.
    */
  final case class Terms(weighted: Seq[(String, Double)]) {
    def terms: Seq[String] = weighted.map(_._1)
    def weights: Seq[Double] = weighted.map(_._2)
  }

  object Terms {

    /** ES `match`: the distinct analyzed words of `query` ([[queryTerms]]). */
    def words(query: String,
        analyzer: TextMatch.Analyzer = TextMatch.AsciiAnalyzer): Terms = {
      val terms = queryTerms(query, analyzer)
      require(terms.nonEmpty, s"bm25: query '$query' has no analyzable terms")
      Terms(terms.map(_ -> 1.0))
    }

    /** ES `match_phrase` in query context: the whole analyzed phrase is ONE
      * pseudo-term, with TF = count of token positions where the full
      * sequence occurs ([[TokenOccurrences]]'s phrase form — self-overlapping
      * occurrences all count, the semantics the oracle restates as
      * `toks[i:i+p-1] = [...]`) and DF/IDF of the phrase itself.
      */
    def phrase(phrase: String,
        analyzer: TextMatch.Analyzer = TextMatch.AsciiAnalyzer): Terms = {
      val toks = analyzer.analyze(phrase)
      require(toks.nonEmpty, s"bm25 phrase: '$phrase' has no analyzable tokens")
      Terms(Seq(toks.mkString(" ") -> 1.0))
    }

    /** Pre-analyzed, distinct terms with per-term boosts — the
      * `query_string` `term^2` scoring compilation
      * ([[graft.query.QueryString.boostedTerms]] produces exactly that).
      */
    def boosted(termBoosts: Seq[(String, Double)]): Terms = {
      require(termBoosts.nonEmpty, "bm25: empty boosted term set")
      require(termBoosts.map(_._1).distinct.size == termBoosts.size,
        "bm25: duplicate terms in boosted term set")
      Terms(termBoosts)
    }
  }

  /** The working columns of a scoring frame over `nTerms` terms. */
  private[query] def workingColumns(nTerms: Int): Seq[String] =
    "_dl" +: "_n" +: "_sumdl" +: (0 until nTerms).flatMap(i => Seq(s"_tf$i", s"_df$i"))

  /** The one scoring frame: `rows` projected to its `keep` columns plus the
    * document length `_dl` and one `_tf<i>` TF kernel per term, with the
    * 1-row `stats` ([[corpusStats]] for the same terms: `_n`, `_sumdl`,
    * `_df<i>`) attached by `crossJoin(broadcast(...))` — the row shape
    * [[contribution]] reads. Rows are preserved (no match filter); a kept
    * column that collides with a working column is refused.
    */
  private[query] def scoringFrame(rows: DataFrame, keep: Seq[String], analyzed: Column,
      terms: Seq[String], stats: DataFrame): DataFrame = {
    val clash = keep.toSet.intersect(workingColumns(terms.size).toSet)
    require(clash.isEmpty,
      s"bm25: scoring needs working columns ${clash.toSeq.sorted.mkString(", ")} — rename them first")
    rows.select(keep.map(c => col(s"`$c`")) ++
        (docLength(analyzed).as("_dl") +:
          terms.zipWithIndex.map { case (t, i) => TokenOccurrences(analyzed, t).as(s"_tf$i") }): _*)
      .crossJoin(broadcast(stats))
  }

  /** Term `i`'s [[contribution]] over a [[scoringFrame]]. */
  private[query] def termContribution(i: Int, k1: Double, b: Double): Column =
    contribution(idf(col("_n"), col(s"_df$i")), col(s"_tf$i"), col("_dl"), col("_sumdl"),
      col("_n"), k1, b)

  /** The BM25 score over a [[scoringFrame]]: the boosted contributions
    * left-folded over terms in order — the association the SQL oracle
    * restates.
    */
  private[query] def scoreColumn(weights: Seq[Double], k1: Double, b: Double): Column =
    weights.zipWithIndex.map { case (w, i) =>
      val c = termContribution(i, k1, b)
      if (w == 1.0) c else lit(w) * c
    }.reduce(_ + _)

  /** The [[scoringFrame]] of `docs` (keeping `idCol`) cut to the rows that
    * hold at least one term, with their BM25 score in `scoreCol`. The
    * working columns stay, for callers that explain or log them.
    */
  private[query] def matchedFrame(docs: DataFrame, idCol: String, analyzed: Column,
      terms: Terms, stats: Option[DataFrame], k1: Double, b: Double,
      scoreCol: String = "score"): DataFrame = {
    val ts = terms.terms
    scoringFrame(docs, Seq(idCol), analyzed, ts, stats.getOrElse(corpusStats(docs, analyzed, ts)))
      .where(ts.indices.map(i => col(s"_tf$i") > 0).reduce(_ || _))
      .withColumn(scoreCol, scoreColumn(terms.weights, k1, b))
  }

  /** Every document matching `terms` with its BM25 score, UNORDERED and
    * unlimited, as `(idCol, score)` over a PRE-ANALYZED (padded) text
    * column — the indexed path. Documents matching no term are excluded
    * (they score 0 — retrieval, not annotation). Serving features that
    * need the full match set before their own bound read it directly:
    * field collapse ([[Paging.collapseTopHits]]) and keyset pagination
    * ([[Paging.searchAfter]]); [[topK]] ranks it.
    *
    * @param stats precomputed [[corpusStats]] for the terms; when absent
    *              they are computed here (one extra corpus pass — fine for
    *              ad-hoc use, persist them for serving)
    */
  def scored(
      docs: DataFrame,
      idCol: String,
      analyzed: Column,
      terms: Terms,
      k1: Double = DefaultK1,
      b: Double = DefaultB,
      stats: Option[DataFrame] = None): DataFrame =
    matchedFrame(docs, idCol, analyzed, terms, stats, k1, b)
      .select(col(s"`$idCol`"), col("score"))

  /** Top-`k` documents of [[scored]] in hit order ([[Hits.top]]). */
  def topK(
      docs: DataFrame,
      idCol: String,
      analyzed: Column,
      terms: Terms,
      k: Int,
      k1: Double = DefaultK1,
      b: Double = DefaultB,
      stats: Option[DataFrame] = None): DataFrame =
    Hits.top(scored(docs, idCol, analyzed, terms, k1, b, stats), idCol, k)

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
    val terms = Terms.words(query, analyzer)
    val details = array(terms.terms.zipWithIndex.map { case (t, i) =>
      struct(lit(t).as("term"), col(s"_tf$i").cast("long").as("tf"),
        col(s"_df$i").cast("long").as("df"), idf(col("_n"), col(s"_df$i")).as("idf"),
        termContribution(i, k1, b).as("contribution"))
    }: _*)
    Hits.top(matchedFrame(docs, idCol, analyzed, terms, stats, k1, b), idCol, k)
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
    val terms = Terms.words(query).terms
    val branches = terms.zipWithIndex.map { case (t, i) =>
      val idf = idfSql("t.n", s"t.df$i")
      val contrib = contributionSql(idf, s"t.tf$i", "t.dl", "t.sumdl", "t.n", k1, b)
      s"""SELECT $idCol, '$t' AS term, tf$i::BIGINT AS tf, df$i::BIGINT AS df,
         |  $idf AS idf, dl::INT AS dl, $contrib AS contribution, score
         |FROM topk t""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${oracleBaseCtes(table, idCol, textExpr, terms)},
       |topk AS (
       |  SELECT b.*, st.*,
       |    ${scoreSql(terms.map(_ => 1.0), k1, b)} AS score
       |  FROM base b, st
       |  WHERE ${anyTermMatchesSql(terms.size)}
       |  ORDER BY score DESC, b.$idCol ASC LIMIT $k
       |)
       |$branches
       |ORDER BY score DESC, $idCol ASC, term ASC""".stripMargin
  }

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
    topK(docs, idCol, analyzer.padded(col(s"`$textCol`")),
      Terms.words(query, analyzer), k, k1, b)

  /** ES `multi_match` over several raw text columns, each scored by its
    * OWN BM25 statistics (the ES contract — per-field IDF and avgdl, so a
    * term rare in `title` but common in `body` weighs differently per
    * field), with PER-FIELD BOOSTS (ES's `fields: ["title^3", "body"]` on
    * `multi_match`, `query_string` and `simple_query_string`): each
    * field's score multiplies its boost BEFORE combining, and a unit boost
    * keeps the unweighted tree ([[Terms]]' rule).
    *
    *  - `most_fields` (the default) sums the boosted scores — exactly
    *    Lucene SimpleQueryParser's `newDefaultQuery` (a SHOULD clause per
    *    field wrapped in a BoostQuery; BooleanQuery sums matching
    *    SHOULDs), so it is THE scoring twin of
    *    [[SimpleQueryString.parseFields]]; right when fields are analyzed
    *    views of the same text;
    *  - `best_fields` takes their max (ES's `dis_max`, right when the
    *    query should match ONE field well); a `tieBreaker` in (0, 1] adds
    *    tb·(sum of the others) — matching in several fields then counts,
    *    weighted below the best.
    *
    * Docs matching in no field don't appear. Per-field scoring keeps
    * [[scored]]'s scale shape (one scan per field, broadcast stats); the
    * combining join is over match-bounded frames.
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
      tieBreaker: Double = 0.0,
      analyzer: TextMatch.Analyzer = TextMatch.AsciiAnalyzer): DataFrame = {
    require(fieldBoosts.nonEmpty, "multiMatchWeighted: no fields")
    require(fieldBoosts.forall(_._2 > 0),
      s"multiMatchWeighted: boosts must be positive, got ${fieldBoosts.map(_._2).mkString(",")}")
    require(mode == "best_fields" || mode == "most_fields",
      s"multiMatchWeighted: unsupported mode <$mode> (best_fields|most_fields)")
    require(tieBreaker >= 0 && tieBreaker <= 1,
      s"multiMatchWeighted: tie_breaker must be in [0,1], got $tieBreaker")
    require(tieBreaker == 0.0 || mode == "best_fields",
      "multiMatchWeighted: tie_breaker applies to best_fields (dis_max) only")
    val terms = Terms.words(query, analyzer)
    val perField = fieldBoosts.zipWithIndex.map { case ((f, _), i) =>
      scored(docs, idCol, analyzer.padded(col(s"`$f`")), terms, k1, b)
        .select(col(s"`$idCol`"), col("score").as(s"_s$i"))
    }
    val joined = perField.reduce((a, c) => a.join(c, Seq(idCol), "full_outer"))
    val per = fieldBoosts.zipWithIndex.map { case ((_, boost), i) =>
      val s = coalesce(col(s"_s$i"), lit(0.0))
      if (boost == 1.0) s else lit(boost) * s
    }
    val combined =
      if (per.size == 1) per.head
      else if (mode == "best_fields" && tieBreaker == 0.0) greatest(per: _*)
      else if (mode == "best_fields")
        greatest(per: _*) + lit(tieBreaker) * (per.reduce(_ + _) - greatest(per: _*))
      else per.reduce(_ + _)
    Hits.top(joined.withColumn("score", combined).select(col(s"`$idCol`"), col("score")),
      idCol, k)
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
    topK(docs, idCol, analyzer.padded(combined), Terms.words(query, analyzer), k, k1, b)
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
      val termIdf = idf(col("_n"), dfBlended)
      val perField: Seq[Column] = fieldBoosts.zipWithIndex.map { case ((_, w), fi) =>
        val sc = contribution(termIdf, col(s"_tf${ti}_$fi"), col(s"_dl$fi"),
          col(s"_sumdl$fi"), col("_n"), k1, b)
        if (w == 1.0) sc else lit(w) * sc
      }
      if (perField.size == 1) perField.head
      else if (tieBreaker == 0.0) greatest(perField: _*)
      else greatest(perField: _*) +
        lit(tieBreaker) * (perField.reduce(_ + _) - greatest(perField: _*))
    }
    val anyMatch = (for { ti <- terms.indices; fi <- 0 until nf }
      yield col(s"_tf${ti}_$fi") > 0).reduce(_ || _)
    Hits.top(frame
      .where(anyMatch)
      .withColumn("score", perTerm.reduce(_ + _))
      .select(col(s"`$idCol`"), col("score")), idCol, k)
  }

  /** DuckDB restatement of [[scored]] as a self-contained SQL query — for
    * oracles that rank or filter it further (collapse, search_after).
    * Columns: `(idCol, score)`. Same analyzer (`regexp_replace` lowercase
    * normalization), TF as token-equality counts (provably equal to the
    * kernel's boundary-sharing substring count), and the score rendered
    * with the engine's exact operator association and literal text for
    * `k1`/`b` ([[contributionSql]]) — both engines then parse identical
    * doubles and execute identical IEEE ops (the lone `ln` agrees well
    * past the harness's 9-decimal rounding).
    */
  def oracleSqlScored(
      table: String,
      idCol: String,
      textExpr: String,
      terms: Terms,
      k1: Double = DefaultK1,
      b: Double = DefaultB): String =
    s"""WITH ${oracleBaseCtes(table, idCol, textExpr, terms.terms)}
       |SELECT b.$idCol,
       |  ${scoreSql(terms.weights, k1, b)} AS score
       |FROM base b, st
       |WHERE ${anyTermMatchesSql(terms.terms.size)}""".stripMargin

  /** [[oracleSqlScored]] in hit order, limited — the [[topK]] twin. */
  def oracleSql(
      table: String,
      idCol: String,
      textExpr: String,
      terms: Terms,
      k: Int,
      k1: Double = DefaultK1,
      b: Double = DefaultB): String =
    oracleSqlScored(table, idCol, textExpr, terms, k1, b) +
      s"\nORDER BY score DESC, $idCol ASC LIMIT $k"

  /** [[scoreColumn]] in SQL over the `base b, st` scope of
    * [[oracleBaseCtes]].
    */
  private[query] def scoreSql(weights: Seq[Double], k1: Double, b: Double): String =
    weights.zipWithIndex.map { case (w, i) =>
      val c = contributionSql(idfSql("st.n", s"st.df$i"), s"b.tf$i", "b.dl", "st.sumdl",
        "st.n", k1, b)
      if (w == 1.0) c else s"($w * $c)"
    }.mkString("(", "\n    + ", ")")

  /** [[matchedFrame]]'s match filter in SQL over the `base b` scope. */
  private[query] def anyTermMatchesSql(nTerms: Int): String =
    (0 until nTerms).map(i => s"b.tf$i > 0").mkString(" OR ")

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
      val idf = idfSql("st.n", dfB)
      val perField = fieldExprBoosts.zipWithIndex.map { case ((_, w), fi) =>
        val sc = contributionSql(idf, s"b.tf${ti}_$fi", s"b.dl$fi", s"st.sumdl$fi", "st.n", k1, b)
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
}
