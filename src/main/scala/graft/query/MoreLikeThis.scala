package graft.query

import graft.expr.{TextMatch, TokenOccurrences}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** ES `more_like_this` — find documents similar to a seed document by
  * selecting its most characteristic terms and running a scored
  * disjunction (the "related items" panel next to a search result).
  *
  * Faithful shape (public MLT contract): the seed's terms are ranked by
  * `tf·idf` and the top `maxQueryTerms` survive (`min_term_freq` /
  * `min_doc_freq` prune rare-in-doc / rare-in-corpus terms first, ES's
  * own defaults 2 and 5); candidate documents containing at least one
  * selected term are scored with the SAME Okapi BM25 formula as
  * [[Bm25]] (ES scores MLT through its default similarity, which IS
  * BM25) and the top `k` return.
  *
  * Determinism discipline: term selection ties break on the term string;
  * the per-document score is an ORDERED fold — a running sum over
  * addends in term order, never a partition-order float sum — with
  * `round(·, 6)` absorbing sub-ulp `ln` library drift, exactly the
  * [[Aggs.entropyFromCharTable]] precedent. That is what lets the
  * DuckDB oracle restate the whole retrieval even though the selected
  * term set is DATA-dependent (the fixed-tree-per-literal-term trick of
  * [[Bm25.oracleSql]] cannot apply).
  *
  * 100 TB shape: tf/df/dl are one exploded aggregation each (map-side
  * combined); the selected-terms frame is ≤ `maxQueryTerms` rows,
  * broadcast; scoring touches only documents sharing a selected term
  * (the postings semi-join, not a corpus cross); top-k is
  * per-partition partial + k-row merge. At rest the tf table IS the
  * inverted index the search tier already maintains.
  */
object MoreLikeThis {

  /** Top-`k` documents most like `seedId`, as `(idCol, score)` ordered by
    * score descending (id ascending on ties). The seed itself is
    * excluded. See class doc for semantics and determinism.
    */
  def moreLikeThis(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      seedId: Long,
      maxQueryTerms: Int = 10,
      k: Int = 15,
      minTermFreq: Int = 2,
      minDocFreq: Int = 5,
      k1: Double = Bm25.DefaultK1,
      b: Double = Bm25.DefaultB): DataFrame = {
    require(maxQueryTerms >= 1, s"maxQueryTerms must be >= 1, got $maxQueryTerms")
    val id = col(s"`$idCol`")
    val toks = docs.select(id.as("_id"),
        explode(split(trim(TextMatch.normalized(col(s"`$textCol`"))), " +")).as("term"))
      .where(length(col("term")) > 0)
    val tf = toks.groupBy("_id", "term").agg(count(lit(1)).as("_tf"))
    val dl = tf.groupBy("_id").agg(sum(col("_tf")).as("_dl"))
    // N counts ALL documents (token-free ones included), matching the
    // oracle's count over the base table.
    val st = docs.agg(count(lit(1)).as("_n"))
      .crossJoin(dl.agg(sum(col("_dl")).as("_sumdl")))
    val df = tf.groupBy("term").agg(count(lit(1)).as("_df"))

    val idf = Bm25.idf(col("_n"), col("_df"))
    val sel = tf.where(col("_id") === seedId && col("_tf") >= minTermFreq)
      .join(df, "term").where(col("_df") >= minDocFreq)
      .crossJoin(broadcast(st))
      .orderBy((col("_tf").cast("double") * idf).desc, col("term").asc)
      .limit(maxQueryTerms)
      .select("term", "_df")

    val addend = Bm25.contribution(idf, col("_tf"), col("_dl"), col("_sumdl"), col("_n"), k1, b)

    val adds = tf.where(col("_id") =!= seedId)
      .join(broadcast(sel), "term")
      .join(dl, "_id")
      .crossJoin(broadcast(st))
      .select(col("_id"), col("term"), addend.as("_a"))

    import org.apache.spark.sql.expressions.Window
    val run = Window.partitionBy(col("_id")).orderBy(col("term"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val last = Window.partitionBy(col("_id")).orderBy(col("term").desc)
    Hits.top(adds
      .withColumn("_s", sum(col("_a")).over(run))
      .withColumn("_rn", row_number().over(last))
      .where(col("_rn") === 1)
      .select(col("_id").as(idCol), round(col("_s"), 6).as("score")), idCol, k)
  }

  /** DuckDB restatement of the full retrieval: identical analyzer,
    * identical integer tf/df/dl folds, identical IEEE selection and
    * scoring trees, the identical term-ordered running-sum fold and
    * `round(·, 6)` — see class doc.
    */
  def oracleSql(table: String, idCol: String, textExpr: String, seedId: Long,
      maxQueryTerms: Int = 10, k: Int = 15, minTermFreq: Int = 2, minDocFreq: Int = 5,
      k1: Double = Bm25.DefaultK1, b: Double = Bm25.DefaultB): String = {
    s"""WITH d AS (
       |  SELECT $idCol,
       |    ${TextMatch.tokensSql(textExpr)} AS toks
       |  FROM $table
       |), tf AS (
       |  SELECT $idCol, t AS term, count(*)::BIGINT AS tf
       |  FROM d, unnest(toks) AS u(t) GROUP BY 1, 2
       |), dl AS (
       |  SELECT $idCol, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1
       |), st AS (
       |  SELECT (SELECT count(*)::BIGINT FROM $table) AS n,
       |    (SELECT sum(dl)::BIGINT FROM dl) AS sumdl
       |), dfx AS (
       |  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1
       |), sel AS (
       |  SELECT t.term, f.df FROM tf t JOIN dfx f USING (term), st
       |  WHERE t.$idCol = $seedId AND t.tf >= $minTermFreq AND f.df >= $minDocFreq
       |  ORDER BY t.tf::DOUBLE * ${Bm25.idfSql("st.n", "f.df")} DESC, t.term ASC
       |  LIMIT $maxQueryTerms
       |), adds AS (
       |  SELECT t.$idCol, t.term,
       |    ${Bm25.contributionSql(Bm25.idfSql("st.n", "s.df"), "t.tf", "dl.dl", "st.sumdl", "st.n", k1, b)} AS a
       |  FROM tf t JOIN sel s USING (term) JOIN dl USING ($idCol), st
       |  WHERE t.$idCol <> $seedId
       |), folded AS (
       |  SELECT $idCol,
       |    sum(a) OVER (PARTITION BY $idCol ORDER BY term
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
       |    row_number() OVER (PARTITION BY $idCol ORDER BY term DESC) AS rn
       |  FROM adds
       |)
       |SELECT $idCol, round(s, 6) AS score FROM folded WHERE rn = 1
       |ORDER BY score DESC, $idCol ASC LIMIT $k""".stripMargin
  }

  // =====================================================================
  // The like-TEXT half — ES's `like: ["free text"]` form ([[moreLikeThis]]
  // above is the like-a-stored-document form; ES accepts both in one
  // request and unions the candidate terms). Adds the ES knobs the seed
  // form doesn't exercise: `max_doc_freq`, `min_word_length` /
  // `max_word_length`, and `minimum_should_match` (the filter-context
  // gate over the selected disjunction).
  //
  // Selection here uses Lucene MoreLikeThis's CLASSIC tf·idf queue score
  // `tf_like · (1 + ln(N / (df + 1)))` (Lucene `createQueue` ranks with
  // ClassicSimilarity idf regardless of the index's scoring similarity;
  // the seed form above keeps its committed BM25-idf ranking — both are
  // published selection rules, the delta is stated). Score ties break by
  // TERM ascending (Lucene's queue order on equal scores is
  // insertion-dependent, not reproducible). Cross-engine the comparisons
  // are stable: every selection input is integer-derived, so distinct
  // (tf, df) pairs sit far above one ulp of either engine's `ln`.
  //
  // Scale shape (ES's own): ONE single-pass integer aggregate over the
  // corpus for the candidate statistics ([[Bm25.corpusStats]] contract —
  // mergeable, persistable at index-write time), collected as a single
  // row bounded by the like-text vocabulary (a query-sized constant,
  // capped loudly at [[MaxCandidates]]); retrieval is one distributed
  // scan over codegen'd TF kernels. Nothing corpus-sized reaches the
  // driver.
  // =====================================================================

  /** The ES knobs, at ES's documented defaults. */
  final case class MltParams(
      maxQueryTerms: Int = 25,
      minTermFreq: Int = 2,
      minDocFreq: Int = 5,
      maxDocFreq: Int = Int.MaxValue,
      minWordLength: Int = 0,
      maxWordLength: Int = Int.MaxValue,
      minimumShouldMatch: String = "30%") {
    require(maxQueryTerms >= 1, "more_like_this: max_query_terms must be >= 1")
    require(minTermFreq >= 1, "more_like_this: min_term_freq must be >= 1")
    require(minDocFreq >= 1, "more_like_this: min_doc_freq must be >= 1")
    require(maxDocFreq >= minDocFreq,
      s"more_like_this: max_doc_freq $maxDocFreq < min_doc_freq $minDocFreq")
  }

  /** A selected query term with its like-text `tf`, corpus `df`, and the
    * classic-idf selection score.
    */
  final case class SelectedTerm(term: String, tf: Long, df: Long, score: Double)

  /** Hard bound on the candidate-term statistics width: the DF aggregate
    * carries one column per candidate, and a like-text with a huge
    * vocabulary signals the caller passed a corpus, not a query.
    */
  val MaxCandidates = 512

  /** Like-text candidates after the text-side gates (tf, word length),
    * sorted for determinism. Driver-side: the like-text is a query
    * literal.
    */
  private def candidates(likeText: String, p: MltParams,
      analyzer: TextMatch.Analyzer): Seq[(String, Long)] = {
    val toks = analyzer.analyze(likeText)
    require(toks.nonEmpty, "more_like_this: like-text has no analyzable terms")
    val byTf = toks.groupBy(identity).map { case (t, g) => (t, g.size.toLong) }
    val kept = byTf.filter { case (t, tf) =>
      tf >= p.minTermFreq && t.length >= p.minWordLength && t.length <= p.maxWordLength
    }.toSeq.sortBy(_._1)
    require(kept.size <= MaxCandidates,
      s"more_like_this: ${kept.size} candidate terms exceed $MaxCandidates — " +
        "raise min_term_freq or trim the like-text (it should be a query, " +
        "not a corpus)")
    kept
  }

  /** Term selection plus the corpus statistics needed to score with the
    * same pass: `(selected terms in rank order, N, Σdl)`. One corpus
    * aggregate; the collect is ONE row whose width is the candidate count.
    */
  def likeTextSelect(
      docs: DataFrame,
      analyzed: Column,
      likeText: String,
      p: MltParams = MltParams(),
      analyzer: TextMatch.Analyzer = TextMatch.AsciiAnalyzer): (Seq[SelectedTerm], Long, Long) = {
    val cand = candidates(likeText, p, analyzer)
    val row = Bm25.corpusStats(docs, analyzed, cand.map(_._1)).head()
    val n = row.getLong(0)
    require(n > 0, "more_like_this: the corpus is empty — nothing to select against")
    val sumdl = row.getLong(1)
    val scored = cand.zipWithIndex.flatMap { case ((t, tf), i) =>
      val df = row.getLong(2 + i)
      if (df >= p.minDocFreq && df <= p.maxDocFreq && df > 0)
        // ClassicSimilarity idf — Lucene MLT's SELECTION ranking
        Some(SelectedTerm(t, tf, df,
          tf.toDouble * (1.0 + math.log(n.toDouble / (df + 1).toDouble))))
      else None
    }
    require(scored.nonEmpty,
      "more_like_this: no candidate term passes the doc-freq gates — " +
        "loosen min_doc_freq/max_doc_freq or the like-text is out of corpus")
    val sel = scored.sortBy(st => (-st.score, st.term)).take(p.maxQueryTerms)
    (sel, n, sumdl)
  }

  /** The selected term set as a frame `(term, tf, df)` ordered by term —
    * the inspectable selection half (integer-exact, oracle-gated as
    * `q_mlt_terms`).
    */
  def likeTextTermsDF(
      spark: SparkSession,
      docs: DataFrame,
      analyzed: Column,
      likeText: String,
      p: MltParams = MltParams(),
      analyzer: TextMatch.Analyzer = TextMatch.AsciiAnalyzer): DataFrame = {
    val (sel, _, _) = likeTextSelect(docs, analyzed, likeText, p, analyzer)
    val rows = sel.sortBy(_.term).map(st => Row(st.term, st.tf, st.df))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("term", StringType, nullable = false),
        StructField("tf", LongType, nullable = false),
        StructField("df", LongType, nullable = false))))
  }

  /** The filter-context match set: `(idCol, matched)` — documents holding
    * at least `minimumShouldMatch` of the selected terms (resolved with
    * [[FilterSpec.MinShouldMatch]]'s full grammar against the selection
    * size), with the count of distinct selected terms present. One
    * distributed scan over codegen'd TF kernels.
    */
  def likeTextMatchSet(
      docs: DataFrame,
      idCol: String,
      analyzed: Column,
      likeText: String,
      p: MltParams = MltParams(),
      analyzer: TextMatch.Analyzer = TextMatch.AsciiAnalyzer): DataFrame = {
    val (sel, _, _) = likeTextSelect(docs, analyzed, likeText, p, analyzer)
    val msm = FilterSpec.MinShouldMatch.resolve(p.minimumShouldMatch, sel.size)
    val matched = sel.map(st =>
      when(TokenOccurrences(analyzed, st.term) > 0, 1).otherwise(0).cast("long"))
      .reduce(_ + _)
    docs.withColumn("matched", matched)
      .where(col("matched") >= msm)
      .select(col(s"`$idCol`"), col("matched"))
  }

  /** Query-context retrieval: BM25 top-`k` over the selected terms. The
    * selection pass already produced every statistic BM25 needs (N, Σdl,
    * per-term DF), so the stats frame is synthesized from the collected
    * row — ONE corpus pass for selection + ONE for scoring, total.
    * Scores are rounded to 6 decimals and ranked on the ROUNDED value
    * (ties then break by id): the oracle's term sum is join-ordered, so
    * the comparison absorbs sub-ulp association differences while keeping
    * full ranking teeth — the [[moreLikeThis]] precedent.
    */
  def likeTextTopK(
      docs: DataFrame,
      idCol: String,
      analyzed: Column,
      likeText: String,
      k: Int,
      p: MltParams = MltParams(),
      k1: Double = Bm25.DefaultK1,
      b: Double = Bm25.DefaultB,
      analyzer: TextMatch.Analyzer = TextMatch.AsciiAnalyzer): DataFrame = {
    val spark = docs.sparkSession
    val (sel, n, sumdl) = likeTextSelect(docs, analyzed, likeText, p, analyzer)
    val statsRow = Row.fromSeq(n +: sumdl +: sel.map(_.df))
    val statsSchema = StructType(
      StructField("_n", LongType, nullable = false) +:
        StructField("_sumdl", LongType, nullable = false) +:
        sel.indices.map(i => StructField(s"_df$i", LongType, nullable = false)))
    val stats = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(statsRow), 1), statsSchema)
    // score the SELECTED terms directly — re-analyzing a joined string
    // could drop a term under a stemming/stopword analyzer (a stem that
    // equals a stopword) and silently misalign the _df columns
    Hits.top(Bm25.scored(docs, idCol, analyzed, Bm25.Terms(sel.map(_.term -> 1.0)),
        k1, b, stats = Some(stats))
      .withColumn("score", round(col("score"), 6)), idCol, k)
  }

  // ===================================================================
  // DuckDB oracle restatements for the like-text half — the selection,
  // match-set, and scored pipelines re-derived ENTIRELY in SQL (the
  // oracle re-runs selection itself; nothing engine-side leaks into the
  // oracle text, so a selection disagreement surfaces as a mismatch).
  // ===================================================================

  private def sqlQuote(s: String): String = s.replace("'", "''")

  /** Shared CTE prefix: like-text candidates, corpus tokens, per-candidate
    * DF, and the ranked selection.
    */
  private def selectionCtes(
      table: String, idCol: String, textExpr: String, likeText: String,
      p: MltParams): String = {
    val maxDf = if (p.maxDocFreq == Int.MaxValue) "" else s" AND df <= ${p.maxDocFreq}"
    s"""lk AS (
       |  SELECT unnest(${TextMatch.tokensSql(s"'${sqlQuote(likeText)}'")}) AS term
       |), cand AS (
       |  SELECT term, count(*)::BIGINT AS tf FROM lk
       |  GROUP BY term
       |  HAVING count(*) >= ${p.minTermFreq}
       |    AND len(term) >= ${p.minWordLength} AND len(term) <= ${p.maxWordLength}
       |), d AS (
       |  SELECT $idCol, ${TextMatch.tokensSql(textExpr)} AS toks FROM $table
       |), nn AS (
       |  SELECT count(*)::BIGINT AS n, sum(len(toks))::BIGINT AS sumdl FROM d
       |), dt AS (
       |  SELECT DISTINCT $idCol, term
       |  FROM (SELECT $idCol, unnest(toks) AS term FROM d)
       |), dfs AS (
       |  SELECT c.term, c.tf, count(dt.$idCol)::BIGINT AS df
       |  FROM cand c LEFT JOIN dt ON dt.term = c.term
       |  GROUP BY c.term, c.tf
       |), sel AS (
       |  SELECT term, tf, df
       |  FROM dfs, nn
       |  WHERE df >= ${p.minDocFreq} AND df > 0$maxDf
       |  ORDER BY (tf::DOUBLE * (1.0 + ln(nn.n::DOUBLE / (df + 1)::DOUBLE))) DESC, term ASC
       |  LIMIT ${p.maxQueryTerms}
       |)""".stripMargin
  }

  /** [[likeTextTermsDF]]'s oracle: `(term, tf, df)` by term. */
  def oracleSqlLikeTextTerms(table: String, idCol: String, textExpr: String,
      likeText: String, p: MltParams = MltParams()): String =
    s"""WITH ${selectionCtes(table, idCol, textExpr, likeText, p)}
       |SELECT term, tf, df FROM sel ORDER BY term""".stripMargin

  /** [[likeTextMatchSet]]'s oracle: distinct-selected-term counts against
    * the resolved msm threshold. The threshold is rendered as a CASE over
    * every achievable selection size (1..maxQueryTerms), each resolved
    * with the engine's OWN [[FilterSpec.MinShouldMatch]] rules — the SQL
    * side then applies the value matching ITS selection size, so a
    * selection-size disagreement between the engines surfaces as a hash
    * mismatch instead of hiding behind a shared constant. Sizes where the
    * spec would resolve out of range (the engine raises there) render as
    * NULL — unreachable for a query the engine accepted.
    */
  def oracleSqlLikeTextMatchSet(table: String, idCol: String, textExpr: String,
      likeText: String, p: MltParams = MltParams()): String = {
    val cases = (1 to p.maxQueryTerms).map { nsel =>
      val v =
        try Some(FilterSpec.MinShouldMatch.resolve(p.minimumShouldMatch, nsel))
        catch { case _: IllegalArgumentException => None }
      s"WHEN $nsel THEN ${v.map(_.toString).getOrElse("NULL")}"
    }.mkString(" ")
    s"""WITH ${selectionCtes(table, idCol, textExpr, likeText, p)},
       |m AS (
       |  SELECT dt.$idCol, count(*)::BIGINT AS matched
       |  FROM dt JOIN sel USING (term)
       |  GROUP BY dt.$idCol
       |)
       |SELECT $idCol, matched FROM m
       |WHERE matched >= (SELECT CASE count(*) $cases END FROM sel)
       |ORDER BY $idCol""".stripMargin
  }

  /** [[likeTextTopK]]'s oracle: BM25 over the SQL-side selection, the
    * per-term sum taken over join rows and rounded to 6 decimals exactly
    * like the engine.
    */
  def oracleSqlLikeTextTopK(table: String, idCol: String, textExpr: String,
      likeText: String, k: Int, p: MltParams = MltParams(),
      k1: Double = Bm25.DefaultK1, b: Double = Bm25.DefaultB): String =
    s"""WITH ${selectionCtes(table, idCol, textExpr, likeText, p)},
       |tfs AS (
       |  SELECT $idCol, term, count(*)::BIGINT AS tf
       |  FROM (SELECT $idCol, unnest(toks) AS term FROM d)
       |  GROUP BY $idCol, term
       |), dls AS (
       |  SELECT $idCol, len(toks)::BIGINT AS dl FROM d
       |), contrib AS (
       |  SELECT t.$idCol,
       |    ${Bm25.contributionSql(Bm25.idfSql("nn.n", "s.df"), "t.tf", "dls.dl", "nn.sumdl", "nn.n", k1, b)} AS c
       |  FROM tfs t
       |  JOIN sel s USING (term)
       |  JOIN dls USING ($idCol), nn
       |)
       |SELECT $idCol, ROUND(sum(c), 6) AS score FROM contrib
       |GROUP BY $idCol
       |ORDER BY score DESC, $idCol ASC LIMIT $k""".stripMargin
}
