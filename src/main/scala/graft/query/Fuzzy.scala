package graft.query

import graft.expr.TextMatch
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fuzzy term retrieval at scale — the SymSpell deletion-neighborhood
  * index behind [[FilterSpec.FuzzyTerm]]'s scan form.
  *
  * ES serves `fuzzy` queries from a Levenshtein automaton over the term
  * dictionary FST; the distributed equivalent here is Wolf Garbe's
  * symmetric-delete scheme (public SymSpell algorithm): if
  * `lev(a, b) ≤ k` then deleting the edited positions from each side
  * reaches a COMMON string with ≤ k deletions per side (a substitution
  * deletes one char from each, an insert/delete one from one side) — so
  * joining the ≤k-deletion neighborhoods of the vocabulary against the
  * ≤k-deletion neighborhood of the query yields a candidate superset,
  * and a threshold-bounded `levenshtein` verify over |candidates| rows
  * (vocabulary-scale, not corpus-scale) makes it exact. Results are
  * therefore PROVABLY identical to the brute-force scan
  * ([[FilterSpecSpec]] pins the equivalence; the registered
  * `q_fuzzy_match_indexed` shares `q_fuzzy_match`'s oracle).
  *
  * 100 TB shape: the index is `|vocab| · (1 + L + L²/2)` rows — a
  * VOCABULARY-sized artifact (Heaps' law: sublinear in the corpus),
  * built once at rest beside the `_split` companions
  * ([[graft.store.SearchIndex]]'s pattern) and bucketable by variant.
  * A query expands to its own ≤k-deletion neighborhood (driver-side,
  * ≤ 1 + L + L²/2 strings), probes the index, verifies, and feeds the
  * surviving terms into one semi-join against the analyzed corpus — the
  * corpus is touched exactly once, by a pushdown-friendly token
  * containment, never by per-row edit distance.
  */
object Fuzzy {

  /** Distinct analyzed vocabulary of `textCol` — the term dictionary. */
  def vocabulary(df: DataFrame, textCol: Column): DataFrame =
    df.select(explode(split(trim(TextMatch.normalized(textCol)), " ")).as("term"))
      .where(length(col("term")) > 0)
      .distinct()

  /** The ≤`maxEdits`-deletion neighborhood of every vocabulary term:
    * `(variant, term)` rows, the term itself included (0 deletions).
    * Column-algebra only (`sequence`/`transform` over positions) — no
    * UDF, vocabulary-sized work.
    */
  def deletionIndex(vocab: DataFrame, maxEdits: Int): DataFrame = {
    require(maxEdits >= 0 && maxEdits <= 2,
      s"maxEdits must be 0..2 (the Lucene bound), got $maxEdits")
    def deletes(c: Column): Column =
      transform(
        sequence(lit(0), length(c) - 1),
        i => concat(c.substr(lit(1), i), c.substr(i + 2, length(c))))
    val d0 = array(col("term"))
    val neighborhood = maxEdits match {
      case 0 => d0
      case 1 => concat(d0, deletes(col("term")))
      case 2 =>
        val d1 = deletes(col("term"))
        concat(d0, d1, flatten(transform(d1, v => deletes(v))))
    }
    vocab.select(
        col("term"), explode(array_distinct(neighborhood)).as("variant"))
      .select(col("variant"), col("term"))
  }

  /** Driver-side twin of [[deletionIndex]] for the query term. */
  private[query] def deletionNeighborhood(term: String, maxEdits: Int): Seq[String] = {
    def deletes(s: String): Seq[String] =
      s.indices.map(i => s.substring(0, i) + s.substring(i + 1))
    val d0 = Seq(term)
    (maxEdits match {
      case 0 => d0
      case 1 => d0 ++ deletes(term)
      case 2 =>
        val d1 = deletes(term)
        d0 ++ d1 ++ d1.flatMap(deletes)
    }).distinct
  }

  /** Vocabulary terms within `maxEdits` of `term` (first `prefixLength`
    * chars exact — ES's own knob): probe the deletion index with the
    * query's neighborhood, then the exact threshold-bounded verify.
    * Output: `(term)` — the matched dictionary entries.
    */
  def matchingTerms(
      index: DataFrame, term: String, maxEdits: Int,
      prefixLength: Int = 0): DataFrame = {
    val q = term.toLowerCase
    val probes = deletionNeighborhood(q, maxEdits)
    val verified = index
      .where(col("variant").isin(probes: _*))
      .select("term").distinct()
      // length pruning is implied by the neighborhood construction; the
      // levenshtein verify is what makes the candidate superset exact.
      .where(levenshtein(col("term"), lit(q)) <= maxEdits)
    if (prefixLength > 0)
      verified.where(substring(col("term"), 1, prefixLength) === q.take(prefixLength))
    else verified
  }

  /** ES term suggester — "did you mean": vocabulary terms within
    * `maxEdits` of `input`, ranked the deterministic way (distance
    * ascending, document frequency descending, term ascending — ES ranks
    * by string-similarity score then frequency; classic Levenshtein
    * replaces its internal distance, the [[FilterSpec.FuzzyTerm]]
    * transpositions delta). The input term itself (distance 0) is never
    * suggested. Output: `(term, freq, distance)`, top `n`.
    *
    * Candidates come from the same SymSpell deletion probe as retrieval
    * — vocabulary-sized work; frequency is DOCUMENT frequency (one count
    * per containing document, ES's popular-mode statistic).
    */
  def suggestTerms(
      df: DataFrame, textCol: Column, input: String,
      maxEdits: Int = 2, n: Int = 5): DataFrame =
    suggestTermsFromVocab(vocabularyWithFreq(df, textCol), input, maxEdits, n)

  /** The `(term, freq)` vocabulary with DOCUMENT frequencies — the
    * at-rest artifact behind the suggester and the deletion index.
    * Per-batch counts are integer sums, so a stream maintains it
    * incrementally ([[graft.streaming.EventStreams.maintainFuzzyVocab]]).
    */
  def vocabularyWithFreq(df: DataFrame, textCol: Column): DataFrame =
    df.select(array_distinct(
        split(trim(TextMatch.normalized(textCol)), " ")).as("_ts"))
      .select(explode(col("_ts")).as("term"))
      .where(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("freq"))

  /** [[suggestTerms]] over an already-built `(term, freq)` vocabulary —
    * the serve path against the at-rest (possibly stream-maintained)
    * artifact. The deletion index is rebuilt from the vocabulary here
    * (deterministic per term, vocabulary-sized work); a deployment
    * persists it beside the vocabulary and probes it directly.
    */
  def suggestTermsFromVocab(
      vocab: DataFrame, input: String,
      maxEdits: Int = 2, n: Int = 5): DataFrame = {
    val q = input.toLowerCase
    val cand = matchingTerms(deletionIndex(vocab.select("term"), maxEdits), q, maxEdits)
    vocab.join(broadcast(cand), "term")
      .withColumn("distance", levenshtein(col("term"), lit(q)))
      .where(col("distance") >= 1)
      .orderBy(asc("distance"), desc("freq"), asc("term"))
      .limit(n)
  }

  /** ES completion suggester — the type-ahead suggester, over the same
    * at-rest `(term, freq)` vocabulary as the term suggester: exact-prefix
    * completions always; with `fuzziness` > 0 also terms whose
    * SAME-LENGTH prefix sits within `fuzziness` edits of the typed
    * prefix, provided the first `prefixLength` characters match exactly
    * (ES's `fuzzy.prefix_length` guard, default 1 — the FST never pays an
    * edit on the first character by default).
    *
    * Ranking is ES's documented fuzzy-completion rule made deterministic:
    * prefix edit distance ascending ("suggestions that share the longest
    * prefix to the query prefix will be scored higher"), then weight
    * descending, then term ascending. Weight is DOCUMENT frequency — ES
    * completion weights are authoring-time integers on the suggest
    * field; df is the corpus-derived stand-in (the typeahead tier's
    * standing rule). Stated delta: completions shorter than the typed
    * prefix never match (ES's FST can reach one through delete edits).
    *
    * Scale shape: vocabulary-sized work over the at-rest artifact — a
    * codegen'd prefix/edit filter + `orderBy.limit` top-k; nothing
    * corpus-sized, no joins. Output: `(term, freq, distance)`.
    */
  def suggestCompletion(
      vocab: DataFrame, prefix: String, size: Int = 5,
      fuzziness: Int = 0, prefixLength: Int = 1): DataFrame = {
    val p = prefix.toLowerCase
    require(p.nonEmpty, "completion: empty prefix")
    require(fuzziness >= 0 && fuzziness <= 2,
      s"completion: fuzziness must be 0..2 (Lucene's bound), got $fuzziness")
    require(prefixLength >= 0, s"completion: prefix_length must be >= 0")
    val plen = p.length
    val guard = p.substring(0, math.min(prefixLength, plen))
    val dist = levenshtein(substring(col("term"), 1, plen), lit(p))
    val matches =
      if (fuzziness == 0) col("term").startsWith(p)
      else length(col("term")) >= plen &&
        col("term").startsWith(guard) && dist <= fuzziness
    vocab.where(matches)
      .withColumn("distance", dist.cast("long"))
      .orderBy(asc("distance"), desc("freq"), asc("term"))
      .limit(size)
      .select("term", "freq", "distance")
  }

  /** ES phrase suggester — whole-phrase "did you mean", ES's own
    * architecture faithfully: per-position candidate terms from a direct
    * generator (here the Levenshtein band over the vocabulary — the
    * SymSpell probe serves the same set at scale), candidate SEQUENCES
    * from the per-position cross product, each sequence RESCORED by a
    * corpus-trained n-gram language model (ES uses a Laplace/stupid-
    * backoff word LM over the index; here [[graft.ops.NgramLm]]'s
    * integer-exact bigram model, so the whole chain restates in SQL).
    *
    * Per position `i`, candidates are the top `perTermCandidates` of
    * `{(t, lev(t, wᵢ), df(t)) : t ∈ vocab, lev ≤ maxEdits} ∪
    * {(wᵢ, 0, 0)}` ranked (distance asc, freq desc, term asc) after a
    * min-dist/max-freq dedup — the original term always survives (at
    * its real frequency when in-vocabulary). Ranking of sequences:
    * `total_cost = lm_cost + editPenaltyBits·Σ distances` ascending
    * (the default 3 bits/edit is a ~1-in-8 typo prior — the knob ES
    * exposes as `real_word_error_likelihood`),
    * suggestion ascending — the LM decides when the corrected phrase is
    * worth its edits ("tabel scan" → "table scan" because the corrected
    * bigram is cheap and the OOV one costs the flat 24 bits).
    *
    * Bounded by construction: ≤ `perTermCandidates^m` sequences (loud
    * require caps m and the branching), scored by two broadcast joins
    * against the minCount-pruned model — no corpus work beyond the
    * vocabulary build and LM training (both at-rest artifacts in a real
    * deployment). Output: `(suggestion, lm_cost, edits, total_cost)`.
    */
  def suggestPhrase(
      df: DataFrame, idCol: String, textCol: String, input: String,
      maxEdits: Int = 2, perTermCandidates: Int = 3, n: Int = 5,
      minCount: Int = 2, editPenaltyBits: Long = 3L): DataFrame = {
    val terms = TextMatch.analyze(input)
    require(terms.nonEmpty, s"suggestPhrase: '$input' has no analyzable terms")
    require(terms.size <= 5 && perTermCandidates <= 5,
      s"suggestPhrase: ${terms.size} terms × $perTermCandidates candidates — " +
        "the sequence cross product is capped at 5^5; shorten the phrase")
    val vocab = df
      .select(array_distinct(
        split(trim(TextMatch.normalized(col(s"`$textCol`"))), " ")).as("_ts"))
      .select(explode(col("_ts")).as("term"))
      .where(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("freq"))

    val spark = df.sparkSession
    val cands = terms.zipWithIndex.map { case (t, i) =>
      val band = vocab
        .where(levenshtein(col("term"), lit(t)) <= maxEdits)
        .select(col("term"),
          levenshtein(col("term"), lit(t)).cast("long").as("dist"), col("freq"))
      val withOriginal = band.unionByName(
        spark.range(1).select(lit(t).as("term"), lit(0L).as("dist"), lit(0L).as("freq")))
      withOriginal
        .groupBy("term")
        .agg(min(col("dist")).as("dist"), max(col("freq")).as("freq"))
        .orderBy(asc("dist"), desc("freq"), asc("term"))
        .limit(perTermCandidates)
        .select(col("term").as(s"_t$i"), col("dist").as(s"_d$i"))
    }
    val seq = cands.map(broadcast).reduce(_.crossJoin(_))
      .withColumn("suggestion",
        concat_ws(" ", terms.indices.map(i => col(s"_t$i")): _*))
      .withColumn("edits",
        terms.indices.map(i => col(s"_d$i")).reduce(_ + _))

    val (bigrams, contexts) =
      graft.ops.NgramLm.train(df, idCol, textCol, minCount)
    val scored = graft.ops.NgramLm.scoreDocs(
      seq.select("suggestion"), "suggestion", "suggestion", bigrams, contexts)
    seq.join(scored, "suggestion")
      .select(col("suggestion"), col("lm_cost"), col("edits"),
        (col("lm_cost") + lit(editPenaltyBits) * col("edits")).as("total_cost"))
      .orderBy(asc("total_cost"), asc("suggestion"))
      .limit(n)
  }

  /** DuckDB restatement of the whole [[suggestPhrase]] chain: the same
    * vocabulary document frequencies, the same banded candidates with
    * the min/max dedup and ranking, the same positional cross product,
    * and the SAME integer bigram-cost model CTEs the `quality_lm_*`
    * oracles replay (`ilog2 = length(bin(n+1))`, flat OOV constant).
    */
  def suggestPhraseOracleSql(
      table: String, textExpr: String, input: String,
      maxEdits: Int = 2, perTermCandidates: Int = 3, n: Int = 5,
      minCount: Int = 2, editPenaltyBits: Long = 3L): String = {
    val terms = TextMatch.analyze(input)
    require(terms.nonEmpty && terms.size <= 5)
    val toks = TextMatch.tokensSql(textExpr)
    val candCtes = terms.zipWithIndex.map { case (t, i) =>
      s"""cand$i AS (
         |  SELECT term, dist FROM (
         |    SELECT term, min(dist)::BIGINT AS dist, max(freq)::BIGINT AS freq FROM (
         |      SELECT term, levenshtein(term, '$t')::BIGINT AS dist, freq
         |      FROM v WHERE levenshtein(term, '$t') <= $maxEdits
         |      UNION ALL SELECT '$t' AS term, 0::BIGINT AS dist, 0::BIGINT AS freq
         |    ) GROUP BY term
         |  ) ORDER BY dist ASC, freq DESC, term ASC LIMIT $perTermCandidates
         |)""".stripMargin
    }.mkString(",\n")
    val seqCols = terms.indices.map(i => s"c$i.term AS t$i").mkString(", ")
    val seqFrom = terms.indices.map(i => s"cand$i c$i").mkString(", ")
    val editsSum = terms.indices.map(i => s"c$i.dist").mkString(" + ")
    val sugg = terms.indices.map(i => s"t$i").mkString(" || ' ' || ")
    val pairJoins = (0 until terms.size - 1).map { i =>
      s"""LEFT JOIN ctx x$i ON x$i.w1 = seq.t$i
         |LEFT JOIN bg b$i ON b$i.w1 = seq.t$i AND b$i.w2 = seq.t${i + 1}""".stripMargin
    }.mkString("\n")
    val costSum =
      if (terms.size == 1) "0"
      else (0 until terms.size - 1).map { i =>
        s"(CASE WHEN x$i.c1 IS NULL THEN ${graft.ops.NgramLm.OovCost} " +
          s"ELSE length(bin(x$i.c1 + 1)) - length(bin(coalesce(b$i.c2, 0) + 1)) END)"
      }.mkString(" + ")
    s"""WITH d AS (
       |  SELECT $toks AS ts FROM $table
       |), v AS (
       |  SELECT t AS term, count(*)::BIGINT AS freq
       |  FROM (SELECT list_distinct(ts) AS dts FROM d), unnest(dts) AS u(t)
       |  GROUP BY 1
       |), occ AS (
       |  SELECT ts[i] AS w1, ts[i + 1] AS w2
       |  FROM d, unnest(range(1, len(ts))) AS u(i)
       |), c2full AS (
       |  SELECT w1, w2, count(*)::BIGINT AS c2 FROM occ GROUP BY 1, 2
       |), ctx AS (
       |  SELECT w1, sum(c2)::BIGINT AS c1 FROM c2full
       |  GROUP BY 1 HAVING sum(c2) >= $minCount
       |), bg AS (
       |  SELECT w1, w2, c2 FROM c2full WHERE c2 >= $minCount
       |),
       |$candCtes,
       |seq AS (
       |  SELECT $seqCols, ($editsSum)::BIGINT AS edits FROM $seqFrom
       |), rescored AS (
       |  SELECT $sugg AS suggestion, seq.edits,
       |    ($costSum)::BIGINT AS lm_cost
       |  FROM seq
       |$pairJoins
       |)
       |SELECT suggestion, lm_cost, edits,
       |  (lm_cost + $editPenaltyBits * edits)::BIGINT AS total_cost
       |FROM rescored
       |ORDER BY total_cost ASC, suggestion ASC LIMIT $n""".stripMargin
  }

  /** End-to-end indexed fuzzy retrieval: documents of `df` containing an
    * analyzed token within `maxEdits` of `term`. Equals
    * `df.where(FilterSpec.FuzzyTerm(field, term, maxEdits, prefixLength)
    * .compile)` — the scan twin — by the SymSpell superset + exact
    * verify argument above.
    */
  def fuzzyDocs(
      df: DataFrame, textField: String, term: String, maxEdits: Int,
      prefixLength: Int = 0): DataFrame = {
    val vocab = vocabulary(df, col(textField))
    val matched = matchingTerms(deletionIndex(vocab, maxEdits), term, maxEdits, prefixLength)
    val tokens = df.withColumn("_tok",
      explode(split(trim(TextMatch.normalized(col(textField))), " ")))
    val hit = tokens
      .join(broadcast(matched), tokens("_tok") === matched("term"), "left_semi")
    hit.drop("_tok").dropDuplicates(df.columns)
  }
}
