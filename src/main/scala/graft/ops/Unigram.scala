package graft.ops

import graft.expr.TextMatch
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) subword segmentation — the OTHER
  * major tokenizer family beside [[Bpe]]: a piece VOCABULARY with
  * corpus-derived costs, and per-word Viterbi decoding that picks the
  * minimum-total-cost segmentation (Kudo 2018, "Subword Regularization";
  * the SentencePiece unigram model's decode step). Where SentencePiece
  * trains piece probabilities by EM, this repo derives them directly
  * from corpus substring frequencies — the EM seed vocabulary — and
  * keeps every cost INTEGER so the whole pipeline (vocabulary, costs,
  * the DP itself) restates in ANSI SQL and hash-matches cross-engine
  * (the [[NgramLm]] discipline):
  *
  *   cost(piece) = ilog2(total + 1) − ilog2(count(piece) + 1)
  *
  * with `ilog2(n) = length(bin(n))`, `count` the corpus occurrence count
  * of the substring (weighted by word frequency, multiple occurrences
  * inside one word all counting), `total` the sum over all retained
  * pieces — the integer twin of −log2 P(piece). Single-character pieces
  * are ALWAYS retained (the coverage guarantee every unigram tokenizer
  * needs: any word segments into characters in the worst case); longer
  * pieces survive `minCount`. An unseen character at decode time costs
  * the flat [[NgramLm.OovCost]].
  *
  * Viterbi with deterministic tiebreak: the DP value packs
  * `cost·256 + tokens` into one long, so `min` ranks by total cost
  * first, FEWEST pieces second — bit-stable on any cluster, no float
  * anywhere. (Token counts stay < 256 because words are capped at
  * `maxWordLen` ≤ 64, enforced by an in-plan `raise_error`.)
  *
  * Scale shape: the vocabulary is one exploded substring aggregation
  * (map-side combined; `maxPieceLen·|word|` spans per word occurrence —
  * corpus-linear) pruned to a broadcastable Zipf head; decoding works
  * over the DISTINCT-word table (Heaps-law-sized, not corpus-sized),
  * each word's DP a row-local `aggregate` fold over its collected span
  * list; per-document totals come back by one broadcast-friendly join
  * on the word. The corpus is never shuffled by anything wider than its
  * own tokens.
  */
object Unigram {

  /** Per-document unigram segmentation totals against a corpus-derived
    * piece vocabulary: `(idCol, uni_tokens, uni_cost)` — the number of
    * pieces and the total integer cost of the optimal segmentation of
    * every word occurrence. Documents with no analyzable tokens keep a
    * row with zeros (a downstream filter must see every document, the
    * [[NgramLm.scoreDocs]] contract).
    */
  def segmentCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxPieceLen: Int = 4,
      minCount: Int = 2,
      maxWordLen: Int = 32): DataFrame =
    segmentCountsWithPieces(docs, idCol, textCol,
      pieceCounts(docs, textCol, maxPieceLen, maxWordLen),
      maxPieceLen, minCount, maxWordLen)

  /** One row per WORD OCCURRENCE of the analyzed text: `(_id, word)`. */
  private def occurrences(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(s"`$idCol`").as("_id"),
        explode(split(trim(TextMatch.normalized(col(s"`$textCol`"))), " ")).as("word"))
      .where(length(col("word")) > 0)

  private def guardLen(word: Column, maxWordLen: Int): Column =
    when(length(word) > maxWordLen,
      raise_error(concat(lit("unigram: word longer than maxWordLen="),
        lit(maxWordLen), lit(": "), word)))
      .otherwise(word)

  /** All substrings (1-based inclusive `[s, e]`, length ≤ maxPieceLen)
    * of a word column, as an array of `(s, e, piece)` structs.
    */
  private def spansOf(word: Column, maxPieceLen: Int): Column =
    flatten(transform(sequence(lit(1), length(word)), s =>
      transform(sequence(lit(1), least(lit(maxPieceLen), length(word) - s + 1)), l =>
        struct(s.as("s"), (s + l - 1).as("e"),
          word.substr(s, l).as("piece")))))

  /** The RAW (unpruned) piece-count artifact: corpus substring
    * occurrence counts weighted by word frequency — `(piece, cnt)`.
    * Integer sums, so per-batch counts MERGE: this is the at-rest table
    * a stream maintains ([[graft.streaming.EventStreams
    * .maintainUnigramPieces]]); pruning happens at SERVE time
    * ([[segmentCountsWithPieces]]) so merging can never lose counts.
    */
  def pieceCounts(
      docs: DataFrame,
      textCol: String,
      maxPieceLen: Int = 4,
      maxWordLen: Int = 32): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 16,
      s"maxPieceLen must be 1..16, got $maxPieceLen")
    val words = docs.select(
        explode(split(trim(TextMatch.normalized(col(s"`$textCol`"))), " ")).as("word"))
      .where(length(col("word")) > 0)
    val wf = words.groupBy("word").agg(count(lit(1)).as("occ"))
      .withColumn("word", guardLen(col("word"), maxWordLen))
    wf.select(col("occ"), explode(spansOf(col("word"), maxPieceLen)).as("sp"))
      .groupBy(col("sp.piece").as("piece")).agg(sum(col("occ")).as("cnt"))
  }

  /** [[segmentCounts]] against a PREBUILT raw piece-count frame — the
    * serve path over the at-rest (possibly stream-maintained) artifact.
    * Identical results to the inline form when the counts came from the
    * same corpus (spec-pinned).
    */
  def segmentCountsWithPieces(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      rawCounts: DataFrame,
      maxPieceLen: Int = 4,
      minCount: Int = 2,
      maxWordLen: Int = 32): DataFrame = {
    val decoded = decode(docs, idCol, textCol, rawCounts,
      maxPieceLen, minCount, maxWordLen)
    val perWord = decoded.select(col("word"),
      element_at(col("_dp"), length(col("word")) + 1).as("best"))
    val perDoc = occurrences(docs, idCol, textCol).join(perWord, Seq("word"))
      .groupBy(col("_id"))
      .agg(sum(col("best") % 256L).as("uni_tokens"),
        sum(expr("best div 256")).as("uni_cost"))
    docs.select(col(s"`$idCol`").as("_id")).distinct()
      .join(perDoc, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        coalesce(col("uni_tokens"), lit(0L)).as("uni_tokens"),
        coalesce(col("uni_cost"), lit(0L)).as("uni_cost"))
  }

  /** The ACTUAL segmentation — per document, the optimal piece sequence
    * in document word order (`(idCol, pieces: array<string>)`): the
    * usable tokenizer output (feed it where [[Bpe.applyMerges]] feeds,
    * e.g. [[Packing]]'s token streams). Reconstruction is a backward
    * walk over the SAME dp array the counts form produced: from
    * `pos = L`, take the span ending at `pos` whose `dp(s−1) + comb`
    * realizes `dp(pos)` — the LONGEST such piece (smallest `s`) on ties,
    * deterministic; boundaries reverse into `[0, …, L]` and pieces are
    * the substrings between them. Consistency with the counts form
    * (`|pieces| = uni_tokens`, pieces rejoin to the text) is spec-pinned.
    */
  def segmentPieces(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxPieceLen: Int = 4,
      minCount: Int = 2,
      maxWordLen: Int = 32): DataFrame = {
    val decoded = decode(docs, idCol, textCol,
      pieceCounts(docs, textCol, maxPieceLen, maxWordLen),
      maxPieceLen, minCount, maxWordLen)
    val walked = decoded
      .withColumn("_walk",
        aggregate(
          sequence(lit(1), length(col("word"))),
          struct(length(col("word")).as("pos"),
            array(length(col("word"))).as("ends")),
          (acc, _) => {
            val pos = acc.getField("pos")
            val prev = array_min(transform(
              filter(col("sps"), sp => sp.getField("e") === pos &&
                element_at(col("_dp"), sp.getField("s")) + sp.getField("comb")
                  === element_at(col("_dp"), pos + 1)),
              sp => sp.getField("s") - 1))
            when(pos > 0,
              struct(prev.as("pos"),
                concat(acc.getField("ends"), array(prev)).as("ends")))
              .otherwise(acc)
          }))
      .withColumn("_b", reverse(col("_walk").getField("ends")))
      .select(col("word"),
        transform(sequence(lit(1), size(col("_b")) - 1), i =>
          col("word").substr(element_at(col("_b"), i) + 1,
            element_at(col("_b"), i + 1) - element_at(col("_b"), i)))
          .as("pieces"))
    // per-doc pieces in document word order
    val occPos = docs.select(col(s"`$idCol`").as("_id"),
        posexplode(split(trim(TextMatch.normalized(col(s"`$textCol`"))), " ")))
      .toDF("_id", "_p", "word")
      .where(length(col("word")) > 0)
    val byDoc = occPos.join(walked, Seq("word"))
      .groupBy("_id")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("_p"), col("pieces")))),
        s => s.getField("pieces"))).as("pieces"))
    docs.select(col(s"`$idCol`").as("_id")).distinct()
      .join(byDoc, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        coalesce(col("pieces"), array().cast("array<string>")).as("pieces"))
  }

  /** Shared decode core: distinct scored words with their span lists and
    * forward-DP arrays — `(word, sps, _dp)`.
    */
  private def decode(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      rawCounts: DataFrame,
      maxPieceLen: Int,
      minCount: Int,
      maxWordLen: Int): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 16,
      s"maxPieceLen must be 1..16, got $maxPieceLen")
    require(maxWordLen >= 1 && maxWordLen <= 64,
      s"maxWordLen must be 1..64 (token counts pack into 8 bits), got $maxWordLen")

    val occ = occurrences(docs, idCol, textCol)
    // distinct scored words, with the loud length guard in-plan
    val wf = occ.groupBy("word").agg(count(lit(1)).as("occ"))
      .withColumn("word", guardLen(col("word"), maxWordLen))
    val sp = wf.select(col("word"), explode(spansOf(col("word"), maxPieceLen)).as("sp"))
      .select(col("word"), col("sp.s").as("s"), col("sp.e").as("e"),
        col("sp.piece").as("piece"))

    // prune the raw counts at serve time: coverage chars always retained
    val pc = rawCounts
      .where(col("cnt") >= minCount || length(col("piece")) === 1)
    val tot = pc.agg(sum(col("cnt")).as("t"))
    def ilog2p1(c: Column): Column = length(bin(c + lit(1L))).cast("long")
    val costs = pc.crossJoin(broadcast(tot))
      .select(col("piece"),
        (ilog2p1(col("t")) - ilog2p1(col("cnt"))).as("cost"))

    // spans of each distinct word, joined to costs; single chars fall
    // back to the flat OOV cost, longer out-of-vocab spans drop
    val spans = sp.select("word", "s", "e", "piece").distinct()
      .join(broadcast(costs), Seq("piece"), "left")
      .withColumn("cost",
        when(col("cost").isNotNull, col("cost"))
          .when(col("e") === col("s"), lit(NgramLm.OovCost)))
      .where(col("cost").isNotNull)
      // pack (cost, one piece) into the single-long DP addend
      .select(col("word"), struct(col("s"), col("e"),
        (col("cost") * 256L + 1L).as("comb")).as("sp"))

    // the Viterbi fold: dp(0)=0; dp(i) = min over spans ending at i of
    // dp(s-1) + comb — one row-local aggregate over the collected spans
    spans.groupBy("word").agg(collect_list(col("sp")).as("sps"))
      .withColumn("_dp",
        aggregate(
          sequence(lit(1), length(col("word"))),
          array(lit(0L)),
          (acc, i) => concat(acc, array(
            array_min(transform(
              filter(col("sps"), sp => sp.getField("e") === i),
              sp => element_at(acc, sp.getField("s")) + sp.getField("comb")))))))
  }

  /** DuckDB restatement of the whole pipeline — identical analyzer,
    * identical weighted substring counts and integer costs, and the
    * identical DP via UNROLLED position CTEs (the [[Bpe]] replay
    * precedent: `maxWordLen` chained `dp<i>` stages, each a min-join
    * against the accumulated table). Single-long packing makes every
    * `min` a plain BIGINT min.
    */
  def oracleSql(
      table: String,
      idCol: String,
      textExpr: String,
      maxPieceLen: Int = 4,
      minCount: Int = 2,
      maxWordLen: Int = 32): String = {
    val toks = TextMatch.tokensSql(textExpr)
    // a<i> references a<i-1> twice (directly and through dp<i>), so the
    // accumulators are MATERIALIZED — without it DuckDB inlines the chain
    // into a 2^maxWordLen-way plan explosion.
    val dpChain = (1 to maxWordLen).map { i =>
      val prev = if (i == 1) "dp0" else s"a${i - 1}"
      s"""dp$i AS (
         |  SELECT s.word, min(p.best + s.cost * 256 + 1)::BIGINT AS best
         |  FROM spans s JOIN $prev p ON p.word = s.word AND p.pos = s.s - 1
         |  WHERE s.e = $i GROUP BY s.word
         |), a$i AS MATERIALIZED (
         |  SELECT * FROM $prev UNION ALL SELECT word, $i AS pos, best FROM dp$i
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH occ AS (
       |  SELECT $idCol AS _id, t AS word
       |  FROM (SELECT $idCol, unnest($toks) AS t FROM $table)
       |), wf AS (
       |  SELECT word, count(*)::BIGINT AS occ FROM occ GROUP BY 1
       |), dw AS (
       |  SELECT DISTINCT word FROM wf
       |), sp AS (
       |  SELECT w.word, u.i AS s, u.i + v.l - 1 AS e,
       |    substr(w.word, u.i, v.l) AS piece
       |  FROM dw w,
       |    unnest(range(1, len(w.word) + 1)) AS u(i),
       |    unnest(range(1, $maxPieceLen + 1)) AS v(l)
       |  WHERE u.i + v.l - 1 <= len(w.word)
       |), pc AS (
       |  SELECT piece, sum(f.occ)::BIGINT AS cnt
       |  FROM sp JOIN wf f USING (word) GROUP BY 1
       |  HAVING sum(f.occ) >= $minCount OR length(piece) = 1
       |), tot AS (
       |  SELECT sum(cnt)::BIGINT AS t FROM pc
       |), costs AS (
       |  SELECT piece,
       |    (length(bin(t + 1)) - length(bin(cnt + 1)))::BIGINT AS cost
       |  FROM pc, tot
       |), spans AS (
       |  SELECT s.word, s.s, s.e,
       |    CASE WHEN c.cost IS NOT NULL THEN c.cost
       |         WHEN s.e = s.s THEN ${NgramLm.OovCost} END AS cost
       |  FROM (SELECT DISTINCT word, s, e, piece FROM sp) s
       |  LEFT JOIN costs c ON c.piece = s.piece
       |  WHERE c.cost IS NOT NULL OR s.e = s.s
       |), dp0 AS (
       |  SELECT word, 0 AS pos, 0::BIGINT AS best FROM dw
       |),
       |$dpChain,
       |final AS (
       |  SELECT p.word, p.best FROM a$maxWordLen p
       |  WHERE p.pos = len(p.word)
       |), perdoc AS (
       |  SELECT o._id,
       |    sum(f.best % 256)::BIGINT AS uni_tokens,
       |    sum(f.best // 256)::BIGINT AS uni_cost
       |  FROM occ o JOIN final f USING (word) GROUP BY 1
       |)
       |SELECT d.$idCol,
       |  coalesce(p.uni_tokens, 0)::BIGINT AS uni_tokens,
       |  coalesce(p.uni_cost, 0)::BIGINT AS uni_cost
       |FROM (SELECT DISTINCT $idCol FROM $table) d
       |LEFT JOIN perdoc p ON p._id = d.$idCol
       |ORDER BY d.$idCol""".stripMargin
  }
}
