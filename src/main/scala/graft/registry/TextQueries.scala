package graft
package registry

import graft.ops.{Dedup, Similarity, TextAnalysis}
import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SparkEntry._
import OracleSql._

/** Training-data ops: text analysis, tokenizers, quality models,
  * packing, decontamination and the pipeline compositions.
  */
object TextQueries extends Family("pipeline") {

  /** The analyzer-normalized text in DuckDB (mirror of
    * `trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))`).
    */
  private val duckNorm =
    "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"

  /** Shared by the plain and Bloom-prefiltered incremental dedup entries:
    * the pre-filter is an optimization, never a semantics change.
    */
  private def dedupExactIncrementalOracleSql: String =
    s"""WITH store AS (
       |  SELECT DISTINCT fp FROM (
       |    SELECT $duckNorm AS fp FROM documents WHERE doc_id % 2 = 0
       |  ) WHERE fp IS NOT NULL
       |), batch AS (
       |  SELECT source, doc_id, fp FROM (
       |    SELECT source, doc_id, $duckNorm AS fp FROM documents
       |    WHERE doc_id % 2 <> 0
       |  ) WHERE fp IS NOT NULL
       |), fresh AS (
       |  SELECT source, fp,
       |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
       |  FROM batch WHERE fp NOT IN (SELECT fp FROM store)
       |)
       |SELECT source, count(*) AS n_accepted FROM fresh WHERE rn = 1
       |GROUP BY source ORDER BY source""".stripMargin

  /** The BPE training loop replayed in SQL: 8 generated CTE triples
    * (pair counts with overlapping get_stats semantics via 1-based list
    * indexing; the argmax pair under the (count DESC, left, right) total
    * order; the rewrite as one global regexp_replace over the two-space
    * symbol encoding — leftmost non-overlapping in RE2 exactly as in Java
    * regex, see [[graft.ops.Bpe]]). Early exhaustion propagates as NULL
    * syms → empty pair sets → NULL merge rows, filtered at the end —
    * matching the engine's early stop. Every CTE is MATERIALIZED: the
    * chain is self-referential (w_i reads w_{i-1} three ways), and
    * DuckDB's default inlining re-expands the prefix exponentially —
    * materialization makes the oracle replay each iteration once, like
    * the engine does.
    */
  private val bpeMerges = 8

  /** The shared CTE body (wc, w0, and the k iteration triples, ending at
    * w$k — the fully-rewritten per-word symbol strings, `word` carried
    * through for the token-count join).
    */
  private val bpeCtes: String = {
    val k = bpeMerges
    val iters = (1 to k).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT ts[j] AS l, ts[j + 1] AS r, sum(freq)::BIGINT AS pair_count
         |  FROM (SELECT regexp_split_to_array(syms, '  ') AS ts, freq FROM w${i - 1}),
         |       unnest(range(1, len(ts))) AS u(j)
         |  GROUP BY 1, 2
         |), b$i AS MATERIALIZED (
         |  SELECT l, r, pair_count FROM p$i WHERE pair_count >= 2
         |  ORDER BY pair_count DESC, l ASC, r ASC LIMIT 1
         |), w$i AS MATERIALIZED (
         |  SELECT word, regexp_replace(syms,
         |    (SELECT l || '  ' || r FROM b$i),
         |    (SELECT l || r FROM b$i), 'g') AS syms, freq
         |  FROM w${i - 1}
         |)""".stripMargin
    }.mkString(",\n")
    s"""wc AS MATERIALIZED (
       |  SELECT t AS word, count(*)::BIGINT AS freq
       |  FROM (SELECT unnest($duckToks) AS t FROM documents) GROUP BY 1
       |), w0 AS MATERIALIZED (
       |  SELECT word, array_to_string(regexp_split_to_array(word, ''), '  ')
       |    || '  </w>' AS syms, freq FROM wc
       |),
       |$iters""".stripMargin
  }

  // NOTE: bpeCtes is concatenated, never re-interpolated under a second
  // stripMargin — its SQL contains `||` at line heads, which stripMargin
  // would truncate to a stray `|`.
  private val bpeOracleSql: String = {
    val ranks = (1 to bpeMerges).map { i =>
      s"""SELECT $i AS rank, (SELECT l FROM b$i) AS "left",
         |  (SELECT r FROM b$i) AS "right",
         |  (SELECT pair_count FROM b$i) AS pair_count""".stripMargin
    }.mkString("\nUNION ALL ")
    "WITH " + bpeCtes + "\n" +
      "SELECT rank, \"left\", \"right\", pair_count FROM (\n" +
      ranks + "\n" +
      ") WHERE \"left\" IS NOT NULL ORDER BY rank"
  }

  /** Learned-BPE token counts: w$bpeMerges IS every corpus word segmented
    * by the full merge table, so the per-doc count is one join of the
    * unnested token stream against it.
    */
  private val bpeTokensOracleSql: String =
    "WITH " + bpeCtes + ",\n" +
      s"""seg AS MATERIALIZED (
         |  SELECT word, len(regexp_split_to_array(syms, '  '))::BIGINT AS np
         |  FROM w$bpeMerges
         |)
         |SELECT d.doc_id, coalesce(a.bt, 0)::BIGINT AS bpe_tokens
         |FROM documents d LEFT JOIN (
         |  SELECT doc_id, sum(np)::BIGINT AS bt
         |  FROM (SELECT doc_id, unnest($duckToks) AS word FROM documents) t
         |  JOIN seg USING (word) GROUP BY 1
         |) a USING (doc_id)
         |ORDER BY doc_id""".stripMargin

  /** The bigram-LM pipeline as DuckDB CTEs ending at `costed(doc_id,
    * cost)` — adjacency-ordered bigrams by 1-based list indexing (DuckDB's
    * `range(1, len)` is exactly the bigram positions), counts, the
    * minCount=2 pruned head with full-count context totals, and the
    * per-occurrence ilog2 cost with the flat OOV constant; the exact
    * mirror of [[graft.ops.NgramLm.perplexityScore]]'s costed stream.
    * Shared by the score and filter oracles.
    */
  private val lmCostCtes =
    s"""lmtoks AS (
       |  SELECT doc_id, $duckToks AS ts FROM documents
       |), lmbg AS (
       |  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
       |  FROM lmtoks, unnest(range(1, len(ts))) AS u(i)
       |), lmc2 AS (
       |  SELECT w1, w2, count(*)::BIGINT AS c2 FROM lmbg GROUP BY 1, 2
       |), lmctx AS (
       |  SELECT w1, sum(c2)::BIGINT AS c1 FROM lmc2
       |  GROUP BY 1 HAVING sum(c2) >= 2
       |), lmhead AS (
       |  SELECT w1, w2, c2 FROM lmc2 WHERE c2 >= 2
       |), costed AS (
       |  SELECT b.doc_id,
       |    (CASE WHEN x.c1 IS NULL THEN ${ops.NgramLm.OovCost}
       |          ELSE length(bin(x.c1 + 1)) - length(bin(coalesce(h.c2, 0) + 1))
       |     END)::BIGINT AS cost
       |  FROM lmbg b
       |  LEFT JOIN lmctx x USING (w1)
       |  LEFT JOIN lmhead h USING (w1, w2)
       |)""".stripMargin

  /** The DSIR scoring pipeline as DuckDB CTEs ending at `scored(doc_id,
    * lang, n_feats, bits, bits_per_1k)` — the exact mirror of
    * [[graft.ops.Sampling.importanceScores]] at sample_importance's
    * parameters (English target, 1024 md5 buckets, ±16-bit clip, seed 7):
    * adjacency-ordered bigrams, the portable 52-bit bucket hash, raw and
    * conditional target counts, the clipped ilog2 weight with the 1-row
    * corpus normalizer, and the per-doc IEEE rate. Shared by the score and
    * priority-sampling oracles.
    */
  private def dsirCtes(modelPred: String, scorePred: String): String = {
    val bg = "ts[i] || ' ' || ts[i + 1]"
    val bucket = s"(${ops.Sampling.hashBits52Sql(bg, 7)} % 1024)"
    s"""dt AS (
       |  SELECT doc_id, lang, $duckToks AS ts FROM documents
       |), dfeat AS (
       |  SELECT doc_id, lang, $bucket AS b
       |  FROM dt, unnest(range(1, len(ts))) AS u(i)
       |), model AS (
       |  SELECT b, count(*)::BIGINT AS cr,
       |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS ct
       |  FROM dfeat WHERE $modelPred GROUP BY b
       |), tot AS (
       |  SELECT sum(cr)::BIGINT AS nr, sum(ct)::BIGINT AS nt FROM model
       |), wts AS (
       |  SELECT b, greatest(-16, least(16,
       |    length(bin(ct + 1)) - length(bin(cr + 1))
       |      + length(bin(nr + 1)) - length(bin(nt + 1))))::BIGINT AS w
       |  FROM model, tot
       |), scored AS (
       |  SELECT doc_id, lang, count(*)::BIGINT AS n_feats, sum(w)::BIGINT AS bits,
       |    (1000.0 * sum(w)) / count(*) AS bits_per_1k
       |  FROM dfeat JOIN wts USING (b)
       |  WHERE $scorePred
       |  GROUP BY doc_id, lang
       |)""".stripMargin
  }

  private val dsirScoreCtes = dsirCtes("TRUE", "TRUE")

  /** The language-ID scores in DuckDB, mirroring [[TextAnalysis.languageId]]:
    * per-language token-hit ratio, Han-codepoint ratio, alphabetically-last
    * max-score language wins (the Spark fold's semantics), `und` below the
    * 0.05 threshold, `zh` when Han ratio exceeds 0.25. Emitted as CTEs whose
    * final relation `lang_per_doc` is `(doc_id, lang_pred)` — shared by the
    * corpus histogram and the composed prep-pipeline oracle.
    */
  private def langIdCtes: String = {
    val profiles = TextAnalysis.languageProfiles.toSeq.sortBy(_._1)
    val scoreCols = profiles.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString("[", ",", "]")
      s"CASE WHEN len(toks) = 0 THEN 0.0 ELSE " +
        s"len(list_filter(toks, x -> list_contains($list, x)))::DOUBLE / len(toks) END AS $lang"
    }.mkString(",\n    ")
    val langs = profiles.map(_._1)
    val best = s"greatest(${langs.mkString(", ")})"
    // reverse alphabetical: the Spark foldLeft lets the LAST tying language win
    val pickBranches = langs.reverse.map(l => s"WHEN $l = $best THEN '$l'").mkString(" ")
    s"""lang_t AS (
       |  SELECT doc_id, text, $duckToks AS toks FROM documents
       |), lang_s AS (
       |  SELECT doc_id, $scoreCols,
       |    CASE WHEN len(text) = 0 THEN 0.0
       |         ELSE len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]'))::DOUBLE / len(text)
       |    END AS han
       |  FROM lang_t
       |), lang_per_doc AS (
       |  SELECT doc_id,
       |    CASE WHEN han > 0.25 THEN 'zh'
       |         WHEN $best < 0.05 THEN 'und'
       |         $pickBranches
       |         ELSE 'und' END AS lang_pred
       |  FROM lang_s
       |)""".stripMargin
  }

  private def langIdOracle: String =
    s"""WITH $langIdCtes
       |SELECT lang_pred, count(*) AS n FROM lang_per_doc
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-document quality-score mirror (the [[TextAnalysis.qualityScore]]
    * closed formula), as a CTE `quality_per_doc(doc_id, quality_score)`.
    */
  private def qualityCtes: String = {
    val stoplist = TextAnalysis.englishStopwords.map(w => s"'$w'").mkString("[", ",", "]")
    s"""q_m AS (
       |  SELECT doc_id,
       |    CASE WHEN len(trim(text)) = 0 THEN 0
       |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END::BIGINT AS q_tokens,
       |    CASE WHEN len(text) = 0 THEN 0.0
       |         ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE / len(text) END AS q_punct,
       |    CASE WHEN len(toks) = 0 THEN 0.0
       |         ELSE len(list_filter(toks, t -> list_contains($stoplist, t)))::DOUBLE / len(toks) END AS q_stop,
       |    CASE WHEN len(toks) = 0 THEN 0.0
       |         ELSE list_sum(list_transform(toks, t -> len(t)))::DOUBLE / len(toks) END AS q_mean_len
       |  FROM (SELECT doc_id, text, $duckToks AS toks FROM documents)
       |), quality_per_doc AS (
       |  SELECT doc_id,
       |    (least(1.0, q_tokens / 100.0)
       |     + greatest(0.0, 1.0 - abs(q_stop - 0.4) / 0.4)
       |     + (1.0 - least(1.0, q_punct * 5.0))
       |     + (1.0 - least(1.0, abs(q_mean_len - 5.0) / 5.0))) * 0.25 AS quality_score
       |  FROM q_m
       |)""".stripMargin
  }

  /** The assembly composition restated stage by stage, each fragment the
    * same proven restatement its standalone oracle uses: quality CTEs →
    * boilerplate df over the FILTERED frame (the ndocs threshold counts
    * survivors, as the engine's boilerplateProfile does) → segment cut
    * with ordered string_agg rebuild → min-id winner per normalized
    * rebuilt text → per-source budget window on the md5 unit hash →
    * md5-mod shard → (source, shard) manifest. Shared verbatim by
    * `pipeline_assemble` and `pipeline_assemble_published` — the published
    * form differs only in WHERE intermediates live, which must be
    * invisible to results.
    */
  private def assembleOracleSql: String =
    s"""WITH $qualityCtes,
       |q AS (
       |  SELECT d.doc_id, d.text, d.source FROM documents d
       |  JOIN quality_per_doc USING (doc_id) WHERE quality_score >= 0.5
       |), bp_g AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(toks) - 2),
       |    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS gram
       |  FROM (SELECT doc_id, $duckToks AS toks FROM q) WHERE len(toks) >= 3
       |), bp_freq AS (
       |  SELECT gram FROM bp_g GROUP BY gram
       |  HAVING count(*) >= ceil((SELECT count(*) FROM q) * 0.01)
       |), bp_ratio AS (
       |  SELECT g.doc_id, count(f.gram)::DOUBLE / count(*) AS ratio
       |  FROM bp_g g LEFT JOIN bp_freq f ON g.gram = f.gram GROUP BY g.doc_id
       |), kept AS (
       |  SELECT q.* FROM q WHERE NOT EXISTS (
       |    SELECT 1 FROM bp_ratio p WHERE p.doc_id = q.doc_id AND p.ratio > 0.35)
       |), seg AS (
       |  SELECT doc_id, i - 1 AS seg_idx,
       |    array_to_string(toks[(i - 1) * 8 + 1 : i * 8], ' ') AS seg
       |  FROM (SELECT doc_id, $duckToks AS toks FROM kept),
       |       unnest(generate_series(1, (len(toks) + 7) // 8)) AS u(i)
       |  WHERE len(toks) > 0
       |), over_rep AS (
       |  SELECT seg FROM seg GROUP BY seg HAVING count(*) > 1
       |), rebuilt AS (
       |  SELECT s.doc_id,
       |    string_agg(CASE WHEN o.seg IS NULL THEN s.seg END,
       |      ' ' ORDER BY s.seg_idx) AS text
       |  FROM seg s LEFT JOIN over_rep o ON s.seg = o.seg
       |  GROUP BY s.doc_id
       |  HAVING count(*) - count(o.seg) > 0
       |), winners AS (
       |  SELECT r.doc_id, r.text, k.source FROM (
       |    SELECT doc_id, text,
       |      row_number() OVER (PARTITION BY $duckNorm ORDER BY doc_id) AS rn
       |    FROM rebuilt
       |  ) r JOIN kept k USING (doc_id) WHERE rn = 1
       |), bud AS (
       |  SELECT doc_id, source,
       |    (CASE WHEN len(trim(text)) = 0 THEN 0
       |          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)::BIGINT
       |      AS n_tok,
       |    ${ops.Sampling.hashUnitSql("doc_id", 42)} AS u
       |  FROM winners
       |), cum AS (
       |  SELECT doc_id, source, n_tok,
       |    (sum(n_tok) OVER (PARTITION BY source ORDER BY u, doc_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
       |      AS cum_tok
       |  FROM bud WHERE n_tok > 0
       |), sel AS (
       |  SELECT doc_id, source, n_tok FROM cum WHERE cum_tok <= 400
       |)
       |SELECT source, ${ops.Sampling.hashBits52Sql("doc_id", 42)} % 4 AS shard,
       |  count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens
       |FROM sel GROUP BY 1, 2 ORDER BY source, shard""".stripMargin

  val cases: Seq[QueryCase] = Seq(
    // ===== Training-data ops: text analysis =====

    QueryCase("text_profile", (s, dir) => {
      implicit val spark: SparkSession = s
      val c = col("text")
      load(dir, "documents").select(
        col("doc_id"),
        // Ratio columns stay UNROUNDED: both engines compute bit-identical
        // doubles from identical expression trees, while round() on the
        // small-rational grid these land on (p/q, tiny q) hits .xxx5 ties
        // that the two engines' round() break differently.
        TextAnalysis.tokenCount(c).cast("long").as("token_count"),
        TextAnalysis.bpeTokenEstimate(c).cast("long").as("bpe_token_estimate"),
        TextAnalysis.punctRatio(c).as("punct_ratio"),
        TextAnalysis.stopwordRatio(c).as("stopword_ratio"),
        TextAnalysis.meanTokenLength(c).as("mean_token_length"),
        TextAnalysis.qualityScore(c).as("quality_score"))
        .orderBy("doc_id")
    }, Some(
      s"""WITH t AS (
         |  SELECT doc_id, text, $duckToks AS toks FROM documents
         |), m AS (
         |  SELECT doc_id,
         |    CASE WHEN len(trim(text)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END::BIGINT AS token_count,
         |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))::BIGINT AS bpe_token_estimate,
         |    CASE WHEN len(text) = 0 THEN 0.0
         |         ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE / len(text) END AS punct_ratio,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |         ELSE len(list_filter(toks, t -> list_contains(${TextAnalysis.englishStopwords.map(w => s"'$w'").mkString("[", ",", "]")}, t)))::DOUBLE / len(toks) END AS stopword_ratio,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |         ELSE list_sum(list_transform(toks, t -> len(t)))::DOUBLE / len(toks) END AS mean_token_length
         |  FROM t
         |)
         |SELECT doc_id, token_count, bpe_token_estimate,
         |  punct_ratio, stopword_ratio, mean_token_length,
         |  (least(1.0, token_count / 100.0)
         |       + greatest(0.0, 1.0 - abs(stopword_ratio - 0.4) / 0.4)
         |       + (1.0 - least(1.0, punct_ratio * 5.0))
         |       + (1.0 - least(1.0, abs(mean_token_length - 5.0) / 5.0))) * 0.25 AS quality_score
         |FROM m ORDER BY doc_id""".stripMargin)),

    QueryCase("text_langid", (s, dir) => {
      implicit val spark: SparkSession = s
      load(dir, "documents")
        .withColumn("lang_pred", TextAnalysis.languageId(col("text")))
        .groupBy("lang_pred")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang_pred")
    }, Some(langIdOracle)),

    QueryCase("text_content_fingerprint", (s, dir) => {
      implicit val spark: SparkSession = s
      // Portable md5 form so DuckDB can oracle it; the xxhash64 variant
      // (same normalization) drives exactByFingerprint and is spec-tested.
      // RENAMED from text_fingerprint in round 17: the ES fingerprint-
      // ANALYZER query later registered under the same key, and the Map
      // literal's last-wins rule silently shadowed THIS dedup-tier
      // content-fingerprint pair from that round on — found the moment
      // the registry construction started rejecting duplicates.
      load(dir, "documents")
        .select(col("doc_id"), TextAnalysis.contentFingerprintHex(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }, Some(
      s"""SELECT doc_id, md5($duckNorm) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin)),

    // Training AND scoring restated: df counts per (token, class), integer
    // floor-div quantized odds-ratio weights (all operands positive, so //
    // ≡ Spark's div), BIGINT tf·w scores; vocab-free docs keep score 0.
    QueryCase("quality_classifier_score", (s, dir) => {
      implicit val spark: SparkSession = s
      // Classifier distillation (CCNet-style): train integer odds-ratio
      // token weights on the exact length weak label, score every document
      // — training end to end IN the oracle, no model file. Weights are
      // floor-div-quantized log-odds (positive operands, so Spark's
      // truncating `div` ≡ DuckDB's flooring `//`), scores BIGINT tf·w
      // sums: the whole train-then-score pipeline hash-matches.
      ops.QualityModel.distill(load(dir, "documents"), "doc_id", "text",
          ops.QualityModel.lengthLabel(col("text")), minDf = 2)
        .orderBy("doc_id")
    }, Some(
      s"""WITH posting AS (
         |  SELECT doc_id, t, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest($duckToks) AS t FROM documents)
         |  GROUP BY 1, 2
         |), labels AS (
         |  SELECT doc_id,
         |    (CASE WHEN len(trim(text)) = 0 THEN 0
         |          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) >= 50 AS pos
         |  FROM documents
         |), dfc AS (
         |  SELECT t,
         |    sum(CASE WHEN l.pos THEN 1 ELSE 0 END)::BIGINT AS pos_df,
         |    sum(CASE WHEN l.pos THEN 0 ELSE 1 END)::BIGINT AS neg_df
         |  FROM posting p JOIN labels l USING (doc_id) GROUP BY t
         |), w AS (
         |  SELECT t,
         |    (${ops.QualityModel.Scale} * (pos_df + 1)) // (neg_df + 1)
         |      - (${ops.QualityModel.Scale} * (neg_df + 1)) // (pos_df + 1) AS w
         |  FROM dfc WHERE pos_df + neg_df >= 2
         |), s AS (
         |  SELECT p.doc_id, sum(p.tf * w.w)::BIGINT AS score
         |  FROM posting p JOIN w USING (t) GROUP BY 1
         |)
         |SELECT d.doc_id, coalesce(s.score, 0)::BIGINT AS score,
         |  coalesce(s.score, 0) > 0 AS predicted
         |FROM documents d LEFT JOIN s USING (doc_id)
         |ORDER BY doc_id""".stripMargin)),

    // Frozen-model scoring: weights from the hash-sampled train split only,
    // applied to the disjoint holdout — split membership via the portable
    // unit hash, everything else the quality_classifier_score pipeline.
    QueryCase("quality_classifier_holdout", (s, dir) => {
      implicit val spark: SparkSession = s
      // The deployment contract: weights trained on one (hash-sampled)
      // split are a FROZEN model applied to unseen rows — the daily-ingest
      // scoring pass. Same integer-exact pipeline; the split is the
      // portable md5 unit hash, so the oracle reproduces membership
      // exactly.
      val docs = load(dir, "documents")
      val train = ops.Sampling.hashSample(docs, "doc_id", 0.6, seed = 7)
      val holdout = docs.join(train.select("doc_id"), Seq("doc_id"), "left_anti")
      val weights = ops.QualityModel.trainTokenWeights(train, "doc_id", "text",
        ops.QualityModel.lengthLabel(col("text")), minDf = 2)
      ops.QualityModel.scoreDocs(holdout, "doc_id", "text", weights)
        .orderBy("doc_id")
    }, Some(
      s"""WITH train AS (
         |  SELECT * FROM documents
         |  WHERE ${ops.Sampling.hashUnitSql("doc_id", 7)} < 0.6
         |), holdout AS (
         |  SELECT * FROM documents
         |  WHERE doc_id NOT IN (SELECT doc_id FROM train)
         |), tposting AS (
         |  SELECT doc_id, t, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest($duckToks) AS t FROM train)
         |  GROUP BY 1, 2
         |), labels AS (
         |  SELECT doc_id,
         |    (CASE WHEN len(trim(text)) = 0 THEN 0
         |          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) >= 50 AS pos
         |  FROM train
         |), dfc AS (
         |  SELECT t,
         |    sum(CASE WHEN l.pos THEN 1 ELSE 0 END)::BIGINT AS pos_df,
         |    sum(CASE WHEN l.pos THEN 0 ELSE 1 END)::BIGINT AS neg_df
         |  FROM tposting p JOIN labels l USING (doc_id) GROUP BY t
         |), w AS (
         |  SELECT t,
         |    (${ops.QualityModel.Scale} * (pos_df + 1)) // (neg_df + 1)
         |      - (${ops.QualityModel.Scale} * (neg_df + 1)) // (pos_df + 1) AS w
         |  FROM dfc WHERE pos_df + neg_df >= 2
         |), hposting AS (
         |  SELECT doc_id, t, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest($duckToks) AS t FROM holdout)
         |  GROUP BY 1, 2
         |), s AS (
         |  SELECT p.doc_id, sum(p.tf * w.w)::BIGINT AS score
         |  FROM hposting p JOIN w USING (t) GROUP BY 1
         |)
         |SELECT h.doc_id, coalesce(s.score, 0)::BIGINT AS score,
         |  coalesce(s.score, 0) > 0 AS predicted
         |FROM holdout h LEFT JOIN s USING (doc_id)
         |ORDER BY doc_id""".stripMargin)),

    // AUC: the identical holdout scoring chain extended with the truth
    // label and the Mann-Whitney rank-sum form — cumulative tie-group
    // ranks, every addend an exact multiple of 0.5.
    QueryCase("quality_classifier_auc", (s, dir) => {
      implicit val spark: SparkSession = s
      // The evaluation row the holdout run should end with: ROC AUC of
      // the frozen classifier's integer scores against the truth labels
      // on unseen rows — Mann-Whitney rank sums with exact average-rank
      // tie handling (every addend a multiple of 0.5, order-free exact).
      val docs = load(dir, "documents")
      val train = ops.Sampling.hashSample(docs, "doc_id", 0.6, seed = 7)
      val holdout = docs.join(train.select("doc_id"), Seq("doc_id"), "left_anti")
      val weights = ops.QualityModel.trainTokenWeights(train, "doc_id", "text",
        ops.QualityModel.lengthLabel(col("text")), minDf = 2)
      val scoredH = ops.QualityModel.scoreDocs(holdout, "doc_id", "text", weights)
      val truth = holdout.select(col("doc_id"),
        ops.QualityModel.lengthLabel(col("text")).as("actual"))
      ops.QualityModel.auc(scoredH.join(truth, "doc_id"), "score", "actual")
    }, Some(
      s"""WITH train AS (
         |  SELECT * FROM documents
         |  WHERE ${ops.Sampling.hashUnitSql("doc_id", 7)} < 0.6
         |), holdout AS (
         |  SELECT * FROM documents
         |  WHERE doc_id NOT IN (SELECT doc_id FROM train)
         |), tposting AS (
         |  SELECT doc_id, t, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest($duckToks) AS t FROM train)
         |  GROUP BY 1, 2
         |), labels AS (
         |  SELECT doc_id,
         |    (CASE WHEN len(trim(text)) = 0 THEN 0
         |          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) >= 50 AS pos
         |  FROM train
         |), dfc AS (
         |  SELECT t,
         |    sum(CASE WHEN l.pos THEN 1 ELSE 0 END)::BIGINT AS pos_df,
         |    sum(CASE WHEN l.pos THEN 0 ELSE 1 END)::BIGINT AS neg_df
         |  FROM tposting p JOIN labels l USING (doc_id) GROUP BY t
         |), w AS (
         |  SELECT t,
         |    (${ops.QualityModel.Scale} * (pos_df + 1)) // (neg_df + 1)
         |      - (${ops.QualityModel.Scale} * (neg_df + 1)) // (pos_df + 1) AS w
         |  FROM dfc WHERE pos_df + neg_df >= 2
         |), hposting AS (
         |  SELECT doc_id, t, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest($duckToks) AS t FROM holdout)
         |  GROUP BY 1, 2
         |), s AS (
         |  SELECT p.doc_id, sum(p.tf * w.w)::BIGINT AS score
         |  FROM hposting p JOIN w USING (t) GROUP BY 1
         |), hl AS (
         |  SELECT h.doc_id, coalesce(s.score, 0)::BIGINT AS score,
         |    (CASE WHEN len(trim(h.text)) = 0 THEN 0
         |          ELSE len(regexp_split_to_array(trim(h.text), '\\s+')) END) >= 50 AS actual
         |  FROM holdout h LEFT JOIN s USING (doc_id)
         |), grp AS (
         |  SELECT score, count(*)::BIGINT AS n,
         |    sum(CASE WHEN actual THEN 1 ELSE 0 END)::BIGINT AS np
         |  FROM hl GROUP BY 1
         |), cum AS (
         |  SELECT score, n, np,
         |    coalesce(sum(n) OVER (ORDER BY score
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS bfr
         |  FROM grp
         |), tot AS (
         |  SELECT sum(np)::BIGINT AS p, sum(n - np)::BIGINT AS nn,
         |    sum(np::DOUBLE * (bfr::DOUBLE + (n::DOUBLE + 1.0) / 2.0)) AS rs
         |  FROM cum
         |)
         |SELECT p AS n_pos, nn AS n_neg,
         |  CASE WHEN p = 0 OR nn = 0 THEN NULL
         |       ELSE round((rs - p::DOUBLE * (p::DOUBLE + 1.0) / 2.0)
         |                  / (p::DOUBLE * nn::DOUBLE), 6) END AS auc
         |FROM tot""".stripMargin)),

    // Report card: the identical holdout chain, four integer cells, and
    // the identical fixed metric trees (left-associated sums, single
    // divisions — no rounding escape needed).
    QueryCase("quality_classifier_report", (s, dir) => {
      implicit val spark: SparkSession = s
      // The holdout report card: confusion cells + accuracy, precision,
      // recall, F1, and Cohen's kappa (honest under class imbalance) —
      // every metric one fixed tree over four integer cells.
      val docs = load(dir, "documents")
      val train = ops.Sampling.hashSample(docs, "doc_id", 0.6, seed = 7)
      val holdout = docs.join(train.select("doc_id"), Seq("doc_id"), "left_anti")
      val weights = ops.QualityModel.trainTokenWeights(train, "doc_id", "text",
        ops.QualityModel.lengthLabel(col("text")), minDf = 2)
      val scoredH = ops.QualityModel.scoreDocs(holdout, "doc_id", "text", weights)
      val truth = holdout.select(col("doc_id"),
        ops.QualityModel.lengthLabel(col("text")).as("actual"))
      ops.QualityModel.classifierReport(
        scoredH.join(truth, "doc_id"), "predicted", "actual")
    }, Some(
      s"""WITH train AS (
         |  SELECT * FROM documents
         |  WHERE ${ops.Sampling.hashUnitSql("doc_id", 7)} < 0.6
         |), holdout AS (
         |  SELECT * FROM documents
         |  WHERE doc_id NOT IN (SELECT doc_id FROM train)
         |), tposting AS (
         |  SELECT doc_id, t, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest($duckToks) AS t FROM train)
         |  GROUP BY 1, 2
         |), labels AS (
         |  SELECT doc_id,
         |    (CASE WHEN len(trim(text)) = 0 THEN 0
         |          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) >= 50 AS pos
         |  FROM train
         |), dfc AS (
         |  SELECT t,
         |    sum(CASE WHEN l.pos THEN 1 ELSE 0 END)::BIGINT AS pos_df,
         |    sum(CASE WHEN l.pos THEN 0 ELSE 1 END)::BIGINT AS neg_df
         |  FROM tposting p JOIN labels l USING (doc_id) GROUP BY t
         |), w AS (
         |  SELECT t,
         |    (${ops.QualityModel.Scale} * (pos_df + 1)) // (neg_df + 1)
         |      - (${ops.QualityModel.Scale} * (neg_df + 1)) // (pos_df + 1) AS w
         |  FROM dfc WHERE pos_df + neg_df >= 2
         |), hposting AS (
         |  SELECT doc_id, t, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest($duckToks) AS t FROM holdout)
         |  GROUP BY 1, 2
         |), s AS (
         |  SELECT p.doc_id, sum(p.tf * w.w)::BIGINT AS score
         |  FROM hposting p JOIN w USING (t) GROUP BY 1
         |), hl AS (
         |  SELECT coalesce(s.score, 0) > 0 AS pred,
         |    (CASE WHEN len(trim(h.text)) = 0 THEN 0
         |          ELSE len(regexp_split_to_array(trim(h.text), '\\s+')) END) >= 50 AS actual
         |  FROM holdout h LEFT JOIN s USING (doc_id)
         |), cells AS (
         |  SELECT
         |    sum(CASE WHEN pred AND actual THEN 1 ELSE 0 END)::BIGINT AS tp,
         |    sum(CASE WHEN pred AND NOT actual THEN 1 ELSE 0 END)::BIGINT AS fp,
         |    sum(CASE WHEN NOT pred AND NOT actual THEN 1 ELSE 0 END)::BIGINT AS tn,
         |    sum(CASE WHEN NOT pred AND actual THEN 1 ELSE 0 END)::BIGINT AS fn
         |  FROM hl
         |)
         |SELECT tp, fp, tn, fn,
         |  (tp::DOUBLE + tn::DOUBLE)
         |    / (tp::DOUBLE + fp::DOUBLE + tn::DOUBLE + fn::DOUBLE) AS accuracy,
         |  CASE WHEN tp::DOUBLE + fp::DOUBLE = 0.0 THEN NULL
         |       ELSE tp::DOUBLE / (tp::DOUBLE + fp::DOUBLE) END AS precision,
         |  CASE WHEN tp::DOUBLE + fn::DOUBLE = 0.0 THEN NULL
         |       ELSE tp::DOUBLE / (tp::DOUBLE + fn::DOUBLE) END AS recall,
         |  CASE WHEN tp::DOUBLE + fp::DOUBLE = 0.0 OR tp::DOUBLE + fn::DOUBLE = 0.0
         |         OR tp::DOUBLE / (tp::DOUBLE + fp::DOUBLE)
         |            + tp::DOUBLE / (tp::DOUBLE + fn::DOUBLE) = 0.0 THEN NULL
         |       ELSE 2.0 * (tp::DOUBLE / (tp::DOUBLE + fp::DOUBLE))
         |            * (tp::DOUBLE / (tp::DOUBLE + fn::DOUBLE))
         |            / (tp::DOUBLE / (tp::DOUBLE + fp::DOUBLE)
         |               + tp::DOUBLE / (tp::DOUBLE + fn::DOUBLE)) END AS f1,
         |  CASE WHEN ((tp::DOUBLE + fp::DOUBLE) * (tp::DOUBLE + fn::DOUBLE)
         |             + (fn::DOUBLE + tn::DOUBLE) * (fp::DOUBLE + tn::DOUBLE))
         |            / ((tp::DOUBLE + fp::DOUBLE + tn::DOUBLE + fn::DOUBLE)
         |               * (tp::DOUBLE + fp::DOUBLE + tn::DOUBLE + fn::DOUBLE)) = 1.0
         |       THEN NULL
         |       ELSE ((tp::DOUBLE + tn::DOUBLE)
         |              / (tp::DOUBLE + fp::DOUBLE + tn::DOUBLE + fn::DOUBLE)
         |             - ((tp::DOUBLE + fp::DOUBLE) * (tp::DOUBLE + fn::DOUBLE)
         |                + (fn::DOUBLE + tn::DOUBLE) * (fp::DOUBLE + tn::DOUBLE))
         |               / ((tp::DOUBLE + fp::DOUBLE + tn::DOUBLE + fn::DOUBLE)
         |                  * (tp::DOUBLE + fp::DOUBLE + tn::DOUBLE + fn::DOUBLE)))
         |            / (1.0
         |               - ((tp::DOUBLE + fp::DOUBLE) * (tp::DOUBLE + fn::DOUBLE)
         |                  + (fn::DOUBLE + tn::DOUBLE) * (fp::DOUBLE + tn::DOUBLE))
         |                 / ((tp::DOUBLE + fp::DOUBLE + tn::DOUBLE + fn::DOUBLE)
         |                    * (tp::DOUBLE + fp::DOUBLE + tn::DOUBLE + fn::DOUBLE)))
         |       END AS kappa
         |FROM cells""".stripMargin)),

    // Bigram-LM training AND scoring restated: row-ordered bigrams via
    // 1-based list indexing over the token array, counts, minCount-pruned
    // head with FULL-count context totals, ilog2 (= length(bin(n+1)))
    // integer costs with the flat OOV constant, flooring-division
    // bits-per-1k rate. Every operand integer — hash-matches.
    QueryCase("quality_lm_score", (s, dir) => {
      implicit val spark: SparkSession = s
      // Label-free quality signal (CCNet's other half): a bigram LM
      // trained on the corpus itself scores every document's
      // bits-per-bigram — the integer twin of log2 perplexity. Training
      // is one bigram exchange; the pruned model broadcasts; costs are
      // ilog2 (= length(bin(n))) integers, so train-and-score restates
      // end to end in the oracle and hash-matches.
      ops.NgramLm.perplexityScore(load(dir, "documents"), "doc_id", "text",
          minCount = 2)
        .orderBy("doc_id")
    }, Some(
      s"""WITH $lmCostCtes,
         |agg AS (
         |  SELECT doc_id, sum(cost)::BIGINT AS lm_cost,
         |         count(*)::BIGINT AS lm_bigrams
         |  FROM costed GROUP BY 1
         |)
         |SELECT d.doc_id, coalesce(a.lm_cost, 0)::BIGINT AS lm_cost,
         |  coalesce(a.lm_bigrams, 0)::BIGINT AS lm_bigrams,
         |  (CASE WHEN coalesce(a.lm_bigrams, 0) = 0 THEN 0
         |        ELSE (1000 * a.lm_cost) // a.lm_bigrams END)::BIGINT AS lm_bits_per_1k
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin)),

    QueryCase("quality_lm_filter", (s, dir) => {
      implicit val spark: SparkSession = s
      // The two-sided perplexity gate over the same self-trained model:
      // cut the template-flat head AND the never-seen-transitions tail,
      // keep the natural-prose band. Integer bounds on the integer rate —
      // the kept set is exact cross-engine.
      ops.NgramLm.perplexityFilter(load(dir, "documents"), "doc_id", "text",
          minBitsPer1k = 3000L, maxBitsPer1k = 4500L, minCount = 2)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }, Some(
      s"""WITH $lmCostCtes,
         |agg AS (
         |  SELECT doc_id, sum(cost)::BIGINT AS lm_cost,
         |         count(*)::BIGINT AS lm_bigrams
         |  FROM costed GROUP BY 1
         |), rated AS (
         |  SELECT d.doc_id,
         |    (CASE WHEN coalesce(a.lm_bigrams, 0) = 0 THEN 0
         |          ELSE (1000 * a.lm_cost) // a.lm_bigrams END)::BIGINT AS rate
         |  FROM documents d LEFT JOIN agg a USING (doc_id)
         |)
         |SELECT d.doc_id, d.source FROM documents d
         |JOIN rated r USING (doc_id)
         |WHERE r.rate >= 3000 AND r.rate <= 4500
         |ORDER BY doc_id""".stripMargin)),

    // Moore-Lewis restated: TWO model chains over the shared bigram
    // stream (corpus; lang='en' target), the identical ilog2 costs and
    // flooring rates, integer delta, ascending head.
    QueryCase("quality_ml_select", (s, dir) => {
      implicit val spark: SparkSession = s
      // Moore-Lewis cross-entropy-difference selection (Moore & Lewis
      // 2010): corpus-trained vs in-domain-trained (lang = 'en') bigram
      // models, rank documents by target_bits - corpus_bits ascending —
      // the most-target-like head. Both rates integer, delta exact.
      ops.NgramLm.contrastScores(load(dir, "documents"), "doc_id", "text",
          targetPred = col("lang") === "en", minCount = 2)
        .orderBy(asc("ml_delta"), asc("doc_id"))
        .limit(50)
    }, Some(
      s"""WITH lmtoks AS (
         |  SELECT doc_id, lang, $duckToks AS ts FROM documents
         |), lmbg AS (
         |  SELECT doc_id, lang, ts[i] AS w1, ts[i + 1] AS w2
         |  FROM lmtoks, unnest(range(1, len(ts))) AS u(i)
         |), cc2 AS (
         |  SELECT w1, w2, count(*)::BIGINT AS c2 FROM lmbg GROUP BY 1, 2
         |), cctx AS (
         |  SELECT w1, sum(c2)::BIGINT AS c1 FROM cc2
         |  GROUP BY 1 HAVING sum(c2) >= 2
         |), chead AS (
         |  SELECT w1, w2, c2 FROM cc2 WHERE c2 >= 2
         |), tc2 AS (
         |  SELECT w1, w2, count(*)::BIGINT AS c2 FROM lmbg
         |  WHERE lang = 'en' GROUP BY 1, 2
         |), tctx AS (
         |  SELECT w1, sum(c2)::BIGINT AS c1 FROM tc2
         |  GROUP BY 1 HAVING sum(c2) >= 2
         |), thead AS (
         |  SELECT w1, w2, c2 FROM tc2 WHERE c2 >= 2
         |), ccost AS (
         |  SELECT b.doc_id,
         |    (CASE WHEN x.c1 IS NULL THEN ${ops.NgramLm.OovCost}
         |          ELSE length(bin(x.c1 + 1)) - length(bin(coalesce(h.c2, 0) + 1))
         |     END)::BIGINT AS cost
         |  FROM lmbg b LEFT JOIN cctx x USING (w1) LEFT JOIN chead h USING (w1, w2)
         |), tcost AS (
         |  SELECT b.doc_id,
         |    (CASE WHEN x.c1 IS NULL THEN ${ops.NgramLm.OovCost}
         |          ELSE length(bin(x.c1 + 1)) - length(bin(coalesce(h.c2, 0) + 1))
         |     END)::BIGINT AS cost
         |  FROM lmbg b LEFT JOIN tctx x USING (w1) LEFT JOIN thead h USING (w1, w2)
         |), cagg AS (
         |  SELECT doc_id, sum(cost)::BIGINT AS lm_cost, count(*)::BIGINT AS n
         |  FROM ccost GROUP BY 1
         |), tagg AS (
         |  SELECT doc_id, sum(cost)::BIGINT AS lm_cost, count(*)::BIGINT AS n
         |  FROM tcost GROUP BY 1
         |), rates AS (
         |  SELECT d.doc_id,
         |    (CASE WHEN coalesce(c.n, 0) = 0 THEN 0
         |          ELSE (1000 * c.lm_cost) // c.n END)::BIGINT AS corpus_bits_per_1k,
         |    (CASE WHEN coalesce(t.n, 0) = 0 THEN 0
         |          ELSE (1000 * t.lm_cost) // t.n END)::BIGINT AS target_bits_per_1k
         |  FROM documents d
         |  LEFT JOIN cagg c USING (doc_id) LEFT JOIN tagg t USING (doc_id)
         |)
         |SELECT doc_id, corpus_bits_per_1k, target_bits_per_1k,
         |  (target_bits_per_1k - corpus_bits_per_1k)::BIGINT AS ml_delta
         |FROM rates ORDER BY ml_delta ASC, doc_id ASC LIMIT 50""".stripMargin)),

    // Unigram segmentation replayed end-to-end: weighted substring
    // vocabulary, ilog2 costs, and the Viterbi DP as unrolled position
    // CTEs (the BPE merge-replay precedent).
    QueryCase("text_unigram_segment", (s, dir) => {
      implicit val spark: SparkSession = s
      // SentencePiece-style unigram segmentation (Kudo 2018), the other
      // tokenizer family beside BPE: corpus-substring piece vocabulary
      // with integer ilog2 costs, per-word Viterbi decode packed into
      // single-long DP values (cost first, fewest pieces tiebreak) —
      // fully replayed in the oracle via unrolled position CTEs.
      ops.Unigram.segmentCounts(load(dir, "documents"), "doc_id", "text",
          maxPieceLen = 4, minCount = 2, maxWordLen = 16)
        .orderBy("doc_id")
    }, Some(
      ops.Unigram.oracleSql("documents", "doc_id", "text",
        maxPieceLen = 4, minCount = 2, maxWordLen = 16))),

    QueryCase("text_chunk_windows", (s, dir) => {
      implicit val spark: SparkSession = s
      // Overlapping 64-token windows with 16-token overlap — the RAG/
      // embedding chunking pass. Row-local explode, no shuffle; integer
      // offsets restated verbatim in the oracle.
      ops.TextAnalysis.chunkTokenWindows(load(dir, "documents"),
          "doc_id", "text", chunkTokens = 64, overlap = 16)
        .orderBy("doc_id", "chunk")
    }, Some(
      s"""WITH t AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks,
         |    CASE WHEN len(trim(text)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END::BIGINT AS tok
         |  FROM documents
         |), n AS (
         |  SELECT doc_id, toks, tok,
         |    1 + greatest(0, (tok - 64 + 47) // 48) AS n_chunks
         |  FROM t WHERE tok > 0
         |), e AS (
         |  SELECT doc_id, toks, tok, unnest(generate_series(0, n_chunks - 1)) AS chunk
         |  FROM n
         |)
         |SELECT doc_id, chunk, (chunk * 48)::BIGINT AS begin_tok,
         |  least(64, tok - chunk * 48)::BIGINT AS n_tok,
         |  array_to_string(toks[chunk * 48 + 1:chunk * 48 + least(64, tok - chunk * 48)], ' ') AS chunk_text
         |FROM e ORDER BY doc_id, chunk""".stripMargin)),

    QueryCase("vocab_topk", (s, dir) => {
      implicit val spark: SparkSession = s
      // Corpus vocabulary via the mergeable frequent-items sketch — exact
      // here (distinct terms ≪ maxTracked), so the plain GROUP BY oracle
      // hash-matches; deterministic re-sort before the k cut.
      ops.TextAnalysis.vocabTopK(load(dir, "documents"), "text", k = 10)
    }, Some({
      s"""SELECT term, count(*)::BIGINT AS n
         |FROM (SELECT unnest($duckToks) AS term FROM documents)
         |GROUP BY term ORDER BY n DESC, term ASC LIMIT 10""".stripMargin
    })),

    // exact while distinct terms < maxTracked, so the merged estimate must
    // equal the whole-corpus aggregation
    QueryCase("vocab_topk_incremental", (s, dir) => {
      implicit val spark: SparkSession = s
      // The maintenance contract: accumulate per ingest batch (the doc_id
      // parity halves), combine sketch states, estimate — must equal the
      // whole-corpus vocab_topk bit for bit while only ever aggregating
      // the new batch.
      val docs = load(dir, "documents")
      val states = Seq(
        ops.TextAnalysis.vocabState(docs.where(col("doc_id") % 2 === 0), "text"),
        ops.TextAnalysis.vocabState(docs.where(col("doc_id") % 2 === 1), "text"))
      ops.TextAnalysis.vocabMerge(states, k = 10)
    }, Some({
      s"""SELECT term, count(*)::BIGINT AS n
         |FROM (SELECT unnest($duckToks) AS term FROM documents)
         |GROUP BY term ORDER BY n DESC, term ASC LIMIT 10""".stripMargin
    })),

    QueryCase("vocab_bpe_merges", (s, dir) => {
      implicit val spark: SparkSession = s
      // BPE tokenizer training (Sennrich 2016): the corpus collapses to
      // word frequencies in ONE exchange, then every merge iteration runs
      // over the vocab-sized table — per-iteration cost independent of
      // corpus size. The oracle replays all 8 iterations verbatim
      // (overlapping get_stats counts, leftmost non-overlapping replace
      // via the two-space symbol encoding, count-then-pair tiebreak).
      ops.Bpe.mergeTable(load(dir, "documents"), "text",
        numMerges = 8, minPairCount = 2L)
    }, Some(bpeOracleSql)),

    QueryCase("text_bpe_tokens", (s, dir) => {
      implicit val spark: SparkSession = s
      // The learned tokenizer applied back to the corpus: distinct words
      // segmented once (vocab-sized regex work), word -> piece-count
      // broadcast, one per-doc aggregation — the token-budget currency of
      // the selection/packing stages, in the corpus's own BPE.
      val docs = load(dir, "documents")
      val merges = ops.Bpe.trainMerges(docs, "text", numMerges = 8, minPairCount = 2L)
      ops.Bpe.tokenCounts(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    }, Some(bpeTokensOracleSql)),

    // Repetition signals restated by a genuinely different algorithm: the
    // engine runs a row-local sort+run-scan kernel; the oracle explodes
    // grams and aggregates per (doc, gram). Tie-break for the top gram
    // (count DESC, chars DESC, gram ASC in binary collation) matches the
    // kernel's documented pick exactly; every fraction is one DOUBLE
    // division of exact BIGINTs.
    QueryCase("text_repetition", (s, dir) => {
      implicit val spark: SparkSession = s
      // Gopher-style repetition quality signals, one row-local codegen'd
      // kernel pass per n (no shuffle at any corpus size): top-2/3-gram
      // character fractions, duplicated-5-gram character fraction, and the
      // line-duplication fractions (constant 0 on this single-line corpus —
      // the multi-line path is spec-pinned on fixtures in GramStatsSpec).
      ops.TextAnalysis.repetitionProfile(load(dir, "documents"), "text")
        .select("doc_id", "top2gram_char_frac", "top3gram_char_frac",
          "dup5gram_char_frac", "dup_line_frac", "dup_line_char_frac")
        .orderBy("doc_id")
    }, Some(
      s"""WITH t AS (
         |  SELECT doc_id, text, $duckToks AS toks,
         |    len(regexp_extract_all(lower(text), '[a-z0-9]'))::BIGINT AS alnum
         |  FROM documents
         |), g2 AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
         |    i -> array_to_string(toks[i:i+1], ' '))) AS gram
         |  FROM t WHERE len(toks) >= 2
         |), c2 AS (
         |  SELECT doc_id, gram, count(*)::BIGINT AS cnt, (len(gram) - 1)::BIGINT AS chars
         |  FROM g2 GROUP BY doc_id, gram
         |), top2 AS (
         |  SELECT doc_id, cnt * chars AS mass FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY cnt DESC, chars DESC, gram ASC) AS rn FROM c2
         |  ) WHERE rn = 1
         |), g3 AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
         |    i -> array_to_string(toks[i:i+2], ' '))) AS gram
         |  FROM t WHERE len(toks) >= 3
         |), c3 AS (
         |  SELECT doc_id, gram, count(*)::BIGINT AS cnt, (len(gram) - 2)::BIGINT AS chars
         |  FROM g3 GROUP BY doc_id, gram
         |), top3 AS (
         |  SELECT doc_id, cnt * chars AS mass FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY cnt DESC, chars DESC, gram ASC) AS rn FROM c3
         |  ) WHERE rn = 1
         |), g5 AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 4),
         |    i -> array_to_string(toks[i:i+4], ' '))) AS gram
         |  FROM t WHERE len(toks) >= 5
         |), c5 AS (
         |  SELECT doc_id, gram, count(*)::BIGINT AS cnt, (len(gram) - 4)::BIGINT AS chars
         |  FROM g5 GROUP BY doc_id, gram
         |), dup5 AS (
         |  SELECT doc_id, sum(CASE WHEN cnt > 1 THEN cnt * chars ELSE 0 END)::BIGINT AS mass
         |  FROM c5 GROUP BY doc_id
         |), lg AS (
         |  SELECT doc_id, unnest(list_filter(
         |    list_transform(str_split(text, chr(10)),
         |      x -> trim(x, ' ' || chr(9) || chr(13))), x -> x <> '')) AS line
         |  FROM t
         |), cl AS (
         |  SELECT doc_id, line, count(*)::BIGINT AS cnt, len(line)::BIGINT AS chars
         |  FROM lg GROUP BY doc_id, line
         |), ln AS (
         |  SELECT doc_id, sum(cnt)::BIGINT AS total, sum(cnt * chars)::BIGINT AS total_chars,
         |    sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::BIGINT AS dup_occ,
         |    sum(CASE WHEN cnt > 1 THEN cnt * chars ELSE 0 END)::BIGINT AS dup_chars
         |  FROM cl GROUP BY doc_id
         |)
         |SELECT t.doc_id,
         |  CASE WHEN t.alnum = 0 OR top2.mass IS NULL THEN 0.0
         |       ELSE top2.mass::DOUBLE / t.alnum::DOUBLE END AS top2gram_char_frac,
         |  CASE WHEN t.alnum = 0 OR top3.mass IS NULL THEN 0.0
         |       ELSE top3.mass::DOUBLE / t.alnum::DOUBLE END AS top3gram_char_frac,
         |  CASE WHEN t.alnum = 0 OR dup5.mass IS NULL THEN 0.0
         |       ELSE dup5.mass::DOUBLE / t.alnum::DOUBLE END AS dup5gram_char_frac,
         |  CASE WHEN ln.total IS NULL OR ln.total = 0 THEN 0.0
         |       ELSE ln.dup_occ::DOUBLE / ln.total::DOUBLE END AS dup_line_frac,
         |  CASE WHEN ln.total_chars IS NULL OR ln.total_chars = 0 THEN 0.0
         |       ELSE ln.dup_chars::DOUBLE / ln.total_chars::DOUBLE END AS dup_line_char_frac
         |FROM t
         |LEFT JOIN top2 USING (doc_id)
         |LEFT JOIN top3 USING (doc_id)
         |LEFT JOIN dup5 USING (doc_id)
         |LEFT JOIN ln USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin)),

    // Drift restated feature by feature from the SAME bucketing
    // expressions: per-side histogram shares, full-outer bucket join,
    // exact-arithmetic TVD and symmetric chi-square, both rounded at 6
    // (the dictionary-stats precedent for order-free double sums).
    QueryCase("drift_report", (s, dir) => {
      implicit val spark: SparkSession = s
      // Snapshot drift dashboard: the even-id half of the corpus vs the
      // odd-id half over three bucketings (language, source, token-count
      // decade) — TVD + symmetric chi-square per feature, each side one
      // map-side-combined histogram, compare = a bucket-sized outer join.
      val docs = load(dir, "documents")
      val a = docs.where(pmod(col("doc_id"), lit(2)) === 0)
      val b = docs.where(pmod(col("doc_id"), lit(2)) === 1)
      ops.Drift.driftReport(a, b, Seq(
          "lang" -> col("lang"),
          "source" -> col("source"),
          "tok_decade" ->
            (floor(ops.TextAnalysis.tokenCount(col("text")) / 10) * 10)))
        .orderBy("feature")
    }, Some({
      val tokCount =
        """(CASE WHEN len(trim(text)) = 0 THEN 0
          |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END)""".stripMargin
      val feats = Seq(
        "lang" -> "lang",
        "source" -> "source",
        "tok_decade" -> s"(floor($tokCount / 10) * 10)")
      val legs = feats.map { case (name, e) =>
        s"""SELECT '$name' AS feature, count(*)::BIGINT AS n_buckets,
           |  round(sum(abs(p - q)) / 2.0, 6) AS tvd,
           |  round(sum((p - q) * (p - q) / (p + q)), 6) AS chi2_sym,
           |  round(sum(CASE WHEN p > 0 AND q > 0
           |    THEN (p - q) * ln(p / q) ELSE 0.0 END), 6) AS psi
           |FROM (
           |  SELECT coalesce(pa.p, 0.0) AS p, coalesce(pb.q, 0.0) AS q
           |  FROM (SELECT $e AS bucket,
           |          count(*)::DOUBLE / (SELECT count(*) FROM da) AS p
           |        FROM da GROUP BY 1) pa
           |  FULL OUTER JOIN (SELECT $e AS bucket,
           |          count(*)::DOUBLE / (SELECT count(*) FROM db) AS q
           |        FROM db GROUP BY 1) pb
           |  USING (bucket)
           |)""".stripMargin
      }
      s"""WITH da AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
         |db AS (SELECT * FROM documents WHERE doc_id % 2 = 1)
         |SELECT * FROM (
         |${legs.mkString("\nUNION ALL ")}
         |) ORDER BY feature""".stripMargin
    })),

    // The two-phase rank restated as ONE global per-length window — the
    // bucketed construction must be invisible; integer div/mod floor
    // identically on non-negative operands.
    QueryCase("pack_length_bins", (s, dir) => {
      implicit val spark: SparkSession = s
      // Homogeneous batching: same-length docs fill bins of
      // seqLen div L docs (no splits, no mixed lengths, zero intra-bin
      // padding); rank within a length group is seeded-hash order via
      // the bucketed two-phase prefix rank, so a head length never
      // serializes into one window task.
      ops.Packing.lengthGroupedBins(load(dir, "documents"), "doc_id",
          ops.TextAnalysis.tokenCount(col("text")), seqLen = 256, numBuckets = 8)
        .orderBy("doc_id")
    }, Some({
      val u = ops.Sampling.hashUnitSql("doc_id", 42)
      s"""WITH d AS (
         |  SELECT doc_id,
         |    (CASE WHEN len(trim(text)) = 0 THEN 0
         |          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)::BIGINT
         |      AS n_tok,
         |    $u AS u
         |  FROM documents
         |), r AS (
         |  SELECT doc_id, n_tok,
         |    row_number() OVER (PARTITION BY n_tok ORDER BY u, doc_id) - 1 AS rk
         |  FROM d WHERE n_tok BETWEEN 1 AND 256
         |)
         |SELECT doc_id, n_tok,
         |  (rk // (256 // n_tok))::BIGINT AS bin,
         |  (rk % (256 // n_tok))::BIGINT AS slot
         |FROM r ORDER BY doc_id""".stripMargin
    })),

    // The full chain restated: survivors (rn=1 per normalized content),
    // spans over the SURVIVORS only, the token floor, the per-source
    // accounting.
    QueryCase("pipeline_spans", (s, dir) => {
      implicit val spark: SparkSession = s
      // The ExactSubstr curation chain composed end-to-end: exact dedup
      // first (smallest doc id survives per normalized content — full
      // copies would otherwise annihilate each other in the span pass),
      // alignment-free duplicate-span removal over the survivors, a
      // ≥10-surviving-tokens floor, then per-source kept/cut token
      // accounting — the shape a 100 TB curation run reports per domain.
      val docs = load(dir, "documents")
      val unique = ops.Dedup.exactByFingerprint(docs, "text", "doc_id")
      val cleaned = ops.Dedup.duplicateSpanRemoval(unique, "doc_id", "text",
        minLen = 8, carry = Seq("source"))
      cleaned.where(col("n_tokens") - col("n_removed") >= 10)
        .groupBy("source")
        .agg(count(lit(1)).as("docs"),
          sum(col("n_tokens") - col("n_removed")).as("tokens_kept"),
          sum(col("n_removed")).as("tokens_cut"))
        .orderBy("source")
    }, Some(
      s"""WITH surv AS (
         |  SELECT doc_id, text, source FROM (
         |    SELECT doc_id, text, source,
         |      row_number() OVER (PARTITION BY $duckNorm ORDER BY doc_id) AS rn
         |    FROM documents
         |  ) WHERE rn = 1
         |), t AS (SELECT doc_id, source, $duckToks AS toks FROM surv),
         |tok AS (
         |  SELECT doc_id, i AS tp
         |  FROM t, unnest(generate_series(1, len(toks))) u(i)
         |  WHERE len(toks) > 0
         |), grams AS (
         |  SELECT doc_id, i AS pos,
         |    md5(array_to_string(toks[i : i + 7], ' ')) AS g
         |  FROM t, unnest(generate_series(1, len(toks) - 7)) u(i)
         |  WHERE len(toks) >= 8
         |), dup AS (
         |  SELECT g FROM grams GROUP BY g HAVING count(*) > 1
         |), covered AS (
         |  SELECT DISTINCT grams.doc_id, pos + j AS tp
         |  FROM grams JOIN dup USING (g), unnest(generate_series(0, 7)) v(j)
         |), per_doc AS (
         |  SELECT tok.doc_id, count(*) AS n_tokens, count(covered.tp) AS n_removed
         |  FROM tok LEFT JOIN covered
         |    ON tok.doc_id = covered.doc_id AND tok.tp = covered.tp
         |  GROUP BY tok.doc_id
         |)
         |SELECT t.source, count(*)::BIGINT AS docs,
         |  sum(p.n_tokens - p.n_removed)::BIGINT AS tokens_kept,
         |  sum(p.n_removed)::BIGINT AS tokens_cut
         |FROM per_doc p JOIN t ON p.doc_id = t.doc_id
         |WHERE p.n_tokens - p.n_removed >= 10
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The round-12 curation chain replayed stage by stage from the shared
    // fragments: metric gate → DSIR (model AND scoring over the gated set
    // via the membership predicate) → top-200 → sqrt-share temperature
    // mix → global-window length bins → per-language manifest.
    QueryCase("pipeline_curate", (s, dir) => {
      implicit val spark: SparkSession = s
      // The round-12 CURATION pipeline composed end-to-end, every stage
      // an already-oracled operator: document-shape gate (Gopher metrics
      // at corpus-appropriate thresholds — the full battery's stopword
      // floor would empty this synthetic vocabulary) → DSIR importance
      // selection toward the English target (top-200 by integer bits
      // rate) → temperature mixing over languages (α=0.5, sqrt-exact) →
      // length-grouped bin packing → per-language manifest. The oracle
      // replays the whole chain from the shared CTE fragments.
      val docs = load(dir, "documents")
      val gated = ops.TextAnalysis.gopherProfile(docs, "text")
        .where(col("word_count") >= 30 && col("alpha_word_frac") >= 0.8)
        .select(docs.columns.map(col): _*)
      // The 200-row selection head is checkpointed (r18 optimization —
      // guide §2.4 "remove shuffles outright"/§1.2 "don't recompute"):
      // downstream, mixTemperature's counting collect, lengthGroupedBins'
      // two-phase prefix (which references its input twice), and the final
      // manifest join would otherwise each re-execute the DSIR model+score
      // DAG (2 corpus scans with bigram explodes per execution — 8 scans
      // measured in the lazy plan). The checkpoint is BOUNDED at the
      // selection size (200 rows) — scale-safe at any corpus, unlike
      // persisting a corpus-sized frame.
      val selected = ops.Sampling.importanceScores(gated, "doc_id", "text",
          targetCond = col("lang") === "en", carry = Seq("lang", "text"))
        .orderBy(desc("bits_per_1k"), col("doc_id"))
        .limit(200)
        .localCheckpoint()
      val mixed = ops.Sampling.mixTemperature(selected, "doc_id", "lang", alpha = 0.5)
      val binned = ops.Packing.lengthGroupedBins(mixed, "doc_id",
        ops.TextAnalysis.tokenCount(col("text")), seqLen = 256, numBuckets = 8)
      binned.join(mixed.select("doc_id", "lang"), Seq("doc_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(struct(col("n_tok"), col("bin"))).as("n_bins"),
          sum("n_tok").as("n_tokens"))
        .orderBy("lang")
    }, Some({
      val u = ops.Sampling.hashUnitSql("doc_id", 42)
      val tokCount =
        """(CASE WHEN len(trim(text)) = 0 THEN 0
          |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END)""".stripMargin
      val gatePred = "doc_id IN (SELECT doc_id FROM gated)"
      s"""WITH gated AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, $tokCount::BIGINT AS wc,
         |      len(regexp_extract_all(text, '\\S*[A-Za-z]\\S*'))::BIGINT AS aw
         |    FROM documents)
         |  WHERE wc >= 30 AND aw::DOUBLE / wc >= 0.8
         |), ${dsirCtes(gatePred, gatePred)}, sel AS (
         |  SELECT doc_id, lang FROM scored
         |  ORDER BY bits_per_1k DESC, doc_id LIMIT 200
         |), cnt AS (
         |  SELECT lang, count(*)::BIGINT AS c FROM sel GROUP BY lang
         |), scl AS (
         |  SELECT min(c / sqrt(c)) AS scale FROM cnt
         |), mixed AS (
         |  SELECT s.doc_id, s.lang
         |  FROM sel s JOIN cnt ON cnt.lang = s.lang, scl
         |  WHERE $u < sqrt(cnt.c) * scl.scale / cnt.c
         |), bd AS (
         |  SELECT m.doc_id, m.lang, $tokCount::BIGINT AS n_tok, $u AS bu
         |  FROM mixed m JOIN documents USING (doc_id)
         |), br AS (
         |  SELECT doc_id, lang, n_tok,
         |    row_number() OVER (PARTITION BY n_tok ORDER BY bu, doc_id) - 1 AS rk
         |  FROM bd WHERE n_tok BETWEEN 1 AND 256
         |)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |  count(DISTINCT (n_tok, rk // (256 // n_tok)))::BIGINT AS n_bins,
         |  sum(n_tok)::BIGINT AS n_tokens
         |FROM br GROUP BY lang ORDER BY lang""".stripMargin
    })),

    // Stage-by-stage restatement shared with the published twin — see
    // assembleOracleSql's scaladoc.
    QueryCase("pipeline_assemble", (s, dir) => {
      implicit val spark: SparkSession = s
      // This round's full corpus-ASSEMBLY story in one DAG: quality floor
      // (row-local, fused into the scan) → boilerplate-gram filter (Zipf
      // head broadcast) → repeated-segment cut (documents EDITED, not just
      // selected) → exact dedup of the rebuilt texts → per-source token
      // budget (bucketed prefix sum) → epoch shard assignment → per
      // (source, shard) manifest. Every stage is an already-oracled
      // operator; this oracles the COMPOSITION, rebuilt texts and all.
      val docs = load(dir, "documents")
      val quality = docs.where(TextAnalysis.qualityScore(col("text")) >= 0.5)
      // Deliberately LAZY end to end: the self-joining stages re-derive
      // their upstream (the plan scans `documents` 18×), but every
      // duplicated subtree is codegen'd row-local work off a columnar
      // scan — measured A/B at sf0.1, recomputation (4.7 s) beats
      // persist-scratch + eager-checkpoint hygiene (5.4 s), because the
      // persisted intermediates are corpus-sized TEXT frames whose
      // materialize+read costs more than their recompute. The hygiene
      // pattern stays the right call where scratch is expensive to rebuild
      // (PPJoin postings, IVF-PQ residuals); a 100 TB assembly run that
      // wants single-execution stages checkpoints noBp/deduped to the
      // at-rest store it is publishing to anyway — that deployment shape
      // is `pipeline_assemble_published` below, same oracle, plan pinned
      // to read the published tables.
      val noBp = TextAnalysis.boilerplateFilter(quality, "doc_id", "text",
        n = 3, minDocFrac = 0.01, maxRatio = 0.35)
      val seg = Dedup.repeatedSegmentFilter(noBp, "doc_id", "text",
          window = 8, maxOccurrences = 1, carry = Seq("source"))
        .where(col("n_kept") > 0)
        .select("doc_id", "source", "text")
      val deduped = Dedup.exactByFingerprint(seg, "text", "doc_id")
      val budgeted = ops.Sampling.tokenBudgetSelect(deduped, "doc_id", "source",
        TextAnalysis.tokenCount(col("text")), budget = 400L, numBuckets = 8)
      ops.Packing.shardAssignments(budgeted, "doc_id", 4)
        .groupBy("source", "shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("source", "shard")
    }, Some(assembleOracleSql)),

    QueryCase("pipeline_assemble_published", (s, dir) => {
      implicit val spark: SparkSession = s
      // pipeline_assemble's 100 TB DEPLOYMENT shape: the scaladoc above
      // routes big runs to checkpointing the rebuilt-text stage boundaries
      // to the at-rest store the run is publishing to anyway — this query
      // IS that shape, tested. The two frames the lazy DAG re-derives most
      // (the boilerplate-filtered corpus and the deduped rebuilt texts) are
      // written as parquet tables and every downstream stage reads the
      // PUBLISHED table, so each stage executes once: the plan under the
      // final manifest has parquet leaves on the published store, not 18
      // scans of `documents` (pinned in PlanSpec). Same stages, same rows —
      // the oracle is pipeline_assemble's verbatim, because the at-rest
      // layout must be invisible to results.
      val docs = load(dir, "documents")
      val store = s"/tmp/graft_assemble_pub_${math.abs(dir.hashCode)}"
      val quality = docs.where(TextAnalysis.qualityScore(col("text")) >= 0.5)
      TextAnalysis.boilerplateFilter(quality, "doc_id", "text",
          n = 3, minDocFrac = 0.01, maxRatio = 0.35)
        .write.mode("overwrite").parquet(s"$store/no_boilerplate")
      val noBp = s.read.parquet(s"$store/no_boilerplate")
      val seg = Dedup.repeatedSegmentFilter(noBp, "doc_id", "text",
          window = 8, maxOccurrences = 1, carry = Seq("source"))
        .where(col("n_kept") > 0)
        .select("doc_id", "source", "text")
      Dedup.exactByFingerprint(seg, "text", "doc_id")
        .write.mode("overwrite").parquet(s"$store/deduped")
      val deduped = s.read.parquet(s"$store/deduped")
      val budgeted = ops.Sampling.tokenBudgetSelect(deduped, "doc_id", "source",
        TextAnalysis.tokenCount(col("text")), budget = 400L, numBuckets = 8)
      ops.Packing.shardAssignments(budgeted, "doc_id", 4)
        .groupBy("source", "shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("source", "shard")
    }, Some(assembleOracleSql)),

    // Shard + rank restated on the shared 52-bit md5 hash: the hash is
    // non-negative, so SQL's % equals pmod, and the (hash, id) rank is one
    // window per shard in both engines.
    QueryCase("pack_shards", (s, dir) => {
      implicit val spark: SparkSession = s
      // The epoch shuffle: deterministic shard + in-shard rank from one
      // seeded hash — reading shards sequentially replays a global
      // pseudo-random permutation, reproducible on any cluster.
      ops.Packing.shardAssignments(load(dir, "documents"), "doc_id", 8)
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id")
    }, Some(
      s"""WITH a AS (
         |  SELECT doc_id, ${ops.Sampling.hashBits52Sql("doc_id", 42)} AS h
         |  FROM documents
         |)
         |SELECT doc_id, h % 8 AS shard,
         |  (row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - 1)::BIGINT
         |    AS pos
         |FROM a ORDER BY doc_id""".stripMargin)),

    // The budget cut restated as the ONE global window the bucketed
    // two-phase prefix sum is provably equal to (bucket index is monotone
    // in the hash): same md5 unit hash, same (u, id) order, same
    // prefix-inclusive running sum, same <= line.
    QueryCase("sample_token_budget", (s, dir) => {
      implicit val spark: SparkSession = s
      // "Give me 600 tokens of every domain": per source, docs are taken
      // in seeded-hash order until the running token total hits the
      // budget — a pure prefix of the hash order, computed by the bucketed
      // two-phase prefix sum (per-source parallelism = numBuckets, never
      // one sequential task per source).
      ops.Sampling.tokenBudgetSelect(load(dir, "documents"),
          "doc_id", "source", ops.TextAnalysis.tokenCount(col("text")),
          budget = 600L, numBuckets = 8)
        .orderBy("doc_id")
    }, Some(
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    (CASE WHEN len(trim(text)) = 0 THEN 0
         |          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)::BIGINT
         |      AS n_tok,
         |    ${ops.Sampling.hashUnitSql("doc_id", 42)} AS u
         |  FROM documents
         |), p AS (
         |  SELECT doc_id, source, n_tok,
         |    (sum(n_tok) OVER (PARTITION BY source ORDER BY u, doc_id
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
         |      AS cum_tok
         |  FROM d WHERE n_tok > 0
         |)
         |SELECT doc_id, source, n_tok, cum_tok FROM p
         |WHERE cum_tok <= 600 ORDER BY doc_id""".stripMargin)),

    // Per-source cap restated as the one-window form the bucketed
    // two-phase prefix provably equals: per-source row_number in the
    // identical (hash, id) order, kept ≤ cap.
    QueryCase("sample_source_cap", (s, dir) => {
      implicit val spark: SparkSession = s
      // RefinedWeb/C4-style per-domain cap ("at most 10 docs per
      // source"): each source's first 10 in seeded-hash order — the
      // anti-domination step of web-corpus assembly, computed as a unit-
      // weight token budget through the same bucketed two-phase prefix
      // (no per-source sequential window). Sources hold 25 docs at
      // sf0.01, so the cap genuinely cuts.
      ops.Sampling.perSourceCap(load(dir, "documents"),
          "doc_id", "source", cap = 10, numBuckets = 8)
        .orderBy("doc_id")
    }, Some(
      s"""WITH r AS (
         |  SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY ${ops.Sampling.hashUnitSql("doc_id", 42)}, doc_id)
         |      AS rank_in_source
         |  FROM documents
         |)
         |SELECT doc_id, source, rank_in_source FROM r
         |WHERE rank_in_source <= 10 ORDER BY doc_id""".stripMargin)),

    // DSIR restated end to end: analyzer bigrams, the portable md5 bucket
    // hash, occurrence counts with conditional target sums, the clipped
    // ilog2 weight with the 1-row corpus normalizer, and the per-doc rate
    // as the same IEEE division. Shared CTE chain for both entries.
    QueryCase("sample_importance", (s, dir) => {
      implicit val spark: SparkSession = s
      // DSIR importance scoring (hashed-bigram log-ratio vs a target
      // slice, integer bits): resample the raw multilingual corpus toward
      // the ENGLISH target distribution. One corpus exchange builds the
      // 1024-bucket model; scoring is a broadcast join + one doc_id
      // aggregation. Top-50 by rate = the selection head.
      ops.Sampling.importanceScores(load(dir, "documents"),
          "doc_id", "text", targetCond = col("lang") === "en",
          numBuckets = 1024, clipBits = 16, carry = Seq("lang"))
        .orderBy(desc("bits_per_1k"), col("doc_id"))
        .limit(50)
    }, Some(
      s"""WITH $dsirScoreCtes
         |SELECT doc_id, lang, n_feats, bits, bits_per_1k FROM scored
         |ORDER BY bits_per_1k DESC, doc_id LIMIT 50""".stripMargin)),

    // Priority sampling over the same scores: pri = (rate + shift) / u —
    // two more IEEE divisions of exactly representable values, so the
    // top-25 draw is bit-identical cross-engine.
    QueryCase("sample_importance_priority", (s, dir) => {
      implicit val spark: SparkSession = s
      // The PROPORTIONAL selection over the same scores: priority
      // sampling (w/u with a seeded unit hash) draws ∝ shifted bits — a
      // weighted sample without replacement, deterministic on any
      // cluster, transcendental-free so the priorities hash-match SQL.
      val scored = ops.Sampling.importanceScores(load(dir, "documents"),
        "doc_id", "text", targetCond = col("lang") === "en",
        numBuckets = 1024, clipBits = 16, carry = Seq("lang"))
      ops.Sampling.importancePriority(scored, "doc_id", shift = 16001.0)
        .orderBy(desc("pri"), col("doc_id"))
        .limit(25)
        .select("doc_id", "lang", "n_feats", "bits", "bits_per_1k", "w_lin", "pri")
    }, Some(
      s"""WITH $dsirScoreCtes, pri AS (
         |  SELECT doc_id, lang, n_feats, bits, bits_per_1k,
         |    bits_per_1k + 16001.0 AS w_lin,
         |    (bits_per_1k + 16001.0) / ${ops.Sampling.hashUnitSql("doc_id", 11)} AS pri
         |  FROM scored
         |)
         |SELECT doc_id, lang, n_feats, bits, bits_per_1k, w_lin, pri FROM pri
         |ORDER BY pri DESC, doc_id LIMIT 25""".stripMargin)),

    // The streamed-model serve path: same CTE chain with the model built
    // over the corpus split only and the scoring restricted to the unseen
    // batch — the epoch-increment merge (with its replayed epoch 0) must
    // be invisible to the scores.
    QueryCase("sample_importance_stream", (s, dir) => {
      implicit val spark: SparkSession = s
      // The streamed DSIR serve path end-to-end as an oracled batch query
      // (the same shape text_boilerplate_stream gives the gram-df table):
      // the corpus-so-far model arrives as two epoch increments of
      // (b, cr, ct) bucket counts — exactly what maintainImportanceModel
      // appends per micro-batch — with epoch 0 appended TWICE (an
      // at-least-once replay); importanceModelFromIncrements dedups the
      // replay and bucket-sums; the implied weights then score a NEW batch
      // the increments never saw, without re-reading corpus text. The
      // oracle restates the path as a from-scratch model over the corpus
      // split — replays and the increment layout must be invisible.
      val docs = load(dir, "documents")
      val corpus = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
      val newBatch = docs.where(pmod(col("doc_id"), lit(3)) === 0)
      val incPath = s"/tmp/graft_dsir_stream_${math.abs(dir.hashCode)}"
      def inc(epoch: Int): DataFrame =
        ops.Sampling.importanceModel(
            corpus.where(pmod(col("doc_id"), lit(2)) === epoch),
            "text", col("lang") === "en")
          .withColumn("inc_batch_id", lit(epoch.toLong))
      // (r18: examined — the replayed epoch-0 branch ends in the model
      // aggregate's exchange, which ReuseExchange dedupes at runtime; a
      // localCheckpoint here measured WORSE — an extra materialization
      // job replacing free reuse. Left as is.)
      inc(0).unionByName(inc(1)).unionByName(inc(0)) // epoch 0 replayed
        .write.mode("overwrite").parquet(incPath)
      val model = EventStreams.importanceModelFromIncrements(s, incPath)
      ops.Sampling.importanceScoresAgainst(newBatch, "doc_id", "text",
          ops.Sampling.importanceWeights(model), carry = Seq("lang"))
        .orderBy(desc("bits_per_1k"), col("doc_id"))
        .limit(50)
    }, Some(
      s"""WITH ${dsirCtes("doc_id % 3 <> 0", "doc_id % 3 = 0")}
         |SELECT doc_id, lang, n_feats, bits, bits_per_1k FROM scored
         |ORDER BY bits_per_1k DESC, doc_id LIMIT 50""".stripMargin)),

    // The Gopher battery restated metric by metric: every count is a
    // regexp_extract_all length over the same RE2/Java-identical pattern,
    // ratios are the same guarded IEEE divisions, and the pass flag is the
    // same inclusive-bounds conjunction.
    QueryCase("text_gopher_rules", (s, dir) => {
      implicit val spark: SparkSession = s
      // The Gopher document-shape rule battery: seven published hard
      // gates as ONE row-local codegen'd pass (regex counts only — no
      // shuffle at any corpus size). Line-level rules are exercised on
      // multi-line fixtures in GopherSpec; here they profile as constants
      // on the single-line corpus, which the oracle restates identically.
      ops.TextAnalysis.gopherProfile(load(dir, "documents"), "text")
        .select("doc_id", "word_count", "mean_word_len", "symbol_word_ratio",
          "alpha_word_frac", "bullet_line_frac", "ellipsis_line_frac",
          "stopword_hits", "gopher_pass")
        .orderBy("doc_id")
    }, Some({
      val stopHits = ops.TextAnalysis.gopherStopwords.map(w =>
        s"(CASE WHEN regexp_matches(text, '(?i)\\b$w\\b') THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH m AS (
         |  SELECT doc_id,
         |    (CASE WHEN len(trim(text)) = 0 THEN 0
         |          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)::BIGINT
         |      AS word_count,
         |    len(regexp_extract_all(text, '\\S'))::BIGINT AS nsp,
         |    (len(regexp_extract_all(text, '#'))
         |      + len(regexp_extract_all(text, '\\.\\.\\.|…')))::BIGINT AS sym,
         |    len(regexp_extract_all(text, '\\S*[A-Za-z]\\S*'))::BIGINT AS alpha_words,
         |    len(regexp_extract_all(text, '(?m)^[ \\t]*[-*•]'))::BIGINT AS bullet_lines,
         |    len(regexp_extract_all(text, '(?m)(\\.\\.\\.|…)[ \\t]*$$'))::BIGINT AS ellipsis_lines,
         |    (len(regexp_extract_all(text, chr(10))) + 1)::BIGINT AS n_lines,
         |    ($stopHits)::BIGINT AS stopword_hits
         |  FROM documents
         |), r AS (
         |  SELECT doc_id, word_count,
         |    CASE WHEN word_count = 0 THEN 0.0 ELSE nsp::DOUBLE / word_count END AS mean_word_len,
         |    CASE WHEN word_count = 0 THEN 0.0 ELSE sym::DOUBLE / word_count END AS symbol_word_ratio,
         |    CASE WHEN word_count = 0 THEN 0.0 ELSE alpha_words::DOUBLE / word_count END AS alpha_word_frac,
         |    bullet_lines::DOUBLE / n_lines AS bullet_line_frac,
         |    ellipsis_lines::DOUBLE / n_lines AS ellipsis_line_frac,
         |    stopword_hits
         |  FROM m
         |)
         |SELECT doc_id, word_count, mean_word_len, symbol_word_ratio,
         |  alpha_word_frac, bullet_line_frac, ellipsis_line_frac, stopword_hits,
         |  (word_count BETWEEN 50 AND 100000
         |    AND mean_word_len BETWEEN 3.0 AND 10.0
         |    AND symbol_word_ratio <= 0.1
         |    AND alpha_word_frac >= 0.8
         |    AND bullet_line_frac <= 0.9
         |    AND ellipsis_line_frac <= 0.3
         |    AND stopword_hits >= 2) AS gopher_pass
         |FROM r ORDER BY doc_id""".stripMargin
    })),

    // The normalization contract restated: DuckDB's nfc_normalize over the
    // same control-stripped text (identical Unicode canonical composition
    // for assigned codepoints).
    QueryCase("text_normalize", (s, dir) => {
      implicit val spark: SparkSession = s
      // Unicode NFC normalization + control stripping (the tokenizer
      // pipeline's first stage) as a codegen'd expression. This corpus is
      // ASCII, so the pass is an identity HERE — what the oracle certifies
      // is the cross-engine CONTRACT (graft_nfc_clean ≡ DuckDB
      // nfc_normalize over control-stripped text) plus the no-op fast
      // path; the composed/decomposed unicode semantics are spec-pinned
      // on real fixtures (UnicodeNormSpec).
      load(dir, "documents").select(col("doc_id"),
          graft.expr.UnicodeNorm.nfcClean(col("text")).as("norm_text"),
          length(graft.expr.UnicodeNorm.nfcClean(col("text"))).cast("long")
            .as("norm_chars"),
          (graft.expr.UnicodeNorm.nfcClean(col("text")) === col("text"))
            .as("unchanged"))
        .orderBy("doc_id")
    }, Some(
      s"""SELECT doc_id,
         |  nfc_normalize(regexp_replace(text,
         |    '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')) AS norm_text,
         |  length(nfc_normalize(regexp_replace(text,
         |    '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')))::BIGINT AS norm_chars,
         |  (nfc_normalize(regexp_replace(text,
         |    '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')) = text) AS unchanged
         |FROM documents ORDER BY doc_id""".stripMargin)),

    // SemDeDup restated: the SAME k-means cell assignment CTEs the IVF
    // oracles replay (deterministic seeded init, r=1 pick with cell-ASC
    // tiebreak), within-cell cosine pairs at the engine's threshold, then
    // the recursive closure / min-id representative / per-label count
    // shape shared with dedup_embedding_cluster_keep.
    QueryCase("dedup_semantic", (s, dir) => {
      implicit val spark: SparkSession = s
      // SemDeDup: k-means cells bound the candidate set (Σ|cell|², not
      // N²), within-cell cosine ≥ τ pairs close under the oracled
      // recursive closure, one representative survives per component.
      // Same keep contract as dedup_embedding_cluster_keep but the
      // published clustering candidate generator instead of LSH.
      val emb = load(dir, "embeddings")
      val pairs = Similarity.semanticNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.42, nlist = 8)
      Dedup.keepClusterRepresentatives(emb, "vec_id", pairs)
        .groupBy("label")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("label")
    }, Some(
      s"""WITH ${ivfAssignCtesSql(nlist = 8)}, pairs AS (
         |  SELECT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM assigned x JOIN assigned y
         |    ON x.cell = y.cell AND x.vec_id < y.vec_id
         |  WHERE list_inner_product(x.v, y.v)
         |      / (sqrt(list_inner_product(x.v, x.v)) * sqrt(list_inner_product(y.v, y.v))) >= 0.42
         |), edges AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |), reach AS (
         |  WITH RECURSIVE r(a, b) AS (
         |    SELECT a, b FROM edges
         |    UNION
         |    SELECT r.a, e2.b FROM r JOIN edges e2 ON r.b = e2.a
         |  ) SELECT * FROM r
         |), comp AS (
         |  SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a
         |)
         |SELECT label, count(*) AS n_kept
         |FROM embeddings emb LEFT JOIN comp ON emb.vec_id = comp.id
         |WHERE comp.id IS NULL OR comp.component = emb.vec_id
         |GROUP BY label ORDER BY label""".stripMargin)),

    // The multi-probe twin: candidates additionally pair each vector's
    // top-2 cells (cellranked r <= 2) against home cells, LEAST/GREATEST-
    // normalized and DISTINCT'd exactly like the engine's ids-only dedup;
    // everything downstream is the shared closure shape.
    QueryCase("dedup_semantic_probe", (s, dir) => {
      implicit val spark: SparkSession = s
      // SemDeDup's structural-recall caveat closed the IVF way: nprobe=2
      // also joins each vector against its second-nearest cell, so
      // near-dup pairs straddling ONE cell boundary are recovered
      // (candidate volume ≤ 2×; ids-only through the probe dedup). Same
      // closure/keep contract — boundary pairs merge clusters, so keep
      // counts can only move toward the true all-pairs answer.
      val emb = load(dir, "embeddings")
      val pairs = Similarity.semanticNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.42, nlist = 8, nprobe = 2)
      Dedup.keepClusterRepresentatives(emb, "vec_id", pairs)
        .groupBy("label")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("label")
    }, Some(
      s"""WITH ${ivfAssignCtesSql(nlist = 8)}, cand AS (
         |  SELECT DISTINCT least(p.vec_id, b.vec_id) AS id_a,
         |    greatest(p.vec_id, b.vec_id) AS id_b
         |  FROM cellranked p JOIN assigned b
         |    ON p.cell = b.cell AND p.vec_id <> b.vec_id
         |  WHERE p.r <= 2
         |), pairs AS (
         |  SELECT c.id_a, c.id_b
         |  FROM cand c
         |  JOIN e x ON x.vec_id = c.id_a
         |  JOIN e y ON y.vec_id = c.id_b
         |  WHERE list_inner_product(x.v, y.v)
         |      / (sqrt(list_inner_product(x.v, x.v)) * sqrt(list_inner_product(y.v, y.v))) >= 0.42
         |), edges AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |), reach AS (
         |  WITH RECURSIVE r(a, b) AS (
         |    SELECT a, b FROM edges
         |    UNION
         |    SELECT r.a, e2.b FROM r JOIN edges e2 ON r.b = e2.a
         |  ) SELECT * FROM r
         |), comp AS (
         |  SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a
         |)
         |SELECT label, count(*) AS n_kept
         |FROM embeddings emb LEFT JOIN comp ON emb.vec_id = comp.id
         |WHERE comp.id IS NULL OR comp.component = emb.vec_id
         |GROUP BY label ORDER BY label""".stripMargin)),

    // Segment dedup restated verbatim: same analyzer tokens, same 1-based
    // inclusive span slicing (both engines truncate the last span), same
    // ordered reassembly (string_agg ORDER BY ≡ array_sort(collect_list)).
    // All-spans-dropped documents keep an empty-text row on both sides.
    QueryCase("dedup_repeated_segments", (s, dir) => {
      implicit val spark: SparkSession = s
      // C4 repeated-line removal restated on fixed 8-token spans (this
      // corpus has no line structure): spans occurring more than once
      // corpus-wide are cut from every document, documents reassemble
      // from the survivors in order. Segment-granular — the only dedup
      // here that edits documents instead of selecting among them.
      ops.Dedup.repeatedSegmentFilter(load(dir, "documents"),
          "doc_id", "text", window = 8, maxOccurrences = 1)
        .orderBy("doc_id")
    }, Some(
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |seg AS (
         |  SELECT doc_id, i - 1 AS seg_idx,
         |    array_to_string(toks[(i - 1) * 8 + 1 : i * 8], ' ') AS seg
         |  FROM t, unnest(generate_series(1, (len(toks) + 7) // 8)) AS u(i)
         |  WHERE len(toks) > 0
         |), over_rep AS (
         |  SELECT seg FROM seg GROUP BY seg HAVING count(*) > 1
         |)
         |SELECT s.doc_id, count(o.seg) AS n_dropped,
         |  count(*) - count(o.seg) AS n_kept,
         |  coalesce(string_agg(CASE WHEN o.seg IS NULL THEN s.seg END,
         |    ' ' ORDER BY s.seg_idx), '') AS text
         |FROM seg s LEFT JOIN over_rep o ON s.seg = o.seg
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin)),

    // The sliding-gram postings, the duplicated set, the coverage
    // explode, and the ordered reassembly — all restated; md5 is the
    // portable gram fingerprint on both engines.
    QueryCase("dedup_duplicate_spans", (s, dir) => {
      implicit val spark: SparkSession = s
      // ExactSubstr (Lee et al. 2022) restated distributed: every token
      // inside a >=8-token substring occurring more than once corpus-wide
      // is cut, at ANY alignment — sliding md5 gram postings, coverage
      // explode on duplicated occurrences only, document-bounded
      // reassembly. The alignment-free sibling of
      // dedup_repeated_segments (this corpus: ~1k duplicated 8-grams).
      ops.Dedup.duplicateSpanRemoval(load(dir, "documents"),
          "doc_id", "text", minLen = 8)
        .orderBy("doc_id")
    }, Some(
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |tok AS (
         |  SELECT doc_id, i AS tp, toks[i] AS tok
         |  FROM t, unnest(generate_series(1, len(toks))) u(i)
         |  WHERE len(toks) > 0
         |), grams AS (
         |  SELECT doc_id, i AS pos,
         |    md5(array_to_string(toks[i : i + 7], ' ')) AS g
         |  FROM t, unnest(generate_series(1, len(toks) - 7)) u(i)
         |  WHERE len(toks) >= 8
         |), dup AS (
         |  SELECT g FROM grams GROUP BY g HAVING count(*) > 1
         |), covered AS (
         |  SELECT DISTINCT grams.doc_id, pos + j AS tp
         |  FROM grams JOIN dup USING (g),
         |    unnest(generate_series(0, 7)) v(j)
         |)
         |SELECT tok.doc_id, count(*) AS n_tokens,
         |  count(covered.tp) AS n_removed,
         |  coalesce(string_agg(CASE WHEN covered.tp IS NULL THEN tok.tok END,
         |    ' ' ORDER BY tok.tp), '') AS text
         |FROM tok LEFT JOIN covered
         |  ON tok.doc_id = covered.doc_id AND tok.tp = covered.tp
         |GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin)),

    // Boilerplate restated on gram STRINGS where the engine counts distinct
    // gram HASHES — identical counts because per-doc grams are distinct by
    // construction on both sides (xxhash64 collisions aside, the same
    // warrant every ngram oracle here carries). The df threshold and the
    // ratio are the same IEEE arithmetic in both engines.
    QueryCase("text_boilerplate", (s, dir) => {
      implicit val spark: SparkSession = s
      // C4/RefinedWeb-style template-text signal: 3-grams present in ≥1%
      // of the corpus are boilerplate; each doc reports its distinct-gram
      // count, boilerplate-gram count, and ratio. The df threshold is a
      // corpus FRACTION (scale-invariant), the frequent set is the Zipf
      // head only (broadcast), and the per-doc rollup partial-aggregates
      // before its single exchange.
      ops.TextAnalysis.boilerplateProfile(load(dir, "documents"),
          "doc_id", "text", n = 3, minDocFrac = 0.01)
        .orderBy("doc_id")
    }, Some(
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(toks) - 2),
         |    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS gram
         |  FROM t WHERE len(toks) >= 3
         |), freq AS (
         |  SELECT gram FROM g GROUP BY gram
         |  HAVING count(*) >= ceil((SELECT count(*) FROM documents) * 0.01)
         |)
         |SELECT g.doc_id, count(*) AS n_grams, count(f.gram) AS n_boilerplate,
         |  count(f.gram)::DOUBLE / count(*) AS boilerplate_ratio
         |FROM g LEFT JOIN freq f ON g.gram = f.gram
         |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin)),

    QueryCase("text_boilerplate_filter", (s, dir) => {
      implicit val spark: SparkSession = s
      // The filter composed: drop docs whose boilerplate ratio exceeds the
      // line, count survivors per source. Docs too short for any 3-gram
      // pass (no signal is not a rejection).
      ops.TextAnalysis.boilerplateFilter(load(dir, "documents"),
          "doc_id", "text", n = 3, minDocFrac = 0.01, maxRatio = 0.35)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    }, Some(
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(toks) - 2),
         |    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS gram
         |  FROM t WHERE len(toks) >= 3
         |), freq AS (
         |  SELECT gram FROM g GROUP BY gram
         |  HAVING count(*) >= ceil((SELECT count(*) FROM documents) * 0.01)
         |), p AS (
         |  SELECT g.doc_id, count(f.gram)::DOUBLE / count(*) AS ratio
         |  FROM g LEFT JOIN freq f ON g.gram = f.gram GROUP BY g.doc_id
         |)
         |SELECT source, count(*) AS n_kept FROM documents d
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM p WHERE p.doc_id = d.doc_id AND p.ratio > 0.35)
         |GROUP BY source ORDER BY source""".stripMargin)),

    // The streamed-increment path restated from scratch: df counts over
    // the doc_id%3<>0 corpus (the replayed epoch contributes nothing — the
    // engine's per-(gram, epoch) dedup must make it invisible), the same
    // corpus-fraction line, scores over the held-out doc_id%3=0 batch.
    QueryCase("text_boilerplate_stream", (s, dir) => {
      implicit val spark: SparkSession = s
      // The streaming boilerplate SERVE path end-to-end as an oracled
      // batch query (the same shape dashboard_preagg_incremental gives the
      // rollup): the corpus-so-far arrives as two epoch increments of
      // (gram, df) + the null-gram doc-count sentinel — exactly what
      // maintainGramDf appends per micro-batch — with epoch 0 appended
      // TWICE (an at-least-once replay); gramDfFromIncrements dedups the
      // replay and sum-merges; the implied Zipf head then scores a NEW
      // batch the increments never saw, without re-reading corpus text.
      // The oracle restates the whole path as from-scratch df counts over
      // the corpus split — replays and the increment layout must be
      // invisible to the scores.
      val docs = load(dir, "documents")
      val corpus = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
      val newBatch = docs.where(pmod(col("doc_id"), lit(3)) === 0)
      val incPath = s"/tmp/graft_gramdf_stream_${math.abs(dir.hashCode)}"
      def inc(epoch: Int): DataFrame = {
        val batch = corpus.where(pmod(col("doc_id"), lit(2)) === epoch)
        batch.select(explode(graft.expr.TextShingles.shingleHashes(
            col("text"), 3)).as("gram"))
          .groupBy("gram").agg(count(lit(1)).as("df"))
          .unionByName(batch.agg(count(lit(1)).as("df"))
            .select(lit(null).cast("long").as("gram"), col("df")))
          .withColumn("inc_batch_id", lit(epoch.toLong))
      }
      // (r18: examined — the replayed epoch-0 branch ends in the gram-df
      // aggregate's exchange, which ReuseExchange dedupes at runtime; a
      // localCheckpoint here measured WORSE. Left as is.)
      inc(0).unionByName(inc(1)).unionByName(inc(0)) // epoch 0 replayed
        .write.mode("overwrite").parquet(incPath)
      val gramDf = EventStreams.gramDfFromIncrements(s, incPath)
      TextAnalysis.boilerplateProfileAgainst(newBatch, "doc_id", "text", 3,
          TextAnalysis.boilerplateFrequent(gramDf, minDocFrac = 0.01))
        .orderBy("doc_id")
    }, Some(
      s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
         |newb AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
         |cg AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(toks) - 2),
         |    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS gram
         |  FROM (SELECT doc_id, $duckToks AS toks FROM corpus) WHERE len(toks) >= 3
         |), freq AS (
         |  SELECT gram FROM cg GROUP BY gram
         |  HAVING count(*) >= ceil((SELECT count(*) FROM corpus) * 0.01)
         |), ng AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(toks) - 2),
         |    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))) AS gram
         |  FROM (SELECT doc_id, $duckToks AS toks FROM newb) WHERE len(toks) >= 3
         |)
         |SELECT n.doc_id, count(*) AS n_grams, count(f.gram) AS n_boilerplate,
         |  count(f.gram)::DOUBLE / count(*) AS boilerplate_ratio
         |FROM ng n LEFT JOIN freq f ON n.gram = f.gram
         |GROUP BY n.doc_id ORDER BY n.doc_id""".stripMargin)),

    // The fingerprint analyzer restated token for token.
    QueryCase("text_fingerprint", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES `fingerprint` analyzer (the OpenRefine clustering key):
      // analyze → dedupe → sort → rejoin. Texts differing only in word
      // order / repetition / punctuation / case collapse to one key —
      // the cheap first pass of the text-dedup tier, row-local built-in
      // column algebra only.
      load(dir, "documents").select(col("doc_id"),
          graft.expr.TextMatch.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }, Some({
      import graft.expr.TextMatch.fingerprintSql
      s"""SELECT doc_id, ${fingerprintSql("text")} AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin
    })),

    // FIM restated: the same seeded unit hashes decide the gate and the
    // sorted cut pair; 1-indexed substr slices are identical both engines.
    QueryCase("pipeline_fim", (s, dir) => {
      implicit val spark: SparkSession = s
      // Fill-in-the-Middle example construction (Bavarian et al. 2022):
      // half the corpus rearranged into <PRE>prefix<SUF>suffix<MID>middle
      // (the mixed objective), cut points the sorted pair of seeded
      // md5-unit hashes scaled by text length — portable, row-local, and
      // restated in SQL by the same unit-hash arithmetic. The reassembly
      // invariant (strip sentinels, reorder → original text) is
      // spec-pinned.
      ops.Packing.fimExamples(load(dir, "documents"), "doc_id", "text",
          fimRate = 0.5)
        .orderBy("doc_id")
    }, Some({
      import graft.ops.Sampling.hashUnitSql
      s"""WITH cuts AS (
         |  SELECT doc_id, text, length(text) AS n,
         |    ${hashUnitSql("doc_id", 42)} AS u0,
         |    floor(${hashUnitSql("doc_id", 43)} * length(text))::INT AS c1,
         |    floor(${hashUnitSql("doc_id", 44)} * length(text))::INT AS c2
         |  FROM documents
         |), spans AS (
         |  SELECT doc_id, text, n, u0,
         |    least(c1, c2) AS lo, greatest(c1, c2) AS hi
         |  FROM cuts
         |)
         |SELECT doc_id,
         |  (text IS NOT NULL AND u0 < 0.5) AS fim,
         |  CASE WHEN text IS NOT NULL AND u0 < 0.5 THEN
         |    '<PRE>' || substr(text, 1, lo) ||
         |    '<SUF>' || substr(text, hi + 1, n - hi) ||
         |    '<MID>' || substr(text, lo + 1, hi - lo)
         |  ELSE text END AS fim_text
         |FROM spans ORDER BY doc_id""".stripMargin
    })),

    // Curriculum keys restated: the CASE-sum stage, the same unit hash
    // pace, a stage-partitioned row_number.
    QueryCase("pipeline_curriculum", (s, dir) => {
      implicit val spark: SparkSession = s
      // Curriculum ordering (Bengio 2009): difficulty stages from length
      // thresholds (the classic proxy), deterministic within-stage pace
      // from the portable unit hash. The op emits sort KEYS (row-local);
      // this query samples each stage's first 5 in curriculum order via
      // a stage-PARTITIONED window — group-parallel, no global funnel.
      val staged = ops.Packing.curriculumKeys(load(dir, "documents"),
        "doc_id", "n_chars", bounds = Seq(150.0, 300.0))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("stage").orderBy(asc("pace"), asc("doc_id"))
      staged.withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 5)
        .select(col("stage"), col("rn"), col("doc_id"))
        .orderBy("stage", "rn")
    }, Some({
      import graft.ops.Sampling.hashUnitSql
      s"""WITH s AS (
         |  SELECT doc_id,
         |    (CASE WHEN n_chars::DOUBLE >= 150.0 THEN 1 ELSE 0 END
         |     + CASE WHEN n_chars::DOUBLE >= 300.0 THEN 1 ELSE 0 END) AS stage,
         |    ${hashUnitSql("doc_id", 42)} AS pace
         |  FROM documents
         |), r AS (
         |  SELECT stage, doc_id,
         |    row_number() OVER (PARTITION BY stage ORDER BY pace, doc_id) AS rn
         |  FROM s
         |)
         |SELECT stage, rn, doc_id FROM r WHERE rn <= 5
         |ORDER BY stage, rn""".stripMargin
    })),

    // Span corruption restated by list slicing: the same seeded unit
    // hashes place one span per token segment; DuckDB's inclusive [a:b]
    // slices mirror Spark's (start, length) slices exactly.
    QueryCase("pipeline_span_corruption", (s, dir) => {
      implicit val spark: SparkSession = s
      // T5 span-corruption examples (Raffel et al. 2020): two 3-token
      // spans masked with <extra_id_i> sentinels, inputs/targets pair
      // per document. Span positions from the portable seeded md5 unit
      // hash, one per equal token segment (never overlapping) — the FIM
      // discipline at token granularity; row-local split + slices, zero
      // shuffle, restated in SQL by list slicing.
      ops.Packing.spanCorruptionExamples(load(dir, "documents"),
          "doc_id", "text", numSpans = 2, spanLen = 3)
        .orderBy("doc_id")
    }, Some({
      import graft.ops.Sampling.hashUnitSql
      s"""WITH p AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS toks,
         |    len(string_split(text, ' ')) AS n,
         |    floor(len(string_split(text, ' ')) / 2.0)::INT AS seg
         |  FROM documents
         |), s AS (
         |  SELECT *,
         |    (0 * seg + floor(${hashUnitSql("doc_id", 43)} * (seg - 3 + 1))::INT) AS s0,
         |    (1 * seg + floor(${hashUnitSql("doc_id", 44)} * (seg - 3 + 1))::INT) AS s1
         |  FROM p
         |)
         |SELECT doc_id,
         |  (text IS NOT NULL AND seg >= 3) AS corrupted,
         |  CASE WHEN text IS NOT NULL AND seg >= 3 THEN array_to_string(
         |    toks[1:s0] || ['<extra_id_0>'] || toks[s0+4:s1]
         |      || ['<extra_id_1>'] || toks[s1+4:n], ' ')
         |  ELSE text END AS inputs,
         |  CASE WHEN text IS NOT NULL AND seg >= 3 THEN array_to_string(
         |    ['<extra_id_0>'] || toks[s0+1:s0+3]
         |      || ['<extra_id_1>'] || toks[s1+1:s1+3] || ['<extra_id_2>'], ' ')
         |  ELSE '' END AS targets
         |FROM s ORDER BY doc_id""".stripMargin
    })),

    QueryCase("pack_sequences", (s, dir) => {
      implicit val spark: SparkSession = s
      // Concat-and-chunk packing of the documents corpus into 512-token
      // training sequences over 4 independent id-mod buckets: one hash
      // exchange + per-bucket sort, boundary explode row-local. Every
      // sequence but each bucket's last is exactly 512 tokens (spec-pinned
      // invariant); slice offsets are exact integer arithmetic, restated
      // verbatim in the oracle's window + generate_series form.
      val docs = load(dir, "documents")
      ops.Packing.packConcatChunk(docs, "doc_id",
          ops.TextAnalysis.tokenCount(col("text")), seqLen = 512, numBuckets = 4)
        .orderBy("bucket", "seq", "doc_id")
    }, Some(
      s"""WITH t AS (
         |  SELECT doc_id, doc_id % 4 AS bucket,
         |    CASE WHEN len(trim(text)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END::BIGINT AS tok
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, bucket, tok,
         |    (sum(tok) OVER (PARTITION BY bucket ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok)::BIGINT AS strt
         |  FROM t WHERE tok > 0
         |), e AS (
         |  SELECT *, unnest(generate_series(strt // 512, (strt + tok - 1) // 512)) AS seq
         |  FROM c
         |)
         |SELECT bucket, seq, doc_id,
         |  greatest(0, seq * 512 - strt)::BIGINT AS slice_begin,
         |  (least(tok, (seq + 1) * 512 - strt) - greatest(0, seq * 512 - strt))::BIGINT AS slice_len
         |FROM e ORDER BY bucket, seq, doc_id""".stripMargin)),

    // Winnowed fingerprints as in dedup_containment, normalized by the
    // bench side's fingerprint count.
    QueryCase("decontaminate_containment", (s, dir) => {
      implicit val spark: SparkSession = s
      // Containment decontamination — "most of this bench item appears in
      // this doc", normalized by the BENCH fingerprint count so document
      // length never dilutes the score (the quoted-eval-question case
      // Jaccard misses). Winnowed fingerprints end to end, fully oracled.
      val docs = load(dir, "documents")
      val bench = docs.where(col("doc_id") % 97 === 0)
      ops.Decontaminate.containmentOverlaps(docs, "doc_id", "text",
          bench, "doc_id", "text", tau = 0.5, shingleK = 3, window = 4)
        .orderBy("doc_id", "bench_id")
    }, Some(
      s"""WITH t AS (
         |  SELECT doc_id, $duckToks AS toks FROM documents
         |), g AS (
         |  SELECT doc_id, list_transform(generate_series(1, len(toks) - 2),
         |    i -> ('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 13))::BIGINT) AS hs
         |  FROM t WHERE len(toks) >= 3
         |), f AS (
         |  SELECT doc_id, list_sort(list_distinct(
         |    CASE WHEN len(hs) < 4 THEN [list_min(hs)]
         |         ELSE list_transform(generate_series(1, len(hs) - 3),
         |                i -> list_min(hs[i:i+3])) END)) AS fp
         |  FROM g
         |), b AS (
         |  SELECT doc_id AS bench_id, fp FROM f WHERE doc_id % 97 = 0
         |), pairs AS (
         |  SELECT f.doc_id, b.bench_id,
         |    len(list_intersect(f.fp, b.fp))::DOUBLE / len(b.fp)::DOUBLE AS containment
         |  FROM f, b
         |)
         |SELECT doc_id, bench_id, containment FROM pairs
         |WHERE containment >= 0.5 ORDER BY doc_id, bench_id""".stripMargin)),

    QueryCase("decontaminate_fuzzy", (s, dir) => {
      implicit val spark: SparkSession = s
      // Fuzzy (Jaccard ≥ 0.35 on 2-shingles) contamination against the
      // same deterministic bench slice: catches near-rewrites exact
      // 8-gram overlap misses. Same hashed-shingle engine path as
      // dedup_ngram_jaccard, same string-shingle oracle restatement.
      val docs = load(dir, "documents")
      val bench = docs.where(col("doc_id") % 97 === 0)
      ops.Decontaminate.fuzzyOverlaps(docs, "doc_id", "text",
          bench, "doc_id", "text", threshold = 0.35, shingleK = 2)
        .orderBy("doc_id", "bench_id")
    }, Some(
      s"""WITH d AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(generate_series(1, len(toks) - 1),
         |      i -> toks[i] || ' ' || toks[i + 1])) AS sh
         |  FROM (SELECT doc_id, $duckToks AS toks FROM documents)
         |  WHERE len(toks) >= 2
         |), b AS (
         |  SELECT doc_id AS bench_id, sh FROM d WHERE doc_id % 97 = 0
         |), pairs AS (
         |  SELECT d.doc_id, b.bench_id,
         |    len(list_intersect(d.sh, b.sh))::DOUBLE
         |      / len(list_distinct(list_concat(d.sh, b.sh))) AS jaccard
         |  FROM d, b
         |)
         |SELECT doc_id, bench_id, jaccard FROM pairs
         |WHERE jaccard >= 0.35 ORDER BY doc_id, bench_id""".stripMargin)),

    QueryCase("pack_sequences_text", (s, dir) => {
      implicit val spark: SparkSession = s
      // The materialized form of pack_sequences: every 512-token training
      // sequence as its actual space-joined token stream. Token arrays ride
      // through the one bucket exchange; the assembly aggregate reuses its
      // clustering (no join back to the corpus, no second text shuffle).
      ops.Packing.materializeSequences(load(dir, "documents"),
          "doc_id", "text", seqLen = 512, numBuckets = 4)
        .orderBy("bucket", "seq")
    }, Some(
      s"""WITH t AS (
         |  SELECT doc_id, doc_id % 4 AS bucket,
         |    regexp_split_to_array(trim(text), '\\s+') AS toks,
         |    CASE WHEN len(trim(text)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END::BIGINT AS tok
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, bucket, toks, tok,
         |    (sum(tok) OVER (PARTITION BY bucket ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok)::BIGINT AS strt
         |  FROM t WHERE tok > 0
         |), e AS (
         |  SELECT *, unnest(generate_series(strt // 512, (strt + tok - 1) // 512)) AS seq
         |  FROM c
         |), s AS (
         |  SELECT bucket, seq, doc_id, toks,
         |    greatest(0, seq * 512 - strt)::BIGINT AS b,
         |    least(tok, (seq + 1) * 512 - strt)::BIGINT AS e2
         |  FROM e
         |)
         |SELECT bucket, seq,
         |  string_agg(array_to_string(toks[b + 1:e2], ' '), ' ' ORDER BY doc_id) AS seq_text,
         |  sum(e2 - b)::BIGINT AS n_tokens
         |FROM s GROUP BY bucket, seq ORDER BY bucket, seq""".stripMargin)),

    // The redaction chain replayed stage by stage from the SAME pattern
    // list the engine folds over (single source of truth), counting each
    // stage's matches on its input — identical precedence semantics.
    QueryCase("text_redact_pii", (s, dir) => {
      implicit val spark: SparkSession = s
      // The corpus carries no PII, so the query injects a deterministic
      // docket of it (email, SSN, two phone forms, IPv4) derived from
      // doc_id, then scrubs — the redaction chain itself is what's under
      // oracle. Row-local regexp chain, no shuffle.
      val injected = concat(
        col("text"),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@ex-corp.example.com ph 555-867-5309 or (415) 555-0100" +
          " ssn 078-05-1120 host 192.168."),
        (col("doc_id") % 256).cast("string"), lit(".7"))
      load(dir, "documents").select(
        col("doc_id"),
        ops.TextAnalysis.redactPii(injected).as("redacted"),
        ops.TextAnalysis.piiMatchCount(injected).as("n_pii"))
        .orderBy("doc_id")
    }, Some({
      val inj = "text || ' contact u' || doc_id::VARCHAR ||" +
        " '@ex-corp.example.com ph 555-867-5309 or (415) 555-0100" +
        " ssn 078-05-1120 host 192.168.' || (doc_id % 256)::VARCHAR || '.7'"
      val stages = ops.TextAnalysis.piiPatterns.zipWithIndex.map { case ((p, r), i) =>
        s"""t${i + 1} AS (
           |  SELECT doc_id, regexp_replace(s, '$p', '$r', 'g') AS s,
           |    c + len(regexp_extract_all(s, '$p'))::BIGINT AS c
           |  FROM t$i
           |)""".stripMargin
      }
      s"""WITH t0 AS (
         |  SELECT doc_id, $inj AS s, 0::BIGINT AS c FROM documents
         |),
         |${stages.mkString(",\n")}
         |SELECT doc_id, s AS redacted, c AS n_pii
         |FROM t${ops.TextAnalysis.piiPatterns.size} ORDER BY doc_id""".stripMargin
    })),

    QueryCase("decontaminate_ngram", (s, dir) => {
      implicit val spark: SparkSession = s
      // Benchmark decontamination: the "benchmark" is a deterministic slice
      // of the corpus itself (doc_id % 97 = 0), so overlaps are guaranteed
      // (each bench doc flags at least itself) and the whole pipeline —
      // per-row distinct 8-grams, broadcast bench set, count per doc —
      // restates in SQL. Contaminated docs + overlap counts, by id.
      val docs = load(dir, "documents")
      val bench = docs.where(col("doc_id") % 97 === 0)
      ops.Decontaminate.overlaps(docs, "doc_id", "text", bench, "text", n = 8)
        .orderBy("doc_id")
    }, Some(
      s"""WITH t AS (
         |  SELECT doc_id, $duckToks AS toks FROM documents
         |), cg AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(toks) - 7),
         |    i -> array_to_string(toks[i:i+7], ' ')))) AS gram
         |  FROM t WHERE len(toks) >= 8
         |), bg AS (
         |  SELECT DISTINCT gram FROM cg WHERE doc_id % 97 = 0
         |)
         |SELECT doc_id, count(*)::BIGINT AS n_overlapping_grams
         |FROM cg JOIN bg USING (gram)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QueryCase("dedup_exact_fingerprint", (s, dir) => {
      implicit val spark: SparkSession = s
      // Exact dedup on the normalized-content fingerprint: case/punctuation
      // variants collapse; keep the smallest doc_id per group.
      Dedup.exactByFingerprint(load(dir, "documents"), "text", "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_unique"))
        .orderBy("source")
    }, Some(
      s"""SELECT source, count(*) AS n_unique FROM (
         |  SELECT source,
         |    row_number() OVER (PARTITION BY $duckNorm ORDER BY doc_id) AS rn
         |  FROM documents
         |) WHERE rn = 1
         |GROUP BY source ORDER BY source""".stripMargin)),

    // Fingerprint-store anti-join + within-batch min-keep, restated on the
    // normalized text (the store's xxhash64 key is injective modulo
    // collisions, same established equivalence as dedup_exact_fingerprint).
    QueryCase("dedup_exact_incremental", (s, dir) => {
      implicit val spark: SparkSession = s
      // The daily-ingest dedup shape: yesterday's corpus participates only
      // as its fingerprint column (the at-rest store); today's batch
      // left-anti joins it and dedups within itself. No corpus re-scan.
      val docs = load(dir, "documents")
      val store = Dedup.fingerprints(docs.where(col("doc_id") % 2 === 0), "text")
      Dedup.exactIncremental(docs.where(col("doc_id") % 2 =!= 0),
          "text", "doc_id", store)
        .groupBy("source")
        .agg(count(lit(1)).as("n_accepted"))
        .orderBy("source")
    }, Some(dedupExactIncrementalOracleSql)),

    // the Bloom pre-filter must not change the accepted set — same oracle
    QueryCase("dedup_exact_incremental_bloom", (s, dir) => {
      implicit val spark: SparkSession = s
      // The 100 TB daily-ingest shape: the store's mergeable Bloom states
      // (built per-half here — the at-rest increment contract) pre-filter
      // the batch, so only maybe-seen rows pay the store anti-join.
      // Exactness is the point: same accepted set, same oracle as
      // dedup_exact_incremental.
      val docs = load(dir, "documents")
      val store = Dedup.fingerprints(docs.where(col("doc_id") % 2 === 0), "text")
      val states = Dedup.fingerprintBloomState(
          store.where(col("fp") % 2 === 0), expectedItems = 100000, numBits = 1 << 21)
        .unionByName(Dedup.fingerprintBloomState(
          store.where(col("fp") % 2 =!= 0), expectedItems = 100000, numBits = 1 << 21))
      Dedup.exactIncrementalBloom(docs.where(col("doc_id") % 2 =!= 0),
          "text", "doc_id", store, states)
        .groupBy("source")
        .agg(count(lit(1)).as("n_accepted"))
        .orderBy("source")
    }, Some(dedupExactIncrementalOracleSql)),

    QueryCase("dedup_cluster_keep", (s, dir) => {
      implicit val spark: SparkSession = s
      // The full dedup story: exact near-dup pairs → connected components →
      // keep the smallest doc_id per cluster → counts per source. The
      // unfiltered inverted-index generator is the measured best at this
      // loose threshold on this corpus (its count-as-intersection verify
      // never materializes candidate pairs); dense Zipfian corpora swap in
      // ngramJaccardPairsPrefix (same pairs — see its measured crossover)
      // or the approximate dedup_cluster_keep_minhash composition.
      val docs = load(dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        threshold = 0.35, shingleK = 2)
      Dedup.keepClusterRepresentatives(docs, "doc_id", pairs)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    }, Some(
      s"""WITH d AS (
         |  SELECT doc_id, $duckToks AS toks FROM documents
         |), sets AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(generate_series(1, len(toks) - 1),
         |      i -> toks[i] || ' ' || toks[i + 1])) AS sh
         |  FROM d WHERE len(toks) >= 2
         |), pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sets a, sets b
         |  WHERE a.doc_id < b.doc_id
         |    AND len(list_intersect(a.sh, b.sh))::DOUBLE
         |          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.35
         |), edges AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |), reach AS (
         |  -- transitive closure (recursive UNION dedupes, so it terminates)
         |  WITH RECURSIVE r(a, b) AS (
         |    SELECT a, b FROM edges
         |    UNION
         |    SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a
         |  ) SELECT * FROM r
         |), comp AS (
         |  SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a
         |)
         |SELECT source, count(*) AS n_kept
         |FROM documents doc LEFT JOIN comp ON doc.doc_id = comp.id
         |WHERE comp.id IS NULL OR comp.component = doc.doc_id
         |GROUP BY source ORDER BY source""".stripMargin)),

    QueryCase("dedup_cluster_keep_minhash", (s, dir) => {
      implicit val spark: SparkSession = s
      // The same cluster-keep pipeline over the LINEAR pair generator — the
      // form a dense 100 TB corpus must run: banded MinHash candidates
      // (cost ∝ docs × bands) instead of the inverted-index self-join
      // (cost ∝ Σ df², which explodes on frequent shingles). The ngram twin
      // above stays registered as the exact-oracle form; DedupSpec pins
      // cluster equivalence on a fixture where banding recall is provably
      // 100% (identical token sets ⇒ identical signatures ⇒ certain
      // collision). No SQL oracle: seeded xxhash64 signatures aren't
      // expressible in DuckDB (rows-only check).
      val docs = load(dir, "documents")
      val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        threshold = 0.35, shingleK = 3)
      Dedup.keepClusterRepresentatives(docs, "doc_id", pairs)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    }),

    QueryCase("pipeline_prep", (s, dir) => {
      implicit val spark: SparkSession = s
      // The composed training-data prep flow a 100 TB corpus runs end to
      // end: exact near-dup removal on the content fingerprint → quality
      // floor → language filter → deterministic split assignment →
      // per-cell counts. Each stage is an already-oracled operator; this
      // oracles the COMPOSITION (same flow in DuckDB). One scan, one
      // window shuffle on the fingerprint, one aggregate — the filters and
      // split predicate are row-local and fuse into the scan.
      val docs = load(dir, "documents")
      val deduped = Dedup.exactByFingerprint(docs, "text", "doc_id")
      val kept = deduped.where(
        TextAnalysis.qualityScore(col("text")) >= 0.6 &&
          TextAnalysis.languageId(col("text")) === "en")
      ops.Sampling.assignSplit(kept, "doc_id",
          Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n"))
        .orderBy("split", "source")
    }, Some(
      s"""WITH $langIdCtes,
         |$qualityCtes,
         |winners AS (
         |  SELECT doc_id, source FROM (
         |    SELECT doc_id, source,
         |      row_number() OVER (PARTITION BY $duckNorm ORDER BY doc_id) AS rn
         |    FROM documents
         |  ) WHERE rn = 1
         |)
         |SELECT CASE WHEN ${ops.Sampling.hashUnitSql("doc_id", 42)} < 0.75 THEN 'train'
         |            WHEN ${ops.Sampling.hashUnitSql("doc_id", 42)} < 0.875 THEN 'val'
         |            ELSE 'test' END AS split,
         |  source, count(*) AS n
         |FROM winners
         |JOIN lang_per_doc USING (doc_id)
         |JOIN quality_per_doc USING (doc_id)
         |WHERE quality_score >= 0.6 AND lang_pred = 'en'
         |GROUP BY split, source ORDER BY split, source""".stripMargin)),

    // scale = least(count_s / target_s); fraction_s = target_s·scale/count_s
    // — the same single IEEE ops the engine's mixFractions runs, so the
    // kept sets are bit-identical.
    QueryCase("sample_mix_sources", (s, dir) => {
      implicit val spark: SparkSession = s
      // Domain re-weighting to a target mixture (src0 half, src1/src2 a
      // quarter each — binary-exact weights so the oracle's arithmetic is
      // bit-identical): binding source kept whole, others hash-downsampled.
      ops.Sampling.mixToTarget(load(dir, "documents"), "doc_id", "source",
          Seq("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25))
        .groupBy("source")
        .agg(count(lit(1)).as("n"))
        .orderBy("source")
    }, Some({
      val u = ops.Sampling.hashUnitSql("doc_id", 42)
      s"""WITH cnt AS (
         |  SELECT source, count(*)::BIGINT AS c FROM documents GROUP BY source
         |), sc AS (
         |  SELECT least(
         |    (SELECT c FROM cnt WHERE source = 'src0')::DOUBLE / 0.5::DOUBLE,
         |    (SELECT c FROM cnt WHERE source = 'src1')::DOUBLE / 0.25::DOUBLE,
         |    (SELECT c FROM cnt WHERE source = 'src2')::DOUBLE / 0.25::DOUBLE) AS scale
         |)
         |SELECT source, count(*)::BIGINT AS n
         |FROM documents, sc
         |WHERE $u < CASE source
         |  WHEN 'src0' THEN 0.5::DOUBLE * sc.scale / (SELECT c FROM cnt WHERE source = 'src0')::DOUBLE
         |  WHEN 'src1' THEN 0.25::DOUBLE * sc.scale / (SELECT c FROM cnt WHERE source = 'src1')::DOUBLE
         |  WHEN 'src2' THEN 0.25::DOUBLE * sc.scale / (SELECT c FROM cnt WHERE source = 'src2')::DOUBLE
         |  ELSE 0.0::DOUBLE END
         |GROUP BY source ORDER BY source""".stripMargin
    })),

    // Temperature mixing restated: the α=0.5 power is sqrt, so the scale
    // (min over sources of c/sqrt(c)) and every kept-fraction
    // (sqrt(c)·scale/c) are the same IEEE values in both engines.
    QueryCase("sample_mix_temperature", (s, dir) => {
      implicit val spark: SparkSession = s
      // Temperature mixing (the multilingual-LM rule: sample ∝ share^α,
      // α=0.5): the smallest language is kept whole, larger ones
      // hash-downsample toward their square-rooted share. α=0.5 computes
      // as exact IEEE sqrt on both engines — the reason this query can
      // hash-match where a general pow could not.
      ops.Sampling.mixTemperature(load(dir, "documents"), "doc_id", "lang",
          alpha = 0.5)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang")
    }, Some({
      val u = ops.Sampling.hashUnitSql("doc_id", 42)
      s"""WITH cnt AS (
         |  SELECT lang, count(*)::BIGINT AS c FROM documents GROUP BY lang
         |), sc AS (
         |  SELECT min(c / sqrt(c)) AS scale FROM cnt
         |)
         |SELECT d.lang, count(*)::BIGINT AS n
         |FROM documents d JOIN cnt ON cnt.lang = d.lang, sc
         |WHERE $u < sqrt(cnt.c) * sc.scale / cnt.c
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin
    })),

    // Semantic decontamination restated: the same sequential
    // list_inner_product cosine, DISTINCT flagged ids, anti-join, kept
    // counts per label.
    QueryCase("decontaminate_semantic", (s, dir) => {
      implicit val spark: SparkSession = s
      // Embedding-space decontamination: the leakage n-grams cannot see
      // (paraphrase/translation) — corpus vectors within cosine 0.42 of
      // any benchmark vector are dropped; the bench broadcasts, the check
      // is one row-local pass.
      val emb = load(dir, "embeddings")
      val bench = emb.where(pmod(col("vec_id"), lit(29)) === 0)
      val corpus = emb.where(pmod(col("vec_id"), lit(29)) =!= 0)
      ops.Decontaminate.cleanSemantic(corpus, "vec_id", "embedding",
          bench, "vec_id", "embedding", threshold = 0.42)
        .groupBy("label")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("label")
    }, Some(
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |b AS (SELECT * FROM e WHERE vec_id % 29 = 0),
        |c AS (SELECT * FROM e WHERE vec_id % 29 <> 0),
        |flagged AS (
        |  SELECT DISTINCT c.vec_id FROM c JOIN b ON
        |    list_inner_product(c.v, b.v)
        |      / (sqrt(list_inner_product(c.v, c.v)) * sqrt(list_inner_product(b.v, b.v))) >= 0.42
        |)
        |SELECT c.label, count(*)::BIGINT AS n_kept
        |FROM c LEFT JOIN flagged ON c.vec_id = flagged.vec_id
        |WHERE flagged.vec_id IS NULL
        |GROUP BY c.label ORDER BY c.label""".stripMargin)),

    // The composed round-9 pipeline: language/quality/repetition filters,
    // fingerprint dedup winners, exact-8-gram decontamination, and packing
    // restated stage by stage from the same fragments the per-operator
    // oracles use.
    QueryCase("pipeline_prep_llm", (s, dir) => {
      implicit val spark: SparkSession = s
      // The round-9 full training-data story in ONE DAG, in the order a
      // 100 TB run wants: row-local filters fused into the scan (language,
      // quality floor, Gopher repetition cut) → exact dedup (one window
      // shuffle on the fingerprint) → benchmark decontamination (broadcast
      // bench grams, ids-only anti-join) → concat-and-chunk packing (one
      // bucket exchange) → per-bucket fill stats. Every stage is an
      // already-oracled operator; this oracles the COMPOSITION.
      val docs = load(dir, "documents")
      val c = col("text")
      val filtered = docs.where(
        TextAnalysis.languageId(c) === "en" &&
          TextAnalysis.qualityScore(c) >= 0.6 &&
          TextAnalysis.topNGramCharFrac(c, 2) <= 0.12)
      val deduped = Dedup.exactByFingerprint(filtered, "text", "doc_id")
      val bench = docs.where(col("doc_id") % 97 === 0)
      // Contamination is a PER-DOCUMENT text property, so flag ids from the
      // pre-dedup frame: flagging the post-dedup frame would be the same
      // predicate but self-reference the dedup subtree, running its
      // corpus-wide fingerprint shuffle twice (the duplicated branch costs
      // only a second codegen'd scan this way).
      val flagged = ops.Decontaminate.overlaps(filtered, "doc_id", "text",
        bench, "text", n = 8).select("doc_id")
      val clean = deduped.join(broadcast(flagged), Seq("doc_id"), "left_anti")
      val packed = ops.Packing.packConcatChunk(clean, "doc_id",
        TextAnalysis.tokenCount(col("text")), seqLen = 512, numBuckets = 4)
      // Distinct-free fill stats from packing invariants (each doc has
      // exactly one slice_begin = 0 row; seqs are contiguous from 0): a
      // countDistinct pair here would Expand the frame 3× and add two
      // exchanges; this aggregate rides the window's bucket clustering
      // with no exchange at all.
      packed.groupBy("bucket").agg(
          sum(when(col("slice_begin") === 0, 1L).otherwise(0L)).as("n_docs"),
          (max(col("seq")) + 1).as("n_seqs"),
          sum("slice_len").as("n_tokens"))
        .orderBy("bucket")
    }, Some(
      s"""WITH $langIdCtes,
         |$qualityCtes,
         |rep_t AS (
         |  SELECT doc_id, $duckToks AS toks,
         |    len(regexp_extract_all(lower(text), '[a-z0-9]'))::BIGINT AS alnum
         |  FROM documents
         |), rep_g2 AS (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
         |    i -> array_to_string(toks[i:i+1], ' '))) AS gram
         |  FROM rep_t WHERE len(toks) >= 2
         |), rep_c2 AS (
         |  SELECT doc_id, gram, count(*)::BIGINT AS cnt, (len(gram) - 1)::BIGINT AS chars
         |  FROM rep_g2 GROUP BY doc_id, gram
         |), rep_top2 AS (
         |  SELECT doc_id, cnt * chars AS mass FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY cnt DESC, chars DESC, gram ASC) AS rn FROM rep_c2
         |  ) WHERE rn = 1
         |), base AS (
         |  SELECT d.doc_id, d.text FROM documents d
         |  JOIN lang_per_doc USING (doc_id)
         |  JOIN quality_per_doc USING (doc_id)
         |  JOIN rep_t USING (doc_id)
         |  LEFT JOIN rep_top2 USING (doc_id)
         |  WHERE lang_pred = 'en' AND quality_score >= 0.6
         |    AND (CASE WHEN rep_t.alnum = 0 OR rep_top2.mass IS NULL THEN 0.0
         |              ELSE rep_top2.mass::DOUBLE / rep_t.alnum::DOUBLE END) <= 0.12
         |), winners AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      row_number() OVER (PARTITION BY $duckNorm ORDER BY doc_id) AS rn
         |    FROM base
         |  ) WHERE rn = 1
         |), wg AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(toks) - 7),
         |    i -> array_to_string(toks[i:i+7], ' ')))) AS gram
         |  FROM (SELECT doc_id, $duckToks AS toks FROM winners) WHERE len(toks) >= 8
         |), bg AS (
         |  SELECT DISTINCT gram FROM (
         |    SELECT unnest(list_distinct(list_transform(
         |      generate_series(1, len(toks) - 7),
         |      i -> array_to_string(toks[i:i+7], ' ')))) AS gram
         |    FROM (SELECT $duckToks AS toks FROM documents WHERE doc_id % 97 = 0)
         |    WHERE len(toks) >= 8
         |  )
         |), contaminated AS (
         |  SELECT DISTINCT doc_id FROM wg JOIN bg USING (gram)
         |), cleaned AS (
         |  SELECT doc_id, text FROM winners
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
         |), pt AS (
         |  SELECT doc_id, doc_id % 4 AS bucket,
         |    CASE WHEN len(trim(text)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END::BIGINT AS tok
         |  FROM cleaned
         |), pc AS (
         |  SELECT doc_id, bucket, tok,
         |    (sum(tok) OVER (PARTITION BY bucket ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok)::BIGINT AS strt
         |  FROM pt WHERE tok > 0
         |), pe AS (
         |  SELECT *, unnest(generate_series(strt // 512, (strt + tok - 1) // 512)) AS seq
         |  FROM pc
         |)
         |SELECT bucket,
         |  sum(CASE WHEN greatest(0, seq * 512 - strt) = 0 THEN 1 ELSE 0 END)::BIGINT AS n_docs,
         |  (max(seq) + 1)::BIGINT AS n_seqs,
         |  sum(least(tok, (seq + 1) * 512 - strt) - greatest(0, seq * 512 - strt))::BIGINT AS n_tokens
         |FROM pe GROUP BY bucket ORDER BY bucket""".stripMargin)),

    QueryCase("text_readability", (s, dir) => {
      implicit val spark: SparkSession = s
      // Flesch reading ease over the documents corpus — integer counts +
      // one fixed arithmetic tree, restated bit-exactly in DuckDB (no
      // rounding; both engines parse the same decimal literals to the
      // same doubles and evaluate the same operation order).
      load(dir, "documents").select(col("doc_id"),
        graft.ops.TextAnalysis.fleschReadingEase(col("text")).as("fre"))
        .where(col("doc_id") < 80).orderBy("doc_id")
    }, Some(
      """SELECT doc_id,
        |  CAST(206.835 AS DOUBLE)
        |  - CAST(1.015 AS DOUBLE) *
        |    (CAST(greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) AS DOUBLE)
        |     / CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE))
        |  - CAST(84.6 AS DOUBLE) *
        |    (CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS DOUBLE)
        |     / CAST(greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) AS DOUBLE)) AS fre
        |FROM documents WHERE doc_id < 80 ORDER BY doc_id""".stripMargin)))
}
