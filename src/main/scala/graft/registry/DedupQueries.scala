package graft
package registry

import graft.ops.{Dedup, Multimodal, PerceptualFixtures, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SparkEntry._
import OracleSql._

/** Training-data ops: exact, near-duplicate and span dedup. */
object DedupQueries extends Family("pipeline") {

  /** Deterministic total order for a (small) pair-list result WITHOUT a
    * global sort: `orderBy` range-partitions, and range partitioning
    * SAMPLES its child — re-executing the entire pair DAG (join + both
    * aggregate passes) a second time just to pick range bounds. Measured
    * on the 10× scale corpus that sampling pass doubled
    * `dedup_ngram_jaccard` end to end. A near-dup pair list is tiny (the
    * actual duplicates), so one exchange to a single partition plus a
    * local sort gives the same order with the expensive subtree executed
    * exactly once.
    */
  private def pairSorted(df: DataFrame): DataFrame =
    df.repartition(1).sortWithinPartitions("id_a", "id_b")

  val cases: Seq[QueryCase] = Seq(
    // The whole-corpus restatement restricted to the arriving half: the
    // duplicated set still comes from ALL documents (that is the point),
    // only the tokens/coverage narrow to odd ids.
    QueryCase("dedup_duplicate_spans_incremental", (s, dir) => {
      implicit val spark: SparkSession = s
      // The ExactSubstr deployment shape: the ARRIVING half (odd doc ids)
      // deduplicates against the maintained corpus-wide gram-count state
      // — a gram's duplicate status is a pure function of that count, so
      // this emits exactly the whole-corpus rows for those documents (the
      // oracle is the whole-corpus restatement restricted to them). The
      // streamed maintenance twin is spec-certified
      // (EventStreamsSpec span-gram test).
      val docs = load(dir, "documents")
      val counts = ops.Dedup.slidingGramPostings(docs, "doc_id", "text", 8)
        .groupBy(col("_g").as("g")).agg(count(lit(1)).as("n"))
      ops.Dedup.duplicateSpanRemovalAgainst(
          docs.where(pmod(col("doc_id"), lit(2)) === 1),
          "doc_id", "text", counts, minLen = 8)
        .orderBy("doc_id")
    }, Some(
      s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |tok AS (
         |  SELECT doc_id, i AS tp, toks[i] AS tok
         |  FROM t, unnest(generate_series(1, len(toks))) u(i)
         |  WHERE len(toks) > 0 AND (doc_id % 2) = 1
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
         |  WHERE (grams.doc_id % 2) = 1
         |)
         |SELECT tok.doc_id, count(*) AS n_tokens,
         |  count(covered.tp) AS n_removed,
         |  coalesce(string_agg(CASE WHEN covered.tp IS NULL THEN tok.tok END,
         |    ' ' ORDER BY tok.tp), '') AS text
         |FROM tok LEFT JOIN covered
         |  ON tok.doc_id = covered.doc_id AND tok.tp = covered.tp
         |GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin)),

    // ===== Training-data ops: dedup =====

    QueryCase("dedup_exact", (s, dir) => {
      implicit val spark: SparkSession = s
      Dedup.exact(load(dir, "documents"), Seq("text"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_unique"))
        .orderBy("source")
    }, Some(
      """SELECT source, count(*) AS n_unique FROM (
        |  SELECT text, source,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents
        |) WHERE rn = 1
        |GROUP BY source ORDER BY source""".stripMargin)),

    // Pair/top-k operators return unordered results (no terminal global
    // sort at scale); the deterministic ORDER BY the oracle compare needs
    // is applied here, on the small result.
    QueryCase("dedup_minhash", (s, dir) => {
      implicit val spark: SparkSession = s
      Dedup.minhashNearDupPairs(load(dir, "documents"), "doc_id", "text",
          threshold = 0.4, shingleK = 2, numBands = 32, rowsPerBand = 2)
        .transform(pairSorted)
    }),

    // The full LSH pipeline rerun in SQL: portable md5 gram hashes,
    // per-permutation minima, value-vector band buckets, candidate pairs,
    // verified Jaccard — byte-identical to the engine's portable twin.
    QueryCase("dedup_minhash_portable", (s, dir) => {
      implicit val spark: SparkSession = s
      // The fully-oracled MinHash twin: every hash the portable md5
      // construction, band buckets compared as value vectors — the DuckDB
      // oracle reruns the whole LSH pipeline (signatures → bands →
      // candidates → verified Jaccard) bit for bit. The xxhash64 kernel
      // (dedup_minhash) stays the scale path; this entry certifies its
      // shape cross-engine.
      Dedup.minhashNearDupPairsPortable(load(dir, "documents"), "doc_id", "text",
          threshold = 0.4, shingleK = 2, numBands = 16, rowsPerBand = 2)
        .transform(pairSorted)
    }, Some(
      s"""WITH ${portableMinhashCtesSql(k = 2, numHashes = 32, r = 2, threshold = 0.4)}
         |SELECT id_a, id_b, jaccard FROM pairs
         |ORDER BY id_a, id_b""".stripMargin)),

    QueryCase("dedup_simhash", (s, dir) => {
      implicit val spark: SparkSession = s
      // Hamming radius 3 over 16-bit chunks — the classic web near-dup
      // setting (Manku et al., WWW'07). 4-bit chunks at radius 12 (round 1)
      // bucket ~1/16th of the corpus per chunk value: a near-cross-join.
      Dedup.simhashNearDupPairs(load(dir, "documents"), "doc_id", "text",
        maxHamming = 3, numChunks = 4)
        .transform(pairSorted)
    }),

    // Portable LSH pairs → recursive-CTE transitive closure → smallest-id
    // representative per cluster: the whole linear-generator cluster-keep
    // pipeline certified cross-engine.
    QueryCase("dedup_cluster_keep_portable", (s, dir) => {
      implicit val spark: SparkSession = s
      // The linear-generator cluster-keep pipeline, certified end to end:
      // portable-MinHash banded pairs → connected components → smallest
      // doc_id per cluster → per-source counts, hash-matched against the
      // recursive-CTE closure over the same portable pairs. PINNED
      // 500-doc certification slice: the twin proves MECHANISM
      // equivalence (every stage cross-engine), not serving cost — the
      // scale numbers are dedup_cluster_keep_minhash's; at sf0.01 the
      // slice is the whole corpus, so certification strength is unchanged
      // while the sf0.1 bench stops paying a 10× fixture for no extra
      // proof (r14 verdict, What's wrong #2).
      val docs = load(dir, "documents").where(col("doc_id") < 500)
      val pairs = Dedup.minhashNearDupPairsPortable(docs, "doc_id", "text",
        threshold = 0.4, shingleK = 2, numBands = 16, rowsPerBand = 2)
      Dedup.keepClusterRepresentatives(docs, "doc_id", pairs)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    }, Some(
      s"""WITH ${portableMinhashCtesSql(k = 2, numHashes = 32, r = 2, threshold = 0.4,
            from = "(SELECT * FROM documents WHERE doc_id < 500)")},
         |edges AS (
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
         |FROM (SELECT * FROM documents WHERE doc_id < 500) doc
         |  LEFT JOIN comp ON doc.doc_id = comp.id
         |WHERE comp.id IS NULL OR comp.component = doc.doc_id
         |GROUP BY source ORDER BY source""".stripMargin)),

    // Charikar votes over portable md5 hashes, sign bits reassembled,
    // pigeonhole chunk join, Hamming verify — every stage rerun in SQL.
    QueryCase("dedup_simhash_portable", (s, dir) => {
      implicit val spark: SparkSession = s
      // The fully-oracled SimHash twin: Charikar votes over the portable
      // md5 hash (52 bits), pigeonhole chunks, Hamming verify — the DuckDB
      // oracle reruns every stage bit for bit. The codegen'd 64-bit kernel
      // (dedup_simhash) stays the scale path.
      Dedup.simhashNearDupPairsPortable(load(dir, "documents"), "doc_id", "text",
          maxHamming = 3, numChunks = 4)
        .transform(pairSorted)
    }, Some({
      val bits = 52; val chunkBits = 13; val mask = (1L << chunkBits) - 1
      s"""WITH d AS (
         |  SELECT doc_id, $duckToks AS toks FROM documents
         |), th AS (
         |  SELECT doc_id, ('0x' || substr(md5(t), 1, 13))::BIGINT AS h
         |  FROM (SELECT doc_id, unnest(toks) AS t FROM d)
         |), votes AS (
         |  SELECT doc_id, b,
         |    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS tally
         |  FROM th CROSS JOIN (SELECT unnest(range($bits)) AS b)
         |  GROUP BY doc_id, b
         |), sims AS (
         |  SELECT doc_id,
         |    sum(CASE WHEN tally > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS sim
         |  FROM votes GROUP BY doc_id
         |), chunks AS (
         |  SELECT doc_id, sim, j AS cidx, (sim >> (j * $chunkBits)) & $mask AS cval
         |  FROM sims CROSS JOIN (SELECT unnest(range(4)) AS j)
         |)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |  bit_count(xor(a.sim, b.sim))::INT AS hamming
         |FROM chunks a JOIN chunks b
         |  ON a.cidx = b.cidx AND a.cval = b.cval AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= 3
         |ORDER BY id_a, id_b""".stripMargin
    })),

    // Perceptual image dedup from the hash table down: the 16 dHashes the
    // real render→PNG→decode→dHash chain MUST reproduce are pinned as
    // literals (PerceptualFixtures.imageItems: 4 content seeds × base /
    // rescaled / inverted / 2-cells-edited), and the oracle re-pairs them
    // brute-force — equality with the engine's banded pairing certifies
    // the pigeonhole's exactness, equality of the hashes certifies the
    // codec chain (the dedup_simhash_portable pattern; codec floats stay
    // spec-pinned like mm_feature_stats).
    QueryCase("dedup_perceptual_image", (s, dir) => {
      implicit val spark: SparkSession = s
      // Perceptual image dedup certified end to end: real PNG render →
      // javax.imageio decode → 64-bit dHash → pigeonhole-banded pairing →
      // Hamming verify, over the deterministic in-code media corpus (the
      // parquet testdata carries no binary media). The DuckDB oracle PINS
      // the 16 expected dHashes as literals and re-pairs them brute-force:
      // hash-match certifies BOTH the codec chain's determinism and the
      // banding's exactness (pigeonhole = no false negatives, verify = no
      // false positives ≡ the all-pairs answer).
      Multimodal.imageNearDupPairs(
          Multimodal.imageDHashes(PerceptualFixtures.imageItems(s)),
          maxHamming = 6)
        .transform(pairSorted)
    }, Some(
      s"""WITH h(id, dhash) AS (VALUES
         |  (0::BIGINT, 4630899439270693008::BIGINT),
         |  (1, 4630899439270693008), (2, 617284796691915041),
         |  (3, 4630899439270693008), (10, 2887449548950081866),
         |  (11, 2887449548950081866), (12, 6090173087819793556),
         |  (13, 2887449549084299594), (20, 6136440453505061024),
         |  (21, 6136440453505061024), (22, -6191180341422577592),
         |  (23, 6136440453639278753), (30, 1172101461208355108),
         |  (31, 1172101461208355108), (32, 5226726719570094097),
         |  (33, 1172101461208355108))
         |SELECT a.id AS id_a, b.id AS id_b,
         |  bit_count(xor(a.dhash, b.dhash))::INT AS hamming
         |FROM h a JOIN h b ON a.id < b.id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
         |ORDER BY id_a, id_b""".stripMargin)),

    // The audio twin: pinned energy-profile dHashes (4 seeds × unit gain /
    // quarter gain / double duration — all three variants of a seed hash
    // IDENTICALLY, oracling the gain- and duration-invariance contract).
    QueryCase("dedup_perceptual_audio", (s, dir) => {
      implicit val spark: SparkSession = s
      // The audio twin: real WAV encode → javax.sound decode → energy-
      // profile dHash → the SAME hash-kind-agnostic banded pairing. The
      // re-leveled (quarter-gain) and re-sampled (double-duration) copies
      // must hash identically — gain and duration invariance oracled.
      Multimodal.imageNearDupPairs(
          Multimodal.audioDHashes(PerceptualFixtures.audioItems(s)),
          maxHamming = 6)
        .transform(pairSorted)
    }, Some(
      s"""WITH h(id, dhash) AS (VALUES
         |  (0::BIGINT, 5280797294829315364::BIGINT),
         |  (1, 5280797294829315364), (2, 5280797294829315364),
         |  (10, 2640416308320310418), (11, 2640416308320310418),
         |  (12, 2640416308320310418), (20, -7885079115306218934),
         |  (21, -7885079115306218934), (22, -7885079115306218934),
         |  (30, 5352890211215419689), (31, 5352890211215419689),
         |  (32, 5352890211215419689))
         |SELECT a.id AS id_a, b.id AS id_b,
         |  bit_count(xor(a.dhash, b.dhash))::INT AS hamming
         |FROM h a JOIN h b ON a.id < b.id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
         |ORDER BY id_a, id_b""".stripMargin)),

    // The video tier: pinned PER-FRAME dHashes (3 footages × 4 frames,
    // each footage in two containers at different cadence), brute-force
    // frame pairing, per-video-pair match count — the re-muxed copy must
    // match all 4 frames, distinct footage none.
    QueryCase("dedup_perceptual_video", (s, dir) => {
      implicit val spark: SparkSession = s
      // The video tier: real MJPEG-AVI container walk → per-frame JPEG
      // decode → frame dHashes → banded FRAME pairing → per-video-pair
      // match count. The re-muxed copy (same frame bytes, double cadence)
      // must match on all 4 frames; distinct footage matches none.
      Multimodal.videoNearDupPairs(
          Multimodal.videoFrameDHashes(
            PerceptualFixtures.videoItems(s), framesPerVideo = 4),
          maxHamming = 6, minMatchingFrames = 3)
        .transform(pairSorted)
    }, Some(
      s"""WITH f(id, frame, dhash) AS (VALUES
         |  (0::BIGINT, 0, 4630899439270693008::BIGINT),
         |  (0, 1, 2887449548950081866), (0, 2, 6136440453505061024),
         |  (0, 3, 1172101461208355108), (1, 0, 4630899439270693008),
         |  (1, 1, 2887449548950081866), (1, 2, 6136440453505061024),
         |  (1, 3, 1172101461208355108), (10, 0, 146528212543931714),
         |  (10, 1, 4684875151837499412), (10, 2, 5341625546202220552),
         |  (10, 3, 2455029179965539722), (11, 0, 146528212543931714),
         |  (11, 1, 4684875151837499412), (11, 2, 5341625546202220552),
         |  (11, 3, 2455029179965539722), (20, 0, 5770248019920423490),
         |  (20, 1, -7923922441996775356), (20, 2, 595611565877897488),
         |  (20, 3, 4632693297563059202), (21, 0, 5770248019920423490),
         |  (21, 1, -7923922441996775356), (21, 2, 595611565877897488),
         |  (21, 3, 4632693297563059202)),
         |m AS (
         |  SELECT a.id AS id_a, b.id AS id_b
         |  FROM f a JOIN f b ON a.id < b.id
         |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
         |)
         |SELECT id_a, id_b, count(*) AS matching_frames
         |FROM m GROUP BY id_a, id_b HAVING count(*) >= 3
         |ORDER BY id_a, id_b""".stripMargin)),

    QueryCase("dedup_ngram_jaccard", (s, dir) => {
      implicit val spark: SparkSession = s
      Dedup.ngramJaccardPairs(load(dir, "documents"), "doc_id", "text",
          threshold = 0.35, shingleK = 2)
        .transform(pairSorted)
    }, Some(
      s"""WITH d AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(generate_series(1, len(toks) - 1),
         |      i -> toks[i] || ' ' || toks[i + 1])) AS sh
         |  FROM (SELECT doc_id, $duckToks AS toks FROM documents)
         |  WHERE len(toks) >= 2
         |), pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    len(list_intersect(a.sh, b.sh))::DOUBLE
         |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
         |  FROM d a, d b WHERE a.doc_id < b.doc_id
         |)
         |SELECT id_a, id_b, jaccard FROM pairs
         |WHERE jaccard >= 0.35 ORDER BY id_a, id_b""".stripMargin)),

    // Integer postings → BIGINT dot/norms → three IEEE ops: bit-exact in
    // any engine (see Dedup.tfCosinePairs).
    QueryCase("dedup_tfcosine", (s, dir) => {
      implicit val spark: SparkSession = s
      // Bag-of-words TF-cosine near-dups: weighs REPEATED tokens where
      // Jaccard sees shingle sets — every accumulation an exact BIGINT
      // over the inverted index, so the float score is three
      // correctly-rounded IEEE ops and hash-matches the oracle.
      Dedup.tfCosinePairs(load(dir, "documents"), "doc_id", "text", tau = 0.9)
        .transform(pairSorted)
    }, Some(
      s"""WITH rawposting AS (
         |  SELECT doc_id, t, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest($duckToks) AS t FROM documents)
         |  GROUP BY doc_id, t
         |), n AS (
         |  SELECT count(DISTINCT doc_id) AS n FROM rawposting
         |), posting AS (
         |  -- drop tokens in > 50/1000 of docs (exact-integer cutoff)
         |  SELECT p.* FROM rawposting p WHERE p.t NOT IN (
         |    SELECT t FROM rawposting, n GROUP BY t, n.n
         |    HAVING count(*) * 1000 > n.n * 50)
         |), norms AS (
         |  SELECT doc_id, sum(tf * tf)::BIGINT AS n2 FROM posting GROUP BY doc_id
         |), dots AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    sum(a.tf * b.tf)::BIGINT AS dot
         |  FROM posting a JOIN posting b ON a.t = b.t AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |), scored AS (
         |  SELECT id_a, id_b,
         |    dot::DOUBLE / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)) AS cosine
         |  FROM dots JOIN norms na ON na.doc_id = id_a
         |            JOIN norms nb ON nb.doc_id = id_b
         |)
         |SELECT id_a, id_b, cosine FROM scored
         |WHERE cosine >= 0.9 ORDER BY id_a, id_b""".stripMargin)),

    // containment pairs → the same recursive-CTE transitive closure the
    // exact-dedup keep oracle uses
    QueryCase("dedup_containment_keep", (s, dir) => {
      implicit val spark: SparkSession = s
      // The containment story end to end: winnowing fingerprint pairs →
      // connected components → keep the smallest doc_id per cluster →
      // per-source counts. Partial copies cluster with their source even
      // when whole-doc similarity is low.
      val docs = load(dir, "documents")
      val pairs = Dedup.containmentPairs(docs, "doc_id", "text",
        tau = 0.5, shingleK = 3, window = 4)
      Dedup.keepClusterRepresentatives(docs, "doc_id", pairs)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
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
         |), pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM f a, f b
         |  WHERE a.doc_id < b.doc_id
         |    AND len(list_intersect(a.fp, b.fp))::DOUBLE
         |          / least(len(a.fp), len(b.fp))::DOUBLE >= 0.5
         |), edges AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |), reach AS (
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

    // Winnowing restated: portable md5 gram hashes, window minima compared
    // by VALUE (list_min over each slice — tie-handling moot), sorted
    // distinct sets, then all-pairs containment. The engine's inverted-
    // index count equals len(list_intersect) because fingerprint sets are
    // distinct by construction.
    QueryCase("dedup_containment", (s, dir) => {
      implicit val spark: SparkSession = s
      // Partial-overlap detection via winnowing fingerprints (MOSS):
      // containment normalizes by the smaller fingerprint set, catching
      // copied passages whole-doc Jaccard dilutes. Portable md5 hashing
      // end to end, so fingerprints, window minima, and the containment
      // ratio all restate in SQL.
      Dedup.containmentPairs(load(dir, "documents"), "doc_id", "text",
          tau = 0.5, shingleK = 3, window = 4)
        .transform(pairSorted)
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
         |), pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    len(list_intersect(a.fp, b.fp))::DOUBLE
         |      / least(len(a.fp), len(b.fp))::DOUBLE AS containment
         |  FROM f a, f b WHERE a.doc_id < b.doc_id
         |)
         |SELECT id_a, id_b, containment FROM pairs
         |WHERE containment >= 0.5 ORDER BY id_a, id_b""".stripMargin)),

    // the prefix-filtered join is EXACT — same all-pairs oracle shape as
    // the unfiltered form, at the near-dup threshold
    QueryCase("dedup_ngram_prefix", (s, dir) => {
      implicit val spark: SparkSession = s
      // Exact results via AllPairs/PPJoin prefix filtering: the inverted
      // index posts only each document's rarest shingles, so the
      // frequent-shingle Σ df² blowup never materializes. Registered at the
      // technique's home regime — a NEAR-DUP threshold, where the prefix is
      // short and candidates collapse (at loose thresholds the unfiltered
      // count-as-intersection join is measured faster; see the operator's
      // scaladoc crossover notes).
      Dedup.ngramJaccardPairsPrefix(load(dir, "documents"), "doc_id", "text",
          threshold = 0.8, shingleK = 2)
        .transform(pairSorted)
    }, Some(
      s"""WITH d AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(generate_series(1, len(toks) - 1),
         |      i -> toks[i] || ' ' || toks[i + 1])) AS sh
         |  FROM (SELECT doc_id, $duckToks AS toks FROM documents)
         |  WHERE len(toks) >= 2
         |), pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    len(list_intersect(a.sh, b.sh))::DOUBLE
         |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
         |  FROM d a, d b WHERE a.doc_id < b.doc_id
         |)
         |SELECT id_a, id_b, jaccard FROM pairs
         |WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin)),

    QueryCase("dedup_embedding", (s, dir) => {
      implicit val spark: SparkSession = s
      // Exact pair generation — the correctness baseline for
      // dedup_embedding_lsh below, which is the registered 100 TB path.
      Similarity.bruteForcePairs(load(dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.42)
        .transform(pairSorted)
    }, Some(
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_inner_product(a.v, b.v)
        |      / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) AS cos
        |  FROM e a, e b WHERE a.vec_id < b.vec_id
        |)
        |SELECT id_a, id_b, cos FROM scored
        |WHERE cos >= 0.42 ORDER BY id_a, id_b""".stripMargin)),

    // The LSH candidate set is fully SQL-expressible: per-table bucket ids
    // are signs of dot products against the seeded (deterministic)
    // hyperplanes, inlined as literals; the 1-bit multi-probe candidate
    // predicate is hamming(bucket_a, bucket_b) <= 1 over the plane bits
    // (symmetric: b ∈ probes(a) ⟺ a ∈ probes(b)), OR'd across tables.
    QueryCase("dedup_embedding_lsh", (s, dir) => {
      implicit val spark: SparkSession = s
      // The scale path: sign-LSH bucketed candidates (linear shuffle, no n²
      // product), exact cosine verification. Fully oracled — the seeded
      // hyperplanes are deterministic constants, so the bucket ids and the
      // 1-bit-probe candidate set are restated in SQL (lshBucketSql).
      // m=4 planes × L=3 tables: at this loose threshold (cos 0.42, sign-
      // agreement p≈0.64) per-table 1-probe recall is ~0.54, amplified to
      // ~0.90 across tables. Recall vs the brute-force baseline is pinned
      // in SimilaritySpec.
      Similarity.embeddingNearDupPairs(load(dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.42, dim = 64, numPlanes = 4, numTables = 3)
        .transform(pairSorted)
    }, Some({
      val tables = 0 until 3
      val bucketCols = tables.map(t =>
        Similarity.lshBucketSql("v", dim = 64, numPlanes = 4, seed = 42L + t) + s" AS b$t")
      val candPred = tables.map(t =>
        s"bit_count(xor(x.b$t, y.b$t)) <= 1").mkString("(", " OR ", ")")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (SELECT vec_id, v, ${bucketCols.mkString(", ")} FROM e),
         |cand AS (
         |  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         |    list_inner_product(x.v, y.v)
         |      / (sqrt(list_inner_product(x.v, x.v)) * sqrt(list_inner_product(y.v, y.v))) AS cos
         |  FROM b x, b y
         |  WHERE x.vec_id < y.vec_id AND $candPred
         |)
         |SELECT id_a, id_b, cos FROM cand
         |WHERE cos >= 0.42 ORDER BY id_a, id_b""".stripMargin
    })),

    // LSH pair generation + recursive-CTE closure, composed — the vector
    // twin of dedup_cluster_keep's oracle
    QueryCase("dedup_embedding_cluster_keep", (s, dir) => {
      implicit val spark: SparkSession = s
      // The embedding-side cluster story: LSH near-dup pairs → connected
      // components → keep the smallest vec_id per cluster → counts per
      // label. Composes two fully-oracled pieces (seeded-hyperplane LSH
      // candidates + recursive-CTE closure), so the whole pipeline is
      // hash-checked end to end — the vector twin of dedup_cluster_keep.
      val emb = load(dir, "embeddings")
      val pairs = Similarity.embeddingNearDupPairs(emb, "vec_id", "embedding",
        threshold = 0.42, dim = 64, numPlanes = 4, numTables = 3)
      Dedup.keepClusterRepresentatives(emb, "vec_id", pairs)
        .groupBy("label")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("label")
    }, Some({
      val tables = 0 until 3
      val bucketCols = tables.map(t =>
        Similarity.lshBucketSql("v", dim = 64, numPlanes = 4, seed = 42L + t) + s" AS b$t")
      val candPred = tables.map(t =>
        s"bit_count(xor(x.b$t, y.b$t)) <= 1").mkString("(", " OR ", ")")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (SELECT vec_id, v, ${bucketCols.mkString(", ")} FROM e),
         |pairs AS (
         |  SELECT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM b x, b y
         |  WHERE x.vec_id < y.vec_id AND $candPred
         |    AND list_inner_product(x.v, y.v)
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
         |GROUP BY label ORDER BY label""".stripMargin
    })))
}
