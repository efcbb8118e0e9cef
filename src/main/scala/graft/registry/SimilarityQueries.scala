package graft
package registry

import graft.ops.Similarity
import graft.streaming.EventStreams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SparkEntry._
import OracleSql._

/** Training-data ops: similarity search (brute force, IVF, PQ, SQ8,
  * BBQ, late interaction) and its incremental index builds.
  */
object SimilarityQueries extends Family("pipeline") {

  /** SQ8 ADC retrieval restated end to end — shared by the from-scratch
    * form (`ann_sq8`) and the maintained-bounds twin
    * (`ann_sq8_incremental`, whose merged increments equal these bounds
    * exactly by min/max algebra): per-dim bounds from one corpus scan,
    * the same clamp(floor((v−mn)·(256/(mx−mn)))) codes, the same midpoint
    * dequant tree, the same sequential ADC dot.
    */
  private val annSq8OracleSql: String = {
    val dim = 64
    val bounds = (0 until dim).map(j =>
      s"min(v[${j + 1}]) AS mn$j, max(v[${j + 1}]) AS mx$j").mkString(", ")
    val dq = (0 until dim).map { j =>
      val code = s"least(greatest(floor((v[${j + 1}] - mn$j) * " +
        s"(256.0 / (mx$j - mn$j)))::INT, 0), 255)"
      s"CASE WHEN mx$j = mn$j THEN mn$j " +
        s"ELSE mn$j + ($code + 0.5) * ((mx$j - mn$j) / 256.0) END"
    }.mkString("list_value(", ", ", ")")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT $bounds FROM e),
       |dqt AS (SELECT vec_id, $dq AS dq FROM e, b),
       |q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
       |scored AS (
       |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
       |    list_inner_product(d.dq, q.v) AS score
       |  FROM dqt d, q WHERE d.vec_id <> q.vec_id
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank, neighbor_id, score FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** Windowed point-in-time assembly restated once — shared verbatim by
    * `join_rolling_features` and its time-chunked execution twin.
    */
  private val rollingFeaturesOracle: String =
    """WITH b AS (
      |  SELECT event_id, user_id, epoch_ms(ts) AS t,
      |    (event_type = 'click') AS a,
      |    (event_type = 'purchase') AS o,
      |    CASE WHEN event_type = 'purchase' THEN floor(value * 100)::BIGINT END AS v
      |  FROM events
      |), w AS (
      |  SELECT event_id, user_id, a,
      |    coalesce(sum(CASE WHEN o THEN 1 ELSE 0 END) OVER (
      |      PARTITION BY user_id ORDER BY t
      |      RANGE BETWEEN 604800000 PRECEDING AND 1 PRECEDING), 0)::BIGINT AS n_outcomes_past,
      |    coalesce(sum(v) OVER (
      |      PARTITION BY user_id ORDER BY t
      |      RANGE BETWEEN 604800000 PRECEDING AND 1 PRECEDING), 0)::BIGINT AS value_past,
      |    (coalesce(sum(CASE WHEN o THEN 1 ELSE 0 END) OVER (
      |      PARTITION BY user_id ORDER BY t
      |      RANGE BETWEEN 1 FOLLOWING AND 259200000 FOLLOWING), 0) > 0) AS converted
      |  FROM b
      |)
      |SELECT event_id, user_id, n_outcomes_past, value_past, converted
      |FROM w WHERE a ORDER BY event_id""".stripMargin

  /** [[ivfPqSql]] wrapped in an exact cosine re-rank of its top
    * `k × refineFactor` candidates — the oracle twin of
    * [[graft.ops.Similarity.ivfPqTopKRerank]]: same candidate pipeline as
    * a CTE, then the ann_bruteforce scoring shape over candidates only.
    */
  private def ivfPqRerankSql(nlist: Int, nprobe: Int, m: Int, ksub: Int,
      dim: Int, k: Int, nQueries: Int, refineFactor: Int,
      refineIters: Int = 0): String =
    s"""WITH cand AS (
       |${ivfPqSql(nlist, nprobe, m, ksub, dim, k * refineFactor, nQueries, refineIters)}
       |), e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |qv AS (SELECT * FROM e WHERE vec_id < $nQueries),
       |re AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    list_inner_product(e.v, q.v)
       |      / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(q.v, q.v))) AS cos
       |  FROM cand c
       |  JOIN e ON e.vec_id = c.neighbor_id
       |  JOIN qv q ON q.vec_id = c.query_id
       |), reranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM re
       |)
       |SELECT query_id, rank, neighbor_id, cos FROM reranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** The rank tail every top-5 cosine oracle here ends with: the `scored`
    * CTE's `(query_id, neighbor_id, cos)` rows ranked per query, cosine
    * descending, ties to the smaller neighbor id.
    */
  private val top5ByCosSql: String =
    """SELECT query_id, rank, neighbor_id, cos FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cos DESC, neighbor_id ASC) AS rank
      |  FROM scored
      |) ranked
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Exact top-5 cosine neighbors of vectors 0-4 in DuckDB, where `v` is
    * the DuckDB expression for a row's vector (the raw embedding, or its
    * random projection).
    */
  private def bruteTop5OracleSql(v: String): String =
    s"""WITH e AS (SELECT vec_id, $v AS v FROM embeddings),
       |q AS (SELECT * FROM e WHERE vec_id < 5),
       |scored AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |    list_inner_product(e.v, q.v)
       |      / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(q.v, q.v))) AS cos
       |  FROM e, q WHERE e.vec_id <> q.vec_id
       |)
       |$top5ByCosSql""".stripMargin

  /** LSH top-5 in DuckDB: the seeded 6-plane hyperplane buckets inlined,
    * candidates within `maxHamming` sign flips of the query's bucket.
    */
  private def lshTop5OracleSql(maxHamming: Int): String = {
    val bucket = Similarity.lshBucketSql("v", dim = 64, numPlanes = 6, seed = 42L)
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT vec_id, v, $bucket AS bkt FROM e),
       |q AS (SELECT * FROM b WHERE vec_id < 5),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    list_inner_product(c.v, q.v)
       |      / (sqrt(list_inner_product(c.v, c.v)) * sqrt(list_inner_product(q.v, q.v))) AS cos
       |  FROM b c, q
       |  WHERE c.vec_id <> q.vec_id AND bit_count(xor(c.bkt, q.bkt)) <= $maxHamming
       |)
       |$top5ByCosSql""".stripMargin
  }

  /** IVF top-5 in DuckDB over `assignCtes` (an [[ivfAssignCtesSql]] list):
    * each of vectors 0-4 probes its `nprobe` nearest cells, and the rows
    * assigned there rank by cosine.
    */
  private def ivfTopKOracleSql(assignCtes: String, nprobe: Int): String =
    s"""WITH $assignCtes, qprobe AS (
       |  SELECT vec_id AS query_id, v AS qv, cell
       |  FROM cellranked WHERE r <= $nprobe AND vec_id < 5
       |), scored AS (
       |  SELECT q.query_id, a.vec_id AS neighbor_id,
       |    list_inner_product(a.v, q.qv)
       |      / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(q.qv, q.qv))) AS cos
       |  FROM assigned a JOIN qprobe q ON a.cell = q.cell
       |  WHERE a.vec_id <> q.query_id
       |)
       |$top5ByCosSql""".stripMargin

  /** The maintained IVF index restated from scratch: centroids frozen on
    * the even-id half, assignment and probing over the whole corpus. One
    * oracle for ann_ivf_incremental and ann_ivf_compacted.
    */
  private val frozenIvfOracleSql: String =
    ivfTopKOracleSql(ivfAssignCtesSql(nlist = 8, trainPred = "vec_id % 2 = 0"), nprobe = 3)

  /** Each click as-of joined to one purchase of the same user within 7
    * days: the latest at-or-before it, or with `forward` the next
    * at-or-after it; ties on (user_id, ts) go to the largest purchase
    * event_id. Timestamps project to whole-second strings (the events-
    * table convention — ns vs µs precision differs by engine).
    */
  private def clickPurchaseAsOf(dir: String, forward: Boolean)(
      implicit spark: SparkSession): DataFrame = {
    val ev = loadEvents(dir)
    val clicks = ev.where(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.where(col("event_type") === "purchase")
      .select("user_id", "ts", "event_id", "value")
    val asOf = if (forward) ops.Joins.asOfJoinForward _ else ops.Joins.asOfJoin _
    asOf(clicks, purchases, Seq("user_id"), "ts", "ts", Seq("value"),
        Some(expr("INTERVAL 7 DAYS")), Some("event_id"))
      .select(
        col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        col("asof_value"),
        date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss").as("asof_ts"))
      .orderBy("event_id")
  }

  /** [[clickPurchaseAsOf]] as a per-row LATERAL top-1 lookup in DuckDB. */
  private def clickPurchaseAsOfOracleSql(forward: Boolean): String = {
    val (atOrNear, withinWeek, order) =
      if (forward) (">= c.ts", "<= c.ts + INTERVAL 7 DAY", "ASC")
      else ("<= c.ts", ">= c.ts - INTERVAL 7 DAY", "DESC")
    s"""WITH clicks AS (
       |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
       |), purchases AS (
       |  SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
       |)
       |SELECT c.event_id, c.user_id,
       |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS ts,
       |  p.value AS asof_value,
       |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS asof_ts
       |FROM clicks c LEFT JOIN LATERAL (
       |  SELECT r.ts, r.value FROM purchases r
       |  WHERE r.user_id = c.user_id AND r.ts $atOrNear
       |    AND r.ts $withinWeek
       |  ORDER BY r.ts $order, r.event_id DESC LIMIT 1
       |) p ON true
       |ORDER BY c.event_id""".stripMargin
  }

  /** ann_bbq's query vector — 64 dyadic values in [-0.5, 0.5] — and the
    * per-dimension thresholds (zeros: comparisons against them are exact
    * in every engine).
    */
  private val bbqQueryVec: Seq[Double] =
    (0 until 64).map(i => (((i * 7) % 9) - 4) / 8.0)

  private val bbqThresholds: Seq[Double] = Seq.fill(64)(0.0)

  /** ann_maxsim's query token vectors — dyadic, zero-free (exact as both
    * Scala doubles and DuckDB decimals-cast-to-double).
    */
  private val maxSimQueryTokens: Seq[Seq[Double]] = Seq(
    Seq(1.0, -0.5, 0.25, 0.125, 0.5, -0.25, 0.125, -0.125),
    Seq(-0.25, 0.5, -0.125, 0.25, -1.0, 0.125, 0.5, -0.5),
    Seq(0.25, 0.25, -0.0625, -0.25, 0.125, 0.5, -0.5, 1.0))

  val cases: Seq[QueryCase] = Seq(
    // ===== Training-data ops: similarity search =====

    QueryCase("ann_bruteforce", (s, dir) => {
      implicit val spark: SparkSession = s
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }, Some(bruteTop5OracleSql("embedding::DOUBLE[]"))),

    // Radius search restated: same cosine tree as ann_bruteforce, the
    // threshold replacing the window.
    QueryCase("ann_radius", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES knn `similarity` threshold (radius search): all corpus vectors
      // with cosine >= 0.30 of each query — no k bound, the threshold IS
      // the cut. Margin at the fixture: min |cos - 0.30| = 1.2e-3 at
      // sf0.01 / 5.0e-4 at sf0.1, ~12 orders above libm drift.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Similarity.bruteForceRadius(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", minCosine = 0.30)
        .orderBy("query_id", "neighbor_id")
    }, Some(
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 5)
        |SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |  list_inner_product(e.v, q.v)
        |    / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(q.v, q.v))) AS cos
        |FROM e, q WHERE e.vec_id <> q.vec_id
        |  AND list_inner_product(e.v, q.v)
        |    / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(q.v, q.v))) >= 0.30
        |ORDER BY query_id, neighbor_id""".stripMargin)),

    // Cell-pruned radius restated: the ann_ivf assignment CTEs (identical
    // centroid pick + argmax assignment), the 3-cell probe, and the same
    // 0.30 threshold predicate in place of the rank window.
    QueryCase("ann_radius_ivf", (s, dir) => {
      implicit val spark: SparkSession = s
      // The SERVING-scale radius search (round-15 verdict #3): the same
      // 0.30 threshold cut applied over the probed cells of the at-rest
      // IVF index — cell-pruned scan + hash join, no window, no full
      // scan per query batch. Same margin discipline as ann_radius
      // (min |cos − 0.30| documented there); the oracle shares the
      // ann_ivf assignment CTEs and applies the threshold predicate.
      // Recall vs bruteForceRadius is nprobe-monotone, pinned in
      // SimilaritySpec.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
        k = 8, iters = 0)
      Similarity.ivfRadius(
          Similarity.assignCells(emb, "vec_id", "embedding", cents),
          cents, queries, "vec_id", "embedding",
          minCosine = 0.30, nprobe = 3)
        .orderBy("query_id", "neighbor_id")
    }, Some({
      s"""WITH ${ivfAssignCtesSql(nlist = 8)}, qprobe AS (
         |  SELECT vec_id AS query_id, v AS qv, cell
         |  FROM cellranked WHERE r <= 3 AND vec_id < 5
         |)
         |SELECT q.query_id, a.vec_id AS neighbor_id,
         |  list_inner_product(a.v, q.qv)
         |    / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(q.qv, q.qv))) AS cos
         |FROM assigned a JOIN qprobe q ON a.cell = q.cell
         |WHERE a.vec_id <> q.query_id
         |  AND list_inner_product(a.v, q.qv)
         |    / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(q.qv, q.qv))) >= 0.30
         |ORDER BY query_id, neighbor_id""".stripMargin
    })),

    // Matryoshka ladder restated: one ranked CTE per prefix dim (the
    // same certified cosine/rank shape over DuckDB's [1:d] slice — the
    // identical prefix fold), intersection counts against the d=64
    // identity rung, the one exact division per row.
    QueryCase("ann_matryoshka_recall", (s, dir) => {
      implicit val spark: SparkSession = s
      // Matryoshka prefix-truncation recall ladder (MRL, Kusupati 2022):
      // top-10 rankings over the first 8/16/32/64 dims vs the full-dim
      // ranking — the dimension-selection report that says how much of
      // the store's 64 dims serving actually needs (row-local slice, no
      // reprojection — the MRL contract). The 64 rung is the identity
      // sanity (recall exactly 1.0); counts are integers, the one
      // division two exact small ints.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Similarity.matryoshkaRecallReport(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 10, dims = Seq(8, 16, 32, 64))
        .orderBy("dim")
    }, Some({
      val dims = Seq(8, 16, 32, 64)
      val ctes = dims.map { d =>
        s"""e$d AS (SELECT vec_id, (embedding::DOUBLE[])[1:$d] AS v FROM embeddings),
           |q$d AS (SELECT * FROM e$d WHERE vec_id < 5),
           |r$d AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
           |        list_inner_product(e.v, q.v)
           |          / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(q.v, q.v))) DESC,
           |        e.vec_id ASC) AS rank
           |    FROM e$d e, q$d q WHERE e.vec_id <> q.vec_id)
           |  WHERE rank <= 10
           |)""".stripMargin
      }.mkString(",\n")
      val rungs = dims.map { d =>
        s"""SELECT $d AS dim,
           |  (SELECT count(*) FROM r$d t JOIN r64 f
           |     USING (query_id, neighbor_id))::DOUBLE
           |    / 50.0 AS recall""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"WITH $ctes\n$rungs\nORDER BY dim"
    })),

    // JL projection restated: the same ±1 plane literals, the same
    // sequential inner products, then the brute-force ranking shape over
    // the PROJECTED vectors.
    QueryCase("ann_random_projection", (s, dir) => {
      implicit val spark: SparkSession = s
      // JL random projection (Achlioptas ±1 planes — sign literals restate
      // exactly in SQL) 64→16 dims BEFORE the quadratic stage: the cheap
      // first rung of a 100 TB vector pipeline (4× less data through every
      // downstream scan/shuffle; relative distances within (1±ε)). The
      // whole pipeline — projection then top-k in the projected space —
      // hash-matches the oracle's restatement; recall vs the full-dim
      // exact ranking is pinned in SimilaritySpec.
      val emb = load(dir, "embeddings")
      val proj = Similarity.randomProject(emb, "vec_id", "embedding",
        outDim = 16, dim = 64)
      val queries = proj.where(col("vec_id") < 5)
      Similarity.bruteForceTopK(proj, "vec_id", "vec",
          queries, "vec_id", "vec", k = 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }, Some(bruteTop5OracleSql(
      Similarity.randomProjectSql("embedding::DOUBLE[]", outDim = 16, dim = 64)))),

    // SQ8 restated end to end: per-dim bounds from the same corpus scan,
    // the same clamp(floor((v-mn)·(256/(mx-mn)))) codes, the same midpoint
    // dequant tree, the same sequential ADC dot.
    QueryCase("ann_sq8", (s, dir) => {
      implicit val spark: SparkSession = s
      // FAISS-SQ8 / ES-int8 scalar quantization: the corpus rides as
      // uint8 codes (8× smaller than float64 — the at-rest compression
      // tier of a 100 TB vector store), queries stay full-precision, and
      // serving scores dot(q, dequant(codes)) row-locally (ADC). Bounds
      // train in ONE corpus scan (2·dim map-side aggregates, no explode).
      // Every stage — bounds, codes, midpoint dequant, dot — is a fixed
      // IEEE tree the oracle replays bit for bit.
      val emb = load(dir, "embeddings")
      Similarity.sq8TopK(emb, "vec_id", "embedding",
          emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 5, dim = 64)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }, Some(annSq8OracleSql)),

    // The maintained-bounds twin: increments merge to EXACTLY the
    // from-scratch bounds (min/max algebra), so the SAME oracle applies —
    // epochs, the replay, and the at-rest layout must be invisible.
    QueryCase("ann_sq8_incremental", (s, dir) => {
      implicit val spark: SparkSession = s
      // The SQ8 bounds as a MAINTAINED at-rest table: per-epoch
      // (dim, mn, mx) increments — epoch 0 appended twice (at-least-once
      // replay) — merged by one groupBy(dim).min/max. min/max are
      // idempotent AND commutative, so replays and batch boundaries
      // vanish by ALGEBRA (no dedup machinery — the mildest maintained
      // index; bounds only WIDEN as data arrives). Serving quantizes
      // against the merged bounds, which equal from-scratch training
      // exactly — the query SHARES ann_sq8's oracle.
      val emb = load(dir, "embeddings")
      val path = s"/tmp/graft_sq8_bounds_${math.abs(dir.hashCode)}"
      def inc(epoch: Int): DataFrame =
        EventStreams.stampEpoch(Similarity.sqBoundsFrame(
          emb.where(pmod(col("vec_id"), lit(2)) === epoch), "embedding", 64), epoch)
      // (r18: examined — the replayed epoch-0 branch ends in the bounds
      // aggregate's exchange, which ReuseExchange dedupes at runtime; a
      // localCheckpoint here measured cost-neutral at best. Left as is.)
      inc(0).unionByName(inc(1)).unionByName(inc(0)) // epoch 0 replayed
        .write.mode("overwrite").parquet(path)
      val (mn, mx) = EventStreams.sqBoundsFromIncrements(s, path)
      Similarity.sq8TopKFromBounds(emb, "vec_id", "embedding",
          emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 5, mn, mx)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }, Some(annSq8OracleSql)),

    // IVF at refineIters=0 is fully SQL-expressible: init centroids are the
    // nlist vectors with the smallest (md5-unit hash, vec_id) — the same
    // deterministic selection kmeansCentroids collects — and cell
    // assignment/probing are row_number() over per-(row, cell) cosines,
    // whose dot products DuckDB computes bit-identically (sequential
    // list_inner_product). Corpus rows take their top-1 cell; queries probe
    // their top-3; ranking is the brute-force shape over cell-joined
    // candidates.
    // Frozen-centroid incremental index restated: centroids come from the
    // initial half only (trainPred), assignment and probing run over the
    // whole corpus against them — the maintained index's serve-time view.
    QueryCase("ann_ivf_incremental", (s, dir) => {
      implicit val spark: SparkSession = s
      // The IVF index as a MAINTAINED at-rest table (FAISS's
      // add-after-train contract): centroids train on the initial half
      // and FREEZE; both halves then join the index as epoch appends —
      // exactly what maintainIvfIndex writes per micro-batch, with epoch
      // 0 appended twice (an at-least-once replay the per-(vec, epoch)
      // dedup must absorb); serving probes the deduped at-rest index.
      // The oracle restates frozen-centroid assignment from scratch —
      // epochs, replay, and the partitioned layout must be invisible.
      val emb = load(dir, "embeddings")
      val initial = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val centroids = Similarity.kmeansCentroids(initial, "vec_id", "embedding",
        k = 8, iters = 0)
      val path = s"/tmp/graft_ivf_inc_${math.abs(dir.hashCode)}"
      def inc(epoch: Int): DataFrame =
        EventStreams.stampEpoch(Similarity.assignCells(
          emb.where(pmod(col("vec_id"), lit(2)) === epoch), "vec_id", "embedding", centroids), epoch)
      // r18 optimization: checkpoint the replayed epoch-0 batch (a replay
      // is a re-delivered micro-batch, not a recompute) and repartition ON
      // the cell key before the partitioned write (guide §6 — otherwise
      // every upstream task writes a file per cell directory it touches).
      // r19 A/B RE-CONFIRMED the cell repartition (unlike the postings
      // appends, whose pre-write shuffle was reverted): the checkpointed
      // upstream here is shuffle-partitions wide, so dropping it measured
      // 2.2→5.5 s / 4.7→13.7 s (compacted) and 8→755 files at sf0.1.
      val i0 = inc(0).localCheckpoint()
      i0.unionByName(inc(1)).unionByName(i0) // epoch 0 replayed
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(path)
      val index = EventStreams.ivfIndexFromIncrements(s, path)
      Similarity.ivfTopKFromIndex(index, centroids,
        emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 5, nprobe = 3)
    }, Some(frozenIvfOracleSql)),

    // The compacted lifecycle twin shares ann_ivf_incremental's oracle
    // VERBATIM: compaction (sentinel fold + staged swap) and the
    // post-compaction re-emit must be invisible to serving.
    QueryCase("ann_ivf_compacted", (s, dir) => {
      implicit val spark: SparkSession = s
      // ann_ivf_incremental's lifecycle driven THROUGH a compaction
      // (round-17 batch 1): epochs 0/1 append with epoch 0 replayed,
      // compactIvfIndexIncrements folds the history to the served rows
      // under the sentinel epoch (staged swap, cell layout preserved),
      // then a post-compaction epoch RE-EMITS a third of the vectors —
      // identical embeddings, so the latest-epoch cut must pick the new
      // rows AND not double-serve against the sentinel rows; any
      // mistake in the cut breaks the hash. The oracle is
      // ann_ivf_incremental's VERBATIM: compaction and the
      // post-compaction update must be invisible to serving.
      val emb = load(dir, "embeddings")
      val initial = emb.where(pmod(col("vec_id"), lit(2)) === 0)
      val centroids = Similarity.kmeansCentroids(initial, "vec_id", "embedding",
        k = 8, iters = 0)
      val path = s"/tmp/graft_ivf_cmp_${math.abs(dir.hashCode)}"
      graft.store.FsOps.fileSystem(s, path)
        .delete(new org.apache.hadoop.fs.Path(path), true)
      def inc(epoch: Long, cond: Column): DataFrame =
        EventStreams.stampEpoch(
          Similarity.assignCells(emb.where(cond), "vec_id", "embedding", centroids), epoch)
      // r18 optimization: same two fixes as ann_ivf_incremental —
      // checkpoint the replayed batch, repartition ON the cell key before
      // both partitioned appends (guide §6 small-files).
      val i0 = inc(0L, pmod(col("vec_id"), lit(2)) === 0).localCheckpoint()
      i0.unionByName(inc(1L, pmod(col("vec_id"), lit(2)) === 1))
        .unionByName(i0) // replay
        .repartition(col("cell"))
        .write.mode("append").partitionBy("cell").parquet(path)
      EventStreams.compactIvfIndexIncrements(s, path)
      inc(2L, pmod(col("vec_id"), lit(3)) === 0) // post-compaction update
        .repartition(col("cell"))
        .write.mode("append").partitionBy("cell").parquet(path)
      val index = EventStreams.ivfIndexFromIncrements(s, path)
      Similarity.ivfTopKFromIndex(index, centroids,
        emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 5, nprobe = 3)
    }, Some(frozenIvfOracleSql)),

    // Pre-filter knn, brute baseline: the corpus side filters BEFORE the
    // ranking window — queries stay unfiltered (ES filters results, not
    // the query vector).
    QueryCase("ann_filtered", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES 8 knn-with-filter, PRE-filter semantics: only candidates
      // passing the predicate compete for top-k (post-filtering an
      // unfiltered top-k silently returns < k — the recall hole the
      // pre-filter exists to close; SimilaritySpec demonstrates it).
      // Brute-force exact baseline: filter then rank.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Similarity.bruteForceTopK(
          emb.where(pmod(col("label"), lit(2)) === 0), "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5)
        .withColumn("rank", col("rank").cast("long"))
    }, Some(
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 5),
        |c AS (SELECT * FROM e WHERE label % 2 = 0),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_inner_product(c.v, q.v)
        |      / (sqrt(list_inner_product(c.v, c.v)) * sqrt(list_inner_product(q.v, q.v))) AS cos
        |  FROM c, q WHERE c.vec_id <> q.vec_id
        |)
        |$top5ByCosSql""".stripMargin)),

    // Pre-filter knn over the SHARED full-corpus IVF index: identical
    // centroid/assignment CTEs, the filter applied to the candidate index
    // rows before the probed-cell ranking.
    QueryCase("ann_ivf_filtered", (s, dir) => {
      implicit val spark: SparkSession = s
      // The scale path: the IVF index is built ONCE over the full corpus
      // (centroids shared by every filtered and unfiltered query, ES's
      // own shared-HNSW shape), and the filter prunes the CANDIDATE set
      // before ranking — cell assignment against frozen centroids is
      // row-local, so filtering before assignment equals filtering the
      // at-rest index rows.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      val centroids = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
        k = 8, iters = 0, seed = 42)
      val index = Similarity.assignCells(
        emb.where(pmod(col("label"), lit(2)) === 0), "vec_id", "embedding", centroids)
      Similarity.ivfTopKFromIndex(index, centroids,
          queries, "vec_id", "embedding", k = 5, nprobe = 3)
        .withColumn("rank", col("rank").cast("long"))
    }, Some({
      s"""WITH ${ivfAssignCtesSql(nlist = 8)}, fidx AS (
         |  SELECT a.* FROM assigned a JOIN embeddings em USING (vec_id)
         |  WHERE em.label % 2 = 0
         |), qprobe AS (
         |  SELECT vec_id AS query_id, v AS qv, cell
         |  FROM cellranked WHERE r <= 3 AND vec_id < 5
         |), scored AS (
         |  SELECT q.query_id, a.vec_id AS neighbor_id,
         |    list_inner_product(a.v, q.qv)
         |      / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(q.qv, q.qv))) AS cos
         |  FROM fidx a JOIN qprobe q ON a.cell = q.cell
         |  WHERE a.vec_id <> q.query_id
         |)
         |$top5ByCosSql""".stripMargin
    })),

    QueryCase("ann_ivf", (s, dir) => {
      implicit val spark: SparkSession = s
      // IVF coarse quantization, fully oracled at refineIters=0: the init
      // centroids are the nlist corpus vectors with the smallest seeded
      // md5-unit hash (hashUnitSql restates the selection), and cell
      // assignment is a row_number()=1 argmax over inlined cosine — the
      // same bit-stable dot products the brute-force oracle relies on.
      // Recall vs brute force is additionally pinned in SimilaritySpec.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Similarity.ivfTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, nlist = 8, nprobe = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }, Some(ivfTopKOracleSql(ivfAssignCtesSql(nlist = 8), nprobe = 3))),

    // The refined-index twin: one k-means round whose cell means are the
    // bit-stable ascending-id fold on BOTH engines (see ivfAssignCtesSql's
    // refinement rounds) — what graduated this entry from rows-only.
    QueryCase("ann_ivf_nlist256", (s, dir) => {
      implicit val spark: SparkSession = s
      // The realistic-nlist IVF build+query (256 cells, k-means refine):
      // the bench pin for the codegen'd cell-assignment kernel — at this
      // nlist the interpreted HOF formulation it replaced was the hot loop.
      // Fully oracled: the refine's cell means fold in ascending-id order
      // (Similarity.orderedCellMean), so the refined centroids reproduce
      // bit for bit in DuckDB's ordered list_reduce restatement.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Similarity.ivfTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, nlist = 256, nprobe = 16,
          refineIters = 1)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }, Some(ivfTopKOracleSql(ivfAssignCtesSql(nlist = 256, refineIters = 1), nprobe = 16))),

    // The sampled-training build twin: the training set is the portable
    // md5-unit threshold sample (trainingFramePredSql — LEAST/count
    // arithmetic matches the engine's IEEE min(1.0, 1.05·cap/n) exactly),
    // the refine round folds cell means over SAMPLED rows only, and the
    // serving assignment runs the full corpus against the frozen result.
    QueryCase("ann_ivf_sampled", (s, dir) => {
      implicit val spark: SparkSession = s
      // The 100 TB-shaped index BUILD: k-means refinement trains on a
      // trainingFrame-bounded deterministic sample (the FAISS discipline —
      // an index trains on ≤ ~256·nlist points, never the corpus), so the
      // ordered-fold cell means buffer ~trainCap/nlist vectors instead of
      // ~n/nlist. Fully oracled: the sample is a portable md5-unit
      // threshold (trainingFramePredSql), the refine round replays over
      // exactly the sampled rows, and serving assigns the full corpus
      // against the frozen refined centroids.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Similarity.ivfTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, nlist = 8, nprobe = 3,
          refineIters = 1, trainCap = 200)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }, Some({
      val pred = ops.Similarity.trainingFramePredSql("embeddings", "vec_id", cap = 200)
      ivfTopKOracleSql(ivfAssignCtesSql(nlist = 8, refineIters = 1, trainPred = pred), nprobe = 3)
    })),

    // The refined-index IVF-PQ twin: coarse centroids AND residual
    // codebooks each take one bit-stable k-means round (ordered folds on
    // both engines) — graduated from rows-only with the IVF twin.
    QueryCase("ann_ivfpq_nlist256", (s, dir) => {
      implicit val spark: SparkSession = s
      // The realistic-nlist IVF-PQ build+query (256 cells, k-means refine,
      // 16 probes): the bench pin for the ADC path's codegen where it
      // matters — codebook build, per-row coarse + 8 subspace argmins, and
      // LUT-sum scoring all at serving scale. Fully oracled: coarse AND
      // per-subspace codebook refinement both fold in ascending-id order
      // (Similarity.orderedCellMean), bit-reproducible in DuckDB.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Similarity.ivfPqTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, dim = 64,
          nlist = 256, nprobe = 16, m = 8, ksub = 16, refineIters = 1)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }, Some(
      ivfPqSql(nlist = 256, nprobe = 16, m = 8, ksub = 16, dim = 64, k = 5,
        nQueries = 5, refineIters = 1))),

    // IndexRefine: the ann_ivfpq candidate pipeline + exact cosine re-rank
    QueryCase("ann_ivfpq_rerank", (s, dir) => {
      implicit val spark: SparkSession = s
      // FAISS IndexRefine shape: the compressed ADC scan nominates
      // k×4 candidates, only those rejoin full-precision vectors for an
      // exact cosine re-rank — recall recovered at k·refineFactor exact
      // dots per query instead of |corpus|. Fully oracled: the candidate
      // pipeline is the proven ann_ivfpq SQL as a CTE, the re-rank the
      // proven ann_bruteforce scoring shape over candidates only.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Similarity.ivfPqTopKRerank(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, dim = 64,
          nlist = 8, nprobe = 3, m = 8, ksub = 16, refineFactor = 4)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }, Some(
      ivfPqRerankSql(nlist = 8, nprobe = 3, m = 8, ksub = 16, dim = 64,
        k = 5, nQueries = 5, refineFactor = 4))),

    // salting spreads rows across reducers but never changes the join result
    QueryCase("join_salted", (s, dir) => {
      implicit val spark: SparkSession = s
      // Manual hot-key spread (the skew tool for when broadcast doesn't fit
      // and AQE splitting can't help a single flooding key): fact rows join
      // the dimension through (key, salt). Same rows as the plain
      // equi-join — oracled as one.
      val li = load(dir, "lineitem")
      val ord = load(dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      ops.Joins.saltedEquiJoin(li, ord, Seq("l_orderkey"), saltBy = "l_partkey", numSalts = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy("o_orderpriority")
    }, Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // The skew profile restated: per-key counts, top-10 by weight, share
    // from the grand total. Float math is one double division from two
    // integers — deterministic in any engine.
    QueryCase("join_keyskew", (s, dir) => {
      implicit val spark: SparkSession = s
      // The skew diagnostic that decides whether salting is worth it, run
      // as a first-class oracled query: top-10 heaviest supplier keys of
      // lineitem with each key's share of the table. Plan shape pinned in
      // JoinsSpec: partial top-n + broadcast scalar total over ONE reused
      // groupBy exchange — no unpartitioned window, no second scan.
      ops.Joins.keyskewProfile(load(dir, "lineitem"), Seq("l_suppkey"), n = 10)
    }, Some(
      """WITH c AS (
        |  SELECT l_suppkey, count(*)::BIGINT AS "rows"
        |  FROM lineitem GROUP BY l_suppkey
        |), t AS (SELECT sum("rows")::BIGINT AS total FROM c)
        |SELECT c.l_suppkey, c."rows", c."rows"::DOUBLE / t.total::DOUBLE AS share
        |FROM c, t
        |ORDER BY c."rows" DESC, c.l_suppkey ASC LIMIT 10""".stripMargin)),

    // The bucketed layout is a physical-plan property only — the oracle is
    // the plain equi-join the co-located tables compute.
    QueryCase("join_bucketed", (s, dir) => {
      implicit val spark: SparkSession = s
      // Co-located join through the bucketed layout (TableStore
      // .saveAsBucketedTable): both sides pre-hashed into the same bucket
      // scheme on the join key at WRITE time, so the sort-merge join reads
      // bucket pairs directly — no exchange on either side of the join
      // (pinned in PlanSpec "co-bucketed tables join without an exchange").
      // This is the 100 TB layout for keys joined repeatedly (a document
      // table against its per-document feature tables): the shuffle is paid
      // once at ingest, then every join of the pair is shuffle-free.
      // Layout is invisible to results — oracled as the plain equi-join.
      val db = s"graft_bkt_${math.abs(dir.hashCode)}"
      if (!s.catalog.tableExists(s"`$db`.orders_b")) {
        s.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
        store.TableStore.saveAsBucketedTable(
          load(dir, "orders").select("o_custkey", "o_totalprice"),
          db, "orders_b", Seq("o_custkey"), numBuckets = 8,
          sortBy = Seq("o_custkey"))
        store.TableStore.saveAsBucketedTable(
          load(dir, "customer").select("c_custkey", "c_mktsegment"),
          db, "customer_b", Seq("c_custkey"), numBuckets = 8,
          sortBy = Seq("c_custkey"))
      }
      val ord = s.table(s"`$db`.orders_b")
      val cust = s.table(s"`$db`.customer_b")
      // MERGE hint: these sides are broadcast-sized at test SF, but the
      // layout exists for when neither side broadcasts — exercise that plan.
      cust.hint("MERGE").join(ord, cust("c_custkey") === ord("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_spend"))
        .orderBy("c_mktsegment")
    }, Some(
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_spend
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // Product quantization end to end: sampled codebooks, bit-stable L2
    // argmin code assignment, ADC scoring as a left-folded sum of subspace
    // inner products — the full IVF-PQ pipeline restated in SQL.
    QueryCase("ann_ivfpq", (s, dir) => {
      implicit val spark: SparkSession = s
      // IVF-PQ: coarse cells bound candidates; scoring reads m=8 one-byte
      // codes per vector through a per-query ADC lookup table — the corpus
      // vectors are dropped at encode time (dim=64 floats -> 8 codes, the
      // 100 TB memory story). Fully oracled at refineIters=0: sampled
      // codebooks, bit-stable L2 argmin codes, fixed-fold ADC sum — every
      // stage restated in SQL (see the ann_ivfpq oracle builder).
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Similarity.ivfPqTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, dim = 64,
          nlist = 8, nprobe = 3, m = 8, ksub = 16)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }, Some(
      ivfPqSql(nlist = 8, nprobe = 3, m = 8, ksub = 16, dim = 64, k = 5, nQueries = 5))),

    // The point-in-time frames restated as the same RANGE windows over
    // epoch ms — strict [-7d, -1ms] past, strict [+1ms, +3d] future; the
    // cent-sum is an integer aggregate, immune to frame order.
    QueryCase("join_rolling_features", (s, dir) => {
      implicit val spark: SparkSession = s
      // Point-in-time-correct training-example assembly (the feature-
      // store discipline): one example per click carrying the user's
      // strictly-earlier 7-day purchase count and cent-sum plus a
      // strictly-later 3-day conversion label — ONE entity exchange, two
      // RANGE frames over one sort; same-ms outcomes excluded from both
      // sides (neither safe past nor caused future). Values aggregate as
      // floor-cents so frame-order float addition cannot smear a ulp.
      ops.Features.rollingExamples(loadEvents(dir), "user_id", "ts",
          anchorCond = col("event_type") === "click",
          outcomeCond = col("event_type") === "purchase",
          valueCol = floor(col("value") * 100),
          featureWindowMs = 7L * 24 * 3600 * 1000,
          labelWindowMs = 3L * 24 * 3600 * 1000,
          carry = Seq("event_id"))
        .orderBy("event_id")
    }, Some(rollingFeaturesOracle)),

    // The chunked mega-entity twin shares the oracle VERBATIM: chunking
    // with halo replication is an execution-layout choice that must be
    // invisible in the result.
    QueryCase("join_rolling_features_chunked", (s, dir) => {
      implicit val spark: SparkSession = s
      // The mega-entity-safe execution of the same assembly: the window
      // partitions by (user, 7-day chunk) with halo replication across
      // boundaries, so one pathological entity's ordered pass spreads
      // over span/chunk tasks instead of serializing — and the result is
      // row-identical (same oracle text as join_rolling_features).
      ops.Features.rollingExamples(loadEvents(dir), "user_id", "ts",
          anchorCond = col("event_type") === "click",
          outcomeCond = col("event_type") === "purchase",
          valueCol = floor(col("value") * 100),
          featureWindowMs = 7L * 24 * 3600 * 1000,
          labelWindowMs = 3L * 24 * 3600 * 1000,
          carry = Seq("event_id"),
          chunkMs = 7L * 24 * 3600 * 1000)
        .orderBy("event_id")
    }, Some(rollingFeaturesOracle)),

    // The naive all-pairs overlap predicate — a different algorithm from
    // the engine's binning rewrite, so the dedup-free bin emission is
    // cross-checked pair-exact.
    QueryCase("join_range", (s, dir) => {
      implicit val spark: SparkSession = s
      // Interval-overlap join via the binning rewrite (hash join on
      // (user, hour-bin), never a per-key nested loop): each user's click
      // sessions [ts, ts+30min] against purchase sessions [ts, ts+30min].
      // Bounds are epoch ms — unix_micros div 1000 here, epoch_ms() in the
      // oracle, identical integers — and the oracle is the naive all-pairs
      // predicate, so the dedup-free binning is cross-checked pair-exact.
      val ev = loadEvents(dir)
      val tsMs = expr("unix_micros(ts) div 1000L")
      val clicks = ev.where(col("event_type") === "click").select(
        col("event_id").as("click_id"), col("user_id"),
        tsMs.as("c_start"), (tsMs + lit(1800000L)).as("c_end"))
      val purchases = ev.where(col("event_type") === "purchase").select(
        col("event_id").as("purchase_id"), col("user_id"),
        tsMs.as("p_start"), (tsMs + lit(1800000L)).as("p_end"))
      ops.Joins.rangeJoin(clicks, purchases, Seq("user_id"),
          "c_start", "c_end", "p_start", "p_end", binWidth = 3600000L)
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          (least(col("c_end"), col("p_end")) -
            greatest(col("c_start"), col("p_start"))).as("overlap_ms"))
        .orderBy("click_id", "purchase_id")
    }, Some(
      """WITH c AS (
        |  SELECT event_id AS click_id, user_id,
        |    epoch_ms(ts) AS c_start, epoch_ms(ts) + 1800000 AS c_end
        |  FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT event_id AS purchase_id, user_id,
        |    epoch_ms(ts) AS p_start, epoch_ms(ts) + 1800000 AS p_end
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT click_id, purchase_id, user_id,
        |  (least(c_end, p_end) - greatest(c_start, p_start))::BIGINT AS overlap_ms
        |FROM c JOIN p USING (user_id)
        |WHERE c_start <= p_end AND p_start <= c_end
        |ORDER BY click_id, purchase_id""".stripMargin)),

    // The as-of semantics restated as a per-row LATERAL top-1 lookup — a
    // different algorithm from the engine's union-and-fill window, so the
    // hash match is a real cross-check. Inclusive bound, 7-day lookback,
    // ties on (user_id, ts) broken by the largest purchase event_id.
    QueryCase("join_asof_forward", (s, dir) => {
      implicit val spark: SparkSession = s
      // Forward as-of: each click joins the user's NEXT purchase at-or-
      // after its timestamp within a 7-day lookahead (time-to-conversion
      // attachment). Same one-exchange union-and-fill sweep, traversed
      // descending; oracle is the mirrored LATERAL (ts ASC LIMIT 1).
      clickPurchaseAsOf(dir, forward = true)
    }, Some(clickPurchaseAsOfOracleSql(forward = true))),

    QueryCase("join_asof", (s, dir) => {
      implicit val spark: SparkSession = s
      // Point-in-time enrichment (leakage-free feature attachment): each
      // click joins the user's LATEST purchase at-or-before its timestamp,
      // within a 7-day lookback. Union-and-fill: ONE hash exchange on
      // user_id + a per-key sort — no range-join candidate blow-up. The
      // oracle is a genuinely different algorithm (DuckDB LATERAL top-1
      // lookup per row), so the window construction is cross-checked, not
      // restated.
      clickPurchaseAsOf(dir, forward = false)
    }, Some(clickPurchaseAsOfOracleSql(forward = false))),

    // Same bucket + Morton arithmetic rendered by Layout's SQL mirrors:
    // 64-bit shifts, masks and truncating integer division only, so the
    // layout key is bit-identical in any engine.
    QueryCase("layout_zorder", (s, dir) => {
      implicit val spark: SparkSession = s
      // The Z-order layout key for (user, time-of-day) locality: modulo-
      // bucket the id dimension, range-bucket minute-of-day, interleave
      // bits (store.Layout). The write path (repartitionByRange + sort)
      // is pinned by LayoutSpec's file-envelope test; this query oracles
      // the arithmetic every file boundary then derives from — pure
      // integer shift/mask algebra, bit-identical across engines.
      import graft.store.Layout
      val ev = loadEvents(dir)
      val ub = pmod(col("user_id"), lit(256L))
      val tb = Layout.bucketize(hour(col("ts")) * 60 + minute(col("ts")), 0, 1439, 8)
      ev.select(
          col("event_id"),
          ub.as("ub"),
          tb.as("tb"),
          Layout.zValue(Seq(ub, tb), 8).as("z"))
        .orderBy("event_id")
    }, Some({
      import graft.store.Layout
      val ub = "(user_id % 256)"
      val tb = Layout.bucketizeSql("(hour(ts) * 60 + minute(ts))", 0, 1439, 8)
      s"""SELECT event_id, $ub AS ub, $tb AS tb,
         |  ${Layout.zValueSql(Seq(ub, tb), 8)} AS z
         |FROM events ORDER BY event_id""".stripMargin
    })),

    // Same assignment CTEs as ann_ivf; the keep order inside each cell is
    // the seeded md5-unit hash (then id) — the deterministic per-cell
    // budget selection restated exactly.
    QueryCase("sample_embedding_percell", (s, dir) => {
      implicit val spark: SparkSession = s
      // Diversity sampling: equal per-cell budget over the IVF quantizer
      // cells — preserves rare-cluster coverage where a uniform sample
      // collapses onto dense modes. Fully oracled at refineIters=0 (the
      // centroid init, cell argmin, and hash-order keep are all
      // SQL-expressible — same construction as ann_ivf).
      Similarity.cellStratifiedSample(load(dir, "embeddings"), "vec_id", "embedding",
          nlist = 8, perCell = 4)
        .orderBy("cell", "vec_id")
    }, Some({
      val u = ops.Sampling.hashUnitSql("a.vec_id", 42)
      s"""WITH ${ivfAssignCtesSql(nlist = 8)}, keep AS (
         |  SELECT a.vec_id, a.cell,
         |    row_number() OVER (PARTITION BY a.cell ORDER BY $u, a.vec_id) AS kr
         |  FROM assigned a
         |)
         |SELECT vec_id, cell FROM keep WHERE kr <= 4
         |ORDER BY cell, vec_id""".stripMargin
    })),

    // Sign-LSH ANN: same seeded-hyperplane bucket restatement as
    // dedup_embedding_lsh (one table, 6 planes), with the 1-bit multi-probe
    // as a symmetric hamming predicate, then the brute-force ranking shape
    // over the candidate set only.
    QueryCase("ann_lsh", (s, dir) => {
      implicit val spark: SparkSession = s
      // Fully oracled: the seeded hyperplanes are deterministic constants,
      // so bucket ids and the 1-bit-probe candidate predicate
      // (hamming(bucket_c, bucket_q) <= 1) restate in SQL exactly as for
      // dedup_embedding_lsh; ranking is the same bit-stable cosine +
      // row_number() construction as ann_bruteforce.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Similarity.lshTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, dim = 64, numPlanes = 6)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }, Some(lshTop5OracleSql(maxHamming = 1))),

    // 2-bit multi-probe twin: same buckets, hamming predicate loosened to
    // <= 2 — exactly the candidate set the mask enumeration visits.
    QueryCase("ann_lsh_probe", (s, dir) => {
      implicit val spark: SparkSession = s
      // The 2-bit multi-probe recall dial: queries also visit every bucket
      // within 2 sign flips (1 + 6 + C(6,2) = 22 probes of an ids-only
      // stream), recovering neighbors that 1-bit probing misses. The
      // oracle's candidate predicate is the symmetric hamming distance
      // <= 2 over the same inlined seeded hyperplane buckets.
      val emb = load(dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
      Similarity.lshTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, dim = 64, numPlanes = 6,
          probeBits = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }, Some(lshTop5OracleSql(maxHamming = 2))),

    QueryCase("ann_maxsim", (s, dir) => {
      implicit val spark: SparkSession = s
      // Late-interaction (ColBERT) MaxSim: per-token vectors derived by
      // slicing the 64-d embeddings into 8 tokens × 8 dims (the oracle
      // slices identically); the 3 query tokens are DYADIC constants with
      // no zeros, so every float→double product and sequential fold is
      // exact in both engines — hash-exact compare, no rounding.
      val toks = load(dir, "embeddings").withColumn("tok_vecs",
        transform(sequence(lit(0), lit(7)),
          i => slice(col("embedding"), i * lit(8) + lit(1), lit(8))))
      graft.ops.Similarity.maxSimTopK(toks, "vec_id", "tok_vecs", maxSimQueryTokens, 20)
    }, Some({
      def tokSum(qt: Seq[Double]): String = {
        val lit = qt.mkString("[", ", ", "]")
        s"""list_max(list_transform(tv, dt -> list_reduce(
           |      list_transform(range(1, 9), j -> CAST(dt[j] AS DOUBLE) * (CAST($lit AS DOUBLE[]))[j]),
           |      (a, b) -> a + b)))""".stripMargin
      }
      s"""WITH toks AS (
         |  SELECT vec_id,
         |    list_transform(range(0, 8), i -> embedding[i*8+1 : i*8+8]) AS tv
         |  FROM embeddings
         |), scored AS (
         |  SELECT vec_id,
         |    ${maxSimQueryTokens.map(tokSum).mkString("\n    + ")} AS score
         |  FROM toks
         |)
         |SELECT vec_id, score FROM scored ORDER BY score DESC, vec_id LIMIT 20""".stripMargin
    })),

    QueryCase("ann_bbq", (s, dir) => {
      implicit val spark: SparkSession = s
      // Binary-quantization ANN (the ES 8.16 BBQ pattern): Hamming
      // agreement against the query's bit pattern cuts 60 candidates,
      // the exact dot product rescores to the top 15. Integer Hamming +
      // exact double rescore over dyadic query constants → hash-exact
      // oracle, no rounding.
      graft.ops.Similarity.bbqTopK(load(dir, "embeddings"), "vec_id", "embedding",
        bbqQueryVec, bbqThresholds, k = 15, candidates = 60)
    }, Some({
      val qb = bbqQueryVec.zip(bbqThresholds).map { case (q, t) => if (q >= t) 1 else 0 }
      val qbLit = qb.mkString("[", ", ", "]")
      val qLit = bbqQueryVec.mkString("[", ", ", "]")
      s"""WITH c AS (
         |  SELECT vec_id, embedding,
         |    CAST(list_reduce(list_transform(range(1, 65), j ->
         |      CASE WHEN ($qbLit)[j] = 1
         |           THEN CASE WHEN embedding[j] >= 0.0 THEN 1 ELSE 0 END
         |           ELSE CASE WHEN embedding[j] < 0.0 THEN 1 ELSE 0 END END),
         |      (a, b) -> a + b) AS BIGINT) AS hamming
         |  FROM embeddings
         |), cand AS (
         |  SELECT vec_id, embedding, hamming FROM c
         |  ORDER BY hamming DESC, vec_id LIMIT 60
         |)
         |SELECT vec_id, hamming,
         |  list_reduce(list_transform(range(1, 65), j ->
         |    CAST(embedding[j] AS DOUBLE) * (CAST($qLit AS DOUBLE[]))[j]),
         |    (a, b) -> a + b) AS score
         |FROM cand ORDER BY score DESC, vec_id LIMIT 15""".stripMargin
    })))
}
