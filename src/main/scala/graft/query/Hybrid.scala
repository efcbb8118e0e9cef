package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval: fuse lexical (BM25) and vector (ANN) result lists with
  * Reciprocal Rank Fusion — `score(d) = Σ_runs 1 / (k + rank_run(d))`
  * (Cormack/Clarke/Buettcher 2009, the public standard; k=60 theirs).
  * RRF needs only ranks, so it composes any retrievers without score
  * calibration — exactly how the reference's serving half would bolt vector
  * search onto its Elasticsearch text queries.
  *
  * Serving-scale shape: fusion runs AFTER each retriever's top-k, so every
  * frame here is ≤ k rows by construction — the unpartitioned rank window
  * and the full-outer joins are all bounded, single-task-cheap work on
  * k-row inputs (same bounded-by-construction argument as the IVF-PQ
  * codebook collects). The heavy lifting stays in the retrievers, which
  * keep their own 100 TB shapes.
  */
object Hybrid {

  /** Attach `rank` (1-based; `scoreCol` DESC, `idCol` ASC tie-break) to a
    * PRE-LIMITED top-k frame. The window is deliberately unpartitioned —
    * k-row retriever output only — and the contract is SELF-ENFORCED
    * in-plan: a full-frame count over the same single-task window (no
    * extra job) raises when the run exceeds `maxRows`, the signature that
    * a corpus-sized frame reached the fusion tier.
    */
  def withRank(run: DataFrame, scoreCol: String, idCol: String,
      maxRows: Int = 100000): DataFrame = {
    val w = Window.orderBy(desc(scoreCol), asc(idCol))
    val total = count(lit(1)).over(
      w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    val guard = when(total > maxRows,
      raise_error(concat(
        lit("Hybrid.withRank: "), total.cast("string"),
        lit(s" rows exceed maxRows=$maxRows — rank only PRE-LIMITED " +
          "retriever output; limit the run to its top-k first")))
      .cast("boolean")).otherwise(lit(true))
    run.withColumn("rank", row_number().over(w))
      .withColumn("_bound_ok", guard)
      .where(col("_bound_ok"))
      .drop("_bound_ok")
  }

  /** Fuse ranked runs (each `(idCol, rankCol, …)`, pre-limited to their
    * top-k) into the RRF top-`topK`. Contributions sum in run order with
    * absent ranks contributing 0 — a fixed association the oracle restates
    * (two-term IEEE sums are order-exact anyway; the pinned order keeps
    * longer run lists deterministic too).
    */
  def rrf(runs: Seq[DataFrame], idCol: String, rankCol: String,
      rrfK: Int = 60, topK: Int = 10): DataFrame = {
    require(runs.nonEmpty, "rrf: no runs to fuse")
    val contribs = runs.zipWithIndex.map { case (r, i) =>
      r.select(col(s"`$idCol`"),
        (lit(1.0) / (lit(rrfK.toDouble) + col(s"`$rankCol`").cast("double"))).as(s"_c$i"))
    }
    val joined = contribs.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val score = contribs.indices.map(i => coalesce(col(s"_c$i"), lit(0.0))).reduce(_ + _)
    joined
      .withColumn("rrf_score", score)
      .select(col(s"`$idCol`"), col("rrf_score"))
      .orderBy(desc("rrf_score"), asc(s"`$idCol`"))
      .limit(topK)
  }

  /** ES `linear` retriever fusion (the retrievers API's other combiner —
    * the one to use when score MAGNITUDES matter, not just ranks): each
    * run is min-max normalized over ITS OWN top-k window —
    * `(s − min)/(max − min)`, a degenerate run (max = min) normalizing to
    * 1.0 (every doc IS the run's maximum; documented convention) — then
    * fused as `Σ wᵢ · normᵢ(d)` with absent docs contributing 0.
    * Same bounded-by-construction contract as [[rrf]]: inputs are
    * pre-limited top-k frames, so the per-run min/max aggregates and the
    * full-outer joins are k-row-cheap. Min/max are exact and
    * order-insensitive; the normalization and weighted sum are fixed IEEE
    * trees — the whole fusion restates in SQL.
    */
  def linearFusion(runs: Seq[(DataFrame, Double)], idCol: String,
      scoreCol: String, topK: Int = 10): DataFrame = {
    require(runs.nonEmpty, "linearFusion: no runs to fuse")
    // r18 optimization: the per-run min/max rides a whole-frame window
    // over the k-row run instead of a separate aggregate + crossJoin —
    // the old two-reference form re-executed each run's WHOLE retriever
    // subtree twice (once under the broadcast stats, once on the
    // normalize side). The unpartitioned window is the same
    // bounded-by-construction contract as [[withRank]]: inputs are
    // pre-limited top-k frames. Min/max are exact either way.
    val fullFrame = Window
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val contribs = runs.zipWithIndex.map { case ((r, weight), i) =>
      r.withColumn("_mn", min(col(s"`$scoreCol`")).over(fullFrame))
        .withColumn("_mx", max(col(s"`$scoreCol`")).over(fullFrame))
        .select(col(s"`$idCol`"),
          (lit(weight) * when(col("_mx") === col("_mn"), lit(1.0))
            .otherwise((col(s"`$scoreCol`") - col("_mn")) / (col("_mx") - col("_mn"))))
            .as(s"_c$i"))
    }
    val joined = contribs.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val score = contribs.indices.map(i => coalesce(col(s"_c$i"), lit(0.0))).reduce(_ + _)
    joined
      .withColumn("fused_score", score)
      .select(col(s"`$idCol`"), col("fused_score"))
      .orderBy(desc("fused_score"), asc(s"`$idCol`"))
      .limit(topK)
  }

  /** ES `pinned` query: curated ids surface FIRST in their given order
    * (rank 1..p, regardless of score), organic results follow by their own
    * ranking with the pinned ids deduped out — the merchandising /
    * editorial-override primitive. Pinned ids ride the plan as literals;
    * the organic run keeps its retriever's scale shape.
    *
    * ES promotes only pinned ids that EXIST in the index — a stale curated
    * list must not surface phantom documents. Pass `corpus` (the index /
    * source frame the organic run was retrieved from) to get that
    * semantics: pinned ids are semi-joined against it and absent ids drop
    * out, the survivors' ranks compacting to 1..p' in curated order. With
    * `corpus = None` the ids are trusted as-is (every pinned id surfaces,
    * existing or not) — the documented divergence, acceptable only when
    * the caller has already validated the curated list.
    *
    * Output: `(idCol, rank, pinned)` — `rank` over the combined list.
    */
  def pinned(organic: DataFrame, idCol: String, scoreCol: String,
      pinnedIds: Seq[Long], topK: Int = 10,
      corpus: Option[DataFrame] = None): DataFrame = {
    require(pinnedIds.distinct.size == pinnedIds.size, "pinned: duplicate pinned ids")
    val id = col(s"`$idCol`")
    val w = Window.orderBy(desc(s"`$scoreCol`"), asc(s"`$idCol`"))
    val allPinned = organic.sparkSession
      .createDataFrame(pinnedIds.zipWithIndex.map { case (pid, i) => (pid, i + 1, true) })
      .toDF(idCol, "_pin_order", "pinned")
    // Existence check + rank compaction: survivors re-rank 1..p' in the
    // curated order (row_number over _pin_order — a ≤p-row frame, the
    // curated list itself, so the unpartitioned window is bounded by
    // construction). The semi-join broadcasts the p-row pinned side — the
    // corpus keeps its scale shape.
    val pinnedRows = corpus match {
      case Some(c) =>
        allPinned.join(c.select(id.as(idCol)), Seq(idCol), "left_semi")
          .withColumn("rank", row_number().over(Window.orderBy("_pin_order")))
          .select(id.as(idCol), col("rank"), col("pinned"))
      case None =>
        allPinned.select(id.as(idCol), col("_pin_order").as("rank"), col("pinned"))
    }
    val organicRanked = organic
      .where(!id.isin(pinnedIds: _*))
      .withColumn("_orank", row_number().over(w))
      .withColumn("pinned", lit(false))
      .select(id.as(idCol), col("_orank"), col("pinned"))
    // Offset the organic ranks by the SURVIVING pin count (≤p-row
    // broadcast), so the combined list stays gapless when stale ids drop.
    val pinCount = pinnedRows.agg(count(lit(1)).cast("int").as("_pc"))
    organicRanked.crossJoin(broadcast(pinCount))
      .select(id.as(idCol), (col("_orank") + col("_pc")).as("rank"), col("pinned"))
      .unionByName(pinnedRows)
      .orderBy("rank")
      .limit(topK)
  }

  /** The phrase-boost secondary scorer every rescore surface passes to
    * [[rescore]]: `(doc_id, boost)` with boost 1.0 where `text` contains
    * `phrase` ([[graft.expr.TextMatch.containsToken]]), else 0.0.
    */
  def phraseBoost(docs: DataFrame, phrase: String): DataFrame =
    docs.select(col("doc_id"),
      when(graft.expr.TextMatch.containsToken(col("text"), phrase), lit(1.0))
        .otherwise(lit(0.0)).as("boost"))

  /** ES `rescore`: re-rank ONLY the top `windowSize` of a ranked run by a
    * secondary scorer — `total = queryWeight·primary +
    * rescoreWeight·secondary` inside the window (missing secondary scores
    * contribute 0) — while everything below the window keeps its primary
    * order, below the window, untouched (the ES contract: rescoring
    * re-orders within the window; the tail never pays the expensive
    * second query). This is the text twin of the vector tier's
    * `ivfPqTopKRerank`: a cheap retriever nominates, an expensive scorer
    * refines a BOUNDED window.
    *
    * The run is PRE-LIMITED in-plan to `runLimit` rows by primary order
    * (`orderBy(...).limit` → TakeOrderedAndProject: per-partition top-k +
    * driver merge, never a full-run single-partition funnel) BEFORE the
    * global rank window — so an unbounded scored match set from the
    * serving route costs a distributed top-k, not a one-partition sort of
    * the whole corpus. Ranks beyond `runLimit` truncate; a serving caller
    * reads pages from the top, so `runLimit` is the page budget, and it
    * must be ≥ `windowSize` (the rescored window must survive the cut).
    *
    * Output: `(idCol, rank, score)` — `score` the combined total inside
    * the window, the primary score below it.
    */
  def rescore(run: DataFrame, idCol: String, scoreCol: String,
      secondary: DataFrame, secondaryScoreCol: String,
      windowSize: Int, queryWeight: Double = 1.0,
      rescoreWeight: Double = 1.0, runLimit: Int = 1000): DataFrame = {
    require(windowSize >= 1, s"rescore: windowSize must be >= 1, got $windowSize")
    require(runLimit >= windowSize,
      s"rescore: runLimit=$runLimit must cover windowSize=$windowSize")
    val id = col(s"`$idCol`")
    val w = Window.orderBy(desc(s"`$scoreCol`"), asc(s"`$idCol`"))
    val bounded = run.orderBy(desc(s"`$scoreCol`"), asc(s"`$idCol`")).limit(runLimit)
    // r18 optimization: ONE reference to the ranked run (the former
    // window/tail split re-executed the run's whole retriever subtree
    // twice — a second corpus scoring pass per rescore). Every bounded
    // row probes the secondary join; only window rows USE the joined
    // score (the conditional below), so tier scores are unchanged —
    // secondary must be per-id unique, which the window join already
    // required implicitly.
    val ranked = bounded.withColumn("_prank", row_number().over(w))
    val inWindow = col("_prank") <= windowSize
    val w2 = Window.orderBy(asc("_tier"), desc("score"), asc(s"`$idCol`"))
    ranked
      .join(secondary.select(id.as(idCol),
        col(s"`$secondaryScoreCol`").as("_s2")), Seq(idCol), "left")
      .withColumn("score",
        when(inWindow,
          lit(queryWeight) * col(s"`$scoreCol`") +
            lit(rescoreWeight) * coalesce(col("_s2"), lit(0.0)))
          .otherwise(col(s"`$scoreCol`").cast("double")))
      .withColumn("_tier", when(inWindow, lit(0)).otherwise(lit(1)))
      .withColumn("rank", row_number().over(w2))
      .select(id.as(idCol), col("rank"), col("score"))
  }
}
