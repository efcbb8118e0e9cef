package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Serve-from-preaggregates — the 100 TB answer for dashboard serving.
  *
  * The reference serves its dashboard from Elasticsearch, whose terms/grid
  * aggregations read doc_values (columnar per-field counts), never the
  * source documents; the engine's warm path so far pinned the full corpus
  * projection in memory ([[Federation.materialize]]) — right at test scale,
  * impossible at 100 TB. This is the missing at-rest layer: a ROLLUP table
  * of `(dim..., cnt)` — one row per distinct combination of the dashboard's
  * dimensions, `cnt` = how many corpus rows carry it (the Druid/Kylin
  * rollup, ES's doc_values analogue). Every dashboard aggregation then
  * re-aggregates the rollup (`sum(cnt)` where the full scan has
  * `count(*)`), touching |distinct combos| rows instead of |corpus|.
  *
  * Contracts:
  *  - MERGEABLE: `increment` of a batch is the same shape as the whole;
  *    [[merge]] folds each measure by the kind its name declares (see
  *    [[isMeasure]]) and groups by everything else. Daily ingest appends
  *    increments and compacts — the same increment contract as the
  *    dictionary's HLL/KLL sketches ([[graft.dict.Dictionary]] mergeable
  *    profiles).
  *  - COVERING: a filter is servable iff every filtered field is a rollup
  *    dimension ([[covers]]); a state that filters outside the cube must
  *    fall back to the full scan — enforced loudly, never silently wrong.
  *  - EXACT: counts are exact integers, so a pre-agg-served dashboard
  *    hash-matches the full-scan oracle row for row.
  *
  * Scale shape: building the rollup is one map-side-combined aggregation
  * over the corpus (the only corpus scan, paid at ingest); serving is
  * aggregation over the rollup, whose cardinality is bounded by the
  * dimension-combination count, not the corpus.
  */
object PreAgg {

  /** The rollup's count column. */
  val CntCol = "cnt"

  /** Suffix of rollup SUM measures. */
  val SumSuffix = "_sum"

  /** Suffix of rollup HLL sketch measures. */
  val SketchSuffix = "_hll"

  /** Suffix of rollup KLL quantile-sketch measures. */
  val QuantileSketchSuffix = "_kll"

  /** How [[merge]] folds a rollup column, read off its name: `cnt` and
    * `*_sum` add, `*_min` takes the min and `*_max` the max, `*_hll`
    * unions HLL sketches and `*_kll` merges KLL sketches. Any other column
    * is a dimension (None).
    */
  private def measureFold(c: String): Option[Column] =
    if (c == CntCol || c.endsWith(SumSuffix)) Some(sum(col(c)).as(c))
    else if (c.endsWith("_min")) Some(min(col(c)).as(c))
    else if (c.endsWith("_max")) Some(max(col(c)).as(c))
    else if (c.endsWith(SketchSuffix)) Some(hll_union_agg(col(c)).as(c))
    else if (c.endsWith(QuantileSketchSuffix)) Some(expr(s"kll_merge_agg_double($c)").as(c))
    else None

  /** Is `column` a rollup measure (rather than a dimension)? */
  private[graft] def isMeasure(column: String): Boolean = measureFold(column).isDefined

  /** The group-by every increment builder shares: one row per distinct
    * combination of `dims` (name → deriving expression over `df`'s
    * columns) carrying `cnt` and then `measures`. A dimension named like a
    * measure is refused, since [[merge]] tells the two apart by name alone.
    */
  private def rollUp(df: DataFrame, dims: Seq[(String, Column)], measures: Column*): DataFrame = {
    dims.foreach { case (n, _) =>
      require(!isMeasure(n), s"rollup dimension '$n' is named like a measure " +
        s"($CntCol, *_sum, *_min, *_max, *$SketchSuffix, *$QuantileSketchSuffix) — rename it")
    }
    df.groupBy(dims.map { case (n, c) => c.as(n) }: _*)
      .agg(count(lit(1)).as(CntCol), measures: _*)
  }

  /** One rollup increment from a (batch of the) corpus: count per distinct
    * combination of `dims`. The whole-corpus rollup is the increment of the
    * whole corpus.
    */
  def increment(df: DataFrame, dims: Seq[(String, Column)]): DataFrame =
    rollUp(df, dims)

  /** Merge rollup increments of any flavour: union, group by the
    * dimensions, fold each measure by its kind ([[isMeasure]]). Measures
    * keep their column order. Associative and commutative (KLL modulo its
    * documented compaction, see [[incrementWithQuantileSketches]]), so
    * batches may arrive and compact in any order.
    */
  def merge(increments: DataFrame*): DataFrame = {
    val all = increments.reduce(_.unionByName(_))
    val dims = all.columns.filterNot(isMeasure)
    val folds = all.columns.toSeq.flatMap(measureFold)
    all.groupBy(dims.map(col).toSeq: _*).agg(folds.head, folds.tail: _*)
  }

  /** Is a selection over `fields` servable from a rollup carrying `dims`? */
  def covers(dims: Seq[String], fields: Seq[String]): Boolean =
    fields.forall(dims.contains)

  /** G2/G3 from the rollup — identical buckets, ordering, and tiebreaks to
    * [[Aggs.termsTopN]], with `sum(cnt)` standing in for `count(*)`.
    */
  def termsTopN(pre: DataFrame, field: String, n: Int = 10): DataFrame =
    pre.groupBy(col(field))
      .agg(sum(col(CntCol)).as("count"))
      .orderBy(desc("count"), asc(field))
      .limit(n)

  /** G4/G5 from the rollup — [[Aggs.nestedTermsBuckets]]'s own panel
    * kernel, counting `sum(cnt)` over rollup rows.
    */
  def nestedTerms(
      pre: DataFrame,
      parent: String,
      child: String,
      parentSize: Int = 10,
      childSize: Int = 24,
      maxBuckets: Int = 100000): DataFrame =
    Aggs.panelBuckets(pre, sum(col(CntCol)),
      Seq(Aggs.Panel(Seq(parent, child), parentSize, childSize)), maxBuckets)
      .select(col(parent), col(child), col("count"), col("parent_count"))

  /** G7 from the rollup — the typeahead as a weighted terms aggregation:
    * the phrase-prefix match is a property of the VALUE, so it filters
    * rollup rows (|distinct values| of them) instead of corpus rows, and
    * the top-N ordering/tiebreak is [[Aggs.typeahead]]'s own. At 100 TB
    * this is ES's suggest-from-index behavior: completions come from the
    * at-rest term dictionary, never from documents.
    */
  def typeahead(pre: DataFrame, field: String, typed: String, size: Int = 10): DataFrame =
    Aggs.typeaheadOf(pre, sum(col(CntCol)), field, typed, size)

  /** [[Aggs.significantTerms]] from the rollup, for a scalar widget field
    * (where document frequency IS the row count): foreground is a predicate
    * over rollup DIMENSION columns (the caller's [[covers]] obligation, as
    * everywhere here), totals and per-value counts are `sum(cnt)` where the
    * full scan has `count(*)`, and the JLH score is the identical three-op
    * IEEE tree — so the rollup-served ranking hash-matches the corpus scan.
    * Null field values form no bucket (ES's missing behavior) but still
    * count toward the set totals.
    */
  def significantTerms(
      pre: DataFrame,
      field: String,
      foreground: Column,
      n: Int = 10,
      heuristic: String = "jlh"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(Seq("jlh", "chi_square", "percentage").contains(heuristic),
      s"significant_terms: unsupported heuristic <$heuristic> " +
        "(jlh|chi_square|percentage)")
    val base = pre.select(col(field).as("term"),
      foreground.cast("boolean").as("_fg"), col(CntCol))
    val totals = base.agg(
      sum(col(CntCol)).as("_bg_total"),
      sum(when(col("_fg"), col(CntCol)).otherwise(0L)).as("_fg_total"))
    val counted = base
      .where(col("term").isNotNull)
      .groupBy("term")
      .agg(sum(col(CntCol)).as("bg_count"),
        sum(when(col("_fg"), col(CntCol)).otherwise(0L)).as("fg_count"))
      .where(col("fg_count") > 0)
      .crossJoin(broadcast(totals))
    Aggs.rankSignificant(counted, heuristic, n)
  }

  /** ES "Unique Count" (the cardinality metric agg — Kibana's second-most
    * common metric after count) served EXACTLY from the rollup: when the
    * counted field is itself a rollup dimension, the rollup's rows are the
    * distinct (bucket, value) pairs, so `count_distinct(metric)` over them
    * is the exact per-bucket cardinality and `sum(cnt)` the bucket count —
    * both hash-match the corpus scan. Serving touches |distinct pairs|
    * rows, never the corpus; the pair rollup merges like any other
    * ([[merge]] re-groups, which re-distincts by construction).
    *
    * The covering obligation is the usual one: the metric must be a rollup
    * dimension. A field too high-cardinality to BE a dimension (user ids at
    * 100 TB) is exactly when exact distinct is no longer a rollup-sized
    * question — that is the sketch path below.
    */
  def termsUniqueCount(
      pre: DataFrame,
      field: String,
      metric: String,
      n: Int = 10): DataFrame = {
    require(pre.columns.contains(metric),
      s"unique-count metric '$metric' is not a rollup dimension " +
        s"(${pre.columns.mkString(", ")}) — serve it from the corpus scan " +
        "or a sketched rollup")
    pre.groupBy(col(field))
      .agg(sum(col(CntCol)).as("count"),
        count_distinct(col(metric)).as("unique_" + metric))
      .orderBy(desc("count"), asc(field))
      .limit(n)
  }

  /** ES "Percentiles" (the metric agg next to Unique Count in Kibana's
    * metric list) served EXACTLY from the pair rollup: when the measured
    * field is itself a rollup dimension, each rollup row is a (bucket,
    * value) group with its multiplicity `cnt`, and Spark's
    * frequency-weighted `percentile(value, p, cnt)` interpolates the
    * identical rank statistic as the raw corpus scan — the weighted twin
    * of the exact `percentile` the scan form uses (and of the oracle's
    * `quantile_cont`). Serving touches |distinct pairs| rows, never the
    * corpus.
    *
    * Same covering trade as [[termsUniqueCount]]: the metric must be a
    * rollup dimension, which is exactly a statement about its
    * cardinality. A continuous field too wide to be a dimension is the
    * mergeable-quantile-SKETCH case — the dictionary already maintains
    * KLL sketches with the same increment contract
    * ([[graft.dict.Dictionary]] `quantileIncrement`/`mergeQuantileIncrements`);
    * lift those per dim-combo when the exact pair rollup stops paying.
    */
  /** Output-column labels round for readability (`p95`, `rank_120`), so
    * two close inputs can collide to ONE name and silently drop a column
    * in the aggregated frame (`ps = 0.949, 0.951` → `p95` twice) — refuse
    * loudly instead; the caller picks inputs that label apart (ES
    * sidesteps this with keyed responses; column frames cannot).
    */
  private def requireDistinctLabels(labels: Seq[String], what: String): Unit =
    require(labels.distinct.size == labels.size,
      s"$what output labels collide after rounding: ${labels.mkString(", ")} " +
        "— use values that round to distinct labels")

  def termsPercentiles(
      pre: DataFrame,
      field: String,
      metric: String,
      ps: Seq[Double],
      n: Int = 10): DataFrame = {
    require(pre.columns.contains(metric),
      s"percentile metric '$metric' is not a rollup dimension " +
        s"(${pre.columns.mkString(", ")}) — serve it from the corpus scan " +
        "or a KLL-sketch rollup")
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1),
      s"percentiles must be in [0, 1], got $ps")
    requireDistinctLabels(ps.map(p => "p" + math.round(p * 100)), "percentile")
    val pcols = ps.map(p =>
      expr(s"percentile(`$metric`, $p, `$CntCol`)")
        .as("p" + math.round(p * 100)))
    pre.groupBy(col(field))
      .agg(sum(col(CntCol)).as("count"), pcols: _*)
      .orderBy(desc("count"), asc(field))
      .limit(n)
  }

  /** [[Aggs.boxplot]] from the PAIR rollup: Spark's `percentile` takes a
    * FREQUENCY argument, so the weighted quartiles over `(value, cnt)`
    * rows are bit-identical to the unweighted scan statistic (shared
    * oracle), and the fence-conditional whisker pass re-reads rollup
    * ROWS, not the corpus. This is the 100 TB answer to the scan form's
    * per-bucket value buffering: every pass here is |distinct pairs|
    * rows. Same covering trade as [[termsPercentiles]] (a ~all-distinct
    * continuous field routes to the KLL path instead).
    */
  def termsBoxplot(
      pre: DataFrame, field: String, metric: String, n: Int = 10): DataFrame = {
    require(pre.columns.contains(metric),
      s"boxplot metric '$metric' is not a rollup dimension " +
        s"(${pre.columns.mkString(", ")}) — serve it from the corpus scan " +
        "or a KLL-sketch rollup")
    val m = col(metric)
    def q(p: Double) = expr(s"percentile(`$metric`, $p, `$CntCol`)")
    val quart = pre.where(m.isNotNull).groupBy(col(field)).agg(
      sum(col(CntCol)).as("count"),
      min(m).as("min"),
      q(0.25).as("q1"), q(0.5).as("q2"), q(0.75).as("q3"),
      max(m).as("max"))
    val fenced = pre.where(m.isNotNull)
      .select(col(field), m.as("_v"), col(CntCol))
      .join(broadcast(quart.select(col(field),
        (col("q1") - (col("q3") - col("q1")) * 1.5).as("_lofence"),
        (col("q3") + (col("q3") - col("q1")) * 1.5).as("_hifence"))), field)
      .groupBy(col(field))
      .agg(min(when(col("_v") >= col("_lofence"), col("_v"))).as("lower_whisker"),
        max(when(col("_v") <= col("_hifence"), col("_v"))).as("upper_whisker"))
    quart.join(fenced, field)
      .select(field, "count", "min", "q1", "q2", "q3", "max",
        "lower_whisker", "upper_whisker")
      .orderBy(desc("count"), asc(field))
      .limit(n)
  }

  /** [[Aggs.medianAbsoluteDeviation]] from the pair rollup — the same
    * weighted-percentile identity as [[termsBoxplot]]: the inner median
    * broadcasts back, `|v − med|` evaluates per rollup ROW, and the outer
    * weighted median matches the scan exactly (shared oracle).
    */
  def termsMad(
      pre: DataFrame, field: String, metric: String, n: Int = 10): DataFrame = {
    require(pre.columns.contains(metric),
      s"mad metric '$metric' is not a rollup dimension " +
        s"(${pre.columns.mkString(", ")}) — serve it from the corpus scan")
    val m = col(metric)
    val med = pre.where(m.isNotNull).groupBy(col(field)).agg(
      sum(col(CntCol)).as("count"),
      expr(s"percentile(`$metric`, 0.5, `$CntCol`)").as("_med"))
    pre.where(m.isNotNull)
      .select(col(field), m.as("_v"), col(CntCol))
      .join(broadcast(med), field)
      .groupBy(col(field))
      .agg(first(col("count")).as("count"),
        expr(s"percentile(abs(_v - _med), 0.5, `$CntCol`)").as("mad"))
      .orderBy(desc("count"), asc(field))
      .limit(n)
  }

  /** [[Aggs.tTest]] from a rollup whose dimensions cover the value AND
    * both population filters: the conditional LONG cents folds become
    * `cnt`-weighted folds over rollup rows — exact in any order, so the
    * identical fixed t/df trees produce the identical row (shared
    * oracle). One pass over |distinct combos| rows at any corpus size.
    */
  def tTest(
      pre: DataFrame, valueDim: String,
      filterA: Column, filterB: Column): DataFrame = {
    require(pre.columns.contains(valueDim),
      s"t_test value '$valueDim' is not a rollup dimension " +
        s"(${pre.columns.mkString(", ")}) — serve it from the corpus scan")
    val cents = floor(col(valueDim) * 100).cast("long")
    val w = col(CntCol)
    val sums = pre.where(col(valueDim).isNotNull).agg(
      sum(when(filterA, w).otherwise(0L)).as("_na"),
      sum(when(filterA, cents * w).otherwise(0L)).as("_sa"),
      sum(when(filterA, cents * cents * w).otherwise(0L)).as("_qa"),
      sum(when(filterB, w).otherwise(0L)).as("_nb"),
      sum(when(filterB, cents * w).otherwise(0L)).as("_sb"),
      sum(when(filterB, cents * cents * w).otherwise(0L)).as("_qb"))
    Aggs.tTestFromMoments(sums)
  }

  /** Rollup increment carrying EXTREME measures beside the count: min and
    * max are idempotent-mergeable (min of mins, max of maxes — replay of
    * an epoch cannot even inflate them), so per-batch increments merge to
    * the whole-corpus extremes exactly, and order-exactness means the
    * served row hash-matches the scan with no quantization. Measure
    * names must end `_min`/`_max` — the suffix is what [[merge]] merges
    * by. A lexicographic `max(struct(sort, tiebreak, metric))` is a legal
    * max measure (struct ordering is total), which is how
    * [[termsTopMetrics]] serves from this rollup.
    */
  def incrementWithExtremes(
      df: DataFrame,
      dims: Seq[(String, Column)],
      mins: Seq[(String, Column)],
      maxs: Seq[(String, Column)]): DataFrame = {
    require(mins.forall(_._1.endsWith("_min")) && maxs.forall(_._1.endsWith("_max")),
      "extreme measure names must end _min/_max (merge merges by suffix)")
    rollUp(df, dims,
      mins.map { case (n, c) => min(c).as(n) } ++
        maxs.map { case (n, c) => max(c).as(n) }: _*)
  }

  /** [[Aggs.geoBounds]] from an extremes rollup keyed by the bucket field
    * (callers exclude null-coordinate rows at ingest, the scan's missing
    * behavior): the viewport box is min/max over |distinct buckets| rows
    * — shared oracle with the scan.
    */
  def geoBounds(pre: DataFrame, field: String, n: Int = 10): DataFrame =
    pre.groupBy(col(field))
      .agg(sum(col(CntCol)).as("count"),
        max(col("lat_max")).as("top"), min(col("lon_min")).as("left"),
        min(col("lat_min")).as("bottom"), max(col("lon_max")).as("right"))
      .orderBy(desc("count"), asc(field))
      .limit(n)

  /** [[Aggs.termsTopMetrics]] from an extremes rollup whose `top_max`
    * measure is the lexicographic `max(struct(sort, tiebreak, metric))`
    * (callers exclude null-sort rows at ingest): the served row is the
    * identical struct max, merged across increments — shared oracle.
    */
  def termsTopMetrics(pre: DataFrame, field: String, n: Int = 10): DataFrame =
    pre.groupBy(col(field))
      .agg(sum(col(CntCol)).as("count"), max(col("top_max")).as("_top"))
      .select(col(field), col("count"),
        col("_top.s").as("top_sort"), col("_top.m").as("top_metric"))
      .orderBy(desc("count"), asc(field))
      .limit(n)

  /** Rollup increment carrying mergeable HLL sketch measures — the
    * approximate unique-count path for fields too high-cardinality to be
    * rollup dimensions (ES's own cardinality agg is exactly this sketch).
    * Spark's `hll_sketch_agg` is the DataSketches HLL the dictionary's
    * distinct counts already use ([[graft.dict.Dictionary]]); the sketch
    * column is a binary register array of fixed size (2^lgK registers), so
    * the rollup stays |distinct dim combos| rows × O(2^lgK) bytes no matter
    * the corpus — and sketches UNION (register max), so increments merge
    * with the same associative contract as the counts.
    */
  def incrementWithSketches(
      df: DataFrame,
      dims: Seq[(String, Column)],
      sketches: Seq[(String, Column)],
      lgK: Int = 12): DataFrame =
    rollUp(df, dims,
      sketches.map { case (n, c) => hll_sketch_agg(c, lgK).as(n + SketchSuffix) }: _*)

  /** Unique Count per bucket from a sketched rollup: union the bucket's
    * sketches, estimate. The estimate is deterministic (register state is a
    * pure function of the value multiset) and exact while the sketch is in
    * its exact (list/set) mode — beyond that it carries DataSketches'
    * published ~1.6%/√(2^lgK) relative error, the same trade ES ships.
    */
  def termsUniqueCountSketch(
      pre: DataFrame,
      field: String,
      metric: String,
      n: Int = 10): DataFrame = {
    require(pre.columns.contains(metric + SketchSuffix),
      s"no sketch measure '$metric$SketchSuffix' in rollup " +
        s"(${pre.columns.mkString(", ")})")
    pre.groupBy(col(field))
      .agg(sum(col(CntCol)).as("count"),
        hll_sketch_estimate(hll_union_agg(col(metric + SketchSuffix)))
          .as("unique_" + metric))
      .orderBy(desc("count"), asc(field))
      .limit(n)
  }

  /** ES numeric histogram from the rollup: when the measured field is a
    * rollup dimension, the bucket key `floor(v / interval) * interval` is
    * a pure function of the dimension value, so quantize-and-resum over
    * |distinct values| rows equals the corpus histogram exactly — the
    * numeric twin of the geohash prefix truncation ([[geohashGridAt]]):
    * coarsening commutes with the rollup. Any interval serves from ONE
    * at-rest rollup; no re-scan per zoom level.
    */
  def numericHistogram(
      pre: DataFrame,
      metric: String,
      interval: Double): DataFrame = {
    require(pre.columns.contains(metric),
      s"histogram metric '$metric' is not a rollup dimension " +
        s"(${pre.columns.mkString(", ")}) — serve it from the corpus scan")
    Aggs.histogramOf(pre, sum(col(CntCol)), metric, interval)
  }

  /** ES `composite` pagination from the rollup — the full-bucket export
    * at 100 TB: each page's tuple-order `after` predicate prunes ROLLUP
    * rows (|distinct key combos| of them) before a `sum(cnt)`
    * re-aggregation, so walking every page touches the rollup once per
    * page and the corpus never. Identical page contents, ordering, and
    * after-key semantics to [[Aggs.compositeAgg]] (nulls in any key
    * column are skipped, mirroring ES's composite sources) — a page
    * hash-matches the corpus-scan page.
    */
  def compositeAgg(
      pre: DataFrame,
      keys: Seq[String],
      size: Int,
      after: Option[Seq[Any]] = None): DataFrame = {
    require(keys.nonEmpty, "compositeAgg: at least one key")
    require(keys.forall(pre.columns.contains),
      s"composite keys ${keys.mkString(",")} must all be rollup dimensions " +
        s"(${pre.columns.mkString(", ")}) — serve this export from the corpus scan")
    require(size > 0, s"compositeAgg size must be positive, got $size")
    require(after.forall(_.size == keys.size),
      s"after key arity ${after.map(_.size)} != ${keys.size}")
    Aggs.compositePage(pre, keys, after).groupBy(keys.map(col): _*)
      .agg(sum(col(CntCol)).as("count"))
      .orderBy(keys.map(asc): _*)
      .limit(size)
  }

  /** [[Aggs.rangeBuckets]] from the rollup: the conditional sums weight by
    * `cnt` over |distinct values| rows. Same ES `from-to` keys, zero-count
    * rows kept, coalesced 0 on an empty rollup.
    */
  def rangeBuckets(
      pre: DataFrame,
      field: String,
      ranges: Seq[(Option[Double], Option[Double])]): DataFrame = {
    require(pre.columns.contains(field),
      s"range field '$field' is not a rollup dimension " +
        s"(${pre.columns.mkString(", ")}) — serve it from the corpus scan")
    Aggs.conditionalBuckets(pre, Aggs.rangeCells(field, ranges),
      col(CntCol), keepZeros = true)
  }

  /** [[Aggs.filtersAgg]] from the rollup: each named [[FilterSpec]] must
    * read only rollup dimensions (its `fields` — the covering contract);
    * the predicate then filters rollup ROWS and the bucket count is the
    * `cnt`-weighted sum. At 100 TB this is every dashboard filter widget
    * answered from doc_values.
    */
  def filtersAgg(pre: DataFrame, filters: Seq[(String, FilterSpec)]): DataFrame = {
    require(filters.nonEmpty, "filtersAgg: at least one filter")
    requireCovering(pre, filters)
    Aggs.conditionalBuckets(pre, filters.map { case (n, s) => (n, s.compile) },
      col(CntCol), keepZeros = true)
  }

  private def requireCovering(
      pre: DataFrame, filters: Seq[(String, FilterSpec)]): Unit =
    filters.foreach { case (name, spec) =>
      require(covers(pre.columns.toSeq, spec.fields),
        s"filter '$name' reads ${spec.fields.mkString(",")} outside the rollup " +
          s"dims (${pre.columns.mkString(", ")}) — serve it from the corpus scan")
    }

  /** [[Aggs.adjacencyMatrix]] from the rollup — singles + pairwise
    * intersections as `cnt`-weighted conditional sums, zero cells omitted
    * (ES semantics), same covering contract as [[filtersAgg]].
    */
  def adjacencyMatrix(pre: DataFrame, filters: Seq[(String, FilterSpec)]): DataFrame = {
    requireCovering(pre, filters)
    Aggs.conditionalBuckets(pre, Aggs.adjacencyCells(filters),
      col(CntCol), keepZeros = false)
  }

  /** [[Aggs.missingCount]] from the rollup: null is a rollup row like any
    * other value (a dimension going null IS a combination), so the
    * missing count is one cnt-sum over the null rows — 0 on an empty or
    * fully-present rollup.
    */
  def missingCount(pre: DataFrame, dim: String): DataFrame = {
    require(pre.columns.contains(dim),
      s"missing dimension '$dim' is not a rollup dimension " +
        s"(${pre.columns.mkString(", ")}) — serve it from the corpus scan")
    pre.agg(coalesce(sum(when(col(dim).isNull, col(CntCol)).otherwise(0L)),
      lit(0L)).as("missing_count"))
  }

  /** [[Aggs.rareTerms]] from the rollup: the long-tail export re-sums
    * |distinct values| rows — exactly the query shape the rollup pays for
    * at 100 TB, since the rare tail is invisible to any top-N cache but a
    * full corpus scan otherwise.
    */
  def rareTerms(pre: DataFrame, field: String, maxDocCount: Long): DataFrame = {
    require(maxDocCount >= 1, s"maxDocCount must be >= 1, got $maxDocCount")
    require(pre.columns.contains(field),
      s"rare_terms field '$field' is not a rollup dimension " +
        s"(${pre.columns.mkString(", ")}) — serve it from the corpus scan")
    pre.where(col(field).isNotNull)
      .groupBy(col(field))
      .agg(sum(col(CntCol)).as("count"))
      .where(col("count") <= maxDocCount)
      .orderBy(asc("count"), asc(field))
  }

  /** [[Aggs.multiTerms]] from the rollup — identical buckets, ordering,
    * and tiebreaks, with `sum(cnt)` standing in for `count(*)`.
    */
  def multiTerms(pre: DataFrame, fields: Seq[String], n: Int = 10): DataFrame = {
    require(fields.size >= 2, "multi_terms needs at least two key fields")
    require(fields.forall(pre.columns.contains),
      s"multi_terms keys ${fields.mkString(",")} must all be rollup dimensions " +
        s"(${pre.columns.mkString(", ")}) — serve it from the corpus scan")
    val base = fields.foldLeft(pre)((d, f) => d.where(col(f).isNotNull))
    base.groupBy(fields.map(col): _*)
      .agg(sum(col(CntCol)).as("count"))
      .orderBy(desc("count") +: fields.map(asc): _*)
      .limit(n)
  }

  /** [[Aggs.extendedStats]] from a rollup whose dimension is the CENTS
    * value (`floor(v·100)` — the covering contract for a money-shaped
    * field): weighted LONG moments `Σ cnt·c`, `Σ cnt·c²` are exact in
    * any order, and the back-conversion is the identical fixed arithmetic
    * tree, so the rollup-served row hash-matches the corpus scan with no
    * rounding. min/max divide the cents dimension back (floor makes this
    * the scan's min/max only when values carry ≤ 2 decimals — true for
    * money fields; a finer field needs the scan or a KLL rollup).
    */
  def extendedStats(pre: DataFrame, centsDim: String): DataFrame = {
    require(pre.columns.contains(centsDim),
      s"stats dimension '$centsDim' is not a rollup dimension " +
        s"(${pre.columns.mkString(", ")}) — serve it from the corpus scan")
    val c = col(centsDim)
    pre.where(c.isNotNull)
      .agg(
        sum(col(CntCol)).as("count"),
        (min(c).cast("double") / 100.0).as("min"),
        (max(c).cast("double") / 100.0).as("max"),
        sum(c * col(CntCol)).as("_sc"),
        sum(c * c * col(CntCol)).as("_sc2"))
      .select(Aggs.centsStatsColumns: _*)
  }

  /** date_trunc grains that compose upward: truncating at a finer grain
    * here only zeroes sub-fields a coarser truncation ignores, so
    * `date_trunc(I, date_trunc(G, ts)) = date_trunc(I, ts)` for any
    * target I at or above G. Deliberately ENDS at "day": week truncation
    * MOVES the date (a month boundary's week starts in the previous
    * month), so a week-grain rollup serves only week — calendar grains
    * are equality-only ingest grains.
    */
  private val composableGrains =
    Seq("microsecond", "millisecond", "second", "minute", "hour", "day")

  /** Is a date histogram at `interval` servable from a rollup whose time
    * dimension was truncated at `ingestInterval`? The calendar twin of
    * [[covers]]/[[coversGeohash]]: true when truncation at the target
    * composes over the ingest truncation — same grain always; any
    * coarser-or-calendar grain over a composable (≤ day) ingest grain.
    */
  def coversDate(ingestInterval: String, interval: String): Boolean = {
    val g = ingestInterval.toLowerCase
    val i = interval.toLowerCase
    if (g == i) true
    else composableGrains.indexOf(g) match {
      case -1 => false
      case gi => composableGrains.indexOf(i) match {
        case -1 => Seq("week", "month", "quarter", "year").contains(i)
        case si => si >= gi
      }
    }
  }

  /** ES date histogram from the rollup: ingest the time dimension at a
    * fine grain (`date_trunc(ingestInterval, ts)` as the rollup dim), and
    * ANY coarser calendar interval re-truncates and re-sums over
    * |distinct buckets| rows — the calendar twin of the geohash prefix
    * truncation ([[geohashGridAt]]) and the numeric quantization
    * ([[numericHistogram]]): coarsening commutes with the rollup, so one
    * at-rest rollup serves every zoom level of the time axis and the
    * result hash-matches the corpus scan at `interval`.
    */
  def dateHistogram(
      pre: DataFrame,
      tsDim: String,
      ingestInterval: String,
      interval: String): DataFrame = {
    require(pre.columns.contains(tsDim),
      s"date-histogram dimension '$tsDim' is not a rollup dimension " +
        s"(${pre.columns.mkString(", ")}) — serve it from the corpus scan")
    require(coversDate(ingestInterval, interval),
      s"interval '$interval' is not servable from an ingest-grain-" +
        s"'$ingestInterval' rollup — serve this interval from the corpus scan")
    pre.where(col(tsDim).isNotNull)
      .groupBy(date_trunc(interval, col(tsDim)).as("bucket"))
      .agg(sum(col(CntCol)).as("count"))
      .orderBy(asc("bucket"))
  }

  /** ES `auto_date_histogram` served from the rollup: replicate the
    * scan chooser's ladder walk ([[Aggs.autoDateHistogram]]) over the
    * SERVABLE grains, then serve the winner via [[dateHistogram]]. The
    * rollup cannot count buckets at sub-ingest grains, so servability of
    * the DECISION (not just the histogram) rests on monotonicity:
    * distinct-bucket counts only shrink as grains coarsen, so if the
    * ingest grain itself overflows `targetBuckets`, every finer grain
    * the scan chooser would have considered overflows too and both
    * choosers walk the same tail of the ladder — certified by the
    * `require` below, which fails loudly toward the corpus scan
    * otherwise (the standard covering-miss contract here). One bounded
    * chooser aggregation over |rollup| rows, then one serve.
    */
  def autoDateHistogram(
      pre: DataFrame,
      tsDim: String,
      ingestInterval: String,
      targetBuckets: Int): DataFrame = {
    require(targetBuckets >= 1, s"targetBuckets must be >= 1, got $targetBuckets")
    val servable = Aggs.AutoDateGrains.filter(coversDate(ingestInterval, _))
    require(servable.nonEmpty,
      s"no auto-date grain is servable from an ingest-grain-'$ingestInterval' rollup")
    val aggs = servable.map(g => count_distinct(date_trunc(g, col(tsDim))).as(g))
    val row = pre.where(col(tsDim).isNotNull).agg(aggs.head, aggs.tail: _*).collect()(0)
    // Vacuously certified when the servable ladder IS the whole ladder
    // (ingest at the finest grain or finer): no sub-ladder grain exists
    // for the scan chooser to prefer, so both choosers walk identical
    // ladders regardless of the target.
    require(servable.size == Aggs.AutoDateGrains.size || row.getLong(0) > targetBuckets,
      s"the finest servable grain '${servable.head}' already fits $targetBuckets " +
        "buckets — the scan chooser could pick a finer grain the rollup cannot " +
        "count; serve this target from the corpus scan")
    val grain = servable.zipWithIndex
      .find { case (_, i) => row.getLong(i) <= targetBuckets }
      .map(_._1).getOrElse(servable.last)
    dateHistogram(pre, tsDim, ingestInterval, grain).withColumn("grain", lit(grain))
  }

  /** ES "Percentile Ranks" (the inverse metric: what fraction of the
    * bucket's values sit at or below each given value) served EXACTLY
    * from the pair rollup — a pure weighted count ratio
    * `Σ cnt[value ≤ x] / Σ cnt`, no interpolation and no transcendental,
    * so it hash-matches the scan restatement bit for bit. Same covering
    * trade as [[termsPercentiles]].
    */
  def termsPercentileRanks(
      pre: DataFrame,
      field: String,
      metric: String,
      values: Seq[Double],
      n: Int = 10): DataFrame = {
    require(pre.columns.contains(metric),
      s"percentile-rank metric '$metric' is not a rollup dimension " +
        s"(${pre.columns.mkString(", ")}) — serve it from the corpus scan")
    require(values.nonEmpty, "at least one rank value")
    requireDistinctLabels(values.map(v => "rank_" + math.round(v)),
      "percentile-rank")
    val rcols = values.map(v =>
      (sum(when(col(s"`$metric`") <= v, col(CntCol)).otherwise(0L))
        .cast("double") / sum(col(CntCol)).cast("double"))
        .as("rank_" + math.round(v)))
    pre.groupBy(col(field))
      .agg(sum(col(CntCol)).as("count"), rcols: _*)
      .orderBy(desc("count"), asc(field))
      .limit(n)
  }

  /** Rollup increment carrying mergeable KLL quantile sketches — the
    * percentile path for fields too continuous/wide to be pair-rollup
    * dimensions, completing the sketch symmetry (HLL ↔ unique count,
    * KLL ↔ percentiles). Spark 4's `kll_sketch_agg_double` is the
    * DataSketches KLL the dictionary's quantile surface already maintains
    * ([[graft.dict.Dictionary]] `quantileIncrement`), with the same
    * increment contract: fixed-size binary state per dim combo, merges by
    * sketch union. The merge is associative/commutative modulo KLL's
    * documented compaction nondeterminism — exact (and deterministic)
    * while sketches hold fewer than k values, rank-error-bounded beyond,
    * the same trade the dictionary's quantile surface certifies.
    */
  def incrementWithQuantileSketches(
      df: DataFrame,
      dims: Seq[(String, Column)],
      measures: Seq[(String, Column)]): DataFrame = {
    // stage each measure under a stable name: the kll aggregates have no
    // Column-API form, so expr() needs a resolvable column reference
    val staged = measures.zipWithIndex.foldLeft(df) {
      case (d, ((_, c), i)) => d.withColumn(s"_q$i", c.cast("double"))
    }
    rollUp(staged, dims,
      measures.zipWithIndex.map { case ((n, _), i) =>
        expr(s"kll_sketch_agg_double(_q$i)").as(n + QuantileSketchSuffix) }: _*)
  }

  /** Percentiles per bucket from a quantile-sketched rollup: union the
    * bucket's sketches, query ranks. KLL returns retained ORDER STATISTICS
    * (no interpolation), so estimates track [[termsPercentiles]] within
    * the sketch's published rank error (~1.7% at k=200) rather than
    * hash-matching it — the reason this path is spec-certified while the
    * pair-rollup path is oracle-certified.
    */
  def termsPercentilesSketch(
      pre: DataFrame,
      field: String,
      metric: String,
      ps: Seq[Double],
      n: Int = 10): DataFrame = {
    val sk = metric + QuantileSketchSuffix
    require(pre.columns.contains(sk),
      s"no quantile sketch '$sk' in rollup (${pre.columns.mkString(", ")})")
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1),
      s"percentiles must be in [0, 1], got $ps")
    requireDistinctLabels(ps.map(p => "p" + math.round(p * 100)), "percentile")
    val pcols = ps.map(p =>
      expr(s"kll_sketch_get_quantile_double(_merged, cast($p as double))")
        .as("p" + math.round(p * 100)))
    pre.groupBy(col(field))
      .agg(sum(col(CntCol)).as("count"),
        expr(s"kll_merge_agg_double($sk)").as("_merged"))
      .select(col(field) +: col("count") +: pcols: _*)
      .orderBy(desc("count"), asc(field))
      .limit(n)
  }

  /** G6 from the rollup: the geohash is a rollup DIMENSION (computed once at
    * ingest, at the precision the saved map uses), so the grid is a plain
    * weighted terms aggregation over it. Rows whose geolocation did not
    * parse carry a null geohash and are excluded, exactly as
    * [[Aggs.geohashGridFromGeoloc]] excludes them before grouping.
    */
  def geohashGrid(pre: DataFrame, geohashCol: String = "geohash"): DataFrame =
    pre.where(col(geohashCol).isNotNull)
      .groupBy(col(geohashCol).as("geohash"))
      .agg(sum(col(CntCol)).as("count"))
      .orderBy(desc("count"), asc("geohash"))

  /** Is a geohash grid at `precision` servable from a rollup whose geohash
    * dimension was computed at `ingestPrecision`? Geohash is hierarchical
    * by construction — precision p is the first 5p bits of the lat/lon
    * interleave, so a PREFIX of a finer geohash IS the coarser cell — and
    * therefore any precision at or below ingest truncates from the rollup;
    * anything finer needs the corpus. The geohash twin of [[covers]].
    */
  def coversGeohash(ingestPrecision: Int, precision: Int): Boolean =
    precision >= 1 && precision <= ingestPrecision

  /** G6 at any precision ≤ the rollup's ingest precision: prefix-truncate
    * the geohash dimension and re-sum. Zooming OUT never re-scans the
    * corpus — the power-of-two quantization commutes with truncation
    * (floor to the finer grid then drop bits ≡ floor to the coarser grid),
    * so the truncated grid hash-matches the corpus scan at `precision`.
    */
  def geohashGridAt(
      pre: DataFrame,
      ingestPrecision: Int,
      precision: Int,
      geohashCol: String = "geohash"): DataFrame = {
    require(coversGeohash(ingestPrecision, precision),
      s"precision $precision is not servable from an ingest-precision-" +
        s"$ingestPrecision rollup — serve this zoom from the corpus scan")
    pre.where(col(geohashCol).isNotNull)
      .groupBy(substring(col(geohashCol), 1, precision).as("geohash"))
      .agg(sum(col(CntCol)).as("count"))
      .orderBy(desc("count"), asc("geohash"))
  }

  /** Is a geotile grid at zoom `z` servable from a rollup whose
    * `(tx, ty)` dimensions were computed at `ingestZoom`? Slippy tiles
    * are a strict quadtree: the zoom-`z` ancestor of a zoom-`zi` tile is
    * `(x >> (zi−z), y >> (zi−z))` — so any zoom at or below ingest
    * aggregates from the rollup; anything deeper needs the corpus. The
    * Web-Mercator twin of [[coversGeohash]].
    */
  def coversGeoTile(ingestZoom: Int, z: Int): Boolean =
    z >= 0 && z <= ingestZoom

  /** ES `geotile_grid` at any zoom ≤ the rollup's ingest zoom: integer
    * right-shift the tile dimensions and re-sum. Exactness is stronger
    * here than for the transcendental scan path: `⌊u·2^zi⌋ >> (zi−z) =
    * ⌊u·2^z⌋` holds BIT-EXACTLY for IEEE doubles (scaling by a power of
    * two is a bare exponent shift, so the two roundings are the same
    * rounding), and the edge-clamp commutes with the shift
    * (`(2^zi−1) >> k = 2^z−1`) — zooming out over the at-rest rollup
    * hash-matches the corpus scan at `z`, for free, at any corpus size.
    * This is exactly how slippy-map tile servers serve zoom-outs, here
    * as an aggregation identity.
    */
  def geoTileGridAt(
      pre: DataFrame, ingestZoom: Int, z: Int, n: Int = 10): DataFrame = {
    require(coversGeoTile(ingestZoom, z),
      s"zoom $z is not servable from an ingest-zoom-$ingestZoom rollup — " +
        "serve this zoom from the corpus scan")
    // the tile key is a bijection of the shifted (tx, ty): the grid is one
    // top-n panel over it, and every zoom shares one plan
    val shift = graft.expr.Param(ingestZoom - z)
    val tiles = pre.where(col("tx").isNotNull && col("ty").isNotNull)
      .select(concat_ws("/", lit(z), call_function("shiftright", col("tx"), shift),
        call_function("shiftright", col("ty"), shift)).as("tile"), col(CntCol))
    Aggs.panelBuckets(tiles, sum(col(CntCol)), Seq(Aggs.Panel(Seq("tile"), n)))
      .select(col("tile"), col("count"))
  }

  /** Geotile drill-down served from the rollup: the clicked zoom-`cellZ`
    * tile `(cellX, cellY)` bounds the view, deepened to zoom `z` — the
    * quadtree makes membership a pure integer test (`tx >> (ingest−cellZ)
    * == cellX`), so the filter prunes rollup ROWS with no geometry at
    * all, and the deeper grid is the same [[geoTileGridAt]] shift.
    * Covered iff `cellZ < z ≤ ingestZoom`; a deeper zoom fails loudly
    * toward the corpus scan, the standard covering-miss contract.
    */
  def geoTileGridDrilldown(
      pre: DataFrame,
      ingestZoom: Int,
      cellZ: Int, cellX: Long, cellY: Long,
      z: Int, n: Int = 10): DataFrame = {
    require(cellZ < z, s"drill-down must deepen: cell zoom $cellZ, requested $z")
    require(coversGeoTile(ingestZoom, z),
      s"zoom $z is not servable from an ingest-zoom-$ingestZoom rollup — " +
        "serve this drill-down from the corpus scan")
    val k = ingestZoom - cellZ
    geoTileGridAt(
      pre.where(shiftright(col("tx"), k) === cellX &&
        shiftright(col("ty"), k) === cellY),
      ingestZoom, z, n)
  }

  /** Kibana's autoPrecision drill-down ([[Aggs.geohashGridDrilldown]])
    * served from the rollup: the clicked cell's decoded bounds pick the
    * precision through the same zoom ladder, the viewport filter is the
    * PREFIX match (a point lies in a cell's half-open bounds iff its
    * geohash extends the cell — the identical binary subdivision computes
    * both), and the grid is the prefix truncation. Covered iff the ladder
    * lands at or above the ingest precision; a deeper zoom fails loudly
    * toward the corpus scan, like every covering miss here.
    */
  def geohashGridDrilldown(
      pre: DataFrame,
      cell: String,
      ingestPrecision: Int,
      targetCells: Int = 2000,
      geohashCol: String = "geohash"): DataFrame = {
    val (latLo, latHi, lonLo, lonHi) = graft.expr.GeohashAlgo.decodeBounds(cell)
    val p = Aggs.autoPrecision(latLo, latHi, lonLo, lonHi, targetCells)
    geohashGridAt(pre.where(col(geohashCol).startsWith(cell)),
      ingestPrecision, p, geohashCol)
  }

  /** Rollup increment carrying exact LONG SUM measures beside the count —
    * the moments layer: integer sums are associative/commutative, so
    * per-batch increments merge to the whole-corpus sums exactly and any
    * statistic that is a FIXED TREE over such sums (weighted mean,
    * centroid, variance, covariance, correlation, Welch t — the
    * [[Aggs.extendedStats]] cents discipline) serves from |distinct dim
    * combos| rollup rows hash-identically to its corpus scan. Measure
    * names must end `_sum` ([[merge]] merges by suffix). Callers
    * integer-scale measures at ingest (cents, micro-degrees) and apply
    * the scan's own null-row exclusions — the rollup stores no doubles.
    */
  def incrementWithSums(
      df: DataFrame,
      dims: Seq[(String, Column)],
      sums: Seq[(String, Column)]): DataFrame = {
    require(sums.nonEmpty && sums.forall(_._1.endsWith(SumSuffix)),
      "sum measure names must end _sum (merge merges by suffix)")
    rollUp(df, dims, sums.map { case (n, c) => sum(c.cast("long")).as(n) }: _*)
  }

  /** [[Aggs.weightedAvg]] from a sum rollup carrying `swv_sum`
    * (Σ floor(value·100)·weight) and `w_sum` (Σ weight) — callers exclude
    * null value/weight rows at ingest, the scan's missing behavior. The
    * division tree is the scan's own, over identical exact LONGs — shared
    * oracle.
    */
  def weightedAvg(pre: DataFrame): DataFrame =
    pre.agg(sum(col("swv_sum")).as("_swv"), sum(col("w_sum")).as("_sw"))
      .select(((col("_swv") / col("_sw").cast("double")) / 100.0)
        .as("weighted_avg"))

  /** [[Aggs.geoCentroid]] from a sum rollup keyed by the bucket field with
    * micro-degree measures `slat_sum`/`slon_sum` (callers exclude
    * null-coordinate rows at ingest): integer sums merge exactly, the
    * conversion tree is the scan's own — shared oracle.
    */
  def geoCentroid(pre: DataFrame, field: String, n: Int = 10): DataFrame =
    pre.groupBy(col(field))
      .agg(sum(col(CntCol)).as("count"),
        sum(col("slat_sum")).as("_slat"), sum(col("slon_sum")).as("_slon"))
      .select(col(field), col("count"),
        ((col("_slat") / 1000000.0) / col("count")).as("centroid_lat"),
        ((col("_slon") / 1000000.0) / col("count")).as("centroid_lon"))
      .orderBy(desc("count"), asc(field))
      .limit(n)

  /** [[Aggs.matrixStats]] from a sum rollup carrying the cents moments:
    * `s_<f>_sum` per field and `p_<a>_<b>_sum` per unordered pair
    * (callers apply the scan's listwise deletion at ingest). The rollup
    * sums ARE the scan's `_n/_s_<f>/_p_<a>_<b>` moment frame, so the
    * serve is one rename into [[Aggs.matrixStatsFromMoments]]'s fixed
    * trees — identical rows, shared oracle. At 100 TB the full
    * correlation matrix costs |rollup| rows, not a corpus pass.
    */
  def matrixStats(pre: DataFrame, fields: Seq[String]): DataFrame = {
    require(fields.size >= 2, "matrix_stats needs at least two fields")
    val pairs = for { i <- fields.indices; j <- i until fields.size }
      yield (fields(i), fields(j))
    val measures =
      Seq(sum(col(CntCol)).as("_n")) ++
        fields.map(f => sum(col(s"s_${f}_sum")).as(s"_s_$f")) ++
        pairs.map { case (a, b) => sum(col(s"p_${a}_${b}_sum")).as(s"_p_${a}_$b") }
    Aggs.matrixStatsFromMoments(pre.agg(measures.head, measures.tail: _*), fields)
  }

  /** [[Aggs.stringStats]] from TWO plain count rollups — lengths
    * (`len` dim) and characters (`ch` dim), both sum-mergeable (callers
    * exclude null values at ingest; the char rollup explodes values the
    * scan's own way). Length stats re-aggregate |distinct lengths| rows
    * with the scan's exact-LONG folds (`Σ len·cnt` ≡ the scan's
    * `Σ length`); entropy is [[Aggs.entropyFromCharTable]]'s identical
    * ordered fold over the identical distribution table — shared oracle.
    */
  def stringStats(lenPre: DataFrame, charPre: DataFrame): DataFrame = {
    val entropy = Aggs.entropyFromCharTable(
      charPre.select(col("ch"), col(CntCol).as("c")))
    lenPre.agg(
        sum(col(CntCol)).as("count"),
        min(col("len")).as("min_length"),
        max(col("len")).as("max_length"),
        (sum(col("len") * col(CntCol)).cast("double") / sum(col(CntCol)))
          .as("avg_length"))
      .join(broadcast(entropy), lit(true), "left")
      .withColumn("entropy", coalesce(col("entropy"), lit(0.0)))
  }

  /** Is a `[from, to)` boundary servable from an ingest-grain rollup?
    * True iff the parsed boundary sits ON an ingest-grain edge — then
    * `ts >= b` ⟺ `date_trunc(grain, ts) >= b` (truncation is monotone
    * and b is a fixed point), so range predicates commute with the
    * rollup's truncated dimension.
    */
  def coversDateBoundary(ingestInterval: String, boundary: String): Boolean = {
    import java.time.LocalDateTime
    import java.time.LocalDate
    import java.time.format.DateTimeFormatter
    val dt =
      try LocalDateTime.parse(boundary.replace(' ', 'T'),
        DateTimeFormatter.ISO_LOCAL_DATE_TIME)
      catch { case _: Exception =>
        try LocalDate.parse(boundary).atStartOfDay()
        catch { case _: Exception => return false }
      }
    val subDay = dt.getNano == 0 && (ingestInterval.toLowerCase match {
      case "second" => true
      case "minute" => dt.getSecond == 0
      case "hour"   => dt.getSecond == 0 && dt.getMinute == 0
      case "day"    => dt.getSecond == 0 && dt.getMinute == 0 && dt.getHour == 0
      case _        => false
    })
    subDay
  }

  /** [[Aggs.dateRangeBuckets]] from the date rollup: when every boundary
    * sits on an ingest-grain edge ([[coversDateBoundary]] — enforced
    * loudly toward the corpus scan otherwise), the range predicates
    * evaluate identically over the truncated dimension, so the
    * conditional sums weight by `cnt` over |distinct buckets| rows —
    * same cells, keys, zero-keeping, and ordering as the scan, shared
    * oracle.
    */
  def dateRange(
      pre: DataFrame,
      tsDim: String,
      ingestInterval: String,
      ranges: Seq[(Option[String], Option[String])]): DataFrame = {
    require(pre.columns.contains(tsDim),
      s"date-range dimension '$tsDim' is not a rollup dimension " +
        s"(${pre.columns.mkString(", ")}) — serve it from the corpus scan")
    ranges.flatMap { case (lo, hi) => lo.toSeq ++ hi.toSeq }.foreach { b =>
      require(coversDateBoundary(ingestInterval, b),
        s"boundary '$b' is not on an ingest-grain-'$ingestInterval' edge — " +
          "serve this range set from the corpus scan")
    }
    Aggs.conditionalBuckets(pre, Aggs.dateRangeCells(tsDim, ranges),
      col(CntCol), keepZeros = true)
  }

  /** [[Aggs.cumulativeCardinality]] from TWO at-rest rollups: the date
    * rollup serves the bucket series ([[dateHistogram]]), and `firstSeen`
    * is a KEY-dimension extremes rollup whose `_min` measure is the
    * key's first bucket — `min` is idempotent-mergeable, so per-batch
    * increments converge to the true first-seen epoch no matter the
    * arrival order (the exact-distinct state ES approximates with
    * per-bucket HLL prefixes; |keys| rollup rows is the inherent floor
    * for EXACT cumulative cardinality). The serve aggregates the key
    * rollup to per-bucket first-appearance counts and runs the scan's
    * own bounded-series window — shared oracle.
    */
  def cumulativeCardinality(
      series: DataFrame, firstSeen: DataFrame, firstSeenMin: String): DataFrame = {
    require(firstSeen.columns.contains(firstSeenMin),
      s"first-seen measure '$firstSeenMin' is not in the key rollup " +
        s"(${firstSeen.columns.mkString(", ")})")
    val news = firstSeen.groupBy(col(firstSeenMin).as("bucket"))
      .agg(count(lit(1)).as("_new"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    series.join(news, Seq("bucket"), "left")
      .withColumn("cumulative_cardinality",
        sum(coalesce(col("_new"), lit(0L))).over(w))
      .select(col("bucket"), col("count"), col("cumulative_cardinality"))
      .orderBy(asc("bucket"))
  }

  /** Is an ip_prefix at `prefixLen` servable from a rollup masked at
    * `ingestLen`? The bit-shift twin of [[coversGeoTile]]: any coarser
    * (shorter) prefix re-masks the stored base.
    */
  def coversIpPrefix(ingestLen: Int, prefixLen: Int): Boolean =
    prefixLen >= 1 && prefixLen <= ingestLen && ingestLen <= 32

  /** [[Aggs.ipPrefixBuckets]] from a rollup whose dimension is the parsed
    * address masked to `ingestLen` bits (unparseable addresses excluded
    * at ingest, the scan's missing behavior): masking commutes with
    * aggregation exactly like the geotile zoom-out, so one at-rest
    * rollup serves every coarser prefix length with the scan's own
    * render/ordering kernel — shared oracle.
    */
  def ipPrefix(
      pre: DataFrame, ipDim: String, ingestLen: Int, prefixLen: Int,
      n: Int = 10): DataFrame = {
    require(coversIpPrefix(ingestLen, prefixLen),
      s"/$prefixLen is not servable from a /$ingestLen rollup — serve it " +
        "from the corpus scan")
    Aggs.ipPrefixTopN(pre, ipDim, prefixLen, n, col(CntCol))
  }

  /** [[Aggs.variableWidthHistogram]] from a rollup whose dimension `v` is
    * the cents-quantized value (null values excluded at ingest, the
    * scan's missing behavior): the gap-cluster kernel's input IS a
    * `(v, cnt)` value table, and counts are sum-mergeable, so merged
    * increments feed [[Aggs.variableWidthFromValueTable]] unchanged —
    * identical clusters, centroids, and ordering, shared oracle. The
    * whole clustering goes corpus-scan-free: |distinct cents| rollup
    * rows at any corpus size.
    */
  def variableWidthHistogram(
      pre: DataFrame, vDim: String, gapCents: Long,
      maxDistinct: Int = 100000): DataFrame = {
    require(pre.columns.contains(vDim),
      s"value dimension '$vDim' is not a rollup dimension " +
        s"(${pre.columns.mkString(", ")})")
    Aggs.variableWidthFromValueTable(
      pre.select(col(vDim).as("v"), col(CntCol).as("cnt")),
      gapCents, maxDistinct)
  }

  /** Build-once, serve-many: the at-rest rollup a 100 TB deployment writes
    * at ingest. Two serving representations, chosen by MEASURED size:
    *
    *  - at or under `publishBound` rows the computed rollup is pinned as a
    *    LOCAL relation — a cached view would drag the whole build plan
    *    (corpus scan + aggregation) through analysis and cache lookup on
    *    every interaction, driver time that dwarfs the actual aggregation
    *    at dashboard latencies (the same disease
    *    [[graft.dict.Dictionary.materializeProfile]] had);
    *  - above it, a cached distributed view — a rollup that big belongs on
    *    executors (the deployment analogue: a parquet rollup table,
    *    partitioned by its leading dims), and one plan-analysis cost per
    *    interaction is the right trade against collecting it.
    *
    * `df` is by-name so the warm path never constructs the corpus scan.
    */
  def materialize(
      spark: SparkSession,
      df: => DataFrame,
      dims: Seq[(String, Column)],
      viewName: String,
      publishBound: Int = 100000): DataFrame = {
    if (!spark.catalog.tableExists(viewName)) {
      val rollup = increment(df, dims)
      val head = rollup.limit(publishBound + 1).collect()
      if (head.length <= publishBound) {
        spark.createDataFrame(
          java.util.Arrays.asList(head: _*), rollup.schema)
          .createOrReplaceTempView(viewName)
      } else {
        rollup.createOrReplaceTempView(viewName)
        spark.catalog.cacheTable(viewName)
      }
    }
    spark.table(viewName)
  }
}
