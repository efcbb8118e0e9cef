package graft.query

import graft.expr.{Geohash, GeohashAlgo, Param, TextMatch}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** The aggregation surface of the serving half — restating the reference's
  * Kibana visualizations and typeahead (SURVEY.md §2.5, G1-G8) as DataFrame
  * aggregations.
  *
  * Ordering note: ES terms aggs order by doc count descending with the term
  * itself as implicit tiebreak; every operator here makes that tiebreak
  * explicit so results are deterministic under any partitioning.
  *
  * Scale notes: every shape below is a hash aggregate (map-side partial +
  * final) over the grouping key — no windows over unpartitioned data, no
  * driver-side loops. Top-k selection happens after aggregation, when
  * cardinality is |distinct keys|, not |rows|.
  */
object Aggs {

  /** G1 — count metric (every Kibana viz's `{type:'count'}`). */
  def countMetric(df: DataFrame): DataFrame = df.agg(count(lit(1)).as("count"))

  /** G2/G3 — terms top-N: `terms` agg, size N, ordered desc by count
    * (`kibana-exported-visualizations.json:2,5`).
    */
  def termsTopN(df: DataFrame, field: String, n: Int = 10): DataFrame =
    df.groupBy(col(field))
      .agg(count(lit(1)).as("count"))
      .orderBy(desc("count"), asc(field))
      .limit(n)

  /** G4/G5 — nested terms: top `parentSize` parent buckets by their own doc
    * count, and within each, top `childSize` child buckets
    * (`kibana-exported-visualizations.json:3,4`). Kibana orders parent
    * buckets by the parent's own total *before* child bucketing.
    *
    * One shuffle produces the (parent, child) counts; parent totals are a
    * cheap re-aggregation of that small result, and the parent top-N joins
    * back as a broadcast — nothing here re-scans the input or windows over
    * an unpartitioned frame.
    */
  def nestedTermsTopK(
      df: DataFrame,
      parent: String,
      child: String,
      parentSize: Int = 10,
      childSize: Int = 24): DataFrame = {
    val pairCounts = df.groupBy(col(parent), col(child))
      .agg(count(lit(1)).as("count"))
    val topParents = pairCounts.groupBy(col(parent))
      .agg(sum(col("count")).as("parent_count"))
      .orderBy(desc("parent_count"), asc(parent))
      .limit(parentSize)
    val w = Window.partitionBy(col(parent)).orderBy(desc("count"), asc(child))
    pairCounts
      .join(broadcast(topParents), Seq(parent))
      .withColumn("child_rank", row_number().over(w))
      .where(col("child_rank") <= childSize)
      .select(col(parent), col(child), col("count"), col("parent_count"))
      .orderBy(desc("parent_count"), asc(parent), desc("count"), asc(child))
  }

  /** [[nestedTermsTopK]]'s serving twin, one [[panelBuckets]] panel: the
    * same buckets without the broadcast join's two extra stage waves.
    * SERVING-ONLY CONTRACT: for a widget pair a UI renders, refused past
    * `maxBuckets` (parent = url_host over a crawl, say); use
    * [[nestedTermsTopK]] for unbounded-cardinality pairs.
    */
  def nestedTermsBuckets(
      df: DataFrame,
      parent: String,
      child: String,
      parentSize: Int = 10,
      childSize: Int = 24,
      maxBuckets: Int = 100000): DataFrame =
    panelBuckets(df, count(lit(1)), Seq(Panel(Seq(parent, child), parentSize, childSize)), maxBuckets)
      .select(col(parent), col(child), col("count"), col("parent_count"))

  /** One saved panel's bucket shape: one key, whose top `size` buckets it
    * keeps (`size = 0`: a grid, every bucket with a non-null key), or a
    * parent and a child key: the top `size` parents by their total, and
    * the top `childSize` children within each.
    */
  final case class Panel(keys: Seq[String], size: Int, childSize: Int = 0)

  /** Every panel's buckets from ONE aggregate of `df`: grouping sets over
    * the panels' keys (plus each two-key panel's parent alone: the parent
    * totals), each bucket counted by `measure` — `count(lit(1))` over rows,
    * `sum(cnt)` over a rollup. Buckets rank by count descending, key
    * ascending; a parent by its total over its children. The ranking is a
    * local sort over a stated bound: the buckets go to one task, sorted by
    * key set, count and key, and one pass reads each rank off its position
    * — cheap because a panel's buckets are what a UI renders; a key set of
    * more than `maxBuckets` buckets is refused instead of ranked.
    *
    * Rows, in one partition: `_panel` (index into `panels`; panels over one
    * key set each get their own copy of its buckets), every key column
    * (null outside the row's set), `count`, and `parent_count`.
    */
  def panelBuckets(
      df: DataFrame, measure: Column, panels: Seq[Panel], maxBuckets: Int = 100000): DataFrame = {
    val sets = (panels.map(_.keys) ++ panels.filter(_.keys.size == 2).map(_.keys.take(1))).distinct
    val keys = sets.flatten.distinct
    // grouping_id sets a key's bit (first key highest) when the set leaves
    // it out, so a parent's own set sorts before its pairs under desc(_gid)
    def gidOf(set: Seq[String]) = keys.foldLeft(0L)((g, k) => 2 * g + (if (set.contains(k)) 0 else 1))
    val gids = panels.map(pn => gidOf(pn.keys))
    val single = sets.filter(_.size == 1).map(s => gidOf(s) -> keys.indexOf(s.head)).toMap
    val pairs = sets.filter(_.size == 2).map(s => gidOf(s) -> (keys.indexOf(s.head), gidOf(s.take(1)))).toMap
    // `count` is never null: a rollup's `sum(cnt)` rows then have a scan's
    // `count(1)` schema, and both rank in one compiled class
    val agg = df.groupingSets(sets.map(_.map(col)), keys.map(col): _*)
      .agg(coalesce(measure, lit(0L)).as("count"), grouping_id().as("_gid"))
    val n = keys.size
    val countField = agg.schema.fields(n)
    val out = StructType(StructField("_panel", IntegerType, nullable = false) +:
      agg.schema.fields.take(n) :+ countField :+ StructField("parent_count", countField.dataType))
    val refusal = s"panelBuckets(${sets.map(_.mkString("(", ", ", ")")).mkString(", ")}): the " +
      s"aggregated buckets of one key set exceed maxBuckets=$maxBuckets — this serving shape " +
      "ranks all buckets in one task; use nestedTermsTopK (the scale-safe twin) for unbounded pairs"
    inOrder(agg, desc("_gid") +: desc("count") +: keys.map(asc): _*).mapPartitions { rows =>
      val parents = scala.collection.mutable.Map.empty[(Long, Any), (Int, Any)]
      val children = scala.collection.mutable.Map.empty[(Long, Any), Int]
      var (gid, rank) = (Long.MinValue, 0)
      rows.flatMap { r =>
        val g = r.getLong(n + 1)
        rank = if (g == gid) rank + 1 else 1
        gid = g
        if (rank > maxBuckets) throw new IllegalArgumentException(refusal)
        single.get(g).foreach(k => parents((g, r.get(k))) = (rank, r.get(n)))
        // a pair's parent (rank, total), and the pair's rank within its parent
        val parent = pairs.get(g).map { case (p, parentGid) =>
          children((g, r.get(p))) = children.getOrElse((g, r.get(p)), 0) + 1
          (parents((parentGid, r.get(p))), children((g, r.get(p))))
        }
        panels.indices.filter(gids(_) == g).flatMap { j =>
          val keep = parent.fold(
            if (panels(j).size == 0) !r.isNullAt(single(g)) else rank <= panels(j).size) {
            case ((parentRank, _), childRank) => parentRank <= panels(j).size && childRank <= panels(j).childSize
          }
          if (keep) Some(Row.fromSeq((j +: (0 to n).map(r.get)) :+ parent.map(_._1._2).orNull)) else None
        }
      }
    }(Encoders.row(out))
  }

  /** G6 — geohash grid: count per geohash cell at the given precision
    * (`kibana-exported-visualizations.json:7`, precision 2). The geohash is a
    * native codegen'd expression so the grouping key is computed inline.
    */
  def geohashGrid(df: DataFrame, latCol: String, lonCol: String, precision: Int = 2): DataFrame =
    df.where(col(latCol).isNotNull && col(lonCol).isNotNull)
      .groupBy(Geohash.geohash(col(latCol), col(lonCol), precision).as("geohash"))
      .agg(count(lit(1)).as("count"))
      .orderBy(desc("count"), asc("geohash"))

  /** Kibana's `autoPrecision: true` behavior for the tile map
    * (`kibana-exported-visualizations.json:7`): pick the FINEST geohash
    * precision whose grid over the visible map bounds stays within
    * `targetCells` buckets. Each extra character multiplies the cell count
    * by 32, so this is the zoom→precision ladder Kibana walks: zoom in,
    * bounds shrink, precision deepens, bucket count stays bounded — the
    * serving-side guarantee that a map refresh never aggregates more than
    * `targetCells` groups no matter the zoom level.
    */
  def autoPrecision(
      latLo: Double, latHi: Double, lonLo: Double, lonHi: Double,
      targetCells: Int = 2000): Int = {
    require(latHi > latLo && lonHi > lonLo, "empty map bounds")
    def cells(p: Int): Double = {
      val lonBits = (5 * p + 1) / 2 // lon leads the interleave: ceil(5p/2)
      val latBits = 5 * p / 2
      val cellW = 360.0 / (1L << lonBits)
      val cellH = 180.0 / (1L << latBits)
      math.ceil((lonHi - lonLo) / cellW) * math.ceil((latHi - latLo) / cellH)
    }
    var p = 1
    while (p < GeohashAlgo.MaxPrecision && cells(p + 1) <= targetCells) p += 1
    p
  }

  /** G6 with Kibana's zoomed-map semantics: the viewport bounds become
    * lat/lon RANGE predicates (which Catalyst pushes into the parquet scan —
    * at 100 TB a city-level zoom reads only the row groups whose min/max
    * stats overlap the viewport, not the world), and the precision deepens
    * automatically as the viewport shrinks. `decodeBounds` of a clicked cell
    * supplies the bounds for drill-down zoom.
    */
  def geohashGridZoom(
      df: DataFrame, latCol: String, lonCol: String,
      latLo: Double, latHi: Double, lonLo: Double, lonHi: Double,
      targetCells: Int = 2000): DataFrame = {
    val p = autoPrecision(latLo, latHi, lonLo, lonHi, targetCells)
    geohashGrid(
      df.where(col(latCol) >= latLo && col(latCol) < latHi &&
        col(lonCol) >= lonLo && col(lonCol) < lonHi),
      latCol, lonCol, p)
  }

  /** [[geohashGridZoom]] drilling into one geohash cell (a map click). */
  def geohashGridDrilldown(
      df: DataFrame, latCol: String, lonCol: String,
      cell: String, targetCells: Int = 2000): DataFrame = {
    val (latLo, latHi, lonLo, lonHi) = GeohashAlgo.decodeBounds(cell)
    geohashGridZoom(df, latCol, lonCol, latLo, latHi, lonLo, lonHi, targetCells)
  }

  /** G6 on the reference's at-rest geo encoding: a `"lat,lon"` string column
    * (`Detroit-notebook.ipynb:654`).
    */
  def geohashGridFromGeoloc(df: DataFrame, geolocCol: String, precision: Int = 2): DataFrame = {
    val parts = split(col(geolocCol), ",")
    geohashGrid(
      df.where(length(col(geolocCol)) > 0)
        .withColumn("_lat", parts.getItem(0).cast("double"))
        .withColumn("_lon", parts.getItem(1).cast("double")),
      "_lat", "_lon", precision)
  }

  /** G7 — typeahead suggest: top-`size` most frequent values of `field`,
    * optionally restricted to rows whose value phrase-prefix-matches the
    * typed prefix (`views.js:378-412`).
    */
  def typeahead(df: DataFrame, field: String, typed: String, size: Int = 10): DataFrame =
    typeaheadOf(df, count(lit(1)), field, typed, size)

  /** [[typeahead]] counting with `measure` (`sum(cnt)` over a rollup). */
  private[query] def typeaheadOf(
      df: DataFrame, measure: Column, field: String, typed: String, size: Int): DataFrame = {
    val base =
      if (TextMatch.analyze(typed).isEmpty) df
      else df.where(TextMatch.phrasePrefix(col(field), typed))
    base.groupBy(col(field))
      .agg(measure.as("count"))
      .orderBy(desc("count"), asc(field))
      .limit(size)
      .select(col(field))
  }

  /** G8 — the dashboard-wide time filter (`datetime ∈ [now-20y, now]`,
    * `config.js:31-32`) applied before any aggregation.
    */
  def timeFiltered(df: DataFrame, tsCol: String, from: java.sql.Timestamp, to: java.sql.Timestamp): DataFrame =
    df.where(col(tsCol) >= lit(from) && col(tsCol) <= lit(to))

  /** Date histogram — in the reference's Kibana but unused by any saved viz
    * (SURVEY.md §2.5); included for engine completeness. `interval` is a
    * `date_trunc` unit: "year" | "month" | "week" | "day" | "hour" | "minute".
    */
  def dateHistogram(df: DataFrame, tsCol: String, interval: String): DataFrame =
    df.where(col(tsCol).isNotNull)
      .groupBy(date_trunc(interval, col(tsCol)).as("bucket"))
      .agg(count(lit(1)).as("count"))
      .orderBy(asc("bucket"))

  /** Metric-per-bucket generalization: Kibana's terms agg with arbitrary
    * metric aggregations (count/sum/avg/min/max) per bucket.
    */
  def termsWithMetrics(df: DataFrame, field: String, metrics: Seq[Column], n: Int = 10): DataFrame =
    df.groupBy(col(field))
      .agg(count(lit(1)).as("count"), metrics: _*)
      .orderBy(desc("count"), asc(field))
      .limit(n)

  /** ES `top_hits` metric agg: the top `size` documents per bucket under
    * an explicit sort — "show me the 3 biggest events of each type". One
    * exchange on the bucket key; the per-bucket ranking is the same
    * windowed top-k [[nestedTermsTopK]] uses, with an id tiebreak so the
    * hit set is deterministic.
    */
  def topHits(
      df: DataFrame,
      field: String,
      sortCol: Column,
      idCol: String,
      size: Int,
      select: Seq[String]): DataFrame = {
    require(size > 0, s"topHits size must be positive, got $size")
    val w = Window.partitionBy(col(field)).orderBy(sortCol, asc(idCol))
    df.withColumn("hit_rank", row_number().over(w))
      .where(col("hit_rank") <= size)
      .select((col(field) +: col("hit_rank").cast("long") +:
        select.map(col)): _*)
      .orderBy(asc(field), asc("hit_rank"))
  }

  /** ES `composite` bucket agg: PAGINATED buckets over a deterministic
    * (k1, k2, …) source order with an `after` key — ES's own answer to
    * "export EVERY bucket" (terms aggs cap at top-N and shard_size; the
    * composite agg streams the full bucket space page by page, which is
    * the shape that survives 100 TB: each page aggregates then prunes to
    * `size` rows after the bucket collapse, so a client walks unbounded
    * bucket spaces in bounded pages). `after = None` is the first page;
    * pass the previous page's last key tuple to continue.
    *
    * Plan shape per page: one aggregation exchange + the tuple-order
    * filter PUSHED BENEATH the aggregation (filtering group keys before
    * grouping is sound — key predicates commute with grouping), so late
    * pages don't even aggregate the skipped prefix.
    */
  def compositeAgg(
      df: DataFrame,
      keys: Seq[String],
      size: Int,
      after: Option[Seq[Any]] = None): DataFrame = {
    require(keys.nonEmpty, "compositeAgg: at least one key")
    require(size > 0, s"compositeAgg size must be positive, got $size")
    require(after.forall(_.size == keys.size),
      s"after key arity ${after.map(_.size)} != ${keys.size}")
    compositePage(df, keys, after).groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("count"))
      .orderBy(keys.map(asc): _*)
      .limit(size)
  }

  /** The rows of a [[compositeAgg]] page: non-null keys (ES's composite
    * sources skip missing by default — mirrored here), strictly after the
    * `after` key tuple in key order. Shared with the rollup twin.
    */
  private[query] def compositePage(
      df: DataFrame, keys: Seq[String], after: Option[Seq[Any]]): DataFrame = {
    val base = keys.foldLeft(df)((d, k) => d.where(col(k).isNotNull))
    after match {
      case None => base
      case Some(ak) =>
        val gt = keys.indices.map { i =>
          val eqPrefix = (0 until i).map(j => col(keys(j)) === lit(ak(j)))
            .reduceOption(_ && _).getOrElse(lit(true))
          eqPrefix && col(keys(i)) > lit(ak(i))
        }.reduce(_ || _)
        base.where(gt)
    }
  }

  /** ES numeric `histogram` bucket agg (the fixed-interval sibling of
    * [[dateHistogram]]): buckets keyed by their lower bound — ES's own
    * key function `floor(value / interval) * interval` — empty buckets
    * omitted (the `min_doc_count: 1` form; Kibana fills gaps
    * client-side). One exchange on the bucket key, bucket count bounded
    * by value-range/interval.
    */
  def numericHistogram(df: DataFrame, field: String, interval: Double): DataFrame =
    histogramOf(df, count(lit(1)), field, interval)

  /** [[numericHistogram]] counting with `measure` (`sum(cnt)` over a
    * rollup); the interval is a [[Param]], so every interval shares a plan.
    */
  private[query] def histogramOf(df: DataFrame, measure: Column, field: String, interval: Double): DataFrame = {
    require(interval > 0, s"histogram interval must be positive, got $interval")
    val width = Param(interval)
    inOrder(df.where(col(field).isNotNull)
      .groupBy((floor(col(field) / width) * width).as("bucket"))
      .agg(measure.as("count")), asc("bucket"))
  }

  /** `df` in `order`, as one partition: a total order without the range
    * exchange a global sort plans (and its sampling job), for results a UI
    * renders — bucket lists, panels, dictionaries.
    */
  def inOrder(df: DataFrame, order: Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(order: _*)

  /** ES `variable_width_histogram`, made deterministic: buckets form
    * wherever the ORDERED distinct values leave a gap wider than
    * `gapCents` (values integer-quantized to cents, the
    * [[extendedStats]] discipline, so the clustering predicate is pure
    * LONG arithmetic). ES's own agg is explicitly approximate and
    * collection-order-dependent (it nearest-merges centroids per shard);
    * this repo trades its `buckets`-count knob for a gap threshold —
    * the same 1-D clusters where they are well-separated, but
    * REPRODUCIBLE on any cluster at any parallelism, and restatable
    * cross-engine (documented delta). Emits ES's response fields: `key`
    * (the centroid), `min`, `max`, `count`, clusters ascending.
    *
    * Scale shape: one map-side-combined exchange builds the distinct
    * cents-value table; the gap scan is a window over THAT table (value-
    * domain-bounded, corpus-size-free), self-guarded by `maxDistinct`
    * exactly like [[panelBuckets]] — a column whose distinct
    * cents outgrow one task's frame wants a coarser quantization, not a
    * silent spill cliff. The value table is a count rollup, so the
    * at-rest serve ([[PreAgg.variableWidthHistogram]]) re-runs the
    * identical kernel over merged increments — shared oracle.
    */
  def variableWidthHistogram(
      df: DataFrame, field: String, gapCents: Long,
      maxDistinct: Int = 100000): DataFrame = {
    require(gapCents >= 1, s"gapCents must be >= 1, got $gapCents")
    variableWidthFromValueTable(
      df.where(col(field).isNotNull)
        .groupBy(floor(col(field) * 100).cast("long").as("v"))
        .agg(count(lit(1)).as("cnt")),
      gapCents, maxDistinct)
  }

  /** The gap-cluster kernel behind [[variableWidthHistogram]], over any
    * `(v: LONG cents, cnt)` value table — a fresh corpus aggregation or a
    * merged at-rest rollup. A cluster starts at every value whose gap to
    * its predecessor exceeds `gapCents`; per cluster the count-weighted
    * centroid `(Σ v·cnt / Σ cnt) / 100` is one exact-LONG fold and one
    * division. The single-task window is self-guarded in-plan (see
    * [[panelBuckets]] — referenced from the WHERE so pruning
    * cannot drop it).
    */
  private[query] def variableWidthFromValueTable(
      vals: DataFrame, gapCents: Long, maxDistinct: Int): DataFrame = {
    val ordered = Window.orderBy(col("v"))
    val run = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totalVals = count(lit(1)).over(
      ordered.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    val guard = when(totalVals > maxDistinct,
      raise_error(concat(
        lit("variableWidthHistogram: "), totalVals.cast("string"),
        lit(s" distinct cents values exceed maxDistinct=$maxDistinct — " +
          "the gap scan windows the value table through one task; " +
          "quantize coarser (a pre-floor on the column) before clustering")))
        .cast("boolean")).otherwise(lit(true))
    vals
      .withColumn("_new",
        when(col("v") - lag(col("v"), 1).over(ordered) > gapCents, 1L)
          .otherwise(lit(0L)))
      .withColumn("_cl", sum(col("_new")).over(run))
      .withColumn("_bound_ok", guard)
      .where(col("_bound_ok"))
      .groupBy(col("_cl"))
      .agg(
        ((sum(col("v") * col("cnt")).cast("double") / sum(col("cnt"))) / 100.0)
          .as("key"),
        (min(col("v")) / 100.0).as("min"),
        (max(col("v")) / 100.0).as("max"),
        sum(col("cnt")).as("count"))
      .select(col("key"), col("min"), col("max"), col("count"))
      .orderBy(asc("min"))
  }

  /** ES `range` bucket agg: arbitrary half-open `[from, to)` buckets
    * (from inclusive, to exclusive, either side open), keyed `from-to`
    * with `*` for an open side, exactly ES's bucket keys. Ranges may
    * overlap and every named range emits a row even at count 0 (ES
    * semantics) — so this is ONE conditional-sum pass over the corpus
    * plus a bucket-count-sized unpivot, never one scan per range.
    */
  /** The one-pass conditional-sum + stack-unpivot kernel shared by the
    * range/filters/adjacency bucket aggs — scan and rollup twins alike
    * (the rollup side weighs each row by its `cnt`, the scan side by 1).
    * ONE builder is what keeps the scan/rollup parity the PreAggSpec
    * tests pin from desynchronizing by hand. `coalesce`: a global sum
    * over ZERO rows is null, and ES's contract (for the zero-keeping
    * aggs) is a 0-count row per named bucket even on an empty input.
    */
  private[query] def conditionalBuckets(
      df: DataFrame,
      cells: Seq[(String, Column)],
      weight: Column,
      keepZeros: Boolean): DataFrame = {
    require(cells.nonEmpty, "conditionalBuckets: at least one bucket")
    val sums = cells.zipWithIndex.map { case ((_, cond), i) =>
      coalesce(sum(when(cond, weight).otherwise(0L)), lit(0L)).as(s"_b$i")
    }
    val stackArgs = cells.zipWithIndex.map { case ((name, _), i) =>
      require(!name.contains("'"), s"bucket name must not quote: $name")
      s"'$name', _b$i"
    }.mkString(", ")
    val stacked = df.agg(sums.head, sums.tail: _*)
      .selectExpr(s"stack(${cells.size}, $stackArgs) AS (bucket, count)")
    (if (keepZeros) stacked else stacked.where(col("count") > 0))
      .orderBy(asc("bucket"))
  }

  /** The named half-open cells behind [[rangeBuckets]] (scan and rollup). */
  private[query] def rangeCells(
      field: String,
      ranges: Seq[(Option[Double], Option[Double])]): Seq[(String, Column)] = {
    require(ranges.nonEmpty, "rangeBuckets: at least one range")
    val c = col(field)
    ranges.map { case (lo, hi) =>
      (rangeKey(lo, hi),
        (lo.map(c >= _) ++ hi.map(c < _)).reduceOption(_ && _).getOrElse(c.isNotNull))
    }
  }

  /** The singles + pairwise-intersection cells behind [[adjacencyMatrix]]
    * (scan and rollup), with ES's `&` pair-key separator guarded.
    */
  private[query] def adjacencyCells(
      filters: Seq[(String, FilterSpec)]): Seq[(String, Column)] = {
    require(filters.size >= 2, "adjacency_matrix needs at least two filters")
    filters.foreach { case (name, _) =>
      require(!name.contains("&"),
        s"adjacency bucket name must not contain '&': $name") }
    val singles = filters.map { case (name, spec) => (name, spec.compile) }
    val pairs = for {
      i <- filters.indices; j <- filters.indices if i < j
    } yield (s"${filters(i)._1}&${filters(j)._1}",
      filters(i)._2.compile && filters(j)._2.compile)
    singles ++ pairs
  }

  def rangeBuckets(
      df: DataFrame,
      field: String,
      ranges: Seq[(Option[Double], Option[Double])]): DataFrame =
    conditionalBuckets(df, rangeCells(field, ranges), lit(1L), keepZeros = true)

  /** ES's range-bucket key: `from-to` with `*` for an open side. */
  def rangeKey(lo: Option[Double], hi: Option[Double]): String =
    s"${lo.map(_.toString).getOrElse("*")}-${hi.map(_.toString).getOrElse("*")}"

  /** ES `filters` bucket agg: one named bucket per arbitrary
    * [[FilterSpec]] — the "compare these three segments side by side"
    * dashboard shape. Same one-pass conditional-sum + unpivot as
    * [[rangeBuckets]] (a document may land in several buckets; every
    * named bucket emits a row even at 0), and since the predicates are
    * FilterSpecs, anything the widget layer can express is a bucket.
    */
  def filtersAgg(df: DataFrame, filters: Seq[(String, FilterSpec)]): DataFrame = {
    require(filters.nonEmpty, "filtersAgg: at least one filter")
    conditionalBuckets(df, filters.map { case (n, s) => (n, s.compile) },
      lit(1L), keepZeros = true)
  }

  /** ES "parent pipeline" aggregations (cumulative_sum, derivative,
    * moving average — the TSVB/Timelion bucket pipelines) over an already
    * aggregated, bucket-ordered series such as [[dateHistogram]]'s output.
    *
    * Scale contract: these window over the AGGREGATED bucket frame — row
    * count bounded by the time-range/interval quotient (the same
    * `maxBuckets`-class serving bound every bucket agg here carries), never
    * by the corpus — so the single-task ordered window is deliberate: the
    * corpus-sized work already collapsed in the upstream groupBy.
    *
    * Semantics pinned for the oracle: `cumulative` includes the current
    * bucket; `derivative` is `value - lag(value)` (null in the first
    * bucket, as in ES); `moving_avg` is the trailing `movingWindow`-bucket
    * mean INCLUDING the current bucket.
    */
  def bucketPipeline(
      series: DataFrame,
      bucketCol: String,
      valueCol: String,
      movingWindow: Int = 7): DataFrame = {
    require(movingWindow >= 1, s"movingWindow must be >= 1, got $movingWindow")
    val w = Window.orderBy(col(bucketCol))
    series
      .withColumn("cumulative",
        sum(col(valueCol)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("derivative", col(valueCol) - lag(col(valueCol), 1).over(w))
      .withColumn("moving_avg",
        round(avg(col(valueCol)).over(w.rowsBetween(-(movingWindow - 1), Window.currentRow)), 4))
  }

  /** ES `moving_fn` parent-pipeline agg: the named reductions over the
    * trailing `window`-bucket frame INCLUDING the current bucket (ES's
    * default shift) — min/max/sum beside [[bucketPipeline]]'s moving
    * average. Same aggregated-series contract: the window frame is
    * bucket-bounded, never the corpus.
    */
  def movingFn(
      series: DataFrame, bucketCol: String, valueCol: String,
      window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val w = Window.orderBy(col(bucketCol))
      .rowsBetween(-(window - 1), Window.currentRow)
    series
      .withColumn("moving_min", min(col(valueCol)).over(w))
      .withColumn("moving_max", max(col(valueCol)).over(w))
      .withColumn("moving_sum", sum(col(valueCol)).over(w))
      // ES moving_percentiles, the p50 form: exact median over the same
      // trailing frame (ES feeds TDigests through the window; the exact
      // statistic is this repo's percentile discipline). Spark's median
      // is an ordered-set aggregate that rejects window frames, so the
      // frame collects into a ≤window-element array and interpolates by
      // hand — (a+b)/2 over integer-valued metrics is exact in binary,
      // so it equals the oracle's median() regardless of tree.
      .withColumn("_frame", array_sort(collect_list(col(valueCol)).over(w)))
      .withColumn("moving_median", {
        val m = size(col("_frame"))
        // Column / is double division; the indices cast back exactly
        // (halves of ints are exact doubles)
        val mid = ((m + 1) / 2).cast("int")
        val lo = (m / 2).cast("int")
        when(m % 2 === 1, element_at(col("_frame"), mid).cast("double"))
          .otherwise((element_at(col("_frame"), lo) +
            element_at(col("_frame"), lo + 1)) / 2.0)
      })
      .drop("_frame")
  }

  /** ES `normalize` parent-pipeline agg: per-bucket rescalings of a
    * metric against the WHOLE series — `percent_of_sum`, `rescale_0_1`,
    * and `z-score` (ES's method names), all emitted beside each other.
    * Series-wide moments ride one unbounded window over the aggregated
    * frame (the [[bucketStats]] precedent); every derived value is a
    * fixed IEEE tree, restatable in the oracle. The z-score uses the
    * population σ over the buckets, ES's own convention; a constant
    * series (σ = 0, max = min) emits null for z-score and rescale, ES's
    * divide-by-zero behavior.
    */
  def normalizeBuckets(
      series: DataFrame, bucketCol: String, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    series
      .withColumn("_sum", sum(v).over(w))
      .withColumn("_min", min(v).over(w))
      .withColumn("_max", max(v).over(w))
      .withColumn("_n", count(lit(1)).over(w))
      .withColumn("_mean", col("_sum") / col("_n"))
      // moment form, not Σ(v−mean)²: with integer-valued metrics (counts)
      // Σv and Σv² are order-exact doubles, so the variance is ONE fixed
      // tree — the deviation form sums non-integer addends in engine
      // order and would not restate deterministically in the oracle
      .withColumn("_var", sum(v * v).over(w) / col("_n") - col("_mean") * col("_mean"))
      .withColumn("percent_of_sum", v / col("_sum") * 100.0)
      .withColumn("rescale_0_1",
        when(col("_max") =!= col("_min"),
          (v - col("_min")) / (col("_max") - col("_min"))))
      .withColumn("z_score",
        when(col("_var") > 0.0, (v - col("_mean")) / sqrt(col("_var"))))
      .drop("_sum", "_min", "_max", "_n", "_mean", "_var")
  }

  /** ES `rate` agg under a date histogram: the bucket's count rescaled to
    * a smaller calendar unit using the bucket's NOMINAL span (ES
    * divides by the configured-interval/unit ratio — a week is always 7
    * days, a day always 24 hours — not by elapsed wall time; month→day
    * uses the bucket's own calendar length, the one variable case).
    */
  def ratePerUnit(
      series: DataFrame, bucketCol: String, valueCol: String,
      interval: String, unit: String): DataFrame = {
    val divisor: Column = (interval.toLowerCase, unit.toLowerCase) match {
      case ("week", "day")   => lit(7.0)
      case ("day", "hour")   => lit(24.0)
      case ("hour", "minute") => lit(60.0)
      case ("month", "day")  =>
        // the bucket's own calendar length: days to the next month start
        datediff(add_months(col(bucketCol), 1), col(bucketCol)).cast("double")
      case (i, u) => throw new IllegalArgumentException(
        s"unsupported rate conversion $i → $u")
    }
    series.withColumn("rate", col(valueCol) / divisor)
  }

  /** ES `serial_diff` parent-pipeline agg: `value − lag(value, lag)` over
    * the bucket-ordered series (the seasonality-removal form of
    * `derivative` — lag = 7 on a daily histogram subtracts the same
    * weekday). Same aggregated-series contract as [[bucketPipeline]]: the
    * window runs over bucket-bounded rows, never the corpus; the first
    * `lag` buckets emit null, as in ES.
    */
  def serialDiff(
      series: DataFrame,
      bucketCol: String,
      valueCol: String,
      lagBuckets: Int): DataFrame = {
    require(lagBuckets >= 1, s"lag must be >= 1, got $lagBuckets")
    val w = Window.orderBy(col(bucketCol))
    series.withColumn("serial_diff",
      col(valueCol) - lag(col(valueCol), lagBuckets).over(w))
  }

  /** ES `extended_stats` metric agg over a money-shaped field, via the
    * repo's integer-cents exactness discipline: EVERY statistic is
    * computed in `floor(value·100)` cents — LONG folds, exact in any
    * order and any engine — and converted back with a FIXED arithmetic
    * tree (`(Σc / 100.0) / n`, variance = E[c²]/10⁴ − mean², σ = √var)
    * that both engines evaluate identically, so the whole row
    * hash-matches with no rounding escape hatch, and the rollup twin
    * ([[PreAgg.extendedStats]], weighted moments over a cents dimension)
    * serves the IDENTICAL row. Deliberate delta vs ES: ES folds raw
    * doubles and its moments differ run-to-run in final ulps (shard
    * order); the cents statistics are the deterministic twin. Variance
    * is population (÷ n), ES's own convention.
    */
  def extendedStats(df: DataFrame, field: String): DataFrame = {
    val c = col(field)
    val cents = floor(c * 100).cast("long")
    df.where(c.isNotNull)
      .agg(
        count(lit(1)).as("count"),
        (min(cents).cast("double") / 100.0).as("min"),
        (max(cents).cast("double") / 100.0).as("max"),
        sum(cents).as("_sc"),
        sum(cents * cents).as("_sc2"))
      .select(centsStatsColumns: _*)
  }

  /** [[extendedStats]]'s output row from the `count`/`min`/`max` and
    * cents-sum `_sc`/`_sc2` aggregate — shared with the rollup twin
    * ([[PreAgg.extendedStats]]).
    */
  private[query] def centsStatsColumns: Seq[Column] = Seq(
    col("count"), col("min"), col("max"),
    (col("_sc") / 100.0).as("sum"),
    ((col("_sc") / 100.0) / col("count")).as("avg"),
    (col("_sc2") / 10000.0).as("sum_of_squares"),
    ((col("_sc2") / 10000.0) / col("count") -
      ((col("_sc") / 100.0) / col("count")) *
      ((col("_sc") / 100.0) / col("count"))).as("variance"),
    sqrt((col("_sc2") / 10000.0) / col("count") -
      ((col("_sc") / 100.0) / col("count")) *
      ((col("_sc") / 100.0) / col("count"))).as("std_deviation"))

  /** ES `weighted_avg` metric agg, integer-exact like [[extendedStats]]:
    * `Σ floor(v·100)·w / Σ w` in cents (weights integer-shaped by the
    * caller — quantities, counts), divided back once. Null value OR
    * weight excludes the row (ES's default missing behavior).
    */
  def weightedAvg(df: DataFrame, valueCol: Column, weightCol: Column): DataFrame = {
    val cents = floor(valueCol * 100).cast("long")
    val w = weightCol.cast("long")
    df.where(valueCol.isNotNull && weightCol.isNotNull)
      .agg(sum(cents * w).as("_swv"), sum(w).as("_sw"))
      .select(((col("_swv") / col("_sw").cast("double")) / 100.0)
        .as("weighted_avg"))
  }

  /** ES `missing` bucket agg: how many documents carry NO value for the
    * field — the data-quality tile next to every terms widget. One
    * conditional sum; 0 (not null) on an empty frame.
    */
  def missingCount(df: DataFrame, field: Column): DataFrame =
    df.agg(coalesce(sum(when(field.isNull, 1L).otherwise(0L)), lit(0L))
      .as("missing_count"))

  /** ES `rare_terms` bucket agg: the LONG-TAIL inverse of a terms top-N —
    * every value whose doc count is ≤ `maxDocCount`, ascending by count
    * then term (ES's rare-first ordering). Exact where ES documents a
    * CuckooFilter approximation: the exact form is one count-by-key pass
    * + a HAVING, the same single exchange as termsTopN — the
    * approximation buys ES per-shard memory, not less work, and the
    * rollup twin ([[PreAgg.rareTerms]]) serves the same question from
    * |distinct values| rows at 100 TB.
    */
  def rareTerms(df: DataFrame, field: String, maxDocCount: Long): DataFrame = {
    require(maxDocCount >= 1, s"maxDocCount must be >= 1, got $maxDocCount")
    df.where(col(field).isNotNull)
      .groupBy(col(field))
      .agg(count(lit(1)).as("count"))
      .where(col("count") <= maxDocCount)
      .orderBy(asc("count"), asc(field))
  }

  /** ES `multi_terms` bucket agg: terms top-N over a COMPOSITE key
    * (every distinct key tuple is one bucket), count-desc with the full
    * key tuple as ascending tiebreak — deterministic limit boundary,
    * like every top-N here. One exchange on the key tuple.
    */
  def multiTerms(df: DataFrame, fields: Seq[String], n: Int = 10): DataFrame = {
    require(fields.size >= 2, "multi_terms needs at least two key fields")
    val base = fields.foldLeft(df)((d, f) => d.where(col(f).isNotNull))
    base.groupBy(fields.map(col): _*)
      .agg(count(lit(1)).as("count"))
      .orderBy(desc("count") +: fields.map(asc): _*)
      .limit(n)
  }

  /** ES sibling pipeline aggs (`max_bucket` / `min_bucket` / `avg_bucket`
    * / `sum_bucket` / `stats_bucket`) in one row over a bucket series
    * (e.g. [[dateHistogram]]'s output): the whole family is one
    * aggregation over the bucket-bounded frame — count/min/max/sum are
    * exact longs, avg divides once (both engines: `Σ / n` in double), and
    * the extremes carry their bucket KEYS (ES returns the keys of the
    * max/min buckets; ties resolve to the smallest key, a total order ES
    * leaves unspecified). Corpus-sized work already collapsed upstream —
    * the [[bucketPipeline]] contract.
    */
  def bucketStats(series: DataFrame, bucketCol: String, valueCol: String): DataFrame = {
    val v = col(valueCol)
    val b = col(bucketCol)
    // global extremes as window columns first (the bucket-bounded frame
    // again), then one aggregation — a window inside an aggregate is not
    // a thing, and a totals self-join would re-derive the series
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    series
      .withColumn("_vmin", min(v).over(w))
      .withColumn("_vmax", max(v).over(w))
      .agg(
        count(lit(1)).as("n_buckets"),
        min(v).as("min_bucket"),
        max(v).as("max_bucket"),
        sum(v).as("sum_bucket"),
        (sum(v).cast("double") / count(lit(1))).as("avg_bucket"),
        min(when(v === col("_vmin"), b)).as("min_bucket_key"),
        min(when(v === col("_vmax"), b)).as("max_bucket_key"))
  }

  /** ES `percentiles_bucket` sibling-pipeline agg: exact R-7
    * linear-interpolated percentiles over the SIBLING buckets' metric
    * values — one row per requested percent. ES feeds the bucket values
    * through TDigest and documents the result as approximate; the series
    * here is bucket-bounded (the [[bucketPipeline]] contract), so the
    * exact order statistic is both affordable and deterministic — this
    * repo's standing percentile discipline ([[boxplot]]). Spark's
    * `percentile` and the oracle's `quantile_cont` share the R-7 rule
    * (`h = (n−1)·q`, linear between the flanking order statistics), and
    * over integer-valued metrics the interpolation is ONE fixed IEEE
    * tree both engines evaluate identically.
    */
  def percentilesBucket(
      series: DataFrame, valueCol: String, percents: Seq[Double]): DataFrame = {
    require(percents.nonEmpty, "percentiles_bucket: no percents requested")
    require(percents.forall(p => p >= 0 && p <= 100),
      s"percentiles_bucket: percents must be in [0,100], got ${percents.mkString(",")}")
    require(percents == percents.sorted && percents.distinct == percents,
      "percentiles_bucket: percents must be strictly increasing (ES keys buckets by percent)")
    val fracs = array(percents.map(p => lit(p / 100.0)): _*)
    val labels = array(percents.map(lit): _*)
    series
      .agg(percentile(col(valueCol).cast("double"), fracs).as("_q"))
      .select(posexplode(col("_q")).as(Seq("_i", "value")))
      .select(element_at(labels, col("_i") + 1).as("percent"), col("value"))
  }

  /** ES `geo_centroid` metric agg per terms bucket: the mean point of
    * each bucket's documents — what Kibana centers a per-category map
    * marker on. Micro-degree integer discipline (the [[extendedStats]]
    * cents pattern at 1e-6° ≈ 0.1 m resolution): `floor(deg·10⁶)` LONG
    * sums are exact in any order, divided back through one fixed tree, so
    * the row hash-matches cross-engine — ES's raw-double mean drifts in
    * final ulps with shard order. Null coordinates exclude the row from
    * the centroid AND the bucket count, ES's missing behavior.
    */
  def geoCentroid(
      df: DataFrame, field: String,
      latCol: String, lonCol: String, n: Int = 10): DataFrame = {
    val lat = col(latCol)
    val lon = col(lonCol)
    val mlat = floor(lat * 1000000).cast("long")
    val mlon = floor(lon * 1000000).cast("long")
    df.where(lat.isNotNull && lon.isNotNull)
      .groupBy(col(field))
      .agg(
        count(lit(1)).as("count"),
        sum(mlat).as("_slat"),
        sum(mlon).as("_slon"))
      .select(col(field), col("count"),
        ((col("_slat") / 1000000.0) / col("count")).as("centroid_lat"),
        ((col("_slon") / 1000000.0) / col("count")).as("centroid_lon"))
      .orderBy(desc("count"), asc(field))
      .limit(n)
  }

  /** ES `sampler` bucket agg, made deterministic: run the inner terms
    * aggregation over a seeded hash-sample of documents instead of ES's
    * first-`shard_size`-per-shard (which depends on shard routing and
    * segment order — not reproducible). The sample is
    * [[graft.ops.Sampling.hashSample]]'s threshold form: same documents
    * kept on any cluster at any parallelism, restatable in SQL, sized by
    * `fraction` (binomial around fraction·n; ES's count-exact cap is the
    * non-reproducible part we deliberately trade away).
    */
  def samplerTerms(
      df: DataFrame, keyCol: String, field: String,
      fraction: Double, n: Int = 10, seed: Int = 42): DataFrame =
    termsTopN(graft.ops.Sampling.hashSample(df, keyCol, fraction, seed), field, n)

  /** ES `random_sampler` agg (the probabilistic-sampling wrapper ES added
    * for dashboards over huge indices): the inner aggregation runs over a
    * `probability` sample and every count is scaled back by `1/p`, so the
    * buckets ESTIMATE the full corpus — the explicit accuracy-for-speed
    * trade, here with [[graft.ops.Sampling.hashSample]]'s seeded
    * deterministic sample instead of ES's per-shard RNG (same documents
    * on any cluster at any parallelism; reproducible, restatable
    * cross-engine). Scaled count = `round(count / p)` — the one division
    * and half-up round are IEEE-identical cross-engine.
    */
  def randomSamplerTerms(
      df: DataFrame, keyCol: String, field: String,
      probability: Double, n: Int = 10, seed: Int = 42): DataFrame = {
    require(probability > 0 && probability <= 1,
      s"probability must be in (0,1], got $probability")
    graft.ops.Sampling.hashSample(df, keyCol, probability, seed)
      .groupBy(col(field))
      .agg(round(count(lit(1)) / probability, 0).cast("long").as("count"))
      .orderBy(desc("count"), asc(field))
      .limit(n)
  }

  /** ES `diversified_sampler`: at most `maxPerValue` documents per
    * diversity value feed the inner aggregation — de-biasing a terms agg
    * from a dominant source. Selection is the seeded `(hashUnit(key),
    * key)` order per diversity value (deterministic; ES's is
    * shard-order). This is ALSO the training-data curation op published
    * pipelines call a per-domain cap (Dolma's URL/domain dedup cap: keep
    * ≤ k docs per domain): one window over the diversity key, the same
    * two-phase-rank scalability story as [[graft.ops.Packing]] if a
    * mega-domain ever serializes.
    */
  def diversifiedSamplerTerms(
      df: DataFrame, keyCol: String, diversityCol: String,
      maxPerValue: Int, field: String, n: Int = 10, seed: Int = 42): DataFrame = {
    require(maxPerValue >= 1, s"maxPerValue must be >= 1, got $maxPerValue")
    val w = Window.partitionBy(col(diversityCol))
      .orderBy(graft.ops.Sampling.hashUnit(col(keyCol), seed), col(keyCol))
    termsTopN(
      df.withColumn("_dsr", row_number().over(w)).where(col("_dsr") <= maxPerValue),
      field, n)
  }

  /** ES `date_range` bucket agg: half-open `[from, to)` timestamp ranges
    * keyed `from-to` with `*` for an open side (keys carry the caller's
    * own boundary strings — ES echoes its configured format the same
    * way). Same one-pass conditional-sum + unpivot as [[rangeBuckets]];
    * every named range emits a row even at count 0.
    */
  def dateRangeBuckets(
      df: DataFrame,
      tsCol: String,
      ranges: Seq[(Option[String], Option[String])]): DataFrame =
    conditionalBuckets(df, dateRangeCells(tsCol, ranges), lit(1L), keepZeros = true)

  /** The named half-open timestamp cells behind [[dateRangeBuckets]] (scan
    * and rollup serve — [[PreAgg.dateRange]]).
    */
  private[query] def dateRangeCells(
      tsCol: String,
      ranges: Seq[(Option[String], Option[String])]): Seq[(String, Column)] = {
    require(ranges.nonEmpty, "dateRangeBuckets: at least one range")
    val c = col(tsCol)
    ranges.map { case (lo, hi) =>
      (s"${lo.getOrElse("*")}-${hi.getOrElse("*")}",
        (lo.map(s => c >= lit(s).cast("timestamp")) ++
            hi.map(s => c < lit(s).cast("timestamp")))
          .reduceOption(_ && _).getOrElse(c.isNotNull))
    }
  }

  /** ES `adjacency_matrix` bucket agg: named filters as buckets PLUS
    * every pairwise intersection (`A&B`, ES's own key separator) — the
    * co-occurrence matrix behind "how do these segments overlap"
    * dashboards. ONE conditional-sum pass computes all F + F(F−1)/2
    * cells; empty buckets are omitted, exactly ES's behavior (unlike the
    * range/filters aggs, which emit zeros).
    */
  def adjacencyMatrix(df: DataFrame, filters: Seq[(String, FilterSpec)]): DataFrame =
    conditionalBuckets(df, adjacencyCells(filters), lit(1L), keepZeros = false)

  /** Subtotal hierarchies — `ROLLUP` / `CUBE` over low-cardinality widget
    * dimensions, the "show totals" toggle of a terms table. Grouping-set
    * execution is one Expand over the aggregation (no per-level rescan);
    * `grouping_id()` disambiguates a genuine NULL key from a subtotal row
    * (surfaced as `gid`, exactly SQL's GROUPING() bit-vector).
    */
  /** ES `significant_terms` over an analyzed field (the "what characterizes
    * this slice" aggregation): for every term, compare its DOCUMENT
    * frequency inside the foreground slice against the whole corpus and
    * score by JLH — `(fgPct − bgPct) · (fgPct / bgPct)` — exactly ES's
    * default heuristic (foreground percentage lift weighted by absolute
    * change; background superset = the whole frame, ES's default).
    *
    * Semantics are doc-frequency, not instance-frequency: `termsCol` is
    * de-duplicated per document before exploding, and the percentages
    * divide by DOC totals — so a term repeated inside one document counts
    * once, as in ES. Every input to the score is an exact integer count;
    * the score itself is the identical three-op IEEE tree in the oracle,
    * so results hash-match. Ties break by term ascending (total order —
    * the limit boundary is deterministic).
    *
    * Scale shape: one explode of per-doc distinct terms (inverted-index
    * volume), one partial-aggregated exchange on the term, and a 1-row
    * totals broadcast. No per-term state beyond the two counts.
    */
  def significantTerms(
      df: DataFrame,
      termsCol: Column,
      foreground: Column,
      n: Int = 10,
      heuristic: String = "jlh"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(Seq("jlh", "chi_square", "percentage").contains(heuristic),
      s"significant_terms: unsupported heuristic <$heuristic> " +
        "(jlh|chi_square|percentage)")
    val base = df.select(array_distinct(termsCol).as("_terms"),
      foreground.cast("boolean").as("_fg"))
    val totals = base.agg(
      count(lit(1)).as("_bg_total"),
      sum(when(col("_fg"), 1L).otherwise(0L)).as("_fg_total"))
    val counted = base
      .select(explode(col("_terms")).as("term"), col("_fg"))
      // missing terms form no bucket (ES's missing behavior); totals above
      // still count every document
      .where(col("term").isNotNull)
      .groupBy("term")
      .agg(count(lit(1)).as("bg_count"),
        sum(when(col("_fg"), 1L).otherwise(0L)).as("fg_count"))
      .where(col("fg_count") > 0)
      .crossJoin(broadcast(totals))
    rankSignificant(counted, heuristic, n)
  }

  /** Score and rank significant-terms candidates: `counted` carries each
    * term's `fg_count`/`bg_count` and the set totals `_fg_total`/
    * `_bg_total`; the top `n` by `heuristic`, ties by term ascending.
    * Shared with the rollup-served form ([[PreAgg.significantTerms]]),
    * where rollup counts replace doc-frequency counts.
    */
  private[query] def rankSignificant(counted: DataFrame, heuristic: String, n: Int): DataFrame = {
    // The score heuristics, per ES's significance family (all public
    // formulas). bg here is the SUPERSET (ES's background_is_superset
    // default): every doc counts toward bg, foreground docs included.
    val score = heuristic match {
      case "jlh" =>
        // (fg% − bg%) · (fg% / bg%) — high when the term is both absolutely
        // and relatively more frequent in the foreground (ES default).
        val fgPct = col("fg_count").cast("double") / col("_fg_total")
        val bgPct = col("bg_count").cast("double") / col("_bg_total")
        (fgPct - bgPct) * (fgPct / bgPct)
      case "chi_square" =>
        // the standard 2×2 contingency chi² — N·(ad − bc)² over the four
        // marginals, with a = fg∧term, b = fg∧¬term, c = ¬fg∧term,
        // d = ¬fg∧¬term. Double arithmetic in a FIXED tree (long products
        // would overflow at web-corpus counts; the oracle replays the
        // identical IEEE operations, so determinism survives the cast).
        val a = col("fg_count").cast("double")
        val b = col("_fg_total").cast("double") - a
        val c = col("bg_count").cast("double") - a
        val d = (col("_bg_total").cast("double") - col("_fg_total").cast("double")) -
          (col("bg_count").cast("double") - a)
        val nTot = col("_bg_total").cast("double")
        val num = (a * d - b * c) * (a * d - b * c) * nTot
        val den = (a + b) * (c + d) * (a + c) * (b + d)
        when(den === 0.0, lit(0.0)).otherwise(num / den)
      case "percentage" =>
        // fg/bg — the share of the term's occurrences that are foreground
        // (ES `percentage`: right when the foreground is NOT a subset
        // sample bias concern and you just want containment).
        col("fg_count").cast("double") / col("bg_count").cast("double")
    }
    counted
      .withColumn("score", score)
      .orderBy(desc("score"), asc("term"))
      .select("term", "fg_count", "bg_count", "score")
      .limit(n)
  }

  /** ES `significant_text` — [[significantTerms]] re-analyzing raw text
    * on the fly, with the agg's signature `filter_duplicate_text`
    * de-noising: boilerplate copied across many documents (syndicated
    * articles, mirrored pages) would otherwise dominate every slice's
    * "significant" tokens. ES filters near-duplicate token SEQUENCES
    * per shard (order-dependent, approximate); this repo's deterministic
    * contract counts each distinct `(text, foreground)` combination once
    * — exact duplicate collapse, cluster-reproducible, restatable
    * cross-engine (documented delta; the near-dup generalization is the
    * MinHash/SimHash dedup family upstream in [[graft.ops.Dedup]], which
    * a pipeline runs BEFORE analytics anyway). The significance kernel,
    * scoring, and tiebreaks are [[significantTerms]]'s own.
    */
  def significantText(
      df: DataFrame,
      textCol: Column,
      foreground: Column,
      tokens: Column => Column,
      n: Int = 10,
      filterDuplicateText: Boolean = true): DataFrame = {
    val base = df.select(textCol.as("_text"), foreground.cast("boolean").as("_fg"))
    val deduped = if (filterDuplicateText) base.distinct() else base
    significantTerms(deduped, tokens(col("_text")), col("_fg"), n)
  }

  /** Web-Mercator latitude bound: tiles exist only inside ±85.0511°;
    * ES's `GeoTileUtils` clamps out-of-range latitudes to the edge tiles
    * and this repo does the same (via index clamping below, which is the
    * arithmetic-only equivalent and keeps the expression tree free of a
    * second conditional).
    */
  private val MercatorLatLimit = 85.0511287798066

  /** ES `geotile_grid` bucket agg: counts per slippy-map tile `z/x/y`
    * (OSM tile scheme), the Web-Mercator sibling of [[geohashGrid]].
    * `x = ⌊(lon+180)/360·2ᶻ⌋`, `y = ⌊(1 − ln(tan φ + sec φ)/π)/2·2ᶻ⌋`,
    * both clamped to `[0, 2ᶻ)` (ES clamps |lat| > 85.0511° to the edge
    * row the same way).
    *
    * Determinism note: this is the one grid whose cell function is
    * transcendental (Mercator needs `tan`/`ln`); `+ − × /`, `floor`, and
    * the clamp are IEEE-exact cross-engine, but `tan`/`cos`/`ln` are
    * library-rounded (≤1 ulp each in the JVM and libm), so a point within
    * ~1e-14 tile-widths of a boundary could in principle land differently
    * in the DuckDB oracle — probability ~1e-14 per row, accepted and
    * documented rather than papered over with lossy rounding. The
    * geohash/numeric/date grids stay fully exact; zoom-out over THIS grid
    * is integer `>>` and therefore exact too ([[PreAgg.geoTileGridAt]]).
    */
  def geoTileGrid(
      df: DataFrame, latCol: String, lonCol: String, z: Int, n: Int = 10): DataFrame = {
    require(z >= 0 && z <= 29, s"geotile zoom must be in [0,29], got $z")
    df.where(col(latCol).isNotNull && col(lonCol).isNotNull)
      .select(geoTileXY(col(latCol), col(lonCol), z): _*)
      .groupBy("tx", "ty")
      .agg(count(lit(1)).as("count"))
      .select(concat_ws("/", lit(z), col("tx"), col("ty")).as("tile"), col("count"))
      .orderBy(desc("count"), asc("tile"))
      .limit(n)
  }

  /** The tile-index pair at zoom `z` — shared by the scan grid above and
    * the rollup ingest ([[PreAgg]] callers pass the finest zoom here).
    */
  def geoTileXY(lat: Column, lon: Column, z: Int): Seq[Column] = {
    val tiles = lit(1L << z)
    val x = floor((lon + 180.0) / 360.0 * tiles).cast("long")
    // NOT radians(): Spark's is x/180·π, DuckDB's is x·(π/180) — different
    // IEEE trees. One explicit multiply by the shared π/180 double pins it.
    val latRad = lat * lit(math.Pi / 180.0)
    val merc = (lit(1.0) - log(tan(latRad) + lit(1.0) / cos(latRad)) / lit(math.Pi)) / 2.0
    val y = floor(merc * tiles).cast("long")
    Seq(least(tiles - 1L, greatest(lit(0L), x)).as("tx"),
      least(tiles - 1L, greatest(lit(0L), y)).as("ty"))
  }

  /** ES `geo_bounds` metric agg per terms bucket: the tightest
    * axis-aligned box around each bucket's points (what Kibana fits a
    * map viewport to). `min`/`max` on the raw doubles are order-exact,
    * so no integer quantization is needed — the row hash-matches
    * cross-engine as-is. Null coordinates exclude the row from both the
    * bounds and the count (ES missing behavior); `wrap_longitude`
    * antimeridian wrapping is not implemented (documented delta — the
    * reference corpus is single-city).
    */
  def geoBounds(
      df: DataFrame, field: String,
      latCol: String, lonCol: String, n: Int = 10): DataFrame =
    df.where(col(latCol).isNotNull && col(lonCol).isNotNull)
      .groupBy(col(field))
      .agg(
        count(lit(1)).as("count"),
        max(col(latCol)).as("top"),
        min(col(lonCol)).as("left"),
        min(col(latCol)).as("bottom"),
        max(col(lonCol)).as("right"))
      .orderBy(desc("count"), asc(field))
      .limit(n)

  /** ES `top_metrics` agg per terms bucket (size = 1, ES's default):
    * the metric value carried by the row that maximizes the sort field —
    * "latest value per key" / "price at peak hour" dashboards. One hash
    * aggregate via a lexicographic `max(struct(sort, tiebreak, metric))`:
    * no window, no second exchange — the `size=1` form is max_by and
    * should cost exactly what max costs at 100 TB. `tiebreak` must be a
    * total order within the bucket (an id column) so the carried metric
    * is deterministic under any partitioning when sort values tie.
    */
  def termsTopMetrics(
      df: DataFrame, field: String,
      sortCol: Column, tiebreak: Column, metric: Column,
      n: Int = 10): DataFrame =
    df.where(sortCol.isNotNull)
      .groupBy(col(field))
      .agg(count(lit(1)).as("count"),
        max(struct(sortCol.as("s"), tiebreak.as("t"), metric.as("m"))).as("_top"))
      .select(col(field), col("count"),
        col("_top.s").as("top_sort"), col("_top.m").as("top_metric"))
      .orderBy(desc("count"), asc(field))
      .limit(n)

  /** ES `boxplot` metric agg per terms bucket: min / q1 / q2 / q3 / max
    * plus the 1.5·IQR whiskers (the lowest/highest DATA values inside
    * the fences, ES's own definition). Quartiles are Spark's exact
    * interpolated `percentile` (the same statistic the oracle's
    * `quantile_cont` computes — the established [[termsWithMetrics]]
    * percentile discipline, not ES's TDigest approximation, a
    * deliberate exactness delta). Two bucket-bounded passes: quartiles
    * first, then a broadcast join feeds the fence-conditional extremes —
    * the second scan prunes to the same two columns.
    */
  def boxplot(df: DataFrame, field: String, valueCol: String, n: Int = 10): DataFrame = {
    val v = col(valueCol)
    val quart = df.where(v.isNotNull).groupBy(col(field)).agg(
      count(lit(1)).as("count"),
      min(v).as("min"),
      expr(s"percentile($valueCol, 0.25)").as("q1"),
      expr(s"percentile($valueCol, 0.5)").as("q2"),
      expr(s"percentile($valueCol, 0.75)").as("q3"),
      max(v).as("max"))
    val fenced = df.where(v.isNotNull).select(col(field), v)
      .join(broadcast(quart.select(col(field),
        (col("q1") - (col("q3") - col("q1")) * 1.5).as("_lofence"),
        (col("q3") + (col("q3") - col("q1")) * 1.5).as("_hifence"))), field)
      .groupBy(col(field))
      .agg(min(when(v >= col("_lofence"), v)).as("lower_whisker"),
        max(when(v <= col("_hifence"), v)).as("upper_whisker"))
    quart.join(fenced, field)
      .select(field, "count", "min", "q1", "q2", "q3", "max",
        "lower_whisker", "upper_whisker")
      .orderBy(desc("count"), asc(field))
      .limit(n)
  }

  /** ES `median_absolute_deviation` metric agg per terms bucket:
    * `median(|x − median(x)|)` — the robust dispersion statistic. Exact
    * interpolated medians (ES uses TDigest; same deliberate delta as
    * [[boxplot]]). The inner median broadcasts back per bucket;
    * `|x − m|` and the interpolation `(1−f)·a + f·b` are fixed IEEE
    * trees, so the row hash-matches cross-engine.
    */
  def medianAbsoluteDeviation(
      df: DataFrame, field: String, valueCol: String, n: Int = 10): DataFrame = {
    val v = col(valueCol)
    val med = df.where(v.isNotNull).groupBy(col(field)).agg(
      count(lit(1)).as("count"),
      expr(s"percentile($valueCol, 0.5)").as("_med"))
    df.where(v.isNotNull).select(col(field), v)
      .join(broadcast(med), field)
      .groupBy(col(field))
      .agg(first(col("count")).as("count"),
        expr(s"percentile(abs($valueCol - _med), 0.5)").as("mad"))
      .orderBy(desc("count"), asc(field))
      .limit(n)
  }

  /** ES `string_stats` metric agg: count, min/max/avg length, and the
    * Shannon entropy of the character distribution across all values.
    * Lengths are integer-exact; `avg_length` is one fixed division.
    * Entropy has no integer-exact form (it is a sum of irrational
    * terms), so it is pinned two ways instead: (1) each term
    * `−(c/N)·ln(c/N)/ln 2` is a fixed IEEE tree over the exact LONG
    * char-counts, and (2) the terms are summed by an ORDERED fold — a
    * running-sum window over the char-ordered distribution table, never
    * a partition-order float sum — so the result is identical run-to-run
    * AND engine-to-engine up to the ≤1-ulp `ln` library difference,
    * which `round(·, 6)` absorbs. The window frame is the distribution
    * table (|alphabet| rows), not the corpus — the [[bucketStats]]
    * bounded-frame precedent.
    */
  def stringStats(df: DataFrame, field: String): DataFrame = {
    val chars = df.where(col(field).isNotNull)
      .select(explode(split(col(field), "")).as("ch"))
      .where(length(col("ch")) > 0)
      .groupBy("ch").agg(count(lit(1)).as("c"))
    val entropy = entropyFromCharTable(chars)
    // LEFT join + 0.0 fill, not a crossJoin: an empty char distribution
    // (all-empty or all-null strings) must not annihilate the stats row —
    // ES reports entropy 0.0 there, counts intact.
    df.where(col(field).isNotNull).agg(
        count(lit(1)).as("count"),
        min(length(col(field))).as("min_length"),
        max(length(col(field))).as("max_length"),
        (sum(length(col(field))).cast("double") / count(lit(1))).as("avg_length"))
      .join(broadcast(entropy), lit(true), "left")
      .withColumn("entropy", coalesce(col("entropy"), lit(0.0)))
  }

  /** The ordered Shannon-entropy fold over an exact character-count table
    * (`ch`, `c` — |alphabet| rows) described in [[stringStats]]'s scaladoc:
    * fixed per-term IEEE tree, char-ordered running-sum window, `round(·,6)`
    * absorbing ≤1-ulp `ln` library drift. Shared by the corpus scan and the
    * rollup serve ([[PreAgg.stringStats]]) — the char-count table is
    * sum-mergeable, so both folds see the identical distribution.
    */
  private[query] def entropyFromCharTable(chars: DataFrame): DataFrame = {
    val total = chars.agg(sum(col("c")).as("n"))
    val w = Window.orderBy(col("ch")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chars.crossJoin(broadcast(total))
      .withColumn("_term",
        -(col("c").cast("double") / col("n")) *
          log(col("c").cast("double") / col("n")) / log(lit(2.0)))
      .withColumn("_h", sum(col("_term")).over(w))
      .orderBy(desc("ch")).limit(1)
      .select(round(col("_h"), 6).as("entropy"))
  }

  /** ES `matrix_stats` agg over a set of numeric fields: per unordered
    * field pair, the count, means, variances, covariance, and Pearson
    * correlation — the full matrices ES renders, in ONE corpus pass.
    * The [[extendedStats]] integer-cents discipline extends to the cross
    * moment: `Σ cᵢ·cⱼ` is a LONG fold (exact in any order; bounded by
    * 10⁴·max²·rows, callers keep fields < ~10⁵ in magnitude), and every
    * derived statistic is one fixed conversion tree — IEEE `sqrt` is
    * correctly rounded, so even `correlation` hash-matches cross-engine
    * with no rounding escape hatch. ES's per-field skewness/kurtosis are
    * omitted (their c³/c⁴ folds overflow LONG for money-scaled fields;
    * documented delta). Rows with ANY null field are excluded, ES's
    * listwise-deletion behavior.
    */
  def matrixStats(df: DataFrame, fields: Seq[String]): DataFrame = {
    require(fields.size >= 2, "matrix_stats needs at least two fields")
    val cents = fields.map(f => floor(col(f) * 100).cast("long").as(s"_c_$f"))
    val base = df.where(fields.map(col(_).isNotNull).reduce(_ && _)).select(cents: _*)
    val pairs = for { i <- fields.indices; j <- i until fields.size }
      yield (fields(i), fields(j))
    val sums =
      Seq(count(lit(1)).as("_n")) ++
        fields.map(f => sum(col(s"_c_$f")).as(s"_s_$f")) ++
        pairs.map { case (a, b) => sum(col(s"_c_$a") * col(s"_c_$b")).as(s"_p_${a}_$b") }
    matrixStatsFromMoments(base.agg(sums.head, sums.tail: _*), fields)
  }

  /** The fixed per-pair conversion trees over a one-row exact-moments frame
    * (`_n`, `_s_<f>` cents sums, `_p_<a>_<b>` cents cross-products for every
    * unordered pair) — shared by the corpus scan above and the rollup serve
    * ([[PreAgg.matrixStats]]), so both emit identical rows.
    */
  private[query] def matrixStatsFromMoments(agg: DataFrame, fields: Seq[String]): DataFrame = {
    val pairs = for { i <- fields.indices; j <- i until fields.size }
      yield (fields(i), fields(j))
    val rows = pairs.map { case (a, b) =>
      val n = col("_n").cast("double")
      def mean(f: String) = (col(s"_s_$f") / 100.0) / n
      def variance(f: String) =
        (col(s"_p_${f}_$f") / 10000.0) / n - mean(f) * mean(f)
      val cov = (col(s"_p_${a}_$b") / 10000.0) / n - mean(a) * mean(b)
      struct(lit(a).as("field_i"), lit(b).as("field_j"), col("_n").as("count"),
        mean(a).as("mean_i"), mean(b).as("mean_j"),
        variance(a).as("var_i"), variance(b).as("var_j"),
        cov.as("covariance"),
        (cov / sqrt(variance(a) * variance(b))).as("correlation"))
    }
    agg.select(explode(array(rows: _*)).as("_r")).select(col("_r.*"))
      .orderBy(asc("field_i"), asc("field_j"))
  }

  /** ES `t_test` metric agg (Welch's unpaired form, ES's default): the
    * t-statistic and Welch–Satterthwaite degrees of freedom between two
    * filter-defined populations, in ONE conditional-sum pass over the
    * corpus. The [[extendedStats]] cents discipline: per-side moments are
    * exact LONG folds; t and df are fixed IEEE trees over them (sqrt is
    * correctly rounded), so the row hash-matches cross-engine. Variances
    * are the SAMPLE form (÷ n−1), the t-test's own convention — each side
    * needs n ≥ 2. Deliberate delta vs ES: ES returns the p-value (an
    * incomplete-beta evaluation with no portable SQL twin); the
    * t-statistic and df are the deterministic sufficient pair — any
    * caller can table-lookup the p-value.
    */
  def tTest(
      df: DataFrame, valueCol: String,
      filterA: Column, filterB: Column): DataFrame = {
    val cents = floor(col(valueCol) * 100).cast("long")
    val sums = df.where(col(valueCol).isNotNull).agg(
      sum(when(filterA, 1L).otherwise(0L)).as("_na"),
      sum(when(filterA, cents).otherwise(0L)).as("_sa"),
      sum(when(filterA, cents * cents).otherwise(0L)).as("_qa"),
      sum(when(filterB, 1L).otherwise(0L)).as("_nb"),
      sum(when(filterB, cents).otherwise(0L)).as("_sb"),
      sum(when(filterB, cents * cents).otherwise(0L)).as("_qb"))
    tTestFromMoments(sums)
  }

  /** The fixed t/df conversion trees over a one-row exact-moments frame
    * (`_na,_sa,_qa,_nb,_sb,_qb`) — shared by the corpus scan above and
    * the rollup serve ([[PreAgg.tTest]]), so both emit the identical row.
    */
  private[query] def tTestFromMoments(sums: DataFrame): DataFrame = {
    def mean(s: String, n: String) = (col(s) / 100.0) / col(n)
    // sample variance via the exact moments: (Σc² − (Σc)²/n) / (10⁴·(n−1))
    def varS(q: String, s: String, n: String) =
      (col(q) - col(s).cast("double") * col(s) / col(n)) /
        (lit(10000.0) * (col(n) - 1.0))
    val va = varS("_qa", "_sa", "_na")
    val vb = varS("_qb", "_sb", "_nb")
    val sea = va / col("_na")
    val seb = vb / col("_nb")
    sums.select(
      col("_na").as("n_a"), col("_nb").as("n_b"),
      mean("_sa", "_na").as("mean_a"), mean("_sb", "_nb").as("mean_b"),
      ((mean("_sa", "_na") - mean("_sb", "_nb")) / sqrt(sea + seb)).as("t"),
      ((sea + seb) * (sea + seb) /
        (sea * sea / (col("_na") - 1.0) + seb * seb / (col("_nb") - 1.0))).as("df"))
  }

  /** ES `geo_line` metric agg per terms bucket: the document track as an
    * ordered point sequence — sort-field order with an explicit id
    * tiebreak (ES's tie order is shard-dependent), capped at `size` (ES
    * keeps the FIRST `size` under ascending sort). Points render in
    * micro-degrees (`floor(deg·10⁶)` — the [[geoCentroid]] integer
    * discipline), `lon lat` order per WKT, as `LINESTRING_E6 (…)`:
    * integer rendering is identical in every engine, where raw
    * double→string formatting diverges between Java's and other engines'
    * shortest-round-trip rules (E-notation thresholds). Window top-k on
    * the bucket key — the [[topHits]] shape with a string assembly on
    * top.
    */
  def geoLine(
      df: DataFrame, field: String,
      latCol: String, lonCol: String, sortCol: String, tiebreak: Column,
      size: Int = 100, n: Int = 10): DataFrame = {
    require(size >= 1, s"size must be >= 1, got $size")
    val w = Window.partitionBy(col(field)).orderBy(col(sortCol).asc, tiebreak.asc)
    val pt = concat_ws(" ",
      floor(col(lonCol) * 1000000).cast("long"),
      floor(col(latCol) * 1000000).cast("long"))
    df.where(col(latCol).isNotNull && col(lonCol).isNotNull &&
        col(sortCol).isNotNull)
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= size)
      .groupBy(col(field))
      .agg(count(lit(1)).as("points"),
        concat(lit("LINESTRING_E6 ("),
          concat_ws(", ", transform(
            array_sort(collect_list(struct(col("_rn"), pt.as("_pt")))),
            s => s("_pt"))),
          lit(")")).as("line"))
      .orderBy(desc("points"), asc(field))
      .limit(n)
  }

  /** ES `geo_distance` bucket agg: documents bucketed by haversine
    * distance rings around an origin, half-open `[from, to)` in km, keyed
    * like [[rangeBuckets]], every named ring emitting a row even at 0 —
    * the same [[conditionalBuckets]] kernel, so scan and any future
    * rollup twin share one body. The distance is the standard haversine
    * on the mean-Earth radius 6371.0088 km as ONE fixed expression tree
    * (`sin`/`cos`/`asin` are library-rounded like [[geoTileGrid]]'s
    * Mercator — a point within ~1e-10 m of a ring boundary could in
    * principle land differently cross-engine; same accepted, documented
    * risk). Null coordinates fall outside every ring.
    */
  def geoDistanceRings(
      df: DataFrame, latCol: String, lonCol: String,
      originLat: Double, originLon: Double,
      ringsKm: Seq[(Option[Double], Option[Double])]): DataFrame = {
    val d = haversineKm(col(latCol), col(lonCol), originLat, originLon)
    val cells = ringsKm.map { case (lo, hi) =>
      (rangeKey(lo, hi),
        (Seq(d.isNotNull) ++ lo.map(d >= _) ++ hi.map(d < _)).reduce(_ && _))
    }
    conditionalBuckets(df, cells, lit(1L), keepZeros = true)
  }

  /** Haversine great-circle distance in km — the one fixed tree both
    * engines evaluate (π/180 as one shared double, never `radians()`;
    * see [[geoTileXY]]).
    */
  def haversineKm(lat: Column, lon: Column, originLat: Double, originLon: Double): Column = {
    val rad = math.Pi / 180.0
    val dLat = (lat - originLat) * lit(rad)
    val dLon = (lon - originLon) * lit(rad)
    val h = sin(dLat / 2.0) * sin(dLat / 2.0) +
      cos(lat * lit(rad)) * cos(lit(originLat * rad)) *
        sin(dLon / 2.0) * sin(dLon / 2.0)
    lit(2.0 * 6371.0088) * asin(sqrt(h))
  }

  /** ES `bucket_script` pipeline agg: a per-bucket derived metric over an
    * already aggregated series — row-local arithmetic on the bucket
    * frame, zero exchanges. The caller's expressions see the series'
    * columns by name (ES's `buckets_path` resolution, statically).
    */
  def bucketScript(series: DataFrame, derived: Seq[(String, Column)]): DataFrame =
    derived.foldLeft(series) { case (d, (name, e)) => d.withColumn(name, e) }

  /** ES `bucket_selector` pipeline agg: keep the buckets whose metrics
    * satisfy the predicate — the HAVING of the bucket world, row-local on
    * the aggregated frame.
    */
  def bucketSelector(series: DataFrame, keep: Column): DataFrame =
    series.where(keep)

  /** ES `bucket_sort` pipeline agg: re-order the parent's bucket frame by
    * arbitrary metric columns, with ES's `from`/`size` truncation
    * (size = None keeps the tail). Sorting an aggregated frame, never the
    * corpus; `from > 0` composes `offset`-style via a row_number over the
    * requested order (a bounded frame, the [[bucketPipeline]] contract).
    */
  def bucketSort(
      series: DataFrame, by: Seq[Column],
      from: Int = 0, size: Option[Int] = None): DataFrame = {
    require(from >= 0, s"from must be >= 0, got $from")
    val sorted = series.orderBy(by: _*)
    val sliced =
      if (from == 0) sorted
      else {
        val w = Window.orderBy(by: _*)
        sorted.withColumn("_bs_rn", row_number().over(w))
          .where(col("_bs_rn") > from).drop("_bs_rn")
      }
    size.fold(sliced)(sliced.limit)
  }

  /** The `auto_date_histogram` grain ladder: calendar `date_trunc`
    * grains, finest first. ES's ladder also has multiples (5m, 30m, 3h);
    * this repo serves single grains only so every chosen grain is also a
    * rollup-servable one (documented delta).
    */
  val AutoDateGrains: Seq[String] = Seq("minute", "hour", "day", "month", "year")

  /** ES `auto_date_histogram` bucket agg: pick the finest calendar grain
    * whose bucket count fits `targetBuckets`, then histogram at it. The
    * chooser is ONE aggregation computing all five distinct-truncation
    * counts (no per-grain scans), collected as a single bounded row (the
    * [[autoPrecision]] driver-branch precedent); ties on the ladder are
    * impossible since counts are monotone coarser→fewer. Falls back to
    * `year` when even the coarsest grain overflows the target (ES keeps
    * coarsening; year is this repo's ladder top). Returns the chosen
    * grain as a constant column so callers (and the oracle) see the
    * decision.
    */
  def autoDateHistogram(df: DataFrame, tsCol: String, targetBuckets: Int): DataFrame = {
    require(targetBuckets >= 1, s"targetBuckets must be >= 1, got $targetBuckets")
    val aggs = AutoDateGrains.map(g => count_distinct(date_trunc(g, col(tsCol))).as(g))
    val row = df.where(col(tsCol).isNotNull).agg(aggs.head, aggs.tail: _*).collect()(0)
    val grain = AutoDateGrains.zipWithIndex
      .find { case (g, i) => row.getLong(i) <= targetBuckets }
      .map(_._1).getOrElse(AutoDateGrains.last)
    dateHistogram(df, tsCol, grain).withColumn("grain", lit(grain))
  }

  /** ES 8 `frequent_item_sets` agg, the 2-itemset form made EXACT: item
    * pairs co-occurring in at least `minSupport` transactions, top-N by
    * support with full-pair tiebreak. ES mines approximately (sampled
    * per-shard eclat — results vary with routing); the exact form is one
    * per-transaction self-join — deliberate determinism delta, same
    * class as [[samplerTerms]].
    *
    * Scale shape: the join key is the transaction id, so the exchange is
    * one hash partition of the distinct (txn, item) pairs, and the
    * per-transaction pair blowup is k(k−1)/2 for a k-item transaction —
    * bounded by the ITEMSET width (tens), never the corpus. A mega
    * transaction (bot basket) is the [[graft.ops.Features]] mega-entity
    * hazard; cap items per transaction upstream if the domain allows one.
    */
  def frequentItemPairs(
      df: DataFrame, txnCol: String, itemCol: String,
      minSupport: Long, n: Int = 10): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    val items = df.select(col(txnCol).as("_t"), col(itemCol).as("_i"))
      .where(col("_i").isNotNull).distinct()
    items.as("a").join(items.as("b"),
        col("a._t") === col("b._t") && col("a._i") < col("b._i"))
      .groupBy(col("a._i").as("item_a"), col("b._i").as("item_b"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)
      .orderBy(desc("support"), asc("item_a"), asc("item_b"))
      .limit(n)
  }

  /** ES `categorize_text` agg, made DETERMINISTIC: cluster messages by
    * their variable-stripped token template — every token containing a
    * digit becomes `*` (timestamps, ids, counters, hex), the remaining
    * word sequence IS the category key — then count per category and
    * carry the smallest exemplar id. ES's categorizer is a stateful
    * incremental tree whose categories depend on document ARRIVAL ORDER
    * (shard/segment dependent, not reproducible); the fixed template is
    * the order-free restatement, the [[samplerTerms]] determinism-delta
    * class. One row-local projection + one hash aggregation — log-volume
    * shaped.
    */
  /** The categorize_text TEMPLATE as a row-local scalar — digit-bearing
    * tokens become `*`, the remaining word sequence is the category.
    * Shared by [[categorizeText]] and ES|QL's `CATEGORIZE` grouping
    * function (8.18), so the agg and the pipe language agree on what a
    * category is.
    */
  def categoryTemplate(text: Column): Column =
    concat_ws(" ", transform(
      filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0),
      t => when(t.rlike("[0-9]"), lit("*")).otherwise(t)))

  def categorizeText(
      df: DataFrame, idCol: String, textCol: String, n: Int = 10): DataFrame = {
    val template = categoryTemplate(col(textCol))
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("_id"), template.as("category"))
      .where(length(col("category")) > 0)
      .groupBy("category")
      .agg(count(lit(1)).as("count"), min(col("_id")).as("example_id"))
      .orderBy(desc("count"), asc("category"))
      .limit(n)
  }

  /** ES `categorize_text`'s `similarity_threshold` BELOW 100, order-free:
    * [[categorizeText]]'s exact template categories (that method is the
    * threshold-100 case) merge along CONNECTED COMPONENTS of the
    * category-similarity relation — two templates connect when their
    * distinct WORD-token overlap covers at least `threshold` of the
    * larger one (`|A ∩ B| / max(|A|,|B|)`, the symmetric restatement of
    * ES's "this % of tokens must match to join"; `*` placeholders are
    * variable parts and never count). ES's own sub-100 merging is
    * incremental against a stream-ordered category list — document-order
    * dependent, the class of nondeterminism the oracle gate cannot hold
    * — so the CC closure REPLACES that semantic rather than emulating
    * it (the [[categorizeText]] determinism-delta, extended). The merged
    * key is the representative's template narrowed to tokens every
    * member shares (`*`s kept — they are already "anything"); the
    * representative is the lexicographically smallest member, counts
    * sum, the exemplar id is the cluster minimum.
    *
    * Plan shape: the exact hash aggregate first (corpus → template-
    * shaped category table), then ALL pair/closure work runs on
    * categories only: word-token-blocked self-join, overlap filter, then
    * [[graft.ops.Dedup.connectedComponents]] (driver union-find under
    * its bounded gate, distributed label propagation above it). Ids are
    * `xxhash64(category)` — the dedup family's portable-hash convention.
    * All-variable templates (no word tokens) cannot merge and pass
    * through as their own categories.
    */
  def categorizeTextMerged(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, n: Int = 10): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"categorize_text: similarity_threshold must be in (0, 1], got $threshold")
    val template = concat_ws(" ", transform(
      filter(split(lower(col(textCol)), "[^a-z0-9]+"), t => length(t) > 0),
      t => when(t.rlike("[0-9]"), lit("*")).otherwise(t)))
    val cats = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("_id0"), template.as("category"))
      .where(length(col("category")) > 0)
      .groupBy("category")
      .agg(count(lit(1)).as("count"), min(col("_id0")).as("example_id"))
      .withColumn("_id", xxhash64(col("category")))
      .withColumn("_toks",
        array_distinct(filter(split(col("category"), " "), t => t =!= "*")))
      .withColumn("_n", array_size(col("_toks")))
    val sides = cats.select(col("_id"), col("_toks"), col("_n"),
      explode(col("_toks")).as("_t"))
    val a = sides.select(col("_id").as("id_a"), col("_toks").as("_ta"),
      col("_n").as("_na"), col("_t"))
    val b = sides.select(col("_id").as("id_b"), col("_toks").as("_tb"),
      col("_n").as("_nb"), col("_t"))
    val pairs = a.join(b, Seq("_t"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "_ta", "_tb", "_na", "_nb")
      .dropDuplicates("id_a", "id_b")
      .withColumn("_shared", array_size(array_intersect(col("_ta"), col("_tb"))))
      .where(col("_shared").cast("double") >=
        lit(threshold) * greatest(col("_na"), col("_nb")).cast("double"))
      .select("id_a", "id_b")
    val comps = graft.ops.Dedup.connectedComponents(pairs)
    cats.join(comps, cats("_id") === comps("id"), "left")
      .withColumn("_comp", coalesce(col("component"), col("_id")))
      .groupBy("_comp")
      .agg(sum(col("count")).as("count"),
        min(col("example_id")).as("example_id"),
        min(col("category")).as("_rep"),
        collect_list(col("_toks")).as("_all"))
      .select(
        array_join(
          aggregate(col("_all"), split(col("_rep"), " "),
            (acc, t) => filter(acc, x => x === "*" || array_contains(t, x))),
          " ").as("category"),
        col("count"), col("example_id"))
      .orderBy(desc("count"), asc("category"))
      .limit(n)
  }

  /** Dotted-quad IPv4 → unsigned 32-bit LONG — pure integer arithmetic
    * (split, cast, shift), restatable in any engine; malformed addresses
    * (missing octets, octet > 255, non-numeric) are null.
    */
  def ipToLong(ip: Column): Column = {
    val o = split(ip, "\\.")
    // try_element_at + digit-guarded cast: malformed addresses (missing
    // octets, non-numeric) must yield null, not an ANSI error
    val octets = (0 to 3).map { i =>
      val s = try_element_at(o, lit(i + 1))
      when(s.rlike("^[0-9]{1,3}$"), s.cast("long"))
    }
    when(size(o) === 4 &&
        octets.map(c => c.isNotNull && c >= 0 && c <= 255).reduce(_ && _),
      octets.reduce((a, b) => a * 256 + b))
  }

  /** ES `ip_prefix` bucket agg: counts per /`prefixLen` IPv4 block —
    * integer `>>` on the parsed address, keys rendered as CIDR
    * (`a.b.c.0/24`). Unparseable addresses form no bucket (ES missing
    * behavior). The same shift-commutes-with-aggregation identity as the
    * geotile zoom: a finer-prefix rollup serves every coarser prefix.
    */
  def ipPrefixBuckets(df: DataFrame, ipCol: String, prefixLen: Int, n: Int = 10): DataFrame = {
    val ipl = ipToLong(col(ipCol))
    ipPrefixTopN(df.where(ipl.isNotNull).select(ipl.as("_ip")),
      "_ip", prefixLen, n, lit(1L))
  }

  /** The mask + CIDR render + weighted top-N behind [[ipPrefixBuckets]],
    * over an already-parsed LONG address column — shared by the scan (unit
    * weight) and the rollup serve ([[PreAgg.ipPrefix]], `cnt` weight), so
    * both emit identical buckets, keys, ordering, and tiebreaks.
    */
  private[query] def ipPrefixTopN(
      df: DataFrame, ipLongCol: String, prefixLen: Int, n: Int,
      weight: Column): DataFrame = {
    require(prefixLen >= 1 && prefixLen <= 32, s"prefixLen in [1,32], got $prefixLen")
    val base = shiftleft(shiftright(col(ipLongCol), 32 - prefixLen), 32 - prefixLen)
    val cidr = concat_ws(".",
      shiftright(base, 24) % 256, shiftright(base, 16) % 256,
      shiftright(base, 8) % 256, base % 256)
    df.groupBy(concat(cidr, lit(s"/$prefixLen")).as("prefix"))
      .agg(sum(weight).as("count"))
      .orderBy(desc("count"), asc("prefix"))
      .limit(n)
  }

  /** ES `ip_range` bucket agg: half-open `[from, to)` address ranges on
    * the parsed integer form, keyed `from-to` with `*` for open sides —
    * the [[conditionalBuckets]] kernel once more, zero-count ranges kept.
    */
  def ipRangeBuckets(
      df: DataFrame, ipCol: String,
      ranges: Seq[(Option[String], Option[String])]): DataFrame = {
    require(ranges.nonEmpty, "ipRangeBuckets: at least one range")
    val ipl = ipToLong(col(ipCol))
    val cells = ranges.map { case (lo, hi) =>
      val cond = (Seq(ipl.isNotNull) ++
        lo.map(s => ipl >= ipToLong(lit(s))) ++
        hi.map(s => ipl < ipToLong(lit(s)))).reduce(_ && _)
      (s"${lo.getOrElse("*")}-${hi.getOrElse("*")}", cond)
    }
    conditionalBuckets(df, cells, lit(1L), keepZeros = true)
  }

  def rollupCounts(df: DataFrame, dims: Seq[String], cube: Boolean = false): DataFrame = {
    val cols = dims.map(col)
    val grouped = if (cube) df.cube(cols: _*) else df.rollup(cols: _*)
    grouped.agg(count(lit(1)).as("count"),
        grouping_id().as("gid"))
      .orderBy(col("gid") +: cols.map(_.asc_nulls_first): _*)
  }

  /** ES `cumulative_cardinality` pipeline agg (x-pack analytics): the
    * running DISTINCT count of `keyCol` values per date-histogram bucket —
    * "total unique users seen so far", the incremental-cardinality series
    * ES serves from merged HLL sketches per bucket prefix. Exact
    * distributed form: each key contributes to its FIRST bucket
    * (one `min` aggregation on the key — the only corpus-sized exchange),
    * new-key counts join the bucket series, and the running sum windows
    * over the AGGREGATED series only ([[bucketPipeline]]'s bounded-frame
    * contract). Buckets with no events don't exist (ES histogram with
    * min_doc_count 1); buckets whose events are all old keys emit their
    * count with an unchanged cumulative value.
    */
  def cumulativeCardinality(
      df: DataFrame, tsCol: String, keyCol: String,
      interval: String = "day"): DataFrame = {
    val bucket = date_trunc(interval, col(tsCol))
    val series = df.where(col(tsCol).isNotNull)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("count"))
    val firstSeen = df.where(col(tsCol).isNotNull && col(keyCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(min(bucket).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("_new"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    series.join(firstSeen, Seq("bucket"), "left")
      .withColumn("cumulative_cardinality",
        sum(coalesce(col("_new"), lit(0L))).over(w))
      .select(col("bucket"), col("count"), col("cumulative_cardinality"))
      .orderBy(asc("bucket"))
  }

  /** Attach a caller-supplied per-bucket curve to an ordered bucket series
    * by POSITION (ES zips its indicator array with the response buckets the
    * same way): full-outer on the rank so a length mismatch surfaces as an
    * in-plan `raise_error` (referenced from the WHERE, the
    * [[panelBuckets]] guard idiom) instead of silent truncation.
    * Series-bounded: the join is |buckets| × |curve| positions, never corpus.
    */
  private def zipWithCurve(
      series: DataFrame, bucketCol: String, curve: Seq[Long],
      what: String): DataFrame = {
    val w = Window.orderBy(col(bucketCol))
    val xs = series.withColumn("_pos", row_number().over(w))
    val ind = series.sparkSession.range(1)
      .select(posexplode(array(curve.map(lit): _*)).as(Seq("_p0", "_y")))
      .select((col("_p0") + 1).as("_pos"), col("_y"))
    xs.join(ind, Seq("_pos"), "full_outer")
      .withColumn("_len_ok",
        when(col(bucketCol).isNull || col("_y").isNull,
          raise_error(lit(s"$what: curve length ${curve.size} != bucket count"))
            .cast("boolean"))
          .otherwise(lit(true)))
      .where(col("_len_ok"))
  }

  /** ES `bucket_correlation` pipeline agg (`count_correlation` function):
    * the Pearson correlation between a histogram's bucket doc counts and a
    * caller-supplied indicator curve — "does traffic track this known
    * pattern". The curve is INTEGER-scaled by the caller (ES takes raw
    * doubles; scaling keeps every moment an exact LONG fold so the single
    * final tree hash-matches cross-engine — the [[extendedStats]]
    * discipline; Pearson is scale-invariant, so integerizing the curve
    * loses nothing). The two variance factors convert to double BEFORE
    * multiplying (their LONG product can overflow where each factor
    * cannot); `sqrt` is correctly rounded, so no rounding escape needed.
    */
  def bucketCorrelation(
      series: DataFrame, bucketCol: String, countCol: String,
      curve: Seq[Long]): DataFrame = {
    require(curve.size >= 2, "bucket_correlation: curve needs >= 2 points")
    val x = col(countCol)
    val y = col("_y")
    val m = zipWithCurve(series, bucketCol, curve, "bucketCorrelation")
      .agg(count(lit(1)).as("_n"),
        sum(x).as("_sx"), sum(x * x).as("_sxx"),
        sum(y).as("_sy"), sum(y * y).as("_syy"),
        sum(x * y).as("_sxy"))
    m.select(
      ((col("_n") * col("_sxy") - col("_sx") * col("_sy")).cast("double") /
        sqrt((col("_n") * col("_sxx") - col("_sx") * col("_sx")).cast("double") *
          (col("_n") * col("_syy") - col("_sy") * col("_sy")).cast("double")))
        .as("correlation"))
  }

  /** ES `bucket_count_ks_test` pipeline agg: Kolmogorov–Smirnov distances
    * between the histogram's bucket-count distribution and a caller-supplied
    * expected distribution — the A/B "did the shape shift" test. Expected
    * fractions arrive in PARTS-PER-MILLION (ES takes raw doubles; ppm longs
    * keep both ECDFs exact-integer prefix sums, each row's deviation one
    * fixed two-division tree). `less` = max(expected − actual) (actual runs
    * BELOW expected), `greater` = max(actual − expected), `two_sided` =
    * max |deviation| — ES's alternative trio as one row. Deliberate delta
    * vs ES: ES returns p-values via sampled simulation (not deterministic);
    * the D-statistics are the deterministic sufficient values — callers
    * table-lookup significance, the [[tTest]] p-value precedent. Windows
    * run over the aggregated series only.
    */
  def bucketCountKsTest(
      series: DataFrame, bucketCol: String, countCol: String,
      fractionsPpm: Seq[Long]): DataFrame = {
    require(fractionsPpm.nonEmpty, "bucket_count_ks_test: at least one fraction")
    require(fractionsPpm.sum == 1000000L,
      s"expected fractions must sum to 1e6 ppm, got ${fractionsPpm.sum}")
    val w = Window.orderBy(col(bucketCol))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    zipWithCurve(series, bucketCol, fractionsPpm, "bucketCountKsTest")
      .withColumn("_ca", sum(col(countCol)).over(cum))
      .withColumn("_ce", sum(col("_y")).over(cum))
      .withColumn("_tot", sum(col(countCol)).over(all))
      .withColumn("_dev",
        col("_ca").cast("double") / col("_tot") -
          col("_ce").cast("double") / 1000000.0)
      .agg(greatest(max(-col("_dev")), lit(0.0)).as("less"),
        greatest(max(col("_dev")), lit(0.0)).as("greater"),
        max(abs(col("_dev"))).as("two_sided"))
  }

  /** ES `change_point` agg, the deterministic core: the split of the
    * ordered bucket series maximizing the absolute difference of segment
    * means — binary segmentation's first step (the CUSUM family ES's
    * ml-model variant refines; documented delta: no ml typing/p-value, the
    * reported kind is always the mean-shift). Exact discipline: with
    * integer bucket values, the cross-multiplied difference
    * `|s₁·(n−k) − (S−s₁)·k|` is a LONG fold per candidate split and the
    * magnitude one division — deterministic argmax, smallest boundary
    * bucket on ties. `change_point` is the FIRST bucket of the new regime
    * (ES reports the bucket where the change is detected). Windows run
    * over the aggregated series only ([[bucketPipeline]] contract);
    * needs >= 2 buckets (ES wants 22 — that guard is the caller's).
    */
  def changePoint(
      series: DataFrame, bucketCol: String, valueCol: String): DataFrame = {
    val w = Window.orderBy(col(bucketCol))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    series
      .withColumn("_k", row_number().over(w))
      .withColumn("_s1", sum(col(valueCol)).over(cum))
      .withColumn("_n", count(lit(1)).over(all))
      .withColumn("_tot", sum(col(valueCol)).over(all))
      .withColumn("_next", lead(col(bucketCol), 1).over(w))
      .where(col("_k") < col("_n"))
      .withColumn("_num",
        abs(col("_s1") * (col("_n") - col("_k")) -
          (col("_tot") - col("_s1")) * col("_k")))
      .withColumn("_delta",
        col("_num").cast("double") /
          (col("_k") * (col("_n") - col("_k"))).cast("double"))
      .orderBy(desc("_delta"), asc(bucketCol))
      .limit(1)
      .select(col("_next").as("change_point"), col("_delta").as("delta"))
  }

  /** ES TSDB `time_series` buckets with the counter `rate` metric — the
    * metrics-store agg pair: samples group into (dimension key, time
    * bucket) series buckets, and `rate` over a COUNTER field is the
    * reset-adjusted increase per second. Counter semantics (the
    * ES/Prometheus rule): delta to the previous sample of the SAME
    * series; a negative delta means the counter restarted from zero, so
    * the new value IS the contribution. A series' first sample ever
    * contributes 0 (no prior state to diff against).
    *
    * Stated delta vs ES: each increase is attributed to the bucket of
    * the sample WHERE IT WAS OBSERVED (so growth across a bucket
    * boundary lands in the later bucket), and buckets cover exactly
    * their samples' increases — where ES/Prometheus extrapolate partial
    * windows to the bucket edges. The per-sample attribution is exact,
    * deterministic, and restatable; extrapolation is a presentation
    * choice this engine leaves to the caller.
    *
    * Scale: ONE window partitioned by the series key (TSDB's own
    * contract — per-series sample streams, never a corpus-wide
    * ordering) + one hash aggregate on (dims, bucket). `tieBreak`
    * makes same-timestamp samples deterministic. Integer counters sum
    * exactly; the one division is the rate render.
    */
  def timeSeriesCounterRate(
      df: DataFrame, dims: Seq[String], tsCol: String, tieBreak: Column,
      counterCol: String, interval: String = "hour"): DataFrame = {
    require(dims.nonEmpty, "time_series: no dimension fields")
    val secs: Double = interval.toLowerCase match {
      case "minute" => 60.0
      case "hour" => 3600.0
      case "day" => 86400.0
      case other => throw new IllegalArgumentException(
        s"time_series rate: unsupported interval <$other> (minute|hour|day)")
    }
    val w = Window.partitionBy(dims.map(col): _*).orderBy(col(tsCol), tieBreak)
    df.withColumn("_prev", lag(col(counterCol), 1).over(w))
      .withColumn("_inc",
        when(col("_prev").isNull, lit(0L))
          .when(col(counterCol) >= col("_prev"), col(counterCol) - col("_prev"))
          .otherwise(col(counterCol)))
      .groupBy(dims.map(col) :+ date_trunc(interval, col(tsCol)).as("bucket"): _*)
      .agg(sum(col("_inc")).as("increase"))
      .withColumn("rate", col("increase").cast("double") / lit(secs))
  }

  /** Bound on the items (Σ basket sizes) the local-mining branch of
    * [[frequentItemSets]] collects: with the basket-count bound it keeps
    * the driver-side copy small however wide each basket is.
    */
  private[query] val LocalMiningMaxItems: Long = 1L << 20

  /** Whether [[frequentItemSets]] mines a compressed `(_items, _freq)`
    * basket table on the driver: only when the table has at most
    * `maxBaskets` rows AND at most [[LocalMiningMaxItems]] items in all.
    * One aggregate over a limit+1 probe decides BEFORE anything is
    * collected, so an over-bound table never reaches the driver.
    */
  private[query] def minesLocally(baskets: DataFrame, maxBaskets: Int): Boolean =
    maxBaskets > 0 && {
      // probe = bound + 1, saturated (Int.MaxValue would overflow to a
      // negative limit and throw at analysis)
      val probe = math.min(maxBaskets.toLong + 1L, Int.MaxValue.toLong).toInt
      val r = baskets.limit(probe)
        .agg(count(lit(1)),
          coalesce(sum(when(col("_items").isNotNull, size(col("_items")).cast("long"))), lit(0L)))
        .head()
      r.getLong(0) <= maxBaskets && r.getLong(1) <= LocalMiningMaxItems
    }

  /** ES `frequent_item_sets` agg (x-pack, 8.4+): market-basket mining —
    * the CLOSED itemsets of support ≥ `minSupport` over per-document item
    * sets, top `size` by doc count. ES runs ECLAT per shard; this is the
    * level-wise Apriori restated on Spark primitives:
    *
    *  - **distinct-basket compression first** (r19; guide §2.3 "aggregate
    *    before you shuffle"): identical normalized baskets
    *    (sorted-distinct, nulls dropped) collapse to one weighted row in a
    *    single map-side-partial aggregate — every later step counts over
    *    `|distinct baskets|` rows, never `|tx|` exploded pairs.
    *    Multiplicity-weighted counting is exact: containment is a
    *    per-basket property;
    *  - **candidate generation** driver-side from the previous level
    *    (prefix-grouped join + all-subsets-frequent pruning — the
    *    candidate table is SUPPORT-BOUNDED, the vocabulary-sized
    *    iteration budget of the BPE/unigram ops);
    *  - **counting**: when the compressed basket table is provably
    *    driver-bounded (a limit+1 probe decides BEFORE collecting:
    *    at most `localMiningMaxBaskets` rows, default 65536, and at most
    *    [[LocalMiningMaxItems]] items in all — [[minesLocally]]), the whole
    *    level loop mines locally over int-projected sorted baskets —
    *    ZERO Spark jobs per level (the r18 verdict measured the
    *    distributed loop's per-level stages ANTI-scaling at 32 local
    *    cores: 6.2 s vs 1.67 s at 8 — scheduler overhead, §2.2/§2.6).
    *    Otherwise each level runs ONE broadcast hash equi-join of the
    *    weighted basket pairs against the exploded candidates, then a
    *    two-phase count — `(cand, basket)` hit counts (map-side complete:
    *    the keys extend the frame's basket-id hash partitioning), hits =
    *    set size ⇒ containment, then the weighted per-candidate total.
    *    No nested-loop join, no per-candidate subset scan over raw tx.
    *
    * Closed-set filtering (ES returns only closed sets — a set is closed
    * iff no strict superset has the same doc count) runs driver-side over
    * the complete frequent family: counts are antitone under ⊆, so any
    * equal-count superset implies an equal-count superset ONE larger, and
    * Apriori's completeness guarantees that superset was counted —
    * checking size+1 suffices. Completeness is exactly what `maxSetSize`
    * could silently break, so a level still growing there RAISES instead
    * of truncating (the no-silent-caps discipline); the default is far
    * above any real basket depth at sane supports.
    *
    * Output: `key` (comma-joined sorted items — the comparator-safe
    * scalar shape), `doc_count`, `support` (= doc_count/N). Ordering:
    * doc_count desc, then LARGER set first (the closed-set preference),
    * then key asc — ES's count ordering with the tiebreaks made explicit.
    *
    * 100 TB notes: the basket aggregate is one corpus-wide exchange whose
    * map-side partial collapses duplicate baskets before any bytes move;
    * past it everything is sized by |distinct baskets|. The local-mining
    * branch only fires when that table is PROVABLY under both bounds (the
    * probe aggregates at most bound+1 rows), so an adversarial
    * high-cardinality vocabulary, or a few very wide baskets, fall back to
    * the distributed loop, whose width derives from the data (≈500k
    * tx/partition, capped 4096), not the core count. The driver only ever
    * holds support-bounded frequent sets plus (in the local branch) the
    * bounded basket table. minSupport
    * low enough to admit a combinatorial lattice raises at `maxSetSize`
    * rather than running away.
    *
    * Transaction identity is row identity, so `tx` must carry one row per
    * transaction.
    */
  def frequentItemSets(tx: DataFrame, itemsCol: Column,
      minSupport: Double = 0.1, minSetSize: Int = 1, size: Int = 10,
      maxSetSize: Int = 10, localMiningMaxBaskets: Int = 65536): DataFrame = {
    require(minSupport > 0 && minSupport <= 1,
      s"frequent_item_sets: minimum_support must be in (0, 1], got $minSupport")
    require(minSetSize >= 1, s"frequent_item_sets: minimum_set_size >= 1, got $minSetSize")
    require(size >= 1, s"frequent_item_sets: size >= 1, got $size")
    require(maxSetSize >= minSetSize,
      s"frequent_item_sets: maxSetSize ($maxSetSize) < minSetSize ($minSetSize)")
    require(localMiningMaxBaskets >= 0,
      s"frequent_item_sets: localMiningMaxBaskets >= 0, got $localMiningMaxBaskets")
    val spark = tx.sparkSession
    import spark.implicits._
    // r19 optimization (guide §2.3 "aggregate before you shuffle" + §2.2
    // stage fragmentation; VERDICT r18: 1.67 s at 8 cores vs 6.2 s at 32 —
    // the per-level job storm over exploded corpus pairs anti-scaled).
    // DISTINCT-BASKET compression first: identical normalized baskets
    // collapse to one weighted row in a single map-side-partial aggregate,
    // so every level counts over |distinct baskets| rows, not |tx|·|items|
    // exploded pairs. Counting by multiplicity is exact — containment is a
    // per-basket property.
    val baskets = tx
      .select(array_sort(array_distinct(
        filter(itemsCol, i => i.isNotNull))).as("_items"))
      .groupBy("_items").agg(count(lit(1)).as("_freq"))
      .persist()
    try {
      val frequent = scala.collection.mutable.Map.empty[Vector[String], Long]
      // prefix-grouped generation + all-subsets-frequent pruning (shared by
      // both counting backends; level vectors stay lexicographically sorted)
      def candsFrom(level: Seq[Vector[String]]): Seq[Vector[String]] = {
        val inLevel = level.toSet
        level.groupBy(_.dropRight(1)).toSeq.flatMap { case (pref, vs) =>
          val lasts = vs.map(_.last).sorted
          for {
            i <- lasts.indices; j <- (i + 1) until lasts.length
            c = pref :+ lasts(i) :+ lasts(j)
            if c.indices.forall(d => inLevel.contains(c.patch(d, Nil, 1)))
          } yield c
        }
      }
      // When the COMPRESSED basket table is provably small (the limit+1
      // probe bounds the collect before it happens), mine the lattice on
      // the driver: the level loop then costs ZERO Spark jobs — at 32
      // local cores the distributed loop's ~3 stages/level of sub-ms tasks
      // were pure scheduler overhead (§2.2/§2.6). ES itself mines per-shard
      // ECLAT over exactly this kind of compacted transaction set. Above
      // the bound, the level-wise distributed loop below counts over the
      // weighted baskets instead.
      val (n, finalLevel): (Long, Seq[Vector[String]]) =
        if (minesLocally(baskets, localMiningMaxBaskets)) {
          val bs = baskets.collect().map(r =>
            (Option(r.getSeq[String](0)).getOrElse(Seq.empty).toArray, r.getLong(1)))
          // N = Σ basket multiplicities: every tx row lands in exactly one
          // normalized basket (empty and null included), so the former
          // separate tx.count() was a SECOND full corpus scan for a number
          // the basket aggregate already carries (r19 — one corpus pass).
          val n = bs.map(_._2).sum
          require(n > 0, "frequent_item_sets: empty transaction table")
          val minCount = math.max(1L, math.ceil(minSupport * n - 1e-9).toLong)
          val itemCounts = scala.collection.mutable.Map.empty[String, Long]
          bs.foreach { case (items, f) =>
            items.foreach(it => itemCounts(it) = itemCounts.getOrElse(it, 0L) + f)
          }
          // items are projected to ids assigned in sorted-string order, so
          // int order ≡ string order and candidate int arrays stay sorted
          val freqItems = itemCounts.iterator
            .filter(_._2 >= minCount).map(_._1).toArray.sorted
          val idOf = freqItems.zipWithIndex.toMap
          val proj = bs.iterator
            .map { case (items, f) => (items.flatMap(idOf.get).sorted, f) }
            .filter(_._1.length >= 2).toArray
          def containsAll(b: Array[Int], c: Array[Int]): Boolean = {
            var i = 0; var j = 0
            while (i < b.length && j < c.length) {
              if (b(i) == c(j)) { i += 1; j += 1 }
              else if (b(i) < c(j)) i += 1
              else return false
            }
            j == c.length
          }
          var level: Seq[Vector[String]] = freqItems.map { it =>
            val k = Vector(it); frequent(k) = itemCounts(it); k
          }.toSeq
          var k = 1
          while (level.nonEmpty && k < maxSetSize) {
            val cands = candsFrom(level)
            level =
              if (cands.isEmpty) Seq.empty
              else {
                val candInts = cands.map(_.map(idOf).toArray).toArray
                val counts = new Array[Long](candInts.length)
                proj.foreach { case (items, f) =>
                  if (items.length > k) {
                    var ci = 0
                    while (ci < candInts.length) {
                      if (candInts(ci).length <= items.length &&
                        containsAll(items, candInts(ci))) counts(ci) += f
                      ci += 1
                    }
                  }
                }
                counts.indices.collect { case i if counts(i) >= minCount =>
                  val set = cands(i); frequent(set) = counts(i); set
                }
              }
            k += 1
          }
          (n, level)
        } else {
          // Distributed level-wise counting over the weighted baskets.
          // N from the (cached) aggregate, not a second corpus scan.
          val n = Option(baskets.agg(sum(col("_freq"))).head.get(0))
            .map(_.asInstanceOf[Long]).getOrElse(0L)
          require(n > 0, "frequent_item_sets: empty transaction table")
          val minCount = math.max(1L, math.ceil(minSupport * n - 1e-9).toLong)
          // Width derives from the DATA (bounded rows per partition), not
          // the core count — scale-adaptive per the §2 discipline; locally
          // small inputs collapse to one partition instead of fragmenting
          // every level into shuffle.partitions-wide sub-ms tasks.
          val parts = math.max(1, math.min(4096, math.ceil(n / 500000.0).toInt))
          // each exploded item carries its basket's id, not the basket
          // itself: a pair row stays fixed-width however wide the basket
          // (carrying `_items` made the frame Σ|basket|² in size)
          val pairs = baskets
            .select(monotonically_increasing_id().as("_bid"), col("_items"), col("_freq"))
            .repartition(parts, col("_bid"))
            .select(col("_bid"), col("_freq"), explode(col("_items")).as("item"))
            .persist()
          try {
            var level: Seq[Vector[String]] =
              pairs.groupBy("item").agg(sum(col("_freq")).as("n"))
                .where(col("n") >= minCount)
                .as[(String, Long)].collect()
                .map { case (it, c) => val k = Vector(it); frequent(k) = c; k }
                .toSeq
            var k = 1
            while (level.nonEmpty && k < maxSetSize) {
              val cands = candsFrom(level)
              level =
                if (cands.isEmpty) Seq.empty
                else {
                  val candPairs = cands.zipWithIndex
                    .flatMap { case (c, i) => c.map(it => (i, it)) }
                    .toDF("_cid", "item")
                  // first groupBy keys are a superset of the pairs frame's
                  // (_bid) hash partitioning — partial counts complete
                  // map-side with NO exchange; only the per-candidate
                  // weighted totals (candidate-bounded rows) shuffle
                  val counts = pairs.join(broadcast(candPairs), "item")
                    .groupBy("_cid", "_bid", "_freq")
                    .agg(count(lit(1)).as("_hit"))
                    .where(col("_hit") === (k + 1))
                    .groupBy("_cid").agg(sum(col("_freq")).as("n"))
                    .where(col("n") >= minCount)
                    .as[(Int, Long)].collect()
                  counts.map { case (i, c) =>
                    val set = cands(i); frequent(set) = c; set
                  }.toSeq
                }
              k += 1
            }
            (n, level)
          } finally { pairs.unpersist(blocking = false); () }
        }
      require(finalLevel.isEmpty,
        s"frequent_item_sets: frequent sets still growing at maxSetSize=" +
          s"$maxSetSize (${finalLevel.size} sets of size $maxSetSize) — the " +
          "closed-set filter needs the COMPLETE family; raise maxSetSize " +
          "or minimum_support instead of truncating silently")
      val closed = frequent.filter { case (s, c) =>
        !frequent.exists { case (t, m) =>
          m == c && t.size == s.size + 1 && s.forall(t.contains) }
      }
      val out = closed.toSeq
        .filter(_._1.size >= minSetSize)
        .map { case (s, c) => (s.mkString(","), s.size, c) }
        .sortBy { case (key, sz, c) => (-c, -sz, key) }
        .take(size)
        .map { case (key, _, c) => (key, c, c.toDouble / n) }
      out.toDF("key", "doc_count", "support")
    } finally { baskets.unpersist(); () }
  }
}
