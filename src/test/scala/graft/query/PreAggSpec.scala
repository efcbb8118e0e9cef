package graft.query

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** The rollup's contracts: mergeable increments (batch-order-independent),
  * covering checks, and exact equivalence of every weighted serving
  * aggregation with its full-scan twin — the property the shared
  * `dashboard_refresh_preagg` oracle certifies end-to-end.
  */
class PreAggSpec extends SparkSpecBase {
  import spark.implicits._

  private def corpus = Seq(
    ("balt", "Theft", 2015), ("balt", "Theft", 2015), ("balt", "Assault", 2016),
    ("det", "Theft", 2016), ("det", "Arson", 2015), ("det", "Arson", 2015),
    ("la", "Assault", 2017), ("la", "Assault", 2017), ("la", "Theft", 2015),
  ).toDF("city", "description", "year")

  private val dims = Seq[(String, org.apache.spark.sql.Column)](
    "city" -> col("city"), "description" -> col("description"),
    "year" -> col("year"))

  test("increment + merge is batch-order independent and equals the whole") {
    val whole = PreAgg.increment(corpus, dims)
    val day1 = PreAgg.increment(corpus.where(col("year") <= 2015), dims)
    val day2 = PreAgg.increment(corpus.where(col("year") === 2016), dims)
    val day3 = PreAgg.increment(corpus.where(col("year") >= 2017), dims)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("city", "description", "year")
        .collect().map(_.toString).toSeq
    assert(canon(PreAgg.merge(day1, day2, day3)) === canon(whole))
    assert(canon(PreAgg.merge(day3, day1, day2)) === canon(whole))
    // merge is idempotent-shaped: re-merging a merged rollup changes nothing
    assert(canon(PreAgg.merge(PreAgg.merge(day1, day2), day3)) === canon(whole))
  }

  test("covers: servable iff every filtered field is a dimension") {
    val names = dims.map(_._1)
    assert(PreAgg.covers(names, Seq("city", "year")))
    assert(PreAgg.covers(names, Seq.empty))
    assert(!PreAgg.covers(names, Seq("city", "geolocation")))
  }

  test("weighted terms/nested aggregations equal their full-scan twins") {
    val pre = PreAgg.increment(corpus, dims)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    assert(canon(PreAgg.termsTopN(pre, "description", 2))
      === canon(Aggs.termsTopN(corpus, "description", 2)))
    assert(canon(PreAgg.nestedTerms(pre, "city", "description", 2, 2))
      === canon(Aggs.nestedTermsBuckets(corpus, "city", "description", 2, 2)))
    // filters over dims commute with the rollup
    assert(canon(PreAgg.termsTopN(pre.where(col("year") >= 2016), "city", 5))
      === canon(Aggs.termsTopN(corpus.where(col("year") >= 2016), "city", 5)))
  }

  test("typeahead from the rollup equals the corpus-scan typeahead") {
    val docs = Seq(
      "Assault", "Assault", "Assault by threat", "Arson", "Theft", "Theft",
    ).map(Tuple1(_)).toDF("description")
    val pre = PreAgg.increment(docs, Seq("description" -> col("description")))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    for (typed <- Seq("a", "assault", "th", ""))
      assert(canon(PreAgg.typeahead(pre, "description", typed, 10))
        === canon(Aggs.typeahead(docs, "description", typed, 10)), s"typed='$typed'")
  }

  test("geohashGrid over a rollup geohash dim matches the from-geoloc scan") {
    val geo = Seq(
      ("39.29,-76.61", 1), ("39.28,-76.60", 1), ("-33.86,151.20", 1),
      ("", 1), (null.asInstanceOf[String], 1),
    ).toDF("geolocation", "x")
    val parts = split(col("geolocation"), ",")
    val pre = PreAgg.increment(geo, Seq(
      "geohash" -> when(length(col("geolocation")) > 0,
        graft.expr.Geohash.geohash(parts.getItem(0).cast("double"),
          parts.getItem(1).cast("double"), 2))))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    assert(canon(PreAgg.geohashGrid(pre))
      === canon(Aggs.geohashGridFromGeoloc(geo, "geolocation", 2)))
  }

  test("geohashGridAt: prefix truncation equals the direct coarse grid at every precision") {
    // random-ish points incl. the clamp edges (±90/±180 encode into the
    // top cell at any precision, so truncation must agree there too)
    val pts = (Seq((90.0, 180.0), (-90.0, -180.0), (0.0, 0.0)) ++
      (1 to 50).map(i => (i * 3.3 % 180 - 90, i * 7.7 % 360 - 180)))
      .toDF("lat", "lon")
    val ingest = 4
    val pre = PreAgg.increment(pts, Seq(
      "geohash" -> graft.expr.Geohash.geohash(col("lat"), col("lon"), ingest)))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    for (p <- 1 to ingest)
      assert(canon(PreAgg.geohashGridAt(pre, ingest, p))
        === canon(Aggs.geohashGrid(pts, "lat", "lon", p)), s"precision $p")
    // finer than ingest is not covered: fail loudly toward the corpus scan
    intercept[IllegalArgumentException] {
      PreAgg.geohashGridAt(pre, ingest, ingest + 1)
    }
    assert(PreAgg.coversGeohash(ingest, ingest) && !PreAgg.coversGeohash(ingest, 5))
  }

  test("geohash drill-down from the rollup equals the corpus-scan zoom") {
    val pts = (1 to 80).map(i => (i * 1.13 % 45, i * 2.71 % 45 - 135))
      .toDF("lat", "lon") // inside and around cell "9": lat [0,45), lon [-135,-90)
    val ingest = 3 // cell "9" + targetCells=2000 → ladder lands at 3 = ingest
    val pre = PreAgg.increment(pts, Seq(
      "geohash" -> graft.expr.Geohash.geohash(col("lat"), col("lon"), ingest)))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    assert(canon(PreAgg.geohashGridDrilldown(pre, "9", ingest))
      === canon(Aggs.geohashGridDrilldown(pts, "lat", "lon", "9")))
    // a deeper zoom (precision 4 ladder) is not covered by a precision-3
    // rollup — loud failure, never a silently-coarser map
    intercept[IllegalArgumentException] {
      PreAgg.geohashGridDrilldown(pre, "9q8", ingest)
    }
  }

  test("significantTerms from the rollup equals the corpus-scan form") {
    val pre = PreAgg.increment(corpus, dims)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    // scalar field: doc frequency IS the row count, so the corpus twin is
    // the array-of-one significantTerms
    assert(canon(PreAgg.significantTerms(pre, "description",
        col("city") === "balt", 5))
      === canon(Aggs.significantTerms(corpus, array(col("description")),
        col("city") === "balt", 5)))
    // hand-check the top term: Theft is 2/3 of balt vs 4/9 overall →
    // JLH (2/3 - 4/9) * (2/3 / (4/9)) = 1/3
    val top = PreAgg.significantTerms(pre, "description",
        col("city") === "balt", 1)
      .as[(String, Long, Long, Double)].head()
    assert(top._1 == "Theft" && top._2 == 2L && top._3 == 4L)
    assert(math.abs(top._4 - (2.0 / 3 - 4.0 / 9) * ((2.0 / 3) / (4.0 / 9))) < 1e-15)
    // null field values form no bucket but count toward totals
    val withNull = corpus.unionByName(
      Seq(("balt", null.asInstanceOf[String], 2015)).toDF("city", "description", "year"))
    val np = PreAgg.significantTerms(PreAgg.increment(withNull, dims),
      "description", col("city") === "balt", 10)
    assert(!np.select("term").as[String].collect().contains(null))
    // balt total is now 4 docs: Theft fgPct drops to 2/4
    val theft = np.where(col("term") === "Theft")
      .as[(String, Long, Long, Double)].head()
    assert(theft._2 == 2L && math.abs(
      theft._4 - (0.5 - 0.4) * (0.5 / 0.4)) < 1e-15)
  }

  test("termsUniqueCount from the pair rollup equals the corpus-scan exact form") {
    // metric as an extra dimension: rollup rows ARE the distinct pairs
    val pairDims = dims // city/description/year — count distinct years per city
    val pre = PreAgg.increment(corpus, pairDims)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    assert(canon(PreAgg.termsUniqueCount(pre, "city", "year", 3))
      === canon(Aggs.termsWithMetrics(corpus, "city",
        Seq(count_distinct(col("year")).as("unique_year")), 3)))
    // hand check: balt has years {2015, 2016} -> 2
    val balt = PreAgg.termsUniqueCount(pre, "city", "year", 3)
      .where(col("city") === "balt").as[(String, Long, Long)].head()
    assert(balt === (("balt", 3L, 2L)))
  }

  test("termsUniqueCount fails loudly when the metric is not a dimension") {
    val pre = PreAgg.increment(corpus, dims)
    val e = intercept[IllegalArgumentException] {
      PreAgg.termsUniqueCount(pre, "city", "geolocation")
    }
    assert(e.getMessage.contains("not a rollup dimension"))
  }

  test("termsPercentiles from the pair rollup equals the corpus-scan exact form") {
    val pre = PreAgg.increment(corpus, dims)
    val ps = Seq(0.25, 0.5, 0.75, 0.95)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    // weighted percentile over (value, cnt) groups must interpolate the
    // identical rank statistic as exact percentile over the raw rows —
    // INCLUDING where a duplicated value's multiplicity shifts the rank
    // (balt years {2015, 2015, 2016})
    assert(canon(PreAgg.termsPercentiles(pre, "city", "year", ps, 3))
      === canon(Aggs.termsWithMetrics(corpus, "city",
        ps.map(p => expr(s"percentile(year, $p)").as("p" + math.round(p * 100))), 3)))
    // hand check: balt years multiset {2015, 2015, 2016} -> p50 at rank
    // (3-1)*0.5 = 1 -> 2015; p75 at rank 1.5 -> 2015.5
    val balt = PreAgg.termsPercentiles(pre, "city", "year", ps, 3)
      .where(col("city") === "balt")
      .select("p50", "p75").as[(Double, Double)].head()
    assert(balt === ((2015.0, 2015.5)))
  }

  test("quantile-sketched rollup serves percentiles and merges batch-order-free") {
    val dims2 = Seq[(String, org.apache.spark.sql.Column)]("city" -> col("city"))
    val measure = Seq[(String, org.apache.spark.sql.Column)]("year" -> col("year"))
    val pre = PreAgg.incrementWithQuantileSketches(corpus, dims2, measure)
    val ps = Seq(0.5, 0.95)
    // exact mode (n << k): the sketch holds every value, so quantiles are
    // true order statistics of the bucket multiset
    val balt = PreAgg.termsPercentilesSketch(pre, "city", "year", ps, 3)
      .where(col("city") === "balt").select("p50", "p95")
      .as[(Double, Double)].head()
    assert(balt._1 === 2015.0)
    assert(balt._2 >= 2015.0 && balt._2 <= 2016.0)
    // split-merge ≡ whole in exact mode, in any batch order
    val day1 = PreAgg.incrementWithQuantileSketches(
      corpus.where(col("year") <= 2015), dims2, measure)
    val day2 = PreAgg.incrementWithQuantileSketches(
      corpus.where(col("year") > 2015), dims2, measure)
    def canon(df: org.apache.spark.sql.DataFrame) =
      PreAgg.termsPercentilesSketch(df, "city", "year", ps, 3)
        .collect().map(_.toString).toSeq
    assert(canon(PreAgg.merge(day1, day2)) === canon(pre))
    assert(canon(PreAgg.merge(day2, day1)) === canon(pre))
    // loud failure when the rollup carries no sketch for the metric
    assert(intercept[IllegalArgumentException] {
      PreAgg.termsPercentilesSketch(PreAgg.increment(corpus, dims),
        "city", "geolocation", Seq(0.5))
    }.getMessage.contains("no quantile sketch"))
  }

  test("numericHistogram from the rollup equals the corpus-scan histogram") {
    val pre = PreAgg.increment(corpus, dims)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    // quantization commutes with the rollup at any interval
    for (iv <- Seq(1.0, 2.0, 5.0)) {
      assert(canon(PreAgg.numericHistogram(pre, "year", iv))
        === canon(Aggs.numericHistogram(corpus, "year", iv)), s"interval $iv")
    }
    assert(intercept[IllegalArgumentException] {
      PreAgg.numericHistogram(pre, "geolocation", 5.0)
    }.getMessage.contains("not a rollup dimension"))
  }

  test("range/filters/adjacency from the rollup equal their corpus-scan twins, covering enforced") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    val pre = PreAgg.increment(corpus,
      Seq("description" -> col("description"), "year" -> col("year")))
    val ranges = Seq((Some(2015.0), Some(2017.0)), (None, Some(2016.0)), (Some(2030.0), None))
    assert(canon(PreAgg.rangeBuckets(pre, "year", ranges))
      === canon(Aggs.rangeBuckets(corpus, "year", ranges)))
    val filters = Seq(
      "theft" -> FilterSpec.EnumIn("description", Seq("Theft")),
      "recent" -> FilterSpec.NumericRange("year", 2016, 2020),
      "none" -> FilterSpec.EnumIn("description", Seq("nothing")))
    assert(canon(PreAgg.filtersAgg(pre, filters))
      === canon(Aggs.filtersAgg(corpus, filters)))
    assert(canon(PreAgg.adjacencyMatrix(pre, filters))
      === canon(Aggs.adjacencyMatrix(corpus, filters)))
    // a filter outside the dims must refuse loudly toward the scan
    assert(intercept[IllegalArgumentException] {
      PreAgg.filtersAgg(pre, Seq("city" -> FilterSpec.EnumIn("city", Seq("balt"))))
    }.getMessage.contains("outside the rollup"))
    assert(intercept[IllegalArgumentException] {
      PreAgg.rangeBuckets(pre, "city", ranges)
    }.getMessage.contains("not a rollup dimension"))
  }

  test("compositeAgg pages over the rollup identically to the corpus-scan pages") {
    val pre = PreAgg.increment(corpus, dims)
    val keys = Seq("city", "description")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    // walk every page with size 2 on both forms; pages must match 1:1
    def walk(first: org.apache.spark.sql.DataFrame,
        next: Option[Seq[Any]] => org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
      var after: Option[Seq[Any]] = None
      var pages = Seq.empty[Seq[String]]
      var done = false
      while (!done) {
        val page = next(after).collect()
        if (page.isEmpty) done = true
        else {
          pages :+= page.map(_.toString).toSeq
          after = Some(keys.indices.map(page.last.get))
        }
      }
      pages
    }
    val scanPages = walk(null, a => Aggs.compositeAgg(corpus, keys, 2, a))
    val rollupPages = walk(null, a => PreAgg.compositeAgg(pre, keys, 2, a))
    assert(rollupPages === scanPages)
    assert(scanPages.flatten.size === 6) // 6 distinct (city, description) pairs
    assert(intercept[IllegalArgumentException] {
      PreAgg.compositeAgg(pre, Seq("city", "geolocation"), 2)
    }.getMessage.contains("rollup dimensions"))
  }

  test("dateHistogram from an hour-grain rollup equals the corpus scan at every coarser interval") {
    // Timestamps straddling day/week/month/year boundaries, with
    // sub-hour noise the hour-grain ingest must absorb.
    val events = Seq(
      "2015-12-31 23:59:58", "2016-01-01 00:00:01", "2016-01-01 13:45:00",
      "2016-01-31 23:30:12", "2016-02-01 00:15:00", "2016-02-29 12:00:00",
      "2016-03-06 00:00:00", "2016-03-07 08:20:40",
    ).map(s => Tuple1(java.sql.Timestamp.valueOf(s))).toDF("ts")
    val pre = PreAgg.increment(events, Seq("ts_hour" -> date_trunc("hour", col("ts"))))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    for (iv <- Seq("hour", "day", "week", "month", "quarter", "year")) {
      assert(canon(PreAgg.dateHistogram(pre, "ts_hour", "hour", iv))
        === canon(Aggs.dateHistogram(events, "ts", iv)), s"interval $iv")
    }
    // covering: finer-than-ingest and week-ingest-to-month are refused
    assert(!PreAgg.coversDate("hour", "minute"))
    assert(!PreAgg.coversDate("week", "month"))
    assert(PreAgg.coversDate("week", "week"))
    assert(PreAgg.coversDate("day", "week") && PreAgg.coversDate("minute", "year"))
    assert(intercept[IllegalArgumentException] {
      PreAgg.dateHistogram(pre, "ts_hour", "hour", "minute")
    }.getMessage.contains("not servable"))
  }

  test("termsPercentileRanks from the pair rollup equals the corpus-scan ratios") {
    val pre = PreAgg.increment(corpus, dims)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    val vals = Seq(2015.0, 2016.0)
    assert(canon(PreAgg.termsPercentileRanks(pre, "city", "year", vals, 3))
      === canon(Aggs.termsWithMetrics(corpus, "city",
        vals.map(v => (sum(when(col("year") <= v, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("rank_" + math.round(v))), 3)))
    // hand check: balt years {2015, 2015, 2016} -> rank_2015 = 2/3
    val balt = PreAgg.termsPercentileRanks(pre, "city", "year", vals, 3)
      .where(col("city") === "balt").select("rank_2015", "rank_2016")
      .as[(Double, Double)].head()
    assert(balt === ((2.0 / 3, 1.0)))
    assert(intercept[IllegalArgumentException] {
      PreAgg.termsPercentileRanks(pre, "city", "geolocation", vals)
    }.getMessage.contains("not a rollup dimension"))
  }

  test("boxplot and MAD from the pair rollup equal their corpus-scan twins") {
    // duplicated values give cnt > 1 rollup rows, so the weighted
    // percentile identity (frequency arg ≡ expanded rows) is exercised
    val vals = Seq(("a", 1.0), ("a", 2.0), ("a", 2.0), ("a", 3.0), ("a", 100.0),
      ("b", 5.0), ("b", 5.0)).toDF("k", "v")
    val pre = PreAgg.increment(vals,
      Seq[(String, org.apache.spark.sql.Column)]("k" -> col("k"), "v" -> col("v")))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    assert(canon(PreAgg.termsBoxplot(pre, "k", "v"))
      === canon(Aggs.boxplot(vals, "k", "v")))
    assert(canon(PreAgg.termsMad(pre, "k", "v"))
      === canon(Aggs.medianAbsoluteDeviation(vals, "k", "v")))
    assert(intercept[IllegalArgumentException] {
      PreAgg.termsBoxplot(pre, "k", "other")
    }.getMessage.contains("not a rollup dimension"))
    assert(intercept[IllegalArgumentException] {
      PreAgg.termsMad(pre, "k", "other")
    }.getMessage.contains("not a rollup dimension"))
  }

  test("extremes rollup: split increments merge to the whole; bounds and top_metrics serve exactly") {
    val pts = Seq(
      ("a", 1L, 10.0, 20.0, 5.0), ("a", 2L, -5.0, 25.0, 7.0),
      ("a", 3L, 2.0, -8.0, 7.0), ("b", 4L, 1.0, 1.0, 3.0))
      .toDF("k", "id", "lat", "lon", "s")
    def inc(df: org.apache.spark.sql.DataFrame) =
      PreAgg.incrementWithExtremes(df,
        Seq[(String, org.apache.spark.sql.Column)]("k" -> col("k")),
        mins = Seq("lat_min" -> col("lat"), "lon_min" -> col("lon")),
        maxs = Seq("lat_max" -> col("lat"), "lon_max" -> col("lon"),
          "top_max" -> struct(col("s").as("s"), col("id").as("t"), col("lat").as("m"))))
    val merged = PreAgg.merge(
      inc(pts.where(col("id") % 2 === 0)), inc(pts.where(col("id") % 2 === 1)))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    // split-merge ≡ whole-corpus increment
    assert(canon(merged.orderBy("k")) === canon(inc(pts).orderBy("k")))
    // the served bounds and top-metric rows equal the scan twins
    assert(canon(PreAgg.geoBounds(merged, "k"))
      === canon(Aggs.geoBounds(pts, "k", "lat", "lon")))
    // scan top_metrics: sort=s, tiebreak=id, metric=lat — s ties at 7.0
    // for ids 2,3 → max id 3 carries lat 2.0
    assert(canon(PreAgg.termsTopMetrics(merged, "k"))
      === canon(Aggs.termsTopMetrics(pts, "k", col("s"), col("id"), col("lat"))))
    // replaying an increment epoch cannot inflate idempotent extremes,
    // and the count guard below is why cnt-bearing rollups still dedup
    val replayed = PreAgg.merge(inc(pts), inc(pts))
    assert(canon(PreAgg.geoBounds(replayed, "k").drop("count"))
      === canon(PreAgg.geoBounds(merged, "k").drop("count")))
    intercept[IllegalArgumentException] {
      PreAgg.incrementWithExtremes(pts,
        Seq[(String, org.apache.spark.sql.Column)]("k" -> col("k")),
        mins = Seq("lat" -> col("lat")), maxs = Nil)
    }
  }

  test("termsPercentiles fails loudly on a non-dimension metric or bad p") {
    val pre = PreAgg.increment(corpus, dims)
    assert(intercept[IllegalArgumentException] {
      PreAgg.termsPercentiles(pre, "city", "geolocation", Seq(0.5))
    }.getMessage.contains("not a rollup dimension"))
    assert(intercept[IllegalArgumentException] {
      PreAgg.termsPercentiles(pre, "city", "year", Seq(1.5))
    }.getMessage.contains("percentiles must be in [0, 1]"))
  }

  test("sketched rollup: increments merge to the whole-corpus sketch, estimates exact in list mode") {
    val sketches = Seq[(String, org.apache.spark.sql.Column)]("year" -> col("year"))
    val cityDim = dims.take(1)
    val whole = PreAgg.incrementWithSketches(corpus, cityDim, sketches)
    val day1 = PreAgg.incrementWithSketches(
      corpus.where(col("year") <= 2015), cityDim, sketches)
    val day2 = PreAgg.incrementWithSketches(
      corpus.where(col("year") === 2016), cityDim, sketches)
    val day3 = PreAgg.incrementWithSketches(
      corpus.where(col("year") >= 2017), cityDim, sketches)
    def serve(pre: org.apache.spark.sql.DataFrame) =
      PreAgg.termsUniqueCountSketch(pre, "city", "year", 3)
        .collect().map(_.toString).toSeq
    // merged increments serve identically to the whole-corpus rollup,
    // in any batch order
    assert(serve(PreAgg.merge(day1, day2, day3)) === serve(whole))
    assert(serve(PreAgg.merge(day3, day1, day2)) === serve(whole))
    // at this cardinality the sketch is in exact (list) mode: estimates
    // equal the exact distinct counts
    val exact = Aggs.termsWithMetrics(corpus, "city",
      Seq(count_distinct(col("year")).as("unique_year")), 3)
      .collect().map(_.toString).toSeq
    assert(serve(whole) === exact)
  }

  test("sketched estimate stays within published error at dense cardinality") {
    // 3 buckets x 4000 distinct users: past list/set mode, into the
    // ~1.6%/sqrt(2^12) dense-estimate regime
    val big = spark.range(12000).select(
      (col("id") % 3).cast("string").as("city"), col("id").as("user"))
    val pre = PreAgg.incrementWithSketches(big,
      Seq("city" -> col("city")), Seq("user" -> col("user")))
    val est = PreAgg.termsUniqueCountSketch(pre, "city", "user", 3)
      .as[(String, Long, Long)].collect()
    assert(est.length === 3)
    est.foreach { case (_, cnt, u) =>
      assert(cnt === 4000L)
      assert(math.abs(u - 4000.0) / 4000.0 < 0.05, s"estimate $u vs 4000")
    }
  }

  test("sum rollup: split increments merge to the whole; weighted mean, centroid, and matrix stats serve exactly") {
    val rows = Seq(
      ("A", 12.34, 3L, 10.5, 20.25), ("A", 56.78, 1L, -5.125, 30.0),
      ("B", 9.99, 2L, 2.5, -8.75), ("A", 100.01, 4L, 7.25, 1.5),
      ("B", 0.07, 5L, -1.0, 2.0))
      .toDF("k", "v", "w", "lat", "lon")
    def inc(df: org.apache.spark.sql.DataFrame) =
      PreAgg.incrementWithSums(df,
        Seq[(String, org.apache.spark.sql.Column)]("k" -> col("k")),
        Seq("swv_sum" -> (floor(col("v") * 100).cast("long") * col("w")),
          "w_sum" -> col("w"),
          "slat_sum" -> floor(col("lat") * 1000000).cast("long"),
          "slon_sum" -> floor(col("lon") * 1000000).cast("long")))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    val merged = PreAgg.merge(
      inc(rows.where(col("w") % 2 === 0)), inc(rows.where(col("w") % 2 === 1)))
    assert(canon(merged.orderBy("k")) === canon(inc(rows).orderBy("k")))
    // served statistics equal the scan twins bit-for-bit
    assert(canon(PreAgg.weightedAvg(merged))
      === canon(Aggs.weightedAvg(rows, col("v"), col("w"))))
    assert(canon(PreAgg.geoCentroid(merged, "k"))
      === canon(Aggs.geoCentroid(rows, "k", "lat", "lon")))
    // matrix stats over (lat, lon) through a cents-moment sum rollup
    val fields = Seq("lat", "lon")
    val cents = fields.map(f => f -> floor(col(f) * 100).cast("long")).toMap
    val mPre = PreAgg.incrementWithSums(rows,
      Seq[(String, org.apache.spark.sql.Column)]("k" -> col("k")),
      fields.map(f => s"s_${f}_sum" -> cents(f)) ++
        Seq("p_lat_lat_sum" -> (cents("lat") * cents("lat")),
          "p_lat_lon_sum" -> (cents("lat") * cents("lon")),
          "p_lon_lon_sum" -> (cents("lon") * cents("lon"))))
    assert(canon(PreAgg.matrixStats(mPre, fields))
      === canon(Aggs.matrixStats(rows, fields)))
    // measure names must wear the merge suffix
    intercept[IllegalArgumentException] {
      PreAgg.incrementWithSums(rows,
        Seq[(String, org.apache.spark.sql.Column)]("k" -> col("k")),
        Seq("swv" -> col("w")))
    }
  }

  test("stringStats from length+char rollups equals the scan, including the entropy fold") {
    val docs = Seq("abcabc", "xyz", "aab", "", "zz").toDF("text")
      .where(col("text").isNotNull)
    val lenPre = PreAgg.increment(docs, Seq("len" -> length(col("text"))))
    val charPre = PreAgg.increment(
      docs.select(explode(split(col("text"), "")).as("ch"))
        .where(length(col("ch")) > 0),
      Seq("ch" -> col("ch")))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    assert(canon(PreAgg.stringStats(lenPre, charPre))
      === canon(Aggs.stringStats(docs, "text")))
  }

  test("dateRange serves from the hour rollup iff every boundary is on an ingest edge") {
    val ev = Seq(
      ts("2024-01-09 23:59:59"), ts("2024-01-10 00:00:00"),
      ts("2024-01-15 12:30:00"), ts("2024-01-20 00:00:01"))
      .map(Tuple1(_)).toDF("t")
    val ranges = Seq[(Option[String], Option[String])](
      (None, Some("2024-01-10")),
      (Some("2024-01-10"), Some("2024-01-20")),
      (Some("2024-01-20"), None))
    val pre = PreAgg.increment(ev, Seq("h" -> date_trunc("hour", col("t"))))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    assert(canon(PreAgg.dateRange(pre, "h", "hour", ranges))
      === canon(Aggs.dateRangeBuckets(ev, "t", ranges)))
    // a mid-hour boundary cannot commute with the hour-truncated dim
    val e = intercept[IllegalArgumentException] {
      PreAgg.dateRange(pre, "h", "hour",
        Seq((Some("2024-01-10 12:30:00"), None)))
    }
    assert(e.getMessage.contains("corpus scan"))
    // ...but it does commute with a minute-grain rollup
    assert(PreAgg.coversDateBoundary("minute", "2024-01-10 12:30:00"))
    assert(!PreAgg.coversDateBoundary("day", "2024-01-10 12:00:00"))
  }

  test("cumulativeCardinality serves from date + first-seen rollups, batch-order free") {
    val ev = Seq(
      ("u1", ts("2024-01-01 05:00:00")), ("u2", ts("2024-01-01 06:00:00")),
      ("u1", ts("2024-01-02 05:00:00")),
      ("u3", ts("2024-01-03 05:00:00")), ("u1", ts("2024-01-03 06:00:00")))
      .toDF("user", "t")
    def datePre(df: org.apache.spark.sql.DataFrame) =
      PreAgg.increment(df, Seq("h" -> date_trunc("hour", col("t"))))
    def seenPre(df: org.apache.spark.sql.DataFrame) =
      PreAgg.incrementWithExtremes(df,
        Seq[(String, org.apache.spark.sql.Column)]("user" -> col("user")),
        mins = Seq("fb_min" -> date_trunc("day", col("t"))), maxs = Nil)
    // split so u1's FIRST appearance arrives in the SECOND batch: the min
    // measure must still converge to the true first-seen day
    val b1 = ev.where(col("t") >= ts("2024-01-02 00:00:00"))
    val b2 = ev.where(col("t") < ts("2024-01-02 00:00:00"))
    val served = PreAgg.cumulativeCardinality(
      PreAgg.dateHistogram(PreAgg.merge(datePre(b1), datePre(b2)), "h", "hour", "day"),
      PreAgg.merge(seenPre(b1), seenPre(b2)), "fb_min")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    assert(canon(served) === canon(Aggs.cumulativeCardinality(ev, "t", "user")))
  }

  test("ipPrefix serves coarser prefixes from a masked rollup, never deeper") {
    val quads = Seq("10.1.2.3", "10.1.2.200", "10.1.7.4", "10.9.0.1", "bogus")
      .map(Tuple1(_)).toDF("ip")
    val ipl = Aggs.ipToLong(col("ip"))
    val pre = PreAgg.increment(quads.where(ipl.isNotNull),
      Seq("ipb" -> shiftleft(shiftright(ipl, 8), 8)))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    for (len <- Seq(24, 16, 8))
      assert(canon(PreAgg.ipPrefix(pre, "ipb", 24, len))
        === canon(Aggs.ipPrefixBuckets(quads, "ip", len)), s"/$len")
    val e = intercept[IllegalArgumentException](
      PreAgg.ipPrefix(pre, "ipb", 24, 32))
    assert(e.getMessage.contains("corpus scan"))
  }

  test("variableWidthHistogram serves from the cents rollup, split increments merged") {
    val rows = Seq(1.0, 1.25, 1.25, 1.5, 5.0, 10.0, 10.25, 10.25)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "value")
    def inc(df: org.apache.spark.sql.DataFrame) =
      PreAgg.increment(df.where(col("value").isNotNull),
        Seq("v" -> floor(col("value") * 100).cast("long")))
    val merged = PreAgg.merge(
      inc(rows.where(col("id") % 2 === 0)), inc(rows.where(col("id") % 2 === 1)))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
    assert(canon(PreAgg.variableWidthHistogram(merged, "v", 50L))
      === canon(Aggs.variableWidthHistogram(rows, "value", 50L)))
    val e = intercept[IllegalArgumentException](
      PreAgg.variableWidthHistogram(merged, "value", 50L))
    assert(e.getMessage.contains("not a rollup dimension"))
  }

  test("merge folds each measure by its suffix and is order-free across flavours") {
    // one rollup carrying every measure kind beside the dims
    val events = Seq(
      ("balt", 1L, 2.5), ("balt", 2L, 4.0), ("balt", 1L, 1.5),
      ("det", 3L, 7.0), ("det", 3L, 2.0), ("det", 4L, 9.5),
      ("balt", 5L, 3.0), ("det", 6L, 0.5)).toDF("city", "user", "v")
    def inc(df: org.apache.spark.sql.DataFrame) = df.groupBy(col("city"))
      .agg(count(lit(1)).as(PreAgg.CntCol),
        sum(floor(col("v") * 100).cast("long")).as("v_sum"),
        min(col("v")).as("v_min"), max(col("v")).as("v_max"),
        hll_sketch_agg(col("user")).as("user" + PreAgg.SketchSuffix),
        expr("kll_sketch_agg_double(v)").as("v" + PreAgg.QuantileSketchSuffix))
    val b1 = inc(events.where(col("user") <= 2))
    val b2 = inc(events.where(col("user") === 3))
    val b3 = inc(events.where(col("user") >= 4))
    // sketches compared through their estimates (exact at this size)
    def served(pre: org.apache.spark.sql.DataFrame) = pre
      .select(col("city"), col(PreAgg.CntCol), col("v_sum"), col("v_min"), col("v_max"),
        hll_sketch_estimate(col("user_hll")).as("users"),
        expr("kll_sketch_get_n_double(v_kll)").as("kll_n"),
        expr("kll_sketch_get_quantile_double(v_kll, 0.5)").as("median"))
      .orderBy("city").collect().map(_.toString).toSeq
    val whole = served(inc(events))
    assert(whole === Seq("[balt,4,1100,1.5,4.0,3,4,2.5]", "[det,4,1900,0.5,9.5,3,4,2.0]"))
    assert(served(PreAgg.merge(b1, b2, b3)) === whole)
    assert(served(PreAgg.merge(b3, PreAgg.merge(b2, b1))) === whole)
    // measures keep their column order behind the dimensions
    assert(PreAgg.merge(b1, b2).columns.toSeq === b1.columns.toSeq)
  }

  test("increment builders refuse a dimension named like a measure") {
    val v = Seq[(String, org.apache.spark.sql.Column)]("year" -> col("year"))
    def refused(build: Seq[(String, org.apache.spark.sql.Column)] => Any) =
      Seq("cnt", "x_sum", "x_min", "x_max", "x_hll", "x_kll").foreach { n =>
        val e = intercept[IllegalArgumentException](build(Seq(n -> col("city"))))
        assert(e.getMessage.contains(s"'$n' is named like a measure"), n)
      }
    refused(PreAgg.increment(corpus, _))
    refused(PreAgg.incrementWithSums(corpus, _, Seq("y_sum" -> col("year"))))
    refused(PreAgg.incrementWithExtremes(corpus, _, Seq("y_min" -> col("year")), Nil))
    refused(PreAgg.incrementWithSketches(corpus, _, v))
    refused(PreAgg.incrementWithQuantileSketches(corpus, _, v))
  }
}
