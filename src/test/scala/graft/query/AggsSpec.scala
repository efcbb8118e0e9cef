package graft.query

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** G1-G9: the Kibana aggregation shapes (`kibana-exported-visualizations.json`)
  * against hand-computed buckets.
  */
class AggsSpec extends SparkSpecBase {
  import spark.implicits._

  private def events = Seq(
    // (description, city, hour, ts)
    ("Theft", "baltimore", 1, ts("2016-01-01 01:00:00")),
    ("Theft", "baltimore", 1, ts("2016-01-01 01:30:00")),
    ("Theft", "detroit", 2, ts("2016-01-02 02:00:00")),
    ("Assault", "baltimore", 1, ts("2016-02-01 01:00:00")),
    ("Assault", "detroit", 3, ts("2016-02-02 03:00:00")),
    ("Robbery", "la", 3, ts("2017-01-01 03:00:00")),
  ).toDF("description", "city", "hour", "datetime")

  test("G1 count metric") {
    assert(Aggs.countMetric(events).as[Long].head() === 6L)
  }

  test("G2 terms top-N ordered by count desc, term asc tiebreak") {
    val out = Aggs.termsTopN(events, "description", 2).as[(String, Long)].collect().toSeq
    assert(out === Seq(("Theft", 3L), ("Assault", 2L)))
    // tiebreak: Assault(2) before any 1-count; among equal counts, term asc
    val tie = Aggs.termsTopN(events, "city", 10).as[(String, Long)].collect().toSeq
    assert(tie === Seq(("baltimore", 3L), ("detroit", 2L), ("la", 1L)))
  }

  test("G4 nested terms: parents by own total before child bucketing, top-k children") {
    val out = Aggs.nestedTermsTopK(events, "city", "description", parentSize = 2, childSize = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    // parents: baltimore(3), detroit(2); top child each: Theft(2), Assault|Theft(1→asc: Assault)
    assert(out === Seq(
      ("baltimore", "Theft", 2L, 3L),
      ("detroit", "Assault", 1L, 2L)))
  }

  test("nestedTermsBuckets produces exactly nestedTermsTopK's buckets") {
    // The serving twin must agree bucket-for-bucket with the agg+join form
    // on every (parentSize, childSize) cut, including tiebreaks.
    for ((ps, cs) <- Seq((2, 1), (3, 2), (10, 24), (1, 1))) {
      val expect = Aggs.nestedTermsTopK(events, "city", "description", ps, cs)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      val got = Aggs.nestedTermsBuckets(events, "city", "description", ps, cs)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(got === expect, s"parentSize=$ps childSize=$cs")
    }
  }

  test("nestedTermsBuckets refuses an over-bound bucket table in-plan") {
    // 12 aggregated (city, description) buckets against maxBuckets = 4:
    // the serving-only contract fires instead of silently windowing an
    // unbounded table through one task. Same frame under the default bound
    // still serves.
    val wide = (1 to 12).map(i => (s"c$i", s"d$i")).toDF("city", "description")
    val e = intercept[Exception] {
      Aggs.nestedTermsBuckets(wide, "city", "description", 10, 24, maxBuckets = 4).collect()
    }
    assert(e.getMessage.contains("exceed maxBuckets=4"))
    assert(e.getMessage.contains("nestedTermsTopK"))
    assert(Aggs.nestedTermsBuckets(wide, "city", "description", 20, 24).count() === 12)
  }

  test("G6 geohash grid counts per cell") {
    val pts = Seq((39.29, -76.61), (39.28, -76.60), (42.33, -83.04)).toDF("lat", "lon")
    val out = Aggs.geohashGrid(pts, "lat", "lon", 2).as[(String, Long)].collect().toSeq
    assert(out === Seq(("dq", 2L), ("dp", 1L)))
  }

  test("G6 geohash grid from 'lat,lon' strings skips empties") {
    val pts = Seq("39.29,-76.61", "", "42.33,-83.04").toDF("geolocation")
    val out = Aggs.geohashGridFromGeoloc(pts, "geolocation", 2).as[(String, Long)].collect().toSet
    assert(out === Set(("dq", 1L), ("dp", 1L)))
  }

  test("G6 autoPrecision walks Kibana's zoom ladder") {
    // whole world at the ES default bucket budget: 32*32 = 1024 p2-cells fit,
    // 32768 p3-cells don't
    assert(Aggs.autoPrecision(-90, 90, -180, 180, targetCells = 2000) === 2)
    // zoomed to one p1 cell: each level divides the viewport into 32 more
    assert(Aggs.autoPrecision(0, 45, -135, -90, targetCells = 2000) === 3)
    assert(Aggs.autoPrecision(0, 45, -135, -90, targetCells = 40000) === 4)
    // a street-level viewport still respects the bucket budget...
    assert(Aggs.autoPrecision(39.2900, 39.2901, -76.6101, -76.6100, 2000) === 10)
    // ...and an unbounded budget caps at geohash max precision, not a loop
    assert(Aggs.autoPrecision(39.2900, 39.2901, -76.6101, -76.6100, Int.MaxValue) === 12)
  }

  test("G6 drill-down restricts to the cell and deepens precision") {
    val pts = Seq(
      (39.29, -76.61),  // inside cell "d" -> "dq" -> "dqc"
      (39.28, -76.60),
      (-33.86, 151.20), // Sydney: outside cell "d", filtered by the zoom
    ).toDF("lat", "lon")
    val out = Aggs.geohashGridDrilldown(pts, "lat", "lon", cell = "d")
      .as[(String, Long)].collect().toSeq
    // precision deepened to 3 (d's bounds are 45x45 deg like any p1 cell)
    assert(out === Seq(("dqc", 2L)))
    // agrees with encoding each point at the chosen precision
    val enc = pts.where(col("lat") > 0)
      .select(graft.expr.Geohash.geohash(col("lat"), col("lon"), 3)).as[String]
      .collect().toSet
    assert(enc === Set("dqc"))
  }

  test("G7 typeahead: unfiltered when prefix is empty, filtered otherwise") {
    assert(Aggs.typeahead(events, "description", "", 10).as[String].collect().toSeq
      === Seq("Theft", "Assault", "Robbery"))
    assert(Aggs.typeahead(events, "description", "thef", 10).as[String].collect().toSeq
      === Seq("Theft"))
  }

  test("G8 time filter bounds inclusive") {
    val filtered = Aggs.timeFiltered(events, "datetime",
      ts("2016-01-01 01:00:00"), ts("2016-02-01 01:00:00"))
    assert(filtered.count() === 4)
  }

  test("date histogram truncates to the unit") {
    val out = Aggs.dateHistogram(events, "datetime", "month")
      .select(date_format(col("bucket"), "yyyy-MM").as("b"), col("count"))
      .as[(String, Long)].collect().toSeq
    assert(out === Seq(("2016-01", 3L), ("2016-02", 2L), ("2017-01", 1L)))
  }

  test("termsWithMetrics adds metric columns per bucket") {
    val out = Aggs.termsWithMetrics(events, "city", Seq(max(col("hour")).as("max_hour")), 10)
      .as[(String, Long, Int)].collect().toSeq
    assert(out.head === ("baltimore", 3L, 1))
  }

  test("bucketPipeline: cumulative includes current, derivative lags, moving avg trails") {
    val series = Seq(("d1", 10L), ("d2", 20L), ("d3", 30L), ("d4", 40L))
      .toDF("bucket", "count")
    val out = Aggs.bucketPipeline(series, "bucket", "count", movingWindow = 2)
      .orderBy("bucket")
      .select("bucket", "cumulative", "derivative", "moving_avg")
      .as[(String, Long, Option[Long], Double)].collect().toSeq
    assert(out === Seq(
      ("d1", 10L, None, 10.0),
      ("d2", 30L, Some(10L), 15.0),
      ("d3", 60L, Some(10L), 25.0),
      ("d4", 100L, Some(10L), 35.0)))
  }

  test("significantTerms: JLH ranks slice-characteristic terms, doc-frequency counts") {
    val docs = Seq(
      // fg docs: "dragon" in both, "common" everywhere, "dragon" repeated
      // in doc 1 must count once (doc frequency, not instances)
      (1L, "dragon dragon common", true),
      (2L, "dragon common extra", true),
      (3L, "common plain words", false),
      (4L, "common other stuff", false),
      (5L, "common more filler", false)
    ).toDF("id", "text", "fg")
    val out = Aggs.significantTerms(docs,
        graft.ops.Dedup.tokens(col("text")), col("fg"), n = 3)
      .as[(String, Long, Long, Double)].collect().toSeq
    // dragon: fg 2/2, bg 2/5 → score (1-0.4)*(1/0.4)=1.5 — the top term
    assert(out.head._1 == "dragon")
    assert(out.head._2 == 2L && out.head._3 == 2L)
    assert(math.abs(out.head._4 - 1.5) < 1e-12)
    // common appears in every doc: fgPct == bgPct == 1 → score 0
    val common = out.find(_._1 == "common")
    assert(common.exists(c => c._4 == 0.0 && c._3 == 5L))
  }

  test("significantTerms heuristics: chi_square matches the hand contingency; percentage is fg/bg") {
    val docs = Seq(
      (1L, "dragon dragon common", true),
      (2L, "dragon common extra", true),
      (3L, "common plain words", false),
      (4L, "common other stuff", false),
      (5L, "common more filler", false)
    ).toDF("id", "text", "fg")
    def top(h: String): Map[String, Double] =
      Aggs.significantTerms(docs, graft.ops.Dedup.tokens(col("text")),
          col("fg"), n = 10, heuristic = h)
        .as[(String, Long, Long, Double)].collect()
        .map(r => r._1 -> r._4).toMap
    // dragon contingency: a=2 (fg∧term), b=0, c=0, d=3, N=5 →
    // χ² = 5·(2·3 − 0)²/((2)(3)(2)(3)) = 180/36 = 5.0
    val chi = top("chi_square")
    assert(chi("dragon") === 5.0)
    // common: a=2,b=0,c=3,d=0 → ad−bc = 0 → 0
    assert(chi("common") === 0.0)
    val pct = top("percentage")
    assert(pct("dragon") === 1.0) // all of dragon's docs are foreground
    assert(pct("common") === 2.0 / 5.0)
    intercept[IllegalArgumentException](
      Aggs.significantTerms(docs, graft.ops.Dedup.tokens(col("text")),
        col("fg"), heuristic = "gnd"))
  }

  test("rollupCounts: every prefix level with grouping_id; cube adds the cross level") {
    val df = Seq(("a", "x"), ("a", "y"), ("b", "x")).toDF("k1", "k2")
    val roll = Aggs.rollupCounts(df, Seq("k1", "k2"))
      .as[(Option[String], Option[String], Long, Long)].collect().toSeq
    assert(roll === Seq(
      (None, None, 3L, 3L),          // grand total, gid=3
      (Some("a"), None, 2L, 1L),     // k1 subtotals, gid=1
      (Some("b"), None, 1L, 1L),
      (Some("a"), Some("x"), 1L, 0L), // leaves, gid=0
      (Some("a"), Some("y"), 1L, 0L),
      (Some("b"), Some("x"), 1L, 0L)).sortBy(r => (r._4, r._1, r._2)))
    val cube = Aggs.rollupCounts(df, Seq("k1", "k2"), cube = true)
      .as[(Option[String], Option[String], Long, Long)].collect().toSeq
    // cube = rollup + the (NULL, k2) cross level, gid=2
    assert(cube.count(_._4 == 2L) === 2)
    assert(cube.size === roll.size + 2)
  }

  test("numericHistogram buckets by lower bound, omits nulls and empty buckets") {
    val df = Seq[java.lang.Double](1.0, 4.9, 5.0, 12.0, null, -3.0).toDF("v")
    val got = Aggs.numericHistogram(df, "v", 5.0)
      .as[(Double, Long)].collect().toSeq
    // floor(-3/5)*5 = -5; no bucket row for the empty [15,20) etc.
    assert(got === Seq((-5.0, 1L), (0.0, 2L), (5.0, 1L), (10.0, 1L)))
  }

  test("rangeBuckets: half-open ES ranges, overlap allowed, zero-count rows kept") {
    val df = Seq(5.0, 10.0, 50.0, 200.0).toDF("v")
    val got = Aggs.rangeBuckets(df, "v", Seq(
        (None, Some(10.0)), (Some(10.0), Some(100.0)), (Some(100.0), None),
        (Some(0.0), Some(1.0)), // empty bucket must still emit
        (Some(0.0), None)))     // overlapping bucket counts independently
      .as[(String, Long)].collect().toMap
    assert(got === Map(
      "*-10.0" -> 1L, "10.0-100.0" -> 2L, "100.0-*" -> 1L,
      "0.0-1.0" -> 0L, "0.0-*" -> 4L))
  }

  test("topHits: top-k documents per bucket under explicit sort with id tiebreak") {
    val df = Seq(
      ("a", 1L, 10.0), ("a", 2L, 30.0), ("a", 3L, 30.0), ("a", 4L, 5.0),
      ("b", 5L, 1.0)
    ).toDF("k", "id", "v")
    val got = Aggs.topHits(df, "k", desc("v"), "id", size = 2, select = Seq("id", "v"))
      .as[(String, Long, Long, Double)].collect().toSeq
    // ties on v resolve by ascending id; bucket b has fewer than size hits
    assert(got === Seq(("a", 1L, 2L, 30.0), ("a", 2L, 3L, 30.0), ("b", 1L, 5L, 1.0)))
  }

  test("compositeAgg pages tile the full bucket space without overlap") {
    val df = Seq(
      ("a", 1), ("a", 1), ("a", 2), ("b", 1), ("b", 3), ("c", 1), ("c", 2)
    ).toDF("k1", "k2")
    val keys = Seq("k1", "k2")
    def page(after: Option[Seq[Any]]) =
      Aggs.compositeAgg(df, keys, size = 2, after)
        .as[(String, Int, Long)].collect().toSeq
    var all = Seq.empty[(String, Int, Long)]
    var after: Option[Seq[Any]] = None
    var done = false
    while (!done) {
      val p = page(after)
      assert(p.size <= 2)
      all ++= p
      if (p.size < 2) done = true
      else after = Some(Seq(p.last._1, p.last._2))
    }
    val whole = df.groupBy("k1", "k2").count()
      .orderBy("k1", "k2").as[(String, Int, Long)].collect().toSeq
    assert(all === whole, "concatenated pages must equal the full ordered bucket space")
    // arity mismatch fails loudly
    assert(intercept[IllegalArgumentException] {
      Aggs.compositeAgg(df, keys, 2, Some(Seq("a")))
    }.getMessage.contains("arity"))
  }

  test("filtersAgg: named FilterSpec buckets in one pass") {
    val got = Aggs.filtersAgg(events, Seq(
        "theft" -> FilterSpec.EnumIn("description", Seq("Theft")),
        "balt_morning" -> FilterSpec.And(Seq(
          FilterSpec.EnumIn("city", Seq("baltimore")),
          FilterSpec.NumericRange("hour", 0, 2))),
        "none" -> FilterSpec.EnumIn("city", Seq("nowhere"))))
      .as[(String, Long)].collect().toMap
    assert(got === Map("theft" -> 3L, "balt_morning" -> 3L, "none" -> 0L))
  }

  test("rangeBuckets and filtersAgg emit 0-count buckets on an EMPTY input") {
    val empty = events.where(lit(false))
    val r = Aggs.rangeBuckets(empty, "hour", Seq((Some(0.0), Some(2.0)), (Some(2.0), None)))
      .as[(String, Long)].collect().toMap
    assert(r === Map("0.0-2.0" -> 0L, "2.0-*" -> 0L))
    val f = Aggs.filtersAgg(empty, Seq(
        "theft" -> FilterSpec.EnumIn("description", Seq("Theft"))))
      .as[(String, Long)].collect().toMap
    assert(f === Map("theft" -> 0L))
  }

  test("extendedStats: exact integer-cents moments on a hand-computed frame") {
    val df = Seq(1.5, 2.5, 4.0).toDF("v")
    val row = Aggs.extendedStats(df, "v").collect()(0)
    // cents: 150, 250, 400 → sum 800, sos 150²+250²+400²=245000
    assert(row.getLong(0) === 3L)          // count
    assert(row.getDouble(1) === 1.5)       // min
    assert(row.getDouble(2) === 4.0)       // max
    assert(row.getDouble(3) === 8.0)       // sum
    assert(math.abs(row.getDouble(4) - 8.0 / 3) < 1e-12)      // avg
    assert(row.getDouble(5) === 24.5)      // sum_of_squares (245000/10⁴)
    // variance = 24.5/3 − (8/3)² = 8.16667 − 7.11111 = 1.05556 (population)
    assert(math.abs(row.getDouble(6) - (24.5 / 3 - (8.0 / 3) * (8.0 / 3))) < 1e-12)
    assert(math.abs(row.getDouble(7) - math.sqrt(24.5 / 3 - (8.0 / 3) * (8.0 / 3))) < 1e-12)
    // nulls excluded from count and moments
    val withNull = Seq(Some(1.5), None, Some(2.5)).toDF("v")
    assert(Aggs.extendedStats(withNull, "v").collect()(0).getLong(0) === 2L)
  }

  test("extendedStats from a cents rollup equals the corpus scan exactly") {
    val df = Seq(1.5, 2.5, 2.5, 4.0, 4.0, 4.0).toDF("v")
    val pre = PreAgg.increment(df, Seq("cents" -> (floor(col("v") * 100)).cast("long")))
    assert(PreAgg.extendedStats(pre, "cents").collect()(0).toSeq
      === Aggs.extendedStats(df, "v").collect()(0).toSeq)
  }

  test("weightedAvg: cents-exact, null value or weight excluded") {
    val df = Seq((10.0, Some(1.0)), (20.0, Some(3.0)), (99.0, None))
      .toDF("v", "w")
    val got = Aggs.weightedAvg(df, col("v"), col("w")).as[Double].head()
    assert(got === (10.0 * 1 + 20.0 * 3) / 4)  // 17.5
  }

  test("missingCount: nulls counted, zero on empty") {
    val df = Seq(Some("a"), None, None, Some("b")).toDF("k")
    assert(Aggs.missingCount(df, col("k")).as[Long].head() === 2L)
    assert(Aggs.missingCount(df.where(lit(false)), col("k")).as[Long].head() === 0L)
  }

  test("rareTerms: rare-first long tail, scan and rollup identical") {
    val out = Aggs.rareTerms(events, "city", maxDocCount = 2)
      .as[(String, Long)].collect().toSeq
    assert(out === Seq(("la", 1L), ("detroit", 2L)))  // baltimore(3) excluded
    val pre = PreAgg.increment(events, Seq("city" -> col("city")))
    assert(PreAgg.rareTerms(pre, "city", 2).as[(String, Long)].collect().toSeq === out)
  }

  test("multiTerms: composite-key top-N with full-tuple tiebreak, scan == rollup") {
    val out = Aggs.multiTerms(events, Seq("city", "description"), 3)
      .as[(String, String, Long)].collect().toSeq
    // (baltimore, Theft) 2; then 1-count pairs in (city, description) asc
    assert(out === Seq(
      ("baltimore", "Theft", 2L),
      ("baltimore", "Assault", 1L),
      ("detroit", "Assault", 1L)))
    val pre = PreAgg.increment(events,
      Seq("city" -> col("city"), "description" -> col("description")))
    assert(PreAgg.multiTerms(pre, Seq("city", "description"), 3)
      .as[(String, String, Long)].collect().toSeq === out)
  }

  test("adjacencyMatrix: singles + pairwise intersections, zero cells omitted") {
    val got = Aggs.adjacencyMatrix(events, Seq(
        "theft" -> FilterSpec.EnumIn("description", Seq("Theft")),
        "balt" -> FilterSpec.EnumIn("city", Seq("baltimore")),
        "rob" -> FilterSpec.EnumIn("description", Seq("Robbery"))))
      .as[(String, Long)].collect().toMap
    // theft∩rob is structurally empty and balt∩rob is empty → omitted
    assert(got === Map(
      "theft" -> 3L, "balt" -> 3L, "rob" -> 1L, "theft&balt" -> 2L))
  }

  test("geoCentroid: micro-degree-exact bucket means, null coords excluded") {
    val df = Seq(
      ("a", Some(10.0), Some(20.0)),
      ("a", Some(30.0), Some(40.0)),
      ("a", None, Some(99.0)),       // excluded entirely
      ("b", Some(-45.5), Some(170.25)),
    ).toDF("k", "lat", "lon")
    val out = Aggs.geoCentroid(df, "k", "lat", "lon")
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(out === Seq(
      ("a", 2L, 20.0, 30.0),
      ("b", 1L, -45.5, 170.25)))
  }

  test("samplerTerms: deterministic hash-sample feeds the inner terms agg") {
    val df = spark.range(200).selectExpr("id", "CASE WHEN id % 4 = 0 THEN 'a' ELSE 'b' END AS k")
    val out = Aggs.samplerTerms(df, "id", "k", fraction = 0.5)
      .as[(String, Long)].collect().toMap
    // sample ~100 rows; b dominates a ~3:1 in any uniform sample
    assert(out.values.sum < 200 && out.values.sum > 50)
    assert(out("b") > out("a"))
    // deterministic across partitioning
    assert(Aggs.samplerTerms(df.repartition(13), "id", "k", fraction = 0.5)
      .as[(String, Long)].collect().toMap === out)
  }

  test("diversifiedSamplerTerms caps each diversity value at maxPerValue") {
    // source s1 has 30 docs all lang=x; s2 has 3 docs lang=y — uncapped
    // terms would rank x 10:1; capped at 5/source it is 5:3
    val df = ((0 until 30).map(i => (i.toLong, "s1", "x")) ++
        (100 until 103).map(i => (i.toLong, "s2", "y")))
      .toDF("id", "src", "lang")
    val out = Aggs.diversifiedSamplerTerms(df, "id", "src",
        maxPerValue = 5, field = "lang")
      .as[(String, Long)].collect().toSeq
    assert(out === Seq(("x", 5L), ("y", 3L)))
  }

  test("dateRangeBuckets: half-open ranges with ES from-to keys, zeros kept") {
    val df = Seq(
      ts("2016-01-01 00:00:00"), ts("2016-01-15 12:00:00"),
      ts("2016-02-01 00:00:00")).map(Tuple1(_)).toDF("t")
    val out = Aggs.dateRangeBuckets(df, "t", Seq(
        (None, Some("2016-01-15")),
        (Some("2016-01-15"), Some("2016-02-01")),
        (Some("2016-02-01"), None),
        (Some("2030-01-01"), None)))
      .as[(String, Long)].collect().toMap
    assert(out === Map(
      "*-2016-01-15" -> 1L,
      "2016-01-15-2016-02-01" -> 1L,
      "2016-02-01-*" -> 1L,
      "2030-01-01-*" -> 0L))
  }

  test("bucketStats: one-row sibling pipeline stats with keyed extremes, smallest key on ties") {
    val series = Seq(("d1", 10L), ("d2", 30L), ("d3", 5L), ("d4", 30L))
      .toDF("bucket", "count")
    val row = Aggs.bucketStats(series, "bucket", "count").collect()(0)
    assert(row.getLong(0) === 4L)        // n_buckets
    assert(row.getLong(1) === 5L)        // min
    assert(row.getLong(2) === 30L)       // max
    assert(row.getLong(3) === 75L)       // sum
    assert(row.getDouble(4) === 18.75)   // avg
    assert(row.getString(5) === "d3")    // min key
    assert(row.getString(6) === "d2")    // max key: tie d2/d4 → smallest
  }

  test("serialDiff: value minus the lag-N bucket, null for the first N") {
    val series = Seq(("d1", 10L), ("d2", 12L), ("d3", 15L), ("d4", 11L))
      .toDF("bucket", "count")
    val out = Aggs.serialDiff(series, "bucket", "count", lagBuckets = 2)
      .orderBy("bucket")
      .collect().map(r => (r.getString(0), if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(out.toSeq === Seq(
      ("d1", None), ("d2", None), ("d3", Some(5L)), ("d4", Some(-1L))))
  }

  test("movingFn: trailing-window min/max/sum including the current bucket") {
    val series = Seq(("d1", 10L), ("d2", 30L), ("d3", 5L), ("d4", 20L))
      .toDF("bucket", "count")
    val out = Aggs.movingFn(series, "bucket", "count", window = 2)
      .orderBy("bucket")
      .collect().map(r =>
        (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    assert(out === Seq(
      ("d1", 10L, 10L, 10L, 10.0), ("d2", 10L, 30L, 40L, 20.0),
      ("d3", 5L, 30L, 35L, 17.5), ("d4", 5L, 20L, 25L, 12.5)))
  }

  test("geoLine: sort-ordered micro-degree track, id tiebreak, size cap") {
    val pts = Seq(
      ("a", 1L, 10.5, 20.25, 1L), ("a", 2L, 11.0, 21.0, 2L),
      ("a", 3L, 12.0, 22.0, 3L), ("b", 4L, -5.0, -6.0, 1L))
      .toDF("k", "id", "lat", "lon", "t")
    val out = Aggs.geoLine(pts, "k", "lat", "lon", "t", col("id"), size = 2)
      .as[(String, Long, String)].collect().toSeq
    assert(out === Seq(
      ("a", 2L, "LINESTRING_E6 (20250000 10500000, 21000000 11000000)"),
      ("b", 1L, "LINESTRING_E6 (-6000000 -5000000)")))
  }

  test("normalizeBuckets: percent_of_sum / rescale_0_1 / z-score; constant series nulls") {
    val series = Seq(("d1", 10L), ("d2", 30L), ("d3", 20L)).toDF("bucket", "count")
    val out = Aggs.normalizeBuckets(series, "bucket", "count")
      .orderBy("bucket")
      .collect().map(r => (r.getString(0), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(out(0)._2 === 10.0 / 60 * 100.0)  // the emitted v/Σ·100 tree
    assert(out(0)._3 === 0.0)
    assert(out(1)._3 === 1.0)
    assert(out(2)._3 === 0.5)
    // mean 20, var = (100+100+0)/3 = 200/3 → z(d2) = 10/√(200/3)
    assert(math.abs(out(1)._4 - 10.0 / math.sqrt(200.0 / 3)) < 1e-12)
    val const = Aggs.normalizeBuckets(
      Seq(("d1", 5L), ("d2", 5L)).toDF("bucket", "count"), "bucket", "count")
      .collect()
    assert(const.forall(r => r.isNullAt(3) && r.isNullAt(4)))
  }

  test("ratePerUnit: nominal spans for fixed grains, calendar length for months") {
    val series = Seq(
      (ts("2016-01-01 00:00:00"), 310L), (ts("2016-02-01 00:00:00"), 290L))
      .toDF("bucket", "count")
    val out = Aggs.ratePerUnit(series, "bucket", "count", "month", "day")
      .orderBy("bucket").collect().map(_.getDouble(2)).toSeq
    assert(out === Seq(310.0 / 31, 290.0 / 29)) // 2016 is a leap year
    val weekly = Aggs.ratePerUnit(
      Seq((ts("2016-01-04 00:00:00"), 14L)).toDF("bucket", "count"),
      "bucket", "count", "week", "day").collect()(0).getDouble(2)
    assert(weekly === 2.0)
    intercept[IllegalArgumentException](
      Aggs.ratePerUnit(series, "bucket", "count", "year", "minute"))
  }

  test("geoTileGrid: slippy z/x/y cells, equator/meridian sides, polar clamp") {
    val pts = Seq(
      (0.0001, 0.0001),   // NE quadrant → 1/1/0
      (0.0001, 0.0002),   // same tile
      (-10.0, -10.0),     // SW quadrant → 1/0/1
      (89.9, 0.0001),     // beyond the Mercator limit → clamped to y=0
      (-89.9, 0.0001))    // clamped to y = 2^z − 1
      .toDF("lat", "lon")
    val out = Aggs.geoTileGrid(pts, "lat", "lon", z = 1)
      .as[(String, Long)].collect().toSeq
    assert(out === Seq(("1/1/0", 3L), ("1/0/1", 1L), ("1/1/1", 1L)))
  }

  test("geoTileGridAt: zoom-out from the rollup is integer >> and equals the scan") {
    val pts = Seq(
      (37.77, -122.41), (37.80, -122.27), (40.71, -74.0),
      (51.5, -0.12), (-33.86, 151.2), (35.68, 139.69), (35.69, 139.70))
      .toDF("lat", "lon")
    val Seq(tx, ty) = Aggs.geoTileXY(col("lat"), col("lon"), 6)
    val pre = PreAgg.increment(pts, Seq("tx" -> tx, "ty" -> ty))
    for (z <- 0 to 6) {
      assert(PreAgg.coversGeoTile(6, z))
      val served = PreAgg.geoTileGridAt(pre, 6, z, n = 100).collect().toSeq
      val scan = Aggs.geoTileGrid(pts, "lat", "lon", z, n = 100).collect().toSeq
      assert(served === scan, s"zoom $z")
    }
    assert(!PreAgg.coversGeoTile(6, 7))
    intercept[IllegalArgumentException](PreAgg.geoTileGridAt(pre, 6, 7))
  }

  test("geoBounds: tightest box per bucket, null coords excluded") {
    val pts = Seq(
      ("a", Some(10.0), Some(20.0)), ("a", Some(-5.0), Some(25.0)),
      ("a", Some(2.0), Some(-8.0)), ("b", Some(1.0), Some(1.0)),
      ("b", None, Some(9.0)))
      .toDF("k", "lat", "lon")
    val out = Aggs.geoBounds(pts, "k", "lat", "lon")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(out === Seq(
      ("a", 3L, 10.0, -8.0, -5.0, 25.0),
      ("b", 1L, 1.0, 1.0, 1.0, 1.0)))
  }

  test("termsTopMetrics: metric at the max sort value, max-id tiebreak, one hash agg") {
    val rows = Seq(
      ("a", 5.0, 1L, 10.0), ("a", 5.0, 2L, 20.0), ("a", 3.0, 3L, 30.0),
      ("b", 7.0, 4L, 40.0))
      .toDF("k", "s", "id", "m")
    val out = Aggs.termsTopMetrics(rows, "k", col("s"), col("id"), col("m"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    // bucket a: sort ties at 5.0 → the larger id (2) carries the metric
    assert(out === Seq(("a", 3L, 5.0, 20.0), ("b", 1L, 7.0, 40.0)))
  }

  test("boxplot: exact interpolated quartiles and 1.5-IQR whiskers from data values") {
    val rows = (Seq(1.0, 2.0, 3.0, 4.0, 100.0).map(("a", _)) :+ (("b", 5.0)))
      .toDF("k", "v")
    val out = Aggs.boxplot(rows, "k", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getDouble(8))).toSeq
    // a: q1=2 q2=3 q3=4, IQR=2 → fences [-1, 7] → whiskers 1 and 4
    assert(out === Seq(
      ("a", 5L, 1.0, 2.0, 3.0, 4.0, 100.0, 1.0, 4.0),
      ("b", 1L, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0)))
  }

  test("medianAbsoluteDeviation: median of absolute deviations, exact") {
    val rows = Seq(1.0, 2.0, 3.0, 4.0, 100.0).map(("a", _)).toDF("k", "v")
    val out = Aggs.medianAbsoluteDeviation(rows, "k", "v").collect()(0)
    // med=3, |dev| = [2,1,0,1,97] → median 1
    assert((out.getString(0), out.getLong(1), out.getDouble(2)) === ("a", 5L, 1.0))
  }

  test("stringStats: exact lengths, ordered-fold entropy over the char distribution") {
    val rows = Seq("ab", "b").toDF("t")
    val out = Aggs.stringStats(rows, "t").collect()(0)
    assert(out.getLong(0) === 2L)
    assert(out.getInt(1) === 1)
    assert(out.getInt(2) === 2)
    assert(out.getDouble(3) === 1.5)
    // chars a:1 b:2, N=3 → H = log2(3) − 2/3 ≈ 0.918296
    assert(out.getDouble(4) === 0.918296)
  }

  test("matrixStats: cents-exact pairwise moments; perfect correlation is exactly 1") {
    val rows = Seq((1.0, 2.0, 5.0), (2.0, 4.0, 4.0), (3.0, 6.0, 3.0))
      .toDF("x", "y", "z")
    val out = Aggs.matrixStats(rows, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(7), r.getDouble(8))).toSeq
    // (x,y): cov = 28/3 − 8 = 4/3; corr = (4/3)/√((2/3)(8/3)) = 1
    val xy = out.find(t => t._1 == "x" && t._2 == "y").get
    assert(xy._3 === 3L)
    assert(math.abs(xy._4 - 4.0 / 3) < 1e-12)
    assert(math.abs(xy._5 - 1.0) < 1e-12)
    val xz = out.find(t => t._1 == "x" && t._2 == "z").get
    assert(math.abs(xz._5 + 1.0) < 1e-12)
    assert(out.map(t => (t._1, t._2)) ===
      Seq(("x", "x"), ("x", "y"), ("x", "z"), ("y", "y"), ("y", "z"), ("z", "z")))
  }

  test("autoDateHistogram: finest grain fitting the target, chooser in one pass") {
    val out = Aggs.autoDateHistogram(events, "datetime", targetBuckets = 3)
    val rows = out.collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2))).toSeq
    // minute 6 > hour 5 > day 5 > 3 ≥ month 3 → month
    assert(rows === Seq(
      (ts("2016-01-01 00:00:00"), 3L, "month"),
      (ts("2016-02-01 00:00:00"), 2L, "month"),
      (ts("2017-01-01 00:00:00"), 1L, "month")))
    // a target every grain fits → the finest grain (minute) wins
    assert(Aggs.autoDateHistogram(events, "datetime", 100).collect()(0).getString(2) === "minute")
  }

  test("autoDateHistogram from the hour-grain rollup walks the same ladder tail") {
    val pre = PreAgg.increment(events, Seq("h" -> date_trunc("hour", col("datetime"))))
    val served = PreAgg.autoDateHistogram(pre, "h", "hour", targetBuckets = 3)
    assert(served.collect().toSeq ===
      Aggs.autoDateHistogram(events, "datetime", 3).collect().toSeq)
    // ingest grain already fits the target AND finer grains exist below the
    // servable ladder → decision not certifiable → loud miss
    intercept[IllegalArgumentException](
      PreAgg.autoDateHistogram(pre, "h", "hour", targetBuckets = 100))
    // …but a minute-grain ingest spans the WHOLE ladder: no finer grain
    // exists for the scan chooser to prefer, so any target is certifiable
    val preM = PreAgg.increment(events,
      Seq("m" -> date_trunc("minute", col("datetime"))))
    assert(PreAgg.autoDateHistogram(preM, "m", "minute", targetBuckets = 100)
      .collect().toSeq ===
      Aggs.autoDateHistogram(events, "datetime", 100).collect().toSeq)
  }

  test("tTest: Welch t and df from one conditional-sum pass, hand-computed") {
    val rows = (Seq(1.0, 2.0, 3.0).map(("a", _)) ++ Seq(2.0, 4.0, 6.0, 8.0).map(("b", _)))
      .toDF("g", "v")
    val out = Aggs.tTest(rows, "v", col("g") === "a", col("g") === "b").collect()(0)
    assert((out.getLong(0), out.getLong(1)) === ((3L, 4L)))
    assert(out.getDouble(2) === 2.0)
    assert(out.getDouble(3) === 5.0)
    // var_a=1, var_b=20/3; t = (2−5)/√(1/3+5/3) = −3/√2
    assert(math.abs(out.getDouble(4) - (-3.0 / math.sqrt(2.0))) < 1e-12)
    // df = (1/3+5/3)² / ((1/3)²/2 + (5/3)²/3)
    val df = 4.0 / (1.0 / 18 + 25.0 / 27)
    assert(math.abs(out.getDouble(5) - df) < 1e-12)
  }

  test("geoDistanceRings: haversine half-open rings, zeros kept, nulls outside") {
    val pts = Seq(
      (Some(0.0), Some(0.0)),   // 0 km
      (Some(0.0), Some(1.0)),   // ~111.2 km
      (Some(1.0), Some(1.0)),   // ~157 km
      (None, Some(1.0)))        // no ring
      .toDF("lat", "lon")
    val out = Aggs.geoDistanceRings(pts, "lat", "lon", 0.0, 0.0,
      Seq((None, Some(100.0)), (Some(100.0), Some(200.0)), (Some(1000.0), None)))
      .as[(String, Long)].collect().toSeq
    assert(out === Seq(
      ("*-100.0", 1L), ("100.0-200.0", 2L), ("1000.0-*", 0L)))
  }

  test("bucketScript / bucketSelector / bucketSort compose over the bucket frame") {
    val series = Seq(("d1", 10L, 2L), ("d2", 30L, 3L), ("d3", 5L, 5L))
      .toDF("bucket", "sales", "units")
    val scripted = Aggs.bucketScript(series,
      Seq("per_unit" -> (col("sales").cast("double") / col("units"))))
    assert(scripted.where(col("bucket") === "d1").collect()(0).getDouble(3) === 5.0)
    val kept = Aggs.bucketSelector(scripted, col("per_unit") > 2.0)
      .collect().map(_.getString(0)).toSeq
    assert(kept === Seq("d1", "d2"))
    val sorted = Aggs.bucketSort(series, Seq(col("sales").desc), from = 1, size = Some(1))
      .collect().map(_.getString(0)).toSeq
    assert(sorted === Seq("d1"))
  }

  test("geoTileGridDrilldown: pure integer tile-membership filter, deeper grid from the rollup") {
    val pts = Seq(
      (10.0, 10.0), (11.0, 11.0), (40.0, 40.0), (-30.0, -120.0))
      .toDF("lat", "lon")
    val Seq(tx, ty) = Aggs.geoTileXY(col("lat"), col("lon"), 6)
    val pre = PreAgg.increment(pts, Seq("tx" -> tx, "ty" -> ty))
    // the clicked zoom-2 cell containing (10,10): x=2, y=1
    val drilled = PreAgg.geoTileGridDrilldown(pre, 6, cellZ = 2, cellX = 2, cellY = 1, z = 4)
      .collect().toSeq
    // scan twin: grid at z=4, keep tiles whose z=2 ancestor is (2,1)
    val scan = Aggs.geoTileGrid(pts, "lat", "lon", 4, n = 100)
      .collect().filter { r =>
        val Array(_, x, y) = r.getString(0).split("/")
        (x.toLong >> 2) == 2L && (y.toLong >> 2) == 1L
      }.toSeq
    assert(drilled === scan)
    assert(drilled.nonEmpty)
    intercept[IllegalArgumentException](
      PreAgg.geoTileGridDrilldown(pre, 6, 2, 2, 1, z = 7))
    intercept[IllegalArgumentException](
      PreAgg.geoTileGridDrilldown(pre, 6, 4, 2, 1, z = 4))
  }

  test("frequentItemPairs: exact co-occurrence support, duplicates in a txn count once") {
    val rows = Seq(
      (1L, "bread"), (1L, "butter"), (1L, "bread"), (1L, "milk"),
      (2L, "bread"), (2L, "butter"),
      (3L, "bread"), (3L, "milk"),
      (4L, "tea")).toDF("txn", "item")
    val out = Aggs.frequentItemPairs(rows, "txn", "item", minSupport = 2)
      .as[(String, String, Long)].collect().toSeq
    assert(out === Seq(("bread", "butter", 2L), ("bread", "milk", 2L)))
  }

  test("categorizeText: digit-bearing tokens template to *, order-free categories") {
    val logs = Seq(
      (1L, "Error 42 at node7 disk full"),
      (2L, "error 17 at node9 disk full"),
      (3L, "User login ok"),
      (4L, "12 34")) // all-variable message: category "* *"
      .toDF("id", "msg")
    val out = Aggs.categorizeText(logs, "id", "msg")
      .as[(String, Long, Long)].collect().toSeq
    assert(out === Seq(
      ("error * at * disk full", 2L, 1L),
      ("* *", 1L, 4L),
      ("user login ok", 1L, 3L)))
  }

  test("ipToLong/ipPrefixBuckets/ipRangeBuckets: integer parsing, prefix shifts, half-open ranges") {
    val ips = Seq("10.0.0.1", "10.0.0.200", "10.0.1.5", "bad", "1.2.3.300")
      .toDF("ip")
    val prefixes = Aggs.ipPrefixBuckets(ips, "ip", 24)
      .as[(String, Long)].collect().toSeq
    assert(prefixes === Seq(("10.0.0.0/24", 2L), ("10.0.1.0/24", 1L)))
    val ranges = Aggs.ipRangeBuckets(ips, "ip", Seq(
      (None, Some("10.0.0.128")),
      (Some("10.0.0.128"), Some("10.0.2.0")),
      (Some("192.168.0.0"), None)))
      .as[(String, Long)].collect().toSeq
    assert(ranges === Seq(
      ("*-10.0.0.128", 1L),
      ("10.0.0.128-10.0.2.0", 2L),
      ("192.168.0.0-*", 0L)))
  }

  test("stringStats keeps the stats row when the char distribution is empty") {
    val out = Aggs.stringStats(Seq("", "").toDF("t"), "t").collect()(0)
    assert((out.getLong(0), out.getInt(1), out.getInt(2),
      out.getDouble(3), out.getDouble(4)) === ((2L, 0, 0, 0.0, 0.0)))
  }

  test("PreAgg.rareTerms fails loudly toward the scan when the field is not a dim") {
    val pre = PreAgg.increment(events, Seq("city" -> col("city")))
    val e = intercept[IllegalArgumentException](
      PreAgg.rareTerms(pre, "description", 2))
    assert(e.getMessage.contains("corpus scan"))
  }

  test("cumulativeCardinality attributes keys to first-seen buckets and runs the sum") {
    val ev = Seq(
      ("u1", ts("2024-01-01 05:00:00")), ("u2", ts("2024-01-01 06:00:00")),
      ("u1", ts("2024-01-02 05:00:00")),                       // old key only
      ("u3", ts("2024-01-03 05:00:00")), ("u1", ts("2024-01-03 06:00:00")),
    ).toDF("user", "t")
    val out = Aggs.cumulativeCardinality(ev, "t", "user")
      .select(date_format(col("bucket"), "yyyy-MM-dd"), col("count"),
        col("cumulative_cardinality"))
      .as[(String, Long, Long)].collect().toSeq
    assert(out === Seq(
      ("2024-01-01", 2L, 2L), ("2024-01-02", 1L, 2L), ("2024-01-03", 2L, 3L)))
  }

  test("bucketCorrelation is exactly ±1 on perfectly (anti)linear series") {
    val up = Seq((1, 10L), (2, 20L), (3, 30L), (4, 40L)).toDF("bucket", "count")
    assert(Aggs.bucketCorrelation(up, "bucket", "count", Seq(1L, 2L, 3L, 4L))
      .as[Double].head() === 1.0)
    assert(Aggs.bucketCorrelation(up, "bucket", "count", Seq(4L, 3L, 2L, 1L))
      .as[Double].head() === -1.0)
  }

  test("curve length mismatches raise in-plan instead of truncating") {
    val s = Seq((1, 10L), (2, 20L)).toDF("bucket", "count")
    val e = intercept[Exception](
      Aggs.bucketCorrelation(s, "bucket", "count", Seq(1L, 2L, 3L)).collect())
    assert(e.getMessage.contains("curve length"))
    val e2 = intercept[Exception](
      Aggs.bucketCountKsTest(s, "bucket", "count",
        Seq(500000L, 300000L, 200000L)).collect())
    assert(e2.getMessage.contains("curve length"))
  }

  test("bucketCountKsTest: zero distances on an exact match, one-sided asymmetry on a shifted one") {
    // counts (10, 30, 60) over expected (10%, 30%, 60%) — ECDFs coincide
    val exact = Seq((1, 10L), (2, 30L), (3, 60L)).toDF("bucket", "count")
    val z = Aggs.bucketCountKsTest(exact, "bucket", "count",
      Seq(100000L, 300000L, 600000L)).as[(Double, Double, Double)].head()
    assert(z === ((0.0, 0.0, 0.0)))
    // front-loaded actual vs uniform expected: actual ECDF runs ABOVE →
    // greater > 0, less == 0, two_sided == greater
    val front = Seq((1, 60L), (2, 30L), (3, 10L)).toDF("bucket", "count")
    val (less, greater, two) = Aggs.bucketCountKsTest(front, "bucket", "count",
      Seq(333334L, 333333L, 333333L)).as[(Double, Double, Double)].head()
    assert(less === 0.0 && greater > 0.25 && two === greater)
    // fractions must sum to exactly 1e6 ppm
    intercept[IllegalArgumentException](
      Aggs.bucketCountKsTest(front, "bucket", "count", Seq(1L, 2L)))
  }

  test("changePoint finds a constructed mean shift at the first bucket of the new regime") {
    val series = Seq(
      (1, 10L), (2, 10L), (3, 10L), (4, 50L), (5, 50L), (6, 50L),
    ).toDF("bucket", "count")
    val (cp, delta) = Aggs.changePoint(series, "bucket", "count")
      .as[(Int, Double)].head()
    assert(cp === 4)
    assert(delta === 40.0) // |mean(10,10,10) − mean(50,50,50)|
    // ties in delta resolve to the SMALLEST boundary bucket: a two-level
    // symmetric series has equal deltas at k=1..3 only at the true split
    val flat = Seq((1, 5L), (2, 5L), (3, 5L), (4, 5L)).toDF("bucket", "count")
    val (cpFlat, dFlat) = Aggs.changePoint(flat, "bucket", "count")
      .as[(Int, Double)].head()
    assert(cpFlat === 2 && dFlat === 0.0)
  }

  test("variableWidthHistogram clusters at gaps, weights centroids, guards the value table") {
    // binary-exact quarters: cents 100,125,125,150 | 500 | 1000,1025 —
    // gaps 350 and 500 split at >50
    val df = Seq(1.0, 1.25, 1.25, 1.5, 5.0, 10.0, 10.25)
      .toDF("value")
    val out = Aggs.variableWidthHistogram(df, "value", gapCents = 50L)
      .as[(Double, Double, Double, Long)].collect().toSeq
    // centroid of cluster 1: (100 + 125·2 + 150)/4 = 125 cents = 1.25
    assert(out === Seq(
      (1.25, 1.0, 1.5, 4L), (5.0, 5.0, 5.0, 1L), (10.125, 10.0, 10.25, 2L)))
    // the single-task window refuses loudly past maxDistinct
    val wide = (1 to 40).map(_.toDouble).toDF("value")
    val e = intercept[Exception](
      Aggs.variableWidthHistogram(wide, "value", 50L, maxDistinct = 10).collect())
    assert(e.getMessage.contains("maxDistinct"))
  }

  test("randomSamplerTerms scales sampled counts back by 1/p deterministically") {
    val docs = (1 to 400).map(i => (s"d$i", if (i % 4 == 0) "fr" else "en"))
      .toDF("doc_id", "lang")
    val out = Aggs.randomSamplerTerms(docs, "doc_id", "lang", probability = 0.5)
      .as[(String, Long)].collect().toMap
    val sampled = graft.ops.Sampling.hashSample(docs, "doc_id", 0.5)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(out === sampled.map { case (k, v) => k -> math.round(v / 0.5) })
    // rerun identical: the sample is the seeded hash, not an RNG
    assert(Aggs.randomSamplerTerms(docs, "doc_id", "lang", 0.5)
      .as[(String, Long)].collect().toMap === out)
  }

  test("significantText collapses duplicate (text, slice) rows before scoring") {
    val docs = Seq(
      ("syndicated boilerplate card", "en"), ("syndicated boilerplate card", "en"),
      ("syndicated boilerplate card", "en"), ("unique meaning here", "en"),
      ("syndicated boilerplate card", "zh"), ("characteristic token", "zh"),
    ).toDF("text", "lang")
    val out = Aggs.significantText(docs, col("text"), col("lang") === "zh",
      graft.ops.Dedup.tokens, n = 10)
      .as[(String, Long, Long, Double)].collect().toSeq
    // deduped frame: 4 rows (boilerplate collapses per slice), fg total 2
    // "characteristic"/"token": fg 1/1, bg 1/4 → (0.5−0.25)·(0.5/0.25) = 0.5
    val top = out.filter(r => r._1 == "characteristic" || r._1 == "token")
    assert(top.map(_._2).toSet === Set(1L) && top.map(_._3).toSet === Set(1L))
    assert(top.map(_._4).toSet === Set(0.5))
    // boilerplate counts once per slice, not five times
    val bp = out.find(_._1 == "boilerplate").get
    assert(bp._2 === 1L && bp._3 === 2L)
    // without the filter, raw doc frequencies drive the counts
    val raw = Aggs.significantText(docs, col("text"), col("lang") === "zh",
      graft.ops.Dedup.tokens, n = 10, filterDuplicateText = false)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(raw.find(_._1 == "boilerplate").get._3 === 4L)
  }

  test("timeSeriesCounterRate: reset-adjusted increases per series bucket") {
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val ts11 = java.sql.Timestamp.valueOf("2024-01-01 11:05:00")
    val rows = Seq(
      // series A, hour 10: 10 (first: 0), 17 (+7), 3 (RESET: +3)
      ("A", ts(0), 1L, 10L), ("A", ts(10), 2L, 17L), ("A", ts(20), 3L, 3L),
      // series A, hour 11: 9 (+6 — the boundary delta lands here)
      ("A", ts11, 4L, 9L),
      // series B, hour 10: independent stream, its own first-sample zero
      ("B", ts(5), 5L, 100L), ("B", ts(15), 6L, 130L),
    ).toDF("dim", "ts", "id", "ctr")
    val got = Aggs.timeSeriesCounterRate(rows, Seq("dim"), "ts", col("id"), "ctr")
      .orderBy("dim", "bucket")
      .select("dim", "increase", "rate")
      .as[(String, Long, Double)].collect().toSeq
    assert(got === Seq(
      ("A", 10L, 10.0 / 3600), ("A", 6L, 6.0 / 3600),
      ("B", 30L, 30.0 / 3600)))
    intercept[IllegalArgumentException](
      Aggs.timeSeriesCounterRate(rows, Seq.empty, "ts", col("id"), "ctr"))
    intercept[IllegalArgumentException](
      Aggs.timeSeriesCounterRate(rows, Seq("dim"), "ts", col("id"), "ctr",
        interval = "fortnight"))
  }

  test("categorizeTextMerged: CC closure at the threshold, narrowed template, sums") {
    val msgs = Seq(
      (1L, "user 1 login from host"), (2L, "user 2 login from host"),
      (3L, "user 3 login from host"),
      (4L, "user 4 login from host retry 1"),
      (5L, "user 5 login from host retry 2"),
      (6L, "disk 7 failure alarm"),
      (7L, "cache miss 12"), (8L, "cache hit 9 evict"),
    ).toDF("id", "text")
    // exact templates: "user * login from host" (3) and "user * login
    // from host retry *" (2) share 4 of max 5 word tokens -> 0.8 >= 0.7
    // merges them; the merged key narrows to the shared tokens in the
    // representative's order ('*'s kept); "cache miss *" vs
    // "cache hit * evict" overlap 1/3 stays split
    val got = Aggs.categorizeTextMerged(msgs, "id", "text", threshold = 0.7)
      .as[(String, Long, Long)].collect().toSeq
    assert(got === Seq(
      ("user * login from host", 5L, 1L),
      ("cache hit * evict", 1L, 8L),
      ("cache miss *", 1L, 7L),
      ("disk * failure alarm", 1L, 6L)))
    // threshold 1.0: only identical word-token SETS merge -> none here,
    // the exact categories survive
    val strict = Aggs.categorizeTextMerged(msgs, "id", "text", threshold = 1.0)
      .as[(String, Long, Long)].collect().toSeq
    assert(strict.toSet === Set(
      ("user * login from host", 3L, 1L),
      ("user * login from host retry *", 2L, 4L),
      ("cache miss *", 1L, 7L), ("cache hit * evict", 1L, 8L),
      ("disk * failure alarm", 1L, 6L)))
    intercept[IllegalArgumentException](
      Aggs.categorizeTextMerged(msgs, "id", "text", threshold = 0.0))
    intercept[IllegalArgumentException](
      Aggs.categorizeTextMerged(msgs, "id", "text", threshold = 1.5))
  }

  test("frequentItemSets: Apriori counts, closed-set filter, ordering, loud growth cap") {
    // counts: a=4 b=3 c=5 d=2; ab=3 ac=4 bc=3 (c,d co-occur only once —
    // below support); abc=3 — so a, b, ab, bc are NOT closed (an
    // equal-count strict superset exists) and the closed family at
    // support 2/6 is {c:5, ac:4, abc:3, d:2}
    val tx = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("c", "b", "a")),          // order inside a basket is free
      (3L, Seq("a", "b", "c")),
      (4L, Seq("a", "c", "c", "a")),     // duplicates count once
      (5L, Seq("c", "d")),
      (6L, Seq("d")),
    ).toDF("id", "items")
    val got = Aggs.frequentItemSets(tx, col("items"),
        minSupport = 0.3, minSetSize = 1, size = 10)
      .as[(String, Long, Double)].collect().toSeq
    assert(got === Seq(
      ("c", 5L, 5.0 / 6), ("a,c", 4L, 4.0 / 6),
      ("a,b,c", 3L, 3.0 / 6), ("d", 2L, 2.0 / 6)))
    // minimum_set_size drops the singleton; size truncates after ordering
    assert(Aggs.frequentItemSets(tx, col("items"),
        minSupport = 0.3, minSetSize = 2, size = 2)
      .as[(String, Long, Double)].collect().toSeq
      === Seq(("a,c", 4L, 4.0 / 6), ("a,b,c", 3L, 3.0 / 6)))
    // a level still growing at maxSetSize raises instead of truncating
    // (closed-filter completeness), naming the cap
    val e = intercept[IllegalArgumentException](
      Aggs.frequentItemSets(tx, col("items"),
        minSupport = 0.3, maxSetSize = 2))
    assert(e.getMessage.contains("maxSetSize=2"))
    // parameter rejects
    intercept[IllegalArgumentException](
      Aggs.frequentItemSets(tx, col("items"), minSupport = 0.0))
    intercept[IllegalArgumentException](
      Aggs.frequentItemSets(tx, col("items"), minSupport = 1.5))
    intercept[IllegalArgumentException](
      Aggs.frequentItemSets(tx, col("items"), minSetSize = 0))
  }

  test("frequentItemSets: local mining ≡ distributed counting (r19 basket compression)") {
    // The r19 optimization mines the lattice driver-side when the
    // distinct-basket table is provably bounded, and otherwise counts
    // distributed over multiplicity-weighted distinct baskets. Both
    // backends must be output-identical — including duplicate baskets
    // (weighted counting), duplicate items in a basket, nulls inside
    // baskets, and empty/null baskets (counted in N, in no itemset).
    val tx = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("c", "b", "a")),            // same basket, other order
      (3L, Seq("a", "b", "c", "c", null)), // dup item + null item
      (4L, Seq("a", "c")),
      (5L, Seq("c", "d")),
      (6L, Seq[String]()),                 // empty basket
      (7L, null.asInstanceOf[Seq[String]]), // null basket
      (8L, Seq("a", "c", "d")),
    ).toDF("id", "items")
    val local = Aggs.frequentItemSets(tx, col("items"),
        minSupport = 0.25, minSetSize = 1, size = 20)
      .as[(String, Long, Double)].collect().toSeq
    val dist = Aggs.frequentItemSets(tx, col("items"),
        minSupport = 0.25, minSetSize = 1, size = 20,
        localMiningMaxBaskets = 0) // force the distributed backend
      .as[(String, Long, Double)].collect().toSeq
    assert(local === dist)
    // spot-pin the counts: N = 8 (empty/null baskets count toward support);
    // {a,b,c} appears 3×, {a,c} ⊆ 5 baskets, c in 6
    assert(local.contains(("a,b,c", 3L, 3.0 / 8)))
    assert(local.contains(("a,c", 5L, 5.0 / 8)))
    assert(local.contains(("c", 6L, 6.0 / 8)))
    // the probe boundary itself: a bound of exactly |distinct baskets|
    // stays local, one below falls back — both identical
    val boundary = Aggs.frequentItemSets(tx, col("items"),
        minSupport = 0.25, size = 20, localMiningMaxBaskets = 6)
      .as[(String, Long, Double)].collect().toSeq
    val fallback = Aggs.frequentItemSets(tx, col("items"),
        minSupport = 0.25, size = 20, localMiningMaxBaskets = 5)
      .as[(String, Long, Double)].collect().toSeq
    assert(boundary === local && fallback === local)
  }

  test("frequentItemSets: a few very wide baskets take the distributed backend, same answer") {
    // 3 baskets of 350k distinct items each: far under the 65536-basket
    // row bound, yet 1.05M items in all — over LocalMiningMaxItems, so the
    // decision must not collect them. 5 narrow baskets carry the answer.
    val wide = spark.range(3).select(concat(array(lit("common")),
      transform(sequence(lit(0), lit(349999)),
        i => concat(lit("w"), col("id").cast("string"), lit("_"), i.cast("string")))).as("items"))
    val tx = wide.unionByName(Seq.fill(5)(Seq("common", "b")).toDF("items"))
    assert(!Aggs.minesLocally(tx.select(col("items").as("_items")), 65536))
    assert(Aggs.minesLocally(Seq.fill(5)(Seq("common", "b")).toDF("_items"), 65536))
    val got = Aggs.frequentItemSets(tx, col("items"), minSupport = 0.5, size = 20)
      .as[(String, Long, Double)].collect().toSeq
    // N = 8: 'common' in all 8, {b, common} in 5; {b} is not closed
    assert(got === Seq(("common", 8L, 1.0), ("b,common", 5L, 5.0 / 8)))
  }

  test("percentilesBucket: R-7 interpolation over the sibling buckets, one row per percent") {
    import spark.implicits._
    // 5 buckets with metric 10,20,30,40,50: p50 = 30 exactly; p25 lands
    // between 10 and 20 at h = 4·0.25 = 1 -> 20? No: R-7 h = (n-1)q = 1.0
    // -> exactly the 2nd order statistic, 20. p10: h = 0.4 -> 10 + 0.4·10 = 14.
    val series = Seq(("a", 30.0), ("b", 10.0), ("c", 50.0), ("d", 20.0), ("e", 40.0))
      .toDF("bucket", "v")
    val out = Aggs.percentilesBucket(series, "v", Seq(10.0, 25.0, 50.0, 100.0))
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    assert(out === Seq((10.0, 14.0), (25.0, 20.0), (50.0, 30.0), (100.0, 50.0)))
    // parameter rejects: empty, out of range, unsorted (ES keys by percent)
    intercept[IllegalArgumentException](Aggs.percentilesBucket(series, "v", Seq()))
    intercept[IllegalArgumentException](Aggs.percentilesBucket(series, "v", Seq(-1.0)))
    intercept[IllegalArgumentException](Aggs.percentilesBucket(series, "v", Seq(50.0, 25.0)))
  }

}
