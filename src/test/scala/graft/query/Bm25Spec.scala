package graft.query

import graft.expr.TokenOccurrences
import graft.store.SearchIndex
import org.apache.spark.sql.functions._

/** BM25 ranked retrieval: hand-computed fixture scores, indexed-path
  * equivalence, TF-kernel edge cases, and the top-k plan shape.
  */
class Bm25Spec extends graft.SparkSpecBase {
  import spark.implicits._

  // Fixture small enough to score by hand: query "spark table" against
  // n=4 docs, sumdl=10, avgdl=2.5, df(spark)=2, df(table)=2.
  private lazy val docs = Seq(
    (1L, "Spark, spark: TABLE!"), // dl 3, tf(spark)=2, tf(table)=1
    (2L, "spark join"),           // dl 2, tf(spark)=1
    (3L, "table scan scan table"),// dl 4, tf(table)=2
    (4L, "window"),               // dl 1, no match
  ).toDF("doc_id", "text")

  /** The reference scorer, straight from the published formula. */
  private def bm25(tf: Double, df: Double, n: Double, dl: Double, avgdl: Double,
      k1: Double = Bm25.DefaultK1, b: Double = Bm25.DefaultB): Double = {
    val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
  }

  test("topKRaw matches hand-computed scores and ranking, excludes non-matches") {
    val got = Bm25.topKRaw(docs, "doc_id", "text", "Spark TABLE", k = 10)
      .as[(Long, Double)].collect().toSeq
    val expected = Seq(
      1L -> (bm25(2, 2, 4, 3, 2.5) + bm25(1, 2, 4, 3, 2.5)),
      3L -> bm25(2, 2, 4, 4, 2.5),
      2L -> bm25(1, 2, 4, 2, 2.5))
    assert(got.map(_._1) === expected.map(_._1), s"ranking: $got")
    got.zip(expected).foreach { case ((_, s), (_, e)) =>
      assert(math.abs(s - e) < 1e-12, s"score $s vs hand-computed $e")
    }
  }

  test("duplicate query terms collapse; k truncates with doc_id tiebreak") {
    val dup = Bm25.topKRaw(docs, "doc_id", "text", "spark spark spark", k = 10)
      .as[(Long, Double)].collect().toSeq
    val single = Bm25.topKRaw(docs, "doc_id", "text", "spark", k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(dup === single)
    // doc 1 (dl 3) vs doc 2 (dl 2) on one term: shorter doc wins at equal tf
    assert(single.map(_._1) === Seq(1L, 2L), "tf=2 beats tf=1 here")
    assert(Bm25.topKRaw(docs, "doc_id", "text", "spark", k = 1)
      .as[(Long, Double)].collect().map(_._1).toSeq === Seq(1L))
  }

  test("indexed path over stored _split column with precomputed stats is identical") {
    val indexed = SearchIndex.withAnalyzedColumns(docs, Seq("text"))
    val terms = Bm25.queryTerms("spark table")
    val stats = Bm25.corpusStats(indexed, col("text_split"), terms)
    val viaIndex = Bm25.topK(indexed, "doc_id", col("text_split"),
        Bm25.Terms.words("spark table"), k = 10, stats = Some(stats))
      .as[(Long, Double)].collect().toSeq
    val viaRaw = Bm25.topKRaw(docs, "doc_id", "text", "spark table", k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(viaIndex === viaRaw)
  }

  test("mergeStats over partition halves equals whole-corpus stats and scores") {
    val terms = Bm25.queryTerms("spark table")
    val full = Bm25.corpusStats(docs,
      concat(lit(" "), graft.expr.TextMatch.normalized(col("text")), lit(" ")), terms)
    val halves = Seq(docs.where(col("doc_id") <= 2), docs.where(col("doc_id") > 2))
      .map(h => Bm25.corpusStats(h,
        concat(lit(" "), graft.expr.TextMatch.normalized(col("text")), lit(" ")), terms))
    val merged = Bm25.mergeStats(halves)
    assert(merged.collect().toSeq === full.collect().toSeq)
    val viaMerged = Bm25.topKRaw(docs, "doc_id", "text", "spark table", k = 10)
      .as[(Long, Double)].collect().toSeq
    val viaStats = Bm25.topK(docs, "doc_id",
        concat(lit(" "), graft.expr.TextMatch.normalized(col("text")), lit(" ")),
        Bm25.Terms.words("spark table"), k = 10, stats = Some(merged))
      .as[(Long, Double)].collect().toSeq
    assert(viaStats === viaMerged)
  }

  test("TokenOccurrences counts whole tokens, shared boundaries, empty input") {
    val padded = Seq(" a a a ", " aa a ", "  ", " ab ba ", " a  a ")
      .toDF("s").select(TokenOccurrences(col("s"), "a").as("n"))
      .as[Int].collect().toSeq
    // adjacent same-token runs share one boundary space; 'aa'/'ab'/'ba' are
    // different tokens; double internal spacing still bounds both sides
    assert(padded === Seq(3, 1, 0, 0, 2))
  }

  test("TokenOccurrences phrase form counts token-sequence positions") {
    val got = Seq(" a a a ", " a b a b ", " a b c ", " b a ", " aa b ")
      .toDF("s").select(TokenOccurrences(col("s"), "a b").as("n"))
      .as[Int].collect().toSeq
    // " a a a " has no "a b"; " a b a b " starts at positions 1 and 3;
    // self-overlap check is "a a" below; 'aa b' is a different first token
    assert(got === Seq(0, 2, 1, 0, 0))
    val overlap = Seq(" a a a ").toDF("s")
      .select(TokenOccurrences(col("s"), "a a").as("n")).as[Int].head()
    // token positions 1 and 2 both start "a a" — self-overlapping counts
    assert(overlap === 2)
  }

  test("Unicode analyzer end-to-end: CJK retrieval works, and mixing analyzers is the documented failure") {
    import graft.expr.TextMatch
    val cjk = Seq(
      (1L, "Spark是一个快速的引擎"),
      (2L, "这个引擎处理大数据"),
      (3L, "completely unrelated latin text"),
    ).toDF("doc_id", "text")
    // index with the Unicode analyzer: Han unigrams make "引擎" the
    // two-token phrase "引 擎"
    val indexed = SearchIndex.withAnalyzedColumns(cjk, Seq("text"),
      TextMatch.UnicodeAnalyzer)
    // phrase-prefix over the at-rest Unicode index
    val hits = indexed.where(SearchIndex.phrasePrefixIndexed(
        col("text_split"), "引擎", TextMatch.UnicodeAnalyzer))
      .select("doc_id").as[Long].collect().toSet
    assert(hits === Set(1L, 2L))
    // BM25 over the same index: both CJK docs score, doc 2 has no extra
    // rare terms — ranking is deterministic and CJK-aware
    val ranked = Bm25.topK(indexed, "doc_id", col("text_split"),
        Bm25.Terms.words("引擎", TextMatch.UnicodeAnalyzer), k = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(ranked === Set(1L, 2L))
    // the ASCII analyzer on the same corpus finds NOTHING (CJK chars are
    // non-alphanumeric ASCII → empty token stream): the analyzer-contract
    // failure mode the Analyzer scaladoc documents
    val asciiIndexed = SearchIndex.withAnalyzedColumns(cjk, Seq("text"))
    assert(graft.expr.TextMatch.analyze("引擎").isEmpty)
    val asciiHits = asciiIndexed.where(SearchIndex.phrasePrefixIndexed(
        col("text_split"), "Spark是", TextMatch.AsciiAnalyzer))
      .select("doc_id").as[Long].collect().toSet
    // ASCII analysis of "Spark是" degrades to just "spark" — matches doc 1
    // only because the latin token survives; the CJK half is sheared off
    assert(asciiHits === Set(1L))
  }

  test("EnglishAnalyzer end-to-end: stems meet across inflections, stopwords drop, BM25 composes") {
    import graft.expr.TextMatch
    val corpus = Seq(
      (1L, "The system merges the batches"),     // merges → merg
      (2L, "a merged batch is merging again"),   // merged/merging → merg ×2
      (3L, "no merge happened at all"),          // merge → merg
      (4L, "entirely unrelated words here"),
    ).toDF("doc_id", "text")
    val an = TextMatch.EnglishAnalyzer
    // query side: stopwords vanish, inflections stem
    assert(an.analyze("The Merging") === Seq("merg"))
    assert(an.analyze("the a of") === Nil)
    // column side produces the same stemmed token stream
    val normed = corpus.select(an.normalized(col("text")).as("n"))
      .as[String].collect()
    assert(normed(0) === "system merg batch")
    assert(normed(1) === "merg batch merg again")
    // retrieval: "merge" recalls every inflection — the analyzer's point;
    // the ASCII analyzer finds only the exact form
    val indexed = SearchIndex.withAnalyzedColumns(corpus, Seq("text"), an)
    val hits = Bm25.topK(indexed, "doc_id", col("text_split"),
        Bm25.Terms.words("merge", an), k = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(hits === Set(1L, 2L, 3L))
    val asciiHits = Bm25.topKRaw(corpus, "doc_id", "text", "merge", k = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(asciiHits === Set(3L))
    // doc 2 ranks first: tf(merg) = 2
    val ranked = Bm25.topK(indexed, "doc_id", col("text_split"),
      Bm25.Terms.words("merge", an), k = 1).select("doc_id").as[Long].collect()
    assert(ranked.head === 2L)
  }

  test("topKPhrase ranks by phrase frequency with length normalization") {
    val corpus = Seq(
      (1L, "batch batch batch runs tonight"),   // phrase tf 2, short
      (2L, "batch batch"),                      // phrase tf 1, very short
      (3L, "the batch job and another batch"),  // non-adjacent: tf 0
      (4L, "no match here at all")
    ).toDF("doc_id", "text")
    val got = Bm25.topK(corpus, "doc_id",
        concat(lit(" "), graft.expr.TextMatch.normalized(col("text")), lit(" ")),
        Bm25.Terms.phrase("batch batch"), k = 10)
      .select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L)) // docs 3 and 4 excluded: no phrase occurrence
  }

  test("top-k plan is a partial TakeOrdered, stats arrive by broadcast") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // k below the fixture's row count: EliminateLimits drops a limit
      // that provably covers the whole input (maxRows <= k), and with it
      // the TakeOrdered shape this test pins.
      val plan = Bm25.topKRaw(docs, "doc_id", "text", "spark table", k = 2)
        .queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"), s"global sort instead of top-k:\n$plan")
      assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
        s"stats not broadcast:\n$plan")
      assert(!plan.contains("Window"), s"unpartitioned window crept in:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("crossFields plan: one broadcast stats pass, top-k, no shuffle join, no window") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val two = Seq((1L, "spark spark join", "alpha"), (2L, "join scan", "spark beta"))
        .toDF("doc_id", "text", "title")
      val plan = Bm25.crossFieldsTopK(two, "doc_id",
          Seq("text" -> 1.0, "title" -> 1.0), "spark alpha", k = 1)
        .queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"), s"global sort instead of top-k:\n$plan")
      assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
        s"stats not broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"shuffle join crept in:\n$plan")
      assert(!plan.contains("Window"), s"unpartitioned window crept in:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("multiMatch: per-field stats, best takes the max, most the sum") {
    val two = Seq(
      (1L, "spark spark", "alpha"), // strong in text only
      (2L, "join scan", "spark"),   // matches only in title
      (3L, "spark misc", "spark"),  // matches in both
      (4L, "window", "beta"),       // matches neither
    ).toDF("doc_id", "text", "title")
    def scores(mode: String): Map[Long, Double] =
      Bm25.multiMatchWeightedTopK(two, "doc_id", Seq("text" -> 1.0, "title" -> 1.0), "spark",
          k = 10, mode = mode)
        .as[(Long, Double)].collect().toMap
    val best = scores("best_fields")
    val most = scores("most_fields")
    // per-field reference scores from each field's OWN statistics
    def one(field: String, id: Long): Double =
      Bm25.scored(two, "doc_id",
          concat(lit(" "), graft.expr.TextMatch.normalized(col(field)), lit(" ")),
          Bm25.Terms.words("spark"))
        .as[(Long, Double)].collect().toMap.getOrElse(id, 0.0)
    for (id <- Seq(1L, 2L, 3L)) {
      assert(best(id) === math.max(one("text", id), one("title", id)), s"best $id")
      assert(most(id) === one("text", id) + one("title", id), s"most $id")
    }
    // the both-fields doc outranks single-field docs under most_fields
    assert(most(3L) > most(1L) && most(3L) > most(2L))
    // no-match docs never appear
    assert(!best.contains(4L) && !most.contains(4L))
    intercept[IllegalArgumentException](
      Bm25.multiMatchWeightedTopK(two, "doc_id", Seq("text" -> 1.0), "spark", 5,
        mode = "cross_fields"))
  }

  test("multiMatchWeighted: boosts multiply per-field scores and provably reorder") {
    val two = Seq(
      (1L, "spark spark", "alpha"), // strong in text only
      (2L, "join scan", "spark"),   // matches only in title
      (3L, "spark misc", "spark"),  // matches in both
      (4L, "window", "beta"),       // matches neither
    ).toDF("doc_id", "text", "title")
    def one(field: String, id: Long): Double =
      Bm25.scored(two, "doc_id",
          concat(lit(" "), graft.expr.TextMatch.normalized(col(field)), lit(" ")),
          Bm25.Terms.words("spark"))
        .as[(Long, Double)].collect().toMap.getOrElse(id, 0.0)
    val w = Bm25.multiMatchWeightedTopK(two, "doc_id",
        Seq("text" -> 5.0, "title" -> 1.0), "spark", k = 10)
      .as[(Long, Double)].collect()
    val wm = w.toMap
    for (id <- Seq(1L, 2L, 3L))
      assert(wm(id) === 5.0 * one("text", id) + 1.0 * one("title", id), s"weighted $id")
    assert(!wm.contains(4L))
    // the REORDER pin: unweighted most_fields ranks the both-fields doc 3
    // first; 5× on text puts the text-heavy doc 1 on top
    val unw = Bm25.multiMatchWeightedTopK(two, "doc_id", Seq("text" -> 1.0, "title" -> 1.0),
      "spark", k = 10, mode = "most_fields").as[(Long, Double)].collect()
    assert(unw.head._1 == 3L && w.head._1 == 1L)
    // best_fields takes the max of BOOSTED scores
    val best = Bm25.multiMatchWeightedTopK(two, "doc_id",
        Seq("text" -> 5.0, "title" -> 1.0), "spark", k = 10, mode = "best_fields")
      .as[(Long, Double)].collect().toMap
    for (id <- Seq(1L, 2L, 3L))
      assert(best(id) === math.max(5.0 * one("text", id), 1.0 * one("title", id)))
    // the score-positive set equals the parseFields match set (the
    // filter/scoring twins agree on WHAT matches)
    val spec = SimpleQueryString.parseFields("spark", Seq("text", "title"))
    val matched = two.where(spec.compile).select("doc_id").as[Long].collect().toSet
    assert(matched === wm.keySet)
    intercept[IllegalArgumentException](
      Bm25.multiMatchWeightedTopK(two, "doc_id", Seq("text" -> 0.0), "spark", 5))
  }

  test("combinedFields pools tf/dl/idf across fields - BM25F at unit weights") {
    val two = Seq(
      (1L, "spark spark", "spark"),  // pooled tf 3
      (2L, "join scan", "spark"),    // pooled tf 1
      (3L, "window", "beta"),        // no match
      (4L, "spark misc", null.asInstanceOf[String]), // null field pools as empty
    ).toDF("doc_id", "text", "title")
    val got = Bm25.combinedFieldsTopK(two, "doc_id", Seq("text", "title"),
        "spark", k = 10)
      .as[(Long, Double)].collect().toMap
    // identical to scoring the concatenated text as ONE field
    val concatDocs = two.select(col("doc_id"),
      concat_ws(" ", coalesce(col("text"), lit("")),
        coalesce(col("title"), lit(""))).as("text"))
    val ref = Bm25.topKRaw(concatDocs, "doc_id", "text", "spark", k = 10)
      .as[(Long, Double)].collect().toMap
    assert(got === ref)
    assert(got.contains(1L) && got.contains(2L) && got.contains(4L) && !got.contains(3L))
    // the pooled doc 1 (tf 3 over dl 3) outranks the single-hit doc 2
    assert(got(1L) > got(2L))
    // and combined_fields DIFFERS from multi_match most_fields (separate
    // stats): the two modes are genuinely different scorers
    val most = Bm25.multiMatchWeightedTopK(two, "doc_id", Seq("text" -> 1.0, "title" -> 1.0),
        "spark", k = 10, mode = "most_fields")
      .as[(Long, Double)].collect().toMap
    assert(most(1L) !== got(1L))
  }

  test("dis_max tie_breaker interpolates between best_fields and most_fields") {
    val two = Seq(
      (1L, "spark spark", "alpha"),
      (2L, "join scan", "spark"),
      (3L, "spark misc", "spark"),
    ).toDF("doc_id", "text", "title")
    def run(mode: String, tb: Double = 0.0): Map[Long, Double] =
      Bm25.multiMatchWeightedTopK(two, "doc_id", Seq("text" -> 1.0, "title" -> 1.0), "spark",
          k = 10, mode = mode, tieBreaker = tb)
        .as[(Long, Double)].collect().toMap
    val best = run("best_fields")
    val most = run("most_fields")
    val dm = run("best_fields", tb = 0.3)
    for (id <- Seq(1L, 2L, 3L)) {
      // best + 0.3*(sum - best), exactly
      assert(dm(id) === best(id) + 0.3 * (most(id) - best(id)), s"doc $id")
      assert(dm(id) >= best(id) && dm(id) <= most(id) + 1e-15)
    }
    // tb = 1 IS most_fields (max + (sum - max) = sum)
    assert(run("best_fields", tb = 1.0) === most)
    intercept[IllegalArgumentException](run("most_fields", tb = 0.3))
    intercept[IllegalArgumentException](run("best_fields", tb = 1.5))
  }

  test("crossFields: blended DF per term, per-field tf-norm, per-term dis_max") {
    // 'spark' lives in BOTH fields with different dfs — df(text)=2,
    // df(title)=1 — so the blended df is max = 2 for every field's
    // scoring; 'alpha' lives only in title (blended df = its own 1).
    val two = Seq(
      (1L, "spark spark join", "alpha"), // text: tf(spark)=2  title: tf(alpha)=1
      (2L, "join scan", "spark beta"),   // title: tf(spark)=1
      (3L, "spark misc", "misc x"),      // text: tf(spark)=1
    ).toDF("doc_id", "text", "title")
    // per-field stats: text n=3 sumdl=7; title n=3 sumdl=5
    def sc(tf: Double, dfB: Double, dl: Double, sumdl: Double): Double =
      bm25(tf, dfB, 3, dl, sumdl / 3.0)
    def run(boosts: Seq[(String, Double)], tb: Double = 0.0): Map[Long, Double] =
      Bm25.crossFieldsTopK(two, "doc_id", boosts, "spark alpha", k = 10,
          tieBreaker = tb)
        .as[(Long, Double)].collect().toMap
    val got = run(Seq("text" -> 1.0, "title" -> 1.0))
    // doc 1: spark = max(text sc(2,df 2,dl 3), title sc(0,..)=0);
    //        alpha = max(0, title sc(1, df 1, dl 1))
    val exp1 = math.max(sc(2, 2, 3, 7), 0.0) + math.max(0.0, sc(1, 1, 1, 5))
    val exp2 = math.max(0.0, sc(1, 2, 2, 5)) // spark in title, BLENDED df 2
    val exp3 = sc(1, 2, 2, 7)
    assert(math.abs(got(1L) - exp1) < 1e-12, s"doc1 ${got(1L)} vs $exp1")
    assert(math.abs(got(2L) - exp2) < 1e-12, s"doc2 ${got(2L)} vs $exp2")
    assert(math.abs(got(3L) - exp3) < 1e-12, s"doc3 ${got(3L)} vs $exp3")
    // TEETH vs best_fields: per-field scoring would give doc 2's title
    // 'spark' df=1 (idf ln(1+(3-1+0.5)/1.5)), the blend gives df=2 — the
    // cross_fields score is provably SMALLER.
    val perFieldDoc2 = bm25(1, 1, 3, 2, 5.0 / 3.0)
    assert(got(2L) < perFieldDoc2 - 1e-9,
      "blending must lower doc 2's title-only idf")
    // boost multiplies before the per-term max; tie_breaker folds the
    // losing field in: identities against the unboosted run
    val tb = run(Seq("text" -> 1.0, "title" -> 1.0), tb = 1.0)
    val sum1 = sc(2, 2, 3, 7) + 0.0 + 0.0 + sc(1, 1, 1, 5)
    assert(math.abs(tb(1L) - sum1) < 1e-12, "tb=1 sums the per-field scores")
    intercept[IllegalArgumentException](run(Seq("text" -> -1.0)))
    intercept[IllegalArgumentException](run(Seq("text" -> 1.0), tb = 1.5))
  }

  test("explainTopK: per-term decomposition matches hand values and refolds to the score") {
    val analyzed = concat(lit(" "), graft.expr.TextMatch.normalized(col("text")), lit(" "))
    val rows = Bm25.explainTopK(docs, "doc_id", analyzed, "Spark TABLE", k = 10)
      .select("doc_id", "term", "tf", "df", "idf", "dl", "contribution", "score")
      .as[(Long, String, Long, Long, Double, Int, Double, Double)]
      .collect().toSeq
    // every matching doc explodes into BOTH query terms (zero-tf rows
    // included — ES explains non-contributing clauses too)
    assert(rows.map(_._1).distinct.sorted === Seq(1L, 2L, 3L))
    assert(rows.count(_._1 == 2L) === 2)
    // hand value: doc 1, term spark — tf 2, df 2, the published formula
    val d1spark = rows.find(r => r._1 == 1L && r._2 == "spark").get
    assert(d1spark._3 === 2L && d1spark._4 === 2L && d1spark._6 === 3)
    assert(math.abs(d1spark._7 - bm25(tf = 2, df = 2, n = 4, dl = 3, avgdl = 2.5)) < 1e-12)
    // doc 2 has no 'table': its table row carries tf 0, contribution 0
    val d2table = rows.find(r => r._1 == 2L && r._2 == "table").get
    assert(d2table._3 === 0L && d2table._7 === 0.0)
    // contributions refold to the doc score EXACTLY (same left fold)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val refold = rs.sortBy(_._2).map(_._7) // term order spark < table = query order
      assert(refold.sum === rs.head._8)
    }
  }

  test("every BM25 entry point serves bit-identical (doc_id, score) rows") {
    // One corpus and query through each public path that scores it. The
    // serving route and its engine-direct twin must agree to the ulp, and
    // so must every other entry that restates the same score tree.
    val corpus = Seq(
      (1L, "Spark joins the table; spark again"),
      (2L, "table scan over a wide table"),
      (3L, "join join join"),
      (4L, "spark"),
      (5L, "nothing to see here"),
      (6L, "the table and the spark and the join"),
      (7L, "spark table join spark table join"),
      (8L, "scan spark"),
    ).toDF("doc_id", "text")
    val q = "spark table join"
    val k = 5
    val analyzed = graft.expr.TextMatch.AsciiAnalyzer.padded(col("text"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.select(col("doc_id").cast("long"), col(df.columns(1)).cast("double"))
        .as[(Long, Double)].collect().toSeq
    val raw = rows(Bm25.topKRaw(corpus, "doc_id", "text", q, k))
    assert(raw.size === k)
    val served = rows(Hits.top(Retriever.lexical(corpus, q), "doc_id", k))
    val boosted = rows(Bm25.topK(corpus, "doc_id", analyzed,
      Bm25.Terms.boosted(Bm25.queryTerms(q).map(_ -> 1.0)), k))
    val oneFieldMost = rows(Bm25.multiMatchWeightedTopK(corpus, "doc_id",
      Seq("text" -> 1.0), q, k, mode = "most_fields"))
    val oneFieldBest = rows(Bm25.multiMatchWeightedTopK(corpus, "doc_id",
      Seq("text" -> 1.0), q, k, mode = "best_fields"))
    val explained = Bm25.explainTopK(corpus, "doc_id", analyzed, q, k)
      .select("doc_id", "score").as[(Long, Double)].collect().toSeq.distinct
    val judged = corpus.where(col("doc_id") <= 3L).select("doc_id")
    val logged = rows(Ltr.logFeatures(corpus, "doc_id", "text", q, judged, k)
      .select("doc_id", "f_bm25"))
    val esql = rows(Esql.run(
      s"""FROM t METADATA _score | WHERE MATCH(text, "$q") | KEEP doc_id, _score
         | SORT _score DESC, doc_id | LIMIT $k""", Map("t" -> corpus)))
    for ((name, got) <- Seq("served" -> served, "boosted" -> boosted,
        "multi_match most_fields" -> oneFieldMost, "multi_match best_fields" -> oneFieldBest,
        "explain" -> explained, "ltr f_bm25" -> logged, "esql _score" -> esql))
      assert(got === raw, s"$name drifted from topKRaw")
  }

  test("termVectors: freq and sorted positions per (doc, term)") {
    val got = TermVectors.termVectors(docs, "doc_id", "text")
      .as[(Long, String, Long, Seq[Int])].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got((1L, "spark")) === ((2L, Seq(0, 1))))
    assert(got((1L, "table")) === ((1L, Seq(2))))
    assert(got((3L, "scan")) === ((2L, Seq(1, 2))))
    assert(got((3L, "table")) === ((2L, Seq(0, 3))))
    assert(got((4L, "window")) === ((1L, Seq(0))))
    assert(got.size === 7) // (1:spark,table)(2:spark,join)(3:table,scan)(4:window)
  }
}
