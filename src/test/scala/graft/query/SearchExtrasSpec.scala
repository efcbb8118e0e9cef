package graft.query

import graft.SparkSpecBase
import graft.expr.TextMatch
import org.apache.spark.sql.functions._

/** Round-13 sixth batch: more_like_this, the term suggester, and
  * highlighting — the search-response tier around BM25.
  */
class SearchExtrasSpec extends SparkSpecBase {
  import spark.implicits._

  test("moreLikeThis selects seed terms by tf·idf past the prunes and excludes the seed") {
    // seed 1: 'rare' tf=2 (df=2), 'common' tf=2 (df=4 — all docs),
    // 'once' tf=1 (pruned by min_term_freq=2), 'thin' tf=2 but df=1... df
    // counts docs: 'thin' appears only in seed -> df=1, pruned by
    // min_doc_freq=2.
    val docs = Seq(
      (1L, "rare rare common common once thin thin"),
      (2L, "rare common zz zz zz"),
      (3L, "common yy yy"),
      (4L, "common xx"),
    ).toDF("id", "text")
    val out = MoreLikeThis.moreLikeThis(docs, "id", "text", seedId = 1L,
      maxQueryTerms = 10, k = 10, minTermFreq = 2, minDocFreq = 2)
      .as[(Long, Double)].collect().toSeq
    // seed never returns; every candidate contains a selected term
    assert(!out.map(_._1).contains(1L))
    // doc 2 contains 'rare' (idf-heavy) + 'common' -> highest score
    assert(out.head._1 === 2L)
    // docs 3 and 4 match only 'common'; shorter doc 4 scores higher (BM25
    // length normalization), tie broken deterministically otherwise
    assert(out.map(_._1) === Seq(2L, 4L, 3L))
    assert(out.forall(_._2 > 0))
  }

  test("likeText selection: tf/word-length/df gates, classic idf ranking, term tie-break") {
    val docs = Seq(
      (1L, "rare rare common stop alpha"),
      (2L, "rare common stop stop"),
      (3L, "common stop"),
      (4L, "stop stop stop"),
    ).toDF("id", "text")
    val analyzed = concat(lit(" "), TextMatch.normalized(col("text")), lit(" "))
    // tf≥2 keeps rare/common/stop/zz/a; minWordLength=2 kills 'a';
    // zz has df 0 (never in corpus); maxDocFreq=3 kills 'stop' (df 4)
    val like = "rare rare common common stop stop zz zz a a alpha"
    val p = MoreLikeThis.MltParams(maxQueryTerms = 2, minTermFreq = 2,
      minDocFreq = 1, maxDocFreq = 3, minWordLength = 2,
      minimumShouldMatch = "50%")
    val (sel, n, sumdl) = MoreLikeThis.likeTextSelect(docs, analyzed, like, p)
    assert(n === 4 && sumdl === 14)
    // scores: rare 2·(1+ln(4/3)) ≈ 2.575 > common 2·(1+ln(4/4)) = 2.0
    assert(sel.map(_.term) === Seq("rare", "common"))
    assert(sel.map(_.df) === Seq(2L, 3L))
    val terms = MoreLikeThis.likeTextTermsDF(spark, docs, analyzed, like, p)
      .as[(String, Long, Long)].collect().toSeq
    assert(terms === Seq(("common", 2L, 3L), ("rare", 2L, 2L)))
    // EXACT score tie (same tf, same df): alpha vs a twin — term breaks it
    val docs2 = Seq((1L, "aa bb cc"), (2L, "aa bb")).toDF("id", "text")
    val p1 = MoreLikeThis.MltParams(maxQueryTerms = 1, minTermFreq = 1,
      minDocFreq = 1)
    val (tie, _, _) = MoreLikeThis.likeTextSelect(docs2,
      concat(lit(" "), TextMatch.normalized(col("text")), lit(" ")),
      "bb aa", p1)
    assert(tie.map(_.term) === Seq("aa"), "equal tf·idf breaks by term asc")
    // rejects: out-of-corpus like-text, candidate-cap overflow
    intercept[IllegalArgumentException](
      MoreLikeThis.likeTextSelect(docs, analyzed, "zz zz",
        MoreLikeThis.MltParams(minTermFreq = 2, minDocFreq = 1)))
    val hugeLike = (0 until 600).map(i => s"t$i t$i").mkString(" ")
    intercept[IllegalArgumentException](
      MoreLikeThis.likeTextSelect(docs, analyzed, hugeLike,
        MoreLikeThis.MltParams(minTermFreq = 2, minDocFreq = 1)))
  }

  test("likeText matchSet applies minimum_should_match over the selected disjunction") {
    val docs = Seq(
      (1L, "rare rare common stop alpha"),
      (2L, "rare common stop stop"),
      (3L, "common stop"),
      (4L, "stop stop stop"),
    ).toDF("id", "text")
    val analyzed = concat(lit(" "), TextMatch.normalized(col("text")), lit(" "))
    val like = "rare rare common common stop stop zz zz a a alpha"
    val p = MoreLikeThis.MltParams(maxQueryTerms = 2, minTermFreq = 2,
      minDocFreq = 1, maxDocFreq = 3, minWordLength = 2,
      minimumShouldMatch = "50%")
    // selected = {rare, common}; 50% of 2 -> 1 required
    val got = MoreLikeThis.likeTextMatchSet(docs, "id", analyzed, like, p)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L), (2L, 2L), (3L, 1L)))
    // 100% -> both required: doc 3 drops out
    val all = MoreLikeThis.likeTextMatchSet(docs, "id", analyzed, like,
        p.copy(minimumShouldMatch = "100%"))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(all === Seq((1L, 2L), (2L, 2L)))
  }

  test("likeTextTopK equals Bm25 over the same selection with full-corpus stats") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val analyzed = concat(lit(" "), TextMatch.normalized(col("text")), lit(" "))
    val like = "dup vector scan dup fast vector merge fast the the a scan"
    val p = MoreLikeThis.MltParams(maxQueryTerms = 3, minTermFreq = 2,
      minDocFreq = 2, minWordLength = 3, minimumShouldMatch = "50%")
    val (sel, _, _) = MoreLikeThis.likeTextSelect(docs, analyzed, like, p)
    val mlt = MoreLikeThis.likeTextTopK(docs, "doc_id", analyzed, like,
      k = 10, p).as[(Long, Double)].collect().toSeq
    val stats = Bm25.corpusStats(docs, analyzed, sel.map(_.term))
    val bm = Bm25.topK(docs, "doc_id", analyzed,
        Bm25.Terms.words(sel.map(_.term).mkString(" ")), k = 10, stats = Some(stats))
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .as[(Long, Double)].collect().toSeq
    assert(mlt === bm)
  }

  test("moreLikeThis score equals Bm25 topK over the same selected terms (rounded)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val mlt = MoreLikeThis.moreLikeThis(docs, "doc_id", "text", seedId = 42L,
      maxQueryTerms = 3, k = 8).as[(Long, Double)].collect().toMap
    // recover the 3 selected terms by replaying the selection pieces
    val toks = docs.select(col("doc_id"),
        explode(split(trim(TextMatch.normalized(col("text"))), " +")).as("term"))
      .where(length(col("term")) > 0)
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.count()
    val sel = tf.where(col("doc_id") === 42L && col("tf") >= 2)
      .join(df, "term").where(col("df") >= 5)
      .withColumn("idf",
        log(lit(1.0) + (lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .orderBy((col("tf").cast("double") * col("idf")).desc, col("term").asc)
      .limit(3).select("term").as[String].collect().toSeq
    // corpus stats over the FULL corpus (MLT only excludes the seed from
    // scoring, not from the statistics)
    val analyzed = concat(lit(" "), TextMatch.normalized(col("text")), lit(" "))
    val stats = Bm25.corpusStats(docs, analyzed, sel)
    val bm = Bm25.topK(docs.where(col("doc_id") =!= 42L), "doc_id", analyzed,
      Bm25.Terms.words(sel.mkString(" ")), k = 8, stats = Some(stats)).as[(Long, Double)].collect().toMap
    assert(mlt.keySet === bm.keySet)
    for ((id, s) <- mlt)
      assert(math.abs(s - bm(id)) < 1e-6, s"doc $id: mlt=$s bm25=${bm(id)}")
  }

  test("suggestTerms ranks by distance, then document frequency, then term; never the input") {
    // 'tble' -> table d=1 (insert a) df=2, able d=1 (sub t/a) df=1,
    // the d=2 df=3: distance ranks first, then df within a distance.
    val docs = Seq(
      (1L, "the table stands"), (2L, "the able mind"), (3L, "the end"),
      (4L, "table table tble"),
    ).toDF("id", "text")
    val out = Fuzzy.suggestTerms(docs, col("text"), "tble", maxEdits = 2, n = 10)
      .as[(String, Long, Int)].collect().toSeq
    assert(!out.map(_._1).contains("tble")) // distance-0 never suggested
    // df counts docs, not occurrences (table appears 3x in 2 docs)
    assert(out.take(3) === Seq(("table", 2L, 1), ("able", 1L, 1), ("the", 3L, 2)))
  }

  test("suggestCompletion: exact prefixes first, fuzzy band behind the guard, rank by distance/freq/term") {
    val vocab = Seq(("spark", 5L), ("spot", 3L), ("scan", 9L), ("small", 9L),
      ("apple", 2L), ("sp", 1L)).toDF("term", "freq")
    // fuzziness 0: pure prefix, ranked freq desc then term
    val exact = Fuzzy.suggestCompletion(vocab, "sp", size = 10)
      .as[(String, Long, Long)].collect().toSeq
    assert(exact === Seq(("spark", 5L, 0L), ("spot", 3L, 0L), ("sp", 1L, 0L)))
    // fuzziness 1 with the default first-char guard: one-edit 2-prefixes
    // join at distance 1 (scan/small tie on freq → term asc); apple's
    // guard char differs and never matches
    val fuzzy = Fuzzy.suggestCompletion(vocab, "sp", size = 10, fuzziness = 1)
      .as[(String, Long, Long)].collect().toSeq
    assert(fuzzy === Seq(("spark", 5L, 0L), ("spot", 3L, 0L), ("sp", 1L, 0L),
      ("scan", 9L, 1L), ("small", 9L, 1L)))
    // a longer guard shuts the fuzzy band
    val guarded = Fuzzy.suggestCompletion(vocab, "sp", size = 10,
      fuzziness = 1, prefixLength = 2).as[(String, Long, Long)].collect().toSeq
    assert(guarded.map(_._1) === Seq("spark", "spot", "sp"))
    intercept[IllegalArgumentException](Fuzzy.suggestCompletion(vocab, ""))
    intercept[IllegalArgumentException](
      Fuzzy.suggestCompletion(vocab, "sp", fuzziness = 3))
  }

  test("suggestPhrase corrects via the bigram LM where term ranking alone would not") {
    // 'grep log' is the dominant bigram; 'grap' alone ranks 'grab' (freq 3)
    // above 'grep' (freq 2) at equal distance 1 — the LM flips it because
    // 'grab log' is an unseen bigram and 'grep log' is cheap.
    val docs = (1 to 3).map(i => (i.toLong, "grab the bag")) ++
      Seq((4L, "grep log lines grep log files"), (5L, "grep log streams"))
    val df = docs.toDF("id", "text")
    val out = Fuzzy.suggestPhrase(df, "id", "text", "grap log",
      maxEdits = 1, perTermCandidates = 3, n = 3)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out.head._1 === "grep log")
    // the term suggester alone prefers 'grab' (freq ranking)
    val term = Fuzzy.suggestTerms(df, col("text"), "grap", maxEdits = 1, n = 2)
      .as[(String, Long, Int)].collect().toSeq
    assert(term.head._1 === "grab")
    // single-term phrase degenerates to edit ranking; bound is loud
    val one = Fuzzy.suggestPhrase(df, "id", "text", "grap", maxEdits = 1, n = 2)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(one.forall(_._2 === 0L)) // no bigrams -> lm_cost 0
    intercept[IllegalArgumentException](
      Fuzzy.suggestPhrase(df, "id", "text", "a b c d e f"))
  }

  test("collapseTopHits keeps one best hit per group; searchAfter continues the ranking exactly") {
    val scored = Seq(
      (1L, 9.0, "en"), (2L, 8.0, "en"), (3L, 8.0, "fr"),
      (4L, 7.0, "fr"), (5L, 6.0, "zh"), (6L, 5.0, "zh"),
    ).toDF("id", "score", "lang")
    val collapsed = Paging.collapseTopHits(scored, "id", "score", "lang", k = 10)
      .select("id").as[Long].collect().toSeq
    assert(collapsed === Seq(1L, 3L, 5L)) // best of en, fr, zh in score order
    // search_after: every page of size 2 stitches back to the full ranking
    val full = scored.orderBy(desc("score"), asc("id"))
      .select("id").as[Long].collect().toSeq
    val page1 = scored.orderBy(desc("score"), asc("id")).limit(2)
      .select("id", "score").as[(Long, Double)].collect().toSeq
    val (aId, aScore) = (page1.last._1, page1.last._2)
    val page2 = Paging.searchAfter(scored.select("id", "score"), "id", "score",
      aScore, aId, k = 2).select("id").as[Long].collect().toSeq
    assert(page1.map(_._1) ++ page2 === full.take(4))
    // the equal-score boundary pages correctly (anchor id 2, score 8.0 ->
    // id 3 at the same score must appear on page 2)
    assert(page2.head === 3L)
  }

  test("collapseInnerHits: groups by best hit, innerK runners-up, bounded k") {
    val scored = Seq(
      (1L, 9.0, "en"), (2L, 8.0, "en"), (7L, 4.0, "en"),
      (3L, 8.0, "fr"), (4L, 7.0, "fr"),
      (5L, 6.0, "zh"), (6L, 5.0, "zh"),
      (8L, 3.0, "de"),
    ).toDF("id", "score", "lang")
    val out = Paging.collapseInnerHits(scored, "id", "score", "lang",
        k = 3, innerK = 2)
      .select("lang", "group_rank", "inner_rank", "id")
      .as[(String, Int, Int, Long)].collect().toSeq
    // groups by best hit: en(9) > fr(8) > zh(6); de(3) cut by k=3;
    // en's third hit (id 7) cut by innerK=2
    assert(out === Seq(
      ("en", 1, 1, 1L), ("en", 1, 2, 2L),
      ("fr", 2, 1, 3L), ("fr", 2, 2, 4L),
      ("zh", 3, 1, 5L), ("zh", 3, 2, 6L)))
    intercept[IllegalArgumentException](
      Paging.collapseInnerHits(scored, "id", "score", "lang", k = 0, innerK = 1))
  }

  test("LTR feature log: f_bm25 is bit-identical to the serving score, labels join the judged set") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val judged = docs.where(TextMatch.containsToken(col("text"), "dup"))
      .select("doc_id")
    val feats = Ltr.logFeatures(docs, "doc_id", "text", "dup vector scan", judged, k = 10)
      .collect()
    val serving = Bm25.topKRaw(docs, "doc_id", "text", "dup vector scan", k = 10)
      .as[(Long, Double)].collect().toMap
    val judgedSet = judged.as[Long].collect().toSet
    assert(feats.length === 10)
    for (r <- feats) {
      val id = r.getLong(0)
      assert(r.getAs[Double]("f_bm25") === serving(id), s"doc $id score drifted")
      assert((r.getInt(1) == 1) === judgedSet(id), s"doc $id label wrong")
      // tf features positive iff the doc matched at least one term; dl > 0
      assert(r.getAs[Long]("f_dl") > 0)
    }
  }

  test("LTR loop closes: the trained reranker lifts NDCG over BM25 where labels follow a non-BM25 feature") {
    // Construct a log where relevance correlates with f_tf1 ('vector'
    // occurrences) while f_bm25 ranks by something else — the reranker
    // must learn to weight f_tf1 and beat the BM25 ordering.
    val log = Seq(
      //  id, label, f_dl, f_tf0, f_tf1, f_bm25
      (1L, 0, 10L, 5L, 0L, 9.0), (2L, 0, 10L, 4L, 0L, 8.0),
      (3L, 1, 10L, 1L, 3L, 7.0), (4L, 1, 10L, 1L, 4L, 6.0),
      (5L, 0, 10L, 2L, 0L, 5.0), (6L, 1, 10L, 0L, 2L, 4.0),
    ).toDF("id", "label", "f_dl", "f_tf0", "f_tf1", "f_bm25")
    val feats = Seq("f_tf0", "f_tf1", "f_bm25")
    val w = Ltr.trainLinear(log, feats, "label")
    val reranked = Ltr.rerank(log, "id", feats, w)
      .select("id", "ltr_score").as[(Long, Double)].collect().map(r => (r._1, r._2))
    // relevant docs rise to the top of the reranked list
    assert(reranked.take(3).map(_._1).toSet === Set(3L, 4L, 6L))
    // quantified: NDCG@6 improves over the BM25 ordering
    val judged = Seq(3L, 4L, 6L).toDF("id")
    val bm25Ndcg = RankEval.evaluate(
        log.select(col("id"), col("f_bm25").as("score")), "id", "score", judged, 6)
      .select("ndcg_at_k").as[Double].head()
    val ltrNdcg = RankEval.evaluate(
        Ltr.rerank(log, "id", feats, w)
          .select(col("id"), col("ltr_score").as("score")), "id", "score", judged, 6)
      .select("ndcg_at_k").as[Double].head()
    assert(ltrNdcg > bm25Ndcg, s"ltr=$ltrNdcg bm25=$bm25Ndcg")
    assert(ltrNdcg === 1.0) // separable by construction
  }

  test("highlight wraps whole tokens case-insensitively and never re-matches inserted tags") {
    val df = Seq(
      (1L, "Dup and DUPS and dup."),
      (2L, "em goes emphatic"),
    ).toDF("id", "text")
    val hl = df.select(col("id"),
      TextMatch.highlight(col("text"), "dup em").as("h"))
      .as[(Long, String)].collect().toMap
    // whole tokens only (DUPS untouched), original case preserved
    assert(hl(1L) === "<em>Dup</em> and DUPS and <em>dup</em>.")
    // the term 'em' occurs inside the inserted tag string — single-pass
    // alternation must not highlight the tags themselves
    assert(hl(2L) === "<em>em</em> goes emphatic")
  }

  test("highlightFragments: fixed windows ranked by match count, order score-then-offset") {
    // fragmentSize 10 → windows |0123456789|0123456789|...
    val df = Seq(
      // windows: "aa dup dup" (2 matches), " bb cc dd " (0), "dup ee ff" (1)
      (1L, "aa dup dup bb cc dd dup ee ff"),
      (2L, "no matches anywhere here"),
      (3L, "dup"),
    ).toDF("id", "text")
    val out = df.select(col("id"),
      TextMatch.highlightFragments(col("text"), "dup",
        fragmentSize = 10, numberOfFragments = 2).as("f"))
      .as[(Long, Seq[String])].collect().toMap
    // two-match window first, then the one-match window; zero-match
    // window never surfaces; matches wrapped inside each fragment
    assert(out(1L) === Seq("aa <em>dup</em> <em>dup</em>", "<em>dup</em> ee ff"))
    assert(out(2L) === Seq.empty)
    assert(out(3L) === Seq("<em>dup</em>"))
    // numberOfFragments truncates: only the best window survives
    val one = df.where(col("id") === 1L).select(
      TextMatch.highlightFragments(col("text"), "dup",
        fragmentSize = 10, numberOfFragments = 1).as("f"))
      .as[Seq[String]].collect().head
    assert(one === Seq("aa <em>dup</em> <em>dup</em>"))
    // a term cut by a window boundary ("aaaaaaaa d|up") matches in
    // neither window — the documented fixed-window delta from ES's
    // passage breaker
    val cut = Seq((1L, "aaaaaaaa dup")).toDF("id", "text")
      .select(TextMatch.highlightFragments(col("text"), "dup",
        fragmentSize = 10, numberOfFragments = 2).as("f"))
      .as[Seq[String]].collect().head
    assert(cut === Seq.empty)
    intercept[IllegalArgumentException](
      TextMatch.highlightFragments(col("text"), "dup", fragmentSize = 0))
  }
}
