package graft
package registry

import graft.dict.Dictionary
import graft.ops.Similarity
import graft.streaming.EventStreams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SparkEntry._
import OracleSql._

/** The other build paths: dictionary profiling (M1), corpus datasheets
  * and diffs, the batch-parity streaming shapes and the hard-negative
  * pair build.
  */
object BuildQueries extends Family("etl") {

  val cases: Seq[QueryCase] = Seq(
    // The streamed deployment twin: increments-union-dedup must be
    // invisible — the SAME oracle as the one-shot percolation.
    QueryCase("stream_percolate", (s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      // The alerting deployment end-to-end (round-13 verdict #8): stored
      // queries live AT REST as rows (queries-are-data, the webapp's
      // dictionary-driven philosophy) and are compiled at plan-build time;
      // each arriving micro-batch percolates against the compiled set and
      // APPENDS its (query_id, doc_id) alert increment — epoch 0 appended
      // twice, the at-least-once replay the alert-table dedup must absorb.
      // The deduped union of increments must equal the one-shot
      // percolation: stream_percolate SHARES q_percolate's oracle. The
      // true streaming path drives the identical row-local plan through
      // MemoryStream (PercolatorSpec).
      val storedPath = s"/tmp/graft_percolate_stored_${math.abs(dir.hashCode)}"
      Seq(
        ("alert_dup", "text:dup"),
        ("alert_vector_scan", """text:"vector scan""""),
        ("alert_long_en", "lang:en AND n_chars:[400 TO *]"))
        .toDF("query_id", "query_text")
        .write.mode("overwrite").parquet(storedPath)
      val stored = graft.query.Percolator.storedFromTable(
        spark.read.parquet(storedPath), "query_id", "query_text",
        defaultField = "text")
      val docs = load(dir, "documents")
      val alertsPath = s"/tmp/graft_percolate_alerts_${math.abs(dir.hashCode)}"
      def inc(epoch: Int): DataFrame =
        EventStreams.stampEpoch(graft.query.Percolator.percolateLong(
          docs.where(pmod(col("doc_id"), lit(2)) === epoch), "doc_id", stored), epoch)
      // (r18: examined — a localCheckpoint of the replayed epoch-0
      // increment measured cost-neutral: the percolation is row-local and
      // cheap, and the checkpoint adds its own materialization job.)
      inc(0).unionByName(inc(1)).unionByName(inc(0)) // epoch 0 replayed
        .write.mode("overwrite").parquet(alertsPath)
      spark.read.parquet(alertsPath)
        .select("query_id", "doc_id").distinct() // absorb the replay
        .orderBy("query_id", "doc_id")
    }, Some(percolateOracleSql)),

    // Datasheet: each metric leg restated over the same analyzer tokens,
    // md5 fingerprints, and count trees.
    QueryCase("corpus_datasheet", (s, dir) => {
      implicit val spark: SparkSession = s
      // The data card a corpus release publishes beside its shards
      // (Datasheets for Datasets): size, token volume, label diversity,
      // exact-duplicate rate, language concentration — long-form
      // (metric, value) rows, every value a fixed tree over counts.
      ops.Datasheet.corpusReport(load(dir, "documents"),
        "text", "lang", "source")
    }, Some({
      val tokCount = s"len($duckToks)"
      s"""WITH base AS (
         |  SELECT count(*)::BIGINT AS n, sum($tokCount)::BIGINT AS t
         |  FROM documents
         |)
         |SELECT metric, value FROM (
         |  SELECT 'n_docs' AS metric, n::DOUBLE AS value FROM base
         |  UNION ALL SELECT 'n_tokens', t::DOUBLE FROM base
         |  UNION ALL SELECT 'mean_doc_tokens', t::DOUBLE / n::DOUBLE FROM base
         |  UNION ALL SELECT 'n_langs',
         |    (SELECT count(DISTINCT lang) FROM documents)::DOUBLE
         |  UNION ALL SELECT 'n_sources',
         |    (SELECT count(DISTINCT source) FROM documents)::DOUBLE
         |  UNION ALL SELECT 'distinct_text_rate',
         |    (SELECT count(DISTINCT md5(text)) FROM documents)::DOUBLE / n::DOUBLE
         |    FROM base
         |  UNION ALL SELECT 'top_lang_share',
         |    (SELECT max(c) FROM (
         |       SELECT count(*)::BIGINT AS c FROM documents GROUP BY lang))::DOUBLE
         |      / n::DOUBLE
         |    FROM base
         |) ORDER BY metric""".stripMargin
    })),

    // Snapshot diff: identical derived snapshots, md5 fingerprints, the
    // same full-outer status derivation.
    QueryCase("corpus_diff", (s, dir) => {
      implicit val spark: SparkSession = s
      // Snapshot diff — which documents moved between corpus versions
      // (the pre-retrain audit): 'before' lacks the %7 ids and carries
      // older text for the %5 ids; 'after' lacks the %11 ids. One
      // full-outer id join over md5 fingerprints.
      val docs = load(dir, "documents")
      val before = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(5)) === 0, concat(col("text"), lit(" OLD")))
            .otherwise(col("text")))
      val after = docs.where(pmod(col("doc_id"), lit(11)) =!= 0)
      ops.Drift.snapshotDiff(before, after, "doc_id", col("text"))
        .orderBy("doc_id")
    }, Some(
      """SELECT doc_id, status FROM (
        |  SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
        |    CASE WHEN b.f IS NULL THEN 'added'
        |         WHEN a.f IS NULL THEN 'removed'
        |         WHEN b.f <> a.f THEN 'changed' END AS status
        |  FROM (
        |    SELECT doc_id,
        |      md5(CASE WHEN doc_id % 5 = 0 THEN text || ' OLD' ELSE text END) AS f
        |    FROM documents WHERE doc_id % 7 <> 0
        |  ) b FULL OUTER JOIN (
        |    SELECT doc_id, md5(text) AS f FROM documents WHERE doc_id % 11 <> 0
        |  ) a USING (doc_id)
        |) WHERE status IS NOT NULL ORDER BY doc_id""".stripMargin)),

    // split-merge of exactly-mergeable stats == one whole-corpus profile
    QueryCase("dict_profile_incremental", (s, dir) => {
      implicit val spark: SparkSession = s
      // The 100 TB dictionary-maintenance path: profile two halves of the
      // corpus independently (per-day partitions in production), merge the
      // mergeable increments (sums/moments/min-max/HLL sketches), finalize.
      // The projection keeps the EXACTLY-mergeable statistics, which a
      // whole-corpus DuckDB profile must reproduce bit-for-bit (the sketch
      // estimates and float moments have no exact SQL twin — those are
      // pinned by DictionarySpec's split-merge ≡ whole-corpus equivalence).
      val li = load(dir, "lineitem")
      val half1 = Dictionary.profileIncrement(li.where(col("l_orderkey") % 2 === 0))
      val half2 = Dictionary.profileIncrement(li.where(col("l_orderkey") % 2 =!= 0))
      Dictionary.finalizeIncrement(Dictionary.mergeIncrements(half1, half2))
        .select("dict_field", "dict_count", "dict_countmissing",
          "dict_min", "dict_max")
        .orderBy("dict_field")
    }, Some(dictOracle(
      "dict_field, dict_count, dict_countmissing, dict_min, dict_max"))),

    // quantile_cont and Spark's percentile() share the (n-1)*p interpolated
    // definition; both sides round identically (DuckDB lists are 1-based)
    QueryCase("dict_quantiles", (s, dir) => {
      implicit val spark: SparkSession = s
      // The percentile surface of the dictionary (robust range-widget
      // bounds), EXACT form for the oracle: Spark's percentile() and
      // DuckDB's quantile_cont share the (n-1)*p interpolation definition;
      // rounding guards the interpolation arithmetic's last ulp. The
      // KLL-sketch scale twin (quantileIncrement/mergeQuantileIncrements/
      // finalizeQuantiles — mergeable, one kilobyte row per column) is
      // pinned against this exact form in DictionarySpec.
      // One branch per column (the Dictionary.profile plan shape): a wide
      // 4-percentile agg + stack unpivot plans one big ObjectHashAggregate
      // holding all four value collections at once; per-column branches
      // run them as independent narrow stages over pruned scans.
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val li = load(dir, "lineitem")
      cols.map { c =>
        li.select(col(s"`$c`").as("_c"))
          .agg(expr("percentile(_c, array(0.25d, 0.5d, 0.75d))").as("_q"))
          .select(lit(c).as("dict_field"),
            round(col("_q").getItem(0), 4).as("p25"),
            round(col("_q").getItem(1), 4).as("p50"),
            round(col("_q").getItem(2), 4).as("p75"))
      }.reduce(_.unionAll(_))
        .orderBy("dict_field")
    }, Some({
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val subs = cols.map(c =>
        s"SELECT '$c' AS dict_field, quantile_cont($c, [0.25, 0.5, 0.75]) AS q FROM lineitem")
      s"""SELECT dict_field, round(q[1], 4) AS p25, round(q[2], 4) AS p50,
         |  round(q[3], 4) AS p75
         |FROM (${subs.mkString(" UNION ALL ")})
         |ORDER BY dict_field""".stripMargin
    })),

    // ===== M1: dictionary profiling (A1-A2) =====

    QueryCase("dict_profile_lineitem", (s, dir) => {
      implicit val spark: SparkSession = s
      Dictionary.profile(load(dir, "lineitem"))
        .select(col("dict_field"), col("dict_count"), col("dict_countdistinct"),
          col("dict_countmissing"),
          round(col("dict_mean"), 4).as("dict_mean"),
          round(col("dict_stddev"), 4).as("dict_stddev"),
          col("dict_vartype"))
        .orderBy("dict_field")
    }, Some(dictOracle(
      "dict_field, dict_count, dict_countdistinct, dict_countmissing, " +
        "round(dict_mean, 4) AS dict_mean, round(dict_stddev, 4) AS dict_stddev, dict_vartype"))),

    // Hard negatives restated: the same candidate top-50 per anchor, the
    // same threshold split, the same per-role rankings.
    QueryCase("pairs_hard_negatives", (s, dir) => {
      implicit val spark: SparkSession = s
      // Contrastive-pair mining for embedding-model training data (the
      // DPR/ANCE hard-negative recipe): per anchor, the best neighbor at
      // cos ≥ 0.3 becomes the positive, the top-5 in [0.2, 0.3) the hard
      // negatives — close enough to teach the margin, below the
      // duplicate bar. Built on the exact ranking (swap in the IVF
      // retriever at corpus scale — roles and thresholds are
      // retriever-agnostic).
      val emb = load(dir, "embeddings")
      Similarity.hardNegatives(emb, "vec_id", "embedding",
          emb.where(col("vec_id") < 5), "vec_id", "embedding",
          negK = 5, posThreshold = 0.3, negFloor = 0.2)
        .orderBy("anchor_id", "role", "rank")
    }, Some(
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT * FROM e WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |    list_inner_product(e.v, q.v)
         |      / (sqrt(list_inner_product(e.v, e.v)) * sqrt(list_inner_product(q.v, q.v))) AS cos
         |  FROM e, q WHERE e.vec_id <> q.vec_id
         |), cand AS (
         |  SELECT * FROM scored QUALIFY row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) <= 50
         |), pos AS (
         |  SELECT query_id AS anchor_id, 'positive' AS role, 1 AS rank,
         |    neighbor_id, cos
         |  FROM cand WHERE cos >= 0.3
         |  QUALIFY row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) = 1
         |), neg AS (
         |  SELECT query_id AS anchor_id, 'hard_negative' AS role,
         |    row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC)::INT AS rank,
         |    neighbor_id, cos
         |  FROM cand WHERE cos < 0.3 AND cos >= 0.2
         |  QUALIFY rank <= 5
         |)
         |SELECT anchor_id, role, rank, neighbor_id, cos FROM (
         |  SELECT * FROM pos UNION ALL SELECT * FROM neg)
         |ORDER BY anchor_id, role, rank""".stripMargin)),

    QueryCase("stream_sparse_vector", (s, dir) => {
      implicit val spark: SparkSession = s
      // The sparse index as a MAINTAINED at-rest table: the corpus joins
      // the postings as epoch appends (doc-parity halves, epoch 0
      // appended TWICE — the at-least-once replay the per-doc epoch cut
      // must absorb), exactly what maintainPostings writes per
      // micro-batch; serving scores the deduped at-rest view. The oracle
      // is search_sparse_vector's VERBATIM — epochs, replay, and the
      // bucket-partitioned layout must be invisible to results.
      val docs = load(dir, "documents")
      val path = s"/tmp/graft_postings_inc_${math.abs(dir.hashCode)}"
      def inc(epoch: Int): DataFrame =
        EventStreams.stampEpoch(query.SparseVector.tfPostingsBucketed(
          docs.where(pmod(col("doc_id"), lit(2)) === epoch),
          "doc_id", "text", numBuckets = 64), epoch)
      // r19: the r18 pre-write repartition(term_bucket) is REVERTED for
      // the epoch APPENDS after the verdict-requested A/B (min-of-3 at 32
      // cores, sf0.1): no-repartition 2.9 s vs repartition(col) 3.1 s vs
      // REBALANCE hint 3.2 s, with IDENTICAL file counts (22) in all
      // three — a micro-batch append is bounded-width by construction
      // (AQE coalesces the postings aggregate's tiny output), so the
      // extra exchange was a pure stage barrier. This matches
      // maintainPostings, the actual streaming path, which also appends
      // without a shuffle; the one corpus-sized write of the lifecycle —
      // compactPostingsIncrements — KEEPS its repartition (§6). The
      // replayed epoch-0 branch deliberately stays a duplicate SUBTREE
      // (not a checkpoint): it ends in the postings aggregate's exchange,
      // which ReuseExchange dedupes at runtime — measured in r18: a
      // localCheckpoint here replaced that free reuse with an extra
      // materialization job and gained nothing.
      inc(0).unionByName(inc(1)).unionByName(inc(0)) // epoch 0 replayed
        .write.mode("overwrite").partitionBy("term_bucket").parquet(path)
      val postings = streaming.EventStreams.postingsFromIncrements(
        s, "doc_id", path)
      query.SparseVector.topK(postings, "doc_id",
          Seq("vector" -> 2.0, "dup" -> 1.5, "scan" -> 0.5), k = 15)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("rank")
    }, Some(sparseVectorOracleSql)),

    // The compacted lifecycle twin shares it too: the sentinel fold, the
    // staged swap, and the post-compaction re-emit must be invisible.
    QueryCase("stream_sparse_vector_compacted", (s, dir) => {
      implicit val spark: SparkSession = s
      // stream_sparse_vector's lifecycle driven THROUGH a compaction
      // (round-17 batch 1): epoch appends + a replay, then
      // compactPostingsIncrements folds the history to the live
      // (doc, term) rows under the sentinel epoch (staged swap —
      // term_bucket layout and the num_buckets contract column
      // preserved), then a post-compaction epoch RE-EMITS a third of
      // the documents with identical text: the per-DOC latest-epoch cut
      // must serve the new rows and drop those docs' sentinel rows
      // whole — a per-(doc, term) cut or a dedup slip double-counts and
      // breaks the hash. Oracle: search_sparse_vector's VERBATIM.
      val docs = load(dir, "documents")
      val path = s"/tmp/graft_postings_cmp_${math.abs(dir.hashCode)}"
      graft.store.FsOps.fileSystem(s, path)
        .delete(new org.apache.hadoop.fs.Path(path), true)
      def inc(epoch: Long, cond: Column): DataFrame =
        EventStreams.stampEpoch(query.SparseVector.tfPostingsBucketed(
          docs.where(cond), "doc_id", "text", numBuckets = 64), epoch)
      // r19: append-side repartition reverted after the A/B — see
      // stream_sparse_vector (this query's three appends paid the barrier
      // thrice: 5.8 s with repartition / 6.0 s with REBALANCE vs 4.6 s
      // without, same 44 files in all three). The compaction inside
      // compactPostingsIncrements keeps its repartition — that is the
      // corpus-sized write. The replayed epoch-0 branch stays a duplicate
      // subtree (ReuseExchange dedupes the postings aggregate at runtime
      // — see stream_sparse_vector).
      inc(0L, pmod(col("doc_id"), lit(2)) === 0)
        .unionByName(inc(1L, pmod(col("doc_id"), lit(2)) === 1))
        .unionByName(inc(0L, pmod(col("doc_id"), lit(2)) === 0)) // replay
        .write.mode("append").partitionBy("term_bucket").parquet(path)
      streaming.EventStreams.compactPostingsIncrements(s, "doc_id", path)
      inc(2L, pmod(col("doc_id"), lit(3)) === 0) // post-compaction update
        .write.mode("append").partitionBy("term_bucket").parquet(path)
      val postings = streaming.EventStreams.postingsFromIncrements(
        s, "doc_id", path)
      query.SparseVector.topK(postings, "doc_id",
          Seq("vector" -> 2.0, "dup" -> 1.5, "scan" -> 0.5), k = 15)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("rank")
    }, Some(sparseVectorOracleSql)),

    // ===== Streaming shapes (batch-parity form) =====

    QueryCase("stream_window_counts", (s, dir) => {
      implicit val spark: SparkSession = s
      EventStreams.windowedCounts(loadEvents(dir), windowDuration = "1 day")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), round(col("total_value"), 2).as("total_value"))
        .orderBy("window_start", "event_type")
    }, Some(
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    QueryCase("stream_sessionize", (s, dir) => {
      implicit val spark: SparkSession = s
      // Batch twin of the streaming sessionizer (gap = 1 hour); the
      // stateful streaming path is exercised in EventStreamsSpec.
      EventStreams.sessionizeBatch(loadEvents(dir), gapMs = 3600 * 1000L)
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          col("n_events"), round(col("total_value"), 2).as("total_value"))
        .orderBy("user_id", "session_start")
    }, Some(
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 3600000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked
        |)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)))
}
