package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming surface — beyond the reference (which is batch-only,
  * SURVEY.md §2.6) but first-class for a training-data pipeline: the same
  * aggregation shapes as [[graft.query.Aggs]] expressed over an unbounded
  * `events` stream with watermarks, plus stateful sessionization.
  *
  * Every transform here takes a DataFrame, so it runs identically on
  * `spark.read` (batch backfill) and `spark.readStream` (live) — the
  * batch/streaming parity Spark's incrementalization model is built for.
  */
object EventStreams {

  /** Watermarked tumbling/sliding-window counts per event type. In batch
    * mode `withWatermark` is a no-op and this is a plain windowed aggregate —
    * the oracle-checkable form.
    */
  def windowedCounts(
      events: DataFrame,
      tsCol: String = "ts",
      keyCol: String = "event_type",
      windowDuration: String = "1 hour",
      slideDuration: Option[String] = None,
      watermark: String = "10 minutes"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark(tsCol, watermark) else events
    val win = slideDuration match {
      case Some(slide) => window(col(tsCol), windowDuration, slide)
      case None => window(col(tsCol), windowDuration)
    }
    withWm
      .groupBy(win.as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col(keyCol), col("n"), col("total_value"))
  }

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionState(start: Long, end: Long, nEvents: Long, totalValue: Double)

  final case class Session(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  /** Stateful sessionization over a live stream, keyed by user: incoming
    * events fold into gap-separated sessions; sessions closed by an in-batch
    * gap emit immediately, and the open session is KEPT in state
    * (`state.update`) with an event-time timeout at `end + gap` — it emits
    * when the watermark passes that point. Sessions spanning micro-batches
    * therefore stay whole, and idle sessions flush via the timeout.
    *
    * Streaming-only semantics: batch execution never fires timeouts, so the
    * trailing open session per user would be withheld — use
    * [[sessionizeBatch]] for batch/backfill (identical sessions, one shuffle
    * plus a per-user window scan, no per-group state).
    *
    * @param watermark event-time watermark applied when `events` is a stream
    *                  (required by the event-time timeout).
    */
  def sessionize(
      events: Dataset[Event],
      gapMs: Long = 30 * 60 * 1000L,
      watermark: String = "10 minutes"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          def emit(s: SessionState): Session =
            Session(userId, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.end), s.nEvents, s.totalValue)
          if (state.hasTimedOut) {
            val closed = emit(state.get)
            state.remove()
            Iterator.single(closed)
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val sessions = scala.collection.mutable.ArrayBuffer.empty[Session]
            var cur: Option[SessionState] = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  cur = Some(s.copy(end = t, nEvents = s.nEvents + 1,
                    totalValue = s.totalValue + e.value))
                case Some(s) =>
                  sessions += emit(s)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            sessions.iterator
          }
      }
  }

  /** Per-user event buffer for [[streamingExamples]]: `(tMs, eventId,
    * isAnchor, isOutcome, valueCents)` tuples, kept sorted by (t, id).
    */
  final case class ExampleState(
      events: List[(Long, Long, Boolean, Boolean, Long)])

  final case class TrainingExample(user_id: Long, event_id: Long,
      n_outcomes_past: Long, value_past: Long, converted: Boolean)

  /** STREAMING point-in-time example assembly — the live twin of
    * [[graft.ops.Features.rollingExamples]] (identical examples, proven in
    * spec): an anchor's features are fully determined at its own event
    * time, but its LABEL needs the forward horizon — so each example
    * emits exactly when the event-time watermark passes `t + label`
    * (the horizon has closed; any outcome later than the watermark
    * allowance is missed by both this and any offline system that cuts
    * at the same lateness bound). Per-user state holds only the event
    * window that can still matter: tuples older than
    * `watermark − label − feature` serve no pending or future anchor
    * (future anchors arrive above the watermark) and are evicted every
    * invocation, so state is bounded by per-user event RATE × (feature +
    * label) span, never by stream history. Wake-ups ride event-time
    * timeouts at the next pending anchor's close (or the eviction horizon
    * when no anchor is pending), exactly [[sessionize]]'s discipline.
    *
    * Streaming-only semantics (the [[sessionize]] caveat): batch execution
    * never advances a watermark, so no horizon ever closes — use
    * [[graft.ops.Features.rollingExamples]] for batch/backfill.
    */
  def streamingExamples(
      events: Dataset[Event],
      anchorType: String,
      outcomeType: String,
      featureWindowMs: Long,
      labelWindowMs: Long,
      watermark: String = "10 minutes"): Dataset[TrainingExample] = {
    val spark = events.sparkSession
    import spark.implicits._
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ExampleState, TrainingExample](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[ExampleState]) =>
          val wm = state.getCurrentWatermarkMs()
          val incoming = it.map { e =>
            (e.ts.getTime, e.event_id, e.event_type == anchorType,
              e.event_type == outcomeType, math.floor(e.value * 100).toLong)
          }.toList
          val buffer = ((state.getOption.map(_.events).getOrElse(Nil) ++ incoming)
            .distinct).sortBy(t => (t._1, t._2))
          // emit every anchor whose label horizon closed under the watermark
          val (closeable, pending) = buffer.partition {
            case (t, _, isA, _, _) => isA && t + labelWindowMs <= wm
          }
          val out = closeable.map { case (t, id, _, _, _) =>
            val past = buffer.filter { case (te, _, _, isO, _) =>
              isO && te >= t - featureWindowMs && te <= t - 1 }
            val future = buffer.exists { case (te, _, _, isO, _) =>
              isO && te >= t + 1 && te <= t + labelWindowMs }
            TrainingExample(userId, id, past.size.toLong, past.map(_._5).sum, future)
          }
          // evict tuples that can serve no pending or future anchor — but
          // an emitted anchor that is ALSO an outcome (anchorType ==
          // outcomeType, e.g. "every purchase is an example AND counts in
          // later purchases' windows") must stay serveable until the
          // eviction horizon passes it: keep it with the anchor flag
          // dropped so it never re-emits, matching the batch twin where
          // every row is visible to every window
          val emittedOutcomes = closeable.collect {
            case (t, id, _, true, v)
                if t >= wm - labelWindowMs - featureWindowMs =>
              (t, id, false, true, v)
          }
          val keep = pending.filter { case (t, _, isA, _, _) =>
            isA || t >= wm - labelWindowMs - featureWindowMs } ++ emittedOutcomes
          if (keep.isEmpty) state.remove()
          else {
            state.update(ExampleState(keep))
            val nextClose = keep.collect { case (t, _, true, _, _) => t + labelWindowMs }
            val wake = if (nextClose.nonEmpty) nextClose.min
              else wm + labelWindowMs + featureWindowMs + 1
            state.setTimeoutTimestamp(math.max(wake, wm + 1))
          }
          out.iterator
      }
  }

  /** Streaming exact dedup: drops rows whose `keyCols` were already seen,
    * with state bounded by the watermark (`dropDuplicatesWithinWatermark`:
    * a duplicate arriving within the watermark delay of the original is
    * guaranteed dropped; state for older keys is reclaimed — the only
    * dedup that runs forever on an unbounded stream without unbounded
    * state). Batch inputs fall back to plain `dropDuplicates`.
    */
  def streamingDedup(
      events: DataFrame,
      keyCols: Seq[String],
      tsCol: String = "ts",
      watermark: String = "10 minutes"): DataFrame =
    if (events.isStreaming)
      events.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(keyCols)
    else events.dropDuplicates(keyCols)

  /** Streaming CORPUS dedup — the live half of
    * [[graft.ops.Dedup.exactIncremental]]'s daily-ingest contract.
    * [[streamingDedup]]'s watermark bounds state by TIME, which is right
    * for event keys and wrong for a training corpus: "already accepted" is
    * forever. Here the state IS the accepted table: each micro-batch
    * left-anti joins the store's fingerprint column (one BIGINT per
    * accepted doc, read from the accepted table itself — no second sink,
    * no dual-write atomicity problem), min-keeps within itself, and lands
    * in `acceptedPath/_batch=<id>` carrying its `fp` column. Batch-id
    * partition overwrite (dynamic mode) makes replays IDEMPOTENT: a
    * recovered batch rewrites its own partition and nothing else, and
    * re-judges itself against exactly the earlier batches' fingerprints
    * (its own partition's fps are rewritten, not double-counted).
    */
  def dedupToCorpus(
      docs: DataFrame,
      textCol: String,
      tieBreaker: String,
      acceptedPath: String,
      checkpointDir: String,
      bloomNumBits: Long = 0,
      bloomExpectedItems: Long = 1000000): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        val bloomPath = acceptedPath + "_bloom"
        val store =
          try
            spark.read.parquet(acceptedPath)
              .where(col("_batch") =!= id) // replay: ignore own partition
              .select(col("fp")).distinct()
          catch {
            // first batch: no accepted table yet
            case _: org.apache.spark.sql.AnalysisException =>
              spark.range(0).select(col("id").as("fp"))
          }
        // `bloomNumBits > 0` maintains mergeable per-batch Bloom states
        // next to the store and pre-filters each batch
        // ([[graft.ops.Dedup.exactIncrementalBloom]]): definitely-new rows
        // never probe the store's terabytes — the shape that holds when
        // the accepted corpus dwarfs every batch. Replays are safe without
        // epoch bookkeeping: re-appending a batch's state is a bitwise OR
        // with itself. A replayed batch's own prior fps ARE in its state
        // (unlike the partition-excluded store) — they fall in the
        // maybe-seen set, and the anti-join against the own-partition-
        // excluded store re-accepts them: same rows, same idempotence.
        val bloomStates =
          if (bloomNumBits <= 0) None
          else
            try {
              val st = spark.read.parquet(bloomPath)
              if (st.isEmpty) None else Some(st)
            } catch {
              case _: org.apache.spark.sql.AnalysisException => None
            }
        val accepted = bloomStates match {
          case Some(states) =>
            graft.ops.Dedup.exactIncrementalBloom(batch, textCol, tieBreaker, store, states)
          case None =>
            graft.ops.Dedup.exactIncremental(batch, textCol, tieBreaker, store)
        }
        val acceptedFp = accepted
          .withColumn("fp", graft.ops.TextAnalysis.contentFingerprint(col(s"`$textCol`")))
        acceptedFp
          .withColumn("_batch", lit(id))
          .write.mode("overwrite")
          // writer-scoped, NOT spark.conf.set: mutating the session conf
          // would silently change overwrite semantics for every other
          // writer sharing the session
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("_batch").parquet(acceptedPath)
        if (bloomNumBits > 0)
          graft.ops.Dedup.fingerprintBloomState(
              acceptedFp.select(col("fp")).where(col("fp").isNotNull).distinct(),
              bloomExpectedItems, bloomNumBits)
            .write.mode("append").parquet(bloomPath)
      }
      .start()

  /** Replace the table at `path` with `merged`, a frame that reads it: the
    * staged swap every compaction here shares. `merged` is written to
    * `<path>.compacting` (partitioned by `partitionBy`, if any), then
    * [[graft.store.FsOps.promote]] swaps it in.
    *
    * No cache()+count() pre-pass: the staged WRITE is itself the
    * materialization — it reads the source directory and lands in
    * `.compacting`, and the source is only touched by the promote AFTER the
    * write completed. A pre-pass only runs the merge a second time (a
    * leftover from a pre-staged-swap shape), so even a corpus-sized rewrite
    * streams through: one scan, one write, constant memory. If the write
    * fails, nothing is promoted and the table reads as before.
    */
  private[graft] def swapIn(merged: DataFrame, path: String, partitionBy: String*): Unit = {
    val staged = path + ".compacting"
    val writer = merged.write.mode("overwrite")
    (if (partitionBy.isEmpty) writer else writer.partitionBy(partitionBy: _*)).parquet(staged)
    graft.store.FsOps.promote(graft.store.FsOps.fileSystem(merged.sparkSession, staged),
      new org.apache.hadoop.fs.Path(staged), new org.apache.hadoop.fs.Path(path))
  }

  /** Compact the accepted-corpus store [[dedupToCorpus]] maintains: a
    * long-running stream leaves one `_batch=<id>` partition per micro-batch
    * — the classic streaming small-files problem — and this folds every
    * partition into the sentinel `_batch=-1` via the same staged swap as
    * [[compactIncrements]] (pause the writer or run from the cadence that
    * owns the table). Replay semantics survive compaction: a replayed batch
    * excludes only its OWN partition, the sentinel stays visible, so the
    * replay re-drops its rows against them and writes an empty partition —
    * the accepted set never changes. Bloom states are untouched (their
    * merge is already one row per batch and OR-idempotent).
    */
  def compactAcceptedCorpus(spark: SparkSession, acceptedPath: String): Unit =
    swapIn(spark.read.parquet(acceptedPath).withColumn("_batch", lit(CompactedEpoch)),
      acceptedPath, "_batch")

  /** Streaming sink into the at-rest search index: every micro-batch is
    * appended to a parquet table with its analyzed `_split` companions
    * precomputed (see [[graft.store.SearchIndex]]) — the live-ingestion
    * counterpart of the reference's bulk `saveToEs`
    * (`notebooks/lib/esindex.py:116-139`), minus the second cluster.
    * `foreachBatch` reuses the batch writer, so layout and companions are
    * identical between backfill and live ingestion.
    */
  def writeToSearchIndex(
      events: DataFrame,
      path: String,
      analyzeColumns: Seq[String],
      checkpointDir: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.store.SearchIndex.withAnalyzedColumns(batch, analyzeColumns)
          .write.mode("append").parquet(path)
      }
      .start()

  /** The epoch column of every increment table ([[appendEpochs]]). */
  private val EpochCol = "inc_batch_id"

  /** The epoch compacted rows wear ([[compactTo]]); also the `_batch` of a
    * compacted [[dedupToCorpus]] store. Every real epoch is ≥ 0.
    */
  private val CompactedEpoch = -1L

  /** The sink behind every increment table here — the live half of the
    * engine's 100 TB update story: a table derived from the corpus
    * (rollup, dictionary, vocabularies, postings, ANN indexes) is kept
    * current by appending one small MERGEABLE increment per micro-batch,
    * never by re-reading the corpus. The contract that keeps such a table
    * correct, stated once for all of them:
    *
    *  - STAMP: each micro-batch appends `batchFrame(batch)` with the
    *    batch's epoch in `inc_batch_id` (partitioned by `partitionBy`, if
    *    any). foreachBatch is at-least-once: a failure after the append but
    *    before the checkpoint commit replays the batch and appends again.
    *    Increment rows are a pure function of the batch, so a replay
    *    re-appends the same rows under the same epoch.
    *  - DEDUP ON READ: a reader keeps one row per (key, epoch), which drops
    *    exactly the replays — or, where rows are REPLACED per key (the
    *    postings and IVF indexes), only the latest epoch per key. Stamping
    *    the epoch makes the table idempotent to READ without an
    *    atomic-commit sink.
    *  - MERGE: the surviving rows merge by each measure's kind — counts and
    *    sums add, extremes fold, sketches union ([[graft.query.PreAgg.merge]])
    *    — associatively and commutatively, so the current table costs
    *    accumulated increment rows, never corpus rows.
    *  - COMPACT: [[compactTo]] writes the merged view back under the
    *    sentinel epoch `-1` on whatever cadence owns the table (pause the
    *    writer first), bounding it at one row per key.
    *
    * Each `maintain*` below states only what is particular to its table:
    * its increment, its merge property and its dedup key.
    */
  private def appendEpochs(
      stream: DataFrame,
      path: String,
      checkpointDir: String,
      partitionBy: String*)(batchFrame: DataFrame => DataFrame): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val writer = stampEpoch(batchFrame(batch), batchId).write.mode("append")
        (if (partitionBy.isEmpty) writer else writer.partitionBy(partitionBy: _*)).parquet(path)
      }
      .start()

  /** `increment` stamped with its `epoch` — the on-disk contract of every
    * increment table, spelled once: [[appendEpochs]] stamps each
    * micro-batch with it, and batch writers of the same tables call it
    * directly.
    */
  private[graft] def stampEpoch(increment: DataFrame, epoch: Long): DataFrame =
    increment.withColumn(EpochCol, lit(epoch))

  /** Compact an increment table at `path` to `merged`, its served view:
    * every row wears the sentinel epoch and [[swapIn]] swaps it in. Safe at
    * any time — merging is associative and commutative — but it commutes
    * with concurrent appends only if the writer is paused; call it from the
    * maintenance cadence that owns the table (the streaming query's own
    * `foreachBatch` epoch, a nightly job). On a real deployment this seam is
    * a transactional table format's atomic commit.
    *
    * The sentinel keeps the table single-schema: later streaming appends
    * carry inc_batch_id, and a parquet directory mixing stamped and
    * unstamped files can resolve to either schema at read time — if the
    * unstamped footer wins, the replay dedup silently disables. It also
    * keeps replay dedup armed, and any real epoch (≥ 0) outranks it, so a
    * latest-epoch reader still prefers a post-compaction append.
    *
    * Layout: an unpartitioned (vocabulary-sized) table compacts to one file
    * (`coalesce(1)`). A partitioned table is corpus-sized (one row per
    * vector or posting), so it repartitions ON the partition key — one task
    * per directory, one file each; a single writer task funneling the whole
    * index is exactly the driver-shaped bottleneck the partitioned layout
    * exists to avoid.
    */
  private def compactTo(merged: DataFrame, path: String, partitionBy: String*): Unit = {
    val stamped = stampEpoch(merged, CompactedEpoch)
    swapIn(
      if (partitionBy.isEmpty) stamped.coalesce(1)
      else stamped.repartition(partitionBy.map(col): _*),
      path, partitionBy: _*)
  }

  /** The sum-merge read shared by the counting tables: drop replayed epochs
    * per (`keys`, epoch), then group by `keys` summing each of `measures`.
    */
  private def sumMerged(
      spark: SparkSession, path: String, keys: Seq[String], measures: String*): DataFrame = {
    val sums = measures.map(m => sum(col(m)).as(m))
    spark.read.parquet(path)
      .dropDuplicates(keys :+ EpochCol)
      .groupBy(keys.head, keys.tail: _*)
      .agg(sums.head, sums.tail: _*)
  }

  /** Streaming dictionary maintenance — the live half of
    * [[graft.dict.Dictionary.profileIncrement]]: each micro-batch is
    * profiled into one increment row per column (counts and moments as
    * sums, min/max under the field's ordering, distincts as HLL sketches),
    * kilobytes per batch regardless of batch size. Dedup key: (column,
    * epoch). The current dictionary is [[dictionaryFromIncrements]], cost
    * proportional to batches × columns.
    */
  def maintainDictionary(
      events: DataFrame,
      incrementPath: String,
      checkpointDir: String): StreamingQuery =
    appendEpochs(events, incrementPath, checkpointDir)(graft.dict.Dictionary.profileIncrement)

  /** One increment row per (column, batch), dropping at-least-once replays;
    * tables without the epoch column (plain batch writers) pass through.
    */
  private def dedupedIncrements(df: DataFrame): DataFrame =
    if (!df.columns.contains(EpochCol)) df
    else df.dropDuplicates("dict_field", EpochCol).drop(EpochCol)

  /** The current dictionary implied by an increment table maintained by
    * [[maintainDictionary]] (or any batch writer of
    * [[graft.dict.Dictionary.profileIncrement]] rows).
    */
  def dictionaryFromIncrements(spark: SparkSession, incrementPath: String): DataFrame =
    graft.dict.Dictionary.finalizeIncrement(
      graft.dict.Dictionary.mergeIncrements(
        dedupedIncrements(spark.read.parquet(incrementPath))))

  /** Live corpus-vocabulary maintenance — the frequent-items analogue of
    * [[maintainDictionary]]: append one `approx_top_k` sketch state per
    * micro-batch (kilobytes, bounded by `maxTracked`), stamped with the
    * epoch for the same at-least-once replay idempotence. The current
    * vocabulary is [[vocabularyFromStates]] — combine states, estimate —
    * and never re-scans ingested text.
    */
  def maintainVocabulary(
      docs: DataFrame,
      textCol: String,
      statePath: String,
      checkpointDir: String,
      maxTracked: Int = 4096): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ops.TextAnalysis.vocabState(batch, textCol, maxTracked)
          .withColumn("state_batch_id", org.apache.spark.sql.functions.lit(batchId))
          .write.mode("append").parquet(statePath)
      }
      .start()

  /** The current top-`k` vocabulary implied by a state table maintained by
    * [[maintainVocabulary]]: drop replayed epochs, combine, estimate.
    * Exact while distinct terms stay under `maxTracked` (the same contract
    * the batch-side `vocab_topk_incremental` oracle pins).
    */
  def vocabularyFromStates(
      spark: SparkSession,
      statePath: String,
      k: Int,
      maxTracked: Int = 4096): DataFrame = {
    import org.apache.spark.sql.functions.col
    val states = spark.read.parquet(statePath)
      .dropDuplicates("state_batch_id")
      .select("_state")
      .where(col("_state").isNotNull) // empty micro-batches accumulate null
    graft.ops.TextAnalysis.vocabMerge(Seq(states), k, maxTracked)
  }

  /** Live serving-rollup maintenance — the ingest half of
    * [[graft.query.PreAgg]]'s 100 TB serving story: each micro-batch is
    * rolled up by `increment`, any of PreAgg's builders — the count
    * rollup (`PreAgg.increment(_, dims)`) or one carrying extremes, exact
    * sums or HLL/KLL sketches (e.g. `PreAgg.incrementWithSums(_, dims,
    * sums)`). Dedup key: (dimension combo, epoch) — each epoch's rollup
    * carries a combo at most once, and the recomputed measures (sketch
    * bytes included) are a pure function of the batch. The dedup is
    * load-bearing for counts and sums; extremes would survive a replay
    * unguarded (min/max are idempotent).
    */
  def maintainRollup(
      events: DataFrame,
      increment: DataFrame => DataFrame,
      incrementPath: String,
      checkpointDir: String): StreamingQuery =
    appendEpochs(events, incrementPath, checkpointDir)(increment)

  /** The current serving rollup implied by [[maintainRollup]]'s increments,
    * any flavour: per-(combo, epoch) dedup, then [[graft.query.PreAgg.merge]].
    * The result feeds [[graft.query.PreAgg]]'s serving twins unchanged.
    */
  def rollupFromIncrements(spark: SparkSession, incrementPath: String): DataFrame = {
    val inc = spark.read.parquet(incrementPath)
    val dims = inc.columns.filterNot(c => c == EpochCol || graft.query.PreAgg.isMeasure(c))
    graft.query.PreAgg.merge(inc.dropDuplicates(dims :+ EpochCol).drop(EpochCol))
  }

  /** Compact a rollup-increment table of any flavour to one row per
    * dimension combination.
    */
  def compactRollupIncrements(spark: SparkSession, incrementPath: String): Unit =
    compactTo(rollupFromIncrements(spark, incrementPath), incrementPath)

  /** Maintain the boilerplate gram-df statistics from a DOCUMENT stream —
    * the corpus-fraction threshold needs corpus-wide document frequencies,
    * which are sum-mergeable: each batch appends `(gram, df)` counts plus
    * one null-gram row carrying the batch's document count (grams are
    * xxhash64 values and never null, so the sentinel is unambiguous and
    * the table stays single-schema). Dedup key: (gram, epoch).
    *
    * Serving: [[gramDfFromIncrements]] → [[graft.ops.TextAnalysis
    * .boilerplateFrequent]] → [[graft.ops.TextAnalysis
    * .boilerplateProfileAgainst]] scores incoming documents against the
    * corpus-so-far Zipf head without re-reading any corpus text.
    */
  def maintainGramDf(
      docs: DataFrame,
      textCol: String,
      n: Int,
      incrementPath: String,
      checkpointDir: String): StreamingQuery =
    appendEpochs(docs, incrementPath, checkpointDir) { batch =>
      val dfs = batch
        .select(explode(graft.expr.TextShingles.shingleHashes(
          col(s"`$textCol`"), n)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("df"))
      val total = batch.agg(count(lit(1)).as("df"))
        .select(lit(null).cast("long").as("gram"), col("df"))
      dfs.unionByName(total)
    }

  /** The corpus-so-far gram-df table implied by [[maintainGramDf]]'s
    * increments: `(gram, df)` plus the null-gram total-documents row,
    * [[graft.ops.TextAnalysis.boilerplateFrequent]]'s input shape.
    */
  def gramDfFromIncrements(spark: SparkSession, incrementPath: String): DataFrame =
    sumMerged(spark, incrementPath, Seq("gram"), "df")

  /** Compact a gram-df increment table to one row per gram (plus the
    * null-gram document-count sentinel). Without this the table grows one
    * row per (gram, batch) forever and [[gramDfFromIncrements]]
    * re-aggregates the full history on every serve — gram cardinality makes
    * that much heavier than the rollup case, so the compaction cadence
    * matters MORE here.
    */
  def compactGramDfIncrements(spark: SparkSession, incrementPath: String): Unit =
    compactTo(gramDfFromIncrements(spark, incrementPath), incrementPath)

  /** Maintain the fuzzy-search vocabulary from a DOCUMENT stream — the
    * at-rest artifact behind the SymSpell deletion index, the term
    * suggester, and the phrase suggester's candidate generator
    * ([[graft.query.Fuzzy]]): per micro-batch, per-doc-distinct term
    * counts `(term, freq)`. Document frequencies are integer sums, so every
    * fuzzy serve path runs WITHOUT re-reading corpus text. Dedup key:
    * (term, epoch).
    */
  def maintainFuzzyVocab(
      docs: DataFrame,
      textCol: String,
      incrementPath: String,
      checkpointDir: String): StreamingQuery =
    appendEpochs(docs, incrementPath, checkpointDir)(
      graft.query.Fuzzy.vocabularyWithFreq(_, col(s"`$textCol`")))

  /** The corpus-so-far `(term, freq)` vocabulary implied by
    * [[maintainFuzzyVocab]]'s increments — feed it straight to
    * [[graft.query.Fuzzy.suggestTermsFromVocab]] /
    * [[graft.query.Fuzzy.deletionIndex]].
    */
  def fuzzyVocabFromIncrements(spark: SparkSession, incrementPath: String): DataFrame =
    sumMerged(spark, incrementPath, Seq("term"), "freq")

  /** Compact a fuzzy-vocabulary increment table to one row per term. */
  def compactFuzzyVocabIncrements(spark: SparkSession, incrementPath: String): Unit =
    compactTo(fuzzyVocabFromIncrements(spark, incrementPath), incrementPath)

  /** Maintain the unigram piece-count artifact from a DOCUMENT stream
    * ([[graft.ops.Unigram]]): per micro-batch, the RAW weighted substring
    * counts `(piece, cnt)` — integer sums, merge-safe precisely because
    * pruning lives at SERVE time ([[graft.ops.Unigram.segmentCountsWithPieces]]
    * prunes the MERGED counts; pruning per batch would lose sub-minCount
    * mass that later batches complete). Dedup key: (piece, epoch).
    */
  def maintainUnigramPieces(
      docs: DataFrame,
      textCol: String,
      maxPieceLen: Int,
      incrementPath: String,
      checkpointDir: String): StreamingQuery =
    appendEpochs(docs, incrementPath, checkpointDir)(
      graft.ops.Unigram.pieceCounts(_, textCol, maxPieceLen))

  /** The corpus-so-far raw piece counts implied by
    * [[maintainUnigramPieces]]'s increments — feed straight to
    * [[graft.ops.Unigram.segmentCountsWithPieces]].
    */
  def unigramPiecesFromIncrements(spark: SparkSession, incrementPath: String): DataFrame =
    sumMerged(spark, incrementPath, Seq("piece"), "cnt")

  /** Maintain the bigram-LM state from a DOCUMENT stream — the model
    * behind the perplexity gate ([[graft.ops.NgramLm.perplexityScore]])
    * and Moore–Lewis selection ([[graft.ops.NgramLm.contrastScores]]):
    * per micro-batch, `(w1, w2, c2)` bigram counts, integer sums, so a NEW
    * batch scores against the model-so-far WITHOUT re-reading corpus text
    * — the CCNet deployment shape (train once on the reference corpus,
    * gate every later crawl). Dedup key: ((w1, w2), epoch).
    */
  def maintainBigramLm(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      incrementPath: String,
      checkpointDir: String): StreamingQuery =
    appendEpochs(docs, incrementPath, checkpointDir)(
      graft.ops.NgramLm.bigramCounts(_, idCol, textCol))

  /** The corpus-so-far `(bigrams, contexts)` model implied by
    * [[maintainBigramLm]]'s increments — summed, then EXACTLY
    * [[graft.ops.NgramLm.train]]'s derivation: context totals from the FULL
    * summed table (pruning the head never changes a denominator), both
    * pruned to `minCount`. Feed straight to [[graft.ops.NgramLm.scoreDocs]].
    */
  def bigramLmFromIncrements(
      spark: SparkSession,
      incrementPath: String,
      minCount: Int = 2): (DataFrame, DataFrame) = {
    val c2 = sumMerged(spark, incrementPath, Seq("w1", "w2"), "c2")
    val contexts = c2.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"))
      .where(col("c1") >= minCount)
    (c2.where(col("c2") >= minCount), contexts)
  }

  /** Compact a bigram-count increment table to one row per bigram (bigram
    * cardinality grows with the corpus, so cadence matters like the gram-df
    * case).
    */
  def compactBigramLmIncrements(spark: SparkSession, incrementPath: String): Unit =
    compactTo(sumMerged(spark, incrementPath, Seq("w1", "w2"), "c2"), incrementPath)

  /** Maintain the ExactSubstr gram-count state from a document stream:
    * per micro-batch, the sliding `minLen`-gram occurrence counts
    * ([[graft.ops.Dedup.slidingGramPostings]]) as `(g, n)` — occurrence
    * counts are sum-mergeable, so an arriving batch deduplicates against
    * the corpus-so-far state WITHOUT re-reading any corpus text
    * ([[graft.ops.Dedup.duplicateSpanRemovalAgainst]]). Dedup key:
    * (gram, epoch).
    */
  def maintainSpanGramCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int,
      incrementPath: String,
      checkpointDir: String): StreamingQuery =
    appendEpochs(docs, incrementPath, checkpointDir)(
      graft.ops.Dedup.slidingGramPostings(_, idCol, textCol, minLen)
        .groupBy(col("_g").as("g")).agg(count(lit(1)).as("n")))

  /** The corpus-so-far gram counts implied by [[maintainSpanGramCounts]]'s
    * increments — the `(g, n)` shape
    * [[graft.ops.Dedup.duplicateSpanRemovalAgainst]] consumes.
    */
  def spanGramCountsFromIncrements(spark: SparkSession, incrementPath: String): DataFrame =
    sumMerged(spark, incrementPath, Seq("g"), "n")

  /** Compact a span-gram increment table to one row per gram. */
  def compactSpanGramIncrements(spark: SparkSession, incrementPath: String): Unit =
    compactTo(spanGramCountsFromIncrements(spark, incrementPath), incrementPath)

  /** Maintain the DSIR importance model from a document stream: per
    * micro-batch, [[graft.ops.Sampling.importanceModel]]'s `(b, cr, ct)`
    * bucket counts — the model is bucket-wise sum-mergeable (its defining
    * property), so incoming documents score against the corpus-so-far model
    * without re-reading any corpus text
    * ([[graft.ops.Sampling.importanceScoresAgainst]]). Increment volume is
    * ≤ `numBuckets` rows per batch — FIXED-width by construction, the
    * smallest maintenance payload of any streamed artifact here. Dedup
    * key: (bucket, epoch).
    */
  def maintainImportanceModel(
      docs: DataFrame,
      textCol: String,
      targetCond: Column,
      incrementPath: String,
      checkpointDir: String,
      numBuckets: Int = 1024): StreamingQuery =
    appendEpochs(docs, incrementPath, checkpointDir)(
      graft.ops.Sampling.importanceModel(_, textCol, targetCond, numBuckets))

  /** The corpus-so-far DSIR model implied by [[maintainImportanceModel]]'s
    * increments: `(b, cr, ct)`, [[graft.ops.Sampling.importanceWeights]]'s
    * input.
    */
  def importanceModelFromIncrements(spark: SparkSession, incrementPath: String): DataFrame =
    sumMerged(spark, incrementPath, Seq("b"), "cr", "ct")

  /** Compact an importance-model increment table to one row per bucket
    * (bounded at `numBuckets` rows).
    */
  def compactImportanceModelIncrements(spark: SparkSession, incrementPath: String): Unit =
    compactTo(importanceModelFromIncrements(spark, incrementPath), incrementPath)

  /** Maintain drift-detection histograms from a document stream: per
    * micro-batch, each named bucketing's counts `(feature, bucket, n)` —
    * histogram counts are sum-mergeable, so [[graft.ops.Drift]]'s
    * comparisons run against a FROZEN reference snapshot without re-reading
    * any corpus text. Increment volume per batch is Σ bucket cardinalities
    * — a schema property, not a data-volume one. Dedup key: (feature,
    * bucket, epoch).
    */
  def maintainDriftHistograms(
      docs: DataFrame,
      features: Seq[(String, Column)],
      incrementPath: String,
      checkpointDir: String): StreamingQuery = {
    require(features.nonEmpty, "maintainDriftHistograms: at least one feature")
    appendEpochs(docs, incrementPath, checkpointDir) { batch =>
      features.map { case (name, bucket) =>
        batch.groupBy(bucket.cast("string").as("bucket"))
          .agg(count(lit(1)).as("n"))
          .select(lit(name).as("feature"), col("bucket"), col("n"))
      }.reduce(_.unionByName(_))
    }
  }

  /** The corpus-so-far histograms implied by [[maintainDriftHistograms]]'
    * increments: `(feature, bucket, n)`. Feed two of these (or one against
    * a frozen reference) to [[driftFromHistograms]].
    */
  def driftHistogramsFromIncrements(spark: SparkSession, incrementPath: String): DataFrame =
    sumMerged(spark, incrementPath, Seq("feature", "bucket"), "n")

  /** Compact a drift-histogram increment table to one row per (feature,
    * bucket) — bounded by the bucketings' cardinality, however many
    * batches have run.
    */
  def compactDriftHistogramIncrements(spark: SparkSession, incrementPath: String): Unit =
    compactTo(driftHistogramsFromIncrements(spark, incrementPath), incrementPath)

  /** [[graft.ops.Drift.driftReport]] computed from two HISTOGRAM frames
    * (`(feature, bucket, n)`) instead of two corpora — the serve-time
    * form for streamed maintenance: shares derive per feature, the
    * compare is the same full-outer bucket join and exact-arithmetic
    * TVD / symmetric chi-square.
    */
  def driftFromHistograms(a: DataFrame, b: DataFrame): DataFrame = {
    def shares(df: DataFrame) = df
      .withColumn("_tot", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("feature")))
      .select(col("feature"), col("bucket"),
        (col("n").cast("double") / col("_tot").cast("double")).as("share"))
    shares(a).withColumnRenamed("share", "p")
      .join(shares(b).withColumnRenamed("share", "q"),
        Seq("feature", "bucket"), "full_outer")
      .select(col("feature"),
        coalesce(col("p"), lit(0.0)).as("p"),
        coalesce(col("q"), lit(0.0)).as("q"))
      .groupBy("feature")
      .agg(count(lit(1)).as("n_buckets"),
        round(sum(abs(col("p") - col("q"))) / 2.0, 6).as("tvd"),
        round(sum((col("p") - col("q")) * (col("p") - col("q")) /
          (col("p") + col("q"))), 6).as("chi2_sym"),
        round(sum(when(col("p") > 0 && col("q") > 0,
          (col("p") - col("q")) * log(col("p") / col("q"))).otherwise(lit(0.0))),
          6).as("psi"))
  }

  /** Maintain an at-rest IVF ANN index from a vector stream: per
    * micro-batch, [[graft.ops.Similarity.assignCells]] assigns incoming
    * vectors to the FROZEN centroid table (row-local, centroids are plan
    * literals — no shuffle beyond the cell-partitioned write) and appends
    * `(vec_id, vec, cell)` partitioned by cell — index freshness is an
    * append, serving prunes to probed cells. Centroid drift under a
    * shifting distribution is the documented FAISS add-after-train trade;
    * retrain + reassign on a cadence (a rebuild of the partitioned table,
    * not of the serving code — [[graft.ops.Similarity.ivfTopKFromIndex]]
    * reads whatever index is current).
    */
  def maintainIvfIndex(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Array[Double]],
      indexPath: String,
      checkpointDir: String): StreamingQuery =
    appendEpochs(vecs, indexPath, checkpointDir, "cell")(
      graft.ops.Similarity.assignCells(_, idCol, vecCol, centroids))

  /** The servable index implied by [[maintainIvfIndex]]'s appends: the
    * LATEST epoch wins per vec_id. This subsumes replay dedup (a retried
    * epoch's rows are identical — assignment is a pure function of the
    * vector and the frozen centroids — and one survives) AND makes a
    * vector legitimately re-emitted in a later micro-batch an UPDATE: its
    * newest embedding/cell is the served one, instead of both rows
    * persisting and a stale duplicate occupying a top-k slot in
    * [[graft.ops.Similarity.ivfTopKFromIndex]].
    */
  def ivfIndexFromIncrements(spark: SparkSession, indexPath: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(desc(EpochCol))
    spark.read.parquet(indexPath)
      .withColumn("_r", row_number().over(w))
      .where(col("_r") === 1)
      .select("vec_id", "vec", "cell")
  }

  /** Compact an IVF-index increment table to its SERVED rows, the latest
    * epoch per vec_id ([[ivfIndexFromIncrements]]). Unlike the sum-merge
    * compactions this one materializes a LATEST-WINS view: update churn (a
    * vector re-emitted across epochs) leaves exactly one row, and the
    * per-vec window [[ivfIndexFromIncrements]] pays on every serve-view
    * rebuild shrinks back to one epoch's worth of rows. A vector re-emitted
    * after compaction still wins over its compacted row.
    */
  def compactIvfIndexIncrements(spark: SparkSession, indexPath: String): Unit =
    compactTo(ivfIndexFromIncrements(spark, indexPath), indexPath, "cell")

  /** Streamed maintenance of the at-rest SPARSE POSTINGS index (the
    * `sparse_vector` serving table, [[graft.query.SparseVector]]): each
    * arriving document batch appends its tf postings partitioned by
    * `term_bucket` — index freshness is an APPEND, the [[maintainIvfIndex]]
    * shape with `term_bucket` as the partition key instead of `cell`.
    */
  def maintainPostings(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numBuckets: Int,
      postingsPath: String,
      checkpointDir: String): StreamingQuery =
    appendEpochs(docs, postingsPath, checkpointDir, "term_bucket")(
      graft.query.SparseVector.tfPostingsBucketed(_, idCol, textCol, numBuckets))

  /** The servable postings implied by [[maintainPostings]]' appends:
    * per DOCUMENT, only its latest epoch's rows survive — which both
    * absorbs at-least-once replays (a retried epoch's rows are
    * identical; the per-(doc, term) dedup keeps one) and makes a
    * re-emitted document an UPDATE in the strong sense: a term the new
    * text DROPPED disappears from the index (the per-(doc, term)
    * latest-epoch rule [[ivfIndexFromIncrements]] uses would keep such
    * orphan terms serving forever — postings are a SET replaced per doc,
    * not a value updated per key, so the epoch cut must be per doc).
    */
  def postingsFromIncrements(
      spark: SparkSession,
      idCol: String,
      postingsPath: String): DataFrame = {
    val perDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(s"`$idCol`"))
    val raw = spark.read.parquet(postingsPath)
    // carry the layout's num_buckets contract column through to serving
    // ([[graft.query.SparseVector.score]] verifies its argument against it)
    val keep = Seq(idCol, "term", "weight", "term_bucket") ++
      (if (raw.columns.contains("num_buckets")) Seq("num_buckets") else Nil)
    raw
      .withColumn("_maxe", max(col(EpochCol)).over(perDoc))
      .where(col(EpochCol) === col("_maxe"))
      .dropDuplicates(idCol, "term")
      .select(keep.map(c => col(s"`$c`")): _*)
  }

  /** Compact a sparse-postings increment table to its SERVED rows — the
    * per-DOC latest-epoch cut of [[postingsFromIncrements]] (a compacted
    * re-emitted doc keeps only its FINAL term set; the per-key rule the
    * IVF compaction uses would resurrect dropped terms). This bounds the
    * table at one row per live (doc, term) no matter how many epochs have
    * run, and the full-history per-doc window the serve view pays per
    * rebuild shrinks to the live rows. A doc re-emitted after compaction
    * replaces its compacted term set whole.
    */
  def compactPostingsIncrements(
      spark: SparkSession,
      idCol: String,
      postingsPath: String): Unit =
    compactTo(postingsFromIncrements(spark, idCol, postingsPath), postingsPath, "term_bucket")

  /** Streamed maintenance of the SQ8 quantization bounds: each arriving
    * micro-batch appends its per-dimension `(dim, mn, mx)` increment
    * ([[graft.ops.Similarity.sqBoundsFrame]]). min/max are idempotent and
    * commutative, so this is the SIMPLEST possible maintained index —
    * at-least-once replays and batch boundaries vanish by algebra, and the
    * reader needs no epoch dedup (the bounds can only WIDEN as data
    * arrives, FAISS's add-after-train contract in its mildest form;
    * retrain on a cadence if the distribution tightens).
    */
  def maintainSqBounds(
      vecs: DataFrame,
      vecCol: String,
      dim: Int,
      boundsPath: String,
      checkpointDir: String): StreamingQuery =
    appendEpochs(vecs, boundsPath, checkpointDir)(
      graft.ops.Similarity.sqBoundsFrame(_, vecCol, dim))

  /** The servable bounds implied by [[maintainSqBounds]]'s appends: one
    * `groupBy(dim).agg(min, max)` over the increment table — equal to the
    * from-scratch full-corpus bounds whenever the increments cover the
    * corpus (the `ann_sq8_incremental` oracle equivalence).
    */
  def sqBoundsFromIncrements(
      spark: SparkSession,
      boundsPath: String): (Array[Double], Array[Double]) = {
    val rows = sqBoundsMerged(spark, boundsPath)
      .orderBy("dim")
      .select("dim", "mn", "mx")
      .collect()
    val dim = rows.length
    val mn = new Array[Double](dim)
    val mx = new Array[Double](dim)
    rows.foreach { r =>
      val j = r.getInt(0)
      mn(j) = r.getDouble(1)
      mx(j) = r.getDouble(2)
    }
    (mn, mx)
  }

  private def sqBoundsMerged(spark: SparkSession, boundsPath: String): DataFrame =
    spark.read.parquet(boundsPath)
      .groupBy("dim").agg(min("mn").as("mn"), max("mx").as("mx"))

  /** Compact an SQ8 bounds table ([[maintainSqBounds]]) to one row per
    * dimension.
    */
  def compactSqBoundsIncrements(spark: SparkSession, boundsPath: String): Unit =
    compactTo(sqBoundsMerged(spark, boundsPath), boundsPath)

  /** Compact a dictionary increment table ([[maintainDictionary]]): merge
    * the accumulated per-batch rows into ONE increment per column, bounding
    * the table at columns × 1 rows no matter how many batches have run.
    */
  def compactIncrements(spark: SparkSession, incrementPath: String): Unit =
    compactTo(graft.dict.Dictionary
      .mergeIncrements(dedupedIncrements(spark.read.parquet(incrementPath))), incrementPath)

  /** Batch sessionization — the backfill twin of [[sessionize]]: a gap of
    * more than `gapMs` between consecutive events of a user starts a new
    * session. Pure window algebra (lag → gap flag → running sum = session id
    * → group), partitioned by user: one shuffle on the user key, per-user
    * local sort, no state store and no driver-side work — the shape that
    * holds at 100 TB.
    *
    * @param idCol unique tiebreak for events sharing a timestamp, so session
    *              boundaries are deterministic under any partitioning.
    */
  def sessionizeBatch(
      events: DataFrame,
      gapMs: Long = 30 * 60 * 1000L,
      tsCol: String = "ts",
      userCol: String = "user_id",
      valueCol: String = "value",
      idCol: String = "event_id"): DataFrame = {
    val order = Seq(col(tsCol), col(idCol))
    val w = Window.partitionBy(col(userCol)).orderBy(order: _*)
    val prevTs = lag(col(tsCol), 1).over(w)
    val newSession = when(
      prevTs.isNull || unix_millis(col(tsCol)) - unix_millis(prevTs) > gapMs, 1L
    ).otherwise(0L)
    events
      .withColumn("_new_session", newSession)
      .withColumn("_session_id",
        sum(col("_new_session")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("_session_id"))
      .agg(
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col(valueCol)).as("total_value"))
      .drop("_session_id")
  }
}
