package graft.streaming

import graft.SparkSpecBase
import graft.streaming.EventStreams.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Streaming surface: windowed counts (batch parity) and stateful
  * sessionization — including the session-spans-micro-batches case the
  * streaming path must keep whole, and batch/stream agreement.
  */
class EventStreamsSpec extends SparkSpecBase {
  import spark.implicits._

  // Timestamps well above epoch 0: rows at/below the initial watermark (0)
  // would be dropped as late data in the streaming path.
  private def ev(id: Long, minute: Long, user: Long, value: Double = 1.0) =
    Event(id, new java.sql.Timestamp((1440 + minute) * 60000L), user, "click", value)

  test("windowedCounts: batch form buckets by tumbling window and key") {
    val events = Seq(
      ev(1, 0, 1), ev(2, 30, 1), ev(3, 70, 1),
    ).toDS().toDF()
    val out = EventStreams.windowedCounts(events, windowDuration = "1 hour")
      .select("event_type", "n", "total_value")
      .as[(String, Long, Double)].collect().toSeq
    assert(out === Seq(("click", 2L, 2.0), ("click", 1L, 1.0)))
  }

  test("sessionizeBatch splits on gaps, aggregates, and tiebreaks deterministically") {
    val events = Seq(
      ev(1, 0, 1, 2.0), ev(2, 10, 1, 3.0),  // session A: 0-10
      ev(3, 60, 1, 5.0),                     // gap 50 > 30 → session B
      ev(4, 0, 2, 7.0),                      // other user
    ).toDS().toDF()
    val out = EventStreams.sessionizeBatch(events, gapMs = 30 * 60000L)
      .orderBy("user_id", "session_start")
      .select("user_id", "n_events", "total_value")
      .as[(Long, Long, Double)].collect().toSeq
    assert(out === Seq((1L, 2L, 5.0), (1L, 1L, 5.0), (2L, 1L, 7.0)))
  }

  test("streaming sessionize keeps sessions whole across micro-batches and flushes on timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.sessionize(mem.toDS(), gapMs = 10 * 60000L, watermark = "0 seconds")
      .writeStream.format("memory").queryName("sessions_spec")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(ev(1, 0, 1, 1.0), ev(2, 5, 1, 2.0))
      q.processAllAvailable()
      // open session: nothing emitted yet
      assert(spark.table("sessions_spec").count() === 0)

      mem.addData(ev(3, 8, 1, 3.0)) // within gap → must EXTEND, not split
      q.processAllAvailable()
      assert(spark.table("sessions_spec").count() === 0)

      // push the watermark past end+gap via another user's event
      mem.addData(ev(4, 60, 2, 9.0))
      q.processAllAvailable()
      mem.addData(ev(5, 120, 2, 9.0))
      q.processAllAvailable()

      val sessions = spark.table("sessions_spec")
        .orderBy("user_id", "session_start")
        .as[EventStreams.Session].collect()
      val s1 = sessions.find(_.user_id == 1L).get
      assert(s1.n_events === 3L, "session spanning micro-batches must stay whole")
      assert(s1.total_value === 6.0)
      assert(s1.session_end.getTime - s1.session_start.getTime === 8 * 60000L)
    } finally q.stop()
  }

  test("streaming dedup drops in-watermark duplicates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.streamingDedup(mem.toDS().toDF(), Seq("event_id"), watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      mem.addData(ev(1, 0, 1), ev(2, 1, 1), ev(1, 0, 1)) // in-batch dup
      q.processAllAvailable()
      mem.addData(ev(1, 2, 1), ev(3, 3, 1))              // cross-batch dup of id 1
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("event_id")
        .as[Long].collect().sorted.toSeq
      assert(ids === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("streaming search-index sink writes analyzed companions per batch") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_idx").toFile
    dir.deleteOnExit()
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.writeToSearchIndex(
      mem.toDS().toDF(), dir.getAbsolutePath + "/idx",
      analyzeColumns = Seq("event_type"), checkpointDir = dir.getAbsolutePath + "/ckpt")
    try {
      mem.addData(ev(1, 0, 1), ev(2, 5, 2))
      q.processAllAvailable()
      mem.addData(ev(3, 10, 1))
      q.processAllAvailable()
      val back = spark.read.parquet(dir.getAbsolutePath + "/idx")
      assert(back.count() === 3)
      assert(back.columns.contains("event_type_split"))
      import org.apache.spark.sql.functions.col
      assert(back.where(
        graft.store.SearchIndex.containsTokenIndexed(col("event_type_split"), "click"))
        .count() === 3)
    } finally q.stop()
  }

  test("streaming dictionary maintenance converges to the whole-corpus profile") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_dict").toFile
    dir.deleteOnExit()
    val incPath = dir.getAbsolutePath + "/inc"
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.maintainDictionary(
      mem.toDS().toDF(), incPath, dir.getAbsolutePath + "/ckpt")
    val all = Seq(ev(1, 0, 1, 1.5), ev(2, 5, 2, 2.5), ev(3, 10, 1, 3.5),
      ev(4, 20, 3, 0.5))
    try {
      mem.addData(all(0), all(1))
      q.processAllAvailable()
      mem.addData(all(2), all(3))
      q.processAllAvailable()
    } finally q.stop()
    // One increment row per column per batch, kilobytes at rest…
    val inc = spark.read.parquet(incPath)
    assert(inc.count() === 2 * all.head.productArity)
    // …and the merged dictionary's exactly-mergeable stats equal a from-
    // scratch profile of the full corpus (sketch/moment equivalence is
    // pinned by DictionarySpec's split-merge tests).
    val cols = Seq("dict_field", "dict_count", "dict_countmissing", "dict_min", "dict_max")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.head, cols.tail: _*).orderBy("dict_field")
        .collect().map(_.toSeq).toSeq
    val streamed = rows(EventStreams.dictionaryFromIncrements(spark, incPath))
    val scratch = rows(graft.dict.Dictionary.profile(all.toDS().toDF()))
    assert(streamed === scratch)

    // at-least-once replay: re-appending an epoch's increment (what a
    // foreachBatch retry does) must not change the implied dictionary
    import org.apache.spark.sql.functions.col
    val replay = spark.read.parquet(incPath).where(org.apache.spark.sql.functions.col("inc_batch_id") === 0L)
    replay.write.mode("append").parquet(incPath)
    assert(rows(EventStreams.dictionaryFromIncrements(spark, incPath)) === streamed,
      "a replayed batch inflated the dictionary")

    // compaction bounds the table at one row per column and preserves the
    // implied dictionary exactly
    EventStreams.compactIncrements(spark, incPath)
    assert(spark.read.parquet(incPath).count() === all.head.productArity.toLong)
    assert(rows(EventStreams.dictionaryFromIncrements(spark, incPath)) === streamed)
  }

  test("streamed geotile rollup serves every coarser zoom exactly") {
    // The tile dims ride the GENERIC rollup maintenance (increment →
    // append → merge-on-read), and zoom-out over the streamed rollup is
    // the same integer >> identity the batch twin certifies — so one
    // streamed z=6 rollup serves z ∈ [0,6] equal to a whole-corpus scan.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_tile").toFile
    dir.deleteOnExit()
    val incPath = dir.getAbsolutePath + "/inc"
    val lat = pmod(col("value") * 37, lit(180)) - 90
    val lon = pmod(col("user_id") * 53, lit(360)) - 180
    val Seq(tx, ty) = graft.query.Aggs.geoTileXY(lat, lon, 6)
    val dims = Seq("tx" -> tx, "ty" -> ty)
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.maintainRollup(
      mem.toDS().toDF(), graft.query.PreAgg.increment(_, dims), incPath, dir.getAbsolutePath + "/ckpt")
    val all = (1 to 12).map(i => ev(i, i * 3, i * 7, value = i * 1.37))
    try {
      mem.addData(all.take(6): _*)
      q.processAllAvailable()
      mem.addData(all.drop(6): _*)
      q.processAllAvailable()
    } finally q.stop()
    val rollup = EventStreams.rollupFromIncrements(spark, incPath)
    val batch = all.toDS().toDF().withColumn("lat", lat).withColumn("lon", lon)
    for (z <- Seq(0, 2, 4, 6)) {
      val served = graft.query.PreAgg.geoTileGridAt(rollup, 6, z, n = 100)
        .collect().toSeq
      val scan = graft.query.Aggs.geoTileGrid(batch, "lat", "lon", z, n = 100)
        .collect().toSeq
      assert(served === scan, s"zoom $z diverged from the corpus scan")
    }
  }

  test("streaming rollup maintenance converges to the whole-corpus rollup") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_rollup").toFile
    dir.deleteOnExit()
    val incPath = dir.getAbsolutePath + "/inc"
    val dims = Seq("event_type" -> col("event_type"), "user_id" -> col("user_id"))
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.maintainRollup(
      mem.toDS().toDF(), graft.query.PreAgg.increment(_, dims), incPath, dir.getAbsolutePath + "/ckpt")
    val all = Seq(ev(1, 0, 1), ev(2, 5, 2), ev(3, 10, 1), ev(4, 20, 1))
    try {
      mem.addData(all(0), all(1))
      q.processAllAvailable()
      mem.addData(all(2), all(3))
      q.processAllAvailable()
    } finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("event_type", "user_id").collect().map(_.toSeq).toSeq
    val scratch = rows(graft.query.PreAgg.increment(all.toDS().toDF(), dims))
    val streamed = rows(EventStreams.rollupFromIncrements(spark, incPath))
    assert(streamed === scratch)

    // the implied rollup serves through PreAgg's weighted twins unchanged
    val top = graft.query.PreAgg
      .termsTopN(EventStreams.rollupFromIncrements(spark, incPath), "event_type", 10)
      .as[(String, Long)].collect().toSeq
    val full = graft.query.Aggs.termsTopN(all.toDS().toDF(), "event_type", 10)
      .as[(String, Long)].collect().toSeq
    assert(top === full)
    // significant terms too: the streamed rollup is just a rollup
    val sig = graft.query.PreAgg.significantTerms(
        EventStreams.rollupFromIncrements(spark, incPath),
        "event_type", col("user_id") === 1, 10)
      .as[(String, Long, Long, Double)].collect().toSeq
    val sigFull = graft.query.Aggs.significantTerms(all.toDS().toDF(),
        org.apache.spark.sql.functions.array(col("event_type")),
        col("user_id") === 1, 10)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(sig === sigFull)

    // at-least-once replay: re-appending an epoch (a foreachBatch retry)
    // must not inflate any count
    val replay = spark.read.parquet(incPath).where(org.apache.spark.sql.functions.col("inc_batch_id") === 0L)
    replay.write.mode("append").parquet(incPath)
    assert(rows(EventStreams.rollupFromIncrements(spark, incPath)) === scratch,
      "a replayed batch inflated the rollup")

    // compaction bounds the table at |distinct combos| and preserves it
    EventStreams.compactRollupIncrements(spark, incPath)
    assert(spark.read.parquet(incPath).count() === scratch.length.toLong)
    assert(rows(EventStreams.rollupFromIncrements(spark, incPath)) === scratch)
  }

  test("a compaction whose staged write fails promotes nothing and leaves the table readable") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_swapfail").toFile
    dir.deleteOnExit()
    val incPath = dir.getAbsolutePath + "/inc"
    val dims = Seq("event_type" -> col("event_type"), "user_id" -> col("user_id"))
    val batches = Seq(Seq(ev(1, 0, 1), ev(2, 5, 2)), Seq(ev(3, 10, 1), ev(4, 20, 1)))
    batches.zipWithIndex.foreach { case (b, i) =>
      graft.query.PreAgg.increment(b.toDS().toDF(), dims)
        .withColumn("inc_batch_id", lit(i.toLong))
        .write.mode("append").parquet(incPath)
    }
    def raw() = spark.read.parquet(incPath).collect().map(_.toString).sorted.toSeq
    def files() = new java.io.File(incPath).list().sorted.toSeq
    def served() = EventStreams.rollupFromIncrements(spark, incPath)
      .orderBy("event_type", "user_id").collect().map(_.toSeq).toSeq
    val (rawBefore, filesBefore, servedBefore) = (raw(), files(), served())

    // the merge evaluates raise_error in its tasks, so the staged write dies
    // after it has started writing `.compacting`
    val cnt = graft.query.PreAgg.CntCol
    val poisoned = EventStreams.rollupFromIncrements(spark, incPath)
      .withColumn("inc_batch_id", lit(-1L))
      .withColumn(cnt, when(col(cnt) > 0, raise_error(lit("poisoned merge")))
        .otherwise(col(cnt)))
      .coalesce(1)
    intercept[Exception](EventStreams.swapIn(poisoned, incPath))

    assert(raw() === rawBefore, "a failed compaction changed the increment rows")
    assert(files() === filesBefore, "a failed compaction promoted something")
    assert(served() === servedBefore)

    // a later good compaction still succeeds over the failed one's leftovers
    EventStreams.compactRollupIncrements(spark, incPath)
    assert(spark.read.parquet(incPath).select("inc_batch_id").distinct()
      .collect().map(_.getLong(0)).toSeq === Seq(-1L))
    assert(spark.read.parquet(incPath).count() === servedBefore.length.toLong)
    assert(served() === servedBefore)
  }

  test("streaming sketched-rollup maintenance serves the whole-corpus unique counts") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_skrollup").toFile
    dir.deleteOnExit()
    val incPath = dir.getAbsolutePath + "/inc"
    val dims = Seq[(String, org.apache.spark.sql.Column)]("event_type" -> col("event_type"))
    val sketches = Seq[(String, org.apache.spark.sql.Column)]("user_id" -> col("user_id"))
    def e(id: Long, user: Long, typ: String) =
      EventStreams.Event(id, new java.sql.Timestamp((1440 + id) * 60000L), user, typ, 1.0)
    val all = Seq(e(1, 1, "a"), e(2, 2, "a"), e(3, 1, "a"), e(4, 1, "b"),
      e(5, 3, "a"), e(6, 2, "b"))
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.maintainRollup(
      mem.toDS().toDF(), graft.query.PreAgg.incrementWithSketches(_, dims, sketches),
      incPath, dir.getAbsolutePath + "/ckpt")
    try {
      mem.addData(all(0), all(1), all(2))
      q.processAllAvailable()
      mem.addData(all(3), all(4), all(5))
      q.processAllAvailable()
    } finally q.stop()

    def serve(pre: org.apache.spark.sql.DataFrame) =
      graft.query.PreAgg.termsUniqueCountSketch(pre, "event_type", "user_id", 10)
        .as[(String, Long, Long)].collect().toSeq
    val streamed = serve(EventStreams.rollupFromIncrements(spark, incPath))
    val whole = serve(graft.query.PreAgg.incrementWithSketches(
      all.toDS().toDF(), dims, sketches))
    assert(streamed === whole)
    // at this cardinality the sketch is exact: a=3 users, b=2 users
    assert(streamed === Seq(("a", 4L, 3L), ("b", 2L, 2L)))

    // at-least-once replay: re-appending an epoch must not move estimates
    val replay = spark.read.parquet(incPath).where(org.apache.spark.sql.functions.col("inc_batch_id") === 0L)
    replay.write.mode("append").parquet(incPath)
    assert(serve(EventStreams.rollupFromIncrements(spark, incPath)) === whole,
      "a replayed batch moved a sketched estimate")

    // compaction bounds the table at |distinct combos| and preserves serving
    EventStreams.compactRollupIncrements(spark, incPath)
    assert(spark.read.parquet(incPath).count() === 2L)
    assert(serve(EventStreams.rollupFromIncrements(spark, incPath)) === whole)
  }

  test("batch and streaming sessionization agree on closed sessions") {
    val batchEvents = Seq(ev(1, 0, 1, 1.0), ev(2, 5, 1, 2.0), ev(3, 8, 1, 3.0)).toDS()
    val batch = EventStreams.sessionizeBatch(batchEvents.toDF(), gapMs = 10 * 60000L)
      .select("user_id", "n_events", "total_value")
      .as[(Long, Long, Double)].collect().toSeq
    assert(batch === Seq((1L, 3L, 6.0)))
  }

  test("streaming vocabulary maintenance converges to the whole-corpus top-k") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_vocab").toFile
    dir.deleteOnExit()
    val statePath = dir.getAbsolutePath + "/states"
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.maintainVocabulary(
      mem.toDS().toDF("doc_id", "text"), "text", statePath, dir.getAbsolutePath + "/ckpt")
    val all = Seq(
      (1L, "apple banana apple cherry"),
      (2L, "banana apple banana banana"),
      (3L, "cherry apple"))
    try {
      mem.addData(all(0), all(1))
      q.processAllAvailable()
      mem.addData(all(2))
      q.processAllAvailable()
    } finally q.stop()
    // one kilobyte sketch state per micro-batch at rest…
    assert(spark.read.parquet(statePath).count() === 2)
    // …and combine+estimate equals the from-scratch corpus top-k
    val streamed = EventStreams.vocabularyFromStates(spark, statePath, k = 3)
      .as[(String, Long)].collect().toSeq
    val scratch = graft.ops.TextAnalysis
      .vocabTopK(all.toDF("doc_id", "text"), "text", k = 3)
      .as[(String, Long)].collect().toSeq
    assert(streamed === scratch)
    assert(streamed === Seq(("apple", 4L), ("banana", 4L), ("cherry", 2L)))
  }

  test("streamed extremes rollup serves top_metrics equal to the whole-corpus scan") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, struct}
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_ext").toFile
    dir.deleteOnExit()
    val incPath = dir.getAbsolutePath + "/inc"
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.maintainRollup(
      mem.toDS().toDF().where(col("ts").isNotNull),
      graft.query.PreAgg.incrementWithExtremes(_,
        Seq("event_type" -> col("event_type")),
        mins = Seq("value_min" -> col("value")),
        maxs = Seq("top_max" -> struct(col("ts").as("s"),
          col("event_id").as("t"), col("value").as("m")))),
      incPath, dir.getAbsolutePath + "/ckpt")
    val all = Seq(ev(1, 0, 1, 2.0), ev(2, 5, 2, 9.0), ev(3, 10, 1, 4.0),
      ev(4, 20, 3, 1.0))
    try {
      mem.addData(all(0), all(1))
      q.processAllAvailable()
      mem.addData(all(2), all(3))
      q.processAllAvailable()
    } finally q.stop()
    val served = graft.query.PreAgg.termsTopMetrics(
      EventStreams.rollupFromIncrements(spark, incPath), "event_type")
    val scan = graft.query.Aggs.termsTopMetrics(all.toDS().toDF(), "event_type",
      col("ts"), col("event_id"), col("value"))
    assert(served.collect().toSeq === scan.collect().toSeq)
    // replayed epoch: count unchanged (dedup), extremes unchanged (idempotent)
    val replay = spark.read.parquet(incPath)
      .where(org.apache.spark.sql.functions.col("inc_batch_id") === 0L)
    replay.write.mode("append").parquet(incPath)
    assert(graft.query.PreAgg.termsTopMetrics(
        EventStreams.rollupFromIncrements(spark, incPath), "event_type")
      .collect().toSeq === scan.collect().toSeq)
  }

  test("streamed sum rollup serves weighted_avg equal to the scan; replay cannot inflate the sums") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, floor}
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_sum").toFile
    dir.deleteOnExit()
    val incPath = dir.getAbsolutePath + "/inc"
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.maintainRollup(
      mem.toDS().toDF().where(col("value").isNotNull && col("user_id").isNotNull),
      graft.query.PreAgg.incrementWithSums(_,
        Seq("event_type" -> col("event_type")),
        Seq("swv_sum" -> (floor(col("value") * 100).cast("long") *
            col("user_id").cast("long")),
          "w_sum" -> col("user_id"))),
      incPath, dir.getAbsolutePath + "/ckpt")
    val all = Seq(ev(1, 0, 2, 2.25), ev(2, 5, 3, 9.5), ev(3, 10, 1, 4.0),
      ev(4, 20, 4, 1.75))
    try {
      mem.addData(all(0), all(1))
      q.processAllAvailable()
      mem.addData(all(2), all(3))
      q.processAllAvailable()
    } finally q.stop()
    val scan = graft.query.Aggs.weightedAvg(all.toDS().toDF(),
      col("value"), col("user_id")).collect().toSeq
    def served() = graft.query.PreAgg.weightedAvg(
      EventStreams.rollupFromIncrements(spark, incPath)).collect().toSeq
    assert(served() === scan)
    // replayed epoch: the per-(combo, epoch) dedup is load-bearing here —
    // a sum, unlike an extreme, would inflate if the replay survived
    val replay = spark.read.parquet(incPath)
      .where(org.apache.spark.sql.functions.col("inc_batch_id") === 0L)
    replay.write.mode("append").parquet(incPath)
    assert(served() === scan)
  }

  test("extremes and sum rollups maintained through maintainRollup survive replay and compact") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, floor, lit, struct}
    import graft.query.PreAgg
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_flavours").toFile
    dir.deleteOnExit()
    val dims = Seq[(String, org.apache.spark.sql.Column)]("event_type" -> col("event_type"))
    val extremes = PreAgg.incrementWithExtremes(_: org.apache.spark.sql.DataFrame, dims,
      mins = Seq("value_min" -> col("value")),
      maxs = Seq("top_max" -> struct(col("ts").as("s"),
        col("event_id").as("t"), col("value").as("m"))))
    val sums = PreAgg.incrementWithSums(_: org.apache.spark.sql.DataFrame, dims,
      Seq("swv_sum" -> floor(col("value") * 100).cast("long") * col("user_id"),
        "w_sum" -> col("user_id")))
    def e(id: Long, user: Long, typ: String, value: Double) =
      Event(id, new java.sql.Timestamp((1440 + id) * 60000L), user, typ, value)
    val all = Seq(e(1, 2, "a", 2.25), e(2, 3, "b", 9.5), e(3, 1, "a", 4.0),
      e(4, 4, "b", 1.75), e(5, 2, "a", 0.5))
    val flavours = Seq("extremes" -> extremes, "sums" -> sums)
    flavours.foreach { case (name, inc) =>
      val mem = MemoryStream[Event]
      val q = EventStreams.maintainRollup(mem.toDS().toDF(), inc,
        s"${dir.getAbsolutePath}/$name", s"${dir.getAbsolutePath}/ckpt_$name")
      try {
        mem.addData(all.take(3): _*)
        q.processAllAvailable()
        mem.addData(all.drop(3): _*)
        q.processAllAvailable()
      } finally q.stop()
    }

    flavours.foreach { case (name, inc) =>
      val path = s"${dir.getAbsolutePath}/$name"
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("event_type").collect().map(_.toString).toSeq
      val whole = rows(inc(all.toDS().toDF()))
      assert(rows(EventStreams.rollupFromIncrements(spark, path)) === whole, name)
      // a replayed epoch changes neither the count nor any measure
      spark.read.parquet(path).where(col("inc_batch_id") === 0L)
        .write.mode("append").parquet(path)
      assert(rows(EventStreams.rollupFromIncrements(spark, path)) === whole,
        s"$name: a replayed batch moved the rollup")
      // compaction leaves one sentinel-epoch row per combo, same rollup
      EventStreams.compactRollupIncrements(spark, path)
      val compacted = spark.read.parquet(path)
      assert(compacted.count() === whole.size.toLong, name)
      assert(compacted.where(col("inc_batch_id") =!= lit(-1L)).isEmpty, name)
      assert(rows(EventStreams.rollupFromIncrements(spark, path)) === whole, name)
    }
  }

  test("streamed span-gram counts: batch removal against state equals the whole-corpus cut") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_spans").toFile
    dir.deleteOnExit()
    val incPath = dir.getAbsolutePath + "/inc"
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.maintainSpanGramCounts(
      mem.toDS().toDF("doc_id", "text"), "doc_id", "text", minLen = 4,
      incPath, dir.getAbsolutePath + "/ckpt")
    val b1 = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "solo words here"))
    val b2 = Seq((3L, "x alpha beta gamma delta epsilon y"),
      (4L, "p q r s t p q r s t"))
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val state = EventStreams.spanGramCountsFromIncrements(spark, incPath)
    // a gram's duplicate status is a pure function of corpus-wide counts,
    // so removing the ARRIVING batch against the maintained state equals
    // the whole-corpus removal restricted to that batch's documents
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val incremental = rows(graft.ops.Dedup.duplicateSpanRemovalAgainst(
      b2.toDF("doc_id", "text"), "doc_id", "text", state, minLen = 4))
    val wholeCorpus = rows(graft.ops.Dedup.duplicateSpanRemoval(
      (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text", minLen = 4)
      .where(org.apache.spark.sql.functions.col("doc_id") >= 3L))
    assert(incremental === wholeCorpus)
    // the cross-batch duplicate WAS cut (doc 3 shares the shifted run
    // with batch-1's doc 1) — the state, not the batch, carried that fact
    assert(incremental.exists(r => r.head == 3L && r(3) == "x y"))
    // replay: re-appending an epoch must not inflate any count
    def gramRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("g").collect().map(_.toSeq).toSeq
    val stateRows = gramRows(state)
    val replay = spark.read.parquet(incPath).where(org.apache.spark.sql.functions.col("inc_batch_id") === 0L)
    replay.write.mode("append").parquet(incPath)
    assert(gramRows(EventStreams.spanGramCountsFromIncrements(spark, incPath))
      === stateRows)
    // compaction bounds the table at |distinct grams| and preserves it
    EventStreams.compactSpanGramIncrements(spark, incPath)
    assert(spark.read.parquet(incPath).count() === stateRows.size.toLong)
    assert(gramRows(EventStreams.spanGramCountsFromIncrements(spark, incPath))
      === stateRows)
  }

  test("dedupToCorpus drops content dups across micro-batches forever, not per watermark") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_corpus").toFile
    dir.deleteOnExit()
    val accepted = dir.getAbsolutePath + "/accepted"
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.dedupToCorpus(
      mem.toDS().toDF("doc_id", "text"), "text", "doc_id",
      accepted, dir.getAbsolutePath + "/ckpt")
    try {
      // batch 0: within-batch dup (11 vs 10, analyzer-equal) collapses
      mem.addData((10L, "the quick brown fox"), (11L, "The QUICK brown fox!"),
        (12L, "something about streams"))
      q.processAllAvailable()
      // batch 1: cross-batch dup of doc 12 drops — arbitrarily later, no
      // watermark window to age out of; genuinely new doc 21 lands
      mem.addData((20L, "Something ABOUT streams?"), (21L, "fresh content here"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(accepted)
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq === Seq(10L, 12L, 21L))
    // the accepted table IS the store: fp column present, batch-partitioned
    assert(out.columns.contains("fp") && out.columns.contains("_batch"))
    assert(out.where(out("_batch") === 1).select("doc_id").as[Long].collect().toSeq === Seq(21L))
  }

  test("dedupToCorpus with Bloom pre-filter accepts the same corpus and keeps states at rest") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_corpus_bloom").toFile
    dir.deleteOnExit()
    val accepted = dir.getAbsolutePath + "/accepted"
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.dedupToCorpus(
      mem.toDS().toDF("doc_id", "text"), "text", "doc_id",
      accepted, dir.getAbsolutePath + "/ckpt", bloomNumBits = 1 << 16)
    try {
      mem.addData((10L, "the quick brown fox"), (11L, "The QUICK brown fox!"),
        (12L, "something about streams"))
      q.processAllAvailable()
      mem.addData((20L, "Something ABOUT streams?"), (21L, "fresh content here"))
      q.processAllAvailable()
      mem.addData((30L, "FRESH content here!"), (31L, "and one more new doc"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(accepted)
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq ===
      Seq(10L, 12L, 21L, 31L))
    // one mergeable Bloom state row per micro-batch at rest
    assert(spark.read.parquet(accepted + "_bloom").count() === 3)

    // compaction folds the per-batch partitions into the sentinel without
    // changing the accepted set…
    EventStreams.compactAcceptedCorpus(spark, accepted)
    val compacted = spark.read.parquet(accepted)
    assert(compacted.select("doc_id").as[Long].collect().sorted.toSeq ===
      Seq(10L, 12L, 21L, 31L))
    assert(compacted.select("_batch").distinct().as[Long].collect().toSeq === Seq(-1L))
    // …and the compacted table still IS the store: a later stream over the
    // same path drops dups against it and accepts genuinely new docs
    val mem2 = MemoryStream[(Long, String)]
    val q2 = EventStreams.dedupToCorpus(
      mem2.toDS().toDF("doc_id", "text"), "text", "doc_id",
      accepted, dir.getAbsolutePath + "/ckpt2", bloomNumBits = 1 << 16)
    try {
      mem2.addData((40L, "the QUICK brown fox"), (41L, "never seen before"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.read.parquet(accepted).select("doc_id").as[Long].collect().sorted.toSeq ===
      Seq(10L, 12L, 21L, 31L, 41L))
  }

  test("streaming gram-df maintenance converges to the whole-corpus boilerplate profile") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_gramdf").toFile
    dir.deleteOnExit()
    val incPath = dir.getAbsolutePath + "/inc"
    val docs = Seq(
      (1L, "visit our website today alpha beta"),
      (2L, "visit our website today gamma delta"),
      (3L, "visit our website today epsilon zeta"),
      (4L, "visit our website today eta theta"),
      (5L, "visit our website today iota kappa"),
      (6L, "unique text one two three four"))
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.maintainGramDf(
      mem.toDS().toDF("doc_id", "text"), "text", n = 3,
      incPath, dir.getAbsolutePath + "/ckpt")
    try {
      mem.addData(docs.take(3): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(3): _*)
      q.processAllAvailable()
    } finally q.stop()

    val allDocs = docs.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val streamed = graft.ops.TextAnalysis.boilerplateProfileAgainst(
      allDocs, "doc_id", "text", n = 3,
      graft.ops.TextAnalysis.boilerplateFrequent(
        EventStreams.gramDfFromIncrements(spark, incPath), minDocFrac = 0.5))
    val whole = graft.ops.TextAnalysis.boilerplateProfile(
      allDocs, "doc_id", "text", n = 3, minDocFrac = 0.5)
    assert(rows(streamed) === rows(whole))

    // a foreachBatch retry re-appends an epoch: the per-(gram, epoch)
    // dedup must keep the implied statistics unchanged
    val replay = spark.read.parquet(incPath).where(org.apache.spark.sql.functions.col("inc_batch_id") === 0L)
    replay.write.mode("append").parquet(incPath)
    val replayed = graft.ops.TextAnalysis.boilerplateProfileAgainst(
      allDocs, "doc_id", "text", n = 3,
      graft.ops.TextAnalysis.boilerplateFrequent(
        EventStreams.gramDfFromIncrements(spark, incPath), minDocFrac = 0.5))
    assert(rows(replayed) === rows(whole), "a replayed epoch inflated the df table")

    // compaction bounds the table at |distinct grams|+1 (the null-gram
    // sentinel) and preserves the implied statistics — without it the
    // table grows one row per (gram, batch) forever
    val distinctGrams = EventStreams.gramDfFromIncrements(spark, incPath).count()
    EventStreams.compactGramDfIncrements(spark, incPath)
    assert(spark.read.parquet(incPath).count() === distinctGrams)
    val compacted = graft.ops.TextAnalysis.boilerplateProfileAgainst(
      allDocs, "doc_id", "text", n = 3,
      graft.ops.TextAnalysis.boilerplateFrequent(
        EventStreams.gramDfFromIncrements(spark, incPath), minDocFrac = 0.5))
    assert(rows(compacted) === rows(whole), "compaction changed the implied df table")

    // appends after compaction still merge: the sentinel epoch stays armed
    val more = Seq((7L, "visit our website today lambda mu")).toDF("doc_id", "text")
    val mem2 = MemoryStream[(Long, String)]
    val q2 = EventStreams.maintainGramDf(
      mem2.toDS().toDF("doc_id", "text"), "text", n = 3,
      incPath, dir.getAbsolutePath + "/ckpt2")
    try {
      mem2.addData((7L, "visit our website today lambda mu"))
      q2.processAllAvailable()
    } finally q2.stop()
    val allEight = docs.toDF("doc_id", "text").unionByName(more)
    val afterAppend = graft.ops.TextAnalysis.boilerplateProfileAgainst(
      allEight, "doc_id", "text", n = 3,
      graft.ops.TextAnalysis.boilerplateFrequent(
        EventStreams.gramDfFromIncrements(spark, incPath), minDocFrac = 0.5))
    val wholeEight = graft.ops.TextAnalysis.boilerplateProfile(
      allEight, "doc_id", "text", n = 3, minDocFrac = 0.5)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(rowsOf(afterAppend) === rowsOf(wholeEight),
      "post-compaction appends diverged from the from-scratch profile")
  }

  test("streaming drift histograms converge to the whole corpus and serve drift") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val dir = java.nio.file.Files.createTempDirectory("graft_drift").toFile
    dir.deleteOnExit()
    val incPath = dir.getAbsolutePath + "/inc"
    val docs = (1L to 40L).map(i => (i, if (i % 4 == 0) "xx" else "en"))
    val features = Seq[(String, org.apache.spark.sql.Column)](
      "lang" -> col("lang"), "parity" -> pmod(col("doc_id"), lit(2)))
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.maintainDriftHistograms(
      mem.toDS().toDF("doc_id", "lang"), features,
      incPath, dir.getAbsolutePath + "/ckpt")
    try {
      mem.addData(docs.take(25): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(25): _*)
      q.processAllAvailable()
    } finally q.stop()

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("feature", "bucket").collect().map(_.toSeq).toSeq
    val allDocs = docs.toDF("doc_id", "lang")
    val whole = features.map { case (n, c) =>
      allDocs.groupBy(c.cast("string").as("bucket"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
        .select(lit(n).as("feature"), col("bucket"), col("n"))
    }.reduce(_.unionByName(_))
    val streamed = EventStreams.driftHistogramsFromIncrements(spark, incPath)
    assert(canon(streamed) === canon(whole))

    // a replayed epoch must not inflate any count
    spark.read.parquet(incPath).where(col("inc_batch_id") === 0L)
      .write.mode("append").parquet(incPath)
    assert(canon(EventStreams.driftHistogramsFromIncrements(spark, incPath))
      === canon(whole), "a replayed epoch inflated the histograms")

    // drift served from the streamed histograms against a shifted
    // reference equals the same computation from batch histograms
    val ref = features.map { case (n, c) =>
      allDocs.where(col("doc_id") <= 20)
        .groupBy(c.cast("string").as("bucket"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
        .select(lit(n).as("feature"), col("bucket"), col("n"))
    }.reduce(_.unionByName(_))
    def canonDrift(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("feature").collect().map(_.toSeq).toSeq
    assert(canonDrift(EventStreams.driftFromHistograms(streamed, ref))
      === canonDrift(EventStreams.driftFromHistograms(whole, ref)))
  }

  test("streaming example assembly matches the batch twin once horizons close") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, floor}
    val Min = 60000L
    def e(id: Long, minute: Long, user: Long, typ: String, v: Double) =
      EventStreams.Event(id, new java.sql.Timestamp(minute * Min), user, typ, v)
    // user 1: purchases before and after the click; user 2 pushes the
    // watermark only
    val all = Seq(
      e(1, 10, 1, "purchase", 10.0),
      e(2, 30, 1, "click", 0.0),     // anchor: past {1}, converted by 3
      e(3, 40, 1, "purchase", 5.5),
      e(4, 100, 1, "click", 0.0),    // anchor: past {3}, no conversion
      e(5, 500, 2, "view", 0.0))     // watermark driver
    val mem = MemoryStream[EventStreams.Event]
    // feature window 60 min, label horizon 30 min, zero lateness
    val q = EventStreams.streamingExamples(mem.toDS(), "click", "purchase",
        featureWindowMs = 60 * Min, labelWindowMs = 30 * Min, watermark = "0 seconds")
      .writeStream.format("memory").queryName("examples_spec")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(all(0), all(1))
      q.processAllAvailable()
      // horizon for the first click (closes at minute 60) is still open
      assert(spark.table("examples_spec").count() === 0)
      mem.addData(all(2), all(3))
      q.processAllAvailable()
      mem.addData(all(4)) // watermark → minute 500: both horizons closed
      q.processAllAvailable()
      // event-time timeouts fire on the NEXT trigger after the watermark
      // passes them — one more driver batch flushes the second click
      mem.addData(e(6, 600, 2, "view", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("examples_spec")
        .orderBy("event_id")
        .as[EventStreams.TrainingExample].collect().toSeq
      val batch = graft.ops.Features.rollingExamples(
          all.toDF(), "user_id", "ts",
          anchorCond = col("event_type") === "click",
          outcomeCond = col("event_type") === "purchase",
          valueCol = floor(col("value") * 100),
          featureWindowMs = 60 * Min, labelWindowMs = 30 * Min,
          carry = Seq("event_id"))
        .select("user_id", "event_id", "n_outcomes_past", "value_past", "converted")
        .orderBy("event_id")
        .as[EventStreams.TrainingExample].collect().toSeq
      assert(streamed === batch, "streamed examples must equal the batch twin")
      // hand values: click 2 saw purchase 1 (1000 cents) and converted;
      // click 4's feature window [40,100) holds purchase 3, no conversion
      assert(streamed === Seq(
        EventStreams.TrainingExample(1L, 2L, 1L, 1000L, true),
        EventStreams.TrainingExample(1L, 4L, 1L, 550L, false)))
    } finally q.stop()
  }

  test("streaming examples with anchorType == outcomeType: an emitted anchor still serves later windows") {
    // Every purchase is an example AND counts in later purchases'
    // trailing windows. The first purchase's horizon closes BEFORE the
    // second purchase arrives — pre-fix, emission evicted it from the
    // buffer and the second example lost its past outcome.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, floor}
    val Min = 60000L
    def e(id: Long, minute: Long, user: Long, typ: String, v: Double) =
      EventStreams.Event(id, new java.sql.Timestamp(minute * Min), user, typ, v)
    val p1 = e(1, 10, 1, "purchase", 10.0)
    val p2 = e(2, 60, 1, "purchase", 5.5)
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.streamingExamples(mem.toDS(), "purchase", "purchase",
        featureWindowMs = 60 * Min, labelWindowMs = 30 * Min, watermark = "0 seconds")
      .writeStream.format("memory").queryName("examples_selfjoin_spec")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(p1, e(100, 45, 2, "view", 0.0))
      q.processAllAvailable() // watermark → 45 at batch end
      mem.addData(e(101, 46, 2, "view", 0.0))
      q.processAllAvailable() // p1's horizon (40) fires under wm 45 → emitted
      mem.addData(p2)
      q.processAllAvailable()
      mem.addData(e(102, 200, 2, "view", 0.0))
      q.processAllAvailable() // watermark → 200: p2's horizon closed
      mem.addData(e(103, 300, 2, "view", 0.0))
      q.processAllAvailable() // flush the fired timeout
      val streamed = spark.table("examples_selfjoin_spec")
        .orderBy("event_id")
        .as[EventStreams.TrainingExample].collect().toSeq
      val batch = graft.ops.Features.rollingExamples(
          Seq(p1, p2).toDF(), "user_id", "ts",
          anchorCond = col("event_type") === "purchase",
          outcomeCond = col("event_type") === "purchase",
          valueCol = floor(col("value") * 100),
          featureWindowMs = 60 * Min, labelWindowMs = 30 * Min,
          carry = Seq("event_id"))
        .select("user_id", "event_id", "n_outcomes_past", "value_past", "converted")
        .orderBy("event_id")
        .as[EventStreams.TrainingExample].collect().toSeq
      assert(streamed === batch, "streamed examples must equal the batch twin")
      // p2's window [0, 60) must see the already-emitted p1
      assert(streamed === Seq(
        EventStreams.TrainingExample(1L, 1L, 0L, 0L, false),
        EventStreams.TrainingExample(1L, 2L, 1L, 1000L, false)))
    } finally q.stop()
  }

  test("streamed IVF index serves the same neighbors as batch frozen-centroid assignment") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_stream").toFile
    dir.deleteOnExit()
    val indexPath = dir.getAbsolutePath + "/index"
    val vecs = (0L until 40L).map { i =>
      val base = if (i % 2 == 0) Seq(1.0f, 0.0f, 0.0f, 0.1f) else Seq(0.0f, 1.0f, 0.1f, 0.0f)
      (i, base.map(_ + (i % 5) * 0.01f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val centroids = graft.ops.Similarity.kmeansCentroids(
      df.where(col("vec_id") < 20), "vec_id", "embedding", k = 4, iters = 0)

    val mem = MemoryStream[(Long, Seq[Float])]
    val q = EventStreams.maintainIvfIndex(
      mem.toDS().toDF("vec_id", "embedding"), "vec_id", "embedding",
      centroids, indexPath, dir.getAbsolutePath + "/ckpt")
    try {
      mem.addData(vecs.take(20): _*)
      q.processAllAvailable()
      mem.addData(vecs.drop(20): _*)
      q.processAllAvailable()
    } finally q.stop()

    val queries = df.where(col("vec_id") < 3)
    def serve(index: org.apache.spark.sql.DataFrame) =
      graft.ops.Similarity.ivfTopKFromIndex(index, centroids,
          queries, "vec_id", "embedding", k = 3, nprobe = 2)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val batchIndex = graft.ops.Similarity.assignCells(df, "vec_id", "embedding", centroids)
    val streamed = serve(EventStreams.ivfIndexFromIncrements(spark, indexPath))
    assert(streamed === serve(batchIndex))

    // an at-least-once replay of epoch 0 must not duplicate neighbors
    val replay = spark.read.parquet(indexPath).where(col("inc_batch_id") === 0L)
    replay.write.mode("append").partitionBy("cell").parquet(indexPath)
    assert(serve(EventStreams.ivfIndexFromIncrements(spark, indexPath)) === streamed,
      "a replayed epoch changed the served neighbors")

    // a vector re-emitted in a LATER epoch is an update: one served row
    // per vec_id, carrying the newest embedding's cell
    val moved = graft.ops.Similarity.assignCells(
        Seq((0L, Seq(0.0f, 1.0f, 0.1f, 0.0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", centroids)
      .withColumn("inc_batch_id", org.apache.spark.sql.functions.lit(99L))
    moved.write.mode("append").partitionBy("cell").parquet(indexPath)
    val updated = EventStreams.ivfIndexFromIncrements(spark, indexPath)
    assert(updated.where(col("vec_id") === 0L).count() === 1,
      "a re-emitted vector must serve exactly once")
    assert(updated.where(col("vec_id") === 0L).select("cell").head().getInt(0)
      === moved.select("cell").head().getInt(0),
      "the latest epoch's assignment must win")

    // compaction bounds the table at one LIVE row per vec_id (the update
    // churn above had left vec 0 twice and a whole replayed epoch) and
    // preserves serving exactly
    val servedBefore = serve(EventStreams.ivfIndexFromIncrements(spark, indexPath))
    EventStreams.compactIvfIndexIncrements(spark, indexPath)
    val compacted = spark.read.parquet(indexPath)
    assert(compacted.count() === 40, "compaction must keep exactly the live rows")
    assert(compacted.select("inc_batch_id").distinct()
      .as[Long].collect().toSeq === Seq(-1L))
    assert(serve(EventStreams.ivfIndexFromIncrements(spark, indexPath))
      === servedBefore, "compaction changed the served neighbors")
    // the cell-partitioned layout survives the swap (the pruning story)
    assert(new java.io.File(indexPath).listFiles()
      .exists(f => f.getName.startsWith("cell=")), "cell partitioning lost")
    // …and the update semantic stays armed: a post-compaction re-emit
    // (real epoch > sentinel) still replaces its compacted row
    val movedBack = graft.ops.Similarity.assignCells(
        Seq((0L, vecs.head._2)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", centroids)
      .withColumn("inc_batch_id", org.apache.spark.sql.functions.lit(100L))
    movedBack.write.mode("append").partitionBy("cell").parquet(indexPath)
    val after = EventStreams.ivfIndexFromIncrements(spark, indexPath)
    assert(after.where(col("vec_id") === 0L).count() === 1)
    assert(after.where(col("vec_id") === 0L).select("cell").head().getInt(0)
      === movedBack.select("cell").head().getInt(0),
      "a post-compaction re-emit must outrank the sentinel epoch")
  }

  test("streamed sparse postings serve ≡ batch, replay-proof, doc updates drop stale terms") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_postings_stream").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath + "/postings"
    val docs = Seq(
      (1L, "vector scan vector"), (2L, "dup merge"),
      (3L, "scan scan scan"), (4L, "dup vector"))
    val q = Seq("vector" -> 2.0, "dup" -> 1.5, "scan" -> 0.5)
    val mem = MemoryStream[(Long, String)]
    val sq = EventStreams.maintainPostings(
      mem.toDS().toDF("doc_id", "text"), "doc_id", "text",
      numBuckets = 8, path, dir.getAbsolutePath + "/ckpt")
    try {
      mem.addData(docs.take(2): _*)
      sq.processAllAvailable()
      mem.addData(docs.drop(2): _*)
      sq.processAllAvailable()
    } finally sq.stop()

    def serve(postings: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      graft.query.SparseVector.score(postings, "doc_id", q, numBuckets = 8)
        .as[(Long, Double)].collect().sortBy(_._1).toSeq
    val batch = graft.query.SparseVector.tfPostingsBucketed(
      docs.toDF("doc_id", "text"), "doc_id", "text", numBuckets = 8)
    val streamed = serve(EventStreams.postingsFromIncrements(spark, "doc_id", path))
    assert(streamed === serve(batch))

    // at-least-once replay of epoch 0: scores must not double
    val replay = spark.read.parquet(path).where(col("inc_batch_id") === 0L)
    replay.write.mode("append").partitionBy("term_bucket").parquet(path)
    assert(serve(EventStreams.postingsFromIncrements(spark, "doc_id", path))
      === streamed, "a replayed epoch changed the served scores")

    // a re-emitted document REPLACES its postings: doc 1 loses 'vector'
    // entirely — the stale term must stop serving (the per-doc epoch cut;
    // a per-(doc, term) rule would keep it forever)
    graft.query.SparseVector.tfPostingsBucketed(
        Seq((1L, "merge merge")).toDF("doc_id", "text"), "doc_id", "text", 8)
      .withColumn("inc_batch_id", org.apache.spark.sql.functions.lit(99L))
      .write.mode("append").partitionBy("term_bucket").parquet(path)
    val updated = EventStreams.postingsFromIncrements(spark, "doc_id", path)
    assert(updated.where(col("doc_id") === 1L).select("term")
      .as[String].collect().toSet === Set("merge"))
    // and the served ranking reflects the update (doc 1 no longer matches
    // any query term above zero except... none — it drops out entirely)
    assert(serve(updated).map(_._1) === Seq(2L, 3L, 4L))

    // compaction bounds the table at the LIVE (doc, term) rows — the full
    // epoch history (two epochs + a replay + an update) folds to the
    // served set under the sentinel epoch — and serving is unchanged
    val servedBefore = serve(EventStreams.postingsFromIncrements(spark, "doc_id", path))
    val liveRows = EventStreams.postingsFromIncrements(spark, "doc_id", path).count()
    EventStreams.compactPostingsIncrements(spark, "doc_id", path)
    val compacted = spark.read.parquet(path)
    assert(compacted.count() === liveRows,
      "compaction must keep exactly the live (doc, term) rows")
    assert(compacted.select("inc_batch_id").distinct()
      .as[Long].collect().toSeq === Seq(-1L))
    assert(serve(EventStreams.postingsFromIncrements(spark, "doc_id", path))
      === servedBefore, "compaction changed the served scores")
    // bucket partitioning and the num_buckets contract column both survive
    assert(new java.io.File(path).listFiles()
      .exists(f => f.getName.startsWith("term_bucket=")), "bucket partitioning lost")
    assert(compacted.select("num_buckets").distinct()
      .as[Int].collect().toSeq === Seq(8), "num_buckets contract column lost")
    // …and the per-DOC update semantic stays armed post-compaction: doc 1
    // re-emitted again — its compacted 'merge' postings must stop serving
    graft.query.SparseVector.tfPostingsBucketed(
        Seq((1L, "vector vector vector")).toDF("doc_id", "text"), "doc_id", "text", 8)
      .withColumn("inc_batch_id", org.apache.spark.sql.functions.lit(100L))
      .write.mode("append").partitionBy("term_bucket").parquet(path)
    val after = EventStreams.postingsFromIncrements(spark, "doc_id", path)
    assert(after.where(col("doc_id") === 1L).select("term")
      .as[String].collect().toSet === Set("vector"),
      "a post-compaction re-emit must replace the compacted term set whole")
    assert(serve(after).map(_._1) === Seq(1L, 2L, 3L, 4L))
  }

  test("streaming importance-model maintenance converges to the whole-corpus scores") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_dsir").toFile
    dir.deleteOnExit()
    val incPath = dir.getAbsolutePath + "/inc"
    val docs = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog"),
      (2L, "en", "the quick brown fox naps under the old tree"),
      (3L, "xx", "buy cheap pills now click here win big"),
      (4L, "xx", "buy cheap pills now claim your free prize"),
      (5L, "en", "a quick brown fox and a lazy dog"),
      (6L, "xx", "click here now buy cheap pills again today"))
    val mem = MemoryStream[(Long, String, String)]
    val q = EventStreams.maintainImportanceModel(
      mem.toDS().toDF("doc_id", "lang", "text"), "text",
      targetCond = col("lang") === "en",
      incPath, dir.getAbsolutePath + "/ckpt")
    try {
      mem.addData(docs.take(3): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(3): _*)
      q.processAllAvailable()
    } finally q.stop()

    val allDocs = docs.toDF("doc_id", "lang", "text")
    def score(model: org.apache.spark.sql.DataFrame) =
      graft.ops.Sampling.importanceScoresAgainst(allDocs, "doc_id", "text",
          graft.ops.Sampling.importanceWeights(model))
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val whole = graft.ops.Sampling.importanceScores(allDocs, "doc_id", "text",
        col("lang") === "en")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(score(EventStreams.importanceModelFromIncrements(spark, incPath)) === whole)

    // replayed epoch: per-(bucket, epoch) dedup keeps the model unchanged
    val replay = spark.read.parquet(incPath).where(org.apache.spark.sql.functions.col("inc_batch_id") === 0L)
    replay.write.mode("append").parquet(incPath)
    assert(score(EventStreams.importanceModelFromIncrements(spark, incPath)) === whole,
      "a replayed epoch inflated the model")

    // compaction bounds the table at |occupied buckets| and preserves scores
    val buckets = EventStreams.importanceModelFromIncrements(spark, incPath).count()
    EventStreams.compactImportanceModelIncrements(spark, incPath)
    assert(spark.read.parquet(incPath).count() === buckets)
    assert(score(EventStreams.importanceModelFromIncrements(spark, incPath)) === whole,
      "compaction changed the implied model")
  }

  test("streamed bigram-LM state scores ≡ the batch-trained model, replay-proof, compacting") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_lm").toFile
    dir.deleteOnExit()
    val incPath = dir.getAbsolutePath + "/inc"
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.maintainBigramLm(
      mem.toDS().toDF("doc_id", "text"), "doc_id", "text",
      incPath, dir.getAbsolutePath + "/ckpt")
    val all = Seq(
      (1L, "the quick brown fox the quick"), (2L, "the quick dog"),
      (3L, "brown fox runs"), (4L, "zz yy xx"))
    try {
      mem.addData(all(0), all(1))
      q.processAllAvailable()
      mem.addData(all(2), all(3))
      q.processAllAvailable()
    } finally q.stop()

    val batchDf = all.toDF("doc_id", "text")
    def scores(bg: org.apache.spark.sql.DataFrame, ctx: org.apache.spark.sql.DataFrame) =
      graft.ops.NgramLm.scoreDocs(batchDf, "doc_id", "text", bg, ctx)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val (bBg, bCtx) = graft.ops.NgramLm.train(batchDf, "doc_id", "text", minCount = 2)
    val whole = scores(bBg, bCtx)
    val (sBg, sCtx) = EventStreams.bigramLmFromIncrements(spark, incPath, minCount = 2)
    assert(scores(sBg, sCtx) === whole)
    // a replayed epoch (foreachBatch retry) must not inflate counts
    val replay = spark.read.parquet(incPath).where(col("inc_batch_id") === 0L)
    replay.write.mode("append").parquet(incPath)
    val (rBg, rCtx) = EventStreams.bigramLmFromIncrements(spark, incPath, minCount = 2)
    assert(scores(rBg, rCtx) === whole, "a replayed epoch inflated the model")
    // compaction bounds the table at |distinct bigrams| and preserves scores
    EventStreams.compactBigramLmIncrements(spark, incPath)
    val distinctBigrams = graft.ops.NgramLm.bigramCounts(batchDf, "doc_id", "text").count()
    assert(spark.read.parquet(incPath).count() === distinctBigrams)
    val (cBg, cCtx) = EventStreams.bigramLmFromIncrements(spark, incPath, minCount = 2)
    assert(scores(cBg, cCtx) === whole, "compaction changed the implied model")
  }

  test("streamed fuzzy vocabulary serves suggestions and fuzzy matches ≡ batch, replay-proof") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_fuzzy").toFile
    dir.deleteOnExit()
    val incPath = dir.getAbsolutePath + "/inc"
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.maintainFuzzyVocab(
      mem.toDS().toDF("doc_id", "text"), "text", incPath, dir.getAbsolutePath + "/ckpt")
    val all = Seq(
      (1L, "the table stands"), (2L, "the able mind"),
      (3L, "the end"), (4L, "table table tble"))
    try {
      mem.addData(all(0), all(1))
      q.processAllAvailable()
      mem.addData(all(2), all(3))
      q.processAllAvailable()
    } finally q.stop()

    val batchDf = all.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val servedVocab = EventStreams.fuzzyVocabFromIncrements(spark, incPath)
    // suggester over the streamed artifact ≡ the batch scan
    assert(
      rows(graft.query.Fuzzy.suggestTermsFromVocab(servedVocab, "tble", 2, 10)) ===
        rows(graft.query.Fuzzy.suggestTerms(batchDf, col("text"), "tble", 2, 10)))
    // deletion-index retrieval candidates agree too
    val streamedTerms = graft.query.Fuzzy.matchingTerms(
        graft.query.Fuzzy.deletionIndex(servedVocab.select("term"), 1), "tble", 1)
      .as[String].collect().sorted.toSeq
    val batchTerms = graft.query.Fuzzy.matchingTerms(
        graft.query.Fuzzy.deletionIndex(
          graft.query.Fuzzy.vocabulary(batchDf, col("text")), 1), "tble", 1)
      .as[String].collect().sorted.toSeq
    assert(streamedTerms === batchTerms)
    // a replayed epoch (foreachBatch retry) must not inflate frequencies
    val replay = spark.read.parquet(incPath).where(col("inc_batch_id") === 0L)
    replay.write.mode("append").parquet(incPath)
    assert(
      rows(graft.query.Fuzzy.suggestTermsFromVocab(
        EventStreams.fuzzyVocabFromIncrements(spark, incPath), "tble", 2, 10)) ===
        rows(graft.query.Fuzzy.suggestTerms(batchDf, col("text"), "tble", 2, 10)),
      "a replayed epoch inflated the vocabulary")
    // compaction bounds the table at |vocabulary| and preserves the serve
    EventStreams.compactFuzzyVocabIncrements(spark, incPath)
    assert(spark.read.parquet(incPath).count() ===
      graft.query.Fuzzy.vocabulary(batchDf, col("text")).count())
    assert(
      rows(graft.query.Fuzzy.suggestTermsFromVocab(
        EventStreams.fuzzyVocabFromIncrements(spark, incPath), "tble", 2, 10)) ===
        rows(graft.query.Fuzzy.suggestTerms(batchDf, col("text"), "tble", 2, 10)),
      "compaction changed the served vocabulary")
  }

  test("streamed unigram pieces tokenize ≡ the batch vocabulary, pruning at serve time") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_uni").toFile
    dir.deleteOnExit()
    val incPath = dir.getAbsolutePath + "/inc"
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.maintainUnigramPieces(
      mem.toDS().toDF("doc_id", "text"), "text", maxPieceLen = 3,
      incPath, dir.getAbsolutePath + "/ckpt")
    // 'ab' count crosses minCount=2 only ACROSS batches — per-batch
    // pruning would lose it; serve-time pruning must keep it
    val all = Seq((1L, "aaab"), (2L, "ab"), (3L, "aaab aaab"))
    try {
      mem.addData(all(0))
      q.processAllAvailable()
      mem.addData(all(1), all(2))
      q.processAllAvailable()
    } finally q.stop()

    val batchDf = all.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val served = EventStreams.unigramPiecesFromIncrements(spark, incPath)
    assert(
      rows(graft.ops.Unigram.segmentCountsWithPieces(batchDf, "doc_id", "text",
        served, maxPieceLen = 3, minCount = 2, maxWordLen = 8)) ===
        rows(graft.ops.Unigram.segmentCounts(batchDf, "doc_id", "text",
          maxPieceLen = 3, minCount = 2, maxWordLen = 8)))
    // replayed epoch cannot inflate piece counts
    val replay = spark.read.parquet(incPath).where(col("inc_batch_id") === 0L)
    replay.write.mode("append").parquet(incPath)
    assert(
      rows(graft.ops.Unigram.segmentCountsWithPieces(batchDf, "doc_id", "text",
        EventStreams.unigramPiecesFromIncrements(spark, incPath),
        maxPieceLen = 3, minCount = 2, maxWordLen = 8)) ===
        rows(graft.ops.Unigram.segmentCounts(batchDf, "doc_id", "text",
          maxPieceLen = 3, minCount = 2, maxWordLen = 8)),
      "a replayed epoch inflated the piece counts")
  }

  test("streaming SQ8 bounds maintenance equals from-scratch training") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_sq8").toFile
    dir.deleteOnExit()
    val boundsPath = dir.getAbsolutePath + "/bounds"
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = EventStreams.maintainSqBounds(
      mem.toDS().toDF("vec_id", "embedding"), "embedding", dim = 3,
      boundsPath, dir.getAbsolutePath + "/ckpt")
    val all = Seq(
      (1L, Seq(0.0, 5.0, 7.0)),
      (2L, Seq(10.0, 5.0, -3.0)),
      (3L, Seq(5.0, 5.0, 2.0)),
      (4L, Seq(-1.0, 6.0, 9.0)))
    try {
      mem.addData(all(0), all(1))
      q.processAllAvailable()
      mem.addData(all(2), all(3))
      q.processAllAvailable()
    } finally q.stop()
    // one (dim, mn, mx) triple per dimension per micro-batch at rest...
    assert(spark.read.parquet(boundsPath).count() === 6)
    // ...and min/max-merging the increments equals from-scratch training
    val (mn, mx) = EventStreams.sqBoundsFromIncrements(spark, boundsPath)
    val batchDf = all.toDF("vec_id", "embedding")
    val (mnS, mxS) = graft.ops.Similarity.sqBounds(batchDf, "embedding", 3)
    assert(mn.toSeq === mnS.toSeq && mx.toSeq === mxS.toSeq)
    assert(mn.toSeq === Seq(-1.0, 5.0, -3.0) && mx.toSeq === Seq(10.0, 6.0, 9.0))
  }

  test("SQ8 bounds and drift histograms compact to one row per key and still absorb replays") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, lit}
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_more").toFile
    dir.deleteOnExit()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("feature", "bucket").collect().map(_.toSeq).toSeq
    // run `batches` through a fresh stream (epochs 0, 1, ...)
    def stream[T: org.apache.spark.sql.Encoder](batches: Seq[Seq[T]])(
        start: org.apache.spark.sql.DataFrame => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val mem = MemoryStream[T]
      val q = start(mem.toDS().toDF())
      try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
    }
    // an at-least-once retry appends epoch 0 of the latest stream again
    def replayEpoch0(path: String): Unit =
      spark.read.parquet(path).where(col("inc_batch_id") === 0L)
        .write.mode("append").parquet(path)

    // SQ8 bounds: 3 dims x 2 batches at rest, 3 rows after compaction
    val vecs = Seq(
      (1L, Seq(0.0, 5.0, 7.0)), (2L, Seq(10.0, 5.0, -3.0)),
      (3L, Seq(5.0, 5.0, 2.0)), (4L, Seq(-1.0, 6.0, 9.0)))
    val later = Seq((5L, Seq(-4.0, 5.5, 12.0)))
    val bounds = dir.getAbsolutePath + "/bounds"
    def sq8(ckpt: String, batches: Seq[Seq[(Long, Seq[Double])]]): Unit =
      stream(batches)(df => EventStreams.maintainSqBounds(
        df.toDF("vec_id", "embedding"), "embedding", dim = 3, bounds, dir.getAbsolutePath + ckpt))
    sq8("/ckpt_sq", Seq(vecs.take(2), vecs.drop(2)))
    val before = EventStreams.sqBoundsFromIncrements(spark, bounds)
    EventStreams.compactSqBoundsIncrements(spark, bounds)
    assert(spark.read.parquet(bounds).count() === 3)
    val compacted = EventStreams.sqBoundsFromIncrements(spark, bounds)
    assert(compacted._1.toSeq === before._1.toSeq && compacted._2.toSeq === before._2.toSeq)
    sq8("/ckpt_sq2", Seq(later))
    replayEpoch0(bounds)
    val (mn, mx) = EventStreams.sqBoundsFromIncrements(spark, bounds)
    val (mnS, mxS) = graft.ops.Similarity.sqBounds(
      (vecs ++ later).toDF("vec_id", "embedding"), "embedding", 3)
    assert(mn.toSeq === mnS.toSeq && mx.toSeq === mxS.toSeq)

    // drift histograms: 2 features x their buckets, one row each after
    // compaction; a replay after it must not inflate any count
    val docs = (1L to 30L).map(i => (i, if (i % 3 == 0) "xx" else "en"))
    val features = Seq[(String, org.apache.spark.sql.Column)](
      "lang" -> col("lang"), "parity" -> (col("doc_id") % 2))
    val hist = dir.getAbsolutePath + "/hist"
    def drift(ckpt: String, batches: Seq[Seq[(Long, String)]]): Unit =
      stream(batches)(df => EventStreams.maintainDriftHistograms(
        df.toDF("doc_id", "lang"), features, hist, dir.getAbsolutePath + ckpt))
    def whole(rows: Seq[(Long, String)]) = {
      val all = rows.toDF("doc_id", "lang")
      features.map { case (n, c) =>
        all.groupBy(c.cast("string").as("bucket"))
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
          .select(lit(n).as("feature"), col("bucket"), col("n"))
      }.reduce(_.unionByName(_))
    }
    drift("/ckpt_h", Seq(docs.take(20), docs.slice(20, 25)))
    val served = canon(EventStreams.driftHistogramsFromIncrements(spark, hist))
    assert(served === canon(whole(docs.take(25))))
    EventStreams.compactDriftHistogramIncrements(spark, hist)
    assert(spark.read.parquet(hist).count() === 4)
    assert(canon(EventStreams.driftHistogramsFromIncrements(spark, hist)) === served)
    drift("/ckpt_h2", Seq(docs.drop(25)))
    replayEpoch0(hist)
    assert(canon(EventStreams.driftHistogramsFromIncrements(spark, hist)) === canon(whole(docs)),
      "a replay after compaction inflated the histograms")
  }
}
