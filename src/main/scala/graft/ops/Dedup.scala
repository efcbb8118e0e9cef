package graft.ops

import graft.expr.{SimHash, TextShingles}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. Designed for the 100 TB shape:
  *
  *   - exact dedup is one shuffle on the dedup key;
  *   - shingles and MinHash signatures are computed per-row by native
  *     codegen'd kernels ([[graft.expr.TextShingles]] — no explode, no
  *     shuffle until banding, no interpreted higher-order functions);
  *   - candidate generation goes through LSH band buckets (shuffle keyed on
  *     band hash, linear in docs × bands) or prefix-filtered inverted-index
  *     joins, never an all-pairs product;
  *   - candidate join tables carry only ids and fixed-width keys; variable-
  *     size payloads (shingle sets) join back after pair dedup;
  *   - only candidate pairs pay the exact-verification cost.
  */
object Dedup {

  /** Exact dedup: keep, per distinct value of `keyCols`, the single row with
    * the smallest `tieBreaker` (unique per group for a deterministic pick —
    * any stable id column). Deterministic regardless of partitioning (unlike
    * `dropDuplicates`, which keeps an arbitrary first row).
    *
    * Shape: a `min_by` AGGREGATE of the packed row, not a window
    * `row_number`. Both are one shuffle on the key, but the window form
    * moves EVERY duplicate row of a key to one task before discarding all
    * but one — on the duplicate-heavy corpora that motivate dedup, a hot
    * key (empty text, boilerplate) concentrates its whole clone set on one
    * reducer. The aggregate gets map-side partial combine: each partition
    * collapses its local clones first, so the shuffle carries at most one
    * row per (partition, key) and hot keys cost nothing extra.
    *
    * Measured local trade: the struct buffer keeps this out of
    * whole-stage-codegen HashAggregate (ObjectHashAggregate instead), so on
    * a NEAR-UNIQUE corpus the window form is ~2x faster at bench scale
    * (0.2s vs 0.6s on 5k docs) — constant overhead, not a scaling term.
    * The aggregate is the default because the failure mode it removes
    * (clone-set concentration) is unbounded, while the overhead it adds is
    * bounded and local.
    */
  def exact(df: DataFrame, keyCols: Seq[String], tieBreaker: String): DataFrame = {
    val cols = df.columns.toSeq
    val packed = struct(cols.map(c => col(s"`$c`")): _*)
    // The ordering key is (isNull, value), not the raw tieBreaker: min_by
    // SKIPS rows whose ordering value is null, so a group whose tieBreaker
    // is null in every row would aggregate to a null struct and unpack as
    // an all-null row — silently replacing the group with garbage. Under
    // the struct ordering, null-tieBreaker rows sort after real ones but
    // still participate, so such a group keeps one of its actual rows.
    val ord = struct(col(s"`$tieBreaker`").isNull, col(s"`$tieBreaker`"))
    df.groupBy(keyCols.map(c => col(s"`$c`")): _*)
      .agg(min_by(packed, ord).as("_row"))
      .select(cols.map(c => col(s"_row.`$c`").as(c)): _*)
  }

  /** Exact dedup on a normalized content fingerprint (case/punctuation
    * variants collide) — see [[TextAnalysis.contentFingerprint]].
    */
  def exactByFingerprint(df: DataFrame, textCol: String, tieBreaker: String): DataFrame =
    exact(df.withColumn("_fp", TextAnalysis.contentFingerprint(col(textCol))), Seq("_fp"), tieBreaker)
      .drop("_fp")

  /** INCREMENTAL exact dedup — the daily-ingest shape: accept the rows of
    * `batch` whose normalized content fingerprint appears neither in
    * `seenFingerprints` (one `fp` column, the at-rest store of every
    * fingerprint accepted so far) nor earlier in the batch itself. The
    * corpus is never re-scanned: yesterday's terabytes participate as one
    * fingerprint column, and the batch joins it with a LEFT ANTI —
    * map-side-prunable, no corpus text moves. Append
    * `fingerprints(accepted)` to the store after each batch; the store
    * stays associative (order of batches never changes the accepted set
    * when batches are disjoint in time — each row is judged against
    * everything accepted before it).
    *
    * Null-text rows have a null fingerprint, which a LEFT ANTI join always
    * keeps while a `NOT IN` store check never would — an undefined row with
    * no content to judge. Both this and [[fingerprints]] drop them, so the
    * engine and its oracle agree and a null never poisons the store.
    */
  def exactIncremental(
      batch: DataFrame,
      textCol: String,
      tieBreaker: String,
      seenFingerprints: DataFrame): DataFrame = {
    require(seenFingerprints.columns.toSeq == Seq("fp"),
      s"seenFingerprints must be a single 'fp' column, got ${seenFingerprints.columns.mkString(",")}")
    val withFp = batch
      .withColumn("_fp", TextAnalysis.contentFingerprint(col(s"`$textCol`")))
      .where(col("_fp").isNotNull)
    exact(
      withFp.join(seenFingerprints.select(col("fp").as("_fp")), Seq("_fp"), "left_anti"),
      Seq("_fp"), tieBreaker)
      .drop("_fp")
  }

  /** The fingerprint column of an accepted frame — what a batch appends to
    * the at-rest store after [[exactIncremental]].
    */
  def fingerprints(df: DataFrame, textCol: String): DataFrame =
    df.select(TextAnalysis.contentFingerprint(col(s"`$textCol`")).as("fp"))
      .where(col("fp").isNotNull)
      .distinct()

  /** Mergeable Bloom sketch over a fingerprint frame — one binary row, the
    * per-batch state the store maintains NEXT TO its fingerprints (same
    * at-rest increment contract as the dictionary HLL/KLL and vocabulary
    * states). At 100 TB the store's fingerprints are terabytes a daily
    * batch cannot re-join wholesale; the Bloom states total megabytes
    * (`numBits`/8 bytes each) and their merge is a bitwise OR.
    *
    * Built with Spark's own distributed `BloomFilterAggregate` (the runtime
    * join-filter sketch) over the xxhash64 fingerprint longs — one
    * map-side-combined aggregation, no driver-side corpus pass. Sizing is
    * the standard Bloom trade: ~14.4 bits/item for 1e-3 false-positive
    * rate; a false positive only costs that row a trip through the
    * anti-join, never a wrong result.
    */
  def fingerprintBloomState(
      fps: DataFrame,
      expectedItems: Long,
      numBits: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftshim.ColumnShim
    fps.select(ColumnShim.column(
      new BloomFilterAggregate(
        ColumnShim.expression(col("fp")),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression()).as("_bloom"))
  }

  /** OR-merge accumulated Bloom states (kilobyte rows — a driver fold is
    * the right tool) into one serialized filter; null states from empty
    * batches pass through. States must share sizing — enforced by
    * `mergeInPlace` itself.
    */
  def mergeBloomStates(states: DataFrame): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    val blobs = states.select(col("_bloom")).where(col("_bloom").isNotNull)
      .collect().map(_.getAs[Array[Byte]](0))
    require(blobs.nonEmpty, "no non-null Bloom states to merge")
    val merged = blobs.map(BloomFilter.readFrom).reduce(_ mergeInPlace _)
    val out = new java.io.ByteArrayOutputStream()
    merged.writeTo(out)
    out.toByteArray
  }

  /** [[exactIncremental]] with a Bloom pre-filter — the same accepted set
    * (the equivalence a shared oracle certifies), but rows whose
    * fingerprint the merged Bloom filter has definitely never seen skip the
    * store anti-join entirely. On the common mostly-new daily batch, the
    * join's probe side shrinks from |batch| to the true dups plus the
    * false-positive sliver, and the store's terabytes stay untouched for
    * every definitely-new row — pair the maybe-join with a fingerprint
    * store bucketed on `fp` and the surviving join prunes to matching
    * buckets.
    */
  def exactIncrementalBloom(
      batch: DataFrame,
      textCol: String,
      tieBreaker: String,
      seenFingerprints: DataFrame,
      bloomStates: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftshim.ColumnShim
    require(seenFingerprints.columns.toSeq == Seq("fp"),
      s"seenFingerprints must be a single 'fp' column, got ${seenFingerprints.columns.mkString(",")}")
    val bloom = Literal(mergeBloomStates(bloomStates),
      org.apache.spark.sql.types.BinaryType)
    val withFp = batch
      .withColumn("_fp", TextAnalysis.contentFingerprint(col(s"`$textCol`")))
      .where(col("_fp").isNotNull)
    val mightBeSeen = ColumnShim.column(
      BloomFilterMightContain(bloom, ColumnShim.expression(col("_fp"))))
    val definitelyNew = withFp.where(!mightBeSeen)
    val maybeSeen = withFp.where(mightBeSeen)
      .join(seenFingerprints.select(col("fp").as("_fp")), Seq("_fp"), "left_anti")
    exact(definitelyNew.unionByName(maybeSeen), Seq("_fp"), tieBreaker)
      .drop("_fp")
  }

  /** Compute-bound per-row stages (shingling, signatures, hamming) must not
    * inherit a coarse upstream partitioning: a corpus that fits one parquet
    * split would otherwise run its entire O(rows × tokens × hashes) pipeline
    * on a single core. One round-robin shuffle of (id, text) rows is cheap
    * relative to the compute it spreads; a no-op when the input is already
    * wider than the cluster's parallelism.
    */
  private[ops] def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // Plan-side width estimate instead of `df.rdd.getNumPartitions`:
    // converting to an RDD forces a full physical-planning pass per call,
    // pure driver overhead when dedup sits inside a larger pipeline. The
    // logical stats' sizeInBytes (file-index bytes for scans) tells the
    // same story — fewer bytes than `target` splits' worth means the scan
    // can't fill the cluster and the compute stage needs the shuffle.
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // Unknown stats (LogicalRDD and friends report defaultSizeInBytes ≈
    // Long.MaxValue) must widen, not skip: a "huge" sentinel would
    // otherwise exempt exactly the frames whose layout we know least
    // about. Known-large file sources are trusted to split — with the
    // documented caveat that a non-splittable codec (one giant gzip CSV)
    // still scans as one partition; land such sources splittable (or
    // repartition explicitly) before compute-bound dedup.
    val unknown = bytes >= BigInt(spark.sessionState.conf.defaultSizeInBytes)
    if (unknown || bytes < BigInt(maxSplit) * target) df.repartition(target) else df
  }

  /** Lowercase word tokens of a text column (native codegen'd tokenizer —
    * semantics of `filter(split(lower(c), "[^a-z0-9]+"), length > 0)`).
    */
  def tokens(c: Column): Column = TextShingles.tokenize(c)

  /** Distinct hashed `k`-word shingles of a text column (the MinHash/Jaccard
    * item set). Documents with fewer than `k` tokens produce an empty set.
    * Values equal SQL `xxhash64(concat_ws(' ', <k tokens>))`.
    */
  def shingles(c: Column, k: Int): Column = TextShingles.shingleHashes(c, k)

  /** MinHash signature of a shingle-set column: `numHashes` independent
    * minimums of seeded re-hashes, computed in one native loop per row.
    */
  def minhashSignature(shingleSet: Column, numHashes: Int): Column =
    TextShingles.minhashSignature(shingleSet, numHashes)

  /** Exact Jaccard similarity of two set columns (arrays assumed distinct). */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) === 0, 0.0).otherwise(
      size(array_intersect(a, b)).cast(DoubleType) /
        size(array_union(a, b)).cast(DoubleType))

  /** MinHash + LSH near-duplicate pairs.
    *
    * Signature of `numBands × rowsPerBand` min-hashes per document; documents
    * sharing any band bucket become candidates (standard banding: a pair with
    * Jaccard `s` collides in ≥1 band with probability `1-(1-s^r)^b`);
    * candidates are verified with exact Jaccard over the shingle sets and
    * kept at `threshold` or above.
    *
    * Returns `(id_a, id_b, jaccard)` with `id_a < id_b`. Row order is
    * unspecified (as for every pair operator here): a global sort of all
    * near-dup pairs is a needless final stage at scale — callers that need
    * a total order (e.g. the oracle harness) sort the result themselves.
    *
    * @param df       input documents
    * @param idCol    unique numeric/string document id
    * @param textCol  text column
    * @param shingleK words per shingle
    */
  def minhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleK: Int = 3,
      numBands: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    val numHashes = numBands * rowsPerBand
    // Sets kept SORTED: signature minima are order-insensitive, and sorted
    // arrays let candidate verification run the native merge-join jaccard
    // (one pass, no per-pair hash sets).
    val withSets = spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), sort_array(shingles(col(textCol), shingleK)).as("_sh"))
      .where(size(col("_sh")) > 0)
    // The band table carries ONLY (id, bandIdx, bandHash): shuffling the
    // shingle sets ×numBands through the self-join would multiply shuffle
    // volume by the set size; sets are joined back per candidate pair after
    // band-collision dedup instead.
    val bands = withSets
      .withColumn("_sig", minhashSignature(col("_sh"), numHashes))
      .select(col(idCol), explode(transform(sequence(lit(0), lit(numBands - 1)),
        j => struct(j.as("idx"), xxhash64(j, slice(col("_sig"), j * rowsPerBand + lit(1), lit(rowsPerBand))).as("h")))).as("_band"))
      .select(col(idCol), col("_band.idx").as("_bidx"), col("_band.h").as("_bhash"))

    val a = bands.select(col(idCol).as("id_a"), col("_bidx"), col("_bhash"))
    val b = bands.select(col(idCol).as("id_b"), col("_bidx"), col("_bhash"))
    val candidates = a.join(b, Seq("_bidx", "_bhash"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b") // same pair may collide in several bands

    candidates
      .join(withSets.select(col(idCol).as("id_a"), col("_sh").as("_sh_a")), Seq("id_a"))
      .join(withSets.select(col(idCol).as("id_b"), col("_sh").as("_sh_b")), Seq("id_b"))
      .withColumn("jaccard", TextShingles.jaccardSorted(col("_sh_a"), col("_sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** SimHash near-duplicate pairs: 64-bit SimHash over word tokens; the
    * pigeonhole banding on `numChunks` equal bit-chunks guarantees any pair
    * within Hamming distance `numChunks - 1` shares at least one chunk;
    * candidates verified by exact Hamming distance `<= maxHamming`.
    *
    * Returns `(id_a, id_b, hamming)` with `id_a < id_b` (row order
    * unspecified — see [[minhashNearDupPairs]]).
    */
  def simhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      numChunks: Int = 4): DataFrame = {
    val sims = spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), SimHash.simhash64(tokens(col(textCol))).as("_sim"))
    simhashChunkPairs(sims, idCol, bits = 64, numChunks, maxHamming)
  }

  /** The pigeonhole stage both simhash pair generators share: split each
    * `bits`-bit fingerprint `_sim` into `numChunks` chunks, join on any
    * equal chunk, verify the Hamming distance `<= maxHamming`. Returns
    * `(id_a, id_b, hamming)` with `id_a < id_b`.
    */
  private def simhashChunkPairs(
      sims: DataFrame,
      idCol: String,
      bits: Int,
      numChunks: Int,
      maxHamming: Int): DataFrame = {
    require(bits % numChunks == 0, s"numChunks must divide $bits")
    require(numChunks > maxHamming, "pigeonhole needs numChunks > maxHamming")
    val chunkBits = bits / numChunks
    val mask = if (chunkBits == 64) -1L else (1L << chunkBits) - 1
    val chunks = sims
      .select(col(idCol), col("_sim"), explode(array((0 until numChunks).map(j =>
        struct(lit(j).as("idx"), shiftrightunsigned(col("_sim"), j * chunkBits).bitwiseAND(mask).as("v"))): _*)).as("_chunk"))
      .select(col(idCol), col("_sim"), col("_chunk.idx").as("_cidx"), col("_chunk.v").as("_cval"))

    // The simhash rides along in the chunk join (8 bytes — unlike the
    // minhash sets there's nothing to save by joining it back later), so the
    // Hamming verify prunes candidates before the pair-dedup shuffle.
    val a = chunks.select(col(idCol).as("id_a"), col("_sim").as("_sim_a"), col("_cidx"), col("_cval"))
    val b = chunks.select(col(idCol).as("id_b"), col("_sim").as("_sim_b"), col("_cidx"), col("_cval"))
    a.join(b, Seq("_cidx", "_cval"))
      .where(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("_sim_a").bitwiseXOR(col("_sim_b"))))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .dropDuplicates("id_a", "id_b")
  }

  /** [[simhashNearDupPairs]]'s PORTABLE twin — the same Charikar
    * construction over the repo's md5 hash (52 bits: 13 hex chars as a
    * base-16 long, the [[minhashNearDupPairsPortable]] seam), so every
    * stage reruns in SQL: per-occurrence token hashes, per-bit ±1 votes,
    * sign bits assembled into a 52-bit fingerprint, pigeonhole chunk
    * join, Hamming verify. The codegen'd 64-bit kernel
    * ([[graft.expr.SimHash]]) stays the scale path — one row-local pass;
    * this twin pays one md5 per token occurrence and folds the 52 bit
    * tallies as plain sum() aggregates in a single codegen'd
    * HashAggregate (no per-bit explode), to certify the kernel's banding
    * cross-engine.
    */
  def simhashNearDupPairsPortable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      numChunks: Int = 4): DataFrame = {
    val bits = 52
    def portableHash(c: Column): Column =
      conv(substring(md5(c), 1, 13), 16, 10).cast("long")
    val tallyAggs = (0 until bits).map { b =>
      sum(when(shiftrightunsigned(col("_h"), b).bitwiseAND(lit(1L)) === 1L, lit(1))
        .otherwise(lit(-1))).as(s"_t$b")
    }
    val sims = spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(tokens(col(textCol))).as("_t"))
      .select(col(idCol), portableHash(col("_t")).as("_h"))
      .groupBy(col(idCol))
      .agg(tallyAggs.head, tallyAggs.tail: _*)
      .select(col(idCol),
        (0 until bits).map(b =>
          when(col(s"_t$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("_sim"))
    simhashChunkPairs(sims, idCol, bits, numChunks, maxHamming)
  }

  /** Connected components over a near-duplicate pair list, by iterative
    * minimum-label propagation: every vertex repeatedly takes the smallest
    * label among itself, its neighbors, and its label's label (pointer
    * jumping) until fixpoint — O(log diameter) rounds, bounded by
    * `maxIter`. Each iteration is three hash joins plus an aggregate, all
    * shuffles keyed on vertex id, no driver-side graph. Intermediate label
    * frames are persisted and explicitly unpersisted each round (a leaked
    * eager checkpoint pins executor memory for the rest of the session); on
    * a real cluster add a checkpoint dir and swap persist for `checkpoint`
    * to also cut the nested lineage.
    *
    * Returns `(id, component)` for every id appearing in `pairs`, where
    * `component` is the smallest id in the connected component.
    */
  def connectedComponents(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 20,
      driverMaxPairs: Long = 4L * 1000 * 1000): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // Cache the directed pair list before mirroring it: the union would
    // otherwise recompute the (potentially expensive) upstream pair
    // pipeline once per branch.
    val p = pairs.select(col(idA).as("a"), col(idB).as("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Near-dup pair graphs are orders of magnitude smaller than their
    // corpora. Below `driverMaxPairs` (bounded: 4M pairs ≈ tens of MB) a
    // driver-side union-find beats the distributed loop by seconds per
    // ROUND of pure scheduling overhead; above it, the label-propagation
    // loop below scales arbitrarily. The gate is on the measured pair
    // count, never on guesswork.
    if (p.count() <= driverMaxPairs) {
      val out = driverUnionFind(p) // collects from the cache
      p.unpersist(blocking = false)
      return out
    }

    val edges = p.union(p.select(col("b").as("a"), col("a").as("b")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("component", col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Convergence watches sum(component): labels only ever decrease, so an
    // unchanged sum IS the fixpoint — one scan of `next` per round instead
    // of a join against the previous labels.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("component").cast("decimal(38,0)"))).head.getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // neighbor propagation + pointer jumping (take the component of your
      // component): the jump halves chain depth each round, so convergence
      // is O(log diameter) instead of O(diameter).
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "b_id"), col("b") === col("b_id"))
        .select(col("a").as("id"), col("component"))
      val viaJump = labels.as("x")
        .join(labels.select(col("id").as("c_id"), col("component").as("c_comp")),
          col("x.component") === col("c_id"))
        .select(col("x.id").as("id"), col("c_comp").as("component"))
      val next = labels.union(viaNeighbors).union(viaJump)
        .groupBy("id")
        .agg(min("component").as("component"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nextSum = labelSum(next) // also materializes next's cache
      labels.unpersist(blocking = false)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      i += 1
    }
    edges.unpersist(blocking = false)
    p.unpersist(blocking = false)
    labels
  }

  /** Path-compressed union-find over a collected pair list — the small-graph
    * fast path of [[connectedComponents]]. Ids stay generically typed; the
    * component representative is the natural-order minimum, matching the
    * distributed path exactly.
    */
  private def driverUnionFind(p: DataFrame): DataFrame = {
    val rows = p.collect()
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.get(c) != r) { val nxt = parent.get(c); parent.put(c, r); c = nxt }
      r
    }
    def lt(x: Any, y: Any): Boolean = x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
    rows.foreach { r =>
      val (a, b) = (r.get(0), r.get(1))
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb) }
    }
    val spark = p.sparkSession
    val out = parent.keySet().toArray.map(id =>
      org.apache.spark.sql.Row(id, find(id)))
    val idType = p.schema.fields(0).dataType
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.toIndexedSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("component", idType))))
  }

  /** Keep one representative (the smallest id) per near-duplicate cluster:
    * rows absent from `pairs` are unique and kept; rows present keep only
    * the component minimum. The standard last stage of minhash/simhash/
    * ngram dedup at corpus scale.
    */
  def keepClusterRepresentatives(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val comp = connectedComponents(pairs, maxIter = maxIter)
      .withColumnRenamed("id", "_cc_id")
    df.join(comp, df(idCol) === col("_cc_id"), "left")
      .where(col("_cc_id").isNull || col("component") === df(idCol))
      .drop("_cc_id", "component")
  }

  /** n-gram Jaccard near-duplicate pairs — EXACT results (identical to the
    * all-pairs definition: every `id_a < id_b` with Jaccard ≥ `threshold`).
    *
    * Intersection sizes come straight out of the inverted-index self-join:
    * shingle sets are distinct, so a qualifying pair appears exactly
    * `|A∩B|` times in the join — `groupBy(pair).count()` IS the exact
    * overlap, and `J = c / (n_a + n_b - c)` needs no per-pair array
    * intersection at all. Every stage is a codegen'd hash join/aggregate
    * over fixed-width rows: shuffle volume is the inverted-index pair count,
    * with a size-ratio prefilter (`t·max(n_a,n_b) ≤ min(n_a,n_b)`) pruning
    * impossible pairs before the aggregate.
    *
    * Cost scales with Σ_shingle df² (the index's pair volume) — fine for
    * corpora with discriminative shingles; for web-scale dense corpora use
    * [[minhashNearDupPairs]], whose banding keeps cost linear in docs.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleK: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val withSets = spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), shingles(col(textCol), shingleK).as("_sh"))
      .where(size(col("_sh")) > 0)

    // Inverted index rows (id, setSize, shingle).
    val posting = withSets.select(col(idCol), size(col("_sh")).as("_n"), explode(col("_sh")).as("_s"))
    val a = posting.select(col(idCol).as("id_a"), col("_n").as("_na"), col("_s"))
    val b = posting.select(col(idCol).as("id_b"), col("_n").as("_nb"), col("_s"))

    a.join(b, Seq("_s"))
      .where(col("id_a") < col("id_b"))
      // size filter: Jaccard >= t forces t·max(n_a,n_b) <= min(n_a,n_b)
      .where(greatest(col("_na"), col("_nb")) * threshold <= least(col("_na"), col("_nb")))
      .groupBy(col("id_a"), col("id_b"), col("_na"), col("_nb"))
      .agg(count(lit(1)).as("_c"))
      .withColumn("jaccard",
        col("_c").cast(DoubleType) / (col("_na") + col("_nb") - col("_c")).cast(DoubleType))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** [[ngramJaccardPairs]] with PREFIX FILTERING — same EXACT result set,
    * linearithmic candidate volume (the AllPairs/PPJoin technique: Bayardo
    * et al. WWW'07, Xiao et al. WWW'08 — public algorithms).
    *
    * Shingles get a global canonical order (ascending document frequency,
    * rarest first). For Jaccard ≥ `t`, a document's candidates must share a
    * shingle within its PREFIX of length `|d| - ⌈t·|d|⌉ + 1` under that
    * order: were all of `A∩B` in A's suffix of length `⌈t·|A|⌉ - 1`, then
    * `|A∩B| < t·|A| ≤ |A∩B|` — contradiction. So the inverted index only
    * posts prefix shingles: the frequent shingles that dominate the
    * Σ df² self-join cost sort to the END of the canonical order and drop
    * out of most prefixes. Candidates carry ids only; verification joins
    * the full sorted shingle sets back per candidate and runs the native
    * merge-loop Jaccard — exactness restored regardless of how loose the
    * candidate set is.
    *
    * Cost: one extra df aggregate + one rank window vs [[ngramJaccardPairs]],
    * in exchange for a candidate join on rare-shingle postings only — the
    * exact path that survives dense corpora (the scaladoc warning on
    * [[ngramJaccardPairs]] does not apply). The shingle-set and
    * ranked-prefix frames are persisted WITH lineage (recomputation-safe
    * on executor loss, unlike an orphaned localCheckpoint) so each
    * multi-consumer subtree runs once; the operator is EAGER — the
    * verified pair list (small: the actual near-dups) checkpoints at call
    * time and the posting scratch unpersists immediately, so a long-lived
    * session retains the result, not the machinery.
    *
    * Measured crossover (sf0.1, 5k docs, local[32]): this corpus's shingles
    * are mostly near-unique, so the unfiltered count-as-intersection join
    * is already cheap (1.6 s at t=0.35) and the prefix machinery only pays
    * for itself at high thresholds; on Zipfian web corpora the df² term the
    * prefix removes is the whole cost. At 10× rows (SCALE_r11.md) this form
    * measures ~6× wall-clock where the unfiltered join measures ~20×
    * (per-task aggregate state outgrows memory and spills) — so for exact
    * pairs on a dense single node THIS is the designated form; use
    * [[ngramJaccardPairs]] for small/synthetic corpora where its one-pass
    * simplicity wins, [[minhashNearDupPairs]] when approximate recall is
    * acceptable.
    */
  def ngramJaccardPairsPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleK: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    // Both shared frames persist WITH lineage (not localCheckpoint — see
    // scaladoc) so the shingle kernel and the ranked-prefix pipeline each
    // run once: withSets is read by the posting build AND both sides of
    // the verification join; prefix by both sides of the candidate
    // self-join. The verified pair list (small — the near-dups) is
    // checkpointed eagerly and the scratch unpersists, so a long-lived
    // session retains the result, not the posting machinery.
    val withSets = spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), sort_array(shingles(col(textCol), shingleK)).as("_sh"))
      .where(size(col("_sh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val posting = withSets.select(col(idCol), size(col("_sh")).as("_n"), explode(col("_sh")).as("_s"))
    // Global canonical order: ascending df, shingle hash as tiebreak. The
    // df aggregate and its join back both key on the shingle hash — plain
    // shuffle hash joins (the distinct-shingle table is NOT broadcastable
    // at corpus scale); AQE may still broadcast it when it measures small.
    val dfreq = posting.groupBy("_s").agg(count(lit(1)).as("_df"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("_df"), col("_s"))
    val prefix = posting.join(dfreq, Seq("_s"))
      .withColumn("_rank", row_number().over(w))
      .where(col("_rank") <= (col("_n") - ceil(col("_n") * threshold) + 1).cast("int"))
      .select(col(idCol), col("_n"), col("_s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val a = prefix.select(col(idCol).as("id_a"), col("_n").as("_na"), col("_s"))
    val b = prefix.select(col(idCol).as("id_b"), col("_n").as("_nb"), col("_s"))
    val candidates = a.join(b, Seq("_s"))
      .where(col("id_a") < col("id_b"))
      .where(greatest(col("_na"), col("_nb")) * threshold <= least(col("_na"), col("_nb")))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")

    val verified = candidates
      .join(withSets.select(col(idCol).as("id_a"), col("_sh").as("_sh_a")), Seq("id_a"))
      .join(withSets.select(col(idCol).as("id_b"), col("_sh").as("_sh_b")), Seq("id_b"))
      .withColumn("jaccard", TextShingles.jaccardSorted(col("_sh_a"), col("_sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .localCheckpoint()
    prefix.unpersist(blocking = false)
    withSets.unpersist(blocking = false)
    verified
  }

  /** PARTIAL-overlap (containment) pairs via winnowing fingerprints
    * ([[graft.expr.Winnow]] — the MOSS selection): `(id_a, id_b,
    * containment)` where containment = |fp_a ∩ fp_b| / min(|fp_a|, |fp_b|)
    * meets `tau`. Containment normalizes by the SMALLER set, so a short
    * document copied wholesale into a long one scores ~1 where whole-doc
    * Jaccard would dilute toward 0 — the quote/boilerplate/copied-passage
    * case [[ngramJaccardPairs]] structurally misses. Winnowing's guarantee
    * makes it sound: any shared run of ≥ `shingleK + window − 1` tokens
    * plants at least one common fingerprint.
    *
    * Same inverted-index shape as [[ngramJaccardPairs]]: fingerprint
    * postings self-join (ids + one long each), count-as-intersection, one
    * aggregation — candidate pairs are only documents actually sharing a
    * fingerprint, at winnowing's `2/(w+1)` density of the gram count.
    * Fingerprints are the portable md5 hash, so the whole operator
    * restates in SQL (`dedup_containment`).
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tau: Double,
      shingleK: Int = 3,
      window: Int = 4): DataFrame = {
    require(tau > 0 && tau <= 1, "containment: tau must be in (0, 1]")
    val withFp = spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        graft.expr.Winnow.fingerprints(col(textCol), shingleK, window).as("_fp"))
      .where(size(col("_fp")) > 0)
    val posting = withFp.select(col(idCol), size(col("_fp")).as("_n"), explode(col("_fp")).as("_f"))
    val a = posting.select(col(idCol).as("id_a"), col("_n").as("_na"), col("_f"))
    val b = posting.select(col(idCol).as("id_b"), col("_n").as("_nb"), col("_f"))
    a.join(b, Seq("_f"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("_na"), col("_nb"))
      .agg(count(lit(1)).as("_c"))
      .withColumn("containment",
        col("_c").cast(DoubleType) / least(col("_na"), col("_nb")).cast(DoubleType))
      .where(col("containment") >= tau)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** [[minhashNearDupPairs]]'s PORTABLE twin — every hash is the repo's
    * md5 construction ([[graft.expr.WinnowAlgo.portableHash]]'s
    * SQL-expressible form: first 13 hex chars of md5 as a base-16 long),
    * so a cross-engine oracle recomputes gram hashes, per-permutation
    * minima, band buckets, candidates, and the verified Jaccard bit for
    * bit. Band buckets compare the band's VALUE VECTOR (minima in
    * permutation order) rather than a re-hash of it — one fewer hashing
    * seam to port.
    *
    * The xxhash64 kernel ([[minhashNearDupPairs]]) remains the scale path:
    * one row-local signature pass, no explode. This twin pays one md5 per
    * gram plus numHashes integer permutations `(a_i·x + b_i) mod (2^31−1)`
    * folded as min() aggregates in a single codegen'd HashAggregate — run
    * it to certify the fast path's banding on a sample, or wherever
    * cross-engine verifiability outranks throughput (same contract as
    * [[graft.ops.Sampling.hashUnit]] vs `hashUnitFast`).
    */
  /** Mersenne prime 2^31 − 1: the modulus of the portable permutation
    * family `h_i(x) = (a_i·x + b_i) mod P`. With x, a, b < P the product
    * stays under 2^62 — exact in any engine's 64-bit integer arithmetic,
    * no md5 per (gram, seed) needed (one md5 per gram; the permutations
    * are plan-time constants derived from the same portable hash).
    */
  private[graft] val PortableP: Long = (1L << 31) - 1

  /** Seeded permutation constants, derived from [[WinnowAlgo.portableHash]]
    * so both the engine plan and the SQL oracle inline the SAME literals.
    */
  private[graft] def portablePerm(i: Int): (Long, Long) = (
    graft.expr.WinnowAlgo.portableHash(s"a:$i") % (PortableP - 1) + 1,
    graft.expr.WinnowAlgo.portableHash(s"b:$i") % PortableP)

  def minhashNearDupPairsPortable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleK: Int = 3,
      numBands: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    val numHashes = numBands * rowsPerBand
    // Sorted distinct portable gram hashes from the row-local kernel
    // ([[graft.expr.Winnow.gramHashes]] — tokenize + gram string + md5 in
    // one codegen'd pass; the HOF formulation ran interpreted and 10×
    // slower). Doubles as the verification set.
    val base = spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), graft.expr.Winnow.gramHashes(col(textCol), shingleK).as("_sh"))
      .where(size(col("_sh")) > 0)

    // One portable hash per gram, reduced mod P; the numHashes permutation
    // minima are plain min() aggregates over it — a single codegen'd
    // HashAggregate (fixed-width long buffers), no per-seed explode,
    // map-side partials.
    val gx = base.select(col(idCol), explode(col("_sh")).as("_g"))
      .select(col(idCol), (col("_g") % lit(PortableP)).as("_x"))
    val sigAggs = (0 until numHashes).map { i =>
      val (a, b) = portablePerm(i)
      min((col("_x") * lit(a) + lit(b)) % lit(PortableP)).as(s"_h$i")
    }
    val sig = gx.groupBy(col(idCol)).agg(sigAggs.head, sigAggs.tail: _*)
    val bands = sig.select(col(idCol), explode(array((0 until numBands).map { j =>
      struct(lit(j).as("idx"),
        array((0 until rowsPerBand).map(r => col(s"_h${j * rowsPerBand + r}")): _*).as("key"))
    }: _*)).as("_band"))
      .select(col(idCol), col("_band.idx").as("_bidx"), col("_band.key").as("_bkey"))
    val a = bands.select(col(idCol).as("id_a"), col("_bidx"), col("_bkey"))
    val b = bands.select(col(idCol).as("id_b"), col("_bidx"), col("_bkey"))
    val candidates = a.join(b, Seq("_bidx", "_bkey"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")

    candidates
      .join(base.select(col(idCol).as("id_a"), col("_sh").as("_sh_a")), Seq("id_a"))
      .join(base.select(col(idCol).as("id_b"), col("_sh").as("_sh_b")), Seq("id_b"))
      .withColumn("jaccard", TextShingles.jaccardSorted(col("_sh_a"), col("_sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** TF-cosine near-duplicate pairs over the inverted index: `(id_a, id_b,
    * cosine)` with `cosine ≥ tau`, where each document is its integer
    * token-count vector (the classic VSM bag-of-words similarity, no idf)
    * and `cosine = Σ tf_a·tf_b / (‖tf_a‖ · ‖tf_b‖)`. Where Jaccard sees
    * SETS of shingles, TF-cosine weighs REPEATED tokens — the right lens
    * for templated/boilerplate near-dups whose token multisets agree while
    * their shingle sets drift.
    *
    * Every accumulation is an exact BIGINT (dot products and squared norms
    * of integer counts — order-free), so the score is three
    * correctly-rounded IEEE ops (sqrt × mul → div) on exact integers and
    * reproduces bit-for-bit in any engine: fully oracled, unlike
    * float-weighted tf-idf whose summation order is engine-dependent.
    * Tokenization is the engine's standard analyzer
    * ([[graft.expr.TextMatch.normalized]]).
    *
    * Shape: token postings `(id, token, tf)` self-join on token — the
    * inverted index. The Σ df² self-join cost is dominated by UBIQUITOUS
    * tokens (a stopword in every document alone contributes N²/2 candidate
    * rows — measured 175 s at 5k docs unfiltered), so tokens whose document
    * frequency exceeds `maxDfPermille`/1000 of the corpus are DROPPED from
    * the vector space before anything joins: the standard all-pairs
    * practice (a token in most documents carries no near-dup signal — its
    * contribution to every pair's cosine is the same). The cutoff compares
    * exact integers (`df·1000 > n·permille`), so both engines draw the
    * SAME vocabulary line. Norms are computed in the filtered space —
    * cosine stays a true cosine there. The two norm attachments join
    * 1-row-per-doc frames; no all-pairs product anywhere.
    */
  def tfCosinePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tau: Double,
      maxDfPermille: Int = 50): DataFrame = {
    require(tau > 0 && tau <= 1, "tau must be in (0, 1]")
    require(maxDfPermille >= 1 && maxDfPermille <= 1000,
      "maxDfPermille must be in [1, 1000]")
    val toks = filter(
      split(graft.expr.TextMatch.normalized(col(textCol)), " +"),
      t => t =!= "")
    val rawPosting = spread(df.select(col(idCol), toks.as("_toks")))
      .select(col(idCol), explode(col("_toks")).as("_t"))
      .groupBy(col(idCol), col("_t"))
      .agg(count(lit(1)).as("_tf"))
    // The dropped-token table is TINY (the few hundred most common words)
    // — a broadcast anti-join prunes the posting table without shuffling
    // it; the 1-row corpus count attaches the same way as the keyskew
    // profiler's scalar total.
    val total = rawPosting.agg(count_distinct(col(idCol)).as("_n"))
    val dropped = rawPosting.groupBy(col("_t"))
      .agg(count(lit(1)).as("_df"))
      .crossJoin(broadcast(total))
      .where(col("_df") * lit(1000L) > col("_n") * lit(maxDfPermille.toLong))
      .select("_t")
    val posting = rawPosting.join(broadcast(dropped), Seq("_t"), "left_anti")
    val norms = posting.groupBy(col(idCol))
      .agg(sum(col("_tf") * col("_tf")).as("_n2"))
    val a = posting.select(col(idCol).as("id_a"), col("_t"), col("_tf").as("_tfa"))
    val b = posting.select(col(idCol).as("id_b"), col("_t"), col("_tf").as("_tfb"))
    a.join(b, Seq("_t"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("_tfa") * col("_tfb")).as("_dot"))
      .join(norms.select(col(idCol).as("id_a"), col("_n2").as("_n2a")), Seq("id_a"))
      .join(norms.select(col(idCol).as("id_b"), col("_n2").as("_n2b")), Seq("id_b"))
      .withColumn("cosine",
        col("_dot").cast(DoubleType) /
          (sqrt(col("_n2a").cast(DoubleType)) * sqrt(col("_n2b").cast(DoubleType))))
      .where(col("cosine") >= tau)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** C4-style repeated-segment removal, SEGMENT granularity where the other
    * ops here work at document granularity: split each document into
    * non-overlapping `window`-token spans, drop every span whose exact
    * content occurs more than `maxOccurrences` times corpus-wide (C4 dropped
    * any three-sentence span occurring more than once; RefinedWeb's line
    * dedup is the same shape on lines), and reassemble each document from
    * its surviving spans in order.
    *
    * Output: `(idCol, n_dropped, n_kept, text)` — one row per document that
    * had at least one span; a document whose every span is corpus-repeated
    * survives as an empty `text` with `n_kept = 0` (exact duplicates
    * annihilate EACH OTHER — the known, documented C4 behavior — callers
    * wanting one survivor run exact dedup first).
    *
    * 100 TB shape: the span stream explodes linearly in corpus tokens, the
    * occurrence count is one partial-aggregated exchange on the span hash,
    * the over-represented set is the Zipf head (few by construction — left
    * unhinted so AQE broadcasts when measured small), and the reassembly
    * groupBy hashes on the document id. Tokenization matches the corpus
    * analyzer (lowercase alnum runs), so spans restate verbatim in the
    * oracle's SQL.
    */
  /** ExactSubstr-style duplicate-SPAN removal (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): remove
    * every token lying inside a substring of ≥ `minLen` tokens that
    * occurs more than once corpus-wide — at ANY alignment, the delta vs
    * [[repeatedSegmentFilter]]'s non-overlapping windows (which miss a
    * duplicate shifted by one token). The suffix-array of the paper is a
    * single-machine construction; the distributed restatement is sliding
    * `minLen`-gram postings: a token is inside a ≥`minLen` duplicated
    * substring iff some duplicated `minLen`-gram covers it, so the
    * removal SET is identical to the paper's.
    *
    * Output: `(idCol, n_tokens, n_removed, text)` per document with ≥1
    * token ([[repeatedSegmentFilter]]'s contract); exact duplicates
    * annihilate each other (every copy's spans are removed — the paper's
    * own policy; run exact dedup first for one survivor).
    *
    * 100 TB shape: postings are one md5 per token position (32 bytes
    * regardless of `minLen` — the fingerprint IS the gram identity, and
    * md5 restates in the oracle), one partial-aggregated exchange on the
    * gram finds the duplicated set (Zipf-bounded), coverage explodes
    * `minLen`× on DUPLICATED occurrences only, and the reassembly
    * groupBy hashes on the document id with document-bounded sort
    * frames. No all-pairs anything.
    */
  /** The sliding `minLen`-gram postings under [[duplicateSpanRemoval]]:
    * `(idCol, _pos, _g)` — 1-based start position and the md5 fingerprint
    * of the gram's token window. Shared by the batch form, the streamed
    * gram-count maintenance ([[graft.streaming.EventStreams
    * .maintainSpanGramCounts]]), and the incremental removal.
    */
  def slidingGramPostings(
      df: DataFrame, idCol: String, textCol: String, minLen: Int): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val id = col(s"`$idCol`")
    // sliding 1-based gram starts; a doc shorter than minLen emits none
    // (sequence(1, 0) would DESCEND — guard, don't clamp)
    df.select(id, tokens(col(s"`$textCol`")).as("_toks"))
      .where(size(col("_toks")) >= minLen)
      .select(id, explode(transform(
        sequence(lit(1), size(col("_toks")) - (minLen - 1)),
        i => struct(i.cast("long").as("_pos"),
          md5(concat_ws(" ", slice(col("_toks"), i, lit(minLen)))).as("_g"))))
        .as("_pg"))
      .select(id, col("_pg._pos").as("_pos"), col("_pg._g").as("_g"))
  }

  def duplicateSpanRemoval(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int = 8,
      carry: Seq[String] = Nil): DataFrame = {
    val grams = slidingGramPostings(df, idCol, textCol, minLen)
    val counts = grams.groupBy(col("_g").as("g")).agg(count(lit(1)).as("n"))
    duplicateSpanRemovalAgainst(df, idCol, textCol, counts, minLen, carry)
  }

  /** [[duplicateSpanRemoval]] for a micro-batch against the CORPUS-WIDE
    * gram-count state (which must already include this batch — the
    * [[graft.streaming.EventStreams.maintainSpanGramCounts]] maintainer
    * consumed it first): a gram's duplicate status is a pure function of
    * its corpus-wide occurrence count, so removing the batch's documents
    * against the at-rest counts emits EXACTLY the rows the whole-corpus
    * form would emit for those documents — certified by the streaming
    * spec. This is the 100 TB deployment shape: the arriving slice pays
    * its own postings plus one broadcast-or-bucketed join against the
    * maintained counts, never a corpus re-scan.
    */
  def duplicateSpanRemovalAgainst(
      df: DataFrame,
      idCol: String,
      textCol: String,
      corpusGramCounts: DataFrame,
      minLen: Int = 8,
      carry: Seq[String] = Nil): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val id = col(s"`$idCol`")
    val carried = carry.map(c => col(s"`$c`"))
    val toks = df
      .select(id +: tokens(col(s"`$textCol`")).as("_toks") +: carried: _*)
      .where(size(col("_toks")) > 0)
    val grams = slidingGramPostings(df, idCol, textCol, minLen)
    val dup = corpusGramCounts.where(col("n") > 1)
      .select(col("g").as("_g"))
    val covered = grams.join(dup, Seq("_g"))
      .select(id, explode(sequence(col("_pos"), col("_pos") + (minLen - 1)))
        .as("_tp"))
      .distinct()
      .withColumn("_drop", lit(1))
    val tokRows = toks
      .select(id +: posexplode(col("_toks")) +: carried: _*)
      .select(id +: (col("pos") + 1).cast("long").as("_tp") +:
        col("col").as("_tok") +: carried: _*)
    val aggs: Seq[Column] = Seq(
      count(lit(1)).as("n_tokens"),
      coalesce(sum(col("_drop")), lit(0)).cast("long").as("n_removed"),
      concat_ws(" ", transform(
        array_sort(collect_list(when(col("_drop").isNull,
          struct(col("_tp"), col("_tok"))))),
        s => s("_tok"))).as("text")) ++
      carry.map(c => first(col(s"`$c`")).as(c))
    tokRows.join(covered, Seq(idCol, "_tp"), "left")
      .groupBy(id)
      .agg(aggs.head, aggs.tail: _*)
  }

  def repeatedSegmentFilter(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 8,
      maxOccurrences: Int = 1,
      carry: Seq[String] = Nil): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(maxOccurrences >= 1,
      s"maxOccurrences must be >= 1, got $maxOccurrences")
    val id = col(s"`$idCol`")
    val carried = carry.map(c => col(s"`$c`"))
    val segs = df
      .select(id +: tokens(col(s"`$textCol`")).as("_toks") +: carried: _*)
      .where(size(col("_toks")) > 0)
      .select(id +: explode(transform(
        sequence(lit(1), expr(s"(size(_toks) + ${window - 1}) div $window")),
        i => struct((i - 1).cast("long").as("seg_idx"),
          concat_ws(" ", slice(col("_toks"),
            (i - lit(1)) * window + 1, lit(window))).as("seg")))).as("_s") +:
        carried: _*)
      .select(id +: col("_s.seg_idx").as("_seg_idx") +:
        col("_s.seg").as("_seg") +: carried: _*)
    val overRepresented = segs.groupBy("_seg")
      .agg(count(lit(1)).as("_n"))
      .where(col("_n") > maxOccurrences)
      .select(col("_seg"), lit(1).as("_drop"))
    val aggs: Seq[Column] = Seq(
      coalesce(sum(col("_drop")), lit(0)).cast("long").as("n_dropped"),
      (count(lit(1)) - coalesce(sum(col("_drop")), lit(0)))
        .cast("long").as("n_kept"),
      // collect_list skips the nulls the `when` leaves for dropped spans;
      // array_sort on the (seg_idx, seg) struct restores document order
      concat_ws(" ", transform(
        array_sort(collect_list(when(col("_drop").isNull,
          struct(col("_seg_idx"), col("_seg"))))),
        s => s("_seg"))).as("text")) ++
      // per-document constants ride the same aggregate (first() is
      // deterministic here BECAUSE the value is constant per group)
      carry.map(c => first(col(s"`$c`")).as(c))
    segs.join(overRepresented, Seq("_seg"), "left")
      .groupBy(id)
      .agg(aggs.head, aggs.tail: _*)
  }
}
