package graft
package registry

import graft.ops.{Dedup, Multimodal}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import SparkEntry._
import OracleSql._

/** Training-data ops: deterministic sampling and the multimodal
  * plumbing (stub codec).
  */
object SamplingQueries extends Family("pipeline") {

  val cases: Seq[QueryCase] = Seq(
    // ===== Training-data ops: deterministic sampling =====

    QueryCase("sample_hash", (s, dir) => {
      implicit val spark: SparkSession = s
      ops.Sampling.hashSample(load(dir, "documents"), "doc_id", fraction = 0.1)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }, Some(
      s"""SELECT doc_id, source FROM documents
         |WHERE ${ops.Sampling.hashUnitSql("doc_id", 42)} < 0.1
         |ORDER BY doc_id""".stripMargin)),

    QueryCase("sample_split", (s, dir) => {
      implicit val spark: SparkSession = s
      // 0.75/0.125 are exact binary fractions: cumulative boundaries agree
      // bit-for-bit with the oracle's literals (0.8 + 0.1 would not).
      ops.Sampling.assignSplit(load(dir, "documents"), "doc_id",
          Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
        .groupBy("split")
        .agg(count(lit(1)).as("n"))
        .orderBy("split")
    }, Some(
      s"""SELECT CASE WHEN ${ops.Sampling.hashUnitSql("doc_id", 42)} < 0.75 THEN 'train'
         |            WHEN ${ops.Sampling.hashUnitSql("doc_id", 42)} < 0.875 THEN 'val'
         |            ELSE 'test' END AS split, count(*) AS n
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Cluster-safe split restated end to end: the portable pair CTEs +
    // recursive closure of dedup_cluster_keep_portable, then the split
    // CASE on the coalesced representative — the same md5 unit hash.
    QueryCase("sample_split_cluster_safe", (s, dir) => {
      implicit val spark: SparkSession = s
      // Leakage-safe split: near-dup clusters (portable-MinHash pairs →
      // connected components, the certified dedup_cluster_keep_portable
      // pipeline) are the split unit — no paraphrase pair can straddle
      // train/test. Same pinned 500-doc certification slice; the
      // cross-engine proof re-runs pairs → closure → representative →
      // hash-split end to end.
      val docs = load(dir, "documents").where(col("doc_id") < 500)
      val pairs = Dedup.minhashNearDupPairsPortable(docs, "doc_id", "text",
        threshold = 0.4, shingleK = 2, numBands = 16, rowsPerBand = 2)
      ops.Sampling.clusterSafeSplit(docs, "doc_id", pairs,
          Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
        .groupBy("split")
        .agg(count(lit(1)).as("n"))
        .orderBy("split")
    }, Some(
      s"""WITH ${portableMinhashCtesSql(k = 2, numHashes = 32, r = 2, threshold = 0.4,
            from = "(SELECT * FROM documents WHERE doc_id < 500)")},
         |$componentsCtesSql
         |SELECT CASE
         |    WHEN ${ops.Sampling.hashUnitSql("coalesce(comp.component, doc.doc_id)", 42)} < 0.75 THEN 'train'
         |    WHEN ${ops.Sampling.hashUnitSql("coalesce(comp.component, doc.doc_id)", 42)} < 0.875 THEN 'val'
         |    ELSE 'test' END AS split, count(*) AS n
         |FROM (SELECT * FROM documents WHERE doc_id < 500) doc
         |  LEFT JOIN comp ON doc.doc_id = comp.id
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryCase("sample_stratified", (s, dir) => {
      implicit val spark: SparkSession = s
      ops.Sampling.stratifiedHashSample(load(dir, "documents"), "doc_id", "source",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.2))
        .groupBy("source")
        .agg(count(lit(1)).as("n"))
        .orderBy("source")
    }, Some(
      s"""SELECT source, count(*) AS n FROM documents
         |WHERE ${ops.Sampling.hashUnitSql("doc_id", 42)} <
         |  CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
         |              WHEN 'src2' THEN 0.2 ELSE 0.0 END
         |GROUP BY source ORDER BY source""".stripMargin)),

    // ===== Multimodal plumbing (stub codec; rows-only check) =====

    QueryCase("mm_feature_stats", (s, dir) => {
      implicit val spark: SparkSession = s
      Multimodal.featureStatsByKind(load(dir, "documents"), "doc_id", "text", dim = 16)
    }),

    // The multimodal pipeline's integer-exact slice. This oracle restates
    // the engine's DOCUMENTED stub arithmetic independently: kind cycles
    // id % 3; payload bytes are the UTF-8 text; declared dims are 64×64;
    // durations 0 (still) / 1000 ms; frame sampling slices a non-empty
    // video payload into exactly `framesPerVideo`=4 chunks totalling
    // 4·⌊len/4⌋ bytes (or 4 single bytes when len < 4).
    QueryCase("mm_meta_stats", (s, dir) => {
      implicit val spark: SparkSession = s
      // The integer-exact slice of the multimodal pipeline: counts, byte
      // totals, dimensions, durations, and sampled-frame arithmetic are
      // deterministic integers, so this leg hash-matches its oracle while
      // the codec's float features stay spec-pinned (MultimodalSpec).
      Multimodal.metaStatsByKind(load(dir, "documents"), "doc_id", "text")
    }, Some(
      """WITH media AS (
        |  SELECT doc_id AS id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |      ELSE 'video' END AS kind,
        |    CASE WHEN text IS NULL THEN 0
        |      ELSE octet_length(encode(text)) END AS nbytes
        |  FROM documents
        |)
        |SELECT kind, count(*) AS n,
        |  sum(nbytes)::BIGINT AS total_bytes,
        |  (count(*) * 64)::BIGINT AS sum_width,
        |  (count(*) * 64)::BIGINT AS sum_height,
        |  sum(CASE WHEN kind = 'image' THEN 0 ELSE 1000 END)::BIGINT
        |    AS sum_duration_ms,
        |  sum(CASE WHEN kind = 'video' AND nbytes > 0 THEN 4 ELSE 0 END)::BIGINT
        |    AS n_frames,
        |  sum(CASE WHEN kind <> 'video' OR nbytes = 0 THEN 0
        |           WHEN nbytes < 4 THEN 4
        |           ELSE 4 * (nbytes // 4) END)::BIGINT AS frame_bytes
        |FROM media GROUP BY kind ORDER BY kind""".stripMargin)))
}
