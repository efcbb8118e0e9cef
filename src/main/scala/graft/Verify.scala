package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries nanosecond timestamps (TESTDATA.md); set once
      // here rather than as a side effect of building a query.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=comma,list restricts the dump for local iteration
    // (same contract as Bench); the driver sets nothing and dumps all.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // A failed query writes no result dir and the oracle compare skips it
    // silently (a registered query simply loses its correctness row) — make
    // the hole loud on BOTH streams, not just per-query on stderr.
    if (failed.nonEmpty) {
      val msg = s"[verify] ${failed.size} queries FAILED (no result dir, no " +
        s"correctness row): ${failed.sorted.mkString(", ")}"
      System.err.println(msg)
      println(msg)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
