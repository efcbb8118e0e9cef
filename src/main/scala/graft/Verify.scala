package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (tools/check_oracle.py), and
  * verify_failures.json, each query that threw mapped to its exception
  * class and message (`{}` when none did). */
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
    val failed = scala.collection.mutable.ListBuffer.empty[(String, Throwable)]
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name -> e
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // A failed query writes no result dir, so the compare cannot see it by
    // its parquet: the failure record names it (tools/check_oracle.py
    // counts each entry as a failure), and the hole is loud on BOTH
    // streams, not just per-query on stderr.
    val record = failed.sortBy(_._1).map { case (name, e) =>
      s"""${Json.quote(name)}: {"class": ${Json.quote(e.getClass.getName)}, """ +
        s""""message": ${Json.quote(String.valueOf(e.getMessage))}}"""
    }
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"),
      record.mkString("{", ",\n", "}\n"))
    if (failed.nonEmpty) {
      val msg = s"[verify] ${failed.size} queries FAILED (no result dir, no " +
        s"correctness row): ${failed.map(_._1).sorted.mkString(", ")}"
      System.err.println(msg)
      println(msg)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
