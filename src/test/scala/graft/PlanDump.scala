package graft

import org.apache.spark.sql.SparkSession

/** Zero-change evidence for refactors: one text file holding, per
  * registered query in name order, its registry entry (name, tier, warm
  * flag, whether it declares an oracle) and its optimized logical plan.
  * Run it on two trees over the same sf dir and `cmp` the outputs: equal
  * files mean the same registry and the same plans.
  *
  * What differs between two runs of one tree is normalized away: expression
  * ids (`#123`), JVM object hashes (`@1a2b3c`), lambda class names, plan id
  * counters and temp-directory paths. Two runs on the same tree write
  * byte-identical files.
  *
  * Building a plan runs a query's eager jobs (in-query writes, collected
  * literals), so use a small sf dir.
  *
  * Usage: sbt "Test/runMain graft.PlanDump <sfDir> <out>"
  */
object PlanDump {
  private val tmp = java.util.regex.Pattern.quote(
    new java.io.File(System.getProperty("java.io.tmpdir")).getPath)

  private val normalizers: Seq[(String, String)] = Seq(
    s"(file:)?$tmp/[^\\s,\\])}]*" -> "<tmp>",
    "#\\d+L?" -> "#",
    "\\$\\$Lambda[^\\s,)\\]]*" -> "\\$\\$Lambda",
    "@[0-9a-f]{4,}" -> "@",
    "plan_id=\\d+" -> "plan_id=")

  def normalize(plan: String): String =
    normalizers.foldLeft(plan) { case (p, (re, to)) => p.replaceAll(re, to) }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, out) = args
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dump = new StringBuilder
    registry.Registry.cases.sortBy(_.name).foreach { c =>
      dump ++= s"== ${c.name} tier=${registry.Registry.tiers(c.name)} " +
        s"warm=${c.warm} oracle=${c.oracle.isDefined}\n"
      val plan =
        try c.run(spark, sfDir).queryExecution.optimizedPlan.toString
        catch { case e: Throwable => s"FAILED: ${e.getClass.getName}" }
      dump ++= normalize(plan) += '\n'
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), dump.toString)
    println(s"[plandump] ${registry.Registry.cases.size} queries -> $out")
    spark.stop()
  }
}
