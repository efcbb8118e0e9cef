package perfbench

import java.io.File
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.dict.Dictionary
import graft.etl.CityRecipes
import graft.store.{Sources, TableStore}

/** etl_publish: the batch half. Per city, the notebook's chain —
  * `Sources.csvAllStrings` → `CityRecipes.<city>.run` (counted
  * loaded/deleted) → `Dictionary.profileHarmonized` →
  * `TableStore.saveAsParquetTable` + `saveDictionary` — over seeded raw
  * extracts, the three cities at once. Nothing is cached between cities or
  * passes.
  */
object Etl {
  val rowsPerCity = 5000
  val limitMs = 150000L
  private val db = "perfbench"
  private val recipes = Map("Baltimore" -> CityRecipes.baltimore,
    "Detroit" -> CityRecipes.detroit, "LosAngeles" -> CityRecipes.losAngeles)

  private final case class Published(loaded: Long, deleted: Long, table: String, dict: String)

  def run(cfg: Config): Outcome = {
    val root = new File(cfg.work, s"etl-${cfg.seed}")
    val cities = Gen.cities(new File(root, "raw"), rowsPerCity, cfg.seed)
    val rawBytes = cities.map(_.file.length).sum.toDouble
    val base = new File(root, "published").getPath
    val tracer = new Tracer(cfg.trace)
    val counters = new SparkCounters
    val (setupS, spark) = Harness.setupReps(3) { () =>
      val s = Harness.session(cfg.work)
      TableStore.recreateDatabase(s, db)
      s
    }(_.stop())
    if (cfg.trace) {
      spark.sparkContext.addSparkListener(counters)
      tracer.sc = Some(spark.sparkContext)
    }
    val log = new OpLog

    def publish(c: Gen.CityCsv, t: Tracer): Published = {
      val table = s"${c.city.toLowerCase}_harmonized"
      val dictTable = s"${c.city.toLowerCase}_dictionary"
      val raw = t.span("store.read")(Sources.csvAllStrings(spark, c.file.getPath))
      val (h, report) = t.span("etl.harmonize")(recipes(c.city).run(raw))
      val (rows, schema) = t.span("dict.profile") {
        val d = t.span("dict.profile_build")(Dictionary.profileHarmonized(h))
        (d.collect(), d.schema)
      }
      t.span("store.write") {
        TableStore.saveAsParquetTable(h.df, db, table, base)
        TableStore.saveDictionary(spark.createDataFrame(rows.toList.asJava, schema),
          db, dictTable, base)
      }
      Published(report.loaded, report.deleted, s"$base/table=$table", s"$base/table=$dictTable")
    }

    /** What the generator knows, against what the engine reports and wrote. */
    def check(c: Gen.CityCsv, p: Published): Option[String] = {
      val table = spark.read.parquet(p.table)
      val kept = table.count()
      val dictRows = spark.read.parquet(p.dict).count()
      if (p.loaded != c.loaded || p.deleted != c.deleted)
        Some(s"loaded/deleted ${p.loaded}/${p.deleted}, generated ${c.loaded}/${c.deleted}")
      else if (kept != c.loaded - c.deleted)
        Some(s"published $kept rows, expected ${c.loaded - c.deleted}")
      else if (dictRows != table.columns.length)
        Some(s"dictionary has $dictRows rows for ${table.columns.length} published columns")
      else None
    }

    /** One pass: the three cities publish concurrently, as three
      * independent notebook jobs would. Returns the pass wall time (failed
      * cities included); the checks follow, outside the timed window.
      */
    def pass(p: Int, t: Tracer): Double = {
      val pool = Executors.newFixedThreadPool(cities.size)
      val t0 = System.nanoTime()
      val runs = cities.map { c =>
        pool.submit(new Callable[Option[(Published, Timing)]] {
          def call(): Option[(Published, Timing)] = {
            val group = s"etl-${c.city}"
            spark.sparkContext.setJobGroup(group, c.city)
            log.timed(s"etl.${c.city}", limitMs, () => spark.sparkContext.cancelJobGroup(group)) {
              t.span("etl.city", s"${c.city}#$p")(publish(c, t))
            }
          }
        })
      }.map(_.get())
      val ms = (System.nanoTime() - t0) / 1e6
      pool.shutdown()
      cities.zip(runs).foreach { case (c, res) =>
        res.foreach { case (pub, timing) =>
          t.span("check", s"${c.city}#$p")(check(c, pub)).foreach(log.reject(timing, _))
        }
      }
      ms
    }

    val gc0 = Harness.gcSeconds()
    val (cg0, cgMs0) = Harness.codegen()
    val phaseStart = System.nanoTime()
    val passMs = mutable.ArrayBuffer.empty[Double]
    while (passMs.isEmpty || passMs.sum < cfg.seconds * 1000.0)
      passMs += pass(passMs.size + 1, tracer)
    val wallMs = (System.nanoTime() - phaseStart) / 1e6
    val gcS = Harness.gcSeconds() - gc0
    val (cg1, cgMs1) = Harness.codegen()
    val heap = Harness.heapLiveMb()

    val loadedBy = cities.map(c => s"etl.${c.city}" -> c.loaded).toMap
    val rowsMoved = log.timings.map(t => loadedBy(t.name)).sum.toDouble
    val e2e = Harness.batchEndToEnd(log, passMs.toSeq, rowsMoved, limitMs, setupS, heap)
    val layers =
      if (!cfg.trace) Map.empty[String, Double]
      else {
        SparkCounters.drain(spark.sparkContext)
        val n = passMs.size.toDouble
        val spans = tracer.spans
        def secs(name: String) = spans.filter(_.name == name).map(_.durNs).sum / 1e9 / n
        def under(name: String) = counters.sum(Some(
          spans.filter(_.name == name).flatMap(s => tracer.subtree(s.id)).toSet))
        val measured = under("etl.city")
        val files = new File(base).listFiles().toSeq
          .flatMap(d => Option(d.listFiles()).toSeq.flatten)
          .count(f => f.getName.startsWith("part-"))
        Map(
          "dict.profile_s" -> secs("dict.profile"),
          "dict.profile_build_ms" -> secs("dict.profile_build") * 1000,
          "dict.input_read_ratio" -> under("dict.profile").input / n / rawBytes,
          "etl.harmonize_s" -> secs("etl.harmonize"),
          "etl.harmonize_jobs" -> under("etl.harmonize").jobs / n,
          "store.write_s" -> secs("store.write"),
          "store.bytes_written_per_input_byte" -> under("store.write").output / n / rawBytes,
          "store.files_written" -> files.toDouble,
          "store.read_amplification" -> measured.input / n / rawBytes) ++
          Layers.spark(measured, n, wallMs, gcS, cg1 - cg0, cgMs1 - cgMs0, Harness.cores) ++
          Layers.trace(spans, Stats.median(passMs.toSeq), phaseStart, wallMs)
      }
    if (cfg.trace) java.nio.file.Files.write(cfg.spanFile.toPath,
      tracer.toJsonLines.mkString("\n").getBytes("UTF-8"))
    spark.stop()
    deleteTree(root)
    Outcome(log.attempted, log.failed, e2e, layers, log.errorList)
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
