package perfbench

import java.io.{File, PrintWriter}
import java.time.LocalDate
import java.util.Random

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.etl.CityRecipes

/** Seeded input generators. The engine only ever sees what these write. */
object Gen {

  // ------------------------------------------------------------------
  // The corpus tables the serving routes read (`documents` for /search and
  // ES|QL, `lineitem` for /fields and ES|QL, `nation` for the ENRICH
  // policy): the columns, types and value domains of the engine's synthetic
  // test data, at a fixed seed. `documents` has that data's 5,000 rows at
  // scale factor 0.1; `lineitem`, which the routes reach only through a
  // dictionary built once in set-up, has ~20k rows instead of ~600k.
  // ------------------------------------------------------------------

  val vocab: IndexedSeq[String] = IndexedSeq("join", "hash", "row", "batch", "scan",
    "column", "customer", "filter", "small", "slow", "merge", "order", "vector",
    "line", "table", "data", "agg", "value", "key", "stream", "window", "a", "spark",
    "part", "group", "big", "sort", "query", "fast", "the")
  val langs: IndexedSeq[String] = IndexedSeq("en", "zh", "es", "de", "fr")
  private val orders = 5000
  private val documents = 5000

  /** Writes the serving inputs under `data`: the corpus tables and the city
    * extracts, pure functions of fixed seeds. run.py calls this once per
    * build directory, in a process of its own, so that no run's measured
    * set-up starts in a JVM the generation has warmed.
    */
  def prepareServing(work: File, data: File): Unit = {
    val spark = Harness.session(work)
    try corpus(spark, new File(data, "corpus"), new Random(42)) finally spark.stop()
    cities(new File(data, "cities-serve"), Serve.cityRows, Serve.citySeed)
    new File(data, servingDone).createNewFile()
  }

  val servingDone = "serving.complete"

  private def corpus(spark: SparkSession, dir: File, r: Random): Unit = {
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(new File(dir, s"$name.parquet").getPath)
    write("nation", StructType(Seq(StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType), StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val shipBase = LocalDate.of(1995, 1, 1)
    val lines = (0 until orders).flatMap { o =>
      (1 to 1 + r.nextInt(7)).map { ln =>
        val qty = (r.nextInt(50) + 1).toDouble
        Row(o.toLong, r.nextInt(2000).toLong, r.nextInt(100).toLong, ln, qty,
          math.round(qty * (900 + r.nextDouble() * 1200) * 100) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)),
          Seq("F", "O")(r.nextInt(2)), shipBase.plusDays(r.nextInt(2499).toLong).atStartOfDay())
      }
    }
    write("lineitem", StructType(Seq(StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
      StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType), StructField("l_shipdate", TimestampNTZType))),
      lines)
    // ~5% of documents repeat an earlier document plus the marker term
    // "dup", the rare term the BM25 queries can hit
    val texts = new Array[String](documents)
    val docs = (0 until documents).map { i =>
      texts(i) =
        if (i > 0 && r.nextDouble() < 0.05) texts(r.nextInt(i)) + " dup"
        else Seq.fill(10 + r.nextInt(90))(vocab(r.nextInt(vocab.size))).mkString(" ")
      val lang = if (r.nextDouble() < 0.44) "en" else langs(1 + r.nextInt(4))
      Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
    write("documents", StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType))), docs)
  }

  // ------------------------------------------------------------------
  // Raw city portal extracts with the three cities' real headers. Loaded and
  // deleted (bad-coordinate) counts are known by construction.
  // ------------------------------------------------------------------

  final case class CityCsv(city: String, file: File, loaded: Long, deleted: Long)

  /** Share of rows whose coordinates the city's notebook filter deletes —
    * the live portals' own proportions (Baltimore 410 / 243,399, Detroit
    * 48,406 / 96,812, Los Angeles 11,421 / 172,860), Baltimore's raised so a
    * small extract still deletes some rows.
    */
  private val badShare = Map("Baltimore" -> 0.005, "Detroit" -> 0.5, "LosAngeles" -> 0.066)

  def cities(dir: File, rowsPerCity: Int, seed: Long): Seq[CityCsv] = {
    dir.mkdirs()
    Seq(baltimore _, detroit _, losAngeles _).zipWithIndex.map { case (gen, k) =>
      gen(dir, rowsPerCity, new Random(seed * 31 + k))
    }
  }

  private def csv(file: File, header: Seq[String])(rows: => Iterator[Seq[String]]): Unit = {
    def cell(s: String) =
      if (s.exists(c => c == ',' || c == '"')) "\"" + s.replace("\"", "\"\"") + "\"" else s
    val w = new PrintWriter(file, "UTF-8")
    try {
      w.println(header.map(cell).mkString(","))
      rows.foreach(r => w.println(r.map(cell).mkString(",")))
    } finally w.close()
  }

  /** Every key first (so each recode key appears), then uniform draws. */
  private def keyAt(keys: IndexedSeq[String], i: Int, r: Random) =
    if (i < keys.size) keys(i) else keys(r.nextInt(keys.size))

  private def street(r: Random, names: Seq[String]) =
    s"${1 + r.nextInt(9999)} ${Seq("N", "S", "E", "W")(r.nextInt(4))} " +
      s"${names(r.nextInt(names.size))} ${Seq("ST", "AVE", "BLVD", "RD")(r.nextInt(4))}"

  private val streets = Seq("MAIN", "CHARLES", "WOODWARD", "SUNSET", "GRAND", "FIRST",
    "MAPLE", "OAK", "PINE", "LAKE", "HILL", "PARK", "MILL", "CEDAR", "ELM")

  private def baltimore(dir: File, n: Int, r: Random): CityCsv = {
    val keys = (CityRecipes.baltimoreDescr.map(_._1) ++ Seq("UNKNOWN", "VANDALISM")).toIndexedSeq
    // the notebook's dual time formats: HH:MM:SS, packed HHMM, hour 24, empty
    val times = IndexedSeq("18:51:00", "1851", "0930", "9:30:00", "2400", "24:00:00", "",
      "00:05:00", "2359", "12:00:00")
    var deleted = 0L
    val file = new File(dir, "Baltimore.csv")
    csv(file, Seq("CrimeDate", "CrimeTime", "CrimeCode", "Location", "Description",
      "Inside/Outside", "Weapon", "Post", "District", "Neighborhood", "Location 1",
      "Premise", "Year", "Total Incidents")) {
      Iterator.tabulate(n) { i =>
        val y = 2012 + r.nextInt(6)
        val time =
          if (i < times.size || r.nextDouble() < 0.2) times(r.nextInt(times.size))
          else f"${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:00"
        val geo =
          if (r.nextDouble() < badShare("Baltimore")) { deleted += 1; "" }
          else f"(${39.2 + r.nextDouble() * 0.2}%.4f, ${-76.7 + r.nextDouble() * 0.2}%.4f)"
        Seq(s"${1 + r.nextInt(12)}/${1 + r.nextInt(28)}/$y", time,
          s"${1 + r.nextInt(9)}${"ABCDEFGHJ" (r.nextInt(9))}", street(r, streets),
          keyAt(keys, i, r), if (r.nextBoolean()) "I" else "O",
          Seq("FIREARM", "KNIFE", "HANDS", "OTHER", "")(r.nextInt(5)),
          s"${100 + r.nextInt(900)}", s"DISTRICT ${1 + r.nextInt(9)}",
          s"NBHD ${1 + r.nextInt(270)}", geo, Seq("STREET", "ROW/TOWNHO", "APT")(r.nextInt(3)),
          y.toString, "1")
      }
    }
    CityCsv("Baltimore", file, n, deleted)
  }

  private def detroit(dir: File, n: Int, r: Random): CityCsv = {
    val keys = (CityRecipes.detroitDescr.map(_._1) :+ "PAROLE VIOLATION").toIndexedSeq
    // the four corrupt coordinate shapes the notebook's filter deletes:
    // empty, 99999 sentinel, wrong-hemisphere latitude, wrong-sign longitude
    val bad = IndexedSeq(("", "-83.045"), ("42.331", ""), ("9999999999", "-83.1"),
      ("42.35", "9999999999"), ("-42.3", "-83.0"), ("42.36", "83.05"))
    var deleted = 0L
    val file = new File(dir, "Detroit.csv")
    csv(file, Seq("Crime ID", "Report #", "Incident Address", "Offense Description",
      "Offense Category", "State Offense Code", "Incident Date & Time",
      "Incident Time (24h)", "Day of Week (Sunday is 1)", "Hour of Day", "Year",
      "Scout Car Area", "Precinct Number", "Census Block GEOID", "Neighborhood",
      "Council District", "Zip Code", "Longitude", "Latitude", "IBR Report Date",
      "Location", "uniq")) {
      Iterator.tabulate(n) { i =>
        val descr = keyAt(keys, i, r)
        val hour = if (i < 24) i else r.nextInt(24)
        val (m, d, y) = (1 + r.nextInt(12), 1 + r.nextInt(28), 2016 + r.nextInt(3))
        val (lat, lon) =
          if (r.nextDouble() < badShare("Detroit")) { deleted += 1; bad(r.nextInt(bad.size)) }
          else (f"${42.25 + r.nextDouble() * 0.2}%.3f", f"${-83.25 + r.nextDouble() * 0.3}%.3f")
        Seq((1000000 + i).toString, f"${16000000 + i}%d.1", street(r, streets),
          s"$descr - DETAIL", descr, s"${10 + r.nextInt(90)}01",
          f"$m/$d/$y ${if (hour % 12 == 0) 12 else hour % 12}%02d:00:00 ${if (hour >= 12) "PM" else "AM"}",
          f"$hour%02d:00", (1 + r.nextInt(7)).toString, hour.toString, y.toString,
          s"${r.nextInt(12)}0${r.nextInt(10)}", (1 + r.nextInt(12)).toString,
          f"26163${r.nextInt(100000)}%05d", s"NBHD ${1 + r.nextInt(200)}",
          (1 + r.nextInt(7)).toString, f"482${r.nextInt(100)}%02d", lon, lat, s"$m/$d/$y",
          if (lat.nonEmpty && lon.nonEmpty) s"($lat, $lon)" else "", (i + 1).toString)
      }
    }
    CityCsv("Detroit", file, n, deleted)
  }

  private def losAngeles(dir: File, n: Int, r: Random): CityCsv = {
    val keys = (CityRecipes.losAngelesDescr.map(_._1) :+ "TRESPASSING").toIndexedSeq
    // AM/PM times incl. the noon and midnight edge hours
    val times = IndexedSeq("07:30:00 PM", "11:59:00 PM", "12:00:00 PM", "12:30:00 AM",
      "01:05:00 AM", "06:45:00 AM", "09:15:00 PM", "10:00:00 AM")
    val bad = IndexedSeq(("", "-118.2"), ("34.01", ""), ("-33.97", "-118.25"))
    var deleted = 0L
    val file = new File(dir, "LosAngeles.csv")
    csv(file, Seq("CRIME_DATE", "CRIME_YEAR", "CRIME_CATEGORY_NUMBER",
      "CRIME_CATEGORY_DESCRIPTION", "STATISTICAL_CODE", "STATISTICAL_CODE_DESCRIPTION",
      "VICTIM_COUNT", "STREET", "CITY", "STATE", "ZIP", "LATITUDE", "LONGITUDE",
      "GANG_RELATED", "REPORTING_DISTRICT", "STATION_IDENTIFIER", "STATION_NAME",
      "CRIME_IDENTIFIER", "LOCATION")) {
      Iterator.tabulate(n) { i =>
        val descr = keyAt(keys, i, r)
        val y = 2010 + r.nextInt(8)
        val time =
          if (i < times.size || r.nextDouble() < 0.2) times(r.nextInt(times.size))
          else f"${1 + r.nextInt(12)}%02d:${r.nextInt(60)}%02d:00 ${if (r.nextBoolean()) "AM" else "PM"}"
        val (lat, lon) =
          if (r.nextDouble() < badShare("LosAngeles")) { deleted += 1; bad(r.nextInt(bad.size)) }
          else (f"${33.7 + r.nextDouble() * 0.6}%.4f", f"${-118.6 + r.nextDouble() * 0.5}%.4f")
        val station = 1 + r.nextInt(21)
        Seq(f"${1 + r.nextInt(12)}%02d/${1 + r.nextInt(28)}%02d/$y $time", y.toString,
          (1 + r.nextInt(30)).toString, descr, f"${r.nextInt(1000)}%03d", s"$descr STAT",
          (1 + r.nextInt(3)).toString, street(r, streets), "LOS ANGELES", "CA",
          f"900${r.nextInt(100)}%02d", lat, lon, Seq("Y", "N", "")(r.nextInt(3)),
          (1 + r.nextInt(1200)).toString, s"ST$station", s"STATION $station",
          (9000000 + i).toString,
          if (lat.nonEmpty && lon.nonEmpty) s"($lat, $lon)" else "")
      }
    }
    CityCsv("LosAngeles", file, n, deleted)
  }
}
