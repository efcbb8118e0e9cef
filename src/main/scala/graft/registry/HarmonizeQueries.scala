package graft
package registry

import graft.etl.{CityRecipes, Transforms}
import graft.store.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SparkEntry._
import OracleSql._

/** The harmonize paths (§2.2/§2.3): relational basics over the star
  * schema, the `events` projections (P1-P12) and the reference's own
  * city pipelines as Recipe data.
  */
object HarmonizeQueries extends Family("etl") {

  /** The `events` table pushed through the harmonization transforms the city
    * notebooks apply: datetime parts, day-of-week naming, value recoding,
    * descriptor constants, name sanitization.
    */
  private def harmonizedEvents(spark: SparkSession, dir: String): DataFrame = {
    implicit val s: SparkSession = spark
    val ev = loadEvents(dir)
    import graft.etl.Harmonizer
    Harmonizer(ev)
      .mapVar("event_type", "description")
      .mapValues("description", Seq(
        "click" -> "Click", "view" -> "View", "purchase" -> "Purchase",
        "login" -> "Login", "logout" -> "Logout"))
      .transform { df =>
        Transforms.addDatasetDescriptors(
          df.withColumn("year", year(col("ts")))
            .withColumn("month", month(col("ts")))
            .withColumn("day", dayofmonth(col("ts")))
            .withColumn("hour", hour(col("ts")))
            .withColumn("minute", minute(col("ts")))
            .withColumn("dayofweek", Transforms.dayOfWeekName(col("ts"))),
          city = "synthville", rawDataPath = "events.parquet",
          harmonizedDataPath = "harmonized/events", notebookHtml = "none")
      }
      .makeValidVariableNames
      .df
  }

  val cases: Seq[QueryCase] = Seq(
    QueryCase("a3_distinct", (s, dir) => {
      implicit val spark: SparkSession = s
      load(dir, "orders").select(col("o_orderpriority")).distinct()
        .where(col("o_orderpriority") =!= "")
        .orderBy("o_orderpriority")
    }, Some(
      """SELECT DISTINCT o_orderpriority FROM orders
        |WHERE o_orderpriority <> '' ORDER BY o_orderpriority""".stripMargin)),

    QueryCase("a5_describe", (s, dir) => {
      implicit val spark: SparkSession = s
      // df.describe() semantics, restated deterministically: count / mean /
      // stddev (sample) / min / max of two numeric columns.
      load(dir, "lineitem").agg(
        count(col("l_quantity")).as("count_quantity"),
        round(avg(col("l_quantity")), 4).as("mean_quantity"),
        round(stddev_samp(col("l_quantity")), 4).as("std_quantity"),
        round(min(col("l_quantity")), 2).as("min_quantity"),
        round(max(col("l_quantity")), 2).as("max_quantity"),
        count(col("l_extendedprice")).as("count_price"),
        round(avg(col("l_extendedprice")), 4).as("mean_price"),
        round(stddev_samp(col("l_extendedprice")), 4).as("std_price"),
        round(min(col("l_extendedprice")), 2).as("min_price"),
        round(max(col("l_extendedprice")), 2).as("max_price"))
    }, Some(
      """SELECT count(l_quantity) AS count_quantity,
        |  round(avg(l_quantity), 4) AS mean_quantity,
        |  round(stddev_samp(l_quantity), 4) AS std_quantity,
        |  round(min(l_quantity), 2) AS min_quantity,
        |  round(max(l_quantity), 2) AS max_quantity,
        |  count(l_extendedprice) AS count_price,
        |  round(avg(l_extendedprice), 4) AS mean_price,
        |  round(stddev_samp(l_extendedprice), 4) AS std_price,
        |  round(min(l_extendedprice), 2) AS min_price,
        |  round(max(l_extendedprice), 2) AS max_price
        |FROM lineitem""".stripMargin)),

    QueryCase("a6_count_after_filter", (s, dir) => {
      implicit val spark: SparkSession = s
      // F1/F2/A6: row counts before/after a cleaning filter, in one pass.
      load(dir, "customer").agg(
        count(lit(1)).as("loaded"),
        sum(when(col("c_acctbal") > 0, 1).otherwise(0)).cast("long").as("kept"),
        sum(when(col("c_acctbal") <= 0 || col("c_acctbal").isNull, 1).otherwise(0)).cast("long").as("deleted"))
    }, Some(
      """SELECT count(*) AS loaded,
        |  sum(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END)::BIGINT AS kept,
        |  sum(CASE WHEN c_acctbal <= 0 OR c_acctbal IS NULL THEN 1 ELSE 0 END)::BIGINT AS deleted
        |FROM customer""".stripMargin)),

    // ===== §2.2 projections / scalar transforms (P1-P12) on events =====

    QueryCase("p_harmonize_events", (s, dir) => {
      harmonizedEvents(s, dir)
        .select("event_id", "description", "year", "month", "day", "hour",
          "minute", "dayofweek", "city", "value")
        .orderBy("event_id")
    }, Some(
      """SELECT event_id,
        |  CASE event_type WHEN 'click' THEN 'Click' WHEN 'view' THEN 'View'
        |    WHEN 'purchase' THEN 'Purchase' WHEN 'login' THEN 'Login'
        |    WHEN 'logout' THEN 'Logout' ELSE event_type END AS description,
        |  year(ts) AS year, month(ts) AS month, day(ts) AS day,
        |  hour(ts) AS hour, minute(ts) AS minute,
        |  dayname(ts) AS dayofweek,
        |  'synthville' AS city, value
        |FROM events ORDER BY event_id""".stripMargin)),

    QueryCase("p6_regex_extract", (s, dir) => {
      implicit val spark: SparkSession = s
      // P6/P7/P8/P12 over string-rendered dates: extract M/D/YYYY parts,
      // zero-pad, reassemble a timestamp — the Baltimore datetime pipeline.
      val raw = load(dir, "orders")
        .withColumn("datestr", date_format(col("o_orderdate"), "M/d/yyyy"))
        .withColumn("timestr", lit("14:30:00"))
      val asm = raw
        .withColumn("month", Transforms.mdyMonth(col("datestr")))
        .withColumn("day", Transforms.mdyDay(col("datestr")))
        .withColumn("year", Transforms.mdyYear(col("datestr")))
        .withColumn("hour", Transforms.normalizeHour24(Transforms.timeHour(col("timestr"))))
        .withColumn("minute", Transforms.timeMinute(col("timestr")))
        .withColumn("datetime", Transforms.assembleDatetime(
          col("year"), col("month"), col("day"), col("hour"), col("minute")))
      Transforms.castDateParts(asm, Seq("year", "month", "day", "hour", "minute"))
        .select(col("o_orderkey"), col("year"), col("month"), col("day"),
          col("hour"), col("minute"),
          date_format(col("datetime"), "yyyy-MM-dd HH:mm:ss").as("datetime_str"))
        .orderBy("o_orderkey")
    }, Some(
      """SELECT o_orderkey,
        |  year(o_orderdate)::INT AS year, month(o_orderdate)::INT AS month,
        |  day(o_orderdate)::INT AS day, 14 AS hour, 30 AS minute,
        |  strftime(o_orderdate + INTERVAL 14 HOUR + INTERVAL 30 MINUTE,
        |           '%Y-%m-%d %H:%M:%S') AS datetime_str
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ===== §2.2/§2.3 the reference's own city pipelines (Recipe data) =====

    QueryCase("s1_csv_scan", (s, _) => {
      // S1: headered CSV, no inference — every column arrives a string.
      Sources.csvAllStrings(s, cityCsv("Baltimore"))
        .select(col("CrimeCode").as("crimecode"), col("CrimeDate").as("crimedate"),
          col("CrimeTime").as("crimetime"), col("Description").as("description"),
          col("Location 1").as("location1"))
        .orderBy("crimecode")
    }, Some(
      s"""SELECT "CrimeCode" AS crimecode, "CrimeDate" AS crimedate,
         |  "CrimeTime" AS crimetime, "Description" AS description,
         |  "Location 1" AS location1
         |FROM read_csv('${cityCsv("Baltimore")}', all_varchar=true)
         |ORDER BY crimecode""".stripMargin)),

    // Each recipe oracle is the shared harmonized relation
    // (cityHarmonizedRelationSql — also the base of the federated
    // dictionary oracle) with the query's published projection on top.
    QueryCase("recipe_harmonize_baltimore", (s, _) => {
      CityRecipes.baltimore.harmonize(Sources.csvAllStrings(s, cityCsv("Baltimore"))).df
        .select(col("crimecode"), col("description"), col("description_orig"),
          col("geolocation"), col("year"), col("month"), col("day"),
          col("hour"), col("minute"),
          date_format(col("datetime"), "yyyy-MM-dd HH:mm:ss").as("datetime_str"),
          col("dayofweek"), col("city"))
        .orderBy("crimecode")
    }, Some(
      s"""SELECT crimecode, description, description_orig, geolocation, year,
         |  month, day, hour, minute, datetime AS datetime_str, dayofweek, city
         |FROM (${cityHarmonizedRelationSql("baltimore")})
         |ORDER BY crimecode""".stripMargin)),

    QueryCase("recipe_harmonize_detroit", (s, _) => {
      CityRecipes.detroit.harmonize(Sources.csvAllStrings(s, cityCsv("Detroit"))).df
        .select(col("crimeid"), col("description"), col("location"),
          col("geolocation"), col("year"), col("month"), col("day"),
          col("hour"), col("minute"),
          date_format(col("datetime"), "yyyy-MM-dd HH:mm:ss").as("datetime_str"),
          col("dayofweek"), col("city"))
        .orderBy("crimeid")
    }, Some(
      s"""SELECT crimeid, description, location, geolocation, year,
         |  month, day, hour, minute, datetime AS datetime_str, dayofweek, city
         |FROM (${cityHarmonizedRelationSql("detroit")})
         |ORDER BY crimeid""".stripMargin)),

    QueryCase("recipe_harmonize_losangeles", (s, _) => {
      CityRecipes.losAngeles.harmonize(Sources.csvAllStrings(s, cityCsv("LosAngeles"))).df
        .select(col("crime_identifier"), col("description"), col("gang_related"),
          col("geolocation"), col("year"), col("month"), col("day"),
          col("hour"), col("minute"),
          date_format(col("datetime"), "yyyy-MM-dd HH:mm:ss").as("datetime_str"),
          col("dayofweek"), col("city"))
        .orderBy("crime_identifier")
    }, Some(
      s"""SELECT crime_identifier, description, gang_related, geolocation, year,
         |  month, day, hour, minute, datetime AS datetime_str, dayofweek, city
         |FROM (${cityHarmonizedRelationSql("losangeles")})
         |ORDER BY crime_identifier""".stripMargin)),

    QueryCase("p_json_props", (s, dir) => {
      implicit val spark: SparkSession = s
      // Semi-structured metadata extraction (the WARC/metadata-sidecar
      // shape every web-scale pipeline has): pull a typed value out of a
      // JSON string column with the codegen'd built-in path expression —
      // no UDF, no per-row parser object — and aggregate it. Sums stay
      // integer-exact.
      loadEvents(dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n"), sum(col("k")).as("k_sum"),
          min(col("k")).as("k_min"), max(col("k")).as("k_max"))
        .orderBy("event_type")
    }, Some(
      """SELECT event_type, count(k) AS n, sum(k)::BIGINT AS k_sum,
        |  min(k) AS k_min, max(k) AS k_max
        |FROM (
        |  SELECT event_type, json_extract(props, '$.k')::BIGINT AS k
        |  FROM events
        |)
        |GROUP BY event_type ORDER BY event_type""".stripMargin)))
}
