package graft

import graft.dict.Dictionary
import graft.etl.CityRecipes
import graft.store.Sources
import graft.query.{Aggs, Federation, PreAgg, Widgets}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract: named queries over the synthetic star schema at
  * `/root/testdata/sf*`, with DuckDB-oracle SQL for every SQL-expressible
  * operator (SURVEY.md §2 inventory + the training-data-pipeline extensions).
  * Each query is declared once, as a [[registry.QueryCase]] in its family
  * file under `graft/registry/`; this object derives the registry maps from
  * them and holds the helpers the queries and the HTTP routes share.
  *
  * Column-binding conventions follow FIXTURES.md §3 (e.g. `o_orderpriority`
  * stands in for the harmonized `description` enum, `n_name` for `city`).
  *
  * Numeric outputs that aggregate doubles are `round`ed in BOTH the Spark
  * query and the oracle SQL so floating-point summation order can't flip the
  * hash compare; every query carries a total ORDER BY for deterministic rows.
  */
object SparkEntry {

  // (r18: examined — memoizing the analyzed scan plan per (session, path)
  // to skip repeated footer/listing reads measured ~1% on a 15-query
  // floor sample: local-file metadata is too cheap to matter. Left bare.)
  private[graft] def load(dir: String, table: String)(implicit spark: SparkSession): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")

  /** Load `events` with `ts` normalized to a session-zone TIMESTAMP
    * regardless of how the parquet writer encoded it. Generations of the
    * driver's testdata have carried nanosecond timestamps (read as raw
    * nanos via `spark.sql.legacy.parquet.nanosAsLong`, which
    * [[Verify]]/[[Bench]] set at session build — parquet has no per-read
    * option for it, checked ParquetOptions, Spark 4.1) and microsecond
    * TIMESTAMP_NTZ; dispatch on the type the scan actually produced:
    *  - LongType: raw nanos → `div 1000` (exact integer division — double
    *    division would lose 1µs above 2^53 ns, DuckDB truncates the same)
    *    → `timestamp_micros`.
    *  - TIMESTAMP_NTZ: cast to TIMESTAMP — value-preserving under the UTC
    *    session zone both entries pin, and identical to what DuckDB reads.
    */
  private[graft] def loadEvents(dir: String)(implicit spark: SparkSession): DataFrame = {
    // Sessions built outside Verify/Bench may not have the nanos conf; set it
    // iff missing so a nanosecond-generation file still scans (inert for
    // TIMESTAMP_NTZ data — the conf only affects INT64(NANOS) columns).
    val nanosConf = "spark.sql.legacy.parquet.nanosAsLong"
    if (spark.conf.getOption(nanosConf).isEmpty) spark.conf.set(nanosConf, "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): the harmonized
    * "description" terms aggregation under a conjunction of dictionary-typed
    * filters — the reference's signature dashboard query (SURVEY.md §7.2 M0).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("g2_terms_top10")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------------
  // §2.2/§2.3 the reference's own city pipelines, as Recipe data over the
  // checked-in fixture extracts (tools/gen_city_fixtures.py — every notebook
  // recode key + the edge shapes each pipeline exercises).
  // ---------------------------------------------------------------------

  private[graft] def cityCsv(name: String): String =
    sys.env.getOrElse("GRAFT_CITY_DATA", "/root/repo/data/cities") + s"/$name.csv"

  /** Per-city published column lists (dataset-specific head + the shared
    * harmonized tail), with the numeric flag the dictionary oracle needs.
    */
  private[graft] val cityPublishedCols: Map[String, Seq[(String, Boolean)]] = {
    val shared = Seq("geolocation" -> false, "year" -> true, "month" -> true,
      "day" -> true, "hour" -> true, "minute" -> true, "datetime" -> false,
      "dayofweek" -> false, "city" -> false)
    Map(
      "baltimore" -> (Seq("crimecode" -> false, "description" -> false,
        "description_orig" -> false) ++ shared),
      "detroit" -> (Seq("crimeid" -> false, "description" -> false,
        "location" -> false) ++ shared),
      "losangeles" -> (Seq("crime_identifier" -> false, "description" -> false,
        "gang_related" -> true) ++ shared))
  }

  /** The published (at-rest) shape of one harmonized city dataset: the
    * recipe output with `datetime` rendered as its indexed string form —
    * what the search index stores and what the dictionary profiles.
    */
  private[graft] def cityPublished(s: SparkSession, city: String): DataFrame = {
    val (recipe, csv) = city match {
      case "baltimore"  => (CityRecipes.baltimore, "Baltimore")
      case "detroit"    => (CityRecipes.detroit, "Detroit")
      case "losangeles" => (CityRecipes.losAngeles, "LosAngeles")
    }
    val df = recipe.harmonize(Sources.csvAllStrings(s, cityCsv(csv))).df
    val cols = cityPublishedCols(city).map {
      case ("datetime", _) =>
        date_format(col("datetime"), "yyyy-MM-dd HH:mm:ss").as("datetime")
      case (name, _) => col(name)
    }
    df.select(cols: _*)
  }

  /** Dictionary-typed widget fields, fetched once per session — the webapp
    * fetches the dictionary at page LOAD (`collections.js:66-81`) and every
    * later widget change reuses the typed field collection client-side; a
    * per-interaction re-collect would charge the dashboard a job it never
    * pays. Weak keys: a stopped session's entry is collectable.
    */
  private val dashboardFields =
    new java.util.WeakHashMap[SparkSession, graft.query.FieldCollection]

  /** The `*harmonized*` federated view (G9) over the three published city
    * datasets, dataset-tagged like ES's `_index`. `warm = true` serves the
    * pinned cache; `def fedObj` keeps the cold-plan construction (3 CSV
    * header reads + recipe plan builds) off the warm path, whose fast path
    * is a catalog lookup and nothing else.
    */
  private[graft] def federatedHarmonized(s: SparkSession, warm: Boolean): DataFrame = {
    val cities = Seq("baltimore", "detroit", "losangeles")
    def fedObj = Federation(cities.map(c =>
      s"${c}_harmonized" -> cityPublished(s, c).withColumn("dataset", lit(c))): _*)
    val fedView = "graft_dashboard_fed"
    if (!warm) fedObj.view("*harmonized*")
    else if (s.catalog.tableExists(fedView)) s.table(fedView)
    else fedObj.materialize(s, "*harmonized*", fedView)
  }

  /** The dashboard's default widget state, serialized the way the webapp's
    * filter UI would put it on the wire (`models.js:18-43` attributes; see
    * [[Widgets.fromJson]]). The production dashboard path decodes THIS, so
    * the `dashboard_refresh` oracle pins the decoder end to end.
    */
  private[graft] val dashboardStateJson: String =
    """[{"name": "year", "value": [2015, 2017],
      |  "enabled": {"state": true, "lastEnabled": 1}},
      | {"name": "hour", "value": [0, 18],
      |  "enabled": {"state": true, "lastEnabled": 2}}]""".stripMargin

  /** The federated view under a dashboard filter state (the widget
    * conjunction + the global time filter) — what every saved viz and every
    * map drill-down aggregates. `stateJson` is the webapp's widget-state
    * wire format; the default is the saved dashboard's own state.
    */
  private def dashboardWidgetFields(s: SparkSession): graft.query.FieldCollection =
    dashboardFields.synchronized {
      Option(dashboardFields.get(s)).getOrElse {
        val dict = Seq("baltimore", "detroit", "losangeles")
          .map(c => Dictionary.materializeProfile(s, cityPublished(s, c), s"graft_dict_city_$c"))
          .reduce(_.unionByName(_))
        val flds = Widgets.fieldsFromDictionary(dict)
        dashboardFields.put(s, flds)
        flds
      }
    }

  /** A widget-state JSON array decoded against the federated city
    * dictionary.
    */
  private[graft] def dashboardState(
      s: SparkSession, state: com.fasterxml.jackson.databind.JsonNode): graft.query.FieldCollection =
    Widgets.fromJson(dashboardWidgetFields(s), state)

  private[graft] def dashboardState(s: SparkSession, stateJson: String): graft.query.FieldCollection =
    Widgets.fromJson(dashboardWidgetFields(s), stateJson)

  /** Whether the at-rest rollup serves a decoded state: iff every field
    * it filters, plus any `aggregated` field the request buckets on, is a
    * rollup dimension ([[PreAgg.covers]]).
    */
  private[graft] def rollupCovers(fc: graft.query.FieldCollection, aggregated: String*): Boolean =
    PreAgg.covers(dashboardCubeDims.map(_._1), aggregated ++ fc.selections.keys.toSeq)

  private[graft] def dashboardFiltered(
      s: SparkSession,
      warm: Boolean,
      stateJson: String = dashboardStateJson): DataFrame =
    scanFiltered(s, warm, dashboardState(s, stateJson))

  /** [[dashboardFiltered]] under an already-decoded widget state. */
  private def scanFiltered(
      s: SparkSession, warm: Boolean, fc: graft.query.FieldCollection): DataFrame =
    graft.expr.Param.filter(federatedHarmonized(s, warm)
      .where(col("datetime").isNotNull && col("datetime") >= "2010-01-01 00:00:00"), fc.compile)

  /** The lineitem widget fields, typed from the warm approx-distinct
    * dictionary (one per corpus dir, materialized once per session).
    */
  private[graft] def lineitemWarmFields(
      s: SparkSession, li: DataFrame, dir: String): graft.query.FieldCollection =
    Widgets.fieldsFromDictionary(
      Dictionary.materializeProfile(s, li,
        s"graft_dict_lineitem_approx_${math.abs(dir.hashCode)}",
        exactDistinct = false))

  /** The §3.2 widget aggregation: the lineitem rows the widgets select,
    * counted and summed per l_linestatus.
    */
  private[graft] def lineStatusRevenue(li: DataFrame, fc: graft.query.FieldCollection): DataFrame =
    li.where(fc.compile)
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("revenue"))
      .orderBy("l_linestatus")

  /** The HTTP serving entry: [[graft.serve.WidgetServer]] over the route
    * table [[graft.serve.Routes]] for the corpus tables of `dir`. `port = 0`
    * binds an ephemeral port; caller owns `stop()`.
    */
  def serveHttp(s: SparkSession, dir: String, port: Int = 0): com.sun.net.httpserver.HttpServer =
    graft.serve.WidgetServer.start(port)(graft.serve.Routes.table(s, dir): _*)

  /** Stable engine-side panel labels, keyed by saved-object id — pure
    * presentation names the oracles pin. Everything else about a panel
    * (fields, sizes, nesting, grid precision) comes from its visState.
    */
  private val vizLabels = Map(
    "Description" -> "description_pie",
    "City" -> "city_pie",
    "Day-slash-Hour" -> "day_hour_heat",
    "DatasetTable" -> "dataset_table",
    "IncidentMap" -> "map_grid")

  /** The saved dashboard's panels, parsed once from the vendored reference
    * export (`kibana-exported-visualizations.json` — see
    * [[graft.query.VisState]]).
    */
  private lazy val dashboardVizes: Seq[graft.query.VisState.Viz] =
    graft.query.VisState.bundledDashboard()

  /** The saved panels over `frame`, all from ONE aggregate
    * ([[Aggs.panelBuckets]]), onto the `(viz, key, subkey, count)` bucket
    * schema. `measure` is the one thing the scan fallback (`count(lit(1))`
    * over the filtered federation) and the rollup path (`sum(cnt)`) do
    * differently; a frame carrying the map's `geolocation` gets the cube's
    * `geohash` here, so both cut map cells alike. A bucket field the frame
    * does not carry drops out (the export's `notebookhtml` — Kibana buckets
    * a missing field into nothing, and DatasetTable degrades to per-city
    * counts); a panel with no field left renders as nothing.
    */
  private def renderDashboard(
      frame: DataFrame, measure: Column, vizes: Seq[graft.query.VisState.Viz]): DataFrame = {
    import graft.query.VisState.BucketAgg
    val keyed = vizes.flatMap(_.buckets).filter(_.aggType == "geohash_grid").map(_.field)
      .find(g => frame.columns.contains(g) && !frame.columns.contains("geohash"))
      .fold(frame)(g => frame.withColumn("geohash", cubeGeohash(col(g))))
    val panels = vizes.flatMap { v =>
      val label = vizLabels.getOrElse(v.id, v.id)
      v.buckets.filter(b => keyed.columns.contains(if (b.aggType == "geohash_grid") "geohash" else b.field)) match {
        case Seq() if v.buckets.nonEmpty => None
        case Seq(b @ BucketAgg("geohash_grid", _, _, _, _)) =>
          require(b.precision == dashboardCubePrecision, s"saved map precision ${b.precision} is not " +
            s"the cube's $dashboardCubePrecision — rebuild the rollup at the map's precision")
          Some(label -> Aggs.Panel(Seq("geohash"), 0))
        case Seq(b @ BucketAgg("terms", _, _, _, _)) => Some(label -> Aggs.Panel(Seq(b.field), b.size))
        case Seq(p @ BucketAgg("terms", _, _, _, _), c @ BucketAgg("terms", _, _, _, _)) =>
          Some(label -> Aggs.Panel(Seq(p.field, c.field), p.size, c.size))
        case other => throw new IllegalArgumentException(
          s"unsupported panel shape for '${v.id}': ${other.mkString(", ")}")
      }
    }
    def byPanel(c: (String, Aggs.Panel) => Column) = panels.indices.foldLeft(lit(null)) {
      case (w, j) => when(col("_panel") === j, c.tupled(panels(j))).otherwise(w)
    }
    if (panels.isEmpty)
      frame.sparkSession.emptyDataFrame.select(lit("").as("viz"), lit("").as("key"),
        lit("").as("subkey"), lit(0L).as("count"))
    else Aggs.panelBuckets(keyed, measure, panels.map(_._2))
      .select(byPanel((label, _) => lit(label)).as("viz"),
        byPanel((_, p) => col(p.keys.head).cast("string")).as("key"),
        byPanel((_, p) => p.keys.lift(1).fold(lit(""))(col(_).cast("string"))).as("subkey"),
        col("count"))
      // panelBuckets' rows are one partition: a local sort is the total order
      .sortWithinPartitions("viz", "key", "subkey")
  }

  /** Render one saved visualization over the filtered federated frame. */
  private[graft] def renderViz(f: DataFrame, v: graft.query.VisState.Viz): DataFrame =
    renderDashboard(f, count(lit(1)), Seq(v))

  /** The reference's unit of interactive work (SURVEY §3.2/§3.3,
    * `views.js:103-115`): a widget change re-issues all five saved
    * visualizations (`kibana-exported-visualizations.json:2-7`) under the
    * decoded widget state and the global time filter, rendered from one
    * aggregate. `warm = true` scans the pinned federated cache, `false`
    * re-reads the sources (the first-load cost); one oracle pins both.
    */
  private[graft] def dashboardRefresh(
      s: SparkSession,
      warm: Boolean,
      stateJson: String = dashboardStateJson,
      vizes: Seq[graft.query.VisState.Viz] = null): DataFrame =
    renderDashboard(dashboardFiltered(s, warm, stateJson), count(lit(1)),
      Option(vizes).getOrElse(dashboardVizes))

  /** The saved map panel's precision — baked into the rollup's geohash
    * dimension at build time (ES likewise indexes the geohash_grid's
    * precision levels into doc_values at ingest).
    */
  private val dashboardCubePrecision = 2

  /** The dashboard rollup's dimensions over the federated view: every
    * bucket field of the five saved visualizations plus every field the
    * saved widget state (and the global time filter, via `year`) can
    * constrain. Geohash is DERIVED here, at ingest, at the saved map's
    * precision — serving never parses a geolocation string again.
    */
  private[graft] def dashboardCubeDims: Seq[(String, Column)] =
    Seq(
      "dataset" -> col("dataset"),
      "description" -> col("description"),
      "city" -> col("city"),
      "dayofweek" -> col("dayofweek"),
      "hour" -> col("hour"),
      "year" -> col("year"),
      "geohash" -> cubeGeohash(col("geolocation")))

  /** A `"lat,lon"` geolocation's cell at the cube precision; null where it
    * is empty or does not parse.
    */
  private def cubeGeohash(geoloc: Column): Column = {
    val parts = split(geoloc, ",")
    when(length(geoloc) > 0, graft.expr.Geohash.geohash(
      parts.getItem(0).cast("double"), parts.getItem(1).cast("double"), dashboardCubePrecision))
  }

  /** The dashboard rollup, built once per session (the at-rest table a
    * 100 TB deployment maintains at ingest).
    */
  private[graft] def dashboardRollup(s: SparkSession): DataFrame =
    PreAgg.materialize(s, federatedHarmonized(s, warm = false),
      dashboardCubeDims, "graft_dashboard_preagg")

  /** The Web-Mercator twin of the geohash cube dimension: an at-rest
    * `(tx, ty)` rollup at ingest zoom 10 over the federation's parsed
    * coordinates, materialized once — every map request (the
    * `/geotile` route) is then integer shifts over its rows.
    */
  private[graft] val geoTileIngestZoom = 10
  private[graft] def geoTileRollup(s: SparkSession): DataFrame = {
    implicit val spark: SparkSession = s
    def coords = {
      val parts = split(col("geolocation"), ",")
      federatedHarmonized(s, warm = false)
        .where(length(col("geolocation")) > 0)
        .withColumn("_lat", parts.getItem(0).cast("double"))
        .withColumn("_lon", parts.getItem(1).cast("double"))
    }
    val Seq(tx, ty) = Aggs.geoTileXY(col("_lat"), col("_lon"), geoTileIngestZoom)
    PreAgg.materialize(s, coords, Seq("tx" -> tx, "ty" -> ty),
      "graft_geotile_preagg")
  }

  /** The dashboard served ENTIRELY from the pre-aggregated rollup — the
    * 100 TB serving path, pinned by [[dashboardRefresh]]'s oracle: the
    * corpus is scanned once, at rollup build, and a widget change
    * re-aggregates |distinct dim combos| rows. The global time filter
    * (`datetime >= 2010-01-01T00:00`) is applied as `year >= 2010`: `year`
    * and `datetime` are harmonized from the same source parts. A state
    * filtering any field outside the rollup's dimensions fails loudly
    * ([[PreAgg.covers]]): fall back to the scan, never serve wrong buckets.
    */
  private[graft] def dashboardRefreshPreagg(
      s: SparkSession,
      stateJson: String = dashboardStateJson,
      rollup: Option[DataFrame] = None): DataFrame = {
    val pre = rollup.getOrElse(dashboardRollup(s))
    val fc = dashboardState(s, stateJson)
    require(rollupCovers(fc), "widget state filters outside rollup dims " +
      s"${dashboardCubeDims.map(_._1).mkString(",")} — " +
      "serve this state from dashboard_refresh (full scan) instead")
    rollupDashboard(pre, fc)
  }

  /** [[dashboardRefreshPreagg]] over rollup `pre` under an already-decoded,
    * covered widget state.
    */
  private def rollupDashboard(pre: DataFrame, fc: graft.query.FieldCollection): DataFrame =
    renderDashboard(
      graft.expr.Param.filter(pre.where(col("year").isNotNull && col("year") >= 2010), fc.compile),
      sum(col(PreAgg.CntCol)), dashboardVizes)

  /** The saved dashboard under a decoded widget state, as the route
    * serves it: from the at-rest rollup whenever it covers the state, else
    * from the pinned federated scan.
    */
  private[graft] def dashboardServed(s: SparkSession, fc: graft.query.FieldCollection): DataFrame =
    if (rollupCovers(fc)) rollupDashboard(dashboardRollup(s), fc)
    else renderDashboard(scanFiltered(s, warm = true, fc), count(lit(1)), dashboardVizes)

  // ---------------------------------------------------------------------
  // The query registry, derived once from the family files in
  // `graft/registry/` (one QueryCase per query)
  // ---------------------------------------------------------------------

  /** A Map literal silently keeps the LAST entry on a duplicate key —
    * in a registry this long a re-added name would shadow the live
    * query/oracle pair without any symptom (a drafted duplicate of the
    * round-14 g_categorize_text got one entry deep before it was
    * caught). Build from Seq and reject duplicates loudly instead.
    */
  private[graft] def distinctByName[V](what: String, entries: Seq[(String, V)]): Map[String, V] = {
    val dups = entries.groupBy(_._1).filter(_._2.size > 1).keys
    require(dups.isEmpty,
      s"$what: duplicate keys would silently shadow: ${dups.mkString(", ")}")
    entries.toMap
  }

  /** name -> (spark, sfDir) => DataFrame. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    distinctByName("queries", registry.Registry.cases.map(c => c.name -> c.run))

  /** name -> DuckDB oracle SQL, for every query that declares one; DuckDB
    * runs it against `<sfDir>/<table>.parquet`. Queries without an
    * entry get a rows-only check.
    */
  lazy val oracleSql: Map[String, String] =
    distinctByName("oracleSql",
      registry.Registry.cases.flatMap(c => c.oracle.map(c.name -> _)))

  /** Queries that serve from pinned caches (SURVEY §3.3): the cases
    * declared `warm`. Bench primes each once untimed so the timed passes
    * don't charge the one-off cache build to whichever runs first.
    */
  lazy val warmServed: Set[String] =
    registry.Registry.cases.filter(_.warm).map(_.name).toSet

  /** esql_knn's query vector — 64 dyadic zero-free values (exact as both
    * Scala doubles and DuckDB decimal literals cast to double).
    */
  private[graft] val knnQueryVec: Seq[Double] = {
    val cycle = Seq(0.5, -0.25, 0.75, -0.5, 0.125, -0.75, 0.25, -0.125)
    (0 until 64).map(i => cycle(i % 8) * (if ((i / 8) % 2 == 0) 1.0 else 0.5))
  }
}
