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

  /** The reference's actual unit of interactive work (SURVEY §3.2/§3.3 +
    * `services/webapp/src/views.js:103-115`): every widget change re-issues
    * ALL five saved visualizations under the new filter state against the
    * `*harmonized*` federated view. This builds that one interaction:
    *
    *   1. fetch the (warm) federated dictionary and type the widgets from it;
    *   2. compile the user's selections to one conjunction (Q7);
    *   3. apply the dashboard's global time filter (G8) — in published
    *      string space, where lexicographic order IS chronological order;
    *   4. run the five saved viz — description pie (G2), city pie (G3),
    *      day/hour nested terms (G4), per-dataset table (G5), geohash map
    *      grid (G6) (`kibana-content/kibana-exported-visualizations.json:2-7`)
    *      — and union their bucket rows.
    *
    * `warm = true` serves from the pinned federated cache ([[Federation
    * .materialize]]) — the steady-state latency of one dashboard
    * interaction; `false` re-scans the sources each time (the backfill /
    * first-load cost). Identical results, one oracle.
    */
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
    federatedHarmonized(s, warm)
      .where(col("datetime").isNotNull && col("datetime") >= "2010-01-01 00:00:00")
      .where(fc.compile)

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

  /** The dashboard's bucket aggregations over one backend: what differs
    * between rendering a panel from the corpus scan ([[Aggs]]) and from the
    * at-rest rollup ([[PreAgg]]). `carries` says whether a frame can serve
    * a bucket; the other three compute the bucket's `count` frame.
    */
  private final case class VizBackend(
      carries: (DataFrame, graft.query.VisState.BucketAgg) => Boolean,
      geohashGrid: (DataFrame, graft.query.VisState.BucketAgg) => DataFrame,
      terms: (DataFrame, graft.query.VisState.BucketAgg) => DataFrame,
      nestedTerms: (DataFrame, graft.query.VisState.BucketAgg,
        graft.query.VisState.BucketAgg) => DataFrame)

  /** Bucket fields resolve against the filtered federated frame; a field
    * the engine's published projection does not carry is dropped (the
    * export's `notebookhtml` descriptor link — Kibana buckets a missing
    * field into nothing, and the DatasetTable panel degrades to its first
    * level, per-city counts).
    */
  private val scanBackend = VizBackend(
    (f, b) => f.columns.contains(b.field),
    (f, b) => Aggs.geohashGridFromGeoloc(f, b.field, b.precision),
    (f, b) => Aggs.termsTopN(f, b.field, b.size),
    (f, p, c) => Aggs.nestedTermsBuckets(f, p.field, c.field,
      parentSize = p.size, childSize = c.size))

  /** Render one saved visualization onto the dashboard's
    * `(viz, key, subkey, count)` bucket schema, aggregating through
    * `backend`. A bucket field the frame does not carry drops out; a
    * panel whose every bucket field is absent renders as nothing.
    */
  private def renderPanel(
      f: DataFrame,
      v: graft.query.VisState.Viz,
      backend: VizBackend): DataFrame = {
    import graft.query.VisState.BucketAgg
    val label = vizLabels.getOrElse(v.id, v.id)
    def flat(df: DataFrame, key: String) =
      df.select(lit(label).as("viz"), col(key).cast("string").as("key"),
        lit("").as("subkey"), col("count"))
    val buckets = v.buckets.filter(backend.carries(f, _))
    buckets match {
      case Seq() if v.buckets.nonEmpty =>
        // every bucket field is absent from the serving frame: the panel
        // renders as nothing, not as an error (matches the terms degrade)
        f.sparkSession.emptyDataFrame
          .select(lit(label).as("viz"), lit("").as("key"),
            lit("").as("subkey"), lit(0L).as("count"))
      case Seq(b @ BucketAgg("geohash_grid", _, _, _, _)) =>
        flat(backend.geohashGrid(f, b), "geohash")
      case Seq(b @ BucketAgg("terms", _, _, _, _)) =>
        flat(backend.terms(f, b), b.field)
      case Seq(p @ BucketAgg("terms", _, _, _, _), c @ BucketAgg("terms", _, _, _, _)) =>
        backend.nestedTerms(f, p, c)
          .select(lit(label).as("viz"), col(p.field).cast("string").as("key"),
            col(c.field).cast("string").as("subkey"), col("count"))
      case other =>
        throw new IllegalArgumentException(
          s"unsupported panel shape for '${v.id}': ${other.mkString(", ")}")
    }
  }

  /** Render one saved visualization over the filtered federated frame. */
  private[graft] def renderViz(f: DataFrame, v: graft.query.VisState.Viz): DataFrame =
    renderPanel(f, v, scanBackend)

  /** Every panel of `vizes` through `backend`, as one sorted frame. */
  private def renderDashboard(
      f: DataFrame,
      vizes: Seq[graft.query.VisState.Viz],
      backend: VizBackend): DataFrame =
    vizes
      .map(renderPanel(f, _, backend))
      .reduce(_.unionByName(_))
      // Total order without a range-partitioning exchange: a global sort
      // would sample the (tiny) result in an extra job per interaction;
      // one partition + a local sort is the same order at dashboard-result
      // cardinality.
      .coalesce(1)
      .sortWithinPartitions("viz", "key", "subkey")

  private[graft] def dashboardRefresh(
      s: SparkSession,
      warm: Boolean,
      stateJson: String = dashboardStateJson,
      vizes: Seq[graft.query.VisState.Viz] = null): DataFrame =
    renderDashboard(dashboardFiltered(s, warm, stateJson),
      Option(vizes).getOrElse(dashboardVizes), scanBackend)

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
  private[graft] def dashboardCubeDims: Seq[(String, Column)] = {
    val parts = split(col("geolocation"), ",")
    Seq(
      "dataset" -> col("dataset"),
      "description" -> col("description"),
      "city" -> col("city"),
      "dayofweek" -> col("dayofweek"),
      "hour" -> col("hour"),
      "year" -> col("year"),
      "geohash" -> when(length(col("geolocation")) > 0,
        graft.expr.Geohash.geohash(
          parts.getItem(0).cast("double"), parts.getItem(1).cast("double"),
          dashboardCubePrecision)))
  }

  /** [[scanBackend]]'s twin over the at-rest rollup: identical buckets
    * (the weighted ops in [[PreAgg]] restate each aggregation's ordering
    * contract over `sum(cnt)`), same degrade rules — a bucket field the
    * rollup does not carry drops out, a fully-missing panel renders as
    * nothing.
    */
  private val rollupBackend = VizBackend(
    (pre, b) =>
      if (b.aggType == "geohash_grid") pre.columns.contains("geohash")
      else pre.columns.contains(b.field),
    (pre, b) => {
      // any precision at or below the ingest precision truncates from
      // the rollup (geohash prefixes ARE the coarser cells); only a
      // FINER saved map forces a rebuild or the corpus scan
      require(PreAgg.coversGeohash(dashboardCubePrecision, b.precision),
        s"saved map precision ${b.precision} > rollup ingest precision " +
          s"$dashboardCubePrecision — rebuild the rollup or fall back to the scan")
      PreAgg.geohashGridAt(pre, dashboardCubePrecision, b.precision)
    },
    (pre, b) => PreAgg.termsTopN(pre, b.field, b.size),
    (pre, p, c) => PreAgg.nestedTerms(pre, p.field, c.field,
      parentSize = p.size, childSize = c.size))

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
    * 100 TB serving path. Identical results to [[dashboardRefresh]] (one
    * oracle pins both), but the serving plan reads only the rollup: the
    * corpus is scanned exactly once, at rollup build, and a widget change
    * re-aggregates |distinct dim combos| rows. The global time filter
    * (`datetime >= 2010-01-01T00:00`, a year-boundary instant in the
    * published string encoding) is applied as `year >= 2010` — `year` and
    * `datetime` are harmonized from the same source parts, so the
    * predicates select identical rows (the shared oracle certifies it).
    * A state filtering any field outside the rollup's dimensions fails
    * loudly ([[PreAgg.covers]]): fall back to [[dashboardRefresh]], never
    * serve silently-wrong buckets.
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
      pre.where(col("year").isNotNull && col("year") >= 2010).where(fc.compile),
      dashboardVizes, rollupBackend)

  /** The saved dashboard under a decoded widget state, as the route
    * serves it: from the at-rest rollup whenever it covers the state, else
    * from the pinned federated scan.
    */
  private[graft] def dashboardServed(s: SparkSession, fc: graft.query.FieldCollection): DataFrame =
    if (rollupCovers(fc)) rollupDashboard(dashboardRollup(s), fc)
    else renderDashboard(scanFiltered(s, warm = true, fc), dashboardVizes, scanBackend)

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
