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

  /** The served analyzer registry — "standard" is the engine's ASCII
    * tokenizer (the stated subset of ES's standard analyzer).
    */
  private def analyzerByName(name: String): graft.expr.TextMatch.Analyzer = name match {
    case "standard" => graft.expr.TextMatch.AsciiAnalyzer
    case "unicode" => graft.expr.TextMatch.UnicodeAnalyzer
    case "english" => graft.expr.TextMatch.EnglishAnalyzer
    case other => throw new IllegalArgumentException(
      s"unknown analyzer '$other' (standard, unicode, english)")
  }

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

  private[graft] def dashboardFiltered(
      s: SparkSession,
      warm: Boolean,
      stateJson: String = dashboardStateJson): DataFrame = {
    val fields = dashboardWidgetFields(s)
    val fc = Widgets.fromJson(fields, stateJson)
    federatedHarmonized(s, warm)
      .where(col("datetime").isNotNull && col("datetime") >= "2010-01-01 00:00:00")
      .where(fc.compile)
  }

  /** The HTTP serving entry (§3 lifecycle parity): POST the webapp's
    * widget-state JSON, get buckets back as a JSON row array — the
    * reference's browser → nginx → aws-es-kibana → ES `_search` round trip
    * collapsed to one localhost hop in front of the same compile chain the
    * oracles pin. Routes:
    *
    *  - `POST /query`: state over the lineitem dictionary → the §3.2
    *    widget aggregation (the `w_json_widget_query` shape);
    *  - `POST /dashboard`: state over the federated city dictionary → all
    *    five saved visualizations (the `dashboard_refresh_warm` unit); an
    *    empty body serves the saved dashboard's own state.
    *  - `POST /fields`: the Q8 dictionary fetch — the projection the webapp
    *    builds its widget list from on page load (`collections.js:66-81`);
    *    body ignored (the wildcard fetch takes no parameters).
    *  - `POST /histogram`: ES numeric histogram of the current state's
    *    slice, rollup-served when field + state stay inside the cube.
    *  - `POST /geo`: the map's viewport/pin filters (geo_bounding_box +
    *    geo_distance) → geohash grid of the matching points.
    *
    * `port = 0` binds an ephemeral port; caller owns `stop()`.
    */
  def serveHttp(s: SparkSession, dir: String, port: Int = 0): com.sun.net.httpserver.HttpServer = {
    implicit val spark: SparkSession = s
    import graft.serve.WidgetServer
    WidgetServer.start(port)(
      "/query" -> { body =>
        val li = load(dir, "lineitem")
        val fields = Widgets.fieldsFromDictionary(
          Dictionary.materializeProfile(s, li,
            s"graft_dict_lineitem_approx_${math.abs(dir.hashCode)}",
            exactDistinct = false))
        val fc = Widgets.fromJson(fields, body)
        WidgetServer.collectRowsJson(
          li.where(fc.compile)
            .groupBy("l_linestatus")
            .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("revenue"))
            .orderBy("l_linestatus"))
      },
      "/dashboard" -> { body =>
        val state = if (body.trim.isEmpty) dashboardStateJson else body
        // Serve from the at-rest rollup whenever the posted state only
        // filters rollup dimensions (identical buckets — the shared oracle
        // proves it); a state outside the cube falls back to the pinned
        // scan. This is the routing a 100 TB deployment runs: doc_values
        // first, documents only when the query demands them.
        val covered = PreAgg.covers(dashboardCubeDims.map(_._1),
          Widgets.fromJson(dashboardWidgetFields(s), state).selections.keys.toSeq)
        WidgetServer.collectRowsJson(
          if (covered) dashboardRefreshPreagg(s, state)
          else dashboardRefresh(s, warm = true, state))
      },
      "/fields" -> { _ =>
        WidgetServer.collectRowsJson(queries("q8_dict_fetch_warm")(s, dir))
      },
      "/suggest" -> { body =>
        // The webapp's typeahead against `*harmonized*` (views.js:378-412):
        // {"field": "description", "prefix": "th", "size": 10} → top
        // completions from the pinned federated cache.
        val o = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        val field = o.path("field").asText("description")
        WidgetServer.collectRowsJson(Aggs.typeahead(
          federatedHarmonized(s, warm = true), field,
          o.path("prefix").asText(""), o.path("size").asInt(10)))
      },
      "/histogram" -> { body =>
        // ES numeric histogram of the CURRENT search: {"field": "hour",
        // "interval": 6, "state": <widget-state JSON array>} → interval
        // buckets of the state-matching slice. Rollup-served when the
        // field AND every state field stay inside the cube (quantization
        // commutes with the rollup — the same doc_values routing as
        // /dashboard); anything else scans the pinned federation.
        val o = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        val field = o.path("field").asText("hour")
        val interval = o.path("interval").asDouble(1.0)
        val state = o.path("state")
        val stateJson =
          if (state.isMissingNode || state.isNull) "[]" else state.toString
        val fc = Widgets.fromJson(dashboardWidgetFields(s), stateJson)
        val covered = PreAgg.covers(dashboardCubeDims.map(_._1),
          field +: fc.selections.keys.toSeq)
        WidgetServer.collectRowsJson(
          if (covered)
            PreAgg.numericHistogram(
              dashboardRollup(s).where(fc.compile), field, interval)
          else
            Aggs.numericHistogram(
              federatedHarmonized(s, warm = true).where(fc.compile),
              field, interval))
      },
      "/geotile" -> { body =>
        // Kibana-map tiles over the harmonized federation: {"z": 4} for
        // the top grid, {"z": 6, "cell": "4/x/y"} to drill into a clicked
        // tile, {"size": N} to widen. Every request is integer shifts
        // over the at-rest zoom-10 rollup (PreAgg.geoTileGridAt /
        // geoTileGridDrilldown) — no geometry, no corpus, any zoom ≤ 10.
        val o = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        val z = o.path("z").asInt(4)
        val size = o.path("size").asInt(10)
        val cell = o.path("cell").asText("")
        WidgetServer.collectRowsJson(
          if (cell.isEmpty)
            PreAgg.geoTileGridAt(geoTileRollup(s), geoTileIngestZoom, z, size)
          else {
            val Array(cz, cx, cy) = cell.split("/")
            PreAgg.geoTileGridDrilldown(geoTileRollup(s), geoTileIngestZoom,
              cz.toInt, cx.toLong, cy.toLong, z, size)
          })
      },
      "/significant" -> { body =>
        // ES significant_terms of the CURRENT search: {"field": "...",
        // "size": N, "state": <widget-state JSON array>} → which values of
        // `field` characterize the state-matching slice against the whole
        // federation. Foreground = the decoded state's predicate evaluated
        // in-plan (one pass — never a second scan for the background), and
        // the whole route serves from the at-rest rollup whenever the
        // state and field stay inside the cube (the 100 TB doc_values
        // routing, same as /dashboard).
        val o = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        val field = o.path("field").asText("description")
        val size = o.path("size").asInt(10)
        val state = o.path("state")
        val stateJson =
          if (state.isMissingNode || state.isNull) "[]" else state.toString
        val fc = Widgets.fromJson(dashboardWidgetFields(s), stateJson)
        val dimNames = dashboardCubeDims.map(_._1)
        val covered = PreAgg.covers(dimNames,
          field +: fc.selections.keys.toSeq)
        WidgetServer.collectRowsJson(
          if (covered)
            PreAgg.significantTerms(dashboardRollup(s), field, fc.compile, size)
          else
            Aggs.significantTerms(federatedHarmonized(s, warm = true),
              array(col(field)), fc.compile, size))
      },
      "/explain" -> { body =>
        // ES _explain over the wire: {"q": "<query>", "size": N} — the
        // ranked top-N with each doc's per-term score decomposition
        // (tf/df/idf/dl/contribution/total), the relevance-debugging
        // payload.
        val o = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        val qText = o.path("q").asText("")
        require(qText.nonEmpty, "explain: missing q")
        WidgetServer.collectRowsJson(
          graft.query.Bm25.explainTopK(load(dir, "documents"), "doc_id",
            concat(lit(" "), graft.expr.TextMatch.normalized(col("text")), lit(" ")),
            qText, k = o.path("size").asInt(5)))
      },
      "/termvectors" -> { body =>
        // ES _termvectors over the wire: {"ids": [1, 2, ...]} — per-(doc,
        // term) frequency + sorted positions for the requested documents
        // (the API is per-document; the id list bounds the scan).
        val o = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        val ids = o.path("ids")
        require(ids.isArray && ids.size() > 0, "termvectors: missing ids")
        val idSeq = (0 until ids.size()).map(ids.get(_).asLong())
        WidgetServer.collectRowsJson(
          graft.query.TermVectors.termVectors(
              load(dir, "documents").where(col("doc_id").isin(idSeq: _*)),
              "doc_id", "text")
            .orderBy("doc_id", "term"))
      },
      "/esql" -> { body =>
        // The ES|QL wire endpoint (ES's POST /_query): {"query": "FROM
        // … | …"}. FROM names resolve against this server's corpus dir
        // behind an ALLOWLIST (an unknown index is a 400, not a
        // path-leak 500); the `nations` ENRICH policy is exposed, the
        // /knn-rule row cap bounds unbounded programs (a program with a
        // tighter LIMIT is unaffected — limits compose), and the
        // response rides the engine's rows-JSON envelope rather than
        // ES's columnar columns/values split (a documented wire delta —
        // one serving shape across every route).
        val o = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        val q = o.path("query").asText("")
        require(q.nonEmpty, "esql: missing query")
        val known = Set("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")
        def resolveTable(t: String): DataFrame = {
          require(known.contains(t),
            s"esql: unknown index '$t' (have: ${known.toSeq.sorted.mkString(", ")})")
          if (t == "events") loadEvents(dir) else load(dir, t)
        }
        // `default_field` is the QSTR/KQL seam (ES reads it from the
        // index mapping; this server takes it on the request) — absent,
        // those functions reject with a 400 naming the option.
        val defaultField =
          if (o.hasNonNull("default_field")) Some(o.path("default_field").asText())
          else None
        // named `?name` parameters — ES's wire shape is an array of
        // one-field objects ([{"lang": "en"}, …]); a plain object map is
        // accepted too. Positional entries (bare scalars) reject loudly.
        def paramValue(name: String, v: com.fasterxml.jackson.databind.JsonNode): (String, Any) =
          name -> (if (v.isNull) null
            else if (v.isTextual) v.asText()
            else if (v.isBoolean) v.asBoolean()
            else if (v.isIntegralNumber) v.asLong()
            else if (v.isNumber) v.asDouble()
            else throw new IllegalArgumentException(
              s"esql: parameter '$name' must be a scalar, got ${v.getNodeType}"))
        val params: Map[String, Any] =
          if (!o.hasNonNull("params")) Map.empty
          else {
            import scala.jdk.CollectionConverters._
            val p = o.path("params")
            if (p.isObject) p.fields().asScala.map(e => paramValue(e.getKey, e.getValue)).toMap
            else if (p.isArray) p.elements().asScala.map { el =>
              require(el.isObject && el.size() == 1,
                "esql: params entries are one-field objects ({\"name\": value}) — " +
                  "positional parameters are not supported")
              val e = el.fields().next()
              paramValue(e.getKey, e.getValue)
            }.toMap
            else throw new IllegalArgumentException(
              "esql: params must be an object or an array of one-field objects")
          }
        val df = query.Esql.run(q, resolveTable,
          Map("nations" -> query.Esql.EnrichPolicy(
            load(dir, "nation"), "n_nationkey", Seq("n_name"))),
          defaultField = defaultField, params = params)
        WidgetServer.collectRowsJson(df.limit(1000))
      },

      "/search" -> { body =>
        // The search endpoint over the documents corpus: {"q": "dup
        // vector", "filter": "lang:en" (query_string, optional),
        // "size": N, "collapse": "lang" (optional), "after": [score, id]
        // (search_after, optional), "highlight": true (optional)}. BM25
        // over the analyzed text; filter compiled by the query_string
        // parser; collapse/after are the Paging tier; highlight wraps
        // matched tokens.
        val o = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        val qText = o.path("q").asText("")
        require(qText.nonEmpty, "search: missing q")
        val size = o.path("size").asInt(10)
        require(size >= 1 && size <= 1000,
          s"search: size must be 1..1000 (the page budget — deep result sets page with search_after), got $size")
        val docs0 = load(dir, "documents")
        // Kibana's own language toggle: the search bar sends KQL by
        // default since 7.0 and Lucene query_string behind the switch —
        // "filter_language": "kuery" routes the filter through the Kql
        // compiler, "lucene" (the default here, matching the reference's
        // pre-KQL dashboards) through QueryString.
        val filterLang = o.path("filter_language").asText("lucene")
        require(filterLang == "lucene" || filterLang == "kuery",
          s"search: filter_language must be lucene|kuery, got '$filterLang'")
        val docs =
          if (o.hasNonNull("filter")) {
            val f = o.path("filter").asText()
            val spec =
              if (filterLang == "kuery") graft.query.Kql.parse(f, Some("text"))
              else graft.query.QueryString.parse(f, defaultField = "text")
            docs0.where(spec.compile)
          } else docs0
        if (o.hasNonNull("fields")) {
          // ES's multi-field form: {"q": "...", "fields": ["text^5",
          // "source"], "mode": "most_fields"|"best_fields" (optional)} —
          // per-field BM25 × boost via multiMatchWeightedTopK (the
          // fields^boost scoring simple_query_string/query_string
          // document). Composes with "filter" (stats over the filtered
          // frame, the route's standing contract); collapse/after/
          // rescore/highlight stay single-field concerns and reject
          // loudly rather than silently ignoring the fields.
          val fj = o.path("fields")
          require(fj.isArray && fj.size() > 0,
            "search: fields must be a non-empty array of \"name\" or \"name^boost\"")
          Seq("collapse", "after", "rescore", "highlight", "analyzer").foreach { k =>
            require(!o.hasNonNull(k),
              s"search: $k does not compose with fields — use the single-field path")
          }
          val fieldBoosts = (0 until fj.size()).map { i =>
            val spec = fj.get(i).asText()
            val at = spec.lastIndexOf('^')
            if (at < 0) (spec, 1.0)
            else (spec.substring(0, at), spec.substring(at + 1).toDouble)
          }
          val mode = o.path("mode").asText("most_fields")
          WidgetServer.collectRowsJson(
            if (mode == "cross_fields")
              // the term-centric mode: blended DF, per-term dis_max with
              // the optional tie_breaker (ES's multi_match knob)
              graft.query.Bm25.crossFieldsTopK(docs, "doc_id", fieldBoosts,
                qText, size, tieBreaker = o.path("tie_breaker").asDouble(0.0))
            else {
              require(!o.hasNonNull("tie_breaker"),
                "search: tie_breaker rides mode=cross_fields here (best_fields' " +
                  "dis_max tie lives on the single-field path)")
              graft.query.Bm25.multiMatchWeightedTopK(
                docs, "doc_id", fieldBoosts, qText, size, mode = mode)
            })
        } else {
        // ES's per-request `analyzer` option: BOTH sides re-analyze —
        // "english" meets inflections at their stem. Non-standard
        // analyzers ride the plain ranked path only; boost carets /
        // collapse / after / rescore / highlight keep the standard
        // analyzer's oracled contracts and reject composition loudly.
        val anName = o.path("analyzer").asText("standard")
        val an = analyzerByName(anName)
        if (anName != "standard") {
          Seq("collapse", "after", "rescore", "highlight").foreach { k =>
            require(!o.hasNonNull(k),
              s"search: $k does not compose with analyzer — use the standard path")
          }
          require(!graft.query.QueryString.hasBoost(qText),
            "search: term boosts do not compose with analyzer")
        }
        val analyzed = concat(lit(" "), an.normalized(col("text")), lit(" "))
        // `term^2` boosts compile to per-term BM25 weights on this (the
        // scoring) path THROUGH boostedTerms' strict flat-list contract
        // (operators/groups/fielded tokens reject loudly — structure
        // belongs in "filter"). A caret-free q keeps the original
        // tolerant bag-of-words path (Bm25.queryTerms), so pre-boost
        // route clients sending `a AND b` keep their accepted-as-terms
        // behavior — the route contract only tightens where a boost is
        // actually used (round-15 advice: don't break caret-free
        // payloads). Boost-free boostedTerms output is bit-identical to
        // scoredAll anyway (every weight 1.0 short-circuits).
        val scored =
          if (graft.query.QueryString.hasBoost(qText))
            graft.query.Bm25.scoredAllBoosted(docs, "doc_id", analyzed,
              graft.query.QueryString.boostedTerms(qText))
          else graft.query.Bm25.scoredAll(docs, "doc_id", analyzed, qText,
            analyzer = an)
        val page =
          if (o.hasNonNull("collapse"))
            graft.query.Paging.collapseTopHits(
              scored.join(docs.select("doc_id", o.path("collapse").asText()), "doc_id"),
              "doc_id", "score", o.path("collapse").asText(), size)
          else if (o.hasNonNull("after")) {
            val a = o.path("after")
            graft.query.Paging.searchAfter(scored, "doc_id", "score",
              a.get(0).asDouble(), a.get(1).asLong(), size)
          } else if (o.hasNonNull("rescore")) {
            // ES rescore over the wire: {"rescore": {"q": "<query_string
            // phrase>", "window": N, "weight": w}} — only the window pays
            // the secondary phrase boost, the tail keeps primary order.
            val r = o.path("rescore")
            val rq = r.path("q").asText("")
            require(rq.nonEmpty, "search: rescore.q missing")
            val boost = docs0.select(col("doc_id"),
              when(graft.expr.TextMatch.containsToken(col("text"), rq),
                lit(1.0)).otherwise(lit(0.0)).as("boost"))
            // ROUTE CONTRACT: rescore serves at most runLimit (default
            // 1000) ranks — ranks beyond it truncate BY DESIGN (the
            // distributed top-k page budget; rescore's scaladoc). A
            // deeper page product would pass runLimit explicitly here.
            graft.query.Hybrid.rescore(scored, "doc_id", "score",
                boost, "boost",
                windowSize = r.path("window").asInt(10),
                rescoreWeight = r.path("weight").asDouble(2.0))
              .orderBy("rank").limit(size)
          } else scored.orderBy(desc("score"), asc("doc_id")).limit(size)
        WidgetServer.collectRowsJson(
          if (o.path("highlight").asBoolean(false))
            page.join(docs0.select(col("doc_id"),
              graft.expr.TextMatch.highlight(col("text"), qText).as("highlighted")),
              "doc_id")
              .orderBy(desc("score"), asc("doc_id"))
          else page)
        }
      },
      "/analyze" -> { body =>
        // ES's POST /_analyze: {"analyzer": "standard"|"unicode"|
        // "english", "text": "..."} → the token stream with positions —
        // the debugging endpoint every analyzer change gets tested
        // through. "standard" is the engine's ASCII tokenizer (the
        // stated subset of ES's standard), "english" adds the stopword
        // filter + the Snowball stemmer.
        val o = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        val text = o.path("text").asText("")
        require(text.nonEmpty, "analyze: missing text")
        val an = analyzerByName(o.path("analyzer").asText("standard"))
        val toks = an.analyze(text).zipWithIndex.map { case (t, i) => (i, t) }
        import s.implicits._
        WidgetServer.collectRowsJson(toks.toDF("position", "token"))
      },
      "/mlt" -> { body =>
        // ES more_like_this over the wire, like-TEXT form: {"like":
        // "free text", "max_query_terms": N, "min_term_freq": N,
        // "min_doc_freq": N, "max_doc_freq": N, "min_word_length": N,
        // "minimum_should_match": "50%", "size": N, "scored": bool}.
        // scored=true (default) returns the BM25 top-k; scored=false the
        // filter-context match set with per-doc matched counts.
        val o = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        val like = o.path("like").asText("")
        require(like.nonEmpty, "mlt: missing like")
        val mltSize = o.path("size").asInt(10)
        require(mltSize >= 1 && mltSize <= 1000,
          s"mlt: size must be 1..1000 (the page budget), got $mltSize")
        val p = graft.query.MoreLikeThis.MltParams(
          maxQueryTerms = o.path("max_query_terms").asInt(25),
          minTermFreq = o.path("min_term_freq").asInt(2),
          minDocFreq = o.path("min_doc_freq").asInt(5),
          maxDocFreq = if (o.hasNonNull("max_doc_freq")) o.path("max_doc_freq").asInt()
            else Int.MaxValue,
          minWordLength = o.path("min_word_length").asInt(0),
          maxWordLength = if (o.hasNonNull("max_word_length"))
            o.path("max_word_length").asInt() else Int.MaxValue,
          minimumShouldMatch = o.path("minimum_should_match").asText("30%"))
        val docs = load(dir, "documents")
        val analyzed = concat(lit(" "),
          graft.expr.TextMatch.normalized(col("text")), lit(" "))
        WidgetServer.collectRowsJson(
          if (o.path("scored").asBoolean(true))
            graft.query.MoreLikeThis.likeTextTopK(docs, "doc_id", analyzed,
              like, k = mltSize, p)
          else
            graft.query.MoreLikeThis.likeTextMatchSet(docs, "doc_id", analyzed,
                like, p)
              .orderBy("doc_id").limit(mltSize))
      },
      "/complete" -> { body =>
        // ES completion suggester: {"prefix": "sp", "size": N,
        // "fuzziness": 0..2, "prefix_length": N} over the documents
        // vocabulary (the at-rest suggest artifact).
        val o = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        val prefix = o.path("prefix").asText("")
        require(prefix.nonEmpty, "complete: missing prefix")
        require(o.path("size").asInt(5) >= 1 && o.path("size").asInt(5) <= 1000,
          "complete: size must be 1..1000")
        WidgetServer.collectRowsJson(graft.query.Fuzzy.suggestCompletion(
          graft.query.Fuzzy.vocabularyWithFreq(load(dir, "documents"), col("text")),
          prefix, size = o.path("size").asInt(5),
          fuzziness = o.path("fuzziness").asInt(0),
          prefixLength = o.path("prefix_length").asInt(1)))
      },
      "/knn" -> { body =>
        // ES 8 knn search over the wire: {"vec_id": 3, "k": 5,
        // "filter": "label:[0 TO 5]" (query_string over the metadata
        // columns, optional), "nprobe": N (optional — IVF path; omitted
        // = exact brute force), "similarity": t (optional)}. With "k"
        // present (or neither given), "similarity" is ES's documented
        // knn threshold: ranked hits below cosine t drop AFTER the k
        // cut. With "similarity" and NO "k", the request is a pure
        // RADIUS search — every hit with cos ≥ t, no rank window at
        // all: ivfRadius over the probed cells when "nprobe" is given
        // (the serving path — cell-pruned scan, round-15 verdict #3),
        // exact bruteForceRadius otherwise. The filter is PRE-filter
        // semantics (candidates prune before ranking, the
        // recall-preserving form); the query vector is looked up by id,
        // the kNN-by-example shape.
        val o = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        require(o.hasNonNull("vec_id"), "knn: missing vec_id")
        val qid = o.path("vec_id").asLong()
        val emb0 = load(dir, "embeddings")
        val emb =
          if (o.hasNonNull("filter"))
            emb0.where(graft.query.QueryString.parse(
              o.path("filter").asText(), defaultField = "label").compile)
          else emb0
        val queries = emb0.where(col("vec_id") === qid)
        def centroids() = ops.Similarity.kmeansCentroids(
          emb0, "vec_id", "embedding", k = 8, iters = 0)
        val hits =
          if (o.hasNonNull("similarity") && !o.hasNonNull("k")) {
            val t = o.path("similarity").asDouble()
            val radius =
              if (o.hasNonNull("nprobe")) {
                val cents = centroids()
                ops.Similarity.ivfRadius(
                  ops.Similarity.assignCells(emb, "vec_id", "embedding", cents),
                  cents, queries, "vec_id", "embedding", t,
                  nprobe = o.path("nprobe").asInt(3))
              } else
                ops.Similarity.bruteForceRadius(emb, "vec_id", "embedding",
                  queries, "vec_id", "embedding", t)
            // ROUTE CONTRACT (a diverging wire shape, documented): ES
            // defines `similarity` only alongside `k`; here `similarity`
            // WITHOUT `k` is this route's radius extension, and since
            // round 16 it returns the FULL radius set rather than the
            // old top-5-then-threshold page. "size" (default 1000)
            // bounds the response — a permissive threshold over a big
            // corpus must not stream the corpus down one HTTP body; a
            // deeper page passes size explicitly.
            radius.orderBy(desc("cos"), asc("neighbor_id"))
              .limit(o.path("size").asInt(1000))
          } else {
            val k = o.path("k").asInt(5)
            val ranked =
              if (o.hasNonNull("nprobe")) {
                val cents = centroids()
                ops.Similarity.ivfTopKFromIndex(
                  ops.Similarity.assignCells(emb, "vec_id", "embedding", cents),
                  cents, queries, "vec_id", "embedding", k,
                  nprobe = o.path("nprobe").asInt(3))
              } else
                ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
                  queries, "vec_id", "embedding", k)
            if (o.hasNonNull("similarity"))
              ranked.where(col("cos") >= o.path("similarity").asDouble())
            else ranked
          }
        WidgetServer.collectRowsJson(hits)
      },
      "/sparse" -> { body =>
        // ES `sparse_vector` search over the wire (the ELSER/SPLADE
        // serving endpoint): {"terms": {"vector": 2.0, "dup": 1.5} —
        // the ES query_vector object — OR [["vector", 2.0], ...],
        // "k": N, "prune": true (optional; the ES pruning_config:
        // "freq_ratio" = tokens_freq_ratio_threshold, default 5.0,
        // "weight_ratio" = tokens_weight_threshold, default 0.4)}.
        // Scores the tf postings of the documents corpus — the same
        // engine path search_sparse_vector pins. Fault pins (400):
        // missing/empty terms, a non-numeric weight, duplicate terms
        // (the array form can carry them; SparseVector rejects), and
        // prune thresholds outside their ES ranges.
        val o = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        val t = o.path("terms")
        val b = Seq.newBuilder[(String, Double)]
        if (t.isObject && t.size() > 0) {
          val it = t.fields()
          while (it.hasNext) {
            val e = it.next()
            require(e.getValue.isNumber,
              s"sparse: weight of term <${e.getKey}> must be a number")
            b += e.getKey -> e.getValue.asDouble()
          }
        } else if (t.isArray && t.size() > 0) {
          (0 until t.size()).foreach { i =>
            val pair = t.get(i)
            require(pair.isArray && pair.size() == 2 && pair.get(0).isTextual &&
              pair.get(1).isNumber, "sparse: terms array entries must be [term, weight]")
            b += pair.get(0).asText() -> pair.get(1).asDouble()
          }
        } else throw new IllegalArgumentException("sparse: missing terms")
        val weights = b.result()
        val postings = query.SparseVector.tfPostings(
          load(dir, "documents"), "doc_id", "text")
        val served =
          if (o.path("prune").asBoolean(false))
            query.SparseVector.prune(postings, weights,
              freqRatioThreshold = o.path("freq_ratio").asDouble(5.0),
              weightThreshold = o.path("weight_ratio").asDouble(0.4))
          else weights
        WidgetServer.collectRowsJson(
          query.SparseVector.topK(postings, "doc_id", served,
            k = o.path("k").asInt(10)))
      },
      "/geo" -> { body =>
        // Kibana map filters over the wire: {"box": {"top": t, "left": l,
        // "bottom": b, "right": r}} (the viewport geo_bounding_box —
        // antimeridian crossing honored) and/or {"pin": {"lat": y,
        // "lon": x, "km": r}} (the geo_distance radius filter), plus
        // {"precision": p} — returns the geohash grid of the matching
        // points (the map's clustered-dots layer after a pan/pin).
        // Filters compile to plain comparisons / the pinned haversine
        // tree and push into the scan (PlanSpec).
        val o = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        val precision = o.path("precision").asInt(2)
        val pts = load(dir, "customer")
          .withColumn("lat", pmod(col("c_acctbal"), lit(180)) - 90 + lit(0.001))
          .withColumn("lon", pmod(col("c_custkey"), lit(360)) - 180 + lit(0.001))
        val specs = Seq(
          Option(o.path("box")).filter(_.isObject).map(b =>
            graft.query.FilterSpec.GeoBoundingBox("lat", "lon",
              b.path("top").asDouble(90), b.path("left").asDouble(-180),
              b.path("bottom").asDouble(-90), b.path("right").asDouble(180))),
          Option(o.path("pin")).filter(_.isObject).map { p =>
            require(p.hasNonNull("km"), "geo: pin needs km")
            graft.query.FilterSpec.GeoDistance("lat", "lon",
              p.path("lat").asDouble(0), p.path("lon").asDouble(0),
              p.path("km").asDouble())
          }).flatten
        WidgetServer.collectRowsJson(Aggs.geohashGrid(
          pts.where(graft.query.FilterSpec.conjunction(specs).compile),
          "lat", "lon", precision))
      },
      "/fuse" -> { body =>
        // Hybrid retrieval over the wire (the ES retrievers API shape):
        // {"q": "<text query>", "vec_id": N, "k": N, "mode": "rrf"|
        // "linear", "weights": [wLex, wVec] (linear only), "mmr":
        // {"k": n, "lambda": l} (optional diversification of the fused
        // list using the embedding vectors)}.
        val o = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        val qText = o.path("q").asText("")
        require(qText.nonEmpty, "fuse: missing q")
        require(o.hasNonNull("vec_id"), "fuse: missing vec_id")
        val k = o.path("k").asInt(10)
        val mode = o.path("mode").asText("rrf")
        val docs = load(dir, "documents")
        val emb = load(dir, "embeddings")
        val bmScored = graft.query.Bm25.topKRaw(docs, "doc_id", "text", qText, k = 50)
          .select(col("doc_id"), col("score"))
        val vecScored = ops.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
            emb.where(col("vec_id") === o.path("vec_id").asLong()),
            "vec_id", "embedding", k = 50)
          .select(col("neighbor_id").as("doc_id"), col("rank"), col("cos").as("score"))
        val fused = mode match {
          case "rrf" =>
            val bmRun = graft.query.Hybrid.withRank(bmScored, "score", "doc_id")
              .select("doc_id", "rank")
            graft.query.Hybrid.rrf(
                Seq(bmRun, vecScored.select("doc_id", "rank")),
                "doc_id", "rank", topK = k)
              .withColumnRenamed("rrf_score", "fused_score")
          case "linear" =>
            val w = o.path("weights")
            val (w0, w1) =
              if (w.isArray && w.size() == 2) (w.get(0).asDouble(), w.get(1).asDouble())
              else (0.7, 0.3)
            graft.query.Hybrid.linearFusion(
              Seq(bmScored -> w0, vecScored.select("doc_id", "score") -> w1),
              "doc_id", "score", topK = k)
          case other => throw new IllegalArgumentException(
            s"fuse: unsupported mode <$other> (rrf|linear)")
        }
        WidgetServer.collectRowsJson(
          if (o.hasNonNull("mmr")) {
            val m = o.path("mmr")
            graft.query.Mmr.diversify(
              fused.select(col("doc_id").as("cand_id"),
                  col("fused_score").as("rel"))
                .join(emb.select(col("vec_id").as("cand_id"),
                  ops.Similarity.asDouble(col("embedding")).as("vec")), Seq("cand_id"))
                .withColumn("query_id", lit(0L)),
              k = m.path("k").asInt(5), lambda = m.path("lambda").asDouble(0.7))
              .orderBy("pick")
              .select("pick", "cand_id", "rel", "mmr")
          } else fused.orderBy(desc("fused_score"), asc("doc_id")))
      },
      "/retriever" -> { body =>
        // The ES 9.x search API's `retriever` tree — the recursive
        // request shape whose flat /search, /knn, /fuse forms are
        // special cases. The body IS the retriever JSON
        // ({"retriever": {...}} or the bare node); responses cap at the
        // tree's own rank_window_size (every node bounds its output).
        WidgetServer.collectRowsJson(
          query.Retriever.compile(load(dir, "documents"),
            load(dir, "embeddings"), body))
      },
      "/percolate" -> { body =>
        // The alerting endpoint: {"queries": {"alert_id": "<query_string
        // text>", ...}} percolated against the documents corpus — one
        // (query_id, doc_id) row per match, the Watcher wire shape.
        val o = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        val qs = o.path("queries")
        require(qs.isObject && qs.size() > 0, "percolate: missing queries")
        val it = qs.fields()
        val b = Seq.newBuilder[(String, String)]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
        val stored = graft.query.Percolator.fromStrings(b.result(), defaultField = "text")
        // sharded form: identical results (parity-spec'd), and a caller
        // POSTing an index-scale query set stays inside codegen budgets
        WidgetServer.collectRowsJson(
          graft.query.Percolator.percolateSharded(
            load(dir, "documents"), "doc_id", stored)
            .orderBy("query_id", "doc_id"))
      })
  }

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

  /** Render one saved visualization over the filtered federated frame onto
    * the dashboard's `(viz, key, subkey, count)` bucket schema. Bucket
    * fields resolve against the frame; a field the engine's published
    * projection does not carry is dropped (the export's `notebookhtml`
    * descriptor link — Kibana buckets a missing field into nothing, and
    * the DatasetTable panel degrades to its first level, per-city counts).
    */
  private[graft] def renderViz(f: DataFrame, v: graft.query.VisState.Viz): DataFrame = {
    import graft.query.VisState.BucketAgg
    val label = vizLabels.getOrElse(v.id, v.id)
    def flat(df: DataFrame, key: String) =
      df.select(lit(label).as("viz"), col(key).cast("string").as("key"),
        lit("").as("subkey"), col("count"))
    val buckets = v.buckets.filter(b => f.columns.contains(b.field))
    buckets match {
      case Seq() if v.buckets.nonEmpty =>
        // every bucket field is absent from the serving frame: the panel
        // renders as nothing, not as an error (matches the terms degrade)
        f.sparkSession.emptyDataFrame
          .select(lit(label).as("viz"), lit("").as("key"),
            lit("").as("subkey"), lit(0L).as("count"))
      case Seq(b @ BucketAgg("geohash_grid", _, _, _, _)) =>
        flat(Aggs.geohashGridFromGeoloc(f, b.field, b.precision), "geohash")
      case Seq(b @ BucketAgg("terms", _, _, _, _)) =>
        flat(Aggs.termsTopN(f, b.field, b.size), b.field)
      case Seq(p @ BucketAgg("terms", _, _, _, _), c @ BucketAgg("terms", _, _, _, _)) =>
        Aggs.nestedTermsBuckets(f, p.field, c.field,
          parentSize = p.size, childSize = c.size)
          .select(lit(label).as("viz"), col(p.field).cast("string").as("key"),
            col(c.field).cast("string").as("subkey"), col("count"))
      case other =>
        throw new IllegalArgumentException(
          s"unsupported panel shape for '${v.id}': ${other.mkString(", ")}")
    }
  }

  private[graft] def dashboardRefresh(
      s: SparkSession,
      warm: Boolean,
      stateJson: String = dashboardStateJson,
      vizes: Seq[graft.query.VisState.Viz] = null): DataFrame = {
    val f = dashboardFiltered(s, warm, stateJson)
    Option(vizes).getOrElse(dashboardVizes)
      .map(renderViz(f, _))
      .reduce(_.unionByName(_))
      // Total order without a range-partitioning exchange: a global sort
      // would sample the (tiny) result in an extra job per interaction;
      // one partition + a local sort is the same order at dashboard-result
      // cardinality.
      .coalesce(1)
      .sortWithinPartitions("viz", "key", "subkey")
  }

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

  /** [[renderViz]] over the at-rest rollup instead of the corpus: identical
    * buckets (the weighted ops in [[PreAgg]] restate each aggregation's
    * ordering contract over `sum(cnt)`), same degrade rules — a bucket
    * field the rollup does not carry drops out, a fully-missing panel
    * renders as nothing.
    */
  private[graft] def renderVizPreagg(pre: DataFrame, v: graft.query.VisState.Viz): DataFrame = {
    import graft.query.VisState.BucketAgg
    val label = vizLabels.getOrElse(v.id, v.id)
    def flat(df: DataFrame, key: String) =
      df.select(lit(label).as("viz"), col(key).cast("string").as("key"),
        lit("").as("subkey"), col("count"))
    val buckets = v.buckets.filter(b =>
      if (b.aggType == "geohash_grid") pre.columns.contains("geohash")
      else pre.columns.contains(b.field))
    buckets match {
      case Seq() if v.buckets.nonEmpty =>
        pre.sparkSession.emptyDataFrame
          .select(lit(label).as("viz"), lit("").as("key"),
            lit("").as("subkey"), lit(0L).as("count"))
      case Seq(b @ BucketAgg("geohash_grid", _, _, _, _)) =>
        // any precision at or below the ingest precision truncates from
        // the rollup (geohash prefixes ARE the coarser cells); only a
        // FINER saved map forces a rebuild or the corpus scan
        require(PreAgg.coversGeohash(dashboardCubePrecision, b.precision),
          s"saved map precision ${b.precision} > rollup ingest precision " +
            s"$dashboardCubePrecision — rebuild the rollup or fall back to the scan")
        flat(PreAgg.geohashGridAt(pre, dashboardCubePrecision, b.precision), "geohash")
      case Seq(b @ BucketAgg("terms", _, _, _, _)) =>
        flat(PreAgg.termsTopN(pre, b.field, b.size), b.field)
      case Seq(p @ BucketAgg("terms", _, _, _, _), c @ BucketAgg("terms", _, _, _, _)) =>
        PreAgg.nestedTerms(pre, p.field, c.field,
          parentSize = p.size, childSize = c.size)
          .select(lit(label).as("viz"), col(p.field).cast("string").as("key"),
            col(c.field).cast("string").as("subkey"), col("count"))
      case other =>
        throw new IllegalArgumentException(
          s"unsupported panel shape for '${v.id}': ${other.mkString(", ")}")
    }
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
  /** The dashboard rollup, built once per session (the at-rest table a
    * 100 TB deployment maintains at ingest).
    */
  private[graft] def dashboardRollup(s: SparkSession): DataFrame =
    PreAgg.materialize(s, federatedHarmonized(s, warm = false),
      dashboardCubeDims, "graft_dashboard_preagg")

  /** The Web-Mercator twin of the geohash cube dimension: an at-rest
    * `(tx, ty)` rollup at ingest zoom 10 over the federation's parsed
    * coordinates, materialized once — every map request ([[serveHttp]]'s
    * `/geotile`) is then integer shifts over its rows.
    */
  private val geoTileIngestZoom = 10
  private def geoTileRollup(s: SparkSession): DataFrame = {
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

  private[graft] def dashboardRefreshPreagg(
      s: SparkSession,
      stateJson: String = dashboardStateJson,
      rollup: Option[DataFrame] = None): DataFrame = {
    val dims = dashboardCubeDims
    val pre = rollup.getOrElse(dashboardRollup(s))
    val fc = Widgets.fromJson(dashboardWidgetFields(s), stateJson)
    val dimNames = dims.map(_._1)
    require(PreAgg.covers(dimNames, fc.selections.keys.toSeq),
      s"widget state filters outside rollup dims ${dimNames.mkString(",")} — " +
        "serve this state from dashboard_refresh (full scan) instead")
    val f = pre
      .where(col("year").isNotNull && col("year") >= 2010)
      .where(fc.compile)
    dashboardVizes
      .map(renderVizPreagg(f, _))
      .reduce(_.unionByName(_))
      .coalesce(1)
      .sortWithinPartitions("viz", "key", "subkey")
  }

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
