package perfbench

import java.io.File
import java.net.HttpURLConnection
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.etl.CityRecipes
import graft.query.{Aggs, Bm25, Esql, Federation, FilterSpec, QueryString, VisState}
import graft.serve.WidgetServer
import graft.store.Sources

/** serve_mixed: `SparkEntry.serveHttp` driven by an open loop of seeded
  * user interactions from one process over at most `conns` connections.
  * Each request is timed from its scheduled send time. After the loop,
  * `passes` serial (concurrency 1) passes over one round of the mix give
  * `pass_s`.
  */
object Serve {
  val conns: Int = math.min(4, Runtime.getRuntime.availableProcessors)
  /** Spark task slots of the serving process. The served tables are small,
    * so a request's jobs gain little from more; two leave the box's other
    * cores to the HTTP dispatcher, the load generator, the JIT compiler and
    * the collector, which would otherwise queue behind the tasks.
    */
  val cores = 2
  /** Serial passes over the round after the open loop. */
  val passes = 2
  val limitMs = 2500L
  val tailPct = 0.90
  val cityRows = 500
  val citySeed = 7L
  private val mapper = new ObjectMapper()

  final case class Req(cls: String, path: String, body: String) {
    def key: String = path + "\n" + body
    def malformed: Boolean = cls == "malformed"
  }

  final case class Rec(req: Req, schedNs: Long, sentNs: Long, doneNs: Long, code: Int,
      body: String, err: String, serial: Boolean) {
    def latencyMs: Double = (doneNs - schedNs) / 1e6
  }

  /** The seeded request mix, built from user interactions. Each interaction
    * sends what the reference webapp sends for it (SURVEY.md §3.2–3.3): a
    * page load fetches the field dictionary and renders the saved dashboard;
    * a widget change re-renders the dashboard under the new state and
    * re-draws the histogram of the current search; a typeahead fires on
    * focus and on each keystroke. The map, the search tier (BM25 with and
    * without a filter, ES|QL) and a malformed body complete the routes.
    *
    * No recorded traffic gives the interactions' shares, so each round of
    * `roundS` seconds holds one interaction of each kind: the mix is for
    * coverage. The seed draws their order, their start times (uniform over
    * the round, i.e. Poisson arrivals given their number), the gaps between
    * keystrokes, and every value: month selections, typeahead words, query
    * terms, languages, zoom levels and the malformed body.
    */
  object Mix {
    val interactions: IndexedSeq[String] = IndexedSeq("page_load", "widget_change", "typeahead",
      "map", "search", "search_filtered", "esql", "malformed")
    val roundS = 12
    /** Interaction starts stay this far before the round's end, so a
      * typeahead's keystrokes fall inside it.
      */
    private val tailS = 1.0

    private def pick[T](r: Random, xs: T*): T = xs(r.nextInt(xs.size))
    private def widget(name: String, value: String, n: Int) =
      s"""{"name": "$name", "value": $value, "enabled": {"state": true, "lastEnabled": $n}}"""
    private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    private val terms = Gen.vocab.take(12) :+ "dup"
    private val typed = IndexedSeq("ASSAULT", "BURGLARY", "HOMICIDE", "ROBBERY", "THEFT",
      "VANDALISM", "ARSON", "NARCOTICS", "WEAPONS", "FRAUD")

    /** One interaction's requests, each with its offset (s) from the start. */
    def draw(kind: String, r: Random): Seq[(Double, Req)] = kind match {
      // the saved dashboard's own state (an empty body; rollup-covered)
      case "page_load" => Seq(0.0 -> Req("fields", "/fields", ""),
        0.0 -> Req("dashboard_rollup", "/dashboard", ""))
      case "widget_change" =>
        // months are an enum widget, and not a rollup dimension: the
        // pinned-scan fallback
        val m1 = 1 + r.nextInt(7)
        val months = (m1 until m1 + 3 + r.nextInt(4)).map(m => "\"" + m + "\"").mkString(", ")
        val state = s"[${widget("month", s"[$months]", 1)}]"
        Seq(0.0 -> Req("dashboard_scan", "/dashboard", state),
          0.0 -> Req("histogram", "/histogram",
            s"""{"field": "hour", "interval": ${pick(r, 3, 6)}, "state": $state}"""))
      case "typeahead" =>
        // focus (no prefix), then two keystrokes 150–450 ms apart
        val word = pick(r, typed: _*)
        val g1 = 0.15 + 0.3 * r.nextDouble()
        val g2 = 0.15 + 0.3 * r.nextDouble()
        Seq(0.0 -> "", g1 -> word.take(1), g1 + g2 -> word.take(2)).map { case (at, prefix) =>
          at -> Req("suggest", "/suggest",
            s"""{"field": "description", "prefix": "$prefix", "size": 10}""")
        }
      case "map" => Seq(0.0 -> Req("geotile", "/geotile", s"""{"z": ${2 + r.nextInt(5)}, "size": 10}"""))
      case "search" | "search_filtered" =>
        val q = r.shuffle(terms).take(2).mkString(" ")
        val filter = if (kind == "search") "" else s""", "filter": "lang:${pick(r, Gen.langs: _*)}""""
        Seq(0.0 -> Req(kind, "/search", s"""{"q": "$q"$filter, "size": 10}"""))
      case "esql" =>
        val q = s"""FROM documents | WHERE lang == "${pick(r, Gen.langs: _*)}" | STATS n = COUNT(*) BY source | SORT n DESC, source | LIMIT 5"""
        Seq(0.0 -> Req(kind, "/esql", s"""{"query": "${esc(q)}"}"""))
      case "malformed" => Seq(0.0 -> pick(r,
        Req(kind, "/search", """{"size": 2}"""),
        Req(kind, "/esql", """{"query": ""}"""),
        Req(kind, "/suggest", "this is not json"),
        Req(kind, "/dashboard", """[{"name": "year", "value": [2015""")))
    }

    /** The requests of `rounds` rounds with their scheduled offsets (ns from
      * the loop's start), in send order.
      */
    def schedule(seed: Long, rounds: Int): IndexedSeq[(Long, Req)] = {
      val r = new Random(seed)
      (0 until rounds).flatMap { k =>
        val kinds = r.shuffle(interactions)
        val starts = IndexedSeq.fill(kinds.size)(r.nextDouble() * (roundS - tailS)).sorted
        kinds.zip(starts).flatMap { case (kind, t) =>
          draw(kind, r).map { case (dt, req) => ((k * roundS + t + dt) * 1e9).toLong -> req }
        }
      }.sortBy(_._1)
    }

    /** One request of every route class, for the set-up's warm-up. */
    def oneOfEach: Seq[Req] = {
      val r = new Random(0)
      interactions.flatMap(draw(_, r).map(_._2)).groupBy(_.cls).values.map(_.head).toSeq
    }
  }

  /** Engine-direct twins: the result each route should serve, built through
    * the public functions the route calls, without HTTP and without the
    * server's pinned caches (the federation is re-read from the raw CSVs and
    * cached by the twin itself). `None` for a request with no twin.
    */
  final class Direct(spark: SparkSession, dir: String, cityDir: File) {
    private val shared = Seq("geolocation", "year", "month", "day", "hour", "minute",
      "datetime", "dayofweek", "city")
    private val cities = Seq(
      ("baltimore", CityRecipes.baltimore, "Baltimore", Seq("crimecode", "description", "description_orig")),
      ("detroit", CityRecipes.detroit, "Detroit", Seq("crimeid", "description", "location")),
      ("losangeles", CityRecipes.losAngeles, "LosAngeles",
        Seq("crime_identifier", "description", "gang_related")))

    /** One city's published shape: the recipe output, datetime as its string form. */
    private def published(i: Int): DataFrame = {
      val (_, recipe, csv, head) = cities(i)
      val df = recipe.harmonize(Sources.csvAllStrings(spark, new File(cityDir, s"$csv.csv").getPath)).df
      df.select((head ++ shared).map {
        case "datetime" => date_format(col("datetime"), "yyyy-MM-dd HH:mm:ss").as("datetime")
        case c => col(c)
      }: _*)
    }
    private lazy val fed = Federation(cities.indices.map(i =>
      s"${cities(i)._1}_harmonized" -> published(i).withColumn("dataset", lit(cities(i)._1))): _*)
      .view("*harmonized*").cache()
    private def table(t: String) = spark.read.parquet(s"$dir/$t.parquet")

    /** The month widget's selection: `month` is an enum field, so the
      * selected months are an IN list.
      */
    private def monthFilter(state: JsonNode) = {
      val v = state.get(0).path("value")
      FilterSpec.EnumIn("month", (0 until v.size).map(v.get(_).asText())).compile
    }

    /** The saved dashboard's five panels over `f`, rendered onto the
      * `(viz, key, subkey, count)` bucket rows the route serves: the
      * panels come from the bundled Kibana export, each bucket shape is
      * the public aggregation it names.
      */
    private def dashboard(f: DataFrame): DataFrame = {
      val labels = Map("Description" -> "description_pie", "City" -> "city_pie",
        "Day-slash-Hour" -> "day_hour_heat", "DatasetTable" -> "dataset_table",
        "IncidentMap" -> "map_grid")
      def flat(df: DataFrame, label: String, key: String) =
        df.select(lit(label).as("viz"), col(key).cast("string").as("key"),
          lit("").as("subkey"), col("count"))
      VisState.bundledDashboard().flatMap { v =>
        val label = labels.getOrElse(v.id, v.id)
        v.buckets.filter(b => f.columns.contains(b.field)) match {
          case Seq() => None
          case Seq(b) if b.aggType == "geohash_grid" =>
            Some(flat(Aggs.geohashGridFromGeoloc(f, b.field, b.precision), label, "geohash"))
          case Seq(b) => Some(flat(Aggs.termsTopN(f, b.field, b.size), label, b.field))
          case Seq(p, c) =>
            Some(Aggs.nestedTermsBuckets(f, p.field, c.field, parentSize = p.size, childSize = c.size)
              .select(lit(label).as("viz"), col(p.field).cast("string").as("key"),
                col(c.field).cast("string").as("subkey"), col("count")))
          case other => sys.error(s"unexpected panel shape for ${v.id}: $other")
        }
      }.reduce(_.unionByName(_)).orderBy("viz", "key", "subkey")
    }

    def apply(req: Req): Option[DataFrame] = {
      lazy val o = mapper.readTree(req.body)
      req.cls match {
        case "dashboard_rollup" => Some(SparkEntry.queries("dashboard_refresh_warm")(spark, dir))
        case "dashboard_scan" =>
          // the dashboard's global time filter, then the widget state
          Some(dashboard(fed.where(col("datetime").isNotNull && col("datetime") >= "2010-01-01 00:00:00")
            .where(monthFilter(o))))
        case "histogram" =>
          Some(Aggs.numericHistogram(fed.where(monthFilter(o.path("state"))),
            o.path("field").asText(), o.path("interval").asDouble()))
        case "fields" => Some(SparkEntry.queries("q8_dict_fetch_warm")(spark, dir))
        case "suggest" => Some(Aggs.typeahead(fed, o.path("field").asText(),
          o.path("prefix").asText(), o.path("size").asInt()))
        case "geotile" =>
          val parts = split(col("geolocation"), ",")
          Some(Aggs.geoTileGrid(fed.where(length(col("geolocation")) > 0)
            .withColumn("_lat", parts.getItem(0).cast("double"))
            .withColumn("_lon", parts.getItem(1).cast("double")),
            "_lat", "_lon", o.path("z").asInt(), o.path("size").asInt()))
        case "search" | "search_filtered" =>
          val docs = table("documents")
          val scoped =
            if (o.hasNonNull("filter"))
              docs.where(QueryString.parse(o.path("filter").asText(), defaultField = "text").compile)
            else docs
          Some(Bm25.topKRaw(scoped, "doc_id", "text", o.path("q").asText(), o.path("size").asInt()))
        case "esql" =>
          Some(Esql.run(o.path("query").asText(), table,
            Map("nations" -> Esql.EnrichPolicy(table("nation"), "n_nationkey", Seq("n_name"))))
            .limit(1000))
        case _ => None
      }
    }
  }

  /** The engine-direct answer to each distinct request, computed `conns`
    * at a time; `None` where the twin fails.
    */
  private def expectedAnswers(direct: Direct, reqs: Seq[Req]): Map[String, Option[String]] = {
    val pool = Executors.newFixedThreadPool(conns)
    try {
      reqs.distinctBy(_.key).map { r =>
        r.key -> pool.submit(new Callable[Option[String]] {
          def call(): Option[String] =
            try direct(r).map(WidgetServer.collectRowsJson)
            catch { case NonFatal(e) => System.err.println(s"[perfbench] no expected answer for $r: $e"); None }
        })
      }.map { case (k, f) => k -> f.get() }.toMap
    } finally pool.shutdown()
  }

  /** POSTs one request; `timeoutMs` bounds the wait for the response. */
  def post(port: Int, req: Req, timeoutMs: Int = 30000): (Int, String) = {
    val c = java.net.URI.create(s"http://127.0.0.1:$port${req.path}").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setConnectTimeout(5000)
    c.setReadTimeout(timeoutMs)
    val bytes = req.body.getBytes(UTF_8)
    c.setFixedLengthStreamingMode(bytes.length)
    val out = c.getOutputStream
    out.write(bytes)
    out.close()
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val body = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
    (code, body)
  }

  private def send(port: Int, req: Req, sched: Long, serial: Boolean, t: Tracer, id: String,
      under: Option[Span] = None): Rec = {
    val sent = System.nanoTime()
    try {
      val (code, body) = t.span("serve.request", id, under)(post(port, req))
      Rec(req, sched, sent, System.nanoTime(), code, body, null, serial)
    } catch {
      case NonFatal(e) => Rec(req, sched, sent, System.nanoTime(), -1, "", e.toString, serial)
    }
  }

  /** Sends each request at its scheduled offset from `conns` workers; a
    * request waiting for a free connection is late, and its latency still
    * counts from its scheduled time. A request never sent is a failure.
    */
  def openLoop(port: Int, sched: IndexedSeq[(Long, Req)], t: Tracer): Seq[Rec] = t.span("serve.loop") {
    val loopSpan = t.open
    val next = new AtomicInteger(0)
    val recs = new Array[Rec](sched.size)
    val t0 = System.nanoTime() + 20000000L
    val pool = Executors.newFixedThreadPool(conns)
    (1 to conns).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          var i = next.getAndIncrement()
          while (i < sched.size) {
            val at = t0 + sched(i)._1
            var now = System.nanoTime()
            while (now < at) { LockSupport.parkNanos(at - now); now = System.nanoTime() }
            recs(i) = send(port, sched(i)._2, at, serial = false, t, s"req$i", loopSpan)
            i = next.getAndIncrement()
          }
        }
      })
    }
    pool.shutdown()
    if (!pool.awaitTermination(120, TimeUnit.SECONDS)) pool.shutdownNow()
    recs.indices.map { i =>
      if (recs(i) != null) recs(i)
      else Rec(sched(i)._2, t0 + sched(i)._1, -1L, -1L, -1, "", "not sent within the loop's limit", serial = false)
    }
  }

  /** Serial (concurrency 1) passes over `reqs`, one after another. */
  def serialPasses(port: Int, reqs: Seq[Req], passes: Int, t: Tracer): IndexedSeq[Seq[Rec]] =
    (1 to passes).map { p =>
      val recs = t.span("serve.serial", s"pass$p") {
        reqs.zipWithIndex.map { case (r, i) =>
          send(port, r, System.nanoTime(), serial = true, t, s"serial$p.$i")
        }
      }
      System.err.println(f"[perfbench] serial pass $p: " +
        recs.map(r => f"${r.req.cls} ${r.code} ${(r.doneNs - r.sentNs) / 1e6}%.0f").mkString(", "))
      recs
    }

  /** Compares JSON documents by value (numbers by numeric value). */
  def sameJson(a: String, b: String): Boolean = {
    def norm(n: JsonNode): Any =
      if (n.isNumber) n.decimalValue().stripTrailingZeros()
      else if (n.isArray) (0 until n.size()).map(i => norm(n.get(i)))
      else if (n.isObject) {
        val it = n.fieldNames()
        val m = mutable.Map.empty[String, Any]
        while (it.hasNext) { val k = it.next(); m(k) = norm(n.get(k)) }
        m.toMap
      } else n.asText()
    try norm(mapper.readTree(a)) == norm(mapper.readTree(b))
    catch { case NonFatal(_) => false }
  }

  private def rowsIn(body: String): Int =
    try { val n = mapper.readTree(body); if (n.isArray) n.size() else 0 }
    catch { case NonFatal(_) => 0 }

  def run(cfg: Config, data: File): Outcome = {
    val corpus = new File(data, "corpus")
    val cityDir = new File(data, "cities-serve")
    require(sys.env.get("GRAFT_CITY_DATA").map(new File(_)).contains(cityDir),
      s"GRAFT_CITY_DATA must point at $cityDir")
    require(new File(data, Gen.servingDone).exists(), s"no serving inputs under $data")
    val dir = corpus.getPath

    // set-up: session, server, and the first request of every route class
    // (cold dictionary, federation cache and rollup builds). It costs tens
    // of seconds, so it runs once per process.
    val (setupS, (spark, server)) = Harness.setupReps(1) { () =>
      val s = Harness.session(cfg.work, cores)
      Harness.note("session started")
      val srv = SparkEntry.serveHttp(s, dir)
      Mix.oneOfEach.foreach { r =>
        val t0 = System.nanoTime()
        // the first dashboard request builds the dictionary cold: ~15 s
        val (code, _) = post(srv.getAddress.getPort, r, timeoutMs = 150000)
        System.err.println(f"[perfbench] warm ${r.cls}%-18s $code ${(System.nanoTime() - t0) / 1e6}%.0f ms")
      }
      (s, srv)
    } { case (s, srv) => srv.stop(0); s.stop() }
    val port = server.getAddress.getPort
    val tracer = new Tracer(cfg.trace)
    val counters = new SparkCounters
    val rounds = math.max(1, (cfg.seconds.toDouble / Mix.roundS).round.toInt)
    val sched = Mix.schedule(cfg.seed, rounds)
    val n = sched.size
    val round = sched.map(_._2).take(n / rounds)

    if (cfg.trace) {
      spark.sparkContext.addSparkListener(counters)
      tracer.sc = Some(spark.sparkContext)
    }
    val gc0 = Harness.gcSeconds()
    val (cg0, cgMs0) = Harness.codegen()
    val phaseStart = System.nanoTime()
    val loop = openLoop(port, sched, tracer)
    val loopEnd = System.nanoTime()
    val loopGcS = Harness.gcSeconds() - gc0
    val (cg1, cgMs1) = Harness.codegen()
    if (cfg.trace) SparkCounters.drain(spark.sparkContext)
    val loopCounts = counters.sum()
    Harness.note("open loop done")
    val serials = serialPasses(port, round, passes, tracer)
    val wallMs = (System.nanoTime() - phaseStart) / 1e6
    val heap = Harness.heapLiveMb()
    Harness.note("heap measured")

    // checks, outside the timed window: every response against its
    // engine-direct twin; a malformed body must get a 400
    val checkStart = System.nanoTime()
    val log = new OpLog
    val direct = new Direct(spark, dir, cityDir)
    val expected = expectedAnswers(direct, loop.map(_.req).filterNot(_.malformed))
    val good = (loop ++ serials.flatten).filter { rec =>
      log.attempt()
      val why =
        if (rec.err != null) Some(rec.err)
        else if (rec.req.malformed) (if (rec.code == 400) None else Some(s"status ${rec.code}, want 400"))
        else if (rec.code != 200) Some(s"status ${rec.code}: ${rec.body.take(200)}")
        else expected(rec.req.key) match {
          case Some(want) if sameJson(want, rec.body) => None
          case Some(want) => Some(s"body ${rec.body.take(200)} != ${want.take(200)}")
          case None => Some("no expected answer")
        }
      why.foreach(w => log.fail(s"${rec.req.cls} ${rec.req.body.take(80)}", w))
      why.isEmpty
    }
    System.err.println(f"[perfbench] checks: ${expected.size} expected answers in ${(System.nanoTime() - checkStart) / 1e9}%.1f s")
    val goodLoop = good.filterNot(_.serial)
    val sent = loop.filter(_.sentNs >= 0)
    val lat = goodLoop.map(_.latencyMs)
    val loopS = (loopEnd - phaseStart) / 1e9
    // one round at concurrency 1: every request of the round was sent
    // `passes + 1` times, in the open loop and in each serial pass after it,
    // and its time is the fastest of those sends (send to response). A stall
    // of the shared machine, a request queued behind another in the open
    // loop or a method the JIT has not compiled yet only ever adds time, so
    // the fastest send is the steadiest estimate of what the request costs.
    // Goodput and rows are taken over this pass too: over the open loop,
    // whose request count and window the seed fixes, they would count only
    // failures, never a slower answer.
    val okSet = good.toSet
    def ms(r: Rec) = (r.doneNs - r.sentNs) / 1e6
    val perReq = round.indices.map { i =>
      val sends = loop(i) +: serials.map(_(i))
      (sends.filter(_.sentNs >= 0).map(ms).min, sends.forall(okSet), serials.head(i))
    }
    val passS = perReq.map(_._1).sum / 1000
    val e2e = Map(
      "setup_s" -> setupS,
      "heap_live_mb" -> heap,
      "goodput_rps" -> perReq.count { case (t, ok, _) => ok && t <= limitMs } / passS,
      "rows_per_s" -> perReq.collect { case (_, true, r) => rowsIn(r.body) }.sum / passS,
      "pass_s" -> passS)

    val layers =
      if (!cfg.trace) Map.empty[String, Double]
      else {
        val dt = new Tracer(true)
        dt.sc = Some(spark.sparkContext)
        val twins = engineDirect(direct, round, dt)
        SparkCounters.drain(spark.sparkContext)
        // wire overhead only where the twin reads what the route reads (the
        // saved dashboard and the map serve from rollups, their twins scan)
        val sameWork = Set("search", "search_filtered", "esql", "fields", "suggest", "histogram",
          "dashboard_scan")
        val wire = round.indices.filter(i => sameWork(round(i).cls)).flatMap(i =>
          twins.get(i).map(d => Stats.median(serials.map(p => ms(p(i)))) - d.totalMs))
        // the registry-backed twins: /fields, and /dashboard's saved state
        val registryTwins = round.indices.filter(i => viaRegistry(round(i))).flatMap(twins.get)
        val registryBuildJobs = counters.sum(Some(dt.spans.filter(s =>
          s.name == "direct.build" && s.traceId == "registry").map(_.id).toSet)).jobs
        val byRoute = goodLoop.groupBy(_.req.cls)
        val ts = twins.values.toSeq
        Map(
          "serve.latency_p50_ms" -> Stats.median(lat),
          "serve.latency_tail_ms" -> Stats.quantile(lat, tailPct),
          "serve.wire_overhead_ms" -> Stats.mean(wire),
          "serve.inflight_mean" -> sent.map(r => (r.doneNs - r.sentNs) / 1e9).sum / loopS,
          "serve.generator_lag_ms" -> Stats.mean(sent.map(r => (r.sentNs - r.schedNs) / 1e6)),
          "serve.jobs_per_request" -> loopCounts.jobs.toDouble / n,
          "serve.tasks_per_request" -> loopCounts.tasks.toDouble / n,
          "serve.schema_infer_jobs_per_request" -> loopCounts.schemaInferJobs.toDouble / n,
          "query.build_ms" -> Stats.mean(ts.map(_.buildMs)),
          "query.analysis_ms" -> Stats.mean(ts.map(_.analysisMs)),
          "query.optimization_ms" -> Stats.mean(ts.map(_.optimizationMs)),
          "query.planning_ms" -> Stats.mean(ts.map(_.planningMs)),
          "query.exec_ms" -> Stats.mean(ts.map(_.execMs)),
          "registry.build_s" -> Stats.mean(registryTwins.map(_.buildMs / 1000)),
          "registry.action_s" -> Stats.mean(registryTwins.map(_.execMs / 1000)),
          "registry.build_jobs" ->
            registryBuildJobs.toDouble / math.max(1, registryTwins.size * directReps),
          "registry.schema_infer_jobs" -> loopCounts.schemaInferJobs.toDouble / rounds) ++
          Layers.serveRoutes.map(c => s"serve.route.${c}_p50_ms" ->
            byRoute.get(c).map(rs => Stats.median(rs.map(_.latencyMs))).getOrElse(0.0)) ++
          Layers.spark(loopCounts, rounds, loopS * 1000, loopGcS, cg1 - cg0, cgMs1 - cgMs0, cores) ++
          Layers.trace(tracer.spans, passS * 1000, phaseStart, wallMs)
      }
    if (cfg.trace) java.nio.file.Files.write(cfg.spanFile.toPath,
      tracer.toJsonLines.mkString("\n").getBytes(UTF_8))
    server.stop(0)
    spark.stop()
    Harness.note("stopped")
    Outcome(log.attempted, log.failed, e2e, layers, log.errorList)
  }

  final case class DirectTiming(buildMs: Double, analysisMs: Double, optimizationMs: Double,
      planningMs: Double, execMs: Double) {
    def totalMs: Double = buildMs + execMs
  }

  private val directReps = 2
  private def viaRegistry(r: Req) = r.cls == "fields" || r.cls == "dashboard_rollup"

  /** Engine-direct timings of each request of a round that has a twin:
    * the median of `directReps` of build, Catalyst phases and execution.
    */
  private def engineDirect(d: Direct, round: Seq[Req], t: Tracer): Map[Int, DirectTiming] =
    round.zipWithIndex.flatMap { case (req, i) =>
      val reps = (1 to directReps).flatMap { _ =>
        val t0 = System.nanoTime()
        val tag = if (viaRegistry(req)) "registry" else req.cls
        t.span("direct.build", tag)(d(req)).map { df =>
          df.queryExecution.executedPlan
          val t1 = System.nanoTime()
          t.span("direct.exec", tag)(WidgetServer.collectRowsJson(df))
          val t2 = System.nanoTime()
          val ph = df.queryExecution.tracker.phases
          def phase(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
          DirectTiming((t1 - t0) / 1e6, phase("analysis"), phase("optimization"),
            phase("planning"), (t2 - t1) / 1e6)
        }
      }
      if (reps.isEmpty) None
      else Some(i -> DirectTiming(Stats.median(reps.map(_.buildMs)),
        Stats.median(reps.map(_.analysisMs)), Stats.median(reps.map(_.optimizationMs)),
        Stats.median(reps.map(_.planningMs)), Stats.median(reps.map(_.execMs))))
    }.toMap
}
