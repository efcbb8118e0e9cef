package graft.serve

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import graft.SparkEntry._
import graft.expr.TextMatch
import graft.ops.Similarity
import graft.query._
import graft.serve.Requests.{choice, page, rejectWith, text}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The HTTP route table (§3 lifecycle parity): the reference's browser →
  * nginx → aws-es-kibana → ES `_search` round trip collapsed to one
  * localhost hop in front of the compile chain the oracles pin. Each route
  * maps the body [[WidgetServer]] decoded (the missing node when empty) to
  * the frame it renders: `/query`, `/dashboard`, `/fields`, `/suggest`,
  * `/histogram`, `/geotile`, `/significant` and `/geo` serve the webapp's
  * widgets, map and dictionary; the rest serve the search tier over the
  * corpus tables of `dir`, each loaded through [[graft.SparkEntry.load]]
  * per request like every registry query.
  */
object Routes {

  /** The served analyzer registry — "standard" is the engine's ASCII
    * tokenizer (the stated subset of ES's standard analyzer).
    */
  private def analyzerByName(name: String): TextMatch.Analyzer = name match {
    case "standard" => TextMatch.AsciiAnalyzer
    case "unicode" => TextMatch.UnicodeAnalyzer
    case "english" => TextMatch.EnglishAnalyzer
    case other => throw new IllegalArgumentException(
      s"unknown analyzer '$other' (standard, unicode, english)")
  }

  /** A request's `state` member; absent means no widget is set. */
  private def postedState(o: JsonNode): JsonNode = {
    val state = o.path("state")
    if (state.isMissingNode || state.isNull) JsonNodeFactory.instance.arrayNode() else state
  }

  /** `path -> route` over the corpus tables of `dir`, for [[WidgetServer.start]]. */
  def table(s: SparkSession, dir: String): Seq[(String, JsonNode => DataFrame)] = {
    implicit val spark: SparkSession = s
    Seq(
      "/query" -> { o =>
        val li = load(dir, "lineitem")
        lineStatusRevenue(li, Widgets.fromJson(lineitemWarmFields(s, li, dir), o))
      },
      "/dashboard" -> { o =>
        // Serve from the at-rest rollup whenever the posted state only
        // filters rollup dimensions (identical buckets — the shared oracle
        // proves it); a state outside the cube falls back to the pinned
        // scan. This is the routing a 100 TB deployment runs: doc_values
        // first, documents only when the query demands them.
        dashboardServed(s,
          if (o.isMissingNode) dashboardState(s, dashboardStateJson) else dashboardState(s, o))
      },
      "/fields" -> { _ => queries("q8_dict_fetch_warm")(s, dir) },
      "/suggest" -> { o =>
        // The webapp's typeahead against `*harmonized*` (views.js:378-412):
        // {"field": "description", "prefix": "th", "size": 10} → top
        // completions from the pinned federated cache.
        Aggs.typeahead(federatedHarmonized(s, warm = true),
          o.path("field").asText("description"), o.path("prefix").asText(""),
          page(o, "size", 10, "suggest"))
      },
      "/histogram" -> { o =>
        // ES numeric histogram of the CURRENT search: {"field": "hour",
        // "interval": 6, "state": <widget-state JSON array>} → interval
        // buckets of the state-matching slice. Rollup-served when the
        // field AND every state field stay inside the cube (quantization
        // commutes with the rollup — the same doc_values routing as
        // /dashboard); anything else scans the pinned federation.
        val field = o.path("field").asText("hour")
        val interval = o.path("interval").asDouble(1.0)
        val fc = dashboardState(s, postedState(o))
        if (rollupCovers(fc, field))
          PreAgg.numericHistogram(graft.expr.Param.filter(dashboardRollup(s), fc.compile), field, interval)
        else Aggs.numericHistogram(
          graft.expr.Param.filter(federatedHarmonized(s, warm = true), fc.compile), field, interval)
      },
      "/geotile" -> { o =>
        // Kibana-map tiles over the harmonized federation: {"z": 4} for
        // the top grid, {"z": 6, "cell": "4/x/y"} to drill into a clicked
        // tile, {"size": N} to widen. Every request is integer shifts
        // over the at-rest zoom-10 rollup (PreAgg.geoTileGridAt /
        // geoTileGridDrilldown) — no geometry, no corpus, any zoom ≤ 10.
        val z = o.path("z").asInt(4)
        val size = page(o, "size", 10, "geotile")
        val cell = o.path("cell").asText("")
        if (cell.isEmpty)
          PreAgg.geoTileGridAt(geoTileRollup(s), geoTileIngestZoom, z, size)
        else {
          val zxy = cell.split("/")
          require(zxy.length == 3, s"geotile: cell must be z/x/y, got '$cell'")
          PreAgg.geoTileGridDrilldown(geoTileRollup(s), geoTileIngestZoom,
            zxy(0).toInt, zxy(1).toLong, zxy(2).toLong, z, size)
        }
      },
      "/significant" -> { o =>
        // ES significant_terms of the CURRENT search: {"field": "...",
        // "size": N, "state": <widget-state JSON array>} → which values of
        // `field` characterize the state-matching slice against the whole
        // federation. Foreground = the decoded state's predicate evaluated
        // in-plan (one pass — never a second scan for the background), and
        // the whole route serves from the at-rest rollup whenever the
        // state and field stay inside the cube (the 100 TB doc_values
        // routing, same as /dashboard).
        val field = o.path("field").asText("description")
        val size = page(o, "size", 10, "significant")
        val fc = dashboardState(s, postedState(o))
        if (rollupCovers(fc, field))
          PreAgg.significantTerms(dashboardRollup(s), field, fc.compile, size)
        else
          Aggs.significantTerms(federatedHarmonized(s, warm = true),
            array(col(field)), fc.compile, size)
      },
      "/explain" -> { o =>
        // ES _explain over the wire: {"q": "<query>", "size": N} — the
        // ranked top-N with each doc's per-term score decomposition
        // (tf/df/idf/dl/contribution/total), the relevance-debugging
        // payload.
        val qText = text(o, "q", "explain")
        Bm25.explainTopK(load(dir, "documents"), "doc_id",
          TextMatch.AsciiAnalyzer.padded(col("text")), qText, k = page(o, "size", 5, "explain"))
      },
      "/termvectors" -> { o =>
        // ES _termvectors over the wire: {"ids": [1, 2, ...]} — per-(doc,
        // term) frequency + sorted positions for the requested documents
        // (the API is per-document; the id list bounds the scan).
        val ids = o.path("ids")
        require(ids.isArray && ids.size() > 0, "termvectors: missing ids")
        val idSeq = (0 until ids.size()).map(ids.get(_).asLong())
        TermVectors.termVectors(
            load(dir, "documents").where(col("doc_id").isin(idSeq: _*)), "doc_id", "text")
          .orderBy("doc_id", "term")
      },
      "/esql" -> { o =>
        // ES's POST /_query: {"query": "FROM … | …"}. FROM resolves behind
        // an ALLOWLIST (an unknown index is a 400, not a path-leak 500),
        // the `nations` ENRICH policy is exposed, the page budget caps
        // unbounded programs (limits compose), and rows ride the route
        // tier's row-JSON envelope, not ES's columns/values split.
        val q = text(o, "query", "esql")
        val known = Set("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")
        def resolveTable(t: String): DataFrame = {
          require(known.contains(t),
            s"esql: unknown index '$t' (have: ${known.toSeq.sorted.mkString(", ")})")
          if (t == "events") loadEvents(dir) else load(dir, t)
        }
        // `default_field` is the QSTR/KQL seam ES reads from the mapping
        val defaultField =
          if (o.hasNonNull("default_field")) Some(o.path("default_field").asText()) else None
        // named `?name` parameters: ES's array of one-field objects
        // ([{"lang": "en"}, …]) or a plain object; positional ones reject
        def paramValue(name: String, v: JsonNode): (String, Any) =
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
        Esql.run(q, resolveTable,
          Map("nations" -> Esql.EnrichPolicy(load(dir, "nation"), "n_nationkey", Seq("n_name"))),
          defaultField = defaultField, params = params)
          .limit(Requests.PageBudget)
      },

      "/search" -> { o =>
        // BM25 over the documents corpus: {"q": "dup vector", "size": N,
        // "filter": "lang:en"?, "collapse": "lang"?, "after": [score, id]?
        // (search_after), "rescore": {...}?, "highlight": true?}.
        val qText = text(o, "q", "search")
        val size = page(o, "size", 10, "search")
        val docs0 = load(dir, "documents")
        // Kibana's language toggle: "kuery" compiles the filter as KQL,
        // "lucene" (the reference's pre-KQL default) as query_string
        val filterLang = choice(o, "filter_language", "search", "lucene", "kuery")
        val docs =
          if (o.hasNonNull("filter")) {
            val f = o.path("filter").asText()
            val spec =
              if (filterLang == "kuery") Kql.parse(f, Some("text"))
              else QueryString.parse(f, defaultField = "text")
            docs0.where(spec.compile)
          } else docs0
        if (o.hasNonNull("fields")) {
          // ES's multi-field form: {"fields": ["text^5", "source"],
          // "mode": "most_fields"|"best_fields"|"cross_fields"?} — per-field
          // BM25 × boost over the filtered frame; the single-field members
          // reject loudly rather than being silently ignored.
          val fj = o.path("fields")
          require(fj.isArray && fj.size() > 0,
            "search: fields must be a non-empty array of \"name\" or \"name^boost\"")
          rejectWith(o, Seq("collapse", "after", "rescore", "highlight", "analyzer"),
            "fields", "search", "use the single-field path")
          val fieldBoosts = (0 until fj.size()).map { i =>
            val spec = fj.get(i).asText()
            val at = spec.lastIndexOf('^')
            if (at < 0) (spec, 1.0)
            else (spec.substring(0, at), spec.substring(at + 1).toDouble)
          }
          val mode = o.path("mode").asText("most_fields")
          if (mode == "cross_fields")
            // the term-centric mode: blended DF, per-term dis_max with
            // the optional tie_breaker (ES's multi_match knob)
            Bm25.crossFieldsTopK(docs, "doc_id", fieldBoosts,
              qText, size, tieBreaker = o.path("tie_breaker").asDouble(0.0))
          else {
            require(!o.hasNonNull("tie_breaker"),
              "search: tie_breaker rides mode=cross_fields here (best_fields' " +
                "dis_max tie lives on the single-field path)")
            Bm25.multiMatchWeightedTopK(docs, "doc_id", fieldBoosts, qText, size, mode = mode)
          }
        } else {
          // ES's per-request `analyzer`: BOTH sides re-analyze. Other
          // analyzers ride the plain ranked path only; the members with
          // standard-analyzer contracts reject composition loudly.
          val anName = o.path("analyzer").asText("standard")
          val an = analyzerByName(anName)
          if (anName != "standard") {
            rejectWith(o, Seq("collapse", "after", "rescore", "highlight"),
              "analyzer", "search", "use the standard path")
            require(!QueryString.hasBoost(qText),
              "search: term boosts do not compose with analyzer")
          }
          val scored = Retriever.lexical(docs, qText, an)
          val hits =
            if (o.hasNonNull("collapse"))
              Paging.collapseTopHits(
                scored.join(docs.select("doc_id", o.path("collapse").asText()), "doc_id"),
                "doc_id", "score", o.path("collapse").asText(), size)
            else if (o.hasNonNull("after")) {
              val a = o.path("after")
              require(a.isArray && a.size() == 2 && a.get(0).isNumber &&
                  a.get(1).isIntegralNumber,
                s"search: after must be a [score, id] pair, got $a")
              Paging.searchAfter(scored, "doc_id", "score",
                a.get(0).asDouble(), a.get(1).asLong(), size)
            } else if (o.hasNonNull("rescore"))
              // ROUTE CONTRACT: rescore serves at most runLimit (default
              // 1000) ranks — ranks beyond it truncate BY DESIGN (the
              // distributed top-k page budget; rescore's scaladoc).
              Retriever.rescored(scored, docs0, o, "search").orderBy("rank").limit(size)
            else Hits.top(scored, "doc_id", size)
          if (o.path("highlight").asBoolean(false))
            Hits.ordered(hits.join(docs0.select(col("doc_id"),
              TextMatch.highlight(col("text"), qText).as("highlighted")), "doc_id"), "doc_id")
          else hits
        }
      },
      "/analyze" -> { o =>
        // ES's POST /_analyze: {"analyzer": "standard"|"unicode"|
        // "english", "text": "..."} → the token stream with positions —
        // the debugging endpoint every analyzer change gets tested
        // through. "standard" is the engine's ASCII tokenizer (the
        // stated subset of ES's standard), "english" adds the stopword
        // filter + the Snowball stemmer.
        val txt = text(o, "text", "analyze")
        val an = analyzerByName(o.path("analyzer").asText("standard"))
        import s.implicits._
        an.analyze(txt).zipWithIndex.map { case (t, i) => (i, t) }.toDF("position", "token")
      },
      "/mlt" -> { o =>
        // ES more_like_this, like-TEXT form: {"like": "free text", "size":
        // N, "scored": bool, and the MltParams knobs}. scored (default)
        // is the BM25 top-k; unscored the match set with matched counts.
        val like = text(o, "like", "mlt")
        val size = page(o, "size", 10, "mlt")
        val p = MoreLikeThis.MltParams(
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
        val analyzed = TextMatch.AsciiAnalyzer.padded(col("text"))
        if (o.path("scored").asBoolean(true))
          MoreLikeThis.likeTextTopK(docs, "doc_id", analyzed, like, k = size, p)
        else
          MoreLikeThis.likeTextMatchSet(docs, "doc_id", analyzed, like, p)
            .orderBy("doc_id").limit(size)
      },
      "/complete" -> { o =>
        // ES completion suggester: {"prefix": "sp", "size": N,
        // "fuzziness": 0..2, "prefix_length": N} over the documents
        // vocabulary (the at-rest suggest artifact).
        val prefix = text(o, "prefix", "complete")
        val size = page(o, "size", 5, "complete")
        Fuzzy.suggestCompletion(
          Fuzzy.vocabularyWithFreq(load(dir, "documents"), col("text")),
          prefix, size = size,
          fuzziness = o.path("fuzziness").asInt(0),
          prefixLength = o.path("prefix_length").asInt(1))
      },
      "/knn" -> { o =>
        // ES 8 knn search by example: {"vec_id": 3, "k": 5, "filter":
        // "label:[0 TO 5]"?, "nprobe": N? (the IVF path; omitted = exact
        // brute force), "similarity": t?}. The filter prunes candidates
        // before ranking (ES's pre-filter semantics). With "k" (or
        // neither), "similarity" is ES's threshold: hits below cosine t
        // drop AFTER the k cut. "similarity" WITHOUT "k" is this route's
        // radius search (a documented wire extension): every hit with
        // cos ≥ t, a page of "size" (default the whole budget) — a
        // permissive threshold must not stream the corpus down one body.
        require(o.hasNonNull("vec_id"), "knn: missing vec_id")
        val emb0 = load(dir, "embeddings")
        val emb =
          if (o.hasNonNull("filter"))
            emb0.where(QueryString.parse(o.path("filter").asText(), defaultField = "label").compile)
          else emb0
        val probe = emb0.where(col("vec_id") === o.path("vec_id").asLong())
        // the IVF path: full-corpus centroids, the filtered rows as index
        def ivf(search: (DataFrame, Seq[Array[Double]], Int) => DataFrame): DataFrame = {
          val cents = Similarity.kmeansCentroids(emb0, "vec_id", "embedding", k = 8, iters = 0)
          search(Similarity.assignCells(emb, "vec_id", "embedding", cents), cents,
            o.path("nprobe").asInt(3))
        }
        if (o.hasNonNull("similarity") && !o.hasNonNull("k")) {
          val t = o.path("similarity").asDouble()
          val radius =
            if (o.hasNonNull("nprobe")) ivf((index, cents, np) =>
              Similarity.ivfRadius(index, cents, probe, "vec_id", "embedding", t, nprobe = np))
            else Similarity.bruteForceRadius(emb, "vec_id", "embedding", probe, "vec_id", "embedding", t)
          Hits.top(radius, "neighbor_id", page(o, "size", Requests.PageBudget, "knn"),
            scoreCol = "cos")
        } else {
          val k = page(o, "k", 5, "knn")
          val ranked =
            if (o.hasNonNull("nprobe")) ivf((index, cents, np) =>
              Similarity.ivfTopKFromIndex(index, cents, probe, "vec_id", "embedding", k, nprobe = np))
            else Similarity.bruteForceTopK(emb, "vec_id", "embedding", probe, "vec_id", "embedding", k)
          if (o.hasNonNull("similarity")) ranked.where(col("cos") >= o.path("similarity").asDouble())
          else ranked
        }
      },
      "/sparse" -> { o =>
        // ES `sparse_vector` search (the ELSER/SPLADE endpoint) over the
        // corpus tf postings, search_sparse_vector's path: {"terms":
        // {"vector": 2.0, …} or [["vector", 2.0], …], "k": N, "prune":
        // true? with the ES pruning_config "freq_ratio" (5.0) and
        // "weight_ratio" (0.4)}.
        val t = o.path("terms")
        val weights =
          if (t.isObject && t.size() > 0) t.fields().asScala.toSeq.map { e =>
            require(e.getValue.isNumber, s"sparse: weight of term <${e.getKey}> must be a number")
            e.getKey -> e.getValue.asDouble()
          } else if (t.isArray && t.size() > 0) t.elements().asScala.toSeq.map { pair =>
            require(pair.isArray && pair.size() == 2 && pair.get(0).isTextual &&
              pair.get(1).isNumber, "sparse: terms array entries must be [term, weight]")
            pair.get(0).asText() -> pair.get(1).asDouble()
          } else throw new IllegalArgumentException("sparse: missing terms")
        val postings = SparseVector.tfPostings(load(dir, "documents"), "doc_id", "text")
        val served =
          if (o.path("prune").asBoolean(false))
            SparseVector.prune(postings, weights,
              freqRatioThreshold = o.path("freq_ratio").asDouble(5.0),
              weightThreshold = o.path("weight_ratio").asDouble(0.4))
          else weights
        SparseVector.topK(postings, "doc_id", served, k = page(o, "k", 10, "sparse"))
      },
      "/geo" -> { o =>
        // Kibana map filters: {"box": {"top", "left", "bottom", "right"}}
        // (geo_bounding_box, antimeridian crossing honored) and/or {"pin":
        // {"lat", "lon", "km"}} (geo_distance), {"precision": p} → the
        // geohash grid of the matching points; filters push into the scan.
        val precision = o.path("precision").asInt(2)
        val pts = load(dir, "customer")
          .withColumn("lat", pmod(col("c_acctbal"), lit(180)) - 90 + lit(0.001))
          .withColumn("lon", pmod(col("c_custkey"), lit(360)) - 180 + lit(0.001))
        val specs = Seq(
          Option(o.path("box")).filter(_.isObject).map(b =>
            FilterSpec.GeoBoundingBox("lat", "lon",
              b.path("top").asDouble(90), b.path("left").asDouble(-180),
              b.path("bottom").asDouble(-90), b.path("right").asDouble(180))),
          Option(o.path("pin")).filter(_.isObject).map { p =>
            require(p.hasNonNull("km"), "geo: pin needs km")
            FilterSpec.GeoDistance("lat", "lon",
              p.path("lat").asDouble(0), p.path("lon").asDouble(0),
              p.path("km").asDouble())
          }).flatten
        Aggs.geohashGrid(pts.where(FilterSpec.conjunction(specs).compile),
          "lat", "lon", precision)
      },
      "/fuse" -> { o =>
        // Hybrid retrieval over the wire (the ES retrievers API shape):
        // {"q": "<text query>", "vec_id": N, "k": N, "mode": "rrf"|
        // "linear", "weights": [wLex, wVec] (linear only), "mmr":
        // {"k": n, "lambda": l} (optional diversification of the fused
        // list using the embedding vectors)}.
        val qText = text(o, "q", "fuse")
        require(o.hasNonNull("vec_id"), "fuse: missing vec_id")
        val k = page(o, "k", 10, "fuse")
        val docs = load(dir, "documents")
        val emb = load(dir, "embeddings")
        val bmScored = Bm25.topKRaw(docs, "doc_id", "text", qText, k = 50)
          .select(col("doc_id"), col("score"))
        val vecScored = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
            emb.where(col("vec_id") === o.path("vec_id").asLong()),
            "vec_id", "embedding", k = 50)
          .select(col("neighbor_id").as("doc_id"), col("rank"), col("cos").as("score"))
        val fused = o.path("mode").asText("rrf") match {
          case "rrf" =>
            val bmRun = Hybrid.withRank(bmScored, "score", "doc_id").select("doc_id", "rank")
            Hybrid.rrf(Seq(bmRun, vecScored.select("doc_id", "rank")), "doc_id", "rank", topK = k)
              .withColumnRenamed("rrf_score", "fused_score")
          case "linear" =>
            val w = o.path("weights")
            val (w0, w1) =
              if (w.isArray && w.size() == 2) (w.get(0).asDouble(), w.get(1).asDouble())
              else (0.7, 0.3)
            Hybrid.linearFusion(
              Seq(bmScored -> w0, vecScored.select("doc_id", "score") -> w1),
              "doc_id", "score", topK = k)
          case other => throw new IllegalArgumentException(
            s"fuse: unsupported mode <$other> (rrf|linear)")
        }
        if (o.hasNonNull("mmr"))
          Mmr.diversify(
            fused.select(col("doc_id").as("cand_id"), col("fused_score").as("rel"))
              .join(emb.select(col("vec_id").as("cand_id"),
                Similarity.asDouble(col("embedding")).as("vec")), Seq("cand_id"))
              .withColumn("query_id", lit(0L)),
            k = page(o, "mmr.k", 5, "fuse"), lambda = o.path("mmr").path("lambda").asDouble(0.7))
            .orderBy("pick")
            .select("pick", "cand_id", "rel", "mmr")
        else Hits.ordered(fused, "doc_id", scoreCol = "fused_score")
      },
      "/retriever" -> { o =>
        // The ES 9.x search API's `retriever` tree — the recursive
        // request shape whose flat /search, /knn, /fuse forms are
        // special cases. The body IS the retriever JSON
        // ({"retriever": {...}} or the bare node); responses cap at the
        // tree's own rank_window_size (every node bounds its output).
        Retriever.compile(load(dir, "documents"), load(dir, "embeddings"), o)
      },
      "/percolate" -> { o =>
        // The alerting endpoint: {"queries": {"alert_id": "<query_string
        // text>", ...}, "size": n?} percolated against the documents
        // corpus — one (query_id, doc_id) row per match, the Watcher wire
        // shape, in (query_id, doc_id) order. `size` (default the whole
        // page budget) bounds the collect; more matches than that is a 400,
        // never a silently cut alert list.
        val size = page(o, "size", Requests.PageBudget, "percolate")
        val qs = o.path("queries")
        require(qs.isObject && qs.size() > 0, "percolate: missing queries")
        val stored = Percolator.fromStrings(
          qs.fields().asScala.toSeq.map(e => e.getKey -> e.getValue.asText()), defaultField = "text")
        // sharded form: identical results (parity-spec'd), and a caller
        // POSTing an index-scale query set stays inside codegen budgets
        val hits = Percolator.percolateSharded(load(dir, "documents"), "doc_id", stored)
          .orderBy("query_id", "doc_id")
        val rows = hits.limit(size + 1).collect()
        require(rows.length <= size,
          s"percolate: more than $size matches; raise size (1..${Requests.PageBudget}) or narrow the queries")
        spark.createDataFrame(rows.toSeq.asJava, hits.schema)
      })
  }
}
