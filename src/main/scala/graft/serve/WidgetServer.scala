package graft.serve

import com.fasterxml.jackson.core.JacksonException
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.MissingNode
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct, to_json}

/** A minimal localhost HTTP serving entry — the engine-side analogue of the
  * reference's webapp/proxy tier (`services/webapp/src/index.js`,
  * `docker-compose.yml`: nginx in front of aws-es-kibana in front of ES).
  * The reference's interaction unit is: browser POSTs widget/visualization
  * state, proxy forwards it as an ES `_search`, buckets come back as JSON.
  * Here a route maps the decoded request body straight to a DataFrame
  * ([[Routes]]) and the server streams the result rows back as a JSON
  * array — the query compile chain behind it
  * ([[graft.query.Widgets.fromJson]] → `FilterSpec` → `Aggs`) is exactly
  * the one the oracled queries pin.
  *
  * Serving-tier scope, deliberately: one JVM, the driver's JDK HttpServer
  * (the same seam style `Sources.fetchToRaw`'s spec drives), no TLS/auth —
  * the reference delegates those to nginx, and so does this seam. The
  * driver collect is bounded by the routes, not by construction: every
  * size/k/window parameter goes through [[Requests.page]] (at most
  * [[Requests.PageBudget]] rows; `/percolate`'s `size` defaults to the
  * whole budget, and more matches than `size` is a 400, not a cut list),
  * `/esql` caps at the same budget, and the other routes
  * return bucket lists or rows bounded by what the request itself lists
  * (`/termvectors` ids, `/analyze` text).
  */
object WidgetServer {

  /** Render a (bucket-cardinality) result frame as a JSON array of row
    * objects — the shape Kibana's bucket lists travel in. Spark's own
    * row-to-JSON writer does the escaping/typing, as a projection fused
    * into the frame's last stage (`toJSON` adds an object round trip with
    * stages and generated classes of its own); the collect is the
    * serving tier's, bounded by the route's own top-N/bucket limits.
    */
  def collectRowsJson(df: DataFrame): String =
    df.select(to_json(struct(col("*")))).collect().map(_.getString(0)).mkString("[", ",", "]")

  /** Start a localhost server with `routes` of `path -> (body => result)`.
    * Per request the server decodes the body once (an empty body is the
    * missing node, which each route reads as "no members"), runs the route
    * and renders its frame once with [[collectRowsJson]]. `port = 0` binds
    * an ephemeral port (read it back from `server.getAddress.getPort` —
    * the spec's pattern).
    *
    * Status mapping follows the reference proxy's split between client and
    * server faults (aws-es-kibana forwards ES's own 4xx for malformed query
    * DSL, 5xx for engine faults): a request that fails to PARSE or
    * VALIDATE — malformed JSON, a widget-state blob contradicting the
    * dictionary (`Widgets.fromJson`'s IllegalArgumentException) — is a 400;
    * anything the engine throws past validation is a 500. JDK HttpServer
    * prefix-matches contexts and ignores the method, so the handler
    * re-checks both: exact path (404 otherwise) and POST-only (405), as
    * nginx would enforce in front of the reference.
    */
  def start(port: Int = 0)(routes: (String, JsonNode => DataFrame)*): HttpServer = {
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", port), 0)
    def error(msg: String): String = "{\"error\":" + graft.Json.quote(msg) + "}"
    def fault(e: Throwable): String = error(Option(e.getMessage).getOrElse(e.toString))
    routes.foreach { case (path, route) =>
      server.createContext(path, new HttpHandler {
        override def handle(ex: HttpExchange): Unit = {
          val (code, payload) =
            try {
              if (ex.getRequestURI.getPath != path)
                (404, error(s"no such route: ${ex.getRequestURI.getPath}"))
              else if (ex.getRequestMethod != "POST")
                (405, error(s"${ex.getRequestMethod} not allowed; POST $path"))
              else {
                val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
                (200, collectRowsJson(route(
                  if (body.trim.isEmpty) MissingNode.getInstance else graft.Json.read(body))))
              }
            } catch {
              case e @ (_: IllegalArgumentException | _: JacksonException) => (400, fault(e))
              case e: Throwable => (500, fault(e))
            }
          try {
            val bytes = payload.getBytes(UTF_8)
            ex.getResponseHeaders.add("Content-Type", "application/json")
            ex.sendResponseHeaders(code, bytes.length)
            ex.getResponseBody.write(bytes)
          } finally ex.close()
        }
      })
    }
    server.start()
    server
  }
}
