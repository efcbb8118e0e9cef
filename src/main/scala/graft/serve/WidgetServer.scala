package graft.serve

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.DataFrame

/** A minimal localhost HTTP serving entry — the engine-side analogue of the
  * reference's webapp/proxy tier (`services/webapp/src/index.js`,
  * `docker-compose.yml`: nginx in front of aws-es-kibana in front of ES).
  * The reference's interaction unit is: browser POSTs widget/visualization
  * state, proxy forwards it as an ES `_search`, buckets come back as JSON.
  * Here a route maps a request body straight to a DataFrame and streams the
  * result rows back as a JSON array — the query compile chain behind it
  * ([[graft.query.Widgets.fromJson]] → `FilterSpec` → `Aggs`) is exactly
  * the one the oracled queries pin.
  *
  * Serving-tier scope, deliberately: one JVM, the driver's JDK HttpServer
  * (the same seam style `Sources.fetchToRaw`'s spec drives), no TLS/auth —
  * the reference delegates those to nginx, and so does this seam. The
  * DataFrames a route returns are dashboard-cardinality (bucket lists), so
  * `collectRowsJson`'s driver collect is bounded by construction.
  */
object WidgetServer {

  /** Render a (bucket-cardinality) result frame as a JSON array of row
    * objects — the shape Kibana's bucket lists travel in. Spark's own
    * row-to-JSON writer does the escaping/typing; the collect is the
    * serving tier's, bounded by the route's own top-N/bucket limits.
    */
  def collectRowsJson(df: DataFrame): String =
    df.toJSON.collect().mkString("[", ",", "]")

  /** Start a localhost server with `routes` of `path -> (requestBody =>
    * responseJson)`. `port = 0` binds an ephemeral port (read it back from
    * `server.getAddress.getPort` — the spec's pattern).
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
  def start(port: Int = 0)(routes: (String, String => String)*): HttpServer = {
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", port), 0)
    routes.foreach { case (path, route) =>
      server.createContext(path, new HttpHandler {
        override def handle(ex: HttpExchange): Unit = {
          val out =
            try {
              if (ex.getRequestURI.getPath != path)
                Left((404, s"no such route: ${ex.getRequestURI.getPath}"))
              else if (ex.getRequestMethod != "POST")
                Left((405, s"${ex.getRequestMethod} not allowed; POST $path"))
              else {
                val body = new String(ex.getRequestBody.readAllBytes(),
                  java.nio.charset.StandardCharsets.UTF_8)
                Right(route(body))
              }
            } catch {
              case e @ (_: IllegalArgumentException |
                        _: com.fasterxml.jackson.core.JacksonException) =>
                Left((400, Option(e.getMessage).getOrElse(e.toString)))
              case e: Throwable =>
                Left((500, Option(e.getMessage).getOrElse(e.toString)))
            }
          try {
            val (code, payload) = out match {
              case Right(json) => (200, json)
              case Left((c, err)) =>
                (c, "{\"error\":" + graft.Json.quote(err) + "}")
            }
            val bytes = payload.getBytes(java.nio.charset.StandardCharsets.UTF_8)
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
