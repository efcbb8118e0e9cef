package graft.query

import com.fasterxml.jackson.databind.JsonNode

/** Parser for Kibana's exported saved objects — the reference ships its
  * dashboard as an importable export (`notebooks/kibana-content/
  * kibana-exported-visualizations.json`, loaded by `es-kibana-content.sh`),
  * and the webapp's five panels are whatever that file says they are. This
  * module reads the same export (vendored verbatim as the resource
  * `graft/kibana-exported-visualizations.json` — it is configuration, the
  * interface being parsed) so the engine's dashboard is driven by the
  * DATA, like the filter UI already is by the dictionary:
  *
  *  - each `_type: "visualization"` line carries a `visState` JSON string:
  *    a metric agg (always `{type: "count"}` here — G1) plus ordered
  *    bucket aggs (`terms` → G2-G5, `geohash_grid` → G6);
  *  - the `_type: "dashboard"` line's `panelsJSON` names which saved
  *    visualizations are on the board (by `_id`).
  *
  * Bucket fields resolve against the serving frame's schema at render
  * time; a bucket whose field the engine's published projection does not
  * carry is dropped (the reference's `notebookhtml` descriptor link is the
  * one case — Kibana itself buckets a missing field into nothing).
  */
object VisState {

  /** One bucket aggregation of a saved visualization. `size` is the terms
    * top-N; `precision` the geohash grid's saved zoom level.
    */
  final case class BucketAgg(
      aggType: String,
      field: String,
      size: Int,
      precision: Int,
      autoPrecision: Boolean)

  /** One saved visualization: its title, Kibana viz type (pie/table/
    * tile_map/...), and bucket aggs in visState order (outer first).
    */
  final case class Viz(id: String, title: String, vizType: String, buckets: Seq[BucketAgg])

  /** Parse one `visState` JSON payload. The metric agg must be `count` —
    * the only metric the reference's export uses (every panel is G1 doc
    * counts under buckets); anything else is a config this engine has no
    * saved-object for, so fail loudly rather than render wrong numbers.
    */
  def parseVisState(id: String, json: String): Viz = {
    val root = graft.Json.read(json)
    val aggs = root.path("aggs")
    require(aggs.isArray, s"visState '$id' has no aggs array")
    var buckets = Vector.empty[BucketAgg]
    val it = aggs.elements()
    while (it.hasNext) {
      val a = it.next()
      val schema = a.path("schema").asText()
      val t = a.path("type").asText()
      val p = a.path("params")
      if (schema == "metric") {
        require(t == "count", s"visState '$id': unsupported metric '$t' (export uses count only)")
      } else {
        t match {
          case "terms" =>
            buckets :+= BucketAgg("terms", p.path("field").asText(),
              p.path("size").asInt(10), 0, autoPrecision = false)
          case "geohash_grid" =>
            buckets :+= BucketAgg("geohash_grid", p.path("field").asText(), 0,
              p.path("precision").asInt(2), p.path("autoPrecision").asBoolean(false))
          case other =>
            throw new IllegalArgumentException(s"visState '$id': unsupported bucket agg '$other'")
        }
      }
    }
    Viz(id, root.path("title").asText(id), root.path("type").asText(""), buckets)
  }

  /** Parse an ES-dump export (one JSON object per line, the reference's
    * file format): all saved visualizations by id, plus the dashboard's
    * panel id list in `panelsJSON` order when a dashboard object is
    * present.
    */
  def parseExport(text: String): (Map[String, Viz], Seq[String]) = {
    var vizes = Map.empty[String, Viz]
    var panels = Seq.empty[String]
    text.linesIterator.filter(_.trim.nonEmpty).foreach { line =>
      val o = graft.Json.read(line)
      val id = o.path("_id").asText()
      o.path("_type").asText() match {
        case "visualization" =>
          vizes += id -> parseVisState(id, o.path("_source").path("visState").asText())
        case "dashboard" =>
          val ps = graft.Json.read(o.path("_source").path("panelsJSON").asText())
          val it = ps.elements()
          val buf = Seq.newBuilder[String]
          while (it.hasNext) buf += it.next().path("id").asText()
          panels = buf.result()
        case _ => ()
      }
    }
    (vizes, panels)
  }

  /** The vendored reference export: the dashboard's five panels, in panel
    * order.
    */
  def bundledDashboard(): Seq[Viz] = {
    val in = getClass.getResourceAsStream("/graft/kibana-exported-visualizations.json")
    require(in != null, "bundled kibana export resource missing")
    val text =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    val (vizes, panels) = parseExport(text)
    require(panels.nonEmpty, "bundled export has no dashboard object")
    panels.map(id => vizes.getOrElse(id,
      throw new IllegalArgumentException(s"dashboard panel '$id' has no saved visualization")))
  }
}
