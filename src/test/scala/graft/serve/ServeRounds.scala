package graft.serve

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The serving mix's route classes as two rounds of requests with the same
  * shapes and other values, and what each request costs in generated-code
  * compiles and Spark jobs. Round 2 changes every value the mix varies:
  * the month selection (same count), the histogram interval, the typeahead
  * prefix, the map zoom, the search terms (new byte lengths) and the
  * language.
  *
  * As a main it prints, per request of a warm-up and the two rounds, the
  * compiles and jobs; with a cache size it also prints how many distinct
  * generated classes each request uses (the codegen cache is emptied
  * before each request, so that size must hold a whole request), and with
  * a directory also writes each request's generated sources there:
  *
  *   sbt "Test/runMain graft.serve.ServeRounds <sfDir> [codegenCacheEntries [dumpDir]]"
  */
object ServeRounds {
  final case class Req(cls: String, path: String, body: String)
  final case class Cost(req: Req, status: Int, compiles: Long, jobs: Int, ms: Double)

  private def monthState(months: Seq[Int]): String =
    s"""[{"name": "month", "value": [${months.map(m => "\"" + m + "\"").mkString(", ")}], """ +
      """"enabled": {"state": true, "lastEnabled": 1}}]"""

  private def round(months: Seq[Int], interval: Int, word: String, z: Int, q: String,
      lang: String): Seq[Req] = Seq(
    Req("fields", "/fields", ""),
    Req("dashboard_rollup", "/dashboard", ""),
    Req("dashboard_scan", "/dashboard", monthState(months)),
    Req("histogram", "/histogram",
      s"""{"field": "hour", "interval": $interval, "state": ${monthState(months)}}"""),
    Req("suggest", "/suggest", """{"field": "description", "prefix": "", "size": 10}"""),
    Req("suggest", "/suggest", s"""{"field": "description", "prefix": "${word.take(1)}", "size": 10}"""),
    Req("suggest", "/suggest", s"""{"field": "description", "prefix": "${word.take(2)}", "size": 10}"""),
    Req("geotile", "/geotile", s"""{"z": $z, "size": 10}"""),
    Req("search", "/search", s"""{"q": "$q", "size": 10}"""),
    Req("search_filtered", "/search", s"""{"q": "$q", "filter": "lang:$lang", "size": 10}"""),
    Req("esql", "/esql", s"""{"query": "FROM documents | WHERE lang == \\"$lang\\" | """ +
      """STATS n = COUNT(*) BY source | SORT n DESC, source | LIMIT 5"}"""),
    Req("malformed", "/dashboard", """[{"name": "year", "value": [2015"""))

  val round1: Seq[Req] = round(Seq(1, 2, 3), 3, "ASSAULT", 3, "dup vector", "en")
  val round2: Seq[Req] = round(Seq(5, 6, 7), 6, "ROBBERY", 5, "spark merge", "de")

  /** Sends `reqs` one at a time to a server on `port` of `spark`. With
    * `classes`, empties the codegen cache before each request and records
    * the generated sources the request left there.
    */
  def send(spark: SparkSession, port: Int, reqs: Seq[Req],
      classes: Option[scala.collection.mutable.Map[Req, Seq[(AnyRef, String)]]] = None): Seq[Cost] = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try reqs.map { r =>
      classes.foreach(_ => GraftTestBridge.clearCodegenCache())
      GraftTestBridge.drainListeners(spark.sparkContext)
      val j0 = jobs.get
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val (status, _) = post(port, r.path, r.body)
      val ms = (System.nanoTime() - t0) / 1e6
      GraftTestBridge.drainListeners(spark.sparkContext)
      classes.foreach(_(r) = GraftTestBridge.cachedEntries())
      Cost(r, status, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0, jobs.get - j0, ms)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def post(port: Int, path: String, body: String): (Int, String) = {
    val client = java.net.http.HttpClient.newHttpClient()
    val req = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://127.0.0.1:$port$path"))
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
      .build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cacheEntries = args.lift(1)
    val b = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // a static conf, read once when the code generator first loads
    cacheEntries.foreach(n => b.config("spark.sql.codegen.cache.maxEntries", n))
    val spark = b.getOrCreate()

    GraftTestBridge.clearCodegenCache()
    spark.sparkContext.setLogLevel("ERROR")
    val server = SparkEntry.serveHttp(spark, sfDir)
    val port = server.getAddress.getPort
    def show(label: String, costs: Seq[Cost]): Unit = {
      costs.foreach(c => println(f"[serverounds] $label%-7s ${c.req.cls}%-16s ${c.status} " +
        f"compiles=${c.compiles}%4d jobs=${c.jobs}%3d ${c.ms}%7.0f ms"))
      println(f"[serverounds] $label%-7s total compiles=${costs.map(_.compiles).sum}%d " +
        f"jobs=${costs.map(_.jobs).sum}%d ${costs.map(_.ms).sum}%.0f ms")
    }
    try {
      show("warm", send(spark, port, round1))
      show("round1", send(spark, port, round1))
      show("round2", send(spark, port, round2))
      show("round1", send(spark, port, round1))
  
      if (cacheEntries.isDefined) {
        val classes = scala.collection.mutable.LinkedHashMap.empty[Req, Seq[(AnyRef, String)]]
        send(spark, port, round1 ++ round2, Some(classes))
        args.lift(2).foreach { dir =>
          classes.zipWithIndex.foreach { case ((r, srcs), i) =>
            srcs.map(_._2).distinct.zipWithIndex.foreach { case (src, j) =>
              java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, f"$i%02d_${r.cls}_$j%02d.java"), src)
            }
          }
        }
        classes.groupBy(_._1.cls).foreach { case (cls, m) =>
          println(f"[serverounds] classes $cls%-16s per request ${m.values.map(_.map(_._2).distinct.size).mkString(" ")}" +
            f" distinct over both rounds ${m.values.flatten.map(_._2).toSet.size}" +
            f" cache entries ${m.values.flatten.toSet.size}")
        }
        def sizes(cs: Iterable[Seq[(AnyRef, String)]]) =
          s"${cs.flatten.map(_._2).toSet.size} classes in ${cs.flatten.toSet.size} cache entries"
        println(s"[serverounds] classes round1 ${sizes(classes.filter(c => round1.contains(c._1)).values)}" +
          s", both rounds ${sizes(classes.values)}")
      }
    } finally {
      server.stop(0)
      spark.stop()
    }
  }
}
