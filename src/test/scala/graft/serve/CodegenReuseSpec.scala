package graft.serve

import graft.{SparkEntry, SparkSpecBase}

/** Compile once, serve many: the serving mix's route classes answer new
  * values — other months of the same count, another histogram interval,
  * another zoom, another typeahead prefix, search terms of new byte
  * lengths, another language — with the generated classes their last
  * request compiled, under Spark's default codegen cache. A route's plan
  * follows the request's shape, never its values.
  *
  * Each round-2 request is sent right after its round-1 twin, so the
  * assertion reads the code's value-freedom alone: whether a whole round
  * also fits the cache depends on how its classes hash into the cache's
  * segments, which varies from JVM to JVM (the keys hold class loaders).
  */
class CodegenReuseSpec extends SparkSpecBase {

  test("every serving route class answers new values with no new compile") {
    val server = SparkEntry.serveHttp(spark, "/root/testdata/sf0.001")
    try {
      val port = server.getAddress.getPort
      // cold: the dictionaries, the federation cache and the rollups
      ServeRounds.send(spark, port, ServeRounds.round1)
      val costs = ServeRounds.round1.zip(ServeRounds.round2).map { case (r1, r2) =>
        val Seq(_, again) = ServeRounds.send(spark, port, Seq(r1, r2))
        again
      }
      costs.foreach(c => assert(c.status === (if (c.req.cls == "malformed") 400 else 200), c.req))
      val compiled = costs.filter(_.compiles > 0).map(c => s"${c.req.cls} ${c.req.body}: ${c.compiles}")
      assert(compiled.isEmpty, compiled.mkString("; "))
      // the dashboard is one plan: one shuffle stage and the result
      costs.filter(_.req.cls.startsWith("dashboard")).foreach(c => assert(c.jobs <= 2, c))
    } finally server.stop(0)
  }
}
