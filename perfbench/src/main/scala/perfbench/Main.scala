package perfbench

import java.io.File

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace 0|1`
  * plus the directories run.py chooses (`--work`, `--data`, `--out`).
  * Writes one JSON result object to `--out`; diagnostics go to stderr.
  * `--workload prepare` only generates the serving inputs under `--data`.
  */
object Main {
  val endToEndUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "heap_live_mb" -> "MB", "goodput_rps" -> "req/s",
    "rows_per_s" -> "rows/s", "pass_s" -> "s")

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(a("work"))
    val data = new File(a("data"))
    work.mkdirs()
    if (a("workload") == "prepare") {
      Gen.prepareServing(work, data)
      System.exit(0)
    }
    val cfg = Config(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      work, new File(a("out")))
    val o = cfg.workload match {
      case "serve_mixed" => Serve.run(cfg, data)
      case "etl_publish" => Etl.run(cfg)
      case other => sys.error(s"unknown workload '$other'")
    }
    o.errors.foreach(e => System.err.println(s"[perfbench] FAILED $e"))
    val metrics =
      if (cfg.trace) Layers.names.map(n => n -> (o.layers.getOrElse(n, 0.0), Layers.unit(n)))
      else endToEndUnits.map { case (n, u) => n -> (o.endToEnd(n), u) }
    metrics.foreach { case (n, (v, _)) => require(!v.isNaN && !v.isInfinite, s"$n is not a number: $v") }
    val json = Json.write(Map(
      "correct" -> (o.failed == 0),
      "attempted" -> o.attempted,
      "failed" -> o.failed,
      "metrics" -> metrics.map { case (n, (v, u)) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap))
    java.nio.file.Files.writeString(cfg.out.toPath, json + "\n")
    System.exit(0)
  }
}
