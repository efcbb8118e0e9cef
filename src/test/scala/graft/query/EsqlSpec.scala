package graft.query

import graft.SparkSpecBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** ES|QL front-end: parser shape, pinned semantics (naming by source text,
  * null-largest sort, LIKE wildcards, STATS column order, MV_EXPAND outer,
  * DISSECT null-on-no-match), determinism rejects (NOW), and the plan
  * shapes the compiler promises (pushdown, top-K, broadcast ENRICH).
  */
class EsqlSpec extends SparkSpecBase {

  import spark.implicits._

  private def resolve(tables: Map[String, org.apache.spark.sql.DataFrame])(name: String) =
    tables.getOrElse(name, fail(s"unexpected FROM $name"))

  private lazy val people = Seq(
    (1L, "ada", "en", 30.0, "2024-03-01 10:15:00"),
    (2L, "bob", "en", 10.0, "2024-03-01 11:45:00"),
    (3L, "chen", "zh", 25.0, "2024-03-02 09:00:00"),
    (4L, "dara", null.asInstanceOf[String], 5.0, "2024-03-02 23:59:00"),
    (5L, "emil", "de", 40.0, "2024-03-03 00:00:00"))
    .toDF("id", "name", "lang", "score", "ts_s")
    .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")

  // ----- parsing -----

  test("program parses commands in order; unknown command rejects") {
    val cmds = Esql.parse("""FROM t | WHERE a > 1 | STATS c = COUNT(*) BY b | SORT c DESC | LIMIT 3""")
    assert(cmds.length == 5)
    val e = intercept[IllegalArgumentException](Esql.parse("FROM t | FROBNICATE x"))
    assert(e.getMessage.contains("unknown command"))
  }

  test("unnamed EVAL and STATS columns take their source text as the name") {
    val out = Esql.run("""FROM t | EVAL score * 2 | STATS AVG(score)""",
      resolve(Map("t" -> people)))
    assert(out.columns.toSeq == Seq("AVG(score)"))
    val ev = Esql.run("""FROM t | EVAL score * 2 | LIMIT 1""", resolve(Map("t" -> people)))
    assert(ev.columns.contains("score * 2"))
    // a generated name containing a DOT (decimal literal) still resolves:
    // the re-select backtick-quotes the name instead of reading the dot
    // as struct-field access
    val dot = Esql.run("""FROM t | STATS AVG(score) * 1.5 BY lang | SORT lang NULLS LAST""",
      resolve(Map("t" -> people)))
    assert(dot.columns.toSeq == Seq("AVG(score) * 1.5", "lang"))
    assert(dot.collect().map(_.getAs[Double]("AVG(score) * 1.5")).toSeq ==
      Seq(60.0, 30.0, 37.5, 7.5))
  }

  test("query must start with FROM, TS, or ROW; METADATA storage internals reject loudly") {
    assert(intercept[IllegalArgumentException](Esql.parse("WHERE x == 1"))
      .getMessage.contains("starts with FROM, TS, ROW, or SHOW"))
    assert(intercept[IllegalArgumentException](Esql.parse("FROM t METADATA _id | LIMIT 1"))
      .getMessage.contains("no hidden document store"))
    assert(intercept[IllegalArgumentException](Esql.parse("FROM t METADATA _source | LIMIT 1"))
      .getMessage.contains("no hidden document store"))
    assert(intercept[IllegalArgumentException](Esql.parse("FROM t METADATA _rank | LIMIT 1"))
      .getMessage.contains("unknown METADATA field"))
    assert(intercept[IllegalArgumentException](Esql.parse("TS t METADATA _index | LIMIT 1"))
      .getMessage.contains("METADATA on a TS source"))
  }

  test("METADATA _index stamps the FROM name per branch; _score starts at 0.0") {
    val other = Seq((9L, "zed")).toDF("id", "name")
    val out = Esql.run(
      "FROM t, u METADATA _index | STATS n = COUNT(*) BY _index | SORT _index",
      resolve(Map("t" -> people, "u" -> other)))
    assert(out.collect().map(r => (r.getString(1), r.getLong(0))).toSeq ==
      Seq(("t", 5L), ("u", 1L)))
    val scored = Esql.run("FROM t METADATA _score | KEEP id, _score | SORT id",
      resolve(Map("t" -> people)))
    assert(scored.collect().map(_.getDouble(1)).forall(_ == 0.0))
  }

  test("NOW() rejects — the determinism discipline") {
    val e = intercept[IllegalArgumentException](
      Esql.run("FROM t | EVAL n = NOW()", resolve(Map("t" -> people))).collect())
    assert(e.getMessage.contains("wall clock"))
  }

  test("string escapes and backquoted names") {
    val out = Esql.run("""ROW a = "he said \"hi\"\n", `weird name` = 1""",
      resolve(Map.empty)).collect()
    assert(out.head.getString(0) == "he said \"hi\"\n")
    assert(Esql.run("""ROW `weird name` = 1""", resolve(Map.empty)).columns.head == "weird name")
  }

  // ----- expressions -----

  test("operator precedence: arithmetic before comparison before AND/OR") {
    val rows = Esql.run(
      """FROM t | WHERE score + 10 > 30 AND lang == "en" OR id == 3 | KEEP id | SORT id""",
      resolve(Map("t" -> people))).as[Long].collect()
    // (score+10>30 AND en) OR id==3 → ada(40>30,en), chen(id 3)
    assert(rows.toSeq == Seq(1L, 3L))
  }

  test("LIKE uses */? wildcards anchored; RLIKE full-match regex; NOT forms") {
    val like = Esql.run("""FROM t | WHERE name LIKE "?d*" | KEEP name | SORT name""",
      resolve(Map("t" -> people))).as[String].collect()
    assert(like.toSeq == Seq("ada")) // 'a' then 'd' then anything
    val nlike = Esql.run("""FROM t | WHERE name NOT LIKE "*a*" | KEEP name | SORT name""",
      resolve(Map("t" -> people))).as[String].collect()
    assert(nlike.toSeq == Seq("bob", "chen", "emil"))
    val rl = Esql.run("""FROM t | WHERE name RLIKE "b.b" | KEEP name""",
      resolve(Map("t" -> people))).as[String].collect()
    assert(rl.toSeq == Seq("bob"))
    // RLIKE is anchored: a partial match is not a match
    val rl2 = Esql.run("""FROM t | WHERE name RLIKE "b" | KEEP name""",
      resolve(Map("t" -> people))).collect()
    assert(rl2.isEmpty)
    // the 8.16 list form: ANY pattern matching suffices; NOT negates the OR
    val list = Esql.run("""FROM t | WHERE name LIKE ("a*", "b*") | KEEP name | SORT name""",
      resolve(Map("t" -> people))).as[String].collect()
    assert(list.toSeq == Seq("ada", "bob"))
    val nlist = Esql.run("""FROM t | WHERE name NOT LIKE ("a*", "*n", "*l") | KEEP name | SORT name""",
      resolve(Map("t" -> people))).as[String].collect()
    assert(nlist.toSeq == Seq("bob", "dara"))
    val rlist = Esql.run("""FROM t | WHERE name RLIKE ("a.a", "b(o)+b") | KEEP name | SORT name""",
      resolve(Map("t" -> people))).as[String].collect()
    assert(rlist.toSeq == Seq("ada", "bob"))
    assert(intercept[IllegalArgumentException](
      Esql.parse("""FROM t | WHERE name LIKE (name)"""))
      .getMessage.contains("quoted patterns"))
  }

  test("IN / NOT IN, IS NULL / IS NOT NULL") {
    val in = Esql.run("""FROM t | WHERE lang IN ("de", "zh") | KEEP id | SORT id""",
      resolve(Map("t" -> people))).as[Long].collect()
    assert(in.toSeq == Seq(3L, 5L))
    val nn = Esql.run("""FROM t | WHERE lang IS NULL | KEEP id""",
      resolve(Map("t" -> people))).as[Long].collect()
    assert(nn.toSeq == Seq(4L))
    val notIn = Esql.run("""FROM t | WHERE id NOT IN (1, 2, 3) | KEEP id | SORT id""",
      resolve(Map("t" -> people))).as[Long].collect()
    assert(notIn.toSeq == Seq(4L, 5L))
  }

  test("CASE function form: pairs plus optional default; missing default yields null") {
    val out = Esql.run(
      """FROM t | EVAL band = CASE(score >= 30, "high", score >= 20, "mid", "low") | KEEP name, band | SORT name""",
      resolve(Map("t" -> people))).collect()
    assert(out.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("ada", "high"), ("bob", "low"), ("chen", "mid"), ("dara", "low"), ("emil", "high")))
    val noDefault = Esql.run(
      """FROM t | WHERE id == 2 | EVAL b = CASE(score > 90, "x") | KEEP b""",
      resolve(Map("t" -> people))).collect()
    assert(noDefault.head.isNullAt(0))
  }

  test("SUBSTRING is 1-based with negative start from the end") {
    val out = Esql.run(
      """ROW a = SUBSTRING("harmonize", 1, 4), b = SUBSTRING("harmonize", -4), c = SUBSTRING("harmonize", 5)""",
      resolve(Map.empty)).collect().head
    assert(out.getString(0) == "harm")
    assert(out.getString(1) == "nize")
    assert(out.getString(2) == "onize")
  }

  test("scalar function sweep: math, string, date") {
    spark.sparkContext // force the lazy session: ROW resolves via SparkSession.active
    val r = Esql.run(
      """ROW a = ABS(-3), b = ROUND(2.567, 1), c = CONCAT("x", "-", "y"),
        d = TO_UPPER("ab"), e = LENGTH("abc"), f = LEFT("spark", 2), g = RIGHT("spark", 2),
        h = COALESCE(NULL, 7), i = GREATEST(1, 9, 4), j = POW(2, 10),
        k = DATE_EXTRACT("hour_of_day", TO_DATETIME("2024-03-01 10:15:00")),
        l = DATE_FORMAT("yyyy-MM", TO_DATETIME("2024-03-01 10:15:00")),
        m = FLOOR(7 / 2), n = LOG(2, 8)""".replace("\n", " "),
      resolve(Map.empty)).collect().head
    assert(r.getAs[Int]("a") == 3)
    assert(r.getAs[Double]("b") == 2.6)
    assert(r.getAs[String]("c") == "x-y")
    assert(r.getAs[String]("d") == "AB")
    assert(r.getAs[Int]("e") == 3)
    assert(r.getAs[String]("f") == "sp")
    assert(r.getAs[String]("g") == "rk")
    assert(r.getAs[Int]("h") == 7)
    assert(r.getAs[Int]("i") == 9)
    assert(r.getAs[Double]("j") == 1024.0)
    assert(r.getAs[Long]("k") == 10L) // DATE_EXTRACT is long-typed (ES's rule)
    assert(r.getAs[String]("l") == "2024-03")
    assert(r.getAs[Long]("m") == 3L)
    assert(math.abs(r.getAs[Double]("n") - 3.0) < 1e-12)
  }

  // ----- STATS -----

  test("STATS output lists aggregates first then BY keys; no BY is the global row") {
    val out = Esql.run(
      """FROM t | STATS n = COUNT(*), total = SUM(score) BY lang | SORT lang NULLS LAST""",
      resolve(Map("t" -> people)))
    assert(out.columns.toSeq == Seq("n", "total", "lang"))
    val rows = out.collect()
    assert(rows.map(_.getAs[String]("lang")).toSeq == Seq("de", "en", "zh", null))
    val global = Esql.run("""FROM t | STATS n = COUNT(*), m = MEDIAN(score)""",
      resolve(Map("t" -> people))).collect().head
    assert(global.getAs[Long]("n") == 5L)
    assert(global.getAs[Double]("m") == 25.0)
  }

  test("STATS entries may be expressions over aggregates (8.14 semantics)") {
    val r = Esql.run(
      """FROM t | STATS avg2 = ROUND(SUM(score) / COUNT(*), 2), spread = MAX(score) - MIN(score)""",
      resolve(Map("t" -> people))).collect().head
    assert(r.getAs[Double]("avg2") == 22.0)
    assert(r.getAs[Double]("spread") == 35.0)
    // n-ary scalars over aggregates compile through the agg path too:
    // COALESCE/GREATEST/LEAST/CONCAT around an aggregate are legal
    val c = Esql.run(
      """FROM t | STATS x = COALESCE(SUM(score), 0), g = GREATEST(MAX(score), 99),
        | s = CONCAT("n=", TO_STRING(COUNT(*))) BY lang | SORT lang NULLS LAST""".stripMargin,
      resolve(Map("t" -> people))).collect()
    assert(c.map(_.getAs[Double]("x")).toSeq == Seq(40.0, 40.0, 25.0, 5.0))
    assert(c.map(_.getAs[Double]("g")).toSeq == Seq(99.0, 99.0, 99.0, 99.0))
    assert(c.map(_.getAs[String]("s")).toSeq == Seq("n=1", "n=2", "n=1", "n=1"))
  }

  test("STATS BY with no aggregates is distinct keys; BY expression binds a name") {
    val d = Esql.run("""FROM t | STATS BY lang | SORT lang NULLS LAST""",
      resolve(Map("t" -> people))).collect()
    assert(d.map(_.getAs[String]("lang")).toSeq == Seq("de", "en", "zh", null))
    val e = Esql.run(
      """FROM t | STATS n = COUNT(*) BY day = DATE_TRUNC(1 day, ts) | SORT day""",
      resolve(Map("t" -> people)))
    assert(e.columns.toSeq == Seq("n", "day"))
    assert(e.collect().map(_.getAs[Long]("n")).toSeq == Seq(2L, 2L, 1L))
  }

  test("VALUES returns sorted distinct; TOP slices the ordered list; PERCENTILE interpolates") {
    val r = Esql.run(
      """FROM t | STATS v = VALUES(lang), t2 = TOP(score, 2, "desc"), p = PERCENTILE(score, 50)""",
      resolve(Map("t" -> people))).collect().head
    assert(r.getAs[scala.collection.Seq[String]]("v").toSeq == Seq("de", "en", "zh")) // null excluded by collect_set
    assert(r.getAs[scala.collection.Seq[Double]]("t2").toSeq == Seq(40.0, 30.0))
    assert(r.getAs[Double]("p") == 25.0)
  }

  test("aggregates reject outside STATS; scalars reject at STATS top level; * only in COUNT") {
    assert(intercept[IllegalArgumentException](
      Esql.run("FROM t | EVAL s = SUM(score)", resolve(Map("t" -> people))))
      .getMessage.contains("only valid at the top level of STATS"))
    assert(intercept[IllegalArgumentException](
      Esql.run("FROM t | STATS x = score + 1", resolve(Map("t" -> people))))
      .getMessage.contains("must be aggregate calls"))
    assert(intercept[IllegalArgumentException](
      Esql.run("FROM t | EVAL x = id * *", resolve(Map("t" -> people))).collect())
      .getMessage.contains("COUNT(*)"))
  }

  // ----- SORT / LIMIT -----

  test("SORT null sorts as largest by default; NULLS FIRST/LAST override") {
    def langs(q: String): Seq[String] =
      Esql.run(q, resolve(Map("t" -> people))).collect().map(_.getAs[String]("lang")).toSeq
    assert(langs("FROM t | SORT lang | KEEP lang").last == null) // asc → nulls last
    assert(langs("FROM t | SORT lang DESC | KEEP lang").head == null) // desc → nulls first
    assert(langs("FROM t | SORT lang NULLS FIRST | KEEP lang").head == null)
    assert(langs("FROM t | SORT lang DESC NULLS LAST | KEEP lang").last == null)
  }

  // ----- KEEP / DROP / RENAME / MV_EXPAND -----

  test("KEEP expands wildcards in pattern order, first mention wins; DROP removes") {
    val df = people.withColumn("score_sq", col("score") * col("score"))
    val kept = Esql.run("FROM t | KEEP name, score*, id", resolve(Map("t" -> df)))
    assert(kept.columns.toSeq == Seq("name", "score", "score_sq", "id"))
    val dropped = Esql.run("FROM t | DROP score*", resolve(Map("t" -> df)))
    assert(dropped.columns.toSeq == Seq("id", "name", "lang", "ts"))
    assert(intercept[IllegalArgumentException](
      Esql.run("FROM t | KEEP nope", resolve(Map("t" -> df))))
      .getMessage.contains("unknown column"))
  }

  test("RENAME old AS new chains; MV_EXPAND keeps null rows via outer explode") {
    val rn = Esql.run("FROM t | RENAME name AS person, id AS pk | KEEP pk, person",
      resolve(Map("t" -> people)))
    assert(rn.columns.toSeq == Seq("pk", "person"))
    val mv = Esql.run(
      """FROM t | EVAL toks = CASE(id == 4, NULL, SPLIT(name, "a")) | MV_EXPAND toks | STATS n = COUNT(*) BY id | SORT id""",
      resolve(Map("t" -> people))).collect()
    // ada splits to ["", "d", ""] (Spark's split keeps trailing empties);
    // dara → null multivalue → ONE null row survives (outer explode)
    assert(mv.map(r => (r.getAs[Long]("id"), r.getAs[Long]("n"))).toSeq ==
      Seq((1L, 3L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  // ----- DISSECT / GROK -----

  test("DISSECT extracts by literal separators; non-matching rows yield null") {
    val logs = Seq("alpha - 42 [ok]", "beta - 7 [err]", "garbage").toDF("line")
    val out = Esql.run(
      """FROM t | DISSECT line "%{name} - %{n} [%{status}]" | KEEP line, name, n, status""",
      resolve(Map("t" -> logs))).collect()
    assert(out(0).getString(1) == "alpha" && out(0).getString(2) == "42" && out(0).getString(3) == "ok")
    assert(out(2).isNullAt(1) && out(2).isNullAt(2) && out(2).isNullAt(3))
    // %{} skips without emitting a column
    val skip = Esql.run("""FROM t | DISSECT line "%{} - %{n} [%{}]" | KEEP n""",
      resolve(Map("t" -> logs))).collect()
    assert(skip(1).getString(0) == "7")
  }

  test("DISSECT modifiers: right-pad absorbs repeated separators, append joins, named skip") {
    val logs = Seq("alpha   42 ok", "beta 7 err").toDF("line")
    // without -> the run of spaces breaks extraction (the middle piece
    // captures the empty string between spaces); with it the separator
    // repeats — the modifier's teeth
    val padded = Esql.run(
      """FROM t | DISSECT line "%{name->} %{n} %{status}" | KEEP name, n, status""",
      resolve(Map("t" -> logs))).collect()
    assert(padded(0).getString(0) == "alpha" && padded(0).getString(1) == "42"
      && padded(0).getString(2) == "ok")
    assert(padded(1).getString(0) == "beta" && padded(1).getString(1) == "7")
    val unpadded = Esql.run(
      """FROM t | DISSECT line "%{name} %{n} %{status}" | KEEP name, n, status""",
      resolve(Map("t" -> logs))).collect()
    assert(unpadded(0).getString(1) == "", "no pad: empty capture between the spaces")
    // append: pieces join in pattern order, default separator empty,
    // APPEND_SEPARATOR between them when given; %{?skip} captures nothing
    val appended = Esql.run(
      """FROM t | DISSECT line "%{+word->} %{?mid} %{+word}" | KEEP word""",
      resolve(Map("t" -> logs))).collect()
    assert(appended(0).getString(0) == "alphaok")
    val sep = Esql.run(
      """FROM t | DISSECT line "%{+word->} %{?mid} %{+word}" APPEND_SEPARATOR="/" | KEEP word""",
      resolve(Map("t" -> logs))).collect()
    assert(sep(0).getString(0) == "alpha/ok" && sep(1).getString(0) == "beta/err")
    // plain-then-append is dissect's canonical append shape
    val mixed = Esql.run(
      """FROM t | DISSECT line "%{w->} %{n} %{+w}" APPEND_SEPARATOR="_" | KEEP w, n""",
      resolve(Map("t" -> logs))).collect()
    assert(mixed(0).getString(0) == "alpha_ok" && mixed(0).getString(1) == "42")
    // stated seams reject loudly; repeating a PLAIN key is the dissect error
    def err(q: String) = intercept[IllegalArgumentException](
      Esql.run(q, resolve(Map("t" -> logs))).collect()).getMessage
    assert(err("""FROM t | DISSECT line "%{+a/2} %{+a/1}"""").contains("append order"))
    assert(err("""FROM t | DISSECT line "%{*k} %{&k}"""").contains("reference keys"))
    assert(err("""FROM t | DISSECT line "%{a} %{a}"""").contains("repeats key"))
    assert(intercept[IllegalArgumentException](
      Esql.parse("""FROM t | DISSECT line "%{a}" APPEND_SEPARATOR=7"""))
      .getMessage.contains("quoted string"))
  }

  test("GROK extracts typed fields from named pattern subset") {
    val logs = Seq("GET /a 200 1.5", "POST /b 404 0.25").toDF("line")
    val out = Esql.run(
      """FROM t | GROK line "%{WORD:verb} %{NOTSPACE:path} %{INT:code:int} %{NUMBER:dur:float}" | KEEP verb, code, dur""",
      resolve(Map("t" -> logs))).collect()
    assert(out(0).getString(0) == "GET")
    assert(out(0).getInt(1) == 200)
    assert(out(1).getDouble(2) == 0.25)
    // the log-shaped pattern names: ISO timestamp, level, IPv4, UUID
    val log2 = Seq("2024-03-01T10:15:00Z ERROR 10.2.3.4 deadbeef-0000-4000-8000-123456789abc disk full")
      .toDF("line")
    val r2 = Esql.run(
      """FROM t | GROK line "%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL:lvl} %{IP:ip} %{UUID:uid} %{GREEDYDATA:msg}"
        | KEEP ts, lvl, ip, uid, msg""",
      resolve(Map("t" -> log2))).collect().head
    assert(r2.getString(0) == "2024-03-01T10:15:00Z")
    assert(r2.getString(1) == "ERROR")
    assert(r2.getString(2) == "10.2.3.4")
    assert(r2.getString(3) == "deadbeef-0000-4000-8000-123456789abc")
    assert(r2.getString(4) == "disk full")
    // a malformed IPv4 (octet > 255) does not match — all keys null
    val bad = Esql.run(
      """FROM t | GROK line "%{IP:ip} %{GREEDYDATA:m}" | KEEP ip""",
      resolve(Map("t" -> Seq("999.1.1.1 x").toDF("line")))).collect().head
    assert(bad.isNullAt(0))
  }

  // ----- ENRICH / FROM union / ROW -----

  test("ENRICH broadcast-joins the policy table; WITH renames; unknown policy/field raise") {
    val dims = Seq(("en", "English", 1), ("de", "German", 2)).toDF("code", "language", "rank")
    val policy = Esql.EnrichPolicy(dims, "code", Seq("language", "rank"))
    val out = Esql.run(
      "FROM t | ENRICH langs ON lang WITH lang_name = language | KEEP id, lang_name | SORT id",
      resolve(Map("t" -> people)), Map("langs" -> policy))
    val rows = out.collect()
    assert(rows.map(_.getAs[String]("lang_name")).toSeq ==
      Seq("English", "English", null, null, "German"))
    // the join must be broadcast — ES replicates the enrich index
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(intercept[IllegalArgumentException](
      Esql.run("FROM t | ENRICH nope ON lang", resolve(Map("t" -> people))))
      .getMessage.contains("unknown ENRICH policy"))
    assert(intercept[IllegalArgumentException](
      Esql.run("FROM t | ENRICH langs ON lang WITH x = nope",
        resolve(Map("t" -> people)), Map("langs" -> policy)))
      .getMessage.contains("does not provide"))
  }

  test("FROM a,b unions by name with missing columns null-filled") {
    val extra = Seq((9L, "zoe")).toDF("id", "name")
    val out = Esql.run("FROM t, u | STATS n = COUNT(*), langs = COUNT(lang)",
      resolve(Map("t" -> people, "u" -> extra))).collect().head
    assert(out.getAs[Long]("n") == 6L)
    assert(out.getAs[Long]("langs") == 4L) // zoe contributes a null lang
  }

  test("ROW is a one-row literal source") {
    val out = Esql.run("""ROW x = 1 + 2, y = "z" | EVAL x2 = x * 10""",
      resolve(Map.empty)).collect().head
    assert(out.getAs[Int]("x") == 3 && out.getAs[String]("y") == "z" && out.getAs[Int]("x2") == 30)
  }

  test("LOOKUP JOIN: broadcast left join on shared names; lookup side wins collisions") {
    val lookup = Seq(("en", "English", 99.0), ("de", "German", 98.0))
      .toDF("lang", "lang_name", "score") // `score` collides with people
    val out = Esql.run(
      "FROM t | LOOKUP JOIN langs ON lang | KEEP id, lang_name, score | SORT id",
      resolve(Map("t" -> people, "langs" -> lookup)))
    val rows = out.collect()
    assert(rows.map(_.getAs[String]("lang_name")).toSeq ==
      Seq("English", "English", null, null, "German"))
    // the lookup side's `score` replaced the left's (ES|QL's collision rule)
    assert(rows.map(r => Option(r.getAs[java.lang.Double]("score")).map(_.toDouble)).toSeq ==
      Seq(Some(99.0), Some(99.0), None, None, Some(98.0)))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(intercept[IllegalArgumentException](
      Esql.run("FROM t | LOOKUP JOIN langs ON nope",
        resolve(Map("t" -> people, "langs" -> lookup))))
      .getMessage.contains("missing from the left side"))
  }

  test("INLINESTATS appends window aggregates over the BY keys; rows preserved") {
    val out = Esql.run(
      """FROM t | INLINESTATS avg_s = SUM(score) / COUNT(*) BY lang | WHERE score > avg_s | KEEP id | SORT id""",
      resolve(Map("t" -> people))).as[Long].collect()
    // en: avg 20 -> ada(30); zh: avg 25 -> none; de: avg 40 -> none;
    // null lang group: dara alone, 5 > 5 false
    assert(out.toSeq == Seq(1L))
    // no BY: compiled as a 1-row aggregate + broadcast cross join, NOT an
    // unpartitioned window (the scale-killer) — plan-pinned
    val gdf = Esql.run("FROM t | INLINESTATS m = MAX(score) | WHERE score == m | KEEP name",
      resolve(Map("t" -> people)))
    val gplan = gdf.queryExecution.executedPlan.toString
    assert(!gplan.contains("Window"), s"no-BY INLINESTATS must not window:\n$gplan")
    // the cross join broadcasts; Catalyst may even upgrade it to a hash
    // join by folding the downstream equality filter into the condition
    assert(gplan.contains("BroadcastExchange"),
      s"expected a broadcast of the 1-row aggregate:\n$gplan")
    assert(gdf.as[String].collect().toSeq == Seq("emil"))
  }

  test("INLINESTATS ordered-set aggregates compile as the STATS + broadcast join-back rewrite") {
    // MEDIAN is not window-computable in Spark; the compiler applies the
    // documented "STATS then LOOKUP JOIN the result back" rewrite itself:
    // one hash aggregate on the keys + one broadcast join, no window.
    val out = Esql.run(
      """FROM t | INLINESTATS med = MEDIAN(score) BY lang | WHERE score > med | KEEP id | SORT id""",
      resolve(Map("t" -> people)))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"rewrite must not window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join-back:\n$plan")
    // en: median 20 -> ada(30); zh: 25 not > 25; de: 40; null group: 5
    assert(out.as[Long].collect().toSeq == Seq(1L))
    // mixed entries split per shape: MEDIAN via join-back, COUNT via the
    // window — and a null BY key is a group (null-safe join-back)
    val mixed = Esql.run(
      "FROM t | INLINESTATS med = MEDIAN(score), n = COUNT(*) BY lang | SORT id",
      resolve(Map("t" -> people))).collect()
    assert(mixed.map(_.getAs[Double]("med")).toSeq == Seq(20.0, 20.0, 25.0, 5.0, 40.0))
    assert(mixed.map(_.getAs[Long]("n")).toSeq == Seq(2L, 2L, 1L, 1L, 1L))
    // COUNT_DISTINCT rides the same rewrite
    val cd = Esql.run(
      "FROM t | INLINESTATS k = COUNT_DISTINCT(lang) | KEEP k | LIMIT 1",
      resolve(Map("t" -> people))).collect()
    assert(cd.head.getAs[Long]("k") == 3L)
  }

  test("CATEGORIZE groups by the categorize_text template; numeric BUCKET floors to width") {
    val logs = Seq(
      (1L, "connected to host 10"), (2L, "connected to host 42"),
      (3L, "failed to parse line 7"), (4L, null.asInstanceOf[String]),
      (5L, "..."), (6L, "connected to host 9"),
    ).toDF("id", "msg")
    val out = Esql.run(
      """FROM t | STATS n = COUNT(*), ex = MIN(id) BY cat = CATEGORIZE(msg)
        | SORT n DESC, cat NULLS LAST""",
      resolve(Map("t" -> logs))).collect()
    assert(out.map(r => (r.getAs[String]("cat"), r.getAs[Long]("n"))).toSeq ==
      Seq(("connected to host *", 3L), (null, 2L), ("failed to parse line *", 1L)))
    assert(out.head.getAs[Long]("ex") == 1L)
    // numeric BUCKET: the bucket START, floor(x / width) * width
    val b = Esql.run(
      """FROM t | EVAL g = BUCKET(score, 15.0), gi = BUCKET(id, 2) | KEEP id, g, gi | SORT id""",
      resolve(Map("t" -> people))).collect()
    assert(b.map(_.getAs[Double]("g")).toSeq == Seq(30.0, 0.0, 15.0, 0.0, 30.0))
    assert(b.map(_.getAs[Long]("gi")).toSeq == Seq(0L, 2L, 2L, 4L, 4L))
  }

  test("DATE_DIFF fixed-width trunc-toward-zero; DATE_EXTRACT ChronoFields; calendar units reject") {
    // 2024-03-01 was a Friday (ISO day_of_week 5)
    val out = Esql.run(
      """FROM t | EVAL
          dd = DATE_DIFF("day", TO_DATETIME("2024-02-28 00:00:00"), ts),
          hh = DATE_DIFF("hour", TO_DATETIME("2024-03-01 09:00:00"), ts),
          dow = DATE_EXTRACT("day_of_week", ts),
          hod = DATE_EXTRACT("hour_of_day", ts)
        | KEEP id, dd, hh, dow, hod | SORT id""",
      resolve(Map("t" -> people))).collect()
    // ts: 3/1 10:15, 3/1 11:45, 3/2 09:00, 3/2 23:59, 3/3 00:00
    assert(out.map(_.getAs[Long]("dd")).toSeq == Seq(2L, 2L, 3L, 3L, 4L))
    // hour diffs from 3/1 09:00: +1.25h->1, +2.75h->2, +24h->24, +38.98h->38, +39h->39
    assert(out.map(_.getAs[Long]("hh")).toSeq == Seq(1L, 2L, 24L, 38L, 39L))
    assert(out.map(_.getAs[Long]("dow")).toSeq == Seq(5L, 5L, 6L, 6L, 7L))
    assert(out.map(_.getAs[Long]("hod")).toSeq == Seq(10L, 11L, 9L, 23L, 0L))
    // trunc toward ZERO on a negative diff (not floor)
    val neg = Esql.run(
      """ROW x = DATE_DIFF("hour", TO_DATETIME("2024-03-01 10:00:00"),
                                    TO_DATETIME("2024-03-01 09:30:00"))""",
      resolve(Map.empty)).collect().head
    assert(neg.getAs[Long]("x") == 0L)
    assert(intercept[IllegalArgumentException](
      Esql.run("""FROM t | EVAL m = DATE_DIFF("month", ts, ts)""",
        resolve(Map("t" -> people)))).getMessage.contains("calendar units"))
    assert(intercept[IllegalArgumentException](
      Esql.run("""FROM t | EVAL m = DATE_EXTRACT("nano_of_day", ts)""",
        resolve(Map("t" -> people)))).getMessage.contains("ChronoFields"))
  }

  test("TS + RATE/INCREASE compile onto the reset-adjusted counter-rate core") {
    val rows = Seq(
      ("a", "2024-03-01 10:00:10", 1L, 10L),
      ("a", "2024-03-01 10:20:00", 2L, 17L),
      ("a", "2024-03-01 10:40:00", 3L, 3L), // counter reset: contributes 3
      ("a", "2024-03-01 11:10:00", 4L, 10L), // next hour, prev=3 -> 7
      ("b", "2024-03-01 10:05:00", 5L, 100L),
    ).toDF("k", "ts_s", "eid", "ctr")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val out = Esql.run(
      """TS m | STATS inc = INCREASE(ctr, eid), r = RATE(ctr, eid)
          BY b = BUCKET(ts, 1 hour), k | SORT k, b""",
      resolve(Map("m" -> rows))).collect()
    assert(out.map(r => (r.getAs[String]("k"), r.getAs[Long]("inc"))).toSeq ==
      Seq(("a", 10L), ("a", 7L), ("b", 0L)))
    assert(math.abs(out.head.getAs[Double]("r") - 10.0 / 3600) < 1e-15)
    // rejects: RATE outside TS; missing tie-break; no BUCKET key; mixing
    assert(intercept[IllegalArgumentException](
      Esql.run("FROM m | STATS r = RATE(ctr, eid) BY b = BUCKET(ts, 1 hour), k",
        resolve(Map("m" -> rows)))).getMessage.contains("TS"))
    assert(intercept[IllegalArgumentException](
      Esql.run("TS m | STATS r = RATE(ctr) BY b = BUCKET(ts, 1 hour), k",
        resolve(Map("m" -> rows)))).getMessage.contains("tie-break"))
    assert(intercept[IllegalArgumentException](
      Esql.run("TS m | STATS r = RATE(ctr, eid) BY k",
        resolve(Map("m" -> rows)))).getMessage.contains("BUCKET"))
    assert(intercept[IllegalArgumentException](
      Esql.run("TS m | STATS r = RATE(ctr, eid), n = COUNT(*) BY b = BUCKET(ts, 1 hour), k",
        resolve(Map("m" -> rows)))).getMessage.contains("second STATS"))
    // an ordinary STATS on a TS source still works (TSDB indices answer
    // normal queries too)
    val n = Esql.run("TS m | STATS n = COUNT(*) BY k | SORT k",
      resolve(Map("m" -> rows))).collect()
    assert(n.map(_.getAs[Long]("n")).toSeq == Seq(4L, 1L))
  }

  test("FORK unions branch results by name with the _fork discriminator") {
    val out = Esql.run(
      """FROM t | FORK ( WHERE lang == "en" | KEEP id ) ( WHERE score > 30 | KEEP id, name ) | SORT _fork, id""",
      resolve(Map("t" -> people)))
    assert(out.columns.toSeq == Seq("id", "name", "_fork"))
    val rows = out.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("_fork")))
    assert(rows.toSeq == Seq((1L, "fork1"), (2L, "fork1"), (5L, "fork2")))
    // fork1 dropped `name` -> null-filled
    assert(out.where(col("_fork") === "fork1").collect().forall(_.isNullAt(1)))
    assert(intercept[IllegalArgumentException](
      Esql.parse("FROM t | FORK ( LIMIT 1 )")).getMessage.contains("at least 2"))
  }

  test("FUSE rrf: per-branch ranks fused with sorted-fold reciprocal sums") {
    val out = Esql.run(
      """FROM t | FORK ( EVAL s = TO_DOUBLE(score) ) ( EVAL s = TO_DOUBLE(6 - id) )
         | FUSE rrf ON id SCORE s | SORT _score DESC, id""".replace("\n", " "),
      resolve(Map("t" -> people))).collect()
    // branch1 ranks by score desc: emil(1) ada(2) chen(3) bob(4) dara(5)
    // branch2 ranks by 6-id desc = id asc: ada(1) bob(2) chen(3) dara(4) emil(5)
    def rrf(r1: Int, r2: Int) = 1.0 / (60 + r1) + 1.0 / (60 + r2)
    val expect = Map(1L -> rrf(2, 1), 2L -> rrf(4, 2), 3L -> rrf(3, 3),
      4L -> rrf(5, 4), 5L -> rrf(1, 5))
    out.foreach { r =>
      assert(math.abs(r.getAs[Double]("_score") - expect(r.getAs[Long]("id"))) < 1e-15)
    }
    // ada wins: top rank in branch2, second in branch1
    assert(out.head.getAs[Long]("id") == 1L)
    // FUSE without a preceding FORK rejects loudly
    assert(intercept[IllegalArgumentException](
      Esql.run("FROM t | FUSE rrf ON id SCORE score", resolve(Map("t" -> people))))
      .getMessage.contains("fuse follows a fork"))
  }

  test("FUSE linear: per-branch min-max normalization, weights, degenerate branch, rejects") {
    val out = Esql.run(
      """FROM t | FORK ( EVAL s = TO_DOUBLE(score) ) ( EVAL s = TO_DOUBLE(6 - id) )
         | FUSE linear ON id SCORE s NORM minmax WEIGHTS 0.6, 0.4
         | SORT _score DESC, id""".replace("\n", " "),
      resolve(Map("t" -> people))).collect()
    // branch1 minmax over scores (5..40): (s-5)/35; branch2 over 6-id
    // (1..5): (s-1)/4 — weighted 0.6/0.4
    def lin(s1: Double, s2: Double) = (s1 - 5) / 35 * 0.6 + (s2 - 1) / 4 * 0.4
    val expect = Map(1L -> lin(30, 5), 2L -> lin(10, 4), 3L -> lin(25, 3),
      4L -> lin(5, 2), 5L -> lin(40, 1))
    out.foreach { r =>
      assert(math.abs(r.getAs[Double]("_score") - expect(r.getAs[Long]("id"))) < 1e-15)
    }
    assert(out.head.getAs[Long]("id") == 1L) // ada: strong in both branches
    // NORM none fuses raw magnitudes
    val raw = Esql.run(
      """FROM t | FORK ( EVAL s = TO_DOUBLE(score) ) ( EVAL s = TO_DOUBLE(6 - id) )
         | FUSE linear ON id SCORE s | SORT _score DESC, id""".replace("\n", " "),
      resolve(Map("t" -> people))).collect()
    assert(raw.map(r => r.getAs[Double]("_score")).toSeq.head == 41.0) // emil 40 + 1
    // a degenerate branch (max = min) normalizes to 1.0
    val degen = Esql.run(
      """FROM t | FORK ( EVAL s = TO_DOUBLE(score) ) ( EVAL s = 1.0 )
         | FUSE linear ON id SCORE s NORM minmax""".replace("\n", " "),
      resolve(Map("t" -> people))).collect()
    degen.foreach { r =>
      val base = (expect(r.getAs[Long]("id")) - 0.4 * ((6 - r.getAs[Long]("id")) - 1) / 4.0) / 0.6
      assert(math.abs(r.getAs[Double]("_score") - (base + 1.0)) < 1e-12)
    }
    // more branches than WEIGHTS raises at runtime, not a silent null
    val short = intercept[Exception](Esql.run(
      """FROM t | FORK ( EVAL s = TO_DOUBLE(score) ) ( EVAL s = TO_DOUBLE(id) )
         | FUSE linear ON id SCORE s WEIGHTS 0.5""".replace("\n", " "),
      resolve(Map("t" -> people))).collect())
    assert(short.getMessage.contains("WEIGHTS lists only 1"))
    // NORM/WEIGHTS on rrf reject at parse
    assert(intercept[IllegalArgumentException](
      Esql.parse("FROM t | FUSE rrf ON id SCORE s NORM minmax"))
      .getMessage.contains("FUSE linear options"))
  }

  test("SAMPLE: seeded keyed hash — deterministic, seed-sensitive, validated") {
    val base = Esql.run("FROM t | SAMPLE 0.5 ON id | KEEP id", resolve(Map("t" -> people)))
      .as[Long].collect().toSeq
    val again = Esql.run("FROM t | SAMPLE 0.5 ON id | KEEP id", resolve(Map("t" -> people)))
      .as[Long].collect().toSeq
    assert(base == again) // no RNG, no partition sensitivity
    val reseeded = Esql.run("FROM t | SAMPLE 0.5 ON id SEED 7 | KEEP id",
      resolve(Map("t" -> people))).as[Long].collect().toSeq
    assert(base != reseeded || base.isEmpty) // the seed does real work
    assert(intercept[IllegalArgumentException](Esql.parse("FROM t | SAMPLE 1.5 ON id"))
      .getMessage.contains("(0,1)"))
    // the ON key is mandatory: truncated input fails at the expect
    assert(intercept[IllegalArgumentException](Esql.parse("FROM t | SAMPLE 0.5"))
      .getMessage.contains("ends where a token is expected"))
  }

  test("MV function family: first/last/sort/dedupe/slice semantics") {
    val r = Esql.run(
      """ROW a = MV_FIRST(SPLIT("c,a,b,a", ",")), z = MV_LAST(SPLIT("c,a,b", ",")),
        s = MV_SORT(SPLIT("c,a,b", ",")), d = MV_SORT(SPLIT("c,a,b", ","), "desc"),
        u = MV_DEDUPE(SPLIT("c,a,b,a", ",")), sl = MV_SLICE(SPLIT("p,q,r,s", ","), 1, 2)""".replace("\n", " "),
      resolve(Map.empty)).collect().head
    assert(r.getAs[String]("a") == "c")
    assert(r.getAs[String]("z") == "b")
    assert(r.getAs[scala.collection.Seq[String]]("s").toSeq == Seq("a", "b", "c"))
    assert(r.getAs[scala.collection.Seq[String]]("d").toSeq == Seq("c", "b", "a"))
    assert(r.getAs[scala.collection.Seq[String]]("u").toSeq == Seq("a", "b", "c"))
    assert(r.getAs[scala.collection.Seq[String]]("sl").toSeq == Seq("q", "r")) // 0-based, end inclusive
    assert(intercept[IllegalArgumentException](
      Esql.run("""ROW x = MV_SLICE(SPLIT("a,b", ","), 1, 0)""", resolve(Map.empty)))
      .getMessage.contains("start <= end"))
  }

  test("math/trig family: exact anchor points") {
    val r = Esql.run(
      """ROW s = SIN(0.0), c = COS(0.0), t = TAN(0.0), asn = ASIN(1.0),
        at2 = ATAN2(0.0, 1.0), dg = TO_DEGREES(PI()), rd = TO_RADIANS(180.0),
        hy = HYPOT(3.0, 4.0), sb = SCALB(1.5, 5),
        sh = SINH(0.0), ch = COSH(0.0), th = TANH(0.0)""".replace("\n", " "),
      resolve(Map.empty)).collect().head
    assert(r.getAs[Double]("s") == 0.0)
    assert(r.getAs[Double]("c") == 1.0)
    assert(r.getAs[Double]("t") == 0.0)
    assert(r.getAs[Double]("asn") == math.Pi / 2)
    assert(r.getAs[Double]("at2") == 0.0)
    assert(r.getAs[Double]("dg") == 180.0)
    assert(r.getAs[Double]("rd") == math.Pi)
    assert(r.getAs[Double]("hy") == 5.0)
    assert(r.getAs[Double]("sb") == 48.0) // 1.5 · 2^5, exact
    assert(r.getAs[Double]("sh") == 0.0)
    assert(r.getAs[Double]("ch") == 1.0)
    assert(r.getAs[Double]("th") == 0.0)
  }

  test("HASH: generalized digests agree with MessageDigest; unknown algorithm rejects at compile") {
    val r = Esql.run("""ROW h1 = HASH("sha1", "abc"), h5 = HASH("SHA-512", "abc"), hm = HASH("md5", "abc")""",
      resolve(Map.empty)).collect().head
    def ref(alg: String): String =
      java.security.MessageDigest.getInstance(alg).digest("abc".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(r.getAs[String]("h1") == ref("SHA-1"))
    assert(r.getAs[String]("h5") == ref("SHA-512"))
    assert(r.getAs[String]("hm") == ref("MD5"))
    assert(intercept[IllegalArgumentException](
      Esql.run("""ROW x = HASH("crc32", "abc")""", resolve(Map.empty)))
      .getMessage.contains("not supported"))
    assert(intercept[IllegalArgumentException](
      Esql.run("""ROW x = HASH(name, "abc")""", resolve(Map("t" -> people))))
      .getMessage.contains("literal algorithm"))
  }

  test("inline cast shorthand :: — sugar for TO_*; unknown type rejects") {
    val r = Esql.run(
      """ROW a = "12"::long + 1, b = 3.9::integer, c = -"2"::long,
        d = TRUE::string, e = "2024-03-01 10:00:00"::datetime""".replace("\n", " "),
      resolve(Map.empty)).collect().head
    assert(r.getAs[Long]("a") == 13L)
    assert(r.getAs[Int]("b") == 3) // toward zero, TO_INTEGER's rule
    assert(r.getAs[Long]("c") == -2L) // :: binds tighter than unary minus
    assert(r.getAs[String]("d") == "true")
    assert(r.getAs[java.sql.Timestamp]("e").toString.startsWith("2024-03-01 10:00"))
    assert(intercept[IllegalArgumentException](
      Esql.run("""ROW x = "1"::ip""", resolve(Map.empty)))
      .getMessage.contains("unsupported inline-cast type"))
    // chained casts fold left: 3.9::integer::string
    val chained = Esql.run("""ROW x = 3.9::integer::string""", resolve(Map.empty)).collect().head
    assert(chained.getString(0) == "3")
  }

  test("MV ordered-set family: median/MAD/percentile sort NUMERICALLY; zip keeps the longer tail") {
    val r = Esql.run(
      """ROW m = MV_MEDIAN(SPLIT("9,10,2", ",")), me = MV_MEDIAN(SPLIT("1,2,3,4", ",")),
        mad = MV_MEDIAN_ABSOLUTE_DEVIATION(SPLIT("1,2,3,100", ",")),
        p25 = MV_PERCENTILE(SPLIT("0,10", ","), 25), p100 = MV_PERCENTILE(SPLIT("5,1", ","), 100),
        bad = MV_PERCENTILE(SPLIT("1,2", ","), 150),
        ap = MV_JOIN(MV_APPEND(SPLIT("a,b", ","), SPLIT("c", ",")), "+"),
        z = MV_JOIN(MV_ZIP(SPLIT("a,b,c", ","), SPLIT("1,2", ","), "-"), ";"),
        ps = MV_PSERIES_WEIGHTED_SUM(SPLIT("8,4", ","), 1.0)""".replace("\n", " "),
      resolve(Map.empty)).collect().head
    // "9,10,2" sorted numerically is [2,9,10] → 9; lexicographic would put "10" first
    assert(r.getAs[Double]("m") == 9.0)
    assert(r.getAs[Double]("me") == 2.5)
    // median 2.5; |x−2.5| sorted = [.5,.5,1.5,97.5] → (0.5+1.5)/2
    assert(r.getAs[Double]("mad") == 1.0)
    assert(r.getAs[Double]("p25") == 2.5) // R-7: 0 + 0.25·(10−0)
    assert(r.getAs[Double]("p100") == 5.0) // sorted [1,5], index n−1 exactly
    assert(r.isNullAt(r.fieldIndex("bad"))) // out-of-range percentile → null
    assert(r.getAs[String]("ap") == "a+b+c")
    assert(r.getAs[String]("z") == "a-1;b-2;c") // unmatched tail passes through
    assert(r.getAs[Double]("ps") == 10.0) // 8/1^1 + 4/2^1
  }

  test("STATS STD_DEV is population stddev; MEDIAN_ABSOLUTE_DEVIATION rejects with the rewrite") {
    val sd = Esql.run("FROM t | STATS sd = STD_DEV(score)", resolve(Map("t" -> people)))
      .collect().head.getDouble(0)
    // scores 30,10,25,5,40: mean 22, pop var 830/5 = 166
    assert(math.abs(sd - math.sqrt(166.0)) < 1e-12)
    assert(intercept[IllegalArgumentException](
      Esql.run("FROM t | STATS m = MEDIAN_ABSOLUTE_DEVIATION(score)", resolve(Map("t" -> people))))
      .getMessage.contains("two passes"))
  }

  test("DATE_PARSE round-trips through DATE_FORMAT; bad input → null; patternless form rejects") {
    val r = Esql.run(
      """ROW d = DATE_FORMAT("yyyy-MM-dd", DATE_PARSE("yyyy/MM/dd", "2024/03/05")),
        bad = DATE_PARSE("yyyy-MM-dd", "not a date")""".replace("\n", " "),
      resolve(Map.empty)).collect().head
    assert(r.getAs[String]("d") == "2024-03-05")
    assert(r.isNullAt(r.fieldIndex("bad")))
    assert(intercept[IllegalArgumentException](
      Esql.run("""ROW x = DATE_PARSE("2024-01-01")""", resolve(Map.empty)))
      .getMessage.contains("strict_date_optional_time"))
  }

  test("TO_IP validates v4 (leading zeros reject → null); IP_PREFIX masks; IPv6 raises loudly") {
    val r = Esql.run(
      """ROW ok = TO_IP("10.20.30.40"), over = TO_IP("999.1.1.1"),
        lz = TO_IP("01.2.3.4"), junk = TO_IP("not-an-ip"),
        p24 = IP_PREFIX("1.2.3.4", 24, 0), p20 = IP_PREFIX("1.2.35.4", 20, 0),
        p0 = IP_PREFIX("1.2.3.4", 0, 0)""".replace("\n", " "),
      resolve(Map.empty)).collect().head
    assert(r.getAs[String]("ok") == "10.20.30.40")
    assert(r.isNullAt(r.fieldIndex("over")))
    assert(r.isNullAt(r.fieldIndex("lz")))
    assert(r.isNullAt(r.fieldIndex("junk")))
    assert(r.getAs[String]("p24") == "1.2.3.0")
    assert(r.getAs[String]("p20") == "1.2.32.0") // 35 & 0xF0 = 32
    assert(r.getAs[String]("p0") == "0.0.0.0")
    // the IPv6 seam is LOUD, not a silent null
    val e6 = intercept[Exception](
      Esql.run("""ROW x = TO_IP("::1")""", resolve(Map.empty)).collect())
    assert(e6.getMessage.contains("IPv6"))
    val e6p = intercept[Exception](
      Esql.run("""ROW x = IP_PREFIX("::1", 24, 64)""", resolve(Map.empty)).collect())
    assert(e6p.getMessage.contains("IPv6"))
    assert(intercept[IllegalArgumentException](
      Esql.run("""ROW x = IP_PREFIX("1.2.3.4", 40, 0)""", resolve(Map.empty)))
      .getMessage.contains("out of range"))
  }

  test("ROUND_TO rounds down to fixed points, clamps below the smallest, keeps null") {
    val r = Esql.run(
      """ROW a = ROUND_TO(250, 0, 100, 200, 400), b = ROUND_TO(99, 0, 100, 200),
        c = ROUND_TO(0 - 5, 0, 100), d = ROUND_TO(400, 0, 100, 200, 400),
        e = ROUND_TO(NULL, 0, 100)""".replace("\n", " "),
      resolve(Map.empty)).collect().head
    assert(r.getAs[Double]("a") == 200.0)
    assert(r.getAs[Double]("b") == 0.0)
    assert(r.getAs[Double]("c") == 0.0) // below the smallest point clamps
    assert(r.getAs[Double]("d") == 400.0)
    assert(r.isNullAt(r.fieldIndex("e")))
    assert(intercept[IllegalArgumentException](
      Esql.run("ROW x = ROUND_TO(5, 100, 0)", resolve(Map.empty)))
      .getMessage.contains("ascending"))
    assert(intercept[IllegalArgumentException](
      Esql.run("ROW x = TO_UNSIGNED_LONG(5)", resolve(Map.empty)))
      .getMessage.contains("unsigned"))
    assert(intercept[IllegalArgumentException](
      Esql.run("""ROW x = TO_TIMEDURATION("2 hour")""", resolve(Map.empty)))
      .getMessage.contains("span values"))
  }

  test("TO_VERSION: sortable semver key — numeric segments, prerelease before release") {
    val out = Esql.run(
      """ROW v = SPLIT("1.10.0,1.2.0,1.0.0-alpha,1.0.0,1.0.0-beta", ",")
        | MV_EXPAND v | EVAL k = TO_VERSION(v) | SORT k | KEEP v""",
      resolve(Map.empty)).as[String].collect()
    assert(out.toSeq ==
      Seq("1.0.0-alpha", "1.0.0-beta", "1.0.0", "1.2.0", "1.10.0"))
  }

  test("named ?params bind as typed literals; unbound/positional/field-name forms reject") {
    val out = Esql.run("""FROM t | WHERE lang == ?l AND score >= ?min | KEEP id | SORT id""",
      resolve(Map("t" -> people)), params = Map("l" -> "en", "min" -> 20.0))
      .as[Long].collect()
    assert(out.toSeq == Seq(1L)) // ada (en, 30); bob (en, 10) misses the bound
    val ev = Esql.run("""ROW x = ?a + 1""", resolve(Map.empty), params = Map("a" -> 41))
      .collect().head
    assert(ev.getInt(0) == 42)
    assert(intercept[IllegalArgumentException](
      Esql.run("FROM t | WHERE lang == ?l", resolve(Map("t" -> people))))
      .getMessage.contains("unbound parameter ?l"))
    assert(intercept[IllegalArgumentException](
      Esql.parse("FROM t | WHERE lang == ?"))
      .getMessage.contains("positional"))
    // ??name (field-name params, 8.15+): the scanner splices a plain
    // identifier token, so typing/pushdown/KEEP all see the real column
    val spliced = Esql.run("FROM t | WHERE ??f == ?v | KEEP id | SORT id",
      resolve(Map("t" -> people)), params = Map("f" -> "id", "v" -> 5L))
    assert(spliced.collect().map(_.getLong(0)).toSeq == Seq(5L))
    assert(intercept[IllegalArgumentException](
      Esql.parse("FROM t | WHERE ??f == 1"))
      .getMessage.contains("unbound ??f"))
    assert(intercept[IllegalArgumentException](
      Esql.run("FROM t | WHERE ??f == 1", resolve(Map("t" -> people)),
        params = Map("f" -> 7)))
      .getMessage.contains("field-name string"))
    assert(intercept[IllegalArgumentException](
      Esql.run("FROM t | WHERE ??f == 1", resolve(Map("t" -> people)),
        params = Map("f" -> "id == 1 OR name")))
      .getMessage.contains("not a field name"))
    assert(intercept[IllegalArgumentException](
      Esql.run("ROW x = ?a", resolve(Map.empty), params = Map("a" -> Seq(1))))
      .getMessage.contains("unsupported type"))
  }

  test("SHOW INFO returns the pinned build constants; date ± span math is calendar-aware") {
    val info = Esql.run("SHOW INFO", resolve(Map.empty)).collect().head
    assert(info.getAs[String]("version") == "8.18.0-graft")
    assert(info.getAs[String]("hash") == "graft")
    assert(intercept[IllegalArgumentException](Esql.parse("SHOW FUNCTIONS"))
      .getMessage.contains("SHOW takes INFO"))
    val r = Esql.run(
      """FROM t | WHERE id == 1
        | EVAL plus = DATE_FORMAT("yyyy-MM-dd HH:mm", ts + 2 hour),
            minus = DATE_FORMAT("yyyy-MM-dd", ts - 1 day),
            mon = DATE_FORMAT("yyyy-MM-dd", ts + 1 month)
        | KEEP plus, minus, mon""",
      resolve(Map("t" -> people))).collect().head
    assert(r.getAs[String]("plus") == "2024-03-01 12:15")
    assert(r.getAs[String]("minus") == "2024-02-29") // leap-year calendar step
    assert(r.getAs[String]("mon") == "2024-04-01")
    // a span is still not a standalone value
    assert(intercept[IllegalArgumentException](
      Esql.run("FROM t | EVAL x = 1 day", resolve(Map("t" -> people))))
      .getMessage.contains("span literal"))
  }

  test("MV_CONCAT is MV_JOIN's ES name; LOCATE takes a start position") {
    val r = Esql.run(
      """ROW c = MV_CONCAT(SPLIT("a,b,c", ","), "-"), j = MV_JOIN(SPLIT("a,b", ","), "+"),
        l = LOCATE("ababab", "ab", 2), l0 = LOCATE("ababab", "zz", 2)""".replace("\n", " "),
      resolve(Map.empty)).collect().head
    assert(r.getAs[String]("c") == "a-b-c")
    assert(r.getAs[String]("j") == "a+b")
    assert(r.getAs[Int]("l") == 3) // 1-based, original-string index
    assert(r.getAs[Int]("l0") == 0)
  }

  test("TS gauge: OUTER(*_OVER_TIME(gauge, series)) is a two-level aggregate — worked example") {
    val m = Seq(
      ("a", "t1", "2024-03-01 10:05:00", 1.0),
      ("a", "t1", "2024-03-01 10:20:00", 5.0),
      ("a", "t1", "2024-03-01 11:10:00", 2.0),
      ("b", "t1", "2024-03-01 10:30:00", 10.0))
      .toDF("pod", "grp", "ts_s", "mem")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val out = Esql.run(
      """TS m | STATS peak = MAX(MAX_OVER_TIME(mem, pod)), lo = MIN(MIN_OVER_TIME(mem, pod)),
          mean_of_max = AVG(MAX_OVER_TIME(mem, pod)), nseries = COUNT(COUNT_OVER_TIME(mem, pod))
          BY grp, b = BUCKET(ts, 1 hour) | SORT b""",
      resolve(Map("m" -> m))).collect()
    assert(out.length == 2)
    val h10 = out(0)
    // bucket 10:00 — series a: max 5 min 1; series b: 10/10 → outer across series
    assert(h10.getAs[Double]("peak") == 10.0)
    assert(h10.getAs[Double]("lo") == 1.0)
    assert(h10.getAs[Double]("mean_of_max") == 7.5)
    assert(h10.getAs[Long]("nseries") == 2L)
    val h11 = out(1)
    assert(h11.getAs[Double]("peak") == 2.0 && h11.getAs[Long]("nseries") == 1L)
    def err(q: String): String =
      intercept[IllegalArgumentException](Esql.run(q, resolve(Map("m" -> m)))).getMessage
    assert(err("TS m | STATS x = MAX_OVER_TIME(mem, pod) BY grp, b = BUCKET(ts, 1 hour)")
      .contains("outer aggregate"))
    assert(err("TS m | STATS x = MAX(LAST_OVER_TIME(mem, pod)) BY grp, b = BUCKET(ts, 1 hour)")
      .contains("arrival order"))
    assert(err("TS m | STATS x = MAX(MAX_OVER_TIME(mem)) BY grp, b = BUCKET(ts, 1 hour)")
      .contains("series identity"))
    assert(err("""TS m | STATS x = MAX(MAX_OVER_TIME(mem, pod)), r = RATE(mem, pod)
        BY grp, b = BUCKET(ts, 1 hour)""").contains("separate TS STATS"))
    assert(err("FROM m | STATS x = MAX(MAX_OVER_TIME(mem, pod)) BY grp, b = BUCKET(ts, 1 hour)")
      .contains("start the program with TS"))
  }

  test("TS gauge ROUND(AVG) is an exact DECIMAL mean: half-boundary rounds HALF_UP, order-free") {
    // r19 determinism fix: a double AVG is partition-order-dependent and
    // ROUND does not pin a mean sitting exactly ON the half boundary —
    // the esql_ts_gauge driver flake (group mean exactly 36.36625). The
    // rounded AVG/SUM path accumulates in DECIMAL; this fixture's series
    // mins average to exactly 1.00005, which must round UP to 1.0001 in
    // every run regardless of partitioning (the old double path flips
    // with summation order).
    val m = Seq(
      ("a", "t1", "2024-03-01 10:05:00", 1.0000),
      ("b", "t1", "2024-03-01 10:20:00", 1.0001))
      .toDF("pod", "grp", "ts_s", "mem")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val out = Esql.run(
      """TS m | STATS fa = ROUND(AVG(MIN_OVER_TIME(mem, pod)), 4),
          fs = ROUND(SUM(MIN_OVER_TIME(mem, pod)), 4)
          BY grp, b = BUCKET(ts, 1 hour)""",
      resolve(Map("m" -> m))).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Double]("fa") == 1.0001) // exact HALF_UP of 1.00005
    assert(out(0).getAs[Double]("fs") == 2.0001)
    // output stays double (the oracle's round(avg(...),4) type)
    assert(out(0).schema("fa").dataType.typeName == "double")
    // the nearest-double-BELOW-the-boundary class (the r19 review's find):
    // 7×557.46 + 557.47 has mean exactly 557.46125, whose nearest double is
    // BELOW the boundary — a double-rounding engine (or an oracle that
    // rounds avg's DOUBLE return directly) says 557.4612; the exact DECIMAL
    // mean must say 557.4613 in every run
    val m2 = (1 to 7).map(i => (s"p$i", "t1", "2024-03-01 10:05:00", 557.46)) :+
      (("p8", "t1", "2024-03-01 10:05:00", 557.47))
    val out2 = Esql.run(
      """TS m | STATS fa = ROUND(AVG(MIN_OVER_TIME(mem, pod)), 4)
          BY grp, b = BUCKET(ts, 1 hour)""",
      resolve(Map("m" -> m2.toDF("pod", "grp", "ts_s", "mem")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")))).collect()
    assert(out2(0).getAs[Double]("fa") == 557.4613)
    // non-finite gauges reject loudly instead of silently nulling out of
    // the DECIMAL accumulation
    val mBad = Seq(("a", "t1", "2024-03-01 10:05:00", Double.NaN))
      .toDF("pod", "grp", "ts_s", "mem")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val thrown = intercept[Exception](Esql.run(
      """TS m | STATS fa = ROUND(AVG(MIN_OVER_TIME(mem, pod)), 4)
          BY grp, b = BUCKET(ts, 1 hour)""",
      resolve(Map("m" -> mBad))).collect())
    assert(thrown.getMessage.contains("finite gauge") ||
      Option(thrown.getCause).exists(_.getMessage.contains("finite gauge")))
  }

  test("ST_* spatial family: even-odd relations, holes, WKT axis order, haversine") {
    val sq = """POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"""
    val holed = """POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"""
    val r = Esql.run(
      s"""ROW in1 = ST_INTERSECTS(TO_GEOPOINT("POINT (5 5)"), TO_GEOSHAPE("$sq")),
        out1 = ST_INTERSECTS(TO_GEOPOINT("POINT (15 5)"), TO_GEOSHAPE("$sq")),
        w = ST_WITHIN(TO_GEOPOINT("POINT (5 5)"), TO_GEOSHAPE("$sq")),
        c = ST_CONTAINS(TO_GEOSHAPE("$sq"), TO_GEOPOINT("POINT (5 5)")),
        dj = ST_DISJOINT(TO_GEOPOINT("POINT (15 5)"), TO_GEOSHAPE("$sq")),
        hole = ST_INTERSECTS(TO_GEOPOINT("POINT (5 5)"), TO_GEOSHAPE("$holed")),
        rim = ST_INTERSECTS(TO_GEOPOINT("POINT (2 2)"), TO_GEOSHAPE("$holed")),
        x = ST_X(TO_GEOPOINT("POINT (3.5 -7.25)")), y = ST_Y(TO_GEOPOINT("POINT (3.5 -7.25)")),
        pp = ST_INTERSECTS(TO_GEOPOINT("POINT (1 2)"), TO_GEOPOINT("POINT (1 2)")),
        ppd = ST_DISJOINT(TO_GEOPOINT("POINT (1 2)"), TO_GEOPOINT("POINT (1 3)")),
        d0 = ST_DISTANCE(TO_GEOPOINT("POINT (10 20)"), TO_GEOPOINT("POINT (10 20)")),
        d1 = ST_DISTANCE(TO_GEOPOINT("POINT (0 0)"), TO_GEOPOINT("POINT (1 0)")),
        nullpt = ST_DISJOINT(TO_GEOPOINT("nonsense"), TO_GEOSHAPE("$sq"))""".replace("\n", " "),
      resolve(Map.empty)).collect().head
    assert(r.getAs[Boolean]("in1")); assert(!r.getAs[Boolean]("out1"))
    assert(r.getAs[Boolean]("w")); assert(r.getAs[Boolean]("c"))
    assert(r.getAs[Boolean]("dj"))
    assert(!r.getAs[Boolean]("hole")) // inside the hole = outside the shape
    assert(r.getAs[Boolean]("rim")) // between outer ring and hole
    assert(r.getAs[Double]("x") == 3.5) // WKT is x y = lon lat
    assert(r.getAs[Double]("y") == -7.25)
    assert(r.getAs[Boolean]("pp")); assert(r.getAs[Boolean]("ppd"))
    assert(r.getAs[Double]("d0") == 0.0)
    // one degree of longitude on the equator: π·R/180 over ES's mean radius
    assert(math.abs(r.getAs[Double]("d1") - math.Pi * 6371008.7714 / 180) < 1e-6)
    // a null point matches neither a relation nor its complement
    assert(!r.getAs[Boolean]("nullpt"))
  }

  test("ST_* argument-order and shape-literal rules reject loudly") {
    val sq = """POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"""
    def err(q: String): String =
      intercept[IllegalArgumentException](Esql.run(q, resolve(Map.empty))).getMessage
    assert(err(s"""ROW a = ST_WITHIN(TO_GEOSHAPE("$sq"), TO_GEOPOINT("POINT (5 5)"))""")
      .contains("ST_WITHIN(point, shape)"))
    assert(err(s"""ROW a = ST_CONTAINS(TO_GEOPOINT("POINT (5 5)"), TO_GEOSHAPE("$sq"))""")
      .contains("ST_CONTAINS(shape, point)"))
    assert(err(s"""ROW a = TO_GEOSHAPE("$sq")""").contains("literal shape argument"))
    assert(err(s"""ROW a = ST_INTERSECTS(TO_GEOSHAPE("$sq"), TO_GEOSHAPE("$sq"))""")
      .contains("constant"))
    assert(err("""ROW a = ST_INTERSECTS(TO_GEOPOINT("POINT (1 1)"), TO_GEOSHAPE("LINESTRING (0 0, 1 1)"))""")
      .contains("POLYGON"))
  }

  test("CHANGE_POINT marks the step-change row; inference commands reject loudly") {
    val series = Seq(1 -> 10, 2 -> 10, 3 -> 10, 4 -> 10, 5 -> 50, 6 -> 50, 7 -> 50, 8 -> 50)
      .toDF("k", "v")
    val out = Esql.run("FROM t | CHANGE_POINT v ON k | SORT k",
      resolve(Map("t" -> series))).collect()
    assert(out.length == 8) // rows pass through
    val marked = out.filter(!_.isNullAt(out.head.fieldIndex("type")))
    assert(marked.map(_.getAs[Int]("k")).toSeq == Seq(5)) // first bucket of the new regime
    assert(marked.head.getAs[String]("type") == "step_change")
    assert(marked.head.getAs[Double]("pvalue") == 40.0) // the mean-shift magnitude
    // RERANK now parses (WITH map required); COMPLETION stays the loud
    // generation seam
    assert(intercept[IllegalArgumentException](
      Esql.parse("FROM t | RERANK \"q\" ON text"))
      .getMessage.contains("query ends where a token is expected"))
    assert(intercept[IllegalArgumentException](
      Esql.parse("FROM t | COMPLETION p WITH m"))
      .getMessage.contains("generation endpoint"))
  }

  test("review pins: KNN k bound, analyzer-MATCH under _score names its seam") {
    val docs = Seq((1L, "a b", Seq(0.5, 0.5))).toDF("doc_id", "text", "embedding")
    assert(intercept[IllegalArgumentException](
      Esql.run("""FROM t | WHERE KNN(embedding, [0.5, 0.5], {"k": 4294967297, "tiebreak": "doc_id"}) | KEEP doc_id""",
        resolve(Map("t" -> docs))).collect())
      .getMessage.contains("1..10000"))
    assert(intercept[IllegalArgumentException](
      Esql.run("""FROM t METADATA _score | WHERE MATCH(text, "merging", {"analyzer": "english"}) | KEEP doc_id""",
        resolve(Map("t" -> docs))).collect())
      .getMessage.contains("analyzer-optioned MATCH does not score"))
  }

  test("MATCH analyzer option: english stems both sides; unknown analyzers reject") {
    val docs = Seq(
      (1L, "the system merges tables"),
      (2L, "a merged run"),
      (3L, "nothing relevant")
    ).toDF("doc_id", "text")
    // query-side inflection meets the corpus at the stem — the default
    // analyzer finds only nothing, english finds docs 1 and 2
    val en = Esql.run(
      """FROM t | WHERE MATCH(text, "merging", {"analyzer": "english"}) | KEEP doc_id""",
      resolve(Map("t" -> docs))).collect().map(_.getLong(0)).toSet
    assert(en == Set(1L, 2L))
    val std = Esql.run(
      """FROM t | WHERE MATCH(text, "merging") | KEEP doc_id""",
      resolve(Map("t" -> docs))).collect()
    assert(std.isEmpty)
    def err(q: String) = intercept[IllegalArgumentException](
      Esql.run(q, resolve(Map("t" -> docs))).collect()).getMessage
    assert(err("""FROM t | WHERE MATCH(text, "x", {"analyzer": "klingon"}) | KEEP doc_id""")
      .contains("unknown MATCH analyzer"))
    assert(err("""FROM t | WHERE MATCH(text, "x", {"boost": 2}) | KEEP doc_id""")
      .contains("unknown MATCH option"))
    // the english analyzer drops a stopword-only query loudly
    assert(err("""FROM t | WHERE MATCH(text, "the a", {"analyzer": "english"}) | KEEP doc_id""")
      .contains("no analyzable terms"))
  }

  test("RERANK: registered deterministic scorers; model ids stay the loud seam") {
    val docs = Seq(
      (1L, "dup vector scan merge"),   // bigram jaccard 1.0
      (2L, "vector scan extra words"), // shares 'vector scan'
      (3L, "scan vector"),             // reversed: shares NO bigram
      (4L, "unrelated entirely here")
    ).toDF("doc_id", "text")
    val out = Esql.run(
      """FROM t | RERANK j = "dup vector scan merge" ON text WITH {"inference_id": "ngram-jaccard"}
        | KEEP doc_id, j | SORT j DESC, doc_id""",
      resolve(Map("t" -> docs))).as[(Long, Double)].collect().toSeq
    assert(out.head == ((1L, 1.0)))
    // doc 2: sh = {vector scan, scan extra, extra words}; q = {dup vector,
    // vector scan, scan merge} → inter 1, union 5
    assert(out(1) == ((2L, 0.2)))
    assert(out.map(_._1).drop(2).toSet == Set(3L, 4L))
    assert(out.filter(r => r._1 == 3L || r._1 == 4L).forall(_._2 == 0.0))
    // bm25 scorer ≡ scored over the same frame (frame-local statistics)
    val bm = Esql.run(
      """FROM t | RERANK s = "vector scan" ON text WITH {"inference_id": "bm25"}
        | KEEP doc_id, s | SORT doc_id""",
      resolve(Map("t" -> docs))).as[(Long, Double)].collect().toMap
    val analyzed = concat(lit(" "), graft.expr.TextMatch.normalized(col("text")), lit(" "))
    val direct = Bm25.scored(docs, "doc_id", analyzed, Bm25.Terms.words("vector scan"))
      .as[(Long, Double)].collect().toMap
    direct.foreach { case (id, s) => assert(math.abs(bm(id) - s) < 1e-12, s"doc $id") }
    assert(bm(4L) == 0.0, "non-matching rows keep score 0 — rows preserved")
    // no target and no METADATA _score → loud; with METADATA it writes _score
    assert(intercept[IllegalArgumentException](
      Esql.run("""FROM t | RERANK "a b" ON text WITH {"inference_id": "bm25"} | KEEP doc_id""",
        resolve(Map("t" -> docs))).collect())
      .getMessage.contains("METADATA"))
    val viaScore = Esql.run(
      """FROM t METADATA _score | RERANK "vector scan" ON text WITH {"inference_id": "bm25"}
        | KEEP doc_id, _score | SORT doc_id""",
      resolve(Map("t" -> docs))).as[(Long, Double)].collect().toMap
    assert(viaScore == bm.map { case (k, v) => k -> v })
    // model endpoints stay loud; unknown options too
    assert(intercept[IllegalArgumentException](
      Esql.run("""FROM t | RERANK s = "a b" ON text WITH {"inference_id": ".rerank-v1"} | KEEP s""",
        resolve(Map("t" -> docs))).collect())
      .getMessage.contains("inference seam"))
    assert(intercept[IllegalArgumentException](
      Esql.run("""FROM t | RERANK s = "a b" ON text WITH {"inference_id": "bm25", "top_n": 3} | KEEP s""",
        resolve(Map("t" -> docs))).collect())
      .getMessage.contains("unknown RERANK option"))
  }

  // ----- BUCKET / spans -----

  test("BUCKET fixed-width spans; DATE_TRUNC multi-unit and calendar BUCKET reject") {
    val out = Esql.run(
      """FROM t | STATS n = COUNT(*) BY b = BUCKET(ts, 12 hours) | SORT b""",
      resolve(Map("t" -> people))).collect()
    assert(out.map(_.getAs[Long]("n")).toSeq == Seq(2L, 1L, 1L, 1L))
    assert(intercept[IllegalArgumentException](
      Esql.run("FROM t | EVAL d = DATE_TRUNC(3 day, ts)", resolve(Map("t" -> people))))
      .getMessage.contains("BUCKET"))
    assert(intercept[IllegalArgumentException](
      Esql.run("FROM t | EVAL d = BUCKET(ts, 1 month)", resolve(Map("t" -> people))))
      .getMessage.contains("calendar-variable"))
  }

  test("MATCH is analyzed-OR, MATCH_PHRASE contiguous-in-order; QSTR names its seam") {
    val docs = Seq((1L, "the quick brown fox"), (2L, "quick silver"), (3L, "brown paper"),
      (4L, "fox brown")).toDF("id", "text")
    val or = Esql.run("""FROM t | WHERE MATCH(text, "quick fox") | KEEP id | SORT id""",
      resolve(Map("t" -> docs))).as[Long].collect()
    assert(or.toSeq == Seq(1L, 2L, 4L)) // any analyzed term matches
    val ph = Esql.run("""FROM t | WHERE MATCH_PHRASE(text, "brown fox") | KEEP id""",
      resolve(Map("t" -> docs))).as[Long].collect()
    assert(ph.toSeq == Seq(1L)) // doc4 has the terms out of order
    assert(intercept[IllegalArgumentException](
      Esql.run("""FROM t | WHERE MATCH(text, "...")""", resolve(Map("t" -> docs))))
      .getMessage.contains("no analyzable"))
  }

  test("QSTR/KQL compile through the query_string/KQL parsers with the default-field seam") {
    val docs = Seq((1L, "the quick brown fox", 10L), (2L, "quick silver", 25L),
      (3L, "brown paper", 30L), (4L, "fox brown", 5L)).toDF("id", "text", "n")
    // QSTR: full Lucene query_string — field clauses, booleans, prefix
    val qs = Esql.run(
      """FROM t | WHERE QSTR("qui* AND NOT silver") | KEEP id | SORT id""",
      resolve(Map("t" -> docs)), defaultField = Some("text")).as[Long].collect()
    assert(qs.toSeq == Seq(1L))
    // KQL: keywords case-insensitive, field:value, range comparison
    val kq = Esql.run(
      """FROM t | WHERE KQL("text:brown and n >= 10") | KEEP id | SORT id""",
      resolve(Map("t" -> docs)), defaultField = Some("text")).as[Long].collect()
    assert(kq.toSeq == Seq(1L, 3L))
    // missing the seam -> loud reject naming the option
    Seq("QSTR", "KQL").foreach { fn =>
      assert(intercept[IllegalArgumentException](
        Esql.run(s"""FROM t | WHERE $fn("quick")""", resolve(Map("t" -> docs))))
        .getMessage.contains("default_field"))
    }
  }

  test("STATS per-aggregate WHERE filters one entry without a second scan") {
    val r = Esql.run(
      """FROM t | STATS en = COUNT(*) WHERE lang == "en", total = SUM(score) WHERE score > 20, n = COUNT(*)""",
      resolve(Map("t" -> people))).collect().head
    assert(r.getAs[Long]("en") == 2L)
    assert(r.getAs[Double]("total") == 95.0) // 30 + 25 + 40
    assert(r.getAs[Long]("n") == 5L)
    // the filter threads through expressions over aggregates
    val e = Esql.run(
      """FROM t | STATS m = ROUND(SUM(score) / COUNT(*), 1) WHERE lang == "en" BY lang | SORT lang NULLS LAST""",
      resolve(Map("t" -> people))).collect()
    assert(Option(e.head.getAs[java.lang.Double]("m")).isEmpty ||
      e.map(r2 => Option(r2.getAs[java.lang.Double]("m"))).flatten.contains(20.0))
    // outside STATS it rejects
    assert(intercept[IllegalArgumentException](
      Esql.run("""FROM t | EVAL x = score WHERE lang == "en"""", resolve(Map("t" -> people))))
      .getMessage.nonEmpty)
  }

  test("WEIGHTED_AVG is one fixed sum(v*w)/sum(w) tree") {
    val r = Esql.run(
      """FROM t | STATS wa = WEIGHTED_AVG(score, id)""",
      resolve(Map("t" -> people))).collect().head
    // (30*1 + 10*2 + 25*3 + 5*4 + 40*5) / 15 = 345/15 = 23
    assert(r.getAs[Double]("wa") == 23.0)
  }

  test("BUCKET auto-width form picks the smallest fitting ladder rung from literal bounds") {
    val out = Esql.run(
      """FROM t | STATS n = COUNT(*) BY b = BUCKET(ts, 4, "2024-03-01 00:00:00", "2024-03-03 00:00:00") | SORT b""",
      resolve(Map("t" -> people)))
    // 48h span / 4 buckets -> 12h rung (the 12h case from the span test)
    assert(out.collect().map(_.getAs[Long]("n")).toSeq == Seq(2L, 1L, 1L, 1L))
    assert(intercept[IllegalArgumentException](
      Esql.run("""FROM t | EVAL b = BUCKET(ts, 4, score, "2024-03-03 00:00:00")""",
        resolve(Map("t" -> people))))
      .getMessage.contains("datetime literals"))
  }

  test("function padding: constants, trunc-toward-zero, hashes, base64, cidr") {
    val r = Esql.run(
      """ROW pi = PI(), t1 = TRUNC(-2.7), t2 = TRUNC(2.789, 2), sg = SIGNUM(-5),
        rv = REVERSE("abc"), rp = REPEAT("ab", 3), bl = BIT_LENGTH("ab"),
        h = MD5("spark"), b64 = TO_BASE64("hi"), rt = FROM_BASE64(TO_BASE64("hi")),
        c1 = CIDR_MATCH("10.1.2.3", "10.0.0.0/8"), c2 = CIDR_MATCH("11.1.2.3", "10.0.0.0/8", "192.168.0.0/16")""".replace("\n", " "),
      resolve(Map.empty)).collect().head
    assert(r.getAs[Double]("pi") == math.Pi)
    assert(r.getAs[Double]("t1") == -2.0) // toward zero, not floor
    assert(r.getAs[Double]("t2") == 2.78)
    assert(r.getAs[Double]("sg") == -1.0)
    assert(r.getAs[String]("rv") == "cba")
    assert(r.getAs[String]("rp") == "ababab")
    assert(r.getAs[Int]("bl") == 16)
    assert(r.getAs[String]("h") == "98f11b7a7880169c3bd62a5a507b3965")
    assert(r.getAs[String]("b64") == "aGk=")
    assert(r.getAs[String]("rt") == "hi")
    assert(r.getAs[Boolean]("c1"))
    assert(!r.getAs[Boolean]("c2"))
    assert(intercept[IllegalArgumentException](
      Esql.run("""ROW x = CIDR_MATCH("1.2.3.4", "10.0.0.0/40")""", resolve(Map.empty)))
      .getMessage.contains("prefix out of range"))
  }

  // ----- script_score seam -----

  test("Esql.column compiles a standalone expression; trailing input rejects") {
    val out = people.withColumn("s", Esql.column("""score * 2 + CASE(lang == "en", 5, 0)"""))
      .orderBy("id").select("s").as[Double].collect()
    assert(out.toSeq == Seq(65.0, 25.0, 50.0, 10.0, 80.0))
    assert(intercept[IllegalArgumentException](Esql.column("score score"))
      .getMessage.contains("trailing input"))
  }

  // ----- plan shapes -----

  test("WHERE pushes to the parquet scan and KEEP prunes the read schema") {
    val dir = java.nio.file.Files.createTempDirectory("esql_plan").toString
    people.write.mode("overwrite").parquet(s"$dir/people")
    val read = spark.read.parquet(s"$dir/people")
    val out = Esql.run("FROM p | WHERE id > 2 | KEEP id, name",
      resolve(Map("p" -> read)))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,2)]"), s"no pushdown:\n$plan")
    assert(plan.contains("ReadSchema: struct<id:bigint,name:string>"), s"no pruning:\n$plan")
    // a KQL range comparison inside WHERE stays pushdown-eligible — the
    // grammar compiles to the same typed-literal TermRange the DSL uses
    val kql = Esql.run("""FROM p | WHERE KQL("id >= 3") | KEEP id""",
      resolve(Map("p" -> read)), defaultField = Some("name"))
    val kplan = kql.queryExecution.executedPlan.toString
    assert(kplan.contains("GreaterThanOrEqual(id,3)"), s"KQL range not pushed:\n$kplan")
  }

  test("SORT + LIMIT fuses to TakeOrderedAndProject (top-K, no global sort)") {
    val out = Esql.run("FROM t | SORT score DESC | LIMIT 2 | KEEP name",
      resolve(Map("t" -> people)))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-K:\n$plan")
  }

  // ----- KNN + multivalue literals -----

  private lazy val vecs = Seq(
    (1L, Array(1.0, 0.0), "a"),
    (2L, Array(0.9, 0.1), "a"),
    (3L, Array(0.0, 1.0), "b"),
    (4L, Array(0.7, 0.7), "b"),
    (5L, Array(-1.0, 0.0), "a"))
    .toDF("id", "v", "tag")

  test("multivalue literal [v1, v2, …] compiles to an array") {
    val out = Esql.run("ROW v = [1, 2, 3] | EVAL s = MV_SUM(v), n = MV_COUNT(v)",
      resolve(Map.empty))
    val r = out.collect().head
    assert(r.getAs[Number]("s").doubleValue() == 6.0)
    assert(r.getAs[Number]("n").intValue() == 3)
  }

  test("KNN keeps the k nearest by the stated metric; filter context drops the score") {
    // query [1,0]: cosines — id1: 1.0, id2: .9939, id4: .7071, id3: 0, id5: -1
    val out = Esql.run(
      """FROM t | WHERE KNN(v, [1.0, 0.0], {"k": 3, "tiebreak": "id"}) | KEEP id | SORT id""",
      resolve(Map("t" -> vecs)))
    assert(out.columns.toSeq == Seq("id"))
    assert(out.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L))
  }

  test("KNN writes METADATA _score with ES's transform; boost multiplies it") {
    val out = Esql.run(
      """FROM t METADATA _score
        | WHERE KNN(v, [2.0, 0.0], {"k": 1, "metric": "dot_product", "tiebreak": "id"})
        | KEEP id, _score""",
      resolve(Map("t" -> vecs)))
    val r = out.collect().head
    assert(r.getLong(0) == 1L)
    assert(r.getDouble(1) == 1.5) // (1 + 2.0) / 2
    val boosted = Esql.run(
      """FROM t METADATA _score | WHERE KNN(v, [2.0, 0.0], {"k": 1, "metric": "dot_product", "tiebreak": "id", "boost": 2.0}) | KEEP _score""",
      resolve(Map("t" -> vecs)))
    assert(boosted.collect().head.getDouble(0) == 3.0)
  }

  test("KNN l2_norm scores 1/(1+d²); similarity thresholds the raw metric") {
    val l2 = Esql.run(
      """FROM t METADATA _score | WHERE KNN(v, [1.0, 0.0], {"k": 2, "metric": "l2_norm", "tiebreak": "id"}) | KEEP id, _score | SORT id""",
      resolve(Map("t" -> vecs)))
    val rows = l2.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows(0).getDouble(1) == 1.0)
    assert(math.abs(rows(1).getDouble(1) - 1.0 / 1.02) < 1e-12)
    // similarity: raw cosine >= 0.8 keeps only ids 1 and 2 even at k=5
    val thr = Esql.run(
      """FROM t | WHERE KNN(v, [1.0, 0.0], {"k": 5, "similarity": 0.8, "tiebreak": "id"}) | KEEP id | SORT id""",
      resolve(Map("t" -> vecs)))
    assert(thr.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("KNN pre-filter (same WHERE) vs post-filter (later WHERE) diverge — ES's rule") {
    // pre: restrict to tag b FIRST, then take the 2 nearest of those → {3, 4}
    val pre = Esql.run(
      """FROM t | WHERE tag == "b" AND KNN(v, [1.0, 0.0], {"k": 2, "tiebreak": "id"}) | KEEP id | SORT id""",
      resolve(Map("t" -> vecs)))
    assert(pre.collect().map(_.getLong(0)).toSeq == Seq(3L, 4L))
    // post: the 2 nearest are {1, 2} (both tag a) — filtering after leaves nothing
    val post = Esql.run(
      """FROM t | WHERE KNN(v, [1.0, 0.0], {"k": 2, "tiebreak": "id"}) | WHERE tag == "b" | KEEP id""",
      resolve(Map("t" -> vecs)))
    assert(post.count() == 0L)
  }

  test("KNN compiles to one distributed top-k — TakeOrderedAndProject, no window, no join") {
    val out = Esql.run(
      """FROM t | WHERE tag == "a" AND KNN(v, [1.0, 0.0], {"k": 2, "tiebreak": "id"}) | KEEP id""",
      resolve(Map("t" -> vecs)))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-K:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
  }

  test("KNN placement, options, and seam rejects are loud") {
    def err(q: String): String =
      intercept[IllegalArgumentException](
        Esql.run(q, resolve(Map("t" -> vecs))).collect()).getMessage
    assert(err("""FROM t | WHERE KNN(v, [1.0, 0.0], {"k": 2, "tiebreak": "id"}) OR id == 5 | KEEP id""")
      .contains("bare top-level conjunct"))
    assert(err("""FROM t | WHERE NOT KNN(v, [1.0, 0.0], {"k": 2, "tiebreak": "id"}) | KEEP id""")
      .contains("bare top-level conjunct"))
    assert(err("""FROM t | EVAL x = KNN(v, [1.0, 0.0], {"k": 2, "tiebreak": "id"}) | KEEP x""")
      .contains("only valid as a bare top-level conjunct of WHERE"))
    assert(err("""FROM t | WHERE KNN(v, [1.0], {"k": 1, "tiebreak": "id"}) AND KNN(v, [0.0, 1.0], {"k": 1, "tiebreak": "id"}) | KEEP id""")
      .contains("one KNN per WHERE"))
    assert(err("""FROM t | WHERE KNN(v, [1.0, 0.0]) | KEEP id""")
      .contains("needs its options map"))
    assert(err("""FROM t | WHERE KNN(v, [1.0, 0.0], {"k": 2}) | KEEP id""")
      .contains("tiebreak"))
    assert(err("""FROM t | WHERE KNN(v, [1.0, 0.0], {"k": 2, "tiebreak": "id", "metric": "hamming"}) | KEEP id""")
      .contains("unknown KNN metric"))
    assert(err("""FROM t | WHERE KNN(v, [1.0, 0.0], {"k": 2, "tiebreak": "id", "nprobe": 3}) | KEEP id""")
      .contains("unknown KNN option"))
    assert(err("""FROM t | WHERE KNN(v, [1.0, 0.0], {"k": 2, "tiebreak": "id", "metric": "l2_norm", "similarity": 0.5}) | KEEP id""")
      .contains("ambiguous"))
    assert(err("""FROM t | EVAL m = {"a": 1} | KEEP m""")
      .contains("options map is only valid"))
    assert(err("""FROM t METADATA _score | WHERE KNN(v, [1.0, 0.0], {"k": 2, "tiebreak": "id"}) AND MATCH(name, "ada") | KEEP id""")
      .contains("FORK branches and FUSE"))
  }

  // ----- METADATA _score full-text scoring -----

  test("MATCH under METADATA _score adds its BM25 score; conjuncts sum — worked example") {
    // name: every value is one token, unique → df=1, N=5, dl=1, avgdl=1:
    // idf = ln(1 + (5-1+0.5)/(1+0.5)) = ln(4); tf term = 1.0 → score ln(4)
    val one = Esql.run(
      """FROM t METADATA _score | WHERE MATCH(name, "ada") | KEEP id, _score""",
      resolve(Map("t" -> people)))
    val r1 = one.collect()
    assert(r1.map(_.getLong(0)).toSeq == Seq(1L))
    assert(math.abs(r1.head.getDouble(1) - math.log(4.0)) < 1e-12)
    // second MATCH adds: lang 'en' has df=2; N counts ALL rows (5, the
    // null-lang row included), sumdl skips the null → avgdl = 4/5
    val two = Esql.run(
      """FROM t METADATA _score | WHERE MATCH(name, "ada") AND MATCH(lang, "en") | KEEP id, _score""",
      resolve(Map("t" -> people)))
    val exp2 = math.log(4.0) +
      math.log(1.0 + (5.0 - 2.0 + 0.5) / (2.0 + 0.5)) *
        ((1.0 * 2.2) / (1.0 + 1.2 * (1.0 - 0.75 + 0.75 * (1.0 / 0.8))))
    assert(math.abs(two.collect().head.getDouble(1) - exp2) < 1e-12)
  }

  test("MATCH scoring statistics come from the frame entering the WHERE — stated delta") {
    // pre-filtered to ids {1,2}: N=2, df(ada)=1 → idf = ln(1 + 1.5/1.5) = ln(2)
    val out = Esql.run(
      """FROM t METADATA _score | WHERE id <= 2 | WHERE MATCH(name, "ada") | KEEP _score""",
      resolve(Map("t" -> people)))
    assert(math.abs(out.collect().head.getDouble(0) - math.log(2.0)) < 1e-12)
  }

  test("scored-WHERE seams reject loudly: OR/NOT placement, QSTR/MULTI_MATCH scoring") {
    def err(q: String): String =
      intercept[IllegalArgumentException](
        Esql.run(q, resolve(Map("t" -> people)), defaultField = Some("name")).collect()).getMessage
    assert(err("""FROM t METADATA _score | WHERE MATCH(name, "ada") OR id == 5 | KEEP id""")
      .contains("bare top-level MATCH"))
    assert(err("""FROM t METADATA _score | WHERE NOT MATCH(name, "ada") | KEEP id""")
      .contains("bare top-level MATCH"))
    assert(err("""FROM t METADATA _score | WHERE QSTR("ada") | KEEP id""")
      .contains("bare top-level MATCH"))
    assert(err("""FROM t METADATA _score | WHERE MULTI_MATCH("ada", name, lang) | KEEP id""")
      .contains("bare top-level MATCH"))
    // without METADATA _score the same programs are plain filters
    val plain = Esql.run("""FROM t | WHERE MATCH_PHRASE(name, "ada") | KEEP id""",
      resolve(Map("t" -> people)))
    assert(plain.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("MATCH_PHRASE under METADATA _score scores as one pseudo-term — worked example") {
    val docs = Seq(
      (1L, "big data spark"),   // phrase tf 1, dl 3
      (2L, "data big"),         // reversed: tf 0 — excluded by the filter
      (3L, "big data big data") // tf 2, dl 4
    ).toDF("doc_id", "text")
    val out = Esql.run(
      """FROM t METADATA _score | WHERE MATCH_PHRASE(text, "big data")
        | KEEP doc_id, _score | SORT _score DESC, doc_id""",
      resolve(Map("t" -> docs))).collect()
    // phrase DF = 2 of N = 3, sumdl 9, avgdl 3:
    val idf = math.log(1.0 + (3.0 - 2.0 + 0.5) / (2.0 + 0.5))
    val s1 = idf * (1.0 * 2.2) / (1.0 + 1.2 * (1.0 - 0.75 + 0.75 * 3.0 / 3.0))
    val s3 = idf * (2.0 * 2.2) / (2.0 + 1.2 * (1.0 - 0.75 + 0.75 * 4.0 / 3.0))
    assert(out.map(_.getLong(0)).toSeq == Seq(3L, 1L))
    assert(math.abs(out(0).getDouble(1) - s3) < 1e-12)
    assert(math.abs(out(1).getDouble(1) - s1) < 1e-12)
    // the MATCH twin ranks doc 2 too (terms in any order) — the phrase
    // filter's teeth
    val loose = Esql.run(
      """FROM t | WHERE MATCH(text, "big data") | KEEP doc_id""",
      resolve(Map("t" -> docs))).collect().map(_.getLong(0)).toSet
    assert(loose == Set(1L, 2L, 3L))
  }

  test("MULTI_MATCH: type × operator match sets, option rejects") {
    val docs = Seq(
      (1L, "alpha beta", "misc"),   // both terms in ONE field
      (2L, "alpha x", "beta y"),    // split across fields
      (3L, "alpha only", "zz"),     // one term only
      (4L, "zz", "ww")              // neither
    ).toDF("id", "a", "b")
    def ids(q: String): Set[Long] =
      Esql.run(q, resolve(Map("t" -> docs))).collect().map(_.getLong(0)).toSet
    // default best_fields × or: any term in any field
    assert(ids("""FROM t | WHERE MULTI_MATCH("alpha beta", a, b) | KEEP id""") ==
      Set(1L, 2L, 3L))
    // best_fields × and: one field must hold EVERY term — doc 2 drops
    assert(ids("""FROM t | WHERE MULTI_MATCH("alpha beta", a, b, {"operator": "and"}) | KEEP id""") ==
      Set(1L))
    // cross_fields × and: each term in at least one field — doc 2 stays
    assert(ids("""FROM t | WHERE MULTI_MATCH("alpha beta", a, b, {"type": "cross_fields", "operator": "and"}) | KEEP id""") ==
      Set(1L, 2L))
    // most_fields has best_fields' match set in filter context
    assert(ids("""FROM t | WHERE MULTI_MATCH("alpha beta", a, b, {"type": "most_fields"}) | KEEP id""") ==
      Set(1L, 2L, 3L))
    def err(q: String): String =
      intercept[IllegalArgumentException](
        Esql.run(q, resolve(Map("t" -> docs))).collect()).getMessage
    assert(err("""FROM t | WHERE MULTI_MATCH("alpha", a, b, {"boost": 2}) | KEEP id""")
      .contains("unknown MULTI_MATCH option"))
    assert(err("""FROM t | WHERE MULTI_MATCH("alpha", a, b, {"type": "phrase"}) | KEEP id""")
      .contains("best_fields|cross_fields|most_fields"))
    assert(err("""FROM t | WHERE MULTI_MATCH("alpha") | KEEP id""")
      .contains("MULTI_MATCH"))
  }

  test("ENRICH range policy: inclusive bands, out-of-range null, overlap raises") {
    val bands = Seq((1, 10, "small"), (11, 25, "mid"), (26, 50, "large"))
      .toDF("lo", "hi", "band")
    val vals = Seq((1L, 10), (2L, 11), (3L, 26), (4L, 99)).toDF("id", "v")
    def policy(b: org.apache.spark.sql.DataFrame) = Map(
      "bands" -> Esql.EnrichPolicy(b, "lo", Seq("band"),
        policyType = "range", rangeLowField = "lo", rangeHighField = "hi"))
    val out = Esql.run(
      """FROM t | ENRICH bands ON v WITH band | KEEP id, band | SORT id""",
      resolve(Map("t" -> vals)), policy(bands)).collect()
    // boundaries are INCLUSIVE both ends; 99 is outside every band → null
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "small"), (2L, "mid"), (3L, "large"), (4L, null)))
    // WITH rename works through the range path too
    val renamed = Esql.run(
      """FROM t | ENRICH bands ON v WITH size_band = band | KEEP size_band | SORT size_band""",
      resolve(Map("t" -> vals)), policy(bands))
    assert(renamed.columns.toSeq == Seq("size_band"))
    // overlapping ranges raise in-plan (ES would answer multivalued)
    val overlapping = Seq((1, 10, "a"), (5, 20, "b")).toDF("lo", "hi", "band")
    val e = intercept[Exception](
      Esql.run("""FROM t | ENRICH bands ON v WITH band | KEEP id""",
        resolve(Map("t" -> vals)), policy(overlapping)).collect())
    assert(e.getMessage.contains("overlapping"))
    // a range policy without bounds fields rejects at construction
    intercept[IllegalArgumentException](
      Esql.EnrichPolicy(bands, "lo", Seq("band"), policyType = "range"))
  }
}
