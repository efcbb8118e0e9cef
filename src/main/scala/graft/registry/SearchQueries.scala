package graft
package registry

import graft.query.FilterSpec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import SparkEntry._
import OracleSql._

/** Search predicates (§2.4, Q1-Q9) and the later predicate shapes:
  * geo_shape, simple_query_string, script_score, nested KQL.
  */
object SearchQueries extends Family("serving") {

  /** q_geo_shape_multi's rings, shared verbatim by the query and its
    * oracle renderer: outer square, centered hole, disjoint second
    * component (east).
    */
  private val geoMultiRings: Seq[Seq[(Double, Double)]] = Seq(
    Seq((-50.0, -160.0), (50.0, -160.0), (50.0, -40.0), (-50.0, -40.0)),
    Seq((-20.0, -120.0), (20.0, -120.0), (20.0, -80.0), (-20.0, -80.0)),
    Seq((-30.0, 60.0), (30.0, 60.0), (30.0, 120.0), (-30.0, 120.0)))

  /** The documents `spec` matches, as `(doc_id, lang)` by doc_id — the
    * result shape of every search-bar query here and in
    * [[QueryStringQueries]].
    */
  private[registry] def matchingDocs(dir: String, spec: FilterSpec)(
      implicit spark: SparkSession): DataFrame =
    load(dir, "documents").where(spec.compile)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** The docs with a 'spark … scan' window (at most 5 gaps) that does,
    * or with `containing = false` does not, contain 'vector' — the
    * intervals filter pair's oracle.
    */
  private def vectorInSpanOracleSql(containing: Boolean): String = {
    val exists = if (containing) "EXISTS" else "NOT EXISTS"
    s"""WITH ${tokenPositionCtesSql(
      ("a", "p1", "toks[u.i] = 'spark'"),
      ("b", "p2", "toks[u.i] = 'scan'"))}, iv AS (
       |  SELECT a.doc_id, p1, p2 FROM a JOIN b USING (doc_id)
       |  WHERE p2 > p1 AND p2 - p1 - 1 <= 5
       |)
       |SELECT DISTINCT t.doc_id, t.lang
       |FROM iv JOIN t USING (doc_id)
       |WHERE $exists (SELECT 1 FROM t f, unnest(range(1, len(f.toks)+1)) AS u(i)
       |  WHERE f.doc_id = iv.doc_id AND f.toks[u.i] = 'vector'
       |    AND u.i >= iv.p1 AND u.i <= iv.p2)
       |ORDER BY doc_id""".stripMargin
  }

  val cases: Seq[QueryCase] = Seq(
    // ===== §2.4 search predicates (Q1-Q9) =====

    QueryCase("q2_range_filter", (s, dir) => {
      implicit val spark: SparkSession = s
      val spec = FilterSpec.And(Seq(
        FilterSpec.NumericRange("l_quantity", 10, 20),
        FilterSpec.NumericRange("l_discount", 0.02, 0.06)))
      load(dir, "lineitem").where(spec.compile)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy("l_returnflag")
    }, Some(
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem
        |WHERE l_quantity >= 10 AND l_quantity <= 20
        |  AND l_discount >= 0.02 AND l_discount <= 0.06
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QueryCase("q3_enum_in", (s, dir) => {
      implicit val spark: SparkSession = s
      val spec = FilterSpec.EnumIn("o_orderpriority", Seq("1-URGENT", "2-HIGH"))
      load(dir, "orders").where(spec.compile)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy("o_orderstatus")
    }, Some(
      """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    QueryCase("q4_bool_eq", (s, dir) => {
      implicit val spark: SparkSession = s
      // Boolean field derived the way LA derives gang_related Y/N → 1/0.
      val li = load(dir, "lineitem")
        .withColumn("returned", when(col("l_returnflag") === "R", 1).otherwise(0))
      li.where(FilterSpec.BoolEq("returned", 1).compile)
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("n"))
        .orderBy("l_linestatus")
    }, Some(
      """SELECT l_linestatus, count(*) AS n
        |FROM (SELECT l_linestatus,
        |        CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS returned
        |      FROM lineitem)
        |WHERE returned = 1
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    QueryCase("q5_datetime_range", (s, dir) => {
      implicit val spark: SparkSession = s
      val spec = FilterSpec.DateTimeRange("o_orderdate",
        java.sql.Timestamp.valueOf("1995-01-01 00:00:00").getTime,
        java.sql.Timestamp.valueOf("1996-12-31 23:59:59").getTime)
      load(dir, "orders").where(spec.compile)
        .groupBy(year(col("o_orderdate")).as("order_year"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy("order_year")
    }, Some(
      """SELECT year(o_orderdate) AS order_year, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND o_orderdate <= TIMESTAMP '1996-12-31 23:59:59'
        |GROUP BY order_year ORDER BY order_year""".stripMargin)),

    QueryCase("q6_phrase_prefix", (s, dir) => {
      implicit val spark: SparkSession = s
      val spec = FilterSpec.PhrasePrefix("p_name", "small wid")
      load(dir, "part").where(spec.compile)
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    }, Some(
      s"""SELECT p_partkey, p_name FROM part
         |WHERE ${graft.expr.TextMatch.phrasePrefixSql("p_name", "small wid")}
         |ORDER BY p_partkey""".stripMargin)),

    // The Unicode analyzer restated in RE2: same wrap passes + word
    // extraction, so the token streams — and the match set — agree.
    QueryCase("q6_phrase_prefix_unicode", (s, dir) => {
      implicit val spark: SparkSession = s
      // The ES standard-analyzer delta closed (round-12 "What's missing"
      // #2): UAX#29-flavored segmentation — medial apostrophes stay in
      // their token, Han/Hiragana emit unigrams, Katakana/Hangul runs —
      // so multilingual phrase-prefix behaves like Lucene's
      // StandardTokenizer. Oracled on the corpus (where ASCII and
      // Unicode analysis agree); the CJK/apostrophe divergence cases are
      // spec-pinned (TextMatchSpec) since the testdata is ASCII.
      load(dir, "documents")
        .where(graft.expr.TextMatch.phrasePrefixUnicode(col("text"), "spark mer"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }, Some(
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${graft.expr.TextMatch.phrasePrefixUnicodeSql("text", "spark mer")}
         |ORDER BY doc_id""".stripMargin)),

    QueryCase("q6_phrase_prefix_indexed", (s, dir) => {
      implicit val spark: SparkSession = s
      // The at-rest dual-field index path (S7/S8 replacement): analyzed
      // companion column precomputed, query is a plain instr against it.
      val indexed = graft.store.SearchIndex.withAnalyzedColumns(
        load(dir, "part"), Seq("p_name"))
      indexed
        .where(graft.store.SearchIndex.phrasePrefixIndexed(col("p_name_split"), "small wid"))
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    }, Some(
      s"""SELECT p_partkey, p_name FROM part
         |WHERE ${graft.expr.TextMatch.phrasePrefixSql("p_name", "small wid")}
         |ORDER BY p_partkey""".stripMargin)),

    // Full BM25 restated: same analyzer, token-equality TF (= the kernel's
    // boundary-sharing count), integer-derived idf inputs, identical
    // operator association — one ln() apart, agreeing far past the 9-decimal
    // rounding. Both paths produce identical rows, so one SQL serves both.
    QueryCase("search_bm25", (s, dir) => {
      implicit val spark: SparkSession = s
      // Relevance-RANKED retrieval (the ES query-context `match` the
      // dual-field mapping exists for — esindex.py:70-97 / collections.js
      // :185-191 run match_phrase_prefix in query, i.e. scoring, context):
      // top-15 documents by BM25, where the one rare corpus term ('dup',
      // df ≈ 5%) dominates via idf over the two common terms. Unindexed
      // path: analyzes per row, computes corpus stats in-query.
      graft.query.Bm25.topKRaw(load(dir, "documents"), "doc_id", "text",
        "dup vector scan", k = 15)
    }, Some(
      graft.query.Bm25.oracleSql("documents", "doc_id", "text",
        graft.query.Bm25.Terms.words("dup vector scan"), 15))),

    // bool_prefix restated: whole-token containment for the complete
    // terms, the shared prefix predicate for the trailing fragment.
    QueryCase("q_match_bool_prefix", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES match_bool_prefix (search_as_you_type's bool_prefix mode — the
      // search bar mid-keystroke): 'vector' must appear as a whole token
      // ANYWHERE (the delta from contiguous match_phrase_prefix), 'sc'
      // matches as a token prefix (scan/screen/...). Pure composition of
      // proven nodes.
      val spec = graft.query.FilterSpec.matchBoolPrefix("text", "vector sc")
      load(dir, "documents").where(spec.compile)
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")
    }, Some(
      s"""SELECT lang, count(*)::BIGINT AS n FROM documents
         |WHERE ${graft.expr.TextMatch.containsTokenSql("text", "vector")}
         |  AND ${graft.expr.TextMatch.phrasePrefixSql("text", "sc")}
         |GROUP BY lang ORDER BY lang""".stripMargin)),

    // The viewport box restated: the pmod CASE form (DuckDB's % re-rounds
    // under the ((x%m)+m)%m form on doubles), micro-degree integer sums
    // (the geoCentroid rendering discipline), dateline-crossing lon
    // disjunction.
    QueryCase("q_geo_bounding_box", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES geo_bounding_box — the filter a Kibana map viewport sends on
      // every pan — over the synthetic customer coordinates (FIXTURES.md
      // §3), with the box CROSSING the antimeridian (left 150 > right
      // -120) to exercise the dateline disjunction. Pure comparisons:
      // oracle-exact, and the predicate pushes into the scan.
      val pts = AggQueries.customerPoints(dir)
      val box = graft.query.FilterSpec.GeoBoundingBox("lat", "lon",
        top = 60.0, left = 150.0, bottom = -10.0, right = -120.0)
      pts.where(box.compile)
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"),
          sum(floor(col("lat") * 1000000).cast("long")).as("slat"))
        .orderBy("c_mktsegment")
    }, Some(
      s"""WITH ${customerPointsCteSql("c_mktsegment")}
        |SELECT c_mktsegment, count(*)::BIGINT AS n,
        |  sum(floor(lat * 1000000)::BIGINT)::BIGINT AS slat
        |FROM pts
        |WHERE lat <= 60.0 AND lat >= -10.0 AND (lon >= 150.0 OR lon <= -120.0)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The radius filter restates the pinned haversine tree
    // operator-for-operator (π/180 as one shared double — never
    // radians(); cos(origin·rad) recomputed from the same operands in the
    // same order). Threshold margin documented at the query.
    QueryCase("q_geo_distance_filter", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES geo_distance QUERY (filter context — "within 3000 km of the
      // pin", the map's radius filter; g_geo_distance is the RING AGG
      // twin) via the pinned haversine tree. The binary include/exclude
      // is libm-stable at this fixture: min |km − 3000| over the corpus
      // is 2.35 km at sf0.01 / 4.07 km at sf0.1 (margin asserted in
      // FilterSpecSpec), ~12 orders above the ≤1-ulp trig drift.
      val pts = AggQueries.customerPoints(dir)
      val near = graft.query.FilterSpec.GeoDistance("lat", "lon",
        originLat = 10.0, originLon = 20.0, radiusKm = 3000.0)
      pts.where(near.compile)
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"),
          sum(floor(col("lat") * 1000000).cast("long")).as("slat"))
        .orderBy("c_mktsegment")
    }, Some(
      s"""WITH ${customerPointsCteSql("c_mktsegment")}, d AS (
        |  SELECT c_mktsegment, lat,
        |    (2.0 * 6371.0088) * asin(sqrt(
        |      sin(((lat - 10.0) * (pi() / 180.0)) / 2.0)
        |        * sin(((lat - 10.0) * (pi() / 180.0)) / 2.0)
        |      + cos(lat * (pi() / 180.0)) * cos(10.0 * (pi() / 180.0))
        |        * sin(((lon - 20.0) * (pi() / 180.0)) / 2.0)
        |        * sin(((lon - 20.0) * (pi() / 180.0)) / 2.0))) AS km
        |  FROM pts
        |)
        |SELECT c_mktsegment, count(*)::BIGINT AS n,
        |  sum(floor(lat * 1000000)::BIGINT)::BIGINT AS slat
        |FROM d WHERE km <= 3000.0
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // geo_shape polygon restated: the identical per-edge crossing tests
    // (same operand order, so IEEE rounds identically — no libm, no
    // margin) summed for even-odd parity. The horizontal edge's division
    // never decides: its crossing conjunct is already false.
    QueryCase("q_geo_shape_polygon", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES geo_shape with a CONCAVE polygon (a notched square — the
      // even-odd rule's reason to exist) over the synthetic customer
      // coordinates: 255 of 1,500 customers inside at sf0.01. Ray
      // casting is pure +,-,*,/ — no libm, so unlike the geo_distance
      // twin the oracle is bit-exact with no fixture margin.
      val pts = AggQueries.customerPoints(dir)
      val poly = graft.query.FilterSpec.GeoPolygon("lat", "lon", Seq(
        (-60.0, -150.0), (60.0, -150.0), (60.0, -30.0), (-60.0, -30.0),
        (0.0, -90.0)))
      pts.where(poly.compile)
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    }, Some(
      s"""WITH ${customerPointsCteSql("c_custkey", "c_mktsegment")}
        |SELECT c_custkey, c_mktsegment FROM pts
        |WHERE (
        |    (CASE WHEN ((-60 > lat) <> (60 > lat))
        |      AND lon < (-150 - -150) * (lat - -60) / (60 - -60) + -150
        |      THEN 1 ELSE 0 END)
        |  + (CASE WHEN ((60 > lat) <> (60 > lat))
        |      AND lon < (-30 - -150) * (lat - 60) / (60 - 60) + -150
        |      THEN 1 ELSE 0 END)
        |  + (CASE WHEN ((60 > lat) <> (-60 > lat))
        |      AND lon < (-30 - -30) * (lat - 60) / (-60 - 60) + -30
        |      THEN 1 ELSE 0 END)
        |  + (CASE WHEN ((-60 > lat) <> (0 > lat))
        |      AND lon < (-90 - -30) * (lat - -60) / (0 - -60) + -30
        |      THEN 1 ELSE 0 END)
        |  + (CASE WHEN ((0 > lat) <> (-60 > lat))
        |      AND lon < (-150 - -90) * (lat - 0) / (-60 - 0) + -90
        |      THEN 1 ELSE 0 END)
        |) % 2 = 1
        |ORDER BY c_custkey""".stripMargin)),

    // Intervals filter restated: gapped ordered source pairs, then the
    // containment test per interval — EXISTS an interval with no filter
    // position inside it / with one inside it.
    QueryCase("q_intervals_not_containing", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES intervals filter, the famous form: 'spark ... scan' within 5
      // gaps with NO 'vector' inside the matched window (126 docs match
      // the bare gapped source at sf0.01; 121 have a vector-free
      // interval). Bound position lists, forall non-containment at the
      // chain leaf.
      val spec = graft.query.FilterSpec.IntervalsFiltered("text",
        phrase = "spark scan", maxGaps = 5,
        rule = "not_containing", filterPhrase = "vector")
      matchingDocs(dir, spec)
    }, Some(vectorInSpanOracleSql(containing = false))),

    QueryCase("q_intervals_containing", (s, dir) => {
      implicit val spark: SparkSession = s
      // The positive dual: some 'spark ... scan' window (<= 5 gaps) DOES
      // contain 'vector' (10 docs at sf0.01) — the filter phrase joins
      // the codegen'd substring guard, so non-candidates never reach the
      // position work.
      val spec = graft.query.FilterSpec.IntervalsFiltered("text",
        phrase = "spark scan", maxGaps = 5,
        rule = "containing", filterPhrase = "vector")
      matchingDocs(dir, spec)
    }, Some(vectorInSpanOracleSql(containing = true))),

    // span_first restated: 1-based DuckDB position p = 0-based start + 1;
    // the end-position bound s + L <= 6 becomes p <= 6 for the single term.
    QueryCase("q_span_first", (s, dir) => {
      implicit val spark: SparkSession = s
      // Lucene span_first: 'spark' ending within the first 6 positions —
      // the lead-paragraph/title-prefix match (88 of 500 docs at sf0.01
      // vs 384 with 'spark' anywhere). Same bound-position machinery as
      // span_near, substring-guarded.
      val spec = graft.query.FilterSpec.SpanFirst("text", "spark", end = 6)
      matchingDocs(dir, spec)
    }, Some(
      s"""WITH ${tokenPositionCtesSql()}
        |SELECT DISTINCT t.doc_id, t.lang
        |FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |WHERE toks[u.i] = 'spark' AND u.i <= 6
        |ORDER BY doc_id""".stripMargin)),

    // span_not restated: an include position with NO overlapping exclude
    // span — the same interval non-overlap algebra, NOT EXISTS form.
    QueryCase("q_span_not", (s, dir) => {
      implicit val spark: SparkSession = s
      // Lucene span_not: a 'scan' occurrence NOT inside 'vector scan' —
      // the classic exclude-the-longer-phrase query (7 docs at sf0.01
      // have scan ONLY as part of 'vector scan' and drop out). exists
      // over bound include starts, forall non-overlap over bound exclude
      // starts.
      val spec = graft.query.FilterSpec.SpanNot("text",
        include = "scan", exclude = "vector scan")
      matchingDocs(dir, spec)
    }, Some(
      s"""WITH ${tokenPositionCtesSql(
        ("i", "s", "toks[u.i] = 'scan'"),
        ("e", "x", "toks[u.i:u.i+1] = ['vector', 'scan']"))}
        |SELECT DISTINCT t.doc_id, t.lang
        |FROM i JOIN t USING (doc_id)
        |WHERE NOT EXISTS (SELECT 1 FROM e
        |  WHERE e.doc_id = i.doc_id AND NOT (e.x + 1 < i.s OR e.x > i.s))
        |ORDER BY doc_id""".stripMargin)),

    // span_within restated: an EXISTS over the (b1, b2, little) position
    // triple — pairwise-distinct big picks, window width − Σ widths ≤
    // slop, little inside [least, greatest] — the enclosurePredicate
    // algebra verbatim in 1-based SQL positions.
    QueryCase("q_span_within", (s, dir) => {
      implicit val spark: SparkSession = s
      // Lucene span_within: a 'key' occurrence INSIDE a span_near(scan,
      // table, slop=3, unordered) window — the "term in context" query.
      // Plain conjunction keeps 261 of 500 docs at sf0.01; the enclosure
      // keeps 8 (3 with inOrder=true — the flag certified in
      // ProximitySemanticsSpec). Same bound-position machinery as
      // span_not: substring guards lead, one nested exists chain carries
      // the window bounds, row-local.
      val spec = graft.query.FilterSpec.SpanWithin("text",
        little = "key", big = Seq("scan", "table"), slop = 3)
      matchingDocs(dir, spec)
    }, Some(
      s"""WITH ${tokenPositionCtesSql(
        ("l", "s", "toks[u.i] = 'key'"),
        ("b1", "s", "toks[u.i] = 'scan'"),
        ("b2", "s", "toks[u.i] = 'table'"))}
        |SELECT DISTINCT t.doc_id, t.lang
        |FROM t
        |WHERE EXISTS (SELECT 1 FROM b1, b2, l
        |  WHERE b1.doc_id = t.doc_id AND b2.doc_id = t.doc_id
        |    AND l.doc_id = t.doc_id AND b1.s <> b2.s
        |    AND greatest(b1.s, b2.s) - least(b1.s, b2.s) + 1 - 2 <= 3
        |    AND l.s >= least(b1.s, b2.s) AND l.s <= greatest(b1.s, b2.s))
        |ORDER BY doc_id""".stripMargin)),

    // intervals predicate sources restated: per-predicate position CTEs
    // (starts_with / damerau_levenshtein — the unrestricted variant both
    // engines share, q_fuzzy_match_damerau's pairing), the ordered
    // width-1 window check.
    QueryCase("q_intervals_pattern", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES intervals with PREDICATE sources: a token starting with 'sca'
      // followed (ordered) by a token within one Damerau edit of 'tabel'
      // — prefix + fuzzy rules composed under all_of, max_gaps 3 (104 of
      // 500 docs at sf0.01). Width-1 sources ride the span gap algebra
      // directly (no minimal-interval machinery); certified against the
      // brute-force evaluator in ProximitySemanticsSpec.
      import graft.query.FilterSpec.IntervalSource.{Fuzzy, Prefix}
      val spec = graft.query.FilterSpec.IntervalsPattern("text",
        Seq(Prefix("sca"), Fuzzy("tabel", 1)), maxGaps = 3)
      matchingDocs(dir, spec)
    }, Some(
      s"""WITH ${tokenPositionCtesSql(
        ("a", "s", "starts_with(toks[u.i], 'sca')"),
        ("b", "s", "len(toks[u.i]) > 0 AND damerau_levenshtein(toks[u.i], 'tabel') <= 1"))}
        |SELECT DISTINCT t.doc_id, t.lang
        |FROM t
        |WHERE EXISTS (SELECT 1 FROM a, b
        |  WHERE a.doc_id = t.doc_id AND b.doc_id = t.doc_id
        |    AND b.s > a.s AND (b.s - a.s + 1) - 2 <= 3)
        |ORDER BY doc_id""".stripMargin)),

    // Nested-vs-object restated relationally: same-element = one EXISTS
    // with both conditions; flattened = independent EXISTS per condition.
    QueryCase("q_nested_query", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES nested query vs the object-mapping default, side by side: an
      // order matches NESTED when one line item has BOTH quantity >= 45
      // and discount >= 0.08 (same element); the flattened OBJECT mapping
      // cross-matches different items and reports ~2.3x the orders — the
      // false-positive class the nested field type exists to kill. One
      // collect_list hash aggregate (bounded by items-per-order) + one
      // keyed join; both predicates are row-local exists HOFs.
      val items = graft.query.NestedDocs.nest(
        load(dir, "lineitem"), "l_orderkey",
        Seq("l_quantity", "l_discount"))
      val hit = (it: Column) =>
        it("l_quantity") >= 45 && it("l_discount") >= 0.08
      val flagged = items.select(col("l_orderkey"),
        graft.query.NestedDocs.nestedMatch(col("items"), hit).as("_nested"),
        graft.query.NestedDocs.objectMatch(col("items"), Seq(
          it => it("l_quantity") >= 45,
          it => it("l_discount") >= 0.08)).as("_object"))
      load(dir, "orders")
        .join(flagged, col("o_orderkey") === col("l_orderkey"), "left")
        .groupBy("o_orderpriority")
        .agg(
          sum(when(coalesce(col("_nested"), lit(false)), 1).otherwise(0)).as("n_nested"),
          sum(when(coalesce(col("_object"), lit(false)), 1).otherwise(0)).as("n_object"))
        .orderBy("o_orderpriority")
    }, Some(
      """SELECT o.o_orderpriority,
        |  sum(CASE WHEN EXISTS (SELECT 1 FROM lineitem l
        |        WHERE l.l_orderkey = o.o_orderkey
        |          AND l.l_quantity >= 45 AND l.l_discount >= 0.08)
        |      THEN 1 ELSE 0 END)::BIGINT AS n_nested,
        |  sum(CASE WHEN EXISTS (SELECT 1 FROM lineitem l
        |        WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
        |      AND EXISTS (SELECT 1 FROM lineitem l
        |        WHERE l.l_orderkey = o.o_orderkey AND l.l_discount >= 0.08)
        |      THEN 1 ELSE 0 END)::BIGINT AS n_object
        |FROM orders o GROUP BY 1 ORDER BY 1""".stripMargin)),

    // nested + reverse_nested aggs restated over the flat child table
    // (explode(nest(x)) round-trips to x — NestedDocsSpec pins the nest
    // semantics; the engine path buckets the ARRAYS).
    QueryCase("g_nested_agg", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES nested aggregation + reverse_nested in one pass — the agg
      // pair SURVEY §2.7 originally declared out of scope on the flat
      // schema; NestedDocs.nest changed the premise. The ENGINE path
      // buckets the nested-doc ARRAYS (one bounded explode + one hash
      // agg: child doc_count per l_returnflag bucket AND the
      // reverse_nested distinct-parent count); the oracle restates over
      // the flat child table the nest provably round-trips to.
      val items = graft.query.NestedDocs.nest(
        load(dir, "lineitem"), "l_orderkey",
        Seq("l_returnflag", "l_quantity"))
      graft.query.NestedDocs.nestedAgg(items, "l_orderkey", "items",
          it => it("l_returnflag"), as = "key")
        .orderBy("key")
    }, Some(
      """SELECT l_returnflag AS key, count(*)::BIGINT AS doc_count,
        |  count(DISTINCT l_orderkey)::BIGINT AS parent_count
        |FROM lineitem GROUP BY 1 ORDER BY key""".stripMargin)),

    // has_child restated: a correlated HAVING-count subquery — the
    // matching-children bound as SQL says it.
    QueryCase("q_has_child", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES has_child over the join-field pair orders/lineitem: orders
      // with AT LEAST TWO line items of quantity >= 49 (min_children=2
      // makes the count bound do real work: 165 parents at sf0.01 vs
      // 2,198 with the default at-least-one). Filtered children -> one
      // partial+final hash agg on the parent key -> left-semi join; at
      // the default bounds the agg disappears entirely (JoinFieldSpec
      // pins the agg-free plan).
      graft.query.JoinField.hasChild(
          load(dir, "orders"), load(dir, "lineitem"),
          "o_orderkey", "l_orderkey",
          col("l_quantity") >= 49, minChildren = 2)
        .select("o_orderkey", "o_orderpriority")
        .orderBy("o_orderkey")
    }, Some(
      """SELECT o_orderkey, o_orderpriority FROM orders
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49
        |  GROUP BY 1 HAVING count(*) >= 2)
        |ORDER BY o_orderkey""".stripMargin)),

    // has_child score_mode restated: one grouped sum of the integral
    // child scores, top-20 with the explicit tiebreak.
    QueryCase("q_has_child_scored", (s, dir) => {
      implicit val spark: SparkSession = s
      // has_child score_mode=sum: parents ranked by their matching
      // children's folded scores (child score = floor(extendedprice) —
      // integral doubles, so the distributed sum is fold-order exact
      // and the oracle bit-matches without rounding). Same exchange
      // profile as the count-bounded has_child: one partial+final agg
      // on the parent key + one join.
      graft.query.Hits.top(graft.query.JoinField.hasChildScored(
          load(dir, "orders"), load(dir, "lineitem"),
          "o_orderkey", "l_orderkey",
          col("l_quantity") >= 40, floor(col("l_extendedprice")),
          scoreMode = "sum")
        .select(col("o_orderkey"), col("_score").cast("long").as("score")), "o_orderkey", 20)
    }, Some(
      """SELECT o_orderkey,
        |  (SELECT sum(floor(l_extendedprice))::BIGINT FROM lineitem l
        |   WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 40) AS score
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 40)
        |ORDER BY score DESC, o_orderkey ASC LIMIT 20""".stripMargin)),

    // parent_id restated: the literal equality, as SQL says it.
    QueryCase("q_parent_id", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES parent_id: children of ONE named parent — a literal filter the
      // scan pushes down (PushedFilters; bucketed/partitioned children
      // prune to one bucket). Registered so the join-field family's
      // oracle coverage is complete, not because it needs machinery.
      graft.query.JoinField.parentId(
          load(dir, "lineitem"), "l_orderkey", lit(7L))
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_linenumber")
    }, Some(
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey = 7 ORDER BY l_linenumber""".stripMargin)),

    // has_parent restated: children IN the filtered parents' key set.
    QueryCase("q_has_parent", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES has_parent: line items of urgent, high-value orders — one
      // left-semi join of children against the filtered parents' keys
      // (selective parent side -> AQE broadcasts it; the 60k-row child
      // scan never shuffles).
      graft.query.JoinField.hasParent(
          load(dir, "orders"), load(dir, "lineitem"),
          "o_orderkey", "l_orderkey",
          col("o_orderpriority") === "1-URGENT" && col("o_totalprice") >= 250000)
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
    }, Some(
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice >= 250000)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // children agg restated: the parent-bucket join flattened to one
    // grouped join (integral-double quantities sum exactly).
    QueryCase("g_children_agg", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES children aggregation: order-priority buckets stepping down to
      // child metrics (line-item doc_count + summed quantity — integral
      // doubles, so the sum is fold-order exact). One projected join on
      // the parent key + one hash agg.
      graft.query.JoinField.childrenAgg(
          load(dir, "orders"), load(dir, "lineitem"),
          "o_orderkey", "l_orderkey", "o_orderpriority",
          Seq(sum(col("l_quantity")).cast("long").as("sum_qty")))
        .orderBy("key")
    }, Some(
      """SELECT o.o_orderpriority AS key, count(*)::BIGINT AS doc_count,
        |  sum(l.l_quantity)::BIGINT AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY key""".stripMargin)),

    // frequent_item_sets restated level-by-level: a LEFT-DEEP chain of
    // per-doc ordered-combination joins (j2..j5 — each level extends the
    // previous on an adjacent doc_id equi-key; the n-way self-join form
    // makes DuckDB's reorderer cross-join non-adjacent legs and spill),
    // the shared float-guarded minCount, closed = NO equal-count
    // superset one larger (counts are antitone, so size+1 suffices —
    // the engine's argument verbatim), the f5 level guarding the same
    // completeness the engine's maxSetSize=6 raise does.
    QueryCase("g_frequent_item_sets", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES frequent_item_sets: closed itemsets of co-occurring operator
      // terms per document (a 12-word basket keeps the oracle's
      // level-joins polynomial and the lattice honest: 505 frequent sets
      // up to size 4 at sf0.01, support 0.45; the sf0.001 smoke corpus
      // reaches size 5). Level-wise Apriori — one broadcast equi-join +
      // two-phase count per level, driver-bounded candidates;
      // maxSetSize=6 raises loudly if the family outgrows
      // the oracle's enumerated levels instead of truncating. The
      // minCount fold shares the float guard ceil(sup·N − 1e-9) with the
      // oracle (0.45·500 = 225.00000000000003 in IEEE — a bare ceil
      // would demand 226 docs).
      val basket = Seq("scan", "join", "hash", "merge", "sort", "filter",
        "agg", "batch", "window", "index", "table", "key")
      val items = array_intersect(
        split(trim(graft.expr.TextMatch.normalized(col("text"))), " "),
        array(basket.map(lit): _*))
      graft.query.Aggs.frequentItemSets(
        load(dir, "documents").select(col("doc_id"), items.as("items")),
        col("items"),
        minSupport = 0.45, minSetSize = 2, size = 10, maxSetSize = 6)
    }, Some(
      s"""WITH tx AS (
        |  SELECT doc_id, list_distinct(list_filter($duckToks,
        |    x -> x IN ('scan','join','hash','merge','sort','filter',
        |               'agg','batch','window','index','table','key'))) AS items
        |  FROM documents
        |), nn AS (SELECT count(*)::BIGINT AS n FROM tx),
        |mc AS (SELECT ceil(0.45 * n - 1e-9) AS c FROM nn),
        |p AS (SELECT doc_id, u.item FROM tx, unnest(items) AS u(item)),
        |f1 AS (SELECT item FROM p GROUP BY item
        |       HAVING count(*) >= (SELECT c FROM mc)),
        |fp AS (SELECT p.doc_id, p.item FROM p JOIN f1 USING (item)),
        |j2 AS (SELECT a.doc_id, a.item AS i1, b.item AS i2
        |  FROM fp a JOIN fp b ON a.doc_id = b.doc_id AND a.item < b.item),
        |j3 AS (SELECT j2.doc_id, i1, i2, c.item AS i3
        |  FROM j2 JOIN fp c ON j2.doc_id = c.doc_id AND i2 < c.item),
        |j4 AS (SELECT j3.doc_id, i1, i2, i3, d.item AS i4
        |  FROM j3 JOIN fp d ON j3.doc_id = d.doc_id AND i3 < d.item),
        |j5 AS (SELECT j4.doc_id, i1, i2, i3, i4, e.item AS i5
        |  FROM j4 JOIN fp e ON j4.doc_id = e.doc_id AND i4 < e.item),
        |j6 AS (SELECT j5.doc_id, i1, i2, i3, i4, i5, g.item AS i6
        |  FROM j5 JOIN fp g ON j5.doc_id = g.doc_id AND i5 < g.item),
        |f2 AS (SELECT [i1, i2] AS key, count(*)::BIGINT AS cnt FROM j2
        |  GROUP BY 1 HAVING count(*) >= (SELECT c FROM mc)),
        |f3 AS (SELECT [i1, i2, i3] AS key, count(*)::BIGINT AS cnt FROM j3
        |  GROUP BY 1 HAVING count(*) >= (SELECT c FROM mc)),
        |f4 AS (SELECT [i1, i2, i3, i4] AS key, count(*)::BIGINT AS cnt FROM j4
        |  GROUP BY 1 HAVING count(*) >= (SELECT c FROM mc)),
        |f5 AS (SELECT [i1, i2, i3, i4, i5] AS key, count(*)::BIGINT AS cnt FROM j5
        |  GROUP BY 1 HAVING count(*) >= (SELECT c FROM mc)),
        |f6 AS (SELECT [i1, i2, i3, i4, i5, i6] AS key, count(*)::BIGINT AS cnt FROM j6
        |  GROUP BY 1 HAVING count(*) >= (SELECT c FROM mc)),
        |fs AS (SELECT * FROM f2 UNION ALL SELECT * FROM f3
        |       UNION ALL SELECT * FROM f4 UNION ALL SELECT * FROM f5
        |       UNION ALL SELECT * FROM f6),
        |closed AS (SELECT key, cnt FROM fs f WHERE NOT EXISTS (
        |  SELECT 1 FROM fs t WHERE t.cnt = f.cnt
        |    AND len(t.key) = len(f.key) + 1 AND list_has_all(t.key, f.key)))
        |SELECT array_to_string(key, ',') AS key, cnt AS doc_count,
        |  cnt::DOUBLE / (SELECT n FROM nn) AS support
        |FROM closed
        |ORDER BY doc_count DESC, len(key) DESC, array_to_string(key, ',') ASC
        |LIMIT 10""".stripMargin)),

    // rank_feature restated: saturation (pure division) + log (ln is
    // correctly-rounded at the 9-decimal compare). n_chars > 0 corpus-wide,
    // so the missing-feature zero branch is constant-false and drops out.
    QueryCase("q_rank_feature", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES rank_feature query — the static quality/popularity boost
      // (pagerank, url_length) in a bool.should: saturation + log
      // functions summed, ES's additive should-clause scoring. Pure
      // division + correctly-rounded ln — oracle-exact row-local trees,
      // lexicographic tie-break (scores collide across equal n_chars).
      val score =
        query.Scoring.rankFeatureSaturation(col("n_chars"), pivot = 250.0,
          boost = 2.0) +
        query.Scoring.rankFeatureLog(col("n_chars"), scalingFactor = 0.1)
      graft.query.Hits.top(load(dir, "documents").select(col("doc_id"), score.as("score")),
        "doc_id", 30)
    }, Some(
      """SELECT doc_id,
        |  2.0 * n_chars::DOUBLE / (n_chars::DOUBLE + 250.0)
        |    + 1.0 * ln(0.1 * n_chars::DOUBLE + 1.0) AS score
        |FROM documents
        |ORDER BY score DESC, doc_id ASC LIMIT 30""".stripMargin)),

    // distance_feature restated on epoch-µs integers (exact doubles
    // < 2^53; epoch_us ≡ unix_micros under the UTC session) — one
    // division is the only rounding step.
    QueryCase("q_distance_feature", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES distance_feature query — recency boosting on a date field:
      // boost·pivot/(pivot + |ts − origin|) on epoch-µs integers
      // (exact doubles < 2^53; the division is the only rounding step,
      // identically rounded in both engines). Origin mid-corpus
      // (2024-01-15), pivot 3 days.
      val score = query.Scoring.distanceFeature(
        unix_micros(col("ts")).cast("double"),
        origin = 1705276800000000.0, pivot = 259200000000.0, boost = 2.0)
      graft.query.Hits.top(loadEvents(dir).select(col("event_id"), score.as("score")),
        "event_id", 25)
    }, Some(
      """SELECT event_id,
        |  2.0 * 259200000000.0 / (259200000000.0
        |    + abs(epoch_us(ts)::DOUBLE - 1705276800000000.0)) AS score
        |FROM events
        |ORDER BY score DESC, event_id ASC LIMIT 25""".stripMargin)),

    // Fragment highlighting restated by the SQL twin builder — the same
    // fixed windows, negated-count struct sort, slice, and RE2 wrap —
    // then unnested to one (doc_id, frag_rank, fragment) row per
    // fragment (scalar columns only; an empty list unnests to no rows,
    // matching posexplode).
    QueryCase("search_highlight_fragments", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES fragment highlighting (fragment_size/number_of_fragments)
      // under the deterministic fixed-window contract (documented delta
      // from the unified highlighter's passage breaker): 60-char windows
      // ranked by match count, best 2 returned score-then-offset with
      // matches wrapped. Row-local; docs with no matching window drop
      // (posexplode of an empty array emits no rows). One row per
      // (doc, frag_rank) — scalar columns only: the round-15 array-typed
      // `fragments` column crashed the pandas oracle comparator
      // (unhashable ndarray), the search_explain explode precedent.
      val frags = graft.expr.TextMatch.highlightFragments(
        col("text"), "dup vector", fragmentSize = 60, numberOfFragments = 2)
      load(dir, "documents")
        .select(col("doc_id"), posexplode(frags).as(Seq("frag_rank", "fragment")))
        .orderBy("doc_id", "frag_rank")
    }, Some({
      val frags = graft.expr.TextMatch.highlightFragmentsSql(
        "text", "dup vector", fragmentSize = 60, numberOfFragments = 2)
      s"""WITH f AS (
         |  SELECT doc_id,
         |$frags AS fragments
         |  FROM documents)
         |SELECT doc_id, (u.i - 1)::INT AS frag_rank, fragments[u.i] AS fragment
         |FROM f, unnest(range(1, len(fragments)+1)) AS u(i)
         |ORDER BY doc_id, frag_rank""".stripMargin
    })),

    // _explain restated: the same base/stats CTEs, the ranked top-k with
    // its tf/df/dl context, one UNION ALL branch per term with the
    // identical idf/contribution trees.
    QueryCase("search_explain", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES _explain — the relevance-debugging surface: the BM25 top-5
      // exploded into one row per (doc, query term) with the full score
      // decomposition (tf, df, idf, dl, per-term contribution, doc
      // total) — every value the same fixed IEEE tree the retrieval
      // computes, restated branch-for-branch in the oracle.
      val docs = load(dir, "documents")
      graft.query.Bm25.explainTopK(docs, "doc_id",
        graft.expr.TextMatch.AsciiAnalyzer.padded(col("text")),
        "dup vector scan", k = 5)
    }, Some(
      graft.query.Bm25.oracleSqlExplain(
        "documents", "doc_id", "text", "dup vector scan", 5))),

    // _termvectors restated: unnest-with-position over the identical
    // token stream, grouped with ordered position lists rendered as the
    // comma-joined string (the comparator-safe scalar shape).
    QueryCase("search_term_vectors", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES _termvectors: per-(doc, term) frequency + sorted 0-based
      // positions over the analyzed text — the index-introspection API of
      // the dual-field mapping's analyzed view. A 12-doc page (the
      // API is per-document; a bounded id range stands in for the
      // request's doc list). Positions render comma-joined (the
      // comparator-safe scalar twin of the array column that crashed the
      // round-15 pandas comparator).
      graft.query.TermVectors.termVectorsFlat(
          load(dir, "documents").where(col("doc_id") < 12), "doc_id", "text")
        .orderBy("doc_id", "term")
    }, Some(
      s"""WITH t AS (
        |  SELECT doc_id, $duckToks AS toks
        |  FROM documents WHERE doc_id < 12
        |), e AS (
        |  SELECT doc_id, u.i - 1 AS pos, toks[u.i] AS term
        |  FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |)
        |SELECT doc_id, term, count(*)::BIGINT AS freq,
        |  array_to_string(list(pos ORDER BY pos), ',') AS positions
        |FROM e GROUP BY doc_id, term
        |ORDER BY doc_id, term""".stripMargin)),

    // Boosted twin: the identical scored restatement with each term's
    // contribution multiplied by its boost literal (1.0 boosts keep the
    // unweighted tree — the engine's own short-circuit).
    QueryCase("search_bm25_boosted", (s, dir) => {
      implicit val spark: SparkSession = s
      // query_string boosts on the SCORING path: `vector^2 dup scan^0.5`
      // compiles to per-term BM25 weight multipliers (the real Lucene
      // boost meaning) through the same QueryString.boostedTerms →
      // Bm25.Terms.boosted chain the /search route serves — the
      // common term 'vector' doubled outweighs the rare 'dup''s idf
      // advantage for multi-occurrence docs, 'scan' half-weighted. The
      // filter path keeps its loud boost rejection.
      val docs = load(dir, "documents")
      val termBoosts = graft.query.QueryString.boostedTerms("vector^2 dup scan^0.5")
      graft.query.Bm25.topK(docs, "doc_id",
        graft.expr.TextMatch.AsciiAnalyzer.padded(col("text")),
        graft.query.Bm25.Terms.boosted(termBoosts), k = 15)
    }, Some(
      graft.query.Bm25.oracleSql("documents", "doc_id", "text", graft.query.Bm25.Terms.boosted(
        graft.query.QueryString.boostedTerms("vector^2 dup scan^0.5")), 15))),

    QueryCase("search_bm25_indexed", (s, dir) => {
      implicit val spark: SparkSession = s
      // The at-rest serving shape: scores run against the stored `_split`
      // analyzed companion with corpus statistics precomputed once (per-
      // index constants at 100 TB) — retrieval is then a single scan +
      // 1-row broadcast + partial top-k.
      val indexed = graft.store.SearchIndex.withAnalyzedColumns(
        load(dir, "documents"), Seq("text"))
      val terms = graft.query.Bm25.queryTerms("dup vector scan")
      val stats = graft.query.Bm25.corpusStats(indexed, col("text_split"), terms)
      graft.query.Bm25.topK(indexed, "doc_id", col("text_split"),
        graft.query.Bm25.Terms.words("dup vector scan"), k = 15, stats = Some(stats))
    }, Some(
      graft.query.Bm25.oracleSql("documents", "doc_id", "text",
        graft.query.Bm25.Terms.words("dup vector scan"), 15))),

    // Incrementally-merged stats are exact integer sums — scores must equal
    // the whole-corpus computation bit for bit, so the oracle is the same.
    QueryCase("search_bm25_incremental", (s, dir) => {
      implicit val spark: SparkSession = s
      // Index-maintenance contract, demonstrated: corpus statistics built
      // per ingest batch (here: the two doc_id parity halves) and MERGED —
      // integer sums, so the merge is exact and the scores hash-match the
      // whole-corpus search_bm25. At 100 TB this is the difference between
      // re-scanning the corpus per ingest and adding two 1-row frames.
      import graft.query.Bm25
      val indexed = graft.store.SearchIndex.withAnalyzedColumns(
        load(dir, "documents"), Seq("text"))
      val terms = Bm25.queryTerms("dup vector scan")
      val halves = Seq(
        indexed.where(col("doc_id") % 2 === 0),
        indexed.where(col("doc_id") % 2 === 1))
      val stats = Bm25.mergeStats(
        halves.map(h => Bm25.corpusStats(h, col("text_split"), terms)))
      Bm25.topK(indexed, "doc_id", col("text_split"),
        Bm25.Terms.words("dup vector scan"), k = 15, stats = Some(stats))
    }, Some(
      graft.query.Bm25.oracleSql("documents", "doc_id", "text",
        graft.query.Bm25.Terms.words("dup vector scan"), 15))),

    QueryCase("search_bm25_phrase", (s, dir) => {
      implicit val spark: SparkSession = s
      // Scored PHRASE retrieval (ES match_phrase in query context): the
      // sequence "batch batch" — self-overlapping, so the kernel's
      // first-token stepping is what the oracle's toks[i:i+1] = [...] count
      // must match exactly. Indexed path over the stored analyzed column.
      val indexed = graft.store.SearchIndex.withAnalyzedColumns(
        load(dir, "documents"), Seq("text"))
      graft.query.Bm25.topK(indexed, "doc_id", col("text_split"),
        graft.query.Bm25.Terms.phrase("batch batch"), k = 15)
    }, Some(
      graft.query.Bm25.oracleSql("documents", "doc_id", "text",
        graft.query.Bm25.Terms.phrase("batch batch"), 15))),

    QueryCase("q7_conjunction", (s, dir) => {
      implicit val spark: SparkSession = s
      val spec = FilterSpec.conjunction(Seq(
        FilterSpec.NumericRange("o_totalprice", 50000, 200000),
        FilterSpec.EnumIn("o_orderstatus", Seq("F", "O")),
        FilterSpec.DateTimeRange("o_orderdate",
          java.sql.Timestamp.valueOf("1993-01-01 00:00:00").getTime,
          java.sql.Timestamp.valueOf("1997-12-31 00:00:00").getTime)))
      load(dir, "orders").where(spec.compile)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }, Some(
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE o_totalprice >= 50000 AND o_totalprice <= 200000
        |  AND o_orderstatus IN ('F', 'O')
        |  AND o_orderdate >= TIMESTAMP '1993-01-01 00:00:00'
        |  AND o_orderdate <= TIMESTAMP '1997-12-31 00:00:00'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ===== geo_shape completion: multi-ring shapes + envelope relations =====

    QueryCase("q_geo_shape_multi", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES geo_shape with a polygon-with-hole PLUS a disjoint second
      // component, in one even-odd crossing count (a hole is just a ring
      // whose crossings flip the parity back). Same synthetic coordinate
      // fixture as q_geo_shape_polygon; the oracle restates the unrolled
      // arithmetic edge for edge via geoCrossingsSql — bit-exact, no libm.
      val pts = AggQueries.customerPoints(dir)
      pts.where(graft.query.FilterSpec.GeoShape("lat", "lon", geoMultiRings).compile)
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    }, Some({
      s"""WITH ${customerPointsCteSql("c_custkey", "c_mktsegment")}
         |SELECT c_custkey, c_mktsegment FROM pts
         |WHERE ${geoCrossingsSql(geoMultiRings)} % 2 = 1
         |ORDER BY c_custkey""".stripMargin
    })),

    QueryCase("q_geo_shape_envelope", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES geo_shape `envelope` under the DISJOINT relation — four range
      // comparisons negated, aggregated per segment (the complement set is
      // corpus-sized; a grouped count keeps the result page-shaped).
      val pts = AggQueries.customerPoints(dir)
      pts.where(graft.query.FilterSpec.GeoEnvelope("lat", "lon",
          -30, 30, -60, 60, relation = "disjoint").compile)
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    }, Some(
      s"""WITH ${customerPointsCteSql("c_mktsegment")}
        |SELECT c_mktsegment, count(*) AS n FROM pts
        |WHERE NOT (lat >= -30 AND lat <= 30 AND lon >= -60 AND lon <= 60)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ===== simple_query_string: the never-throws end-user grammar =====

    QueryCase("q_simple_query_string", (s, dir) => {
      implicit val spark: SparkSession = s
      // Lucene SimpleQueryParser's LEFT FOLD under default AND: the `|`
      // folds first ((phrase OR merge*)), then the negated clause folds
      // in under the default operator — ((phrase | merge*) AND NOT
      // slow), every operator doing real work. (Under default OR the
      // fold would OR the complement in — the documented ES gotcha.)
      val spec = graft.query.SimpleQueryString.parse(
        "\"hash join\" | merge* -slow", "text", "and")
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang").orderBy("doc_id")
    }, Some({
      import graft.expr.TextMatch.{containsTokenSql, phrasePrefixSql}
      s"""SELECT doc_id, lang FROM documents
         |WHERE (${containsTokenSql("text", "hash join")}
         |       OR ${phrasePrefixSql("text", "merge")})
         |  AND NOT ${containsTokenSql("text", "slow")}
         |ORDER BY doc_id""".stripMargin
    })),

    // multi-field simple_query_string restated: per-field BM25 runs by
    // the proven scored restatement, boosted and summed with the engine's
    // exact tree (boost·coalesce(score,0), left-to-right sum).
    QueryCase("q_simple_query_string_fields", (s, dir) => {
      implicit val spark: SparkSession = s
      // simple_query_string with fields=["text^5","source"] — the SCORED
      // multi-field form: the flat default-OR bag of terms scores each
      // field with ITS own BM25 statistics, boosted 5/1, summed per doc
      // (Lucene SimpleQueryParser's newDefaultQuery: a BoostQuery-wrapped
      // SHOULD clause per field). The boost provably reorders: unweighted,
      // the short `source` field's exact src1 hit dominates every ranking
      // (tiny avgdl); 5× on text puts strong text matches above it —
      // Bm25Spec pins the flip. The filter twin is
      // SimpleQueryString.parseFields (same match set, spec-pinned).
      query.Bm25.multiMatchWeightedTopK(load(dir, "documents"), "doc_id",
        Seq("text" -> 5.0, "source" -> 1.0), "src1 merge", 20)
    }, Some({
      val s0 = graft.query.Bm25.oracleSqlScored("documents", "doc_id", "text",
        graft.query.Bm25.Terms.words("src1 merge"))
      val s1 = graft.query.Bm25.oracleSqlScored("documents", "doc_id", "source",
        graft.query.Bm25.Terms.words("src1 merge"))
      s"""WITH s0 AS (
         |$s0
         |), s1 AS (
         |$s1
         |)
         |SELECT doc_id,
         |  5.0 * coalesce(s0.score, 0.0) + 1.0 * coalesce(s1.score, 0.0) AS score
         |FROM s0 FULL OUTER JOIN s1 USING (doc_id)
         |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin
    })),

    QueryCase("q_query_string_fields", (s, dir) => {
      implicit val spark: SparkSession = s
      // query_string with fields=["text","source"]: BARE clauses (prefix,
      // term) match in ANY of the fields (ES's dis_max expansion — in
      // filter context the disjunction); the explicit lang: clause is
      // unaffected.
      val spec = graft.query.QueryString.parseFields(
        "(merge* OR src1) AND lang:en", Seq("text", "source"))
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang", "source").orderBy("doc_id")
    }, Some({
      import graft.expr.TextMatch.{containsTokenSql, phrasePrefixSql}
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE (${phrasePrefixSql("text", "merge")}
         |       OR ${phrasePrefixSql("source", "merge")}
         |       OR ${containsTokenSql("text", "src1")}
         |       OR ${containsTokenSql("source", "src1")})
         |  AND lang = 'en'
         |ORDER BY doc_id""".stripMargin
    })),

    QueryCase("q_script_score", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES script_score: the BM25 query's score replaced by a script over
      // the doc — and the "script" language here IS the ES|QL expression
      // grammar (Esql.column), compiled to the same codegen'd Catalyst
      // tree as every other predicate; 0.5 is dyadic, the length term is
      // one fixed division both engines restate.
      val docs = load(dir, "documents")
      val analyzed = graft.expr.TextMatch.AsciiAnalyzer.padded(col("text"))
      val scored = query.Bm25.scored(docs, "doc_id", analyzed,
        query.Bm25.Terms.words("dup vector"))
      graft.query.Hits.top(scored.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("score", query.Esql.column("score * 0.5 + n_chars / 1000.0"))
        .select("doc_id", "score"), "doc_id", 20)
    }, Some({
      val scored = graft.query.Bm25.oracleSqlScored(
        "documents", "doc_id", "text", graft.query.Bm25.Terms.words("dup vector"))
      s"""WITH s AS (
         |$scored
         |)
         |SELECT s.doc_id, s.score * 0.5 + d2.n_chars / 1000.0 AS score
         |FROM s JOIN documents d2 ON s.doc_id = d2.doc_id
         |ORDER BY score DESC, s.doc_id ASC LIMIT 20""".stripMargin
    })),

    QueryCase("q_kql_nested", (s, dir) => {
      implicit val spark: SparkSession = s
      // KQL nested-query braces end-to-end: lineitems nested under their
      // orders, then `items:{ flag:R and qty > 45 }` — SOME item is both
      // returned AND high-quantity ON THE SAME LINE. The oracle is the
      // relational EXISTS over the child table (nested semantics ≡ a
      // same-row predicate before nesting); the flattened object reading
      // (a returned item anywhere + a qty>45 item anywhere) would
      // overmatch, which the spec pins.
      val items = load(dir, "lineitem").select(
        col("l_orderkey").as("oid"), col("l_returnflag").as("flag"),
        col("l_quantity").as("qty"))
      val parents = graft.query.NestedDocs.nest(items, "oid", Seq("flag", "qty"), as = "items")
      parents.where(graft.query.Kql.parse("items:{ flag:R and qty > 45 }", None).compile)
        .select("oid").orderBy("oid")
    }, Some(
      """SELECT DISTINCT l_orderkey AS oid FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity > 45
        |ORDER BY oid""".stripMargin)))
}
