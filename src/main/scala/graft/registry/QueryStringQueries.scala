package graft
package registry

import graft.dict.Dictionary
import graft.query.{Aggs, PreAgg}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import SparkEntry._
import OracleSql._

/** query_string, the Kibana search bar, plus the dashboard, dictionary
  * and typeahead serving paths that share its section.
  */
object QueryStringQueries extends Family("serving") {

  /** The `*harmonized*` federated relation in DuckDB: the shared harmonized
    * columns of each city relation, dataset-tagged — the oracle twin of the
    * dashboard's federated view.
    */
  private def federatedCitySql: String =
    Seq("baltimore", "detroit", "losangeles").map { c =>
      s"""SELECT description, city, dayofweek, hour, geolocation, year, datetime,
         |  '$c' AS dataset FROM (${cityHarmonizedRelationSql(c)})""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** The `fed` + `f` CTEs (federated relation + the dashboard's filter
    * state) shared by the refresh and drill-down oracles.
    */
  private def dashboardFilteredCtesSql: String =
    s"""fed AS (
       |${federatedCitySql}
       |), f AS (
       |  SELECT * FROM fed
       |  WHERE datetime IS NOT NULL AND datetime >= '2010-01-01 00:00:00'
       |    AND year >= 2015 AND year <= 2017 AND hour >= 0 AND hour <= 18
       |)""".stripMargin

  /** The documents holding a token within `maxEdits` of `term` under the
    * DuckDB edit distance `distance` — the fuzzy-query oracles.
    */
  private def fuzzyDocsSql(distance: String, term: String, maxEdits: Int): String =
    s"""SELECT doc_id, lang FROM documents
       |WHERE len(list_filter($duckToks, t -> $distance(t, '$term') <= $maxEdits)) > 0
       |ORDER BY doc_id""".stripMargin

  /** The typeahead vocabulary in DuckDB: CTE `v(term, freq)`, each
    * analyzed term with its document frequency.
    */
  private val vocabularyCtesSql: String =
    s"""v AS (
       |  SELECT t AS term, count(*)::BIGINT AS freq FROM (
       |    SELECT doc_id, unnest(list_distinct($duckToks)) AS t
       |    FROM documents) GROUP BY 1
       |)""".stripMargin

  /** UNION ALL of the five saved visualizations' oracle shapes over the
    * filtered federated relation — each leg the already-proven form (terms
    * top-N, nested terms with parent-total ordering, precision-2 geohash
    * interleave), labeled and projected onto one (viz, key, subkey, count)
    * schema.
    */
  private def dashboardRefreshOracleSql: String = {
    def terms(viz: String, key: String, size: Int = 10) =
      s"""SELECT * FROM (
         |  SELECT '$viz' AS viz, $key::VARCHAR AS key, '' AS subkey,
         |    count(*) AS count
         |  FROM f GROUP BY $key ORDER BY count DESC, key ASC LIMIT $size
         |)""".stripMargin
    s"""WITH ${dashboardFilteredCtesSql}
       |${terms("description_pie", "description")}
       |UNION ALL ${terms("city_pie", "city")}
       |UNION ALL SELECT * FROM (
       |  WITH pairs AS (
       |    SELECT dayofweek, hour, count(*) AS count FROM f GROUP BY 1, 2
       |  ), tp AS (
       |    SELECT dayofweek, sum(count)::BIGINT AS parent_count FROM pairs
       |    GROUP BY 1 ORDER BY parent_count DESC, dayofweek ASC LIMIT 10
       |  ), ranked AS (
       |    SELECT p.dayofweek, p.hour, p.count,
       |      row_number() OVER (PARTITION BY p.dayofweek
       |        ORDER BY p.count DESC, p.hour ASC) AS r
       |    FROM pairs p JOIN tp USING (dayofweek)
       |  )
       |  SELECT 'day_hour_heat' AS viz, dayofweek AS key, hour::VARCHAR AS subkey,
       |    count FROM ranked WHERE r <= 24
       |)
       |UNION ALL ${terms("dataset_table", "city", size = 20)}
       |UNION ALL SELECT * FROM (
       |  WITH pts AS (
       |    SELECT split_part(geolocation, ',', 1)::DOUBLE AS lat,
       |           split_part(geolocation, ',', 2)::DOUBLE AS lon
       |    FROM f WHERE length(geolocation) > 0
       |  ), idx AS (
       |    SELECT least(31, greatest(0, floor((lat + 90) / 180 * 32)))::INT AS la,
       |           least(31, greatest(0, floor((lon + 180) / 360 * 32)))::INT AS lo
       |    FROM pts WHERE lat IS NOT NULL AND lon IS NOT NULL
       |  ), gh AS (
       |    SELECT ((lo & 16) << 5) | ((la & 16) << 4) | ((lo & 8) << 4) | ((la & 8) << 3)
       |         | ((lo & 4) << 3) | ((la & 4) << 2) | ((lo & 2) << 2) | ((la & 2) << 1)
       |         | ((lo & 1) << 1) | (la & 1) AS v
       |    FROM idx
       |  )
       |  SELECT 'map_grid' AS viz,
       |    substr('0123456789bcdefghjkmnpqrstuvwxyz', (v >> 5) + 1, 1) ||
       |    substr('0123456789bcdefghjkmnpqrstuvwxyz', (v & 31) + 1, 1) AS key,
       |    '' AS subkey, count(*) AS count
       |  FROM gh GROUP BY 1, 2, 3
       |)
       |ORDER BY viz, key, subkey""".stripMargin
  }

  /** DuckDB mirror of one city's dictionary as the federated fetch sees it:
    * per-column stats over the harmonized relation, with the registry
    * metadata ([[graft.schema.HarmonizedSchema]]) inlined at oracle-build
    * time for known fields and [[Dictionary.inferUnknownVarTypes]]'s CASE
    * restated for unknown ones (text columns always infer `text` — their
    * mean is null — so only unknown numeric columns need the runtime CASE).
    */
  private def cityDictOracleSql(dataset: String): String = {
    def sqlLit(s: String) = "'" + s.replace("'", "''") + "'"
    val subs = cityPublishedCols(dataset).map { case (name, numeric) =>
      val meta = graft.schema.HarmonizedSchema.byName.get(name)
      val (group, descr, ui) = meta match {
        case Some(m) => (m.group, m.descr, if (m.uiFilter) "True" else "False")
        case None => ("dataset", "unknown", "True")
      }
      val q = "\"" + name + "\""
      val vtype = meta match {
        case Some(m) => sqlLit(m.varType.serialize)
        case None if !numeric => "'text'"
        case None =>
          val minD = s"TRY_CAST(min($q)::VARCHAR AS DOUBLE)"
          val maxD = s"TRY_CAST(max($q)::VARCHAR AS DOUBLE)"
          s"""CASE WHEN count($q) = 0 THEN 'text'
             |    WHEN count(DISTINCT $q) = 2 AND $minD = 0 AND $maxD = 1 THEN 'boolean'
             |    WHEN count(DISTINCT $q) > (1 + $maxD - $minD)
             |      THEN 'range,0,' || floor($maxD + 1)::BIGINT::VARCHAR || ',0.1'
             |    ELSE 'range,0,' || (floor(($maxD / 10) + 1) * 10)::BIGINT::VARCHAR || ',1'
             |    END""".stripMargin
      }
      s"""SELECT ${sqlLit(dataset)} AS dataset, ${sqlLit(name)} AS dict_field,
         |  ${sqlLit(group)} AS dict_vargroup, $vtype AS dict_vartype,
         |  ${sqlLit(descr)} AS dict_vardescr,
         |  min($q)::VARCHAR AS dict_min, max($q)::VARCHAR AS dict_max,
         |  count(DISTINCT $q)::BIGINT AS dict_countdistinct,
         |  ${sqlLit(ui)} AS dict_uifilter
         |FROM rel""".stripMargin
    }
    s"""SELECT * FROM (WITH rel AS (
       |${cityHarmonizedRelationSql(dataset)}
       |) ${subs.mkString(" UNION ALL ")})""".stripMargin
  }

  /** The widget selections every w_* query makes (l_quantity in
    * [10, 20], l_returnflag phrase-prefixed by "r"), aggregated per
    * l_linestatus — one oracle for the cold, warm and JSON-wire forms.
    */
  private val lineStatusWidgetOracleSql: String =
    s"""SELECT l_linestatus, count(*) AS n,
       |  round(sum(l_extendedprice), 2) AS revenue
       |FROM lineitem
       |WHERE l_quantity >= 10 AND l_quantity <= 20
       |  AND ${graft.expr.TextMatch.phrasePrefixSql("l_returnflag", "r")}
       |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** The top 10 federated descriptions phrase-prefixed by "a" — one
    * oracle for the pinned-corpus and the rollup-served typeahead.
    */
  private def typeaheadOracleSql: String =
    s"""WITH fed AS (
       |${federatedCitySql}
       |)
       |SELECT description FROM (
       |  SELECT description, count(*) AS count FROM fed
       |  WHERE ${graft.expr.TextMatch.phrasePrefixSql("description", "a")}
       |  GROUP BY description
       |  ORDER BY count DESC, description ASC LIMIT 10
       |)""".stripMargin

  /** The federated description counts in and out of the Baltimore slice:
    * `tot(bgt, fgt)` and `c(term, bg_count, fg_count)`, for [[jlhScoreSql]]
    * or [[chi2ScoreSql]]. Null descriptions form no bucket but count toward
    * the set totals.
    */
  private def baltimoreCountCtesSql: String =
    s"""fed AS (
       |${federatedCitySql}
       |), tot AS (
       |  SELECT count(*) AS bgt,
       |    sum(CASE WHEN dataset = 'baltimore' THEN 1 ELSE 0 END)::BIGINT
       |      AS fgt
       |  FROM fed
       |), c AS (
       |  SELECT description AS term, count(*) AS bg_count,
       |    sum(CASE WHEN dataset = 'baltimore' THEN 1 ELSE 0 END)::BIGINT
       |      AS fg_count
       |  FROM fed WHERE description IS NOT NULL GROUP BY 1
       |)""".stripMargin

  val cases: Seq[QueryCase] = Seq(
    // ===== query_string — the Kibana search bar (round-13 fifth batch) =====

    // ===== query_string oracles: each clause restated with the SAME
    // analyzed-containment constructions the engine compiles to =====

    QueryCase("q_query_string", (s, dir) => {
      implicit val spark: SparkSession = s
      // The search-bar composite: field term + analyzed prefix + exact
      // phrase under full boolean algebra — the grammar every reference
      // dashboard ships in its searchSourceJSON (analyze_wildcard: true,
      // kibana-exported-visualizations.json).
      val spec = graft.query.QueryString.parse(
        """lang:en AND (text:dup* OR text:"vector scan") AND NOT source:src1*""",
        defaultField = "text")
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }, Some({
      import graft.expr.TextMatch.{containsTokenSql, phrasePrefixSql}
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${containsTokenSql("lang", "en")}
         |  AND (${phrasePrefixSql("text", "dup")}
         |       OR ${containsTokenSql("text", "vector scan")})
         |  AND NOT ${phrasePrefixSql("source", "src1")}
         |ORDER BY doc_id""".stripMargin
    })),

    QueryCase("q_query_string_default", (s, dir) => {
      implicit val spark: SparkSession = s
      // Bare clauses hit the default field and adjacency is the default
      // operator OR — Lucene's default_operator, exactly what a user
      // typing two words into the search bar gets.
      val spec = graft.query.QueryString.parse(
        """dup "big vector"""", defaultField = "text")
      load(dir, "documents").where(spec.compile)
        .agg(count(lit(1)).as("n"))
    }, Some({
      import graft.expr.TextMatch.containsTokenSql
      s"""SELECT count(*) AS n FROM documents
         |WHERE ${containsTokenSql("text", "dup")}
         |   OR ${containsTokenSql("text", "big vector")}""".stripMargin
    })),

    QueryCase("q_query_string_analytics", (s, dir) => {
      implicit val spark: SparkSession = s
      // exists + half-open range + NOT over the events stream: the
      // webapp's own `dict_field:*` exists idiom (collections.js:79)
      // against a derived nullable (view rows carry no conversion type —
      // the g_missing construction).
      val spec = graft.query.QueryString.parse(
        "conv_type:* AND value:[10 TO 50} AND NOT event_type:error",
        defaultField = "event_type")
      loadEvents(dir)
        .withColumn("conv_type", expr("nullif(event_type, 'view')"))
        .where(spec.compile)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }, Some({
      import graft.expr.TextMatch.containsTokenSql
      s"""SELECT event_type, count(*) AS n FROM events
         |WHERE nullif(event_type, 'view') IS NOT NULL
         |  AND value >= 10 AND value < 50
         |  AND NOT ${containsTokenSql("event_type", "error")}
         |GROUP BY event_type ORDER BY event_type""".stripMargin
    })),

    // Escaped reserved characters reach the analyzer whole; the analyzer
    // folds them to contiguous-token containment — so the oracle passes
    // the same literal terms through the same analysis.
    QueryCase("q_query_string_escaped", (s, dir) => {
      implicit val spark: SparkSession = s
      // `\`-escapes (round-13 verdict #6): reserved characters queried
      // LITERALLY — `key\-agg` is the hyphenated term (not a MUST_NOT
      // operator), `big\ vector` a term with a literal space (not two
      // clauses). Both reach the analyzer whole, which folds them to
      // contiguous-token containment — ES's analyzed match of the same
      // user input.
      val spec = graft.query.QueryString.parse(
        """text:key\-agg OR text:big\ vector""", defaultField = "text")
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }, Some({
      import graft.expr.TextMatch.containsTokenSql
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${containsTokenSql("text", "key-agg")}
         |   OR ${containsTokenSql("text", "big vector")}
         |ORDER BY doc_id""".stripMargin
    })),

    // `-` MUST_NOT with a constraining SHOULD (no must present):
    // prefix(dup) AND NOT prefix(src1).
    QueryCase("q_query_string_ops", (s, dir) => {
      implicit val spark: SparkSession = s
      // Lucene `+`/`-` occurrence prefixes (round-13 verdict #6): with no
      // MUST present, the SHOULD clause still constrains (≥ 1 must
      // match) and the MUST_NOT excludes — `dup* -source:src1*` filters
      // to prefix(dup) AND NOT prefix(src1), the Kibana-habituated
      // user's exclusion idiom.
      val spec = graft.query.QueryString.parse(
        """text:dup* -source:src1*""", defaultField = "text")
      load(dir, "documents").where(spec.compile)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }, Some({
      import graft.expr.TextMatch.phrasePrefixSql
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${phrasePrefixSql("text", "dup")}
         |  AND NOT ${phrasePrefixSql("source", "src1")}
         |ORDER BY doc_id""".stripMargin
    })),

    // Fuzzy: the same analyzed tokens, the same classic-Levenshtein
    // threshold — list_filter + levenshtein is DuckDB's spelling of the
    // engine's higher-order exists.
    QueryCase("q_fuzzy_match", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES fuzzy query through the search bar: `dupe~1` reaches the
      // corpus term 'dup' at one edit. Scan form: per-row bounded
      // levenshtein over analyzed tokens (classic distance — documented
      // transpositions:false delta, Spark and DuckDB share it).
      val spec = graft.query.QueryString.parse(
        "text:dupe~1", defaultField = "text")
      SearchQueries.matchingDocs(dir, spec)
    }, Some(fuzzyDocsSql("levenshtein", "dupe", maxEdits = 1))),

    // The SymSpell index path returns provably the same documents — the
    // candidate superset is closed under the deletion lemma and the
    // levenshtein verify makes it exact — so the oracle is shared.
    QueryCase("q_fuzzy_match_indexed", (s, dir) => {
      implicit val spark: SparkSession = s
      // The 100 TB serve path: SymSpell deletion-neighborhood index over
      // the vocabulary (Heaps-law-sized), probe + exact verify + one
      // corpus semi-join — provably the scan twin's result set, so the
      // oracle is shared.
      graft.query.Fuzzy.fuzzyDocs(
          load(dir, "documents"), "text", "dupe", maxEdits = 1)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }, Some(fuzzyDocsSql("levenshtein", "dupe", maxEdits = 1))),

    // Damerau fuzzy: the same analyzed tokens under the same unrestricted
    // transposition-counting distance.
    QueryCase("q_fuzzy_match_damerau", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES's DEFAULT fuzziness counts a transposition as ONE edit:
      // 'tbale'~1 reaches 'table' under Damerau (swap) where classic
      // Levenshtein needs 2 — the transpositions delta, closed by the
      // codegen'd full DL expression (DuckDB's damerau_levenshtein is
      // the same unrestricted variant).
      load(dir, "documents")
        .where(graft.query.FilterSpec.FuzzyTerm(
          "text", "tbale", maxEdits = 1, transpositions = true).compile)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }, Some(fuzzyDocsSql("damerau_levenshtein", "tbale", maxEdits = 1))),

    // Sloppy phrase: positions from the identical token stream, the same
    // ordered constraint p2 > p1 AND p2 - p1 - 1 <= slop.
    QueryCase("q_phrase_slop", (s, dir) => {
      implicit val spark: SparkSession = s
      // Sloppy phrase via the search bar: tokens in order within slop
      // extra positions (ordered form — documented delta vs Lucene's
      // transposition-tolerant moves metric). Positions and the chain
      // check are higher-order Column algebra — no UDF, row-local.
      val spec = graft.query.QueryString.parse(
        """text:"spark scan"~2""", defaultField = "text")
      SearchQueries.matchingDocs(dir, spec)
    }, Some(
      s"""WITH ${tokenPositionCtesSql(
        ("a", "p1", "toks[u.i] = 'spark'"),
        ("b", "p2", "toks[u.i] = 'scan'"))}
        |SELECT DISTINCT t.doc_id, t.lang
        |FROM a JOIN b USING (doc_id) JOIN t USING (doc_id)
        |WHERE p2 > p1 AND p2 - p1 - 1 <= 2
        |ORDER BY doc_id""".stripMargin)),

    // span_near any-order: one position per term, pairwise distinct,
    // window width − 3 ≤ 4 — the exact predicate the nested exists
    // evaluates row-locally.
    QueryCase("q_span_near", (s, dir) => {
      implicit val spark: SparkSession = s
      // Lucene/ES span_near, ANY order (in_order: false) — the span
      // family's typable grammar form `~nearN`: all three terms at
      // pairwise-distinct positions inside a window of total gap budget
      // 4, in any arrangement. 266 sf0.01 docs contain all three terms;
      // the window cuts that to 64 — the slop is doing the work. Nested
      // higher-order exists over the row's own position lists: row-local,
      // no UDF, no join.
      val spec = graft.query.QueryString.parse(
        """text:"spark scan merge"~near4""", defaultField = "text")
      SearchQueries.matchingDocs(dir, spec)
    }, Some(
      s"""WITH ${tokenPositionCtesSql(
        ("a", "p1", "toks[u.i] = 'spark'"),
        ("b", "p2", "toks[u.i] = 'scan'"),
        ("c", "p3", "toks[u.i] = 'merge'"))}
        |SELECT DISTINCT t.doc_id, t.lang
        |FROM a JOIN b USING (doc_id) JOIN c USING (doc_id) JOIN t USING (doc_id)
        |WHERE p1 <> p2 AND p1 <> p3 AND p2 <> p3
        |  AND greatest(p1, p2, p3) - least(p1, p2, p3) - 2 <= 4
        |ORDER BY doc_id""".stripMargin)),

    // intervals ordered match: 'scan' strictly before 'spark' with at
    // most max_gaps intervening positions.
    QueryCase("q_intervals", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES intervals `match` with ordered + max_gaps (`~gapsN`): 'scan'
      // before 'spark' with at most 3 intervening positions — the
      // REVERSE of the corpus's dominant phrasing, so order matters (318
      // docs have both terms; 85 satisfy the ordered gap bound). Same
      // position-list machinery as span_near/phrase-slop.
      val spec = graft.query.QueryString.parse(
        """text:"scan spark"~gaps3""", defaultField = "text")
      SearchQueries.matchingDocs(dir, spec)
    }, Some(
      s"""WITH ${tokenPositionCtesSql(
        ("a", "p1", "toks[u.i] = 'scan'"),
        ("b", "p2", "toks[u.i] = 'spark'"))}
        |SELECT DISTINCT t.doc_id, t.lang
        |FROM a JOIN b USING (doc_id) JOIN t USING (doc_id)
        |WHERE p2 > p1 AND p2 - p1 - 1 <= 3
        |ORDER BY doc_id""".stripMargin)),

    // all_of restated: per-alternative phrase-occurrence intervals from
    // the same token stream (list-slice equality gives the starts), slot
    // alternatives unioned, the ordered non-overlap + gap-budget algebra
    // verbatim: s2 > e1, enclosing width − Σ widths ≤ 3.
    QueryCase("q_intervals_all_of", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES intervals all_of COMBINATION (ordered): each slot a nested
      // any_of of MIXED-LENGTH alternatives — ("spark" | "big vector")
      // then ("merge join" | "scan") — intervals strictly ordered and
      // non-overlapping with total gap budget 3 (94 sf0.01 docs; the
      // budget is doing real work: 61 at gaps 1, 146 at 6). One
      // occurrence interval chosen per slot via nested exists over the
      // row's own phrase-occurrence lists.
      val spec = graft.query.FilterSpec.IntervalsAllOf("text",
        Seq(Seq("spark", "big vector"), Seq("merge join", "scan")), maxGaps = 3)
      SearchQueries.matchingDocs(dir, spec)
    }, Some(
      s"""WITH ${tokenPositionCtesSql()}, s1 AS (
        |  SELECT doc_id, u.i AS s, u.i AS e
        |  FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'spark'
        |  UNION ALL
        |  SELECT doc_id, u.i, u.i + 1
        |  FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i:u.i+1] = ['big', 'vector']
        |), s2 AS (
        |  SELECT doc_id, u.i AS s, u.i + 1 AS e
        |  FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i:u.i+1] = ['merge', 'join']
        |  UNION ALL
        |  SELECT doc_id, u.i, u.i
        |  FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'scan'
        |)
        |SELECT DISTINCT t.doc_id, t.lang
        |FROM s1 JOIN s2 USING (doc_id) JOIN t USING (doc_id)
        |WHERE s2.s > s1.e
        |  AND (s2.e - s1.s + 1) - ((s1.e - s1.s + 1) + (s2.e - s2.s + 1)) <= 3
        |ORDER BY doc_id""".stripMargin)),

    // all_of unordered restated: the same per-slot occurrence intervals,
    // the minimal-enclosing-window gap algebra with NO arrangement
    // constraint — greatest(e) − least(s) + 1 − Σ widths ≤ 2 (overlaps
    // drive the expression negative, which still passes — Lucene's
    // unordered overlap semantics).
    QueryCase("q_intervals_all_of_any", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES intervals all_of with ordered: false (round-15 "decide
      // unordered" — implemented on the exact domain): Lucene's
      // unordered source — any arrangement, overlaps allowed, gaps =
      // enclosing width − Σ chosen widths ≤ 2 — over uniform-width
      // slots ("spark") + ("batch scan"), where the exists-a-choice
      // evaluation equals Lucene's minimal-interval enumeration
      // (IntervalsAllOf scaladoc). The flag does real work at the
      // fixture: 10 sf0.01 docs vs 3 for the ordered twin of the same
      // slots (reversed arrangements join here).
      val spec = graft.query.FilterSpec.IntervalsAllOf("text",
        Seq(Seq("spark"), Seq("batch scan")), maxGaps = 2, ordered = false)
      SearchQueries.matchingDocs(dir, spec)
    }, Some(
      s"""WITH ${tokenPositionCtesSql()}, s1 AS (
        |  SELECT doc_id, u.i AS s, u.i AS e
        |  FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'spark'
        |), s2 AS (
        |  SELECT doc_id, u.i AS s, u.i + 1 AS e
        |  FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i:u.i+1] = ['batch', 'scan']
        |)
        |SELECT DISTINCT t.doc_id, t.lang
        |FROM s1 JOIN s2 USING (doc_id) JOIN t USING (doc_id)
        |WHERE (greatest(s1.e, s2.e) - least(s1.s, s2.s) + 1)
        |  - ((s1.e - s1.s + 1) + (s2.e - s2.s + 1)) <= 2
        |ORDER BY doc_id""".stripMargin)),

    // all_of unordered MIXED-length slots restated: the same occurrence
    // intervals, per-slot OR-minimization as a correlated NOT EXISTS
    // (an interval properly containing another of its slot never
    // serves), the cross-joined candidate windows, and combine
    // minimality as a second NOT EXISTS over the candidates — the
    // minimal-interval algebra end to end in SQL.
    QueryCase("q_intervals_all_of_mixed", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES intervals all_of unordered over MIXED-length slots (round-16
      // verdict #7 — the formerly-rejected domain): ("scan" |
      // "batch scan") then ("merge"), gap budget 0, any arrangement.
      // Evaluated per the minimal-interval algebra (IntervalsAllOf
      // scaladoc: per-slot OR-minimization — every "batch scan"
      // occurrence contains a "scan", so the wide alternative never
      // serves — then combine-minimal candidate windows). The algebra
      // does real work at this fixture: 49 sf0.01 docs vs 51 under the
      // naive exists-a-choice evaluation whose over-match the old
      // loud reject pinned (58 vs 59 at sf0.001, 515 vs 522 at sf0.1).
      // Certified against an independent brute-force evaluator in
      // ProximitySemanticsSpec; the oracle restates the same algebra in
      // SQL (1-based positions — window arithmetic is base-invariant).
      val spec = graft.query.FilterSpec.IntervalsAllOf("text",
        Seq(Seq("scan", "batch scan"), Seq("merge")), maxGaps = 0,
        ordered = false)
      SearchQueries.matchingDocs(dir, spec)
    }, Some(
      s"""WITH ${tokenPositionCtesSql()}, s1 AS (
        |  SELECT doc_id, u.i AS s, u.i AS e
        |  FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'scan'
        |  UNION ALL
        |  SELECT doc_id, u.i, u.i + 1
        |  FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i:u.i+1] = ['batch', 'scan']
        |), s1m AS (
        |  SELECT * FROM s1 x WHERE NOT EXISTS (
        |    SELECT 1 FROM s1 y WHERE y.doc_id = x.doc_id
        |      AND y.s >= x.s AND y.e <= x.e AND (y.s > x.s OR y.e < x.e))
        |), s2 AS (
        |  SELECT doc_id, u.i AS s, u.i AS e
        |  FROM t, unnest(range(1, len(toks)+1)) AS u(i)
        |  WHERE toks[u.i] = 'merge'
        |), cand AS (
        |  SELECT s1m.doc_id, least(s1m.s, s2.s) AS ws,
        |    greatest(s1m.e, s2.e) AS we,
        |    (s1m.e - s1m.s + 1) + (s2.e - s2.s + 1) AS inner_w
        |  FROM s1m JOIN s2 USING (doc_id)
        |)
        |SELECT DISTINCT t.doc_id, t.lang
        |FROM cand c JOIN t ON c.doc_id = t.doc_id
        |WHERE (c.we - c.ws + 1) - c.inner_w <= 0
        |  AND NOT EXISTS (SELECT 1 FROM cand d WHERE d.doc_id = c.doc_id
        |    AND d.ws >= c.ws AND d.we <= c.we
        |    AND (d.ws > c.ws OR d.we < c.we))
        |ORDER BY t.doc_id""".stripMargin)),

    // Wildcard: the identical LIKE translation (* -> %, ? -> _).
    QueryCase("q_wildcard", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES term-level wildcard (embedded ? defeats analyze_wildcard's
      // prefix fast path): raw keyword field, LIKE-translated — both
      // engines share the operator.
      val spec = graft.query.QueryString.parse(
        "source:s?c1*", defaultField = "text")
      load(dir, "documents").where(spec.compile)
        .groupBy("source").agg(count(lit(1)).as("n"))
        .orderBy("source")
    }, Some(
      """SELECT source, count(*) AS n FROM documents
        |WHERE source LIKE 's_c1%'
        |GROUP BY source ORDER BY source""".stripMargin)),

    // Regexp: DuckDB's full-match primitive mirrors the engine's anchored
    // rlike wrapper.
    QueryCase("q_regexp", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES/Lucene regexp query through the search bar — `field:/pattern/`,
      // implicitly anchored full-value match over the raw keyword field,
      // in the RE2-compatible dialect both engines share.
      val spec = graft.query.QueryString.parse(
        "source:/src1[0-9]/ OR source:/s[0-9]/", defaultField = "text")
      load(dir, "documents").where(spec.compile)
        .groupBy("source").agg(count(lit(1)).as("n"))
        .orderBy("source")
    }, Some(
      """SELECT source, count(*) AS n FROM documents
        |WHERE regexp_full_match(source, 'src1[0-9]')
        |   OR regexp_full_match(source, 's[0-9]')
        |GROUP BY source ORDER BY source""".stripMargin)),

    // Percolator: each stored query's predicate restated, one UNION ALL
    // branch per query — the reverse of the usual one-query oracle.
    QueryCase("q_percolate", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES percolator — search reversed (the Kibana-alerting machinery):
      // stored queries are user-authored query_string TEXT, compiled by
      // the parser, all evaluated in ONE codegen'd corpus scan. Long
      // form: one (query_id, doc_id) row per match.
      val stored = graft.query.Percolator.fromStrings(Seq(
        "alert_dup" -> "text:dup",
        "alert_vector_scan" -> """text:"vector scan"""",
        "alert_long_en" -> "lang:en AND n_chars:[400 TO *]"),
        defaultField = "text")
      graft.query.Percolator.percolateLong(load(dir, "documents"), "doc_id", stored)
        .orderBy("query_id", "doc_id")
    }, Some(percolateOracleSql)),

    // The whole phrase-suggester chain restated: vocabulary df, banded
    // candidates with min/max dedup, positional cross product, integer
    // bigram-LM rescoring (the quality_lm_* CTE pattern).
    QueryCase("q_suggest_phrase", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES phrase suggester: per-position Levenshtein candidates, cross-
      // product sequences, each rescored by the corpus-trained integer
      // bigram LM — "tabel scan fastt" corrects to "table scan fast"
      // because the corrected bigrams are cheap where the OOV ones pay
      // the flat 24-bit cost.
      graft.query.Fuzzy.suggestPhrase(
        load(dir, "documents"), "doc_id", "text", "tabel scan fastt",
        maxEdits = 2, perTermCandidates = 3, n = 5)
    }, Some(
      graft.query.Fuzzy.suggestPhraseOracleSql(
        "documents", "text", "tabel scan fastt",
        maxEdits = 2, perTermCandidates = 3, n = 5))),

    // Collapse: identical scored set (shared scored CTE), per-lang argmax
    // via QUALIFY, identical final ranking.
    QueryCase("search_bm25_collapse", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES collapse: one best BM25 hit per lang (field collapsing — dedup
      // the result list by source/domain without an aggregation round
      // trip), collapsed list ranked by surviving scores.
      val docs = load(dir, "documents")
      val analyzed = graft.expr.TextMatch.AsciiAnalyzer.padded(col("text"))
      val scored = graft.query.Bm25.scored(docs, "doc_id", analyzed,
        graft.query.Bm25.Terms.words("dup vector scan"))
      val withLang = scored.join(docs.select("doc_id", "lang"), "doc_id")
      graft.query.Paging.collapseTopHits(withLang, "doc_id", "score", "lang", k = 3)
        .select("doc_id", "lang", "score")
    }, Some({
      val scored = graft.query.Bm25.oracleSqlScored(
        "documents", "doc_id", "text", graft.query.Bm25.Terms.words("dup vector scan"))
      s"""WITH s AS (
         |$scored
         |)
         |SELECT s.doc_id, d.lang, s.score
         |FROM s JOIN documents d USING (doc_id)
         |QUALIFY row_number() OVER (
         |  PARTITION BY d.lang ORDER BY s.score DESC, s.doc_id ASC) = 1
         |ORDER BY s.score DESC, s.doc_id ASC LIMIT 3""".stripMargin
    })),

    // collapse + inner_hits: the same scored set; groups ranked by their
    // best hit, each group's top-2 kept with in-group ranks.
    QueryCase("search_bm25_collapse_inner", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES collapse + inner_hits: the top-3 langs by their best BM25 hit,
      // each group carrying its own top-2 hits (group_rank × inner_rank)
      // — the "best page per site, with runners-up" serving shape.
      val docs = load(dir, "documents")
      val analyzed = graft.expr.TextMatch.AsciiAnalyzer.padded(col("text"))
      val scored = graft.query.Bm25.scored(docs, "doc_id", analyzed,
        graft.query.Bm25.Terms.words("dup vector scan"))
      val withLang = scored.join(docs.select("doc_id", "lang"), "doc_id")
      graft.query.Paging.collapseInnerHits(withLang, "doc_id", "score",
        "lang", k = 3, innerK = 2)
    }, Some({
      val scored = graft.query.Bm25.oracleSqlScored(
        "documents", "doc_id", "text", graft.query.Bm25.Terms.words("dup vector scan"))
      s"""WITH s AS (
         |$scored
         |), ranked AS (
         |  SELECT d.lang, s.doc_id, s.score,
         |    row_number() OVER (
         |      PARTITION BY d.lang ORDER BY s.score DESC, s.doc_id ASC) AS inner_rank
         |  FROM s JOIN documents d USING (doc_id)
         |  QUALIFY inner_rank <= 2
         |), topg AS (
         |  SELECT lang, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS group_rank
         |  FROM ranked WHERE inner_rank = 1
         |  QUALIFY group_rank <= 3
         |)
         |SELECT r.lang, t.group_rank, r.inner_rank, r.doc_id, r.score
         |FROM ranked r JOIN topg t USING (lang)
         |ORDER BY t.group_rank, r.inner_rank""".stripMargin
    })),

    // search_after: identical scored set, the identical lexicographic
    // strictly-after predicate on the (score, id) anchor.
    QueryCase("search_bm25_page2", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES search_after: the page after the anchor (score, id) tuple —
      // the deep-pagination shape (a predicate on the sort key, constant
      // work per page), never an offset scan. Anchor = page 1's last hit
      // at sf0.01, passed back as literals the way a client would.
      val docs = load(dir, "documents")
      val analyzed = graft.expr.TextMatch.AsciiAnalyzer.padded(col("text"))
      val scored = graft.query.Bm25.scored(docs, "doc_id", analyzed,
        graft.query.Bm25.Terms.words("dup vector scan"))
      graft.query.Paging.searchAfter(scored, "doc_id", "score",
        afterScore = 4.268536153941243, afterId = 45L, k = 5)
    }, Some({
      val scored = graft.query.Bm25.oracleSqlScored(
        "documents", "doc_id", "text", graft.query.Bm25.Terms.words("dup vector scan"))
      s"""WITH s AS (
         |$scored
         |)
         |SELECT doc_id, score FROM s
         |WHERE score < 4.268536153941243
         |   OR (score = 4.268536153941243 AND doc_id > 45)
         |ORDER BY score DESC, doc_id ASC LIMIT 5""".stripMargin
    })),

    // Full MLT retrieval restated: identical analyzer, integer tf/df/dl,
    // identical IEEE selection + scoring trees, term-ordered fold.
    QueryCase("search_more_like_this", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES more_like_this: rank doc 42's terms by tf·idf, keep the top
      // 10 past the min_term_freq/min_doc_freq prunes (ES defaults 2/5),
      // BM25-score every other document sharing a selected term —
      // "related items" next to a search result. Deterministic ordered
      // score fold; full retrieval restated in the oracle.
      graft.query.MoreLikeThis.moreLikeThis(
        load(dir, "documents"), "doc_id", "text", seedId = 42L)
    }, Some(
      graft.query.MoreLikeThis.oracleSql("documents", "doc_id", "text", seedId = 42L))),

    // Term suggester: the same vocabulary document frequencies, the same
    // classic-Levenshtein band, the same distance/freq/term ranking.
    QueryCase("q_suggest_term", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES term suggester ("did you mean"): vocabulary terms within 2
      // edits of the misspelling 'tabel', ranked distance-then-frequency
      // — candidates from the same SymSpell deletion probe as fuzzy
      // retrieval, document frequency as the popularity statistic.
      graft.query.Fuzzy.suggestTerms(
        load(dir, "documents"), col("text"), "tabel", maxEdits = 2, n = 5)
    }, Some(
      s"""WITH $vocabularyCtesSql
        |SELECT term, freq, levenshtein(term, 'tabel')::INT AS distance
        |FROM v WHERE levenshtein(term, 'tabel') BETWEEN 1 AND 2
        |ORDER BY distance ASC, freq DESC, term ASC LIMIT 5""".stripMargin)),

    // Completion suggester: same vocabulary, same prefix-edit band and
    // guard, same distance/freq/term ranking.
    QueryCase("q_suggest_completion", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES completion suggester with fuzziness 1 over the same at-rest
      // vocabulary: exact 'sp' completions rank at distance 0 (spark),
      // then one-edit 2-prefixes (scan/small/slow/…) by document
      // frequency — both ranking tiers carry teeth, and the df values
      // re-derive at any scale.
      graft.query.Fuzzy.suggestCompletion(
        graft.query.Fuzzy.vocabularyWithFreq(load(dir, "documents"), col("text")),
        "sp", size = 6, fuzziness = 1, prefixLength = 1)
    }, Some(
      s"""WITH $vocabularyCtesSql
        |SELECT term, freq, levenshtein(substr(term, 1, 2), 'sp')::BIGINT AS distance
        |FROM v
        |WHERE len(term) >= 2 AND substr(term, 1, 1) = 's'
        |  AND levenshtein(substr(term, 1, 2), 'sp') <= 1
        |ORDER BY distance ASC, freq DESC, term ASC LIMIT 6""".stripMargin)),

    // Highlight: the identical single-pass word-boundary alternation
    // (RE2 spelling), over the identically-filtered match set.
    QueryCase("q_highlight", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES highlight, whole-field mode: every whole-token occurrence of
      // a query term wrapped in <em> tags over the matching documents —
      // the search-results display tier. Single-pass alternation so
      // inserted tags are never re-matched.
      import graft.expr.TextMatch
      load(dir, "documents")
        .where(TextMatch.containsToken(col("text"), "dup") ||
          TextMatch.containsToken(col("text"), "vector"))
        .select(col("doc_id"),
          TextMatch.highlight(col("text"), "dup vector").as("highlighted"))
        .orderBy("doc_id")
    }, Some({
      import graft.expr.TextMatch.{containsTokenSql, highlightSql}
      s"""SELECT doc_id, ${highlightSql("text", "dup vector")} AS highlighted
         |FROM documents
         |WHERE ${containsTokenSql("text", "dup")}
         |   OR ${containsTokenSql("text", "vector")}
         |ORDER BY doc_id""".stripMargin
    })),

    QueryCase("w_dict_driven_query", (s, dir) => {
      implicit val spark: SparkSession = s
      // The system's data-driven core, end to end (SURVEY.md §3.2): profile
      // the table into a dictionary, derive typed widgets from it, apply
      // user selections, compile, aggregate. Nothing below hardcodes a
      // predicate form — the dictionary decides.
      import graft.query.Widgets
      val li = load(dir, "lineitem")
      // approx distinct suffices for widget typing (HLL is exact at the tiny
      // cardinalities the boolean check needs) — the 100 TB profile path.
      val fields = Widgets.fieldsFromDictionary(
        Dictionary.profile(li, exactDistinct = false))
      val fc = fields
        .select("l_quantity", Widgets.Selection.RangeSel(10, 20))
        .select("l_returnflag", Widgets.Selection.TextSel("r"))
      lineStatusRevenue(li, fc)
    }, Some(lineStatusWidgetOracleSql)),

    // identical compiled predicate — the warm dictionary only changes where
    // the widget typing is read from
    QueryCase("w_dict_driven_query_warm", (s, dir) => {
      implicit val spark: SparkSession = s
      // The §3.2 widget pipeline against the WARM dictionary: compile cost
      // collapses to a cache read, leaving only the actual aggregation scan
      // — the reference's per-interaction shape (dictionary from the hot
      // index, one ES query per widget change). Same oracle as the cold form.
      import graft.query.Widgets
      val li = load(dir, "lineitem")
      val fields = lineitemWarmFields(s, li, dir)
      val fc = fields
        .select("l_quantity", Widgets.Selection.RangeSel(10, 20))
        .select("l_returnflag", Widgets.Selection.TextSel("r"))
      lineStatusRevenue(li, fc)
    }, Some(lineStatusWidgetOracleSql), warm = true),

    // identical compiled predicate to w_dict_driven_query — the JSON wire
    // decode changes where the selections come from, not what they compile to
    QueryCase("w_json_widget_query", (s, dir) => {
      implicit val spark: SparkSession = s
      // The §3.2 pipeline fed from the WIRE: the webapp's widget-state JSON
      // (the exact Backbone attributes `generateQuery` reads) decoded by
      // Widgets.fromJson into the same selections w_dict_driven_query makes
      // programmatically — same compile chain, same oracle. The disabled
      // third widget and the empty-text fourth mirror `enabledValueFields`'
      // skip rules.
      import graft.query.Widgets
      val li = load(dir, "lineitem")
      val fields = lineitemWarmFields(s, li, dir)
      val fc = Widgets.fromJson(fields,
        """[{"name": "l_quantity", "type": "range", "value": [10, 20],
          |  "enabled": {"state": true, "lastEnabled": 1}},
          | {"name": "l_returnflag", "type": "text", "value": "r",
          |  "enabled": {"state": true, "lastEnabled": 2}},
          | {"name": "l_linestatus", "type": "text", "value": "x",
          |  "enabled": {"state": false, "lastEnabled": 0}},
          | {"name": "l_shipdate", "type": "text", "value": "",
          |  "enabled": {"state": true, "lastEnabled": 3}}]""".stripMargin)
      lineStatusRevenue(li, fc)
    }, Some(lineStatusWidgetOracleSql)),

    // Metadata fields are literals here: no lineitem column is in the
    // harmonized vocabulary, so every row gets the registry defaults.
    QueryCase("q8_dict_fetch", (s, dir) => {
      implicit val spark: SparkSession = s
      // The webapp's dictionary fetch (Q8): non-null fields, the full
      // 8-field `_source` projection (`collections.js:68-77`), limited to
      // 1000. The reference asks for `dict_countDistinct` — a casing bug
      // (the indexed field is `dict_countdistinct`, so ES's case-sensitive
      // _source filter silently drops it); we project the real column.
      Dictionary.profile(load(dir, "lineitem"))
        .where(col("dict_field").isNotNull)
        .select("dict_field", "dict_vargroup", "dict_vartype", "dict_vardescr",
          "dict_min", "dict_max", "dict_countdistinct", "dict_uifilter")
        .orderBy("dict_field")
        .limit(1000)
    }, Some(dictOracle(
      "dict_field, 'dataset' AS dict_vargroup, dict_vartype, " +
        "'unknown' AS dict_vardescr, dict_min, dict_max, " +
        "dict_countdistinct, 'True' AS dict_uifilter"))),

    // the cache changes where the dictionary is read from, never its content
    QueryCase("q8_dict_fetch_warm", (s, dir) => {
      implicit val spark: SparkSession = s
      // Warm twin of q8_dict_fetch — the reference's actual serving shape:
      // the dictionary lives in a hot index and the fetch never touches the
      // corpus. First call profiles + caches; Bench's min-of-N measures the
      // warm fetch. Identical results (and oracle) to the cold form.
      Dictionary.materializeProfile(s, load(dir, "lineitem"),
          s"graft_dict_lineitem_${math.abs(dir.hashCode)}")
        .where(col("dict_field").isNotNull)
        .select("dict_field", "dict_vargroup", "dict_vartype", "dict_vardescr",
          "dict_min", "dict_max", "dict_countdistinct", "dict_uifilter")
        .transform(Aggs.inOrder(_, col("dict_field")))
        .limit(1000)
    }, Some(dictOracle(
      "dict_field, 'dataset' AS dict_vargroup, dict_vartype, " +
        "'unknown' AS dict_vardescr, dict_min, dict_max, " +
        "dict_countdistinct, 'True' AS dict_uifilter")), warm = true),

    // The federated `*dictionary*` fetch: three per-city dictionaries, each
    // a per-column stats sweep over its harmonized relation with registry
    // metadata inlined, unioned and sorted — the webapp's one-query view of
    // every dataset's dictionary.
    QueryCase("q8_dict_fetch_federated", (s, _) => {
      // The webapp's ACTUAL dictionary fetch: one query against the
      // `*dictionary*` wildcard — the union of every dataset's dictionary
      // at once (`services/webapp/src/config.js:22`,
      // `collections.js:66-81`) — not a per-table fetch. Each city's
      // dictionary is profiled once over its published (at-rest) shape and
      // pinned warm; the fetch itself reads ONE published kilobyte-sized
      // federated view and never touches a corpus. The `dataset` column
      // plays the role of the ES `_index` name the webapp groups fields by.
      // Publishing the union once (not re-deriving it per fetch) mirrors the
      // wildcard index itself: `*dictionary*` is a single at-rest surface.
      val fed =
        if (s.catalog.tableExists("graft_dict_federated")) {
          s.table("graft_dict_federated")
        } else {
          val union = Seq("baltimore", "detroit", "losangeles").map { city =>
            Dictionary.materializeProfile(s, cityPublished(s, city),
                s"graft_dict_city_$city")
              .withColumn("dataset", lit(city))
          }.reduce(_.unionByName(_))
          Dictionary.publishResult(s, union, "graft_dict_federated")
        }
      fed
        .where(col("dict_field").isNotNull)
        .select("dataset", "dict_field", "dict_vargroup", "dict_vartype",
          "dict_vardescr", "dict_min", "dict_max", "dict_countdistinct",
          "dict_uifilter")
        .orderBy("dataset", "dict_field")
        .limit(1000)
    }, Some(
      s"""${Seq("baltimore", "detroit", "losangeles")
             .map(cityDictOracleSql).mkString("\nUNION ALL\n")}
         |ORDER BY dataset, dict_field LIMIT 1000""".stripMargin), warm = true),

    QueryCase("g7_typeahead_federated", (s, _) => {
      // The webapp's typeahead issues against the `*harmonized*` pattern,
      // not one table (`views.js:378-412` + `config.js:16`): suggest the
      // top values of the shared `description` field across every city at
      // once, served from the pinned federated cache.
      Aggs.typeahead(federatedHarmonized(s, warm = true), "description", "a", 10)
    }, Some(typeaheadOracleSql), warm = true),

    QueryCase("dashboard_refresh", (s, _) => dashboardRefresh(s, warm = false), Some(dashboardRefreshOracleSql)),

    // the cache changes where the federated view is read from, never its rows
    QueryCase("dashboard_refresh_warm", (s, _) => {
      // One dashboard interaction at steady state: all five saved viz under
      // a fresh dictionary-driven filter against the PINNED federated view —
      // the latency a user feels per widget change (reference: one Kibana
      // dashboard refresh = five ES _search calls against the hot index).
      dashboardRefresh(s, warm = true)
    }, Some(dashboardRefreshOracleSql), warm = true),

    // the rollup-served typeahead must reproduce the corpus-scan oracle
    QueryCase("g7_typeahead_preagg", (s, _) => {
      // The federated typeahead served from the at-rest rollup instead of
      // the pinned corpus projection — completions from the term
      // dictionary, like ES suggest. Same oracle as g7_typeahead_federated
      // (the equivalence claim); PlanSpec pins the rollup-only plan.
      PreAgg.typeahead(dashboardRollup(s), "description", "a", 10)
    }, Some(typeaheadOracleSql), warm = true),

    // The rollup-served JLH restated over the federated CORPUS relation —
    // the serving layer is invisible to results. Null descriptions form no
    // bucket but count toward the set totals, exactly as the engine's
    // missing-term contract states.
    QueryCase("g_significant_terms_preagg", (s, _) => {
      // "Which descriptions characterize Baltimore against the whole
      // federation" — ES significant_terms served from the at-rest rollup:
      // doc-frequency counts become sum(cnt) re-aggregations, the corpus
      // is never scanned at serve time, and the JLH ranking hash-matches
      // the corpus-scan oracle.
      PreAgg.significantTerms(dashboardRollup(s), "description",
        col("dataset") === "baltimore", n = 10)
    }, Some(s"WITH $baltimoreCountCtesSql\n${jlhScoreSql(10)}")),

    // chi_square over the rollup: the same contingency tree over the same
    // federated counts.
    QueryCase("g_significant_terms_chi2_preagg", (s, _) => {
      // The chi_square heuristic served from the SAME at-rest rollup —
      // the x-pack-style "pick your significance scorer" knob with rollup
      // rows replacing doc-frequency counts; identical IEEE tree, shared
      // corpus-scan oracle restatement.
      PreAgg.significantTerms(dashboardRollup(s), "description",
        col("dataset") === "baltimore", n = 10, heuristic = "chi_square")
    }, Some(s"WITH $baltimoreCountCtesSql\n${chi2ScoreSql(10)}")),

    // the pre-agg path must reproduce the FULL-SCAN oracle exactly — that
    // equivalence is the whole claim
    QueryCase("dashboard_refresh_preagg", (s, _) => {
      // The dashboard served from the at-rest rollup — what replaces the
      // pinned-corpus warm path at 100 TB. Same buckets, same oracle as
      // dashboard_refresh; the plan reads ONLY the rollup (PlanSpec pins
      // it) and a widget change costs |distinct dim combos|, not |corpus|.
      dashboardRefreshPreagg(s)
    }, Some(dashboardRefreshOracleSql), warm = true),

    // increment-then-merge must commute with serving: the hash-split
    // per-batch rollup build reproduces the full-scan oracle exactly
    QueryCase("dashboard_preagg_incremental", (s, _) => {
      implicit val spark: SparkSession = s
      // The INGEST half of the serving rollup at 100 TB: the rollup table
      // is never rebuilt by re-scanning the corpus — per-arrival batches
      // (daily partitions in production, micro-batches under
      // EventStreams.maintainRollup) each contribute one mergeable
      // increment, and merge (union + group-sum) is associative and
      // commutative. Three hash-split batches of the federated view —
      // split on the full event identity, so one dimension combo's rows
      // land in DIFFERENT batches and the merge genuinely sums across
      // increments — then the saved dashboard served from the merged
      // rollup. Same oracle as dashboard_refresh (the full-scan shape):
      // increment-then-merge commutes with serving.
      val fed = federatedHarmonized(s, warm = false)
      val part = pmod(
        xxhash64(col("dataset"), col("datetime"), col("description")), lit(3))
      // ONE corpus pass computes every batch's increment at once (r18
      // optimization, guide §2.4): grouping by (slice, dims) then slicing
      // the rollup equals filtering the corpus per slice then grouping —
      // groupBy commutes with a filter on a group key — so the three
      // increments are IDENTICAL frames to the old fed.where(part === k)
      // form, without re-running the 3-city harmonize ETL once per batch
      // (3 corpus passes → 1). The checkpointed frame is rollup-sized
      // (≤ 3× the dim-combination count), bounded at any corpus scale;
      // merge still genuinely union+group-sums across the increments.
      val bySlice = PreAgg.increment(fed, ("_slice" -> part) +: dashboardCubeDims)
        .localCheckpoint()
      val increments = (0 until 3).map(k =>
        bySlice.where(col("_slice") === k).drop("_slice"))
      dashboardRefreshPreagg(s, rollup = Some(PreAgg.merge(increments: _*)))
    }, Some(dashboardRefreshOracleSql)),

    // Same filtered-federation CTEs as the refresh; the clicked cell "d"
    // decodes to lat [0,45) lon [-90,-45), and the precision-3 interleave
    // is the g6_geohash_auto mirror (8 lon bits, 7 lat bits, lon leads).
    QueryCase("dashboard_map_drilldown", (s, _) => {
      // A tile-map click: Kibana zooms into the clicked cell — the cell's
      // decoded bounds become lat/lon RANGE predicates and autoPrecision
      // deepens the grid one level (cell "d" spans lat [0,45) lon [-90,-45)
      // → precision 3) — while the dashboard's widget + time filters stay
      // applied. Keeps Baltimore and Detroit, drops Los Angeles (lon -118
      // outside). The bounds here filter columns PARSED from the at-rest
      // "lat,lon" string (the reference's geo encoding), so they prune
      // in-memory batches, not the file scan; a deployment that wants
      // scan-level pruning stores lat/lon typed in the published
      // projection, where geohashGridZoom's predicates push down (the
      // parquet case PlanSpec pins).
      val f = dashboardFiltered(s, warm = true)
      val parts = split(col("geolocation"), ",")
      val pts = f.where(length(col("geolocation")) > 0)
        .withColumn("_lat", parts.getItem(0).cast("double"))
        .withColumn("_lon", parts.getItem(1).cast("double"))
      Aggs.geohashGridDrilldown(pts, "_lat", "_lon", cell = "d")
    }, Some(geohash3CellsSql(
      s"""$dashboardFilteredCtesSql, pts AS (
         |  SELECT split_part(geolocation, ',', 1)::DOUBLE AS lat,
         |         split_part(geolocation, ',', 2)::DOUBLE AS lon
         |  FROM f WHERE length(geolocation) > 0
         |), zoomed AS (
         |  SELECT * FROM pts
         |  WHERE lat >= 0 AND lat < 45 AND lon >= -90 AND lon < -45
         |)""".stripMargin)), warm = true))
}
