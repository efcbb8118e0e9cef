package graft
package registry

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import SparkEntry._
import OracleSql._

/** ES|QL programs through the piped front end (query/Esql.scala), each
  * oracled by the ANSI SQL the program means.
  */
object EsqlQueries extends Family("etl") {

  val cases: Seq[QueryCase] = Seq(
    // ===== ES|QL front-end (query/Esql.scala): the piped query language
    // compiled to ONE declarative plan — pushdown / pruning / top-K /
    // broadcast ENRICH all verified in EsqlSpec's plan pins =====

    // ===== ES|QL front-end: each piped program restated as the ANSI
    // query it compiles to. The cents folds (SUM of per-row FLOOR·100)
    // are integer-exact in any fold order on both engines. =====

    QueryCase("esql_stats", (s, dir) => {
      implicit val spark: SparkSession = s
      // The pricing-summary shape as ES|QL: WHERE compiles against the
      // scan (PushedFilters), STATS is one partial+final hash agg. The
      // average price rides the integer-cents discipline (SUM of per-row
      // FLOOR(price·100) is a LONG fold — exact in any order) with a
      // fixed division tree both engines restate.
      query.Esql.run(
        """FROM lineitem
          | WHERE l_shipdate <= TO_DATETIME("1998-09-02 00:00:00")
          | STATS sum_qty = SUM(l_quantity), n = COUNT(*),
              avg_price = ROUND(TO_DOUBLE(SUM(FLOOR(l_extendedprice * 100))) / COUNT(*) / 100.0, 4)
            BY l_returnflag, l_linestatus
          | SORT l_returnflag, l_linestatus""",
        t => load(dir, t))
    }, Some(
      """SELECT sum(l_quantity) AS sum_qty, count(*) AS n,
        |  round(CAST(sum(floor(l_extendedprice * 100)) AS DOUBLE) / count(*) / 100.0, 4) AS avg_price,
        |  l_returnflag, l_linestatus
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    QueryCase("esql_wordcount", (s, dir) => {
      implicit val spark: SparkSession = s
      // The canonical pipeline demo — tokenize, MV_EXPAND, aggregate:
      // explode feeds one hash agg, TakeOrderedAndProject caps the page.
      query.Esql.run(
        """FROM documents | EVAL tok = SPLIT(text, " ") | MV_EXPAND tok
          | WHERE LENGTH(tok) > 3 | STATS c = COUNT(*) BY tok
          | SORT c DESC, tok | LIMIT 25""",
        t => load(dir, t))
    }, Some(
      """SELECT count(*) AS c, tok FROM (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |WHERE length(tok) > 3
        |GROUP BY tok ORDER BY c DESC, tok LIMIT 25""".stripMargin)),

    QueryCase("esql_dissect", (s, dir) => {
      implicit val spark: SparkSession = s
      // DISSECT's literal-separator extract over the JSON-shaped props
      // column, typed with TO_INTEGER, aggregated per event_type. SUM of
      // ints is a long fold — exact; cast to double for a stable schema.
      query.Esql.run(
        """FROM events | DISSECT props "{\"k\": %{kv}}"
          | EVAL k = TO_INTEGER(kv)
          | STATS n = COUNT(*), total = TO_DOUBLE(SUM(k)) BY event_type
          | SORT event_type""",
        t => if (t == "events") loadEvents(dir) else load(dir, t))
    }, Some(
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(NULLIF(regexp_extract(props, '^\{"k": (.*)\}$', 1), '') AS INTEGER)) AS DOUBLE) AS total,
        |  event_type
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QueryCase("esql_grok", (s, dir) => {
      implicit val spark: SparkSession = s
      // GROK's typed extract (INT pattern with an :int cast) over the same
      // props fixture, reduced with MIN/MAX — integer-exact.
      query.Esql.run(
        """FROM events | GROK props "{\"k\": %{INT:kv:int}}"
          | STATS mx = MAX(kv), mn = MIN(kv) BY event_type
          | SORT event_type""",
        t => if (t == "events") loadEvents(dir) else load(dir, t))
    }, Some(
      """SELECT max(CAST(NULLIF(regexp_extract(props, '^\{"k": ([+-]?\d+)\}$', 1), '') AS INTEGER)) AS mx,
        |  min(CAST(NULLIF(regexp_extract(props, '^\{"k": ([+-]?\d+)\}$', 1), '') AS INTEGER)) AS mn,
        |  event_type
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QueryCase("esql_enrich", (s, dir) => {
      implicit val spark: SparkSession = s
      // ENRICH = broadcast left join against the policy table (nation is
      // the enrich index; EsqlSpec pins BroadcastHashJoin). Account
      // balance totals ride the cents discipline.
      query.Esql.run(
        """FROM customer | ENRICH nations ON c_nationkey WITH nation = n_name
          | STATS n = COUNT(*), acct = TO_DOUBLE(SUM(FLOOR(c_acctbal * 100))) / 100.0 BY nation
          | SORT nation""",
        t => load(dir, t),
        Map("nations" -> query.Esql.EnrichPolicy(load(dir, "nation"), "n_nationkey", Seq("n_name"))))
    }, Some(
      """SELECT count(*) AS n,
        |  CAST(sum(floor(c_acctbal * 100)) AS DOUBLE) / 100.0 AS acct,
        |  n_name AS nation
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY nation""".stripMargin)),

    QueryCase("esql_lookup_join", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL LOOKUP JOIN (8.18): the lookup index's FULL rows join in on
      // a shared column name (vs ENRICH's policy-projected fields) — the
      // idiomatic RENAME-then-join, broadcast like the single-shard
      // lookup index it models. MIN/MAX folds are order-exact doubles.
      query.Esql.run(
        """FROM customer | RENAME c_nationkey AS n_nationkey
          | LOOKUP JOIN nation ON n_nationkey
          | STATS n = COUNT(*), hi = MAX(c_acctbal), lo = MIN(c_acctbal) BY n_name
          | SORT n_name""",
        t => load(dir, t))
    }, Some(
      """SELECT count(*) AS n, max(c_acctbal) AS hi, min(c_acctbal) AS lo, n_name
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    QueryCase("esql_inlinestats", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL INLINESTATS: the group mean appended per row (ONE window
      // exchange, rows preserved), then rows above their group's mean
      // counted — the classic above-average filter that plain STATS
      // cannot express without a self-join.
      query.Esql.run(
        """FROM lineitem
          | INLINESTATS avg_qty = SUM(l_quantity) / COUNT(*) BY l_returnflag
          | WHERE l_quantity > avg_qty
          | STATS n = COUNT(*) BY l_returnflag
          | SORT l_returnflag""",
        t => load(dir, t))
    }, Some(
      """WITH w AS (
        |  SELECT l_returnflag, l_quantity,
        |    sum(l_quantity) OVER (PARTITION BY l_returnflag)
        |      / count(*) OVER (PARTITION BY l_returnflag) AS avg_qty
        |  FROM lineitem)
        |SELECT count(*) AS n, l_returnflag FROM w
        |WHERE l_quantity > avg_qty
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QueryCase("esql_sample", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL SAMPLE under the determinism discipline: seeded md5 key
      // hash instead of ES's per-row RNG — reproducible across engines,
      // so the sample COUNTS hash-match the oracle exactly (a property
      // ES's own SAMPLE cannot have).
      query.Esql.run(
        """FROM documents | SAMPLE 0.25 ON doc_id
          | STATS n = COUNT(*), langs = COUNT_DISTINCT(lang) BY source
          | SORT source""",
        t => load(dir, t))
    }, Some({
      val unit = ops.Sampling.hashUnitSql("doc_id", 42)
      s"""SELECT count(*) AS n, count(DISTINCT lang) AS langs, source
         |FROM documents
         |WHERE $unit < 0.25
         |GROUP BY source ORDER BY source""".stripMargin
    })),

    QueryCase("esql_pipeline", (s, dir) => {
      implicit val spark: SparkSession = s
      // The composition pin: one program threading SAMPLE (keyed hash) →
      // DISSECT (typed extract) → INLINESTATS (group mean as a window) →
      // WHERE (above the group mean) → STATS BY BUCKET (daily) → SORT →
      // LIMIT. Seven commands, one declarative plan — the integration
      // claim the per-command oracles can't make alone.
      query.Esql.run(
        """FROM events
          | SAMPLE 0.5 ON event_id
          | DISSECT props "{\"k\": %{kv}}"
          | EVAL k = TO_INTEGER(kv)
          | INLINESTATS avg_k = SUM(k) / COUNT(*) BY event_type
          | WHERE k > avg_k
          | STATS n = COUNT(*), hi = MAX(k) BY day = BUCKET(ts, 1 day), event_type
          | SORT day, event_type
          | LIMIT 50""",
        t => if (t == "events") loadEvents(dir) else load(dir, t))
    }, Some({
      val unit = ops.Sampling.hashUnitSql("event_id", 42)
      s"""WITH sampled AS (
         |  SELECT event_id, event_type, ts,
         |    CAST(NULLIF(regexp_extract(props, '^\\{"k": (.*)\\}$$', 1), '') AS INTEGER) AS k
         |  FROM events WHERE $unit < 0.5
         |), w AS (
         |  SELECT event_type, ts, k,
         |    sum(k) OVER (PARTITION BY event_type)
         |      / count(*) OVER (PARTITION BY event_type) AS avg_k
         |  FROM sampled
         |)
         |SELECT count(*) AS n, max(k) AS hi,
         |  CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type
         |FROM w WHERE k > avg_k
         |GROUP BY day, event_type
         |ORDER BY day, event_type LIMIT 50""".stripMargin
    })),

    QueryCase("esql_stats_where", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL per-aggregate WHERE (8.13): filtered and unfiltered
      // aggregates in ONE scan and one hash agg — each filter wraps its
      // aggregate's fed values in when(cond, v), never a second pass.
      query.Esql.run(
        """FROM lineitem
          | STATS n_ret = COUNT(*) WHERE l_returnflag == "R",
              qty_ret = SUM(l_quantity) WHERE l_returnflag == "R",
              n = COUNT(*)
            BY l_linestatus
          | SORT l_linestatus""",
        t => load(dir, t))
    }, Some(
      """SELECT count(*) FILTER (WHERE l_returnflag = 'R') AS n_ret,
        |  sum(l_quantity) FILTER (WHERE l_returnflag = 'R') AS qty_ret,
        |  count(*) AS n, l_linestatus
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    QueryCase("esql_functions", (s, dir) => {
      implicit val spark: SparkSession = s
      // The scalar-function padding sweep as one oracled page: hashes
      // (md5/sha256 — both engines emit lowercase hex), base64,
      // reverse, toward-zero TRUNC, SIGNUM, BIT_LENGTH — every value a
      // deterministic function of the row, restated verbatim in DuckDB.
      query.Esql.run(
        """FROM documents | WHERE doc_id < 30
          | EVAL h = MD5(lang), s2 = SHA256(source), b = TO_BASE64(lang),
              r = REVERSE(source), t = TRUNC(n_chars / 7.0, 1),
              sg = SIGNUM(n_chars - 500), bl = TO_LONG(BIT_LENGTH(source))
          | KEEP doc_id, h, s2, b, r, t, sg, bl | SORT doc_id""",
        t => load(dir, t))
    }, Some(
      """SELECT doc_id, md5(lang) AS h, sha256(source) AS s2,
        |  to_base64(lang::BLOB) AS b, reverse(source) AS r,
        |  trunc(n_chars / 7.0 * 10.0) / 10.0 AS t,
        |  CAST(sign(n_chars - 500) AS DOUBLE) AS sg,
        |  bit_length(source) AS bl
        |FROM documents WHERE doc_id < 30 ORDER BY doc_id""".stripMargin)),

    QueryCase("esql_match", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL full-text functions inside WHERE (the 8.16 surface): MATCH
      // is the match query's analyzed-OR, MATCH_PHRASE the contiguous
      // form — both riding the SAME TextMatch kernel as the query-DSL
      // tier, so the pipe language and /search agree on what matches.
      query.Esql.run(
        """FROM documents
          | WHERE MATCH(text, "hash join") AND NOT MATCH_PHRASE(text, "batch scan")
          | STATS n = COUNT(*) BY lang | SORT lang""",
        t => load(dir, t))
    }, Some({
      import graft.expr.TextMatch.containsTokenSql
      s"""SELECT count(*) AS n, lang FROM documents
         |WHERE (${containsTokenSql("text", "hash")}
         |       OR ${containsTokenSql("text", "join")})
         |  AND NOT ${containsTokenSql("text", "batch scan")}
         |GROUP BY lang ORDER BY lang""".stripMargin
    })),

    QueryCase("esql_change_point", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL CHANGE_POINT over the daily series built in-pipe: rows pass
      // through, the detected step-change row keeps its type/pvalue mark
      // (Aggs.changePoint's exact cross-multiplied core; the no-ml delta
      // is documented there), WHERE + EVAL page it to the g_change_point
      // shape.
      query.Esql.run(
        """FROM events | STATS n = COUNT(*) BY d = DATE_TRUNC(1 day, ts)
          | CHANGE_POINT n ON d | WHERE type IS NOT NULL
          | EVAL day = DATE_FORMAT("yyyy-MM-dd", d)
          | KEEP day, type, pvalue""",
        t => if (t == "events") loadEvents(dir) else load(dir, t))
    }, Some(
      """WITH s AS (
        |  SELECT date_trunc('day', ts) AS b, count(*)::BIGINT AS c
        |  FROM events GROUP BY 1
        |), x AS (
        |  SELECT b, c, row_number() OVER (ORDER BY b)::BIGINT AS k,
        |    sum(c) OVER (ORDER BY b
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS s1,
        |    count(*) OVER ()::BIGINT AS n,
        |    sum(c) OVER ()::BIGINT AS tot,
        |    lead(b) OVER (ORDER BY b) AS nxt
        |  FROM s
        |), y AS (
        |  SELECT strftime(nxt, '%Y-%m-%d') AS day,
        |    abs(s1 * (n - k) - (tot - s1) * k)::DOUBLE /
        |      (k * (n - k))::DOUBLE AS pvalue,
        |    b
        |  FROM x WHERE k < n
        |)
        |SELECT day, 'step_change' AS type, pvalue FROM y
        |ORDER BY pvalue DESC, b LIMIT 1""".stripMargin)),

    QueryCase("esql_fork_fuse", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL FORK + FUSE (the 9.x hybrid-retrieval pipeline shape): two
      // branches rank the same filtered corpus by different signals
      // (length vs a deterministic mod-score), each top-10 via
      // TakeOrderedAndProject, fused with reciprocal-rank (k = 60) —
      // contributions fold over a SORTED array, one fixed tree per doc.
      query.Esql.run(
        """FROM documents | WHERE lang == "en"
          | FORK ( EVAL s = TO_DOUBLE(n_chars) | SORT s DESC, doc_id | LIMIT 10 )
                 ( EVAL s = TO_DOUBLE(doc_id % 97) | SORT s DESC, doc_id | LIMIT 10 )
          | FUSE rrf ON doc_id SCORE s
          | SORT _score DESC, doc_id | LIMIT 15""",
        t => load(dir, t))
    }, Some(
      """WITH b1 AS (
        |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS s FROM documents
        |  WHERE lang = 'en' ORDER BY s DESC, doc_id LIMIT 10),
        |b2 AS (
        |  SELECT doc_id, CAST(doc_id % 97 AS DOUBLE) AS s FROM documents
        |  WHERE lang = 'en' ORDER BY s DESC, doc_id LIMIT 10),
        |u AS (
        |  SELECT doc_id, 1.0 / (60 + row_number() OVER (ORDER BY s DESC, doc_id)) AS c FROM b1
        |  UNION ALL
        |  SELECT doc_id, 1.0 / (60 + row_number() OVER (ORDER BY s DESC, doc_id)) AS c FROM b2)
        |SELECT doc_id, sum(c) AS _score FROM u
        |GROUP BY doc_id ORDER BY _score DESC, doc_id LIMIT 15""".stripMargin)),

    // CATEGORIZE restated: g_categorize_text's template SQL with the
    // null group kept (the grouping-function delta from the agg's
    // drop — stated in the compiler's scaladoc).
    QueryCase("esql_categorize", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL CATEGORIZE (8.18 GA): the categorize_text agg expressed as
      // a STATS grouping function — the same row-local template
      // (Aggs.categoryTemplate), so this is g_categorize_text's result
      // through the pipe language, with MIN(doc_id) as the exemplar.
      query.Esql.run(
        """FROM documents
          | STATS count = COUNT(*), example_id = MIN(doc_id) BY category = CATEGORIZE(text)
          | SORT count DESC, category | LIMIT 10""",
        t => load(dir, t))
    }, Some(
      s"""WITH t AS (
         |  SELECT doc_id, nullif(array_to_string(list_transform($duckToks,
         |    t -> CASE WHEN regexp_matches(t, '[0-9]') THEN '*' ELSE t END),
         |    ' '), '') AS category
         |  FROM documents
         |)
         |SELECT count(*)::BIGINT AS count, min(doc_id) AS example_id, category
         |FROM t GROUP BY category
         |ORDER BY count DESC, category LIMIT 10""".stripMargin)),

    QueryCase("esql_bucket_numeric", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL numeric BUCKET: the histogram form — integral width over
      // n_chars, exact integer bucket starts.
      query.Esql.run(
        """FROM documents
          | STATS n = COUNT(*) BY b = BUCKET(n_chars, 200)
          | SORT b""",
        t => load(dir, t))
    }, Some(
      """SELECT count(*)::BIGINT AS n,
        |  (floor(n_chars / 200.0) * 200.0)::BIGINT AS b
        |FROM documents GROUP BY 2 ORDER BY b""".stripMargin)),

    // DATE_DIFF/DATE_EXTRACT restated: DuckDB's date_diff counts day
    // boundaries — equal to the engine's trunc((e-s)/day) exactly
    // because the start is midnight-aligned and every diff is positive;
    // isodow is the ISO day_of_week both sides use.
    QueryCase("esql_date_functions", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL DATE_DIFF + DATE_EXTRACT over the event stream: days since
      // a midnight-aligned epoch (positive diffs + midnight alignment
      // make trunc ≡ DuckDB's boundary count — the restatable regime;
      // calendar units reject, the documented engine-divergence seam)
      // and the ISO day-of-week profile of event volume.
      query.Esql.run(
        """FROM events
          | EVAL dd = DATE_DIFF("day", TO_DATETIME("2023-12-01 00:00:00"), ts),
                 dow = DATE_EXTRACT("day_of_week", ts)
          | STATS n = COUNT(*), lo = MIN(dd), hi = MAX(dd) BY dow
          | SORT dow""",
        t => if (t == "events") loadEvents(dir) else load(dir, t))
    }, Some(
      """WITH e AS (
        |  SELECT date_diff('day', TIMESTAMP '2023-12-01 00:00:00', ts) AS dd,
        |         isodow(ts)::BIGINT AS dow
        |  FROM events)
        |SELECT count(*) AS n, min(dd)::BIGINT AS lo, max(dd)::BIGINT AS hi, dow
        |FROM e GROUP BY dow ORDER BY dow""".stripMargin)),

    // INLINESTATS rewrite restated: the per-group median as a window
    // aggregate (DuckDB's median ≡ quantile_cont(0.5) ≡ Spark's
    // interpolated MEDIAN), the filter, then the count.
    QueryCase("esql_inlinestats_median", (s, dir) => {
      implicit val spark: SparkSession = s
      // INLINESTATS with an ordered-set aggregate — compiled as the
      // STATS + broadcast null-safe join-back rewrite (NO window; the
      // rewrite ES|QL documents as the user workaround, applied by the
      // compiler): docs above their language's median length, counted
      // per language.
      query.Esql.run(
        """FROM documents
          | INLINESTATS med = MEDIAN(n_chars) BY lang
          | WHERE n_chars > med
          | STATS n = COUNT(*) BY lang | SORT lang""",
        t => load(dir, t))
    }, Some(
      """WITH w AS (
        |  SELECT lang, n_chars,
        |    median(n_chars) OVER (PARTITION BY lang) AS med
        |  FROM documents)
        |SELECT count(*) AS n, lang FROM w
        |WHERE n_chars > med
        |GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryCase("esql_inlinestats_global", (s, dir) => {
      implicit val spark: SparkSession = s
      // INLINESTATS with NO BY keys — compiled as a 1-row aggregate +
      // broadcast cross join, NOT an unpartitioned window (the
      // round-17 verdict's latent scale-killer, now plan-pinned): the
      // longest documents in the corpus.
      query.Esql.run(
        """FROM documents
          | INLINESTATS m = MAX(n_chars)
          | WHERE n_chars == m
          | KEEP doc_id, n_chars | SORT doc_id""",
        t => load(dir, t))
    }, Some(
      """SELECT doc_id, n_chars FROM documents
        |WHERE n_chars = (SELECT max(n_chars) FROM documents)
        |ORDER BY doc_id""".stripMargin)),

    // TS + RATE restated: g_time_series_rate's oracle verbatim, renamed
    // columns only (the front-end is invisible to the result).
    QueryCase("esql_ts_rate", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL TS + RATE/INCREASE (the 8.18+ TSDB pipe surface):
      // g_time_series_rate's exact computation expressed in the pipe
      // language — the front-end invisible to results (shares that
      // oracle verbatim). The derived counter frame rides resolve as
      // the TS index, the same seam every FROM uses.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
      val ctr = loadEvents(dir)
        .withColumn("ctr", (row_number().over(w).cast("long") * 7) % 1000)
      query.Esql.run(
        """TS events_ctr
          | STATS increase = INCREASE(ctr, event_id), rate = RATE(ctr, event_id)
              BY bucket = BUCKET(ts, 1 hour), event_type
          | SORT event_type, bucket""",
        t => if (t == "events_ctr") ctr else load(dir, t))
    }, Some(
      """WITH c AS (
        |  SELECT event_type, ts, event_id,
        |    (row_number() OVER (PARTITION BY event_type
        |       ORDER BY ts, event_id) * 7) % 1000 AS ctr
        |  FROM events
        |), d AS (
        |  SELECT event_type, ts, ctr,
        |    lag(ctr) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS prev
        |  FROM c
        |)
        |SELECT event_type, date_trunc('hour', ts) AS bucket,
        |  sum(CASE WHEN prev IS NULL THEN 0
        |           WHEN ctr >= prev THEN ctr - prev
        |           ELSE ctr END)::BIGINT AS increase,
        |  sum(CASE WHEN prev IS NULL THEN 0
        |           WHEN ctr >= prev THEN ctr - prev
        |           ELSE ctr END)::DOUBLE / 3600.0 AS rate
        |FROM d GROUP BY 1, 2
        |ORDER BY event_type, bucket""".stripMargin)),

    // FUSE linear restated: per-branch min-max over each top-10 window,
    // the same weight-times-normalized tree (multiplication commutes
    // exactly in IEEE; the 2-branch sum is order-free).
    QueryCase("esql_fork_fuse_linear", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL FUSE linear (9.x): the same two FORK branches as
      // esql_fork_fuse, fused by score MAGNITUDE — per-branch min-max
      // normalization over each branch's own top-10 window, weighted
      // 0.7/0.3, summed per doc (sorted-fold, the determinism rule).
      // The engine twin of search_linear_fusion, expressed in the pipe
      // language.
      query.Esql.run(
        """FROM documents | WHERE lang == "en"
          | FORK ( EVAL s = TO_DOUBLE(n_chars) | SORT s DESC, doc_id | LIMIT 10 )
                 ( EVAL s = TO_DOUBLE(doc_id % 97) | SORT s DESC, doc_id | LIMIT 10 )
          | FUSE linear ON doc_id SCORE s NORM minmax WEIGHTS 0.7, 0.3
          | SORT _score DESC, doc_id | LIMIT 15""",
        t => load(dir, t))
    }, Some(
      """WITH b1 AS (
        |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS s FROM documents
        |  WHERE lang = 'en' ORDER BY s DESC, doc_id LIMIT 10),
        |b2 AS (
        |  SELECT doc_id, CAST(doc_id % 97 AS DOUBLE) AS s FROM documents
        |  WHERE lang = 'en' ORDER BY s DESC, doc_id LIMIT 10),
        |u AS (
        |  SELECT doc_id,
        |    (CASE WHEN mx = mn THEN 1.0 ELSE (s - mn) / (mx - mn) END) * 0.7 AS c
        |  FROM (SELECT doc_id, s, min(s) OVER () AS mn, max(s) OVER () AS mx FROM b1)
        |  UNION ALL
        |  SELECT doc_id,
        |    (CASE WHEN mx = mn THEN 1.0 ELSE (s - mn) / (mx - mn) END) * 0.3 AS c
        |  FROM (SELECT doc_id, s, min(s) OVER () AS mn, max(s) OVER () AS mx FROM b2))
        |SELECT doc_id, sum(c) AS _score FROM u
        |GROUP BY doc_id ORDER BY _score DESC, doc_id LIMIT 15""".stripMargin)),

    QueryCase("esql_topk", (s, dir) => {
      implicit val spark: SparkSession = s
      // EVAL-scored top-K: SORT + LIMIT fuse to TakeOrderedAndProject (no
      // global sort) — the script_score serving shape, expressed in the
      // pipe language end to end.
      query.Esql.run(
        """FROM documents | WHERE lang == "en"
          | EVAL score = n_chars / 100.0 + CASE(source == "src0", 2, source == "src1", 1, 0)
          | SORT score DESC, doc_id | LIMIT 20 | KEEP doc_id, score""",
        t => load(dir, t))
    }, Some(
      """SELECT doc_id,
        |  n_chars / 100.0 + CASE WHEN source = 'src0' THEN 2
        |    WHEN source = 'src1' THEN 1 ELSE 0 END AS score
        |FROM documents WHERE lang = 'en'
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    QueryCase("esql_qstr", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL QSTR (8.16): the Lucene query_string grammar inside the
      // pipe language — phrase, analyzed prefix, field clause, boolean —
      // compiled through the SAME QueryString parser as the /search
      // route's filter, with the default field supplied as the run
      // option (the /esql route's default_field; ES reads it from the
      // index mapping).
      query.Esql.run(
        """FROM documents
          | WHERE QSTR("(\"hash join\" OR merge*) AND lang:en")
          | STATS n = COUNT(*) BY source | SORT source""",
        t => load(dir, t), defaultField = Some("text"))
    }, Some({
      import graft.expr.TextMatch.{containsTokenSql, phrasePrefixSql}
      s"""SELECT count(*) AS n, source FROM documents
         |WHERE (${containsTokenSql("text", "hash join")}
         |       OR ${phrasePrefixSql("text", "merge")})
         |  AND lang = 'en'
         |GROUP BY source ORDER BY source""".stripMargin
    })),

    QueryCase("esql_kql", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL KQL (8.16): the Kibana Query Language — value groups,
      // range comparisons, analyzed prefix — via the Kql compiler with
      // the same default-field seam as QSTR.
      query.Esql.run(
        """FROM documents
          | WHERE KQL("lang:(en or de) and n_chars >= 200 and text:merge*")
          | STATS n = COUNT(*) BY lang | SORT lang""",
        t => load(dir, t), defaultField = Some("text"))
    }, Some({
      import graft.expr.TextMatch.phrasePrefixSql
      s"""SELECT count(*) AS n, lang FROM documents
         |WHERE lang IN ('en', 'de') AND n_chars >= 200
         |  AND ${phrasePrefixSql("text", "merge")}
         |GROUP BY lang ORDER BY lang""".stripMargin
    })),

    // trig restatements: TANH via its exp identity and HYPOT via the naive
    // sqrt (DuckDB ships neither) — ROUND(…, 6) absorbs the formula-level
    // ulp deltas on both sides.
    QueryCase("esql_trig", (s, dir) => {
      implicit val spark: SparkSession = s
      // The trigonometric scalar family as one oracled page. Every value
      // is ROUND(…, 6) so sub-ulp libm deltas between the JVM and DuckDB
      // cannot surface; SCALB's 1.5·2⁴ is exact in both engines.
      query.Esql.run(
        """FROM documents | WHERE doc_id < 30
          | EVAL x = doc_id / 10.0
          | EVAL s = ROUND(SIN(x), 6), c = ROUND(COS(x), 6),
              a2 = ROUND(ATAN2(x, 1.0 + x), 6), asn = ROUND(ASIN(x / 3.0), 6),
              dg = ROUND(TO_DEGREES(x), 6), hy = ROUND(HYPOT(x, 1.0), 6),
              th = ROUND(TANH(x), 6), sb = SCALB(1.5, 4)
          | KEEP doc_id, s, c, a2, asn, dg, hy, th, sb | SORT doc_id""",
        t => load(dir, t))
    }, Some(
      """SELECT doc_id,
        |  round(sin(doc_id / 10.0), 6) AS s,
        |  round(cos(doc_id / 10.0), 6) AS c,
        |  round(atan2(doc_id / 10.0, 1.0 + doc_id / 10.0), 6) AS a2,
        |  round(asin(doc_id / 10.0 / 3.0), 6) AS asn,
        |  round(degrees(doc_id / 10.0), 6) AS dg,
        |  round(sqrt((doc_id / 10.0) * (doc_id / 10.0) + 1.0), 6) AS hy,
        |  round((exp(2 * (doc_id / 10.0)) - 1) / (exp(2 * (doc_id / 10.0)) + 1), 6) AS th,
        |  CAST(24.0 AS DOUBLE) AS sb
        |FROM documents WHERE doc_id < 30 ORDER BY doc_id""".stripMargin)),

    QueryCase("esql_mv_stats", (s, dir) => {
      implicit val spark: SparkSession = s
      // The ordered-set MV family over SPLIT-built arrays: the numeric
      // up-cast means "9,10,2" medians as numbers (a lexicographic sort
      // would put "10" first — the oracle would catch it), MV_ZIP keeps
      // the longer side's tail, and the p-series fold runs in array order.
      query.Esql.run(
        """FROM documents | WHERE doc_id < 40
          | EVAL parts = SPLIT(CONCAT(TO_STRING(n_chars), ",", TO_STRING(doc_id * 7 % 100), ",", TO_STRING(doc_id)), ",")
          | EVAL med = MV_MEDIAN(parts), mad = MV_MEDIAN_ABSOLUTE_DEVIATION(parts),
              p75 = MV_PERCENTILE(parts, 75), ps = ROUND(MV_PSERIES_WEIGHTED_SUM(parts, 1.5), 6),
              z = MV_JOIN(MV_ZIP(SPLIT(CONCAT(lang, ",", source), ","), SPLIT(TO_STRING(n_chars), "."), "|"), ";")
          | KEEP doc_id, med, mad, p75, ps, z | SORT doc_id""",
        t => load(dir, t))
    }, Some(
      """WITH l AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    [CAST(n_chars AS DOUBLE), CAST(doc_id * 7 % 100 AS DOUBLE),
        |     CAST(doc_id AS DOUBLE)] AS parts
        |  FROM documents WHERE doc_id < 40
        |)
        |SELECT doc_id,
        |  list_aggregate(parts, 'median') AS med,
        |  list_aggregate(list_transform(parts,
        |    x -> abs(x - list_aggregate(parts, 'median'))), 'median') AS mad,
        |  list_aggregate(parts, 'quantile_cont', 0.75) AS p75,
        |  round(parts[1] / 1.0 + parts[2] / pow(2.0, 1.5) + parts[3] / pow(3.0, 1.5), 6) AS ps,
        |  lang || '|' || CAST(n_chars AS VARCHAR) || ';' || source AS z
        |FROM l ORDER BY doc_id""".stripMargin)),

    QueryCase("esql_cast_hash", (s, dir) => {
      implicit val spark: SparkSession = s
      // The `::` inline-cast shorthand (sugar for TO_*) and the
      // generalized HASH function — md5/sha256 restated verbatim in
      // DuckDB (sha1/sha512 are spec-certified against MessageDigest;
      // DuckDB ships neither).
      query.Esql.run(
        """FROM documents | WHERE doc_id < 30
          | EVAL a = n_chars::double / 7.0, b = doc_id::string,
              flag = (n_chars > 200)::string,
              hm = HASH("md5", source), hs = HASH("sha256", CONCAT(lang, source))
          | KEEP doc_id, a, b, flag, hm, hs | SORT doc_id""",
        t => load(dir, t))
    }, Some(
      """SELECT doc_id,
        |  CAST(n_chars AS DOUBLE) / 7.0 AS a,
        |  CAST(doc_id AS VARCHAR) AS b,
        |  CAST(n_chars > 200 AS VARCHAR) AS flag,
        |  md5(source) AS hm,
        |  sha256(lang || source) AS hs
        |FROM documents WHERE doc_id < 30 ORDER BY doc_id""".stripMargin)),

    QueryCase("esql_date_parse_ip", (s, dir) => {
      implicit val spark: SparkSession = s
      // DATE_PARSE (null on unparseable — ES's warning path) rendered
      // back through DATE_FORMAT so the oracle compares strings, not
      // timestamp encodings; TO_IP validation and IP_PREFIX /20 masking
      // restated as integer arithmetic in DuckDB.
      query.Esql.run(
        """FROM documents | WHERE doc_id < 50
          | EVAL ds = CONCAT("2024/03/0", TO_STRING(doc_id % 9 + 1), " 07:0", TO_STRING(doc_id % 10)),
              d = DATE_FORMAT("yyyy-MM-dd HH:mm", DATE_PARSE("yyyy/MM/dd HH:mm", ds)),
              ip = CONCAT("10.", TO_STRING(doc_id % 256), ".", TO_STRING(doc_id * 3 % 256), ".", TO_STRING(doc_id % 250 + 1)),
              v = TO_IP(ip), pfx = IP_PREFIX(ip, 20, 0),
              bad = TO_IP(CONCAT("300.", TO_STRING(doc_id), ".1.1"))
          | KEEP doc_id, d, ip, v, pfx, bad | SORT doc_id""",
        t => load(dir, t))
    }, Some(
      """SELECT doc_id,
        |  strftime(strptime('2024/03/0' || CAST(doc_id % 9 + 1 AS VARCHAR)
        |      || ' 07:0' || CAST(doc_id % 10 AS VARCHAR), '%Y/%m/%d %H:%M'),
        |    '%Y-%m-%d %H:%M') AS d,
        |  '10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
        |      || CAST(doc_id * 3 % 256 AS VARCHAR) || '.'
        |      || CAST(doc_id % 250 + 1 AS VARCHAR) AS ip,
        |  '10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
        |      || CAST(doc_id * 3 % 256 AS VARCHAR) || '.'
        |      || CAST(doc_id % 250 + 1 AS VARCHAR) AS v,
        |  '10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
        |      || CAST((doc_id * 3 % 256) // 16 * 16 AS VARCHAR) || '.0' AS pfx,
        |  CAST(NULL AS VARCHAR) AS bad
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin)),

    QueryCase("esql_spatial", (s, dir) => {
      implicit val spark: SparkSession = s
      // The ST_* family end-to-end over the synthetic customer
      // coordinates (q_geo_shape_polygon's concave-pentagon fixture as
      // WKT): TO_GEOPOINT round-trips lon/lat through WKT text (Spark's
      // double→string→double is exact), ST_INTERSECTS ray-casts
      // bit-exactly against geoCrossingsSql, and ST_DISTANCE haversine
      // is rounded per-row to 2 decimals (cm) before the 1-decimal
      // group average so libm ulps and summation order cannot surface.
      query.Esql.run(
        """FROM customer
          | EVAL lat = ((c_acctbal % 180.0) + 180.0) % 180.0 - 90.0 + 0.001,
              lon = ((c_custkey % 360) + 360) % 360 - 180 + 0.001,
              pt = TO_GEOPOINT(CONCAT("POINT (", TO_STRING(lon), " ", TO_STRING(lat), ")")),
              inside = ST_INTERSECTS(pt, TO_GEOSHAPE("POLYGON ((-150 -60, -150 60, -30 60, -30 -60, -90 0, -150 -60))")),
              d = ROUND(ST_DISTANCE(pt, TO_GEOPOINT("POINT (0 0)")), 2)
          | WHERE ST_WITHIN(pt, TO_GEOSHAPE("POLYGON ((-180 -90, 180 -90, 180 90, -180 90, -180 -90))"))
          | STATS n = COUNT(*), avg_d = ROUND(AVG(d), 1) BY inside | SORT inside""",
        t => load(dir, t))
    }, Some({
      val pentagon = Seq(Seq(
        (-60.0, -150.0), (60.0, -150.0), (60.0, -30.0), (-60.0, -30.0),
        (0.0, -90.0)))
      val world = Seq(Seq(
        (-90.0, -180.0), (-90.0, 180.0), (90.0, 180.0), (90.0, -180.0)))
      s"""WITH pts AS (
         |  SELECT c_custkey,
         |    fmod(fmod(c_acctbal, 180.0) + 180.0, 180.0) - 90.0 + 0.001 AS lat,
         |    (c_custkey % 360 + 360) % 360 - 180 + 0.001 AS lon
         |  FROM customer
         |), rel AS (
         |  SELECT c_custkey, lat, lon,
         |    ${geoCrossingsSql(pentagon)} % 2 = 1 AS inside,
         |    ${geoCrossingsSql(world)} % 2 = 1 AS inworld,
         |    round(2 * CAST(6371008.7714 AS DOUBLE) * asin(sqrt(
         |      pow(sin(radians(0.0 - lat) / 2), 2)
         |      + cos(radians(lat)) * cos(radians(0.0)) * pow(sin(radians(0.0 - lon) / 2), 2))), 2) AS d
         |  FROM pts
         |)
         |SELECT count(*) AS n, round(avg(d), 1) AS avg_d, inside
         |FROM rel WHERE inworld GROUP BY inside ORDER BY inside""".stripMargin
    })),

    QueryCase("esql_show_info", (s, dir) => {
      implicit val spark: SparkSession = s
      // SHOW INFO — the client handshake; the values are pinned build
      // constants so the row is deterministic and hash-gated.
      query.Esql.run("SHOW INFO", t => load(dir, t))
    }, Some(
      """SELECT '8.18.0-graft' AS version, '2026-01-01T00:00:00.000Z' AS date,
        |  'graft' AS hash""".stripMargin)),

    QueryCase("esql_date_math", (s, dir) => {
      implicit val spark: SparkSession = s
      // date ± span arithmetic (calendar-aware month step across the 2024
      // leap February), 3-arg LOCATE (original-string 1-based index), and
      // MV_CONCAT, ES|QL's name for the delimiter join.
      query.Esql.run(
        """FROM documents | WHERE doc_id < 40
          | EVAL base = DATE_PARSE("yyyy-MM-dd", CONCAT("2024-01-", TO_STRING(doc_id % 18 + 10))),
              p_month = DATE_FORMAT("yyyy-MM-dd HH:mm", base + 1 month),
              m_week = DATE_FORMAT("yyyy-MM-dd HH:mm", base - 2 week),
              p_hour = DATE_FORMAT("yyyy-MM-dd HH:mm", base + 36 hour),
              loc = TO_LONG(LOCATE(text, "the", 10)),
              mvc = MV_CONCAT(SPLIT(source, "r"), "+")
          | KEEP doc_id, p_month, m_week, p_hour, loc, mvc | SORT doc_id""",
        t => load(dir, t))
    }, Some(
      """SELECT doc_id,
        |  strftime(strptime('2024-01-' || CAST(doc_id % 18 + 10 AS VARCHAR), '%Y-%m-%d')
        |    + INTERVAL 1 MONTH, '%Y-%m-%d %H:%M') AS p_month,
        |  strftime(strptime('2024-01-' || CAST(doc_id % 18 + 10 AS VARCHAR), '%Y-%m-%d')
        |    - INTERVAL 14 DAY, '%Y-%m-%d %H:%M') AS m_week,
        |  strftime(strptime('2024-01-' || CAST(doc_id % 18 + 10 AS VARCHAR), '%Y-%m-%d')
        |    + INTERVAL 36 HOUR, '%Y-%m-%d %H:%M') AS p_hour,
        |  CAST(CASE WHEN strpos(substr(text, 10), 'the') > 0
        |       THEN strpos(substr(text, 10), 'the') + 9 ELSE 0 END AS BIGINT) AS loc,
        |  array_to_string(string_split(source, 'r'), '+') AS mvc
        |FROM documents WHERE doc_id < 40 ORDER BY doc_id""".stripMargin)),

    QueryCase("esql_ts_gauge", (s, dir) => {
      implicit val spark: SparkSession = s
      // The TSDB gauge surface: inner *_OVER_TIME aggregates each series
      // (user_id — passed explicitly, the mapping seam) within each hour
      // bucket, the outer combines across series. Two hash aggregates,
      // no window. ROUND(AVG, 4) is NOT enough to pin a double mean whose
      // exact value sits on the half boundary (sf0.01 has one at exactly
      // 36.36625), so the engine accumulates a rounded AVG/SUM in DECIMAL
      // (order-independent) and the oracle averages over DECIMAL (DuckDB's
      // exact hugeint-sum path) THEN rounds on a DECIMAL(28,8)
      // re-quantization — DuckDB's avg returns DOUBLE, and rounding that
      // double directly would still flip on boundary means whose nearest
      // double sits below the boundary (e.g. a mean of exactly 557.46125).
      // Both sides therefore round the same exact rational half-away at 4;
      // the shared contract is a finite gauge quantized at ≤4 decimals.
      query.Esql.run(
        """TS events
          | STATS peak = MAX(MAX_OVER_TIME(value, user_id)),
              floor_avg = ROUND(AVG(MIN_OVER_TIME(value, user_id)), 4),
              active = MAX(COUNT_OVER_TIME(value, user_id))
              BY event_type, b = BUCKET(ts, 1 hour)
          | SORT event_type, b | LIMIT 40""",
        t => load(dir, t))
    }, Some(
      """WITH i AS (
        |  SELECT event_type, date_trunc('hour', ts) AS b, user_id,
        |    max(value) AS mx, min(value) AS mn, count(value) AS c
        |  FROM events GROUP BY 1, 2, 3
        |)
        |SELECT max(mx) AS peak,
        |  CAST(round(CAST(avg(CAST(mn AS DECIMAL(18,4))) AS DECIMAL(28,8)), 4)
        |       AS DOUBLE) AS floor_avg,
        |  max(c) AS active, event_type, b
        |FROM i GROUP BY event_type, b ORDER BY event_type, b LIMIT 40""".stripMargin)),

    QueryCase("esql_like_list", (s, dir) => {
      implicit val spark: SparkSession = s
      // the 8.16 LIKE pattern-list form: any pattern matches; NOT negates
      // the disjunction — restated as OR'd SQL LIKEs
      query.Esql.run(
        """FROM documents
          | WHERE source LIKE ("src1*", "src2*") AND lang NOT LIKE ("e*")
          | STATS n = COUNT(*) BY source | SORT source""",
        t => load(dir, t))
    }, Some(
      """SELECT count(*) AS n, source FROM documents
        |WHERE (source LIKE 'src1%' OR source LIKE 'src2%')
        |  AND NOT (lang LIKE 'e%')
        |GROUP BY source ORDER BY source""".stripMargin)),

    QueryCase("esql_params", (s, dir) => {
      implicit val spark: SparkSession = s
      // named ?param placeholders (ES's POST /_query params) bound as
      // typed literals at compile — the bound plan is indistinguishable
      // from inlined literals, so pushdown survives
      query.Esql.run(
        """FROM documents | WHERE lang == ?lang AND n_chars >= ?minc
          | STATS n = COUNT(*), mx = MAX(n_chars) BY source | SORT source""",
        t => load(dir, t), params = Map("lang" -> "en", "minc" -> 200L))
    }, Some(
      """SELECT count(*) AS n, max(n_chars) AS mx, source FROM documents
        |WHERE lang = 'en' AND n_chars >= 200
        |GROUP BY source ORDER BY source""".stripMargin)),

    QueryCase("esql_params_field", (s, dir) => {
      implicit val spark: SparkSession = s
      // ??name field-name parameters (8.15+): the scanner splices a plain
      // identifier token, so the parsed program is indistinguishable from
      // one with the column inline — the WHERE pushes down and the BY key
      // takes the REAL column name (which is why the oracle can GROUP BY
      // it). Value params (?min) ride alongside.
      query.Esql.run(
        """FROM lineitem | WHERE ??qty > ?min
          | STATS n = COUNT(*) BY ??flag | SORT ??flag""",
        t => load(dir, t),
        params = Map("qty" -> "l_quantity", "min" -> 45L, "flag" -> "l_returnflag"))
    }, Some(
      """SELECT count(*) AS n, l_returnflag FROM lineitem
        |WHERE l_quantity > 45
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // the dissect modifiers restated: the same anchored RE2 (lazy groups,
    // repeated-separator padding), append joined with the separator
    // RERANK ngram-jaccard restated: the same distinct bigram sets, the
    // same integer intersect/union counts, one exact division
    QueryCase("esql_rerank", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL RERANK with a REGISTERED deterministic scorer in the
      // inference_id slot (model endpoints stay the loud seam):
      // word-bigram Jaccard between the query text and each document —
      // integer-exact intersection/union counts, one exact IEEE
      // division, so the score hash-matches.
      query.Esql.run(
        """FROM documents
          | RERANK j = "dup vector scan merge" ON text WITH {"inference_id": "ngram-jaccard"}
          | KEEP doc_id, j
          | SORT j DESC, doc_id
          | LIMIT 15""",
        t => load(dir, t))
    }, Some({
      val qSh = Seq("dup vector", "vector scan", "scan merge")
        .map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH d AS (
         |  SELECT doc_id, $duckToks AS toks FROM documents
         |), s AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) >= 2 THEN
         |      list_distinct(list_transform(generate_series(1, len(toks) - 1),
         |        i -> toks[i] || ' ' || toks[i + 1]))
         |    ELSE []::VARCHAR[] END AS sh
         |  FROM d
         |)
         |SELECT doc_id,
         |  len(list_intersect(sh, $qSh))::DOUBLE
         |    / len(list_distinct(list_concat(sh, $qSh)))::DOUBLE AS j
         |FROM s ORDER BY j DESC, doc_id LIMIT 15""".stripMargin
    })),

    QueryCase("esql_dissect_append", (s, dir) => {
      implicit val spark: SparkSession = s
      // The dissect modifier set on a worked line: %{first->} right-pads
      // (the double space between name and key absorbs into ONE
      // separator — without the modifier the second piece would capture
      // the empty string between the spaces), %{+first} appends under
      // APPEND_SEPARATOR, %{?skip}-style skips stay non-capturing.
      query.Esql.run(
        """FROM nation
          | EVAL line = CONCAT(n_name, "  ", TO_STRING(n_nationkey), " ", n_name)
          | DISSECT line "%{first->} %{num} %{+first}" APPEND_SEPARATOR="_"
          | KEEP n_nationkey, first, num
          | SORT n_nationkey""",
        t => load(dir, t))
    }, Some({
      val rx = "'^(.*?)(?: )+(.*?) (.*)$'"
      s"""WITH d AS (
         |  SELECT n_nationkey,
         |    n_name || '  ' || CAST(n_nationkey AS VARCHAR) || ' ' || n_name AS line
         |  FROM nation
         |)
         |SELECT n_nationkey,
         |  regexp_extract(line, $rx, 1) || '_' || regexp_extract(line, $rx, 3) AS first,
         |  regexp_extract(line, $rx, 2) AS num
         |FROM d ORDER BY n_nationkey""".stripMargin
    })),

    QueryCase("esql_version_sort", (s, dir) => {
      implicit val spark: SparkSession = s
      // TO_VERSION as a sort key: synthesized semver strings (numeric
      // minor up to 11 — "1.10" must sort after "1.2", which a lexical
      // sort gets wrong — plus an -alpha prerelease tier that sorts
      // BEFORE its release); the oracle restates the same padded
      // encoding in DuckDB and orders by it.
      query.Esql.run(
        """FROM documents | WHERE doc_id < 40
          | EVAL v = CONCAT("1.", TO_STRING(doc_id % 12), ".", TO_STRING(doc_id % 3),
              CASE(doc_id % 4 == 0, "-alpha", ""))
          | EVAL k = TO_VERSION(v)
          | SORT k, doc_id | KEEP doc_id, v""",
        t => load(dir, t))
    }, Some(
      """WITH d AS (
        |  SELECT doc_id,
        |    '1.' || CAST(doc_id % 12 AS VARCHAR) || '.' || CAST(doc_id % 3 AS VARCHAR)
        |      || CASE WHEN doc_id % 4 = 0 THEN '-alpha' ELSE '' END AS v
        |  FROM documents WHERE doc_id < 40
        |)
        |SELECT doc_id, v FROM d
        |ORDER BY array_to_string(list_transform(string_split(v, '.'), seg ->
        |    lpad(regexp_extract(seg, '^([0-9]*)', 1), 12, '0')
        |    || CASE WHEN regexp_extract(seg, '^[0-9]*(.*)$', 1) = ''
        |            THEN '~' ELSE regexp_extract(seg, '^[0-9]*(.*)$', 1) END), '.'),
        |  doc_id""".stripMargin)),

    QueryCase("esql_round_to", (s, dir) => {
      implicit val spark: SparkSession = s
      // ROUND_TO as a histogram band: round down to fixed points, the
      // below-minimum clamp included
      query.Esql.run(
        """FROM documents | WHERE doc_id < 60
          | EVAL band = ROUND_TO(n_chars, 0, 100, 200, 300, 400)
          | STATS n = COUNT(*) BY band | SORT band""",
        t => load(dir, t))
    }, Some(
      """SELECT count(*) AS n,
        |  CAST(CASE WHEN n_chars >= 400 THEN 400 WHEN n_chars >= 300 THEN 300
        |       WHEN n_chars >= 200 THEN 200 WHEN n_chars >= 100 THEN 100
        |       ELSE 0 END AS DOUBLE) AS band
        |FROM documents WHERE doc_id < 60 GROUP BY band ORDER BY band""".stripMargin)),

    // ES|QL KNN restated: (1 + dot)/2 over the same dyadic literal vector
    // — list_inner_product folds in the same sequential order as the
    // engine's codegen'd kernel, so the score is bit-identical.
    QueryCase("esql_knn", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL KNN (8.18+): vector search inside the pipe language. The
      // k-nearest cut compiles to ONE distributed top-k
      // (TakeOrderedAndProject — per-partition heaps, k-row driver merge;
      // EsqlSpec pins no window/join), with metric and tiebreak as
      // explicit options (the mapping / internal-doc-order seams,
      // stated). dot_product over a dyadic literal query vector and
      // METADATA _score carrying ES's (1+dot)/2 transform — every
      // product and the sequential fold restate bit-identically in
      // DuckDB's list_inner_product: hash-exact.
      val vec = knnQueryVec.mkString("[", ", ", "]")
      query.Esql.run(
        s"""FROM embeddings METADATA _score
           | WHERE KNN(embedding, $vec, {"k": 25, "metric": "dot_product", "tiebreak": "vec_id"})
           | KEEP vec_id, _score
           | SORT vec_id""",
        t => load(dir, t))
    }, Some({
      val qLit = knnQueryVec.mkString("[", ", ", "]")
      s"""WITH s AS (
         |  SELECT vec_id,
         |    (1.0 + list_inner_product(embedding::DOUBLE[], CAST($qLit AS DOUBLE[]))) / 2.0 AS _score
         |  FROM embeddings
         |), cut AS (
         |  SELECT vec_id, _score FROM s ORDER BY _score DESC, vec_id LIMIT 25
         |)
         |SELECT vec_id, _score FROM cut ORDER BY vec_id""".stripMargin
    })),

    // pre-filter → cosine top-40 → post-filter, operation-for-operation:
    // dot / (sqrt(n_a)·sqrt(n_b)), then ES's (1+cos)/2 transform.
    QueryCase("esql_knn_prefiltered", (s, dir) => {
      implicit val spark: SparkSession = s
      // The pre/post-filter contract in one committed query (ES|QL's
      // rule, EsqlSpec pins the divergence): the same-WHERE conjunct
      // restricts candidates BEFORE the k-nearest cut, the later WHERE
      // trims the k survivors (teeth: 4 of 40 survive at sf0.01, 18 of
      // 40 at sf0.1). cosine restated operation-for-operation
      // (dot / (sqrt·sqrt), then (1+cos)/2) — sqrt is IEEE
      // correctly-rounded in both engines, so the post-filter threshold
      // needs no corpus margin.
      val vec = knnQueryVec.mkString("[", ", ", "]")
      query.Esql.run(
        s"""FROM embeddings METADATA _score
           | WHERE vec_id % 3 == 0 AND KNN(embedding, $vec, {"k": 40, "metric": "cosine", "tiebreak": "vec_id"})
           | WHERE _score > 0.62
           | KEEP vec_id, _score
           | SORT vec_id""",
        t => load(dir, t))
    }, Some({
      val qLit = knnQueryVec.mkString("[", ", ", "]")
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 3 = 0
         |), s AS (
         |  SELECT vec_id,
         |    (1.0 + list_inner_product(v, CAST($qLit AS DOUBLE[]))
         |      / (sqrt(list_inner_product(v, v))
         |         * sqrt(list_inner_product(CAST($qLit AS DOUBLE[]), CAST($qLit AS DOUBLE[]))))) / 2.0 AS _score
         |  FROM e
         |), cut AS (
         |  SELECT vec_id, _score FROM s ORDER BY _score DESC, vec_id LIMIT 40
         |)
         |SELECT vec_id, _score FROM cut WHERE _score > 0.62 ORDER BY vec_id""".stripMargin
    })),

    QueryCase("esql_metadata_index", (s, dir) => {
      implicit val spark: SparkSession = s
      // METADATA _index under the multi-table FROM: each row carries the
      // FROM name that produced it (stamped per branch BEFORE the
      // union), so per-source attribution is a plain GROUP BY.
      query.Esql.run(
        """FROM region, nation METADATA _index
          | STATS n = COUNT(*) BY _index
          | SORT _index""",
        t => load(dir, t))
    }, Some(
      """SELECT n, _index FROM (
        |  SELECT CAST(count(*) AS BIGINT) AS n, 'region' AS _index FROM region
        |  UNION ALL
        |  SELECT CAST(count(*) AS BIGINT) AS n, 'nation' AS _index FROM nation
        |) ORDER BY _index""".stripMargin)),

    // the search_bm25 scoring tree verbatim (the shared generator) — the
    // ES|QL front-end is invisible to results, the repo's standing trick
    QueryCase("esql_match_score", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL relevance scoring (8.15+): METADATA _score + MATCH — the
      // Kibana search-bar shape inside the pipe language. MATCH conjuncts
      // add their BM25 scores into _score (corpus statistics over the
      // frame entering the WHERE = the index, since the WHERE follows
      // FROM directly); the score tree is the Bm25 tier's fixed IEEE
      // fold, so the oracle wraps the SHARED oracleSqlScored generator.
      query.Esql.run(
        """FROM documents METADATA _score
          | WHERE MATCH(text, "dup vector scan")
          | KEEP doc_id, _score
          | SORT _score DESC, doc_id
          | LIMIT 15""",
        t => load(dir, t))
    }, Some({
      val scored = graft.query.Bm25.oracleSqlScored(
        "documents", "doc_id", "text", "dup vector scan")
      s"""WITH s AS (
         |$scored
         |)
         |SELECT doc_id, score AS _score FROM s
         |ORDER BY _score DESC, doc_id LIMIT 15""".stripMargin
    })),

    // phrase scoring restated: the shared pseudo-term generator (TF =
    // sequence positions, DF = docs containing the phrase)
    QueryCase("esql_match_phrase_score", (s, dir) => {
      implicit val spark: SparkSession = s
      // MATCH_PHRASE under METADATA _score: the phrase scores as ONE
      // pseudo-term — TF = phrase-occurrence count (contiguous, in
      // order), DF = documents containing the phrase (Lucene
      // PhraseQuery's scoring shape). Oracle wraps the shared phrase
      // restatement; a MATCH twin on the same terms would rank
      // DIFFERENTLY (per-term DF ≫ phrase DF), which is the teeth.
      query.Esql.run(
        """FROM documents METADATA _score
          | WHERE MATCH_PHRASE(text, "vector scan")
          | KEEP doc_id, _score
          | SORT _score DESC, doc_id
          | LIMIT 15""",
        t => load(dir, t))
    }, Some({
      val scored = graft.query.Bm25.oracleSqlScoredPhrase(
        "documents", "doc_id", "text", "vector scan")
      s"""WITH s AS (
         |$scored
         |)
         |SELECT doc_id, score AS _score FROM s
         |ORDER BY _score DESC, doc_id LIMIT 15""".stripMargin
    })),

    // cross_fields × AND: every term in at least one field
    QueryCase("esql_multi_match", (s, dir) => {
      implicit val spark: SparkSession = s
      // ES|QL MULTI_MATCH (9.1) in filter context, cross_fields × AND:
      // every term appears in at least one of (p_name, p_type) — not
      // necessarily the same one. Teeth: 'small' satisfies via EITHER
      // the name or the type field (SMALL analyzes to 'small'), 'bolt'
      // only via the name — best_fields AND (one field holds both)
      // would be a strictly smaller set.
      query.Esql.run(
        """FROM part
          | WHERE MULTI_MATCH("small bolt", p_name, p_type, {"type": "cross_fields", "operator": "and"})
          | KEEP p_partkey
          | SORT p_partkey""",
        t => load(dir, t))
    }, Some({
      import graft.expr.TextMatch.containsTokenSql
      def anyField(t: String) =
        s"(${containsTokenSql("p_name", t)} OR ${containsTokenSql("p_type", t)})"
      s"""SELECT p_partkey FROM part
         |WHERE ${anyField("small")} AND ${anyField("bolt")}
         |ORDER BY p_partkey""".stripMargin
    })),

    QueryCase("esql_enrich_range", (s, dir) => {
      implicit val spark: SparkSession = s
      import spark.implicits._
      // ENRICH with a RANGE policy (ES enrich policy type `range`): the
      // input value joins the band whose inclusive [lo, hi] contains it.
      // The policy table is a literal frame (the materialized enrich
      // index); the compile broadcasts it and plants an in-plan overlap
      // guard (overlap → ES would answer multivalued — here it raises).
      val bands = Seq((1, 10, "small"), (11, 25, "mid"), (26, 50, "large"))
        .toDF("lo", "hi", "band")
      query.Esql.run(
        """FROM part
          | ENRICH size_bands ON p_size WITH band
          | STATS n = COUNT(*) BY band
          | SORT band""",
        t => load(dir, t),
        Map("size_bands" -> query.Esql.EnrichPolicy(bands, "lo", Seq("band"),
          policyType = "range", rangeLowField = "lo", rangeHighField = "hi")))
    }, Some(
      """WITH bands(lo, hi, band) AS (
        |  VALUES (1, 10, 'small'), (11, 25, 'mid'), (26, 50, 'large')
        |)
        |SELECT count(*)::BIGINT AS n, band
        |FROM part JOIN bands ON p_size BETWEEN lo AND hi
        |GROUP BY band ORDER BY band""".stripMargin)))
}
