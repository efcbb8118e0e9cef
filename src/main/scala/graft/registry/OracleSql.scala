package graft
package registry

import graft.etl.CityRecipes
import SparkEntry._

/** DuckDB SQL fragments shared by the oracles of more than one family.
  *
  * One convention for every oracle fragment, here and in the families: a
  * helper named `…Cte(s)`/`…Cte(s)Sql` returns complete, closed
  * `name AS (...)` items joined by `,` — no `WITH`, no leading `)` or `,`,
  * nothing left open — and its caller writes `WITH` and joins the items
  * (its own among them) with `,`. Any other fragment is an expression, a
  * relation, a final `SELECT` over CTEs its caller declared, or a whole
  * statement.
  */
object OracleSql {

  /** Analyzer tokens of `documents.text` in DuckDB. */
  private[registry] val duckToks = graft.expr.TextMatch.tokensSql("text")

  /** DuckDB twin of [[graft.ops.TextAnalysis.tokenCount]] over column `c`:
    * its whitespace-token count, 0 for blank text. Parenthesized.
    */
  private[registry] def wsTokenCountSql(c: String = "text"): String =
    s"(CASE WHEN len(trim($c)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim($c), '\\s+')) END)"

  /** SQL CASE mirroring [[graft.etl.Harmonizer.mapValues]]'s `when` chain
    * (unmapped values pass through).
    */
  private[registry] def recodeCase(column: String, mapping: Seq[(String, String)]): String =
    mapping.map { case (from, to) =>
      s"WHEN '${from.replace("'", "''")}' THEN '${to.replace("'", "''")}'"
    }.mkString(s"CASE $column ", " ", s" ELSE $column END")

  /** The tail every city relation shares: CTE `asm` assembling the
    * timestamp `dt` from the `y, mo, d, h, mi` strings of `from`, then the
    * published row — `cols`, the integer date parts, the datetime string,
    * the day name and the `city` tag. The caller opens the WITH list with
    * its own CTEs; this adds `asm` and the final `SELECT`.
    */
  private def cityPublishedSql(ctes: String, from: String, cols: String, city: String): String =
    s"""WITH $ctes, asm AS (
       |  SELECT *, TRY_CAST(concat_ws('-', y, mo, d) ||
       |    CASE WHEN h <> '' AND mi <> '' THEN ' ' || h || ':' || mi || ':00'
       |         ELSE '' END AS TIMESTAMP) AS dt
       |  FROM $from
       |)
       |SELECT $cols,
       |  TRY_CAST(y AS INT) AS year, TRY_CAST(mo AS INT) AS month,
       |  TRY_CAST(d AS INT) AS day, TRY_CAST(h AS INT) AS hour,
       |  TRY_CAST(mi AS INT) AS minute,
       |  strftime(dt, '%Y-%m-%d %H:%M:%S') AS datetime,
       |  dayname(dt) AS dayofweek, '$city' AS city
       |FROM asm""".stripMargin

  /** DuckDB relation producing one city's harmonized (published) rows —
    * the WITH-chain shared by the `recipe_harmonize_*` oracles and the
    * federated dictionary oracle. The datetime column carries its published
    * string rendering under the harmonized name `datetime`; no ORDER BY
    * (callers sort).
    */
  private[registry] def cityHarmonizedRelationSql(city: String): String = city match {
    case "baltimore" =>
      val recode = recodeCase("\"Description\"", CityRecipes.baltimoreDescr)
      cityPublishedSql(
        s"""kept AS (
           |  SELECT *, regexp_replace("Location 1", '[\\(\\)\\s]', '', 'g') AS geolocation
           |  FROM read_csv('${cityCsv("Baltimore")}', all_varchar=true)
           |  WHERE length(regexp_replace("Location 1", '[\\(\\)\\s]', '', 'g')) > 0
           |), parts AS (
           |  SELECT "CrimeCode" AS crimecode, $recode AS description,
           |    "Description" AS description_orig, geolocation,
           |    regexp_extract("CrimeDate", '(\\d+)/(\\d+)/(\\d+)', 1) AS mo,
           |    regexp_extract("CrimeDate", '(\\d+)/(\\d+)/(\\d+)', 2) AS d,
           |    regexp_extract("CrimeDate", '(\\d+)/(\\d+)/(\\d+)', 3) AS y,
           |    regexp_replace(concat(regexp_extract("CrimeTime", '(\\d+):(\\d+):(\\d+)', 1),
           |      regexp_extract("CrimeTime", '^(\\d\\d)(\\d\\d)$$', 1)), '^24$$', '00') AS h,
           |    concat(regexp_extract("CrimeTime", '(\\d+):(\\d+):(\\d+)', 2),
           |      regexp_extract("CrimeTime", '^(\\d\\d)(\\d\\d)$$', 2)) AS mi
           |  FROM kept
           |)""".stripMargin,
        "parts", "crimecode, description, description_orig, geolocation", "Baltimore")

    case "detroit" =>
      val recode = recodeCase("\"Offense Category\"", CityRecipes.detroitDescr)
      def dbl(c: String) =
        s"CASE WHEN regexp_matches($c, '^-?\\d+(\\.\\d+)?$$') THEN CAST($c AS DOUBLE) END"
      cityPublishedSql(
        s"""kept AS (
           |  SELECT * FROM read_csv('${cityCsv("Detroit")}', all_varchar=true)
           |  WHERE length("Latitude") > 0 AND length("Longitude") > 0
           |    AND ${dbl("\"Latitude\"")} > 0
           |    AND ${dbl("\"Latitude\"")} < 99999
           |    AND ${dbl("\"Longitude\"")} < 0
           |), parts AS (
           |  SELECT "Crime ID" AS crimeid, $recode AS description,
           |    "Incident Address" AS location,
           |    concat("Latitude", ',', "Longitude") AS geolocation,
           |    regexp_extract("Incident Date & Time", '(\\d+)/(\\d+)/(\\d+)', 1) AS mo,
           |    regexp_extract("Incident Date & Time", '(\\d+)/(\\d+)/(\\d+)', 2) AS d,
           |    regexp_extract("Incident Date & Time", '(\\d+)/(\\d+)/(\\d+)', 3) AS y,
           |    CASE WHEN regexp_matches("Hour of Day", '^-?\\d+$$')
           |         THEN printf('%02d', CAST("Hour of Day" AS INT)) END AS h,
           |    '00' AS mi
           |  FROM kept
           |)""".stripMargin,
        "parts", "crimeid, description, location, geolocation", "Detroit")

    case "losangeles" =>
      val recode = recodeCase("\"CRIME_CATEGORY_DESCRIPTION\"", CityRecipes.losAngelesDescr)
      val rx = "(\\d+)/(\\d+)/(\\d+) (\\d+):(\\d+):(\\d+) (\\w\\w)"
      cityPublishedSql(
        s"""kept AS (
           |  SELECT * FROM read_csv('${cityCsv("LosAngeles")}', all_varchar=true)
           |  WHERE length("LATITUDE") > 0 AND length("LONGITUDE") > 0
           |    AND CASE WHEN regexp_matches("LATITUDE", '^-?\\d+(\\.\\d+)?$$')
           |             THEN CAST("LATITUDE" AS DOUBLE) END > 0
           |), parts AS (
           |  SELECT "CRIME_IDENTIFIER" AS crime_identifier, $recode AS description,
           |    TRY_CAST(CASE WHEN "GANG_RELATED" = 'Y' THEN '1'
           |                  WHEN "GANG_RELATED" = 'N' THEN '0'
           |                  ELSE "GANG_RELATED" END AS INT) AS gang_related,
           |    concat("LATITUDE", ',', "LONGITUDE") AS geolocation,
           |    regexp_extract("CRIME_DATE", '$rx', 1) AS mo,
           |    regexp_extract("CRIME_DATE", '$rx', 2) AS d,
           |    regexp_extract("CRIME_DATE", '$rx', 3) AS y,
           |    regexp_replace(regexp_extract("CRIME_DATE", '$rx', 4), '^24$$', '00') AS h12,
           |    regexp_extract("CRIME_DATE", '$rx', 5) AS mi,
           |    regexp_extract("CRIME_DATE", '$rx', 7) AS ap
           |  FROM kept
           |), conv AS (
           |  SELECT *, regexp_replace(
           |    CASE WHEN ap = 'PM' AND TRY_CAST(h12 AS INT) <> 12
           |           THEN (TRY_CAST(h12 AS INT) + 12)::VARCHAR
           |         WHEN ap = 'AM' AND TRY_CAST(h12 AS INT) = 12 THEN '0'
           |         ELSE h12 END, '^24$$', '00') AS h
           |  FROM parts
           |)""".stripMargin,
        "conv", "crime_identifier, description, gang_related, geolocation", "LosAngeles")
  }

  /** The analyzer's token stream of `documents.text` in DuckDB, as CTE
    * `t(doc_id, lang, toks)` (lower-cased `[a-z0-9]+` runs, the engine's
    * ASCII analyzer), then one CTE per `(name, column, predicate)` holding
    * `column`, the 1-based positions of the tokens where `predicate`
    * holds.
    */
  private[registry] def tokenPositionCtesSql(positions: (String, String, String)*): String =
    (s"""t AS (
        |  SELECT doc_id, lang, $duckToks AS toks
        |  FROM documents
        |)""".stripMargin +: positions.map { case (name, column, predicate) =>
      s"""$name AS (
         |  SELECT doc_id, u.i AS $column FROM t, unnest(range(1, len(toks)+1)) AS u(i)
         |  WHERE $predicate
         |)""".stripMargin
    }).mkString(", ")

  /** The tf postings of `documents.text` in DuckDB: CTE `p(doc_id, term,
    * weight)`, the term frequency as DOUBLE, over the same token stream as
    * [[tokenPositionCtesSql]].
    */
  private[registry] val tfPostingsCtesSql: String =
    s"""t AS (
       |  SELECT doc_id, $duckToks AS toks
       |  FROM documents
       |), e AS (
       |  SELECT doc_id, u.x AS term FROM t, unnest(toks) AS u(x)
       |), p AS (
       |  SELECT doc_id, term, count(*)::DOUBLE AS weight
       |  FROM e GROUP BY doc_id, term
       |)""".stripMargin

  /** Over [[tfPostingsCtesSql]] and a query-weight CTE `q(term, qw)`: the
    * top 15 documents by Σ tf·qw, ties to the smaller doc_id.
    */
  private[registry] val sparseTop15Sql: String =
    """SELECT doc_id,
      |  row_number() OVER (ORDER BY sum(weight * qw) DESC, doc_id ASC) AS rank,
      |  sum(weight * qw) AS score
      |FROM p JOIN q USING (term) GROUP BY doc_id
      |ORDER BY rank LIMIT 15""".stripMargin

  /** The hourly reset-adjusted increase and per-second rate of the
    * derived per-event_type counter `(row_number · 7) mod 1000` — shared by
    * `g_time_series_rate` and its ES|QL twin `esql_ts_rate`: the pipe
    * front-end must be invisible in the result.
    */
  private[registry] val counterRateOracleSql: String =
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
      |ORDER BY event_type, bucket""".stripMargin

  /** The precision-3 geohash grid over the points of the caller's CTE
    * `zoomed(lat, lon)` (`ctes`, which declare it): the 15-bit interleave
    * (lon leads with 8 bits at even positions, lat 7 at odd), base-32
    * encoded, by count descending.
    */
  private[registry] def geohash3CellsSql(ctes: String): String =
    s"""WITH $ctes, idx AS (
       |  SELECT least(127, greatest(0, floor((lat + 90) / 180 * 128)))::INT AS la,
       |         least(255, greatest(0, floor((lon + 180) / 360 * 256)))::INT AS lo
       |  FROM zoomed
       |), gh AS (
       |  SELECT ((lo & 128) << 7) | ((lo & 64) << 6) | ((lo & 32) << 5)
       |       | ((lo & 16) << 4) | ((lo & 8) << 3) | ((lo & 4) << 2)
       |       | ((lo & 2) << 1) | (lo & 1)
       |       | ((la & 64) << 7) | ((la & 32) << 6) | ((la & 16) << 5)
       |       | ((la & 8) << 4) | ((la & 4) << 3) | ((la & 2) << 2)
       |       | ((la & 1) << 1) AS v
       |  FROM idx
       |)
       |SELECT substr('0123456789bcdefghjkmnpqrstuvwxyz', (v >> 10) + 1, 1) ||
       |       substr('0123456789bcdefghjkmnpqrstuvwxyz', ((v >> 5) & 31) + 1, 1) ||
       |       substr('0123456789bcdefghjkmnpqrstuvwxyz', (v & 31) + 1, 1) AS geohash,
       |       count(*) AS count
       |FROM gh GROUP BY 1 ORDER BY count DESC, geohash ASC""".stripMargin

  /** The connected components of a closed near-duplicate `pairs(id_a,
    * id_b)` CTE, as CTEs from `edges AS (` on: the symmetric edges, their
    * transitive closure, and `comp(id, component)` — each paired id with
    * the smallest id it reaches.
    */
  private[registry] val componentsCtesSql: String =
    """edges AS (
      |  SELECT id_a AS a, id_b AS b FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs
      |), reach AS (
      |  -- transitive closure (recursive UNION dedupes, so it terminates)
      |  WITH RECURSIVE r(a, b) AS (
      |    SELECT a, b FROM edges
      |    UNION
      |    SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a
      |  ) SELECT * FROM r
      |), comp AS (
      |  SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a
      |)""".stripMargin

  /** The cluster-keep count over [[componentsCtesSql]]: the rows of `rows`
    * (a relation with its alias) whose `id` is unpaired or the smallest of
    * its component, counted as `counted` per `group`.
    */
  private[registry] def keepPerComponentSql(
      rows: String, id: String, group: String, counted: String): String =
    s"""SELECT $group, count(*) AS $counted
       |FROM $rows LEFT JOIN comp ON $id = comp.id
       |WHERE comp.id IS NULL OR comp.component = $id
       |GROUP BY $group ORDER BY $group""".stripMargin

  /** Over a near-duplicate `pairs(id_a, id_b)` CTE of embeddings: the
    * smallest vec_id kept per component, kept vectors counted per label.
    */
  private[registry] def keepPerLabelSql(pairs: String): String =
    s"""WITH $pairs, $componentsCtesSql
       |${keepPerComponentSql("embeddings emb", "emb.vec_id", "label", "n_kept")}""".stripMargin

  /** ExactSubstr coverage over a CTE `t(doc_id, toks)` the caller
    * declares: `tok(doc_id, tp, tok)` every token position of the
    * docs where `keep` holds, `grams` the md5 of every `minLen`-token
    * window, `dup` the windows seen more than once, `covered(doc_id, tp)`
    * the positions a duplicated window covers in the docs where `keep`
    * holds.
    */
  private[registry] def duplicateSpanCtesSql(minLen: Int, keep: String = "TRUE"): String =
    s"""tok AS (
       |  SELECT doc_id, i AS tp, toks[i] AS tok
       |  FROM t, unnest(generate_series(1, len(toks))) u(i)
       |  WHERE len(toks) > 0 AND $keep
       |), grams AS (
       |  SELECT doc_id, i AS pos,
       |    md5(array_to_string(toks[i : i + ${minLen - 1}], ' ')) AS g
       |  FROM t, unnest(generate_series(1, len(toks) - ${minLen - 1})) u(i)
       |  WHERE len(toks) >= $minLen
       |), dup AS (
       |  SELECT g FROM grams GROUP BY g HAVING count(*) > 1
       |), covered AS (
       |  SELECT DISTINCT grams.doc_id, pos + j AS tp
       |  FROM grams JOIN dup USING (g), unnest(generate_series(0, ${minLen - 1})) v(j)
       |  WHERE $keep
       |)""".stripMargin

  /** The ExactSubstr removal of `dedup_duplicate_spans`: per document of
    * `keep`, its token count, the tokens a duplicated `minLen`-token span
    * covers, and the surviving tokens rejoined in order.
    */
  private[registry] def duplicateSpanRemovalSql(minLen: Int, keep: String = "TRUE"): String =
    s"""WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents),
       |${duplicateSpanCtesSql(minLen, keep)}
       |SELECT tok.doc_id, count(*) AS n_tokens,
       |  count(covered.tp) AS n_removed,
       |  coalesce(string_agg(CASE WHEN covered.tp IS NULL THEN tok.tok END,
       |    ' ' ORDER BY tok.tp), '') AS text
       |FROM tok LEFT JOIN covered
       |  ON tok.doc_id = covered.doc_id AND tok.tp = covered.tp
       |GROUP BY tok.doc_id ORDER BY tok.doc_id""".stripMargin

  /** Winnowing fingerprints of every document in DuckDB: CTE `f(doc_id,
    * fp)`, the sorted distinct minima of each 4-window over the portable
    * md5 hashes of the word 3-grams (the whole hash list when shorter).
    */
  private[registry] def winnowFingerprintCtesSql: String =
    s"""t AS (
       |  SELECT doc_id, $duckToks AS toks FROM documents
       |), g AS (
       |  SELECT doc_id, list_transform(generate_series(1, len(toks) - 2),
       |    i -> ('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 13))::BIGINT) AS hs
       |  FROM t WHERE len(toks) >= 3
       |), f AS (
       |  SELECT doc_id, list_sort(list_distinct(
       |    CASE WHEN len(hs) < 4 THEN [list_min(hs)]
       |         ELSE list_transform(generate_series(1, len(hs) - 3),
       |                i -> list_min(hs[i:i+3])) END)) AS fp
       |  FROM g
       |)""".stripMargin

  /** The significant-terms counts in DuckDB, after a `base(terms, fg)`
    * CTE of per-document distinct terms and slice membership: totals
    * `tot(bgt, fgt)` and per-term `c(term, bg_count, fg_count)`, exact
    * integers, for [[jlhScoreSql]] or [[chi2ScoreSql]].
    */
  private[registry] val significantCountCtesSql: String =
    """tot AS (
      |  SELECT count(*) AS bgt,
      |    sum(CASE WHEN fg THEN 1 ELSE 0 END)::BIGINT AS fgt FROM base
      |), e AS (SELECT unnest(terms) AS term, fg FROM base),
      |c AS (
      |  SELECT term, count(*) AS bg_count,
      |    sum(CASE WHEN fg THEN 1 ELSE 0 END)::BIGINT AS fg_count
      |  FROM e GROUP BY term
      |)""".stripMargin

  /** Over the significant-terms counts `c(term, bg_count, fg_count)` and
    * totals `tot(bgt, fgt)`: the JLH score — the identical three-op IEEE
    * tree as the engine — and the top `limit` terms.
    */
  private[registry] def jlhScoreSql(limit: Int): String =
    s"""SELECT term, fg_count, bg_count,
       |  (fg_count::DOUBLE / fgt - bg_count::DOUBLE / bgt)
       |    * ((fg_count::DOUBLE / fgt) / (bg_count::DOUBLE / bgt)) AS score
       |FROM c, tot WHERE fg_count > 0
       |ORDER BY score DESC, term ASC LIMIT $limit""".stripMargin

  /** [[jlhScoreSql]]'s chi_square twin: the textbook 2×2 contingency
    * tree in DOUBLE arithmetic, identical operation order.
    */
  private[registry] def chi2ScoreSql(limit: Int): String =
    s"""SELECT term, fg_count, bg_count,
       |  CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) = 0.0 THEN 0.0
       |       ELSE ((a * d - b * c) * (a * d - b * c) * n)
       |            / ((a + b) * (c + d) * (a + c) * (b + d)) END AS score
       |FROM (
       |  SELECT term, fg_count, bg_count,
       |    fg_count::DOUBLE AS a,
       |    fgt::DOUBLE - fg_count::DOUBLE AS b,
       |    bg_count::DOUBLE - fg_count::DOUBLE AS c,
       |    (bgt::DOUBLE - fgt::DOUBLE) - (bg_count::DOUBLE - fg_count::DOUBLE) AS d,
       |    bgt::DOUBLE AS n
       |  FROM c, tot WHERE fg_count > 0
       |) m
       |ORDER BY score DESC, term ASC LIMIT $limit""".stripMargin

  /** The daily event-count series in DuckDB with every candidate split's
    * running sums: `x(b, c, k, s1, n, tot, nxt)`, for the change-point
    * magnitude (shared by g_change_point and its ES|QL CHANGE_POINT twin).
    */
  private[registry] val dailyChangePointCtesSql: String =
    """s AS (
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
      |)""".stripMargin

  /** The synthetic customer map points in DuckDB: the CTE `pts(cols...,
    * lat, lon)`. Two IEEE pins the micro-degree floors
    * need: 0.001 is cast to DOUBLE (as a DECIMAL literal the addition stays
    * exact and a floor flips against the engine's double add), and the
    * engine's `pmod` on a DOUBLE is restated as ONE fmod plus a conditional
    * add (the `((x%m)+m)%m` form re-rounds `r+m` and loses the low bits of
    * small remainders).
    */
  private[registry] def customerPointsCteSql(cols: String*): String =
    s"""pts AS (
       |  SELECT ${cols.map(_ + ", ").mkString}
       |    (CASE WHEN (c_acctbal % 180) < 0 THEN (c_acctbal % 180) + 180
       |          ELSE (c_acctbal % 180) END) - 90 + CAST(0.001 AS DOUBLE) AS lat,
       |    ((c_custkey % 360) + 360) % 360 - 180 + CAST(0.001 AS DOUBLE) AS lon
       |  FROM customer
       |)""".stripMargin

  /** Each document's distinct word bigrams in DuckDB: CTE `d(doc_id, sh)`
    * over documents with at least 2 tokens.
    */
  private[registry] def wordBigramSetsCtesSql: String =
    s"""d AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(generate_series(1, len(toks) - 1),
       |      i -> toks[i] || ' ' || toks[i + 1])) AS sh
       |  FROM (SELECT doc_id, $duckToks AS toks FROM documents)
       |  WHERE len(toks) >= 2
       |)""".stripMargin

  /** The sparse_vector retrieval restated for the oracle — shared by the
    * one-shot postings query (`search_sparse_vector`) and its streamed
    * maintained-index twin (`stream_sparse_vector`): epochs, the
    * at-least-once replay, and the bucket-partitioned at-rest layout
    * must all be invisible in the ranked page.
    */
  private[registry] val sparseVectorOracleSql: String =
    s"""WITH $tfPostingsCtesSql, q AS (
       |  SELECT * FROM (VALUES ('vector', 2.0), ('dup', 1.5), ('scan', 0.5))
       |    AS q(term, qw)
       |)
       |$sparseTop15Sql""".stripMargin

  /** The three stored alert queries restated clause-for-clause — shared
    * by the one-shot percolation (`q_percolate`) and its streamed
    * deployment twin (`stream_percolate`): batch boundaries, the
    * at-least-once replay, and the at-rest stored-query table must all be
    * invisible in the alert set.
    */
  private[registry] val percolateOracleSql: String = {
    import graft.expr.TextMatch.containsTokenSql
    s"""SELECT query_id, doc_id FROM (
       |  SELECT 'alert_dup' AS query_id, doc_id FROM documents
       |  WHERE ${containsTokenSql("text", "dup")}
       |  UNION ALL
       |  SELECT 'alert_vector_scan' AS query_id, doc_id FROM documents
       |  WHERE ${containsTokenSql("text", "vector scan")}
       |  UNION ALL
       |  SELECT 'alert_long_en' AS query_id, doc_id FROM documents
       |  WHERE ${containsTokenSql("lang", "en")} AND n_chars::DOUBLE >= 400
       |) ORDER BY query_id, doc_id""".stripMargin
  }

  /** The IVF coarse-quantizer assignment in DuckDB (refineIters=0), shared
    * by the `ann_ivf` and `sample_embedding_percell` oracles: `e` (typed
    * corpus) → `cent` (the `nlist` vectors with the smallest seeded
    * md5-unit hash, in [[graft.ops.Sampling.hashUnitSql]] order — exactly
    * [[graft.ops.Similarity.kmeansCentroids]]'s init pick) → `cellranked`
    * (per-row cells by bit-stable cosine) → `assigned` (top-1 cell per
    * row).
    */
  private[registry] def ivfAssignCtesSql(nlist: Int, refineIters: Int = 0,
      trainPred: String = "TRUE"): String = {
    val u = ops.Sampling.hashUnitSql("vec_id", 42)
    // Cell assignment of source table `src` against centroid table
    // `centTable`, emitting sim/cellranked/assigned with `sfx`. The
    // refinement rounds assign the TRAINING set `et` (matching
    // kmeansCentroids, which refines over its — possibly trainCap-bounded —
    // training frame); the final serving assignment runs over the full
    // corpus `e` against the frozen result.
    def assignBlock(centTable: String, sfx: String, src: String): String =
      s"""sim$sfx AS (
         |  SELECT $src.vec_id, $src.v, $centTable.cell,
         |    list_inner_product($src.v, $centTable.cv)
         |      / (sqrt(list_inner_product($src.v, $src.v)) * sqrt(list_inner_product($centTable.cv, $centTable.cv))) AS ccos
         |  FROM $src, $centTable
         |), cellranked$sfx AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY ccos DESC, cell ASC) AS r
         |  FROM sim$sfx
         |), assigned$sfx AS (
         |  SELECT vec_id, v, cell FROM cellranked$sfx WHERE r = 1
         |)""".stripMargin
    val init =
      s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |et AS (SELECT * FROM e WHERE $trainPred),
         |cent_0 AS (
         |  SELECT row_number() OVER (ORDER BY u, vec_id) - 1 AS cell, v AS cv
         |  FROM (SELECT vec_id, v, $u AS u FROM et)
         |  ORDER BY u, vec_id LIMIT $nlist
         |)""".stripMargin
    // One k-means round: assign against cent_r, then the BIT-STABLE cell
    // mean — fold the cell's vectors in ascending-vec_id order
    // (`list_reduce(list(v ORDER BY vec_id), ...)`, left-associated exactly
    // like the engine's sorted `aggregate` fold in
    // [[graft.ops.Similarity.kmeansCentroids]]) — and divide once at the
    // end. Empty cells keep their previous centroid (the LEFT JOIN).
    val rounds = (0 until refineIters).map { r =>
      val sfx = s"_$r"
      val next = if (r == refineIters - 1) "cent" else s"cent_${r + 1}"
      s"""${assignBlock(s"cent_$r", sfx, "et")}, sums$sfx AS (
         |  SELECT cell, count(*) AS n,
         |    list_reduce(list(v ORDER BY vec_id),
         |      (a, b) -> list_transform(generate_series(1, len(a)), ii -> a[ii] + b[ii])) AS s
         |  FROM assigned$sfx GROUP BY cell
         |), $next AS (
         |  SELECT c.cell,
         |    CASE WHEN s.cell IS NULL THEN c.cv
         |         ELSE list_transform(s.s, x -> x / CAST(s.n AS DOUBLE)) END AS cv
         |  FROM cent_$r c LEFT JOIN sums$sfx s USING (cell)
         |)""".stripMargin
    }
    val centAlias =
      if (refineIters == 0) Seq("cent AS (SELECT * FROM cent_0)") else Nil
    (Seq(init) ++ rounds ++ centAlias ++ Seq(assignBlock("cent", "", "e"))).mkString(",\n")
  }

  /** The IVF-PQ pipeline in DuckDB (refineIters=0), continuing
    * [[ivfAssignCtesSql]]'s chain: `resid` (per-row RESIDUAL vs the row's
    * coarse centroid — elementwise IEEE subtraction, matching
    * [[graft.expr.VectorAlgo.sub]]), `pqinit` (residuals of the `ksub`
    * deterministic sample rows, [[graft.ops.Similarity.pqCodebooks]]'s
    * init), `cbsub` (their per-subspace slices = the codebooks),
    * `codes`/`codesw` (per-row per-subspace L2-argmin codes over residual
    * slices — `2·x·c − c·c` with `list_inner_product`, the exact fold
    * [[graft.expr.CellAlgo.nearestCellsL2]] computes), and an ADC score =
    * exact `q·centroid(cell)` term plus LUT terms summed sub-0-first (SQL
    * `+` is left-associative, matching the engine's left fold), ranked
    * like every ANN oracle here.
    */
  private[registry] def ivfPqSql(nlist: Int, nprobe: Int, m: Int, ksub: Int,
      dim: Int, k: Int, nQueries: Int, refineIters: Int = 0): String = {
    val dsub = dim / m
    val u = ops.Sampling.hashUnitSql("vec_id", 42)
    val cWide = (0 until m).map(s => s"max(CASE WHEN sub = $s THEN code END) AS c$s").mkString(",\n    ")
    val cbJoins = (0 until m).map(s =>
      s"JOIN cbsub s$s ON s$s.sub = $s AND s$s.code = c.c$s").mkString("\n  ")
    val adc = (0 until m).map { s =>
      s"list_inner_product(list_slice(c.qv, ${s * dsub + 1}, ${(s + 1) * dsub}), s$s.sv)"
    }.mkString("c.qc\n      + ", "\n      + ", "")
    // Per-row per-subspace L2-argmin codes against codebook table `cb`.
    def codesBlock(cb: String, sfx: String): String =
      s"""codes$sfx AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT rr.vec_id, c.sub, c.code,
         |      row_number() OVER (PARTITION BY rr.vec_id, c.sub ORDER BY
         |        2 * list_inner_product(list_slice(rr.rv, c.sub * $dsub + 1, (c.sub + 1) * $dsub), c.sv)
         |          - list_inner_product(c.sv, c.sv) DESC, c.code ASC) AS rnk
         |    FROM resid rr, $cb c
         |  ) WHERE rnk = 1
         |)""".stripMargin
    // One PQ k-means round: codes against cbsub_r, then the bit-stable
    // per-(sub, code) mean of residual slices (ascending-vec_id left fold,
    // matching [[graft.ops.Similarity]]'s refineBooks); empty codes keep
    // their previous centroid.
    val pqRounds = (0 until refineIters).map { r =>
      val sfx = s"_$r"
      val next = if (r == refineIters - 1) "cbsub" else s"cbsub_${r + 1}"
      s"""${codesBlock(s"cbsub_$r", sfx)}, csums$sfx AS (
         |  SELECT cd.sub, cd.code, count(*) AS n,
         |    list_reduce(
         |      list(list_slice(rr.rv, cd.sub * $dsub + 1, (cd.sub + 1) * $dsub)
         |        ORDER BY cd.vec_id),
         |      (a, b) -> list_transform(generate_series(1, len(a)), ii -> a[ii] + b[ii])) AS s
         |  FROM codes$sfx cd JOIN resid rr ON rr.vec_id = cd.vec_id
         |  GROUP BY cd.sub, cd.code
         |), $next AS (
         |  SELECT b.sub, b.code,
         |    CASE WHEN s.code IS NULL THEN b.sv
         |         ELSE list_transform(s.s, x -> x / CAST(s.n AS DOUBLE)) END AS sv
         |  FROM cbsub_$r b LEFT JOIN csums$sfx s ON s.sub = b.sub AND s.code = b.code
         |)""".stripMargin
    }
    val cbAlias =
      if (refineIters == 0) Seq("cbsub AS (SELECT * FROM cbsub_0)") else Nil
    val pqChain = (pqRounds ++ cbAlias ++ Seq(codesBlock("cbsub", ""))).mkString(",\n")
    s"""WITH ${ivfAssignCtesSql(nlist, refineIters)}, resid AS (
       |  SELECT a.vec_id, a.cell,
       |    list_transform(range(1, ${dim + 1}), i -> a.v[i] - ct.cv[i]) AS rv
       |  FROM assigned a JOIN cent ct ON a.cell = ct.cell
       |), pqinit AS (
       |  SELECT row_number() OVER (ORDER BY u, vec_id) - 1 AS code, rv AS v
       |  FROM (SELECT vec_id, rv, $u AS u FROM resid)
       |  ORDER BY u, vec_id LIMIT $ksub
       |), subs AS (
       |  SELECT unnest(range(0, $m)) AS sub
       |), cbsub_0 AS (
       |  SELECT s.sub, p.code, list_slice(p.v, s.sub * $dsub + 1, (s.sub + 1) * $dsub) AS sv
       |  FROM pqinit p, subs s
       |), $pqChain, codesw AS (
       |  SELECT vec_id,
       |    $cWide
       |  FROM codes GROUP BY vec_id
       |), qprobe AS (
       |  SELECT cr.vec_id AS query_id, cr.v AS qv, cr.cell,
       |    list_inner_product(cr.v, ct.cv) AS qc
       |  FROM cellranked cr JOIN cent ct ON cr.cell = ct.cell
       |  WHERE cr.r <= $nprobe AND cr.vec_id < $nQueries
       |), cand AS (
       |  SELECT q.query_id, q.qv, q.qc, a.vec_id AS neighbor_id,
       |    ${(0 until m).map(s => s"w.c$s").mkString(", ")}
       |  FROM assigned a
       |  JOIN qprobe q ON a.cell = q.cell
       |  JOIN codesw w ON w.vec_id = a.vec_id
       |  WHERE a.vec_id <> q.query_id
       |), scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    $adc AS adc
       |  FROM cand c
       |  $cbJoins
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank, neighbor_id, adc FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Lineitem columns and whether they are numeric — drives the generated
    * dictionary-profile oracle (the reference's per-column UNION ALL shape,
    * `harmonizeCrimeIncidents.py:356-387`, here as oracle SQL).
    */
  private[registry] val lineitemCols: Seq[(String, Boolean)] = Seq(
    "l_orderkey" -> true, "l_partkey" -> true, "l_suppkey" -> true,
    "l_linenumber" -> true, "l_quantity" -> true, "l_extendedprice" -> true,
    "l_discount" -> true, "l_tax" -> true,
    "l_returnflag" -> false, "l_linestatus" -> false, "l_shipdate" -> false)

  private[registry] def dictOracle(selectCols: String): String = {
    val subs = lineitemCols.map { case (c, numeric) =>
      val mean = if (numeric) s"avg($c)" else "NULL::DOUBLE"
      val std = if (numeric) s"stddev_pop($c)" else "NULL::DOUBLE"
      s"SELECT '$c' AS dict_field, count($c) AS dict_count, " +
        s"count(DISTINCT $c) AS dict_countdistinct, " +
        s"sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS dict_countmissing, " +
        s"$mean AS dict_mean, $std AS dict_stddev, " +
        s"min($c)::VARCHAR AS dict_min, max($c)::VARCHAR AS dict_max FROM lineitem"
    }
    val minD = "TRY_CAST(dict_min AS DOUBLE)"
    val maxD = "TRY_CAST(dict_max AS DOUBLE)"
    s"""WITH stats AS (${subs.mkString(" UNION ALL ")}),
       |typed AS (SELECT *, CASE
       |  WHEN dict_mean IS NULL THEN 'text'
       |  WHEN dict_countdistinct = 2 AND $minD = 0 AND $maxD = 1 THEN 'boolean'
       |  WHEN dict_countdistinct > (1 + $maxD - $minD)
       |    THEN 'range,0,' || floor($maxD + 1)::BIGINT::VARCHAR || ',0.1'
       |  ELSE 'range,0,' || (floor(($maxD / 10) + 1) * 10)::BIGINT::VARCHAR || ',1'
       |END AS dict_vartype FROM stats)
       |SELECT $selectCols FROM typed ORDER BY dict_field""".stripMargin
  }

  /** The portable-MinHash pipeline as DuckDB CTEs ending at
    * `pairs(id_a, id_b, jaccard)` — gram texts, seeded md5 minima,
    * value-vector band buckets, candidates, verified Jaccard; the exact
    * mirror of [[graft.ops.Dedup.minhashNearDupPairsPortable]]. Shared by
    * the pair-level and cluster-keep oracles.
    */
  private[registry] def portableMinhashCtesSql(
      k: Int, numHashes: Int, r: Int, threshold: Double,
      from: String = "documents"): String = {
    val P = graft.ops.Dedup.PortableP
    val sigCols = (0 until numHashes).map { i =>
      val (a, b) = graft.ops.Dedup.portablePerm(i)
      s"min((x * $a + $b) % $P) AS h$i"
    }.mkString(",\n    ")
    val bandRows = (0 until numHashes / r).map { j =>
      val key = (0 until r).map(x => s"h${j * r + x}").mkString("[", ", ", "]")
      s"SELECT doc_id, $j AS bidx, $key AS bkey FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""d AS (
       |  SELECT doc_id, $duckToks AS toks FROM $from
       |), g AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, len(toks) - ${k - 1}),
       |    i -> array_to_string(toks[i:i+${k - 1}], ' '))) AS grams
       |  FROM d WHERE len(toks) >= $k
       |), gx AS (
       |  SELECT doc_id, ('0x' || substr(md5(gram), 1, 13))::BIGINT % $P AS x
       |  FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
       |), sig AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM gx GROUP BY doc_id
       |), bands AS (
       |  $bandRows
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.bidx = b.bidx AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |), sets AS (
       |  SELECT doc_id, list_sort(list_distinct(list_transform(grams,
       |    x -> ('0x' || substr(md5(x), 1, 13))::BIGINT))) AS s
       |  FROM g
       |), pairs AS (
       |  SELECT id_a, id_b,
       |    len(list_intersect(sa.s, sb.s))::DOUBLE
       |      / len(list_distinct(list_concat(sa.s, sb.s))) AS jaccard
       |  FROM cand JOIN sets sa ON sa.doc_id = id_a
       |            JOIN sets sb ON sb.doc_id = id_b
       |  WHERE jaccard >= $threshold
       |)""".stripMargin
  }

  /** Render [[graft.query.FilterSpec.GeoShape]]'s even-odd crossing sum as
    * SQL over `lat`/`lon` columns — the oracle restates the SAME unrolled
    * arithmetic, edge for edge, so the compare is bit-exact (pure
    * +,−,×,÷; the q_geo_shape_polygon discipline, generated instead of
    * hand-unrolled now that shapes have multiple rings).
    */
  private[registry] def geoCrossingsSql(rings: Seq[Seq[(Double, Double)]]): String =
    rings.flatMap { ring =>
      val n = ring.size
      (0 until n).map { i =>
        val (yi, xi) = ring(i)
        val (yj, xj) = ring((i + 1) % n)
        s"(CASE WHEN (($yi > lat) <> ($yj > lat)) " +
          s"AND lon < ($xj - $xi) * (lat - $yi) / ($yj - $yi) + $xi " +
          "THEN 1 ELSE 0 END)"
      }
    }.mkString("(", "\n   + ", ")")
}
