package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ES|QL — Elasticsearch's piped query language — compiled to DataFrame
  * plans.
  *
  * The reference stack queries its harmonized corpus through the ES query
  * DSL and Kibana saved objects (`services/webapp/src/js/services/es.js:21`,
  * the dashboard's aggregation bodies); ES|QL is the successor surface for
  * exactly those interactive queries (`FROM idx | WHERE … | STATS … BY …`),
  * GA in Elasticsearch since 8.11. This module gives the engine that
  * front-end natively: a recursive-descent parser (the
  * [[QueryString]] precedent) producing a command AST, and a compiler that
  * folds each command over a `DataFrame` — every expression becomes a
  * Catalyst `Column`, so the piped program is ONE declarative logical plan
  * and the optimizer does what it always does:
  *
  *  - `WHERE` right after `FROM` reaches the parquet scan as
  *    `PushedFilters` (predicate pushdown);
  *  - `KEEP` prunes `ReadSchema` (column pruning);
  *  - `SORT` + `LIMIT` fuse to `TakeOrderedAndProject` (top-K, no global
  *    sort);
  *  - `STATS … BY …` is a partial+final codegen'd hash aggregate;
  *  - `ENRICH` and `LOOKUP JOIN` are BROADCAST left joins (ES runs both
  *    against replicated single-shard indices — the broadcast is the same
  *    decision, stated in the plan);
  *  - `INLINESTATS` is a window aggregate over the BY keys — one exchange,
  *    rows preserved.
  *
  * At 100 TB nothing here collects to the driver: the parser runs
  * driver-side on the QUERY text only, and every command compiles to the
  * distributed plan you would have written by hand with the DataFrame API.
  *
  * == Pinned semantics (ES|QL behaviors reproduced deliberately) ==
  *
  *  - `==`/`!=` are the equality operators; `=` only binds names.
  *  - Unnamed `EVAL`/`STATS` columns are named by their source text,
  *    ES|QL's own rule (`EVAL l_quantity*2` yields column `l_quantity*2`).
  *  - `SORT` treats null as LARGER than any value (ES|QL's rule): ascending
  *    puts nulls last, descending puts them first; `NULLS FIRST`/`LAST`
  *    override per key.
  *  - `LIKE` uses `*`/`?` wildcards (not SQL `%`); `RLIKE` is a full-match
  *    regex, both anchored as in ES|QL.
  *  - `SUBSTRING` is 1-based; a negative start counts from the end; start 0
  *    behaves as 1; omitted length runs to the end.
  *  - `STATS` output lists aggregate columns first, then the `BY` keys
  *    (ES|QL's column order); `STATS BY k` with no aggregates is the
  *    distinct-keys form.
  *  - `MV_EXPAND` keeps rows whose multivalue is null/empty as a single
  *    null row (`explode_outer`).
  *  - `DISSECT` keys on non-matching rows are null (ES|QL emits null, so
  *    the compiled column guards the extract behind the match test instead
  *    of surfacing Spark's empty-string no-match convention).
  *
  * == Stated deltas ==
  *
  *  - `/` is ALWAYS double division and a zero divisor yields NULL
  *    (ES|QL's divide-by-zero behavior; compiled as `try_divide` over
  *    double casts — Spark's own ANSI `/` would make int/int a DECIMAL
  *    division and THROW on zero). ES|QL's integer `/` on two longs
  *    truncates; callers wanting the truncating form write
  *    `FLOOR(a / b)`. Static expression typing (which ES|QL resolves
  *    against its mapping) is exactly what a pre-analysis compiler cannot
  *    know, so the delta is documented rather than half-guessed. `%`
  *    keeps Spark's conventions (ANSI: zero modulus throws).
  *  - `NOW()` and every other wall-clock source REJECTS loudly — this
  *    repo's determinism discipline (a query that reads the clock can never
  *    hash-match its oracle).
  *  - `VALUES(x)` returns the distinct values SORTED (ES|QL documents the
  *    order as undefined; the deterministic twin is this repo's standing
  *    rule for order-free sets).
  *  - `FROM a,b` unions by NAME with missing columns null-filled (ES|QL's
  *    multi-index union semantics over sparse mappings).
  *
  * Reference: `services/webapp/src/js/services/es.js:21-64` (the DSL
  * queries this language supersedes), ES|QL public reference
  * (commands/functions/operators).
  */
object Esql {

  /** An ENRICH policy: the lookup table, its match field, and the fields it
    * contributes (ES's enrich policy definition, minus the system-index
    * plumbing — the table IS the materialized enrich index).
    *
    * `policyType` mirrors ES's policy types: `match` (equality on
    * `matchField`) or `range` (the input value falls INSIDE a range row).
    * ES's range policy matches against a range-TYPED field whose per-doc
    * bounds carry their own gt/gte/lt/lte; relationally the range is two
    * columns, and this engine fixes the contract to INCLUSIVE
    * `[rangeLowField, rangeHighField]` (state half-open ranges by
    * adjusting the stored bounds — a stated delta). Ranges must not
    * overlap: ES answers an overlap with a multivalued enrich field,
    * which would change the output schema data-dependently — the compile
    * plants an in-plan guard that RAISES on the first overlapping pair
    * instead.
    */
  final case class EnrichPolicy(
      table: DataFrame, matchField: String, fields: Seq[String],
      policyType: String = "match",
      rangeLowField: String = "", rangeHighField: String = "") {
    require(policyType == "match" || policyType == "range",
      s"enrich policy: unknown type '$policyType' (match, range; geo_match " +
        "needs the geo_shape tier's shapes at rest — not wired)")
    require(policyType == "match" || (rangeLowField.nonEmpty && rangeHighField.nonEmpty),
      "enrich policy: a range policy names rangeLowField and rangeHighField")
  }

  // =====================================================================
  // scanner
  // =====================================================================

  private sealed trait Kind
  private case object IdentK extends Kind
  private case object NumK extends Kind
  private case object StrK extends Kind
  private case object PunctK extends Kind
  private case object ParamK extends Kind

  /** One token with its source span — spans are what let unnamed columns
    * take their ES|QL source-text names verbatim.
    */
  private final case class Tok(kind: Kind, text: String, start: Int, end: Int) {
    def isKw(kw: String): Boolean = kind == IdentK && text.equalsIgnoreCase(kw)
  }

  private val Puncts2 = Seq("==", "!=", "<=", ">=", "::")

  private def tokenize(q: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < q.length) {
      val c = q(i)
      if (c.isWhitespace) i += 1
      else if (c == '"') {
        val sb = new StringBuilder
        val start = i
        i += 1
        var closed = false
        while (i < q.length && !closed) {
          q(i) match {
            case '\\' =>
              require(i + 1 < q.length, s"esql: dangling escape in string at $i")
              q(i + 1) match {
                case 'n' => sb += '\n'
                case 't' => sb += '\t'
                case 'r' => sb += '\r'
                case other => sb += other // \" \\ and any literal
              }
              i += 2
            case '"' => closed = true; i += 1
            case other => sb += other; i += 1
          }
        }
        require(closed, s"esql: unterminated string starting at $start")
        out += Tok(StrK, sb.result(), start, i)
      } else if (c == '`') {
        val start = i
        val close = q.indexOf('`', i + 1)
        require(close > 0, s"esql: unterminated backquoted name at $start")
        out += Tok(IdentK, q.substring(i + 1, close), start, close + 1)
        i = close + 1
      } else if (c.isDigit || (c == '.' && i + 1 < q.length && q(i + 1).isDigit)) {
        val start = i
        while (i < q.length && (q(i).isDigit || q(i) == '.')) i += 1
        // exponent form
        if (i < q.length && (q(i) == 'e' || q(i) == 'E')) {
          var j = i + 1
          if (j < q.length && (q(j) == '+' || q(j) == '-')) j += 1
          if (j < q.length && q(j).isDigit) {
            i = j
            while (i < q.length && q(i).isDigit) i += 1
          }
        }
        out += Tok(NumK, q.substring(start, i), start, i)
      } else if (c.isLetter || c == '_' || c == '@') {
        val start = i
        while (i < q.length && (q(i).isLetterOrDigit || q(i) == '_' || q(i) == '@' || q(i) == '.')) i += 1
        out += Tok(IdentK, q.substring(start, i), start, i)
      } else if (c == '?') {
        // named query parameters (ES's POST /_query `params`): `?name`
        // binds a typed VALUE at compile; `??name` (8.15+) is ES's
        // FIELD-name parameter — resolved RIGHT HERE in the scanner to a
        // plain identifier token, so the parsed program is
        // indistinguishable from one with the identifier inline (typing,
        // pushdown, KEEP/DROP matching all just work). A bare `?`
        // (positional) names the fix.
        val start = i
        val isIdent = i + 1 < q.length && q(i + 1) == '?'
        i += (if (isIdent) 2 else 1)
        val sb = new StringBuilder
        while (i < q.length && (q(i).isLetterOrDigit || q(i) == '_')) { sb += q(i); i += 1 }
        require(sb.nonEmpty,
          s"esql: positional '?' parameters are not supported — use named ?name at $start")
        if (isIdent) {
          val name = sb.result()
          val ps = paramsOpt.value
          val v = ps.getOrElse(name, throw new IllegalArgumentException(
            s"esql: unbound ??$name — the request carries " +
              (if (ps.isEmpty) "no params" else s"params ${ps.keys.toSeq.sorted.mkString(", ")}")))
          val ident = v match {
            case s: String => s
            case other => throw new IllegalArgumentException(
              s"esql: ??$name must bind a field-name string, got ${other.getClass.getSimpleName}")
          }
          require(ident.matches("[A-Za-z_@][A-Za-z0-9_.@]*"),
            s"esql: ??$name binds '$ident', which is not a field name")
          out += Tok(IdentK, ident, start, i)
        } else out += Tok(ParamK, sb.result(), start, i)
      } else {
        val two = if (i + 1 < q.length) q.substring(i, i + 2) else ""
        if (Puncts2.contains(two)) { out += Tok(PunctK, two, i, i + 2); i += 2 }
        else {
          require("|,()=<>+-*/%[]{}:".indexOf(c) >= 0, s"esql: unexpected character '$c' at $i")
          out += Tok(PunctK, c.toString, i, i + 1); i += 1
        }
      }
    }
    out.result()
  }

  // =====================================================================
  // AST
  // =====================================================================

  private[query] sealed trait Expr
  private[query] final case class NumLit(text: String) extends Expr
  private[query] final case class StrLit(v: String) extends Expr
  private[query] final case class BoolLit(v: Boolean) extends Expr
  private[query] case object NullLit extends Expr
  private[query] final case class ColRef(name: String) extends Expr
  private[query] final case class Bin(op: String, l: Expr, r: Expr) extends Expr
  private[query] final case class Neg(e: Expr) extends Expr
  private[query] final case class NotE(e: Expr) extends Expr
  private[query] final case class Fn(name: String, args: Seq[Expr]) extends Expr
  private[query] final case class InList(e: Expr, items: Seq[Expr], negated: Boolean) extends Expr
  /** `LIKE "p"` or the 8.16 list form `LIKE ("p1", "p2", …)` — ANY
    * pattern matching suffices; NOT negates the disjunction.
    */
  private[query] final case class LikeE(e: Expr, patterns: Seq[String], regex: Boolean, negated: Boolean) extends Expr
  private[query] final case class IsNullE(e: Expr, negated: Boolean) extends Expr
  /** `?name` — resolved from the request's params map at compile. */
  private[query] final case class ParamE(name: String) extends Expr
  /** `1 day` inside DATE_TRUNC/BUCKET. */
  private[query] final case class SpanLit(n: Long, unit: String) extends Expr
  /** `agg(...) WHERE cond` inside STATS (the 8.13 per-aggregate filter). */
  private[query] final case class AggWhere(agg: Expr, cond: Expr) extends Expr
  /** `*` inside COUNT. */
  private[query] case object Star extends Expr
  /** `[v1, v2, …]` — ES|QL's multivalue literal. */
  private[query] final case class ArrLit(items: Seq[Expr]) extends Expr
  /** `{"k": 10, …}` — the 9.x named-options map; only legal as the last
    * argument of a function that takes options (KNN).
    */
  private[query] final case class MapLit(entries: Seq[(String, Expr)]) extends Expr

  private[query] sealed trait Cmd
  private[query] final case class From(tables: Seq[String], metadata: Seq[String] = Nil) extends Cmd
  private[query] final case class TsFrom(tables: Seq[String]) extends Cmd
  private[query] final case class RowCmd(cols: Seq[(String, Expr)]) extends Cmd
  private[query] final case class Where(e: Expr) extends Cmd
  private[query] final case class Eval(cols: Seq[(String, Expr)]) extends Cmd
  private[query] final case class Stats(aggs: Seq[(String, Expr)], by: Seq[(String, Option[Expr])]) extends Cmd
  private[query] final case class SortCmd(keys: Seq[(Expr, Boolean, Option[Boolean])]) extends Cmd
  private[query] final case class LimitCmd(n: Int) extends Cmd
  private[query] final case class Keep(patterns: Seq[String]) extends Cmd
  private[query] final case class DropCmd(patterns: Seq[String]) extends Cmd
  private[query] final case class Rename(pairs: Seq[(String, String)]) extends Cmd
  private[query] final case class MvExpand(col: String) extends Cmd
  private[query] final case class Dissect(input: String, pattern: String,
      appendSep: String = "") extends Cmd
  private[query] final case class Rerank(target: Option[String], queryText: String,
      field: String, opts: Seq[(String, Expr)]) extends Cmd
  private[query] final case class Grok(input: String, pattern: String) extends Cmd
  private[query] final case class Enrich(policy: String, on: String, withCols: Seq[(String, String)]) extends Cmd
  private[query] final case class LookupJoin(index: String, on: Seq[String]) extends Cmd
  private[query] final case class InlineStats(aggs: Seq[(String, Expr)], by: Seq[(String, Option[Expr])]) extends Cmd
  private[query] final case class Fork(branches: Seq[Seq[Cmd]]) extends Cmd
  private[query] final case class Fuse(method: String, idCol: String, scoreCol: String,
      rankK: Int, norm: String = "none", weights: Seq[Double] = Nil) extends Cmd
  private[query] final case class Sample(probability: Double, on: String, seed: Int) extends Cmd
  private[query] final case class ChangePointCmd(valueCol: String, keyCol: String) extends Cmd

  // =====================================================================
  // parser
  // =====================================================================

  private final class Parser(q: String) {
    private val toks = tokenize(q)
    private var pos = 0

    private def exhausted: Boolean = pos >= toks.length
    private def peek: Option[Tok] = if (exhausted) None else Some(toks(pos))
    private def peekIs(text: String): Boolean =
      peek.exists(t => (t.kind == PunctK && t.text == text) || t.isKw(text))
    private def advance(): Tok = {
      require(!exhausted, s"esql: query ends where a token is expected in <$q>")
      val t = toks(pos); pos += 1; t
    }
    private def expect(text: String): Tok = {
      val t = advance()
      require((t.kind == PunctK && t.text == text) || t.isKw(text),
        s"esql: expected '$text' but found '${t.text}' at ${t.start}")
      t
    }
    private def atPipeOrEnd: Boolean = exhausted || peekIs("|")

    def program(): Seq[Cmd] = {
      val cmds = Seq.newBuilder[Cmd]
      cmds += sourceCommand()
      while (!exhausted) {
        expect("|")
        cmds += processingCommand()
      }
      cmds.result()
    }

    private def sourceCommand(): Cmd = {
      val t = advance()
      if (t.isKw("FROM") || t.isKw("TS")) {
        val tables = Seq.newBuilder[String]
        tables += identName()
        while (peekIs(",")) { advance(); tables += identName() }
        // METADATA (ES|QL's metadata fields): `_index` is REAL here — the
        // FROM name that contributed each row (meaningful under the
        // multi-table union) — and `_score` is the relevance column the
        // scoring functions (KNN) fill. `_id`/`_version` name storage
        // internals this engine deliberately does not invent — loud seam.
        val meta = Seq.newBuilder[String]
        if (peekIs("METADATA")) {
          advance()
          var more = true
          while (more) {
            val f = identName()
            f match {
              case "_index" | "_score" => meta += f
              case "_id" | "_version" | "_ignored" | "_source" =>
                throw new IllegalArgumentException(
                  s"esql: METADATA $f is not supported — there is no hidden document " +
                    "store here; key on a real column (METADATA _index and _score work)")
              case other => throw new IllegalArgumentException(
                s"esql: unknown METADATA field '$other' (_index, _score)")
            }
            if (peekIs(",")) advance() else more = false
          }
        }
        // TS (the 8.18+ TSDB source command): same resolution as FROM,
        // but the frame carries time-series semantics — RATE/INCREASE
        // become legal in STATS.
        if (t.isKw("TS")) {
          require(meta.result().isEmpty,
            "esql: METADATA on a TS source is not supported — the TSDB surface " +
              "aggregates series, it does not score or attribute documents")
          TsFrom(tables.result())
        } else From(tables.result(), meta.result())
      } else if (t.isKw("ROW")) RowCmd(namedExprList())
      else if (t.isKw("SHOW")) {
        // SHOW INFO — the client-handshake source command. The values are
        // BUILD constants (the compat target and a pinned stamp), not the
        // wall clock: determinism holds, the row hash-matches an oracle.
        val what = advance()
        require(what.isKw("INFO"), s"esql: SHOW takes INFO, found '${what.text}'")
        RowCmd(Seq(
          ("version", StrLit("8.18.0-graft")),
          ("date", StrLit("2026-01-01T00:00:00.000Z")),
          ("hash", StrLit("graft"))))
      }
      else throw new IllegalArgumentException(
        s"esql: a query starts with FROM, TS, ROW, or SHOW, found '${t.text}'")
    }

    private def identName(): String = {
      val t = advance()
      require(t.kind == IdentK, s"esql: expected a name, found '${t.text}' at ${t.start}")
      t.text
    }

    private def processingCommand(): Cmd = {
      val t = advance()
      if (t.isKw("WHERE")) Where(expr())
      else if (t.isKw("EVAL")) Eval(namedExprList())
      else if (t.isKw("STATS")) statsCmd()
      else if (t.isKw("SORT")) sortCmd()
      else if (t.isKw("LIMIT")) {
        val n = advance()
        require(n.kind == NumK && !n.text.contains('.'), s"esql: LIMIT takes an integer, found '${n.text}'")
        LimitCmd(n.text.toInt)
      }
      else if (t.isKw("KEEP")) Keep(patternList())
      else if (t.isKw("DROP")) DropCmd(patternList())
      else if (t.isKw("RENAME")) renameCmd()
      else if (t.isKw("MV_EXPAND")) MvExpand(identName())
      else if (t.isKw("DISSECT")) {
        val in = identName()
        val p = advance()
        require(p.kind == StrK, "esql: DISSECT takes a quoted pattern")
        // ES|QL's one DISSECT option: APPEND_SEPARATOR="sep" joins the
        // pieces of %{+key} appends (default: empty string)
        if (peekIs("APPEND_SEPARATOR")) {
          advance(); expect("=")
          val sep = advance()
          require(sep.kind == StrK, "esql: APPEND_SEPARATOR takes a quoted string")
          Dissect(in, p.text, sep.text)
        } else Dissect(in, p.text)
      }
      else if (t.isKw("GROK")) {
        val in = identName()
        val p = advance()
        require(p.kind == StrK, "esql: GROK takes a quoted pattern")
        Grok(in, p.text)
      }
      else if (t.isKw("ENRICH")) enrichCmd()
      else if (t.isKw("LOOKUP")) {
        expect("JOIN")
        val idx = identName()
        expect("ON")
        val keys = Seq.newBuilder[String]
        keys += identName()
        while (peekIs(",")) { advance(); keys += identName() }
        LookupJoin(idx, keys.result())
      }
      else if (t.isKw("FORK")) {
        val branches = Seq.newBuilder[Seq[Cmd]]
        var more = true
        while (more) {
          if (peekIs("(")) {
            advance()
            val cmds = Seq.newBuilder[Cmd]
            cmds += processingCommand()
            while (peekIs("|")) { advance(); cmds += processingCommand() }
            expect(")")
            branches += cmds.result()
          } else more = false
        }
        val bs = branches.result()
        require(bs.size >= 2, s"esql: FORK needs at least 2 ( … ) branches, got ${bs.size}")
        Fork(bs)
      }
      else if (t.isKw("FUSE")) {
        // ES 9.x syntax is bare `FUSE [rrf|linear]` over _id/_score
        // METADATA with a WITH-options map; frames here carry explicit
        // columns, so the id and score are NAMED, and the linear method's
        // options take keyword form — `NORM minmax|none` (ES's
        // `normalizer`, default none) and `WEIGHTS w1, w2, …` (per-branch,
        // default 1.0 each) — the engine's documented metadata delta.
        val method =
          if (peekIs("RRF")) { advance(); "rrf" }
          else if (peekIs("LINEAR")) { advance(); "linear" }
          else {
            require(!peek.exists(_.kind == IdentK) || peekIs("ON"),
              s"esql: FUSE supports rrf|linear, found '${peek.map(_.text).getOrElse("")}'")
            "rrf"
          }
        expect("ON")
        val id = identName()
        expect("SCORE")
        val score = identName()
        var norm = "none"
        var weights = Seq.empty[Double]
        var more = true
        while (more) {
          if (peekIs("NORM")) {
            advance()
            val n = advance().text.toLowerCase
            require(Seq("minmax", "none").contains(n),
              s"esql: FUSE NORM must be minmax|none, got '$n'")
            norm = n
          } else if (peekIs("WEIGHTS")) {
            advance()
            val ws = Seq.newBuilder[Double]
            var moreW = true
            while (moreW) {
              val w = advance()
              require(w.kind == NumK, s"esql: FUSE WEIGHTS takes numbers, found '${w.text}'")
              ws += w.text.toDouble
              if (peekIs(",")) advance() else moreW = false
            }
            weights = ws.result()
            require(weights.nonEmpty, "esql: FUSE WEIGHTS needs at least one weight")
          } else more = false
        }
        require(method == "linear" || (norm == "none" && weights.isEmpty),
          "esql: NORM/WEIGHTS are FUSE linear options; rrf fuses ranks, not scores")
        Fuse(method, id, score, rankK = 60, norm = norm, weights = weights)
      }
      else if (t.isKw("SAMPLE")) {
        // ES|QL SAMPLE draws per-row randoms; this engine's determinism
        // discipline replaces the RNG with a seeded key hash, so the
        // sample is reproducible across runs, partitions, and engines —
        // hence the mandatory ON key (the documented delta).
        val p = advance()
        require(p.kind == NumK, s"esql: SAMPLE takes a probability, found '${p.text}'")
        val prob = p.text.toDouble
        require(prob > 0 && prob < 1, s"esql: SAMPLE probability must be in (0,1), got $prob")
        expect("ON")
        val key = identName()
        val seed =
          if (peekIs("SEED")) {
            advance()
            val n = advance()
            require(n.kind == NumK && !n.text.contains('.'), "esql: SEED takes an integer")
            n.text.toInt
          } else 42
        Sample(prob, key, seed)
      }
      else if (t.isKw("CHANGE_POINT")) {
        val v = identName()
        expect("ON")
        val k = identName()
        ChangePointCmd(v, k)
      }
      else if (t.isKw("RERANK")) {
        // RERANK [name =] "query" ON field WITH {"inference_id": …} —
        // ES|QL's reranking command (9.x), with the engine's REGISTERED
        // DETERMINISTIC scorers standing in for inference endpoints
        // (compile rejects real model ids loudly — the standing seam).
        val target = peek match {
          case Some(p) if p.kind == IdentK => val n = identName(); expect("="); Some(n)
          case _ => None
        }
        val q = advance()
        require(q.kind == StrK, "esql: RERANK takes a quoted query text")
        expect("ON")
        val field = identName()
        expect("WITH")
        val opts = expr() match {
          case MapLit(entries) => entries
          case _ => throw new IllegalArgumentException(
            "esql: RERANK WITH takes a {\"inference_id\": …} options map")
        }
        Rerank(target, q.text, field, opts)
      }
      else if (t.isKw("COMPLETION")) {
        // text GENERATION needs a deployed model endpoint — the
        // engine's standing environment seam: loud, not stubbed
        throw new IllegalArgumentException(
          "esql: COMPLETION calls a generation endpoint; this engine has " +
            "no model deployment — the seam stays loud")
      }
      else if (t.isKw("INLINESTATS")) statsCmd() match {
        case Stats(aggs, by) =>
          require(aggs.nonEmpty, "esql: INLINESTATS needs at least one aggregate")
          InlineStats(aggs, by)
        case other => throw new IllegalStateException(s"esql: $other")
      }
      else throw new IllegalArgumentException(s"esql: unknown command '${t.text}' at ${t.start}")
    }

    /** `name = expr` or a bare expr named by its source text. */
    private def namedExprList(): Seq[(String, Expr)] = {
      val out = Seq.newBuilder[(String, Expr)]
      var more = true
      while (more) {
        out += namedExpr()
        if (peekIs(",")) advance() else more = false
      }
      out.result()
    }

    /** In STATS position: an optional trailing `WHERE cond` binds to the
      * aggregate expression (ES|QL's per-aggregate filter, 8.13).
      */
    private def statsEntryTail(e: Expr): Expr =
      if (peekIs("WHERE")) { advance(); AggWhere(e, expr()) } else e

    private var inStatsEntries = false

    private def namedExpr(): (String, Expr) = {
      // lookahead: IDENT '=' not followed by '=' (== is equality)
      if (!exhausted && toks(pos).kind == IdentK && pos + 1 < toks.length &&
        toks(pos + 1).kind == PunctK && toks(pos + 1).text == "=") {
        val name = advance().text
        advance() // =
        val e = expr()
        (name, if (inStatsEntries) statsEntryTail(e) else e)
      } else {
        val start = if (exhausted) q.length else toks(pos).start
        val e0 = expr()
        val e = if (inStatsEntries) statsEntryTail(e0) else e0
        val end = if (pos == 0) q.length else toks(pos - 1).end
        (q.substring(start, end).trim, e)
      }
    }

    private def statsCmd(): Cmd = {
      val aggs =
        if (peekIs("BY") || atPipeOrEnd) Seq.empty[(String, Expr)]
        else {
          inStatsEntries = true
          try namedExprList() finally inStatsEntries = false
        }
      val by =
        if (peekIs("BY")) {
          advance()
          val keys = Seq.newBuilder[(String, Option[Expr])]
          var more = true
          while (more) {
            // `name = expr` | bare column | bare expr (named by source)
            if (!exhausted && toks(pos).kind == IdentK && pos + 1 < toks.length &&
              toks(pos + 1).kind == PunctK && toks(pos + 1).text == "=") {
              val name = advance().text
              advance()
              keys += ((name, Some(expr())))
            } else {
              val start = toks(pos).start
              val e = expr()
              val end = toks(pos - 1).end
              e match {
                case ColRef(n) => keys += ((n, None))
                case other => keys += ((q.substring(start, end).trim, Some(other)))
              }
            }
            if (peekIs(",")) advance() else more = false
          }
          keys.result()
        } else Seq.empty
      require(aggs.nonEmpty || by.nonEmpty, "esql: STATS needs aggregates and/or BY keys")
      Stats(aggs, by)
    }

    private def sortCmd(): Cmd = {
      val keys = Seq.newBuilder[(Expr, Boolean, Option[Boolean])]
      var more = true
      while (more) {
        val e = expr()
        val asc =
          if (peekIs("ASC")) { advance(); true }
          else if (peekIs("DESC")) { advance(); false }
          else true
        val nullsFirst =
          if (peekIs("NULLS")) {
            advance()
            val d = advance()
            if (d.isKw("FIRST")) Some(true)
            else if (d.isKw("LAST")) Some(false)
            else throw new IllegalArgumentException(s"esql: NULLS takes FIRST or LAST, found '${d.text}'")
          } else None
        keys += ((e, asc, nullsFirst))
        if (peekIs(",")) advance() else more = false
      }
      SortCmd(keys.result())
    }

    private def patternList(): Seq[String] = {
      val out = Seq.newBuilder[String]
      var more = true
      while (more) {
        // a pattern is IDENT and '*' fragments glued without whitespace
        val sb = new StringBuilder
        var first = true
        var last: Option[Tok] = None
        var cont = true
        while (cont) {
          peek match {
            case Some(t) if (t.kind == IdentK || (t.kind == PunctK && t.text == "*")) &&
              (first || last.exists(_.end == t.start)) =>
              sb ++= t.text; last = Some(t); advance(); first = false
            case _ => cont = false
          }
        }
        require(sb.nonEmpty, "esql: expected a column name or pattern")
        out += sb.result()
        if (peekIs(",")) advance() else more = false
      }
      out.result()
    }

    private def renameCmd(): Cmd = {
      val out = Seq.newBuilder[(String, String)]
      var more = true
      while (more) {
        val from = identName()
        expect("AS")
        val to = identName()
        out += ((from, to))
        if (peekIs(",")) advance() else more = false
      }
      Rename(out.result())
    }

    private def enrichCmd(): Cmd = {
      val policy = identName()
      expect("ON")
      val on = identName()
      val withCols =
        if (peekIs("WITH")) {
          advance()
          val out = Seq.newBuilder[(String, String)]
          var more = true
          while (more) {
            // `new = old` | bare field
            if (!exhausted && toks(pos).kind == IdentK && pos + 1 < toks.length &&
              toks(pos + 1).kind == PunctK && toks(pos + 1).text == "=") {
              val nw = advance().text; advance(); val old = identName()
              out += ((nw, old))
            } else { val f = identName(); out += ((f, f)) }
            if (peekIs(",")) advance() else more = false
          }
          out.result()
        } else Seq.empty
      Enrich(policy, on, withCols)
    }

    // ----- expressions: precedence climbing -----

    /** Parse one expression and require the input consumed — the
      * standalone-expression entry ([[Esql.parseExpr]]).
      */
    def standaloneExpr(): Expr = {
      val e = expr()
      require(exhausted,
        s"esql: trailing input after expression: '${if (exhausted) "" else toks(pos).text}'")
      e
    }

    private[query] def expr(): Expr = orExpr()

    private def orExpr(): Expr = {
      var l = andExpr()
      while (peekIs("OR")) { advance(); l = Bin("or", l, andExpr()) }
      l
    }

    private def andExpr(): Expr = {
      var l = notExpr()
      while (peekIs("AND")) { advance(); l = Bin("and", l, notExpr()) }
      l
    }

    private def notExpr(): Expr =
      if (peekIs("NOT") && !(pos + 1 < toks.length && toks(pos + 1).isKw("IN"))) {
        advance(); NotE(notExpr())
      } else cmpExpr()

    private def cmpExpr(): Expr = {
      val l = addExpr()
      peek match {
        case Some(t) if t.kind == PunctK && Seq("==", "!=", "<", "<=", ">", ">=").contains(t.text) =>
          advance(); Bin(t.text, l, addExpr())
        case Some(t) if t.isKw("IN") =>
          advance(); InList(l, inItems(), negated = false)
        case Some(t) if t.isKw("NOT") =>
          advance()
          val nxt = advance()
          if (nxt.isKw("IN")) InList(l, inItems(), negated = true)
          else if (nxt.isKw("LIKE")) likeTail(l, regex = false, negated = true)
          else if (nxt.isKw("RLIKE")) likeTail(l, regex = true, negated = true)
          else throw new IllegalArgumentException(s"esql: NOT must precede IN/LIKE/RLIKE, found '${nxt.text}'")
        case Some(t) if t.isKw("LIKE") => advance(); likeTail(l, regex = false, negated = false)
        case Some(t) if t.isKw("RLIKE") => advance(); likeTail(l, regex = true, negated = false)
        case Some(t) if t.isKw("IS") =>
          advance()
          if (peekIs("NOT")) { advance(); expect("NULL"); IsNullE(l, negated = true) }
          else { expect("NULL"); IsNullE(l, negated = false) }
        case _ => l
      }
    }

    private def likeTail(l: Expr, regex: Boolean, negated: Boolean): Expr = {
      val kw = if (regex) "RLIKE" else "LIKE"
      if (peekIs("(")) {
        // the list form: LIKE ("a*", "b*") — any pattern may match
        advance()
        val pats = Seq.newBuilder[String]
        def one(): Unit = {
          val p = advance()
          require(p.kind == StrK, s"esql: $kw takes quoted patterns")
          pats += p.text
        }
        one()
        while (peekIs(",")) { advance(); one() }
        expect(")")
        LikeE(l, pats.result(), regex, negated)
      } else {
        val p = advance()
        require(p.kind == StrK, s"esql: $kw takes a quoted pattern")
        LikeE(l, Seq(p.text), regex, negated)
      }
    }

    private def inItems(): Seq[Expr] = {
      expect("(")
      val items = Seq.newBuilder[Expr]
      items += expr()
      while (peekIs(",")) { advance(); items += expr() }
      expect(")")
      items.result()
    }

    private def addExpr(): Expr = {
      var l = mulExpr()
      var cont = true
      while (cont) {
        if (peekIs("+")) { advance(); l = Bin("+", l, mulExpr()) }
        else if (peekIs("-")) { advance(); l = Bin("-", l, mulExpr()) }
        else cont = false
      }
      l
    }

    private def mulExpr(): Expr = {
      var l = unary()
      var cont = true
      while (cont) {
        if (peekIs("*")) { advance(); l = Bin("*", l, unary()) }
        else if (peekIs("/")) { advance(); l = Bin("/", l, unary()) }
        else if (peekIs("%")) { advance(); l = Bin("%", l, unary()) }
        else cont = false
      }
      l
    }

    private def unary(): Expr =
      if (peekIs("-")) { advance(); Neg(unary()) }
      else postfixCast(primary())

    /** ES|QL's inline-cast shorthand `expr::type` — sugar for the TO_*
      * conversion function of the same type, so `n::long` and
      * `TO_LONG(n)` compile identically. Binds tighter than unary minus
      * (ES's grammar): `-x::long` negates the cast result.
      */
    private def postfixCast(e0: Expr): Expr = {
      var e = e0
      while (peekIs("::")) {
        advance()
        val t = advance()
        require(t.kind == IdentK, s"esql: '::' must be followed by a type name, found '${t.text}'")
        val fn = t.text.toUpperCase match {
          case "INTEGER" | "INT" => "TO_INTEGER"
          case "LONG" => "TO_LONG"
          case "DOUBLE" => "TO_DOUBLE"
          case "STRING" | "KEYWORD" | "TEXT" => "TO_STRING"
          case "BOOLEAN" | "BOOL" => "TO_BOOLEAN"
          case "DATETIME" | "DATE" => "TO_DATETIME"
          case other => throw new IllegalArgumentException(
            s"esql: unsupported inline-cast type '$other' " +
              "(integer/long/double/string/boolean/datetime)")
        }
        e = Fn(fn, Seq(e))
      }
      e
    }

    private val SpanUnits = Set(
      "year", "years", "quarter", "quarters", "month", "months",
      "week", "weeks", "day", "days", "hour", "hours",
      "minute", "minutes", "second", "seconds")

    private def primary(): Expr = {
      val t = advance()
      t.kind match {
        case NumK =>
          // `1 day` span literal (only meaningful inside DATE_TRUNC/BUCKET;
          // compilation rejects it anywhere else)
          peek match {
            case Some(u) if u.kind == IdentK && SpanUnits.contains(u.text.toLowerCase) &&
              !t.text.contains('.') =>
              advance(); SpanLit(t.text.toLong, u.text.toLowerCase.stripSuffix("s"))
            case _ => NumLit(t.text)
          }
        case StrK => StrLit(t.text)
        case ParamK => ParamE(t.text)
        case PunctK if t.text == "(" =>
          val e = expr(); expect(")"); e
        case PunctK if t.text == "[" =>
          // ES|QL multivalue literal: `[1, 2, 3]`. Empty brackets are a
          // parse error in ES|QL too (a multivalue needs values).
          val items = Seq.newBuilder[Expr]
          items += expr()
          while (peekIs(",")) { advance(); items += expr() }
          expect("]")
          ArrLit(items.result())
        case PunctK if t.text == "{" =>
          // 9.x named-options map: string keys, literal values. Compile
          // rejects it anywhere but a function's options slot.
          val entries = Seq.newBuilder[(String, Expr)]
          def entry(): Unit = {
            val k = advance()
            require(k.kind == StrK, s"esql: option keys are strings, found '${k.text}' at ${k.start}")
            expect(":")
            entries += ((k.text, expr()))
          }
          entry()
          while (peekIs(",")) { advance(); entry() }
          expect("}")
          MapLit(entries.result())
        case PunctK if t.text == "*" => Star
        case IdentK if t.isKw("TRUE") => BoolLit(true)
        case IdentK if t.isKw("FALSE") => BoolLit(false)
        case IdentK if t.isKw("NULL") => NullLit
        case IdentK =>
          if (peekIs("(")) {
            advance()
            val args =
              if (peekIs(")")) Seq.empty[Expr]
              else {
                val b = Seq.newBuilder[Expr]
                b += expr()
                while (peekIs(",")) { advance(); b += expr() }
                b.result()
              }
            expect(")")
            Fn(t.text.toUpperCase, args)
          } else ColRef(t.text)
        case _ =>
          throw new IllegalArgumentException(s"esql: unexpected token '${t.text}' at ${t.start}")
      }
    }
  }

  /** Parse without compiling — the spec's window into the AST. */
  private[query] def parse(query: String): Seq[Cmd] = new Parser(query).program()

  /** Parse a standalone expression (the [[Scoring]] script_score seam). */
  private[query] def parseExpr(query: String): Expr =
    new Parser(query).standaloneExpr()

  /** Compile a standalone ES|QL expression to a Column — the `script_score`
    * / runtime-field seam: the "script" language IS the ES|QL expression
    * grammar, so scripted scoring stays a codegen'd Catalyst expression
    * tree instead of an interpreted black box.
    */
  def column(expression: String): Column = compileExpr(parseExpr(expression))

  // =====================================================================
  // compiler
  // =====================================================================

  private val AggNames = Set(
    "COUNT", "COUNT_DISTINCT", "SUM", "AVG", "MIN", "MAX",
    "MEDIAN", "PERCENTILE", "WEIGHTED_AVG", "VALUES", "TOP",
    "STD_DEV", "MEDIAN_ABSOLUTE_DEVIATION")

  /** ES|QL wildcard (`*`/`?`, with everything else literal) → anchored
    * Java regex.
    */
  private def wildcardRegex(pattern: String): String = {
    val sb = new StringBuilder("^")
    pattern.foreach {
      case '*' => sb ++= ".*"
      case '?' => sb += '.'
      case c => sb ++= java.util.regex.Pattern.quote(c.toString)
    }
    sb += '$'
    sb.result()
  }

  private[query] def compileExpr(e: Expr): Column = e match {
    case NumLit(text) =>
      if (text.contains('.') || text.toLowerCase.contains('e')) lit(text.toDouble)
      else {
        val v = text.toLong
        if (v >= Int.MinValue && v <= Int.MaxValue) lit(v.toInt) else lit(v)
      }
    case StrLit(v) => lit(v)
    case BoolLit(v) => lit(v)
    case NullLit => lit(null)
    case ColRef(name) => col(name)
    // date ± span arithmetic (`ts + 2 hour`, `ts - 1 week`): calendar-aware
    // intervals, ES|QL's date math. A span on the LEFT of `-` is not a
    // value (`1 day - ts` rejects through the SpanLit case below).
    case Bin("+", l, SpanLit(n, unit)) => spanAdd(compileExpr(l), n, unit)
    case Bin("+", SpanLit(n, unit), r) => spanAdd(compileExpr(r), n, unit)
    case Bin("-", l, SpanLit(n, unit)) => spanAdd(compileExpr(l), -n, unit)
    case Bin(op, l, r) => binOp(op, compileExpr(l), compileExpr(r))
    case Neg(x) => -compileExpr(x)
    case NotE(x) => !compileExpr(x)
    case InList(x, items, negated) =>
      val c = compileExpr(x).isin(items.map(compileExpr): _*)
      if (negated) !c else c
    case LikeE(x, patterns, regex, negated) =>
      val cx = compileExpr(x)
      val c = patterns
        .map(p => cx.rlike(if (regex) s"^(?:$p)$$" else wildcardRegex(p)))
        .reduce(_ || _)
      if (negated) !c else c
    case IsNullE(x, negated) =>
      if (negated) compileExpr(x).isNotNull else compileExpr(x).isNull
    case ParamE(n) =>
      val ps = paramsOpt.value
      ps.get(n) match {
        case Some(v) => v match {
          case null => lit(null)
          case s: String => lit(s)
          case b: Boolean => lit(b)
          case i: Int => lit(i)
          case l: Long => lit(l)
          case d: Double => lit(d)
          case other => throw new IllegalArgumentException(
            s"esql: parameter ?$n has unsupported type ${other.getClass.getSimpleName} " +
              "(string/boolean/int/long/double/null)")
        }
        case None => throw new IllegalArgumentException(
          s"esql: unbound parameter ?$n" +
            (if (ps.isEmpty) " — the request carried no params"
             else s" (have: ${ps.keys.toSeq.sorted.mkString(", ")})"))
      }
    case SpanLit(n, unit) =>
      throw new IllegalArgumentException(
        s"esql: a span literal ($n $unit) is only valid inside DATE_TRUNC/BUCKET")
    case AggWhere(_, _) =>
      throw new IllegalArgumentException(
        "esql: a per-aggregate WHERE is only valid on a STATS entry")
    case Star =>
      throw new IllegalArgumentException("esql: '*' is only valid inside COUNT(*)")
    case ArrLit(items) => array(items.map(compileExpr): _*)
    case MapLit(_) =>
      throw new IllegalArgumentException(
        "esql: a {…} options map is only valid as the last argument of a " +
          "function that takes options (KNN, MULTI_MATCH)")
    case Fn(name, args) => compileFn(name, args, compileExpr)
  }

  /** STATS entries are expressions OVER aggregates (ES|QL's rule since
    * 8.14: `ROUND(AVG(x), 2)` / `SUM(a) / COUNT(*)` are legal) — aggregate
    * calls compile through [[compileAgg]], everything around them stays
    * scalar. A STATS entry with NO aggregate inside still rejects loudly.
    */
  private def compileAggExpr(e: Expr, filter: Option[Column] = None): Column = e match {
    case AggWhere(inner, cond) =>
      require(filter.isEmpty, "esql: nested WHERE inside a STATS entry")
      compileAggExpr(inner, Some(compileExpr(cond)))
    case Fn(n, _) if AggNames.contains(n) => compileAgg(e, filter)
    case Bin(op, l, r) => binOp(op, compileAggExpr(l, filter), compileAggExpr(r, filter))
    case Neg(x) => -compileAggExpr(x, filter)
    case NotE(x) => !compileAggExpr(x, filter)
    case Fn(name, args) => compileFn(name, args, compileAggExpr(_, filter))
    case other => compileExpr(other)
  }

  private def containsAgg(e: Expr): Boolean = e match {
    case AggWhere(inner, _) => containsAgg(inner)
    case Fn(n, _) if AggNames.contains(n) => true
    case Fn(_, args) => args.exists(containsAgg)
    case Bin(_, l, r) => containsAgg(l) || containsAgg(r)
    case Neg(x) => containsAgg(x)
    case NotE(x) => containsAgg(x)
    case ArrLit(items) => items.exists(containsAgg)
    case _ => false
  }

  private def binOp(op: String, a: Column, b: Column): Column = op match {
    case "or" => a || b
    case "and" => a && b
    case "==" => a === b
    case "!=" => a =!= b
    case "<" => a < b
    case "<=" => a <= b
    case ">" => a > b
    case ">=" => a >= b
    case "+" => a + b
    case "-" => a - b
    case "*" => a * b
    // `/` is ALWAYS double division with NULL on a zero divisor —
    // ES|QL's own divide-by-zero behavior. Both halves need enforcing:
    // Spark's `/` under ANSI coerces two INTEGRAL operands to DECIMAL
    // division (decimal result types leaking through the plan), and ANSI
    // division THROWS on zero for every numeric type where ES|QL returns
    // null. try_divide over explicit double casts pins both. Caught by
    // EsqlSemanticsSpec's random-expression certification.
    case "/" => try_divide(a.cast("double"), b.cast("double"))
    case "%" => a % b
  }

  private def one(name: String, args: Seq[Expr], rec: Expr => Column): Column = {
    require(args.length == 1, s"esql: $name takes 1 argument, got ${args.length}")
    rec(args.head)
  }

  private def compileFn(name: String, args: Seq[Expr], rec: Expr => Column): Column = name match {
    case n if AggNames.contains(n) =>
      throw new IllegalArgumentException(
        s"esql: aggregate $n is only valid at the top level of STATS")
    case "ABS" => abs(one(name, args, rec))
    case "CEIL" => ceil(one(name, args, rec))
    case "FLOOR" => floor(one(name, args, rec))
    case "SQRT" => sqrt(one(name, args, rec))
    case "EXP" => exp(one(name, args, rec))
    case "POW" =>
      require(args.length == 2, "esql: POW(base, exponent)")
      pow(rec(args(0)), rec(args(1)))
    case "LOG" => args match {
      // ES|QL LOG(value) is natural log; LOG(base, value) uses the base
      case Seq(v) => log(rec(v))
      case Seq(b, v) => log(rec(v)) / log(rec(b))
      case _ => throw new IllegalArgumentException("esql: LOG takes 1 or 2 arguments")
    }
    case "LOG10" => log10(one(name, args, rec))
    case "ROUND" => args match {
      case Seq(v) => round(rec(v))
      case Seq(v, NumLit(d)) => round(rec(v), d.toInt)
      case _ => throw new IllegalArgumentException("esql: ROUND(value[, decimals]) with literal decimals")
    }
    case "GREATEST" => greatest(args.map(rec): _*)
    case "LEAST" => least(args.map(rec): _*)
    case "CONCAT" => concat(args.map(rec): _*)
    case "LENGTH" => length(one(name, args, rec))
    case "TO_UPPER" => upper(one(name, args, rec))
    case "TO_LOWER" => lower(one(name, args, rec))
    case "TRIM" => trim(one(name, args, rec))
    case "LTRIM" => ltrim(one(name, args, rec))
    case "RTRIM" => rtrim(one(name, args, rec))
    case "SUBSTRING" => args match {
      // 1-based; negative start counts from the end; start 0 behaves as 1
      // (ES|QL's rules — they coincide with Spark's substring, except
      // start 0, which Spark treats as 1 too: pinned in the spec).
      // Subtlety pinned by EsqlSemanticsSpec: a negative start does NOT
      // clamp — the [start, start+len) window is fixed before
      // intersecting with the string, so positions before index 0
      // consume length: SUBSTRING("ab", -3, 1) is "", not "a".
      case Seq(s, st) => substring(rec(s), rec(st), lit(Int.MaxValue))
      case Seq(s, st, ln) => substring(rec(s), rec(st), rec(ln))
      case _ => throw new IllegalArgumentException("esql: SUBSTRING(string, start[, length])")
    }
    case "LEFT" =>
      require(args.length == 2, "esql: LEFT(string, length)")
      call_function("left", rec(args(0)), rec(args(1)))
    case "RIGHT" =>
      require(args.length == 2, "esql: RIGHT(string, length)")
      call_function("right", rec(args(0)), rec(args(1)))
    case "REPLACE" =>
      require(args.length == 3, "esql: REPLACE(string, regex, replacement)")
      regexp_replace(rec(args(0)), rec(args(1)), rec(args(2)))
    case "SPLIT" => args match {
      // ES|QL SPLIT delimits on the LITERAL string; Spark's split takes a
      // regex, so the delimiter is quoted.
      case Seq(s, StrLit(d)) => split(rec(s), java.util.regex.Pattern.quote(d))
      case _ => throw new IllegalArgumentException("esql: SPLIT(string, literal-delimiter)")
    }
    case "STARTS_WITH" =>
      require(args.length == 2, "esql: STARTS_WITH(string, prefix)")
      startswith(rec(args(0)), rec(args(1)))
    case "ENDS_WITH" =>
      require(args.length == 2, "esql: ENDS_WITH(string, suffix)")
      endswith(rec(args(0)), rec(args(1)))
    case "LOCATE" => args match {
      case Seq(s, sub) => locate_(rec(s), rec(sub))
      // 3-arg form: search starts at the 1-based `start` position
      case Seq(s, sub, st) => call_function("locate", rec(sub), rec(s), rec(st))
      case _ => throw new IllegalArgumentException("esql: LOCATE(string, substring[, start])")
    }
    // n-ary functions go through `rec`, not compileExpr, so STATS can
    // compile aggregates nested under them (STATS x = COALESCE(SUM(a), 0)).
    case "COALESCE" => coalesce(args.map(rec): _*)
    case "CASE" =>
      // CASE(cond1, v1[, cond2, v2, …][, default]) — ES|QL's function form
      require(args.length >= 2, "esql: CASE needs at least a condition and a value")
      val (pairs, default) =
        if (args.length % 2 == 0) (args.grouped(2).toSeq, None)
        else (args.dropRight(1).grouped(2).toSeq, Some(args.last))
      val chain = pairs.foldLeft(Option.empty[Column]) { (acc, pair) =>
        val c = rec(pair(0)); val v = rec(pair(1))
        Some(acc match {
          case None => when(c, v)
          case Some(w) => w.when(c, v)
        })
      }.get
      default.map(d => chain.otherwise(rec(d))).getOrElse(chain)
    case "TO_STRING" => one(name, args, rec).cast("string")
    case "TO_INTEGER" | "TO_INT" => one(name, args, rec).cast("int")
    case "TO_LONG" => one(name, args, rec).cast("long")
    case "TO_DOUBLE" => one(name, args, rec).cast("double")
    case "TO_BOOLEAN" => one(name, args, rec).cast("boolean")
    case "TO_DATETIME" => one(name, args, rec).cast("timestamp")
    case "DATE_TRUNC" => args match {
      case Seq(SpanLit(1, unit), d) => date_trunc(unit, rec(d))
      case Seq(SpanLit(n, unit), _) =>
        throw new IllegalArgumentException(
          s"esql: DATE_TRUNC supports 1-unit spans; $n $unit needs BUCKET")
      case _ => throw new IllegalArgumentException("esql: DATE_TRUNC(span, date)")
    }
    case "CATEGORIZE" => args match {
      // ES|QL CATEGORIZE (the 8.18 GA grouping function): the
      // categorize_text template as a scalar — digit-bearing tokens
      // become `*`, the word sequence is the category
      // ([[Aggs.categoryTemplate]], the agg's exact row-local template,
      // so `STATS … BY CATEGORIZE(f)` ≡ categorize_text at
      // similarity_threshold 100; the order-free determinism delta is
      // documented there). Null/unanalyzable text categorizes to NULL
      // (the null group) where the agg drops it — same partition of the
      // corpus, stated.
      case Seq(f) =>
        val tpl = Aggs.categoryTemplate(rec(f))
        when(length(tpl) > 0, tpl)
      case _ => throw new IllegalArgumentException("esql: CATEGORIZE(text)")
    }
    case "DATE_DIFF" => args match {
      // ES|QL DATE_DIFF("unit", start, end): whole units from start to
      // end, truncated toward zero (ChronoUnit.between's rule) — exact
      // microsecond arithmetic (|diff| < 2^53 µs ≈ 285 years, beyond
      // which the double quotient loses integer exactness; stated).
      // FIXED-WIDTH units only: the calendar units (month/quarter/year)
      // have engine-divergent conventions — ES truncates whole calendar
      // months where DuckDB counts boundary crossings — so they reject
      // loudly rather than silently picking a side.
      case Seq(StrLit(unit), s, e) =>
        val micros = unit.toLowerCase match {
          case "microsecond" | "microseconds" | "mcs" => 1L
          case "millisecond" | "milliseconds" | "ms" => 1000L
          case "second" | "seconds" | "s" | "ss" => 1000000L
          case "minute" | "minutes" | "mi" | "n" => 60L * 1000000L
          case "hour" | "hours" | "hh" => 3600L * 1000000L
          case "day" | "days" | "dd" | "d" => 86400L * 1000000L
          case "week" | "weeks" | "wk" | "ww" => 7L * 86400L * 1000000L
          case other => throw new IllegalArgumentException(
            s"esql: DATE_DIFF unit '$other' — fixed-width units only " +
              "(microsecond..week); calendar units have engine-divergent " +
              "truncation conventions and are deliberately absent")
        }
        ((unix_micros(rec(e).cast("timestamp")) -
          unix_micros(rec(s).cast("timestamp"))) / lit(micros.toDouble))
          .cast("long")
      case _ => throw new IllegalArgumentException("esql: DATE_DIFF(\"unit\", start, end)")
    }
    case "DATE_EXTRACT" => args match {
      // ES|QL DATE_EXTRACT("chrono_field", date) — the java.time
      // ChronoField names ES documents, long-typed like ES. day_of_week
      // is ISO (1 = Monday, ChronoField's rule) — Spark's dayofweek is
      // 1 = Sunday, so weekday()+1 is the honest mapping.
      case Seq(StrLit(field), d) =>
        val c = rec(d)
        (field.toLowerCase match {
          case "year" => year(c)
          case "month_of_year" => month(c)
          case "day_of_month" => dayofmonth(c)
          case "day_of_week" => weekday(c) + lit(1)
          case "day_of_year" => dayofyear(c)
          case "hour_of_day" => hour(c)
          case "minute_of_hour" => minute(c)
          case "second_of_minute" => second(c)
          case other => throw new IllegalArgumentException(
            s"esql: DATE_EXTRACT field '$other' — supported ChronoFields: " +
              "year, month_of_year, day_of_month, day_of_week (ISO), " +
              "day_of_year, hour_of_day, minute_of_hour, second_of_minute")
        }).cast("long")
      case _ => throw new IllegalArgumentException("esql: DATE_EXTRACT(\"field\", date)")
    }
    case "BUCKET" => args match {
      // fixed-width time bucketing: floor(epoch / width) * width, exact
      // integer arithmetic on microseconds — the TSDB downsampling shape
      case Seq(d, SpanLit(n, unit)) =>
        val micros = unit match {
          case "second" => n * 1000000L
          case "minute" => n * 60L * 1000000L
          case "hour" => n * 3600L * 1000000L
          case "day" => n * 86400L * 1000000L
          case "week" => n * 7L * 86400L * 1000000L
          case other => throw new IllegalArgumentException(
            s"esql: BUCKET spans are fixed-width (second…week); '$other' is calendar-variable — use DATE_TRUNC")
        }
        timestamp_micros((unix_micros(rec(d)) / micros).cast("long") * micros)
      // auto-width form: BUCKET(date, targetBuckets, from, to) — the
      // width resolves DRIVER-side from literal bounds: the smallest
      // rung of a fixed human ladder (1s…1w) whose bucket count fits the
      // target. ES picks "nice" calendar widths the same way; the ladder
      // is pinned here so the choice is deterministic and restatable.
      case Seq(d, NumLit(target), from, to) =>
        def literalTs(e: Expr): Long = e match {
          case StrLit(ts) => java.sql.Timestamp.valueOf(ts).getTime * 1000L
          case Fn("TO_DATETIME", Seq(StrLit(ts))) => java.sql.Timestamp.valueOf(ts).getTime * 1000L
          case other => throw new IllegalArgumentException(
            s"esql: BUCKET bounds must be datetime literals, found $other")
        }
        val (fromUs, toUs) = (literalTs(from), literalTs(to))
        require(toUs > fromUs, "esql: BUCKET needs from < to")
        val t = target.toLong
        require(t >= 1, s"esql: BUCKET target must be >= 1, got $t")
        val ladderUs = Seq(1L, 5, 10, 30, 60, 300, 600, 1800, 3600, 10800,
          43200, 86400, 604800).map(_ * 1000000L)
        val span = toUs - fromUs
        val width = ladderUs.find(w => (span + w - 1) / w <= t).getOrElse(
          throw new IllegalArgumentException(
            s"esql: no ladder width fits $t buckets over ${span / 1000000L} s — widen the target"))
        timestamp_micros((unix_micros(rec(d)) / width).cast("long") * width)
      // numeric span: floor(x / width) * width — the bucket START, ES's
      // numeric-histogram form; one fixed IEEE tree, restated verbatim
      case Seq(d, NumLit(w)) if w.contains('.') || w.toLowerCase.contains('e') =>
        floor(rec(d) / lit(w.toDouble)) * lit(w.toDouble)
      case Seq(d, NumLit(w)) =>
        // integral width: exact integer arithmetic, long-typed buckets
        (floor(rec(d).cast("double") / lit(w.toLong.toDouble)) * lit(w.toLong.toDouble)).cast("long")
      case _ => throw new IllegalArgumentException(
        "esql: BUCKET(date, span), BUCKET(date, target, from, to), or BUCKET(number, width)")
    }
    case "DATE_FORMAT" => args match {
      case Seq(StrLit(fmt), d) => date_format(rec(d), fmt)
      case _ => throw new IllegalArgumentException("esql: DATE_FORMAT(\"pattern\", date)")
    }
    case "MV_COUNT" =>
      val a = one(name, args, rec)
      when(a.isNotNull, size(a))
    case "MV_MIN" => array_min(one(name, args, rec))
    case "MV_MAX" => array_max(one(name, args, rec))
    case "MV_SUM" =>
      // fold in array order — one fixed tree per row, oracle-restatable
      aggregate(one(name, args, rec), lit(0.0), (acc, x) => acc + x.cast("double"))
    case "MV_AVG" => {
      val a = one(name, args, rec)
      when(size(a) > 0,
        aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double")) / size(a))
    }
    // MV_CONCAT is ES|QL's name; MV_JOIN stays as the established alias
    case "MV_CONCAT" | "MV_JOIN" => args match {
      case Seq(a, StrLit(d)) => array_join(rec(a), d)
      case _ => throw new IllegalArgumentException(s"esql: $name(array, \"delimiter\")")
    }
    case "MV_FIRST" => get(one(name, args, rec), lit(0))
    case "MV_LAST" => {
      val a = one(name, args, rec)
      get(a, size(a) - 1)
    }
    case "MV_SORT" => args match {
      case Seq(a) => array_sort(rec(a))
      case Seq(a, StrLit(order)) => order.toLowerCase match {
        case "asc" => array_sort(rec(a))
        case "desc" => reverse(array_sort(rec(a)))
        case other => throw new IllegalArgumentException(s"esql: MV_SORT order must be asc/desc, got '$other'")
      }
      case _ => throw new IllegalArgumentException("esql: MV_SORT(array[, \"order\"])")
    }
    // ES|QL documents mv_dedupe's order as undefined; sorted is the
    // deterministic twin (the VALUES rule)
    case "MV_DEDUPE" => array_sort(array_distinct(one(name, args, rec)))
    case "MV_SLICE" => args match {
      // ES|QL: zero-based, END INCLUSIVE; the negative-index form is the
      // undocumented-corner reject (use MV_LAST)
      case Seq(a, NumLit(s), NumLit(e)) =>
        val (st, en) = (s.toInt, e.toInt)
        require(st >= 0 && en >= st,
          s"esql: MV_SLICE needs 0 <= start <= end, got ($st, $en)")
        slice(rec(a), st + 1, en - st + 1)
      case _ => throw new IllegalArgumentException("esql: MV_SLICE(array, start, end) with literal bounds")
    }
    // The ordered-set MV family. Each casts the array to array<double>
    // up front (ES applies numeric conversion per-value over multivalued
    // fields), so SPLIT-built string arrays sort NUMERICALLY, not
    // lexicographically.
    case "MV_MEDIAN" => mvMedianSorted(array_sort(one(name, args, rec).cast("array<double>")))
    case "MV_MEDIAN_ABSOLUTE_DEVIATION" => {
      // median(|x − median(x)|) — exact, row-local (ES's agg form is
      // tdigest-approximate; the MV form is exact there too)
      val a = one(name, args, rec).cast("array<double>")
      val med = mvMedianSorted(array_sort(a))
      mvMedianSorted(array_sort(transform(a, x => abs(x - med))))
    }
    case "MV_PERCENTILE" => args match {
      // exact linear interpolation over the sorted values (R-7, the rule
      // ES documents for mv_percentile); p outside [0, 100] yields null
      // (ES: null + warning)
      case Seq(a, p) =>
        val s = array_sort(rec(a).cast("array<double>"))
        val n = size(s)
        val pc = rec(p).cast("double")
        val ix = pc / 100.0 * (n - 1)
        val lo = floor(ix).cast("int")
        val atLo = get(s, lo)
        val interp = atLo + (ix - lo.cast("double")) * (get(s, lo + 1) - atLo)
        when(n > 0 && pc >= 0.0 && pc <= 100.0,
          when(ix === lo.cast("double"), atLo).otherwise(interp))
      case _ => throw new IllegalArgumentException("esql: MV_PERCENTILE(array, percentile)")
    }
    case "MV_APPEND" =>
      require(args.length == 2, "esql: MV_APPEND(array1, array2)")
      concat(rec(args(0)), rec(args(1)))
    case "MV_ZIP" => {
      // pairwise string join; the LONGER side's unmatched tail values pass
      // through unjoined (ES's rule — zip_with pads the shorter side with
      // null, and the null side folds away)
      val d = args match {
        case Seq(_, _) => ","
        case Seq(_, _, StrLit(s)) => s
        case _ => throw new IllegalArgumentException("esql: MV_ZIP(array1, array2[, \"delimiter\"])")
      }
      zip_with(rec(args(0)), rec(args(1)),
        (x, y) => when(x.isNull, y).when(y.isNull, x).otherwise(concat(x, lit(d), y)))
    }
    case "MV_PSERIES_WEIGHTED_SUM" => args match {
      // Σ vᵢ / (i+1)^p in array order — ES's relevance-weighted fold
      case Seq(a, NumLit(p)) =>
        val arr = rec(a).cast("array<double>")
        val terms = transform(arr, (x, i) => x / pow(i.cast("double") + 1.0, lit(p.toDouble)))
        aggregate(terms, lit(0.0), (acc, x) => acc + x)
      case _ => throw new IllegalArgumentException("esql: MV_PSERIES_WEIGHTED_SUM(array, literal-p)")
    }
    case "PI" => require(args.isEmpty, "esql: PI takes no arguments"); lit(math.Pi)
    case "E" => require(args.isEmpty, "esql: E takes no arguments"); lit(math.E)
    case "TAU" => require(args.isEmpty, "esql: TAU takes no arguments"); lit(2 * math.Pi)
    case "SIGNUM" => signum(one(name, args, rec))
    case "CBRT" => cbrt(one(name, args, rec))
    // the trigonometric family — each delegates to the codegen'd Spark
    // function (JVM StrictMath-adjacent libm; oracles round to 6 digits
    // so sub-ulp engine deltas cannot surface)
    case "SIN" => sin(one(name, args, rec))
    case "COS" => cos(one(name, args, rec))
    case "TAN" => tan(one(name, args, rec))
    case "ASIN" => asin(one(name, args, rec))
    case "ACOS" => acos(one(name, args, rec))
    case "ATAN" => atan(one(name, args, rec))
    case "ATAN2" =>
      require(args.length == 2, "esql: ATAN2(y, x)")
      atan2(rec(args(0)), rec(args(1)))
    case "SINH" => sinh(one(name, args, rec))
    case "COSH" => cosh(one(name, args, rec))
    case "TANH" => tanh(one(name, args, rec))
    case "TO_DEGREES" => degrees(one(name, args, rec))
    case "TO_RADIANS" => radians(one(name, args, rec))
    case "HYPOT" =>
      require(args.length == 2, "esql: HYPOT(a, b)")
      hypot(rec(args(0)), rec(args(1)))
    case "SCALB" =>
      // d · 2^n. Both factors are exact doubles for any in-range integer
      // n, and multiplication is correctly rounded — so the product IS
      // Math.scalb away from overflow/subnormal edges.
      require(args.length == 2, "esql: SCALB(d, scaleFactor)")
      rec(args(0)).cast("double") * pow(lit(2.0), rec(args(1)).cast("double"))
    case "HASH" => args match {
      // ES|QL 8.16 HASH("algorithm", input) — the generalized form of the
      // named digest functions; the algorithm must be a literal so an
      // unsupported one fails at compile, not per-row.
      case Seq(StrLit(alg), v) => alg.toLowerCase.replace("-", "") match {
        case "md5" => md5(rec(v).cast("binary"))
        case "sha1" => sha1(rec(v).cast("binary"))
        case "sha224" => sha2(rec(v).cast("binary"), 224)
        case "sha256" => sha2(rec(v).cast("binary"), 256)
        case "sha384" => sha2(rec(v).cast("binary"), 384)
        case "sha512" => sha2(rec(v).cast("binary"), 512)
        case other => throw new IllegalArgumentException(
          s"esql: HASH algorithm '$other' not supported (md5/sha1/sha224/sha256/sha384/sha512)")
      }
      case _ => throw new IllegalArgumentException("esql: HASH(\"algorithm\", input) with a literal algorithm")
    }
    case "TRUNC" => args match {
      // truncation TOWARD ZERO (ES|QL's rule; round() is half-up). The
      // long cast is the toward-zero step; scale by a literal power of 10.
      case Seq(v) => rec(v).cast("long").cast("double")
      case Seq(v, NumLit(d)) =>
        val p = math.pow(10, d.toInt)
        (rec(v) * p).cast("long").cast("double") / p
      case _ => throw new IllegalArgumentException("esql: TRUNC(value[, decimals]) with literal decimals")
    }
    case "REVERSE" => reverse(one(name, args, rec))
    case "REPEAT" =>
      require(args.length == 2, "esql: REPEAT(string, n)")
      call_function("repeat", rec(args(0)), rec(args(1)))
    case "SPACE" => call_function("space", one(name, args, rec))
    case "BIT_LENGTH" => bit_length(one(name, args, rec))
    case "BYTE_LENGTH" => octet_length(one(name, args, rec))
    case "MD5" => md5(one(name, args, rec).cast("binary"))
    case "SHA1" => sha1(one(name, args, rec).cast("binary"))
    case "SHA256" => sha2(one(name, args, rec).cast("binary"), 256)
    case "TO_BASE64" => base64(one(name, args, rec).cast("binary"))
    case "FROM_BASE64" => unbase64(one(name, args, rec)).cast("string")
    case "CIDR_MATCH" => args match {
      // CIDR_MATCH(ip, "block", …): literal blocks resolve to integer
      // ranges driver-side ([[Aggs.ipToLong]] parses the column), OR'd —
      // each range is two pushable comparisons.
      case Seq(ipArg, blocks @ _*) if blocks.nonEmpty =>
        val ipLong = Aggs.ipToLong(rec(ipArg))
        val ranges = blocks.map {
          case StrLit(cidr) =>
            val parts = cidr.split("/")
            require(parts.length == 2, s"esql: malformed CIDR block '$cidr'")
            val quads = parts(0).split("\\.")
            require(quads.length == 4 && quads.forall(q => q.forall(_.isDigit) && q.toInt <= 255),
              s"esql: malformed CIDR address '${parts(0)}'")
            val prefix = parts(1).toInt
            require(prefix >= 0 && prefix <= 32, s"esql: CIDR prefix out of range in '$cidr'")
            val base = quads.map(_.toLong).reduce(_ * 256 + _)
            val mask = if (prefix == 0) 0L else (0xFFFFFFFFL << (32 - prefix)) & 0xFFFFFFFFL
            val lo = base & mask
            val hi = lo | (~mask & 0xFFFFFFFFL)
            ipLong >= lo && ipLong <= hi
          case other => throw new IllegalArgumentException(
            s"esql: CIDR_MATCH blocks must be string literals, found $other")
        }
        ranges.reduce(_ || _)
      case _ => throw new IllegalArgumentException("esql: CIDR_MATCH(ip, \"block\", …)")
    }
    // ----- spatial (the ES|QL ST_* family over geo_point data) -----
    case "TO_GEOPOINT" => {
      // WKT "POINT (x y)" → struct{x, y} (x = lon, y = lat — WKT axis
      // order). Non-matching strings yield null, ES's null + warning.
      val s = one(name, args, rec)
      // the char class includes '-' INSIDE the number too: Spark renders
      // tiny doubles as "9.99E-4" and the exponent's sign must match
      val rx = "^\\s*POINT\\s*\\(\\s*([-+0-9.eE]+)\\s+([-+0-9.eE]+)\\s*\\)\\s*$"
      when(s.rlike(rx), struct(
        regexp_extract(s, rx, 1).cast("double").as("x"),
        regexp_extract(s, rx, 2).cast("double").as("y")))
    }
    case "TO_GEOSHAPE" =>
      throw new IllegalArgumentException(
        "esql: TO_GEOSHAPE values only appear as the literal shape argument " +
          "of an ST_* predicate — this engine's geo columns are points")
    case "ST_X" => one(name, args, rec).getField("x")
    case "ST_Y" => one(name, args, rec).getField("y")
    case "ST_DISTANCE" =>
      // geo_point distance in METERS — ES's haversine over the mean earth
      // radius. The oracle restates the formula operation-for-operation,
      // so only libm ulps differ (absorbed by the query-level ROUND).
      require(args.length == 2, "esql: ST_DISTANCE(pointA, pointB)")
      val (a, b) = (rec(args(0)), rec(args(1)))
      haversineMeters(a.getField("y"), a.getField("x"), b.getField("y"), b.getField("x"))
    case rel @ ("ST_INTERSECTS" | "ST_WITHIN" | "ST_CONTAINS" | "ST_DISJOINT") =>
      require(args.length == 2, s"esql: $rel(geometryA, geometryB)")
      compileSpatialRelation(rel, args, rec)
    case "ROUND_TO" => args match {
      // ES|QL 8.19 ROUND_TO(value, p1, p2, …): round DOWN to the largest
      // fixed point <= value; below the smallest point clamps to it
      // (ES's rule). Points are ascending literals so the when-chain
      // folds at compile; a null value stays null. Always double-typed
      // (stated: ES keeps the input's numeric type).
      case Seq(v, pts @ _*) if pts.nonEmpty =>
        val points = pts.map {
          case NumLit(t) => t.toDouble
          case Neg(NumLit(t)) => -t.toDouble
          case other => throw new IllegalArgumentException(
            s"esql: ROUND_TO points must be numeric literals, found $other")
        }
        require(points == points.sorted && points.distinct.size == points.size,
          s"esql: ROUND_TO points must be strictly ascending, got ${points.mkString(", ")}")
        val x = rec(v).cast("double")
        val chain = points.tail.foldLeft(lit(points.head)) { (acc, p) =>
          when(x >= p, lit(p)).otherwise(acc)
        }
        when(x.isNotNull, chain)
      case _ => throw new IllegalArgumentException("esql: ROUND_TO(value, point, …)")
    }
    case "TO_UNSIGNED_LONG" =>
      throw new IllegalArgumentException(
        "esql: TO_UNSIGNED_LONG — the JVM has no unsigned 64-bit integral type; " +
          "use TO_LONG (63-bit range) or TO_DOUBLE (stated seam)")
    case "TO_TIMEDURATION" | "TO_DATEPERIOD" =>
      throw new IllegalArgumentException(
        s"esql: $name — span values are query literals in this engine; " +
          "write the arithmetic directly (ts + 2 hour)")
    case "TO_VERSION" => {
      // A semver-aware SORTABLE key: each dot segment's numeric prefix
      // left-pads to 12 digits; an EMPTY suffix becomes "~" (0x7E — above
      // every printable prerelease character), so "1.2.0" < "1.10.0" and
      // "1.0.0-alpha" < "1.0.0" under plain binary string order. STATED
      // DELTA: ES's version type renders the original text while
      // comparing semver-aware; a pre-analysis compiler has one value per
      // expression, so TO_VERSION returns the ordering key itself — keep
      // the raw column for display. Build-metadata (+…) compares as text.
      val s = one(name, args, rec)
      val enc = transform(split(s, "\\."), seg => {
        val numPart = regexp_extract(seg, "^([0-9]*)", 1)
        val suffix = regexp_extract(seg, "^[0-9]*(.*)$", 1)
        concat(lpad(numPart, 12, "0"),
          when(suffix === "", lit("~")).otherwise(suffix))
      })
      array_join(enc, ".")
    }
    case "DATE_PARSE" => args match {
      // DATE_PARSE("pattern", string) — Java DateTimeFormatter patterns
      // (ES|QL's convention and Spark's; the shared dialect is why the
      // pattern must be a literal: an unsupported directive fails at
      // compile, not per-row). Unparseable values yield null, ES's
      // null + warning behavior (try_to_timestamp, not the ANSI throw).
      case Seq(StrLit(pattern), v) => try_to_timestamp(rec(v), lit(pattern))
      case Seq(_) => throw new IllegalArgumentException(
        "esql: DATE_PARSE without a pattern uses ES's strict_date_optional_time " +
          "mapping format — pass the pattern explicitly (the mapping seam)")
      case _ => throw new IllegalArgumentException("esql: DATE_PARSE(\"pattern\", string)")
    }
    case "TO_IP" => {
      // validates an IPv4 dotted quad: valid → the canonical string, no
      // leading zeros (ES's default leading_zeros=reject → null +
      // warning), malformed → null. IPv6 is a LOUD per-row seam — a
      // valid v6 address silently nulled would be a wrong answer.
      val s = one(name, args, rec)
      val v4 = "^((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}" +
        "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])$"
      when(s.rlike(v4), s)
        .when(s.contains(":"),
          raise_error(concat(lit("esql: TO_IP cannot parse IPv6 (stated seam): "), s)))
        .otherwise(lit(null).cast("string"))
    }
    case "IP_PREFIX" => args match {
      // IP_PREFIX(ip, v4len, v6len): the network address of the ip's
      // /len block. v4 only (the v6 length is accepted for ES signature
      // parity but any v6 VALUE raises — same loud seam as TO_IP).
      case Seq(ipArg, NumLit(p4), NumLit(_)) =>
        val p = p4.toInt
        require(p >= 0 && p <= 32, s"esql: IP_PREFIX v4 length out of range: $p")
        val ip = rec(ipArg)
        val mask = if (p == 0) 0L else (0xFFFFFFFFL << (32 - p)) & 0xFFFFFFFFL
        val masked = Aggs.ipToLong(ip).bitwiseAND(lit(mask))
        val quad = concat_ws(".",
          shiftright(masked, 24).bitwiseAND(lit(255L)),
          shiftright(masked, 16).bitwiseAND(lit(255L)),
          shiftright(masked, 8).bitwiseAND(lit(255L)),
          masked.bitwiseAND(lit(255L)))
        when(ip.contains(":"),
          raise_error(concat(lit("esql: IP_PREFIX cannot parse IPv6 (stated seam): "), ip)))
          .otherwise(when(masked.isNotNull, quad))
      case _ => throw new IllegalArgumentException(
        "esql: IP_PREFIX(ip, v4PrefixLength, v6PrefixLength) with literal lengths")
    }
    case "MATCH" => args match {
      // ES|QL's full-text MATCH function (8.16): the match query's
      // analyzed-OR semantics — at least one analyzed term appears as a
      // whole token. Rides the same TextMatch kernel as the query DSL
      // tier, so ES|QL WHERE clauses and the /search route agree on what
      // "matches" means. The options map takes ES's `analyzer`
      // ("standard" — the ASCII tokenizer here, the stated subset —
      // "unicode", or "english" with stopwords + Snowball stemming):
      // BOTH sides re-analyze, so "merges" meets "merging" at the stem.
      case Seq(f @ ColRef(_), StrLit(q)) =>
        val terms = graft.expr.TextMatch.analyze(q)
        require(terms.nonEmpty, s"esql: MATCH query '$q' has no analyzable terms")
        terms.map(t => graft.expr.TextMatch.containsToken(rec(f), t))
          .reduce(_ || _)
      case Seq(f @ ColRef(_), StrLit(q), MapLit(entries)) =>
        val opts = entries.toMap
        require(entries.map(_._1).distinct.size == entries.size,
          "esql: duplicate MATCH option keys")
        val unknown = opts.keySet -- Set("analyzer")
        require(unknown.isEmpty,
          s"esql: unknown MATCH option(s) ${unknown.toSeq.sorted.mkString(", ")} (analyzer)")
        val an = opts.get("analyzer") match {
          case Some(StrLit("standard")) => graft.expr.TextMatch.AsciiAnalyzer
          case Some(StrLit("unicode")) => graft.expr.TextMatch.UnicodeAnalyzer
          case Some(StrLit("english")) => graft.expr.TextMatch.EnglishAnalyzer
          case Some(StrLit(other)) => throw new IllegalArgumentException(
            s"esql: unknown MATCH analyzer '$other' (standard, unicode, english)")
          case _ => throw new IllegalArgumentException(
            "esql: MATCH analyzer must be a string literal")
        }
        val terms = an.analyze(q)
        require(terms.nonEmpty, s"esql: MATCH query '$q' has no analyzable terms")
        val padded = an.padded(rec(f))
        terms.map(t => padded.contains(lit(s" $t ")))
          .reduce(_ || _)
      case _ => throw new IllegalArgumentException(
        "esql: MATCH(field, \"query\"[, {\"analyzer\": …}])")
    }
    case "MATCH_PHRASE" => args match {
      // the match_phrase form: the analyzed terms contiguous and in order
      case Seq(f @ ColRef(_), StrLit(q)) =>
        val terms = graft.expr.TextMatch.analyze(q)
        require(terms.nonEmpty, s"esql: MATCH_PHRASE query '$q' has no analyzable terms")
        graft.expr.TextMatch.containsToken(rec(f), terms.mkString(" "))
      case _ => throw new IllegalArgumentException("esql: MATCH_PHRASE(field, \"query\")")
    }
    case "MULTI_MATCH" => {
      // ES|QL MULTI_MATCH (9.1): the multi_match query inside the pipe
      // language — `MULTI_MATCH("query", f1, f2, …, {options})`. Filter
      // context; the match SET depends on the type × operator pair:
      //   * best_fields / most_fields (field-centric — identical match
      //     sets, they differ only in scoring): operator applies WITHIN a
      //     field, fields OR together. `or` → any term in any field;
      //     `and` → some single field holds EVERY term.
      //   * cross_fields (term-centric): operator applies ACROSS the
      //     per-term field-disjunctions. `and` → every term appears in at
      //     least one field (not necessarily the same one) — exactly the
      //     split-name case the mode exists for.
      // Scoring rides the Bm25 tier ([[Bm25.multiMatchWeightedTopK]] /
      // [[Bm25.crossFieldsTopK]]); under METADATA _score this function
      // rejects via the scored-WHERE gate naming that seam.
      val (mapOpts, rest) = args.lastOption match {
        case Some(MapLit(entries)) => (entries, args.dropRight(1))
        case _ => (Nil, args)
      }
      rest match {
        case Seq(StrLit(q), fields @ _*)
            if fields.nonEmpty && fields.forall(_.isInstanceOf[ColRef]) =>
          val opts = mapOpts.toMap
          require(mapOpts.map(_._1).distinct.size == mapOpts.size,
            "esql: duplicate MULTI_MATCH option keys")
          val unknown = opts.keySet -- Set("type", "operator")
          require(unknown.isEmpty,
            s"esql: unknown MULTI_MATCH option(s) ${unknown.toSeq.sorted.mkString(", ")} " +
              "(type, operator; boosts belong to scoring, not a filter)")
          def strOpt(k: String, dflt: String, allowed: Set[String]): String =
            opts.get(k).map {
              case StrLit(v) if allowed(v) => v
              case StrLit(v) => throw new IllegalArgumentException(
                s"esql: MULTI_MATCH $k '$v' (${allowed.toSeq.sorted.mkString("|")})")
              case other => throw new IllegalArgumentException(
                s"esql: MULTI_MATCH $k must be a string literal, found <$other>")
            }.getOrElse(dflt)
          val mmType = strOpt("type", "best_fields",
            Set("best_fields", "most_fields", "cross_fields"))
          val operator = strOpt("operator", "or", Set("or", "and"))
          val terms = graft.expr.TextMatch.analyze(q)
          require(terms.nonEmpty, s"esql: MULTI_MATCH query '$q' has no analyzable terms")
          val cols = fields.map(f => rec(f.asInstanceOf[ColRef]))
          (mmType, operator) match {
            case ("cross_fields", "and") =>
              terms.map(t => cols.map(c =>
                graft.expr.TextMatch.containsToken(c, t)).reduce(_ || _)).reduce(_ && _)
            case (_, "and") =>
              cols.map(c => terms.map(t =>
                graft.expr.TextMatch.containsToken(c, t)).reduce(_ && _)).reduce(_ || _)
            case _ =>
              // `or` collapses to the same any-term-any-field set for
              // every type
              cols.map(c => terms.map(t =>
                graft.expr.TextMatch.containsToken(c, t)).reduce(_ || _)).reduce(_ || _)
          }
        case _ => throw new IllegalArgumentException(
          "esql: MULTI_MATCH(\"query\", field1, field2, …[, {options}])")
      }
    }
    case "QSTR" => args match {
      // ES|QL QSTR (8.16): the full Lucene query_string grammar inside the
      // pipe language. ES resolves the query's default field from the
      // index mapping; this engine has no mapping, so [[run]] carries it
      // as an option (the /esql route's `default_field`) — absent, the
      // function rejects loudly naming the seam.
      case Seq(StrLit(q)) =>
        QueryString.parse(q, requireDefaultField("QSTR")).compile
      case _ => throw new IllegalArgumentException("esql: QSTR(\"query\")")
    }
    case "KQL" => args match {
      // ES|QL KQL (8.16): the Kibana Query Language via [[Kql]] — same
      // default-field seam as QSTR.
      case Seq(StrLit(q)) =>
        Kql.parse(q, Some(requireDefaultField("KQL"))).compile
      case _ => throw new IllegalArgumentException("esql: KQL(\"query\")")
    }
    case "KNN" =>
      // reached only when KNN sits somewhere other than a bare top-level
      // WHERE conjunct — the one position where a k-nearest cut is a
      // well-defined set operation (applyCmd compiles it there).
      throw new IllegalArgumentException(
        "esql: KNN is only valid as a bare top-level conjunct of WHERE — " +
          "not under NOT/OR, not in EVAL/STATS (a k-nearest cut is a set " +
          "operation, not a row predicate)")
    case "RATE" | "INCREASE" =>
      throw new IllegalArgumentException(
        s"esql: $name is only valid at the top level of a TS query's STATS")
    case n if n.endsWith("_OVER_TIME") =>
      throw new IllegalArgumentException(
        s"esql: $n is only valid inside a TS query's STATS, under an outer aggregate")
    case "NOW" =>
      throw new IllegalArgumentException(
        "esql: NOW() reads the wall clock and can never hash-match an oracle; pass the timestamp as a literal")
    case other =>
      throw new IllegalArgumentException(s"esql: unknown function $other")
  }

  // `functions.locate` only takes a literal substring; the builtin's
  // Column form goes through call_function (argument order: substr, str).
  private def locate_(s: Column, sub: Column): Column =
    call_function("locate", sub, s)

  /** `ts ± n unit` date math as a calendar-aware interval add — year/
    * quarter/month lengths follow the calendar (ES|QL's rule), fixed-width
    * units are exact.
    */
  private def spanAdd(ts: Column, n: Long, unit: String): Column = {
    val z = lit(0)
    val k = lit(n.toInt)
    val iv = unit match {
      case "year" => make_interval(k, z, z, z, z, z, lit(0.0))
      case "quarter" => make_interval(z, lit(3 * n.toInt), z, z, z, z, lit(0.0))
      case "month" => make_interval(z, k, z, z, z, z, lit(0.0))
      case "week" => make_interval(z, z, k, z, z, z, lit(0.0))
      case "day" => make_interval(z, z, z, k, z, z, lit(0.0))
      case "hour" => make_interval(z, z, z, z, k, z, lit(0.0))
      case "minute" => make_interval(z, z, z, z, z, k, lit(0.0))
      case "second" => make_interval(z, z, z, z, z, z, lit(n.toDouble))
      case other => throw new IllegalArgumentException(s"esql: unsupported span unit '$other'")
    }
    ts + iv
  }

  /** WKT `POLYGON ((x y, …)[, (hole …)…])` → rings as (lat, lon) vertex
    * lists ([[FilterSpec.GeoShape]]'s tuple order; WKT itself is x-y =
    * lon-lat). The closing duplicate vertex WKT requires is dropped.
    * Parsed at COMPILE time — the shape is always a query literal.
    */
  private[query] def parseWktPolygon(wkt: String): Seq[Seq[(Double, Double)]] = {
    val t = wkt.trim
    require(t.toUpperCase.startsWith("POLYGON"),
      s"esql: TO_GEOSHAPE supports POLYGON WKT (holes included), got '${t.take(24)}'")
    val body = t.drop("POLYGON".length).trim
    require(body.startsWith("(") && body.endsWith(")"), s"esql: malformed WKT <$wkt>")
    val ringStrs = body.substring(1, body.length - 1)
      .split("\\)\\s*,\\s*\\(").map(_.replaceAll("[()]", "").trim).toSeq
    ringStrs.map { rs =>
      val pts = rs.split(",").map(_.trim).toSeq.map { p =>
        val xy = p.split("\\s+")
        require(xy.length == 2, s"esql: malformed WKT vertex '$p'")
        (xy(1).toDouble, xy(0).toDouble)
      }
      val ring = if (pts.size > 1 && pts.head == pts.last) pts.dropRight(1) else pts
      require(ring.size >= 3, "esql: a WKT ring needs >= 3 distinct vertices")
      ring
    }
  }

  /** [[FilterSpec.GeoShape]]'s even-odd crossing sum generalized to Column
    * coordinates — pure +,−,×,÷, so the oracle restatement
    * (`SparkEntry.geoCrossingsSql`) is bit-exact, no libm margin. A null
    * point counts zero crossings (`when` reads a null condition as false)
    * — callers add the explicit null guard their relation needs.
    */
  private def rayCastInside(lat: Column, lon: Column,
      rings: Seq[Seq[(Double, Double)]]): Column = {
    val crossings = rings.flatMap { ring =>
      val n = ring.size
      (0 until n).map { i =>
        val (yi, xi) = ring(i)
        val (yj, xj) = ring((i + 1) % n)
        val crosses = (lit(yi) > lat) =!= (lit(yj) > lat)
        val leftOf = lon <
          (lit(xj) - lit(xi)) * (lat - lit(yi)) / (lit(yj) - lit(yi)) + lit(xi)
        when(crosses && leftOf, lit(1)).otherwise(lit(0))
      }
    }
    crossings.reduce(_ + _) % 2 === 1
  }

  /** Haversine great-circle distance in meters over ES's mean earth
    * radius (6371008.7714 m — Lucene's GeoUtils.EARTH_MEAN_RADIUS).
    */
  private def haversineMeters(lat1: Column, lon1: Column,
      lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val h = pow(sin(dLat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    lit(2 * 6371008.7714) * asin(sqrt(h))
  }

  /** The four ST_* spatial predicates. The shape side must be a LITERAL
    * `TO_GEOSHAPE("POLYGON …")` (parsed at compile); with no shape
    * argument both sides are points and the relations degenerate to
    * coordinate equality. Argument order is checked, not guessed:
    * `within` needs the point on the left, `contains` the shape on the
    * left — the impossible orders reject loudly. Documents with a null
    * point match NEITHER a relation nor its complement (ES's
    * missing-field rule, the GeoShape/GeoEnvelope precedent).
    */
  private def compileSpatialRelation(rel: String, args: Seq[Expr],
      rec: Expr => Column): Column = {
    def shapeLit(e: Expr): Option[Seq[Seq[(Double, Double)]]] = e match {
      case Fn("TO_GEOSHAPE", Seq(StrLit(wkt))) => Some(parseWktPolygon(wkt))
      case _ => None
    }
    (shapeLit(args(0)), shapeLit(args(1))) match {
      case (Some(_), Some(_)) =>
        throw new IllegalArgumentException(
          s"esql: $rel over two literal shapes is a constant — fold it out of the query")
      case (None, None) =>
        val (a, b) = (rec(args(0)), rec(args(1)))
        val eq = a.getField("x") === b.getField("x") && a.getField("y") === b.getField("y")
        if (rel == "ST_DISJOINT") a.isNotNull && b.isNotNull && !eq else eq
      case (sa, sb) =>
        if (rel == "ST_WITHIN" && sa.isDefined)
          throw new IllegalArgumentException(
            "esql: ST_WITHIN(shape, point) is impossible — a 2-D shape is never " +
              "within a point; write ST_WITHIN(point, shape)")
        if (rel == "ST_CONTAINS" && sb.isDefined)
          throw new IllegalArgumentException(
            "esql: ST_CONTAINS(point, shape) is impossible for a point document; " +
              "write ST_CONTAINS(shape, point)")
        val rings = sa.orElse(sb).get
        val pt = rec(if (sa.isDefined) args(1) else args(0))
        val inside = rayCastInside(pt.getField("y"), pt.getField("x"), rings)
        if (rel == "ST_DISJOINT") pt.isNotNull && !inside
        else pt.isNotNull && inside
    }
  }

  /** Median of an ALREADY-SORTED numeric array: the middle value, or the
    * average of the two middles on an even count (always double-typed —
    * ES|QL's integer form rounds the even-count average down, a stated
    * delta). Empty → null.
    */
  private def mvMedianSorted(s: Column): Column = {
    val n = size(s)
    val mid = floor((n - 1).cast("double") / 2.0).cast("int")
    when(n > 0,
      when(n % 2 === 1, get(s, mid))
        .otherwise((get(s, mid) + get(s, mid + 1)) / 2.0))
  }

  /** One aggregate call, optionally under a per-aggregate `WHERE` filter
    * (the 8.13 form): the filter wraps each fed value in `when(cond, v)`,
    * and every aggregate here skips nulls — exactly ES's
    * filtered-aggregation semantics, with no second scan.
    */
  private def compileAgg(e: Expr, filter: Option[Column] = None): Column = {
    def g(c: Column): Column = filter.map(f => when(f, c)).getOrElse(c)
    e match {
      case Fn("COUNT", Seq(Star)) => count(g(lit(1)))
      case Fn("COUNT", Seq(a)) => count(g(compileExpr(a)))
      case Fn("COUNT", _) => throw new IllegalArgumentException("esql: COUNT takes * or one expression")
      case Fn("COUNT_DISTINCT", Seq(a)) => count_distinct(g(compileExpr(a)))
      case Fn("SUM", Seq(a)) => sum(g(compileExpr(a)))
      case Fn("AVG", Seq(a)) => avg(g(compileExpr(a)))
      case Fn("MIN", Seq(a)) => min(g(compileExpr(a)))
      case Fn("MAX", Seq(a)) => max(g(compileExpr(a)))
      case Fn("MEDIAN", Seq(a)) => median(g(compileExpr(a)))
      case Fn("PERCENTILE", Seq(a, NumLit(p))) =>
        percentile(g(compileExpr(a)), lit(p.toDouble / 100.0))
      case Fn("WEIGHTED_AVG", Seq(a, wt)) =>
        // one fixed tree: sum(v·w) / sum(w) — ES|QL's weighted_avg
        val (v, w) = (compileExpr(a), compileExpr(wt))
        sum(g(v * w)) / sum(g(w))
      case Fn("STD_DEV", Seq(a)) =>
        // population stddev — ES|QL's STD_DEV matches extended_stats'
        // std_deviation (population, Welford-computed)
        stddev_pop(g(compileExpr(a)))
      case Fn("MEDIAN_ABSOLUTE_DEVIATION", _) =>
        // exact MAD needs the group median BEFORE the deviation pass — two
        // aggregates over the data, not one. Loud reject with the rewrite
        // (the INLINESTATS ordered-set precedent) instead of a silent
        // collect_list memory bomb on large groups.
        throw new IllegalArgumentException(
          "esql: MEDIAN_ABSOLUTE_DEVIATION needs two passes — run STATS m = MEDIAN(x) BY k, " +
            "LOOKUP JOIN the result back, then STATS MEDIAN(ABS(x - m)) BY k " +
            "(row-local arrays: MV_MEDIAN_ABSOLUTE_DEVIATION)")
      case Fn("VALUES", Seq(a)) => array_sort(collect_set(g(compileExpr(a))))
      case Fn("TOP", Seq(a, NumLit(n), StrLit(order))) =>
        val sorted = order.toLowerCase match {
          case "asc" => array_sort(collect_list(g(compileExpr(a))))
          case "desc" => reverse(array_sort(collect_list(g(compileExpr(a)))))
          case other => throw new IllegalArgumentException(s"esql: TOP order must be asc/desc, got '$other'")
        }
        slice(sorted, 1, n.toInt)
      case Fn(n, _) if AggNames.contains(n) =>
        throw new IllegalArgumentException(s"esql: malformed aggregate $n")
      case other =>
        throw new IllegalArgumentException(
          s"esql: STATS entries must be aggregate calls, found $other")
    }
  }

  /** One captured `%{…}` of a DISSECT pattern: `name` is empty for skips
    * (`%{}` and dissect's named skip `%{?name}`); `append` marks `%{+name}`
    * pieces, which concatenate in pattern order under APPEND_SEPARATOR.
    */
  private[query] final case class DissectKey(name: String, append: Boolean)

  /** DISSECT pattern → (anchored regex, captured keys in order). The full
    * dissect modifier set except reference keys: literal separators are
    * regex-quoted; every `%{key}` is a lazy group except the last, which
    * runs greedy to the end; `%{}` and `%{?name}` skip (non-capturing);
    * `%{+key}` appends (all pieces capture, the compile concatenates);
    * `%{key->}` right-pads — the separator that FOLLOWS it may repeat
    * (dissect's padding rule: `(?:sep)+`). Stated subset, each rejecting
    * loudly: `%{+key/n}` explicit append order (pieces join in pattern
    * order here — reordering is a silent-wrong-answer risk) and the
    * `%{*key}`/`%{&key}` reference pair (keys named by the DATA change
    * the output schema row-dependently — not a relational shape).
    * Repeating a plain key is the dissect parse error it is in ES.
    */
  private[query] def dissectRegex(pattern: String): (String, Seq[DissectKey]) = {
    val keyRx = "%\\{([^}]*)\\}".r
    val keys = Seq.newBuilder[DissectKey]
    val plain = scala.collection.mutable.Set[String]()
    val sb = new StringBuilder("^")
    var last = 0
    val ms = keyRx.findAllMatchIn(pattern).toVector
    require(ms.nonEmpty, s"esql: DISSECT pattern has no %{key}: <$pattern>")
    var padNext = false
    ms.zipWithIndex.foreach { case (m, idx) =>
      val lit = pattern.substring(last, m.start)
      if (lit.nonEmpty) {
        val quoted = java.util.regex.Pattern.quote(lit)
        sb ++= (if (padNext) s"(?:$quoted)+" else quoted)
      }
      padNext = false
      var key = m.group(1)
      if (key.endsWith("->")) { padNext = true; key = key.dropRight(2) }
      require(!key.contains("/"),
        s"esql: DISSECT append order %{+key/n} is not supported — pieces " +
          "join in pattern order (reordering is a stated seam)")
      require(!key.startsWith("*") && !key.startsWith("&"),
        s"esql: DISSECT reference keys %{*key}/%{&key} are not supported — " +
          "data-named output columns are not a relational shape")
      val lastKey = idx == ms.length - 1
      val skip = key.isEmpty || key.startsWith("?")
      if (skip) sb ++= (if (lastKey) "(?:.*)" else "(?:.*?)")
      else {
        val append = key.startsWith("+")
        val name = if (append) key.substring(1) else key
        require(name.nonEmpty, s"esql: DISSECT modifier without a key in <$pattern>")
        if (!append) {
          require(!plain.contains(name),
            s"esql: DISSECT repeats key '$name' — use %{+$name} to append")
          plain += name
        }
        keys += DissectKey(name, append)
        sb ++= (if (lastKey) "(.*)" else "(.*?)")
      }
      last = m.end
    }
    val tailLit = pattern.substring(last)
    if (tailLit.nonEmpty) {
      val quoted = java.util.regex.Pattern.quote(tailLit)
      sb ++= (if (padNext) s"(?:$quoted)+" else quoted)
    }
    sb += '$'
    (sb.result(), keys.result())
  }

  /** GROK pattern subset → (anchored regex, (key, castType) in order).
    * Supported pattern names: WORD, NOTSPACE, DATA, GREEDYDATA, INT,
    * NUMBER, IP/IPV4 (v4 dotted quads — grok's IP also takes v6; stated
    * subset), TIMESTAMP_ISO8601, LOGLEVEL, UUID; type suffixes
    * `:int`/`:long`/`:float` cast the extract.
    */
  private[query] def grokRegex(pattern: String): (String, Seq[(String, Option[String])]) = {
    val partRx = "%\\{([A-Z][A-Z0-9_]*)(?::([A-Za-z0-9_]+))?(?::(int|long|float))?\\}".r
    val keys = Seq.newBuilder[(String, Option[String])]
    val sb = new StringBuilder("^")
    var last = 0
    val ms = partRx.findAllMatchIn(pattern).toVector
    require(ms.nonEmpty, s"esql: GROK pattern has no %{PATTERN:name}: <$pattern>")
    ms.foreach { m =>
      sb ++= java.util.regex.Pattern.quote(pattern.substring(last, m.start))
      val body = m.group(1) match {
        case "WORD" => "\\w+"
        case "NOTSPACE" => "\\S+"
        case "DATA" => ".*?"
        case "GREEDYDATA" => ".*"
        case "INT" => "[+-]?\\d+"
        case "NUMBER" => "[+-]?\\d+(?:\\.\\d+)?"
        case "IP" | "IPV4" =>
          "(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)(?:\\.(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)){3}"
        case "TIMESTAMP_ISO8601" =>
          "\\d{4}-\\d{2}-\\d{2}[T ]\\d{2}:\\d{2}(?::\\d{2})?(?:\\.\\d+)?(?:Z|[+-]\\d{2}:?\\d{2})?"
        case "LOGLEVEL" => "(?:TRACE|DEBUG|INFO|WARN(?:ING)?|ERROR|FATAL|SEVERE)"
        case "UUID" => "[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"
        case other => throw new IllegalArgumentException(s"esql: unsupported GROK pattern $other")
      }
      Option(m.group(2)) match {
        case Some(name) =>
          keys += ((name, Option(m.group(3)).map { case "float" => "double"; case t => t }))
          sb ++= s"($body)"
        case None => sb ++= s"(?:$body)"
      }
      last = m.end
    }
    sb ++= java.util.regex.Pattern.quote(pattern.substring(last))
    sb += '$'
    (sb.result(), keys.result())
  }

  /** Expand KEEP/DROP patterns against the frame's columns: each pattern in
    * pattern order, matches in schema order, first mention wins.
    */
  private[query] def expandPatterns(patterns: Seq[String], columns: Seq[String]): Seq[String] = {
    val out = Seq.newBuilder[String]
    val seen = scala.collection.mutable.Set.empty[String]
    patterns.foreach { p =>
      if (p.contains('*')) {
        val rx = wildcardRegex(p).r
        val hits = columns.filter(c => rx.matches(c))
        hits.foreach { c => if (seen.add(c)) out += c }
      } else {
        require(columns.contains(p), s"esql: unknown column '$p' (have: ${columns.mkString(", ")})")
        if (seen.add(p)) out += p
      }
    }
    out.result()
  }

  // =====================================================================
  // driver
  // =====================================================================

  /** QSTR/KQL compile against the index's default field, which ES
    * resolves from the mapping; this engine has no mapping, so [[run]]
    * takes it as an option and the function compilers read it here. A
    * DynamicVariable because the whole plan builds eagerly inside
    * [[run]]'s fold — the scope is exact and thread-local.
    */
  private val defaultFieldOpt = new scala.util.DynamicVariable[Option[String]](None)

  /** The request's named parameters (`?name` placeholders) — the same
    * eager-build seam as [[defaultFieldOpt]].
    */
  private val paramsOpt = new scala.util.DynamicVariable[Map[String, Any]](Map.empty)

  private def requireDefaultField(fn: String): String =
    defaultFieldOpt.value.getOrElse(throw new IllegalArgumentException(
      s"esql: $fn needs the index's default field — pass defaultField to " +
        "Esql.run (the /esql route's default_field option), or use MATCH/" +
        "MATCH_PHRASE with an explicit field"))

  /** Parse and run `query`: `resolve` maps a FROM name to its frame;
    * `policies` back ENRICH; `defaultField` is the QSTR/KQL seam. The
    * result is ONE lazy DataFrame — nothing executes until the caller
    * acts on it.
    */
  def run(
      query: String,
      resolve: String => DataFrame,
      policies: Map[String, EnrichPolicy] = Map.empty,
      defaultField: Option[String] = None,
      params: Map[String, Any] = Map.empty): DataFrame =
    defaultFieldOpt.withValue(defaultField) { paramsOpt.withValue(params) {
    val cmds = parse(query)
    val source: DataFrame = cmds.head match {
      case From(tables, metadata) =>
        // `_index` is stamped per branch BEFORE the union — under the
        // multi-table form each row carries the FROM name that produced
        // it (ES's `_index` under a multi-index search). `_score` starts
        // at 0.0 (ES|QL's unscored value); the scoring functions (KNN)
        // overwrite it. Both are literal/constant columns: pushdown of
        // real predicates walks straight through the Project.
        val branches = tables.map { t =>
          val base = resolve(t)
          if (metadata.contains("_index")) base.withColumn("_index", lit(t)) else base
        }
        val unioned = branches.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
        if (metadata.contains("_score")) unioned.withColumn("_score", lit(0.0)) else unioned
      case TsFrom(tables) =>
        tables.map(resolve).reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
      case RowCmd(cols) =>
        val spark = SparkSession.active
        spark.range(1).select(cols.map { case (n, e) => compileExpr(e).as(n) }: _*)
      case other => throw new IllegalStateException(s"esql: unexpected source $other")
    }
    val ts = cmds.head.isInstanceOf[TsFrom]
    cmds.tail.foldLeft(source)(applyCmd(_, _, resolve, policies, ts))
  } }

  /** Re-select a column BY NAME where the name is known to be a literal
    * top-level column of the frame — a generated STATS entry name like
    * `AVG(x) * 1.5`, a KEEP/DROP match, a FORK union column. Bare `col()`
    * reads dots as struct-field access, so an unnamed entry containing a
    * decimal literal would fail resolution; backticks pin the whole name
    * (embedded backticks escape by doubling, Spark's own rule).
    */
  private def qcol(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  private def isTsEntry(e: Expr): Boolean = e match {
    case Fn("RATE" | "INCREASE", _) => true
    case _ => false
  }

  private def isOverTimeEntry(e: Expr): Boolean = e match {
    case Fn(n, _) if n.endsWith("_OVER_TIME") => true
    case Fn(_, args) => args.exists(isOverTimeEntry)
    case _ => false
  }

  /** The TS gauge surface: `STATS out = MAX(MAX_OVER_TIME(gauge, series…))
    * BY dims, BUCKET(ts, 1 hour)` — the inner `*_OVER_TIME` aggregates
    * each time series within each bucket, the outer combines ACROSS
    * series (ES|QL's two-level TSDB rule). ES reads series identity from
    * the index mapping's dimension fields; this engine has no mapping, so
    * the inner function takes the series key columns EXPLICITLY after the
    * gauge — the RATE(ctr, tieBreak) precedent. Two hash aggregates, no
    * window, nothing collects.
    *
    * Loud rejects: LAST/FIRST_OVER_TIME (same-timestamp order is ES
    * arrival order — not reproducible); an inner call without an outer
    * aggregate; entries with differing series keys; mixing counter and
    * gauge entries in one STATS.
    */
  private def compileTsGauge(df: DataFrame,
      aggs: Seq[(String, Expr)], by: Seq[(String, Option[Expr])]): DataFrame = {
    val buckets = by.collect {
      case (n, Some(Fn("BUCKET", Seq(ColRef(tc), SpanLit(k, unit))))) => (n, tc, k, unit)
    }
    require(buckets.size == 1,
      "esql: a TS STATS needs exactly one BUCKET(tsCol, span) BY key")
    val (bname, tsCol, k, unit) = buckets.head
    require(k == 1 && Seq("minute", "hour", "day").contains(unit),
      s"esql: TS buckets are 1 minute|hour|day, got $k $unit")
    val dims = by.filterNot(_._1 == bname).map {
      case (n, None) => n
      case (n, Some(_)) => throw new IllegalArgumentException(
        s"esql: TS dimensions are plain columns (ES TSDB dimension fields), found <$n>")
    }
    require(dims.nonEmpty, "esql: a TS STATS needs at least one dimension BY key")
    val innerFns = Set("MIN", "MAX", "SUM", "AVG", "COUNT")
    // an entry may wrap its outer aggregate in ROUND(…, d) — the repo's
    // determinism idiom for cross-engine double averages
    def unwrapRound(e: Expr): (Expr, Option[Int]) = e match {
      case Fn("ROUND", Seq(inner, NumLit(d))) if isOverTimeEntry(inner) =>
        (inner, Some(d.toInt))
      case other => (other, None)
    }
    val parsed = aggs.map { case (n, e0) => (n, unwrapRound(e0)) }.zipWithIndex.map {
      case ((n, (Fn(outer, Seq(Fn(innerN, innerArgs))), rnd)), i)
          if innerN.endsWith("_OVER_TIME") =>
        require(innerFns.contains(outer),
          s"esql: the outer aggregate over $innerN must be MIN/MAX/SUM/AVG/COUNT, got $outer")
        val base = innerN.stripSuffix("_OVER_TIME")
        if (base == "LAST" || base == "FIRST") throw new IllegalArgumentException(
          s"esql: $innerN orders same-timestamp samples by ES arrival order — not " +
            "reproducible here; use MIN/MAX/SUM/AVG/COUNT_OVER_TIME")
        require(innerFns.contains(base), s"esql: unknown gauge function $innerN")
        val cols = innerArgs.map {
          case ColRef(c) => c
          case other => throw new IllegalArgumentException(
            s"esql: $innerN takes plain columns, found $other")
        }
        require(cols.size >= 2,
          s"esql: $innerN(gauge, seriesCol, …) — ES reads series identity from the " +
            "index mapping; pass the dimension columns explicitly (the RATE tie-break precedent)")
        (n, outer, base, cols.head, cols.tail, i, rnd)
      case ((n, (Fn(innerN, _), _)), _) if innerN.endsWith("_OVER_TIME") =>
        throw new IllegalArgumentException(
          s"esql: $innerN needs an outer aggregate — ES|QL's two-level TSDB rule " +
            s"(write e.g. MAX($innerN(…)))")
      case ((n, _), _) => throw new IllegalArgumentException(
        s"esql: a TS gauge STATS takes only OUTER(*_OVER_TIME(…)) entries, found <$n> — " +
          "run ordinary aggregates in a second STATS, and RATE/INCREASE in their own TS STATS")
    }
    require(parsed.map(_._5).distinct.size == 1,
      "esql: one series-key column set per TS STATS (one series model per index)")
    val series = parsed.head._5
    def aggFn(fn: String, c: Column): Column = fn match {
      case "MIN" => min(c); case "MAX" => max(c); case "SUM" => sum(c)
      case "AVG" => avg(c); case "COUNT" => count(c)
    }
    val bucket = date_trunc(unit, col(tsCol)).as(bname)
    val innerAggs = parsed.map { case (_, _, base, gauge, _, i, _) =>
      aggFn(base, col(gauge)).as(s"__in_$i")
    }
    val inner = df.groupBy((dims.map(col) :+ bucket) ++ series.map(col): _*)
      .agg(innerAggs.head, innerAggs.tail: _*)
    val outerAggs = parsed.map { case (n, outer, _, _, _, i, rnd) =>
      rnd match {
        // ROUND(AVG|SUM(…), d): a double sum is partition-order-dependent,
        // and rounding does NOT pin a value whose exact mean sits ON the
        // half boundary (sf0.01 has a group at exactly 36.36625 — the
        // round-18 driver/builder verify disagreement). Accumulate in
        // DECIMAL instead: per-series values quantize at scale d (the SAME
        // quantization the oracle's CAST(… AS DECIMAL(…,d)) applies — a
        // finite gauge quantized at ≤d decimals is the idiom's contract,
        // and both engines round the same stored double to scale d, so the
        // row step never diverges), the sum is exact, the mean rounds once
        // at scale d+4, and HALF_UP at d decimals of that is
        // order-independent (the exact mean's distance from any d-decimal
        // half boundary is 0 or ≥ 5·10^-(d+1)/n ≫ the d+4 re-rounding).
        // The oracle mirrors the exact-rational rounding via
        // avg-over-DECIMAL + a DECIMAL(…, d+4) re-quantization before its
        // round. Non-finite gauges reject loudly: the DECIMAL cast would
        // otherwise null them out of the aggregate silently, where the old
        // double path propagated them.
        case Some(d) if outer == "AVG" || outer == "SUM" =>
          val v = col(s"__in_$i")
          val finite = when(isnan(v) || v === Double.PositiveInfinity ||
              v === Double.NegativeInfinity,
              raise_error(lit(s"esql: ROUND($outer(…), $d) needs a finite " +
                "gauge — NaN/Infinity cannot round deterministically"))
                .cast("double"))
            .otherwise(v)
          val exact = aggFn(outer, finite.cast(
            org.apache.spark.sql.types.DecimalType(38, math.max(0, math.min(30, d)))))
          round(exact, d).cast("double").as(n)
        case _ =>
          val c = aggFn(outer, col(s"__in_$i"))
          rnd.map(d => round(c, d)).getOrElse(c).as(n)
      }
    }
    val out = inner.groupBy(dims.map(col) :+ col(bname): _*)
      .agg(outerAggs.head, outerAggs.tail: _*)
    // STATS column order: aggregates first, then the BY keys
    out.select(parsed.map(p => qcol(p._1)) ++ by.map(bk => qcol(bk._1)): _*)
  }

  /** A TS STATS with RATE/INCREASE entries — the ES|QL TSDB surface
    * (`TS idx | STATS rate(ctr) BY bucket, dims`, 8.18+) mapped onto
    * [[Aggs.timeSeriesCounterRate]]: reset-adjusted per-series increase
    * over fixed time buckets, rate = increase / bucket seconds. One
    * series-partitioned window + one hash aggregate — the front-end is
    * invisible to the result (g_time_series_rate's oracle verbatim).
    *
    * Shape constraints, each a loud reject: exactly ONE
    * `BUCKET(tsCol, 1 minute|hour|day)` BY key; at least one plain-column
    * dimension BY key (ES TSDB requires dimensions too); every entry
    * `RATE(ctr, tieBreak)` or `INCREASE(ctr, tieBreak)` over ONE shared
    * counter — the tie-break column is this engine's determinism delta
    * (ES orders same-timestamp samples by arrival, not reproducible);
    * ordinary aggregates ride a SECOND STATS after this one.
    */
  private def compileTsStats(df: DataFrame,
      aggs: Seq[(String, Expr)], by: Seq[(String, Option[Expr])]): DataFrame = {
    val buckets = by.collect {
      case (n, Some(Fn("BUCKET", Seq(ColRef(tc), SpanLit(k, unit))))) => (n, tc, k, unit)
    }
    require(buckets.size == 1,
      "esql: a TS STATS needs exactly one BUCKET(tsCol, span) BY key")
    val (bname, tsCol, k, unit) = buckets.head
    require(k == 1 && Seq("minute", "hour", "day").contains(unit),
      s"esql: TS buckets are 1 minute|hour|day (timeSeriesCounterRate's grid), got $k $unit")
    val dims = by.filterNot(_._1 == bname).map {
      case (n, None) => n
      case (n, Some(e)) => throw new IllegalArgumentException(
        s"esql: TS dimensions are plain columns (ES TSDB dimension fields), found <$n>")
    }
    require(dims.nonEmpty, "esql: a TS STATS needs at least one dimension BY key")
    val parsed = aggs.map {
      case (n, Fn(fn @ ("RATE" | "INCREASE"), Seq(ColRef(ctr), ColRef(tie)))) =>
        (n, fn, ctr, tie)
      case (n, Fn(fn @ ("RATE" | "INCREASE"), _)) =>
        throw new IllegalArgumentException(
          s"esql: $fn(counterCol, tieBreakCol) — the tie-break column is this " +
            "engine's determinism delta (ES orders same-timestamp samples by arrival)")
      case (n, _) => throw new IllegalArgumentException(
        s"esql: a TS STATS takes only RATE/INCREASE entries, found <$n> — " +
          "run ordinary aggregates in a second STATS after this one")
    }
    require(parsed.map(p => (p._3, p._4)).distinct.size == 1,
      "esql: one (counter, tieBreak) pair per TS STATS")
    val (_, _, ctr, tie) = parsed.head
    val base = Aggs.timeSeriesCounterRate(df, dims, tsCol, col(tie), ctr, interval = unit)
    val aggCols = parsed.map { case (n, fn, _, _) =>
      (if (fn == "RATE") col("rate") else col("increase")).as(n)
    }
    val keyCols = by.map { case (n, _) =>
      if (n == bname) col("bucket").as(n) else qcol(n)
    }
    base.select(aggCols ++ keyCols: _*)
  }

  // =====================================================================
  // KNN — the 8.18+/9.x vector-search function, legal only in WHERE
  // =====================================================================

  /** KNN appears anywhere in the expression — used both to route a WHERE
    * to [[compileKnnWhere]] and to reject KNN from positions where a
    * k-nearest cut is not a set operation.
    */
  private def containsKnn(e: Expr): Boolean = e match {
    case Fn("KNN", _) => true
    case Fn(_, args) => args.exists(containsKnn)
    case Bin(_, l, r) => containsKnn(l) || containsKnn(r)
    case Neg(x) => containsKnn(x)
    case NotE(x) => containsKnn(x)
    case InList(x, items, _) => containsKnn(x) || items.exists(containsKnn)
    case LikeE(x, _, _, _) => containsKnn(x)
    case IsNullE(x, _) => containsKnn(x)
    case AggWhere(a, c) => containsKnn(a) || containsKnn(c)
    case ArrLit(items) => items.exists(containsKnn)
    case MapLit(entries) => entries.exists(kv => containsKnn(kv._2))
    case _ => false
  }

  /** Flatten a top-level AND tree into its conjuncts. */
  private def splitAnd(e: Expr): Seq[Expr] = e match {
    case Bin("and", l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** A full-text function (MATCH/MATCH_PHRASE/QSTR/KQL) appears anywhere
    * in the expression — the `_score` wiring gate.
    */
  private def containsFullText(e: Expr): Boolean = e match {
    case Fn("MATCH" | "MATCH_PHRASE" | "QSTR" | "KQL" | "MULTI_MATCH", _) => true
    case Fn(_, args) => args.exists(containsFullText)
    case Bin(_, l, r) => containsFullText(l) || containsFullText(r)
    case Neg(x) => containsFullText(x)
    case NotE(x) => containsFullText(x)
    case ArrLit(items) => items.exists(containsFullText)
    case _ => false
  }

  /** Compile `WHERE … AND KNN(field, [qv…], {opts}) AND …` — ES|QL's
    * vector search (the `knn` query moved inside the pipe language,
    * 8.18 tech preview / 9.x GA).
    *
    * Semantics reproduced from ES|QL's documentation:
    *  - conjuncts in the SAME WHERE as KNN are PRE-filters — they restrict
    *    the candidate set BEFORE the k-nearest cut (ES's `knn` query
    *    `filter` behavior); conditions in LATER `WHERE` commands are
    *    post-filters over the k survivors. The two are observably
    *    different (a pre-filter admits the next-nearest into the k) —
    *    EsqlSpec pins the divergence.
    *  - KNN must be a BARE top-level conjunct: under NOT/OR a "k nearest"
    *    set has no row-predicate meaning (ES rejects it too).
    *  - with `METADATA _score` declared, KNN writes the documented
    *    transformed score; without it the cut is silent (filter context).
    *
    * Options map (ES's named options, 9.x `{…}` syntax):
    *  - `"k"`: neighbors to keep (ES default 10);
    *  - `"similarity"`: minimum RAW metric value (ES's knn threshold —
    *    raw space, not score space); only meaningful where the raw metric
    *    is a similarity (cosine/dot_product) — with l2_norm it rejects
    *    naming the distance/score ambiguity;
    *  - `"num_candidates"`: accepted and INERT — this is an EXACT scan
    *    (every candidate is examined), so any candidate budget is
    *    satisfied by construction;
    *  - `"boost"`: multiplies the written `_score` (ES query boost).
    *
    * Stated deltas (each an explicit option because ES reads it from the
    * `dense_vector` mapping this engine does not have):
    *  - `"metric"`: `cosine` (default) | `dot_product` | `l2_norm`, with
    *    ES's documented score transforms ((1+cos)/2, (1+dot)/2,
    *    1/(1+d²));
    *  - `"tiebreak"`: a column name ordering equal scores — REQUIRED (the
    *    RATE tie-break precedent: ES breaks score ties by internal doc
    *    order, which no oracle can restate).
    *
    * Scale shape: pre-filter → one row-local score projection → ONE
    * distributed top-k (`orderBy(…).limit(k)` =
    * `TakeOrderedAndProject`: per-partition heaps + a k-row driver
    * merge). No window, no join, no global sort — PlanSpec pins it.
    */
  private def compileKnnWhere(df: DataFrame, e: Expr): DataFrame = {
    val conjuncts = splitAnd(e)
    val (knns, pres) = conjuncts.partition(containsKnn)
    knns.foreach {
      case Fn("KNN", _) => ()
      case other => throw new IllegalArgumentException(
        "esql: KNN must be a bare top-level conjunct of WHERE (found it " +
          s"inside <$other>) — a k-nearest cut under NOT/OR is not a row predicate")
    }
    require(knns.length == 1,
      "esql: one KNN per WHERE — fuse multiple retrievers with FORK + FUSE")
    val args = knns.head.asInstanceOf[Fn].args
    val (field, vecItems, opts) = args match {
      case Seq(f @ ColRef(_), ArrLit(items), MapLit(entries)) => (f, items, entries)
      case Seq(ColRef(_), ArrLit(_)) => throw new IllegalArgumentException(
        "esql: KNN needs its options map — {\"k\": …, \"metric\": …, \"tiebreak\": …} " +
          "(metric and tiebreak have no mapping to read from here; stated seam)")
      case _ => throw new IllegalArgumentException(
        "esql: KNN(field, [query_vector…], {options}) — the query vector is a literal")
    }
    require(opts.map(_._1).distinct.size == opts.size,
      s"esql: duplicate KNN option keys in ${opts.map(_._1).mkString(", ")}")
    val optMap = opts.toMap
    val known = Set("k", "metric", "tiebreak", "similarity", "num_candidates", "boost")
    val unknown = optMap.keySet -- known
    require(unknown.isEmpty,
      s"esql: unknown KNN option(s) ${unknown.toSeq.sorted.mkString(", ")} " +
        s"(${known.toSeq.sorted.mkString(", ")})")
    def litLong(key: String): Option[Long] = optMap.get(key).map {
      case NumLit(t) if !t.contains('.') => t.toLong
      case other => throw new IllegalArgumentException(
        s"esql: KNN option $key must be an integer literal, found <$other>")
    }
    def litDouble(key: String): Option[Double] = optMap.get(key).map {
      case NumLit(t) => t.toDouble
      case Neg(NumLit(t)) => -t.toDouble
      case other => throw new IllegalArgumentException(
        s"esql: KNN option $key must be a numeric literal, found <$other>")
    }
    def litStr(key: String): Option[String] = optMap.get(key).map {
      case StrLit(v) => v
      case other => throw new IllegalArgumentException(
        s"esql: KNN option $key must be a string literal, found <$other>")
    }
    val k = litLong("k").getOrElse(10L)
    require(k > 0 && k <= 10000,
      s"esql: KNN k must be 1..10000 (ES's own bound), got $k")
    litLong("num_candidates") // validated for shape; inert — exact search
    val metric = litStr("metric").getOrElse("cosine")
    val tiebreak = litStr("tiebreak").getOrElse(throw new IllegalArgumentException(
      "esql: KNN needs {\"tiebreak\": \"<column>\"} — ES breaks score ties by " +
        "internal doc order, which is not reproducible; name a column"))
    val boost = litDouble("boost")
    val similarity = litDouble("similarity")
    val v = compileExpr(field).cast("array<double>")
    val qv = array(vecItems.map(compileExpr): _*).cast("array<double>")
    import graft.expr.VectorMath
    val raw: Column = metric match {
      case "cosine" => VectorMath.cosine(v, qv)
      case "dot_product" => VectorMath.dot(v, qv)
      case "l2_norm" =>
        require(similarity.isEmpty,
          "esql: KNN similarity with l2_norm is ambiguous (ES documents the " +
            "threshold in raw-similarity space; l2's raw value is a DISTANCE) — " +
            "use cosine/dot_product or post-filter on _score")
        // bound as the SQUARED distance — the score transform only ever
        // squares it back (1/(1+d²)), so the per-row sqrt is skipped and
        // the transform below uses it directly
        aggregate(zip_with(v, qv, (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)
      case other => throw new IllegalArgumentException(
        s"esql: unknown KNN metric '$other' (cosine, dot_product, l2_norm)")
    }
    // ES's documented _score transforms per metric.
    val score0: Column = metric match {
      case "cosine" | "dot_product" => (lit(1.0) + raw) / lit(2.0)
      // raw IS d² for l2 (above)
      case "l2_norm" => lit(1.0) / (lit(1.0) + raw)
    }
    val score = boost.map(b => score0 * lit(b)).getOrElse(score0)
    if (df.columns.contains("_score") && pres.exists(containsFullText))
      throw new IllegalArgumentException(
        "esql: KNN and full-text functions in one scored WHERE would have to " +
          "combine their scores — run them as FORK branches and FUSE instead")
    val pre = pres.map(compileExpr).reduceOption(_ && _)
    val base = pre.map(df.where).getOrElse(df)
    val thresholded = similarity.map(t => base.where(raw >= lit(t))).getOrElse(base)
    val cut = thresholded
      .withColumn("_knn_score", score)
      .orderBy(col("_knn_score").desc, col(tiebreak).asc)
      .limit(k.toInt)
    if (df.columns.contains("_score")) cut.withColumn("_score", col("_knn_score")).drop("_knn_score")
    else cut.drop("_knn_score")
  }

  /** `WHERE MATCH(field, "q") [AND …]` under `METADATA _score` — ES|QL's
    * relevance scoring (8.15+): every full-text function in WHERE
    * contributes its BM25 score to `_score` (Lucene's boolean-SHOULD sum
    * — multiple MATCH conjuncts add), non-scoring conjuncts filter as
    * usual.
    *
    * Contract and stated deltas:
    *  - scoring full-text functions must be BARE top-level AND conjuncts
    *    (scoring under OR/NOT needs per-branch zeroing ES resolves
    *    against its query tree — loud seam); MATCH scores as a term
    *    SHOULD-sum and MATCH_PHRASE as ONE pseudo-term whose TF is the
    *    phrase-occurrence count and whose DF is the phrase's own document
    *    frequency (Lucene PhraseQuery's scoring shape, the
    *    [[Bm25.Terms.phrase]] contract); QSTR/KQL stay filter-only (their
    *    grammars mix clause types whose per-clause scoring is the Bm25
    *    tier's job — loud seam naming it);
    *  - corpus statistics (DF, avgdl) are computed over the frame
    *    ENTERING this WHERE — ES uses index-level statistics, and the two
    *    are identical exactly when the scored WHERE directly follows
    *    FROM (the Kibana search-bar shape); a pre-filtered frame scores
    *    with the filtered statistics, stated;
    *  - k1/b are the ES defaults (1.2, 0.75) — the [[Bm25]] tier's
    *    constants, same fixed IEEE score tree, so the oracle restates
    *    operation-for-operation.
    *
    * Scale shape: ONE aggregate per MATCH conjunct for the 1-row corpus
    * stats, broadcast-crossJoined back ([[Bm25.scoringFrame]]) —
    * rows preserved, no window, no per-row subquery.
    */
  private def compileScoredWhere(df: DataFrame, e: Expr): DataFrame = {
    val conjuncts = splitAnd(e)
    val (fts, others) = conjuncts.partition {
      case Fn("MATCH" | "MATCH_PHRASE", _) => true
      case _ => false
    }
    others.find(containsFullText).foreach { c =>
      throw new IllegalArgumentException(
        "esql: with METADATA _score, only bare top-level MATCH/MATCH_PHRASE " +
          s"conjuncts score (found a full-text function inside <$c>) — scoring " +
          "under OR/NOT and QSTR/KQL scoring are not wired; drop METADATA " +
          "_score to use them as filters")
    }
    // filter first (every scored row matches its MATCH conjuncts), then
    // fold each MATCH's BM25 contribution into _score
    val filtered = df.where(compileExpr(e))
    fts.foldLeft(filtered) { (acc, ft) =>
      ft.asInstanceOf[Fn].args match {
        case Seq(f @ ColRef(_), StrLit(q)) =>
          val analyzer = graft.expr.TextMatch.AsciiAnalyzer
          val analyzed = analyzer.padded(compileExpr(f))
          val terms = ft.asInstanceOf[Fn].name match {
            case "MATCH" => Bm25.queryTerms(q, analyzer)
            // phrase = ONE pseudo-term: TF counts token positions where
            // the full sequence occurs, DF counts docs containing it
            case _ => Seq(analyzer.analyze(q).mkString(" "))
          }
          require(terms.exists(_.nonEmpty),
            s"esql: '${q}' has no analyzable terms")
          Bm25.scoringFrame(acc, acc.columns.toSeq, analyzed, terms,
              Bm25.corpusStats(df, analyzed, terms))
            .withColumn("_score", col("_score") +
              Bm25.scoreColumn(terms.map(_ => 1.0), Bm25.DefaultK1, Bm25.DefaultB))
            .drop(Bm25.workingColumns(terms.size): _*)
        case Seq(ColRef(_), StrLit(_), MapLit(_)) => throw new IllegalArgumentException(
          "esql: analyzer-optioned MATCH does not score — the BM25 statistics " +
            "and TF kernels run the standard analyzer; drop METADATA _score or " +
            "the {\"analyzer\": …} option")
        case _ => throw new IllegalArgumentException("esql: MATCH(field, \"query\")")
      }
    }
  }

  private def applyCmd(df: DataFrame, cmd: Cmd, resolve: String => DataFrame,
      policies: Map[String, EnrichPolicy], ts: Boolean = false): DataFrame = cmd match {
    case Stats(aggs, by) if aggs.exists(a => isTsEntry(a._2)) || aggs.exists(a => isOverTimeEntry(a._2)) =>
      require(ts,
        "esql: RATE/INCREASE and *_OVER_TIME are only valid in a TS query — start the program with TS, not FROM")
      val hasRate = aggs.exists(a => isTsEntry(a._2))
      val hasGauge = aggs.exists(a => isOverTimeEntry(a._2))
      if (hasRate && hasGauge) throw new IllegalArgumentException(
        "esql: counter (RATE/INCREASE) and gauge (*_OVER_TIME) entries have different " +
          "physical shapes — split them into separate TS STATS queries")
      if (hasRate) compileTsStats(df, aggs, by) else compileTsGauge(df, aggs, by)
    case Where(e) if containsKnn(e) => compileKnnWhere(df, e)
    case Where(e) if df.columns.contains("_score") && containsFullText(e) =>
      compileScoredWhere(df, e)
    case Where(e) => df.where(compileExpr(e))
    case Eval(cols) =>
      // sequential: a later assignment sees the earlier ones (ES|QL's rule)
      cols.foldLeft(df) { case (d, (n, e)) => d.withColumn(n, compileExpr(e)) }
    case Stats(aggs, by) =>
      val keyCols = by.map {
        case (n, Some(e)) => compileExpr(e).as(n)
        case (n, None) => col(n)
      }
      if (aggs.isEmpty) df.select(keyCols: _*).distinct()
      else {
        val aggCols = aggs.map { case (n, e) =>
          require(containsAgg(e),
            s"esql: STATS entries must be aggregate calls or expressions over them, found <$n>")
          compileAggExpr(e).as(n)
        }
        val grouped =
          if (by.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
          else df.groupBy(keyCols: _*).agg(aggCols.head, aggCols.tail: _*)
        // ES|QL column order: aggregates first, then the BY keys
        grouped.select((aggs.map(a => qcol(a._1)) ++ by.map(b => qcol(b._1))): _*)
      }
    case SortCmd(keys) =>
      val ordered = keys.map { case (e, asc, nullsFirst) =>
        val c = compileExpr(e)
        // ES|QL default: null sorts as larger than everything
        (asc, nullsFirst) match {
          case (true, None) => c.asc_nulls_last
          case (false, None) => c.desc_nulls_first
          case (true, Some(true)) => c.asc_nulls_first
          case (true, Some(false)) => c.asc_nulls_last
          case (false, Some(true)) => c.desc_nulls_first
          case (false, Some(false)) => c.desc_nulls_last
        }
      }
      df.orderBy(ordered: _*)
    case LimitCmd(n) => df.limit(n)
    case Keep(patterns) =>
      val cols = expandPatterns(patterns, df.columns.toSeq)
      require(cols.nonEmpty, s"esql: KEEP ${patterns.mkString(", ")} matches no columns")
      df.select(cols.map(qcol): _*)
    case DropCmd(patterns) =>
      val dropped = expandPatterns(patterns, df.columns.toSeq).toSet
      val remaining = df.columns.filterNot(dropped)
      require(remaining.nonEmpty, "esql: DROP would remove every column")
      df.select(remaining.map(qcol).toSeq: _*)
    case Rename(pairs) =>
      pairs.foldLeft(df) { case (d, (from, to)) =>
        require(d.columns.contains(from), s"esql: RENAME of unknown column '$from'")
        d.withColumnRenamed(from, to)
      }
    case MvExpand(c) =>
      require(df.columns.contains(c), s"esql: MV_EXPAND of unknown column '$c'")
      val others = df.columns.filterNot(_ == c).map(qcol)
      df.select((others :+ explode_outer(qcol(c)).as(c)).toSeq: _*)
        .select(df.columns.map(qcol).toSeq: _*) // original column order
    case Rerank(target, queryText, field, opts) =>
      // ES|QL RERANK with the engine's registered DETERMINISTIC scorers
      // in the inference_id slot:
      //   * "bm25": BM25 of the query against `field`, statistics over
      //     the CURRENT frame (the rerank window — same contract as the
      //     scored WHERE, frame-local by design);
      //   * "ngram-jaccard": word-bigram Jaccard between the query text
      //     and `field` — row-local, integer-exact counts.
      // A real model id rejects loudly (the inference seam). Stated
      // delta: ES re-sorts by the updated score internally; here the
      // score WRITES and the ordering stays explicit (SORT follows) —
      // rows and their order are preserved by the command itself.
      val optMap = opts.toMap
      require(opts.map(_._1).distinct.size == opts.size, "esql: duplicate RERANK option keys")
      val unknownOpts = optMap.keySet -- Set("inference_id")
      require(unknownOpts.isEmpty,
        s"esql: unknown RERANK option(s) ${unknownOpts.toSeq.sorted.mkString(", ")} (inference_id)")
      val scorerId = optMap.get("inference_id") match {
        case Some(StrLit(v)) => v
        case Some(other) => throw new IllegalArgumentException(
          s"esql: RERANK inference_id must be a string literal, found <$other>")
        case None => throw new IllegalArgumentException(
          "esql: RERANK needs {\"inference_id\": …} — registered scorers: bm25, ngram-jaccard")
      }
      val targetCol = target.getOrElse {
        require(df.columns.contains("_score"),
          "esql: RERANK with no target column writes _score — declare METADATA " +
            "_score or name one (RERANK s = \"query\" ON field …)")
        "_score"
      }
      val analyzer = graft.expr.TextMatch.AsciiAnalyzer
      scorerId match {
        case "bm25" =>
          val analyzed = analyzer.padded(col(field))
          val terms = Bm25.queryTerms(queryText, analyzer)
          require(terms.nonEmpty, s"esql: RERANK query '$queryText' has no analyzable terms")
          Bm25.scoringFrame(df, df.columns.toSeq, analyzed, terms,
              Bm25.corpusStats(df, analyzed, terms))
            .withColumn(targetCol,
              Bm25.scoreColumn(terms.map(_ => 1.0), Bm25.DefaultK1, Bm25.DefaultB))
            .drop(Bm25.workingColumns(terms.size): _*)
        case "ngram-jaccard" =>
          val qToks = analyzer.analyze(queryText)
          require(qToks.size >= 2,
            "esql: RERANK ngram-jaccard needs a 2+-token query (bigram shingles)")
          val qSh = qToks.sliding(2).map(_.mkString(" ")).toSeq.distinct
          // r18 optimization: one codegen'd kernel pass instead of the HOF
          // tree (array_intersect / array_distinct∘concat over a shingle
          // transform DUPLICATED into both branches — interpreted per
          // element, 16.7 s at sf0.1; see graft.expr.BigramJaccard's
          // scaladoc for the pinned-identical semantics). coalesce keeps
          // the null row's 0.0 score (the HOF form's `otherwise(empty)`).
          df.withColumn(targetCol, graft.expr.BigramJaccard(
            coalesce(analyzer.normalized(col(field)), lit("")), qSh))
        case other => throw new IllegalArgumentException(
          s"esql: RERANK inference_id '$other' is not a registered deterministic " +
            "scorer (bm25, ngram-jaccard) — model endpoints are the standing " +
            "inference seam, loud by design")
      }
    case Dissect(input, pattern, appendSep) =>
      val (rx, keys) = dissectRegex(pattern)
      val matched = col(input).rlike(rx)
      // group indices per output column, in pattern order; appends
      // concatenate their pieces under APPEND_SEPARATOR (a no-match row
      // nulls every output, appends included)
      val byName = keys.zipWithIndex.groupBy(_._1.name)
      keys.map(_.name).distinct.foldLeft(df) { (d, name) =>
        val pieces = byName(name).map { case (_, i) =>
          regexp_extract(col(input), rx, i + 1)
        }
        val value =
          if (pieces.size == 1) pieces.head
          else if (appendSep.isEmpty) concat(pieces: _*)
          else pieces.reduce((a, b) => concat(a, lit(appendSep), b))
        d.withColumn(name, when(matched, value))
      }
    case Grok(input, pattern) =>
      val (rx, keys) = grokRegex(pattern)
      val matched = col(input).rlike(rx)
      keys.zipWithIndex.foldLeft(df) { case (d, ((k, cast), i)) =>
        val raw = when(matched, regexp_extract(col(input), rx, i + 1))
        d.withColumn(k, cast.map(t => raw.cast(t)).getOrElse(raw))
      }
    case Enrich(policy, on, withCols) =>
      val p = policies.getOrElse(policy,
        throw new IllegalArgumentException(
          s"esql: unknown ENRICH policy '$policy' (have: ${policies.keys.toSeq.sorted.mkString(", ")})"))
      val wanted = if (withCols.nonEmpty) withCols else p.fields.map(f => (f, f))
      wanted.foreach { case (_, old) =>
        require(p.fields.contains(old),
          s"esql: ENRICH policy '$policy' does not provide field '$old' (provides: ${p.fields.mkString(", ")})")
      }
      // the enrich index is small and replicated in ES — broadcast is the
      // same decision made visible in the plan
      if (p.policyType == "range") {
        // range policy: the input value falls inside [low, high]. The
        // overlap guard rides the low column itself: a window over the
        // broadcast-SIZED policy table (its smallness is the policy
        // contract) compares each low bound against the running max of
        // earlier highs and raises on the first overlap — lazily, in
        // plan, before any row could silently multi-match.
        import org.apache.spark.sql.expressions.Window
        val w = Window.orderBy(col(p.rangeLowField), col(p.rangeHighField))
          .rowsBetween(Window.unboundedPreceding, -1)
        val guarded = p.table
          .withColumn("__prev_high", max(col(p.rangeHighField)).over(w))
          .withColumn("__low",
            when(col("__prev_high").isNotNull && col("__prev_high") >= col(p.rangeLowField),
              raise_error(concat(lit(s"esql: ENRICH range policy '$policy' has overlapping " +
                "ranges at low="), col(p.rangeLowField).cast("string"),
                lit(" — ES would answer with a multivalued field; split the ranges"))))
              .otherwise(col(p.rangeLowField)))
        val right = guarded.select(
          col("__low") +: col(p.rangeHighField).as("__high") +:
            wanted.map { case (nw, old) => col(old).as(nw) }: _*)
        df.join(broadcast(right),
            col(on) >= col("__low") && col(on) <= col("__high"), "left")
          .drop("__low", "__high")
      } else {
        val right = p.table.select(
          (col(p.matchField).as("__enrich_key")) +: wanted.map { case (nw, old) => col(old).as(nw) }: _*)
        df.join(broadcast(right), col(on) === col("__enrich_key"), "left")
          .drop("__enrich_key")
      }
    case LookupJoin(index, on) =>
      // ES|QL LOOKUP JOIN (8.18 GA): left join against a lookup-mode
      // index on SHARED column names; on a non-key name collision the
      // LOOKUP side's value wins (ES|QL's rule) — so colliding left
      // columns drop before the join. Lookup indices are single-shard
      // and replicated in ES; broadcast is the same decision.
      val right = resolve(index)
      on.foreach { k =>
        require(df.columns.contains(k),
          s"esql: LOOKUP JOIN key '$k' missing from the left side (have: ${df.columns.mkString(", ")})")
        require(right.columns.contains(k),
          s"esql: LOOKUP JOIN key '$k' missing from lookup index '$index'")
      }
      val collisions = right.columns.filterNot(on.contains).filter(df.columns.contains)
      df.drop(collisions.toSeq: _*)
        .join(broadcast(right), on.toSeq, "left")
    case InlineStats(aggs, by) =>
      // ES|QL INLINESTATS: STATS that APPENDS instead of collapsing.
      // Three compile shapes, all rows-preserving:
      //   * no BY keys → a 1-row aggregate crossJoin(broadcast(...)) —
      //     NOT an unpartitioned window, which would funnel the corpus
      //     through one task (the repo's standing global-stat idiom,
      //     e.g. ops/Drift.scala). Ordered-set aggregates come free.
      //   * BY + ordered-set aggregates (MEDIAN/PERCENTILE/TOP/VALUES/
      //     COUNT_DISTINCT, not window-computable in Spark) → the
      //     documented "STATS then LOOKUP JOIN the result back" rewrite,
      //     applied BY THE COMPILER: one hash aggregate on the keys +
      //     one broadcast join back (null-safe on the keys — a null BY
      //     key is a group, ES|QL's rule). Broadcast bound = the GROUP
      //     frame, same bound as ES|QL's own lookup-join rewrite.
      //   * BY + plain aggregates → a window aggregate over the keys
      //     (one exchange, no broadcast-size exposure at high key
      //     cardinality).
      // Computed BY keys materialize as columns first (they appear in
      // the output, ES|QL's rule); entry names overwrite existing
      // columns in place via withColumn in every shape.
      aggs.foreach { case (n, e) =>
        require(containsAgg(e),
          s"esql: INLINESTATS entries must be aggregate calls or expressions over them, found <$n>")
      }
      val withKeys = by.foldLeft(df) {
        case (d, (n, Some(e))) => d.withColumn(n, compileExpr(e))
        case (d, (n, None)) =>
          require(d.columns.contains(n), s"esql: INLINESTATS BY unknown column '$n'")
          d
      }
      if (aggs.isEmpty) withKeys
      else if (by.isEmpty) {
        val tmp = aggs.zipWithIndex.map { case ((_, e), i) =>
          compileAggExpr(e).as(s"__is_a$i") }
        val one = withKeys.agg(tmp.head, tmp.tail: _*)
        val joined = withKeys.crossJoin(broadcast(one))
        aggs.zipWithIndex.foldLeft(joined) { case (d, ((n, _), i)) =>
          d.withColumn(n, col(s"__is_a$i"))
        }.drop(aggs.indices.map(i => s"__is_a$i"): _*)
      } else {
        val orderedSet = Set("MEDIAN", "PERCENTILE", "TOP", "VALUES", "COUNT_DISTINCT")
        def hasOrderedSet(e: Expr): Boolean = e match {
          case Fn(n, _) if orderedSet.contains(n) => true
          case Fn(_, as) => as.exists(hasOrderedSet)
          case Bin(_, l, r) => hasOrderedSet(l) || hasOrderedSet(r)
          case Neg(x) => hasOrderedSet(x)
          case NotE(x) => hasOrderedSet(x)
          case AggWhere(inner, _) => hasOrderedSet(inner)
          case _ => false
        }
        val needJoin = aggs.zipWithIndex.filter { case ((_, e), _) => hasOrderedSet(e) }
        val joinedFrame =
          if (needJoin.isEmpty) withKeys
          else {
            val tmpAggs = needJoin.map { case ((_, e), i) =>
              compileAggExpr(e).as(s"__is_a$i") }
            val grouped = withKeys
              .groupBy(by.map(b => qcol(b._1)): _*)
              .agg(tmpAggs.head, tmpAggs.tail: _*)
            val right = grouped.select(
              by.zipWithIndex.map { case ((k, _), i) => qcol(k).as(s"__is_k$i") } ++
                needJoin.map { case (_, i) => col(s"__is_a$i") }: _*)
            val cond = by.zipWithIndex.map { case ((k, _), i) =>
              qcol(k) <=> col(s"__is_k$i") }.reduce(_ && _)
            withKeys.join(broadcast(right), cond, "left")
              .drop(by.indices.map(i => s"__is_k$i"): _*)
          }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(by.map(b => qcol(b._1)): _*)
        def overWindow(e: Expr): Column = e match {
          case AggWhere(inner, cond) =>
            val f = compileExpr(cond)
            def walk(x: Expr): Column = x match {
              case Fn(n, _) if AggNames.contains(n) => compileAgg(x, Some(f)).over(w)
              case Bin(op, l, r) => binOp(op, walk(l), walk(r))
              case Neg(y) => -walk(y)
              case NotE(y) => !walk(y)
              case Fn(name, args) => compileFn(name, args, walk)
              case other => compileExpr(other)
            }
            walk(inner)
          case Fn(n, _) if AggNames.contains(n) => compileAgg(e).over(w)
          case Bin(op, l, r) => binOp(op, overWindow(l), overWindow(r))
          case Neg(x) => -overWindow(x)
          case NotE(x) => !overWindow(x)
          case Fn(name, args) => compileFn(name, args, overWindow)
          case other => compileExpr(other)
        }
        val joinIdx = needJoin.map(_._2).toSet
        aggs.zipWithIndex.foldLeft(joinedFrame) { case (d, ((n, e), i)) =>
          if (joinIdx.contains(i)) d.withColumn(n, col(s"__is_a$i"))
          else d.withColumn(n, overWindow(e))
        }.drop(needJoin.map { case (_, i) => s"__is_a$i" }: _*)
      }
    case Fork(branches) =>
      // ES|QL FORK: the same input pushed through N sub-pipelines, results
      // unioned by name (missing columns null-filled) with the `_fork`
      // discriminator ES adds ("fork1", "fork2", …). Each branch is a
      // fold of the SAME lazy frame — Spark reuses the shared scan via
      // the exchange/subquery reuse rules; no materialization here.
      val runs = branches.zipWithIndex.map { case (cmds, i) =>
        cmds.foldLeft(df)(applyCmd(_, _, resolve, policies, ts))
          .withColumn("_fork", lit(s"fork${i + 1}"))
      }
      val unioned = runs.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
      // pin _fork as the LAST column (union order otherwise depends on
      // which branch dropped what)
      unioned.select((unioned.columns.filterNot(_ == "_fork").map(qcol) :+ col("_fork")).toSeq: _*)
    case Fuse("linear", idCol, scoreCol, _, norm, weights) =>
      // ES|QL FUSE linear (9.x): score MAGNITUDES fuse, not ranks — each
      // branch's scores optionally min-max normalized over ITS OWN frame
      // ((s − min)/(max − min); a degenerate branch (max = min)
      // normalizes to 1.0, every doc being the branch maximum — the
      // Hybrid.linearFusion convention), weighted per branch, summed per
      // id over a SORTED contribution array (the fixed-IEEE-tree
      // determinism rule FUSE rrf already follows). Branch min/max ride
      // ONE window exchange on _fork — frames here are post-FORK
      // page-sized, the same bound as rrf's rank window.
      require(df.columns.contains("_fork"),
        "esql: FUSE needs FORK's _fork column — fuse follows a fork")
      require(df.columns.contains(idCol), s"esql: FUSE ON unknown column '$idCol'")
      require(df.columns.contains(scoreCol), s"esql: FUSE SCORE unknown column '$scoreCol'")
      val lw = org.apache.spark.sql.expressions.Window.partitionBy(col("_fork"))
      val s = col(scoreCol).cast("double")
      val normed = norm match {
        case "minmax" =>
          val mn = min(s).over(lw)
          val mx = max(s).over(lw)
          when(mx === mn, lit(1.0)).otherwise((s - mn) / (mx - mn))
        case _ => s
      }
      val weighted =
        if (weights.isEmpty) normed
        else {
          // branch index from the fork label; a branch beyond the WEIGHTS
          // list raises rather than fusing a silent null
          val idx = substring(col("_fork"), 5, 10).cast("int")
          val wcol = weights.zipWithIndex
            .foldLeft(when(lit(false), lit(0.0))) { case (acc, (wv, i)) =>
              acc.when(idx === i + 1, lit(wv))
            }
            .otherwise(raise_error(concat(
              lit("esql: FUSE linear saw branch "), col("_fork"),
              lit(s" but WEIGHTS lists only ${weights.size}"))).cast("double"))
          normed * wcol
        }
      df.withColumn("_contrib", weighted)
        .groupBy(col(idCol))
        .agg(aggregate(array_sort(collect_list(col("_contrib"))),
          lit(0.0), (acc, x) => acc + x).as("_score"))
    case Fuse(_, idCol, scoreCol, rankK, _, _) =>
      // ES|QL FUSE (the rrf method): per-branch ranks from the score
      // (desc, id tiebreak), reciprocal-rank contributions summed per id.
      // The sum folds over a SORTED array of contributions — one fixed
      // IEEE tree per id regardless of aggregation order, the repo's
      // standing determinism rule (3+ branches would otherwise re-
      // associate run to run). Output: one row per id with the fused
      // `_score` (ES's output shape, minus unfetchable metadata columns).
      require(df.columns.contains("_fork"),
        "esql: FUSE needs FORK's _fork column — fuse follows a fork")
      require(df.columns.contains(idCol), s"esql: FUSE ON unknown column '$idCol'")
      require(df.columns.contains(scoreCol), s"esql: FUSE SCORE unknown column '$scoreCol'")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("_fork"))
        .orderBy(col(scoreCol).desc_nulls_last, col(idCol).asc)
      df.withColumn("_rank", row_number().over(w))
        .withColumn("_contrib", lit(1.0) / (lit(rankK) + col("_rank")))
        .groupBy(col(idCol))
        .agg(aggregate(array_sort(collect_list(col("_contrib"))),
          lit(0.0), (acc, x) => acc + x).as("_score"))
    case ChangePointCmd(valueCol, keyCol) =>
      // ES|QL CHANGE_POINT: rows pass through with `type`/`pvalue`
      // columns, non-null ONLY on the detected change row. Detection is
      // [[Aggs.changePoint]]'s deterministic mean-shift core (exact
      // cross-multiplied argmax; the documented no-ml delta: type is
      // always step_change, and the reported `pvalue` is the mean-shift
      // magnitude, NOT a probability — ES's ml typing needs its model).
      // The 1-row detection result joins back by broadcast.
      require(df.columns.contains(valueCol), s"esql: CHANGE_POINT unknown value column '$valueCol'")
      require(df.columns.contains(keyCol), s"esql: CHANGE_POINT ON unknown column '$keyCol'")
      val cp = Aggs.changePoint(df, keyCol, valueCol)
        .select(col("change_point").as("__cp_key"), col("delta").as("__cp_delta"))
      df.join(broadcast(cp), df(keyCol) === col("__cp_key"), "left")
        .withColumn("type", when(col("__cp_key").isNotNull, lit("step_change")))
        .withColumn("pvalue", col("__cp_delta"))
        .drop("__cp_key", "__cp_delta")
    case Sample(probability, on, seed) =>
      require(df.columns.contains(on), s"esql: SAMPLE ON unknown column '$on'")
      // seeded md5 unit hash (graft.ops.Sampling.hashUnit): portable,
      // partition-order-free, restatable in the oracle
      df.where(graft.ops.Sampling.hashUnit(col(on), seed) < probability)
    case other => throw new IllegalStateException(s"esql: $other is a source command, not a processing command")
  }
}
