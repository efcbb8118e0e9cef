package graft.query

/** Lucene `query_string` mini-grammar → [[FilterSpec]] compiler — the
  * Kibana search bar. Every saved dashboard the reference exports queries
  * through `query_string` with `analyze_wildcard: true`
  * (`notebooks/kibana-content/kibana-exported-visualizations.json`, each
  * `searchSourceJSON`), and the webapp's dictionary discovery issues
  * `query_string: {query: 'dict_field:*'}` (`services/webapp/src/
  * collections.js:79`) — so a user switching to this engine needs the
  * grammar, not just the widget compiler ([[FilterSpec]] Q1-Q9, which
  * this parser reuses node-for-node).
  *
  * Supported surface (the subset those dashboards and search bars use):
  *
  *  - boolean algebra: `AND`, `OR`, `NOT`, parentheses; adjacency is the
  *    default operator `OR` (Lucene's `default_operator` default);
  *    `NOT` binds tightest, then `AND`, then `OR`.
  *  - `+`/`-` clause prefixes with Lucene MATCHING semantics (this engine
  *    compiles to filters, so only matching — never scoring — is at
  *    stake): once an adjacency level contains a `+`(MUST) or
  *    `-`(MUST_NOT) clause, a doc must satisfy every must, no must-not,
  *    and — only when there is no must — at least one unprefixed SHOULD
  *    clause; with musts present the shoulds become scoring-only and stop
  *    constraining, exactly Lucene's BooleanQuery rule. A level with no
  *    `+`/`-` remains the usual boolean OR, and `NOT` remains a true
  *    boolean complement everywhere (the grammar's documented delta from
  *    Lucene's quirky word-NOT) — so `a -b` filters to `a AND NOT b`
  *    while `a NOT b` stays `a OR NOT b`.
  *  - `\`-escapes (Lucene's reserved-character escaping): `\X` anywhere
  *    outside quotes makes `X` a literal part of the term/field — so
  *    `desc:3\:00` queries a term containing a colon, `path:a\*b` a
  *    literal asterisk. The escaped character never acts as an operator,
  *    wildcard, fuzzy marker, separator, or quote. (Inside `"…"` nothing
  *    is special except the closing quote, as before.)
  *  - `field:term` — analyzed single-term match; bare terms hit
  *    `defaultField`.
  *  - `field:"a b"` — analyzed phrase; `"a b"~N` — sloppy phrase
  *    ([[FilterSpec.PhraseSlop]], ordered form, documented delta).
  *  - span/intervals proximity (ES exposes these only in the JSON DSL;
  *    the grammar names them): `"a b"~spanN` — `span_near` in_order with
  *    slop N ([[FilterSpec.SpanNear]]); `"a b"~nearN` — `span_near` any
  *    order; `"a b"~gapsN` — `intervals` match, `ordered` with
  *    `max_gaps: N` ([[FilterSpec.IntervalsMatch]]); `"a b"~anyN` — the
  *    unordered intervals form.
  *  - `field:pre*` — analyzed token prefix under `analyzeWildcard=true`
  *    (the reference's own setting); any other `*`/`?` shape — raw-field
  *    [[FilterSpec.Wildcard]] (ES's term-level wildcard query).
  *  - `field:*` — [[FilterSpec.Exists]]; a bare `*` — match_all (the
  *    dashboards' default query).
  *  - `field:term~N` / `field:term~` — fuzzy term, N ∈ {0,1,2}, bare `~`
  *    = 2 (Lucene's default max edits).
  *  - `field:[a TO b]` / `{a TO b}` — inclusive/exclusive range, sides
  *    mixable, `*` opens a side.
  *
  *  - `field:/pattern/` — Lucene regexp query over the RAW field value,
  *    implicitly anchored (full-value match), RE2-compatible dialect
  *    ([[FilterSpec.Regexp]]); backslash usage inside the literal is
  *    reconstructed from the scanner's escape tags so `\d` stays `\d`.
  *    A bare space would end the token — match whitespace with `\s` or a
  *    `[ ]` class (character classes ride whole through the scanner).
  *
  * Boosts (`^2`) are pure scoring, so they split by path: the FILTER
  * compile ([[parse]]) DELIBERATELY keeps them a loud parse error, not a
  * silent drop — in a filter compilation a dropped boost would silently
  * change nothing while LOOKING honored. The SCORING compile
  * ([[boostedTerms]], the `/search` route's `q`) honors them with their
  * real Lucene meaning: per-term BM25 weight multipliers
  * ([[Bm25.Terms.boosted]]). Escape reserved characters to query them
  * literally on either path.
  */
object QueryString {

  /** Parse `q` into a predicate AST. `defaultField` receives bare terms
    * and phrases (Kibana wires the index's default field here);
    * `analyzeWildcard` mirrors the searchSourceJSON flag — when set, a
    * single-trailing-`*` term analyzes to a token-prefix match instead of
    * a raw-field wildcard.
    */
  def parse(
      q: String,
      defaultField: String,
      analyzeWildcard: Boolean = true): FilterSpec =
    parseFields(q, Seq(defaultField), analyzeWildcard)

  /** The multi-field form — ES's `fields: ["title", "body"]` on
    * `query_string`: a BARE clause (no `field:` prefix) matches if it
    * matches ANY of the fields (ES expands it to a dis_max over per-field
    * clauses; in filter context dis_max matching IS the disjunction);
    * explicit `field:` clauses are unaffected. Boosts stay a loud parse
    * error on this filter path (the standing rule: a boost honored in a
    * filter compilation is a silent no-op that looks honored) — the
    * scoring path is [[graft.query.Bm25.multiMatchWeightedTopK]].
    */
  def parseFields(
      q: String,
      fields: Seq[String],
      analyzeWildcard: Boolean = true): FilterSpec = {
    require(fields.nonEmpty, "query_string: no fields")
    val toks = tokenize(q)
    if (toks.isEmpty) FilterSpec.MatchAll
    else {
      val p = new Parser(toks, fields, analyzeWildcard)
      val spec = p.orExpr()
      require(p.exhausted, s"query_string: unexpected '${p.peekRaw}' after a complete query in <$q>")
      spec
    }
  }

  /** The SCORING-path boost compile — `term^2` as per-term BM25 weights
    * for the `/search` route ([[Bm25.Terms.boosted]]). The filter path
    * ([[parse]]) keeps its loud boost rejection: a boost honored in a
    * FILTER compilation is a silent no-op that looks honored, but on the
    * scoring path a boost has its real Lucene meaning — it multiplies the
    * term's score contribution.
    *
    * Surface: a FLAT whitespace-separated term list, each term optionally
    * `^<number>`-boosted; `\`-escapes honored (`a\^2` is a literal term,
    * no boost). Structure (operators, groups, `field:`) is the filter
    * path's job and rejects loudly here. Terms analyze through
    * `analyzer`; duplicate analyzed terms collapse keeping the MAXIMUM
    * boost (the boosted twin of [[Bm25.queryTerms]]'s `.distinct`).
    */
  def boostedTerms(
      q: String,
      analyzer: graft.expr.TextMatch.Analyzer = graft.expr.TextMatch.AsciiAnalyzer)
      : Seq[(String, Double)] = {
    val BoostRx = "^(\\d+(?:\\.\\d+)?)$".r
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    tokenize(q).foreach {
      case u: Unit =>
        val cs = u.chars
        val raw = cs.map(_.c).mkString
        require(!cs.exists(e => !e.esc && e.c == ':'),
          s"query_string: fielded clause <$raw> on the scoring path — " +
            "boosted terms are bare; route structure through the filter")
        val caret = cs.indexWhere(e => !e.esc && e.c == '^')
        val (termCs, boost) =
          if (caret < 0) (cs, 1.0)
          else {
            val after = cs.drop(caret + 1)
            require(!after.exists(e => !e.esc && e.c == '^'),
              s"query_string: multiple boosts in <$raw>")
            after.map(_.c).mkString match {
              case BoostRx(n) => (cs.take(caret), n.toDouble)
              case bad => throw new IllegalArgumentException(
                s"query_string: malformed boost <^$bad> in <$raw>")
            }
          }
        val terms = analyzer.analyze(termCs.map(_.c).mkString)
        require(terms.nonEmpty,
          s"query_string: clause <$raw> has no analyzable term")
        terms.foreach { t =>
          out.update(t, out.get(t).map(math.max(_, boost)).getOrElse(boost))
        }
      case other => throw new IllegalArgumentException(
        s"query_string: operator/group <$other> on the scoring path — " +
          "boosted terms are a flat list; route structure through the filter")
    }
    require(out.nonEmpty, "query_string: no terms on the scoring path")
    out.toSeq
  }

  /** True when `q` carries any UNESCAPED boost caret in a term unit — the
    * /search route's dispatch test: caret-free queries keep the tolerant
    * bag-of-words scoring path (structure tokens scored as words, the
    * pre-boost route contract), boosted ones opt into [[boostedTerms]]'s
    * strict flat-list contract. Escapes honored (`a\^2` is caret-free);
    * a caret inside an operator/group query returns true and lets
    * [[boostedTerms]] reject it loudly.
    */
  def hasBoost(q: String): Boolean =
    tokenize(q).exists {
      case u: Unit => u.chars.exists(e => !e.esc && e.c == '^')
      case _ => false
    }

  // ===== scanner =====

  /** One character of a clause, tagged with whether it arrived
    * `\`-escaped — the tag is what lets every later structural decision
    * (separators, quotes, wildcards, fuzzy markers, prefixes) see only
    * UNESCAPED occurrences while the literal text keeps the character.
    */
  private final case class EChar(c: Char, esc: Boolean)

  private sealed trait Tok
  private case object LP extends Tok
  private case object RP extends Tok
  private case object AndTok extends Tok
  private case object OrTok extends Tok
  private case object NotTok extends Tok
  /** A field:value unit — escape-decoded characters, quotes/brackets kept
    * for the clause parser, escape FLAGS kept per character.
    */
  private final case class Unit(chars: Vector[EChar]) extends Tok {
    def text: String = chars.map(_.c).mkString
    override def toString: String = text
  }

  private def tokenize(q: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < q.length) {
      q(i) match {
        case c if c.isWhitespace => i += 1
        case '(' => out += LP; i += 1
        case ')' => out += RP; i += 1
        case _ =>
          val chars = Vector.newBuilder[EChar]
          var depth = 0 // inside [..] / {..}
          var quoted = false
          var done = false
          var escaped = false // saw a raw "AND"/"OR"/"NOT"? never: flag any escape
          while (i < q.length && !done) {
            val c = q(i)
            if (quoted) {
              // nothing is special inside quotes except the closing quote
              if (c == '"') quoted = false
              chars += EChar(c, esc = false); i += 1
            } else if (c == '\\') {
              require(i + 1 < q.length,
                s"query_string: dangling escape at end of <$q>")
              chars += EChar(q(i + 1), esc = true); escaped = true; i += 2
            } else if (c == '"') { quoted = true; chars += EChar(c, esc = false); i += 1 }
            else if (c == '[' || c == '{') { depth += 1; chars += EChar(c, esc = false); i += 1 }
            else if (c == ']' || c == '}') { depth -= 1; chars += EChar(c, esc = false); i += 1 }
            else if (depth == 0 && (c.isWhitespace || c == '(' || c == ')')) done = true
            else { chars += EChar(c, esc = false); i += 1 }
          }
          require(!quoted, s"query_string: unterminated quote in <$q>")
          require(depth == 0, s"query_string: unterminated range bracket in <$q>")
          val u = Unit(chars.result())
          u.text match {
            // an escaped AND/OR/NOT (`\AND`) is a term, not an operator
            case "AND" if !escaped => out += AndTok
            case "OR" if !escaped => out += OrTok
            case "NOT" if !escaped => out += NotTok
            case _ => out += u
          }
      }
    }
    out.result()
  }

  // ===== recursive descent =====

  /** Lucene BooleanQuery occurrence of a clause at its adjacency level. */
  private sealed trait Occur
  private case object Should extends Occur
  private case object Must extends Occur
  private case object MustNot extends Occur

  private final class Parser(
      toks: Vector[Tok], defaultFields: Seq[String], analyzeWildcard: Boolean) {
    private var pos = 0
    def exhausted: Boolean = pos >= toks.length
    def peekRaw: String = if (exhausted) "<end>" else toks(pos).toString
    private def peek: Option[Tok] = if (exhausted) None else Some(toks(pos))
    private def advance(): Tok = {
      require(!exhausted, "query_string: query ends where a clause is expected")
      val t = toks(pos); pos += 1; t
    }

    /** Resolve one adjacency level's (occur, spec) clauses to a filter.
      * With no `+`/`-` clause present, the level is the plain boolean OR
      * it always was (including `NOT x` parts — this grammar keeps `NOT`
      * a true boolean complement, the documented delta from Lucene's
      * quirky word-NOT). Once any MUST/MUST_NOT appears, the Lucene
      * BooleanQuery MATCHING rule applies: all musts, no must-nots;
      * shoulds constrain only when there is no must (then ≥ 1 should
      * must match), and are scoring-only — unconstraining — otherwise.
      */
    private def resolve(parts: Seq[(Occur, FilterSpec)]): FilterSpec = {
      val musts = parts.collect { case (Must, s) => s }
      val nots = parts.collect { case (MustNot, s) => FilterSpec.Not(s) }
      val shoulds = parts.collect { case (Should, s) => s }
      if (musts.isEmpty && nots.isEmpty) {
        if (shoulds.size == 1) shoulds.head else FilterSpec.Or(shoulds)
      } else {
        val shouldReq =
          if (musts.isEmpty && shoulds.nonEmpty)
            Seq(if (shoulds.size == 1) shoulds.head else FilterSpec.Or(shoulds))
          else Seq.empty // musts exist → shoulds are scoring-only
        val req = musts ++ shouldReq ++ nots
        if (req.size == 1) req.head else FilterSpec.And(req)
      }
    }

    /** orExpr := andExpr ((OR | adjacency) andExpr)* — adjacency is the
      * Lucene default operator (OR); `+`/`-` clauses override per
      * [[resolve]].
      */
    def orExpr(): FilterSpec = {
      val parts = Seq.newBuilder[(Occur, FilterSpec)]
      parts += andExpr()
      var more = true
      while (more) {
        peek match {
          case Some(OrTok) => advance(); parts += andExpr()
          case Some(LP) | Some(NotTok) | Some(Unit(_)) => parts += andExpr()
          case _ => more = false
        }
      }
      resolve(parts.result())
    }

    /** An AND chain: every clause is required. A chain that CONTAINS a
      * `+`/`-` clause surfaces as a MUST at the or level (the user opted
      * into Lucene occurrence semantics there); a plain chain stays a
      * SHOULD part, preserving the grammar's boolean-algebra reading of
      * explicit operators (`x AND y z` remains `(x AND y) OR z`).
      * Single clauses pass their own occurrence through.
      */
    private def andExpr(): (Occur, FilterSpec) = {
      val first = unary()
      if (!peek.contains(AndTok)) first
      else {
        val parts = Seq.newBuilder[FilterSpec]
        var modified = false
        def req(p: (Occur, FilterSpec)): FilterSpec = p match {
          case (MustNot, s) => modified = true; FilterSpec.Not(s)
          case (Must, s) => modified = true; s
          case (Should, s) => s
        }
        parts += req(first)
        while (peek.contains(AndTok)) { advance(); parts += req(unary()) }
        (if (modified) Must else Should, FilterSpec.And(parts.result()))
      }
    }

    private def unary(): (Occur, FilterSpec) = peek match {
      case Some(NotTok) =>
        advance()
        val (occ, spec) = unary()
        // NOT stays a true boolean complement (documented delta from
        // Lucene's word-NOT); NOT of a must-not folds: NOT -x ≡ NOT NOT x
        (Should, FilterSpec.Not(
          if (occ == MustNot) FilterSpec.Not(spec) else spec))
      case Some(u: Unit) if !u.chars.head.esc && (u.text == "+" || u.text == "-") =>
        // a bare +/- unit: Lucene's `+(...)` / `-(...)` group prefix
        require(pos + 1 < toks.length && toks(pos + 1) == LP,
          s"query_string: dangling '${u.text}' (expected '(' or a term)")
        advance()
        val spec = primary()
        (if (u.text == "+") Must else MustNot, spec)
      case Some(u: Unit)
          if u.chars.nonEmpty && !u.chars.head.esc &&
            (u.chars.head.c == '+' || u.chars.head.c == '-') &&
            u.chars.length > 1 =>
        advance()
        val spec = clause(Unit(u.chars.tail), u.text)
        (if (u.chars.head.c == '+') Must else MustNot, spec)
      case _ => (Should, primary())
    }

    private def primary(): FilterSpec = advance() match {
      case LP =>
        val inner = orExpr()
        require(!exhausted && toks(pos) == RP,
          s"query_string: expected ')' but found $peekRaw")
        pos += 1
        // Lucene's group minimum_should_match: `(a b c)~2` — at least N
        // of the group's should clauses must match. Only a pure
        // adjacency/OR group has "should clauses" to count. The suffix
        // takes the FULL ES msm spec grammar — `~2`, `~-1`, `~75%`,
        // `~-25%`, `~3<90%` — resolved to one integer against the static
        // clause count ([[FilterSpec.MinShouldMatch.resolve]], which
        // rejects degenerate results loudly).
        peek match {
          case Some(u: Unit)
              if u.chars.length > 1 && !u.chars.head.esc && u.chars.head.c == '~' &&
                u.chars.tail.forall(e =>
                  !e.esc && (e.c.isDigit || e.c == '-' || e.c == '%' || e.c == '<')) =>
            advance()
            val specs = inner match {
              case FilterSpec.Or(ss) => ss
              case single => Seq(single)
            }
            val n = FilterSpec.MinShouldMatch.resolve(u.text.drop(1), specs.size)
            FilterSpec.MinShouldMatch(n, specs)
          case _ => inner
        }
      case u: Unit => clause(u, u.text)
      case t => throw new IllegalArgumentException(
        s"query_string: expected a clause but found $t")
    }

    // ===== clause classification =====
    // Every structural test below looks only at UNESCAPED characters; the
    // literal text (escapes already decoded) is what reaches the spec.

    private def lit(cs: Seq[EChar]): String = cs.map(_.c).mkString

    private def hasUnescaped(cs: Seq[EChar], p: Char => Boolean): Boolean =
      cs.exists(e => !e.esc && p(e.c))

    private def clause(u: Unit, raw: String): FilterSpec = {
      require(!hasUnescaped(u.chars, c => c == '^'),
        s"query_string: unsupported syntax in clause <$raw> " +
          "(boosts; escape with \\ to query the character)")
      colonSplit(u.chars) match {
        case Some((field, value)) => fielded(lit(field), value, raw)
        case None =>
          // bare clause: ANY of the default fields may match (the ES
          // multi-field dis_max, which in filter context is the
          // disjunction); one field stays the plain single compile
          val per = defaultFields.map(f => fielded(f, u.chars, raw))
          if (per.size == 1) per.head else FilterSpec.Or(per)
      }
    }

    /** First unescaped ':' outside quotes — Lucene field separator. */
    private def colonSplit(cs: Vector[EChar]): Option[(Vector[EChar], Vector[EChar])] = {
      var i = 0
      var quoted = false
      while (i < cs.length) {
        val e = cs(i)
        if (!e.esc && e.c == '"') quoted = !quoted
        else if (!e.esc && e.c == ':' && !quoted)
          return Some((cs.take(i), cs.drop(i + 1)))
        i += 1
      }
      None
    }

    private def fielded(field: String, value: Vector[EChar], raw: String): FilterSpec = {
      require(value.nonEmpty, s"query_string: empty value in clause <$raw>")
      val text = lit(value)
      def unesc(c: Char): Boolean = !value.exists(e => !e.esc && e.c == c) // no unescaped c
      if (!value.head.esc && value.head.c == '/') {
        // Lucene regexp literal `field:/pattern/` — the pattern text
        // reconstructs the ORIGINAL backslash usage from the escape tags
        // (the scanner decoded `\d` to an escaped 'd'; a regex needs the
        // backslash back).
        require(value.length >= 2 && !value.last.esc && value.last.c == '/',
          s"query_string: unterminated regexp literal in <$raw>")
        val pattern = value.slice(1, value.length - 1)
          .map(e => if (e.esc) "\\" + e.c else e.c.toString).mkString
        require(pattern.nonEmpty, s"query_string: empty regexp in <$raw>")
        FilterSpec.Regexp(field, pattern)
      }
      else if (hasUnescaped(value, _ == '/'))
        throw new IllegalArgumentException(
          s"query_string: stray '/' in clause <$raw> — regexps are " +
            "field:/pattern/; escape with \\ to query the character")
      else if (!value.head.esc && value.head.c == '"') phraseClause(field, value, raw)
      else if (!value.head.esc && (value.head.c == '[' || value.head.c == '{'))
        rangeClause(field, text, raw)
      else if (text == "*" && !value.head.esc) {
        if (raw.contains(':')) FilterSpec.Exists(field) else FilterSpec.MatchAll
      } else {
        // fuzzy suffix: a trailing UNESCAPED `~` + optional digits
        val tilde = value.lastIndexWhere(e => !e.esc && e.c == '~')
        val digitsAfter = tilde >= 0 && value.drop(tilde + 1).forall(e => !e.esc && e.c.isDigit)
        if (tilde >= 0 && digitsAfter) {
          val term = value.take(tilde)
          require(term.nonEmpty &&
            !hasUnescaped(term, c => c == '*' || c == '?' || c == '~'),
            s"query_string: fuzzy applies to a plain term, got <$raw>")
          val edits = lit(value.drop(tilde + 1))
          FilterSpec.FuzzyTerm(field, lit(term), if (edits.isEmpty) 2 else edits.toInt)
        } else if (analyzeWildcard && !value.last.esc && value.last.c == '*' &&
            !hasUnescaped(value.dropRight(1), c => c == '*' || c == '?') &&
            value.length > 1) {
          FilterSpec.AnalyzedPrefix(field, lit(value.dropRight(1)))
        } else if (hasUnescaped(value, c => c == '*' || c == '?')) {
          // Escape-aware: reconstruct the ORIGINAL backslash usage from
          // the escape tags (as the regexp branch does) so a clause mixing
          // an escaped and a live wildcard — `a\*b?` — keeps the escaped
          // `*` LITERAL. The decoded `text` would hand Wildcard a live
          // star, violating the documented contract that an escaped
          // character never acts as a wildcard; Wildcard.toLike honors
          // the `\`-escapes this reconstruction preserves.
          val pattern = value.map(e => if (e.esc) "\\" + e.c else e.c.toString).mkString
          FilterSpec.Wildcard(field, pattern)
        } else {
          require(unesc('~'),
            s"query_string: malformed fuzzy suffix in <$raw>")
          FilterSpec.TermMatch(field, text)
        }
      }
    }

    private val PhraseRx = "^\"([^\"]*)\"(?:~(near|span|gaps|any)?(\\d+))?$".r

    /** Quoted-phrase clause family. Bare `~N` is the sloppy phrase; the
      * word-suffixed forms are the span/intervals proximity family — ES
      * exposes these only in the JSON DSL, so the grammar gives them
      * typable names: `~spanN` = span_near in_order, `~nearN` = span_near
      * any-order, `~gapsN` = intervals match ordered max_gaps,
      * `~anyN` = intervals match unordered.
      */
    private def phraseClause(field: String, value: Vector[EChar], raw: String): FilterSpec =
      lit(value) match {
        case PhraseRx(phrase, null, null) => FilterSpec.Phrase(field, phrase)
        case PhraseRx(phrase, null, slop) => FilterSpec.PhraseSlop(field, phrase, slop.toInt)
        case PhraseRx(phrase, "span", slop) =>
          FilterSpec.SpanNear(field, analyzedTerms(phrase, raw), slop.toInt, inOrder = true)
        case PhraseRx(phrase, "near", slop) =>
          FilterSpec.SpanNear(field, analyzedTerms(phrase, raw), slop.toInt, inOrder = false)
        case PhraseRx(phrase, "gaps", slop) =>
          FilterSpec.IntervalsMatch(field, phrase, slop.toInt, ordered = true)
        case PhraseRx(phrase, "any", slop) =>
          FilterSpec.IntervalsMatch(field, phrase, slop.toInt, ordered = false)
        case _ => throw new IllegalArgumentException(
          s"query_string: malformed phrase in <$raw>")
      }

    private def analyzedTerms(phrase: String, raw: String): Seq[String] = {
      val ts = graft.expr.TextMatch.analyze(phrase)
      require(ts.nonEmpty, s"query_string: no analyzable span terms in <$raw>")
      ts
    }

    private val RangeRx = "^([\\[{])\\s*(\\S+)\\s+TO\\s+(\\S+)\\s*([\\]}])$".r

    private def rangeClause(field: String, value: String, raw: String): FilterSpec =
      value match {
        case RangeRx(l, lo, hi, r) =>
          FilterSpec.TermRange(field,
            if (lo == "*") None else Some(lo),
            if (hi == "*") None else Some(hi),
            loInclusive = l == "[", hiInclusive = r == "]")
        case _ => throw new IllegalArgumentException(
          s"query_string: malformed range in <$raw> (expected [a TO b])")
      }
  }
}
