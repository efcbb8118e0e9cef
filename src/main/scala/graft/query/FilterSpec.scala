package graft.query

import graft.expr.TextMatch
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Search-predicate AST — the engine-level restatement of the webapp's
  * widget-to-Elasticsearch query compiler
  * (`services/webapp/src/collections.js:146-257`, SURVEY.md §2.4 Q1-Q9).
  *
  * Each widget type contributes one predicate form; the data dictionary's
  * `dict_vartype` decides which form a field supports. `compile` produces a
  * boolean `Column` (Catalyst folds and pushes it down — the ES `bool.must`
  * becomes plain Column conjunction); `render` reproduces the webapp's
  * human-readable Lucene-ish display text.
  */
sealed trait FilterSpec {
  /** Q7: predicate compilation — AND of all member predicates. */
  def compile: Column

  /** Q9: display-text rendering (`collections.js:209-257`). */
  def render: String

  /** Fields this predicate reads — the input to the rollup covering check
    * ([[graft.query.PreAgg.covers]]): a filter is rollup-servable iff
    * every field here is a rollup dimension.
    */
  def fields: Seq[String]
}

object FilterSpec {

  private def escName(name: String): String = name.replaceAll("\\s", "\\\\ ")

  /** Escape query_string-reserved characters so a rendered TERM re-parses
    * to the same spec ([[QueryString]]'s `\`-escape rules): every
    * character that could act as an operator, separator, wildcard, fuzzy
    * marker, quote, bracket, or escape gets a leading backslash.
    */
  private[query] def escTerm(t: String): String =
    t.flatMap { c =>
      if (c.isWhitespace || "\\+-!(){}[]^\"~*?:/".indexOf(c.toInt) >= 0) s"\\$c"
      else c.toString
    }

  /** Q1 — no enabled widgets: `match_all` (`collections.js:147,197-199`). */
  case object MatchAll extends FilterSpec {
    def compile: Column = lit(true)
    def render: String = "*"
    def fields: Seq[String] = Seq.empty
  }

  /** Q2 — numeric range slider `[lo, hi]`, both ends inclusive
    * (`collections.js:158-160`).
    */
  final case class NumericRange(field: String, lo: Double, hi: Double) extends FilterSpec {
    def compile: Column = col(field) >= lo && col(field) <= hi
    def render: String = {
      val n = escName(field)
      s"$n:>=${fmtNum(lo)} AND $n:<=${fmtNum(hi)}"
    }
    def fields: Seq[String] = Seq(field)
  }

  /** Q3 — enum multi-select compiles to IN (the ES `bool.should` +
    * `minimum_should_match:1` is an OR, `collections.js:161-174`).
    */
  final case class EnumIn(field: String, values: Seq[String]) extends FilterSpec {
    def compile: Column = col(field).isin(values: _*)
    def render: String = {
      val n = escName(field)
      // Reference quirk kept: the enum clause starts with a space and only
      // parenthesizes when multi-valued (`collections.js:226-237`).
      val inner = " " + values.map(v => s"""$n:"$v"""").mkString(" OR ")
      if (values.length > 1) s"($inner)" else inner
    }
    def fields: Seq[String] = Seq(field)
  }

  /** Q4 — boolean radio compiles to equality against 0/1
    * (`collections.js:175-177`; value coding `views.js:241-250`).
    */
  final case class BoolEq(field: String, value: Int) extends FilterSpec {
    def compile: Column = col(field) === value
    def render: String = s"${escName(field)}:$value"
    def fields: Seq[String] = Seq(field)
  }

  /** Q5 — datetime range in epoch millis (`collections.js:178-184`); default
    * widget span is `[0, now]` (`models.js:65-69`).
    */
  final case class DateTimeRange(field: String, fromMillis: Long, toMillis: Long) extends FilterSpec {
    def compile: Column = {
      val c = col(field)
      c >= timestamp_millis(lit(fromMillis)) && c <= timestamp_millis(lit(toMillis))
    }
    def render: String = {
      val n = escName(field)
      s"$n:>=$fromMillis AND $n:<=$toMillis"
    }
    def fields: Seq[String] = Seq(field)
  }

  /** Q6 — text phrase-prefix over the analyzed (`.split`) form of the field
    * (`collections.js:185-191`; dual-field mapping `esindex.py:70-97`).
    * Semantics per SURVEY.md §7.4: lowercase, split on non-alphanumeric; the
    * query terms must appear contiguously with the last term as a prefix.
    */
  final case class PhrasePrefix(field: String, query: String) extends FilterSpec {
    def compile: Column = TextMatch.phrasePrefix(col(field), query)
    def render: String = s"""${escName(field)}:"* $query*""""
    def fields: Seq[String] = Seq(field)
  }

  /** Q7 — conjunction of all enabled widgets (`collections.js:194-199`). */
  final case class And(specs: Seq[FilterSpec]) extends FilterSpec {
    def compile: Column =
      if (specs.isEmpty) MatchAll.compile else specs.map(_.compile).reduce(_ && _)
    def render: String =
      if (specs.isEmpty) MatchAll.render else specs.map(_.render).mkString(" AND ")
    def fields: Seq[String] = specs.flatMap(_.fields).distinct
  }

  // ===== query_string nodes (round-13 fifth batch) =====
  //
  // The Kibana search bar issues Lucene `query_string` queries — the
  // reference's own saved dashboards carry `query_string` +
  // `analyze_wildcard: true` in every searchSourceJSON
  // (`notebooks/kibana-content/kibana-exported-visualizations.json`), and
  // the webapp itself queries `dict_field:*` (`collections.js:79`). The
  // nodes below complete the predicate algebra that grammar compiles to
  // ([[QueryString.parse]]); analyzed matching runs the documented ASCII
  // analyzer (SURVEY §7.4) via [[graft.expr.TextMatch]].

  /** Disjunction — `bool.should` with `minimum_should_match: 1`. */
  final case class Or(specs: Seq[FilterSpec]) extends FilterSpec {
    require(specs.nonEmpty, "Or of zero clauses")
    def compile: Column = specs.map(_.compile).reduce(_ || _)
    def render: String = specs.map(_.render).mkString("(", " OR ", ")")
    def fields: Seq[String] = specs.flatMap(_.fields).distinct
  }

  /** The general N-of-M should group — ES `bool.should` with
    * `minimum_should_match: n` (Lucene's classic `(a b c)~2` group
    * syntax, which [[QueryString]] parses and this renders): a document
    * matches iff at least `minMatch` of the clauses do. Null clause
    * results count as non-matching (the [[Not]] three-valued-logic
    * discipline). Compiles to one codegen'd integer sum — no join, no
    * per-clause pass.
    */
  final case class MinShouldMatch(minMatch: Int, specs: Seq[FilterSpec]) extends FilterSpec {
    require(minMatch >= 1, s"minimum_should_match must be >= 1, got $minMatch")
    require(specs.nonEmpty, "MinShouldMatch of zero clauses")
    def compile: Column =
      specs.map(s => when(coalesce(s.compile, lit(false)), lit(1)).otherwise(lit(0)))
        .reduce(_ + _) >= minMatch
    def render: String = specs.map(_.render).mkString("(", " ", ")") + s"~$minMatch"
    def fields: Seq[String] = specs.flatMap(_.fields).distinct
  }

  object MinShouldMatch {
    private val IntRx = "^(-?\\d+)$".r
    private val PctRx = "^(-?\\d+)%$".r
    // The conditional's spec side is ATOMIC (int/-int/pct/-pct): a nested
    // `2<3<90%` must NOT parse — ES combines conditionals as
    // space-separated CHAINS with a largest-k rule (below), which is a
    // different algebra from left-to-right nesting, so an open-ended
    // rest group here would silently accept chains with the wrong
    // semantics.
    private val CondRx = "^(\\d+)<(-?\\d+%?)$".r

    /** Resolve an ES `minimum_should_match` SPEC STRING against a clause
      * count `n` — the full documented grammar (driver-side: `n` is
      * static at compile time, so every form folds to one integer):
      *
      *  - positive integer `3`: that many;
      *  - negative integer `-2`: `n − 2` (that many clauses OPTIONAL);
      *  - percentage `75%`: `⌊n · 0.75⌋`;
      *  - negative percentage `-25%`: `n − ⌊n · 0.25⌋`;
      *  - conditional `k<spec`: for `n ≤ k` ALL clauses required
      *    (`msm = n`), otherwise `spec` (atomic, one of the forms above)
      *    applies;
      *  - conditional CHAIN `k1<spec1 k2<spec2 …` (space-separated — the
      *    ES "multiple combinations" form, JSON-DSL/programmatic only;
      *    the typable grammar's group suffix carries a single unit): the
      *    spec attached to the LARGEST `k` below `n` applies, and
      *    `n ≤ min k` requires ALL clauses. The documentation's
      *    `2<-25% 9<-3`: 1-2 clauses → all; 3-9 → 25% optional;
      *    10+ → 3 optional.
      *
      * A spec resolving outside `[1, n]` is rejected loudly: ES/Lucene
      * silently clamp (≤0 behaves as pure OR; >n can never match) and a
      * silently-degenerate group is exactly the bug class this engine
      * refuses elsewhere (the boost-in-filter discipline). Malformed
      * chains — a non-conditional part, a duplicated `k` — reject the
      * same way.
      */
    def resolve(spec: String, n: Int): Int = {
      require(n >= 1, s"minimum_should_match: no clauses to count (n=$n)")
      def atomic(one: String): Int = one match {
        case IntRx(s) =>
          val i = s.toInt
          if (i >= 0) i else n + i
        case PctRx(s) =>
          val p = s.toInt
          if (p >= 0) n * p / 100
          else n - (n * -p / 100)
        case CondRx(k, rest) =>
          if (n <= k.toInt) n else atomic(rest)
        case other => throw new IllegalArgumentException(
          s"minimum_should_match: unsupported spec <$other> " +
            "(integer, -integer, pct%, k<spec, or a space-separated " +
            "k<spec chain)")
      }
      val v = spec.trim.split("\\s+").toSeq.filter(_.nonEmpty) match {
        case Seq() => throw new IllegalArgumentException(
          "minimum_should_match: empty spec")
        case Seq(one) => atomic(one)
        case chain =>
          val conds = chain.map {
            case CondRx(k, rest) => k.toInt -> rest
            case other => throw new IllegalArgumentException(
              s"minimum_should_match: chain part <$other> is not a " +
                "k<spec conditional — chains combine conditionals only")
          }
          require(conds.map(_._1).distinct.size == conds.size,
            s"minimum_should_match: chain <$spec> repeats a clause-count " +
              "bound — which spec applies there would be ambiguous")
          conds.filter(_._1 < n).sortBy(_._1).lastOption match {
            case None => n // n at or below every bound: all required
            case Some((_, rest)) => atomic(rest)
          }
      }
      require(v >= 1 && v <= n,
        s"minimum_should_match: spec <$spec> resolves to $v of $n clauses — " +
          "a group that would be pure OR (< 1) or could never match (> n); " +
          "say what you mean")
      v
    }
  }

  /** ES `terms_set` — a terms match whose minimum_should_match comes FROM
    * THE DOCUMENT (`minimum_should_match_field`, the "required skills"
    * idiom: a job row states how many of the query's terms it needs): the
    * doc matches when at least `msmField`-many of `terms` appear as
    * analyzed tokens of `field`. Docs with a NULL threshold never match
    * (ES skips them). One codegen'd integer sum against a per-row bound —
    * no join. Display form: `field:(t1 t2)~@msmField` (no Lucene syntax
    * exists for terms_set; the `~@` marks the field-sourced threshold).
    */
  final case class TermsSet(field: String, terms: Seq[String], msmField: String) extends FilterSpec {
    require(terms.nonEmpty, "TermsSet of zero terms")
    def compile: Column =
      terms.map(t =>
          when(coalesce(TextMatch.containsToken(col(field), t), lit(false)), lit(1))
            .otherwise(lit(0)))
        .reduce(_ + _) >= coalesce(col(msmField).cast("int"), lit(Int.MaxValue))
    def render: String =
      terms.map(escTerm).mkString(s"${escName(field)}:(", " ", s")~@${escName(msmField)}")
    def fields: Seq[String] = Seq(field, msmField)
  }

  /** Negation — `bool.must_not`. Lucene semantics: a document matches iff
    * the inner clause does NOT (nulls in the inner predicate count as
    * non-matching, hence match here — the `coalesce` keeps three-valued
    * SQL logic from silently dropping null rows ES would return).
    */
  final case class Not(spec: FilterSpec) extends FilterSpec {
    def compile: Column = !coalesce(spec.compile, lit(false))
    def render: String = s"NOT ${spec.render}"
    def fields: Seq[String] = spec.fields
  }

  /** Analyzed single-term match — ES `match` with a one-term query (the
    * query_string bare `field:term` clause): the term appears as a
    * complete token of the analyzed field.
    */
  final case class TermMatch(field: String, term: String) extends FilterSpec {
    def compile: Column = TextMatch.containsToken(col(field), term)
    def render: String = s"${escName(field)}:${escTerm(term)}"
    def fields: Seq[String] = Seq(field)
  }

  /** Analyzed token-prefix match — a trailing-`*` term under Kibana's
    * `analyze_wildcard: true` (the reference's own searchSourceJSON
    * setting): some token of the analyzed field starts with `prefix`.
    */
  final case class AnalyzedPrefix(field: String, prefix: String) extends FilterSpec {
    def compile: Column = TextMatch.phrasePrefix(col(field), prefix)
    def render: String = s"${escName(field)}:${escTerm(prefix)}*"
    def fields: Seq[String] = Seq(field)
  }

  /** ES `match_bool_prefix` — the query behind `search_as_you_type`'s
    * bool_prefix mode, i.e. the search bar mid-keystroke: every analyzed
    * term must appear somewhere in the field (any positions, any order —
    * the delta from the CONTIGUOUS `match_phrase_prefix` / Q6), except
    * the LAST term, which matches as a token prefix (the word still
    * being typed). A pure composition of proven nodes: AND of
    * [[TermMatch]]es plus a trailing [[AnalyzedPrefix]].
    */
  def matchBoolPrefix(field: String, query: String): FilterSpec = {
    val ts = TextMatch.analyze(query)
    require(ts.nonEmpty, s"match_bool_prefix: query '$query' has no analyzable terms")
    if (ts.size == 1) AnalyzedPrefix(field, ts.head)
    else And(ts.init.map(t => TermMatch(field, t): FilterSpec) :+
      (AnalyzedPrefix(field, ts.last): FilterSpec))
  }

  /** Exact analyzed phrase — `field:"a b"`: the tokens appear contiguously
    * and completely (the [[PhrasePrefix]] construction with the final
    * token whole).
    */
  final case class Phrase(field: String, phrase: String) extends FilterSpec {
    def compile: Column = {
      val toks = TextMatch.analyze(phrase)
      if (toks.isEmpty) lit(true)
      else TextMatch.containsToken(col(field), toks.mkString(" "))
    }
    def render: String = s"""${escName(field)}:"$phrase""""
    def fields: Seq[String] = Seq(field)
  }

  /** Sloppy phrase — `field:"a b"~N`: the query tokens appear IN ORDER
    * with at most `slop` extra positions between first and last
    * (`p_last − p_first − (n−1) ≤ slop`). Documented delta vs Lucene's
    * sloppy-phrase "moves" metric: Lucene also matches out-of-order
    * arrangements at cost 2 per transposition; this form is
    * order-preserving only — deterministic, restatable cross-engine, and
    * the common case (users widen a phrase, they don't reverse it).
    *
    * Mechanics: token-position lists per query term via higher-order
    * `filter`/`transform` (codegen'd, no UDF), then a nested-`exists`
    * chain — each successive term strictly after the previous, the last
    * within the slop bound of the first. Row-local work bounded by
    * `Π |positions(tᵢ)|` in the worst case, in practice tiny (query
    * terms are few and text positions short-circuit).
    */
  final case class PhraseSlop(field: String, phrase: String, slop: Int) extends FilterSpec {
    require(slop >= 0, s"slop must be >= 0, got $slop")
    def compile: Column =
      proximityPredicate(field, TextMatch.analyze(phrase), slop, inOrder = true)
    def render: String = s"""${escName(field)}:"$phrase"~$slop"""
    def fields: Seq[String] = Seq(field)
  }

  /** Shared position-list predicate behind the proximity family
    * ([[PhraseSlop]], [[SpanNear]], [[IntervalsMatch]]): one position per
    * term from the analyzed token stream, total gap budget `slop` =
    * match-window width minus the term count (Lucene's span-slop /
    * ES intervals' `max_gaps` — the same quantity). `inOrder` demands the
    * positions ascend in term order (strictly — repeated terms need
    * distinct occurrences); unordered demands pairwise-distinct positions
    * within the window. Higher-order Column algebra over the row's own
    * token list — row-local, no UDF, no join; cost is the product of the
    * matched terms' occurrence counts, bounded by document length.
    */
  private[query] def proximityPredicate(
      field: String, terms: Seq[String], slop: Int, inOrder: Boolean): Column = {
    if (terms.isEmpty) lit(true)
    else if (terms.size == 1) TermMatch(field, terms.head).compile
    else {
      // Cheap NECESSARY guard first: every term must be present as a
      // token (a codegen'd substring probe). `&&` short-circuits per row
      // in both codegen and interpreted evaluation, so the position-list
      // construction below — the expensive interpreted HOF work — runs
      // only on candidate documents; at corpus scale the overwhelming
      // majority of rows stop at the substring probes.
      val contains = terms.distinct
        .map(t => TextMatch.containsToken(col(field), t)).reduce(_ && _)
      val toks = split(trim(TextMatch.normalized(col(field))), " ")
      def positions(t: String): Column =
        filter(
          transform(toks, (x, i) => when(x === t, i).otherwise(lit(-1))),
          p => p >= 0)
      // BIND each distinct term's position list ONCE per row: nested
      // `exists` inlines its argument expression into the outer lambda,
      // so an unbound chain re-BUILDS the inner lists for every outer
      // occurrence — O(occ₁ · |toks|) instead of O(|toks|). A 1-element
      // struct array materializes the lists once; the chain then
      // iterates the bound fields (the occurrence-product part stays,
      // bounded by document length).
      val uniq = terms.distinct
      val termIdx = uniq.zipWithIndex.toMap
      val bound = array(struct(
        uniq.zipWithIndex.map { case (t, i) => positions(t).as(s"_p$i") }: _*))
      def pos(row: Column, t: String): Column = row(s"_p${termIdx(t)}")
      if (inOrder) {
        // exists p1 < p2 < … < pn with pn ≤ p1 + (n-1) + slop
        contains && exists(bound, row => {
          def chain(rest: Seq[String], prev: Column, first: Column): Column =
            rest match {
              case Seq() => lit(true)
              case t +: tail =>
                exists(pos(row, t), p =>
                  p > prev &&
                    (if (tail.isEmpty)
                       p - first - lit(terms.size - 1) <= slop
                     else lit(true)) &&
                    chain(tail, p, first))
            }
          exists(pos(row, terms.head), p1 => chain(terms.tail, p1, p1))
        })
      } else {
        // exists pairwise-distinct p₁..pₙ (one per term, any order) with
        // max(p) − min(p) − (n−1) ≤ slop
        contains && exists(bound, row => {
          def chain(rest: Seq[String], chosen: Seq[Column]): Column =
            rest match {
              case Seq() =>
                val mn = chosen.reduce((a, b) => least(a, b))
                val mx = chosen.reduce((a, b) => greatest(a, b))
                mx - mn - lit(terms.size - 1) <= slop
              case t +: tail =>
                exists(pos(row, t), p =>
                  chosen.map(c => p =!= c).foldLeft(lit(true))(_ && _) &&
                    chain(tail, chosen :+ p))
            }
          chain(terms, Nil)
        })
      }
    }
  }

  /** Lucene/ES `span_near` — the span query family's proximity workhorse
    * (ES JSON DSL; the grammar's typable forms are
    * `field:"a b"~spanN` (in_order) / `field:"a b"~nearN` (any order)):
    * every term present with total gap budget `slop` between the spans,
    * `inOrder` per the flag. Terms are PRE-ANALYZED tokens (span clauses
    * wrap term queries); [[IntervalsMatch]] is the analyze-a-phrase
    * surface.
    */
  final case class SpanNear(field: String, terms: Seq[String], slop: Int,
      inOrder: Boolean) extends FilterSpec {
    require(terms.nonEmpty, "span_near: no terms")
    require(slop >= 0, s"slop must be >= 0, got $slop")
    def compile: Column = proximityPredicate(field, terms, slop, inOrder)
    def render: String =
      s"""${escName(field)}:"${terms.mkString(" ")}"~${if (inOrder) "span" else "near"}$slop"""
    def fields: Seq[String] = Seq(field)
  }

  /** Phrase-occurrence START positions (0-based) of the analyzed token
    * sequence `ts` within a BOUND token-list column `tk` (a lambda-var
    * field — binding discipline per [[IntervalsAllOf]]'s scaladoc): a
    * candidate start at every index, the full window compared in-bounds
    * (the bound conjunct leads, so `element_at` never reads past the
    * list). Shared by the span nodes below.
    */
  private def phraseStartsIn(tk: Column, ts: Seq[String]): Column = {
    val L = ts.length
    filter(
      transform(tk, (x, i0) => {
        val inBounds = i0 + lit(L - 1) < size(tk)
        val matches = ts.zipWithIndex.map { case (t, j) =>
          if (j == 0) x === t
          else element_at(tk, i0 + lit(j + 1)) === t
        }.reduce(_ && _)
        when(inBounds && matches, i0)
      }),
      v => v.isNotNull)
  }

  /** Lucene/ES `span_first` — the match must sit near the START of the
    * field (title-prefix matching, lead-paragraph boosts): some
    * occurrence of the analyzed phrase ENDS at position ≤ `end`
    * (Lucene's end-position bound; a single term at 0-based index `p`
    * has end `p + 1`). Same bound-token machinery as the proximity
    * family — row-local, guarded by a codegen'd substring probe.
    */
  final case class SpanFirst(field: String, phrase: String, end: Int)
      extends FilterSpec {
    require(end >= 1, s"span_first: end must be >= 1, got $end")
    def compile: Column = {
      val ts = TextMatch.analyze(phrase)
      require(ts.nonEmpty, s"span_first: no analyzable tokens in <$phrase>")
      val contains = TextMatch.containsToken(col(field), ts.mkString(" "))
      val toks = split(trim(TextMatch.normalized(col(field))), " ")
      contains && exists(array(struct(toks.as("_t"))), trow => {
        val tk = trow("_t")
        exists(phraseStartsIn(tk, ts), s => s + lit(ts.length) <= lit(end))
      })
    }
    def render: String = s"""${escName(field)}:"$phrase"~first$end"""
    def fields: Seq[String] = Seq(field)
  }

  /** Lucene/ES `span_not` — occurrences of `include` NOT overlapping any
    * occurrence of `exclude`, the exclusion widened `pre` tokens before
    * and `post` after (Lucene's span_not dilation; the classic use:
    * a term NOT inside a longer phrase — include "scan", exclude
    * "vector scan"). The include phrase must occur somewhere clear of
    * every exclude span: `exists` over bound include starts with a
    * `forall` non-overlap test over bound exclude starts — both position
    * lists materialized once per row (the HOF let-binding discipline).
    */
  final case class SpanNot(field: String, include: String, exclude: String,
      pre: Int = 0, post: Int = 0) extends FilterSpec {
    require(pre >= 0 && post >= 0,
      s"span_not: pre/post must be >= 0, got $pre/$post")
    def compile: Column = {
      val inc = TextMatch.analyze(include)
      val exc = TextMatch.analyze(exclude)
      require(inc.nonEmpty, s"span_not: no analyzable tokens in <$include>")
      require(exc.nonEmpty, s"span_not: no analyzable tokens in <$exclude>")
      val contains = TextMatch.containsToken(col(field), inc.mkString(" "))
      val toks = split(trim(TextMatch.normalized(col(field))), " ")
      contains && exists(array(struct(toks.as("_t"))), trow => {
        val tk = trow("_t")
        exists(array(struct(
            phraseStartsIn(tk, inc).as("_i"),
            phraseStartsIn(tk, exc).as("_e"))), row =>
          exists(row("_i"), s => {
            val incEnd = s + lit(inc.length - 1)
            forall(row("_e"), t =>
              t + lit(exc.length - 1) < s - lit(pre) ||
                t > incEnd + lit(post))
          }))
      })
    }
    def render: String =
      s"""${escName(field)}:"$include"~not("$exclude",pre=$pre,post=$post)"""
    def fields: Seq[String] = Seq(field)
  }

  /** The shared enclosure predicate of [[SpanWithin]] / [[SpanContaining]]
    * — Lucene's `span_within`/`span_containing` pair over a `span_near`
    * big side. A document matches when SOME choice of one occurrence per
    * `big` clause that satisfies the span_near arrangement rule (ordered:
    * strictly sequential, `s_{k+1} > e_k`; unordered: pairwise-distinct
    * starts — the repo's certified [[SpanNear]] algebra) yields a window
    * `[min start, max end]` whose width minus Σ clause widths is at most
    * `slop`, AND some occurrence of `little` lies entirely inside that
    * window (`ws ≤ s` and `s + |little| − 1 ≤ we` — Lucene's
    * `SpanWithinQuery` boundary rule).
    *
    * The big side MUST be a slop window to be non-degenerate: with a
    * single contiguous phrase as big, a little span inside the phrase's
    * extent is necessarily a subsequence of it, so containment collapses
    * to plain phrase existence — which is why these two queries only
    * take the span_near form here.
    *
    * Residual Lucene-fidelity note (the [[IntervalsAllOf]] discipline):
    * Lucene evaluates containment against the spans its NearSpans
    * ITERATOR emits, a lazily-advanced subsequence of all valid clause
    * combinations; this implementation (and its brute-force certifier in
    * ProximitySemanticsSpec) quantifies over EVERY valid combination —
    * the written algebra above, matching the repo's certified span_near
    * existential semantics.
    *
    * Compile shape: the SpanNot machinery — codegen'd substring guards
    * lead, the token list and every phrase's start list bind once per
    * row, then one nested `exists` chain enumerates clause choices
    * carrying the running window bounds as Columns. Row-local, no UDF;
    * per-row cost is the product of clause occurrence counts, bounded by
    * document length behind the guard.
    */
  private def enclosureArgsOk(big: Seq[String], slop: Int): Unit = {
    require(big.size >= 2,
      s"span_within/containing: big must be a span_near of >= 2 clauses " +
        s"(a single contiguous phrase makes containment degenerate), got ${big.size}")
    require(slop >= 0, s"span_within/containing: slop must be >= 0, got $slop")
  }

  private def enclosurePredicate(field: String, little: String,
      big: Seq[String], slop: Int, inOrder: Boolean): Column = {
    val lts = TextMatch.analyze(little)
    require(lts.nonEmpty, s"span_within/containing: no analyzable tokens in <$little>")
    val bigTs = big.map { p =>
      val ts = TextMatch.analyze(p)
      require(ts.nonEmpty, s"span_within/containing: no analyzable tokens in <$p>")
      ts
    }
    val widthSum = bigTs.map(_.length).sum
    val contains = (TextMatch.containsToken(col(field), lts.mkString(" ")) +:
      bigTs.map(ts => TextMatch.containsToken(col(field), ts.mkString(" "))))
      .reduce(_ && _)
    val toks = split(trim(TextMatch.normalized(col(field))), " ")
    contains && exists(array(struct(toks.as("_t"))), trow => {
      val tk = trow("_t")
      val bound = phraseStartsIn(tk, lts).as("_l") +:
        bigTs.zipWithIndex.map { case (ts, i) => phraseStartsIn(tk, ts).as(s"_b$i") }
      exists(array(struct(bound: _*)), row => {
        // the window close: gap bound + little containment, on the
        // accumulated [ws, we]
        def close(ws: Column, we: Column): Column =
          (we - ws + 1) - lit(widthSum) <= lit(slop) &&
            exists(row("_l"), l => l >= ws && l + lit(lts.length - 1) <= we)
        if (inOrder) {
          // sequential picks: window = [first start, last end]
          def chain(i: Int, prevEnd: Column, firstStart: Column): Column = {
            val len = bigTs(i).length
            exists(row(s"_b$i"), s => s > prevEnd && {
              val e = s + lit(len - 1)
              if (i == bigTs.length - 1) close(firstStart, e)
              else chain(i + 1, e, firstStart)
            })
          }
          exists(row("_b0"), s =>
            chain(1, s + lit(bigTs.head.length - 1), s))
        } else {
          // pairwise-distinct starts: window = [min start, max end]
          def chain(i: Int, picked: Seq[(Column, Int)]): Column =
            if (i == bigTs.length) {
              val ws = picked.map(_._1).reduce(least(_, _))
              val we = picked.map { case (s, len) => s + lit(len - 1) }
                .reduce(greatest(_, _))
              close(ws, we)
            } else exists(row(s"_b$i"), s =>
              picked.map(p => s =!= p._1).foldLeft(lit(true))(_ && _) &&
                chain(i + 1, picked :+ (s -> bigTs(i).length)))
          chain(0, Nil)
        }
      })
    })
  }

  /** Lucene/ES `span_within` — match where an occurrence of the `little`
    * phrase sits INSIDE a `span_near(big, slop, inOrder)` span (the
    * "term in context" query: `little = "timeout"` within
    * `big = ("connection", "failed")` slop 4). Semantics and compile
    * shape per [[FilterSpec.enclosurePredicate]]. At the document-filter
    * level this is the same match set as [[SpanContaining]] with the
    * same operands — the two Lucene queries differ only in WHICH spans
    * they emit (little vs big) for scoring and further span composition,
    * a distinction with no observable effect on a boolean filter; both
    * names ship so each ES query type has its literal counterpart.
    */
  final case class SpanWithin(field: String, little: String,
      big: Seq[String], slop: Int, inOrder: Boolean = false)
      extends FilterSpec {
    enclosureArgsOk(big, slop)
    def compile: Column = enclosurePredicate(field, little, big, slop, inOrder)
    def render: String =
      s"""${escName(field)}:"$little"~within(${big.map("\"" + _ + "\"").mkString(",")},slop=$slop,${if (inOrder) "ordered" else "unordered"})"""
    def fields: Seq[String] = Seq(field)
  }

  /** Lucene/ES `span_containing` — match where a
    * `span_near(big, slop, inOrder)` span CONTAINS an occurrence of the
    * `little` phrase. The document-level dual of [[SpanWithin]] (same
    * match set, see there); emitted-span semantics differ only under
    * span composition, out of scope for a document filter.
    */
  final case class SpanContaining(field: String, little: String,
      big: Seq[String], slop: Int, inOrder: Boolean = false)
      extends FilterSpec {
    enclosureArgsOk(big, slop)
    def compile: Column = enclosurePredicate(field, little, big, slop, inOrder)
    def render: String =
      s"""${escName(field)}:"$little"~containing(${big.map("\"" + _ + "\"").mkString(",")},slop=$slop,${if (inOrder) "ordered" else "unordered"})"""
    def fields: Seq[String] = Seq(field)
  }

  /** ES `intervals` with a `match` rule — `max_gaps` + `ordered` (the
    * analyzed-text cousin of [[SpanNear]]; grammar forms
    * `field:"a b"~gapsN` (ordered) / `field:"a b"~anyN` (unordered)).
    * The phrase analyzes at compile time; `max_gaps` bounds the summed
    * gaps inside the match window, exactly the span-slop quantity.
    */
  final case class IntervalsMatch(field: String, phrase: String, maxGaps: Int,
      ordered: Boolean) extends FilterSpec {
    require(maxGaps >= 0, s"max_gaps must be >= 0, got $maxGaps")
    def compile: Column =
      proximityPredicate(field, TextMatch.analyze(phrase), maxGaps, ordered)
    def render: String =
      s"""${escName(field)}:"$phrase"~${if (ordered) "gaps" else "any"}$maxGaps"""
    def fields: Seq[String] = Seq(field)
  }

  /** ES `intervals` `all_of` COMBINATION rule — the nested composition
    * the intervals DSL exists for: each SLOT is a set of alternative
    * phrases (a nested `any_of` of `match` rules); the document matches
    * when one occurrence per slot can be chosen meeting the flag's
    * arrangement rule with the total gap budget inside the enclosing
    * window — enclosing width minus the sum of the chosen intervals'
    * widths — at most `maxGaps`. A single-token slot degenerates to the
    * [[SpanNear]] term case (same gap algebra); a single slot
    * degenerates to phrase existence.
    *
    * `ordered = true` (ES `ordered: true`): the chosen intervals are
    * strictly ordered and non-overlapping (`s_{k+1} > e_k`).
    *
    * `ordered = false` (ES `ordered: false`, round-15 verdict "decide
    * unordered all_of"; mixed-length slots round-16 verdict #7): Lucene's
    * unordered source — any arrangement, overlaps ALLOWED (including two
    * slots matching the same occurrence of the same term; Lucene's
    * separate `unorderedNoOverlaps` mode is not this flag), gaps =
    * enclosing width − Σ chosen widths, which overlaps can drive
    * negative. Implemented as the MINIMAL-INTERVAL algebra Lucene's
    * intervals framework defines (Clarke–Cormack GC-lists):
    *
    *  1. per slot, the occurrence set of all alternatives is
    *     OR-MINIMIZED — an interval properly containing another of the
    *     same slot is dropped (Lucene's `Intervals.or` rule: the slot
    *     `("scan" | "batch scan")` only ever matches `scan`, because
    *     every `batch scan` occurrence contains one);
    *  2. every choice of one minimized interval per slot yields a
    *     candidate window `[min start, max end]` carrying Σ chosen
    *     widths;
    *  3. a candidate whose window PROPERLY CONTAINS another candidate's
    *     window is never emitted (the unordered iterator enumerates
    *     minimal combined intervals only);
    *  4. the document matches iff some emitted candidate passes the gap
    *     bound.
    *
    * On slots whose alternatives share one analyzed length this EQUALS
    * the plain "some choice passes" evaluation (proof: Σ widths is
    * choice-invariant, per-slot minimization is a no-op on equal widths,
    * and a passing window contains a containment-minimal candidate whose
    * narrower window only shrinks the gaps — so minimality never changes
    * the existential answer), which is the previously-certified uniform
    * semantics; fixtures pinned there stay pinned. On MIXED-length slots
    * the minimality steps do real work: a wider alternative inflates
    * Σ widths, so a suppressed non-minimal window could pass while every
    * minimal one fails — the formerly-rejected divergence domain, now
    * evaluated per the written algebra above and certified against an
    * independent brute-force evaluator (ProximitySemanticsSpec). Residual
    * Lucene-fidelity note: Lucene's ITERATOR computes its gap value from
    * live sub-iterator state (with a padding rule for sub-intervals
    * extending past the emitted end) rather than per choice tuple; on
    * every certified configuration the written algebra and the shipped
    * gap formula agree with brute-force enumeration, and the formula is
    * the class-documented `width − Σ widths` throughout.
    *
    * Compile shape: per-alternative phrase-occurrence intervals as
    * `array<struct<s,e>>` built by a bounded window-compare `transform`
    * over the row's own token list (alternatives concat into the slot's
    * interval set). Ordered then runs one nested `exists` chain across
    * slots; unordered materializes the candidate windows through a
    * let-bound minimize → cross-product → minimal+gaps pipeline — all
    * row-local higher-order Column algebra, no UDF, no join; per-row
    * cost is the product of slot occurrence counts (plus a quadratic
    * containment scan over candidates for unordered), bounded by
    * document length and guarded by the codegen'd substring probes.
    */
  final case class IntervalsAllOf(field: String, slots: Seq[Seq[String]],
      maxGaps: Int, ordered: Boolean = true) extends FilterSpec {
    require(slots.nonEmpty, "intervals all_of: no slots")
    require(slots.forall(_.nonEmpty), "intervals all_of: a slot has no alternatives")
    require(maxGaps >= 0, s"max_gaps must be >= 0, got $maxGaps")

    def compile: Column = {
      val analyzedSlots = slots.map(_.map { p =>
        val ts = TextMatch.analyze(p)
        require(ts.nonEmpty, s"intervals all_of: no analyzable tokens in <$p>")
        ts
      })
      // cheap NECESSARY guard: every slot needs some alternative present
      // as a contiguous token sequence (codegen'd substring probes; `&&`
      // short-circuits so the position work below runs only on candidate
      // documents — the proximityPredicate discipline)
      val contains = analyzedSlots.map(alts =>
        alts.map(ts => TextMatch.containsToken(col(field), ts.mkString(" ")))
          .reduce(_ || _)).reduce(_ && _)
      // TWO-LEVEL per-row binding. A lambda body re-evaluates every
      // non-lambda expression it references PER ELEMENT — referencing
      // the split-of-normalize token list inside a transform would cost
      // O(|toks|²) regex normalizations per row, and an unbound start
      // list inside a nested exists would re-build per outer occurrence.
      // So: (1) bind the token list once, (2) build every alternative's
      // start list FROM the bound tokens (element_at on a lambda
      // variable is O(1)) and bind those, (3) chain over bound fields.
      val toks = split(trim(TextMatch.normalized(col(field))), " ")
      if (!ordered && analyzedSlots.size > 1)
        contains && compileUnordered(toks, analyzedSlots)
      else
        contains && compileOrderedOrSingle(toks, analyzedSlots)
    }

    /** The ordered chain (and the flag-independent single-slot
      * degeneration) over bound per-alternative start lists.
      */
    private def compileOrderedOrSingle(
        toks: Column, analyzedSlots: Seq[Seq[Seq[String]]]): Column = {
      val flat = analyzedSlots.zipWithIndex.flatMap { case (alts, si) =>
        alts.zipWithIndex.map { case (ts, ai) => (s"_s${si}_$ai", ts) }
      }
      val slotAlts: Seq[Seq[(String, Int)]] =
        analyzedSlots.zipWithIndex.map { case (alts, si) =>
          alts.zipWithIndex.map { case (ts, ai) => (s"_s${si}_$ai", ts.length) }
        }
      exists(array(struct(toks.as("_t"))), trow => {
        val tk = trow("_t")
        // occurrence START positions of each analyzed phrase — a plain
        // INT list (lengths are static per alternative: e = s + L − 1 is
        // literal arithmetic, chosen widths fold to compile-time Ints)
        exists(array(struct(
          flat.map { case (name, ts) => phraseStartsIn(tk, ts).as(name) }: _*)), row => {
          // ordered chain: pick one occurrence per slot, each starting
          // strictly after the previous slot's end; the last pick closes
          // the gap check (enclosing width − Σ static widths ≤ maxGaps)
          def chain(rest: Seq[Seq[(String, Int)]], prevEnd: Column,
              firstStart: Column, widthSum: Int): Column =
            rest match {
              case Seq(lastSlot) =>
                lastSlot.map { case (name, len) =>
                  exists(row(name), s => s > prevEnd &&
                    (s + lit(len) - firstStart) - lit(widthSum + len) <= lit(maxGaps))
                }.reduce(_ || _)
              case slot +: tail =>
                slot.map { case (name, len) =>
                  exists(row(name), s => s > prevEnd &&
                    chain(tail, s + lit(len - 1), firstStart, widthSum + len))
                }.reduce(_ || _)
              case Seq() => lit(true) // unreachable: slots is non-empty
            }
          slotAlts match {
            case Seq(only) =>
              only.map { case (name, _) => exists(row(name), _ => lit(true)) }
                .reduce(_ || _)
            case first +: rest =>
              first.map { case (name, len) =>
                exists(row(name), s => chain(rest, s + lit(len - 1), s, len))
              }.reduce(_ || _)
          }
        })
      })
    }

    /** The unordered minimal-interval pipeline (class scaladoc steps
      * 1-4), as staged per-row let-bindings — every array an inner
      * lambda iterates is a bound struct field, never a rebuilt
      * expression (the HOF rebinding discipline):
      *
      *  L1 bind the token list; L2 bind each slot's RAW occurrence
      *  intervals (alternatives concatenated, `struct<s, e>` with the
      *  end a static-length literal offset); L3 bind each slot's
      *  OR-MINIMIZED intervals (a quadratic filter-over-exists on the
      *  bound raw field); L4 bind the candidate windows (an unrolled
      *  cross-product fold accumulating `struct<ws, we, inner>`); L5
      *  one `exists`: a candidate passing the gap bound with NO other
      *  candidate properly contained in its window.
      */
    private def compileUnordered(
        toks: Column, analyzedSlots: Seq[Seq[Seq[String]]]): Column = {
      val n = analyzedSlots.size
      exists(array(struct(toks.as("_t"))), trow => {
        val tk = trow("_t")
        val rawIvals = analyzedSlots.zipWithIndex.map { case (alts, si) =>
          val perAlt = alts.map { ts =>
            transform(phraseStartsIn(tk, ts),
              s => struct(s.as("s"), (s + lit(ts.length - 1)).as("e")))
          }
          val all = if (perAlt.size == 1) perAlt.head else concat(perAlt: _*)
          all.as(s"_iv$si")
        }
        exists(array(struct(rawIvals: _*)), rrow => {
          def properlyInside(y: Column, x: Column): Column =
            y("s") >= x("s") && y("e") <= x("e") &&
              (y("s") > x("s") || y("e") < x("e"))
          val minIvals = (0 until n).map { si =>
            val a = rrow(s"_iv$si")
            filter(a, x => !exists(a, y => properlyInside(y, x)))
              .as(s"_mv$si")
          }
          exists(array(struct(minIvals: _*)), mrow => {
            val first = transform(mrow("_mv0"), i => struct(
              i("s").as("ws"), i("e").as("we"),
              (i("e") - i("s") + lit(1)).as("inner")))
            val cands = (1 until n).foldLeft(first) { (acc, si) =>
              flatten(transform(acc, c => transform(mrow(s"_mv$si"), i =>
                struct(least(c("ws"), i("s")).as("ws"),
                  greatest(c("we"), i("e")).as("we"),
                  (c("inner") + (i("e") - i("s") + lit(1))).as("inner")))))
            }
            exists(array(struct(cands.as("_c"))), crow => {
              val cs = crow("_c")
              exists(cs, c =>
                (c("we") - c("ws") + lit(1)) - c("inner") <= lit(maxGaps) &&
                  !exists(cs, d =>
                    d("ws") >= c("ws") && d("we") <= c("we") &&
                      (d("ws") > c("ws") || d("we") < c("we"))))
            })
          })
        })
      })
    }

    def render: String = {
      val slotsR = slots.map(_.map(p => s""""$p"""").mkString("(", " | ", ")"))
        .mkString(" ")
      s"${escName(field)}:allof[$slotsR]~${if (ordered) "gaps" else "any"}$maxGaps"
    }
    def fields: Seq[String] = Seq(field)
  }

  /** The PREDICATE sources of the ES `intervals` DSL — `prefix`,
    * `wildcard`, `fuzzy`, `range` (plus exact `term` for composition):
    * each matches single TOKENS by a predicate instead of a literal, so
    * every source interval has width 1. [[IntervalsPattern]] combines
    * them under `all_of`; exact multi-token phrases keep using
    * [[IntervalsAllOf]] (predicate sources are token-level in ES too —
    * Lucene expands them against the terms dictionary).
    */
  sealed trait IntervalSource {
    /** The token predicate, over a bound lambda token. */
    private[query] def pred(t: Column): Column
    /** A cheap NECESSARY document guard, or None when the predicate has
      * no substring-probe form (ES pays the term-expansion cost for
      * those sources too).
      */
    private[query] def guard(field: String): Option[Column]
    private[query] def renderPart: String
  }
  object IntervalSource {
    /** Exact analyzed token (`match` with a single token). */
    final case class Term(term: String) extends IntervalSource {
      private val t0 = TextMatch.analyze(term)
      require(t0.size == 1,
        s"intervals term source must analyze to ONE token, got <$term> " +
          "(use IntervalsAllOf for phrases)")
      private[query] def pred(t: Column): Column = t === t0.head
      private[query] def guard(field: String): Option[Column] =
        Some(TextMatch.containsToken(col(field), t0.head))
      private[query] def renderPart: String = s""""${t0.head}""""
    }
    /** ES intervals `prefix` rule: tokens starting with `prefix`. */
    final case class Prefix(prefix: String) extends IntervalSource {
      private val p0 = TextMatch.analyze(prefix)
      require(p0.size == 1,
        s"intervals prefix must analyze to ONE token, got <$prefix>")
      private[query] def pred(t: Column): Column = t.startsWith(p0.head)
      // a prefixed token is a substring occurrence of ' ' + prefix
      private[query] def guard(field: String): Option[Column] = Some(
        instr(concat(lit(" "), TextMatch.normalized(col(field))),
          " " + p0.head) > 0)
      private[query] def renderPart: String = s"${p0.head}*"
    }
    /** ES intervals `wildcard` rule: `*` any run, `?` one char, over the
      * WHOLE token ([[Wildcard]]'s anchoring).
      */
    final case class WildcardPat(pattern: String) extends IntervalSource {
      require(pattern.nonEmpty, "intervals wildcard: empty pattern")
      private val like = Wildcard.toLike(pattern.toLowerCase)
      private[query] def pred(t: Column): Column = t.like(like)
      private[query] def guard(field: String): Option[Column] = None
      private[query] def renderPart: String = s"w:$pattern"
    }
    /** ES intervals `fuzzy` rule: tokens within `maxEdits` of `term`
      * ([[FuzzyTerm]]'s distance conventions — Damerau when
      * `transpositions`, the ES default).
      */
    final case class Fuzzy(term: String, maxEdits: Int = 1,
        transpositions: Boolean = true) extends IntervalSource {
      require(maxEdits >= 0 && maxEdits <= 2,
        s"intervals fuzzy: maxEdits must be 0..2 (the Lucene bound), got $maxEdits")
      private val q = term.toLowerCase
      private[query] def pred(t: Column): Column =
        length(t) > 0 && (
          if (transpositions) graft.expr.Damerau.distance(t, lit(q)) <= maxEdits
          else levenshtein(t, lit(q)) <= maxEdits)
      private[query] def guard(field: String): Option[Column] = None
      private[query] def renderPart: String = s"$term~$maxEdits"
    }
    /** ES intervals `range` rule: tokens in `[lo, hi]` (inclusive, the
      * gte/lte form), binary codepoint order.
      */
    final case class Range(lo: String, hi: String) extends IntervalSource {
      require(lo <= hi, s"intervals range: lo <$lo> > hi <$hi>")
      private[query] def pred(t: Column): Column = t >= lo && t <= hi
      private[query] def guard(field: String): Option[Column] = None
      private[query] def renderPart: String = s"[$lo..$hi]"
    }
  }

  /** ES `intervals` `all_of` over PREDICATE sources ([[IntervalSource]])
    * — "a token starting with `sca`, then something within one edit of
    * `tabel`, within 4 gaps". All sources are width 1, so the gap algebra
    * is the [[SpanNear]] term case with per-slot predicates and needs no
    * minimal-interval machinery: choose one matching position per slot;
    * `ordered` = strictly increasing; unordered = ANY positions
    * (overlaps allowed — the [[IntervalsAllOf]] unordered flag's rule,
    * where two slots may pick the same token); window
    * `[min, max]`, gaps = width − #slots ≤ `maxGaps`.
    *
    * Compile shape: the bound-token/bound-position-list discipline; each
    * slot's position list is one `filter(transform(tk, pred))` over the
    * bound token list. Sources with a substring-probe form contribute to
    * the leading codegen'd guard; wildcard/fuzzy/range have none (the
    * guard conjunction keeps whatever probes exist — ES's own cost
    * profile: expanded-term sources scan the dictionary there, every
    * token here, row-locally).
    */
  final case class IntervalsPattern(field: String,
      slots: Seq[IntervalSource], maxGaps: Int,
      ordered: Boolean = true) extends FilterSpec {
    require(slots.nonEmpty, "intervals pattern: no slots")
    require(maxGaps >= 0, s"max_gaps must be >= 0, got $maxGaps")
    def compile: Column = {
      val k = slots.size
      val guards = slots.flatMap(_.guard(field))
      val contains = guards.reduceOption(_ && _).getOrElse(lit(true))
      val toks = split(trim(TextMatch.normalized(col(field))), " ")
      contains && exists(array(struct(toks.as("_t"))), trow => {
        val tk = trow("_t")
        val bound = slots.zipWithIndex.map { case (src, i) =>
          filter(
            transform(tk, (x, i0) => when(src.pred(x), i0)),
            v => v.isNotNull).as(s"_p$i")
        }
        exists(array(struct(bound: _*)), row => {
          if (ordered) {
            def chain(i: Int, prev: Column, first: Column): Column =
              exists(row(s"_p$i"), s => s > prev && {
                if (i == k - 1) (s - first + 1) - lit(k) <= lit(maxGaps)
                else chain(i + 1, s, first)
              })
            if (k == 1) exists(row("_p0"), _ => lit(true))
            else exists(row("_p0"), s => chain(1, s, s))
          } else {
            def chain(i: Int, picked: Seq[Column]): Column =
              if (i == k) {
                val ws = picked.reduce(least(_, _))
                val we = picked.reduce(greatest(_, _))
                (we - ws + 1) - lit(k) <= lit(maxGaps)
              } else exists(row(s"_p$i"), s => chain(i + 1, picked :+ s))
            if (k == 1) exists(row("_p0"), _ => lit(true))
            else chain(0, Nil)
          }
        })
      })
    }
    def render: String = {
      val slotsR = slots.map(_.renderPart).mkString(" ")
      s"${escName(field)}:pat[$slotsR]~${if (ordered) "gaps" else "any"}$maxGaps"
    }
    def fields: Seq[String] = Seq(field)
  }

  /** ES `intervals` `filter` rule — the source `match` (ordered,
    * `max_gaps`) must produce an interval standing in `rule` relation to
    * the filter phrase's occurrences: `containing` / `not_containing`
    * (filter interval inside the source interval), `overlapping` /
    * `not_overlapping` (any position shared), `contained_by` /
    * `not_contained_by` (source inside a filter occurrence). The
    * "a near b but NOT with c between them" query the intervals DSL is
    * famous for. Ordered source only (the [[IntervalsAllOf]] precedent —
    * a loud absence beats a silently different overlap semantic).
    *
    * Compile shape: the ordered position chain of [[proximityPredicate]]
    * but tracking (first, last) per candidate interval, with the filter
    * phrase's start list BOUND in the same per-row struct (an unbound
    * list in the leaf would re-build per evaluated combination — the HOF
    * rebinding trap). Negative rules quantify with `forall`; positive
    * rules add the filter phrase to the codegen'd substring guard.
    */
  final case class IntervalsFiltered(field: String, phrase: String,
      maxGaps: Int, rule: String, filterPhrase: String) extends FilterSpec {
    require(maxGaps >= 0, s"max_gaps must be >= 0, got $maxGaps")
    private val positiveRules = Set("containing", "overlapping", "contained_by")
    private val negativeRules = positiveRules.map("not_" + _)
    require(positiveRules.contains(rule) || negativeRules.contains(rule),
      s"intervals filter: unsupported rule <$rule> " +
        "(containing|not_containing|overlapping|not_overlapping|" +
        "contained_by|not_contained_by)")

    def compile: Column = {
      val src = TextMatch.analyze(phrase)
      require(src.nonEmpty, s"intervals filter: no analyzable tokens in <$phrase>")
      val flt = TextMatch.analyze(filterPhrase)
      require(flt.nonEmpty,
        s"intervals filter: no analyzable tokens in filter <$filterPhrase>")
      val Lf = flt.length
      // substring guard: all source terms; plus the filter phrase for
      // positive rules (a doc can't satisfy `containing` without it)
      val guardTerms = src.distinct.map(t =>
        TextMatch.containsToken(col(field), t)) ++
        (if (positiveRules.contains(rule))
           Seq(TextMatch.containsToken(col(field), flt.mkString(" ")))
         else Nil)
      val contains = guardTerms.reduce(_ && _)
      val toks = split(trim(TextMatch.normalized(col(field))), " ")
      contains && exists(array(struct(toks.as("_t"))), trow => {
        val tk = trow("_t")
        val uniq = src.distinct
        val termIdx = uniq.zipWithIndex.toMap
        val bound = array(struct(
          (uniq.zipWithIndex.map { case (t, i) =>
            phraseStartsIn(tk, Seq(t)).as(s"_p$i")
          } :+ phraseStartsIn(tk, flt).as("_f")): _*))
        def pos(row: Column, t: String): Column = row(s"_p${termIdx(t)}")
        def ruleCond(fStarts: Column, s: Column, e: Column): Column = {
          def containing = exists(fStarts, t => t >= s && t + lit(Lf - 1) <= e)
          def overlapping = exists(fStarts, t => t <= e && t + lit(Lf - 1) >= s)
          def containedBy = exists(fStarts, t => t <= s && e <= t + lit(Lf - 1))
          rule match {
            case "containing" => containing
            case "not_containing" =>
              forall(fStarts, t => !(t >= s && t + lit(Lf - 1) <= e))
            case "overlapping" => overlapping
            case "not_overlapping" =>
              forall(fStarts, t => t > e || t + lit(Lf - 1) < s)
            case "contained_by" => containedBy
            case "not_contained_by" =>
              forall(fStarts, t => !(t <= s && e <= t + lit(Lf - 1)))
          }
        }
        exists(bound, row => {
          // ordered chain tracking (first, last): gap budget + rule at
          // the leaf
          def chain(rest: Seq[String], prev: Column, first: Column): Column =
            rest match {
              case Seq() =>
                // single-term source: the interval is [first, first]
                ruleCond(row("_f"), first, first)
              case t +: tail =>
                exists(pos(row, t), p =>
                  p > prev && (
                    if (tail.isEmpty)
                      p - first - lit(src.size - 1) <= lit(maxGaps) &&
                        ruleCond(row("_f"), first, p)
                    else chain(tail, p, first)))
            }
          exists(pos(row, src.head), p1 => chain(src.tail, p1, p1))
        })
      })
    }
    def render: String =
      s"""${escName(field)}:"$phrase"~gaps$maxGaps&$rule("$filterPhrase")"""
    def fields: Seq[String] = Seq(field)
  }

  /** Fuzzy term — `field:term~N` (ES `fuzzy` / `match` with `fuzziness`):
    * some analyzed token within edit distance `maxEdits` of the term,
    * the first `prefixLength` characters matching exactly (ES's own
    * recall/cost knob). `transpositions = true` is ES's DEFAULT distance
    * (a swap of adjacent characters costs ONE edit), served by the
    * codegen'd full Damerau–Levenshtein expression
    * ([[graft.expr.Damerau]] — the same unrestricted variant DuckDB's
    * `damerau_levenshtein` implements, so it oracles); `false` is
    * classic Levenshtein via Spark's builtin. Scan form is a per-row
    * higher-order `exists`; the 100 TB path is the SymSpell
    * deletion-neighborhood index ([[Fuzzy]]) whose candidate lemma
    * covers BOTH distances (a transposition is one deletion from each
    * side), results provably identical.
    */
  final case class FuzzyTerm(
      field: String, term: String, maxEdits: Int,
      prefixLength: Int = 0,
      transpositions: Boolean = false) extends FilterSpec {
    require(maxEdits >= 0 && maxEdits <= 2,
      s"maxEdits must be 0..2 (the Lucene bound), got $maxEdits")
    require(prefixLength >= 0, s"prefixLength must be >= 0, got $prefixLength")
    def compile: Column = {
      val toks = split(trim(TextMatch.normalized(col(field))), " ")
      val q = term.toLowerCase
      def dist(t: Column): Column =
        if (transpositions) graft.expr.Damerau.distance(t, lit(q))
        else levenshtein(t, lit(q))
      exists(toks, t =>
        length(t) > 0 &&
          (if (prefixLength > 0)
             substring(t, 1, prefixLength) === q.take(prefixLength)
           else lit(true)) &&
          dist(t) <= maxEdits)
    }
    def render: String = s"${escName(field)}:${escTerm(term)}~$maxEdits"
    def fields: Seq[String] = Seq(field)
  }

  /** Term-level wildcard — ES `wildcard` query: runs on the RAW (keyword)
    * field, case-sensitively, `*` = any run, `?` = one char. Compiles to
    * a `LIKE` both engines share (`%`/`_`/`\` in the pattern are escaped
    * first). The leading-wildcard scan cost caveat is ES's own.
    */
  final case class Wildcard(field: String, pattern: String) extends FilterSpec {
    def compile: Column = col(field).like(Wildcard.toLike(pattern))
    def render: String = s"${escName(field)}:$pattern"
    def fields: Seq[String] = Seq(field)
  }

  /** ES/Lucene `regexp` query — `field:/pattern/`: the RAW field value
    * matches the pattern IN FULL (Lucene regexps are implicitly anchored;
    * the compile wraps `^(?:…)$` since Spark's `rlike` is a search).
    * Pattern dialect: the RE2-compatible subset shared by Java regex and
    * DuckDB (character classes, alternation, quantifiers, grouping) — the
    * Lucene operators `~`(complement) and `<1-9>`(numeric ranges) are not
    * supported (they exist in no SQL engine; a loud mismatch beats a
    * silent one). Null fields don't match (the ES missing-field
    * contract).
    */
  final case class Regexp(field: String, pattern: String) extends FilterSpec {
    def compile: Column = col(field).rlike("^(?:" + pattern + ")$")
    def render: String = s"${escName(field)}:/$pattern/"
    def fields: Seq[String] = Seq(field)
  }

  object Wildcard {
    /** Lucene wildcard pattern → SQL LIKE pattern, `\`-escape-aware:
      * unescaped `*`/`?` become `%`/`_`; a `\`-escaped character is a
      * LITERAL (so `\*` matches an asterisk, never acting as a wildcard —
      * the query_string escape contract), LIKE-escaped when it is itself
      * a LIKE metacharacter; unescaped LIKE metacharacters in the pattern
      * text are literals too and get LIKE-escaped. A trailing lone `\`
      * stays a literal backslash.
      */
    def toLike(pattern: String): String = {
      val out = new StringBuilder
      var i = 0
      while (i < pattern.length) {
        val c = pattern(i)
        if (c == '\\' && i + 1 < pattern.length) {
          val n = pattern(i + 1)
          if (n == '%' || n == '_' || n == '\\') out.append('\\').append(n)
          else out.append(n)
          i += 2
        } else {
          c match {
            case '*' => out.append('%')
            case '?' => out.append('_')
            case '%' | '_' | '\\' => out.append('\\').append(c)
            case other => out.append(other)
          }
          i += 1
        }
      }
      out.toString
    }
  }

  /** Field presence — `field:*` (ES `exists`; the webapp's own
    * `query_string: {query: 'dict_field:*'}`, `collections.js:79`):
    * the field is non-null.
    */
  final case class Exists(field: String) extends FilterSpec {
    def compile: Column = col(field).isNotNull
    def render: String = s"${escName(field)}:*"
    def fields: Seq[String] = Seq(field)
  }

  /** ES `nested` query — KQL's brace syntax `path:{ … }`: SOME element of
    * the nested-doc array at `path` (a [[NestedDocs.nest]]-built
    * array<struct> column) satisfies the WHOLE inner predicate — all
    * conditions on the SAME element, the defining delta from the
    * flattened object mapping where each condition may pick a different
    * element ([[NestedDocs.objectMatch]]). Compiles to one higher-order
    * `exists` over the array (codegen'd, row-local, no explode and no
    * join); the inner tree is the [[NestedCond]] ADT, whose leaves take
    * the ELEMENT struct instead of a column name.
    */
  final case class Nested(path: String, inner: NestedCond) extends FilterSpec {
    def compile: Column = exists(col(path), el => inner.compile(el))
    def render: String = s"${escName(path)}:{${inner.render}}"
    def fields: Seq[String] = Seq(path)
  }

  /** A condition against one nested-doc ELEMENT — [[Nested]]'s inner
    * tree. Leaves mirror the top-level nodes' semantics exactly (same
    * [[TextMatch]] kernels, same literal-typing rule for ranges), bound
    * to `el.getField(f)` instead of `col(f)`. Text leaves cast the field
    * to string so numeric struct fields still term-match (ES parses the
    * value against the field type; the cast is this engine's equivalent).
    */
  sealed trait NestedCond {
    def compile(el: Column): Column
    def render: String
  }
  object NestedCond {
    final case class NAnd(cs: Seq[NestedCond]) extends NestedCond {
      def compile(el: Column): Column = cs.map(_.compile(el)).reduce(_ && _)
      def render: String = cs.map(_.render).mkString("(", " and ", ")")
    }
    final case class NOr(cs: Seq[NestedCond]) extends NestedCond {
      def compile(el: Column): Column = cs.map(_.compile(el)).reduce(_ || _)
      def render: String = cs.map(_.render).mkString("(", " or ", ")")
    }
    final case class NNot(c: NestedCond) extends NestedCond {
      def compile(el: Column): Column = !c.compile(el)
      def render: String = s"not ${c.render}"
    }
    final case class NTerm(field: String, term: String) extends NestedCond {
      def compile(el: Column): Column =
        TextMatch.containsToken(el.getField(field).cast("string"), term)
      def render: String = s"${escName(field)}:${escTerm(term)}"
    }
    final case class NPhrase(field: String, phrase: String) extends NestedCond {
      def compile(el: Column): Column = {
        val toks = TextMatch.analyze(phrase)
        if (toks.isEmpty) lit(true)
        else TextMatch.containsToken(el.getField(field).cast("string"), toks.mkString(" "))
      }
      def render: String = s"""${escName(field)}:"$phrase""""
    }
    final case class NPrefix(field: String, prefix: String) extends NestedCond {
      def compile(el: Column): Column =
        TextMatch.phrasePrefix(el.getField(field).cast("string"), prefix)
      def render: String = s"${escName(field)}:${escTerm(prefix)}*"
    }
    final case class NExists(field: String) extends NestedCond {
      def compile(el: Column): Column = el.getField(field).isNotNull
      def render: String = s"${escName(field)}:*"
    }
    final case class NRange(field: String, lo: Option[String], hi: Option[String],
        loInclusive: Boolean = true, hiInclusive: Boolean = true) extends NestedCond {
      private def isNum(s: String): Boolean = scala.util.Try(s.toDouble).isSuccess
      private val numeric = (lo ++ hi).nonEmpty && (lo ++ hi).forall(isNum)
      // TermRange's literal-typing rule verbatim: type the literal, never
      // cast the field
      private def bound(v: String): Column =
        if (!numeric) lit(v)
        else if (v.matches("-?\\d+") && scala.util.Try(v.toLong).isSuccess) lit(v.toLong)
        else lit(v.toDouble)
      def compile(el: Column): Column = {
        val c = el.getField(field)
        val loC = lo.map(v => if (loInclusive) c >= bound(v) else c > bound(v)).getOrElse(lit(true))
        val hiC = hi.map(v => if (hiInclusive) c <= bound(v) else c < bound(v)).getOrElse(lit(true))
        loC && hiC
      }
      def render: String = {
        val (l, r) = (if (loInclusive) "[" else "{", if (hiInclusive) "]" else "}")
        s"${escName(field)}:$l${lo.getOrElse("*")} TO ${hi.getOrElse("*")}$r"
      }
    }
  }

  /** Bracketed term range — `field:[a TO b]` / `{a TO b}` (inclusive /
    * exclusive ends, mixable; `*` opens a side). Values compare
    * numerically when BOTH bounds parse as numbers, else lexically —
    * query_string has no mapping to consult, so the literal decides
    * (documented; ES resolves by field type).
    */
  final case class TermRange(
      field: String,
      lo: Option[String], hi: Option[String],
      loInclusive: Boolean = true, hiInclusive: Boolean = true) extends FilterSpec {
    private def isNum(s: String): Boolean =
      scala.util.Try(s.toDouble).isSuccess
    private val numeric = (lo ++ hi).nonEmpty && (lo ++ hi).forall(isNum)
    // Type the LITERAL, never cast the column: an integral bound becomes a
    // long literal (comparisons against integral columns then push into
    // the parquet scan — a column cast blocks pushdown, and long→double
    // cannot be unwrapped since longs exceed double's 53-bit mantissa);
    // a decimal bound becomes a double literal, which Catalyst promotes
    // against safely.
    private def bound(v: String): Column =
      if (!numeric) lit(v)
      else if (v.matches("-?\\d+") && scala.util.Try(v.toLong).isSuccess) lit(v.toLong)
      else lit(v.toDouble)
    private def side(v: Option[String], f: Column => Column): Column =
      v.map(f.compose(bound)).getOrElse(lit(true))
    def compile: Column = {
      val c = col(field)
      side(lo, b => if (loInclusive) c >= b else c > b) &&
        side(hi, b => if (hiInclusive) c <= b else c < b)
    }
    def render: String = {
      val (l, r) = (if (loInclusive) "[" else "{", if (hiInclusive) "]" else "}")
      s"${escName(field)}:$l${lo.getOrElse("*")} TO ${hi.getOrElse("*")}$r"
    }
    def fields: Seq[String] = Seq(field)
  }

  /** ES `geo_bounding_box` — the query a map viewport sends on every pan
    * (Kibana tile map → coordinate filter): point inside the
    * `top_left`/`bottom_right` rectangle. Pure comparisons on the lat/lon
    * columns (oracle-exact, pushdown-eligible). `left > right` means the
    * box CROSSES the antimeridian (ES's dateline rule): the lon predicate
    * becomes a disjunction of the two half-boxes.
    */
  final case class GeoBoundingBox(latField: String, lonField: String,
      top: Double, left: Double, bottom: Double, right: Double)
      extends FilterSpec {
    require(top >= bottom, s"geo_bounding_box: top $top < bottom $bottom")
    require(top <= 90 && bottom >= -90, "geo_bounding_box: lat out of [-90,90]")
    require(left >= -180 && left <= 180 && right >= -180 && right <= 180,
      "geo_bounding_box: lon out of [-180,180]")
    def compile: Column = {
      val (lat, lon) = (col(latField), col(lonField))
      val lonIn =
        if (left <= right) lon >= lit(left) && lon <= lit(right)
        else lon >= lit(left) || lon <= lit(right) // crosses the antimeridian
      lat <= lit(top) && lat >= lit(bottom) && lonIn
    }
    def render: String =
      s"${escName(latField)},${escName(lonField)}:geo_box[$bottom,$left TO $top,$right]"
    def fields: Seq[String] = Seq(latField, lonField)
  }

  /** ES `geo_distance` query (filter context — "within N km of the
    * pin"): haversine distance at most `radiusKm` from the origin, via
    * the repo's pinned fixed-IEEE haversine tree ([[Aggs.haversineKm]] —
    * π/180 as one shared double, never `radians()`). sin/cos/asin are
    * library-rounded (≤1 ulp each); the binary include/exclude outcome is
    * stable when no point sits within ~1e-9 relative of the radius —
    * fixture margin asserted in FilterSpecSpec, same discipline as the
    * [[Aggs.geoDistanceRings]] bucket edges.
    */
  final case class GeoDistance(latField: String, lonField: String,
      originLat: Double, originLon: Double, radiusKm: Double)
      extends FilterSpec {
    require(radiusKm > 0, s"geo_distance: radius must be > 0, got $radiusKm")
    def compile: Column =
      Aggs.haversineKm(col(latField), col(lonField), originLat, originLon) <=
        lit(radiusKm)
    def render: String =
      s"${escName(latField)},${escName(lonField)}:geo_distance[$originLat,$originLon r=${radiusKm}km]"
    def fields: Seq[String] = Seq(latField, lonField)
  }

  /** ES `geo_shape` query with a `polygon` over geo_point docs (the
    * successor of the deprecated `geo_polygon` query): the point lies
    * inside the closed polygon by EVEN-ODD ray casting — for each edge,
    * one crossing test `((yi > lat) ≠ (yj > lat)) ∧ lon < xi + (xj −
    * xi)·(lat − yi)/(yj − yi)`, inside ⇔ odd crossing count. Planar
    * lat/lon semantics (ES's own pre-7.0 behavior and the convention of
    * every vector-tile renderer); vertices are `(lat, lon)`, the edge
    * back to the first vertex implicit, concave and convex alike,
    * orientation-free. Unlike the haversine family there is NO libm in
    * the tree — pure +,−,×,÷ and comparisons round identically under
    * IEEE on any engine, so the oracle restatement is bit-exact with no
    * fixture margin. Horizontal edges never divide: their crossing test
    * is false before the division matters (both engines conjoin to
    * false whether ÷0 yields ±Inf or NULL). Antimeridian-crossing
    * polygons are NOT interpreted (ES splits those at index time) —
    * vertices validate against the plain ranges. The unrolled crossing
    * sum is static arithmetic over two columns: codegen'd, pushdown-
    * friendly, row-local.
    */
  final case class GeoPolygon(latField: String, lonField: String,
      vertices: Seq[(Double, Double)]) extends FilterSpec {
    require(vertices.size >= 3,
      s"geo_shape polygon: need >= 3 vertices, got ${vertices.size}")
    require(vertices.forall { case (la, lo) =>
      la >= -90 && la <= 90 && lo >= -180 && lo <= 180 },
      "geo_shape polygon: vertex out of lat [-90,90] / lon [-180,180]")
    def compile: Column = {
      val (lat, lon) = (col(latField), col(lonField))
      val n = vertices.size
      val crossings = (0 until n).map { i =>
        val (yi, xi) = vertices(i)
        val (yj, xj) = vertices((i + 1) % n)
        val crosses = (lit(yi) > lat) =!= (lit(yj) > lat)
        val leftOf = lon <
          (lit(xj) - lit(xi)) * (lat - lit(yi)) / (lit(yj) - lit(yi)) + lit(xi)
        when(crosses && leftOf, lit(1)).otherwise(lit(0))
      }
      crossings.reduce(_ + _) % 2 === 1
    }
    def render: String = {
      val vs = vertices.map { case (la, lo) => s"${fmtNum(la)},${fmtNum(lo)}" }
        .mkString(" ")
      s"${escName(latField)},${escName(lonField)}:geo_polygon[$vs]"
    }
    def fields: Seq[String] = Seq(latField, lonField)
  }

  /** ES `geo_shape` with a MULTI-RING query shape — a polygon with holes
    * and/or a multipolygon — under a spatial relation. One even-odd
    * crossing count across ALL rings' edges covers both shapes at once:
    * a point inside a hole crosses the outer ring AND the inner ring —
    * an even total — so it is outside, with no per-ring bookkeeping; a
    * point in either component of a multipolygon crosses an odd total.
    * The arithmetic is [[GeoPolygon]]'s verbatim (pure +,−,×,÷ — no
    * libm, bit-exact oracle restatement), just summed over more edges.
    *
    * Relations for POINT documents (this engine's geo docs are lat/lon
    * points, the reference's `geolocation` shape —
    * `harmonizeCrimeIncidents.py:338`): `intersects` and `within`
    * coincide (a point intersects a shape iff it lies in it) and
    * `disjoint` is the complement — documents MISSING the field match
    * neither side, ES's own rule, guarded EXPLICITLY: the crossing terms
    * run through `when(...)`, which reads a null condition as false, so
    * a null point would otherwise count zero crossings and look
    * "outside" to `disjoint`. `contains` (doc
    * shape ⊇ query shape) is impossible for a point document against a
    * 2-D query shape and rejects loudly rather than returning the empty
    * set silently.
    */
  final case class GeoShape(latField: String, lonField: String,
      rings: Seq[Seq[(Double, Double)]], relation: String = "intersects")
      extends FilterSpec {
    require(rings.nonEmpty && rings.forall(_.size >= 3),
      s"geo_shape: every ring needs >= 3 vertices, got ${rings.map(_.size).mkString(",")}")
    require(rings.flatten.forall { case (la, lo) =>
      la >= -90 && la <= 90 && lo >= -180 && lo <= 180 },
      "geo_shape: vertex out of lat [-90,90] / lon [-180,180]")
    require(Seq("intersects", "within", "disjoint").contains(relation),
      s"geo_shape: relation '$relation' — point documents support " +
        "intersects/within/disjoint; 'contains' is impossible for a point " +
        "doc against a 2-D query shape")
    def compile: Column = {
      val (lat, lon) = (col(latField), col(lonField))
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
      val inside = crossings.reduce(_ + _) % 2 === 1
      if (relation == "disjoint") lat.isNotNull && lon.isNotNull && !inside
      else inside
    }
    def render: String = {
      val rs = rings.map(_.map { case (la, lo) => s"${fmtNum(la)},${fmtNum(lo)}" }
        .mkString(" ")).mkString("|")
      s"${escName(latField)},${escName(lonField)}:geo_shape[$relation;$rs]"
    }
    def fields: Seq[String] = Seq(latField, lonField)
  }

  /** ES `geo_shape` with an `envelope` query shape (the bounding-box
    * shape type, upper-left / lower-right corners) under the same point-
    * document relations as [[GeoShape]]. Unlike the ring shapes this
    * compiles to four range comparisons — exactly the predicate a
    * parquet scan can push down (`PushedFilters` carries all four), which
    * is WHY envelope gets its own node instead of riding a rectangle
    * ring's division arithmetic.
    */
  final case class GeoEnvelope(latField: String, lonField: String,
      minLat: Double, maxLat: Double, minLon: Double, maxLon: Double,
      relation: String = "intersects") extends FilterSpec {
    require(minLat <= maxLat && minLon <= maxLon,
      s"geo_shape envelope: empty box [$minLat,$maxLat]×[$minLon,$maxLon]")
    require(minLat >= -90 && maxLat <= 90 && minLon >= -180 && maxLon <= 180,
      "geo_shape envelope: corner out of lat [-90,90] / lon [-180,180]")
    require(Seq("intersects", "within", "disjoint").contains(relation),
      s"geo_shape envelope: relation '$relation' — point documents support " +
        "intersects/within/disjoint")
    def compile: Column = {
      val inside = col(latField) >= minLat && col(latField) <= maxLat &&
        col(lonField) >= minLon && col(lonField) <= maxLon
      // Same missing-field rule as GeoShape: a null lat with an
      // out-of-range lon makes `inside` false (null AND false = false),
      // so bare `!inside` would let a field-less doc match disjoint.
      if (relation == "disjoint")
        col(latField).isNotNull && col(lonField).isNotNull && !inside
      else inside
    }
    def render: String =
      s"${escName(latField)},${escName(lonField)}:geo_envelope[$relation;" +
        s"${fmtNum(minLat)},${fmtNum(maxLat)},${fmtNum(minLon)},${fmtNum(maxLon)}]"
    def fields: Seq[String] = Seq(latField, lonField)
  }

  /** Build the conjunction the way the webapp does: empty widget list →
    * match_all, else bool-must of each widget's predicate.
    */
  def conjunction(specs: Seq[FilterSpec]): FilterSpec =
    if (specs.isEmpty) MatchAll else And(specs)

  private def fmtNum(d: Double): String =
    if (d == d.floor && math.abs(d) < 1e15) d.toLong.toString else d.toString
}
