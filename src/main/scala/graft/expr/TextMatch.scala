package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Analyzed text matching — the engine-level replacement for Elasticsearch's
  * dual-field mapping (every string indexed both exact and analyzed via the
  * `.split` subfield, `notebooks/lib/esindex.py:70-97`) and the webapp's
  * `match_phrase_prefix` queries (`services/webapp/src/collections.js:185-191`).
  *
  * Analyzer semantics are defined precisely (SURVEY.md §7.4) rather than
  * bug-compatible with Lucene: lowercase, then split on runs of
  * non-alphanumeric ASCII (`[^a-z0-9]+`). Both the engine side and any SQL
  * oracle can express this identically.
  *
  * Everything here is built-in `Column` algebra — stays inside whole-stage
  * codegen; no UDFs.
  */
object TextMatch {

  /** Tokenize a query string the same way [[normalized]] treats a column —
    * driver-side twin of the executor-side normalization.
    */
  def analyze(text: String): Seq[String] =
    text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq

  /** The analyzed form of a text column: lowercased with every run of
    * non-alphanumerics collapsed to a single space. Not trimmed — matching
    * always goes through the space-padded form ([[Analyzer.padded]]), so
    * edge spaces are harmless and the expression stays a cheap two-op chain.
    */
  def normalized(c: Column): Column =
    regexp_replace(lower(c), "[^a-z0-9]+", " ")

  /** Phrase-prefix match (ES `match_phrase_prefix` over the `.split` field):
    * the query's tokens appear contiguously in the column's token stream,
    * with the final token matched as a prefix. An empty/non-token query
    * matches everything (the webapp only emits the clause for non-empty
    * input, `collections.js:184-191`).
    */
  def phrasePrefix(c: Column, query: String): Column = {
    val toks = analyze(query)
    if (toks.isEmpty) lit(true)
    // " tok1 tok2 tokN" against " text ": every token but the last is
    // followed by a space (complete word); the last may continue (prefix).
    else instr(AsciiAnalyzer.padded(c), " " + toks.mkString(" ")) > 0
  }

  /** ES `fingerprint` analyzer (the OpenRefine clustering key): analyze,
    * DEDUPE the tokens, SORT them, re-join with single spaces — texts that
    * differ only in word order, repetition, punctuation, or case collapse
    * to one key. Built-in column algebra only (split → filter → distinct →
    * sort → join), row-local, codegen'd; the canonical cheap first pass of
    * a text-dedup tier (exact dedup catches byte copies, this catches
    * shuffled/re-punctuated copies, MinHash catches the rest).
    */
  def fingerprint(c: Column): Column =
    array_join(
      array_sort(array_distinct(
        filter(split(normalized(c), " "), t => length(t) > 0))), " ")

  /** DuckDB restatement of [[analyze]] over a text column: its token list
    * (the `[a-z0-9]+` runs of the lowercased text, in order). Every oracle
    * that tokenizes spells the analyzer through this.
    */
  def tokensSql(column: String): String =
    s"regexp_extract_all(lower($column), '[a-z0-9]+')"

  /** DuckDB restatement of [[fingerprint]] — same analysis, same
    * distinct-sort-join pipeline.
    */
  def fingerprintSql(column: String): String =
    s"array_to_string(list_sort(list_distinct(${tokensSql(column)})), ' ')"

  /** DuckDB restatement of [[Analyzer.padded]]: the analyzed text with a
    * space on each side, so a whole-token needle is a plain `position`.
    */
  private def paddedSql(column: String): String =
    s"' ' || regexp_replace(lower($column), '[^a-z0-9]+', ' ', 'g') || ' '"

  /** Whole-token match — ES `match` on an analyzed field with a single-term
    * query (the typeahead's filtered suggest path, `views.js:378-412`).
    */
  def containsToken(c: Column, token: String): Column = {
    val toks = analyze(token)
    if (toks.isEmpty) lit(true)
    else instr(AsciiAnalyzer.padded(c), " " + toks.mkString(" ") + " ") > 0
  }

  /** DuckDB-compatible SQL text for the same phrase-prefix predicate — used
    * by `SparkEntry.oracleSql` so the oracle exercises identical semantics.
    */
  def phrasePrefixSql(column: String, query: String): String = {
    val toks = analyze(query)
    if (toks.isEmpty) "TRUE"
    else {
      val needle = (" " + toks.mkString(" ")).replace("'", "''")
      s"position('$needle' in ${paddedSql(column)}) > 0"
    }
  }

  /** ES highlighting, whole-field mode (`number_of_fragments: 0`): every
    * whole-token occurrence of any query term wrapped in `pre`/`post`
    * tags, on the ORIGINAL text (ES highlights at the analyzed offsets;
    * for this analyzer those are exactly the case-insensitive
    * word-boundary occurrences). One single-pass alternation — matches
    * are found against the original text only, so inserted tags are
    * never re-matched even when a term occurs inside the tag strings.
    * Query terms are analyzed first, so the pattern body is `[a-z0-9]+`
    * alternatives — regex-injection-free by construction.
    */
  def highlight(c: Column, query: String,
      pre: String = "<em>", post: String = "</em>"): Column = {
    val terms = analyze(query).distinct
    require(terms.nonEmpty, s"highlight: query '$query' has no analyzable terms")
    regexp_replace(c,
      "(?i)\\b(" + terms.mkString("|") + ")\\b",
      java.util.regex.Matcher.quoteReplacement(pre) + "$1" +
        java.util.regex.Matcher.quoteReplacement(post))
  }

  /** DuckDB twin of [[highlight]] (RE2 spelling: flags argument, `\1`
    * backreference — same matches, same output strings).
    */
  def highlightSql(column: String, query: String,
      pre: String = "<em>", post: String = "</em>"): String = {
    val terms = analyze(query).distinct
    require(terms.nonEmpty, s"highlight: query '$query' has no analyzable terms")
    val prq = pre.replace("'", "''")
    val poq = post.replace("'", "''")
    s"""regexp_replace($column, '\\b(${terms.mkString("|")})\\b', '$prq\\1$poq', 'gi')"""
  }

  /** ES fragment highlighting (`fragment_size` / `number_of_fragments`)
    * with a DETERMINISTIC windowing contract: the text splits into fixed
    * `fragmentSize`-character windows aligned at offset 0 (ES's unified
    * highlighter breaks at sentence/passage boundaries and scores
    * passages — shard- and analyzer-dependent; fixed windows trade that
    * fidelity for a bit-reproducible, SQL-restatable rule — a documented
    * delta, like the sampler family's). Windows rank by (whole-token
    * match count DESC, offset ASC); the top `numberOfFragments` with at
    * least one match return IN THAT ORDER (ES's default
    * `order: "score"`), each with its matches wrapped `pre`/`post`. A
    * term cut by a window boundary matches in neither window (the `\b`
    * boundary sees a partial word) — deterministic in both engines. No
    * matching window → empty array; null text → null.
    *
    * Row-local column algebra: window substrings via a bounded
    * `transform` over `sequence` (every lambda body references only the
    * lambda variable, literals, and the ROW-LEVEL text column — no
    * rebinding trap), natural struct sort (both engines compare structs
    * field-lexicographically; the negated count makes it (count DESC,
    * offset ASC)), slice, wrap.
    */
  def highlightFragments(c: Column, query: String,
      fragmentSize: Int = 100, numberOfFragments: Int = 5,
      pre: String = "<em>", post: String = "</em>"): Column = {
    require(fragmentSize >= 1, s"highlightFragments: fragmentSize must be >= 1")
    require(numberOfFragments >= 1, s"highlightFragments: numberOfFragments must be >= 1")
    val terms = analyze(query).distinct
    require(terms.nonEmpty, s"highlightFragments: query '$query' has no analyzable terms")
    val pattern = "(?i)\\b(" + terms.mkString("|") + ")\\b"
    val fs = lit(fragmentSize)
    val nWin = greatest(ceil(length(c).cast("double") / fs.cast("double")).cast("int"), lit(1))
    val scored = transform(sequence(lit(0), nWin - 1), i => {
      val frag = c.substr((i * fs + 1).cast("int"), lit(fragmentSize))
      struct((-regexp_count(frag, lit(pattern))).cast("int").as("negc"),
        i.cast("int").as("off"), frag.as("frag"))
    })
    val selected = slice(
      array_sort(filter(scored, s => s("negc") < 0)),
      1, numberOfFragments)
    transform(selected, s =>
      regexp_replace(s("frag"), pattern,
        java.util.regex.Matcher.quoteReplacement(pre) + "$1" +
          java.util.regex.Matcher.quoteReplacement(post)))
  }

  /** DuckDB twin of [[highlightFragments]] — the same fixed windows,
    * negated-count struct sort, slice, and RE2 wrap.
    */
  def highlightFragmentsSql(column: String, query: String,
      fragmentSize: Int = 100, numberOfFragments: Int = 5,
      pre: String = "<em>", post: String = "</em>"): String = {
    val terms = analyze(query).distinct
    require(terms.nonEmpty, s"highlightFragments: query '$query' has no analyzable terms")
    val pattern = ("(?i)\\b(" + terms.mkString("|") + ")\\b").replace("'", "''")
    val prq = pre.replace("'", "''")
    val poq = post.replace("'", "''")
    val fs = fragmentSize
    s"""list_transform(
       |  list_sort(list_filter(
       |    list_transform(range(0, greatest(cast(ceil(len($column)::DOUBLE / $fs) AS INT), 1)),
       |      i -> struct_pack(
       |        negc := -len(regexp_extract_all(substr($column, cast(i * $fs + 1 AS INT), $fs), '$pattern')),
       |        off := cast(i AS INT),
       |        frag := substr($column, cast(i * $fs + 1 AS INT), $fs))),
       |    s -> s.negc < 0))[1:$numberOfFragments],
       |  x -> regexp_replace(x.frag, '$pattern', '$prq\\1$poq', 'g'))""".stripMargin
  }

  /** DuckDB SQL for [[containsToken]] — whole-token (or whole contiguous
    * token sequence) containment; the oracle twin of the query_string
    * `field:term` and `field:"a b"` clauses.
    */
  def containsTokenSql(column: String, token: String): String = {
    val toks = analyze(token)
    if (toks.isEmpty) "TRUE"
    else {
      val needle = (" " + toks.mkString(" ") + " ").replace("'", "''")
      s"position('$needle' in ${paddedSql(column)}) > 0"
    }
  }

  // ===== Unicode analyzer (the ES standard-analyzer delta, SURVEY §7.4) ==
  //
  // The ASCII analyzer above shears multilingual text: "don't" splits at
  // the apostrophe and a CJK sentence becomes one giant token. This mode
  // follows Lucene's StandardTokenizer (UAX#29 word segmentation, the
  // analyzer behind the reference's `.split` subfields) where it matters
  // for retrieval:
  //  - tokens are runs of Unicode letters/digits (any script), lowercased;
  //  - a MEDIAL apostrophe (' or ’) stays inside its token ("don't" is one
  //    token; a trailing "boys'" drops it) — UAX#29 WB6/WB7 MidNumLet;
  //  - Han and Hiragana emit per-CHARACTER tokens, Katakana and Hangul as
  //    runs — exactly StandardTokenizer's IDEOGRAPHIC/HIRAGANA vs
  //    KATAKANA/HANGUL word classes, which is what makes CJK
  //    phrase-prefix search behave like ES's.
  // Mechanics: wrap CJK segments in spaces first (two regexp passes), then
  // extract word tokens — one ordered construction both engines express
  // (Java regex here, RE2 in [[phrasePrefixUnicodeSql]]); scripts disjoint,
  // so pass order is immaterial beyond runs-before-singles.

  private val Apos = "'’"
  // Java syntax (executor + driver sides). RE2 twins below use \p{Script}.
  private val jCjkRuns = "([\\p{IsKatakana}]+|[\\p{IsHangul}]+)"
  private val jCjkSingles = "([\\p{IsHan}\\p{IsHiragana}])"
  private val jWord = s"[\\p{L}\\p{Nd}]+(?:[$Apos][\\p{L}\\p{Nd}]+)*"

  /** Driver-side Unicode analyze — the twin of [[normalizedUnicode]]. */
  def analyzeUnicode(text: String): Seq[String] = {
    val spaced = text.toLowerCase(java.util.Locale.ROOT)
      .replaceAll(jCjkRuns, " $1 ")
      .replaceAll(jCjkSingles, " $1 ")
    val m = java.util.regex.Pattern.compile(jWord).matcher(spaced)
    val b = Seq.newBuilder[String]
    while (m.find()) b += m.group()
    b.result()
  }

  /** The Unicode-analyzed form of a text column: tokens space-joined, so
    * token-sequence matching is substring matching (same padded-instr
    * construction as the ASCII analyzer). Built-in regexp functions only —
    * stays inside whole-stage codegen.
    */
  def normalizedUnicode(c: Column): Column = {
    val spaced = regexp_replace(
      regexp_replace(lower(c), jCjkRuns, " $1 "), jCjkSingles, " $1 ")
    array_join(regexp_extract_all(spaced, lit(jWord), lit(0)), " ")
  }

  /** [[phrasePrefix]] under the Unicode analyzer. */
  def phrasePrefixUnicode(c: Column, query: String): Column = {
    val toks = analyzeUnicode(query)
    if (toks.isEmpty) lit(true)
    else instr(UnicodeAnalyzer.padded(c), " " + toks.mkString(" ")) > 0
  }

  /** Analyzer choice, threaded through the at-rest index build
    * ([[graft.store.SearchIndex]]) and query-side analysis
    * ([[graft.query.Bm25.queryTerms]]): index and queries MUST share one
    * analyzer — that is ES's own index-time/search-time analyzer
    * contract, and mixing them silently returns empty matches (the
    * Unicode spec demonstrates the CJK case).
    */
  sealed trait Analyzer {
    def analyze(text: String): Seq[String]
    def normalized(c: Column): Column

    /** Space-padded normalized text: token boundaries become literal
      * spaces, so token-sequence matching is substring matching.
      */
    def padded(c: Column): Column = concat(lit(" "), normalized(c), lit(" "))
  }

  /** The reference-faithful ASCII analyzer (lowercase, split on
    * non-alphanumeric ASCII) — right for the reference corpus, shears
    * multilingual text.
    */
  case object AsciiAnalyzer extends Analyzer {
    def analyze(text: String): Seq[String] = TextMatch.analyze(text)
    def normalized(c: Column): Column = TextMatch.normalized(c)
  }

  /** The ES standard-flavored Unicode analyzer ([[analyzeUnicode]]). */
  case object UnicodeAnalyzer extends Analyzer {
    def analyze(text: String): Seq[String] = TextMatch.analyzeUnicode(text)
    def normalized(c: Column): Column = TextMatch.normalizedUnicode(c)
  }

  /** Lucene's English stopword set — the 33 words ES's `english` analyzer
    * removes by default (`_english_` in the stop filter; public list).
    */
  val EnglishStopwords: Set[String] = Set(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with")

  /** ES's `english` analyzer: the ASCII tokenizer, then the `_english_`
    * stopword filter, then the Snowball English stemmer
    * ([[graft.expr.PorterStemmer]] — what Lucene's `english` stemmer
    * applies). Query and index sides analyze identically, so
    * "merges"/"merging"/"merged" all meet at the stem "merg" — the
    * recall behavior the analyzer exists for.
    *
    * Deltas stated: ES's english analyzer also runs a possessive-stripper
    * before stemming (`'s` never survives this tokenizer — non-alnum
    * splits — so the filter is vacuous here) and supports `stem_exclusion`
    * (not wired; an excluded word is the caller's pre-processing).
    *
    * The column side stems per token through [[graft.expr.PorterStemExpr]]
    * at the analyzed-column build — an INDEX-time cost ([[graft.store
    * .SearchIndex]]'s `_split` companions persist the stemmed form), not
    * a per-query one.
    */
  case object EnglishAnalyzer extends Analyzer {
    def analyze(text: String): Seq[String] =
      TextMatch.analyze(text)
        .filterNot(EnglishStopwords.contains)
        .map(graft.expr.PorterStemmer.stem)
    def normalized(c: Column): Column = {
      val toks = filter(
        split(trim(TextMatch.normalized(c)), " +"),
        t => length(t) > 0 && !t.isin(EnglishStopwords.toSeq: _*))
      array_join(transform(toks, t => PorterStem(t)), " ")
    }
  }

  /** DuckDB (RE2) restatement of [[phrasePrefixUnicode]]: the same two
    * wrap passes and word extraction with RE2 script classes — identical
    * token streams on both engines for any input both regex dialects
    * segment alike (scripts and categories here are dialect-stable).
    */
  def phrasePrefixUnicodeSql(column: String, query: String): String = {
    val toks = analyzeUnicode(query)
    if (toks.isEmpty) "TRUE"
    else {
      val needle = (" " + toks.mkString(" ")).replace("'", "''")
      val word = s"[\\pL\\p{Nd}]+(?:[''’][\\pL\\p{Nd}]+)*"
      val spaced =
        s"""regexp_replace(regexp_replace(lower($column),
           |  '([\\p{Katakana}]+|[\\p{Hangul}]+)', ' \\1 ', 'g'),
           |  '([\\p{Han}\\p{Hiragana}])', ' \\1 ', 'g')""".stripMargin
      s"""position('$needle' in ' ' || array_to_string(
         |  regexp_extract_all($spaced, '$word'), ' ') || ' ') > 0""".stripMargin
    }
  }
}
