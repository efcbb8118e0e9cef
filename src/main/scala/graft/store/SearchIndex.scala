package graft.store

import graft.expr.TextMatch
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** The at-rest "search index" — the Spark-native replacement for the
  * reference's Elasticsearch dual-field mapping, where every string field is
  * indexed twice: exact (`not_analyzed`) and analyzed (the `.split`
  * subfield; `notebooks/lib/esindex.py:70-97`).
  *
  * Here "indexing" a table means persisting analyzed companions —
  * `<col>_split` holding the space-padded normalized token stream — next to
  * each string column. Phrase-prefix and token queries then compile to a
  * plain `instr` against the precomputed column: no per-row re-normalization
  * at query time, and the padded form is a pushdown-friendly plain string
  * column in parquet. At 100 TB this turns every text query from
  * regex-per-row into a substring scan, and pairs naturally with
  * [[TableStore.saveAsParquetTable]] partitioning.
  */
object SearchIndex {

  /** Suffix for analyzed companion columns (ES used a `.split` subfield;
    * parquet column names cannot contain dots, so `_split`).
    */
  val AnalyzedSuffix = "_split"

  /** The padded analyzed form stored at rest: `" tok1 tok2 ... "` — token
    * boundaries are literal spaces, so token-sequence matching is substring
    * matching (see [[TextMatch]]).
    */
  def analyzedForm(c: Column,
      analyzer: TextMatch.Analyzer = TextMatch.AsciiAnalyzer): Column =
    analyzer.padded(c)

  /** Add `<col>_split` analyzed companions for the given string columns
    * (default: all of them) — the "index the dataset" step.
    */
  def withAnalyzedColumns(df: DataFrame, columns: Seq[String] = Seq.empty,
      analyzer: TextMatch.Analyzer = TextMatch.AsciiAnalyzer): DataFrame = {
    val targets =
      if (columns.nonEmpty) columns
      else df.schema.fields.filter(_.dataType == StringType).map(_.name).toSeq
    targets.foldLeft(df)((d, c) =>
      d.withColumn(c + AnalyzedSuffix, analyzedForm(col(s"`$c`"), analyzer)))
  }

  /** Phrase-prefix over a PRE-ANALYZED `<col>_split` column: the query's
    * tokens appear contiguously, last token as a prefix — same semantics as
    * [[TextMatch.phrasePrefix]] minus the per-row normalization.
    */
  def phrasePrefixIndexed(analyzedCol: Column, query: String,
      analyzer: TextMatch.Analyzer = TextMatch.AsciiAnalyzer): Column = {
    val toks = analyzer.analyze(query)
    if (toks.isEmpty) lit(true)
    else instr(analyzedCol, " " + toks.mkString(" ")) > 0
  }

  /** Whole-token match over a pre-analyzed column. */
  def containsTokenIndexed(analyzedCol: Column, token: String,
      analyzer: TextMatch.Analyzer = TextMatch.AsciiAnalyzer): Column = {
    val toks = analyzer.analyze(token)
    if (toks.isEmpty) lit(true)
    else instr(analyzedCol, " " + toks.mkString(" ") + " ") > 0
  }

  /** Index-and-persist: analyzed companions added, then saved as a
    * Parquet-backed table — the full replacement for the reference's
    * `saveToEs` bulk-indexing step (`esindex.py:116-139`), minus the
    * second cluster.
    */
  def saveAsSearchIndex(
      df: DataFrame,
      db: String,
      table: String,
      basePath: String,
      analyzeColumns: Seq[String] = Seq.empty,
      partitionBy: Seq[String] = Seq.empty,
      analyzer: TextMatch.Analyzer = TextMatch.AsciiAnalyzer): String =
    TableStore.saveAsParquetTable(
      withAnalyzedColumns(df, analyzeColumns, analyzer), db, table, basePath, partitionBy)
}
