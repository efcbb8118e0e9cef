package graft.ops

import graft.expr.TextMatch
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The corpus datasheet — the "data card" summary every published corpus
  * ships (Datasheets for Datasets, Gebru et al. 2018; the model-card /
  * data-card practice): one long-form `(metric, value)` frame a release
  * pipeline publishes beside the shards, answering the first questions a
  * consumer asks — how big, how long, how diverse, how duplicated,
  * how concentrated.
  *
  * Metrics (all exact; every value one fixed IEEE tree over integer
  * counts, the classifierReport discipline):
  *  - `n_docs`, `n_tokens`, `mean_doc_tokens`
  *  - `n_langs`, `n_sources` — label diversity
  *  - `distinct_text_rate` — |distinct md5(text)| / n (1.0 = no exact
  *    duplicates; the md5 fingerprint is the portable content address
  *    the dedup tier already uses)
  *  - `top_lang_share` — concentration of the largest language slice
  *
  * Scale shape: one metrics scan (map-side-combined sums), one
  * DIVERSITY scan via a skinny `(kind, value)` unpivot (three
  * distinct-count families in one exploded aggregation — never an
  * `Expand` over multiple COUNT DISTINCTs; the dictionary profiler still
  * unions one branch per column, see ROADMAP direction 2), and
  * one lang-counts aggregation for the concentration row. Three scans
  * for a release-time report; nothing wider than the value keys.
  */
object Datasheet {

  def corpusReport(
      docs: DataFrame,
      textCol: String,
      langCol: String,
      sourceCol: String): DataFrame = {
    val toks = split(trim(TextMatch.normalized(col(s"`$textCol`"))), " ")
    val tokCount = size(filter(toks, t => length(t) > 0))

    val base = docs.agg(
      count(lit(1)).as("_n"),
      sum(tokCount.cast("long")).as("_t"))
    val metrics = base.select(explode(array(
      struct(lit("n_docs").as("metric"), col("_n").cast("double").as("value")),
      struct(lit("n_tokens").as("metric"), col("_t").cast("double").as("value")),
      struct(lit("mean_doc_tokens").as("metric"),
        (col("_t").cast("double") / col("_n").cast("double")).as("value")))).as("r"))
      .select(col("r.metric").as("metric"), col("r.value").as("value"))

    // three distinct families in ONE exploded aggregation — no Expand
    val diversity = docs.select(explode(array(
        struct(lit("n_langs").as("kind"), col(s"`$langCol`").cast("string").as("v")),
        struct(lit("n_sources").as("kind"), col(s"`$sourceCol`").cast("string").as("v")),
        struct(lit("distinct_text_rate").as("kind"), md5(col(s"`$textCol`")).as("v")))).as("kv"))
      .select(col("kv.kind").as("kind"), col("kv.v").as("v"))
      .distinct()
      .groupBy("kind").agg(count(lit(1)).as("_d"))
    val diversityRows = diversity.crossJoin(broadcast(base))
      .select(col("kind").as("metric"),
        when(col("kind") === "distinct_text_rate",
          col("_d").cast("double") / col("_n").cast("double"))
          .otherwise(col("_d").cast("double")).as("value"))

    val topLang = docs.groupBy(col(s"`$langCol`")).agg(count(lit(1)).as("_c"))
      .agg(max(col("_c")).as("_m"))
      .crossJoin(broadcast(base))
      .select(lit("top_lang_share").as("metric"),
        (col("_m").cast("double") / col("_n").cast("double")).as("value"))

    metrics.unionByName(diversityRows).unionByName(topLang)
      .orderBy("metric")
  }
}
