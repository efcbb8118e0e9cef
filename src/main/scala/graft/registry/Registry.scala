package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query, declared once.
  *
  * @param name   the key Verify, Bench and the HTTP routes use
  * @param run    builds the query's DataFrame from (session, sf dir)
  * @param oracle DuckDB SQL over the same parquet files, with the same
  *               column names and rounding; None only for the pinned
  *               rows-only set (RegistryCompletenessSpec)
  * @param warm   serves from pinned caches (SURVEY §3.3), so Bench primes
  *               it once untimed
  */
final case class QueryCase(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    warm: Boolean = false)

/** A family of queries that share one bench tier: `serving` (the
  * interactive dashboard/search surface), `pipeline` (corpus-scale
  * training-data ops) or `etl` (harmonize, profile and build paths).
  */
abstract class Family(val tier: String) {
  val cases: Seq[QueryCase]
}

object Registry {
  val families: Seq[Family] = Seq(
    HarmonizeQueries, BuildQueries, EsqlQueries,
    SearchQueries, QueryStringQueries, AggQueries, RetrievalQueries,
    DedupQueries, SimilarityQueries, TextQueries, SamplingQueries)

  val cases: Seq[QueryCase] = families.flatMap(_.cases)

  /** name -> the tier its family declares. */
  val tiers: Map[String, String] =
    SparkEntry.distinctByName("tiers",
      families.flatMap(f => f.cases.map(_.name -> f.tier)))
}
