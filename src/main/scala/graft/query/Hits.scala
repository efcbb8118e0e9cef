package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{asc, desc}

/** The hit order every ranked result shares: score descending, ties by id
  * ascending — ES's score order, made total by the id so a page is
  * deterministic and an oracle can restate it.
  */
object Hits {

  /** `scored` in hit order, unlimited. */
  def ordered(scored: DataFrame, idCol: String, scoreCol: String = "score"): DataFrame =
    scored.orderBy(desc(s"`$scoreCol`"), asc(s"`$idCol`"))

  /** The top `n` of `scored` in hit order. Project BEFORE calling this:
    * Limit(Sort(Project)) is the shape the planner turns into
    * TakeOrderedAndProject (per-partition partial top-k, k-row final
    * merge); Project(Limit(Sort)) is a full global sort with a range
    * exchange.
    */
  def top(scored: DataFrame, idCol: String, n: Int, scoreCol: String = "score"): DataFrame =
    ordered(scored, idCol, scoreCol).limit(n)
}
