package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Serving-tier result shaping over a scored match set — ES's
  * `search_after` keyset pagination and `collapse` field collapsing.
  * Both operate on the `(id, score)` frame [[Bm25.scored]] produces
  * (or any scored frame with the same two-key ordering contract:
  * score descending, id ascending on ties — ES's `_score` sort with the
  * tiebreaker field every pagination guide tells you to add).
  *
  * Why these exist at 100 TB: `from`/`size` offset paging makes every
  * deeper page re-rank `from + size` rows (ES hard-caps it at 10k for
  * exactly this reason); `search_after` replaces the offset with a
  * PREDICATE on the sort key — constant work per page, pushdown-friendly
  * — which is why ES points deep pagination at it. Collapse dedups the
  * result list by a field (one best hit per domain/source) without
  * a separate aggregation round trip.
  */
object Paging {

  /** ES `search_after`: the page strictly after the anchor sort tuple
    * `(afterScore, afterId)` under (score desc, id asc) ordering — the
    * lexicographic strictly-after predicate, then the same partial
    * top-k shape as [[Bm25.topK]] (never a global offset scan). The
    * anchor is the LAST hit of the previous page, passed back by the
    * client exactly as ES's `search_after` array.
    */
  def searchAfter(
      scored: DataFrame, idCol: String, scoreCol: String,
      afterScore: Double, afterId: Long, k: Int): DataFrame = {
    val s = col(s"`$scoreCol`")
    val id = col(s"`$idCol`")
    scored
      .where(s < afterScore || (s === afterScore && id > afterId))
      .orderBy(desc(scoreCol), asc(idCol))
      .limit(k)
  }

  /** ES `collapse`: one best hit per `groupCol` value (best = highest
    * score, id-ascending tiebreak), the collapsed list ranked by the
    * surviving hits' scores, top `k`. The per-group argmax is a
    * partitioned window — group-parallel at any corpus size, no
    * unpartitioned sort.
    */
  def collapseTopHits(
      scored: DataFrame, idCol: String, scoreCol: String,
      groupCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(s"`$groupCol`"))
      .orderBy(desc(scoreCol), asc(idCol))
    scored
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
      .orderBy(desc(scoreCol), asc(idCol))
      .limit(k)
  }

  /** [[collapseTopHits]] with ES `inner_hits`: the top `k` collapse
    * groups — ordered by each group's BEST hit, exactly as the collapsed
    * list would order them — each carrying its own top `innerK` hits
    * (`inner_rank` 1..innerK within the group, `group_rank` over groups).
    * The per-group window is group-parallel (partitioned by the collapse
    * field, the PlanSpec-pinned collapse shape); the group-ranking frame
    * is one row per surviving group, k-row-bounded downstream.
    */
  def collapseInnerHits(
      scored: DataFrame, idCol: String, scoreCol: String,
      groupCol: String, k: Int, innerK: Int): DataFrame = {
    require(k >= 1 && innerK >= 1,
      s"collapseInnerHits: k and innerK must be >= 1, got k=$k innerK=$innerK")
    val g = col(s"`$groupCol`")
    val w = Window.partitionBy(g).orderBy(desc(scoreCol), asc(idCol))
    val ranked = scored
      .withColumn("inner_rank", row_number().over(w))
      .where(col("inner_rank") <= innerK)
    val topGroups = ranked.where(col("inner_rank") === 1)
      .orderBy(desc(scoreCol), asc(idCol))
      .limit(k)
      .select(g.as(groupCol),
        row_number().over(Window.orderBy(desc(scoreCol), asc(idCol)))
          .as("group_rank"))
    ranked.join(broadcast(topGroups), Seq(groupCol))
      .select(col(s"`$groupCol`"), col("group_rank"), col("inner_rank"),
        col(s"`$idCol`"), col(scoreCol))
      .orderBy("group_rank", "inner_rank")
  }
}
