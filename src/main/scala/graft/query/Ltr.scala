package graft.query

import graft.expr.TextMatch
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Learning-to-rank feature logging — the ES LTR plugin's feature-set
  * logging shape: for every document in a result window, emit the raw
  * ranking features a reranker trains on (per-term TF, per-term IDF,
  * document length, and the BM25 total — the canonical LTR feature set),
  * joined with the judged relevance label. The output IS training data:
  * this is where the search tier and the training-data tier meet.
  *
  * Feature trees are EXACTLY [[Bm25]]'s (shared `scoreColumn`, shared
  * stats frame), so the logged `f_bm25` is bit-identical to the serving
  * score and the whole log restates in SQL.
  */
object Ltr {

  /** Feature rows for the top-`k` result window of `query`: one row per
    * hit — `(idCol, label, f_dl, f_tf<i>…, f_idf<i>…, f_bm25)`, ordered
    * by the run's own ranking. `judged` carries the relevant ids (binary
    * labels, ES rank_eval's judged-set convention).
    */
  def logFeatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      query: String,
      judged: DataFrame,
      k: Int,
      k1: Double = Bm25.DefaultK1,
      b: Double = Bm25.DefaultB): DataFrame = {
    val terms = Bm25.Terms.words(query)
    val n = terms.terms.size
    val rel = judged.select(col(s"`$idCol`")).distinct().withColumn("_rel", lit(true))
    val outCols: Seq[Column] =
      Seq(col(s"`$idCol`"),
        coalesce(col("_rel"), lit(false)).cast("int").as("label"),
        col("_dl").cast("long").as("f_dl")) ++
        (0 until n).map(i => col(s"_tf$i").cast("long").as(s"f_tf$i")) ++
        (0 until n).map(i => Bm25.idf(col("_n"), col(s"_df$i")).as(s"f_idf$i")) ++
        Seq(col("f_bm25"))
    val logged = Bm25.matchedFrame(docs, idCol, TextMatch.AsciiAnalyzer.padded(col(s"`$textCol`")),
        terms, None, k1, b, scoreCol = "f_bm25")
      .join(rel, Seq(idCol), "left")
      .select(outCols: _*)
    Hits.top(logged, idCol, k, scoreCol = "f_bm25")
  }

  /** Close the loop: ridge-regression weights over a logged feature
    * frame — the reranker the feature log exists to train. Normal
    * equations `(XᵀX + λI)w = Xᵀy` with an intercept column; the moment
    * matrix is one distributed aggregation over the log (k² sums — a
    * bounded 1-row collect, k = |features| + 1), solved driver-side by
    * Gaussian elimination with partial pivoting. Deterministic: the
    * moments are fixed IEEE sums over the (tiny, ordered) log frame and
    * the solve is a fixed elimination order.
    *
    * Returns `(intercept, weights…)` aligned with `featureCols`.
    */
  def trainLinear(
      features: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      l2: Double = 1e-6): Array[Double] = {
    require(featureCols.nonEmpty, "ltr: no feature columns")
    val k = featureCols.size + 1
    val xs = lit(1.0) +: featureCols.map(c => col(s"`$c`").cast("double"))
    val y = col(s"`$labelCol`").cast("double")
    val moments = (for (i <- 0 until k; j <- i until k)
      yield sum(xs(i) * xs(j)).as(s"xx_${i}_$j")) ++
      (0 until k).map(i => sum(xs(i) * y).as(s"xy_$i"))
    val row = features.agg(moments.head, moments.tail: _*).collect()(0)
    val a = Array.ofDim[Double](k, k + 1)
    var idx = 0
    for (i <- 0 until k; j <- i until k) {
      a(i)(j) = row.getDouble(idx); a(j)(i) = a(i)(j); idx += 1
    }
    for (i <- 0 until k) { a(i)(k) = row.getDouble(idx); idx += 1 }
    for (i <- 0 until k) a(i)(i) += l2
    // Gaussian elimination, partial pivot
    for (p <- 0 until k) {
      val piv = (p until k).maxBy(r => math.abs(a(r)(p)))
      val t = a(p); a(p) = a(piv); a(piv) = t
      require(math.abs(a(p)(p)) > 1e-12, "ltr: singular moment matrix — add l2")
      for (r <- p + 1 until k) {
        val f = a(r)(p) / a(p)(p)
        for (c <- p to k) a(r)(c) -= f * a(p)(c)
      }
    }
    val w = new Array[Double](k)
    for (p <- k - 1 to 0 by -1) {
      var s = a(p)(k)
      for (c <- p + 1 until k) s -= a(p)(c) * w(c)
      w(p) = s / a(p)(p)
    }
    w
  }

  /** Rerank a logged feature frame by the learned linear score
    * (intercept + w·features), descending, id ascending on ties —
    * the `rescore`-window application of the trained model.
    */
  def rerank(
      features: DataFrame,
      idCol: String,
      featureCols: Seq[String],
      weights: Array[Double]): DataFrame = {
    require(weights.length == featureCols.size + 1,
      s"ltr: ${weights.length} weights for ${featureCols.size} features + intercept")
    val score = featureCols.zipWithIndex
      .map { case (c, i) => col(s"`$c`").cast("double") * lit(weights(i + 1)) }
      .foldLeft(lit(weights(0)))(_ + _)
    Hits.ordered(features.withColumn("ltr_score", score), idCol, scoreCol = "ltr_score")
  }

  /** DuckDB restatement of [[logFeatures]] — [[Bm25.oracleSql]]'s exact
    * analyzer/TF/IDF/score spellings with the feature projection and the
    * judged-set label join. Single-word query terms only (the logged
    * feature set's own shape).
    */
  def oracleSql(
      table: String,
      idCol: String,
      textExpr: String,
      query: String,
      relPredSql: String,
      k: Int,
      k1: Double = Bm25.DefaultK1,
      b: Double = Bm25.DefaultB): String = {
    val terms = Bm25.queryTerms(query)
    require(terms.nonEmpty && terms.forall(!_.contains(' ')))
    val idfCols = terms.indices.map { i =>
      s"${Bm25.idfSql("st.n", s"st.df$i")} AS f_idf$i"
    }.mkString(",\n  ")
    val tfOut = terms.indices.map(i => s"b.tf$i AS f_tf$i").mkString(", ")
    s"""WITH ${Bm25.oracleBaseCtes(table, idCol, textExpr, terms)}, rel AS (
       |  SELECT $idCol FROM $table WHERE $relPredSql
       |)
       |SELECT b.$idCol,
       |  CASE WHEN b.$idCol IN (SELECT $idCol FROM rel) THEN 1 ELSE 0 END AS label,
       |  b.dl AS f_dl, $tfOut,
       |  $idfCols,
       |  ${Bm25.scoreSql(terms.map(_ => 1.0), k1, b)} AS f_bm25
       |FROM base b, st
       |WHERE ${Bm25.anyTermMatchesSql(terms.size)}
       |ORDER BY f_bm25 DESC, b.$idCol ASC LIMIT $k""".stripMargin
  }
}
