package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Word-bigram Jaccard between an analyzed text column and a FIXED query
  * shingle set — the ES|QL RERANK "ngram-jaccard" scorer's kernel.
  *
  * A codegen'd single pass rather than the HOF formulation
  * (`array_intersect(sh, q)` / `array_distinct(concat(sh, q))` over
  * `sh = array_distinct(transform(sequence(...), ...))`): higher-order
  * functions evaluate interpreted per element (this repo's measured
  * pitfall — see [[TokenAlgo]]), and the shingle subtree appears in BOTH
  * the intersection and the union branch, so every row paid tokenize +
  * shingle + distinct TWICE plus four intermediate array allocations
  * (measured: esql_rerank 16.7 s at sf0.1; the kernel replays the same
  * integer-exact counts in one pass over the string).
  *
  * Semantics pinned to the HOF form it replaces (EsqlSpec):
  * tokens are the maximal space-free runs of the input (≡ `split(trim(s),
  * " +")` minus empties), doc shingles are the DISTINCT adjacent-token
  * pairs joined by one space, `j = |doc ∩ q| / |doc ∪ q|` with both
  * counts over distinct sets — exact small ints, one IEEE division.
  * A sub-2-token document has an empty shingle set and scores
  * `0 / |q| = 0.0`. Callers must coalesce a nullable input to `""` so
  * the null row keeps the HOF form's 0.0 (not null) score.
  */
object JaccardAlgo {
  def bigramJaccard(s0: UTF8String, qSet: java.util.HashSet[String], qSize: Int): Double = {
    val s = s0.toString
    val n = s.length
    val docSet = new java.util.HashSet[String]()
    var inter = 0
    var prev: String = null
    var i = 0
    while (i < n) {
      while (i < n && s.charAt(i) == ' ') i += 1
      if (i < n) {
        val start = i
        while (i < n && s.charAt(i) != ' ') i += 1
        val tok = s.substring(start, i)
        if (prev != null) {
          val sh = prev + " " + tok
          if (docSet.add(sh) && qSet.contains(sh)) inter += 1
        }
        prev = tok
      }
    }
    val uni = docSet.size + qSize - inter
    if (uni == 0) 0.0 else inter.toDouble / uni.toDouble
  }
}

case class BigramJaccardExpr(child: Expression, queryShingles: Seq[String])
    extends UnaryExpression {

  override def prettyName: String = "bigram_jaccard"
  override def dataType: DataType = DoubleType

  @transient private lazy val qSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    queryShingles.foreach(s.add)
    s
  }
  private val qSize = queryShingles.distinct.size

  def score(s: UTF8String): Double = JaccardAlgo.bigramJaccard(s, qSet, qSize)

  override protected def nullSafeEval(s: Any): Any = score(s.asInstanceOf[UTF8String])

  // the expression itself is the reference: no field reaches the Java source
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jaccardExpr", this, classOf[BigramJaccardExpr].getName)
    defineCodeGen(ctx, ev, v => s"$ref.score($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): BigramJaccardExpr =
    copy(child = newChild)
}

object BigramJaccard {
  /** `j(analyzed, shingles)` over a NON-NULL analyzed-text column (coalesce
    * nullable inputs to `""` — scores 0.0, the empty-shingle-set row).
    * `shingles` are distinct single-space-joined token pairs from the SAME
    * analyzer that built the column.
    */
  def apply(analyzed: Column, shingles: Seq[String]): Column = {
    require(shingles.nonEmpty, "bigramJaccard: empty query shingle set")
    ColumnShim.column(BigramJaccardExpr(ColumnShim.expression(analyzed), shingles.distinct))
  }
}
