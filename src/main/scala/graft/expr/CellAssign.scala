package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Coarse-quantizer cell assignment for IVF ANN (the FAISS-IVF pattern):
  * the `n` cells whose centroids are nearest a vector by cosine.
  *
  * The previous formulation built an `array(struct(...))` per row and ran
  * `array_sort`/`transform`/`slice` — higher-order functions that do NOT
  * participate in whole-stage codegen and eval interpreted per element
  * (measured in this repo: interpreted HOFs burned 745 s of CPU in round-1
  * profiles). At a realistic `nlist ≥ 1024` the assignment is the hot loop
  * of both the index build and the query path, so it is a native kernel
  * here: one fused pass computes all centroid cosines (centroid norms
  * precomputed once per plan, not per row), then an O(nlist·n) partial
  * argmax selects the top cells — no allocation beyond the output array.
  */
final class CentroidSet(val vectors: Array[Array[Double]]) extends Serializable {
  /** Sequential Σc² per centroid — the same fold order as DuckDB's
    * `list_inner_product(c, c)`, so L2 argmin scores restate bit-for-bit.
    */
  val normsSq: Array[Double] = vectors.map { v =>
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    s
  }
  val norms: Array[Double] = normsSq.map(math.sqrt)
}

object CellAlgo {
  /** Top-`n` cell indexes by cosine descending, cell index ascending on ties
    * (the deterministic tiebreak the query path relies on); zero-norm
    * vectors/centroids score 0, matching [[VectorAlgo.cosine]].
    */
  def nearestCells(vec: ArrayData, cs: CentroidSet, n: Int): ArrayData = {
    val x = vec.toDoubleArray()
    var nx = 0.0
    var i = 0
    while (i < x.length) { nx += x(i) * x(i); i += 1 }
    nx = math.sqrt(nx)
    val k = cs.vectors.length
    val cos = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cv = cs.vectors(c)
      val m = math.min(x.length, cv.length)
      var d = 0.0
      var j = 0
      while (j < m) { d += x(j) * cv(j); j += 1 }
      cos(c) = if (nx == 0.0 || cs.norms(c) == 0.0) 0.0 else d / (nx * cs.norms(c))
      c += 1
    }
    val take = math.min(n, k)
    val out = new Array[Int](take)
    val used = new Array[Boolean](k)
    var r = 0
    while (r < take) {
      var best = -1
      var bestCos = Double.NegativeInfinity
      var cc = 0
      while (cc < k) {
        // strict > keeps the smallest index on cosine ties
        if (!used(cc) && cos(cc) > bestCos) { best = cc; bestCos = cos(cc) }
        cc += 1
      }
      used(best) = true
      out(r) = best
      r += 1
    }
    new GenericArrayData(out)
  }

  /** Top-`n` cell indexes by EUCLIDEAN distance ascending (cell index
    * ascending on ties) — the metric a product-quantizer subspace assignment
    * needs (cosine is scale-invariant and would ignore subvector magnitude).
    * Scored as argmax of `2·x·c − ‖c‖²` (equal to argmin ‖x−c‖² since ‖x‖²
    * is constant per row): one fused dot-product pass per centroid, and an
    * expression DuckDB restates verbatim as
    * `2 * list_inner_product(x, c) - list_inner_product(c, c)` with the
    * identical sequential summation — so code assignment is bit-stable
    * across engines (see the `ann_ivfpq` oracle).
    */
  def nearestCellsL2(vec: ArrayData, cs: CentroidSet, n: Int): ArrayData = {
    val x = vec.toDoubleArray()
    val k = cs.vectors.length
    val score = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cv = cs.vectors(c)
      val m = math.min(x.length, cv.length)
      var d = 0.0
      var j = 0
      while (j < m) { d += x(j) * cv(j); j += 1 }
      score(c) = 2 * d - cs.normsSq(c)
      c += 1
    }
    val take = math.min(n, k)
    val out = new Array[Int](take)
    val used = new Array[Boolean](k)
    var r = 0
    while (r < take) {
      var best = -1
      var bestScore = Double.NegativeInfinity
      var cc = 0
      while (cc < k) {
        // strict > keeps the smallest index on score ties
        if (!used(cc) && score(cc) > bestScore) { best = cc; bestScore = score(cc) }
        cc += 1
      }
      used(best) = true
      out(r) = best
      r += 1
    }
    new GenericArrayData(out)
  }
}

/** `array<int>` of the `n` nearest cell indexes, as a codegen'd expression;
  * the centroid matrix rides along as a plan-level reference object (one
  * per plan, shared by every row — not per-row literals).
  */
case class NearestCellsExpr(child: Expression, centroids: CentroidSet, n: Int,
    l2: Boolean = false)
    extends UnaryExpression {

  override def prettyName: String = if (l2) "ivf_cells_l2" else "ivf_cells"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  def cells(vec: ArrayData): ArrayData =
    if (l2) CellAlgo.nearestCellsL2(vec, centroids, n)
    else CellAlgo.nearestCells(vec, centroids, n)

  override protected def nullSafeEval(vec: Any): Any = cells(vec.asInstanceOf[ArrayData])

  // the expression itself is the reference: no field reaches the Java source
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cellsExpr", this, classOf[NearestCellsExpr].getName)
    defineCodeGen(ctx, ev, v => s"$ref.cells($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCellsExpr =
    copy(child = newChild)
}

object CellAssign {
  def nearestCells(vec: Column, centroids: Seq[Array[Double]], n: Int): Column =
    ColumnShim.column(NearestCellsExpr(
      ColumnShim.expression(vec.cast("array<double>")),
      new CentroidSet(centroids.toArray), n))

  /** Euclidean-metric variant ([[CellAlgo.nearestCellsL2]]) — the PQ
    * subquantizer assignment.
    */
  def nearestCellsL2(vec: Column, centroids: Seq[Array[Double]], n: Int): Column =
    ColumnShim.column(NearestCellsExpr(
      ColumnShim.expression(vec.cast("array<double>")),
      new CentroidSet(centroids.toArray), n, l2 = true))
}
