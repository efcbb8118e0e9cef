package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
  * the MOSS algorithm; public): hash every k-token shingle, slide a window
  * of `w` consecutive hashes, keep each window's minimum. Guarantees: any
  * shared token run of length ≥ `k + w − 1` contributes at least one
  * COMMON fingerprint to both documents, at an expected density of
  * `2/(w+1)` — the local, position-robust selection that makes PARTIAL
  * overlap (quotes, boilerplate headers, copied passages) detectable where
  * whole-document MinHash/Jaccard dilutes it.
  *
  * Hashes are the repo's PORTABLE md5 construction (first 13 hex chars of
  * `md5(gram)` as a base-16 long — [[graft.ops.Sampling.hashUnit]]'s
  * integer form), so a SQL oracle recomputes every fingerprint bit for
  * bit; window minima compare VALUES, making tie-handling irrelevant, and
  * the output is the sorted distinct set. One row-local kernel pass,
  * O(grams × w) with the small `w` this is used at.
  */
object WinnowAlgo {

  private val hexDigest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 52 bits of md5(s) as a long — equals SQL
    * `('0x' || substr(md5(s), 1, 13))::BIGINT`.
    */
  def portableHash(s: String): Long = {
    val d = hexDigest.get()
    d.reset()
    val bytes = d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // 13 hex chars = 6.5 bytes: 6 full bytes + the high nibble of byte 7.
    var v = 0L
    var i = 0
    while (i < 6) { v = (v << 8) | (bytes(i) & 0xffL); i += 1 }
    (v << 4) | ((bytes(6) & 0xf0L) >> 4)
  }

  def fingerprints(text: UTF8String, k: Int, w: Int): ArrayData = {
    val toks = TextShingleAlgo.tokenize(text)
    if (toks.length < k) return new GenericArrayData(Array.empty[Long])
    val nGrams = toks.length - k + 1
    val hashes = new Array[Long](nGrams)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < nGrams) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      hashes(i) = portableHash(sb.toString)
      i += 1
    }
    val mins = new java.util.TreeSet[java.lang.Long]()
    if (nGrams < w) {
      var best = Long.MaxValue
      var g = 0
      while (g < nGrams) { if (hashes(g) < best) best = hashes(g); g += 1 }
      mins.add(best)
    } else {
      var start = 0
      while (start <= nGrams - w) {
        var best = Long.MaxValue
        var g = start
        while (g < start + w) { if (hashes(g) < best) best = hashes(g); g += 1 }
        mins.add(best)
        start += 1
      }
    }
    val out = new Array[Long](mins.size)
    val it = mins.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  /** ALL k-gram portable hashes of `text`, sorted distinct — the
    * un-winnowed set (the portable MinHash twin's gram space). Same
    * tokenize + gram-string + md5 loop as [[fingerprints]] without the
    * window-min selection; one row-local kernel pass where the HOF
    * formulation (`transform` + `slice` + `concat_ws` + md5 per gram) ran
    * interpreted and 10× slower at corpus scale.
    */
  def gramHashes(text: UTF8String, k: Int): ArrayData = {
    val toks = TextShingleAlgo.tokenize(text)
    if (toks.length < k) return new GenericArrayData(Array.empty[Long])
    val nGrams = toks.length - k + 1
    val set = new java.util.TreeSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < nGrams) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      set.add(portableHash(sb.toString))
      i += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }
}

/** `text → array<long>` sorted distinct portable k-gram hashes (codegen'd). */
case class GramHashesExpr(child: Expression, k: Int) extends UnaryExpression {
  override def prettyName: String = "graft_gram_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def hashes(text: UTF8String): ArrayData = WinnowAlgo.gramHashes(text, k)

  override protected def nullSafeEval(text: Any): Any = hashes(text.asInstanceOf[UTF8String])

  // the expression itself is the reference: no field reaches the Java source
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gramsExpr", this, classOf[GramHashesExpr].getName)
    defineCodeGen(ctx, ev, t => s"$ref.hashes($t)")
  }

  override protected def withNewChildInternal(newChild: Expression): GramHashesExpr =
    copy(child = newChild)
}

/** `text → array<long>` sorted distinct winnowed fingerprints (codegen'd). */
case class WinnowExpr(child: Expression, k: Int, w: Int) extends UnaryExpression {
  override def prettyName: String = "graft_winnow"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  def fingerprints(text: UTF8String): ArrayData = WinnowAlgo.fingerprints(text, k, w)

  override protected def nullSafeEval(text: Any): Any = fingerprints(text.asInstanceOf[UTF8String])

  // the expression itself is the reference: no field reaches the Java source
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("winnowExpr", this, classOf[WinnowExpr].getName)
    defineCodeGen(ctx, ev, t => s"$ref.fingerprints($t)")
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowExpr =
    copy(child = newChild)
}

object Winnow {
  /** Sorted distinct winnowed fingerprints of `text` (k-token shingles,
    * window `w`).
    */
  def fingerprints(text: Column, k: Int, w: Int): Column = {
    require(k >= 1 && w >= 1, s"winnow: k and w must be positive, got k=$k w=$w")
    ColumnShim.column(WinnowExpr(ColumnShim.expression(text), k, w))
  }

  /** Sorted distinct portable k-gram hashes of `text` (no winnowing). */
  def gramHashes(text: Column, k: Int): Column = {
    require(k >= 1, s"gramHashes: k must be positive, got k=$k")
    ColumnShim.column(GramHashesExpr(ColumnShim.expression(text), k))
  }
}
