package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Whole-token term/phrase frequency over the space-padded analyzed form
  * ([[graft.store.SearchIndex.analyzedForm]]): the number of token
  * positions where `token` (one analyzed token, or several joined by
  * single spaces — a PHRASE) occurs as complete consecutive tokens in
  * `" tok1 tok2 ... "`.
  *
  * A codegen'd kernel rather than `size(filter(split(...), ...))` because
  * higher-order functions evaluate interpreted per element (measured
  * pitfall in this repo) — BM25 scoring calls this once per query term per
  * row, squarely on the hot path. The scan counts occurrences of
  * `" needle "` stepping `pos + len(firstToken) + 1` — past the FIRST
  * token only, so a self-overlapping phrase (`"a a"` in `" a a a "`)
  * counts every starting position, exactly the token-sequence semantics
  * the SQL oracle restates (`toks[i:i+p-1] = [...]` over all `i`); for a
  * single term this is the same shared-boundary stepping as before.
  * The step is read off `pattern` itself (the byte offset of its second
  * space), so no per-term number reaches the generated Java source: every
  * term of every query shares one compiled class.
  * Zero-copy over UTF8String bytes.
  */
object TokenAlgo {
  def countToken(padded: UTF8String, pattern: UTF8String): Int = {
    var step = 1
    while (pattern.getByte(step) != ' ') step += 1
    var n = 0
    var from = 0
    var pos = padded.indexOf(pattern, from)
    while (pos >= 0) {
      n += 1
      from = pos + step
      pos = padded.indexOf(pattern, from)
    }
    n
  }
}

case class TokenOccurrencesExpr(child: Expression, token: String)
    extends UnaryExpression {

  override def prettyName: String = "token_occurrences"
  override def dataType: DataType = IntegerType

  // " token " with the trailing space reusable as the next leading space
  private val pattern = UTF8String.fromString(" " + token + " ")

  override protected def nullSafeEval(s: Any): Any =
    TokenAlgo.countToken(s.asInstanceOf[UTF8String], pattern)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pattern", pattern, classOf[UTF8String].getName)
    defineCodeGen(ctx, ev, v => s"graft.expr.TokenAlgo.countToken($v, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): TokenOccurrencesExpr =
    copy(child = newChild)
}

object TokenOccurrences {
  /** Count of whole-token occurrences of `token` — a single analyzed
    * token, or a PHRASE of several joined by single spaces — in a PADDED
    * analyzed column. The token must come from the SAME analyzer that
    * built the column ([[graft.expr.TextMatch]]'s `analyze` for ASCII
    * columns, `analyzeUnicode` for Unicode ones — the kernel is a
    * byte-level substring count, agnostic to which); the guard checks the
    * joined-token SHAPE (no empty/edge/double spaces), not the ASCII
    * alphabet, so CJK and apostrophe tokens pass.
    */
  def apply(paddedAnalyzed: Column, token: String): Column = {
    require(token.nonEmpty && !token.startsWith(" ") && !token.endsWith(" ") &&
        !token.contains("  "),
      s"tokenOccurrences: '$token' is not single-space-joined analyzed tokens")
    ColumnShim.column(TokenOccurrencesExpr(ColumnShim.expression(paddedAnalyzed), token))
  }
}
