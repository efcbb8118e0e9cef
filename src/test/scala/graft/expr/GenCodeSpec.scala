package graft.expr

import graft.SparkSpecBase
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext

/** Generated code is value-free: two instances of each codegen'd
  * expression that differ only in per-call values — every input a
  * parameter of another value, every own field (a token, a query's
  * shingles, a probe width, a gram length) another value — write
  * byte-identical Java source, so one compiled class serves every call.
  * A value written into the source would make each new value a new class
  * and overflow Spark's codegen cache under a serving mix.
  */
class GenCodeSpec extends SparkSpecBase {

  /** `v` as a per-call parameter of its literal's type. */
  private def p(v: Any): Expression = {
    val l = Literal(v)
    ParamExpr(l.value, l.dataType)
  }

  /** The Java source `e` contributes to a generated class. */
  private def source(e: Expression): String = {
    val ctx = new CodegenContext
    val ev = e.genCode(ctx)
    Seq(ctx.declareMutableStates(), ctx.initMutableStates(), ctx.declareAddedFunctions(),
      ev.code.toString, ev.isNull.toString, ev.value.toString).mkString("\n")
  }

  private val cells = new CentroidSet(Array(Array(1.0, 0.0), Array(0.0, 1.0)))
  private val otherCells = new CentroidSet(Array(Array(0.5, 0.5), Array(-1.0, 0.0), Array(0.0, -1.0)))

  /** One pair per `doGenCode` override in `graft.expr`: the 24 kernels
    * and the parameter itself.
    */
  private val pairs: Seq[(String, Expression, Expression)] = Seq(
    ("CountInSetExpr", CountInSetExpr(p(Array("a", "b")), p(Array("a"))),
      CountInSetExpr(p(Array("c")), p(Array("x", "y", "z")))),
    ("TokenizeExpr", TokenizeExpr(p("Hello world")), TokenizeExpr(p("x"))),
    ("ShingleHashesExpr", ShingleHashesExpr(p("a b c"), p(2)), ShingleHashesExpr(p("d e"), p(5))),
    ("ShingleStringsExpr", ShingleStringsExpr(p("a b c"), p(2)), ShingleStringsExpr(p("d e"), p(5))),
    ("JaccardSortedExpr", JaccardSortedExpr(p(Array(1L, 2L)), p(Array(2L))),
      JaccardSortedExpr(p(Array(7L)), p(Array(3L, 9L)))),
    ("MinHashSigExpr", MinHashSigExpr(p(Array(1L, 2L)), p(16)), MinHashSigExpr(p(Array(5L)), p(64))),
    ("NfcCleanExpr", NfcCleanExpr(p("é")), NfcCleanExpr(p("plain"))),
    ("GeohashExpr", GeohashExpr(p(39.29), p(-76.61), p(2)), GeohashExpr(p(42.33), p(-83.04), p(7))),
    ("DotProductExpr", DotProductExpr(p(Array(1.0, 2.0)), p(Array(3.0, 4.0))),
      DotProductExpr(p(Array(0.5)), p(Array(0.25)))),
    ("CosineSimExpr", CosineSimExpr(p(Array(1.0, 2.0)), p(Array(3.0, 4.0))),
      CosineSimExpr(p(Array(0.5)), p(Array(0.25)))),
    ("VecSumExpr", VecSumExpr(p(Array(1.0, 2.0))), VecSumExpr(p(Array(9.0)))),
    ("VecSubExpr", VecSubExpr(p(Array(1.0, 2.0)), p(Array(3.0, 4.0))),
      VecSubExpr(p(Array(0.5)), p(Array(0.25)))),
    ("LanguageIdExpr", LanguageIdExpr(p("the cat"), Seq("en" -> Seq("the")), 0.1),
      LanguageIdExpr(p("le chat"), Seq("fr" -> Seq("le", "la"), "de" -> Seq("der")), 0.3)),
    ("DamerauLevenshteinExpr", DamerauLevenshteinExpr(p("kitten"), p("sitting")),
      DamerauLevenshteinExpr(p("a"), p("b"))),
    ("NearestCellsExpr", NearestCellsExpr(p(Array(1.0, 0.0)), cells, 1),
      NearestCellsExpr(p(Array(0.0, 2.0)), otherCells, 3)),
    ("SimHash64Expr", SimHash64Expr(p(Array("a", "b"))), SimHash64Expr(p(Array("c")))),
    ("BigramJaccardExpr", BigramJaccardExpr(p("a b c"), Seq("a b")),
      BigramJaccardExpr(p("x y"), Seq("x y", "y z", "z w"))),
    ("GramStatsExpr", GramStatsExpr(p(Array("a", "b", "a")), p(2)), GramStatsExpr(p(Array("c")), p(4))),
    ("LinesExpr", LinesExpr(p("a\nb")), LinesExpr(p("c"))),
    ("GramHashesExpr", GramHashesExpr(p("a b c d"), 3), GramHashesExpr(p("e f"), 5)),
    ("WinnowExpr", WinnowExpr(p("a b c d"), 3, 4), WinnowExpr(p("e f"), 5, 2)),
    ("PorterStemExpr", PorterStemExpr(p("running")), PorterStemExpr(p("cats"))),
    ("DeflateLenExpr", DeflateLenExpr(p("aaaa")), DeflateLenExpr(p("b"))),
    // the BM25 term kernel: `step` is the first token's byte length + 1
    ("TokenOccurrencesExpr", TokenOccurrencesExpr(p(" dup vector "), "dup"),
      TokenOccurrencesExpr(p(" spark merge "), "vector scan")),
    ("ParamExpr", p(3.0), p(6.0)))

  for ((name, a, b) <- pairs)
    test(s"$name writes the same Java source for other per-call values") {
      assert(source(a) === source(b))
    }

  test("a token's occurrences count the same with the step read off the pattern") {
    import org.apache.spark.unsafe.types.UTF8String.fromString
    // a self-overlapping phrase counts every starting position; a CJK
    // first token steps by its byte length
    assert(TokenAlgo.countToken(fromString(" a a a "), fromString(" a a ")) === 2)
    assert(TokenAlgo.countToken(fromString(" dup x dup "), fromString(" dup ")) === 2)
    assert(TokenAlgo.countToken(fromString(" 数据 库 "), fromString(" 数据 库 ")) === 1)
  }
}
