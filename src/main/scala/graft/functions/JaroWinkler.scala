package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro–Winkler string similarity as a native codegen'd Catalyst
  * expression (X79) — the entity-resolution scorer for human-entered
  * names (customers, suppliers, authors) where X65's edit-distance-1
  * neighborhood is too strict: JW tolerates transpositions and weights a
  * shared prefix, which is how record-linkage literature (Winkler 1990,
  * census name matching) scores name variants.
  *
  * Spark has `levenshtein` but no Jaro–Winkler; the portable fallback is
  * a Scala UDF — boxed, interpreted, codegen barrier. This is instead a
  * `BinaryExpression` whose generated code is one static call into a
  * tight primitive loop ([[JaroText.jw]]), so a full-corpus similarity
  * refine stays inside WholeStageCodegen (the same Expression-over-UDF
  * bar as [[CosineSim]]).
  *
  * Semantics pinned to the de-facto standard (and bit-matched against
  * DuckDB's `jaro_winkler_similarity`, our oracle engine, in
  * JaroWinklerSpec):
  *  - match window `max(|a|,|b|)/2 - 1`; zero matches → 0.0 (hence
  *    "" vs "" is 0.0, not 1.0);
  *  - transpositions counted over the matched subsequences, halved
  *    with FLOOR (integer division — the strcmp95 convention DuckDB
  *    and jellyfish follow; an odd out-of-order count rounds down);
  *  - Winkler prefix boost `j + p·0.1·(1-j)` with `p = min(prefix, 4)`,
  *    applied only when `j > 0.7` (the classic boost threshold).
  */
object JaroText {

  /** Jaro–Winkler similarity in [0, 1]. Operates on Java chars (UTF-16
    * code units) — identical to byte-wise for ASCII corpora, and
    * consistent for any string pair compared against itself.
    */
  def jw(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.toString
    val b = ub.toString
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)

    val ma = new Array[Boolean](la) // a's matched flags
    val mb = new Array[Boolean](lb) // b's matched flags
    var m = 0
    var i = 0
    while (i < la) {
      val from = math.max(i - window, 0)
      val to = math.min(i + window, lb - 1)
      var k = from
      var found = false
      while (!found && k <= to) {
        if (!mb(k) && b.charAt(k) == a.charAt(i)) {
          ma(i) = true; mb(k) = true; m += 1; found = true
        }
        k += 1
      }
      i += 1
    }
    if (m == 0) return 0.0

    // Transpositions: walk both matched subsequences in order.
    var trans = 0
    var k = 0
    i = 0
    while (i < la) {
      if (ma(i)) {
        while (!mb(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) trans += 1
        k += 1
      }
      i += 1
    }

    val md = m.toDouble
    // transpositions FLOOR to an integer (strcmp95/jellyfish/DuckDB
    // lineage): an odd out-of-order count t gives (t-1)/2, not t/2.0 —
    // the sf1 oracle gate caught the fractional variant diverging on
    // 2% of supplier pairs (3 out-of-order chars → t=1, not 1.5)
    val j = (md / la + md / lb + (md - trans / 2) / md) / 3.0
    if (j <= 0.7) return j

    var p = 0
    val pMax = math.min(4, math.min(la, lb))
    while (p < pMax && a.charAt(p) == b.charAt(p)) p += 1
    j + p * 0.1 * (1.0 - j)
  }
}

/** `jaro_winkler(string, string) -> double` — see [[JaroText.jw]]. */
case class JaroWinklerSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    JaroText.jw(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.JaroText.jw($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** DataFrame/SQL entry points for the string-similarity expression. */
object StringSim {
  def jaroWinkler(a: Column, b: Column): Column =
    GraftShim.column(JaroWinklerSim(GraftShim.expression(a), GraftShim.expression(b)))
}
