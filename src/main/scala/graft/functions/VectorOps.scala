package graft.functions

import org.apache.spark.sql.{Column, GraftShim, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Vector math over `array<float>` embedding columns.
  *
  * The reference has no vector operations at all; this is north-star surface
  * (similarity search / embedding dedup). Spark's built-in route is
  * `aggregate(zip_with(a, b, _*_), 0d, _+_)` — three higher-order functions
  * that build an intermediate array per row and evaluate the lambda
  * interpreted, outside whole-stage codegen. `CosineSim` is instead a native
  * Catalyst `BinaryExpression` whose generated code is a single static call
  * into a tight primitive loop, so a 100 TB scan of embeddings stays inside
  * WholeStageCodegen with zero allocation per row.
  */
object VecMath {
  /** Cosine similarity of two float vectors with double accumulation
    * (index order, so the result is bit-stable across engines that
    * accumulate the same way). NaN when either norm is zero; null (boxed)
    * when lengths differ or any element slot is NULL — matching what the
    * portable HOF formulation and DuckDB's list_cosine_similarity produce
    * rather than silently truncating / reading zeroed slots.
    */
  def cosineF(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** EXACT integer dot product over `array<long>` (the X111/X191
    * quantized-vector domain): overflow-checked accumulation — callers
    * rely on exactness, so a silent wrap must be impossible. Null on
    * length mismatch or NULL element.
    */
  def dotL(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      dot = java.lang.Math.addExact(dot,
        java.lang.Math.multiplyExact(a.getLong(i), b.getLong(i)))
      i += 1
    }
    dot
  }

  /** Dot product with double accumulation; null on length mismatch or
    * NULL element (same contract as [[cosineF]]).
    */
  def dotF(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    dot
  }
}

/** `vec_cosine(array<float>, array<float>) -> double` as a codegen'd
  * Catalyst expression (SURVEY §2.4 E3 scale path).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  // array<float> required: the primitive loop reads 4-byte floats. The SQL
  // builders ([[VectorOps.coerceFloatArray]]) cast numeric arrays up
  // front; this check rejects anything that slips through rather than
  // misreading memory. (ImplicitCastInputTypes is private[sql] in
  // Spark 4, hence the builder-side coercion.)
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_cosine"

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecMath.cosineF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("cosR")
      s"""java.lang.Double $r = graft.functions.VecMath.cosineF($a, $b);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `vec_dot(array<float>, array<float>) -> double` as a codegen'd Catalyst
  * expression — the hyperplane-projection primitive for LSH bucketing
  * (interpreted `aggregate(zip_with(...))` costs ~µs/row·plane; this stays
  * in whole-stage codegen).
  */
case class DotProd(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecMath.dotF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("dotR")
      s"""java.lang.Double $r = graft.functions.VecMath.dotF($a, $b);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `array<long> · array<long> -> long`, exact — the quantized-vector
  * twin of [[DotProd]] (X191 SemDeDup's pair kernel: the interpreted
  * `aggregate(zip_with(...))` fold costs ~µs per pair and dominated the
  * cluster-scoped join; this stays in whole-stage codegen).
  */
case class DotProdL(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  override def dataType: DataType = LongType
  override def prettyName: String = "vec_dot_exact"

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecMath.dotL(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("dotL")
      s"""java.lang.Long $r = graft.functions.VecMath.dotL($a, $b);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-API entry points for the native vector expressions. */
object VectorOps {
  def cosine(a: Column, b: Column): Column =
    GraftShim.column(CosineSim(GraftShim.expression(a), GraftShim.expression(b)))

  def dot(a: Column, b: Column): Column =
    GraftShim.column(DotProd(GraftShim.expression(a), GraftShim.expression(b)))

  def dotExact(a: Column, b: Column): Column =
    GraftShim.column(DotProdL(GraftShim.expression(a), GraftShim.expression(b)))

  /** Coerce any numeric array onto the float-array contract at the SQL
    * boundary (users write `array(1.0, 2.0)` and get DOUBLE literals).
    */
  private[functions] def coerceFloatArray(e: Expression): Expression =
    e.dataType match {
      case ArrayType(FloatType, _) => e
      case ArrayType(_: NumericType, n) => Cast(e, ArrayType(FloatType, n))
      case _ => e // rejected by checkInputDataTypes with a typed error
    }
}

/** `SparkSessionExtensions` hook registering the vector functions for SQL
  * use: `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * then `SELECT vec_cosine(a.embedding, b.embedding) ...`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // the whole SQL-exposed expression library (vec_cosine, jaro_winkler,
    // url_canon, html_text, nfc_normalize, topk_by_count, …) — one shared
    // list with the live-session route, see SqlFunctions
    SqlFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((new FunctionIdentifier(name), info, builder))
    }
    // rewrite portable HOF dot products into the native expression
    ext.injectOptimizerRule(_ => VecRewrite)
    // X179: SQL row-level DML (DELETE/UPDATE/MERGE) on graft tables —
    // post-hoc resolution swaps the resolved DML node for a graft command
    // before checkAnalysis's "v2 tables only" refusal fires (Delta's
    // architecture for the same gap)
    ext.injectPostHocResolutionRule(_ => graft.spark.GraftDmlRule)
    // X181: the maintenance SQL surface (VACUUM / OPTIMIZE / DESCRIBE
    // HISTORY) — a delegating parser that owns only its own leading
    // keywords, Delta's architecture for the same statements
    ext.injectParser((_, delegate) => new graft.spark.GraftSqlParser(delegate))
    // X184: table_changes('<path>', from, to [, keys]) — the change data
    // feed as a SQL table-valued function (Delta's table_changes)
    ext.injectTableFunction(graft.spark.GraftTableFunctions.tableChanges)
  }
}
