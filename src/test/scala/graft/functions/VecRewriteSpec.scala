package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class VecRewriteSpec extends SparkSpec {

  private def hofDot = aggregate(
    zip_with(col("a").cast("array<double>"), col("b").cast("array<double>"),
      (x, y) => x * y),
    lit(0.0), (acc, v) => acc + v)

  import spark.implicits._

  private def fixture = Seq(
    (Array(1f, 2f, 3f), Array(4f, 5f, 6f)),
    (Array(0.5f, -1.25f, 8f), Array(2f, 2f, 0.125f)),
    (Array.empty[Float], Array.empty[Float])).toDF("a", "b")

  test("rule rewrites the HOF dot product when elements are provably non-null") {
    VecRewriteInstall.install(spark)
    // Scala float-array encoders declare containsNull = false — the legal
    // case; repartition blocks ConvertToLocalRelation from folding the
    // projection away before we can inspect it
    val src = fixture.repartition(2)
    assert(!src.schema("a").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull)
    val df = src.select(hofDot.as("dot"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("vec_dot"), s"no rewrite in:\n$plan")
    assert(!plan.contains("aggregate("), s"HOF survived in:\n$plan")
    // and the guarded rewrite computes the right values end-to-end
    assert(df.collect().map(_.getDouble(0)).sorted.toSeq == Seq(-0.5, 0.0, 32.0))
  }

  test("rule is conservative: nullable elements and unequal lengths keep HOF semantics") {
    VecRewriteInstall.install(spark)
    // the embeddings fixture (pyarrow) declares nullable elements — the
    // rewrite must NOT fire there (a null slot would read as 0.0 in the
    // primitive loop but NULLs the HOF result)
    val e = graft.sources.Tables.embeddings(spark, sf)
      .select(col("embedding").as("a"), col("embedding").as("b"))
    val plan = e.select(hofDot.as("dot")).queryExecution.optimizedPlan.toString
    assert(!plan.contains("vec_dot"), s"rewrote nullable-element arrays:\n$plan")
    // unequal lengths: zip_with null-pads → NULL; the rewritten form's
    // size guard must preserve that
    val uneq = Seq((Array(1f, 2f), Array(1f, 2f, 3f))).toDF("a", "b")
    assert(uneq.select(hofDot.as("dot")).head.isNullAt(0))
  }

  test("rewritten result is bit-identical to the interpreted HOF result") {
    VecRewriteInstall.install(spark)
    val rewritten = fixture.select(hofDot.as("dot")).collect().map(_.getDouble(0))
    // compute the un-rewritten truth through a fresh session without the rule
    val clean = spark.newSession()
    import clean.implicits._
    val cleanDf = Seq(
      (Array(1f, 2f, 3f), Array(4f, 5f, 6f)),
      (Array(0.5f, -1.25f, 8f), Array(2f, 2f, 0.125f)),
      (Array.empty[Float], Array.empty[Float])).toDF("a", "b")
    val interpreted = cleanDf.select(
      aggregate(zip_with(col("a").cast("array<double>"), col("b").cast("array<double>"),
        (x, y) => x * y), lit(0.0), (acc, v) => acc + v).as("dot"))
      .collect().map(_.getDouble(0))
    assert(!cleanDf.select(aggregate(zip_with(col("a").cast("array<double>"),
      col("b").cast("array<double>"), (x, y) => x * y), lit(0.0), (acc, v) => acc + v))
      .queryExecution.optimizedPlan.toString.contains("vec_dot"),
      "control session unexpectedly has the rule")
    assert(rewritten.toSeq == interpreted.toSeq)
  }

  test("rule leaves non-matching aggregates alone") {
    VecRewriteInstall.install(spark)
    // sum-of-squares (x*x, not x*y across two arrays) must NOT rewrite
    val df = fixture.select(
      aggregate(transform(col("a").cast("array<double>"), x => x * x),
        lit(0.0), (acc, v) => acc + v).as("ss"))
    assert(!df.queryExecution.optimizedPlan.toString.contains("vec_dot"))
    // double-typed inputs (no float source) must NOT rewrite either
    val dd = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
    val df2 = dd.select(aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v).as("dot"))
    assert(!df2.queryExecution.optimizedPlan.toString.contains("vec_dot"))
    assert(df2.head.getDouble(0) == 11.0)
  }

  test("vec_dot is callable from SQL after registration") {
    SqlFunctions.registerAll(spark)
    val got = spark.sql("SELECT vec_dot(array(1.0f, 2.0f), array(3.0f, 4.0f)) AS d")
      .head().getDouble(0)
    assert(got == 11.0)
  }

  test("GraftExtensions wires functions AND the rewrite rule into a fresh session") {
    // the spark.sql.extensions deployment path, end to end: a session
    // built withExtensions gets vec_cosine/vec_dot in SQL and the
    // optimizer rule without any manual install
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions())
      .getOrCreate()
    val viaSql = s2.sql("SELECT vec_dot(array(1.0f, 2.0f), array(3.0f, 4.0f)) AS d")
      .head().getDouble(0)
    assert(viaSql == 11.0)
    import s2.implicits._
    val src = Seq((Array(1f, 2f), Array(3f, 4f))).toDF("a", "b").repartition(2)
    val df = src.select(aggregate(
      zip_with(col("a").cast("array<double>"), col("b").cast("array<double>"),
        (x, y) => x * y), lit(0.0), (acc, v) => acc + v).as("dot"))
    assert(df.queryExecution.optimizedPlan.toString.contains("vec_dot"),
      "extension-injected rule did not fire")
    assert(df.head.getDouble(0) == 11.0)
  }

  test("native expressions null out on length mismatch and null elements") {
    SqlFunctions.registerAll(spark)
    // HOF/DuckDB parity: mismatched lengths and NULL slots yield NULL,
    // never a truncated or zero-slot-contaminated number
    assert(spark.sql("SELECT vec_dot(array(1.0f), array(1.0f, 2.0f)) AS d")
      .head.isNullAt(0))
    assert(spark.sql(
      "SELECT vec_cosine(array(1.0f, CAST(NULL AS FLOAT)), array(1.0f, 2.0f)) AS c")
      .head.isNullAt(0))
    // and clean inputs are unaffected
    assert(spark.sql("SELECT vec_dot(array(1.0f, 2.0f), array(3.0f, 4.0f)) AS d")
      .head.getDouble(0) == 11.0)
  }

  test("SQL calls over non-float arrays implicit-cast instead of misreading memory") {
    SqlFunctions.registerAll(spark)
    // array<double> and array<int> literals both coerce to array<float>
    val d = spark.sql("SELECT vec_dot(array(1.0, 2.0), array(3.0, 4.0)) AS d")
      .head().getDouble(0)
    assert(d == 11.0)
    val i = spark.sql("SELECT vec_cosine(array(1, 2), array(2, 4)) AS c")
      .head().getDouble(0)
    assert(math.abs(i - 1.0) < 1e-12)
  }
}
