package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column↔Expression converters.
  *
  * Spark 4 wraps `Column` around a `ColumnNode` and gates the Expression
  * constructors behind `private[sql]`; third-party native expressions
  * (graft.functions.CosineSim) still need the conversion, so this one-file
  * shim lives in the `org.apache.spark.sql` package — the same pattern
  * Spark-native libraries use. No other graft code sits in Spark's
  * namespace.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Streaming DataFrame constructor (`isStreaming = true`) — what a
    * DSv1 `Source.getBatch` must return; `private[sql]` in Spark 4, so
    * the graft streaming source (graft.spark.GraftStreamSource) reaches
    * it through this bridge like FileStreamSource does natively.
    */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType,
      isStreaming: Boolean): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming)

  /** Block until every posted listener event is delivered: listeners see
    * events asynchronously, so a counter read without this can miss a job
    * that already started (`listenerBus` is `private[spark]`).
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** A serializable path→FileSystem factory for executor-side file IO
    * (record readers, fixture writers). Wraps the session's Hadoop conf
    * in Spark's own `SerializableConfiguration` (private[spark], hence
    * the shim) and broadcasts it once; the returned lambda is what task
    * closures capture.
    */
  def fsFactory(spark: SparkSession): String => org.apache.hadoop.fs.FileSystem = {
    val bc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    (p: String) => new org.apache.hadoop.fs.Path(p).getFileSystem(bc.value.value)
  }

  /** Apply an extensions instance's injected functions to a FRESH clone of
    * the builtin registry — exactly what `BaseSessionStateBuilder` does at
    * session construction (`extensions.registerFunctions` is
    * `private[sql]`, hence the shim). Lets a spec exercise the
    * `injectFunction` route for real: `getOrCreate()` on a JVM with a live
    * session ignores `withExtensions`, so asserting through a session is a
    * false test (round-7 ADVICE).
    */
  def extensionsRegistry(ext: SparkSessionExtensions)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    ext.registerFunctions(
      org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.clone())

  /** Register a function on a LIVE session's registry (the
    * `spark.sql.extensions` route only applies at session construction).
    */
  def registerFunction(
      spark: SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)

  /** DataFrame over an already-analyzed logical plan — what a DML command
    * needs to execute the statement's resolved SOURCE subtree (`MERGE
    * INTO … USING <source>`) as a query (`Dataset.ofRows` is
    * `private[sql]`, hence the shim).
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A GENUINE extensions-built session on the current SparkContext: a
    * fresh `SessionState` constructed with `applyExts` applied, sharing
    * the context, `SharedState` (catalog/warehouse) and the parent's
    * runtime conf. This is the only honest in-JVM route to test (or use)
    * analyzer-level injection — `builder().withExtensions(...)
    * .getOrCreate()` returns the already-running session with the
    * extensions silently IGNORED (round-7 ADVICE on the false
    * SqlFunctionsSpec test), and `newSession()` clones the parent's
    * (extension-less) state builder.
    */
  def sessionWithExtensions(spark: SparkSession,
      applyExts: SparkSessionExtensions => Unit): SparkSession = {
    val ext = new SparkSessionExtensions
    applyExts(ext)
    val c = spark.asInstanceOf[classic.SparkSession]
    // the 6-arg constructor is Scala-`private` (companion-only) but
    // bytecode-public — the same reflective hop Spark's own connect
    // server uses to mint sibling sessions
    val ctor = classOf[classic.SparkSession].getDeclaredConstructors
      .find(_.getParameterCount == 6)
      .getOrElse(throw new IllegalStateException(
        "classic.SparkSession: no 6-arg constructor — Spark version drift"))
    ctor.newInstance(c.sparkContext, Some(c.sharedState), None, ext,
      c.conf.getAll, Map.empty[String, String])
      .asInstanceOf[SparkSession]
  }
}
