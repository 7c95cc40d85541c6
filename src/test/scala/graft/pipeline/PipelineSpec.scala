package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.SparkSpec
import graft.lake.Layout
import graft.sinks.Jdbc
import graft.sinks.Jdbc.JdbcConfig

/** Composed-pipeline pins (X40) beyond the oracled q_pipeline_e2e:
  * golden rows for each diff-fidelity branch, and the retry contract —
  * re-running a completed run changes NOTHING, in the lake or in JDBC
  * (the reference's Airflow retries, `airflow/dags/apify_dag.py:38-39`,
  * would duplicate both its formatted-layer appends and its Postgres
  * inserts).
  */
class PipelineSpec extends SparkSpec {

  private lazy val timeline: Pipeline.Config =
    PipelineQueries.replayTimeline(spark, sf)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private lazy val finalRows: Seq[String] =
    rows(PipelineQueries.finalState(spark, timeline))

  test("pipeline: timeline produces all three final tables") {
    val srcs = finalRows.map(_.split(",")(0).drop(1)).distinct.sorted
    assert(srcs == Seq("agg", "cmp", "glob"))
  }

  test("pipeline: rename in run 3 shows as added+deleted under the new/old key") {
    // first %13==0 key in the scope that is a run-2 AND run-3 member:
    // 65 → %8==1 (acct_a), %10==5 (all runs), %5==0 → "James", male 0.9
    val cmp = finalRows.filter(s => s.contains("cmp") && s.contains("u65"))
    assert(cmp.exists(s => s.contains("James Renamed") && s.contains("added")))
    assert(cmp.exists(s => s.contains("James Doe") && s.contains("deleted")))
    assert(cmp.forall(s => s.contains("male,0.9")))
  }

  test("pipeline: NULL-key rows surface as both added and deleted (reference fidelity)") {
    // 77: %11==0 → NULL full_name, %7==0 → Emma_77 (female 0.7 via the
    // username tier), member of runs 2 and 3 (%10==7)
    val cmp = finalRows.filter(s => s.contains("cmp") && s.contains("Emma_77"))
    assert(cmp.exists(_.contains("added")))
    assert(cmp.exists(_.contains("deleted")))
    assert(cmp.forall(s => s.contains("female,0.7")))
  }

  test("pipeline: global diff carries cross-day tags at run 2 and same-day at run 3") {
    val glob = finalRows.filter(_.startsWith("[glob"))
    // run 2 (0900) diffs day-2 against day-1: both tags present
    assert(glob.exists(s => s.contains(",900,") && s.contains("added_global")))
    assert(glob.exists(s => s.contains(",900,") && s.contains("deleted_global")))
    // run 3 (1000): current side is the day's two-run union, so only
    // NULL-key rows can be deleted_global (they never match themselves)
    val del3 = glob.filter(s => s.contains(",1000,") && s.contains("deleted_global"))
    assert(del3.nonEmpty && del3.forall(_.contains(",null,")))
  }

  test("pipeline: re-running a completed run is a no-op on every table") {
    val before = finalRows // forces the timeline lazily first
    val usageBefore = rows(Layout.snapshots(spark, Pipeline.usageRef(timeline, "acct_a")))
    val fmtBefore = rows(Layout.snapshots(spark, Pipeline.formattedRef(timeline, "acct_a")))

    // retry run 2 with identical payloads (the Airflow retry shape)
    val payloads = Seq(("acct_a", 1), ("acct_b", 5)).map { case (a, m) =>
      a -> PipelineQueries.payloadJson(spark, sf, m, 2)
    }
    Pipeline.runHourly(spark, timeline, 20250302, 900, payloads)

    assert(rows(PipelineQueries.finalState(spark, timeline)) == before)
    assert(rows(Layout.snapshots(spark, Pipeline.usageRef(timeline, "acct_a"))) == usageBefore)
    assert(rows(Layout.snapshots(spark, Pipeline.formattedRef(timeline, "acct_a"))) == fmtBefore)
  }

  test("pipeline: JDBC sink is retry-idempotent (delete-own-stamp-then-append)") {
    val jdbc = JdbcConfig(
      url = "jdbc:derby:memory:graftpipe;create=true",
      driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val cfg = PipelineQueries.replayTimeline(spark, sf,
      Some(Pipeline.Config(graft.util.Scratch.dir("pipeline_jdbc"), jdbc = Some(jdbc))))

    def tableRows(t: String): Seq[String] =
      rows(Jdbc.read(spark, jdbc, t))

    val agg = tableRows("final_aggregated_usage")
    val cmp = tableRows("final_comparatif_usage")
    val acct = tableRows("acct_a")
    assert(agg.nonEmpty && cmp.nonEmpty && acct.nonEmpty)
    // the per-run stamps partition the table: one batch per (date, time)
    assert(agg.exists(_.contains("20250301")) && agg.exists(_.contains("20250302")))

    // retry run 2: JDBC contents must not grow or change
    val payloads = Seq(("acct_a", 1), ("acct_b", 5)).map { case (a, m) =>
      a -> PipelineQueries.payloadJson(spark, sf, m, 2)
    }
    Pipeline.runHourly(spark, cfg, 20250302, 900, payloads)

    assert(tableRows("final_aggregated_usage") == agg)
    assert(tableRows("final_comparatif_usage") == cmp)
    assert(tableRows("acct_a") == acct)
  }

  test("pipeline: aggregates flow to the ES _bulk endpoint keyed by username") {
    val stub = new BulkStub
    try {
      val cfg = Pipeline.Config(graft.util.Scratch.dir("pipeline_es"), es = Some(stub.config))
      val payloads = Seq(("acct_a", 1), ("acct_b", 5)).map { case (a, m) =>
        a -> PipelineQueries.payloadJson(spark, sf, m, 1)
      }
      Pipeline.runHourly(spark, cfg, 20250301, 1100, payloads)
      val docs = stub.accepted.toArray(Array.empty[(String, String)])
      assert(docs.nonEmpty)
      // run 1 has no comparatif → only the aggregated index is written
      assert(docs.forall(_._1 == "final_aggregated_index"))
      // doc-id upsert keyed by username (the reference's es.mapping.id)
      assert(docs.exists(_._2.matches("""(u|Emma_)\d+""")))
    } finally stub.stop()
  }

  test("pipeline: every table's declared schema equals the one its files infer") {
    finalRows // forces the timeline
    val t = timeline
    val refs = Seq("acct_a", "acct_b").flatMap(a => Seq(Pipeline.formattedRef(t, a),
      Pipeline.usageRef(t, a), Pipeline.comparatifRef(t, a))) ++
      Seq(Pipeline.aggregatedRef(t), Pipeline.comparatifAggRef(t), Pipeline.globalCompRef(t))
    refs.foreach { ref =>
      def shape(df: DataFrame) = df.schema.fields.toSeq.map(f => (f.name, f.dataType))
      assert(ref.dataSchema.nonEmpty, ref.dir)
      assert(shape(spark.read.parquet(ref.dir)) == shape(Layout.snapshots(spark, ref)), ref.dir)
    }
  }

  test("pipeline: a declared table rejects a write whose columns differ") {
    import org.apache.spark.sql.functions.lit
    val ref = Pipeline.usageRef(Pipeline.Config(graft.util.Scratch.dir("pipeline_declared")), "a")
    val good = spark.range(1).select(lit("u1").as("username"), lit("Ann Lee").as("full_name"),
      lit("female").as("predicted_gender"), lit(0.9).as("confidence"))
    Seq(good.withColumnRenamed("full_name", "fullname"), good.withColumn("extra", lit(1)))
      .foreach { bad =>
        intercept[IllegalArgumentException](Layout.overwriteSnapshot(bad, ref, 20250301, 100))
      }
    assert(!new java.io.File(ref.dir).exists())
    Layout.overwriteSnapshot(good, ref, 20250301, 100)
    assert(Layout.snapshotAt(spark, ref, 20250301, 100).count() == 1)
  }

  test("pipeline: building a declared snapshot read runs no Spark job") {
    finalRows // forces the timeline
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def drain(): Unit = org.apache.spark.sql.GraftShim.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      drain(); jobs.set(0)
      Layout.snapshots(spark, Pipeline.usageRef(timeline, "acct_a"))
      drain()
      assert(jobs.get == 0, s"the declared read ran ${jobs.get} schema jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The jobs `body` runs, in start order. */
  private def jobsOf(body: => Unit): Seq[PipelineSpec.Job] = {
    val plans = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
          .getOrElse("")
        started.add((s"${prop("spark.job.tags")} ${prop("spark.job.description")}",
          prop("spark.sql.execution.id")))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.physicalPlanDescription)
        case _ =>
      }
    }
    def drain(): Unit = org.apache.spark.sql.GraftShim.drainListenerBus(spark.sparkContext)
    drain()
    spark.sparkContext.addSparkListener(listener)
    try { body; drain() } finally spark.sparkContext.removeSparkListener(listener)
    started.asScala.toSeq.map { case (labels, id) =>
      PipelineSpec.Job(labels, id.toLongOption.flatMap(i => Option(plans.get(i))).getOrElse(""))
    }
  }

  test("pipeline: an account task runs one layer write and no inference, broadcast or discovery job") {
    val cfg = Pipeline.Config(graft.util.Scratch.dir("pipeline_jobs"))
    val date = 20250301
    Pipeline.runAccount(spark, cfg, date, 900, "acct_a",
      PipelineQueries.payloadJson(spark, sf, 1, 1))
    val payload = PipelineQueries.payloadJson(spark, sf, 1, 2)
    val jobs = jobsOf(Pipeline.runAccount(spark, cfg, date, 1000, "acct_a", payload))
    val shown = jobs.map(j => j.labels + " " +
      j.plan.linesIterator.find(_.contains("Arguments: file:")).getOrElse(j.plan.take(300)))
      .mkString("\n")
    // schema inference and a discovery scan run outside any write
    assert(jobs.forall(_.plan.contains("InsertIntoHadoopFsRelationCommand")), shown)
    assert(!jobs.exists(_.labels.contains("broadcast")), shown)
    val formatted = Pipeline.formattedRef(cfg, "acct_a")
    val usage = Pipeline.usageRef(cfg, "acct_a")
    def writes(ref: Layout.TableRef) =
      jobs.count(_.plan.contains(s"Arguments: file:${ref.dir},"))
    assert(writes(formatted) + writes(usage) == 1, shown)
    val fmtRows = rows(Layout.snapshotAt(spark, formatted, date, 1000))
    assert(fmtRows.nonEmpty)
    assert(rows(Layout.snapshotAt(spark, usage, date, 1000)) == fmtRows)
  }
}

object PipelineSpec {

  /** One Spark job: its tags and description, and the plan of the SQL
    * execution it ran in ("" when it ran outside any).
    */
  final case class Job(labels: String, plan: String)
}
