package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.lake.Layout
import graft.sinks.{Elastic, Jdbc}
import graft.util.Scratch

/** X148 pins — the Airflow-shim contract (`airflow/dags/apify_dag.py:38-50`):
  * a task that fails once retries after the delay and the TICK converges to
  * the exact no-failure state (because the stage bodies are idempotent); a
  * task that exhausts its retries marks downstream `upstream_failed` and
  * never runs it; every attempt lands in the task-state table.
  */
class SchedulerSpec extends SparkSpec {

  private def payloads(run: Int): Seq[(String, String)] =
    Seq(("acct_a", 1), ("acct_b", 5)).map { case (a, m) =>
      a -> PipelineQueries.payloadJson(spark, sf, m, run)
    }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def lakeState(cfg: Pipeline.Config): Seq[String] =
    Seq(
      Layout.snapshots(spark, Pipeline.usageRef(cfg, "acct_a")),
      Layout.snapshots(spark, Pipeline.usageRef(cfg, "acct_b")),
      Layout.snapshots(spark, Pipeline.aggregatedRef(cfg))
    ).flatMap(rows)

  test("scheduler: injected failure retries then succeeds, state identical to a clean run") {
    // clean tick in root A
    val clean = Pipeline.Config(Scratch.dir("sched_clean"))
    Scheduler.pipelineTick(spark, Scheduler.Config(), clean, 20250301, 1100, payloads(1))

    // same tick in root B, with acct_a's task failing on its first attempt
    // AFTER doing partial work (the worst case: a crash mid-task leaves a
    // half-committed attempt behind for the retry to converge over)
    val flakyRoot = Scratch.dir("sched_flaky")
    val flaky = Pipeline.Config(flakyRoot)
    val calls = new AtomicInteger(0)
    val history = Scheduler.pipelineTick(
      spark, Scheduler.Config(retries = 1, retryDelayMs = 10, stateDir = Some(flakyRoot)),
      flaky, 20250301, 1100, payloads(1),
      wrap = (name, body) => () => {
        if (name == "run_single_script[acct_a]" && calls.incrementAndGet() == 1) {
          body() // partial work lands…
          throw new RuntimeException("injected mid-task crash")
        } else body()
      })

    assert(lakeState(flaky) == lakeState(clean))

    // attempt history: acct_a failed once then succeeded; everything else
    // succeeded first try; nothing upstream_failed
    val a = history.filter(_.task == "run_single_script[acct_a]")
    assert(a.map(h => (h.attempt, h.status)) ==
      Seq((1, Scheduler.Failed), (2, Scheduler.Success)))
    assert(a.head.error.contains("injected mid-task crash"))
    assert(history.filterNot(_.task == "run_single_script[acct_a]")
      .forall(h => h.attempt == 1 && h.status == Scheduler.Success))

    // the state table carries the same history
    val table = Scheduler.stateTable(spark, flakyRoot)
      .collect().map(r => (r.getAs[String]("task"), r.getAs[Int]("attempt"),
        r.getAs[String]("status"))).toSet
    assert(table == history.map(h => (h.task, h.attempt, h.status)).toSet)
  }

  test("scheduler: exhausted retries fail the tick and skip downstream tasks") {
    val root = Scratch.dir("sched_fail")
    val cfg = Pipeline.Config(root)
    val history = Scheduler.pipelineTick(
      spark, Scheduler.Config(retries = 1, stateDir = Some(root)),
      cfg, 20250301, 1100, payloads(1),
      wrap = (name, body) => () =>
        if (name == "run_single_script[acct_b]")
          throw new RuntimeException("permanently broken")
        else body())

    val b = history.filter(_.task == "run_single_script[acct_b]")
    assert(b.map(h => (h.attempt, h.status)) ==
      Seq((1, Scheduler.Failed), (2, Scheduler.Failed)))
    // aggregate never ran: recorded upstream_failed, table absent
    val agg = history.filter(_.task == "aggregate_results")
    assert(agg.map(_.status) == Seq(Scheduler.UpstreamFailed))
    assert(!new java.io.File(Pipeline.aggregatedRef(cfg).dir).exists())
    // the healthy account's work committed (Airflow leaves succeeded
    // siblings committed; the retry of the DAG run re-runs idempotently)
    assert(new java.io.File(Pipeline.usageRef(cfg, "acct_a").dir).exists())
  }

  test("scheduler: hourly schedule runs each tick independently and accumulates state") {
    val root = Scratch.dir("sched_hourly")
    val cfg = Pipeline.Config(root)
    val history = Scheduler.runSchedule(
      spark, Scheduler.Config(stateDir = Some(root)), cfg,
      ticks = Seq((20250301, 1100), (20250302, 900)),
      payloadsFor = (_, t) => payloads(if (t == 1100) 1 else 2))

    assert(history.forall(_.status == Scheduler.Success))
    assert(history.count(_.task == "aggregate_results") == 2)
    // two ticks → two appends in the state table, distinguishable by stamp
    val stamps = Scheduler.stateTable(spark, root)
      .select("run_date", "run_time").distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(stamps == Set((20250301, 1100), (20250302, 900)))
    // the second tick saw the first's aggregate → the cross-day global
    // diff ran (the schedule is genuinely stateful across ticks)
    assert(new java.io.File(Pipeline.globalCompRef(cfg).dir).exists())
  }

  test("scheduler: an unchanged account's empty diff does not fail the next aggregate") {
    // two same-day runs of one account with identical rows and no NULL
    // full_name: the 23:00 diff is empty, so its snapshot write leaves a
    // table dir with no data file, which the aggregate then reads
    val cfg = Pipeline.Config(Scratch.dir("sched_quiet"))
    val payload = Seq("acct_q" ->
      """[{"username": "ann", "full_name": "Ann Lee"}, {"username": "bob", "full_name": "Bob Ray"}]""")
    val history = Seq(2200, 2300).flatMap(t =>
      Scheduler.pipelineTick(spark, Scheduler.Config(), cfg, 20250301, t, payload))
    assert(history.forall(_.status == Scheduler.Success),
      history.filter(_.status != Scheduler.Success).map(_.error).mkString("; "))
    assert(Layout.snapshotAt(spark, Pipeline.comparatifAggRef(cfg), 20250301, 2300).count() == 0)
    assert(Layout.snapshotAt(spark, Pipeline.aggregatedRef(cfg), 20250301, 2300).count() == 4)
  }

  test("scheduler: a sink failing inside the aggregate fan-out converges on retry") {
    // the aggregate's lake writes, JDBC appends and ES bulks run together,
    // so a sink can fail while its siblings have already written; the
    // retry must still land exactly a clean run's lake, JDBC and ES state
    def run(name: String, stub: BulkStub, failSecondTick: Boolean)
        : (Pipeline.Config, Seq[Scheduler.Attempt]) = {
      val cfg = Pipeline.Config(Scratch.dir(name), es = Some(stub.config),
        jdbc = Some(Jdbc.JdbcConfig(url = s"jdbc:derby:memory:$name;create=true",
          driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver")))
      val sched = Scheduler.Config(retries = 1)
      val first = Scheduler.pipelineTick(spark, sched, cfg, 20250301, 1100, payloads(1))
      stub.failNext.set(failSecondTick)
      (cfg, first ++ Scheduler.pipelineTick(spark, sched, cfg, 20250301, 1200, payloads(2)))
    }
    def state(cfg: Pipeline.Config): Seq[String] = lakeState(cfg) ++ Seq(
      Layout.snapshots(spark, Pipeline.comparatifAggRef(cfg)),
      Layout.snapshots(spark, Pipeline.globalCompRef(cfg))).flatMap(rows) ++
      Seq("final_aggregated_usage", "final_comparatif_usage", "acct_a", "acct_b")
        .flatMap(t => rows(Jdbc.read(spark, cfg.jdbc.get, t)).map(t + _))

    val (cleanStub, flakyStub) = (new BulkStub, new BulkStub)
    try {
      val (clean, cleanHistory) = run("sched_sink_clean", cleanStub, failSecondTick = false)
      val (flaky, history) = run("sched_sink_flaky", flakyStub, failSecondTick = true)
      assert(cleanHistory.forall(h => h.attempt == 1 && h.status == Scheduler.Success))
      assert(history.filter(h => h.task == "aggregate_results" && h.run_time == 1200)
        .map(h => (h.attempt, h.status)) == Seq((1, Scheduler.Failed), (2, Scheduler.Success)))
      assert(state(flaky) == state(clean))
      val docs = cleanStub.accepted
      assert(docs.size > 0 && flakyStub.accepted == docs)
      assert(docs.stream().anyMatch(_._1 == Elastic.comparatifIndex))
    } finally { cleanStub.stop(); flakyStub.stop() }
  }
}
