package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** X148: thin orchestration shim — the reference's Airflow layer
  * re-expressed as a driver loop over the already-idempotent pipeline
  * stages.
  *
  * Reference semantics (`airflow/dags/apify_dag.py:38-50`):
  * `retries: 1` + `retry_delay: 5 min` per task, `@hourly` schedule with
  * `catchup=False`, and a task graph of
  * `generate_scripts → run_single_script (mapped per account) →
  * aggregate_results → ES indexing`. A failed task retries after the
  * delay; once it exhausts its retries, downstream tasks don't run
  * (Airflow's `upstream_failed`).
  *
  * Spark-native shape: scheduling is a DRIVER concern, not a data-plane
  * one, so this is deliberately a thin loop — the heavy lifting (what
  * makes retries safe at all) lives in the stages themselves:
  * [[Pipeline.runAccount]] commits via overwrite snapshots and
  * delete-own-stamp JDBC appends, so attempt 2 after a mid-task crash
  * converges to the exact no-failure state (PipelineSpec/SchedulerSpec
  * pin this). Airflow's scheduler DB becomes a task-state table in the
  * lake: every attempt appends one row
  * `(run_date, run_time, task, attempt, status, error, elapsed_ms)`, so
  * "what ran, what retried, what failed and why" is a SQL query instead
  * of a web UI.
  *
  * At scale the per-account layer is embarrassingly parallel; tasks
  * within a layer run concurrently on the shared (thread-safe)
  * SparkSession, mirroring Airflow's dynamic task mapping
  * (`apify_dag.py:83-91,336`). A layer is one [[FanOut]]: every task
  * starts at once, whatever the core count, and the next layer starts only
  * after every task of this one has finished. The DAG's separate ES
  * indexing task is folded into `aggregate_results`, whose lake writes,
  * JDBC appends and ES bulks run in one fan-out of their own; a failure in
  * any of them fails the task after all of them finish, and the retry
  * rewrites each idempotently.
  */
object Scheduler {

  /** One schedulable unit: a name plus a side-effecting body. */
  case class TaskDef(name: String, body: () => Unit)

  /** One attempt's outcome — a row of the task-state table. */
  case class Attempt(run_date: Int, run_time: Int, task: String,
      attempt: Int, status: String, error: String, elapsed_ms: Long)

  /** `retries`/`retryDelayMs` mirror the DAG's `default_args`
    * (`apify_dag.py:38-39`: retries=1, retry_delay=5 min — tests shrink
    * the delay). `stateDir`: where the task-state table appends.
    */
  case class Config(retries: Int = 1, retryDelayMs: Long = 0L,
      stateDir: Option[String] = None)

  val Success = "success"
  val Failed = "failed"
  val UpstreamFailed = "upstream_failed"

  /** Run one scheduled tick. `layers` is the task graph flattened to
    * rank order: tasks within a layer are independent and run
    * concurrently; a layer starts only when the previous one fully
    * succeeded. A task that exhausts its retries fails the tick: the
    * remaining layers' tasks are recorded `upstream_failed` and never
    * execute (their lake/JDBC state is untouched — exactly Airflow's
    * trigger-rule default).
    *
    * Returns the tick's attempt history (also appended to the
    * task-state table when `stateDir` is set — appended even on a failed
    * tick, so the failure is visible to the next tick's operator).
    */
  def runTick(spark: SparkSession, cfg: Config, date: Int, time: Int,
      layers: Seq[Seq[TaskDef]]): Seq[Attempt] = {
    val attempts = Seq.newBuilder[Attempt]
    var failed = false
    layers.foreach { layer =>
      if (failed) {
        layer.foreach { t =>
          attempts += Attempt(date, time, t.name, 0, UpstreamFailed, "", 0L)
        }
      } else {
        val results = FanOut.all(layer.map(t => () => runTask(cfg, date, time, t)))
        results.foreach(attempts ++= _)
        if (results.exists(_.last.status == Failed)) failed = true
      }
    }
    val out = attempts.result()
    cfg.stateDir.foreach(persistState(spark, _, out))
    out
  }

  /** One task with the DAG's retry contract: up to `retries + 1`
    * attempts, a fixed `retryDelayMs` sleep between them, every attempt
    * recorded. The body's effects are NOT rolled back on failure — like
    * Airflow, the retry model requires idempotent tasks, which is what
    * the pipeline stages provide.
    */
  private def runTask(cfg: Config, date: Int, time: Int,
      t: TaskDef): Seq[Attempt] = {
    val out = Seq.newBuilder[Attempt]
    var n = 0
    var done = false
    while (!done && n <= cfg.retries) {
      n += 1
      if (n > 1 && cfg.retryDelayMs > 0) Thread.sleep(cfg.retryDelayMs)
      val t0 = System.nanoTime()
      val err = try { t.body(); None } catch {
        case e: Throwable =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(500))
      }
      val ms = (System.nanoTime() - t0) / 1000000L
      out += Attempt(date, time, t.name, n,
        if (err.isEmpty) Success else Failed, err.getOrElse(""), ms)
      done = err.isEmpty
    }
    out.result()
  }

  /** The reference DAG's graph for one hourly tick, over
    * [[Pipeline.runAccount]]/[[Pipeline.runAggregate]]: layer 1 = the
    * mapped per-account tasks, layer 2 = `aggregate_results` (which also
    * carries the JDBC and ES sinks, in the same fan-out as its lake
    * writes). `wrap` lets tests inject failures around a named task
    * without touching the production bodies.
    */
  def pipelineTick(spark: SparkSession, cfg: Config, pcfg: Pipeline.Config,
      date: Int, time: Int, payloads: Seq[(String, String)],
      wrap: (String, () => Unit) => () => Unit = (_, b) => b): Seq[Attempt] = {
    val perAccount = payloads.map { case (account, payload) =>
      val name = s"run_single_script[$account]"
      TaskDef(name, wrap(name,
        () => Pipeline.runAccount(spark, pcfg, date, time, account, payload)))
    }
    val aggregate = TaskDef("aggregate_results", wrap("aggregate_results",
      () => Pipeline.runAggregate(spark, pcfg, date, time, payloads.map(_._1))))
    runTick(spark, cfg, date, time, Seq(perAccount, Seq(aggregate)))
  }

  /** The `@hourly` loop: run `pipelineTick` for each (date, time) in
    * order. `catchup=False` semantics ride on the caller handing the
    * ticks that should actually run (Airflow skips missed intervals;
    * here the tick list IS the schedule). A tick that fails does not
    * stop later ticks — each hour is an independent DAG run.
    */
  def runSchedule(spark: SparkSession, cfg: Config, pcfg: Pipeline.Config,
      ticks: Seq[(Int, Int)],
      payloadsFor: (Int, Int) => Seq[(String, String)]): Seq[Attempt] =
    ticks.flatMap { case (d, t) =>
      pipelineTick(spark, cfg, pcfg, d, t, payloadsFor(d, t))
    }

  /** The task-state table: full attempt history across ticks, the SQL
    * answer to Airflow's task-instance view.
    */
  def stateTable(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(s"$stateDir/_scheduler_state")

  private def persistState(spark: SparkSession, dir: String,
      rows: Seq[Attempt]): Unit =
    spark.createDataFrame(rows)
      .coalesce(1) // driver-sized: one small file per tick, not 32
      .write.mode("append").parquet(s"$dir/_scheduler_state")
}
