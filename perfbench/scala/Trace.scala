package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around every public call the benchmark makes. Timestamps are
  * epoch milliseconds with sub-millisecond precision (a nanoTime offset
  * from one anchor), so they line up with the listener's job and stage
  * times, which Spark stamps with the wall clock.
  *
  * `seq` marks spans that never overlap a sibling: the benchmark is one
  * closed-loop client, so its own calls run one at a time. Only those
  * spans take jobs by interval (see run.py). Scheduler task spans run
  * concurrently on pooled threads and carry wall time only.
  */
final class Spans {
  final case class Span(id: Int, parent: Int, name: String, kind: String,
      seq: Boolean, t0: Double, t1: Double, attrs: Map[String, Any])

  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private val done = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }

  /** Run `body` inside a span on this thread's stack; the body may add
    * attributes (rows, package) to the map it is given.
    */
  def apply[T](name: String, kind: String)(
      body: collection.mutable.Map[String, Any] => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val attrs = collection.mutable.LinkedHashMap.empty[String, Any]
    val t0 = nowMs
    try body(attrs)
    finally {
      val t1 = nowMs
      stack.set(stack.get.tail)
      done.add(Span(id, parent, name, kind, seq = true, t0, t1, attrs.toMap))
    }
  }

  /** A span whose interval was measured elsewhere (a child of `parent`). */
  def record(parent: Int, name: String, kind: String, t0: Double, t1: Double,
      attrs: Map[String, Any]): Unit =
    done.add(Span(ids.incrementAndGet(), parent, name, kind, seq = false, t0, t1, attrs))

  def currentId: Int = stack.get.headOption.getOrElse(0)
  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.t0)
}

/** Engine-side records: jobs, completed stages and planning phases, as
  * Spark reports them on its listener bus. Installed only for traced runs.
  */
final class EngineRecorder extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, t0: Long, t1: Long)
  final case class Stage(id: Int, attempt: Int, t0: Long, t1: Long, tasks: Int,
      runMs: Long, cpuNs: Long, gcMs: Long, inBytes: Long, inRecords: Long,
      shuffleBytes: Long, spillBytes: Long, outBytes: Long)
  final case class Phase(name: String, t0: Long, t1: Long)

  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val phases = new ConcurrentLinkedQueue[Phase]()
  /** The listener's own cost: (event time in epoch ms, callback ns). */
  val callbacks = new ConcurrentLinkedQueue[(Long, Long)]()

  private def timed(at: Long)(f: => Unit): Unit = {
    val t = System.nanoTime(); f; callbacks.add(at -> (System.nanoTime() - t))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed(e.time) {
    starts.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed(e.time) {
    val t0 = Option(starts.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
    jobs.add(Job(e.jobId, t0, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    timed(si.completionTime.getOrElse(System.currentTimeMillis)) {
      val m = si.taskMetrics
      if (m != null) stages.add(Stage(si.stageId, si.attemptNumber(),
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        si.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten))
    }
  }

  private def plan(qe: QueryExecution): Unit = timed(System.currentTimeMillis) {
    qe.tracker.phases.foreach { case (name, s) =>
      phases.add(Phase(name, s.startTimeMs, s.endTimeMs))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq.sortBy(_.t0).map(j => Seq(j.id, j.t0, j.t1)),
    "stage_fields" -> Seq("id", "attempt", "t0", "t1", "tasks", "run_ms",
      "cpu_ns", "gc_ms", "in_bytes", "in_records", "shuffle_bytes",
      "spill_bytes", "out_bytes"),
    "stages" -> stages.asScala.toSeq.sortBy(_.t0).map(s =>
      Seq(s.id, s.attempt, s.t0, s.t1, s.tasks, s.runMs, s.cpuNs, s.gcMs,
        s.inBytes, s.inRecords, s.shuffleBytes, s.spillBytes, s.outBytes)),
    "phases" -> phases.asScala.toSeq.sortBy(_.t0).map(p => Seq(p.name, p.t0, p.t1)),
    "callbacks" -> callbacks.asScala.toSeq.map { case (t, ns) => Seq(t, ns) })
}

/** JSON for the result file and the generated payloads, through the
  * Jackson Scala module Spark already ships.
  */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** Closed-loop bookkeeping shared by the workloads: one sample per
  * operation, the number attempted and the failures with their reasons.
  */
final class Ops {
  val samples = ArrayBuffer.empty[(String, Double)]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0

  def check(what: String)(cond: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!cond) failures += s"$what: $detail"
  }

  /** Time one operation; an exception counts as a failed operation. */
  def timed[T](kind: String, spans: Spans, name: String = "")(
      body: collection.mutable.Map[String, Any] => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = spans(if (name.isEmpty) kind else name, kind)(body)
      samples += kind -> (System.nanoTime() - t0) / 1e9
      Some(r)
    } catch {
      case e: Throwable =>
        failures += s"$kind: ${Option(e.getMessage).getOrElse(e.toString).take(300)}"
        None
    }
  }
}
