package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM. `run.py` builds the classpath, owns
  * the scratch root and turns the result file into metrics.
  *
  * Arguments: --workload --seed --seconds --trace --scratch --out, and for
  * query_mix --data (the generated tables) and --mix (the query list).
  */
object Main {
  final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
      trace: Boolean, scratch: String, args: Map[String, String], spans: Spans,
      ops: Ops)

  /** What a workload hands back: set-up parts it measured, the time the
    * timed loop began (epoch ms), its own details and round samples.
    */
  final case class Result(inputGenS: Double, warmS: Double, timingBeganMs: Double,
      rounds: Seq[Double], details: Map[String, Any])

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val scratch = a("scratch")
    val spans = new Spans
    val heap = new HeapPeak
    val t0 = spans.nowMs
    val spark = session(scratch)
    val sessionS = (spans.nowMs - t0) / 1e3
    val recorder = if (a("trace") == "1") {
      val r = new EngineRecorder; r.install(spark); Some(r)
    } else None
    val ctx = Ctx(spark, a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", scratch, a, spans, new Ops)
    val res = workload match {
      case "hourly_pipeline" => Hourly.run(ctx)
      case "lake_table_mix" => LakeMix.run(ctx)
      case "query_mix" => QueryMix.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    recorder.foreach(_.drain(spark))
    val heapPeakMb = heap.finish() / (1024.0 * 1024.0)
    val rt = Runtime.getRuntime
    val out = Map(
      "workload" -> workload,
      "setup" -> Map("session_s" -> sessionS, "input_gen_s" -> res.inputGenS,
        "warm_s" -> res.warmS),
      "timing_began_ms" -> res.timingBeganMs,
      "rounds" -> res.rounds,
      "samples" -> ctx.ops.samples.map { case (k, s) => Seq(k, s) },
      "attempted" -> ctx.ops.attempted,
      "failures" -> ctx.ops.failures,
      "details" -> res.details,
      "rss_peak_mb" -> rssPeakMb,
      "heap_peak_mb" -> heapPeakMb,
      "provenance" -> Map(
        "master" -> spark.sparkContext.master,
        "spark" -> spark.version,
        "jdk" -> System.getProperty("java.version"),
        "heap_max_mb" -> rt.maxMemory / (1024 * 1024),
        "cores" -> rt.availableProcessors),
      "trace" -> (if (ctx.trace) Map(
        "spans" -> spans.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "kind" -> s.kind, "seq" -> s.seq, "t0" -> s.t0,
          "t1" -> s.t1, "attrs" -> s.attrs))) ++ recorder.get.toJson
        else Map.empty[String, Any]))
    Files.write(Paths.get(a("out")), Json(out).getBytes("UTF-8"))
    spark.stop()
    sys.exit(0)
  }

  /** The session every workload uses: the repo bench's settings plus the
    * graft SQL extensions, with every scratch location under `scratch`.
    */
  def session(scratch: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "2048")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$scratch/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def rssPeakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  /** The largest heap in use right after a collection, over the run: the
    * memory the program holds, whatever heap size the collector chose.
    * Every collection reports its after-GC pool sizes; a full collection
    * when the run ends adds one more sample, so the figure is never 0.
    */
  final class HeapPeak {
    import java.lang.management.{ManagementFactory, MemoryType}
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    import scala.jdk.CollectionConverters._

    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max(_, _))
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }

    /** Collect once more and return the peak in bytes. */
    def finish(): Long = {
      System.gc()
      peak.accumulateAndGet(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed,
        math.max(_, _))
    }
  }

  /** The closed loop's stop rule: measure for the requested seconds and at
    * least `minRounds` rounds.
    */
  def measuring(c: Ctx, beganMs: Double, rounds: Int, minRounds: Int): Boolean =
    rounds < minRounds || (c.spans.nowMs - beganMs) / 1e3 < c.seconds

  /** Seconds since `t0` (epoch ms, as from [[Spans.nowMs]]). */
  def since(spans: Spans, t0: Double): Double = (spans.nowMs - t0) / 1e3

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
