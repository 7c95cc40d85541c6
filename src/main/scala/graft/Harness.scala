package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session builder behind every driver main (Bench, Verify, Probe,
  * CommitRace): one config, so a number from one main is comparable to a
  * number from another. It pins only settings that differ from Spark's
  * defaults, so any other key stays settable with `spark-submit --conf`
  * or `-Dspark.…`.
  *
  * Environment:
  *  - `SPARK_GRAFT_MASTER`: the master; default `local[SPARK_GRAFT_CPUS]`.
  *    `local-cluster[2,16,4096]` runs executors as separate JVMs, the one
  *    mode where broadcasts, codegen'd expressions and task closures must
  *    really serialize.
  *  - `SPARK_GRAFT_CPUS`: local cores and shuffle partitions; default all
  *    available processors.
  *  - `SPARK_GRAFT_JARS`: `spark.jars`, shipping the application jar to
  *    executor JVMs (`local[*]` needs none).
  *  - `SPARK_GRAFT_SF_DIR`: the data dir of Bench and Probe.
  *  - `SPARK_GRAFT_QUERIES`: a comma-separated subset of the inventory.
  */
object Harness {
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Every setting the harness pins, each one off Spark's default. */
  val settings: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    // events.parquet carries TIMESTAMP(NANOS)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // single-JVM local mode: listing a few hundred partition dirs on
    // the driver beats spinning a whole Spark job per partitioned scan
    // (the default threshold of 32 paths is tuned for object stores)
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "2048",
    "spark.ui.enabled" -> "false")

  def session(): SparkSession = {
    val b = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
    settings.foreach { case (k, v) => b.config(k, v) }
    // set spark.jars ONLY when the env provides it: an unconditional
    // default of "" would CLOBBER the spark.jars a `spark-submit`
    // invocation already carries (the application jar), stripping graft
    // classes from standalone executors — codegen then fails with
    // "Unknown variable or type graft.functions.VecMath" and every
    // ScalaUDF lambda dies deserializing
    sys.env.get("SPARK_GRAFT_JARS").filter(_.nonEmpty).foreach(b.config("spark.jars", _))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Every glob-path parquet read (bucket=*, batch_*) makes Spark's
    // FileStreamSink.hasMetadata stat the literal glob string, catch the
    // FileNotFoundException, and WARN with the full stack trace before the
    // read proceeds normally — ~30 harmless traces per run that bury real
    // warmup failures. Silence exactly that logger; every other WARN
    // stays visible.
    Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink", Level.ERROR)
    spark
  }

  /** The inventory, or its `SPARK_GRAFT_QUERIES` subset, sorted by name.
    * A name the inventory lacks is an error, not a silent skip.
    */
  def selected: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    val names = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(all.keySet)
    val unknown = names -- all.keySet
    require(unknown.isEmpty, s"SPARK_GRAFT_QUERIES names unknown queries: ${unknown.mkString(", ")}")
    names.toSeq.sorted.map(n => n -> all(n))
  }
}
