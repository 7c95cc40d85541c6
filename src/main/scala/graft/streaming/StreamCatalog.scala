package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.lake.Catalog
import graft.sources.Tables

/** Exactly-once streaming into a multi-table catalog (X109): each
  * micro-batch folds into SEVERAL aggregate tables, and all of them
  * become visible in ONE X99 catalog cut stamped with the batch id —
  * the streaming upgrade of the reference's accounts+followers two-step
  * loads (`airflow/dags/apify_dag.py:83-91`), where a crash between the
  * two writes leaves consumers on mismatched snapshots forever.
  *
  * Exactly-once, the lake way: the cut IS the commit point. A replayed
  * batch whose id a committed cut already carries SKIPS entirely; a
  * crash after the per-table commits but before the publish leaves the
  * catalog serving the previous cut for every table, and the replay
  * re-runs the whole fold (the staged-but-unreferenced table versions
  * are X61-vacuumable orphans, never visible). No epoch side-table, no
  * delete sweeps (the X58 pattern needs both): idempotency and
  * atomicity come from the same rename.
  *
  * Scale shape: per batch, each table's fold is one combinable delta
  * aggregate + one keyed combine with the previous state (#keys rows,
  * not #events), then pure-metadata publication. Cross-table
  * consistency is structural: every cut's tables were folded from the
  * same prefix of the stream.
  */
object StreamCatalog extends graft.QueryModule {

  /** Batch ids already committed as catalog cuts. */
  def committedEpochs(s: SparkSession, root: String): Set[Long] =
    Catalog.snapshots(s, root).flatMap(_.epoch).toSet

  private val dec = org.apache.spark.sql.types.DecimalType(18, 2)

  /** One grouped (count, exact-decimal-sum) delta of `batch`. */
  private def delta(batch: DataFrame, key: org.apache.spark.sql.Column,
      keyName: String, valueCol: String): DataFrame =
    batch.groupBy(key.as(keyName))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueCol).cast(dec)).as("sum_value"))

  /** Fold `d` into the table's previous state from the latest cut (keyed
    * combine of combinable aggregates; absent table = empty state).
    */
  private def fold(s: SparkSession, root: String, table: String,
      d: DataFrame, keyName: String): DataFrame = {
    val prev =
      try Catalog.readTable(s, root, table)
      catch { case _: NoSuchElementException | _: IllegalArgumentException =>
        d.limit(0) }
    prev.unionByName(d)
      .groupBy(keyName)
      .agg(sum(col("n_events")).cast("long").as("n_events"),
        sum(col("sum_value")).cast(dec).as("sum_value"))
  }

  /** The idempotent per-batch body: fold the batch into both tables and
    * publish one epoch-stamped cut. Public so the replay/crash specs can
    * drive it directly with a pinned batch id.
    */
  def writeEpoch(s: SparkSession, root: String, batch: DataFrame, id: Long): Unit = {
    if (committedEpochs(s, root).contains(id)) return
    val byType = fold(s, root, "by_type",
      delta(batch, col("event_type"), "k", "value"), "k")
    val byUser = fold(s, root, "by_user",
      delta(batch, pmod(col("user_id"), lit(10)).cast("string"), "k", "value"), "k")
    val staged = Catalog.commitTableVersions(root, 20250901, (900 + id).toInt,
      Seq("by_type" -> byType, "by_user" -> byUser))
    Catalog.publishCatalog(s, root, 20250901, (900 + id).toInt, staged,
      epoch = Some(id))
  }

  /** Drive a file stream of `schema` into the catalog at `root`. */
  def run(s: SparkSession, watchDir: String, chkDir: String,
      schema: org.apache.spark.sql.types.StructType, root: String): Unit = {
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = s.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(watchDir)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", chkDir)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          writeEpoch(s, root, batch, id)
        }
        .start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", savedParts)
  }

  val queries: Map[String, Q] = Map(
    // Three event micro-batches streamed into a two-table catalog, then
    // batch 0 REPLAYED (simulated restart) — the epoch-stamped cuts must
    // make it a no-op. Both tables read back through the final cut and
    // must equal the plain batch recompute over all events.
    "q_stream_catalog" -> ((s, d) => {
      val ev = Tables.events(s, d).select("event_id", "event_type", "user_id", "value")
      val root = graft.util.FixtureCache.dir("scat_root", d) { root =>
        val in = graft.util.Scratch.dir("scat_in")
        val t0 = System.currentTimeMillis() - 120000
        (0 until 3).foreach { k =>
          StreamDiff.writeSnapshotFile(
            ev.where(pmod(col("event_id"), lit(3)) === k),
            s"$in/part_$k.parquet", t0 + k * 60000)
        }
        run(s, in, graft.util.Scratch.dir("scat_chk"), ev.schema, root)
        // restart replay: same batch content, same id → skipped cut-level
        writeEpoch(s, root, s.read.parquet(s"$in/part_0.parquet"), 0L)
      }
      def side(tbl: String): DataFrame =
        Catalog.readTable(s, root, tbl)
          .select(lit(tbl).as("tbl"), col("k"),
            col("n_events"), col("sum_value").cast("double").as("sum_value"))
      side("by_type").unionByName(side("by_user")).orderBy("tbl", "k")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_stream_catalog" ->
      """SELECT * FROM (
        |  SELECT 'by_type' AS tbl, event_type AS k, count(*) AS n_events,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY event_type
        |  UNION ALL
        |  SELECT 'by_user', CAST(user_id % 10 AS VARCHAR), count(*),
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM events GROUP BY CAST(user_id % 10 AS VARCHAR)
        |) ORDER BY tbl, k""".stripMargin,
  )
}
