package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.lake.{Catalog, History}
import graft.sources.Tables

/** X169: Streaming SCD2 maintenance — X165's incremental apply driven by
  * a CDC-shaped file stream: each micro-batch of new observations lands
  * in the maintained history (append-only closed runs, tail-only
  * rewrite, one atomic catalog cut) via `foreachBatch`, completing the
  * streaming-twin family (X51 aggregates, X109 catalog appends) with the
  * dimension-history sink every warehouse CDC pipeline ends in.
  *
  * Exactly-once: the X51 pattern — the CATALOG version doubles as the
  * transaction log. Init publishes cut 1, batch k publishes cut k+2, so
  * a replayed batch sees `latestVersion >= k+2` and skips; a crash
  * between the table commits and the catalog publish leaves readers on
  * the previous cut and the replay re-runs the apply cleanly (X99's
  * staged-but-unreferenced story).
  *
  * Ordering: X165's refusal contract requires batches to arrive in
  * per-key event-time order — exactly what a CDC feed's per-key ordering
  * provides. An out-of-order batch no longer kills the stream (X175,
  * the round-7 verdict ask): late keys' rows route to the `quarantine`
  * table in the SAME catalog cut (X107 dead-letter discipline), clean
  * keys apply normally, the stream continues, and X170 `scd2Reopen`
  * replays the quarantined keys later — the spec pins that the replay
  * converges bit-identically to the full rebuild.
  */
object StreamScd2 extends graft.QueryModule {
  /** Idempotent per-batch apply: batch `id` owns catalog cut id+2.
    * Late-key rows dead-letter instead of failing the stream (X175).
    */
  def applyBatch(s: SparkSession, root: String, batch: DataFrame, id: Long,
      key: String, ts: String, tie: String, state: String): Unit = {
    val target = id.toInt + 2
    if (!Catalog.latestVersion(s, root).exists(_ >= target)) {
      val (v, _) = History.scd2ApplyOrQuarantine(batch, key, ts, tie, state,
        root, 20250301, 900 + id.toInt)
      require(v == target, s"batch $id expected catalog cut $target, got $v")
    }
  }

  def run(s: SparkSession, watchDir: String, root: String, chkDir: String,
      schema: org.apache.spark.sql.types.StructType,
      key: String, ts: String, tie: String, state: String): Unit = {
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
          applyBatch(s, root, batch, id, key, ts, tie, state)
        }
        .start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", savedParts)
  }

  val queries: Map[String, Q] = Map(
    // Orders split into an init slice (pre-1997) and three date-tercile
    // CDC batches streamed through the maintained history; the final
    // table must equal the FULL batch rebuild — the oracle is
    // q_scd2_history's SQL verbatim (same as X165).
    "q_stream_scd2" -> ((s, d) => {
      val root = graft.util.FixtureCache.dir("stream_scd2", d) { root =>
        val o = Tables.orders(s, d)
          .select("o_custkey", "o_orderkey", "o_orderstatus", "o_orderdate")
        def slice(lo: String, hi: String) =
          o.where(col("o_orderdate").cast("date") >= to_date(lit(lo)) &&
            col("o_orderdate").cast("date") < to_date(lit(hi)))
        History.scd2Init(slice("1990-01-01", "1997-01-01"),
          "o_custkey", "o_orderdate", "o_orderkey", "o_orderstatus",
          root, 20250601, 900)
        // CDC batch files with strictly increasing mod times — the file
        // stream's (modTime, path) order IS the per-key event-time order
        // X165's refusal contract requires (StreamDiff's arrival-file
        // discipline)
        val in = graft.util.Scratch.dir("sscd2_in")
        val t0 = System.currentTimeMillis() - 120000
        val cuts = Seq(("1997-01-01", "1998-01-01"), ("1998-01-01", "1999-01-01"),
          ("1999-01-01", "2009-01-01"))
        cuts.zipWithIndex.foreach { case ((lo, hi), i) =>
          StreamDiff.writeSnapshotFile(slice(lo, hi),
            s"$in/batch_$i.parquet", t0 + i * 60000)
        }
        run(s, in, root, graft.util.Scratch.dir("sscd2_chk"),
          o.schema, "o_custkey", "o_orderdate", "o_orderkey", "o_orderstatus")
      }
      History.scd2Read(s, root)
        .select(col("o_custkey"), col("version"),
          col("state").as("o_orderstatus"), col("valid_from"),
          col("n_rows"), col("valid_to"), col("is_current"))
        .orderBy("o_custkey", "version")
    }))

  val oracles: Map[String, String] = Map(
    "q_stream_scd2" ->
      """SELECT o_custkey, version,
        |  min(o_orderstatus) AS o_orderstatus,
        |  min(o_orderdate) AS valid_from,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  lead(min(o_orderdate)) OVER (PARTITION BY o_custkey ORDER BY version) AS valid_to,
        |  lead(min(o_orderdate)) OVER (PARTITION BY o_custkey ORDER BY version) IS NULL AS is_current
        |FROM (
        |  SELECT o_custkey, o_orderstatus, o_orderdate,
        |    CAST(sum(chg) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
        |  FROM (
        |    SELECT *, CASE WHEN lag(o_orderstatus) OVER w IS NOT NULL
        |                    AND lag(o_orderstatus) OVER w = o_orderstatus
        |              THEN 0 ELSE 1 END AS chg
        |    FROM orders
        |    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)))
        |GROUP BY o_custkey, version
        |ORDER BY o_custkey, version""".stripMargin)
}
