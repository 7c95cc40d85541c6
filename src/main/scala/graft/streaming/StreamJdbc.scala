package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sinks.Jdbc
import graft.sinks.Jdbc.JdbcConfig
import graft.sources.Tables

/** Exactly-once streaming JDBC sink (X58): a `foreachBatch` sink into a
  * relational table — the streaming upgrade of the reference's hourly
  * Postgres loads (`airflow/dags/apify_dag.py:216-246`) — made safe
  * against micro-batch REPLAY, the failure mode `foreachBatch` contracts
  * to "at least once" by default.
  *
  * Transactional-sink-keyed-by-batchId pattern, in three idempotent steps:
  *   1. if the epoch table already records `batchId` → the batch fully
  *      committed before a restart: SKIP (the replay is a no-op);
  *   2. `DELETE ... WHERE batch_id = id` then stamped APPEND — a crash
  *      mid-append leaves partial rows, and the replay's delete sweeps
  *      them before rewriting (the Pipeline retry shape, per-batch);
  *   3. insert the epoch marker LAST — it is the commit point; rows
  *      without their marker are garbage a future replay removes, never
  *      double-counted data.
  *
  * Scale shape: data rows flow through Spark's parallel JDBC writer (one
  * connection per partition); only the one-row epoch marker and the
  * delete are driver-side statements. Per-batch cost is independent of
  * history. The batch aggregate upstream is combinable, so each
  * micro-batch ships #keys rows, not #events.
  */
object StreamJdbc extends graft.QueryModule {

  private def execUpdate(cfg: JdbcConfig, sql: String,
      swallow: Set[String] = Set.empty): Unit = {
    Class.forName(cfg.driver)
    val props = new java.util.Properties()
    cfg.user.foreach(props.setProperty("user", _))
    cfg.password.foreach(props.setProperty("password", _))
    val conn = java.sql.DriverManager.getConnection(cfg.url, props)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(sql)
      catch {
        case e: java.sql.SQLException if swallow(e.getSQLState) => ()
      } finally st.close()
    } finally conn.close()
  }

  /** Batch ids already committed to `epochTable` (empty if no table yet). */
  def committedEpochs(cfg: JdbcConfig, epochTable: String): Set[Long] = {
    Class.forName(cfg.driver)
    val props = new java.util.Properties()
    cfg.user.foreach(props.setProperty("user", _))
    cfg.password.foreach(props.setProperty("password", _))
    val conn = java.sql.DriverManager.getConnection(cfg.url, props)
    try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(
          s"SELECT batch_id FROM ${Jdbc.sanitizeTable(epochTable)}")
        val b = Set.newBuilder[Long]
        while (rs.next()) b += rs.getLong(1)
        b.result()
      } catch {
        case e: java.sql.SQLException
          if Set("42X05", "42P01", "42S02")(e.getSQLState) => Set.empty
      } finally st.close()
    } finally conn.close()
  }

  /** Idempotent per-batch write: stamped rows, epoch marker last. */
  def writeBatch(batch: DataFrame, cfg: JdbcConfig, table: String, id: Long): Unit = {
    val epochTable = s"${table}_epochs"
    if (committedEpochs(cfg, epochTable).contains(id)) return
    Jdbc.deleteWhere(cfg, table, s""""batch_id" = $id""")
    Jdbc.append(batch.withColumn("batch_id", lit(id)), cfg, table)
    // Derby has no CREATE TABLE IF NOT EXISTS; swallow exists-already.
    execUpdate(cfg,
      s"CREATE TABLE ${Jdbc.sanitizeTable(epochTable)} (batch_id BIGINT)",
      swallow = Set("X0Y32", "42P07", "42S01"))
    execUpdate(cfg,
      s"INSERT INTO ${Jdbc.sanitizeTable(epochTable)} VALUES ($id)")
  }

  /** Drive a file stream of `schema` into `table`: each micro-batch is
    * aggregated per `keys` (combinable count + exact DECIMAL sum) and
    * committed exactly-once.
    */
  def run(s: SparkSession, watchDir: String, chkDir: String,
      schema: org.apache.spark.sql.types.StructType, keys: Seq[String],
      valueCol: String, cfg: JdbcConfig, table: String): Unit = {
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
          val agg = batch.groupBy(keys.map(col): _*)
            .agg(count(lit(1)).as("n_rows"),
              sum(col(valueCol).cast("decimal(18,2)")).as("sum_value"))
          writeBatch(agg, cfg, table, id)
        }
        .start()
      q.awaitTermination()
    } finally s.conf.set("spark.sql.shuffle.partitions", savedParts)
  }

  val queries: Map[String, Q] = Map(
    // Three event micro-batches streamed into Derby; then batch 0 is
    // REPLAYED (simulated restart) — the epoch log must make it a no-op.
    // Reading the table back and re-aggregating across batch stamps must
    // equal the plain batch recompute.
    "q_stream_jdbc" -> ((s, d) => {
      val cfg = Jdbc.fixtureEndpoint("sjdbc", d)
      val tbl = cfg.fixtureTable("stream_agg") // sf-keyed on server endpoints
      val ev = Tables.events(s, d).select("event_id", "event_type", "value")
      graft.util.FixtureCache.dir("sjdbc_done", d) { _ =>
        // server-endpoint rerun hygiene: a stale epoch log would mark every
        // batch as already committed and silently skip the whole stream
        Jdbc.dropIfExists(cfg, tbl)
        Jdbc.dropIfExists(cfg, s"${tbl}_epochs")
        val in = graft.util.Scratch.dir("sjdbc_in")
        val t0 = System.currentTimeMillis() - 120000
        (0 until 3).foreach { k =>
          StreamDiff.writeSnapshotFile(
            ev.where(pmod(col("event_id"), lit(3)) === k),
            s"$in/part_$k.parquet", t0 + k * 60000)
        }
        val chk = graft.util.Scratch.dir("sjdbc_chk")
        run(s, in, chk, ev.schema, Seq("event_type"), "value", cfg, tbl)
        // Replay batch 0 end-to-end: same aggregate, same id → skipped.
        val replay = s.read.parquet(s"$in/part_0.parquet")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("value").cast("decimal(18,2)")).as("sum_value"))
        writeBatch(replay, cfg, tbl, 0L)
      }
      Jdbc.read(s, cfg, tbl)
        .groupBy("event_type")
        .agg(sum("n_rows").cast("long").as("n_rows"),
          sum("sum_value").cast("double").as("sum_value"),
          countDistinct("batch_id").cast("long").as("n_batches"))
        .orderBy("event_type")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_stream_jdbc" ->
      """SELECT event_type,
        |       count(*) AS n_rows,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |       CAST(count(DISTINCT event_id % 3) AS BIGINT) AS n_batches
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
  )
}
