package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JDBC sink/source (SURVEY §2 S8/S9), re-expressing the reference's
  * Postgres surface (`scripts/script_api_apify_to_spark.py:265-294`,
  * `airflow/dags/apify_dag.py:216-246`):
  *
  *  - append-mode writes of the scored per-account table and both global
  *    aggregates;
  *  - full-table reads;
  *  - table-name sanitization `-` → `_` (the reference hits
  *    `syntax error at or near "-"` otherwise, `:265`).
  *
  * Deviations from the reference, on purpose:
  *  - credentials come from caller-supplied config (env/Secrets at the
  *    deployment layer), never hardcoded — the reference embeds literal
  *    user/password pairs (SURVEY §0 security note);
  *  - the reference's read is SINGLE-PARTITION (no partitioning options,
  *    `:268-280`): the whole table funnels through one task — a scale cliff
  *    at 100 TB. [[Jdbc.readPartitioned]] is the scale path: Spark issues
  *    `numPartitions` range-sliced queries in parallel.
  */
object Jdbc extends graft.QueryModule {

  /** Connection config. `driver` defaults to Postgres (the reference's
    * target, jar: `/root/reference/jars/postgresql-42.2.27.jar`) but any
    * JDBC driver on the classpath works (tests use embedded Derby).
    */
  case class JdbcConfig(
      url: String,
      user: Option[String] = None,
      password: Option[String] = None,
      driver: String = "org.postgresql.Driver",
      fixtureSuffix: String = "") {
    /** Fixture table name carrying the same `tag` + corpus-path-hash key
      * the embedded-Derby URL encodes, so a SERVER endpoint (one shared
      * namespace across scale factors and processes) keeps the isolation
      * the per-database `jdbc:derby:memory:` path had: without it, two
      * scale factors evaluating the same fixture on one server would race
      * on a literal `src_orders`, and a FixtureCache hit after another
      * SF's rebuild would silently read the wrong corpus's rows. Two
      * concurrent processes at the SAME (tag, sf) still share a name —
      * point them at distinct databases/schemas via `SPARK_GRAFT_JDBC_URL`
      * (e.g. Postgres `currentSchema=`) as `tools/mjvm_smoke.sh` notes.
      */
    def fixtureTable(base: String): String = base + fixtureSuffix
  }

  /** JDBC endpoint for the self-contained query fixtures (`q_jdbc_incr`,
    * `q_jdbc_publish`, `q_stream_jdbc`). Default: in-memory embedded
    * Derby — hermetic (a fresh database per process) and correct under
    * `local[*]`, where driver and executors share one JVM. Under a
    * MULTI-JVM master (local-cluster / standalone / YARN) executor JVMs
    * cannot see the driver's embedded database — the round-11 multi-JVM
    * smoke's one finding (executors booted their own empty `memory:` DBs
    * and failed with "Table/View does not exist") — so
    * `SPARK_GRAFT_JDBC_URL` (+ `_DRIVER`/`_USER`/`_PASSWORD`) points the
    * fixtures at a real server endpoint instead; the smoke uses a
    * throwaway `pg_ctl` Postgres, the production analogue being the
    * reference's own Postgres (`apify_dag.py:216-246`). Builders drop
    * their fixture tables before seeding (see call sites) so a
    * server-backed rerun stays idempotent where Derby's `create=true`
    * gave freshness for free.
    */
  def fixtureEndpoint(tag: String, d: String,
      env: Map[String, String] = sys.env): JdbcConfig = {
    // key by a short hash of the FULL corpus path, not its stripped
    // digits: two dirs whose digit sequences coincide (/x/graft_sf1 vs
    // /data1/graft_sf) must never share fixture tables on a server
    // endpoint — that cross-corpus contamination is exactly what the
    // suffix exists to prevent. MurmurHash3 is stable across JVMs, so
    // driver and executors (and a re-run) resolve the same name.
    val key = f"${tag}_${scala.util.hashing.MurmurHash3.stringHash(d) & 0xffffffffL}%08x"
    env.get("SPARK_GRAFT_JDBC_URL") match {
      case Some(u) => JdbcConfig(u,
        user = env.get("SPARK_GRAFT_JDBC_USER"),
        password = env.get("SPARK_GRAFT_JDBC_PASSWORD"),
        driver = env.getOrElse("SPARK_GRAFT_JDBC_DRIVER",
          "org.postgresql.Driver"),
        fixtureSuffix = s"_$key")
      case None => JdbcConfig(
        url = s"jdbc:derby:memory:$key;create=true",
        driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver",
        fixtureSuffix = s"_$key")
    }
  }

  /** The reference's table-name fix (`script_api_apify_to_spark.py:265`):
    * account names like `the-rock` would otherwise splice a bare `-` into
    * SQL. We sanitize every char outside `[A-Za-z0-9_]` the same way —
    * a strict superset of the reference's `replace("-", "_")` that keeps
    * its behavior on every name the reference can produce.
    */
  def sanitizeTable(name: String): String =
    name.replaceAll("[^A-Za-z0-9_]", "_")

  /** Option map shared by reads and writes (option keys are the public
    * Spark JDBC datasource contract).
    */
  def options(cfg: JdbcConfig, table: String): Map[String, String] =
    Map(
      "url" -> cfg.url,
      "dbtable" -> sanitizeTable(table),
      "driver" -> cfg.driver) ++
      cfg.user.map("user" -> _) ++
      cfg.password.map("password" -> _)

  /** S9: append-mode write (history-accumulating, like the reference's
    * hourly inserts into `final_aggregated_usage`/`final_comparatif_usage`).
    * Each input partition opens one connection and batches inserts, so
    * upstream partitioning controls write parallelism — `coalesce` first if
    * the target DB can't take one connection per core.
    */
  def append(df: DataFrame, cfg: JdbcConfig, table: String): Unit =
    df.write.format("jdbc").options(options(cfg, table)).mode("append").save()

  /** Overwrite-mode write (truncate-or-recreate semantics are the
    * datasource's; used for snapshot-style tables).
    */
  def overwrite(df: DataFrame, cfg: JdbcConfig, table: String): Unit =
    df.write.format("jdbc").options(options(cfg, table)).mode("overwrite").save()

  /** S8, reference-fidelity tier: whole table through ONE partition —
    * exactly what `script_api_apify_to_spark.py:268-276` does. Fine for
    * lookup-sized tables, wrong at scale; see [[readPartitioned]].
    */
  def read(spark: SparkSession, cfg: JdbcConfig, table: String): DataFrame =
    spark.read.format("jdbc").options(options(cfg, table)).load()

  /** Driver-side `DELETE FROM table WHERE predicate` — the building block
    * for retry-idempotent appends (delete your own run stamp, then append;
    * pipeline.Pipeline). A missing table is NOT an error: the first run of
    * a pipeline deletes before any append has created the table, which is
    * exactly the retry shape this exists for — but ONLY that SQLState
    * family is swallowed (Derby 42X05, Postgres 42P01, SQL-standard 42S02);
    * anything else (bad column, syntax) must surface, not silently skip
    * the delete and let the append duplicate. The predicate is
    * caller-built from trusted literals (run stamps), never user data;
    * column names in it should be double-quoted, since Spark's JDBC writer
    * creates case-sensitive quoted identifiers.
    */
  def deleteWhere(cfg: JdbcConfig, table: String, predicate: String): Unit = {
    Class.forName(cfg.driver)
    val props = new java.util.Properties()
    cfg.user.foreach(props.setProperty("user", _))
    cfg.password.foreach(props.setProperty("password", _))
    val conn = java.sql.DriverManager.getConnection(cfg.url, props)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(s"DELETE FROM ${sanitizeTable(table)} WHERE $predicate")
      catch {
        case e: java.sql.SQLException
          if Set("42X05", "42P01", "42S02")(e.getSQLState) => () // no table yet
      }
      finally st.close()
    } finally conn.close()
  }

  /** Atomic snapshot publish via staged-table swap (extension X124).
    *
    * The reference refreshes its serving tables with in-place overwrite
    * (`airflow/dags/apify_dag.py:216-246`): Spark's JDBC Overwrite is
    * TRUNCATE/DROP + re-insert, so a dashboard reading mid-refresh sees
    * an empty or partial table — every hour. The warehouse idiom is the
    * staged swap: write the new snapshot to `<table>__stage` (readers
    * undisturbed), then swap stage→live inside ONE transaction, so
    * readers see the old snapshot until the commit instant and the new
    * one after. Crash before the commit rolls back with the live table
    * intact (the stage is an orphan the next publish clears); crash
    * after leaves only a `__old` leftover, likewise cleared.
    *
    * Rename syntax is dialect-routed. Derby uses `RENAME TABLE`,
    * Postgres and friends `ALTER TABLE .. RENAME TO` inside one
    * transaction — both have transactional DDL, so the two renames
    * commit or roll back together. MySQL/MariaDB DDL implicitly commits
    * statement-by-statement, which would open a reader-visible window
    * with NO live table (and a crash between renames would leave it
    * missing); those dialects instead take MySQL's own atomic
    * multi-table form, `RENAME TABLE live TO old, stage TO live`, a
    * single statement the server applies atomically. Other
    * non-transactional-DDL engines are outside the guarantee —
    * documented, not silently weakened.
    */
  def publishAtomic(df: DataFrame, cfg: JdbcConfig, table: String): Unit = {
    val live = sanitizeTable(table)
    val stage = s"${live}__stage"
    val old = s"${live}__old"
    // clear leftovers from a previous crashed publish, then stage
    dropIfExists(cfg, stage)
    dropIfExists(cfg, old)
    df.write.format("jdbc").options(options(cfg, stage)).mode("append").save()

    Class.forName(cfg.driver)
    val props = new java.util.Properties()
    cfg.user.foreach(props.setProperty("user", _))
    cfg.password.foreach(props.setProperty("password", _))
    val conn = java.sql.DriverManager.getConnection(cfg.url, props)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      val lower = cfg.driver.toLowerCase + " " + cfg.url.toLowerCase
      val derby = lower.contains("derby")
      val mysql = lower.contains("mysql") || lower.contains("mariadb")
      def rename(from: String, to: String): Unit =
        st.executeUpdate(
          if (derby) s"RENAME TABLE $from TO $to"
          else s"ALTER TABLE $from RENAME TO $to")
      try {
        if (tableExists(conn, live)) {
          // MySQL DDL auto-commits per statement: two renames would leave
          // a liveless window. Its multi-table RENAME is the one atomic
          // swap the server offers — use it as the single statement.
          if (mysql) st.executeUpdate(
            s"RENAME TABLE $live TO $old, $stage TO $live")
          else { rename(live, old); rename(stage, live) }
        } else rename(stage, live)
        conn.commit() // the swap instant: readers flip old->new here
      } catch {
        case e: Throwable => conn.rollback(); throw e
      } finally st.close()
    } finally conn.close()
    dropIfExists(cfg, old) // post-commit cleanup, safe to redo anytime
  }

  private def tableExists(conn: java.sql.Connection, table: String): Boolean = {
    val rs = conn.getMetaData.getTables(null, null, null, Array("TABLE"))
    try {
      var found = false
      while (rs.next() && !found)
        found = rs.getString("TABLE_NAME").equalsIgnoreCase(table)
      found
    } finally rs.close()
  }

  private[graft] def dropIfExists(cfg: JdbcConfig, table: String): Unit = {
    Class.forName(cfg.driver)
    val props = new java.util.Properties()
    cfg.user.foreach(props.setProperty("user", _))
    cfg.password.foreach(props.setProperty("password", _))
    val conn = java.sql.DriverManager.getConnection(cfg.url, props)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(s"DROP TABLE ${sanitizeTable(table)}")
      catch {
        case e: java.sql.SQLException
          if Set("42X05", "42P01", "42S02", "42Y55")(e.getSQLState) => ()
      }
      finally st.close()
    } finally conn.close()
  }

  val queries: Map[String, Q] = Map(
    // X124: two atomic publishes — the second wholly replaces the first
    // through the staged swap — read back through the plain JDBC read.
    "q_jdbc_publish" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val cfg = fixtureEndpoint("jpub", d)
      val tbl = cfg.fixtureTable("serve_orders") // sf-keyed on server endpoints
      graft.util.FixtureCache.dir("jdbc_publish", d) { _ =>
        // server-endpoint reruns (multi-JVM smoke) must not see a stale
        // live table from a previous process; Derby memory: is always fresh
        dropIfExists(cfg, tbl)
        val o = graft.sources.Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_totalprice"))
        publishAtomic(o.where(col("o_orderkey") % 3 === 0), cfg, tbl)
        publishAtomic(o, cfg, tbl) // full refresh replaces
      }
      read(s, cfg, tbl)
        .groupBy((col("o_orderkey") % 3).cast("long").as("slice"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_total"))
        .orderBy("slice")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_jdbc_publish" ->
      """SELECT CAST(o_orderkey % 3 AS BIGINT) AS slice,
        |       count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders GROUP BY 1 ORDER BY slice""".stripMargin,
  )

  /** S8, scale tier: range-partitioned parallel read. Spark generates
    * `numPartitions` WHERE-sliced queries over `[lowerBound, upperBound)`
    * of a numeric/date `partitionColumn`, so the scan parallelizes across
    * executors instead of funneling through one task.
    */
  def readPartitioned(
      spark: SparkSession,
      cfg: JdbcConfig,
      table: String,
      partitionColumn: String,
      lowerBound: Long,
      upperBound: Long,
      numPartitions: Int): DataFrame =
    spark.read.format("jdbc")
      .options(options(cfg, table))
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound.toString)
      .option("upperBound", upperBound.toString)
      .option("numPartitions", numPartitions.toString)
      .load()
}
