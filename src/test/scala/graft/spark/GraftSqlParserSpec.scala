package graft.spark

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.lake.{DeleteVectors, ManifestTable, ZoneMap}
import graft.util.Scratch

/** X181 — the maintenance SQL surface (VACUUM / OPTIMIZE / DESCRIBE
  * HISTORY) through the injected delegating parser. Pins: each statement
  * executes its lake operation with the documented result rows, plain
  * SQL still parses through the delegate (including non-HISTORY
  * DESCRIBE), malformed graft statements refuse with their usage line,
  * and a session WITHOUT the extensions keeps Spark's own refusal.
  */
class GraftSqlParserSpec extends SparkSpec {

  import spark.implicits._

  private def ext = GraftDml.extSession(spark)

  private def mkVersions(tag: String, n: Int): String = {
    val dir = Scratch.dir(tag)
    (0 until n).foreach { i =>
      val df = (i * 10L until (i + 1) * 10L).map(k => (k, k * 1.0)).toDF("k", "v")
      if (i == 0) ManifestTable.commit(df.repartition(4), dir, 20250901, 900)
      else ManifestTable.appendRetrying(df.repartition(4), dir, 20250901, 900 + i)
    }
    dir
  }

  test("X220 OPTIMIZE WHERE string band: lexicographic intersection, disjoint bands no-op") {
    val dir = Scratch.dir("sqlp_optstr")
    val df = (tag: String, lo: Long) => spark.range(lo, lo + 50)
      .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
      .withColumn("day", lit(tag))
    ZoneMap.commitWithStats(df("d0", 0).coalesce(1), dir, 20250901, 900,
      statsCols = Seq("k"), strCols = Seq("day"))
    (1 to 3).foreach(i => ZoneMap.appendWithStats(
      df(s"d$i", i * 50L).coalesce(1), dir, 20250901, 900 + i,
      statsCols = Seq("k"), strCols = Seq("day")))
    // a band beyond every file's range commits nothing
    assert(ext.sql(s"OPTIMIZE '$dir' WHERE day BETWEEN 'x' AND 'z'")
      .collect().isEmpty)
    assert(ManifestTable.snapshots(spark, dir).size === 4)
    // the d1-d2 band packs exactly those two files
    val before = ManifestTable.snapshots(spark, dir).last.files
    ext.sql(s"OPTIMIZE '$dir' WHERE day BETWEEN 'd1' AND 'd2' AT 20250901 1000")
    val after = ManifestTable.snapshots(spark, dir).last
    assert(after.files.size === 3 && after.op === "optimize")
    assert((before.toSet intersect after.files.toSet).size === 2,
      "outer day files must be retained by reference")
    assert(ManifestTable.readLatest(spark, dir).count() === 200)
  }

  test("X226 branch/tag DDL: create/show/drop, kind-checked drops, unknown refs refuse") {
    val dir = mkVersions("sqlp_refs", 2) // v1, v2
    val b = ext.sql(s"ALTER TABLE '$dir' CREATE BRANCH exp AS OF VERSION 1").head
    assert((b.getString(0), b.getString(1), b.getLong(2)) === (("exp", "branch", 1L)))
    ext.sql(s"ALTER TABLE '$dir' CREATE TAG rel") // defaults to latest
    val shown = ext.sql(s"SHOW BRANCHES '$dir'").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(shown === Set(("exp", "branch", 1L), ("rel", "tag", 2L)))
    // the branch read composes with the datasource option
    assert(spark.read.format("graft").option("branch", "exp").load(dir)
      .count() === 10)
    // dropping a TAG through DROP BRANCH refuses (retention promises differ)
    val e = intercept[Exception](ext.sql(s"ALTER TABLE '$dir' DROP BRANCH rel"))
    assert(e.getMessage.contains("is a tag"))
    // unknown refs refuse
    intercept[Exception](ext.sql(s"ALTER TABLE '$dir' DROP TAG nope"))
    // a legal drop removes only the pointer
    ext.sql(s"ALTER TABLE '$dir' DROP BRANCH exp")
    assert(ext.sql(s"SHOW BRANCHES '$dir'").count() === 1)
    assert(ManifestTable.snapshots(spark, dir).size === 2, "versions untouched")
  }

  test("X225 SHOW CREATE TABLE: metadata DDL, plain-column round-trip, unmapped fallback") {
    val dir = Scratch.dir("sqlp_showcr")
    ext.sql(s"CREATE TABLE '$dir' (k bigint, v double) AT 20250901 900")
    val ddl = ext.sql(s"SHOW CREATE TABLE '$dir'").head.getString(0)
    assert(ddl === s"CREATE TABLE '$dir' (k bigint, v double)")
    // a plain-column DDL ROUND-TRIPS: re-running it on a fresh path
    // creates a table with the identical reconstructed DDL
    val dir2 = Scratch.dir("sqlp_showcr2")
    ext.sql(ddl.replace(s"'$dir'", s"'$dir2'") + " AT 20250901 910")
    assert(ext.sql(s"SHOW CREATE TABLE '$dir2'").head.getString(0)
      === s"CREATE TABLE '$dir2' (k bigint, v double)")
    // an unmapped (footer-schema) table serves its file schema
    val dir3 = Scratch.dir("sqlp_showcr3")
    ManifestTable.commit(spark.range(3)
      .selectExpr("id AS a", "CAST(id AS STRING) AS b"), dir3, 20250901, 920)
    assert(ext.sql(s"SHOW CREATE TABLE '$dir3'").head.getString(0)
      === s"CREATE TABLE '$dir3' (a bigint, b string)")
  }

  test("X219 REORG APPLY PURGE: tombstones fold, content invariant, clean tables no-op") {
    val dir = mkVersions("sqlp_reorg", 1) // 10 rows
    graft.lake.DeleteVectors.deleteWhere(spark, dir,
      col("k") % 3 === 0, 20250901, 1000)
    assert(ManifestTable.snapshots(spark, dir).last.deletes.nonEmpty)
    val before = ManifestTable.readLatest(spark, dir)
      .select("k").as[Long].collect().toSet
    val got = ext.sql(s"REORG '$dir' APPLY (PURGE) AT 20250901 1100").collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(3L))
    val snap = ManifestTable.snapshots(spark, dir).last
    assert(snap.deletes.isEmpty && snap.op === "materialize")
    assert(ManifestTable.readLatest(spark, dir)
      .select("k").as[Long].collect().toSet === before, "REORG changed content")
    // idempotent: a tombstone-free table commits nothing, returns no rows
    assert(ext.sql(s"REORG '$dir' APPLY PURGE").collect().isEmpty)
    assert(ManifestTable.snapshots(spark, dir).size === 3)
  }

  test("X215 CREATE TABLE (cols): empty typed v1, INSERT lands, ALTER composes, refusals") {
    val dir = Scratch.dir("sqlp_cremt")
    ext.sql(s"CREATE TABLE '$dir' (k bigint, v double) AT 20250901 900")
    val empty = graft.lake.ColumnMap.read(spark, dir)
    assert(empty.columns.toSeq === Seq("k", "v") && empty.count() === 0)
    // schema evolution works before any data exists
    ext.sql(s"ALTER TABLE '$dir' ADD COLUMN tag string DEFAULT 'none'")
    // first INSERT routes through the mapping
    ext.sql(s"""CREATE OR REPLACE TEMPORARY VIEW cremt_t
               |USING graft OPTIONS (path '$dir', runDate '20250901',
               |runTime '1000')""".stripMargin)
    ext.sql("INSERT INTO cremt_t VALUES (1, 1.5, 'a'), (2, 2.5, 'b')")
    val got = graft.lake.ColumnMap.read(spark, dir)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(got.toSeq === Seq((1L, 1.5, "a"), (2L, 2.5, "b")))
    // refusals, nothing committed
    val e1 = intercept[Exception](ext.sql(
      s"CREATE TABLE '$dir' (x bigint)"))
    assert(e1.getMessage.contains("already exists"))
    val d2 = Scratch.dir("sqlp_cremt2")
    val e2 = intercept[Exception](ext.sql(
      s"CREATE TABLE '$d2' (x notatype)"))
    assert(e2.getMessage.contains("unknown column type"))
    val e3 = intercept[Exception](ext.sql(
      s"CREATE TABLE '$d2' (x bigint, x double)"))
    assert(e3.getMessage.contains("duplicate column"))
    assert(ManifestTable.snapshots(spark, d2).isEmpty)
  }

  test("X206 stamp-addressed RESTORE/CLONE: between stamps resolve down, pre-log stamps refuse") {
    val dir = Scratch.dir("sqlp_rests")
    ManifestTable.commit(spark.range(0, 10)
      .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"), dir, 20250901, 900)
    ManifestTable.commit(spark.range(0, 3)
      .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"), dir, 20250901, 1000)
    // a stamp BETWEEN the commits addresses the earlier one
    val got = ext.sql(
      s"RESTORE '$dir' TO TIMESTAMP AS OF 20250901 950 AT 20250901 1100").head
    assert(got.getLong(0) === 1L && got.getLong(1) === 3L)
    assert(ManifestTable.readLatest(spark, dir).count() === 10)
    // stamp-addressed clone of the now-restored table's v2 content
    val cdir = Scratch.dir("sqlp_rests_c")
    ext.sql(s"CLONE '$dir' TO '$cdir' TIMESTAMP AS OF 20250901 1000 AT 20250901 1110")
    assert(ManifestTable.readLatest(spark, cdir).count() === 3)
    // a stamp predating the whole log refuses
    val e = intercept[Exception](ext.sql(
      s"RESTORE '$dir' TO TIMESTAMP AS OF 20240101 0"))
    assert(e.getMessage.contains("no version at or before"))
  }

  test("X202 VACUUM DRY RUN: names exactly the reclaimed files, deletes nothing") {
    val dir = Scratch.dir("sqlp_vacdry")
    (0 until 3).foreach(i => ManifestTable.commit(
      spark.range(i * 10L, (i + 1) * 10L)
        .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").repartition(2),
      dir, 20250901, 900 + i))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(f: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$f"))
    val dry = ext.sql(s"VACUUM '$dir' RETAIN 1 VERSIONS DRY RUN").collect()
    assert(dry.nonEmpty && dry.forall(_.getLong(1) > 0), "sized dead files")
    // a dry run deletes NOTHING: full log, every named file still present
    assert(ManifestTable.snapshots(spark, dir).size === 3)
    assert(dry.forall(r => exists(r.getString(0))))
    // an append-only log has no dead data files (appends carry forward)
    val adir = mkVersions("sqlp_vacdry_app", 3)
    assert(ext.sql(s"VACUUM '$adir' RETAIN 1 VERSIONS DRY RUN").collect().isEmpty)
    // the real pass removes exactly the dry set; retained files intact
    ext.sql(s"VACUUM '$dir' RETAIN 1 VERSIONS")
    assert(dry.forall(r => !exists(r.getString(0))), "dry set must be reclaimed")
    assert(ManifestTable.snapshots(spark, dir).flatMap(_.files).forall(exists))
  }

  test("VACUUM '<path>' RETAIN n VERSIONS reclaims and returns expired versions") {
    val dir = mkVersions("sqlp_vac", 4)
    val got = ext.sql(s"VACUUM '$dir' RETAIN 2 VERSIONS")
    assert(got.columns.toSeq == Seq("reclaimed_version"))
    assert(got.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    val left = ManifestTable.snapshots(spark, dir).map(_.version)
    assert(left == Seq(3, 4))
    assert(ManifestTable.readLatest(spark, dir).count() == 40)
    // idempotent: nothing left to reclaim
    assert(ext.sql(s"VACUUM '$dir' RETAIN 2 VERSIONS").count() == 0)
  }

  test("OPTIMIZE bin-packs as one commit; re-run is a no-op; ZORDER BY clusters") {
    val dir = mkVersions("sqlp_opt", 3)
    assert(ManifestTable.snapshots(spark, dir).last.files.size > 1)
    val v = ext.sql(s"OPTIMIZE '$dir' AT 20250901 1000").collect()
    assert(v.map(_.getLong(0)).toSeq == Seq(4L))
    val snap = ManifestTable.snapshots(spark, dir).last
    assert(snap.files.size == 1 && snap.op == "optimize")
    assert(ManifestTable.readLatest(spark, dir).count() == 30)
    // already within budget: zero rows, nothing committed
    assert(ext.sql(s"OPTIMIZE '$dir' AT 20250901 1100").count() == 0)
    assert(ManifestTable.snapshots(spark, dir).last.version == 4)

    // ZORDER BY: a clustering commit carrying stats on both dimensions
    val zv = ext.sql(s"OPTIMIZE '$dir' ZORDER BY (k, v) AT 20250901 1200")
      .collect()(0).getLong(0)
    assert(zv == 5L)
    val stats = ZoneMap.fileStats(spark, dir, 5).get
    assert(stats.forall(s => s.lo.contains("k") && s.lo.contains("v")))
    assert(ManifestTable.readVersion(spark, dir, 5).count() == 30)
  }

  test("DESCRIBE HISTORY returns the commit log; plain DESCRIBE still delegates") {
    val dir = mkVersions("sqlp_hist", 2)
    DeleteVectors.deleteWhere(spark, dir, $"k" === 1, 20250901, 950)
    val got = ext.sql(s"DESCRIBE HISTORY '$dir'").orderBy("version").collect()
    assert(got.length == 3)
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(got(2).getLong(5) == 1L, "the DV commit carries one delete file")
    // the delegate still owns everything else
    ext.sql("SELECT 1 AS one").collect()
    (0 until 3).map(i => (i, s"s$i")).toDF("a", "b").createOrReplaceTempView("sqlp_desc_t")
    assert(spark.sql("DESCRIBE sqlp_desc_t").count() > 0)
  }

  test("X182 RESTORE: SQL rollback commits the target's content as a new version") {
    val dir = mkVersions("sqlp_restore", 2)
    // a bad replace: only a third of the rows survive
    ManifestTable.commit(
      (0L until 20L).filter(_ % 3 == 0).map(k => (k, k * 1.0)).toDF("k", "v"),
      dir, 20250901, 930)
    val got = ext.sql(s"RESTORE '$dir' TO VERSION AS OF 2 AT 20250901 1000")
      .collect()(0)
    assert((got.getLong(0), got.getLong(1)) == (2L, 4L))
    assert(ManifestTable.readLatest(spark, dir).count() == 20)
    assert(ManifestTable.snapshots(spark, dir).last.op == "restore")
    // the bad version stays time-travelable
    assert(ManifestTable.readVersion(spark, dir, 3).count() == 7)
  }

  test("X182 CLONE: an independent table carrying the pinned version's content") {
    val dir = mkVersions("sqlp_clone", 2)
    val dst = Scratch.dir("sqlp_clone_dst")
    val got = ext.sql(s"CLONE '$dir' TO '$dst' VERSION AS OF 1 AT 20250901 1000")
      .collect()(0)
    assert((got.getLong(0), got.getLong(1)) == (1L, 1L))
    assert(ManifestTable.readLatest(spark, dst).count() == 10)
    // the clone is its own table: appending to it never touches the source
    ManifestTable.appendRetrying(Seq((99L, 99.0)).toDF("k", "v"), dst, 20250901, 1100)
    assert(ManifestTable.readLatest(spark, dst).count() == 11)
    assert(ManifestTable.readLatest(spark, dir).count() == 20)
  }

  test("X182 COPY INTO: exactly-once per drop, idempotent re-run returns zero rows") {
    val land = Scratch.dir("sqlp_land")
    val dir = Scratch.dir("sqlp_copy")
    (0L until 10L).map(k => (k, k * 1.0)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$land/d1")
    // non-recursive listing: move the drop up to the landing root
    val fs = new org.apache.hadoop.fs.Path(land)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$land/d1"))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .foreach(s => fs.rename(s.getPath,
        new org.apache.hadoop.fs.Path(s"$land/drop1.parquet")))
    val v1 = ext.sql(s"COPY INTO '$dir' FROM '$land' AT 20250901 900").collect()
    assert(v1.map(_.getLong(0)).toSeq == Seq(1L))
    assert(ext.sql(s"COPY INTO '$dir' FROM '$land' AT 20250901 910").count() == 0)
    assert(ManifestTable.readLatest(spark, dir).count() == 10)
    assert(ManifestTable.snapshots(spark, dir).size == 1)
  }

  test("X182 DESCRIBE DETAIL: one driver-side metadata row, exact under tombstones") {
    val dir = mkVersions("sqlp_detail", 2)
    DeleteVectors.deleteWhere(spark, dir, $"k" < 3, 20250901, 950)
    val got = ext.sql(s"DESCRIBE DETAIL '$dir'").collect()(0)
    assert(got.getLong(0) == 3L, "latest version")
    assert(got.getString(1) == "delete", "op kind")
    assert(got.getLong(2) == ManifestTable.snapshots(spark, dir).last.files.size.toLong)
    assert(got.getLong(3) == 1L, "one DV sidecar")
    assert(got.getLong(4) > 0L, "data bytes")
    assert(got.getLong(5) == 17L, "footer-exact rows minus tombstones")
  }

  test("malformed graft statements refuse with usage; plain sessions keep Spark's refusal") {
    val e1 = intercept[IllegalArgumentException](ext.sql("VACUUM no_quotes"))
    assert(e1.getMessage.contains("VACUUM '<path>'"))
    // X197: a single-column ZORDER list is legal now (plain range
    // clustering) — it parses and fails only on the missing table;
    // an EMPTY column list is the malformed shape
    val e2a = intercept[NoSuchElementException](
      ext.sql("OPTIMIZE '/tmp/graft_no_such_zx' ZORDER BY (only_one)"))
    assert(e2a.getMessage.contains("no committed snapshot"))
    val e2 = intercept[IllegalArgumentException](
      ext.sql("OPTIMIZE '/tmp/x' ZORDER BY ()"))
    assert(e2.getMessage.contains("OPTIMIZE '<path>'"))
    val e3 = intercept[IllegalArgumentException](ext.sql("DESCRIBE HISTORY t"))
    assert(e3.getMessage.contains("DESCRIBE HISTORY '<path>'"))
    val e4 = intercept[IllegalArgumentException](
      ext.sql("RESTORE '/tmp/x' VERSION 3"))
    assert(e4.getMessage.contains("RESTORE '<path>' TO VERSION AS OF"))
    val e5 = intercept[IllegalArgumentException](ext.sql("CLONE '/tmp/x'"))
    assert(e5.getMessage.contains("CLONE '<src>' TO '<dst>'"))
    val e6 = intercept[IllegalArgumentException](
      ext.sql("COPY INTO t FROM '/tmp/x'"))
    assert(e6.getMessage.contains("COPY INTO '<path>' FROM '<landing>'"))
    val e7 = intercept[IllegalArgumentException](ext.sql("DESCRIBE DETAIL t"))
    assert(e7.getMessage.contains("DESCRIBE DETAIL '<path>'"))
    // no extensions, no statement: the base session refuses VACUUM itself
    intercept[Exception](spark.sql("VACUUM '/tmp/x'"))
  }

  test("X185 ALTER TABLE: rename is metadata-only; drop+re-add never resurrects") {
    val dir = mkVersions("sqlp_alter", 1) // plain unmapped table (k, v)
    val before = ManifestTable.snapshots(spark, dir).last
    val r = ext.sql(s"ALTER TABLE '$dir' RENAME COLUMN v TO price").collect()
    assert(r.map(x => (x.getString(0), x.getLong(1))).toSeq ===
      Seq(("rename", 2L)))
    val after = ManifestTable.snapshots(spark, dir).last
    assert(after.files === before.files, "rename must be metadata-only")
    val renamed = graft.lake.ColumnMap.read(spark, dir)
    assert(renamed.columns.toSeq === Seq("k", "price"))
    assert(renamed.agg(sum("price")).head.getDouble(0) === (0 until 10).sum)
    // era-correct time travel: v1 still serves the pre-rename name
    assert(graft.lake.ColumnMap.read(spark, dir, Some(1)).columns.toSeq ===
      Seq("k", "v"))
    // drop, then re-add the same name: fresh field id, old bytes stay dark
    ext.sql(s"ALTER TABLE '$dir' DROP COLUMN price")
    ext.sql(s"ALTER TABLE '$dir' ADD COLUMN price double")
    val readd = graft.lake.ColumnMap.read(spark, dir)
    assert(readd.columns.toSeq === Seq("k", "price"))
    assert(readd.where(col("price").isNotNull).count() === 0,
      "re-added column must not resurrect dropped bytes")
  }

  private def listing(dir: String): Set[String] =
    new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new org.apache.hadoop.fs.Path(dir)).map(_.getPath.getName).toSet

  test("X185 ALTER TABLE: a refused ALTER on an unmapped table writes nothing") {
    val dir = mkVersions("sqlp_alter_refused", 1)
    val log = ManifestTable.snapshots(spark, dir)
    assert(listing(dir) == Set("_manifests", "data"))
    val e = intercept[Exception](ext.sql(s"ALTER TABLE '$dir' RENAME COLUMN v TO k"))
    assert(e.getMessage.contains("column 'k' already exists"))
    assert(listing(dir) == Set("_manifests", "data"))
    assert(ManifestTable.snapshots(spark, dir) == log)
    // reads keep the bare file relation of an unmapped table
    val rel = spark.read.format("graft").load(dir).queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation }
    assert(rel.exists(_.isInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]))
  }

  test("table metadata lives in the log: properties, constraints, ALTER, evolving appends and schema-first creates leave only _manifests and data") {
    val dir = mkVersions("sqlp_meta_log", 1)
    ext.sql(s"ALTER TABLE '$dir' SET TBLPROPERTIES ('owner' = 'ops')")
    ext.sql(s"ALTER TABLE '$dir' ADD CONSTRAINT pos CHECK (k >= 0)")
    ext.sql(s"ALTER TABLE '$dir' RENAME COLUMN v TO w")
    ext.sql(s"ALTER TABLE '$dir' ADD COLUMN tag string")
    graft.lake.ColumnMap.appendEvolve(Seq((100L, 1.0, "x", 7L)).toDF("k", "w", "tag", "extra"),
      dir, 20250901, 1000)
    val empty = Scratch.dir("sqlp_meta_log_empty")
    ext.sql(s"CREATE TABLE '$empty' (k bigint, v double) AT 20250901 900")
    assert(listing(dir) == Set("_manifests", "data"))
    assert(listing(empty) == Set("_manifests"))
    assert(graft.lake.Properties.active(spark, dir) == Map("owner" -> "ops"))
    assert(graft.lake.Constraints.active(spark, dir).map(_.name) == Seq("pos"))
    assert(graft.lake.ColumnMap.read(spark, dir).columns.toSeq == Seq("k", "w", "tag", "extra"))
    assert(graft.lake.ColumnMap.read(spark, dir).count() == 11)
    assert(graft.lake.ColumnMap.read(spark, empty).columns.toSeq == Seq("k", "v"))
  }

  test("X185 ALTER TABLE: usage refusal; unquoted names delegate to Spark") {
    val e = intercept[IllegalArgumentException](
      ext.sql("ALTER TABLE '/tmp/x' FROBNICATE COLUMN a"))
    assert(e.getMessage.contains("ALTER TABLE '<path>'"))
    val e2 = intercept[IllegalArgumentException](
      ext.sql("ALTER TABLE '/tmp/x' ADD COLUMN a notatype"))
    assert(e2.getMessage.contains("unknown column type"))
    // an unquoted table name is Spark's own ALTER TABLE — delegated, so
    // the failure is Spark's not-found analysis error, not our usage line
    val e3 = intercept[Exception](
      ext.sql("ALTER TABLE graft_no_such_tbl ADD COLUMNS (a INT)"))
    assert(!e3.getMessage.contains("graft ALTER TABLE"))
  }

  test("X186 CTAS: creates, refuses accidental clobber, OR REPLACE keeps time travel") {
    val dir = Scratch.dir("sqlp_ctas")
    ext.sql("CREATE OR REPLACE TEMPORARY VIEW ctassp_src AS " +
      "SELECT id AS k, CAST(id * 2.0 AS DOUBLE) AS v FROM range(100)")
    val v1 = ext.sql(s"CREATE TABLE '$dir/t' AT 20250901 900 AS " +
      "SELECT k, v FROM ctassp_src WHERE k % 2 = 0").collect()
    assert(v1.map(_.getLong(0)).toSeq === Seq(1L))
    assert(ManifestTable.readLatest(spark, s"$dir/t").count() === 50)
    // plain CREATE over an existing table is loud, nothing committed
    val e = intercept[IllegalStateException](
      ext.sql(s"CREATE TABLE '$dir/t' AS SELECT * FROM ctassp_src"))
    assert(e.getMessage.contains("already has committed versions"))
    assert(ManifestTable.snapshots(spark, s"$dir/t").map(_.version) === Seq(1))
    // OR REPLACE commits v2; v1 still time-travels
    ext.sql(s"CREATE OR REPLACE TABLE '$dir/t' AT 20250901 910 AS " +
      "SELECT k, v FROM ctassp_src WHERE k % 5 = 0")
    assert(ManifestTable.readLatest(spark, s"$dir/t").count() === 20)
    assert(ManifestTable.readVersion(spark, s"$dir/t", 1).count() === 50)
    // malformed: quoted path but no AS → usage line, not a generic error
    val e2 = intercept[IllegalArgumentException](
      ext.sql(s"CREATE TABLE '$dir/u' LIKE something"))
    assert(e2.getMessage.contains("graft CREATE TABLE"))
    // unquoted names delegate to Spark's own CTAS machinery
    val e3 = intercept[Exception](
      ext.sql("CREATE TABLE graft_no_such AS SELECT no_col FROM ctassp_src"))
    assert(!e3.getMessage.contains("graft CREATE TABLE"))
  }

  test("X187 ADD CONSTRAINT validates existing rows; lands metadata-only; SHOW lists it") {
    val dir = mkVersions("sqlp_con", 2) // k: 0..19, v = k.toDouble
    val before = ManifestTable.snapshots(spark, dir).last
    // a constraint current rows violate is refused with the count
    val e = intercept[Exception](
      ext.sql(s"ALTER TABLE '$dir' ADD CONSTRAINT v_pos CHECK (v > 5)"))
    assert(e.getMessage.contains("existing rows violate"))
    assert(ManifestTable.snapshots(spark, dir).last.version === before.version)
    // a satisfied constraint lands as a metadata-only commit
    val r = ext.sql(s"ALTER TABLE '$dir' ADD CONSTRAINT v_nonneg " +
      "CHECK (v >= 0) AT 20250901 1000").collect()
    assert(r.map(x => (x.getString(0), x.getLong(1))).toSeq ===
      Seq(("add_constraint", 3L)))
    val after = ManifestTable.snapshots(spark, dir).last
    assert(after.files === before.files, "constraint commit is metadata-only")
    assert(after.op === "constraint")
    val shown = ext.sql(s"SHOW CONSTRAINTS '$dir'").collect()
    assert(shown.map(x => (x.getString(0), x.getString(1))).toSeq ===
      Seq(("v_nonneg", "v >= 0")))
  }

  test("X187 enforcement: INSERT/writer/UPDATE violations refuse from staged bytes; DROP lifts") {
    val dir = mkVersions("sqlp_conw", 1) // k: 0..9
    ext.sql(s"ALTER TABLE '$dir' ADD CONSTRAINT v_nonneg CHECK (v >= 0)")
    ext.sql(s"""CREATE OR REPLACE TEMPORARY VIEW consp_t
               |USING graft OPTIONS (path '$dir')""".stripMargin)
    val filesBefore = ManifestTable.snapshots(spark, dir).last.files
    // violating INSERT refuses; nothing committed, no staged garbage
    val e = intercept[Exception](ext.sql(
      "INSERT INTO consp_t SELECT CAST(-1 AS BIGINT), CAST(-2.0 AS DOUBLE)"))
    assert(e.getMessage.contains("CHECK constraint violation") &&
      e.getMessage.contains("v_nonneg"))
    assert(ManifestTable.snapshots(spark, dir).last.files === filesBefore)
    val committed = ManifestTable.snapshots(spark, dir).flatMap(_.files)
      .map(_.split('/')(1)).toSet
    val leaked = new java.io.File(s"$dir/data").listFiles()
      .filterNot(d => committed(d.getName)).flatMap(_.listFiles())
    assert(leaked.isEmpty, "refused INSERT left staged files")
    // the batch writer path refuses identically
    val bad = Seq((-5L, -1.0)).toDF("k", "v")
    val e2 = intercept[Exception](bad.write.format("graft")
      .mode(org.apache.spark.sql.SaveMode.Append).save(dir))
    assert(e2.getMessage.contains("CHECK constraint violation"))
    // an UPDATE rewriting rows out of contract refuses too (CoW staged)
    val e3 = intercept[Exception](
      ext.sql("UPDATE consp_t SET v = v - 100 WHERE k < 3"))
    assert(e3.getMessage.contains("CHECK constraint violation"))
    assert(ManifestTable.readLatest(spark, dir)
      .where(col("v") < 0).count() === 0)
    // DROP lifts the rule; the same insert now lands
    ext.sql(s"ALTER TABLE '$dir' DROP CONSTRAINT v_nonneg")
    ext.sql("INSERT INTO consp_t SELECT CAST(-1 AS BIGINT), CAST(-2.0 AS DOUBLE)")
    assert(ManifestTable.readLatest(spark, dir).count() === 11)
    // usage refusals
    val e4 = intercept[IllegalArgumentException](
      ext.sql("SHOW CONSTRAINTS no_quotes"))
    assert(e4.getMessage.contains("SHOW CONSTRAINTS '<path>'"))
  }

  test("X192 TBLPROPERTIES: metadata-only commits bind the optimized-write default; era-correct; refusals typed") {
    val dir = Scratch.dir("sqlp_props")
    val frag = spark.range(20000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
      .repartition(48)
    frag.where(col("k") < 10000).write.format("graft")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).save(dir) // v1: 48 files
    assert(ManifestTable.snapshots(spark, dir).last.files.size === 48)
    val before = ManifestTable.snapshots(spark, dir).last
    val r = ext.sql(s"ALTER TABLE '$dir' SET TBLPROPERTIES " +
      "('graft.optimizeWrite' = 'true', 'graft.targetFileBytes' = '1048576')")
      .collect()
    assert(r.map(x => (x.getString(0), x.getLong(1))).toSeq ===
      Seq(("set_tblproperties", 2L)))
    assert(ManifestTable.snapshots(spark, dir).last.files === before.files,
      "property commit is metadata-only")
    // the NEXT fragmented append rebalances with no caller option
    frag.where(col("k") >= 10000).write.format("graft")
      .mode(org.apache.spark.sql.SaveMode.Append).save(dir) // v3
    val v3 = ManifestTable.snapshots(spark, dir).last
    assert(v3.files.size - before.files.size < 16,
      s"property-bound rebalance ignored: ${v3.files.size - before.files.size} new files")
    assert(ManifestTable.readLatest(spark, dir).count() === 20000)
    // era-correct: version 1 had no properties
    assert(graft.lake.Properties.activeAt(spark, dir, 1).isEmpty)
    assert(graft.lake.Properties.active(spark, dir)
      .get("graft.optimizeWrite").contains("true"))
    // SHOW lists key-ordered; unknown unset refuses; malformed refuses
    val shown = ext.sql(s"SHOW TBLPROPERTIES '$dir'").collect()
      .map(x => x.getString(0)).toSeq
    assert(shown === Seq("graft.optimizeWrite", "graft.targetFileBytes"))
    val e = intercept[Exception](
      ext.sql(s"ALTER TABLE '$dir' UNSET TBLPROPERTIES ('nope')"))
    assert(e.getMessage.contains("no property 'nope'"))
    val e2 = intercept[IllegalArgumentException](
      ext.sql(s"ALTER TABLE '$dir' SET TBLPROPERTIES (k = v)"))
    assert(e2.getMessage.contains("malformed pair"))
    // unquoted names delegate to Spark's own statement
    val e3 = intercept[Exception](
      ext.sql("ALTER TABLE graft_no_such SET TBLPROPERTIES ('a' = 'b')"))
    assert(!e3.getMessage.contains("graft SET TBLPROPERTIES"))
  }

  test("X193 CONVERT TO GRAFT: in-place manifest over existing bytes; live table after; refusals typed") {
    val dir = Scratch.dir("sqlp_conv")
    val df = spark.range(1000).selectExpr("id AS k", "CAST(id * 2.0 AS DOUBLE) AS v")
    df.coalesce(3).write.mode("overwrite").parquet(dir) // plain parquet + _SUCCESS
    val before = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).sorted
    val r = ext.sql(s"CONVERT TO GRAFT '$dir' AT 20250901 900").collect()
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSeq === Seq((1L, 3L)))
    // zero data bytes moved: same files, same mtimes
    val after = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).sorted
    assert(after.toSeq === before.toSeq, "conversion must not touch data bytes")
    assert(ManifestTable.readLatest(spark, dir).count() === 1000)
    assert(ManifestTable.snapshots(spark, dir).head.op === "convert")
    // live table: DML composes on the converted directory
    ext.sql(s"""CREATE OR REPLACE TEMPORARY VIEW convsp_t
               |USING graft OPTIONS (path '$dir')""".stripMargin)
    ext.sql("DELETE FROM convsp_t WHERE k < 100")
    assert(ManifestTable.readLatest(spark, dir).count() === 900)
    // refusals: double-convert forks history; empty dir; malformed
    val e = intercept[Exception](ext.sql(s"CONVERT TO GRAFT '$dir'"))
    assert(e.getMessage.contains("already a graft table"))
    val empty = Scratch.dir("sqlp_conv_empty")
    val e2 = intercept[Exception](ext.sql(s"CONVERT TO GRAFT '$empty'"))
    assert(e2.getMessage.contains("no parquet files"))
    val e3 = intercept[IllegalArgumentException](
      ext.sql("CONVERT TO PARQUET 'x'"))
    assert(e3.getMessage.contains("graft CONVERT"))
  }

  test("X204 GENERATED ALWAYS AS: computed on omit, validated on provide, legacy files compute at read") {
    val dir = mkVersions("sqlp_gen", 1) // (k, v): k = 0..9, one file era
    ext.sql(s"ALTER TABLE '$dir' ADD COLUMN dbl double GENERATED ALWAYS AS (v * 2)")
    // legacy rows compute at read
    val g1 = graft.lake.ColumnMap.read(spark, dir)
    assert(g1.where(col("dbl") === col("v") * 2).count() === 10)
    // an append that OMITS the column gets it computed at write time
    graft.lake.ColumnMap.append(
      spark.range(100, 105).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"),
      dir, 20250901, 1000)
    assert(graft.lake.ColumnMap.read(spark, dir)
      .where(col("dbl") === col("v") * 2).count() === 15)
    // an append that PROVIDES matching values is accepted...
    graft.lake.ColumnMap.append(
      spark.range(200, 203).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v",
        "CAST(id AS DOUBLE) * 2 AS dbl"), dir, 20250901, 1010)
    // ...a conflicting one refuses with nothing committed, no staged garbage
    val before = ManifestTable.snapshots(spark, dir)
    val e = intercept[IllegalArgumentException](graft.lake.ColumnMap.append(
      spark.range(300, 303).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v",
        "CAST(0.0 AS DOUBLE) AS dbl"), dir, 20250901, 1020))
    assert(e.getMessage.contains("conflict with their expressions"))
    assert(ManifestTable.snapshots(spark, dir) === before)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagedLeft = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/data"))
      .map(_.getPath.getName).filter(_.startsWith("w")).toSet --
      before.flatMap(_.files).map(_.split('/')(1)).toSet
    assert(stagedLeft.isEmpty, s"staged garbage: $stagedLeft")
    assert(graft.lake.ColumnMap.read(spark, dir).count() === 18)
    // an expression over unknown columns refuses at declaration
    val e2 = intercept[IllegalArgumentException](ext.sql(
      s"ALTER TABLE '$dir' ADD COLUMN bad bigint GENERATED ALWAYS AS (nope + 1)"))
    assert(e2.getMessage.contains("does not analyze"))
  }

  test("X198 ADD COLUMN DEFAULT: existence default per file, explicit NULL survives, bad literal refuses") {
    val dir = mkVersions("sqlp_dflt", 1) // (k, v), 10 rows, one file era
    ext.sql(s"ALTER TABLE '$dir' ADD COLUMN grade bigint DEFAULT 7")
    // old rows serve the default...
    val g1 = graft.lake.ColumnMap.read(spark, dir)
    assert(g1.where(col("grade") === 7L).count() === 10)
    // ...new rows their stored values, explicit NULLs included
    graft.lake.ColumnMap.append(
      spark.range(100, 105).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
        .withColumn("grade",
          when(col("k") % 2 === 0, col("k")).otherwise(lit(null).cast("bigint"))),
      dir, 20250901, 1000)
    val g2 = graft.lake.ColumnMap.read(spark, dir)
    assert(g2.where(col("grade") === 7L).count() === 10)
    assert(g2.where(col("grade").isNull).count() === 2, "explicit NULL coalesced away")
    assert(g2.where(col("grade") >= 100L).count() === 3)
    // era-correct: v1 predates the column
    assert(!graft.lake.ColumnMap.read(spark, dir, Some(1))
      .columns.contains("grade"))
    // a default that does not cast to the type refuses, nothing commits
    val before = ManifestTable.snapshots(spark, dir).size
    val e = intercept[Exception](ext.sql(
      s"ALTER TABLE '$dir' ADD COLUMN n bigint DEFAULT 'not_a_number'"))
    assert(e.getMessage.contains("does not cast"))
    assert(ManifestTable.snapshots(spark, dir).size === before)
  }

  test("X196 OPTIMIZE WHERE packs only the band; outer files byte-identical; idempotent") {
    val dir = Scratch.dir("sqlp_optw")
    val df = (i: Int) => spark.range(i * 100L, (i + 1) * 100L)
      .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").coalesce(1)
    ZoneMap.commitWithStats(df(0), dir, 20250901, 900, statsCols = Seq("k"))
    (1 to 3).foreach(i => ZoneMap.appendWithStats(df(i), dir, 20250901,
      900 + i * 10, statsCols = Seq("k")))
    val v4 = ManifestTable.snapshots(spark, dir).last
    assert(v4.files.size === 4)
    val r = ext.sql(s"OPTIMIZE '$dir' WHERE k BETWEEN 100 AND 299 " +
      "AT 20250901 1000").collect()
    assert(r.map(_.getLong(0)).toSeq === Seq(5L))
    val v5 = ManifestTable.snapshots(spark, dir).last
    assert(v5.files.size === 3 && v5.op === "optimize")
    // the out-of-band files carried by reference
    assert(v5.files.contains(v4.files.head))
    assert(v5.files.contains(v4.files.last))
    assert(ManifestTable.readLatest(spark, dir).count() === 400)
    // fresh stats keep the packed file band-prunable; re-run is a no-op
    val stats = ZoneMap.fileStats(spark, dir, 5).get
    val packed = stats.filterNot(s => v4.files.contains(s.file))
    assert(packed.size === 1 && packed.head.lo("k") === 100L &&
      packed.head.hi("k") === 299L)
    assert(ext.sql(s"OPTIMIZE '$dir' WHERE k BETWEEN 100 AND 299").count() === 0)
    // ZORDER BY + WHERE cannot combine
    val e = intercept[Exception](ext.sql(
      s"OPTIMIZE '$dir' ZORDER BY (k, v) WHERE k BETWEEN 0 AND 9"))
    assert(e.getMessage.contains("cannot combine"))
  }

  test("X195 SHOW PARTITIONS lists the physical layout; evolved tables report per generation") {
    import graft.lake.HiddenPartition
    import graft.lake.HiddenPartition.Transform
    val dir = Scratch.dir("sqlp_parts")
    val df = spark.range(100).selectExpr("id AS k",
      "CAST(id % 3 AS LONG) AS grp", "CAST(id AS DOUBLE) AS v")
    HiddenPartition.write(df, s"$dir/flat", Seq(Transform("grp", "truncate", 1)))
    val flat = ext.sql(s"SHOW PARTITIONS '$dir/flat'").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(flat === Seq((0L, "p_grp_t1=0"), (0L, "p_grp_t1=1"),
      (0L, "p_grp_t1=2")))
    // evolved: two generations with different layouts, both reported
    HiddenPartition.writeEvolved(df.where(col("k") < 50), s"$dir/evo",
      Seq(Transform("grp", "truncate", 1)))
    HiddenPartition.writeEvolved(df.where(col("k") >= 50), s"$dir/evo",
      Seq(Transform("k", "truncate", 50)))
    val evo = ext.sql(s"SHOW PARTITIONS '$dir/evo'").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(evo === Seq((0L, "p_grp_t1=0"), (0L, "p_grp_t1=1"),
      (0L, "p_grp_t1=2"), (1L, "p_k_t50=50")))
    // a dir with no partition spec refuses; malformed refuses; unquoted
    // delegates to Spark's own SHOW PARTITIONS
    val bare = Scratch.dir("sqlp_parts_bare")
    val e = intercept[Exception](ext.sql(s"SHOW PARTITIONS '$bare'"))
    assert(e.getMessage.contains("no hidden-partition spec"))
    val e2 = intercept[IllegalArgumentException](
      ext.sql(s"SHOW PARTITIONS '$bare' extra"))
    assert(e2.getMessage.contains("graft SHOW PARTITIONS"))
    val e3 = intercept[Exception](ext.sql("SHOW PARTITIONS graft_no_such"))
    assert(!e3.getMessage.contains("graft SHOW PARTITIONS"))
  }

  test("X194 FSCK: dry run reports without committing; repair drops dangling refs; idempotent") {
    val dir = mkVersions("sqlp_fsck", 3) // 3 appends, 4 files each
    val snaps = ManifestTable.snapshots(spark, dir)
    val victim = (snaps(1).files.toSet -- snaps(0).files.toSet).head
    val victimRows = spark.read.parquet(s"$dir/$victim").count()
    assert(new java.io.File(s"$dir/$victim").delete())
    // dry run: reports exactly the loss, commits nothing
    val dry = ext.sql(s"FSCK REPAIR TABLE '$dir' DRY RUN").collect()
    assert(dry.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("data", victim)))
    assert(ManifestTable.snapshots(spark, dir).size === 3)
    // a read of the latest version fails until repaired
    intercept[Exception](ManifestTable.readLatest(spark, dir).count())
    // repair: one fsck commit, survivors serve, re-run reports nothing
    val rep = ext.sql(s"FSCK REPAIR TABLE '$dir' AT 20250901 1000").collect()
    assert(rep.map(_.getString(1)).toSeq === Seq(victim))
    val after = ManifestTable.snapshots(spark, dir).last
    assert(after.op === "fsck" && after.version === 4)
    assert(!after.files.contains(victim))
    assert(ManifestTable.readLatest(spark, dir).count() === 30 - victimRows)
    assert(ext.sql(s"FSCK REPAIR TABLE '$dir'").count() === 0)
    // malformed refuses with usage
    val e = intercept[IllegalArgumentException](ext.sql("FSCK '/tmp/x'"))
    assert(e.getMessage.contains("graft FSCK"))
  }

  test("X189 ANALYZE TABLE builds the sidecar in place; refusals are typed") {
    val dir = mkVersions("sqlp_ana", 2) // plain commits, no stats sidecar
    assert(ZoneMap.fileStats(spark, dir, 2).isEmpty)
    val rows = ext.sql(s"ANALYZE TABLE '$dir' COMPUTE STATISTICS").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getString(1)).distinct.sorted.toSeq === Seq("k"),
      "only the integral column qualifies (v is double — skipped)")
    // sidecar landed for the CURRENT version, no new commit
    assert(ManifestTable.snapshots(spark, dir).last.version === 2)
    val stats = ZoneMap.fileStats(spark, dir, 2).get
    assert(stats.map(_.lo("k")).min === 0L)
    assert(stats.map(_.hi("k")).max === 19L)
    // unknown column / malformed tail refuse with typed messages
    val e = intercept[Exception](ext.sql(
      s"ANALYZE TABLE '$dir' COMPUTE STATISTICS FOR COLUMNS nope"))
    assert(e.getMessage.contains("no column 'nope'"))
    val e2 = intercept[IllegalArgumentException](
      ext.sql(s"ANALYZE TABLE '$dir' GATHER STATS"))
    assert(e2.getMessage.contains("graft ANALYZE TABLE"))
    // Spark's own ANALYZE TABLE (unquoted) delegates untouched
    val e3 = intercept[Exception](
      ext.sql("ANALYZE TABLE graft_no_such COMPUTE STATISTICS"))
    assert(!e3.getMessage.contains("graft ANALYZE TABLE"))
  }
}
