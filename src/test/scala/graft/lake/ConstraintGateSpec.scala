package graft.lake

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.sinks.Jdbc
import graft.sinks.Jdbc.JdbcConfig
import graft.sources.JdbcIncr
import graft.spark.GraftDml
import graft.util.Scratch

/** X187 CHECK constraints are enforced once, by the commit: every
  * surface that adds rows is refused when they violate, whatever its
  * code path, and content-preserving maintenance pays nothing for them.
  */
class ConstraintGateSpec extends SparkSpec {
  import spark.implicits._

  private lazy val ext = GraftDml.extSession(spark)

  /** A table of `rows` (default k = 1..5, v = k) under `CHECK (k > 0)`. */
  private def constrained(name: String, rows: Option[DataFrame] = None): String = {
    val dir = Scratch.dir(name)
    rows.getOrElse((1L to 5L).map(i => (i, i.toDouble)).toDF("k", "v"))
      .write.format("graft").mode(SaveMode.Overwrite)
      .option("runDate", "20250901").option("runTime", "900").save(dir)
    Constraints.add(spark, dir, "kpos", "k > 0", 20250901, 910)
    dir
  }

  private def view(name: String, dir: String): Unit =
    ext.sql(s"CREATE OR REPLACE TEMPORARY VIEW $name USING graft OPTIONS (path '$dir')")

  /** Dirs under `dir`'s data and deletes roots no committed version names. */
  private def staged(dir: String): Seq[String] = {
    val committed = ManifestTable.snapshots(spark, dir)
      .flatMap(s => s.files ++ s.deletes).map(_.split('/').dropRight(1).mkString("/")).toSet
    Seq("data", "deletes").flatMap(root =>
      Option(new java.io.File(dir, root).listFiles).toSeq.flatten
        .map(d => s"$root/${d.getName}")).filterNot(committed)
  }

  private def stream(src: String, dst: String, opts: (String, String)*): Unit =
    spark.readStream.format("graft").load(src)
      .writeStream.format("graft").options(opts.toMap)
      .option("path", dst).option("checkpointLocation", Scratch.dir("cgate_chk"))
      .trigger(Trigger.AvailableNow()).start().awaitTermination()

  private val jdbc = JdbcConfig(url = "jdbc:derby:memory:cgatespec;create=true",
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver")

  /** (writer, table it writes, the write of a violating row). */
  private def writers: Seq[(String, () => String, String => Unit)] = Seq(
    ("DataFrame writer", () => constrained("cgate_writer"), dir =>
      Seq((-1L, 1.0)).toDF("k", "v").write.format("graft").mode(SaveMode.Append).save(dir)),
    ("SQL INSERT", () => constrained("cgate_insert"), { dir =>
      view("cgate_insert_v", dir)
      ext.sql("INSERT INTO cgate_insert_v SELECT CAST(-3 AS BIGINT), 1.0D")
    }),
    ("CTAS OR REPLACE", () => constrained("cgate_ctas"), dir =>
      ext.sql(s"CREATE OR REPLACE TABLE '$dir' AS SELECT CAST(-4 AS BIGINT) AS k, 1.0D AS v")),
    ("UPDATE", () => constrained("cgate_update"), { dir =>
      view("cgate_update_v", dir)
      ext.sql("UPDATE cgate_update_v SET k = -k WHERE k = 2")
    }),
    ("MERGE", () => constrained("cgate_merge"), { dir =>
      view("cgate_merge_v", dir)
      ext.sql("CREATE OR REPLACE TEMPORARY VIEW cgate_merge_src AS " +
        "SELECT CAST(-6 AS BIGINT) AS sk, 1.0D AS sv")
      ext.sql("""MERGE INTO cgate_merge_v t USING cgate_merge_src s ON t.k = s.sk
                |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.sk, s.sv)""".stripMargin)
    }),
    ("stream sink append", () => constrained("cgate_stream"), { dir =>
      val src = Scratch.dir("cgate_stream_src")
      ManifestTable.commit(Seq((-5L, 1.0)).toDF("k", "v"), src, 20250901, 900)
      stream(src, dir)
    }),
    ("stream sink mergeKeys", () => constrained("cgate_upsert"), { dir =>
      val src = Scratch.dir("cgate_upsert_src")
      ManifestTable.commit(Seq((-11L, 1.0)).toDF("k", "v"), src, 20250901, 900)
      stream(src, dir, "mergeKeys" -> "k")
    }),
    ("COPY INTO", () => constrained("cgate_copy"), { dir =>
      val landing = Scratch.dir("cgate_copy_landing")
      Seq((-7L, 1.0)).toDF("k", "v").write.mode("overwrite").parquet(s"$landing/drop")
      CopyInto.copyInto(spark, dir, s"$landing/drop", 20250901, 920)
    }),
    ("replaceWhere", () => constrained("cgate_rw"), dir =>
      ReplaceWhere.replaceWhere(spark, dir, "k", -20L, 0L,
        Seq((-9L, 1.0)).toDF("k", "v"), 20250901, 920, Seq("k"))),
    ("TableDiff.repair", () => constrained("cgate_repair"), dir =>
      TableDiff.repair((Seq((-8L, 1.0)) ++ (2L to 5L).map(i => (i, i.toDouble)))
        .toDF("k", "v"), dir, Seq("k"), 4, 20250901, 920)),
    ("JdbcIncr.pull", { () =>
      val dir = Scratch.dir("cgate_jdbc")
      Jdbc.append(Seq((1L, 1L), (2L, 2L)).toDF("wm", "k"), jdbc, "cgate_src")
      JdbcIncr.pull(spark, jdbc, "cgate_src", "wm", dir, 20250901, 900)
      Constraints.add(spark, dir, "kpos", "k > 0", 20250901, 910)
      Jdbc.append(Seq((3L, -2L)).toDF("wm", "k"), jdbc, "cgate_src")
      dir
    }, dir => JdbcIncr.pull(spark, jdbc, "cgate_src", "wm", dir, 20250901, 920)),
    ("Identity.appendWithIds", () => constrained("cgate_identity",
        Some((1L to 3L).map(i => (i, i)).toDF("k", "id"))), dir =>
      Identity.appendWithIds(Seq(-12L).toDF("k"), dir, "id", "k", 20250901, 920)),
    ("INSERT into a schema-first mapped table", { () =>
      val dir = Scratch.dir("cgate_mapped")
      ext.sql(s"CREATE TABLE '$dir' (k bigint, v double) AT 20250901 900")
      Constraints.add(spark, dir, "kpos", "k > 0", 20250901, 910)
      dir
    }, { dir =>
      view("cgate_mapped_v", dir)
      ext.sql("INSERT INTO cgate_mapped_v SELECT CAST(-13 AS BIGINT), 1.0D")
    }))

  /** `body`'s result and the Spark jobs it ran. */
  private def counted[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def drain(): Unit = org.apache.spark.sql.GraftShim.drainListenerBus(spark.sparkContext)
    drain()
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      drain(); (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(20).toSeq

  /** What went wrong when `write` wrote a violating row to `dir`. */
  private def problems(dir: String, write: String => Unit): Seq[String] = {
    val before = ManifestTable.snapshots(spark, dir).last
    val refused = try { write(dir); None } catch { case e: Throwable => Some(e) }
    val after = ManifestTable.snapshots(spark, dir).last
    (if (!refused.exists(causes(_).exists(c => c.getMessage != null &&
        c.getMessage.contains("CHECK constraint violation"))))
      Seq(s"not refused by the constraint (${refused.map(_.toString.take(200))})")
    else Nil) ++
      (if (after.version != before.version) Seq(s"committed v${after.version}") else Nil) ++
      (if (ColumnMap.read(spark, dir).where(col("k") <= 0).count() > 0)
        Seq("a violating row is readable") else Nil) ++
      staged(dir).map(d => s"left staged dir $d")
  }

  test("every new-data writer refuses a violating row and leaves no staged dir") {
    val failures = writers.flatMap { case (name, setup, write) =>
      val found = try problems(setup(), write)
        catch { case e: Exception => Seq(s"failed outside the write: $e") }
      found.map(p => s"$name: $p")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("a batch staged before ADD CONSTRAINT lands is refused by its append") {
    val dir = Scratch.dir("cgate_late")
    ManifestTable.commit((1L to 3L).map(i => (i, i.toDouble)).toDF("k", "v"), dir, 20250901, 900)
    val batch = ManifestTable.stageDataFiles(Seq((-1L, 1.0)).toDF("k", "v"), dir)
    Constraints.add(spark, dir, "kpos", "k > 0", 20250901, 910)
    val e = intercept[IllegalArgumentException](
      ManifestTable.appendStagedRetrying(spark, dir, 20250901, 920, batch))
    assert(e.getMessage.contains("CHECK constraint violation: kpos=1 rows"))
    assert(ManifestTable.latestVersion(spark, dir).contains(2))
    assert(staged(dir).isEmpty, staged(dir))
  }

  test("ADD CONSTRAINT validates and enforces by logical names after a rename") {
    val dir = constrained("cgate_rename")
    ext.sql(s"ALTER TABLE '$dir' RENAME COLUMN v TO w")
    Constraints.add(spark, dir, "wpos", "w > 0", 20250901, 920)
    assert(Constraints.active(spark, dir).map(_.name) === Seq("kpos", "wpos"))
    val e = intercept[IllegalArgumentException](
      ColumnMap.append(Seq((6L, -1.0)).toDF("k", "w"), dir, 20250901, 930))
    assert(e.getMessage.contains("CHECK constraint violation: wpos=1 rows"))
    assert(ColumnMap.read(spark, dir).count() === 5)
    assert(staged(dir).isEmpty, staged(dir))
  }

  test("ADD CONSTRAINT checks the snapshot it lands on: an append during its scan fails it") {
    val dir = Scratch.dir("cgate_add_race")
    ManifestTable.commit((1L to 3L).map(i => (i, i.toDouble)).toDF("k", "v"), dir, 20250901, 900)
    // the interloper's append was checked against no constraint and
    // lands while ADD's validation job runs
    val bad = ManifestTable.stageDataFiles(Seq((-1L, 1.0)).toDF("k", "v"), dir)
    spark.udf.register("cgate_interlope", (_: Long) => { InterloperDuringJob.fire(dir); true })
    InterloperDuringJob.arm(adding = bad)
    val e = intercept[IllegalArgumentException](
      Constraints.add(spark, dir, "kpos", "k > 0 AND cgate_interlope(k)", 20250901, 910))
    assert(e.getMessage.contains("1 existing rows violate"), e.getMessage)
    assert(ManifestTable.latestVersion(spark, dir).contains(2))
    assert(Constraints.active(spark, dir).isEmpty)
  }

  test("CTAS OR REPLACE on a WRITE ORDERED BY (k) table commits zone-map entries") {
    val dir = Scratch.dir("cgate_ctas_order")
    ext.sql(s"CREATE TABLE '$dir' AT 20250901 900 AS " +
      "SELECT id AS k, CAST(id AS DOUBLE) AS v FROM range(100)")
    ext.sql(s"ALTER TABLE '$dir' WRITE ORDERED BY (k) AT 20250901 910")
    ext.sql(s"CREATE OR REPLACE TABLE '$dir' AT 20250901 920 AS " +
      "SELECT id AS k, CAST(id AS DOUBLE) AS v FROM range(200)")
    val snap = ManifestTable.snapshots(spark, dir).last
    assert(snap.files.nonEmpty && snap.files.forall(f =>
      snap.stats.get(f).exists(_.lo.contains("k"))), snap.stats)
    assert(ManifestTable.readLatest(spark, dir).count() === 200)
  }

  test("OPTIMIZE and REORG on a constrained table run as many Spark jobs as on an unconstrained twin") {
    def table(name: String, constrain: Boolean): String = {
      val dir = Scratch.dir(name)
      (0 until 3).foreach { i =>
        spark.range(i * 100L + 1, i * 100L + 101).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
          .repartition(3).write.format("graft").mode(SaveMode.Append).save(dir)
      }
      if (constrain) Constraints.add(spark, dir, "kpos", "k > 0", 20250901, 910)
      DeleteVectors.deleteWhere(spark, dir, col("k") % 10 === 0, 20250901, 920)
      dir
    }
    val plain = table("cgate_jobs_plain", constrain = false)
    val checked = table("cgate_jobs_checked", constrain = true)
    def maintain(dir: String): Seq[Int] = Seq(
      counted(DeleteVectors.materialize(spark, dir, 20250901, 930))._2,
      counted(ZOrder.binPack(spark, dir, 1L << 30, 20250901, 940)) match {
        case (v, n) => assert(v.isDefined, s"OPTIMIZE of $dir committed nothing"); n
      })
    assert(maintain(checked) === maintain(plain))
    assert(ManifestTable.snapshots(spark, checked).map(_.op).takeRight(2) ===
      Seq("materialize", "optimize"))
    assert(ManifestTable.readLatest(spark, checked).count() === 270)
  }

  test("an append that loses a race re-checks nothing its first attempt already passed") {
    val (lose, win) = (constrained("cgate_retry_lose"), constrained("cgate_retry_win"))
    def batch(dir: String) = ManifestTable.stageDataFiles(Seq((9L, 9.0)).toDF("k", "v"), dir)
    val (lost, won) = (batch(lose), batch(win))
    val (v, lostJobs) = counted(InterloperCommit.losing(spark, lose)(
      ManifestTable.appendStagedRetrying(spark, lose, 20250901, 920, lost)))
    val (_, wonJobs) = counted(
      ManifestTable.appendStagedRetrying(spark, win, 20250901, 920, won))
    assert(v === 4, "the interloper takes v3, the append v4")
    assert(wonJobs > 0, "the gate scans the batch")
    assert(lostJobs === wonJobs, "the retry after the lost race scans it again")
    assert(ManifestTable.readLatest(spark, lose).count() === 6)
  }

  test("a refused replace caches nothing for the version a later replace lands as") {
    val dir = constrained("cgate_replace_schema")
    def replace(select: String): Unit =
      ext.sql(s"CREATE OR REPLACE TABLE '$dir' AT 20250901 920 AS SELECT $select")
    def refused(select: String): Unit = {
      val e = intercept[Exception](replace(select))
      assert(causes(e).exists(c => c.getMessage != null &&
        c.getMessage.contains("CHECK constraint violation")), e)
    }
    // another type for k, then another column set, each for version 3 first
    refused("CAST(-1 AS INT) AS k, 1.0D AS v")
    replace("CAST(7 AS BIGINT) AS k, 2.0D AS v")
    assert(ManifestTable.readVersion(spark, dir, 3).as[(Long, Double)].collect() ===
      Array((7L, 2.0)))
    refused("CAST(-1 AS BIGINT) AS k, 'x' AS w")
    replace("CAST(8 AS BIGINT) AS k, 'y' AS u")
    assert(ManifestTable.readLatest(spark, dir).as[(Long, String)].collect() ===
      Array((8L, "y")))
    assert(ManifestTable.latestVersion(spark, dir).contains(4))
    assert(staged(dir).isEmpty, staged(dir))
  }

  test("INSERT into a schema-first table checks a provided GENERATED column at its commit") {
    val dir = Scratch.dir("cgate_generated")
    ext.sql(s"CREATE TABLE '$dir' (k bigint, v double) AT 20250901 900")
    ext.sql(s"ALTER TABLE '$dir' ADD COLUMN dbl double GENERATED ALWAYS AS (v * 2)")
    view("cgate_generated_v", dir)
    val e = intercept[Exception](
      ext.sql("INSERT INTO cgate_generated_v SELECT CAST(1 AS BIGINT), 1.0D, 5.0D"))
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("generated column values conflict with their expressions: dbl (1 rows)")), e)
    assert(staged(dir).isEmpty, staged(dir))
    ext.sql("INSERT INTO cgate_generated_v SELECT CAST(1 AS BIGINT), 1.0D, 2.0D")
    assert(ColumnMap.read(spark, dir).as[(Long, Double, Double)].collect() ===
      Array((1L, 1.0, 2.0)))
  }
}
