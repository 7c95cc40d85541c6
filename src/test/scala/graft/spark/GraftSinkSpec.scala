package graft.spark

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.lake.ManifestTable
import graft.util.Scratch

/** X116/X117 write path: batch writer modes against the committed log,
  * and the streaming sink's per-lineage exactly-once rule.
  */
class GraftSinkSpec extends SparkSpec {
  import spark.implicits._

  test("writer modes: overwrite replaces, append accumulates, ignore no-ops, errorIfExists refuses") {
    val dir = Scratch.dir("gsink_modes")
    val a = (0L until 10L).map(i => (i, "a")).toDF("k", "tag")
    a.write.format("graft").mode(SaveMode.Overwrite).save(dir)
    assert(spark.read.format("graft").load(dir).count() == 10)

    (10L until 15L).map(i => (i, "b")).toDF("k", "tag")
      .write.format("graft").mode(SaveMode.Append).save(dir)
    assert(spark.read.format("graft").load(dir).count() == 15)

    a.write.format("graft").mode(SaveMode.Ignore).save(dir) // existing: no-op
    assert(ManifestTable.latestVersion(spark, dir).contains(2))

    intercept[IllegalStateException](
      a.write.format("graft").mode(SaveMode.ErrorIfExists).save(dir))
    assert(ManifestTable.latestVersion(spark, dir).contains(2))

    (100L to 101L).map(i => (i, "c")).toDF("k", "tag")
      .write.format("graft").mode(SaveMode.Overwrite).save(dir)
    assert(spark.read.format("graft").load(dir).count() == 2) // replaced
    // ...and the pre-overwrite version is still time-travelable
    assert(spark.read.format("graft").option("versionAsOf", 2)
      .load(dir).count() == 15)
  }

  test("SQL INSERT INTO appends a commit; INSERT OVERWRITE replaces; time travel intact") {
    val dir = Scratch.dir("gsink_sqlins")
    (1L to 5L).map(i => (i, s"a$i")).toDF("k", "tag")
      .write.format("graft").mode(SaveMode.Overwrite).save(dir)
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW gsink_ins
                 |USING graft OPTIONS (path '$dir')""".stripMargin)
    spark.sql("INSERT INTO gsink_ins SELECT id + 10, concat('b', id) FROM range(3)")
    assert(ManifestTable.latestVersion(spark, dir).contains(2), "INSERT = one append commit")
    assert(ManifestTable.readLatest(spark, dir).count() === 8)
    // the pre-insert version still time-travels
    assert(ManifestTable.readVersion(spark, dir, 1).count() === 5)
    // OVERWRITE = a replace commit
    spark.sql("INSERT OVERWRITE gsink_ins SELECT id, concat('c', id) FROM range(2)")
    assert(ManifestTable.latestVersion(spark, dir).contains(3))
    assert(ManifestTable.readLatest(spark, dir).count() === 2)
    assert(ManifestTable.readVersion(spark, dir, 2).count() === 8)
  }

  test("CTAS: CREATE TABLE ... USING graft AS SELECT commits v1 and reads back through SQL") {
    val dir = Scratch.dir("gsink_ctas")
    spark.sql("DROP TABLE IF EXISTS gsink_ctas_t")
    try {
      spark.sql(
        s"""CREATE TABLE gsink_ctas_t USING graft OPTIONS (path '$dir')
           |AS SELECT id AS k, concat('v', id) AS tag FROM range(6)""".stripMargin)
      // the CTAS landed as a real manifest commit...
      assert(ManifestTable.latestVersion(spark, dir).contains(1))
      assert(ManifestTable.readLatest(spark, dir).count() === 6)
      // ...and the catalog table serves it through plain SQL + INSERT
      assert(spark.sql("SELECT count(*) FROM gsink_ctas_t").head().getLong(0) === 6)
      spark.sql("INSERT INTO gsink_ctas_t SELECT id + 10, concat('w', id) FROM range(2)")
      assert(ManifestTable.latestVersion(spark, dir).contains(2))
      assert(ManifestTable.readLatest(spark, dir).count() === 8)
    } finally spark.sql("DROP TABLE IF EXISTS gsink_ctas_t")
  }

  test("SQL INSERT: type drift refuses; pinned (time-travel) views refuse") {
    val dir = Scratch.dir("gsink_sqlins_refuse")
    (1L to 3L).map(i => (i, s"a$i")).toDF("k", "tag")
      .write.format("graft").mode(SaveMode.Overwrite).save(dir)
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW gsink_bad
                 |USING graft OPTIONS (path '$dir')""".stripMargin)
    // wrong arity refuses before anything stages
    val e1 = intercept[Exception](
      spark.sql("INSERT INTO gsink_bad SELECT id FROM range(2)"))
    assert(e1.getMessage.toLowerCase.contains("column") ||
      e1.getMessage.contains("schema"), e1.getMessage)
    // a version-pinned view is an immutable snapshot
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW gsink_pinned
                 |USING graft OPTIONS (path '$dir', versionAsOf '1')""".stripMargin)
    val e2 = intercept[Exception](
      spark.sql("INSERT INTO gsink_pinned SELECT id + 10, concat('x', id) FROM range(2)"))
    assert(e2.getMessage.contains("pinned") || e2.getMessage.contains("snapshot"),
      e2.getMessage)
    assert(ManifestTable.latestVersion(spark, dir).contains(1),
      "refusals must commit nothing")
  }

  test("SQL INSERT into a DV-carrying table routes through the plan relation and appends") {
    val dir = Scratch.dir("gsink_sqlins_dv")
    (1L to 10L).map(i => (i, s"a$i")).toDF("k", "tag")
      .write.format("graft").mode(SaveMode.Overwrite).save(dir)
    graft.lake.DeleteVectors.deleteWhere(spark, dir, col("k") <= 2L, 20250801, 930)
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW gsink_dv
                 |USING graft OPTIONS (path '$dir')""".stripMargin)
    spark.sql("INSERT INTO gsink_dv SELECT id + 100, concat('n', id) FROM range(2)")
    val got = ManifestTable.readLatest(spark, dir).collect().map(_.getLong(0)).toSet
    assert(!got.contains(1L) && !got.contains(2L), "tombstones survive the append")
    assert(got.contains(101L) && got.size === 10)
  }

  test("stream sink: replayed batch ids skip within a lineage; a new lineage starts over") {
    val src = Scratch.dir("gsink_src")
    val dst = Scratch.dir("gsink_dst")
    val chk = Scratch.dir("gsink_chk")
    ManifestTable.commit((0L until 10L).map(i => (i, i)).toDF("k", "v"),
      src, 20250801, 900)

    def pipe(chkDir: String): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft")
        .option("path", dst)
        .option("checkpointLocation", chkDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    pipe(chk)
    assert(spark.read.format("graft").load(dst).count() == 10)
    val v1 = ManifestTable.latestVersion(spark, dst).get

    // same lineage, nothing new at the source: no new sink version
    pipe(chk)
    assert(ManifestTable.latestVersion(spark, dst).contains(v1))

    // a NEW checkpoint replays batch 0 under a new lineage: it must NOT
    // be mistaken for a replay of the old one (rows legitimately land)
    pipe(Scratch.dir("gsink_chk2"))
    assert(spark.read.format("graft").load(dst).count() == 20)
  }

  test("mergeKeys sink upserts per batch; replays never double-apply") {
    val src = Scratch.dir("gsink_m_src")
    val dst = Scratch.dir("gsink_m_dst")
    val chk = Scratch.dir("gsink_m_chk")
    // batch 1: keys 0-4 v=1x ; batch 2 (later version): keys 3-7 v=2x
    ManifestTable.commit((0L until 5L).map(i => (i, i * 10)).toDF("k", "v"),
      src, 20250801, 900)

    def pipe(): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft")
        .option("path", dst)
        .option("checkpointLocation", chk)
        .option("mergeKeys", "k")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    pipe()
    assert(spark.read.format("graft").load(dst).count() == 5)

    ManifestTable.appendRetrying((3L until 8L).map(i => (i, i * 100)).toDF("k", "v"),
      src, 20250801, 1000)
    pipe()
    val rows = spark.read.format("graft").load(dst)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == 8) // upsert, not append: keys stay unique
    assert(rows(2L) == 20L)   // untouched
    assert(rows(3L) == 300L)  // overwritten by batch 2
    assert(rows(7L) == 700L)  // inserted

    pipe() // quiet source + same lineage: nothing double-applies
    assert(spark.read.format("graft").load(dst).count() == 8)
  }

  test("X180: merge sink commits CoW — untouched files carry by reference, deleteCol removes keys") {
    val src = Scratch.dir("gsink_cow_src")
    val dst = Scratch.dir("gsink_cow_dst")
    val chk = Scratch.dir("gsink_cow_chk")
    def pipe(): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft")
        .option("path", dst)
        .option("checkpointLocation", chk)
        .option("mergeKeys", "k")
        .option("deleteCol", "del")
        .option("statsCols", "k")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // batch 1: 100 keys, one pre-flagged delete (a delete for a key the
    // table never held must not insert)
    ManifestTable.commit(
      (0L until 100L).map(i => (i, i * 10, i == 99L)).toDF("k", "v", "del"),
      src, 20250801, 900)
    pipe()
    val t1 = spark.read.format("graft").load(dst)
    assert(t1.count() == 99)
    assert(!t1.columns.contains("del"), "the CDC flag is metadata, not data")
    val v1files = ManifestTable.snapshots(spark, dst).last.files
    assert(v1files.size > 1, "several files so retention is observable")

    // batch 2: update k=5, delete k=7, insert k=200
    ManifestTable.appendRetrying(
      Seq((5L, 555L, false), (7L, 0L, true), (200L, 2000L, false))
        .toDF("k", "v", "del"), src, 20250801, 1000)
    pipe()
    val rows = spark.read.format("graft").load(dst)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == 99) // 99 - 1 deleted + 1 inserted
    assert(rows(5L) == 555L)
    assert(!rows.contains(7L))
    assert(rows(200L) == 2000L)
    // copy-on-write, not rewrite: untouched batch-1 files carry by name
    val snap2 = ManifestTable.snapshots(spark, dst).last
    val carried = snap2.files.toSet.intersect(v1files.toSet)
    assert(carried.nonEmpty,
      s"expected untouched files retained by reference, got ${snap2.files}")

    pipe() // quiet source + same lineage: nothing double-applies
    assert(ManifestTable.snapshots(spark, dst).last.version == snap2.version)
  }

  test("statsCols sink keeps the streamed table prunable") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val src = Scratch.dir("gsink_st_src")
    val dst = Scratch.dir("gsink_st_dst")
    val chk = Scratch.dir("gsink_st_chk")
    // 4 source versions with disjoint key ranges, piped one at a time ->
    // 4 sink batch versions, each carrying its own zone maps
    def pipe(): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft")
        .option("path", dst)
        .option("checkpointLocation", chk)
        .option("statsCols", "k")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    (0 until 4).foreach { b =>
      if (b == 0)
        ManifestTable.commit((0L until 200L).map(i => (i, i)).toDF("k", "v"),
          src, 20250801, 900)
      else ManifestTable.appendRetrying(
        (b * 200L until (b + 1) * 200L).map(i => (i, i)).toDF("k", "v"),
        src, 20250801, 900 + b)
      pipe()
    }
    assert(spark.read.format("graft").load(dst).count() == 800)

    val df = spark.read.format("graft").load(dst).where($"k".between(450, 520))
    df.collect()
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: FileSourceScanExec => f }.get
    val total = ManifestTable.snapshots(spark, dst).last.files.size
    assert(total >= 2) // several batch versions landed
    assert(scan.metrics("numFiles").value < total) // and they skip
    assert(df.count() == 71)
  }

  test("sink refuses Complete mode, Update without mergeKeys, and partitionBy") {
    import org.apache.spark.sql.streaming.OutputMode
    val ds = new GraftDataSource
    val params = Map("path" -> Scratch.dir("gsink_mode"))
    // Complete re-emits cumulative state every trigger: appending it
    // multiplies rows, so the sink must refuse rather than silently append
    val e1 = intercept[IllegalArgumentException](
      ds.createSink(spark.sqlContext, params, Nil, OutputMode.Complete()))
    assert(e1.getMessage.contains("not supported"))
    // Update is only well-defined when keys pin which rows changed
    val e2 = intercept[IllegalArgumentException](
      ds.createSink(spark.sqlContext, params, Nil, OutputMode.Update()))
    assert(e2.getMessage.contains("mergeKeys"))
    ds.createSink(spark.sqlContext, params + ("mergeKeys" -> "k"), Nil,
      OutputMode.Update()) // keyed Update is the canned upsert: allowed
    val e3 = intercept[IllegalArgumentException](
      ds.createSink(spark.sqlContext, params, Seq("day"), OutputMode.Append()))
    assert(e3.getMessage.contains("partitionBy"))
  }

  test("merge sink losing a commit race re-merges — the winner's rows survive") {
    // Two keyed writers race the same table. The loser's pre-race merge
    // was computed against a latest the winner has since replaced;
    // re-committing it would silently erase the winner's rows (lost
    // update). The retry loop must recompute the merge against the NEW
    // latest. Barrier-synced so both read the same parent version.
    val dst = Scratch.dir("gsink_race")
    ManifestTable.commit((0L until 5L).map(i => (i, i)).toDF("k", "v"),
      dst, 20250801, 900)
    // poll-with-deadline (round-9/10 finding): dedicated threads (no
    // ForkJoin common-pool starvation under parallel suites — the cause
    // of the old 30 s barrier flake) + a release latch the test thread
    // controls, polled every 50 ms. A dead or wedged writer fails the
    // test within one poll tick / the deadline, instead of sleeping out
    // a fixed 180/300 s barrier+get worst case.
    val ready = new java.util.concurrent.CountDownLatch(2)
    val go = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(name: String, key: Long): Thread = {
      val t = new Thread(() => {
        try {
          val sink = new GraftSink.StreamSink(spark, dst, appId = name,
            mergeKeys = Seq("k"))
          ready.countDown()
          require(go.await(60, java.util.concurrent.TimeUnit.SECONDS),
            s"$name: never released")
          sink.addBatch(0L, Seq((key, key * 100)).toDF("k", "v"))
        } catch { case e: Throwable => errs.add(e) }
      }, s"gsink-race-$name")
      t.setDaemon(true)
      t.start()
      t
    }
    val ta = writer("wa", 100L)
    val tb = writer("wb", 200L)
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    def pollUntil(cond: => Boolean, what: String): Unit =
      while (!cond) {
        assert(errs.isEmpty, s"writer failed: ${errs.peek()}")
        assert(System.nanoTime() < deadline, s"deadline expired waiting for $what")
        Thread.sleep(50)
      }
    pollUntil(ready.getCount == 0, "both writers ready")
    go.countDown() // both sinks read the same parent version, then race
    pollUntil(!ta.isAlive && !tb.isAlive, "writers to finish")
    assert(errs.isEmpty, s"writer failed: ${errs.peek()}")
    val rows = spark.read.format("graft").load(dst)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == 7, s"lost update: $rows") // 5 seed + both writers
    assert(rows(100L) == 10000L && rows(200L) == 20000L)
  }

  test("X214 autoCompact: fires at the threshold, no-ops below it and after folding") {
    val dir = Scratch.dir("sink_autoc")
    def app(lo: Long, t: String): Unit =
      spark.range(lo, lo + 5).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
        .coalesce(1).write.format("graft").mode(SaveMode.Append)
        .option("runDate", "20250901").option("runTime", t).save(dir)
    spark.range(0, 5).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
      .coalesce(1).write.format("graft").mode(SaveMode.Overwrite).save(dir)
    graft.spark.GraftDml.extSession(spark).sql(
      s"ALTER TABLE '$dir' SET TBLPROPERTIES ('graft.autoCompact' = 'true', " +
        "'graft.autoCompact.minFiles' = '3')")
    app(10, "901") // 2 files: below threshold, nothing fires
    assert(ManifestTable.snapshots(spark, dir).count(_.op == "optimize") === 0)
    app(20, "902") // 3 files: threshold trips, one optimize commit
    val snaps = ManifestTable.snapshots(spark, dir)
    assert(snaps.count(_.op == "optimize") === 1)
    assert(snaps.last.files.size === 1, "debt not folded")
    // folded table + one more small write: below threshold again
    app(30, "903")
    assert(ManifestTable.snapshots(spark, dir).count(_.op == "optimize") === 1,
      "autoCompact churned after folding")
    // content survives every fold
    assert(spark.read.format("graft").load(dir).count() === 20)
    // without the property, debt accumulates silently (opt-in contract)
    val plain = Scratch.dir("sink_autoc_plain")
    (0 to 4).foreach(i => spark.range(i * 5L, i * 5L + 5)
      .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").coalesce(1)
      .write.format("graft").mode(SaveMode.Append).save(plain))
    assert(ManifestTable.snapshots(spark, plain).count(_.op == "optimize") === 0)
  }

  test("X214 autoCompact: a compaction that loses its race is a no-op, and the next write compacts") {
    val dir = Scratch.dir("sink_autoc_lose")
    def app(lo: Long, t: String): Unit =
      spark.range(lo, lo + 5).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
        .coalesce(1).write.format("graft").mode(SaveMode.Append)
        .option("runDate", "20250901").option("runTime", t).save(dir)
    spark.range(0, 5).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
      .coalesce(1).write.format("graft").mode(SaveMode.Overwrite).save(dir)
    app(10, "901")
    app(20, "902") // 3 files of debt
    graft.spark.GraftDml.extSession(spark).sql(
      s"ALTER TABLE '$dir' SET TBLPROPERTIES ('graft.autoCompact' = 'true', " +
        "'graft.autoCompact.minFiles' = '3')")
    // the write it follows has landed: a concurrent commit taking the
    // compaction's version must not fail it, or a caller's retry of the
    // write would append its rows twice
    graft.lake.InterloperCommit.losing(spark, dir)(
      GraftDataSource.autoCompact(spark, dir,
        graft.lake.Properties.active(spark, dir), 20250901, 903))
    val snaps = ManifestTable.snapshots(spark, dir)
    assert(snaps.count(_.op == "optimize") === 0)
    assert(snaps.last.files.size === 3)
    assert(spark.read.format("graft").load(dir).count() === 15)
    app(30, "904") // the next write compacts
    val after = ManifestTable.snapshots(spark, dir)
    assert(after.count(_.op == "optimize") === 1 && after.last.files.size === 1)
    assert(spark.read.format("graft").load(dir).select("k").as[Long].collect().sorted.toSeq ===
      Seq(0L, 10L, 20L, 30L).flatMap(lo => lo until lo + 5))
  }

  test("X216 WRITE ORDERED BY: appends range-cluster + record stats; band reads prune; refusals") {
    val dir = Scratch.dir("sink_worder")
    // v1: unordered, no stats — must stay in scope forever
    spark.range(0, 100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
      .coalesce(1).write.format("graft").mode(SaveMode.Overwrite).save(dir)
    graft.spark.GraftDml.extSession(spark).sql(
      s"ALTER TABLE '$dir' WRITE ORDERED BY (k) AT 20250901 910")
    graft.spark.GraftDml.extSession(spark).sql(
      s"ALTER TABLE '$dir' SET TBLPROPERTIES " +
        "('graft.writeOrder.partitions' = '4') AT 20250901 911")
    // the order is a visible table property
    assert(graft.lake.Properties.active(spark, dir)
      .get("graft.writeOrder").contains("k"))
    // ordered append: 4 range partitions → 4 files with disjoint k ranges
    spark.range(100, 500).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
      .repartition(4).write.format("graft").mode(SaveMode.Append)
      .option("runDate", "20250901").option("runTime", "920").save(dir)
    val latest = ManifestTable.latestVersion(spark, dir).get
    // a band inside the ordered range keeps v1's stat-less file (no
    // evidence) plus ONLY the intersecting ordered file(s)
    val cand = graft.lake.ZoneMap.candidateFiles(spark, dir, latest, "k", 150, 160)
    val all = ManifestTable.snapshots(spark, dir).last.files
    assert(cand.size < all.size, s"no pruning: $cand of $all")
    // content through the pruned read is the plain filter
    assert(graft.lake.ZoneMap.readRange(spark, dir, latest, "k", 150, 160)
      .count() === 11)
    assert(spark.read.format("graft").load(dir).count() === 500)
    // a batch missing the ordered column refuses (schema gate fires first
    // for drifted appends; the WriteOrder gate covers the logical miss)
    val e = intercept[Exception] {
      spark.range(0, 3).selectExpr("id AS wrong", "CAST(id AS DOUBLE) AS v")
        .write.format("graft").mode(SaveMode.Append)
        .option("allowSchemaDrift", "true").save(dir)
    }
    assert(e.getMessage.contains("writeOrder") ||
      e.getMessage.contains("not in the batch"), e.getMessage)
  }
}
