package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins for the X75 change feed's manifest-routed fast path: a step whose
  * versions share a file list must answer from the tombstone delta alone,
  * byte-identical to the full content diff.
  */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir = graft.util.FixtureCache.dir("changefeed_spec", sf) { d =>
    val base = (1L to 40L).map(k => (k, s"v$k", (k % 4).toInt)).toDF("k", "payload", "grp")
      .repartition(4)
    ManifestTable.commit(base, d, 20250701, 900)                         // v1 full
    DeleteVectors.deleteWhere(spark, d, col("k") % 5 === 0, 20250701, 1000) // v2 delete
    DeleteVectors.deleteWhere(spark, d, col("k") % 7 === 3, 20250701, 1100) // v3 delete
    DeleteVectors.deleteWhere(spark, d, col("k") > 999, 20250701, 1150)  // v4 no-op delete
    DeleteVectors.materialize(spark, d, 20250701, 1200)                  // v5 rewrite
  }

  private def fullDiff(v: Int) = SnapshotDiff.diff(
    ManifestTable.readVersion(spark, dir, v + 1),
    ManifestTable.readVersion(spark, dir, v), Seq("k"))

  test("delete-commit steps equal the full content diff exactly") {
    for (v <- Seq(1, 2, 3)) {
      val fast = ChangeFeed.changeFeed(spark, dir, v, v + 1, Seq("k"))
        .select("k", "payload", "grp", "change").as[(Long, String, Int, String)]
        .collect().toSet
      val full = fullDiff(v)
        .select("k", "payload", "grp", "change").as[(Long, String, Int, String)]
        .collect().toSet
      assert(fast == full, s"step $v→${v + 1}")
    }
  }

  test("delete-commit step plans without a full-outer join") {
    val plan = ChangeFeed.changeFeed(spark, dir, 1, 2, Seq("k"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("FullOuter"), s"expected the DV fast path:\n$plan")
  }

  test("a re-read delete-commit step resolves its touched files from the memo: zero jobs") {
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "payload", "grp", "change").as[(Long, String, Int, String)]
        .collect().toSet
    val first = ChangeFeed.changeFeed(spark, dir, 2, 3, Seq("k"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def drain(): Unit = org.apache.spark.sql.GraftShim.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val second = try {
      drain(); jobs.set(0)
      val df = ChangeFeed.changeFeed(spark, dir, 2, 3, Seq("k"))
      drain()
      assert(jobs.get == 0, s"the re-read ran ${jobs.get} tombstone-resolution jobs")
      df
    } finally spark.sparkContext.removeSparkListener(listener)
    val want = rowsOf(first)
    assert(want.nonEmpty && rowsOf(second) == want)
  }

  test("no-op delete step (v3→v4) yields zero rows through the fast path") {
    val step = ChangeFeed.changeFeed(spark, dir, 3, 4, Seq("k"))
    assert(step.count() == 0)
    assert(!step.queryExecution.executedPlan.toString.contains("FullOuter"))
  }

  test("materialize step (v4→v5) skips from manifest op metadata — silent, no join") {
    val step = ChangeFeed.changeFeed(spark, dir, 4, 5, Seq("k"))
    assert(step.count() == 0)
    val plan = step.queryExecution.executedPlan.toString
    assert(!plan.contains("FullOuter"), s"op routing should skip the diff:\n$plan")
  }

  test("an op-less rewrite commit still takes the content diff (absence of metadata never claims equality)") {
    val d2 = graft.util.FixtureCache.dir("changefeed_plain_rewrite", sf) { d =>
      val base = (1L to 10L).map(k => (k, s"v$k")).toDF("k", "payload").repartition(2)
      ManifestTable.commit(base, d, 20250702, 900)
      // identical CONTENT recommitted as a plain write — no contract recorded
      ManifestTable.commit(base, d, 20250702, 1000)
    }
    val step = ChangeFeed.changeFeed(spark, d2, 1, 2, Seq("k"))
    assert(step.count() == 0) // content equal → diff is empty…
    assert(step.queryExecution.executedPlan.toString.contains("FullOuter"),
      "…but it must be PROVEN by the join, not assumed")
  }

  test("narrow CoW update step: feed scans ONLY the touched files, content equals the full diff") {
    // the round-11 verdict's coverage gap: q_table_changes' fixture UPDATE
    // touches every file, so the bench only ever measured the worst case.
    // This pins the O(touched) claim itself: a 2-key update on a
    // range-clustered 8-file table must feed from the one rewritten band
    // (both sides), never the 7 retained-by-reference files.
    val d = graft.util.Scratch.dir("cf_cow_narrow")
    val base = (0L until 200L).map(i => (i, s"n$i")).toDF("k", "payload")
    ZoneMap.commitWithStats(base.repartitionByRange(8, $"k"), d,
      20250701, 900, statsCols = Seq("k"))
    val v1 = ManifestTable.snapshots(spark, d).last
    val ups = Seq((5L, "u5"), (6L, "u6")).toDF("k", "payload")
    val v2 = Merge.upsertCow(spark, d, ups, Seq("k"), 20250701, 1000)
    val s2 = ManifestTable.snapshots(spark, d).last
    assert(v2 == v1.version + 1 &&
      v1.files.toSet.intersect(s2.files.toSet).size >= 7, "CoW precondition")
    val touched = (s2.files.filterNot(v1.files.toSet) ++
      v1.files.filterNot(s2.files.toSet)).toSet
    // updateAware: a changed key must surface as its delete+insert pair
    // (X183's CDC contract — key-presence diff alone cannot see updates)
    val feed = ChangeFeed.changeFeed(spark, d, v1.version, v2, Seq("k"),
      updateAware = true)
    // content: byte-equal to the naive full-version CDC diff
    val got = feed.select("k", "payload", "change")
      .as[(Long, String, String)].collect().toSet
    val want = SnapshotDiff.diffCdc(
      ManifestTable.readVersion(spark, d, v2),
      ManifestTable.readVersion(spark, d, v1.version), Seq("k"))
      .select("k", "payload", "change")
      .as[(Long, String, String)].collect().toSet
    assert(got == want && got.nonEmpty)
    // plan: every scanned file is a touched file — feed cost ∝ the
    // commit's own change, not the table
    val scanned = feed.inputFiles.toSet
    assert(scanned.nonEmpty)
    scanned.foreach { p =>
      assert(touched.exists(p.endsWith), s"feed scanned a retained file: $p")
    }
  }

  test("multi-step backfill across both paths matches per-step diffs") {
    val feed = ChangeFeed.changeFeed(spark, dir, 1, 5, Seq("k"))
      .groupBy("from_version", "change").agg(count(lit(1)).as("n"))
      .as[(Int, String, Long)].collect().toSet
    val expected = (1 to 4).flatMap { v =>
      fullDiff(v).groupBy(lit(v).as("from_version"), col("change"))
        .agg(count(lit(1)).as("n")).as[(Int, String, Long)].collect()
    }.toSet
    assert(feed == expected)
  }
}
