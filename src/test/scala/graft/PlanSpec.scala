package graft

/** Physical-plan pins: the scale claims made in Scaladoc are asserted
  * against `explain` output so a regression in plan shape fails CI, not a
  * 100 TB run (VERDICT r1 item 10).
  */
class PlanSpec extends SparkSpec {

  /** Execute first: with AQE the pre-execution plan is a placeholder — only
    * the final adaptive plan shows the operators actually run.
    */
  private def planOf(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q_snapshot_diff is one full-outer join: each input shuffles exactly once (SMJ regime)") {
    // The scale claim (SnapshotDiff Scaladoc): the diff is a single
    // full-outer join, so with broadcasting off each snapshot shuffles
    // once — not twice as the literal two-anti-join formulation would.
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold").map(k => k -> conf.get(k, "10485760b"))
    try {
      saved.foreach { case (k, _) => conf.set(k, "-1") }
      val df = SparkEntry.queries("q_snapshot_diff")(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") && plan.contains("FullOuter"), plan.take(600))
      // two hashpartitioning exchanges (one per input); the only other
      // exchange is the final ORDER BY's rangepartitioning
      // AQE's toString appends an "== Initial Plan ==" section — count
      // shuffles only in the final plan actually executed
      val finalPlan = plan.split("== Initial Plan ==").head
      val shuffles = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
      assert(shuffles == 2, s"expected 2 input shuffles, saw $shuffles in:\n$finalPlan")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("q_topk compiles to TakeOrderedAndProject, not a global sort") {
    val plan = planOf("q_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan.linesIterator.take(5).mkString("\n"))
  }

  test("q_gender_join whole-stage codegens its dictionary lookup, with no join") {
    val plan = planOf("q_gender_join")
    // executedPlan prints whole-stage-codegen spans as "*(id)" prefixes
    assert(plan.contains("*("), "no WholeStageCodegen span in plan")
    assert(!plan.contains("Join") && !plan.contains("BroadcastExchange"),
      "the dictionary is a lookup expression, neither joined nor broadcast")
  }

  test("projection prunes the parquet scan to the selected columns") {
    val plan = planOf("q_project")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema"))
    assert(readSchema.isDefined, "no ReadSchema in scan")
    assert(readSchema.get.contains("c_custkey") && readSchema.get.contains("c_name"))
    assert(!readSchema.get.contains("c_acctbal"), s"unpruned scan: ${readSchema.get}")
  }

  test("non-empty filter pushes IsNotNull down to the parquet scan") {
    val plan = planOf("q_filter_nonempty")
    assert(plan.contains("PushedFilters: [IsNotNull(p_name)"),
      plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("dedup/similarity joins never degenerate to cartesian products") {
    Seq("q_dedup_minhash", "q_dedup_simhash", "q_dedup_ngram_jaccard",
      "q_dedup_embedding", "q_sim_lsh").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q has a cartesian product")
    }
  }

  test("exact top-k similarity broadcasts the query side") {
    assert(planOf("q_sim_topk").contains("BroadcastNestedLoopJoin") ||
      planOf("q_sim_topk").contains("BroadcastHashJoin"))
  }

  test("grouped aggregate is partial (map-side combine) before the shuffle") {
    val plan = planOf("q_group_agg")
    // two HashAggregate nodes around one Exchange = partial + final
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(500))
    assert(plan.contains("Exchange hashpartitioning"))
  }

  test("q_range_join is a bin equi-join, never a nested-loop/cartesian scan") {
    val plan = planOf("q_range_join")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "range join degenerated to BNLJ — binning not applied")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("__bin"), "bin key missing from the join")
  }

  test("q_heavy_hitters exact tier: total from the grouped rollup, no global window, no extra pass") {
    // VERDICT r2 item 3 + r8's X62 rule, reconciled: the total token
    // count must come from the GROUPED table (never a driver-side
    // toks.count() baking a literal), and must NOT ride an empty-window
    // WindowExec (which single-partitions the vocabulary-sized count
    // table). The rollup's grand-total row satisfies both: one
    // aggregate pass (Expand), the total broadcast back as a scalar.
    val df = SparkEntry.queries("q_heavy_hitters")(spark, sf)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!finalPlan.contains("Window"),
      "global window over the vocab-sized table — the X62 single-partition hazard")
    assert(finalPlan.contains("Expand"),
      "total must come from the rollup's grand-total row, not a driver count()")
    assert("BroadcastNestedLoopJoin|CartesianProduct".r
        .findAllIn(finalPlan).nonEmpty,
      "total must broadcast back onto the vocab filter as a scalar")
    val scans = math.max("FileScan".r.findAllIn(finalPlan).size,
      "BatchScan".r.findAllIn(finalPlan).size)
    assert(scans <= 3, s"expected ≤3 scans (shared rollup + sketch tier), saw $scans")
  }

  test("q_bloom_join pre-filters the fact side with might_contain before the exact join") {
    val plan = planOf("q_bloom_join")
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("might_contain"),
      "bloom pre-filter missing — fact rows would all reach the join")
  }

  test("q_merge_upsert is one full-outer join — each input shuffles at most once") {
    val plan = planOf("q_merge_upsert")
    val finalPlan = plan.split("== Initial Plan ==").head
    val joins = "SortMergeJoin".r.findAllIn(finalPlan).size +
      "BroadcastHashJoin".r.findAllIn(finalPlan).size +
      "ShuffledHashJoin".r.findAllIn(finalPlan).size
    assert(joins == 1, s"expected exactly 1 join, saw $joins")
    assert(finalPlan.contains("FullOuter"), "merge must be a full-outer join")
  }

  test("q_profile reads the table exactly once for all columns' statistics") {
    val df = SparkEntry.queries("q_profile")(spark, sf)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val scans = math.max("FileScan".r.findAllIn(finalPlan).size,
      "BatchScan".r.findAllIn(finalPlan).size)
    assert(scans == 1, s"profile must be one pass, saw $scans scans")
  }

  test("q_split_assign computes buckets per-row: no shuffle before the aggregation") {
    val df = SparkEntry.queries("q_split_assign")(spark, sf)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // plan prints root-first, scan last: everything BELOW the deepest
    // HashAggregate (between it and the scan) must be shuffle-free — the
    // md5-bucket assignment is per-row work
    val belowDeepestAgg = finalPlan.substring(finalPlan.lastIndexOf("HashAggregate"))
    assert(!belowDeepestAgg.contains("Exchange"),
      s"assignment shuffled before aggregating:\n$belowDeepestAgg")
    assert("HashAggregate".r.findAllIn(finalPlan).size >= 2,
      "split counts must partial-aggregate map-side")
  }

  test("q_cohort_retention final aggregate is a plain count — no distinct expansion") {
    // VERDICT r3 item 1: the joined input is already distinct per
    // (user_id, week) with the cohort week functionally dependent on
    // user_id, so the final agg must be count(1), not countDistinct —
    // no Expand node and no extra aggregate level for distinct dedup.
    val plan = planOf("q_cohort_retention").split("== Initial Plan ==").head
    assert(!plan.contains("Expand"), "distinct expansion present in final agg")
    assert(!plan.toLowerCase.contains("distinct_"),
      "distinct aggregate buffer present — final count must be plain")
  }

  test("q_k_anonymity never joins: the whole ladder is aggregates over one corpus read") {
    // The scale claim (Anonymity Scaladoc): level-1/2 rungs roll up the
    // CLASS table, never re-join rows — so the plan has zero join nodes
    // of any kind, just aggregates + union.
    val plan = planOf("q_k_anonymity").split("== Initial Plan ==").head
    assert(!plan.contains("Join"), s"ladder plan contains a join:\n${plan.take(800)}")
  }

  test("q_source_overlap totals ride broadcasts, never a sort-merge join") {
    // The scale claim (Mixture Scaladoc): pair rows join the |sources|-row
    // totals via broadcast; a SMJ here would shuffle the pair table twice.
    val plan = planOf("q_source_overlap").split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
    assert(!plan.contains("SortMergeJoin"),
      s"totals join fell back to SMJ:\n${plan.take(800)}")
  }

  test("q_budget_select stays bucket-parallel: no single-partition exchange anywhere") {
    // The scale claim (Selection Scaladoc): the global running total rides
    // the bucketed prefix-sum machinery, never `sum() OVER (ORDER BY …)`.
    val plan = planOf("q_budget_select").split("== Initial Plan ==").head
    assert(!plan.contains("SinglePartition"),
      s"budget cut collapsed to one partition:\n${plan.take(800)}")
  }

  test("snapshotAt prunes partitions in the lake layout") {
    import java.nio.file.Files
    import graft.lake.Layout
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val root = Files.createTempDirectory("graft_planspec").toFile.getAbsolutePath
    val ref = Layout.TableRef(root, Layout.usageLayer, "apify", "t")
    Seq(900, 1000).foreach(h =>
      Layout.writeSnapshot(Seq((1L, "x")).toDF("id", "v"), ref, 20250301, h))
    val plan = Layout.snapshotAt(spark, ref, 20250301, 1000)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
  }
}
