package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch profiler (dev-only, not part of the API). */
object Probe {
  def main(args: Array[String]): Unit = {
    val d = Harness.sfDir
    val s = Harness.session()
    def t(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"PROBE $tag%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }
    if (args.contains("flagship")) {
      // the driver's smoke: SparkEntry.entry rows must be > 0. A main, not
      // sbt console — the REPL's classloader trips scala-reflect on
      // "Prohibited package name: java.sql" when Spark sits on the
      // unmanaged classpath, so the package boundary is driven forked.
      println(s"FLAGSHIP rows=${SparkEntry.entry(s).count()}")
      return
    }
    if (args.contains("names-count")) {
      // dictionary-breadth ledger: distinct served keys (incl. folded
      // aliases) and raw entries, for BASELINE's gender-tranche rows
      println(s"NAMES entries=${graft.ml.NamesDict.entries.size} " +
        s"served=${graft.ml.NamesDict.resolvedEntries.size}")
      return
    }
    t("warmup count")(sources.Tables.documents(s, d).count())
    if (args.contains("scale-sweep")) {
      // replicate the documents corpus with perturbed ids/texts and time
      // the dedup family at growing scale — the empirical check that the
      // bucketed/prefix-filtered plans grow ~linearly in corpus size
      // (modulo genuine near-dup pair growth inside the planted cluster)
      Seq(1, 4, 10).foreach { mult =>
        val dir = util.Scratch.dir(s"sweep$mult")
        val base = sources.Tables.documents(s, d)
        (0 until mult).map(i => base
            .withColumn("doc_id", col("doc_id") + i * 1000000L)
            .withColumn("text", concat(col("text"), lit(s" v$i"))))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        Seq("q_dedup_doc_exact", "q_dedup_minhash", "q_dedup_ngram_jaccard",
          "q_dedup_simhash").foreach { q =>
          t(s"${q}@${mult}x")(SparkEntry.queries(q)(s, dir).count())
        }
      }
    }
    if (args.contains("recall-sweep")) {
      // recall@k of the ANN tiers vs brute force at growing corpus scale —
      // the quantitative evidence behind the no-oracle q_sim_lsh/q_sim_ivf
      // rows (VERDICT r2 item 8). Replicas are deterministically perturbed
      // per dimension (scale alone would leave cosine invariant), so each
      // round multiplies the candidate set with near- but not exact
      // duplicates; the query vectors (vec_id < nQueries) stay unperturbed.
      Seq(1, 4, 10).foreach { mult =>
        val dir = util.Scratch.dir(s"rsweep$mult")
        val base = sources.Tables.embeddings(s, d)
        (0 until mult).map(i => base
            .withColumn("vec_id", col("vec_id") + i * 1000000L)
            .withColumn("embedding", transform(col("embedding"), (x, j) =>
              (x + lit(i * 0.02f) *
                sin(j.cast("double") * 0.7 + col("vec_id").cast("double")).cast("float"))
                .cast("float"))))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
        val exact = SparkEntry.queries("q_sim_topk")(s, dir)
          .select("qid", "cand_id").cache()
        val tot = exact.count()
        Seq("q_sim_lsh", "q_sim_ivf", "q_sim_pq", "q_sim_ivfpq",
          "q_sim_hamming").foreach { q =>
          val t0 = System.nanoTime()
          val approx = SparkEntry.queries(q)(s, dir).select("qid", "cand_id")
          val hit = exact.intersect(approx).count()
          println(f"PROBE recall@${ext.Similarity.k} $q%-10s ${mult}%2dx  ${hit.toDouble / tot}%.3f ($hit/$tot)  ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        }
        exact.unpersist()
      }
    }
    if (args.contains("jobs")) {
      // per query (SPARK_GRAFT_QUERIES, else the whole inventory): Spark
      // jobs/stages/tasks of a WARM run — the bench-shaving feedback
      // loop: a 0.4 s query firing 12 jobs is scheduler overhead, not
      // query work. Min-of-3 timed runs, the bench's own noise
      // discipline, so a probe number is comparable to a bench number.
      import java.util.concurrent.atomic.AtomicInteger
      import org.apache.spark.scheduler._
      val (jobs, stages, tasks) = (new AtomicInteger, new AtomicInteger, new AtomicInteger)
      s.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
        override def onStageSubmitted(st: SparkListenerStageSubmitted): Unit =
          stages.incrementAndGet()
        override def onTaskEnd(tk: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
      })
      // events reach the listener asynchronously: drain the bus before
      // resetting or reading the counters
      def drain(): Unit = org.apache.spark.sql.GraftShim.drainListenerBus(s.sparkContext)
      val rows = Harness.selected.flatMap { case (q, fn) =>
        try {
          fn(s, d).count() // fixture build + warm
          val runs = (1 to 3).map { _ =>
            drain(); jobs.set(0); stages.set(0); tasks.set(0)
            val t0 = System.nanoTime()
            fn(s, d).count()
            val sec = (System.nanoTime() - t0) / 1e9
            drain()
            (sec, jobs.get, stages.get, tasks.get)
          }
          val best @ (sec, j, st, tk) = runs.minBy(_._1)
          println(f"JOBS $q%-28s $sec%6.2f s  jobs=$j%3d  stages=$st%3d  tasks=$tk%5d" +
            s"  runs=[${runs.map(r => f"${r._1}%.2f").mkString(",")}]")
          Some(best)
        } catch { case e: Throwable =>
          println(f"JOBS $q%-28s FAILED ${e.toString.take(120)}")
          None
        }
      }
      println(f"JOBS TOTAL sec=${rows.map(_._1).sum}%.2f jobs=${rows.map(_._2).sum} " +
        s"stages=${rows.map(_._3).sum} tasks=${rows.map(_._4).sum}")
    }
    if (args.contains("make-scale")) {
      // make-scale <dstDir> <factor>: key-offset replication of the whole
      // fixture into a larger corpus — the sf×F bench point (VERDICT r3
      // item 3). Fact tables replicate with disjoint key ranges so join
      // fan-out per key stays constant (the honest scale-up: 10× rows,
      // same selectivities); dimension tables (region/nation) stay fixed
      // like TPC-H's. Documents get per-replica word perturbation and
      // embeddings per-replica dimension noise so the near-dup/ANN pair
      // structure replicates instead of exploding quadratically across
      // replicas (a tagged-suffix copy would make every doc a near-dup of
      // its 9 twins, changing the workload's shape, not just its size).
      val ix = args.indexOf("make-scale")
      val (dst, mult) = (args(ix + 1), args(ix + 2).toInt)
      def rep(name: String)(tr: (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame): Unit =
        t(s"make $name x$mult") {
          val base = sources.Tables.table(s, d, name)
          val out = (0 until mult).map(i => tr(base, i)).reduce(_ unionByName _)
          out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
          spark_read_count(s, s"$dst/$name.parquet")
        }
      def spark_read_count(ss: SparkSession, p: String): Long = ss.read.parquet(p).count()
      val M = 1000000L
      Seq("region", "nation").foreach(n => rep(n)((df, i) => if (i == 0) df else df.limit(0)))
      rep("customer")((df, i) => df.withColumn("c_custkey", col("c_custkey") + i * M))
      // Supplier names feed the string-similarity joins (X65 fuzzy, X79
      // Jaro–Winkler); replicating them verbatim would give every name
      // mult−1 identical twins and explode the true-pair count
      // quadratically across replicas — the same workload-shape
      // distortion the document word perturbation exists to prevent.
      // TWO 2-char codes (positions 2-3 keyed by i mod 10, positions 5-6
      // by i div 10, both alphabets injective and identity at i = 0) make
      // ANY two replicas in 0..99 differ in ≥ 2 characters — a single
      // 2-position code is not enough at mult > 10, because replicas
      // sharing one coordinate would differ in just 1 char and land at
      // jw ≈ 0.989 > τ. Two separated substitutions give jw ≤ ~0.94
      // < 0.97 and edit distance ≥ 2 > 1, so cross-replica pairs clear
      // both operators' thresholds while within-replica structure stays
      // identical to the base corpus.
      rep("supplier")((df, i) => df
        .withColumn("s_suppkey", col("s_suppkey") + i * M)
        .withColumn("s_name", regexp_replace(col("s_name"), "^Su..l..r#",
          s"Su${"pabcdfghjk".charAt(i % 10)}${"pbcdfghjkm".charAt(i % 10)}l" +
            s"${"imnoqstvwx".charAt(i / 10 % 10)}${"enoqstvwxy".charAt(i / 10 % 10)}r#")))
      rep("part")((df, i) => df.withColumn("p_partkey", col("p_partkey") + i * M))
      rep("orders")((df, i) => df
        .withColumn("o_orderkey", col("o_orderkey") + i * 10 * M)
        .withColumn("o_custkey", col("o_custkey") + i * M))
      rep("lineitem")((df, i) => df
        .withColumn("l_orderkey", col("l_orderkey") + i * 10 * M)
        .withColumn("l_partkey", col("l_partkey") + i * M)
        .withColumn("l_suppkey", col("l_suppkey") + i * M))
      rep("events")((df, i) => df
        .withColumn("event_id", col("event_id") + i * 100 * M)
        .withColumn("user_id", col("user_id") + i * M))
      rep("documents")((df, i) =>
        (if (i == 0) df else df.withColumn("text",
          // suffix every 3rd word, phase i%3: ~1/3 of shingles change per
          // replica, pushing cross-replica Jaccard below near-dup range
          // while keeping token counts and per-replica dup structure
          array_join(transform(split(col("text"), " "), (w, j) =>
            when(j % 3 === i % 3, concat(w, lit(s"~$i"))).otherwise(w)), " ")))
          .withColumn("doc_id", col("doc_id") + i * M)
          .withColumn("n_chars", length(col("text"))))
      // Per-replica embedding noise must be (a) big enough that a replica
      // is NOT a cos ≥ 0.99 near-dup of its source, and (b) INDEPENDENT
      // across replicas — the previous sinusoidal perturbation stepped
      // its phase by ≈ −0.36 rad per replica, so replica pairs ~17 apart
      // carried near-identical noise and landed back above the dedup
      // threshold (measured: 131000× output growth at 100×). Murmur3 of
      // (vec_id, dim, replica) decorrelates every axis; ±0.35 uniform on
      // N(0,1) components puts source↔replica at cos ≈ 0.98 and
      // replica↔replica at cos ≈ 0.97 — both safely below 0.99, so pair
      // structure replicates instead of exploding.
      rep("embeddings")((df, i) => df
        .withColumn("vec_id", col("vec_id") + i * M)
        .withColumn("embedding",
          if (i == 0) col("embedding")
          else transform(col("embedding"), (x, j) =>
            (x + (pmod(hash(col("vec_id"), j, lit(i)), lit(2001)) - 1000)
              .cast("float") * lit(0.00035f)).cast("float"))))
    }
    if (args.contains("stream-live")) {
      // live-run wall cost of every streaming operator and the composed
      // pipeline replay, with FRESH checkpoint/state per run — the cost
      // the memoized bench read-backs deliberately exclude; published in
      // README so it stays measured instead of argued
      Seq("q_stream_diff", "q_stream_window", "q_stream_dedup",
        "q_stream_join", "q_stream_incr_agg")
        .foreach(q => SparkEntry.queries(q)(s, d).count()) // build inputs once
      def cached(tag: String) = util.FixtureCache.dir(tag, d)(_ =>
        sys.error(s"input fixture $tag not built"))
      def live(tag: String)(body: => Unit): Unit = {
        val t0 = System.nanoTime()
        body
        println(f"PROBE live $tag%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
      val evW = sources.Tables.events(s, d)
        .select("user_id", "event_id", "event_type", "ts", "value")
      val evJ = sources.Tables.events(s, d).select("user_id", "event_id", "ts")
      val evI = sources.Tables.events(s, d).select("event_id", "event_type", "value")
      val prevSchema = lake.SnapshotDiff.synthPrevious(s, d).schema
      live("stream_diff") {
        val b = util.Scratch.dir("live_sdiff")
        streaming.StreamDiff.run(s, cached("stream_in"), s"$b/state", s"$b/out",
          prevSchema, lake.SnapshotDiff.diffKeys)
      }
      live("stream_window") {
        val b = util.Scratch.dir("live_swin")
        streaming.WindowAgg.run(s, cached("swin_in"), s"$b/chk", s"$b/out", evW.schema)
      }
      live("stream_dedup") {
        val b = util.Scratch.dir("live_sdedup")
        streaming.StreamDedup.run(s, cached("sdedup_in"), s"$b/chk", s"$b/out", evW.schema)
      }
      live("stream_join") {
        val b = util.Scratch.dir("live_sjoin")
        val in = cached("sjoin_in")
        streaming.StreamJoin.run(s, s"$in/a", s"$in/b", s"$b/chk", s"$b/out", evJ.schema)
      }
      live("stream_incr_agg") {
        val b = util.Scratch.dir("live_sincr")
        streaming.StreamIncrAgg.run(s, cached("sincr_in"), s"$b/state", s"$b/chk",
          evI.schema, Seq("event_type"), "value")
      }
      live("pipeline_replay") {
        pipeline.PipelineQueries.replayTimeline(s, d)
      }
    }
    if (args.contains("lake-live")) {
      // live-run wall cost of every MEMOIZED lake/ingest fixture build —
      // the writer-side work the bench read-backs deliberately exclude
      // (round-5 memoizations); published in README next to stream-live
      def live(tag: String)(body: => Unit): Unit = {
        val t0 = System.nanoTime()
        body
        println(f"PROBE live $tag%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
      import org.apache.spark.sql.functions._
      live("dv_timeline") {
        lake.DeleteVectors.buildTimeline(s, d, util.Scratch.dir("live_dv"))
      }
      live("incr_agg_timeline") {
        lake.IncrementalAgg.buildTimeline(s, d, util.Scratch.dir("live_incr"))
      }
      live("compact_rewrite") {
        val frag = util.Scratch.dir("live_frag")
        sources.Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
          .repartition(64).write.mode("overwrite").parquet(frag)
        lake.Compact.compact(s, frag, util.Scratch.dir("live_compact"),
          targetBytes = 8L * 1024 * 1024)
      }
      live("format_staging") {
        val o = sources.Tables.orders(s, d).where(col("o_orderkey") % 8 === 0)
        val b = util.Scratch.dir("live_formats")
        o.write.mode("overwrite").option("header", "true").csv(s"$b/csv")
        o.write.mode("overwrite").json(s"$b/jsonl")
        o.write.mode("overwrite").orc(s"$b/orc")
        o.write.mode("overwrite").option("rowTag", "order")
          .format("xml").save(s"$b/xml")
      }
      live("json_landing") {
        sources.Ingest.landFixture(s, d, util.Scratch.dir("live_ingest"))
      }
      live("lm_train") {
        val b = util.Scratch.dir("live_lm")
        ext.LangModel.bigramCounts(sources.Tables.documents(s, d))
          .write.mode("overwrite").parquet(s"$b/t")
      }
      live("ivf_train") {
        val e = sources.Tables.embeddings(s, d).select("vec_id", "embedding")
        ext.Similarity.ivfCentroids(s, e,
          ext.Similarity.adaptiveIvfK(e.count()))
      }
      // round-5 continuation fixtures: the first invocation in a fresh
      // JVM pays the full build (timeline commits, streaming passes,
      // Derby round-trips, repairs) + one read — exactly what the bench
      // read-backs exclude
      Seq("q_column_map", "q_jdbc_incr", "q_read_format", "q_stream_format",
        "q_write_format", "q_stream_sink", "q_restore", "q_copy_into",
        "q_table_repair", "q_identity", "q_cluster_sample",
        "q_binpack", "q_gdpr_delete", "q_commit_guard", "q_json_badrecords",
        "q_append_stats",
        // round-6 continuation fixtures (avro containers, metadata-table
        // commits, incremental-SCD2 init+apply, record-index build,
        // result-cache fills)
        "q_format_avro", "q_format_files", "q_maintenance_plan",
        "q_scd2_incr", "q_record_index", "q_result_cache").foreach { qn =>
        live(qn) { SparkEntry.queries(qn)(s, d).count() }
      }
      live("bpe_vocab") {
        val wf = ext.Bpe.wordFreqDir(s, d)
        ext.Bpe.tokenizedVocab(s.read.parquet(s"$wf/t"), ext.Bpe.Rounds)
          .write.mode("overwrite")
          .parquet(util.Scratch.dir("live_bpe") + "/t")
      }
      live("cluster_members") {
        // q_dedup_apply's memoized input (round 6): near-dup pairs →
        // connected components, both already timed operators of their own
        val edges = SparkEntry.queries("q_dedup_ngram_jaccard")(s, d)
          .select(col("ia").as("a"), col("ib").as("b"))
        ext.Clusters.connectedComponents(s, edges)
          .write.mode("overwrite")
          .parquet(util.Scratch.dir("live_members") + "/t")
      }
    }
    if (args.contains("plans")) {
      // plan-capture mode (round-13 optimization deliverable): write each
      // query's explain("formatted") to plans/<dir>/<query>_<suffix>.txt.
      // collect() first so the AdaptiveSparkPlan is final (AQE-resolved
      // join strategies / coalesced exchanges), matching what actually ran.
      val outDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r13")
      val suffix = sys.env.getOrElse("SPARK_GRAFT_PLANS_SUFFIX", "before")
      new java.io.File(outDir).mkdirs()
      Harness.selected.foreach { case (q, fn) =>
        val df = fn(s, d)
        df.collect()
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${q}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"PLANS wrote $outDir/${q}_$suffix.txt")
      }
      s.stop(); return
    }
    args.filter(SparkEntry.queries.contains).foreach { q =>
      if (args.contains("explain")) {
        val df = SparkEntry.queries(q)(s, d)
        df.collect()
        val plan = df.queryExecution.executedPlan.toString
        println(s"PLAN === $q")
        "ReadSchema: [^\n]*".r.findAllIn(plan).toList
          .foreach(r => println("PLAN   " + r.take(160)))
        println("PLAN   codegen spans: " +
          "\\*\\(\\d+\\)".r.findAllIn(plan).toList.distinct.size)
      } else t(q)(SparkEntry.queries(q)(s, d).count())
    }
    s.stop()
  }
}
