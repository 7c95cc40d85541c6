package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{SqlFunctions, VectorOps}

class DedupSpec extends SparkSpec {

  private def pairs(q: String): Set[(Long, Long)] =
    Dedup.queries(q)(spark, sf)
      .select("ia", "ib").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("exact dedup collapses planted normalized copies, nothing else") {
    val out = Dedup.queries("q_dedup_doc_exact")(spark, sf).collect()
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(out.length == nDocs) // every planted copy collapsed into its source group
    val byCopies = out.groupBy(_.getAs[Long]("n_copies"))
    assert(byCopies(2L).length == (0L until nDocs by 10).size)
    assert(byCopies(1L).length == nDocs - byCopies(2L).length)
    // survivors are always the original (smaller) doc_id
    assert(out.forall(_.getAs[Long]("keep_id") < 1000000))
  }

  test("prefix-filtered jaccard join ≡ brute force") {
    val sh = Dedup.docShingles(spark, sf).where(size(col("sh")) > 0)
    val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"),
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("long").as("shared"),
        size(col("a.sh")).cast("long").as("na"), size(col("b.sh")).cast("long").as("nb"))
      .where(col("shared") * 5 >= (col("na") + col("nb") - col("shared")) * 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs("q_dedup_ngram_jaccard")
    assert(got == brute, s"prefix filter broke semantics: missing=${brute -- got} extra=${got -- brute}")
  }

  test("minhash LSH recovers every exact-jaccard pair (recall = 1)") {
    val exact = pairs("q_dedup_ngram_jaccard")
    val mh = pairs("q_dedup_minhash")
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(exact.subsetOf(mh),
      s"missing from minhash: ${exact -- mh}")
  }

  test("minhash estimate tracks exact jaccard on reported pairs") {
    val rows = Dedup.queries("q_dedup_minhash")(spark, sf).collect()
    assert(rows.nonEmpty)
    // the oracle writes `true AS est_ok`; any pair where the 32-slot
    // signature estimate strays more than 250‰ from the exact jaccard
    // would flip it (and hash-fail the correctness gate) — pin it here
    // too so the failure has a name
    rows.foreach { r =>
      assert(r.getAs[Boolean]("est_ok"),
        s"estimate bound violated on $r")
      assert(r.getAs[Long]("jac_permille") >= 500)
    }
  }

  test("simhash: chunk LSH finds every hamming≤3 pair; reports none above 8") {
    // ground truth by brute force over the 60-bit signatures
    val sig = Dedup.simhashSigs(spark, sf)
    val brute = sig.as("a").join(sig.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long").as("hamming"))
      .collect()
    val within3 = brute.filter(_.getAs[Long]("hamming") <= 3)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val within8 = brute.filter(_.getAs[Long]("hamming") <= 8)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs("q_dedup_simhash")
    // pigeonhole: ≤3 flipped bits leave one of the 4 15-bit chunks intact
    assert(within3.subsetOf(got), s"guarantee violated: ${within3 -- got}")
    assert(got.subsetOf(within8), s"over-reported: ${got -- within8}")
  }

  test("embedding near-dup finds exactly the planted scaled copies (recall = 1)") {
    val out = Dedup.queries("q_dedup_embedding")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("ib") == r.getAs[Long]("ia") + 1000000)
      assert(math.abs(r.getAs[Double]("cos6") - 1.0) < 1e-6)
    }
    // every planted copy must be recovered — identical sign patterns mean
    // the LSH bucketing can never drop a scaled copy
    val planted = graft.sources.Tables.embeddings(spark, sf)
      .where(col("vec_id") % 25 === 0)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val got = out.map(_.getAs[Long]("ia")).toSet
    assert(got == planted, s"missed planted copies: ${planted -- got}")
  }

  test("embedding near-dup plan is LSH-bucketed, not a cartesian product") {
    val plan = Dedup.queries("q_dedup_embedding")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "embedding dedup regressed to an all-pairs crossJoin")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "embedding dedup joining without the bucket equi-key")
  }

  test("vec_cosine expression: identity, scale-invariance, orthogonality") {
    import spark.implicits._
    val df = Seq(
      (Array(1f, 0f, 0f), Array(1f, 0f, 0f), 1.0),
      (Array(1f, 2f, 3f), Array(2f, 4f, 6f), 1.0),
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f), 0.0),
      (Array(1f, 1f, 0f), Array(1f, -1f, 0f), 0.0),
    ).toDF("a", "b", "expected")
    df.withColumn("cos", VectorOps.cosine(col("a"), col("b")))
      .collect().foreach { r =>
        assert(math.abs(r.getAs[Double]("cos") - r.getAs[Double]("expected")) < 1e-12)
      }
  }

  test("vec_cosine matches the higher-order-function formulation on fixture data") {
    val e = graft.sources.Tables.embeddings(spark, sf).limit(50)
    val both = e.as("a").crossJoin(e.as("b"))
      .select(
        VectorOps.cosine(col("a.embedding"), col("b.embedding")).as("native"),
        (aggregate(zip_with(col("a.embedding").cast("array<double>"),
            col("b.embedding").cast("array<double>"), (x, y) => x * y),
          lit(0.0), (acc, v) => acc + v) /
          sqrt(aggregate(transform(col("a.embedding").cast("array<double>"), x => x * x),
            lit(0.0), (acc, v) => acc + v) *
            aggregate(transform(col("b.embedding").cast("array<double>"), x => x * x),
              lit(0.0), (acc, v) => acc + v))).as("hof"))
      .collect()
    both.foreach(r =>
      assert(math.abs(r.getAs[Double]("native") - r.getAs[Double]("hof")) < 1e-12))
  }

  test("vec_cosine is callable from SQL after registration") {
    SqlFunctions.registerAll(spark)
    val got = spark.sql("SELECT vec_cosine(array(1.0f, 2.0f), array(2.0f, 4.0f)) AS c")
      .head().getDouble(0)
    assert(math.abs(got - 1.0) < 1e-12)
  }

  test("X104 span dedup: only globally repeated spans drop, order survives") {
    import spark.implicits._
    val bp = (1 to 5).map(i => s"b$i").mkString(" ") // one 5-word span
    def uniq(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (1L, s"$bp ${uniq("x", 5)}"),        // bp + unique span
      (2L, s"${uniq("y", 5)} $bp"),        // bp in SECOND position
      (3L, s"$bp ${uniq("z", 7)}"),        // bp + unique + short tail span
      (4L, uniq("w", 8)),                  // no bp: 5-word + 3-word spans
      (5L, bp)                             // all boilerplate: disappears
    ).toDF("doc_id", "text")
    val got = Dedup.spanDedup(docs, spanWords = 5, minRepeats = 3)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, uniq("x", 5)),
      (2L, uniq("y", 5)),
      (3L, s"${uniq("z", 5)} z6 z7"),
      (4L, uniq("w", 8))), s"got $got")
    // below the repeat threshold nothing drops
    val loose = Dedup.spanDedup(docs, spanWords = 5, minRepeats = 5)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(loose.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L) &&
      loose.forall { case (i, t) =>
        t == docs.where(col("doc_id") === i).head().getString(1) })
  }

  test("X154 substring matches: diagonal islands recover exact run lengths and counts") {
    import spark.implicits._
    // shared run "c1..c6" (6 tokens) at different offsets; minTokens=4 →
    // 3 windows on one diagonal → longest_run = 3 + 4 - 1 = 6. Doc 3
    // shares the run TWICE (two diagonals → two runs). Doc 4: no overlap.
    val run = (1 to 6).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 $run a3"),
      (2L, s"b1 $run b2 b3 b4"),
      (3L, s"$run x1 x2 $run"),
      (4L, "d1 d2 d3 d4 d5 d6 d7 d8")
    ).toDF("doc_id", "text")
    val got = Dedup.substringMatches(docs, minTokens = 4)
      .orderBy("ia", "ib")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // pair (1,2): one 6-token run = 3 windows, 1 run
    // pair (1,3): doc3 has the run at two offsets → vs doc1's one: 2 runs,
    //             6 windows, longest 6; same for (2,3)
    // pair (3,3) impossible (ia<ib); doc3's internal repeat is not a pair
    assert(got == Seq(
      (1L, 2L, 3L, 1L, 6L),
      (1L, 3L, 6L, 2L, 6L),
      (2L, 3L, 6L, 2L, 6L)), s"got $got")
  }

  test("X154 substring matches: the document-frequency cap drops boilerplate windows, not true pairs") {
    import spark.implicits._
    // a trailing 4-token banner in EVERY doc (its pure window has df = 6
    // > cap) + a true 5-token run shared by docs 1 and 2 only (df = 2);
    // bodies are otherwise unique, so banner-junction windows are too
    val run = (1 to 5).map(i => s"r$i").mkString(" ")
    val banner = "cookie notice accept all"
    val docs = (Seq(
      (1L, s"$run q1 q2 q3 $banner"),
      (2L, s"z1 z2 $run $banner")) ++
      (3L to 6L).map(i => (i, (1 to 5).map(j => s"u${i}x$j").mkString(" ") + s" $banner")))
      .toDF("doc_id", "text")
    val capped = Dedup.substringMatches(docs, minTokens = 4, maxDocFreq = 5)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // without the cap every doc pair would match on the banner (15 pairs);
    // with it only the true run pair survives — docs 1/2, 2 windows of
    // the 5-token run on one diagonal
    assert(capped == Seq((1L, 2L, 2L, 1L, 5L)), s"got $capped")
    // a generous cap keeps the banner pairs: all C(6,2) pairs appear
    val loose = Dedup.substringMatches(docs, minTokens = 4, maxDocFreq = 100)
    assert(loose.count() == 15L)
    // plan pin (round-6 verdict): the df cap must NOT be a window over fp
    // — a hyper-hot fingerprint would funnel every occurrence into one
    // task's window buffer before the filter drops it. The only windows
    // in the plan are the per-doc lead() and the diagonal-island run.
    val plan = Dedup.substringMatches(docs, minTokens = 4, maxDocFreq = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.linesIterator.exists(l =>
        l.contains("Window") && l.contains("fp#")),
      s"df cap must use groupBy+anti-join, not a window over fp:\n$plan")
  }

  test("X153 per-source boilerplate: fraction is per-site; globally popular spans survive") {
    import spark.implicits._
    def uniq(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val nav = "home about contact login"  // 4-word spans
    val promo = "buy our great stuff"
    // site A: 4 docs, nav on 3 of them (75% ≥ 50% AND ≥3 docs → boilerplate)
    // site B: 4 docs, promo on 2 (50% but only 2 docs < minDocs → kept)
    //         nav on 1 (25% → kept: A's boilerplate must not leak into B)
    val docs = Seq(
      (1L, "A", s"$nav ${uniq("a", 4)}"),
      (2L, "A", s"$nav ${uniq("b", 4)}"),
      (3L, "A", s"$nav ${uniq("c", 4)}"),
      (4L, "A", uniq("d", 4)),
      (5L, "B", s"$promo ${uniq("e", 4)}"),
      (6L, "B", s"$promo ${uniq("f", 4)}"),
      (7L, "B", s"$nav ${uniq("g", 4)}"),
      (8L, "B", uniq("h", 4))
    ).toDF("doc_id", "source", "text")
    val got = Dedup.sourceBoilerplate(docs, spanWords = 4,
        minPermille = 500, minDocs = 3)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, uniq("a", 4)), (2L, uniq("b", 4)), (3L, uniq("c", 4)),
      (4L, uniq("d", 4)),
      (5L, s"$promo ${uniq("e", 4)}"), (6L, s"$promo ${uniq("f", 4)}"),
      (7L, s"$nav ${uniq("g", 4)}"), (8L, uniq("h", 4))), s"got $got")
  }
}
