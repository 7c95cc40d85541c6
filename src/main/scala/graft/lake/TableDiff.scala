package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucket-checksum table diff — anti-entropy verification (X71): decide
  * whether two copies of a table diverge (cross-region replica, a rebuilt
  * snapshot vs its source, a lake table vs its JDBC-landed twin) without
  * shipping either table, then row-diff ONLY where they disagree. The
  * one-level Merkle/anti-entropy scheme every replicated store runs
  * (Cassandra repair, DynamoDB global tables).
  *
  * Phase 1: both sides aggregate `(count, bit_xor(xxhash64(whole row)))`
  * per key-hash bucket — combinable, order-independent (XOR), overflow-free
  * (no ANSI sum trap), shipping `nBuckets` rows however big the table is.
  * Phase 2: only buckets whose fingerprints differ are re-scanned (the
  * bucket predicate pushes to the scan), and those rows run the null-safe
  * whole-row diff ([[SnapshotDiff.diffNullSafe]] with every column as the
  * key): value corruption surfaces as deleted+added of the two row
  * versions.
  *
  * Bucketing uses the LOGICAL key, so a value-corrupted row lands in the
  * same bucket on both sides (one bucket flagged, not two); a key-mutated
  * row flags both its buckets and both versions surface. Identical tables
  * cost exactly two aggregate scans and touch zero rows in phase 2 —
  * pinned in TableDiffSpec. Limits (documented, same as X49): XOR cancels
  * PAIRS of identical extra rows within one bucket, which the row count
  * catches unless the multiset differs by moving duplicates BETWEEN equal
  * rows — multiplicity beyond presence is out of contract for
  * [[SnapshotDiff.diffNullSafe]] too.
  */
object TableDiff extends graft.QueryModule {

  private def bucketOf(keys: Seq[String], nBuckets: Int) =
    pmod(xxhash64(keys.map(col): _*), lit(nBuckets))

  /** Phase 1 aggregate: `(bucket, n rows, xor of row hashes)`. */
  def bucketChecksums(df: DataFrame, keys: Seq[String], nBuckets: Int): DataFrame = {
    require(nBuckets > 0)
    df.withColumn("__bucket", bucketOf(keys, nBuckets))
      .groupBy("__bucket")
      .agg(count(lit(1)).as("__n"),
        expr(s"bit_xor(xxhash64(${df.columns.map(c => s"`$c`").mkString(", ")}))")
          .as("__xor"))
  }

  /** Buckets whose `(count, xor)` fingerprints differ — driver-sized by
    * construction (≤ nBuckets rows per side).
    */
  def divergentBuckets(a: DataFrame, b: DataFrame, keys: Seq[String],
      nBuckets: Int): Seq[Long] = {
    require(a.columns.toSeq == b.columns.toSeq,
      s"schemas differ: ${a.columns.toSeq} vs ${b.columns.toSeq}")
    val ca = bucketChecksums(a, keys, nBuckets).toDF("__bucket", "na", "xa")
    val cb = bucketChecksums(b, keys, nBuckets).toDF("__bucket", "nb", "xb")
    ca.join(cb, Seq("__bucket"), "full_outer")
      .where(!(col("na") <=> col("nb")) || !(col("xa") <=> col("xb")))
      .select("__bucket").collect().map(_.getLong(0)).toSeq.sorted
  }

  /** The full anti-entropy pass: `(row-level diff, buckets re-scanned)`.
    * Identical tables return an empty frame without scanning any row in
    * phase 2.
    */
  def diffDivergent(a: DataFrame, b: DataFrame, keys: Seq[String],
      nBuckets: Int): (DataFrame, Seq[Long]) = {
    val bad = divergentBuckets(a, b, keys, nBuckets)
    val allCols = a.columns.toSeq
    if (bad.isEmpty)
      (SnapshotDiff.diffNullSafe(a.limit(0), b.limit(0), allCols), bad)
    else {
      val hit = bucketOf(keys, nBuckets).isin(bad.map(Long.box): _*)
      (SnapshotDiff.diffNullSafe(a.where(hit), b.where(hit), allCols), bad)
    }
  }

  /** Anti-entropy REPAIR (X120): make the replica at `dir` row-identical
    * to `src`, touching only what diverged. Phase 1 finds divergent
    * buckets from the two combinable checksum aggregates (driver-sized);
    * if none, NO version commits. Otherwise one atomic merge-on-read
    * commit: every replica row in a divergent bucket is tombstoned (X64
    * sidecar — the existing data files are NOT rewritten) and `src`'s
    * rows for exactly those buckets are staged and appended. Write cost
    * is O(divergence); the replica-side scan computes positions once;
    * network movement from `src` is only the divergent buckets. The
    * repaired state is a normal version: time travel to the corrupted
    * one still works for the post-mortem, and `op = "repair"` marks the
    * X102 log.
    */
  def repair(src: DataFrame, dir: String, keys: Seq[String], nBuckets: Int,
      date: Int, time: Int): Option[(Int, Seq[Long])] = {
    val spark = src.sparkSession
    val replica = ManifestTable.readLatest(spark, dir)
    require(src.columns.toSeq == replica.columns.toSeq,
      s"schemas differ: ${src.columns.toSeq} vs ${replica.columns.toSeq}")
    val bad = divergentBuckets(src, replica, keys, nBuckets)
    if (bad.isEmpty) return None
    val hit = bucketOf(keys, nBuckets).isin(bad.map(Long.box): _*)

    val latest = ManifestTable.snapshots(spark, dir).last
    // tombstone the divergent buckets (the X64 sidecar) and stage src's
    // rows for exactly those buckets
    val delFiles = DeleteVectors.stageTombstones(spark, dir, latest, hit)
    val staged = ManifestTable.stageDataFiles(src.where(hit), dir)
    val version = ManifestTable.commitManifest(spark, dir, Some(latest), date, time,
      latest.files ++ staged, deletes = delFiles, op = "repair")
    Some((version, bad))
  }

  val queries: Map[String, Q] = Map(
    // The synth snapshot pair diffed via checksums: phase 1 flags the
    // divergent buckets, phase 2 row-diffs only those — and the answer
    // must be EXACTLY the flagship q_snapshot_diff's (same oracle): on
    // this pair every (key)-matched row is value-identical, so the
    // whole-row diff coincides with the key diff.
    "q_table_diff" -> ((s, d) => {
      val (diffed, _) = diffDivergent(
        SnapshotDiff.synthCurrent(s, d), SnapshotDiff.synthPrevious(s, d),
        SnapshotDiff.diffKeys, nBuckets = 64)
      diffed.orderBy("change", "c_custkey", "c_name")
    }),

    // X120: a replica corrupted three ways at once — rows DROPPED
    // (%97=5), values MUTATED (%101=7), and PHANTOM rows added (keys
    // above the source range) — repaired back to row-identity with the
    // source. The oracle is the pristine source alone: any unrepaired
    // corruption (or over-repair) breaks the content sums; last_op pins
    // that the repair landed as its own commit kind.
    "q_table_repair" -> ((s, d) => {
      import graft.util.Exact.dsum
      val dir = graft.util.FixtureCache.dir("repair_fx", d) { dir =>
        val src = graft.sources.Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val maxKey = src.agg(max("o_orderkey")).head.getAs[Number](0).longValue()
        val corrupted = src
          .where(col("o_orderkey") % 97 =!= 5) // dropped rows
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 101 === 7, col("o_totalprice") + 1000)
              .otherwise(col("o_totalprice"))) // mutated rows
          .unionByName(src.limit(20)
            .withColumn("o_orderkey", col("o_orderkey") + maxKey + 1)) // phantoms
        ManifestTable.commit(corrupted, dir, 20250901, 900)
        repair(src, dir, Seq("o_orderkey"), nBuckets = 64, 20250901, 1000)
      }
      val snaps = ManifestTable.snapshots(s, dir)
      ManifestTable.readLatest(s, dir)
        .groupBy((col("o_orderkey") % 3).cast("long").as("slice"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("sum_total"))
        .withColumn("last_op", lit(snaps.last.op))
        .orderBy("slice")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_table_diff" ->
      (SnapshotDiff.oracleCtes +
        """SELECT * FROM (SELECT * FROM added UNION ALL SELECT * FROM deleted)
          |ORDER BY change, c_custkey, c_name""".stripMargin),

    "q_table_repair" ->
      """SELECT CAST(o_orderkey % 3 AS BIGINT) AS slice,
        |       count(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
        |       'repair' AS last_op
        |FROM orders GROUP BY 1 ORDER BY slice""".stripMargin,
  )
}
