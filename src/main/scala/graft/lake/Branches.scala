package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Branches and tags over the manifest lake (X95) — Iceberg-shaped named
  * refs: a TAG is an immutable pointer to a committed version (release
  * marks, audit pins); a BRANCH is a mutable pointer carrying its full
  * version LINEAGE (the chain of versions reachable from it), so two
  * branches diverge by lineage while sharing the one global manifest log
  * and all data files below it — branching copies NOTHING.
  *
  * Commits to a branch allocate the next GLOBAL version (the existing
  * two-step rename-as-commit, untouched) and then advance the ref, also
  * rename-atomic: a crash between manifest and ref publish leaves the
  * branch at its old head with one orphaned-but-valid version, never a
  * torn ref. Reads resolve ONLY through refs → manifests, so a reader
  * holding branch `exp` is isolated from `main` commits and vice versa.
  * Merging fast-forwards when the target's lineage prefixes the source's;
  * diverged branches go through [[mergeBranches]], a keyed three-way
  * content merge (X71 checksums find each side's changes, X31 upsert
  * semantics apply them) that REFUSES loudly when the same key changed
  * differently on both sides — never a silent overwrite.
  *
  * At scale this is pure metadata: a ref is one small JSON, reads add one
  * ref lookup to X39's single-manifest read, and no operation here
  * touches data bytes.
  */
object Branches extends graft.QueryModule {

  case class Ref(name: String, kind: String, lineage: Seq[Int]) {
    def head: Int = lineage.last
  }

  private def refsDir(dir: String) = s"$dir/_refs"
  private def refPath(dir: String, name: String) = s"${refsDir(dir)}/$name.json"

  /** Ref names are embedded in both the ref JSON and the filesystem path,
    * so they are validated at creation: a quote would corrupt the JSON, a
    * '/' or '..' would escape `_refs/`. Same charset git enforces for the
    * safe core of its ref names.
    */
  private val RefNameRe = "^[A-Za-z0-9][A-Za-z0-9._-]*$".r
  private def requireValidName(name: String): Unit =
    require(RefNameRe.matches(name) && !name.contains(".."),
      s"invalid ref name '$name': use [A-Za-z0-9._-], no leading '.', no '..'")

  private def writeRef(spark: SparkSession, dir: String, ref: Ref): Unit = {
    val fs = ManifestTable.fsFor(spark, dir)
    fs.mkdirs(new Path(refsDir(dir)))
    val json = s"""{"name": "${ref.name}", "kind": "${ref.kind}",
                  | "lineage": [${ref.lineage.mkString(", ")}]}""".stripMargin
    // a ref ADVANCE must atomically replace the old pointer — the seam's
    // `replace` operation (FileContext Rename.OVERWRITE on local FS/HDFS;
    // an object-store impl substitutes its own atomic pointer swap)
    CommitPrimitive.active(spark).replace(spark,
      new Path(refPath(dir, ref.name)), json.getBytes("UTF-8"))
  }

  def readRef(spark: SparkSession, dir: String, name: String): Ref = {
    val fs = ManifestTable.fsFor(spark, dir)
    val p = new Path(refPath(dir, name))
    require(fs.exists(p), s"no ref '$name' at $dir")
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val j = org.json4s.jackson.JsonMethods.parse(text)
    Ref((j \ "name").extract[String], (j \ "kind").extract[String],
      (j \ "lineage").extract[Seq[Int]])
  }

  /** Lineage of `fromVersion` as seen from an existing ref (a prefix of
    * its lineage ending at that version), or the trivial chain for a
    * version with no branching history.
    */
  private def lineageTo(spark: SparkSession, dir: String, base: Option[Ref],
      fromVersion: Int): Seq[Int] = base match {
    case Some(r) =>
      require(r.lineage.contains(fromVersion),
        s"version $fromVersion is not on ${r.name}'s lineage")
      r.lineage.takeWhile(_ != fromVersion) :+ fromVersion
    case None => (1 to fromVersion) // linear pre-branching history
  }

  def createBranch(spark: SparkSession, dir: String, name: String,
      fromVersion: Int, fromRef: Option[String] = None): Ref = {
    requireValidName(name)
    val base = fromRef.map(readRef(spark, dir, _))
    val ref = Ref(name, "branch", lineageTo(spark, dir, base, fromVersion))
    writeRef(spark, dir, ref)
    ref
  }

  def createTag(spark: SparkSession, dir: String, name: String,
      atVersion: Int, fromRef: Option[String] = None): Ref = {
    requireValidName(name)
    val base = fromRef.map(readRef(spark, dir, _))
    val ref = Ref(name, "tag", lineageTo(spark, dir, base, atVersion))
    writeRef(spark, dir, ref)
    ref
  }

  /** X226 — delete a ref, KIND-checked: dropping a tag through the
    * branch statement (or vice versa) refuses — the two make different
    * retention promises (tags pin forever), so a mixed-up drop is a
    * retention bug, not a convenience. The underlying versions are
    * untouched; only the pointer goes.
    */
  def dropRef(spark: SparkSession, dir: String, name: String,
      expectKind: String): Unit = {
    val ref = readRef(spark, dir, name) // throws on unknown
    require(ref.kind == expectKind,
      s"'$name' is a ${ref.kind}, not a $expectKind — use DROP " +
        s"${ref.kind.toUpperCase}")
    ManifestTable.fsFor(spark, dir)
      .delete(new Path(refPath(dir, name)), false)
  }

  /** All refs of the table — one tiny `_refs` listing + one JSON read per
    * ref; empty for a table that never branched.
    */
  def listRefs(spark: SparkSession, dir: String): Seq[Ref] = {
    val fs = ManifestTable.fsFor(spark, dir)
    val rdir = new org.apache.hadoop.fs.Path(refsDir(dir))
    if (!fs.exists(rdir)) return Seq.empty
    fs.listStatus(rdir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json"))
      .map(s => readRef(spark, dir, s.getPath.getName.stripSuffix(".json")))
      .sortBy(_.name)
  }

  /** Versions X61's vacuum must NOT expire on behalf of refs (X105):
    * every tag's target is pinned forever (a tag IS a retention promise),
    * and each branch keeps the newest `keepLast` versions of ITS OWN
    * lineage — the same retention window the global log gets, applied
    * per branch, so a diverged branch's history expires on the same
    * policy instead of blocking retention or being silently broken.
    */
  def protectedVersions(spark: SparkSession, dir: String, keepLast: Int): Set[Int] =
    listRefs(spark, dir).flatMap { r =>
      if (r.kind == "tag") Seq(r.head) else r.lineage.takeRight(keepLast)
    }.toSet

  /** Commit `df` as the next global version and advance the branch ref.
    * Tags refuse: they are immutable by contract.
    *
    * CONCURRENCY: the ref advance is read-modify-write with no CAS — one
    * writer per BRANCH is the contract (two concurrent commits to the
    * same branch could drop a lineage entry). The underlying version
    * allocation is protected (X39's rename-as-commit), so a violated
    * contract loses a ref advance, never a committed version; X96's
    * retrying commits serialize writers at the manifest level for tables
    * that need more.
    */
  def commitToBranch(df: DataFrame, dir: String, branch: String,
      date: Int, time: Int): Int = {
    val spark = df.sparkSession
    val ref = readRef(spark, dir, branch)
    require(ref.kind == "branch", s"ref '$branch' is a ${ref.kind}; tags are immutable")
    val v = ManifestTable.commit(df, dir, date, time)
    writeRef(spark, dir, ref.copy(lineage = ref.lineage :+ v))
    v
  }

  def readBranch(spark: SparkSession, dir: String, name: String): DataFrame =
    ManifestTable.readVersion(spark, dir, readRef(spark, dir, name).head)

  /** Fast-forward `target` to `source`'s head. Refuses when the target
    * has commits the source lacks (divergence) — content merging is a
    * keyed-upsert problem (X31), not a ref operation.
    */
  def fastForward(spark: SparkSession, dir: String, target: String,
      source: String): Ref = {
    val t = readRef(spark, dir, target)
    val sRef = readRef(spark, dir, source)
    require(t.kind == "branch", s"ref '$target' is a ${t.kind}")
    require(sRef.lineage.startsWith(t.lineage),
      s"'$target' and '$source' diverge: fast-forward impossible")
    val merged = t.copy(lineage = sRef.lineage)
    writeRef(spark, dir, merged)
    merged
  }

  /** THREE-WAY CONTENT MERGE of diverged branches (round-5 X95 close-out):
    * merge `source` into `target` when neither lineage prefixes the other,
    * keyed by `keys` (row identity, as in X31 MERGE).
    *
    * Shape: merge base = last common lineage version. Each side's changes
    * vs the base are found with X71's bucket checksums
    * ([[TableDiff.diffDivergent]]) — two aggregate scans per side, then
    * whole-row diffs restricted to the divergent buckets only, so the
    * unchanged bulk of a 100 TB table is never re-scanned row-by-row.
    * Keys touched ONLY by the source replace the target's rows for those
    * keys (X31 delete-aware upsert semantics: a source-side delete
    * propagates, an update overwrites, an insert lands). Keys touched by
    * BOTH sides must have arrived at the IDENTICAL row set — otherwise
    * the merge REFUSES loudly with the conflicting key count (the
    * fast-forward refusal, upgraded with a row-level witness): resolving
    * divergent edits is a policy decision, not something a lake layer
    * should guess.
    *
    * The merged table commits as a new global version on `target` — both
    * parents stay time-travelable, and the source branch is untouched.
    */
  def mergeBranches(spark: SparkSession, dir: String, target: String,
      source: String, keys: Seq[String], date: Int, time: Int,
      nBuckets: Int = 64): Ref = {
    val t = readRef(spark, dir, target)
    val sRef = readRef(spark, dir, source)
    require(t.kind == "branch", s"ref '$target' is a ${t.kind}")
    if (sRef.lineage.startsWith(t.lineage))
      return fastForward(spark, dir, target, source)
    if (t.lineage.startsWith(sRef.lineage))
      return t // target already contains every source commit
    val baseV = t.lineage.zip(sRef.lineage).takeWhile { case (a, b) => a == b }
      .map(_._1).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"'$target' and '$source' share no common ancestor"))
    val base = ManifestTable.readVersion(spark, dir, baseV)
    val tgt = readBranch(spark, dir, target)
    val src = readBranch(spark, dir, source)
    val (srcDiff, _) = TableDiff.diffDivergent(src, base, keys, nBuckets)
    val (tgtDiff, _) = TableDiff.diffDivergent(tgt, base, keys, nBuckets)
    // each touched-key set is probed on BOTH sides of one plan tree
    // (anti + semi), which trips Spark's ambiguous-self-join detection —
    // rebind through a cached RDD so every probe gets fresh attributes
    // and the underlying diff computes once
    def keySetCopies(diff: DataFrame): (DataFrame, DataFrame) = {
      val plan = diff.select(keys.map(col): _*).distinct()
      val rdd = plan.rdd.cache()
      (spark.createDataFrame(rdd, plan.schema),
        spark.createDataFrame(rdd, plan.schema))
    }
    val (srcKeysA, srcKeysB) = keySetCopies(srcDiff)
    val (tgtKeysA, _) = keySetCopies(tgtDiff)
    val (bothKeysA, bothKeysB) = {
      val plan = srcKeysA.join(tgtKeysA, keys, "inner")
      val rdd = plan.rdd.cache()
      (spark.createDataFrame(rdd, plan.schema),
        spark.createDataFrame(rdd, plan.schema))
    }
    // conflict witness: for keys touched on both sides, the two branches'
    // final row sets must coincide exactly (null-safe whole-row compare)
    val nConflict = SnapshotDiff.diffNullSafe(
        src.join(bothKeysA, keys, "left_semi"),
        tgt.join(bothKeysB, keys, "left_semi"), src.columns.toSeq)
      .select(keys.map(col): _*).distinct().count()
    require(nConflict == 0,
      s"merge of '$source' into '$target' conflicts on $nConflict " +
        s"(${keys.mkString(", ")}) keys changed differently on both branches")
    val merged = tgt.join(srcKeysA, keys, "left_anti")
      .unionByName(src.join(srcKeysB, keys, "left_semi"))
    commitToBranch(merged, dir, target, date, time)
    readRef(spark, dir, target)
  }

  /** Timeline: main=v1 → branch exp → exp commits v2 → main commits v3 →
    * tag rel1 at v1. Reads through all three refs must reconstruct the
    * three predicate-defined contents — isolation in both directions.
    */
  def buildFixture(s: SparkSession, d: String): String =
    graft.util.FixtureCache.dir("branches_fixture", d) { root =>
      val dir = s"$root/t"
      val k = col("o_orderkey")
      val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      ManifestTable.commit(ord.where(k % 3 === 0), dir, 20250810, 900)
      createBranch(s, dir, "main", 1)
      createBranch(s, dir, "exp", 1, Some("main"))
      createTag(s, dir, "rel1", 1, Some("main"))
      commitToBranch(readBranch(s, dir, "exp").unionByName(ord.where(k % 3 === 1)),
        dir, "exp", 20250810, 1000)
      commitToBranch(readBranch(s, dir, "main").unionByName(ord.where(k % 3 === 2)),
        dir, "main", 20250810, 1100)
    }

  /** Merge timeline: main=v1 (k%3=0) → branch exp → exp commits v2
    * (DELETES k%6=0, adds k%3=1) → main commits v3 (adds k%3=2) →
    * three-way merge of exp into main (v4). Exercises insert propagation,
    * DELETE propagation, and the disjoint-touch no-conflict path.
    */
  def mergeFixture(s: SparkSession, d: String): String =
    graft.util.FixtureCache.dir("branches_merge", d) { root =>
      val dir = s"$root/t"
      val k = col("o_orderkey")
      val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      ManifestTable.commit(ord.where(k % 3 === 0), dir, 20250811, 900)
      createBranch(s, dir, "main", 1)
      createBranch(s, dir, "exp", 1, Some("main"))
      commitToBranch(
        ord.where(k % 3 === 0 && k % 6 =!= 0).unionByName(ord.where(k % 3 === 1)),
        dir, "exp", 20250811, 1000)
      commitToBranch(readBranch(s, dir, "main").unionByName(ord.where(k % 3 === 2)),
        dir, "main", 20250811, 1100)
      mergeBranches(s, dir, "main", "exp", Seq("o_orderkey"), 20250811, 1200)
    }

  val queries: Map[String, Q] = Map(
    // Post-merge state of both refs: main must hold the three-way result
    // (base minus exp's deletes, plus both branches' adds), exp stays
    // untouched — the oracle recomputes each from the predicates.
    "q_branch_merge" -> ((s, d) => {
      val dir = s"${mergeFixture(s, d)}/t"
      Seq("exp", "main").map { r =>
        readBranch(s, dir, r).agg(
          lit(r).as("ref"),
          count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).cast("long").as("key_sum"))
      }.reduce(_ unionByName _)
        .select("ref", "n_rows", "key_sum")
        .orderBy("ref")
    }),

    "q_branch_read" -> ((s, d) => {
      val dir = s"${buildFixture(s, d)}/t"
      Seq("exp", "main", "rel1").map { r =>
        readBranch(s, dir, r).agg(
          lit(r).as("ref"),
          count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).cast("long").as("key_sum"))
      }.reduce(_ unionByName _)
        .select("ref", "n_rows", "key_sum")
        .orderBy("ref")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_branch_merge" ->
      """WITH rows AS (
        |  SELECT 'exp' AS ref, o_orderkey FROM orders
        |  WHERE (o_orderkey % 3 = 0 AND o_orderkey % 6 <> 0) OR o_orderkey % 3 = 1
        |  UNION ALL
        |  SELECT 'main' AS ref, o_orderkey FROM orders WHERE o_orderkey % 6 <> 0)
        |SELECT ref, count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM rows GROUP BY ref ORDER BY ref""".stripMargin,

    "q_branch_read" ->
      """WITH rows AS (
        |  SELECT 'exp' AS ref, o_orderkey FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |  UNION ALL
        |  SELECT 'main' AS ref, o_orderkey FROM orders WHERE o_orderkey % 3 IN (0, 2)
        |  UNION ALL
        |  SELECT 'rel1' AS ref, o_orderkey FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT ref, count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM rows GROUP BY ref ORDER BY ref""".stripMargin,
  )
}
