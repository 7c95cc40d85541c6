package graft.lake

import org.apache.spark.sql.SparkSession
import org.json4s._

/** Persistent table CHECK constraints (extension X187) — Delta's
  * `ALTER TABLE … ADD CONSTRAINT c CHECK (expr)` semantics over the X39
  * manifest log. The reference validates its ingest shape only inside
  * the pandas normalizer (`script_api_apify_to_spark.py:40-77` drops
  * malformed profiles silently); a lakehouse table needs the contract
  * to live ON THE TABLE, enforced against every writer, not inside one
  * pipeline's private code path.
  *
  * Mechanics over the X39 log: the ACTIVE SET is the `constraints`
  * entry of each manifest's state, carried forward by every commit, so
  * time travel serves era-correct constraint metadata the same way
  * column mapping serves era-correct names. ADD validates the contents
  * of the snapshot it lands on — one combinable aggregate (X76's
  * evaluate: all rules in one pass, violations = false-or-NULL) —
  * inside a METADATA-ONLY commit ([[ManifestTable.metadataCommit]]:
  * same file list, same tombstones, the new set in the same put; zero
  * data bytes on a 100 TB table). DROP is the same commit shape minus
  * the name. A crashed or lost ADD leaves nothing for a later commit to
  * adopt.
  *
  * Enforcement contract: the commit enforces, not the writer. The put
  * ([[ManifestTable.commitManifest]]) checks the data files a version
  * adds (the files its parent does not list) against the set that
  * version publishes, read under the version's column mapping, before
  * it lands — so every write surface is covered, the ones written after
  * this one too, and a constraint that lands while a batch stages
  * applies to that batch (the put loses its race and the retry checks
  * again; a retry whose added files and set already passed is not
  * scanned twice). The same scan checks the stored values of GENERATED
  * columns ([[ColumnMap]], X204) against their expressions. A table with
  * neither pays two state lookups and zero Spark work. Content-preserving
  * commits are exempt by their op
  * (OPTIMIZE `optimize`, REORG `materialize`, RESTORE and CLONE:
  * rewrites or re-references of rows that already passed), exactly
  * Delta's behavior. A violation refuses the whole commit with the
  * per-constraint counts and drops its staged files — partial
  * enforcement is silent corruption of the contract.
  */
object Constraints {

  case class Check(name: String, predicate: String)

  /** This module's entry in the manifest state. */
  private val Owner = "constraints"

  /** The active set a snapshot carries. */
  private def of(snap: ManifestTable.Snapshot): Seq[Check] = {
    implicit val fmts: Formats = DefaultFormats
    snap.state.get(Owner).toSeq.flatMap(_.extract[List[JValue]]).map(j =>
      Check((j \ "name").extract[String], (j \ "predicate").extract[String]))
  }

  /** The active constraint set as of `version` (era-correct: the set the
    * newest snapshot at or below it carries; empty when none recorded).
    */
  def activeAt(spark: SparkSession, dir: String, version: Int): Seq[Check] =
    ManifestTable.snapshots(spark, dir).takeWhile(_.version <= version).lastOption
      .map(of).getOrElse(Seq.empty)

  /** The active set at the latest version — what the next commit enforces. */
  def active(spark: SparkSession, dir: String): Seq[Check] =
    ManifestTable.snapshots(spark, dir).lastOption.map(of).getOrElse(Seq.empty)

  private def json(set: Seq[Check]): JValue =
    JArray(set.toList.map(c =>
      JObject("name" -> JString(c.name), "predicate" -> JString(c.predicate))))

  /** `ADD CONSTRAINT name CHECK (predicate)`: the rows of the snapshot
    * the set lands on must already satisfy the predicate (Delta's rule —
    * a constraint that the current table violates is a lie, refused with
    * the violation count), then the set lands as a metadata-only commit.
    * The scan reads that snapshot under its logical names, inside the
    * commit: a write landing while it runs makes the commit lose its
    * race, and the retry scans the new snapshot. Returns the new version.
    */
  def add(spark: SparkSession, dir: String, name: String, predicate: String,
      date: Int, time: Int): Int = {
    require(name.matches("[A-Za-z_][A-Za-z_0-9]*"),
      s"constraint name '$name' is not an identifier")
    // validate the predicate parses BEFORE scanning anything
    spark.sessionState.sqlParser.parseExpression(predicate)
    ManifestTable.retrying("add constraint", dir) {
      ManifestTable.metadataCommit(spark, dir, Owner, "constraint",
          Some((date, time))) { snap =>
        val set = of(snap)
        require(!set.exists(_.name == name), s"constraint '$name' already exists")
        val bad = violations(spark, dir, snap, snap.files,
          Seq(Check(name, predicate)))
        if (bad.nonEmpty) throw new IllegalArgumentException(
          s"cannot add constraint '$name': ${bad(name)} existing rows violate ($predicate)")
        json(set :+ Check(name, predicate))
      }
    }
  }

  /** `DROP CONSTRAINT name` — metadata-only, refuses unknown names. */
  def drop(spark: SparkSession, dir: String, name: String,
      date: Int, time: Int): Int =
    ManifestTable.retrying("drop constraint", dir) {
      ManifestTable.metadataCommit(spark, dir, Owner, "constraint",
          Some((date, time))) { snap =>
        val set = of(snap)
        require(set.exists(_.name == name), s"no constraint '$name'")
        json(set.filterNot(_.name == name))
      }
    }

  /** Commits that only rewrite or re-reference committed rows. */
  private val Exempt = Set("optimize", "materialize", "restore", "clone")

  /** What a passed check covered: the table, the files and tombstones
    * the commit adds, the constraint set and the column mapping it was
    * read under. Staged paths are writer-unique and never rewritten, so
    * a later attempt of the same commit that matches the last pass —
    * the retry after a lost race — passes without a second scan.
    */
  private case class Checked(dir: String, files: Set[String], deletes: Set[String],
      set: Seq[Check], mapping: Option[Seq[ColumnMap.Field]])
  @volatile private var lastPassed: Option[Checked] = None

  /** The one write gate, run by the put before `snap` lands on `parent`:
    * the rows of the files `snap` adds must satisfy the CHECK set `snap`
    * publishes, and their stored GENERATED columns (X204) must equal
    * their expressions under the mapping it publishes. A violation drops
    * the commit's staged dirs (those no committed version names) and
    * refuses with an IllegalArgumentException, which
    * [[ManifestTable.retrying]] lets escape.
    */
  private[lake] def gate(spark: SparkSession, dir: String,
      parent: Option[ManifestTable.Snapshot], snap: ManifestTable.Snapshot): Unit = {
    val set = of(snap)
    val mapping = ColumnMap.mappingOf(snap)
    val generated = mapping.toSeq.flatten.filter(_.gen.isDefined)
    if ((set.isEmpty && generated.isEmpty) || Exempt(snap.op)) return
    val old = parent.fold(Set.empty[String])(_.files.toSet)
    val added = snap.files.filterNot(old)
    if (added.isEmpty) return
    val key = Checked(dir, added.toSet,
      snap.deletes.toSet -- parent.toSeq.flatMap(_.deletes), set, mapping)
    if (lastPassed.contains(key)) return
    val bad = violations(spark, dir, snap, added, set ++ generated.map(f =>
      Check(s"generated ${f.logical}", s"${f.logical} <=> CAST((${f.gen.get}) AS ${f.dtype})")))
    if (bad.isEmpty) { lastPassed = Some(key); return }
    def dirOf(f: String) = f.split('/').dropRight(1).mkString("/")
    val committed = ManifestTable.snapshots(spark, dir)
      .flatMap(s => s.files ++ s.deletes).map(dirOf).toSet
    ManifestTable.dropStaged(spark, dir,
      (added ++ snap.deletes).filterNot(f => committed(dirOf(f))))
    val (conflicts, checks) = bad.toSeq.sortBy(_._1).partition(_._1.startsWith("generated "))
    throw new IllegalArgumentException(
      if (checks.nonEmpty) "CHECK constraint violation: " +
        checks.map { case (n, v) => s"$n=$v rows" }.mkString(", ")
      else "generated column values conflict with their expressions: " +
        conflicts.map { case (n, v) => s"${n.stripPrefix("generated ")} ($v rows)" }
          .mkString(", "))
  }

  /** The checks of `set` that rows of `files` of `snap` violate, with
    * their counts — one aggregate over the files under the snapshot's
    * logical names.
    */
  private def violations(spark: SparkSession, dir: String,
      snap: ManifestTable.Snapshot, files: Seq[String],
      set: Seq[Check]): Map[String, Long] =
    if (files.isEmpty) Map.empty
    else Expectations.evaluate(ColumnMap.logical(spark, dir, snap, files),
      set.map(c => Expectations.Rule(c.name, c.predicate))).filter(_._2 > 0)
}
