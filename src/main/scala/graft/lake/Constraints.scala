package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * column mapping serves era-correct names. ADD validates the CURRENT
  * contents first — one combinable aggregate over the latest version
  * (X76's evaluate: all rules in one pass, violations = false-or-NULL) —
  * then lands a METADATA-ONLY commit ([[ManifestTable.metadataCommit]]:
  * same file list, same tombstones, the new set in the same put; zero
  * data bytes on a 100 TB table). DROP is the same commit shape minus
  * the name. A crashed or lost ADD leaves nothing for a later commit to
  * adopt.
  *
  * Enforcement contract: every NEW-DATA write surface calls
  * [[enforceStaged]] on its staged files — SQL `INSERT INTO`/`INSERT
  * OVERWRITE` (X173), SQL `UPDATE`/`MERGE` (X179 — the rewritten rows
  * must still satisfy the contract), and the `df.write.format("graft")`
  * batch writer (X116). A table with no constraints pays one log read
  * and zero Spark work (the overwhelmingly common case).
  * Content-preserving maintenance (OPTIMIZE/VACUUM/RESTORE — rewrites
  * of rows that already passed) is exempt by design, exactly Delta's
  * behavior. Violations REFUSE the whole write with the per-constraint
  * counts and stage nothing — partial enforcement is silent corruption
  * of the contract.
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

  /** The active set at the latest version — what writers enforce. */
  def active(spark: SparkSession, dir: String): Seq[Check] =
    ManifestTable.snapshots(spark, dir).lastOption.map(of).getOrElse(Seq.empty)

  private def json(set: Seq[Check]): JValue =
    JArray(set.toList.map(c =>
      JObject("name" -> JString(c.name), "predicate" -> JString(c.predicate))))

  /** `ADD CONSTRAINT name CHECK (predicate)`: existing rows must already
    * satisfy the predicate (Delta's rule — a constraint that the current
    * table violates is a lie, refused with the violation count), then
    * the set lands as a metadata-only commit. Returns the new version.
    */
  def add(spark: SparkSession, dir: String, name: String, predicate: String,
      date: Int, time: Int): Int = {
    require(name.matches("[A-Za-z_][A-Za-z_0-9]*"),
      s"constraint name '$name' is not an identifier")
    val current = active(spark, dir)
    require(!current.exists(_.name == name),
      s"constraint '$name' already exists")
    // validate the predicate parses BEFORE scanning anything
    spark.sessionState.sqlParser.parseExpression(predicate)
    val snapshot = ManifestTable.readLatest(spark, dir)
    val report = Expectations.evaluate(snapshot,
      Seq(Expectations.Rule(name, predicate)))
    val bad = report(name)
    if (bad > 0) throw new IllegalArgumentException(
      s"cannot add constraint '$name': $bad existing rows violate ($predicate)")
    ManifestTable.metadataCommit(spark, dir, Owner, "constraint",
      Some((date, time)))(snap => json(of(snap) :+ Check(name, predicate)))
  }

  /** `DROP CONSTRAINT name` — metadata-only, refuses unknown names. */
  def drop(spark: SparkSession, dir: String, name: String,
      date: Int, time: Int): Int =
    ManifestTable.metadataCommit(spark, dir, Owner, "constraint",
        Some((date, time))) { snap =>
      val set = of(snap)
      require(set.exists(_.name == name), s"no constraint '$name'")
      json(set.filterNot(_.name == name))
    }

  /** Stage-first gate (the X172 discipline applied to constraints):
    * validate the STAGED bytes — a non-deterministic source frame can
    * never pass validation yet commit different rows, because the rows
    * validated ARE the rows the manifest will reference. On violation
    * the staged directory is deleted and the whole write refuses with
    * the per-constraint counts; nothing half-lands.
    */
  def enforceStaged(spark: SparkSession, dir: String,
      staged: Seq[String]): Unit = {
    val set = active(spark, dir)
    if (set.isEmpty || staged.isEmpty) return
    val df = spark.read.parquet(staged.map(f => s"$dir/$f"): _*)
    val report = Expectations.evaluate(df,
      set.map(c => Expectations.Rule(c.name, c.predicate)))
    val bad = report.filter(_._2 > 0)
    if (bad.nonEmpty) {
      ManifestTable.dropStaged(spark, dir, staged)
      throw new IllegalArgumentException(
        "CHECK constraint violation: " + bad.toSeq.sortBy(_._1)
          .map { case (n, v) => s"$n=$v rows" }.mkString(", "))
    }
  }
}
