package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Persistent table CHECK constraints (extension X187) — Delta's
  * `ALTER TABLE … ADD CONSTRAINT c CHECK (expr)` semantics over the X39
  * manifest log. The reference validates its ingest shape only inside
  * the pandas normalizer (`script_api_apify_to_spark.py:40-77` drops
  * malformed profiles silently); a lakehouse table needs the contract
  * to live ON THE TABLE, enforced against every writer, not inside one
  * pipeline's private code path.
  *
  * Mechanics over the X39 log (the X110 `_colmap` discipline, applied
  * to constraints): the ACTIVE SET as of a version lives at
  * `_constraints/v<N>.json`; a version without its own set inherits the
  * latest set at or below it, so time travel serves era-correct
  * constraint metadata the same way column mapping serves era-correct
  * names. ADD validates the CURRENT contents first — one combinable
  * aggregate over the latest version (X76's evaluate: all rules in one
  * pass, violations = false-or-NULL) — then lands a METADATA-ONLY
  * commit (same file list, same tombstones, one tiny JSON; zero data
  * bytes on a 100 TB table). DROP is the same commit shape minus the
  * name.
  *
  * Enforcement contract: every NEW-DATA write surface calls
  * [[enforce]] before staging — SQL `INSERT INTO`/`INSERT OVERWRITE`
  * (X173), SQL `UPDATE`/`MERGE` (X179 — the rewritten rows must still
  * satisfy the contract), and the `df.write.format("graft")` batch
  * writer (X116). A table with no constraint sidecar pays ONE driver
  * directory probe and zero Spark work (the overwhelmingly common
  * case). Content-preserving maintenance (OPTIMIZE/VACUUM/RESTORE —
  * rewrites of rows that already passed) is exempt by design, exactly
  * Delta's behavior. Violations REFUSE the whole write with the
  * per-constraint counts and stage nothing — partial enforcement is
  * silent corruption of the contract.
  */
object Constraints {

  case class Check(name: String, predicate: String)

  private def cdir(dir: String) = s"$dir/_constraints"
  private def cname(version: Int) = f"v$version%08d.json"
  private val SetRe = """v(\d{8})\.json""".r

  private def fsFor(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeSet(spark: SparkSession, dir: String, version: Int,
      set: Seq[Check]): Unit = {
    val fs = fsFor(spark, dir)
    val p = new org.apache.hadoop.fs.Path(cdir(dir), cname(version))
    fs.mkdirs(p.getParent)
    val json = JsonMethods.compact(JsonMethods.render(JArray(set.toList.map(c =>
      JObject("name" -> JString(c.name), "predicate" -> JString(c.predicate))))))
    val out = fs.create(p, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** All recorded sets, oldest first: (version, set). One listing. */
  private def sets(spark: SparkSession, dir: String): Seq[(Int, Seq[Check])] = {
    val fs = fsFor(spark, dir)
    val d = new org.apache.hadoop.fs.Path(cdir(dir))
    if (!fs.exists(d)) return Seq.empty
    implicit val fmts: Formats = DefaultFormats
    fs.listStatus(d).toSeq.flatMap(s => s.getPath.getName match {
      case SetRe(v) =>
        val in = fs.open(s.getPath)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val cs = JsonMethods.parse(text).extract[List[JValue]].map { j =>
          Check((j \ "name").extract[String], (j \ "predicate").extract[String])
        }
        Some(v.toInt -> cs)
      case _ => None
    }).sortBy(_._1)
  }

  /** The active constraint set as of `version` (era-correct: the latest
    * recorded set at or below it; empty when none recorded yet).
    */
  def activeAt(spark: SparkSession, dir: String, version: Int): Seq[Check] =
    sets(spark, dir).takeWhile(_._1 <= version).lastOption
      .map(_._2).getOrElse(Seq.empty)

  /** The active set at the latest version — what writers enforce. */
  def active(spark: SparkSession, dir: String): Seq[Check] =
    ManifestTable.latestVersion(spark, dir)
      .map(v => activeAt(spark, dir, v)).getOrElse(Seq.empty)

  /** Metadata-only constraint commit: same files, same tombstones, the
    * new set one version up.
    */
  private def setCommit(spark: SparkSession, dir: String, date: Int,
      time: Int, change: Seq[Check] => Seq[Check]): Int = {
    val snap = ManifestTable.snapshots(spark, dir).lastOption.getOrElse(
      throw new NoSuchElementException(s"no table at $dir"))
    val next = change(activeAt(spark, dir, snap.version))
    val v = snap.version + 1
    writeSet(spark, dir, v, next)
    ManifestTable.commitManifest(spark, dir, Some(snap), date, time,
      snap.files, deletes = snap.deletes, op = "constraint")
  }

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
    setCommit(spark, dir, date, time, _ :+ Check(name, predicate))
  }

  /** `DROP CONSTRAINT name` — metadata-only, refuses unknown names. */
  def drop(spark: SparkSession, dir: String, name: String,
      date: Int, time: Int): Int =
    setCommit(spark, dir, date, time, { set =>
      require(set.exists(_.name == name), s"no constraint '$name'")
      set.filterNot(_.name == name)
    })

  /** Whether `dir` carries any constraints — ONE driver directory probe,
    * what every write path pays when the answer is no (the common case).
    */
  def any(spark: SparkSession, dir: String): Boolean =
    active(spark, dir).nonEmpty

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
