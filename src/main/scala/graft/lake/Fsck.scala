package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Manifest repair after external file loss (extension X194) — Delta's
  * `FSCK REPAIR TABLE`: a manifest referencing a data file that no
  * longer exists (storage incident, an over-eager external cleanup, a
  * partial restore) poisons EVERY read of that version with a
  * FileNotFound at scan time. Repair drops the dangling references as
  * ONE metadata commit — the missing bytes are gone either way; what
  * the operator chooses is between "every query fails" and "the
  * surviving rows serve, the loss is a ledgered commit".
  *
  * Mechanics: existence-probe the LATEST version's data files and
  * tombstone sidecars (driver-side metadata, one `exists` per file —
  * no Spark job, no data bytes); `dryRun` reports the dangling
  * references and commits NOTHING (the look-before-you-leap half);
  * repair commits `op = "fsck"` with the missing data files and
  * missing sidecars dropped. Tombstone entries that referenced a
  * now-dropped data file become dangling-but-harmless (the X64
  * subtraction matches on `(file, pos)` — a dropped file matches no
  * scanned row), so sidecars are NOT rewritten. Earlier versions are
  * left untouched: time travel to them keeps failing for the lost
  * bytes, which is honest — repair fixes the SERVING version, not
  * history.
  */
object Fsck {

  /** Dangling references in the latest version: (kind, relative path)
    * with kind ∈ {"data", "deletes"}.
    */
  def missing(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val snap = ManifestTable.snapshots(spark, dir).lastOption.getOrElse(
      throw new NoSuchElementException(s"no table at $dir"))
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    snap.files.filterNot(f => fs.exists(new Path(s"$dir/$f")))
      .map("data" -> _) ++
      snap.deletes.filterNot(f => fs.exists(new Path(s"$dir/$f")))
        .map("deletes" -> _)
  }

  /** Repair the latest version: drop dangling references as one
    * `op = "fsck"` commit. Returns the dangling list (empty → no commit,
    * repair is idempotent).
    */
  def repair(spark: SparkSession, dir: String, date: Int,
      time: Int): Seq[(String, String)] = {
    val bad = missing(spark, dir)
    if (bad.nonEmpty) {
      val snap = ManifestTable.snapshots(spark, dir).last
      val badSet = bad.map(_._2).toSet
      ManifestTable.commitManifest(spark, dir, Some(snap), date, time,
        snap.files.filterNot(badSet),
        deletes = snap.deletes.filterNot(badSet), op = "fsck")
    }
    bad
  }
}
