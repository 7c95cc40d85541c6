package graft.lake

import org.apache.spark.sql.SparkSession

/** Copy-on-write commit tail shared by the SQL DML commands (X179
  * UPDATE/MERGE) and the keyed streaming CoW upsert (X180): publish
  * `retained ++ staged` as the next version, carrying the X57/X78/X168
  * stats entries of retained files VERBATIM and computing fresh entries
  * for the staged files on the same tracked columns — so a reader of the
  * new version prunes exactly as well as before, and a table with no
  * sidecar stays without one (absence degrades, never lies).
  */
object Cow {

  /** Commit `retained ++ staged` as `snap.version + 1`. `beforeCommit`
    * runs with the target version AFTER the stats sidecar lands and
    * immediately BEFORE the manifest rename — the hook the streaming
    * sink uses to place its exactly-once txn sidecar so a crash between
    * sidecar and rename replays the whole batch (the X58/X117 ordering).
    * Returns the committed version; a lost rename race throws
    * [[LostRace]] for the caller's [[ManifestTable.retrying]] loop (the
    * caller must RE-READ and RECOMPUTE — the staged rewrite was derived
    * from `snap`, so rebasing metadata alone would lose the concurrent
    * writer's rows).
    */
  def commit(spark: SparkSession, dir: String, snap: ManifestTable.Snapshot,
      retained: Seq[String], staged: Seq[String], date: Int, time: Int,
      op: String, beforeCommit: Int => Unit = _ => ()): Int = {
    val version = snap.version + 1
    ZoneMap.fileStats(spark, dir, snap.version).foreach { stats =>
      val byFile = stats.map(s => s.file -> s).toMap
      val statsCols = stats.flatMap(_.lo.keys).distinct
      val strCols = stats.flatMap(_.slo.keys).distinct
      val setCols = stats.flatMap(_.vals.keys).distinct
      val fresh =
        if (staged.isEmpty) Nil
        else ZoneMap.statsFor(spark, dir, staged, statsCols, strCols, setCols)
      ZoneMap.writeStatsSidecar(spark, dir, version,
        retained.flatMap(byFile.get) ++ fresh)
    }
    beforeCommit(version)
    ManifestTable.commitManifest(spark, dir, version, date, time,
      retained ++ staged, deletes = snap.deletes, op = op)
    version
  }
}
