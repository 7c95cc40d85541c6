package graft.lake

import org.apache.spark.sql.SparkSession

/** Copy-on-write commit tail shared by the SQL DML commands (X179
  * UPDATE/MERGE) and the keyed streaming CoW upsert (X180): publish
  * `retained ++ staged` as the next version. The retained files keep
  * their X57/X78/X168 stats entries (every commit does), and the staged
  * files get fresh entries on the parent's tracked columns — so a reader
  * of the new version prunes exactly as well as before, and a table with
  * no stats stays without them (absence degrades, never lies).
  */
object Cow {

  /** Commit `retained ++ staged` as `snap.version + 1`, with `state`
    * setting the commit's own state entries ([[ManifestTable.commitManifest]]
    * — the streaming sink's txn and row tracking's id high water ride the
    * same manifest, so a crash or a lost race leaves neither behind).
    * Returns the committed version; a lost rename race throws
    * [[LostRace]] for the caller's [[ManifestTable.retrying]] loop (the
    * caller must RE-READ and RECOMPUTE — the staged rewrite was derived
    * from `snap`, so rebasing metadata alone would lose the concurrent
    * writer's rows).
    */
  def commit(spark: SparkSession, dir: String, snap: ManifestTable.Snapshot,
      retained: Seq[String], staged: Seq[String], date: Int, time: Int,
      op: String,
      state: Option[ManifestTable.Snapshot] => ManifestTable.State = _ => Map.empty): Int = {
    val tracked = snap.stats.values.toSeq
    val fresh =
      if (tracked.isEmpty || staged.isEmpty) Nil
      else ZoneMap.statsFor(spark, dir, staged, tracked.flatMap(_.lo.keys).distinct,
        tracked.flatMap(_.slo.keys).distinct, tracked.flatMap(_.vals.keys).distinct)
    ManifestTable.commitManifest(spark, dir, Some(snap), date, time,
      retained ++ staged, deletes = snap.deletes, op = op, state = state,
      stats = fresh)
  }
}
