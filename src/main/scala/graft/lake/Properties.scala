package graft.lake

import org.apache.spark.sql.SparkSession
import org.json4s._

/** Table properties (extension X192) — Delta's `TBLPROPERTIES` surface:
  * free-form `key -> value` metadata that lives ON THE TABLE and
  * BINDS BEHAVIOR, so per-job writer flags become one-time table
  * declarations. The headline binding: `graft.optimizeWrite = true`
  * (+ optional `graft.targetFileBytes = n`) makes EVERY X116 batch
  * write to the table take the X188 rebalance path without any caller
  * option — exactly Delta's `delta.autoOptimize.optimizeWrite`
  * table-property contract (an explicit writer option still wins;
  * table properties are the default, not a cage).
  *
  * Mechanics over the X39 log: the active map is the `properties`
  * entry of each manifest's state, carried forward by every commit, so
  * time travel serves era-correct properties; SET/UNSET land as
  * METADATA-ONLY commits ([[ManifestTable.metadataCommit]] — same file
  * list, the new map in the same put, zero data bytes at 100 TB). A
  * crashed or lost SET leaves nothing for a later commit to adopt.
  * `SHOW TBLPROPERTIES` answers from the log alone — no Spark job.
  */
object Properties {

  /** This module's entry in the manifest state. */
  private val Owner = "properties"

  /** The active map a snapshot carries. */
  def of(snap: ManifestTable.Snapshot): Map[String, String] =
    snap.state.get(Owner) match {
      case Some(JObject(fields)) => fields.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty
    }

  /** Era-correct active map as of `version`. */
  def activeAt(spark: SparkSession, dir: String, version: Int): Map[String, String] =
    ManifestTable.snapshots(spark, dir).takeWhile(_.version <= version).lastOption
      .map(of).getOrElse(Map.empty)

  /** The active map at the latest version — what writers consult. */
  def active(spark: SparkSession, dir: String): Map[String, String] =
    ManifestTable.snapshots(spark, dir).lastOption.map(of).getOrElse(Map.empty)

  private def json(props: Map[String, String]): JValue =
    JObject(props.toList.sortBy(_._1).map { case (k, v) => k -> JString(v) })

  /** `SET TBLPROPERTIES (k = v, …)` — metadata-only, upserts keys. */
  def set(spark: SparkSession, dir: String, props: Map[String, String],
      date: Int, time: Int): Int = {
    require(props.nonEmpty, "no properties given")
    ManifestTable.metadataCommit(spark, dir, Owner, "setproperty",
      Some((date, time)))(snap => json(of(snap) ++ props))
  }

  /** `UNSET TBLPROPERTIES (k, …)` — refuses unknown keys (a typo'd
    * unset silently "succeeding" hides that the property still binds).
    */
  def unset(spark: SparkSession, dir: String, keys: Seq[String],
      date: Int, time: Int): Int = {
    require(keys.nonEmpty, "no keys given")
    ManifestTable.metadataCommit(spark, dir, Owner, "setproperty",
        Some((date, time))) { snap =>
      val m = of(snap)
      keys.foreach(k => require(m.contains(k), s"no property '$k'"))
      json(m -- keys)
    }
  }
}
