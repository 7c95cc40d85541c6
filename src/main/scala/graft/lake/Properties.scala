package graft.lake

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

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
  * Mechanics over the X39 log: the active map as of a version lives at
  * `_properties/v<N>.json` (the X110/`X187` sidecar discipline — a
  * version without its own map inherits the latest at or below it, so
  * time travel serves era-correct properties); SET/UNSET land as
  * METADATA-ONLY commits (same file list, one tiny JSON, zero data
  * bytes at 100 TB). `SHOW TBLPROPERTIES` answers from one sidecar
  * listing — no Spark job.
  */
object Properties {

  private def pdir(dir: String) = s"$dir/_properties"
  private def pname(version: Int) = f"v$version%08d.json"
  private val SetRe = """v(\d{8})\.json""".r

  private def fsFor(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeMap(spark: SparkSession, dir: String, version: Int,
      props: Map[String, String]): Unit = {
    val fs = fsFor(spark, dir)
    val p = new org.apache.hadoop.fs.Path(pdir(dir), pname(version))
    fs.mkdirs(p.getParent)
    val json = JsonMethods.compact(JsonMethods.render(
      JObject(props.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> (JString(v): JValue) }.toList)))
    val out = fs.create(p, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  private def maps(spark: SparkSession, dir: String): Seq[(Int, Map[String, String])] = {
    val fs = fsFor(spark, dir)
    val d = new org.apache.hadoop.fs.Path(pdir(dir))
    if (!fs.exists(d)) return Seq.empty
    fs.listStatus(d).toSeq.flatMap(s => s.getPath.getName match {
      case SetRe(v) =>
        val in = fs.open(s.getPath)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val m = JsonMethods.parse(text) match {
          case JObject(fields) => fields.collect {
            case (k, JString(value)) => k -> value }.toMap
          case _ => Map.empty[String, String]
        }
        Some(v.toInt -> m)
      case _ => None
    }).sortBy(_._1)
  }

  /** Era-correct active map as of `version`. */
  def activeAt(spark: SparkSession, dir: String, version: Int): Map[String, String] =
    maps(spark, dir).takeWhile(_._1 <= version).lastOption
      .map(_._2).getOrElse(Map.empty)

  /** The active map at the latest version — what writers consult. */
  def active(spark: SparkSession, dir: String): Map[String, String] =
    ManifestTable.latestVersion(spark, dir)
      .map(v => activeAt(spark, dir, v)).getOrElse(Map.empty)

  private def propCommit(spark: SparkSession, dir: String, date: Int,
      time: Int, change: Map[String, String] => Map[String, String]): Int = {
    val snap = ManifestTable.snapshots(spark, dir).lastOption.getOrElse(
      throw new NoSuchElementException(s"no table at $dir"))
    val next = change(activeAt(spark, dir, snap.version))
    val v = snap.version + 1
    writeMap(spark, dir, v, next)
    ManifestTable.commitManifest(spark, dir, Some(snap), date, time,
      snap.files, deletes = snap.deletes, op = "setproperty")
  }

  /** `SET TBLPROPERTIES (k = v, …)` — metadata-only, upserts keys. */
  def set(spark: SparkSession, dir: String, props: Map[String, String],
      date: Int, time: Int): Int = {
    require(props.nonEmpty, "no properties given")
    propCommit(spark, dir, date, time, _ ++ props)
  }

  /** `UNSET TBLPROPERTIES (k, …)` — refuses unknown keys (a typo'd
    * unset silently "succeeding" hides that the property still binds).
    */
  def unset(spark: SparkSession, dir: String, keys: Seq[String],
      date: Int, time: Int): Int = {
    require(keys.nonEmpty, "no keys given")
    propCommit(spark, dir, date, time, { m =>
      keys.foreach(k => require(m.contains(k), s"no property '$k'"))
      m -- keys
    })
  }
}
