package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Table-level write ordering (extension X216) — Iceberg's
  * `ALTER TABLE … WRITE ORDERED BY (c1, c2)`: declare the clustering
  * ONCE on the table and every subsequent batch write range-partitions
  * and sorts on those columns before landing, then records X57/X78 zone
  * maps on them — so file ranges come out DISJOINT on the declared
  * dimensions and every future band read prunes files without anyone
  * remembering a writer flag. The declarative cousin of X188 optimized
  * writes (size) and X106 ZORDER (retroactive): this one shapes data
  * correctly AS IT ARRIVES — on a 100 TB ingest the extra cost is one
  * range shuffle of each batch (never the table), and the payoff is
  * every downstream scan.
  *
  * The property is `graft.writeOrder = "c1,c2"` (the SQL statement is
  * sugar over X192 SET TBLPROPERTIES, so it shows in SHOW TBLPROPERTIES
  * and time travel serves era-correct orders). Writers that can't honor
  * it refuse loudly rather than silently landing unordered bytes: a
  * declared order with a column the batch lacks is a contract breach.
  */
object WriteOrder {

  /** The declared write order, if any. */
  def orderedCols(props: Map[String, String]): Option[Seq[String]] =
    props.get("graft.writeOrder")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)

  /** Range-cluster `df` on the declared order and stage it. Returns the
    * staged files with their zone-map entries on the ordered columns,
    * for the caller's append or replace commit.
    */
  def stage(df: DataFrame, dir: String, cols: Seq[String],
      partitions: Option[Int] = None): (Seq[String], Seq[ZoneMap.FileStats]) = {
    cols.foreach(c => require(df.columns.contains(c),
      s"graft.writeOrder column '$c' is not in the batch " +
        s"(${df.columns.mkString(", ")})"))
    // an explicit `graft.writeOrder.partitions` pins the range fan-out
    // (AQE coalesces tiny range partitions into one file at small
    // batch sizes — at production batch sizes AQE's own sizing is the
    // right default, so the knob is optional)
    val ranged = partitions
      .map(n => df.repartitionByRange(n, cols.map(col): _*))
      .getOrElse(df.repartitionByRange(cols.map(col): _*))
    val ordered = ranged.sortWithinPartitions(cols.map(col): _*)
    val (numeric, strs) = ZoneMap.boundable(df.schema, cols)
    val staged = ManifestTable.stageDataFiles(ordered, dir)
    (staged, ZoneMap.statsFor(df.sparkSession, dir, staged, numeric, strs))
  }
}
