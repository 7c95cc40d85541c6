package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One module's slice of the driver contract: its named queries and the
  * DuckDB oracle SQL for the SQL-expressible ones. [[SparkEntry]] lists
  * every module once and derives the inventory from that list.
  */
trait QueryModule {
  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q]
  def oracles: Map[String, String]
}
