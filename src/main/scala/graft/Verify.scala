package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each selected query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: `Verify <sfDir> <outDir>`; `SPARK_GRAFT_QUERIES` picks a subset.
  * Exits 1, naming the failed queries, when any query threw — after every
  * other result and oracle_sql.json are written.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    val selected = Harness.selected
    val failed = selected.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} of ${selected.size} queries failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}
