package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** In-place import of an existing parquet directory (extension X193) —
  * Delta's `CONVERT TO DELTA`: at 100 TB you cannot re-copy a dataset
  * into the lake, so conversion writes ONE manifest referencing the
  * files WHERE THEY ALREADY ARE — zero data bytes moved, and the
  * directory is a full graft table from that commit on (time travel,
  * DML, constraints, maintenance, streaming all compose; X189 ANALYZE
  * lights up pruning when wanted).
  *
  * Contract: refuses when the directory already has committed versions
  * (converting a live table would fork its history); refuses when no
  * parquet files are found (converting emptiness is an upstream bug);
  * hidden files and metadata dirs (leading `.`/`_`, our own sidecar
  * dirs) are excluded exactly as Spark's own file index excludes them.
  * The first version is `op = "convert"` so DESCRIBE HISTORY shows the
  * provenance.
  */
object Convert {

  def convert(spark: SparkSession, dir: String, date: Int, time: Int): Int = {
    require(ManifestTable.latestVersion(spark, dir).isEmpty,
      s"already a graft table at $dir — CONVERT would fork its history")
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"no such directory: $dir")
    def hidden(name: String) = name.startsWith(".") || name.startsWith("_")
    def walk(p: Path): Seq[Path] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (hidden(st.getPath.getName)) Nil
        else if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st.getPath)
        else Nil
      }
    val rootUri = root.toUri.getPath.stripSuffix("/")
    val files = walk(root)
      .map(_.toUri.getPath.stripPrefix(rootUri).stripPrefix("/"))
      .sorted
    require(files.nonEmpty, s"no parquet files to convert at $dir")
    ManifestTable.commitManifest(spark, dir, None, date, time, files,
      op = "convert")
  }
}
