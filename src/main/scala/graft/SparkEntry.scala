package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates one named, deterministic query per implemented
  * operator from SURVEY §2; `oracleSql` carries the DuckDB twin for every
  * SQL-expressible one (same column names, same ORDER BY).
  */
object SparkEntry {

  /** Flagship query (SURVEY §2 U1 — the reference's snapshot diff) on
    * sf=0.001; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_snapshot_diff")(spark, "/root/testdata/sf0.001")

  /** Every query module, each listed once. One entry per implemented
    * operator from SURVEY.md §2 comes from these modules' `queries`.
    */
  val modules: Seq[QueryModule] = Seq(
    ops.Core, ext.Relational, ml.GenderQueries, ext.TextAnalysis, ext.Dedup,
    ext.Similarity, ext.Multimodal, streaming.StreamDiff,
    streaming.Sessionize, sources.Ingest, ops.AsofJoin, streaming.WindowAgg,
    ops.SkewJoin, streaming.StreamDedup, ops.Formats, ops.RangeJoin,
    streaming.StreamJoin, lake.Merge, lake.Compact, ext.Profile,
    ext.Clusters, ext.Split, ops.BloomJoin, ext.EventAnalytics,
    lake.ManifestTable, pipeline.PipelineQueries, ext.Scrub, ext.Packing,
    ext.Quantize, lake.IncrementalAgg, lake.ZOrder, streaming.StreamIncrAgg,
    ext.Repetition, ext.Decontam, lake.History, ext.TimeSeries,
    ext.Temperature, lake.ZoneMap, streaming.StreamJdbc, ext.PageRank,
    lake.Evolution, lake.Vacuum, ext.SkewStats, streaming.StreamEnrich,
    lake.DeleteVectors, ops.FuzzyJoin, ext.Search, ext.LangModel,
    lake.TableDiff, lake.ChangeFeed, lake.Expectations, ops.DenseId,
    ops.JaroJoin, functions.TopKAgg, lake.BloomIndex, ext.Sketches, ext.Bpe,
    ext.Outliers, ext.Triangles, lake.IncrJoinView,
    streaming.StreamOuterJoin, ext.FreqPairs, lake.Branches, lake.Catalog,
    lake.HiddenPartition, streaming.StreamCatalog, lake.ColumnMap,
    ext.KMeans, sources.JdbcIncr, spark.GraftFormat, spark.GraftStream,
    spark.GraftSink, lake.Restore, lake.CopyInto, lake.Identity, sinks.Jdbc,
    ext.Url, sources.Warc, ext.DedupIncr, ext.Html, ops.Avro, ext.Drift,
    ext.Integrity, ext.KCore, ops.Skyline, lake.MetaTables,
    lake.RecordIndex, lake.ResultCache, streaming.StreamScd2,
    lake.ReplaceWhere, ext.Pq, ext.IvfPq, spark.GraftDml,
    spark.GraftSqlQueries, spark.GraftTableFunctions, lake.OptimizedWrite,
    ext.WeightedSample, ext.SemDedup, ext.QualityClassifier,
    ext.BinaryQuant, lake.RowTracking, lake.Wap, ext.Curriculum,
    ext.Anonymity, ext.Chat, ext.Mixture, ext.Selection, ext.ReleaseDiff,
    ext.ReleaseYield)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    register(modules.map(_.queries))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check.
    */
  lazy val oracleSql: Map[String, String] = register(modules.map(_.oracles))

  /** Union of the modules' maps; a name two modules both register is an
    * error rather than a silent last-one-wins.
    */
  private[graft] def register[V](maps: Seq[Map[String, V]]): Map[String, V] = {
    val dups = maps.flatMap(_.keys).groupBy(identity).collect {
      case (k, ks) if ks.size > 1 => k
    }
    require(dups.isEmpty,
      s"registered by more than one module: ${dups.toSeq.sorted.mkString(", ")}")
    maps.flatten.toMap
  }
}
