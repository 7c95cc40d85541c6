package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Hidden partitioning via partition TRANSFORMS (extension X100) — the
  * Iceberg idea: the table declares `days(ts)` / `bucket(n, key)` /
  * `truncate(w, col)` transforms once at write time, queries keep
  * filtering on the RAW columns, and the reader derives the matching
  * partition predicate mechanically. The reference's layout bakes the
  * run date into directory names and makes every consumer spell the
  * date math out by hand (`scripts/script_api_apify_to_spark.py:125-137`)
  * — the failure mode Iceberg calls out: users who forget the partition
  * column full-scan the table.
  *
  * Why this matters at 100 TB: directory-level partition pruning is the
  * cheapest filter in the stack — it happens on the DRIVER against
  * listing metadata, before any task launches or any footer is read
  * (zone maps (X57) and bloom sidecars (X81) still prune WITHIN the
  * surviving partitions). `days(ts)` keeps time-range scans proportional
  * to the range; `bucket(n, key)` turns point lookups into single-
  * directory reads and enables storage-partitioned joins (X12).
  *
  * Derivation rules (each transform is monotone or exact on its raw
  * column, which is what makes the rewrite sound):
  *   - `day`:       ts ∈ [lo, hi]  ⇒  p_day ∈ [date(lo), date(hi)]
  *   - `bucket(n)`: key = v        ⇒  p_bucket = murmur3(v) mod n
  *   - `truncate(w)`: x ∈ [lo, hi] ⇒  p_trunc ∈ [⌊lo/w⌋w, ⌊hi/w⌋w]
  * Range predicates on a bucket transform derive nothing (hashing is not
  * monotone) — they fall back to row filtering within all partitions,
  * exactly Iceberg's behavior.
  */
object HiddenPartition extends graft.QueryModule {

  /** One declared transform; `param` is n for bucket, w for truncate. */
  case class Transform(col: String, kind: String, param: Long = 0) {
    def pcol: String = kind match {
      case "day" => s"p_${col}_day"
      case "bucket" => s"p_${col}_b$param"
      case "truncate" => s"p_${col}_t$param"
    }
    def apply(c: Column): Column = kind match {
      case "day" => to_date(c)
      case "bucket" => pmod(hash(c), lit(param.toInt))
      case "truncate" => floor(c / param) * param
    }
  }

  /** Raw-column predicates the deriver understands. */
  sealed trait Pred { def col: String }
  case class Eq(col: String, value: Any) extends Pred
  case class Between(col: String, lo: Any, hi: Any) extends Pred

  private def specPath(dir: String) = s"$dir/_partition.json"

  /** Write `df` partitioned by the declared transforms, persisting the
    * transform spec beside the data so readers never re-guess it.
    */
  def write(df: DataFrame, dir: String, transforms: Seq[Transform]): Unit = {
    val out = transforms.foldLeft(df)((d, t) => d.withColumn(t.pcol, t(col(t.col))))
    // cluster rows by partition value before the partitioned write:
    // without it every input task writes a sliver into every partition
    // dir (tasks × partitions small files — the classic small-files
    // problem; at 100 TB it also floods the namenode/listing path)
    out.repartition(transforms.map(t => col(t.pcol)): _*)
      .write.mode("overwrite").partitionBy(transforms.map(_.pcol): _*)
      .parquet(s"$dir/data")
    val fs = ManifestTable.fsFor(df.sparkSession, dir)
    val body = transforms.map(t =>
      s"""{"col": "${t.col}", "kind": "${t.kind}", "param": ${t.param}}""")
      .mkString("[", ", ", "]")
    val os = fs.create(new Path(specPath(dir)), true)
    try os.write(s"""{"transforms": $body}""".getBytes("UTF-8")) finally os.close()
  }

  def transformsOf(spark: SparkSession, dir: String): Seq[Transform] = {
    val fs = ManifestTable.fsFor(spark, dir)
    val in = fs.open(new Path(specPath(dir)))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    implicit val fmts: Formats = DefaultFormats
    (JsonMethods.parse(text) \ "transforms").extract[Seq[JValue]].map { j =>
      Transform((j \ "col").extract[String], (j \ "kind").extract[String],
        (j \ "param").extract[Long])
    }
  }

  /** The derived PARTITION predicate for one raw predicate under one
    * transform — None when the transform cannot serve it (range over a
    * hash bucket). Literal-only expressions: Catalyst constant-folds
    * them, so they land in PartitionFilters and prune directories on the
    * driver.
    */
  private def derive(t: Transform, p: Pred): Option[Column] = (t.kind, p) match {
    case (_, Eq(_, v)) =>
      Some(col(t.pcol) === t(lit(v))) // exact: same transform, same value
    case ("bucket", _) => None // hash is not monotone — no range mapping
    case (_, Between(_, lo, hi)) =>
      Some(col(t.pcol).between(t(lit(lo)), t(lit(hi)))) // monotone transforms
  }

  private def rowFilter(p: Pred): Column = p match {
    case Eq(c, v) => col(c) === lit(v)
    case Between(c, lo, hi) => col(c).between(lit(lo), lit(hi))
  }

  /** One layout's pruned scan: every predicate applies as a row filter,
    * and each one matching a declared transform ALSO applies as a derived
    * partition predicate (directory pruning). Partition columns stay
    * hidden — the result has the raw schema.
    */
  private def scanLayout(spark: SparkSession, dataPath: String,
      ts: Seq[Transform], preds: Seq[Pred],
      cachedSchema: Boolean): DataFrame = {
    // cachedSchema skips the per-call schema inference over the
    // partitioned tree (footer read + partition-type discovery on the
    // driver, per generation per probe) via SchemaCache — sound only for
    // dirs that are IMMUTABLE once built (the queries' memoized
    // fixtures); a mutating table keeps the live read. File listings are
    // already served by Spark's shared FileStatusCache either way.
    val raw = if (cachedSchema) graft.sources.Tables.cachedParquet(spark, dataPath)
      else spark.read.parquet(dataPath)
    val derived = for (p <- preds; t <- ts if t.col == p.col; d <- derive(t, p)) yield d
    val filtered = (preds.map(rowFilter) ++ derived)
      .foldLeft(raw)((d, f) => d.where(f))
    filtered.drop(ts.map(_.pcol): _*)
  }

  /** Scan a single-spec table written by [[write]]. */
  def scan(spark: SparkSession, dir: String, preds: Seq[Pred],
      cachedSchema: Boolean = false): DataFrame =
    scanLayout(spark, s"$dir/data", transformsOf(spark, dir), preds, cachedSchema)

  // ---- partition-spec EVOLUTION (X103): the Iceberg headline case -----
  //
  // A table's partitioning is a tuning decision, not a schema fact — a
  // year of day-partitioned history should not need rewriting when the
  // workload outgrows it. Each spec change starts a new GENERATION
  // (g0, g1, ...): old generations keep their layout and their files
  // untouched, new data lands under the new spec, and a scan prunes each
  // generation with the predicates ITS OWN transforms can serve, then
  // unions the raw-schema results. Queries never mention partitioning, so
  // they are oblivious to the evolution — exactly Iceberg's contract.

  private def gensPath(dir: String) = s"$dir/_generations.json"

  /** The evolution spec: ordered generations, each with its transforms. */
  def generationsOf(spark: SparkSession, dir: String): Seq[Seq[Transform]] = {
    val fs = ManifestTable.fsFor(spark, dir)
    if (!fs.exists(new Path(gensPath(dir)))) return Seq.empty
    val in = fs.open(new Path(gensPath(dir)))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    implicit val fmts: Formats = DefaultFormats
    (JsonMethods.parse(text) \ "generations").extract[Seq[JValue]].map { g =>
      (g \ "transforms").extract[Seq[JValue]].map { j =>
        Transform((j \ "col").extract[String], (j \ "kind").extract[String],
          (j \ "param").extract[Long])
      }
    }
  }

  /** Write `df` under `transforms`, starting a NEW generation when the
    * spec differs from the latest one (appending into the latest
    * generation's layout when it matches). Old generations' files are
    * never touched — evolution is a metadata append plus a directory.
    */
  def writeEvolved(df: DataFrame, dir: String, transforms: Seq[Transform]): Unit = {
    val spark = df.sparkSession
    val gens = generationsOf(spark, dir)
    val (gid, newGens) =
      if (gens.nonEmpty && gens.last == transforms) (gens.size - 1, gens)
      else (gens.size, gens :+ transforms)
    val out = transforms.foldLeft(df)((d, t) => d.withColumn(t.pcol, t(col(t.col))))
    out.repartition(transforms.map(t => col(t.pcol)): _*) // see write()
      .write.mode("append").partitionBy(transforms.map(_.pcol): _*)
      .parquet(s"$dir/g$gid/data")
    val fs = ManifestTable.fsFor(spark, dir)
    val body = newGens.zipWithIndex.map { case (ts, i) =>
      val tbody = ts.map(t =>
        s"""{"col": "${t.col}", "kind": "${t.kind}", "param": ${t.param}}""")
        .mkString("[", ", ", "]")
      s"""{"id": $i, "transforms": $tbody}"""
    }.mkString("[", ", ", "]")
    val os = fs.create(new Path(gensPath(dir)), true)
    try os.write(s"""{"generations": $body}""".getBytes("UTF-8")) finally os.close()
  }

  /** Scan an evolved table: each generation prunes with the predicates
    * its own spec serves (an old day-partitioned generation still prunes
    * time ranges after the table evolved to day+bucket), and the raw-
    * schema results union. Generations whose layout serves NONE of a
    * predicate's transforms still row-filter correctly — pruning is an
    * optimization, never a semantic.
    */
  def scanEvolved(spark: SparkSession, dir: String, preds: Seq[Pred],
      cachedSchema: Boolean = false): DataFrame =
    generationsOf(spark, dir).zipWithIndex
      .map { case (ts, gid) =>
        scanLayout(spark, s"$dir/g$gid/data", ts, preds, cachedSchema) }
      .reduce(_ unionByName _)

  /** Events written under three transform layouts (`days(ts)`,
    * `bucket(8, user_id)`, `truncate(500, event_id)` — one transform per
    * layout: stacking all three would shatter the table into
    * days×buckets×widths near-empty directories, the small-files failure
    * Iceberg's spec warns against); three raw-predicate scans (time
    * range, user point lookup, id band) must each return exactly the
    * plain-SQL rows while pruning directories (pinned in the spec).
    */
  val queries: Map[String, Q] = Map(
    "q_hidden_partition" -> ((s, d) => {
      import graft.util.Exact.dsum
      val dir = fixtureDir(s, d)
      def agg(tag: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_val"))
          .select(lit(tag).as("probe"), col("n_rows"), col("sum_val"))
      // fixture dirs are immutable after the memoized build — schema
      // inference runs once per (session, layout), not per probe per run
      val byTime = scan(s, s"$dir/bytime", Seq(Between("ts",
        java.sql.Timestamp.valueOf("2024-01-10 00:00:00"),
        java.sql.Timestamp.valueOf("2024-01-12 23:59:59.999999"))),
        cachedSchema = true)
      val byUser = scan(s, s"$dir/byuser", Seq(Eq("user_id", 101L)),
        cachedSchema = true)
      val byId = scan(s, s"$dir/byid", Seq(Between("event_id", 2500L, 3499L)),
        cachedSchema = true)
      agg("id_band", byId)
        .unionByName(agg("time_range", byTime))
        .unionByName(agg("user_point", byUser))
        .orderBy("probe")
    }),
    // Evolution (X103): half the events landed day-partitioned (g0), the
    // other half after the spec evolved to day+bucket (g1). The probes
    // never mention partitioning; the oracle is plain SQL over the whole
    // table — evolution must be invisible to results, and each
    // generation prunes with whatever its own spec serves.
    "q_partition_evolution" -> ((s, d) => {
      import graft.util.Exact.dsum
      val dir = evoFixtureDir(s, d)
      def agg(tag: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_val"))
          .select(lit(tag).as("probe"), col("n_rows"), col("sum_val"))
      val byTime = scanEvolved(s, dir, Seq(Between("ts",
        java.sql.Timestamp.valueOf("2024-01-05 00:00:00"),
        java.sql.Timestamp.valueOf("2024-01-07 23:59:59.999999"))),
        cachedSchema = true)
      val byUser = scanEvolved(s, dir, Seq(Eq("user_id", 77L)),
        cachedSchema = true)
      agg("time_range", byTime)
        .unionByName(agg("user_point", byUser))
        .orderBy("probe")
    }),
  )

  private[lake] def evoFixtureDir(s: SparkSession, d: String): String =
    graft.util.FixtureCache.dir("hidden_evo", d) { dir =>
      val ev = graft.sources.Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value")
      writeEvolved(ev.where(col("event_id") % 2 === 0), dir,
        Seq(Transform("ts", "day")))
      writeEvolved(ev.where(col("event_id") % 2 === 1), dir,
        Seq(Transform("ts", "day"), Transform("user_id", "bucket", 8)))
    }

  /** X195 — `SHOW PARTITIONS`: the physical partition directories of a
    * hidden-partitioned layout, from ONE driver-side listing per
    * transform level (no Spark job, no data bytes — partition count,
    * not row count, bounds the cost). Evolved tables report every
    * generation's directories under its generation id; the spec answers
    * "what does the layout actually hold" before an operator trusts a
    * pruning plan — Iceberg's `partitions` metadata-table shape.
    */
  def showPartitions(spark: SparkSession, dir: String): Seq[(Int, String)] = {
    val fs = ManifestTable.fsFor(spark, dir)
    def walk(base: Path, depth: Int): Seq[String] =
      if (depth == 0) Seq("")
      else if (!fs.exists(base)) Nil
      else fs.listStatus(base).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .flatMap(st => walk(st.getPath, depth - 1).map(rest =>
          st.getPath.getName + (if (rest.isEmpty) "" else s"/$rest")))
    val gens = generationsOf(spark, dir)
    if (gens.nonEmpty)
      gens.zipWithIndex.flatMap { case (ts, gid) =>
        walk(new Path(s"$dir/g$gid/data"), ts.size).map(gid -> _) }
    else {
      require(fs.exists(new Path(specPath(dir))),
        s"no hidden-partition spec at $dir")
      walk(new Path(s"$dir/data"), transformsOf(spark, dir).size).map(0 -> _)
    }
  }

  private[graft] def fixtureDir(s: SparkSession, d: String): String =
    graft.util.FixtureCache.dir("hidden_part", d) { dir =>
      val ev = graft.sources.Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value")
      write(ev, s"$dir/bytime", Seq(Transform("ts", "day")))
      write(ev, s"$dir/byuser", Seq(Transform("user_id", "bucket", 8)))
      // truncate width scales with the id domain to keep ~200 directories
      // at any corpus size: a FIXED width is the over-granular-spec trap
      // (10M ids / 500 = 20k near-empty dirs at 100× — the small-files
      // failure X103 partition evolution exists to repair); a sane spec
      // bounds partition count, not partition width. Floors at 500 so the
      // test-scale layout (and its pruning pins) is unchanged.
      val maxId = ev.agg(org.apache.spark.sql.functions.max("event_id"))
        .head.getLong(0)
      val width = math.max(500L, maxId / 200).toInt
      write(ev, s"$dir/byid", Seq(Transform("event_id", "truncate", width)))
    }

  val oracles: Map[String, String] = Map(
    "q_hidden_partition" ->
      """SELECT * FROM (
        |  SELECT 'id_band' AS probe, count(*) AS n_rows,
        |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        |  FROM events WHERE event_id BETWEEN 2500 AND 3499
        |  UNION ALL
        |  SELECT 'time_range', count(*),
        |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM events WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
        |                           AND TIMESTAMP '2024-01-12 23:59:59.999999'
        |  UNION ALL
        |  SELECT 'user_point', count(*),
        |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM events WHERE user_id = 101
        |) ORDER BY probe""".stripMargin,
    "q_partition_evolution" ->
      """SELECT * FROM (
        |  SELECT 'time_range' AS probe, count(*) AS n_rows,
        |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        |  FROM events WHERE ts BETWEEN TIMESTAMP '2024-01-05 00:00:00'
        |                           AND TIMESTAMP '2024-01-07 23:59:59.999999'
        |  UNION ALL
        |  SELECT 'user_point', count(*),
        |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM events WHERE user_id = 77
        |) ORDER BY probe""".stripMargin,
  )
}
