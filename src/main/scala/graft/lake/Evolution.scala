package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables
import graft.util.Exact.dsum

/** Schema evolution across manifest versions (X60): read a table's FULL
  * version history as one frame even when the schema drifted between
  * commits — columns added or dropped (X23's missing-column semantics)
  * and, new here, primitive types WIDENED (int→long, float→double) the
  * way long-lived lake tables actually drift. The reference rewrites its
  * snapshot wholesale each run, so its history is exactly where drift
  * accumulates (`script_api_apify_to_spark.py:218-234`).
  *
  * Reconciliation: for every column name, take the LEAST COMMON WIDER
  * type across versions along the safe ladder byte<short<int<long and
  * float<double (plus decimal precision/scale max) — lossless, so the
  * oracle can recompute each version's aggregate from source rows.
  * Anything else (e.g. long vs string) is a conflict and throws: silent
  * coercion is how lakes corrupt history.
  *
  * Scale shape: schema work happens on driver-side StructTypes (bytes per
  * version, via the manifests — no data read); the data path is per-file
  * parquet scans + `unionByName(allowMissingColumns)` + casts, one narrow
  * stage, no shuffle. Reading N versions costs N scans by definition —
  * it's a history read, not a snapshot read.
  */
object Evolution extends graft.QueryModule {

  /** Widen `a` and `b` to their least common type, or None if they
    * conflict.
    */
  private val intLadder = Seq[DataType](ByteType, ShortType, IntegerType, LongType)

  private[lake] def widen(a: DataType, b: DataType): Option[DataType] = (a, b) match {
    case _ if a == b => Some(a)
    case _ if intLadder.contains(a) && intLadder.contains(b) =>
      Some(intLadder(math.max(intLadder.indexOf(a), intLadder.indexOf(b))))
    case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
    case (dx: DecimalType, dy: DecimalType) =>
      val scale = math.max(dx.scale, dy.scale)
      val intDigits = math.max(dx.precision - dx.scale, dy.precision - dy.scale)
      Some(DecimalType(math.min(38, intDigits + scale), scale))
    // Everything else — including int↔float, which loses exactness for
    // big longs — is a conflict that needs an explicit migration.
    case _ => None
  }

  /** The widened union schema of all versions' schemas. */
  private[lake] def unifiedSchema(schemas: Seq[StructType]): StructType = {
    val names = schemas.flatMap(_.fields.map(_.name)).distinct
    StructType(names.map { n =>
      val types = schemas.flatMap(_.fields.find(_.name == n)).map(_.dataType)
      val t = types.reduceLeft { (acc, next) =>
        widen(acc, next).getOrElse(throw new IllegalArgumentException(
          s"column $n: cannot evolve $acc to $next — add an explicit migration"))
      }
      StructField(n, t, nullable = true)
    })
  }

  /** Every committed version, schema-reconciled, tagged with `version`.
    * Absent columns read as NULL; narrower columns are widened.
    */
  def readHistory(spark: SparkSession, dir: String): DataFrame = {
    val snaps = ManifestTable.snapshots(spark, dir)
    require(snaps.nonEmpty, s"no committed snapshot at $dir")
    val frames = snaps.map(s =>
      // X64 tombstones subtract before schema reconciliation, so a
      // history read sees each version exactly as readVersion serves it
      s.version -> DeleteVectors.applyTo(spark, dir, s,
        spark.read.parquet(s.files.map(f => s"$dir/$f"): _*)))
    val target = unifiedSchema(frames.map(_._2.schema))
    frames.map { case (v, df) =>
      val cols: Seq[Column] = target.fields.toSeq.map { f =>
        if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }
      df.select(cols: _*).withColumn("version", lit(v))
    }.reduceLeft(_ unionByName _)
  }

  /** X143: schema drift AUDIT — which columns appeared/disappeared at
    * every version, from parquet footers alone (no rows read): the
    * "when did `qty` vanish?" question history reads answer slowly and
    * audits need instantly. O(versions) driver-side schema reads.
    */
  def schemaHistory(spark: SparkSession, dir: String): DataFrame = {
    val snaps = ManifestTable.snapshots(spark, dir)
    require(snaps.nonEmpty, s"no committed snapshot at $dir")
    // mergeSchema: a version whose file list mixes schema eras (an
    // append after drift) must report the UNION of its files' columns —
    // without it the inferred schema comes from one arbitrary footer and
    // the audit mislabels exactly the drift it exists to expose. Still
    // footer-only: O(files) metadata reads, no rows.
    val schemas = snaps.map(s => s.version ->
      spark.read.option("mergeSchema", "true")
        .parquet(s.files.map(f => s"$dir/$f"): _*)
        .schema.fields.map(_.name).toSet)
    val rows = schemas.zip(Set.empty[String] +: schemas.map(_._2)).map {
      case ((v, cols), prev) =>
        (v.toLong, cols.size.toLong,
          (cols -- prev).toSeq.sorted.mkString(","),
          (prev -- cols).toSeq.sorted.mkString(","))
    }
    spark.createDataFrame(rows)
      .toDF("version", "n_cols", "added_cols", "removed_cols")
  }

  /** X248: reader/writer compatibility verdicts for every consecutive
    * schema transition in a committed timeline — the Avro/protobuf
    * compat-checker discipline applied to lake table history. Per
    * transition: column adds/removes, safe widenings (the [[widen]]
    * ladder), broken retypes, and the verdict:
    *   - backward-compatible (a NEW-schema reader reads OLD data): holds
    *     unless a common column retyped outside the ladder or narrowed —
    *     adds read as NULL, removes are never asked for, widenings cast
    *     up losslessly;
    *   - forward-compatible (an OLD-schema reader reads NEW data): holds
    *     only for pure additions — removals and retypes (even widenings:
    *     an int reader cannot represent the new longs) break it.
    * Footer-only metadata work, O(versions) driver-side schema reads —
    * no rows touched, like X143.
    */
  def compatTransitions(spark: SparkSession, dir: String): DataFrame = {
    val snaps = ManifestTable.snapshots(spark, dir)
    require(snaps.size >= 2, s"need >= 2 committed versions at $dir")
    val schemas = snaps.map(s => s.version ->
      spark.read.option("mergeSchema", "true")
        .parquet(s.files.map(f => s"$dir/$f"): _*).schema)
    val rows = schemas.sliding(2).map { case Seq((v1, s1), (v2, s2)) =>
      val f1 = s1.fields.map(f => f.name -> f.dataType).toMap
      val f2 = s2.fields.map(f => f.name -> f.dataType).toMap
      val common = f1.keySet intersect f2.keySet
      val widened = common.count(n =>
        f1(n) != f2(n) && widen(f1(n), f2(n)).contains(f2(n)))
      val broken = common.count(n =>
        f1(n) != f2(n) && !widen(f1(n), f2(n)).contains(f2(n)))
      val (added, removed) = ((f2.keySet -- f1.keySet).size, (f1.keySet -- f2.keySet).size)
      val backwardOk = broken == 0
      val forwardOk = removed == 0 && widened == 0 && broken == 0
      val verdict = (backwardOk, forwardOk) match {
        case (true, true) => "full"
        case (true, false) => "backward"
        case (false, true) => "forward"
        case _ => "none"
      }
      (v1.toLong, v2.toLong, added.toLong, removed.toLong,
        widened.toLong, broken.toLong, verdict)
    }.toSeq
    spark.createDataFrame(rows).toDF("from_v", "to_v", "n_added",
      "n_removed", "n_widened", "n_broken", "verdict")
  }

  val queries: Map[String, Q] = Map(
    // Three commits with drifting schemas — v1 (key, qty int), v2 widens
    // qty to long and adds price, v3 drops qty — read back as one history
    // and aggregated per version. The oracle recomputes each version's
    // slice straight from orders.
    "q_schema_evolution" -> ((s, d) => {
      val dir = graft.util.FixtureCache.dir("evolution_hist", d) { dir =>
        val o = Tables.orders(s, d)
        ManifestTable.commit(
          o.where(col("o_orderkey") % 3 === 0)
            .select(col("o_orderkey"), col("o_custkey").cast("int").as("qty")),
          dir, 20250501, 900)
        ManifestTable.commit(
          o.where(col("o_orderkey") % 3 === 1)
            .select(col("o_orderkey"), col("o_custkey").cast("long").as("qty"),
              col("o_totalprice").as("price")),
          dir, 20250501, 1000)
        ManifestTable.commit(
          o.where(col("o_orderkey") % 3 === 2)
            .select(col("o_orderkey"), col("o_totalprice").as("price")),
          dir, 20250501, 1100)
      }
      readHistory(s, dir)
        .groupBy("version")
        .agg(
          count(lit(1)).as("n_rows"),
          sum("qty").as("sum_qty"), // null for v3 — absent column
          dsum(col("price")).as("sum_price")) // null for v1
        .orderBy("version")
    }),

    // X143: the drift audit over the same timeline — per version, which
    // columns appeared and disappeared, from footers alone. Oracle is
    // the timeline's literal truth.
    "q_schema_history" -> ((s, d) => {
      val dir = graft.util.FixtureCache.dir("evolution_hist", d) { dir =>
        val o = Tables.orders(s, d)
        ManifestTable.commit(
          o.where(col("o_orderkey") % 3 === 0)
            .select(col("o_orderkey"), col("o_custkey").cast("int").as("qty")),
          dir, 20250501, 900)
        ManifestTable.commit(
          o.where(col("o_orderkey") % 3 === 1)
            .select(col("o_orderkey"), col("o_custkey").cast("long").as("qty"),
              col("o_totalprice").as("price")),
          dir, 20250501, 1000)
        ManifestTable.commit(
          o.where(col("o_orderkey") % 3 === 2)
            .select(col("o_orderkey"), col("o_totalprice").as("price")),
          dir, 20250501, 1100)
      }
      schemaHistory(s, dir).orderBy("version")
    }),

    // X248: a 5-commit timeline exercising every verdict class —
    // widen+add (backward), remove (backward), conflicting retype
    // (none), pure add (full) — with the verdicts DERIVED from footers
    // through the widen ladder; the oracle is the timeline's literal
    // truth. This fixture is separate from evolution_hist because its
    // v4 retype (double→string) is exactly the conflict readHistory
    // refuses to widen through.
    "q_schema_compat" -> ((s, d) => {
      val dir = graft.util.FixtureCache.dir("compat_hist", d) { dir =>
        val o = Tables.orders(s, d).where(col("o_orderkey") % 7 === 0)
        val base = o.select(col("o_orderkey"))
        ManifestTable.commit(
          base.withColumn("qty", lit(1).cast("int")), dir, 20250601, 900)
        ManifestTable.commit(
          base.withColumn("qty", lit(1).cast("long"))
            .withColumn("price", lit(2.5d)), dir, 20250601, 1000)
        ManifestTable.commit(
          base.withColumn("price", lit(2.5d)), dir, 20250601, 1100)
        ManifestTable.commit(
          base.withColumn("price", lit("2.5")), dir, 20250601, 1200)
        ManifestTable.commit(
          base.withColumn("price", lit("2.5"))
            .withColumn("note", lit("x")), dir, 20250601, 1300)
      }
      compatTransitions(s, dir).orderBy("from_v")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_schema_compat" ->
      """SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS from_v, CAST(2 AS BIGINT) AS to_v,
        |         CAST(1 AS BIGINT) AS n_added, CAST(0 AS BIGINT) AS n_removed,
        |         CAST(1 AS BIGINT) AS n_widened, CAST(0 AS BIGINT) AS n_broken,
        |         'backward' AS verdict
        |  UNION ALL SELECT 2, 3, 0, 1, 0, 0, 'backward'
        |  UNION ALL SELECT 3, 4, 0, 0, 0, 1, 'none'
        |  UNION ALL SELECT 4, 5, 1, 0, 0, 0, 'full'
        |) ORDER BY from_v""".stripMargin,

    "q_schema_history" ->
      """SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS version, CAST(2 AS BIGINT) AS n_cols,
        |         'o_orderkey,qty' AS added_cols, '' AS removed_cols
        |  UNION ALL SELECT 2, 3, 'price', ''
        |  UNION ALL SELECT 3, 2, '', 'qty'
        |) ORDER BY version""".stripMargin,

    "q_schema_evolution" ->
      """SELECT * FROM (
        |  SELECT 1 AS version, count(*) AS n_rows,
        |         CAST(sum(o_custkey) AS BIGINT) AS sum_qty,
        |         CAST(NULL AS DOUBLE) AS sum_price
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT 2, count(*), CAST(sum(o_custkey) AS BIGINT),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 3 = 1
        |  UNION ALL
        |  SELECT 3, count(*), CAST(NULL AS BIGINT),
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 3 = 2
        |) ORDER BY version""".stripMargin,
  )
}
