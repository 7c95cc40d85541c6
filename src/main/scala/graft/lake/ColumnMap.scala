package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.sources.Tables
import graft.util.{Exact, FixtureCache}

/** Column mapping — rename/drop/re-add columns by FIELD ID, metadata-only
  * (extension X110; the Delta "column mapping" / Iceberg field-id feature).
  *
  * X60 reconciles schemas by NAME, which is the right default but makes a
  * rename indistinguishable from a drop+add: rename `price` to `amount`
  * by name and every already-written file's `price` column goes dark.
  * The lake answer (Iceberg spec §Schemas, Delta columnMapping=name) is a
  * level of indirection: each column gets an immutable FIELD ID at birth;
  * files forever store the PHYSICAL name the field had when they were
  * written; the table maps id -> (logical name, physical name, type); and
  * a rename rewrites ONLY the tiny mapping — zero data files touched, old
  * files keep serving the renamed column under its old physical name.
  *
  * Drop + re-add is the sharp edge this design exists for: dropping a
  * field removes its id from the mapping (files still hold the bytes —
  * X61 vacuum reclaims them with their versions), and RE-adding a column
  * with the same logical name mints a NEW id with a FRESH physical name
  * (`name_<id>`), so the old bytes can never resurrect under the new
  * column — exactly Delta's no-resurrection guarantee.
  *
  * Mechanics over the X39 log: mapping JSON lives at `_colmap/v<N>.json`,
  * written BEFORE the manifest commit of the same version (a crash
  * between the two leaves an orphan mapping that no committed manifest
  * resolves to — invisible, same staged-data story as X39). Readers
  * resolve snapshot version -> newest mapping at-or-below it, so time
  * travel serves each version under the logical names it had THEN.
  * Schema-change commits (rename/drop/add) reuse the parent's exact file
  * list with `op` recording the kind — the X102 commit log shows them as
  * the metadata-only operations they are.
  *
  * Scale shape: a rename on a 100 TB table writes one JSON of a few
  * hundred bytes and one manifest — O(columns), not O(data). Reads add a
  * footer-merged schema union (`mergeSchema` — metadata, no row reading)
  * plus a per-column alias projection that Catalyst folds into the scan.
  */
object ColumnMap extends graft.QueryModule {

  /** One mapped column. `dtype` is the Spark DDL type string, used to
    * type the NULL projection for files written before the field existed.
    * `default` (X198) is the EXISTENCE default: rows from files that
    * physically lack the column serve this literal instead of NULL —
    * Delta's `ADD COLUMN … DEFAULT` semantics, where an explicit NULL
    * written after the column existed stays NULL (per-FILE presence,
    * never a value-level coalesce).
    * `gen` (X204) is a GENERATED ALWAYS AS expression (SQL over the
    * table's logical names): writes that omit the column get it computed,
    * writes that provide it are validated row-for-row against the
    * expression (Delta's generated-column contract), and files written
    * before the column existed compute it at read time.
    */
  case class Field(id: Int, logical: String, physical: String, dtype: String,
      default: Option[String] = None, gen: Option[String] = None)

  private def mapDir(dir: String) = s"$dir/_colmap"
  private def mapName(version: Int) = f"v$version%08d.json"
  private val MapRe = """v(\d{8})\.json""".r

  private def writeMapping(spark: SparkSession, dir: String, version: Int,
      fields: Seq[Field]): Unit = {
    val fs = ManifestTable.fsFor(spark, dir)
    fs.mkdirs(new Path(mapDir(dir)))
    def esc(v: String) = v.replace("\\", "\\\\").replace("\"", "\\\"")
    val body = fields.map { f =>
      val d = f.default.map(v => s""", "default": "${esc(v)}"""").getOrElse("")
      val g = f.gen.map(v => s""", "gen": "${esc(v)}"""").getOrElse("")
      s"""{"id": ${f.id}, "logical": "${f.logical}", "physical": "${f.physical}", "dtype": "${f.dtype}"$d$g}"""
    }.mkString("[", ", ", "]")
    val out = fs.create(new Path(mapDir(dir), mapName(version)), true)
    try out.write(s"""{"version": $version, "fields": $body}""".getBytes("UTF-8"))
    finally out.close()
  }

  /** All mapping versions, oldest first. */
  private def mappings(spark: SparkSession, dir: String): Seq[(Int, Seq[Field])] = {
    val fs = ManifestTable.fsFor(spark, dir)
    val md = new Path(mapDir(dir))
    if (!fs.exists(md)) return Seq.empty
    fs.listStatus(md).toSeq
      .flatMap(s => s.getPath.getName match {
        case MapRe(_) => Some(s.getPath)
        case _ => None
      })
      .map { p =>
        val in = fs.open(p)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        implicit val fmts: Formats = DefaultFormats
        val j = JsonMethods.parse(text)
        (j \ "version").extract[Int] ->
          (j \ "fields").extract[Seq[JValue]].map(f => Field(
            (f \ "id").extract[Int], (f \ "logical").extract[String],
            (f \ "physical").extract[String], (f \ "dtype").extract[String],
            (f \ "default").extractOpt[String], (f \ "gen").extractOpt[String]))
      }
      .sortBy(_._1)
  }

  /** The mapping in force at snapshot `version`: newest at-or-below it.
    * Orphan mappings above the resolved snapshot (crash leftovers) are
    * unreachable by construction.
    */
  def mappingAt(spark: SparkSession, dir: String, version: Int): Seq[Field] = {
    val ms = mappings(spark, dir).filter(_._1 <= version)
    require(ms.nonEmpty, s"no column mapping at or below version $version in $dir")
    ms.last._2
  }

  /** X215 — schema-first table: commit an EMPTY version 1 whose schema
    * lives entirely in the mapping (no data files to infer from), the
    * `CREATE TABLE (cols)` / INSERT-later workflow. Column types are
    * validated as Spark DDL at declaration.
    */
  def createEmpty(spark: SparkSession, dir: String,
      cols: Seq[(String, String)], date: Int, time: Int): Int = {
    require(ManifestTable.latestVersion(spark, dir).isEmpty,
      s"table already exists at $dir")
    require(cols.nonEmpty, "a table needs at least one column")
    require(cols.map(_._1).distinct.size == cols.size,
      s"duplicate column names in ${cols.map(_._1).mkString(", ")}")
    val fields = cols.zipWithIndex.map { case ((n, t), i) =>
      val dt = try org.apache.spark.sql.types.DataType.fromDDL(t)
        catch { case _: Exception => throw new IllegalArgumentException(
          s"unknown column type '$t' for '$n'") }
      Field(i + 1, n, n, dt.catalogString)
    }
    writeMapping(spark, dir, 1, fields)
    ManifestTable.commitManifest(spark, dir, 1, date, time, Nil)
    1
  }

  /** First commit: field ids 1..n in column order, physical = logical. */
  def create(df: DataFrame, dir: String, date: Int, time: Int): Int = {
    val spark = df.sparkSession
    require(ManifestTable.latestVersion(spark, dir).isEmpty,
      s"table already exists at $dir")
    val fields = df.schema.fields.zipWithIndex.map { case (f, i) =>
      Field(i + 1, f.name, f.name, f.dataType.catalogString)
    }.toSeq
    writeMapping(spark, dir, 1, fields)
    ManifestTable.commit(df, dir, date, time)
  }

  /** Append rows addressed by LOGICAL names; stored under the fields'
    * physical names so files stay rename-proof.
    */
  def append(df: DataFrame, dir: String, date: Int, time: Int): Int = {
    val spark = df.sparkSession
    val v = ManifestTable.latestVersion(spark, dir).getOrElse(
      throw new NoSuchElementException(s"no table at $dir"))
    val fields = mappingAt(spark, dir, v)
    val logical = fields.map(_.logical)
    // X204: a write may OMIT generated columns — they are computed here
    val withGen = fields
      .filter(f => f.gen.isDefined && !df.columns.contains(f.logical))
      .foldLeft(df)((d, f) => d.withColumn(f.logical, expr(f.gen.get).cast(f.dtype)))
    require(withGen.columns.toSet == logical.toSet,
      s"append columns ${withGen.columns.sorted.mkString(",")} != table columns ${logical.sorted.mkString(",")}")
    val physical = withGen.select(fields.map(f => col(f.logical).as(f.physical)): _*)
    val provided = fields.filter(f => f.gen.isDefined && df.columns.contains(f.logical))
    if (provided.isEmpty) ManifestTable.appendRetrying(physical, dir, date, time)
    else {
      // X204: a write that PROVIDES a generated column must agree with
      // the expression row-for-row. Stage first and validate the STAGED
      // bytes (the X172/X180 containment discipline — a non-deterministic
      // batch cannot pass validation yet commit different values), then
      // publish exactly those bytes or drop them on refusal.
      val staged = ManifestTable.stageDataFiles(physical, dir)
      val logicalView = spark.read
        .parquet(staged.map(f => s"$dir/$f"): _*)
        .select(fields.map(f => col(f.physical).cast(f.dtype).as(f.logical)): _*)
      val bad = provided.map(f => sum(when(
        not(col(f.logical) <=> expr(f.gen.get).cast(f.dtype)), 1L)
        .otherwise(0L)).as(f.logical))
      val row = logicalView.agg(bad.head, bad.tail: _*).head
      val viol = provided.zipWithIndex
        .collect { case (f, i) if row.getLong(i) > 0 => s"${f.logical} (${row.getLong(i)} rows)" }
      if (viol.nonEmpty) {
        ManifestTable.dropStaged(spark, dir, staged)
        throw new IllegalArgumentException(
          s"generated column values conflict with their expressions: ${viol.mkString(", ")}")
      }
      ManifestTable.appendStagedRetrying(spark, dir, date, time, staged)
    }
  }

  /** X208 — automatic schema evolution on write (Delta's `mergeSchema`
    * append): columns the batch carries that the table lacks are ADDED
    * to the mapping (fresh field ids, rename-proof physical names) in
    * the SAME commit that lands the data — one atomic version, no
    * schema-then-data window where a reader could see half the change.
    * Columns the table has that the batch lacks land as typed NULLs
    * (generated columns compute instead — the X204 rule). Like every
    * schema change here this is a single-writer surface: a lost commit
    * race refuses loudly rather than leaving an orphan mapping that a
    * concurrent writer's version could adopt.
    */
  def appendEvolve(df: DataFrame, dir: String, date: Int, time: Int): Int = {
    val spark = df.sparkSession
    val snap = ManifestTable.snapshots(spark, dir).lastOption.getOrElse(
      throw new NoSuchElementException(s"no table at $dir"))
    val fields = mappingAt(spark, dir, snap.version)
    val extra = df.schema.fields.toSeq
      .filterNot(f => fields.exists(_.logical == f.name))
    val maxId = fields.map(_.id).max
    val evolved = fields ++ extra.zipWithIndex.map { case (f, i) =>
      Field(maxId + 1 + i, f.name, s"${f.name}_${maxId + 1 + i}",
        f.dataType.catalogString)
    }
    // widen the batch to the evolved schema: absent plain columns are
    // typed NULLs, absent generated columns compute (X204)
    val widened = evolved
      .filterNot(f => df.columns.contains(f.logical))
      .foldLeft(df)((d, f) => d.withColumn(f.logical, f.gen match {
        case Some(g) => expr(g).cast(f.dtype)
        case None => lit(null).cast(f.dtype)
      }))
    val physical = widened.select(
      evolved.map(f => col(f.logical).cast(f.dtype).as(f.physical)): _*)
    val staged = ManifestTable.stageDataFiles(physical, dir)
    val v = snap.version + 1
    if (extra.nonEmpty) writeMapping(spark, dir, v, evolved)
    try {
      ManifestTable.commitManifest(spark, dir, v, date, time,
        snap.files ++ staged, deletes = snap.deletes, op = "append")
      v
    } catch { case e: Exception =>
      // a lost race must leave NOTHING: the orphan mapping at v would
      // otherwise be adopted by whichever commit claims that version
      ManifestTable.dropStaged(spark, dir, staged)
      if (extra.nonEmpty) ManifestTable.fsFor(spark, dir)
        .delete(new Path(mapDir(dir), mapName(v)), false)
      throw e
    }
  }

  /** Metadata-only schema-change commit: same files, same tombstones, a
    * new mapping one version up.
    */
  private def schemaCommit(spark: SparkSession, dir: String, op: String,
      change: Seq[Field] => Seq[Field]): Int = {
    val snap = ManifestTable.snapshots(spark, dir).lastOption.getOrElse(
      throw new NoSuchElementException(s"no table at $dir"))
    val next = change(mappingAt(spark, dir, snap.version))
    val v = snap.version + 1
    writeMapping(spark, dir, v, next)
    ManifestTable.commitManifest(spark, dir, v, snap.runDate, snap.runTime,
      snap.files, deletes = snap.deletes, op = op)
    v
  }

  /** Enable column mapping on an existing UNMAPPED table: derive field
    * ids from the latest version's file schema in column order (logical
    * = physical — the files already store these names), written at the
    * CURRENT version, so every later schema change is era-tracked from
    * here on. Idempotent (a no-op on mapped tables); Delta's
    * `columnMapping = name` upgrade move. Reads footers only — O(files)
    * metadata, zero data bytes.
    */
  def ensureMapping(spark: SparkSession, dir: String): Unit = {
    val snaps = ManifestTable.snapshots(spark, dir)
    require(snaps.nonEmpty, s"no committed snapshot at $dir")
    if (mappings(spark, dir).isEmpty) {
      val snap = snaps.last
      require(snap.files.nonEmpty,
        s"cannot derive a column mapping for an empty table at $dir")
      val schema = spark.read.option("mergeSchema", "true")
        .parquet(snap.files.map(f => s"$dir/$f"): _*).schema
      val fields = schema.fields.zipWithIndex.map { case (f, i) =>
        Field(i + 1, f.name, f.name, f.dataType.catalogString)
      }.toSeq
      writeMapping(spark, dir, snap.version, fields)
    }
  }

  def renameColumn(spark: SparkSession, dir: String, from: String, to: String): Int =
    schemaCommit(spark, dir, "rename", { fields =>
      require(fields.exists(_.logical == from), s"no column '$from'")
      require(!fields.exists(_.logical == to), s"column '$to' already exists")
      fields.map(f => if (f.logical == from) f.copy(logical = to) else f)
    })

  def dropColumn(spark: SparkSession, dir: String, name: String): Int =
    schemaCommit(spark, dir, "drop", { fields =>
      require(fields.exists(_.logical == name), s"no column '$name'")
      require(fields.size > 1, "cannot drop the last column")
      fields.filterNot(_.logical == name)
    })

  /** Re-adding a once-dropped name mints a fresh id and a fresh physical
    * name — old bytes never resurrect.
    */
  def addColumn(spark: SparkSession, dir: String, name: String, dtype: String,
      default: Option[String] = None): Int = {
    // X198: the existence default must be a literal of the column's type
    default.foreach { d =>
      val ok = try spark.range(1)
        .select(lit(d).cast(dtype).isNotNull).head.getBoolean(0)
      catch { case _: Exception => false } // ANSI cast throws; same refusal
      require(ok, s"default '$d' does not cast to $dtype")
    }
    schemaCommit(spark, dir, "add", { fields =>
      require(!fields.exists(_.logical == name), s"column '$name' already exists")
      val id = fields.map(_.id).max + 1
      fields :+ Field(id, name, s"${name}_$id", dtype, default)
    })
  }

  /** X204 — `ADD COLUMN … GENERATED ALWAYS AS (expr)`: a column whose
    * value is the expression over the table's other logical columns.
    * Metadata-only commit; the expression is validated HERE against the
    * current logical schema (unknown columns / un-castable results
    * refuse with nothing committed). Writes that omit the column compute
    * it; writes that provide it are validated row-for-row from staged
    * bytes ([[append]]); pre-ADD files compute it at read time ([[read]]).
    */
  def addGenerated(spark: SparkSession, dir: String, name: String,
      dtype: String, genSql: String): Int = {
    try read(spark, dir).limit(0).select(expr(genSql).cast(dtype)).schema
    catch { case e: Exception => throw new IllegalArgumentException(
      s"generated expression ($genSql) does not analyze against the " +
        s"table as $dtype: ${e.getMessage}") }
    schemaCommit(spark, dir, "add", { fields =>
      require(!fields.exists(_.logical == name), s"column '$name' already exists")
      val id = fields.map(_.id).max + 1
      fields :+ Field(id, name, s"${name}_$id", dtype, None, Some(genSql))
    })
  }

  /** Read a version (default latest) under its then-current LOGICAL
    * names. `mergeSchema` unions the file schemas from footers (files
    * from different schema eras differ); fields whose physical column no
    * file carries yet project as typed NULL.
    */
  def read(spark: SparkSession, dir: String, version: Option[Int] = None): DataFrame = {
    val snaps = ManifestTable.snapshots(spark, dir)
    require(snaps.nonEmpty, s"no committed snapshot at $dir")
    val snap = version.map(v => snaps.find(_.version == v).getOrElse(
      throw new NoSuchElementException(s"no version $v at $dir"))).getOrElse(snaps.last)
    val fields = mappingAt(spark, dir, snap.version)
    // X215: an empty version (schema-first CREATE, or every row deleted
    // by a replace) serves its mapped schema with zero rows — there are
    // no footers to scan
    if (snap.files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(fields.map(f =>
          org.apache.spark.sql.types.StructField(f.logical,
            org.apache.spark.sql.types.DataType.fromDDL(f.dtype)))))
    def project(files: Seq[String]): DataFrame = {
      val scan = DeleteVectors.applyTo(spark, dir, snap,
        spark.read.option("mergeSchema", "true")
          .parquet(files.map(f => s"$dir/$f"): _*))
      val present = scan.columns.toSet
      val base = scan.select(fields.map { f =>
        if (present(f.physical)) col(f.physical).cast(f.dtype).as(f.logical)
        else f.default match {
          // X198 existence default: this whole file GROUP lacks the
          // column, so its rows predate it and serve the declared
          // literal; files that carry the column serve their stored
          // values — including explicit NULLs (never a value coalesce)
          case Some(d) => lit(d).cast(f.dtype).as(f.logical)
          case None => lit(null).cast(f.dtype).as(f.logical)
        }
      }: _*)
      // X204: a file group that predates a GENERATED column computes it
      // from its own rows (the logical names are in scope after the
      // projection above); files that carry it serve stored bytes
      fields.filter(f => f.gen.isDefined && !present(f.physical))
        .foldLeft(base)((d, f) =>
          d.withColumn(f.logical, expr(f.gen.get).cast(f.dtype)))
    }
    val defPhys = fields.filter(f => f.default.isDefined || f.gen.isDefined)
      .map(_.physical).toSet
    if (defPhys.isEmpty) project(snap.files)
    else {
      // group files by WHICH defaulted columns their footers carry —
      // one driver-side cached schema probe per file (the X57 metadata
      // class), groups bounded by schema eras, one union branch each
      val groups = snap.files.groupBy { f =>
        graft.util.SchemaCache.cached(spark, s"$dir/$f")(
          spark.read.parquet(s"$dir/$f").schema)
          .fieldNames.toSet intersect defPhys
      }
      groups.values.map(project).reduce(_ unionByName _)
    }
  }

  /** The X110 timeline fixture (create → rename → append → drop → re-add
    * → append), shared with the datasource's mapped-read query.
    */
  def timelineFixture(s: SparkSession, d: String): String =
    FixtureCache.dir("colmap_tl", d) { dir =>
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice").as("price"))
      create(o.where(col("o_orderkey") % 3 === 0), dir, 20250601, 900)
      renameColumn(s, dir, "price", "amount")
      append(o.where(col("o_orderkey") % 3 === 1)
        .withColumnRenamed("price", "amount"), dir, 20250601, 1000)
      dropColumn(s, dir, "amount")
      addColumn(s, dir, "amount", "double")
      append(o.where(col("o_orderkey") % 3 === 2)
        .select(col("o_orderkey"), (col("price") * 2).as("amount")),
        dir, 20250601, 1100)
    }

  val queries: Map[String, Q] = Map(
    // Timeline: v1 create (o_orderkey, price) on slice 0 -> v2 rename
    // price->amount -> v3 append slice 1 via the logical name (stored
    // physically as "price") -> v4 drop amount -> v5 re-add amount ->
    // v6 append slice 2 with amount = 2*price (stored as "amount_3").
    // Read as-of v3 (rename maps v1's files) beside latest (no
    // resurrection: slices 0/1 NULL, slice 2 the doubled sums).
    "q_column_map" -> ((s, d) => {
      val dir = timelineFixture(s, d)
      // "era", not "asof": ASOF is a reserved word in the oracle engine
      val renamed = read(s, dir, Some(3)).withColumn("era", lit("renamed"))
      val latest = read(s, dir).withColumn("era", lit("latest"))
      renamed.unionByName(latest)
        .withColumn("slice", (col("o_orderkey") % 3).cast("long"))
        .groupBy("era", "slice")
        .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("amount")).as("sum_amount"))
        .orderBy("era", "slice")
    }),
    // X208: v1 = (k, p) on even keys; v2 = an EVOLVING append of the odd
    // keys carrying a new column q AND omitting p — one atomic commit.
    // Latest: old rows q=NULL / p stored, new rows q stored / p=NULL;
    // era-correct v1 has no q at all.
    "q_append_evolve" -> ((s, d) => {
      val dir = graft.util.FixtureCache.dir("colmap_evolve", d) { dir =>
        val o = graft.sources.Tables.orders(s, d)
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
        create(o.where(col("k") % 2 === 0), dir, 20250901, 900)
        appendEvolve(o.where(col("k") % 2 === 1)
          .select(col("k"), (col("p") * 2).as("q")), dir, 20250901, 1000)
      }
      val v1cols = lit(read(s, dir, Some(1)).columns.sorted.mkString(","))
      read(s, dir)
        .groupBy((col("k") % 2).cast("long").as("parity"))
        .agg(count(lit(1)).as("n_rows"),
          Exact.dsum(col("p")).as("sum_p"),
          Exact.dsum(col("q")).as("sum_q"),
          sum(when(col("p").isNull, 1L).otherwise(0L)).as("n_p_null"),
          sum(when(col("q").isNull, 1L).otherwise(0L)).as("n_q_null"))
        .withColumn("v1_cols", v1cols)
        .orderBy("parity")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_column_map" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey % 3 AS BIGINT) AS slice, o_totalprice AS price
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT 'renamed' AS era, slice, count(*) AS n_rows,
        |         CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_amount
        |  FROM base WHERE slice IN (0, 1) GROUP BY slice
        |  UNION ALL
        |  SELECT 'latest' AS era, slice, count(*) AS n_rows,
        |         CASE WHEN slice = 2
        |              THEN CAST(SUM(CAST(price * 2 AS DECIMAL(18,2))) AS DOUBLE)
        |         END AS sum_amount
        |  FROM base GROUP BY slice
        |) ORDER BY era, slice""".stripMargin,
    "q_append_evolve" ->
      """SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS parity, count(*) AS n_rows,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_p,
        |         CAST(NULL AS DOUBLE) AS sum_q,
        |         CAST(0 AS BIGINT) AS n_p_null, count(*) AS n_q_null,
        |         'k,p' AS v1_cols
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT 1, count(*), CAST(NULL AS DOUBLE),
        |         CAST(SUM(CAST(o_totalprice * 2 AS DECIMAL(18,2))) AS DOUBLE),
        |         count(*), CAST(0 AS BIGINT), 'k,p'
        |  FROM orders WHERE o_orderkey % 2 = 1
        |) ORDER BY parity""".stripMargin,
  )
}
