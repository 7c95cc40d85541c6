package graft.ops

import org.apache.avro.{Schema, SchemaBuilder, LogicalTypes}
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables._
import graft.util.Exact.dsum

/** X156: Avro object-container round-trip — the row-oriented interchange
  * format of every Kafka/stream-ingest edge, completing the format family
  * beside CSV/JSONL/ORC (X24) and XML (X82).
  *
  * Spark 4 keeps the Avro DATASOURCE in an external module
  * (`spark-avro`), which this environment does not ship — but the Avro
  * CORE library (`avro-1.12.1.jar`) is on the runtime classpath because
  * Spark itself depends on it. So the engine implements the container
  * I/O directly against the public Avro API:
  *
  *  - WRITE: one container file per partition (`mapPartitionsWithIndex` →
  *    `DataFileWriter[GenericRecord]`), schema mechanically derived from
  *    the Spark schema (nullable fields become `union(null, T)`;
  *    timestamps use the `timestamp-micros` logical type on long, dates
  *    `date` on int — the standard Avro encodings, readable by any
  *    conforming implementation). Task-per-file parallel, exactly the
  *    parquet writer's shape; at 100 TB the only change is writing
  *    through the Hadoop FileSystem API instead of local NIO.
  *  - READ: file listing → one task per file (`parallelize(paths)`) →
  *    `DataFileReader` streaming records into Rows under the explicit
  *    schema. The container's sync markers make files further splittable;
  *    per-file tasks are granular enough here and keep the reader simple.
  *
  * Fidelity contract (same as X24/X82): longs, shortest-repr doubles,
  * timestamps and comma/quote-bearing strings must survive write → read,
  * pinned by aggregates hash-matched against the parquet truth.
  *
  * Reference: the reference's only interchange formats are raw JSON and
  * parquet (`scripts/script_api_apify_to_spark.py:125-137,194`); Avro is
  * the missing streaming-edge format a production lake ingests from.
  */
object Avro extends graft.QueryModule {
  /** Avro schema for a Spark schema (supported: long/int/double/float/
    * boolean/string/binary/timestamp/timestamp_ntz/date; nullable →
    * union with null).
    */
  def avroSchema(schema: StructType, name: String = "row"): Schema = {
    val fields = SchemaBuilder.record(name).namespace("graft").fields()
    schema.fields.foldLeft(fields) { (fs, f) =>
      val base: Schema = f.dataType match {
        case LongType    => Schema.create(Schema.Type.LONG)
        case IntegerType => Schema.create(Schema.Type.INT)
        case DoubleType  => Schema.create(Schema.Type.DOUBLE)
        case FloatType   => Schema.create(Schema.Type.FLOAT)
        case BooleanType => Schema.create(Schema.Type.BOOLEAN)
        case StringType  => Schema.create(Schema.Type.STRING)
        case BinaryType  => Schema.create(Schema.Type.BYTES)
        case TimestampType =>
          LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
        case TimestampNTZType =>
          LogicalTypes.localTimestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
        case DateType =>
          LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
        case dt => throw new IllegalArgumentException(
          s"avro round-trip: unsupported type ${dt.simpleString} for field ${f.name}")
      }
      // a null default is only legal when the type is a null-first union;
      // a non-nullable field must carry no default at all
      if (f.nullable)
        fs.name(f.name)
          .`type`(Schema.createUnion(Schema.create(Schema.Type.NULL), base))
          .withDefault(null)
      else fs.name(f.name).`type`(base).noDefault()
    }
    fields.endRecord()
  }

  /** Write `df` as Avro container files under `dir`, one file per
    * partition, deflate-compressed. Returns the file count.
    */
  def write(df: DataFrame, dir: String): Int = {
    val sparkSchema = df.schema
    val schemaJson = avroSchema(sparkSchema).toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val n = df.rdd.mapPartitionsWithIndex { (pid, rows) =>
      if (rows.isEmpty) Iterator.empty
      else {
        val schema = new Schema.Parser().parse(schemaJson)
        val fieldSchemas = sparkSchema.fields
        val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
        w.setCodec(CodecFactory.deflateCodec(3))
        val f = new java.io.File(dir, f"part-$pid%05d.avro")
        w.create(schema, f)
        rows.foreach { row =>
          val rec = new GenericData.Record(schema)
          var i = 0
          while (i < fieldSchemas.length) {
            val v: AnyRef =
              if (row.isNullAt(i)) null
              else fieldSchemas(i).dataType match {
                case TimestampType =>
                  // micros since epoch — the timestamp-micros logical encoding
                  java.lang.Long.valueOf(
                    java.util.concurrent.TimeUnit.MILLISECONDS.toMicros(
                      row.getAs[java.sql.Timestamp](i).getTime) +
                      row.getAs[java.sql.Timestamp](i).getNanos / 1000 % 1000)
                case TimestampNTZType =>
                  // local-timestamp-micros: no zone, straight epoch arithmetic
                  java.lang.Long.valueOf(
                    java.time.Duration.between(java.time.LocalDateTime.ofEpochSecond(0, 0,
                      java.time.ZoneOffset.UTC), row.getAs[java.time.LocalDateTime](i)).toNanos / 1000)
                case DateType =>
                  java.lang.Integer.valueOf(row.getAs[java.sql.Date](i).toLocalDate.toEpochDay.toInt)
                case BinaryType => java.nio.ByteBuffer.wrap(row.getAs[Array[Byte]](i))
                case _          => row.get(i).asInstanceOf[AnyRef]
              }
            rec.put(i, v)
            i += 1
          }
          w.append(rec)
        }
        w.close()
        Iterator.single(1)
      }
    }.sum().toInt
    n
  }

  /** Read the Avro container files under `dir` back into a DataFrame with
    * the given Spark schema (one task per file).
    */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".avro")).map(_.getAbsolutePath).sorted.toSeq
    val fields = schema.fields
    val rdd = spark.sparkContext.parallelize(files, math.max(files.size, 1))
      .flatMap { path =>
        val r = new DataFileReader[GenericRecord](
          new java.io.File(path), new GenericDatumReader[GenericRecord]())
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        try {
          while (r.hasNext) {
            val rec = r.next()
            out += Row.fromSeq(fields.indices.map { i =>
              val v = rec.get(i)
              if (v == null) null
              else fields(i).dataType match {
                case StringType => v.toString // avro Utf8 → String
                case TimestampType =>
                  val us = v.asInstanceOf[java.lang.Long].longValue()
                  val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
                  ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
                  ts
                case TimestampNTZType =>
                  val us = v.asInstanceOf[java.lang.Long].longValue()
                  java.time.LocalDateTime.ofEpochSecond(
                    Math.floorDiv(us, 1000000L),
                    (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
                case DateType =>
                  java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
                    v.asInstanceOf[java.lang.Integer].longValue()))
                case BinaryType =>
                  val bb = v.asInstanceOf[java.nio.ByteBuffer]
                  val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
                case _ => v
              }
            })
          }
        } finally r.close()
        out
      }
    spark.createDataFrame(rdd, schema)
  }

  val queries: Map[String, Q] = Map(
    // Round-trip a deterministic eighth of orders through Avro container
    // files and pin type fidelity (long sums, exact-DECIMAL double sum,
    // timestamp extrema, distinct strings) against the parquet truth the
    // oracle reads directly. Container files are a pure function of the
    // slice — written once per JVM (FixtureCache); the timed plan is the
    // READ side, the contract under test.
    "q_format_avro" -> ((s, d) => {
      val o = orders(s, d).where(col("o_orderkey") % 8 === 0)
      val base = graft.util.FixtureCache.dir("avro", d) { base =>
        require(write(o, s"$base/avro") > 0, "avro write produced no files")
      }
      read(s, s"$base/avro", o.schema)
        .agg(count(lit(1)).as("n"),
          sum("o_custkey").as("sum_cust"),
          dsum(col("o_totalprice")).as("sum_total"),
          min("o_orderdate").as("min_date"), max("o_orderdate").as("max_date"),
          countDistinct("o_orderpriority").as("n_prio"))
        .select("n", "sum_cust", "sum_total", "min_date", "max_date", "n_prio")
    }))

  val oracles: Map[String, String] = Map(
    "q_format_avro" ->
      """SELECT count(*) AS n, CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
         min(o_orderdate) AS min_date, max(o_orderdate) AS max_date,
         count(DISTINCT o_orderpriority) AS n_prio
         FROM orders WHERE o_orderkey % 8 = 0""")
}
