package graft.sources

import java.io.{BufferedInputStream, ByteArrayInputStream, ByteArrayOutputStream, InputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.Partitioner
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.FixtureCache

/** One parsed WARC record with its byte offset inside its file. */
case class WarcRec(
    file_idx: Long,
    rec_offset: Long,
    warc_type: String,
    record_id: String,
    target_uri: String,
    content_length: Long,
    payload: Array[Byte])

/** WARC/WET-style record reader (extension X147) — the CommonCrawl
  * front door: a WARC file is a sequence of `header CRLF CRLF payload
  * CRLF CRLF` records (ISO 28500 framing; headers are `Key: value`
  * lines, the payload is `Content-Length` raw bytes, so payloads may
  * contain anything including newlines and further WARC magic).
  *
  * Same discipline as the media codec family (X5/X16): a REAL streaming
  * parser — offset-tracking, length-delimited, refuses bad magic or
  * truncation loudly — over a closed-form fixture, with a DuckDB oracle
  * that rebuilds every record's header string and recomputes counts,
  * BYTE OFFSETS (windowed running sum of exact record sizes), and
  * payload MD5 digests in SQL. A parser off by one byte anywhere breaks
  * every subsequent offset in the file.
  *
  * Scale shape (100 TB CommonCrawl = ~90k × ~1 GB warc files):
  * parallelism is ACROSS files — one task per file, records within a
  * file parsed sequentially off an InputStream in constant memory
  * (never `whole file into a byte[]`). That is the real-world layout:
  * WARC is not block-splittable (records have no sync markers, and the
  * production `.warc.gz` wrapping — a GZIPInputStream around the same
  * parser — isn't splittable either), so the unit of parallelism is the
  * file, and 90k files saturate any cluster. Tasks ship only the
  * broadcast Hadoop conf; payload bytes stay executor-side.
  */
object Warc extends graft.QueryModule {

  val nFiles = 4
  private val CRLF = "\r\n"

  /** The fixture record header, byte-for-byte what the oracle rebuilds. */
  def headerFor(docId: Long, contentLength: Long): String =
    "WARC/1.0" + CRLF +
      "WARC-Type: response" + CRLF +
      f"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-$docId%012d>" + CRLF +
      s"WARC-Target-URI: http://example.com/doc/$docId" + CRLF +
      "WARC-Date: 2026-01-01T00:00:00Z" + CRLF +
      s"Content-Length: $contentLength" + CRLF +
      CRLF

  /** Build the fixture: `documents` sharded into `nFiles` real WARC
    * files (`doc_id % nFiles`, ascending ids within a file), written
    * executor-side — one task per file, the write mirror of the read
    * path. Built once per JVM like the media fixtures.
    */
  def fixture(s: SparkSession, d: String): String =
    FixtureCache.dir("warc_files", d) { dir =>
      val fsf = GraftShim.fsFactory(s)
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .rdd.map(r => (r.getLong(0) % nFiles, (r.getLong(0), r.getString(1))))
        .partitionBy(new Partitioner {
          override def numPartitions: Int = nFiles
          override def getPartition(key: Any): Int = key.asInstanceOf[Long].toInt
        })
        .foreachPartition { it =>
          val recs = it.map(_._2).toArray.sortBy(_._1)
          if (recs.nonEmpty) {
            val idx = recs.head._1 % nFiles
            val fs = fsf(dir)
            val out = fs.create(new Path(dir, f"part-$idx%04d.warc"), true)
            try recs.foreach { case (id, text) =>
              val payload = text.getBytes("UTF-8")
              out.write(headerFor(id, payload.length).getBytes("UTF-8"))
              out.write(payload)
              out.write((CRLF + CRLF).getBytes("UTF-8"))
            } finally out.close()
          }
        }
    }

  /** Offset-tracking byte reader: CRLF lines + length-delimited chunks. */
  private final class Counting(raw: InputStream) {
    private val in = new BufferedInputStream(raw, 1 << 16)
    var pos: Long = 0

    private def read1(): Int = { val b = in.read(); if (b >= 0) pos += 1; b }

    /** Next CRLF/LF-terminated line (terminator consumed, stripped), or
      * null at clean EOF. */
    def readLine(): String = {
      val buf = new ByteArrayOutputStream()
      var b = read1()
      if (b < 0) return null
      while (b >= 0 && b != '\n') { buf.write(b); b = read1() }
      val bytes = buf.toByteArray
      val n = if (bytes.nonEmpty && bytes.last == '\r') bytes.length - 1
        else bytes.length
      new String(bytes, 0, n, "UTF-8")
    }

    def readFully(n: Int): Array[Byte] = {
      val a = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val r = in.read(a, off, n - off)
        require(r > 0, s"warc: truncated payload at byte $pos")
        pos += r
        off += r
      }
      a
    }
  }

  /** Streaming parse of one WARC file: lazy record iterator, constant
    * memory, each record tagged with the byte offset of its `WARC/`
    * magic. Bad magic and truncated payloads refuse loudly — a record
    * framing error silently corrupts every later offset otherwise.
    */
  def parse(in: InputStream, fileIdx: Long): Iterator[WarcRec] =
    new Iterator[WarcRec] {
      private val c = new Counting(in)
      private var nextRec: WarcRec = advance()

      private def advance(): WarcRec = {
        var off = c.pos
        var line = c.readLine()
        while (line != null && line.isEmpty) { off = c.pos; line = c.readLine() }
        if (line == null) return null
        require(line.startsWith("WARC/"),
          s"warc: bad record magic '$line' at byte $off of file $fileIdx")
        val headers = scala.collection.mutable.Map.empty[String, String]
        var h = c.readLine()
        while (h != null && h.nonEmpty) {
          val i = h.indexOf(':')
          require(i > 0, s"warc: malformed header '$h' at byte ${c.pos}")
          headers += h.substring(0, i).trim -> h.substring(i + 1).trim
          h = c.readLine()
        }
        val len = headers.getOrElse("Content-Length",
          throw new IllegalArgumentException(
            s"warc: record at byte $off missing Content-Length")).toInt
        val payload = c.readFully(len)
        WarcRec(fileIdx, off,
          headers.getOrElse("WARC-Type", ""),
          headers.getOrElse("WARC-Record-ID", ""),
          headers.getOrElse("WARC-Target-URI", ""),
          len.toLong, payload)
      }

      override def hasNext: Boolean = nextRec != null
      override def next(): WarcRec = {
        val r = nextRec; nextRec = advance(); r
      }
    }

  /** X150: the production CommonCrawl layout — the SAME records, each
    * compressed as ONE GZIP MEMBER, members concatenated into
    * `part-N.warc.gz`, plus the cdx-style sidecar index
    * `(compressed offset, compressed length, id)` per record. Per-member
    * framing is what makes the non-splittable gzip stream RANDOM-
    * ACCESSIBLE: seek to a cdx offset, read `comp_len` bytes, gunzip
    * that one member, parse exactly that record — how CC index lookups
    * fetch single pages out of ~1 GB archives without streaming them.
    * Sequential readers just stack `GZIPInputStream` (which follows
    * concatenated members natively) under the X147 parser, so the
    * DECOMPRESSED stream — and every record offset in it — is
    * byte-identical to the uncompressed tier and shares its oracle.
    */
  def fixtureGz(s: SparkSession, d: String): String =
    FixtureCache.dir("warc_gz_files", d) { dir =>
      val fsf = GraftShim.fsFactory(s)
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .rdd.map(r => (r.getLong(0) % nFiles, (r.getLong(0), r.getString(1))))
        .partitionBy(new Partitioner {
          override def numPartitions: Int = nFiles
          override def getPartition(key: Any): Int = key.asInstanceOf[Long].toInt
        })
        .foreachPartition { it =>
          val recs = it.map(_._2).toArray.sortBy(_._1)
          if (recs.nonEmpty) {
            val idx = recs.head._1 % nFiles
            val fs = fsf(dir)
            val out = fs.create(new Path(dir, f"part-$idx%04d.warc.gz"), true)
            val cdx = new StringBuilder
            var compPos = 0L
            try recs.foreach { case (id, text) =>
              val payload = text.getBytes("UTF-8")
              val bos = new ByteArrayOutputStream(payload.length + 256)
              val gz = new java.util.zip.GZIPOutputStream(bos)
              gz.write(headerFor(id, payload.length).getBytes("UTF-8"))
              gz.write(payload)
              gz.write((CRLF + CRLF).getBytes("UTF-8"))
              gz.close()
              val member = bos.toByteArray
              out.write(member)
              cdx.append(s"$compPos,${member.length},$id\n")
              compPos += member.length
            } finally out.close()
            val cx = fs.create(new Path(dir, f"part-$idx%04d.cdx"), true)
            try cx.write(cdx.toString.getBytes("UTF-8")) finally cx.close()
          }
        }
    }

  /** Distributed read of the gzip tier: one task per `.warc.gz` file,
    * `GZIPInputStream` under the same streaming parser (it follows
    * concatenated members natively), constant memory. Offsets are
    * DECOMPRESSED-stream positions — identical to the uncompressed tier.
    */
  def readGz(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fs = new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new Path(dir)).toSeq
      .map(_.getPath.toString).filter(_.endsWith(".warc.gz")).sorted
    require(files.nonEmpty, s"warc: no .warc.gz files under $dir")
    val fsf = GraftShim.fsFactory(s)
    s.sparkContext.parallelize(files, files.size).flatMap { f =>
      val idx = f.split('/').last match {
        case PartGzRe(n) => n.toLong
        case _ => -1L
      }
      parse(new java.util.zip.GZIPInputStream(
        fsf(f).open(new Path(f)), 1 << 16), idx)
    }.toDF()
  }

  /** Random access via a cdx entry: seek, read the member's compressed
    * bytes, gunzip, parse — exactly one record, nothing else touched.
    */
  def readMember(fs: org.apache.hadoop.fs.FileSystem, file: String,
      compOffset: Long, compLen: Int): WarcRec = {
    val in = fs.open(new Path(file))
    val buf = new Array[Byte](compLen)
    try { in.seek(compOffset); in.readFully(buf) } finally in.close()
    val recs = parse(new java.util.zip.GZIPInputStream(
      new ByteArrayInputStream(buf)), -1L).toSeq
    require(recs.size == 1,
      s"warc: cdx entry ($compOffset, $compLen) framed ${recs.size} records")
    recs.head
  }

  private val PartRe = """part-(\d+)\.warc""".r
  private val PartGzRe = """part-(\d+)\.warc\.gz""".r

  /** Distributed read: list `*.warc` under `dir` (driver-side, one
    * metadata listing), one task per file, streaming parse per task.
    */
  def read(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fs = new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new Path(dir)).toSeq
      .map(_.getPath.toString).filter(_.endsWith(".warc")).sorted
    require(files.nonEmpty, s"warc: no .warc files under $dir")
    val fsf = GraftShim.fsFactory(s)
    s.sparkContext.parallelize(files, files.size).flatMap { f =>
      val idx = f.split('/').last match {
        case PartRe(n) => n.toLong
        case _ => -1L
      }
      parse(fsf(f).open(new Path(f)), idx)
    }.toDF()
  }

  val queries: Map[String, Q] = Map(
    // X147: full per-record readback — offsets, header fields, payload
    // digests. The oracle reconstructs each record's exact header string
    // and derives offsets as a windowed running sum of record sizes; any
    // parser drift (a byte, a header, a digest) breaks the hash.
    "q_warc_ingest" -> ((s, d) => {
      val dir = fixture(s, d)
      read(s, dir)
        .select(col("file_idx"), col("rec_offset"), col("target_uri"),
          col("content_length"), md5(col("payload")).as("payload_md5"))
        .orderBy("file_idx", "rec_offset")
    }),
    // X150: the gzip-member tier must serve the byte-identical record
    // stream — same fields, same DECOMPRESSED offsets, same digests — so
    // it shares X147's oracle verbatim: compression is transparent to
    // every downstream consumer, which is the entire contract.
    "q_warc_gz" -> ((s, d) => {
      val dir = fixtureGz(s, d)
      readGz(s, dir)
        .select(col("file_idx"), col("rec_offset"), col("target_uri"),
          col("content_length"), md5(col("payload")).as("payload_md5"))
        .orderBy("file_idx", "rec_offset")
    }),
  )

  private val recordStreamSql =
      """WITH t AS (
        |  SELECT doc_id, doc_id % 4 AS file_idx, text,
        |         strlen(text) AS content_length,
        |         ('WARC/1.0' || chr(13) || chr(10)
        |          || 'WARC-Type: response' || chr(13) || chr(10)
        |          || 'WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-'
        |             || lpad(CAST(doc_id AS VARCHAR), 12, '0') || '>' || chr(13) || chr(10)
        |          || 'WARC-Target-URI: http://example.com/doc/' || doc_id || chr(13) || chr(10)
        |          || 'WARC-Date: 2026-01-01T00:00:00Z' || chr(13) || chr(10)
        |          || 'Content-Length: ' || strlen(text) || chr(13) || chr(10)
        |          || chr(13) || chr(10)) AS header
        |  FROM documents),
        |u AS (SELECT *, strlen(header) + content_length + 4 AS rec_size FROM t)
        |SELECT file_idx,
        |       CAST(COALESCE(SUM(rec_size) OVER (
        |         PARTITION BY file_idx ORDER BY doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |         AS rec_offset,
        |       'http://example.com/doc/' || doc_id AS target_uri,
        |       content_length,
        |       md5(text) AS payload_md5
        |FROM u ORDER BY file_idx, rec_offset""".stripMargin

  val oracles: Map[String, String] = Map(
    // the gzip tier serves the byte-identical stream, so both tiers pin
    // against the SAME record-stream oracle
    "q_warc_ingest" -> recordStreamSql,
    "q_warc_gz" -> recordStreamSql,
  )
}
