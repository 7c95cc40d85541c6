package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Avi, Bmp, Jpeg, Png, Wav}
import graft.sources.Tables._

/** A decoded media row (binary payload + typed metadata). */
case class Media(media_id: Long, media_type: String, fmt: String, bytes: Array[Byte])

/** Fixed-shape features extracted from a media payload. */
case class MediaFeatures(
    media_id: Long,
    n_bytes: Long,
    mean_byte: Double,
    stride_means: Array[Double])

/** Multimodal-column operators (north-star mandate): treat image/audio/video
  * as opaque `binary` columns with typed metadata, and run decode /
  * feature-extract / frame-sample as partition-parallel typed operations.
  *
  * All three modalities carry REAL payloads that [[decodeSignal]] really
  * parses with pure-JVM codecs: audio is RIFF/WAVE PCM16
  * ([[graft.functions.Wav]]), image is 24-bit BMP
  * ([[graft.functions.Bmp]]), video is uncompressed single-stream AVI
  * ([[graft.functions.Avi]] — RIFF chunk walk + per-frame DIB rows). Each
  * fixture signal is arithmetically defined, so the decode queries'
  * DuckDB oracles recompute header fields and decoded sample/pixel sums
  * in closed form — a parser bug breaks the hash. Formats outside the
  * codec family would fall back to the raw byte stream.
  *
  * Scale notes (100 TB): all queries are per-row / per-partition with
  * zero shuffles; a real deployment holds payloads in parquet BINARY columns
  * (or pointers to object storage for row-group-sized blobs) and the
  * feature extractor amortizes decoder init per PARTITION, exactly the
  * `mapPartitions` shape used here.
  */
object Multimodal extends graft.QueryModule {
  val frameBytes = 256
  val frameStep = 4
  val nStrides = 8

  /** X242 scene-cut threshold: mean per-byte delta above this is a cut. */
  val sceneCutPerByte = 40

  /** X244 silence geometry: window size and the mean-|sample| floor. */
  val silenceWindow = 16
  val silencePerSample = 900

  private val synthWav = udf((id: Long) => Wav.synth(id))
  private val synthBmp = udf((id: Long) => Bmp.synth(id))
  private val synthAvi = udf((id: Long) => Avi.synth(id))
  private val synthPng = udf((id: Long) => Png.synth(id))
  private val synthJpg = udf((id: Long) => Jpeg.synth(id))

  /** Synthesized media table: audio rows are real PCM16 WAV files, image
    * rows real 24-bit BMPs, video rows real uncompressed AVIs — all built
    * from deterministic fixture signals. The table is ENCODED once per
    * JVM into a parquet fixture (the synth UDFs only build it — they are
    * not on any operator's read path, and repeat invocations time the
    * DECODE operators, not the fixture encoder).
    */
  /** X210 — aHash over decoded RGB bytes: 8×8 nearest-neighbor resize,
    * per-cell integer luma (r+g+b, no division), bit i of the hash set
    * iff cell i's luma·64 exceeds the 64-cell luma total (the mean test
    * cross-multiplied — exact). Returns (lo 32 bits, hi 32 bits, bits
    * set); bit index is row-major `y·8 + x`.
    */
  def aHash(px: Array[Int], w: Int, h: Int): (Long, Long, Long) = {
    val out = Bmp.resizeNearest(px, w, h, 8, 8)
    val luma = Array.tabulate(64)(i => (out(3 * i) + out(3 * i + 1) + out(3 * i + 2)).toLong)
    val total = luma.sum
    var lo = 0L; var hi = 0L; var n = 0L
    var i = 0
    while (i < 64) {
      if (luma(i) * 64L > total) {
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
        n += 1
      }
      i += 1
    }
    (lo, hi, n)
  }

  def media(s: SparkSession, d: String): DataFrame = {
    val dir = graft.util.FixtureCache.dir("media_tbl", d) { dir =>
      documents(s, d).select(
        col("doc_id").as("media_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("media_type"),
        when(col("doc_id") % 3 === 0, "bmp")
          .when(col("doc_id") % 3 === 1, "wav")
          .otherwise("avi").as("fmt"),
        when(col("doc_id") % 3 === 0, synthBmp(col("doc_id")))
          .when(col("doc_id") % 3 === 1, synthWav(col("doc_id")))
          .otherwise(synthAvi(col("doc_id"))).as("bytes"))
        .write.mode("overwrite").parquet(s"$dir/t")
    }
    graft.sources.Tables.cachedParquet(s, s"$dir/t")
  }

  /** Compressed-image fixture table (X41): even docs are PNGs encoded by
    * our own filter-0 deflate encoder, odd docs are JDK-baseline JPEGs —
    * both real entropy-coded payloads, unlike the RIFF family above.
    * Encoded once per JVM like [[media]].
    */
  def mediaCompressed(s: SparkSession, d: String): DataFrame = {
    val dir = graft.util.FixtureCache.dir("media_comp_tbl", d) { dir =>
      documents(s, d).select(
        col("doc_id").as("media_id"),
        lit("image").as("media_type"),
        when(col("doc_id") % 2 === 0, "png").otherwise("jpeg").as("fmt"),
        when(col("doc_id") % 2 === 0, synthPng(col("doc_id")))
          .otherwise(synthJpg(col("doc_id"))).as("bytes"))
        .write.mode("overwrite").parquet(s"$dir/t")
    }
    graft.sources.Tables.cachedParquet(s, s"$dir/t")
  }

  /** Decode a payload to its signal: WAV → real PCM samples, BMP → real
    * top-down pixel bytes, AVI → real all-frames pixel bytes — each via
    * its own pure-JVM parser. Unknown formats → raw bytes as an explicit
    * stand-in.
    */
  def decodeSignal(m: Media): Array[Double] = m.fmt match {
    case "wav" => Wav.parse(m.bytes).map(_._2.map(_.toDouble)).getOrElse(Array.empty)
    case "bmp" => Bmp.parse(m.bytes).map(_._2.map(_.toDouble)).getOrElse(Array.empty)
    case "avi" => Avi.parse(m.bytes).map(_._2.map(_.toDouble)).getOrElse(Array.empty)
    case _ => m.bytes.map(b => (b & 0xff).toDouble)
  }

  /** Feature extraction over a partition iterator — decoder init happens
    * once per partition (the expensive part in a real decoder), then
    * per-row features are pure arithmetic on the decoded signal.
    */
  def extractFeatures(rows: Iterator[Media]): Iterator[MediaFeatures] = {
    // (real code: val decoder = Codec.open(...) — once per partition)
    rows.map { m =>
      val signal = decodeSignal(m)
      val n = signal.length
      val strides = Array.tabulate(nStrides) { k =>
        val lo = k * n / nStrides
        val hi = math.max(lo + 1, (k + 1) * n / nStrides)
        val sl = signal.slice(lo, math.min(hi, n))
        if (sl.isEmpty) 0.0 else sl.sum / sl.length
      }
      MediaFeatures(m.media_id, m.bytes.length.toLong,
        if (n == 0) 0.0 else signal.sum / n, strides)
    }
  }

  val queries: Map[String, Q] = Map(
    // Typed metadata projection over the binary column — oracle-checked
    // (octet_length is engine-independent).
    "q_media_meta" -> ((s, d) =>
      media(s, d).select(
        col("media_id"), col("media_type"), col("fmt"),
        length(col("bytes")).cast("long").as("n_bytes"))
        .orderBy("media_id")),

    // Partition-parallel feature extraction through the typed Dataset
    // boundary (decode stubbed; batch shape real). Rows-only check +
    // MultimodalSpec.
    "q_media_features" -> ((s, d) => {
      implicit val me = org.apache.spark.sql.Encoders.product[Media]
      implicit val fe = org.apache.spark.sql.Encoders.product[MediaFeatures]
      media(s, d).as[Media]
        .mapPartitions(extractFeatures _)
        .toDF()
        .select(col("media_id"), col("n_bytes"),
          round(col("mean_byte"), 4).as("mean_byte_r4"),
          round(element_at(col("stride_means"), 1), 4).as("stride0_r4"),
          round(element_at(col("stride_means"), nStrides), 4).as(s"stride${nStrides - 1}_r4"))
        .orderBy("media_id")
    }),

    // REAL WAV decode, fully oracle-checked: parse the RIFF/fmt/data
    // chunks of each audio payload and aggregate the decoded PCM samples;
    // the DuckDB twin recomputes every output — header fields and the
    // sample sum — from the closed-form fixture signal, so a parser bug
    // (endianness, offset, chunk walk) breaks the hash.
    "q_wav_decode" -> ((s, d) => {
      implicit val me = org.apache.spark.sql.Encoders.product[Media]
      import s.implicits._
      media(s, d).where(col("fmt") === "wav").as[Media]
        .map { m =>
          val (info, samples) = Wav.parse(m.bytes)
            .getOrElse(sys.error(s"unparseable wav payload for media ${m.media_id}"))
          (m.media_id, info.sampleRate.toLong, info.channels.toLong,
            info.bitsPerSample.toLong, info.nSamples.toLong,
            samples.foldLeft(0L)(_ + _))
        }
        .toDF("media_id", "sample_rate", "n_channels", "bits_per_sample",
          "n_samples", "sum_samples")
        .orderBy("media_id")
    }),

    // X244: audio silence segmentation — the VAD-shaped trim every audio
    // curation pipeline runs before transcription (silence-heavy clips
    // waste ASR compute; all-silent clips drop): fixed 16-sample windows
    // over the REAL PCM decode, a window is silent when its mean |sample|
    // is under `silencePerSample` (exact cross-multiplied integers —
    // partial tail windows compare against their true sample count), and
    // segments are maximal non-silent runs. Per-row decode+scan like
    // X242 — no shuffle; the oracle rebuilds every window energy from
    // the fixture's closed-form PCM signal and replays the run-counting
    // with a lag window.
    "q_audio_silence" -> ((s, d) => {
      implicit val me = org.apache.spark.sql.Encoders.product[Media]
      import s.implicits._
      media(s, d).where(col("fmt") === "wav").as[Media]
        .map { m =>
          val (info, samples) = Wav.parse(m.bytes)
            .getOrElse(sys.error(s"unparseable wav payload for media ${m.media_id}"))
          val nw = (info.nSamples + silenceWindow - 1) / silenceWindow
          val energies = Array.tabulate(nw) { w =>
            val from = w * silenceWindow
            val until = math.min(info.nSamples, from + silenceWindow)
            var e = 0L; var i = from
            while (i < until) { e += math.abs(samples(i).toLong); i += 1 }
            e
          }
          def winLen(w: Int) =
            math.min(info.nSamples, (w + 1) * silenceWindow) - w * silenceWindow
          val silent = Array.tabulate(nw)(w =>
            energies(w) < silencePerSample.toLong * winLen(w))
          val segs = silent.indices.count(i => !silent(i) && (i == 0 || silent(i - 1)))
          (m.media_id, nw.toLong, silent.count(identity).toLong,
            segs.toLong, energies.max)
        }
        .toDF("media_id", "n_windows", "n_silent", "n_segments", "max_wenergy")
        .orderBy("media_id")
    }),

    // X212: frame-level audio energy features — decode, window into
    // 32-sample frames (last frame partial), per-frame sum-of-squares
    // energy in exact integers (32 · 2048² ≪ 2⁶³), then per-clip frame
    // count / total / max / argmax (lowest index on ties). The standard
    // VAD/silence-trim primitives of an audio pipeline, exact end to end
    // so the oracle replays every frame from the closed-form samples.
    // Per-row arithmetic — embarrassingly parallel at any corpus size.
    "q_audio_frames" -> ((s, d) => {
      implicit val me = org.apache.spark.sql.Encoders.product[Media]
      import s.implicits._
      media(s, d).where(col("fmt") === "wav").as[Media]
        .map { m =>
          val (_, samples) = Wav.parse(m.bytes)
            .getOrElse(sys.error(s"unparseable wav payload for media ${m.media_id}"))
          val frame = 32
          val nF = (samples.length + frame - 1) / frame
          val energies = Array.tabulate(nF) { f =>
            var e = 0L
            var i = f * frame
            val end = math.min(i + frame, samples.length)
            while (i < end) { e += samples(i).toLong * samples(i); i += 1 }
            e
          }
          val maxE = energies.max
          (m.media_id, nF.toLong, energies.sum, maxE,
            energies.indexOf(maxE).toLong)
        }
        .toDF("media_id", "n_frames", "total_energy", "max_energy", "max_frame")
        .orderBy("media_id")
    }),

    // X221: near-duplicate IMAGE pairs — the X210 hashes banded into
    // 4×16-bit chunks (pigeonhole: any pair within Hamming 3 shares at
    // least one chunk — the X dedup SimHash guarantee applied to
    // pixels), candidates refined by exact popcount. NOT all-pairs: the
    // join is chunk-equality, output ∝ near-dup structure. The oracle
    // brute-forces every pair from the closed-form pixels — a banded
    // candidate MISS (broken pigeonhole) hash-fails, not just a false
    // positive.
    "q_image_neardup" -> ((s, d) => {
      val hashes = graft.util.FixtureCache.parquet(s, "image_phash", d) { dir =>
        implicit val me = org.apache.spark.sql.Encoders.product[Media]
        import s.implicits._
        media(s, d).where(col("fmt") === "bmp").as[Media]
          .map { m =>
            val (info, px) = Bmp.parse(m.bytes)
              .getOrElse(sys.error(s"unparseable bmp for ${m.media_id}"))
            val (lo, hi, _) = Multimodal.aHash(px, info.width, info.height)
            (m.media_id, lo, hi)
          }.toDF("media_id", "lo", "hi")
          .write.mode("overwrite").parquet(dir)
      }
      // collapse to DISTINCT hashes first: exact-duplicate masses (the
      // dominant population — a perceptual hash is MEANT to collide)
      // count combinatorially as C(n,2) without ever enumerating a
      // pair, and the band join runs over distinct hashes only — the
      // measured 330 s → ~linear cut at 100× corpus (all-pairs inside
      // an identical-hash class was the quadratic)
      val hg = hashes.groupBy("lo", "hi").agg(count(lit(1)).as("cnt"))
      val ham0 = hg.agg(sum(expr("cnt * (cnt - 1) DIV 2")).as("n_pairs"))
        .select(lit(0L).as("ham"), col("n_pairs"))
        .where(col("n_pairs") > 0)
      val ex = hg.select(col("lo"), col("hi"), col("cnt"),
        posexplode(array(
          col("lo").bitwiseAND(lit(0xFFFFL)),
          shiftright(col("lo"), 16).bitwiseAND(lit(0xFFFFL)),
          col("hi").bitwiseAND(lit(0xFFFFL)),
          shiftright(col("hi"), 16).bitwiseAND(lit(0xFFFFL))))
          .as(Seq("band", "bval")))
      val a = ex.toDF("la", "ha", "ca", "band", "bval")
      val b = ex.toDF("lb", "hb", "cb", "band", "bval")
      val near = a.join(b, Seq("band", "bval"))
        .where(col("la") < col("lb") ||
          (col("la") === col("lb") && col("ha") < col("hb")))
        .select("la", "ha", "ca", "lb", "hb", "cb").distinct()
        .withColumn("ham",
          (bit_count(col("la").bitwiseXOR(col("lb"))) +
            bit_count(col("ha").bitwiseXOR(col("hb")))).cast("long"))
        .where(col("ham").between(1, 3))
        .groupBy("ham")
        .agg(sum(col("ca") * col("cb")).as("n_pairs"))
      ham0.unionByName(near)
        .select(col("ham"), col("n_pairs").cast("long").as("n_pairs"))
        .orderBy("ham")
    }),

    // X83: Goertzel tone power per audio row — decode the PCM payload and
    // measure three DFT bins with the O(N)/O(1)-state recurrence; the
    // DuckDB twin recomputes each bin in direct DFT form (cos/sin-weighted
    // sums of the closed-form fixture samples), so both the decode and
    // the recurrence must agree to the 4-decimal log-power rounding.
    "q_audio_tone" -> ((s, d) => {
      implicit val me = org.apache.spark.sql.Encoders.product[Media]
      import s.implicits._
      val bins = Seq(1, 3, 7)
      media(s, d).where(col("fmt") === "wav").as[Media]
        .flatMap { m =>
          val (_, samples) = Wav.parse(m.bytes)
            .getOrElse(sys.error(s"unparseable wav payload for media ${m.media_id}"))
          bins.map(k =>
            (m.media_id, k.toLong, graft.functions.Goertzel.logPower(samples, k)))
        }
        .toDF("media_id", "bin", "lp")
        .select(col("media_id"), col("bin"), round(col("lp"), 4).as("lp4"))
        .orderBy("media_id", "bin")
    }),

    // REAL BMP decode, fully oracle-checked: parse the header and undo the
    // bottom-up padded row layout; the DuckDB twin recomputes dimensions,
    // byte counts, and the decoded pixel sum from the closed-form pixel
    // formula — row-order or stride bugs break the hash.
    "q_bmp_decode" -> ((s, d) => {
      implicit val me = org.apache.spark.sql.Encoders.product[Media]
      import s.implicits._
      media(s, d).where(col("fmt") === "bmp").as[Media]
        .map { m =>
          val (info, px) = Bmp.parse(m.bytes)
            .getOrElse(sys.error(s"unparseable bmp payload for media ${m.media_id}"))
          (m.media_id, info.width.toLong, info.height.toLong,
            info.bitsPerPixel.toLong, px.length.toLong,
            px.foldLeft(0L)(_ + _))
        }
        .toDF("media_id", "width", "height", "bpp", "n_px_bytes", "sum_px")
        .orderBy("media_id")
    }),

    // X93: decode → nearest-neighbor resize to a fixed 8×6 thumbnail —
    // the index map is pure integer arithmetic, so the oracle recomputes
    // every RESIZED pixel from the closed-form source formula composed
    // with the same map. The position-weighted sum pins byte ORDER, not
    // just the multiset (a transposed or row-flipped resize has the same
    // sum_px but a different wsum_px).
    "q_image_resize" -> ((s, d) => {
      implicit val me = org.apache.spark.sql.Encoders.product[Media]
      import s.implicits._
      media(s, d).where(col("fmt") === "bmp").as[Media]
        .map { m =>
          val (info, px) = Bmp.parse(m.bytes)
            .getOrElse(sys.error(s"unparseable bmp payload for media ${m.media_id}"))
          val out = Bmp.resizeNearest(px, info.width, info.height, 8, 6)
          var sum = 0L; var wsum = 0L
          var i = 0
          while (i < out.length) { sum += out(i); wsum += out(i).toLong * (i + 1); i += 1 }
          (m.media_id, 8L, 6L, out.length.toLong, sum, wsum)
        }
        .toDF("media_id", "out_w", "out_h", "n_out", "sum_px", "wsum_px")
        .orderBy("media_id")
    }),

    // X210: perceptual image hash (aHash) — decode → 8×8 nearest resize
    // → per-cell luma (integer channel sum, no division) → mean-threshold
    // bit per cell with the mean comparison CROSS-MULTIPLIED (luma·64 >
    // Σluma — exact integers end to end, so the oracle rebuilds every
    // bit from the closed-form pixel formula). Packed as two 32-bit
    // halves (lo, hi) so neither engine touches the sign bit. Near-dup
    // image detection is then Hamming distance over these longs — the
    // X205 popcount machinery applied to pixels instead of embeddings
    // (spec pins a planted near-identical pair vs a structural change).
    "q_image_phash" -> ((s, d) => {
      implicit val me = org.apache.spark.sql.Encoders.product[Media]
      import s.implicits._
      media(s, d).where(col("fmt") === "bmp").as[Media]
        .map { m =>
          val (info, px) = Bmp.parse(m.bytes)
            .getOrElse(sys.error(s"unparseable bmp payload for media ${m.media_id}"))
          val (lo, hi, n) = Multimodal.aHash(px, info.width, info.height)
          (m.media_id, lo, hi, n)
        }
        .toDF("media_id", "phash_lo", "phash_hi", "n_bits")
        .orderBy("media_id")
    }),

    // REAL AVI decode, fully oracle-checked: walk the RIFF chunks of each
    // video payload, read geometry/rate from hdrl/strl, undo each 00db
    // frame's bottom-up padded rows, and aggregate the decoded pixels; the
    // DuckDB twin recomputes every output — frame count, dimensions, rate,
    // and the all-frames pixel sum — from the closed-form fixture signal.
    "q_video_frames" -> ((s, d) => {
      implicit val me = org.apache.spark.sql.Encoders.product[Media]
      import s.implicits._
      media(s, d).where(col("fmt") === "avi").as[Media]
        .map { m =>
          val (info, px) = Avi.parse(m.bytes)
            .getOrElse(sys.error(s"unparseable avi payload for media ${m.media_id}"))
          (m.media_id, info.width.toLong, info.height.toLong,
            info.nFrames.toLong, info.rate.toLong / info.scale,
            px.length.toLong, px.foldLeft(0L)(_ + _))
        }
        .toDF("media_id", "width", "height", "n_frames", "fps",
          "n_px_bytes", "sum_px")
        .orderBy("media_id")
    }),

    // X242: scene-cut detection — the video curator's shot segmenter
    // (PySceneDetect's content detector distilled): per-frame pixel sums
    // from the REAL AVI decode, frame-to-frame absolute delta, a cut
    // wherever the delta exceeds `sceneCutPerByte` per pixel byte.
    // Per-row work only (each video decodes once, frames iterate in the
    // same typed map — no shuffle, no frame explode); the oracle rebuilds
    // every per-frame sum from the fixture's closed-form signal and
    // replays the delta/threshold arithmetic with a window lag.
    "q_scene_cuts" -> ((s, d) => {
      implicit val me = org.apache.spark.sql.Encoders.product[Media]
      import s.implicits._
      media(s, d).where(col("fmt") === "avi").as[Media]
        .map { m =>
          val (info, px) = Avi.parse(m.bytes)
            .getOrElse(sys.error(s"unparseable avi payload for media ${m.media_id}"))
          val fs = info.width * info.height * 3
          val sums = Array.tabulate(info.nFrames) { f =>
            var a = 0L; var i = f * fs
            while (i < (f + 1) * fs) { a += px(i); i += 1 }
            a
          }
          val deltas = sums.indices.drop(1).map(f => math.abs(sums(f) - sums(f - 1)))
          (m.media_id, info.nFrames.toLong,
            deltas.count(_ > sceneCutPerByte.toLong * fs).toLong,
            if (deltas.isEmpty) 0L else deltas.max,
            sums.zipWithIndex.map { case (v, f) => v * (f + 1) }.sum)
        }
        .toDF("media_id", "n_frames", "n_cuts", "max_delta", "frames_checksum")
        .orderBy("media_id")
    }),

    // REAL PNG decode (X41), fully oracle-checked: inflate + unfilter via
    // the JDK reader against payloads from OUR OWN spec-level encoder —
    // a cross-implementation round trip whose decoded pixel sum the
    // DuckDB twin recomputes in closed form.
    "q_png_decode" -> ((s, d) => {
      implicit val me = org.apache.spark.sql.Encoders.product[Media]
      import s.implicits._
      mediaCompressed(s, d).where(col("fmt") === "png").as[Media]
        .map { m =>
          val (info, px) = Png.parse(m.bytes)
            .getOrElse(sys.error(s"unparseable png payload for media ${m.media_id}"))
          (m.media_id, info.width.toLong, info.height.toLong,
            px.length.toLong, px.foldLeft(0L)(_ + _))
        }
        .toDF("media_id", "width", "height", "n_px_bytes", "sum_px")
        .orderBy("media_id")
    }),

    // Baseline-JPEG decode (X41): lossy, so the hash pins geometry and
    // decoded byte counts (both closed-form); signal fidelity vs the
    // source pattern is pinned with a tolerance in CompressedImageSpec.
    "q_jpeg_decode" -> ((s, d) => {
      implicit val me = org.apache.spark.sql.Encoders.product[Media]
      import s.implicits._
      mediaCompressed(s, d).where(col("fmt") === "jpeg").as[Media]
        .map { m =>
          val (info, px) = Jpeg.parse(m.bytes)
            .getOrElse(sys.error(s"unparseable jpeg payload for media ${m.media_id}"))
          (m.media_id, info.width.toLong, info.height.toLong, px.length.toLong)
        }
        .toDF("media_id", "width", "height", "n_px_bytes")
        .orderBy("media_id")
    }),

    // Frame sampling: chunk the payload into frameBytes-sized frames, keep
    // every frameStep-th — pure per-row index arithmetic (the binary
    // substring itself is exercised in MultimodalSpec); integer outputs keep
    // the DuckDB oracle exact.
    "q_frame_sample" -> ((s, d) =>
      media(s, d)
        .select(col("media_id"), length(col("bytes")).as("n"),
          explode(sequence(lit(0),
            (length(col("bytes")) + frameBytes - 1).divide(frameBytes).cast("int") - 1,
            lit(frameStep))).as("frame_idx"))
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          least(lit(frameBytes), col("n") - col("frame_idx") * frameBytes)
            .cast("long").as("frame_len"))
        .orderBy("media_id", "frame_idx")),
  )

  private val mediaTypeSql =
    "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
  private val fmtSql =
    "CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' ELSE 'avi' END"

  /** Payload size in closed form: wav rows are 44-byte-header PCM16 files
    * (n = 50 + id % 100 samples); bmp rows are 54-byte-header 24-bit
    * images (w = 3 + id % 5, h = 2 + id % 4, rows padded to 4 bytes);
    * video rows are 224-byte-header AVIs with nF = 2 + id % 5 frames of
    * (w = 2 + id % 4) × (h = 2 + id % 3) padded DIB rows plus an 8-byte
    * chunk header each.
    */
  private val nBytesSql =
    """CASE WHEN doc_id % 3 = 1 THEN 144 + 2 * (doc_id % 100)
      |     WHEN doc_id % 3 = 0 THEN 54 + ((3 * (3 + doc_id % 5) + 3) // 4) * 4 * (2 + doc_id % 4)
      |     ELSE 224 + (2 + doc_id % 5) * (8 + ((3 * (2 + doc_id % 4) + 3) // 4) * 4 * (2 + doc_id % 3)) END""".stripMargin.replace("\n", " ")

  val oracles: Map[String, String] = Map(
    "q_media_meta" ->
      s"""SELECT doc_id AS media_id, $mediaTypeSql AS media_type, $fmtSql AS fmt,
         |       $nBytesSql AS n_bytes
         |FROM documents ORDER BY media_id""".stripMargin,
    "q_frame_sample" ->
      s"""SELECT media_id, i AS frame_idx,
         |       least($frameBytes, n - $frameBytes * i) AS frame_len
         |FROM (SELECT doc_id AS media_id, $nBytesSql AS n,
         |             unnest(range(0, CAST(ceil(($nBytesSql) / $frameBytes.0) AS BIGINT),
         |                          $frameStep)) AS i
         |      FROM documents)
         |ORDER BY media_id, frame_idx""".stripMargin,
    // Full-signal oracle for the feature extractor: every media type's
    // DECODED signal is recomputable in SQL — wav samples, bmp pixels, and
    // avi per-frame pixels from their closed forms. Integer sums are exact
    // in double, so the 4dp-rounded means hash-match.
    "q_media_features" -> {
      val kindN =
        """CASE doc_id % 3
          |  WHEN 2 THEN (2 + doc_id % 5) * (2 + doc_id % 4) * (2 + doc_id % 3) * 3
          |  WHEN 1 THEN 50 + doc_id % 100
          |  ELSE (3 + doc_id % 5) * (2 + doc_id % 4) * 3 END""".stripMargin.replace("\n", " ")
      s"""WITH meta AS (
         |  SELECT doc_id AS media_id, doc_id % 3 AS kind,
         |         3 + doc_id % 5 AS w,
         |         2 + doc_id % 4 AS vw,
         |         2 + doc_id % 3 AS vh,
         |         CAST($kindN AS BIGINT) AS n,
         |         CAST($nBytesSql AS BIGINT) AS n_bytes
         |  FROM documents),
         |bounds AS (
         |  SELECT *,
         |         least(greatest(1, n // 8), n) AS s0_hi,
         |         7 * n // 8 AS s7_lo
         |  FROM meta),
         |sig AS (
         |  SELECT m.media_id, m.n, m.n_bytes, m.s0_hi, m.s7_lo, i.i,
         |         CASE m.kind
         |           WHEN 2 THEN (m.media_id * 7 + (i.i // (3 * m.vw * m.vh)) * 97
         |                        + ((i.i % (3 * m.vw * m.vh)) // (3 * m.vw)) * 31
         |                        + ((i.i % (3 * m.vw)) // 3) * 3 + (i.i % 3)) % 256
         |           WHEN 1 THEN ((m.media_id * 31 + i.i * 7) % 4096) - 2048
         |           ELSE (m.media_id * 7 + (i.i // (3 * m.w)) * 31
         |                 + ((i.i % (3 * m.w)) // 3) * 3 + (i.i % 3)) % 256
         |         END AS v
         |  FROM bounds m JOIN range(0, 600) i(i) ON i.i < m.n)
         |SELECT media_id, n_bytes,
         |       coalesce(round(CAST(sum(v) AS DOUBLE) / n, 4), 0.0) AS mean_byte_r4,
         |       coalesce(round(CAST(sum(CASE WHEN i < s0_hi THEN v END) AS DOUBLE)
         |                        / nullif(s0_hi, 0), 4), 0.0) AS stride0_r4,
         |       coalesce(round(CAST(sum(CASE WHEN i >= s7_lo THEN v END) AS DOUBLE)
         |                        / nullif(n - s7_lo, 0), 4), 0.0) AS stride${nStrides - 1}_r4
         |FROM sig
         |GROUP BY media_id, n, n_bytes, s0_hi, s7_lo
         |ORDER BY media_id""".stripMargin
    },
    "q_bmp_decode" ->
      """SELECT media_id, width, height, bpp, n_px_bytes,
        |       CAST(sum((media_id * 7 + y.i * 31 + x.i * 3 + c.i) % 256) AS BIGINT) AS sum_px
        |FROM (SELECT doc_id AS media_id,
        |             CAST(3 + doc_id % 5 AS BIGINT) AS width,
        |             CAST(2 + doc_id % 4 AS BIGINT) AS height,
        |             CAST(24 AS BIGINT) AS bpp,
        |             CAST((3 + doc_id % 5) * (2 + doc_id % 4) * 3 AS BIGINT) AS n_px_bytes
        |      FROM documents WHERE doc_id % 3 = 0) d
        |JOIN range(0, 7) x(i) ON x.i < d.width
        |JOIN range(0, 5) y(i) ON y.i < d.height
        |JOIN range(0, 3) c(i) ON true
        |GROUP BY media_id, width, height, bpp, n_px_bytes
        |ORDER BY media_id""".stripMargin,
    // X93: every resized pixel recomputed from the closed-form source
    // formula composed with the integer nearest-neighbor index map;
    // wsum_px weights by output byte position to pin layout order.
    "q_image_resize" ->
      """WITH d AS (SELECT doc_id AS media_id,
        |                  CAST(3 + doc_id % 5 AS BIGINT) AS w,
        |                  CAST(2 + doc_id % 4 AS BIGINT) AS h
        |           FROM documents WHERE doc_id % 3 = 0),
        |px AS (
        |  SELECT media_id,
        |         (media_id * 7 + ((yo.i * h) // 6) * 31 + ((xo.i * w) // 8) * 3 + c.i) % 256 AS v,
        |         (yo.i * 8 + xo.i) * 3 + c.i + 1 AS pos
        |  FROM d
        |  JOIN range(0, 8) xo(i) ON true
        |  JOIN range(0, 6) yo(i) ON true
        |  JOIN range(0, 3) c(i) ON true)
        |SELECT media_id, CAST(8 AS BIGINT) AS out_w, CAST(6 AS BIGINT) AS out_h,
        |       CAST(144 AS BIGINT) AS n_out,
        |       CAST(sum(v) AS BIGINT) AS sum_px,
        |       CAST(sum(v * pos) AS BIGINT) AS wsum_px
        |FROM px GROUP BY media_id
        |ORDER BY media_id""".stripMargin,
    "q_image_neardup" ->
      """WITH d AS (SELECT doc_id AS media_id,
        |                  CAST(3 + doc_id % 5 AS BIGINT) AS w,
        |                  CAST(2 + doc_id % 4 AS BIGINT) AS h
        |           FROM documents WHERE doc_id % 3 = 0),
        |cell AS (
        |  SELECT media_id, yo.i AS y, xo.i AS x,
        |         sum((media_id * 7 + ((yo.i * h) // 8) * 31
        |              + ((xo.i * w) // 8) * 3 + c.i) % 256) AS luma
        |  FROM d
        |  JOIN range(0, 8) xo(i) ON true
        |  JOIN range(0, 8) yo(i) ON true
        |  JOIN range(0, 3) c(i) ON true
        |  GROUP BY media_id, yo.i, xo.i),
        |tot AS (SELECT media_id, sum(luma) AS total FROM cell GROUP BY media_id),
        |hsh AS (
        |  SELECT c.media_id,
        |         CAST(COALESCE(sum(CASE WHEN luma * 64 > total AND y * 8 + x < 32
        |                                 THEN CAST(1 AS BIGINT) << CAST(y * 8 + x AS INT) END), 0) AS BIGINT) AS lo,
        |         CAST(COALESCE(sum(CASE WHEN luma * 64 > total AND y * 8 + x >= 32
        |                                 THEN CAST(1 AS BIGINT) << CAST(y * 8 + x - 32 AS INT) END), 0) AS BIGINT) AS hi
        |  FROM cell c JOIN tot t ON c.media_id = t.media_id
        |  GROUP BY c.media_id),
        |p AS (
        |  SELECT CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS ham
        |  FROM hsh a JOIN hsh b ON a.media_id < b.media_id)
        |SELECT ham, count(*) AS n_pairs
        |FROM p WHERE ham <= 3 GROUP BY ham ORDER BY ham""".stripMargin,
    "q_image_phash" ->
      """WITH d AS (SELECT doc_id AS media_id,
        |                  CAST(3 + doc_id % 5 AS BIGINT) AS w,
        |                  CAST(2 + doc_id % 4 AS BIGINT) AS h
        |           FROM documents WHERE doc_id % 3 = 0),
        |cell AS (
        |  SELECT media_id, yo.i AS y, xo.i AS x,
        |         sum((media_id * 7 + ((yo.i * h) // 8) * 31
        |              + ((xo.i * w) // 8) * 3 + c.i) % 256) AS luma
        |  FROM d
        |  JOIN range(0, 8) xo(i) ON true
        |  JOIN range(0, 8) yo(i) ON true
        |  JOIN range(0, 3) c(i) ON true
        |  GROUP BY media_id, yo.i, xo.i),
        |tot AS (SELECT media_id, sum(luma) AS total FROM cell GROUP BY media_id)
        |SELECT c.media_id,
        |       CAST(COALESCE(sum(CASE WHEN luma * 64 > total AND y * 8 + x < 32
        |                               THEN CAST(1 AS BIGINT) << CAST(y * 8 + x AS INT) END), 0) AS BIGINT) AS phash_lo,
        |       CAST(COALESCE(sum(CASE WHEN luma * 64 > total AND y * 8 + x >= 32
        |                               THEN CAST(1 AS BIGINT) << CAST(y * 8 + x - 32 AS INT) END), 0) AS BIGINT) AS phash_hi,
        |       count(*) FILTER (WHERE luma * 64 > total) AS n_bits
        |FROM cell c JOIN tot t ON c.media_id = t.media_id
        |GROUP BY c.media_id ORDER BY c.media_id""".stripMargin,
    "q_video_frames" ->
      """SELECT media_id, width, height, n_frames, fps, n_px_bytes,
        |       CAST(sum((media_id * 7 + f.i * 97 + y.i * 31 + x.i * 3 + c.i) % 256) AS BIGINT) AS sum_px
        |FROM (SELECT doc_id AS media_id,
        |             CAST(2 + doc_id % 4 AS BIGINT) AS width,
        |             CAST(2 + doc_id % 3 AS BIGINT) AS height,
        |             CAST(2 + doc_id % 5 AS BIGINT) AS n_frames,
        |             CAST(10 + doc_id % 5 AS BIGINT) AS fps,
        |             CAST((2 + doc_id % 5) * (2 + doc_id % 4) * (2 + doc_id % 3) * 3 AS BIGINT) AS n_px_bytes
        |      FROM documents WHERE doc_id % 3 = 2) d
        |JOIN range(0, 7) f(i) ON f.i < d.n_frames
        |JOIN range(0, 6) x(i) ON x.i < d.width
        |JOIN range(0, 5) y(i) ON y.i < d.height
        |JOIN range(0, 3) c(i) ON true
        |GROUP BY media_id, width, height, n_frames, fps, n_px_bytes
        |ORDER BY media_id""".stripMargin,
    "q_scene_cuts" ->
      s"""WITH vids AS (
        |  SELECT doc_id AS media_id,
        |         CAST(2 + doc_id % 4 AS BIGINT) AS width,
        |         CAST(2 + doc_id % 3 AS BIGINT) AS height,
        |         CAST(2 + doc_id % 5 AS BIGINT) AS n_frames
        |  FROM documents WHERE doc_id % 3 = 2),
        |fsums AS (
        |  SELECT media_id, n_frames, width * height * 3 AS fs, f.i AS f,
        |         CAST(sum((media_id * 7 + f.i * 97 + y.i * 31 + x.i * 3 + c.i) % 256)
        |           AS BIGINT) AS fsum
        |  FROM vids d
        |  JOIN range(0, 7) f(i) ON f.i < d.n_frames
        |  JOIN range(0, 6) x(i) ON x.i < d.width
        |  JOIN range(0, 5) y(i) ON y.i < d.height
        |  JOIN range(0, 3) c(i) ON true
        |  GROUP BY media_id, n_frames, fs, f.i),
        |lagd AS (
        |  SELECT media_id, n_frames, f, fsum, fs,
        |         abs(fsum - lag(fsum) OVER (PARTITION BY media_id ORDER BY f)) AS delta
        |  FROM fsums)
        |SELECT media_id, n_frames,
        |       CAST(coalesce(sum(CASE WHEN delta > $sceneCutPerByte * fs THEN 1 END), 0)
        |         AS BIGINT) AS n_cuts,
        |       CAST(coalesce(max(delta), 0) AS BIGINT) AS max_delta,
        |       CAST(sum(fsum * (f + 1)) AS BIGINT) AS frames_checksum
        |FROM lagd GROUP BY media_id, n_frames ORDER BY media_id""".stripMargin,

    "q_png_decode" ->
      """SELECT media_id, width, height, n_px_bytes,
        |       CAST(sum((media_id * 11 + y.i * 29 + x.i * 5 + c.i * 7) % 256) AS BIGINT) AS sum_px
        |FROM (SELECT doc_id AS media_id,
        |             CAST(4 + doc_id % 6 AS BIGINT) AS width,
        |             CAST(3 + doc_id % 5 AS BIGINT) AS height,
        |             CAST((4 + doc_id % 6) * (3 + doc_id % 5) * 3 AS BIGINT) AS n_px_bytes
        |      FROM documents WHERE doc_id % 2 = 0) d
        |JOIN range(0, 10) x(i) ON x.i < d.width
        |JOIN range(0, 8) y(i) ON y.i < d.height
        |JOIN range(0, 3) c(i) ON true
        |GROUP BY media_id, width, height, n_px_bytes
        |ORDER BY media_id""".stripMargin,
    "q_jpeg_decode" ->
      """SELECT doc_id AS media_id,
        |       CAST(16 + doc_id % 16 AS BIGINT) AS width,
        |       CAST(12 + doc_id % 8 AS BIGINT) AS height,
        |       CAST((16 + doc_id % 16) * (12 + doc_id % 8) * 3 AS BIGINT) AS n_px_bytes
        |FROM documents WHERE doc_id % 2 = 1
        |ORDER BY media_id""".stripMargin,
    "q_audio_tone" ->
      """SELECT media_id, k AS bin,
        |       round(log10(1 + pow(sum(x * cos(2 * pi() * k * i / n)), 2)
        |                     + pow(sum(x * sin(2 * pi() * k * i / n)), 2)), 4) AS lp4
        |FROM (SELECT doc_id AS media_id,
        |             CAST(50 + doc_id % 100 AS BIGINT) AS n
        |      FROM documents WHERE doc_id % 3 = 1) d
        |JOIN range(0, 150) t(i) ON t.i < d.n
        |CROSS JOIN (SELECT CAST(unnest([1, 3, 7]) AS BIGINT) AS k) ks,
        |LATERAL (SELECT ((media_id * 31 + i * 7) % 4096) - 2048 AS x) xs
        |GROUP BY media_id, k
        |ORDER BY media_id, bin""".stripMargin,

    "q_audio_frames" ->
      """WITH d AS (SELECT doc_id AS media_id,
        |                  CAST(50 + doc_id % 100 AS BIGINT) AS n
        |           FROM documents WHERE doc_id % 3 = 1),
        |s AS (SELECT media_id, t.i // 32 AS f,
        |             ((media_id * 31 + t.i * 7) % 4096) - 2048 AS v
        |      FROM d JOIN range(0, 150) t(i) ON t.i < d.n),
        |fe AS (SELECT media_id, f, sum(v * v) AS e FROM s GROUP BY media_id, f),
        |tot AS (SELECT media_id, count(*) AS n_frames,
        |               CAST(sum(e) AS BIGINT) AS total_energy,
        |               CAST(max(e) AS BIGINT) AS max_energy
        |        FROM fe GROUP BY media_id)
        |SELECT t.media_id, t.n_frames, t.total_energy, t.max_energy,
        |       CAST(min(fe.f) AS BIGINT) AS max_frame
        |FROM tot t JOIN fe ON fe.media_id = t.media_id AND fe.e = t.max_energy
        |GROUP BY t.media_id, t.n_frames, t.total_energy, t.max_energy
        |ORDER BY t.media_id""".stripMargin,
    "q_audio_silence" ->
      s"""WITH auds AS (
        |  SELECT doc_id AS media_id, CAST(50 + doc_id % 100 AS BIGINT) AS n_samples
        |  FROM documents WHERE doc_id % 3 = 1),
        |wins AS (
        |  SELECT media_id, t.i // $silenceWindow AS w,
        |         CAST(sum(abs(((media_id * 31 + t.i * 7) % 4096) - 2048)) AS BIGINT) AS e,
        |         count(*) AS ns
        |  FROM auds d JOIN range(0, 150) t(i) ON t.i < d.n_samples
        |  GROUP BY media_id, t.i // $silenceWindow),
        |flagged AS (
        |  SELECT media_id, w, e, e < $silencePerSample * ns AS silent FROM wins),
        |runs AS (
        |  SELECT media_id, e, silent,
        |         CASE WHEN NOT silent AND coalesce(
        |           lag(silent) OVER (PARTITION BY media_id ORDER BY w), TRUE)
        |         THEN 1 ELSE 0 END AS seg_start
        |  FROM flagged)
        |SELECT media_id, count(*) AS n_windows,
        |       CAST(sum(CASE WHEN silent THEN 1 ELSE 0 END) AS BIGINT) AS n_silent,
        |       CAST(sum(seg_start) AS BIGINT) AS n_segments,
        |       CAST(max(e) AS BIGINT) AS max_wenergy
        |FROM runs GROUP BY media_id ORDER BY media_id""".stripMargin,

    "q_wav_decode" ->
      """SELECT media_id, sample_rate, n_channels, bits_per_sample, n_samples,
        |       CAST(sum(((media_id * 31 + i * 7) % 4096) - 2048) AS BIGINT) AS sum_samples
        |FROM (SELECT doc_id AS media_id,
        |             CAST(8000 + (doc_id % 4) * 2000 AS BIGINT) AS sample_rate,
        |             CAST(1 AS BIGINT) AS n_channels,
        |             CAST(16 AS BIGINT) AS bits_per_sample,
        |             CAST(50 + doc_id % 100 AS BIGINT) AS n_samples
        |      FROM documents WHERE doc_id % 3 = 1) d
        |JOIN range(0, 150) t(i) ON t.i < d.n_samples
        |GROUP BY media_id, sample_rate, n_channels, bits_per_sample, n_samples
        |ORDER BY media_id""".stripMargin,
  )
}
