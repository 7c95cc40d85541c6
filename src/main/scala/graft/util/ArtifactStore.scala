package graft.util

/** Committed DRIVER-SIDE artifacts (round-10 VERDICT ask #4): the per-JVM
  * memo ([[FixtureCache.value]]) keeps warm bench repeats honest, but a
  * restarted driver (or a second session over the same corpus) retrains
  * quantizers and re-sketches prefix structures that are pure deterministic
  * functions of an immutable corpus — at 100 TB these are exactly the
  * artifacts that persist WITH the table (an IVF index file, a tokenizer
  * vocabulary, a stats sidecar), not per-process.
  *
  * This store is the scalar twin of [[FixtureCache.durableDir]] and rides
  * its machinery verbatim: same `graft.fixture.durable` opt-in (Bench sets
  * it; Verify and the test suites never do, so the correctness gate always
  * exercises live builds), same builder-version fingerprint keying, same
  * crash-safe tmp-dir + atomic-rename publish. The artifact lands as a
  * small text file (`artifact.txt`) whose encoding the caller owns — all
  * current payloads are exact longs/IEEE doubles, so `toString`/`parse`
  * round-trips are bit-exact.
  *
  * Callers wrap this in [[FixtureCache.value]] (decode-once per
  * process); the store only changes what a COLD JVM does on a miss: read
  * the committed file instead of re-running the distributed build.
  */
object ArtifactStore {

  /** Fetch-or-build a line-encoded artifact. `build` runs at most once per
    * (tag, corpus, fingerprint) across ALL processes sharing the durable
    * cache root (when the durable knob is on) or once per JVM (when off).
    */
  def lines(tag: String, sfDir: String, fingerprint: String)(
      build: => Seq[String]): Seq[String] = {
    val d = FixtureCache.durableDir(tag, sfDir, fingerprint) { dir =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "artifact.txt"),
        build.mkString("\n").getBytes("UTF-8"))
      ()
    }
    new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(d, "artifact.txt")), "UTF-8")
      .split("\n", -1).toSeq
  }

  /** [[graft.ops.DenseId.PrefixStructure]] codec: three lines — splits
    * (IEEE doubles, `Double.toString`/`parseDouble` round-trip exactly),
    * offsets, total. Empty split arrays (single-bucket structures) encode
    * as an empty line.
    */
  def encodePrefix(st: graft.ops.DenseId.PrefixStructure): Seq[String] =
    Seq(st.splits.map(java.lang.Double.toString).mkString(","),
      st.offsets.mkString(","),
      st.total.toString)

  def decodePrefix(l: Seq[String]): graft.ops.DenseId.PrefixStructure = {
    def longs(s: String) =
      if (s.isEmpty) Seq.empty[Long] else s.split(",").toSeq.map(_.toLong)
    graft.ops.DenseId.PrefixStructure(
      if (l.head.isEmpty) Array.empty[Double]
      else l.head.split(",").map(java.lang.Double.parseDouble),
      longs(l(1)), l(2).toLong)
  }

  /** Long-matrix codec (quantizer centroids, codebook planes): one
    * comma-joined row per line.
    */
  def encodeMatrix(m: Array[Array[Long]]): Seq[String] =
    m.toSeq.map(_.mkString(","))

  def decodeMatrix(l: Seq[String]): Array[Array[Long]] =
    l.map(_.split(",").map(_.toLong)).toArray
}
