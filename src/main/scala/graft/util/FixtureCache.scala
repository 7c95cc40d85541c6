package graft.util

/** The one in-JVM memo. It holds memoized fixture builds for queries
  * whose INPUT is a materialized scratch layout (stream snapshot files,
  * signature tables), and driver-side values such as trained quantizers
  * and prefix structures. The operator under test/bench re-runs on every
  * invocation, but rebuilding an identical input per-invocation (per
  * warmup + per bench repeat) only re-times the builder — VERDICT r2
  * item 2 calls this out as the honest lever on the streaming trio. Every
  * entry must be a deterministic build over immutable input. Fixtures are
  * keyed by (tag, sfDir) so different scale factors never share one;
  * builds land in Scratch dirs and are deleted at JVM exit like every
  * other intermediate.
  */
object FixtureCache {

  /** Every entry, keyed `namespace|tag|key`. Each namespace ("value",
    * "dir", "durable") is a literal without `|`, so value keys and
    * fixture-dir keys are disjoint by construction: `ArtifactStore.lines`
    * falls back to `dir(tag, sfDir)` under the same tag a `value` memo may
    * use. An entry is a finished value or the [[Building]] mark of a build
    * in flight.
    */
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** In-flight mark; the building thread holds its monitor. */
  private final class Building

  /** Cached analyzed relation over a memoized fixture dir: builds the
    * fixture once per JVM AND lists/schema-infers it once per session
    * (graft.sources.Tables.cachedParquet) — a per-call
    * `spark.read.parquet` re-pays 100-300 ms of driver I/O for a dir
    * this cache guarantees immutable after build.
    */
  def parquet(spark: org.apache.spark.sql.SparkSession, tag: String, sfDir: String)(
      build: String => Unit): org.apache.spark.sql.DataFrame =
    graft.sources.Tables.cachedParquet(spark, dir(tag, sfDir)(build))

  /** The value for (tag, key), built by `build` on first request in this
    * JVM and reused afterwards. `build` must be a pure function of
    * immutable input named by the key.
    */
  def value[V <: AnyRef](tag: String, key: String)(build: => V): V =
    getOrBuild(s"value|$tag|$key")(build)

  /** The fixture directory for (tag, sfDir), building it with `build` on
    * first request in this JVM and reusing it afterwards.
    */
  def dir(tag: String, sfDir: String)(build: String => Unit): String =
    getOrBuild(s"dir|$tag|$sfDir") {
      val d = Scratch.dir(tag)
      build(d)
      d
    }

  /** Cross-JVM durable fixture reuse (round-9 VERDICT ask #3): committed
    * TIMELINE fixtures (multi-commit DML tables, trained ANN indexes) are
    * pure deterministic functions of (corpus, builder version), so a bench
    * rerun in a fresh JVM rebuilding a byte-identical 4-commit table or
    * re-training an identical quantizer only re-times the builder — the
    * same honesty argument as the in-JVM memo above, extended across
    * process restarts.
    *
    * Safety rules, in order of importance:
    *  - OPT-IN per process: only takes effect when the system property
    *    `graft.fixture.durable` is `1` (graft.Bench sets it for its own
    *    JVM); Verify and the test suites never set it, so the CORRECTNESS
    *    gate always exercises live builds — a stale cache can slow a
    *    bench, never fake a correctness pass.
    *  - keyed by an explicit caller FINGERPRINT (the "schema-hash"):
    *    builder changes bump it, and a mismatch is a different directory,
    *    never a reused one.
    *  - crash-safe: builds land in a `.tmp-<pid>` dir and publish by
    *    atomic rename; a loser of the rename race deletes its attempt and
    *    adopts the winner. A completeness marker guards against torn
    *    copies from a killed JVM.
    *
    * Falls back to the in-JVM [[dir]] when the property is off.
    */
  def durableDir(tag: String, sfDir: String, fingerprint: String)(
      build: String => Unit): String =
    if (System.getProperty("graft.fixture.durable") != "1") dir(tag, sfDir)(build)
    else getOrBuild(s"durable|$tag|$sfDir") {
      val root = sys.env.getOrElse("GRAFT_FIXTURE_CACHE", "/tmp/graft_fixture_cache")
      val hash = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$tag|$sfDir|$fingerprint".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
      val target = new java.io.File(root, s"$tag-$hash")
      val marker = new java.io.File(target, "_GRAFT_FIXTURE_OK")
      if (!marker.isFile) {
        val tmp = new java.io.File(root, s"$tag-$hash.tmp-${ProcessHandle.current.pid}")
        tmp.mkdirs()
        build(tmp.getAbsolutePath)
        java.nio.file.Files.write(tmp.toPath.resolve("_GRAFT_FIXTURE_OK"),
          fingerprint.getBytes("UTF-8"))
        if (!tmp.renameTo(target)) { // lost the publish race (or torn leftover)
          if (marker.isFile) deleteRecursively(tmp) // adopt the winner
          else { deleteRecursively(target); // torn dir from a killed JVM
            if (!tmp.renameTo(target)) { deleteRecursively(tmp)
              require(marker.isFile, s"durable fixture publish failed: $target") }
          }
        }
      }
      target.getAbsolutePath
    }

  /** The one get-or-build. REENTRANT: a build may request other entries
    * (a cluster fixture materializing the shingle table it is built
    * from), which `ConcurrentHashMap.computeIfAbsent` would reject as a
    * recursive update. The lock is per key — the in-flight mark's monitor,
    * not one object-wide monitor — because a build may wait on another
    * thread that requests a different key: q_stream_cdf's fixture awaits
    * a stream whose thread resolves a memoized change-feed step.
    * Concurrent first requests of one key wait for its single build; a
    * build that throws leaves no entry.
    */
  private def getOrBuild[V <: AnyRef](key: String)(build: => V): V =
    cache.get(key) match {
      case null =>
        val mark = new Building
        mark.synchronized {
          if (cache.putIfAbsent(key, mark) != null) return getOrBuild(key)(build)
          try { val v = build; cache.put(key, v); v }
          finally cache.remove(key, mark)
        }
      case b: Building =>
        require(!Thread.holdsLock(b), s"memo build of $key requested itself")
        b.synchronized(()) // wait out the in-flight build, then re-read
        getOrBuild(key)(build)
      case v => v.asInstanceOf[V]
    }

  /** Test hook: drop every memo entry (values and fixture dirs) so a spec
    * can exercise the cross-JVM adoption path (a fresh JVM is exactly
    * "empty memo, durable dir present"). Later requests rebuild — fixtures
    * into fresh scratch dirs — slower, never wrong.
    */
  private[graft] def clearForTest(): Unit = cache.clear()

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
