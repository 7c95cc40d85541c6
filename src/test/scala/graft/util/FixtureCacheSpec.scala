package graft.util

import org.scalatest.funsuite.AnyFunSuite

/** The one in-JVM memo (reentrant builds, disjoint value/dir keys, a
  * per-key lock) and the cross-JVM durable fixture layer (round-9 ask
  * #3): opt-in flag, marker-gated adoption, fingerprint isolation. Pure
  * filesystem — no Spark session needed.
  */
class FixtureCacheSpec extends AnyFunSuite {

  private def withDurable[T](body: => T): T = {
    System.setProperty("graft.fixture.durable", "1")
    try body
    finally System.clearProperty("graft.fixture.durable")
  }

  private val sfKey = s"fixspec://${System.nanoTime()}"

  test("durable dir: build once, marker written, fresh-JVM adoption skips the build") {
    withDurable {
      var builds = 0
      def build(dir: String): Unit = {
        builds += 1
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, "payload.txt"), "x".getBytes)
      }
      val d1 = FixtureCache.durableDir("fixspec_a", sfKey, "v1")(build)
      assert(builds == 1)
      assert(new java.io.File(d1, "_GRAFT_FIXTURE_OK").isFile)
      assert(new java.io.File(d1, "payload.txt").isFile)
      // same JVM: memo hit
      assert(FixtureCache.durableDir("fixspec_a", sfKey, "v1")(build) == d1)
      assert(builds == 1)
      // simulated fresh JVM: empty memo + durable dir present → adopted
      FixtureCache.clearForTest()
      assert(FixtureCache.durableDir("fixspec_a", sfKey, "v1")(build) == d1)
      assert(builds == 1, "adoption must not rebuild")
    }
  }

  test("fingerprint change is a different directory (never a reuse)") {
    withDurable {
      var builds = 0
      def build(dir: String): Unit = { builds += 1 }
      val d1 = FixtureCache.durableDir("fixspec_b", sfKey, "v1")(build)
      FixtureCache.clearForTest()
      val d2 = FixtureCache.durableDir("fixspec_b", sfKey, "v2")(build)
      assert(builds == 2)
      assert(d1 != d2)
    }
  }

  test("flag off: falls back to per-JVM scratch (correctness gate never reuses)") {
    assert(System.getProperty("graft.fixture.durable") == null)
    val d = FixtureCache.durableDir("fixspec_c", sfKey, "v1")(_ => ())
    assert(!d.contains("graft_fixture_cache"),
      s"without the opt-in flag the durable root must not be used: $d")
  }

  test("torn build (no marker) is rebuilt, not adopted") {
    withDurable {
      var builds = 0
      val d1 = FixtureCache.durableDir("fixspec_d", sfKey, "v1")(_ => builds += 1)
      // simulate a killed JVM: marker gone, dir remains
      assert(new java.io.File(d1, "_GRAFT_FIXTURE_OK").delete())
      FixtureCache.clearForTest()
      val d2 = FixtureCache.durableDir("fixspec_d", sfKey, "v1")(_ => builds += 1)
      assert(builds == 2, "a torn durable dir must rebuild")
      assert(new java.io.File(d2, "_GRAFT_FIXTURE_OK").isFile)
    }
  }

  test("a value build may request a fixture dir and another value") {
    val got = FixtureCache.value("fixspec_outer", sfKey) {
      val d = FixtureCache.dir("fixspec_inner_dir", sfKey)(_ => ())
      val inner = FixtureCache.value("fixspec_inner", sfKey)(Seq(d))
      inner :+ "outer"
    }
    assert(got.size == 2 && got.last == "outer")
    assert(FixtureCache.value("fixspec_outer", sfKey)(Seq.empty[String]) eq got)
  }

  test("value and ArtifactStore.lines under one (tag, sfDir) keep their own entries") {
    assert(System.getProperty("graft.fixture.durable") == null)
    // with durability off, lines falls back to dir(tag, sfDir): its dir
    // entry and the value entry share tag and key and must not collide
    val v = FixtureCache.value("fixspec_ns", sfKey)(Seq(7L, 8L))
    val l = ArtifactStore.lines("fixspec_ns", sfKey, "v1")(Seq("a", "b"))
    assert(l == Seq("a", "b"))
    val v2: Seq[Long] = FixtureCache.value("fixspec_ns", sfKey)(Seq.empty[Long])
    assert(v2 == Seq(7L, 8L) && (v2 eq v))
    assert(ArtifactStore.lines("fixspec_ns", sfKey, "v1")(Seq("rebuilt")) == Seq("a", "b"))
  }

  test("clearForTest empties values as well as dirs") {
    var (valueBuilds, dirBuilds) = (0, 0)
    def v() = FixtureCache.value("fixspec_clear", sfKey) { valueBuilds += 1; new Object }
    def d() = FixtureCache.dir("fixspec_clear", sfKey)(_ => dirBuilds += 1)
    v(); d(); v(); d()
    assert((valueBuilds, dirBuilds) == ((1, 1)))
    FixtureCache.clearForTest()
    v(); d()
    assert((valueBuilds, dirBuilds) == ((2, 2)))
  }

  test("a build may wait on another thread that requests a different key") {
    // the q_stream_cdf shape: a fixture build awaits a stream whose
    // thread resolves a memoized value — one object-wide lock deadlocks
    var fromOther: String = null
    FixtureCache.value("fixspec_waiter", sfKey) {
      val t = new Thread(() =>
        fromOther = FixtureCache.value("fixspec_other", sfKey)("other"))
      t.setDaemon(true)
      t.start()
      t.join(30000)
      assert(!t.isAlive, "the other thread is blocked on the memo")
      "waiter"
    }
    assert(fromOther == "other")
  }
}
