package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.lake.{Catalog, DeleteVectors, ManifestTable}

/** Two-PROCESS optimistic-commit race runner (dev harness, driven by
  * `tools/commit_race.sh`).
  *
  * X96's rename-as-commit concurrency was raced intra-JVM by ManifestSpec
  * (thread barriers); this main puts each writer in its OWN JVM so the
  * race crosses real process isolation — separate Hadoop FileSystem
  * instances, separate page caches, no shared JVM locks — the deployment
  * shape of the reference's parallel per-account spark-submits
  * (`apify_dag.py:83-91,336`), which are exactly concurrent writer
  * processes against shared storage. Assertions mirror ManifestSpec:
  * per-writer versions strictly increase, the union is contiguous with
  * no gaps, and no append/delete is lost.
  *
  * Modes (first arg):
  *  - `seed <dir>`            — commit v1: ids 1..10 tagged "base"
  *  - `append <dir> <tag> <rounds> <startFile>` — wait for startFile,
  *    then `rounds` × appendRetrying of one `(id, tag)` row each; writes
  *    its committed version list to `<dir>/_versions_<tag>.txt`
  *  - `delete <dir> <rounds> <startFile>` — `rounds` × delete of base id
  *    `2k` (k = 1..rounds ≤ 5): predicates touch only seeded rows, so the
  *    final state is ORDER-INDEPENDENT and exactly checkable even though
  *    the interleaving is not
  *  - `check-append <dir> <rounds>`  — assertions after an append/append race
  *  - `check-appdel <dir> <aRounds> <dRounds>` — after an append/delete race
  *
  * Further modes (round-13: the rest of the rebase taxonomy, cross-process)
  *  - `replace <dir> <tag> <rounds> <startFile>` — `rounds` × full-table
  *    REPLACE commits (X96 last-replace-wins rebase); versions reported
  *    like `append`
  *  - `check-replace <dir> <rounds>` — versions contiguous, per-writer
  *    strictly increasing, final state owned by whoever took the LAST
  *    version, every version time-travelable
  *  - `cat <root> <tag> <rounds> <startFile>` — `rounds` × X99 catalog
  *    transactions over this writer's OWN table `t_<tag>` (disjoint table
  *    sets, shared catalog log — the two-pipelines-one-catalog shape);
  *    reports committed CATALOG cut versions
  *  - `check-cat <root> <aRounds>` — cut versions contiguous with no
  *    gaps, per-writer strictly increasing, the final cut references BOTH
  *    writers' final table versions, and both tables read back exactly
  *
  * Retry budget is deliberately generous (100): unlike the barrier-synced
  * spec, an unsynchronized process can lose many consecutive races in a
  * burst; the harness tests losslessness, not retry tuning.
  *
  * Commit-primitive selection: `SPARK_GRAFT_COMMIT_IMPL` (+
  * `SPARK_GRAFT_CAS_URL` for [[graft.lake.HttpCasCommit]]) routes every
  * writer through the conf-selected seam, so the same races prove the
  * rename primitive AND the conditional-PUT object-store primitive.
  */
object CommitRace {
  private val Retries = 100

  private def session(): SparkSession = {
    val s = Harness.session()
    sys.env.get("SPARK_GRAFT_COMMIT_IMPL").filter(_.nonEmpty)
      .foreach(s.conf.set(lake.CommitPrimitive.ImplConf, _))
    sys.env.get("SPARK_GRAFT_CAS_URL").filter(_.nonEmpty)
      .foreach(s.conf.set(lake.HttpCasCommit.UrlConf, _))
    s
  }

  /** Two-phase start gun: each writer touches a per-writer READY flag
    * once its SparkSession is up, and the launcher fires the start flag
    * only after seeing every ready flag — so the commit loops genuinely
    * overlap regardless of how unevenly the two JVMs boot (a fixed sleep
    * would silently degenerate the race to near-sequential commits if one
    * writer booted slowly).
    */
  private def awaitStart(flag: String, tag: String): Unit = {
    Files.writeString(Paths.get(s"$flag.ready.$tag"), "up")
    val deadline = System.currentTimeMillis() + 120000
    while (!Files.exists(Paths.get(flag))) {
      if (System.currentTimeMillis() > deadline)
        sys.error(s"start flag $flag never appeared")
      Thread.sleep(20)
    }
  }

  def main(args: Array[String]): Unit = args(0) match {
    case "seed" =>
      val s = session(); import s.implicits._
      ManifestTable.commit(
        (1L to 10L).toDF("id").withColumn("tag", lit("base")),
        args(1), 20250816, 800)
      s.stop()

    case "append" =>
      val s = session(); import s.implicits._
      val (dir, tag, rounds) = (args(1), args(2), args(3).toInt)
      awaitStart(args(4), tag)
      val versions = (1 to rounds).map { i =>
        ManifestTable.appendRetrying(
          Seq((1000L * (tag.hashCode.abs % 97 + 1) + i, tag)).toDF("id", "tag"),
          dir, 20250816, 900 + i, maxRetries = Retries)
      }
      Files.writeString(Paths.get(s"$dir/_versions_$tag.txt"),
        versions.mkString(","))
      println(s"RACE append $tag versions=${versions.mkString(",")}")
      s.stop()

    case "delete" =>
      val s = session()
      val (dir, rounds) = (args(1), args(2).toInt)
      require(rounds <= 5, "only 5 even base ids exist to delete")
      awaitStart(args(3), "del")
      val versions = (1 to rounds).map { k =>
        DeleteVectors.deleteWhereRetrying(s, dir, col("id") === (2L * k),
          20250816, 900 + k, maxRetries = Retries)
      }
      Files.writeString(Paths.get(s"$dir/_versions_del.txt"),
        versions.mkString(","))
      println(s"RACE delete versions=${versions.mkString(",")}")
      s.stop()

    case "check-append" =>
      val s = session(); import s.implicits._
      val (dir, rounds) = (args(1), args(2).toInt)
      val (va, vb) = (readVersions(dir, "a"), readVersions(dir, "b"))
      // same three assertions as ManifestSpec's X96 two-writer test;
      // strict (<) — a merely-sorted check would let a repeated version
      // through and misdirect the diagnosis to the contiguity assert
      assert(strictlyIncreasing(va) && strictlyIncreasing(vb),
        s"per-writer versions must strictly increase: a=$va b=$vb")
      assert((va ++ vb).sorted == (2 to 1 + 2 * rounds),
        s"union must be contiguous 2..${1 + 2 * rounds}: a=$va b=$vb")
      assert(ManifestTable.snapshots(s, dir).map(_.version) ==
        (1 to 1 + 2 * rounds), "log must hold every version exactly once")
      val got = ManifestTable.readLatest(s, dir)
        .groupBy("tag").count().as[(String, Long)].collect().toMap
      assert(got == Map("base" -> 10L, "a" -> rounds.toLong, "b" -> rounds.toLong),
        s"no lost update: $got")
      // contention evidence: how many adjacent versions changed hands.
      // ≥1 is structurally guaranteed (both writers hold `rounds` versions
      // of one contiguous range); the launcher aggregates the printed
      // counts for the real interleaving story.
      val owner = (va.map(_ -> "a") ++ vb.map(_ -> "b")).sortBy(_._1).map(_._2)
      val handoffs = owner.zip(owner.tail).count { case (x, y) => x != y }
      assert(handoffs >= 1, s"no handoff at all: a=$va b=$vb")
      println(s"RACE check-append OK versions=${1 + 2 * rounds} handoffs=$handoffs")
      s.stop()

    case "check-appdel" =>
      val s = session(); import s.implicits._
      val (dir, aRounds, dRounds) = (args(1), args(2).toInt, args(3).toInt)
      val n = 1 + aRounds + dRounds
      assert(ManifestTable.snapshots(s, dir).map(_.version) == (1 to n),
        "log must hold every version exactly once")
      val ids = ManifestTable.readLatest(s, dir)
        .select("id").as[Long].collect().toSet
      val baseSurvivors = (1L to 10L).toSet -- (1 to dRounds).map(2L * _)
      assert(ids.filter(_ <= 10) == baseSurvivors,
        s"deletes must land exactly: ${ids.filter(_ <= 10)} vs $baseSurvivors")
      assert(ids.count(_ > 10) == aRounds,
        s"all $aRounds appends must survive: ${ids.filter(_ > 10)}")
      println(s"RACE check-appdel OK versions=$n")
      s.stop()

    case "replace" =>
      val s = session(); import s.implicits._
      val (dir, tag, rounds) = (args(1), args(2), args(3).toInt)
      awaitStart(args(4), tag)
      val versions = (1 to rounds).map { i =>
        ManifestTable.commitRetrying(Seq((1L, tag)).toDF("id", "v"),
          dir, 20250816, 900 + i, maxRetries = Retries)
      }
      Files.writeString(Paths.get(s"$dir/_versions_$tag.txt"),
        versions.mkString(","))
      println(s"RACE replace $tag versions=${versions.mkString(",")}")
      s.stop()

    case "check-replace" =>
      val s = session(); import s.implicits._
      val (dir, rounds) = (args(1), args(2).toInt)
      val (va, vb) = (readVersions(dir, "a"), readVersions(dir, "b"))
      assert(strictlyIncreasing(va) && strictlyIncreasing(vb),
        s"per-writer versions must strictly increase: a=$va b=$vb")
      assert((va ++ vb).sorted == (1 to 2 * rounds),
        s"union must be contiguous 1..${2 * rounds}: a=$va b=$vb")
      assert(ManifestTable.snapshots(s, dir).map(_.version) == (1 to 2 * rounds),
        "log must hold every version exactly once")
      // last-replace-wins: the CURRENT state belongs to whoever committed
      // the highest version, regardless of wall-clock finishing order
      val winner = if (va.max > vb.max) "a" else "b"
      assert(ManifestTable.readLatest(s, dir).as[(Long, String)]
        .collect().toSeq == Seq((1L, winner)),
        s"final state must be the version-${2 * rounds} writer's ($winner)")
      // every intermediate replace stays time-travelable
      Seq(1, rounds, 2 * rounds).foreach { v =>
        assert(ManifestTable.readVersion(s, dir, v).count() == 1,
          s"version $v must remain readable")
      }
      println(s"RACE check-replace OK versions=${2 * rounds} winner=$winner")
      s.stop()

    case "cat" =>
      val s = session(); import s.implicits._
      val (root, tag, rounds) = (args(1), args(2), args(3).toInt)
      awaitStart(args(4), tag)
      val versions = (1 to rounds).map { i =>
        // X99 transaction over this writer's OWN table: the table commit
        // never contends, the CATALOG cut publish always does
        val tvs = Catalog.commitTableVersions(root, 20250816, 900 + i,
          Seq(s"t_$tag" -> (1L to i.toLong).toDF("id")))
        Catalog.publishCatalog(s, root, 20250816, 900 + i, tvs,
          maxRetries = Retries)
      }
      Files.writeString(Paths.get(s"$root/_versions_$tag.txt"),
        versions.mkString(","))
      println(s"RACE cat $tag versions=${versions.mkString(",")}")
      s.stop()

    case "check-cat" =>
      val s = session(); import s.implicits._
      val (root, rounds) = (args(1), args(2).toInt)
      val (va, vb) = (readVersions(root, "a"), readVersions(root, "b"))
      assert(strictlyIncreasing(va) && strictlyIncreasing(vb),
        s"per-writer cut versions must strictly increase: a=$va b=$vb")
      assert((va ++ vb).sorted == (1 to 2 * rounds),
        s"cut union must be contiguous 1..${2 * rounds}: a=$va b=$vb")
      val snaps = Catalog.snapshots(s, root)
      assert(snaps.map(_.version) == (1 to 2 * rounds),
        "catalog log must hold every cut exactly once")
      // the final cut must carry BOTH writers' final table versions —
      // a lost-update cut would still be contiguous but drop a table
      assert(snaps.last.tables == Map("t_a" -> rounds, "t_b" -> rounds),
        s"final cut must reference both tables at v$rounds: ${snaps.last.tables}")
      Seq("a", "b").foreach { t =>
        val ids = Catalog.readTable(s, root, s"t_$t")
          .select("id").as[Long].collect().sorted.toSeq
        assert(ids == (1L to rounds.toLong),
          s"t_$t must hold its final replace exactly: $ids")
      }
      val owner = (va.map(_ -> "a") ++ vb.map(_ -> "b")).sortBy(_._1).map(_._2)
      val handoffs = owner.zip(owner.tail).count { case (x, y) => x != y }
      assert(handoffs >= 1, s"no handoff at all: a=$va b=$vb")
      println(s"RACE check-cat OK versions=${2 * rounds} handoffs=$handoffs")
      s.stop()

    case other => sys.error(s"unknown mode $other")
  }

  private def strictlyIncreasing(v: Seq[Int]): Boolean =
    v.zip(v.tail).forall { case (x, y) => x < y }

  private def readVersions(dir: String, tag: String): Seq[Int] = {
    val p = Paths.get(s"$dir/_versions_$tag.txt")
    require(Files.exists(p), s"writer $tag never reported — did its JVM die?")
    Files.readString(p).trim.split(",").toSeq.map(_.toInt)
  }
}
