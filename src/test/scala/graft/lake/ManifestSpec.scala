package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.json4s.{JInt, JObject, JString}

import graft.SparkSpec

/** X39: manifest-committed snapshots — the rename IS the commit point.
  * Crash injection exercises the half-written states directly: data files
  * staged without a manifest must be invisible, and completing the
  * manifest later must make them visible atomically.
  */
class ManifestSpec extends SparkSpec {

  import spark.implicits._

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft_manifest").toString

  test("crash between data write and manifest write: old snapshot still served") {
    val dir = tmpTable()
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(ManifestTable.commit(v1, dir, 20250301, 900) == 1)
    // simulated crash: the v2 writer dies after staging its data files,
    // before its manifest rename — exactly the partial state a reader
    // racing the reference's directory convention would half-see
    ManifestTable.stageDataFiles(
      Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("id", "v"), dir)
    assert(ManifestTable.latestVersion(spark, dir) == Some(1))
    assert(ManifestTable.snapshots(spark, dir).map(_.version) == Seq(1))
    val got = ManifestTable.readLatest(spark, dir)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "a"), (2L, "b")), "reader saw uncommitted data")
  }

  test("completing the interrupted commit makes the new version visible atomically") {
    val dir = tmpTable()
    ManifestTable.commit(Seq((1L, "a")).toDF("id", "v"), dir, 20250301, 900)
    val v2data = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val staged = ManifestTable.stageDataFiles(v2data, dir)
    // retry of the crashed job re-publishes the staged files
    ManifestTable.commitManifest(spark, dir,
      ManifestTable.snapshots(spark, dir).lastOption, 20250301, 1000, staged)
    assert(ManifestTable.latestVersion(spark, dir) == Some(2))
    assert(ManifestTable.readLatest(spark, dir).count() == 2)
    // time travel to v1 is unaffected by the later commit
    assert(ManifestTable.readVersion(spark, dir, 1).count() == 1)
  }

  test("as-of resolution over manifest metadata, across dates") {
    val dir = tmpTable()
    ManifestTable.commit(Seq(1L).toDF("id"), dir, 20250301, 900)
    ManifestTable.commit(Seq(1L, 2L).toDF("id"), dir, 20250302, 930)
    def nAsOf(d: Int, t: Int): Option[Long] =
      ManifestTable.readAsOf(spark, dir, d, t).map(_.count())
    assert(nAsOf(20250228, 2359) == None, "no snapshot exists before the first commit")
    assert(nAsOf(20250301, 2359) == Some(1), "evening of day 1 must serve v1")
    assert(nAsOf(20250302, 929) == Some(1), "day 2 before the commit still serves v1")
    assert(nAsOf(20250302, 930) == Some(2), "at-or-before is inclusive")
  }

  test("a second committer of the same version fails loudly, never interleaves") {
    val dir = tmpTable()
    val df = Seq(1L).toDF("id")
    val staged = ManifestTable.stageDataFiles(df, dir)
    ManifestTable.commitManifest(spark, dir, None, 20250301, 900, staged)
    intercept[IllegalStateException] {
      ManifestTable.commitManifest(spark, dir, None, 20250301, 901, staged)
    }
    // the loser's temp file is cleaned up; the winner's manifest stands
    assert(ManifestTable.snapshots(spark, dir).map(_.runTime) == Seq(900))
  }

  test("X96 two-writer append interleave: both commits land, serializable order, no lost update") {
    val dir = tmpTable()
    ManifestTable.commit(Seq((0L, "base")).toDF("id", "v"), dir, 20250401, 800)
    val rounds = 4
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    // two writers, barrier-synced per round so both resolve the SAME
    // latest version and race the same rename target — the loser's
    // bounded retry must rebase onto the winner's commit, never drop it
    def writer(tag: String): Seq[Int] = (1 to rounds).map { i =>
      val df = Seq((s"$tag$i".hashCode.toLong, tag)).toDF("id", "v")
      barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
      ManifestTable.appendRetrying(df, dir, 20250401, 900 + i)
    }
    val fa = java.util.concurrent.CompletableFuture.supplyAsync(() => writer("a"))
    val fb = java.util.concurrent.CompletableFuture.supplyAsync(() => writer("b"))
    val (va, vb) = (fa.get(), fb.get())
    // serializable: each writer's versions strictly increase, and the two
    // writers' version sets partition a contiguous 2..9 with no gaps
    assert(va == va.sorted && vb == vb.sorted)
    assert((va ++ vb).sorted == (2 to 1 + 2 * rounds))
    assert(ManifestTable.snapshots(spark, dir).map(_.version) == (1 to 1 + 2 * rounds))
    // no lost update: every append from both writers is in the final state
    val got = ManifestTable.readLatest(spark, dir)
      .groupBy("v").count().as[(String, Long)].collect().toMap
    assert(got == Map("base" -> 1L, "a" -> rounds.toLong, "b" -> rounds.toLong))
  }

  test("X96 append/delete interleave: delete recomputes against the new latest") {
    val dir = tmpTable()
    ManifestTable.commit((1L to 10L).toDF("id").withColumn("v", lit("base")),
      dir, 20250401, 800)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val fa = java.util.concurrent.CompletableFuture.supplyAsync { () =>
      barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
      ManifestTable.appendRetrying(
        Seq((11L, "late"), (12L, "late")).toDF("id", "v"), dir, 20250401, 900)
    }
    val fb = java.util.concurrent.CompletableFuture.supplyAsync { () =>
      barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
      DeleteVectors.deleteWhere(spark, dir, col("id") % 2 === 0,
        20250401, 901)
    }
    val (va, vb) = (fa.get(), fb.get())
    assert(Set(va, vb) == Set(2, 3), s"expected versions 2 and 3, got $va/$vb")
    val ids = ManifestTable.readLatest(spark, dir)
      .select("id").as[Long].collect().toSet
    // whichever serial order the race produced, it must be ONE of the two
    // serializable outcomes: delete-then-append keeps the late evens,
    // append-then-delete drops them; odds always survive, base evens never
    val oddsAnd = ids.filter(_ <= 10) == Set(1L, 3L, 5L, 7L, 9L)
    assert(oddsAnd, s"base evens must be deleted, odds kept: $ids")
    if (vb > va) // append committed first, delete saw its rows
      assert(ids.filter(_ > 10) == Set(11L), s"append-then-delete: $ids")
    else // delete committed first, append landed after
      assert(ids.filter(_ > 10) == Set(11L, 12L), s"delete-then-append: $ids")
  }

  test("X96 replace interleave: both land as versions, last replace wins the state") {
    val dir = tmpTable()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def replace(tag: String) = java.util.concurrent.CompletableFuture.supplyAsync { () =>
      barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
      ManifestTable.commit(Seq((1L, tag)).toDF("id", "v"), dir, 20250401, 900)
    }
    val (fa, fb) = (replace("a"), replace("b"))
    val (va, vb) = (fa.get(), fb.get())
    assert(Set(va, vb) == Set(1, 2), s"got $va/$vb")
    val winner = if (va > vb) "a" else "b"
    assert(ManifestTable.readLatest(spark, dir)
      .as[(Long, String)].collect().toSeq == Seq((1L, winner)))
    // both versions remain time-travelable
    assert(ManifestTable.readVersion(spark, dir, 1).count() == 1)
    assert(ManifestTable.readVersion(spark, dir, 2).count() == 1)
  }

  test("in-flight temp manifests and unreferenced files are ignored by readers") {
    val dir = tmpTable()
    ManifestTable.commit(Seq((1L, "x")).toDF("id", "v"), dir, 20250301, 900)
    // junk a concurrent writer might leave: a temp manifest and a stray
    // data file inside the COMMITTED version's directory
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/_manifests/.v9.json.tmp"), true)
    try out.write("{\"version\": 9}".getBytes("UTF-8")) finally out.close()
    Seq((99L, "junk")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/stray")
    val strayFile = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/stray"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val v1Dir = ManifestTable.snapshots(spark, dir).head.files.head.split('/').init.mkString("/")
    fs.rename(strayFile, new org.apache.hadoop.fs.Path(s"$dir/$v1Dir/zzz-stray.parquet"))
    assert(ManifestTable.snapshots(spark, dir).map(_.version) == Seq(1))
    val got = ManifestTable.readLatest(spark, dir)
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "x")),
      "reader must resolve files from the manifest list, not directory listing")
  }

  test("X108 clone: independent of its source, tombstones intact") {
    val src = tmpTable()
    val dst = tmpTable() + "/t"
    ManifestTable.commit(
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v")
        .repartition(2), src, 20250901, 900)
    DeleteVectors.deleteWhere(spark, src, col("id") === 2, 20250901, 1000)
    assert(ManifestTable.cloneVersion(spark, src, dst, 20250901, 1100) == 1)
    def rows(dir: String) = ManifestTable.readLatest(spark, dir)
      .as[(Long, String)].collect().toSet
    assert(rows(dst) == Set((1L, "a"), (3L, "c"), (4L, "d")),
      "clone must apply the cloned version's tombstones")
    // source rewrites and vacuums everything the clone came from
    ManifestTable.commit(Seq((9L, "z")).toDF("id", "v"), src, 20250901, 1200)
    Vacuum.vacuum(spark, src, keepLast = 1)
    assert(rows(dst) == Set((1L, "a"), (3L, "c"), (4L, "d")),
      "vacuuming the source must never reach into a deep clone")
    // the clone is a normal table: it can commit, delete, time travel
    DeleteVectors.deleteWhere(spark, dst, col("id") === 4, 20250901, 1300)
    assert(rows(dst) == Set((1L, "a"), (3L, "c")))
    assert(ManifestTable.readVersion(spark, dst, 1)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (3L, "c"), (4L, "d")))
    // refuses to clobber an existing table
    intercept[IllegalArgumentException](
      ManifestTable.cloneVersion(spark, src, dst, 20250901, 1400))
  }

  test("X108 clone carries the source version's state and zone maps") {
    val src = tmpTable()
    val dst = tmpTable() + "/t"
    ZoneMap.commitWithStats((0L until 80L).map(k => (k, k * 10)).toDF("k", "price")
      .repartitionByRange(4, $"k"), src, 20250901, 900, Seq("k"))
    ColumnMap.renameColumn(spark, src, "price", "amount")
    Properties.set(spark, src, Map("owner" -> "ops"), 20250901, 910)
    ManifestTable.cloneVersion(spark, src, dst, 20250901, 1000)
    Seq(src, dst).foreach { d =>
      val v = ManifestTable.latestVersion(spark, d).get
      assert(ColumnMap.read(spark, d).columns.toSeq == Seq("k", "amount"), d)
      assert(Properties.active(spark, d) == Map("owner" -> "ops"), d)
      assert(ZoneMap.candidateFiles(spark, d, v, "k", 0L, 10L).size == 1,
        s"$d must prune on its zone maps")
    }
    assert(ColumnMap.read(spark, dst).where($"k" === 7L).select("amount")
      .as[Long].collect().toSeq == Seq(70L))
  }

  test("X102 history: operation kinds derive from manifest metadata alone") {
    val dir = tmpTable()
    ManifestTable.commit(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").repartition(2),
      dir, 20250301, 900)
    ManifestTable.appendRetrying(Seq((4L, "d")).toDF("id", "v"), dir, 20250301, 1000)
    DeleteVectors.deleteWhere(spark, dir, col("id") === 2, 20250301, 1100)
    DeleteVectors.materialize(spark, dir, 20250301, 1200)
    val h = ManifestTable.history(spark, dir)
      .select("version", "op", "n_files", "n_delete_files")
      .as[(Long, String, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(h.map(_._2) == Seq("write", "append", "delete", "materialize"), h)
    assert(h(0)._3 == 2, s"v1 file count: $h")
    assert(h(1)._3 == 3, s"append must add one file: $h")
    assert(h(2)._3 == 3 && h(2)._4 > 0,
      s"delete keeps files, adds tombstone sidecars: $h")
    assert(h(3)._4 == 0, s"materialize folds tombstones away: $h")
    // zero data bytes: history of a 4-version table reads 4 tiny JSONs
    assert(ManifestTable.readVersion(spark, dir, 3)
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (3L, "c"), (4L, "d")))
    // footer counts (the DESCRIBE HISTORY metadata path) must equal the
    // data-scan count at EVERY version, including DV-carrying and
    // post-materialize ones
    ManifestTable.snapshots(spark, dir).foreach { snap =>
      assert(ManifestTable.footerCount(spark, dir, snap) ==
        ManifestTable.readVersion(spark, dir, snap.version).count(),
        s"footer count drift at v${snap.version}")
    }
  }

  test("X200 checkpoint: content byte-equal, reads O(delta), corruption degrades, vacuum composes") {
    val dir = tmpTable()
    val df = (i: Int) => spark.range(i * 10L, (i + 1) * 10L)
      .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    ManifestTable.commit(df(0), dir, 20250901, 900)
    // each append also sets a state entry whose strings need escaping
    val appId = "chk \"x\" \\ y"
    (1 to 11).foreach(i => ManifestTable.appendStagedRetrying(spark, dir,
      20250901, 900 + i, ManifestTable.stageDataFiles(df(i), dir),
      state = _ => Map("stream" ->
        JObject("app_id" -> JString(appId), "batch_id" -> JInt(i)))))
    // the 10th commit auto-checkpointed; content through the checkpoint
    // path — state included — is IDENTICAL to the manifest-by-manifest read
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mdir = new org.apache.hadoop.fs.Path(s"$dir/_manifests")
    val ckpt = new org.apache.hadoop.fs.Path(mdir, "checkpoint-v00000010.json")
    assert(fs.exists(ckpt), "auto-checkpoint at v10 missing")
    assert(fs.exists(new org.apache.hadoop.fs.Path(mdir, "_last_checkpoint")))
    val viaCkpt = ManifestTable.snapshots(spark, dir)
    assert(viaCkpt.map(_.state.get("stream")) == None +: (1 to 11).map(i =>
      Some(JObject("app_id" -> JString(appId), "batch_id" -> JInt(i)))))
    // a fresh log open pays manifest reads only for v11, v12
    val before = ManifestTable.manifestReads.get()
    ManifestTable.snapshots(spark, dir)
    assert(ManifestTable.manifestReads.get() - before === 2L,
      "checkpoint not serving the covered prefix")
    // corrupt the checkpoint: reads degrade to full listing, same answer
    val out = fs.create(ckpt, true)
    out.write("not json".getBytes("UTF-8")); out.close()
    val b2 = ManifestTable.manifestReads.get()
    val viaFull = ManifestTable.snapshots(spark, dir)
    assert(ManifestTable.manifestReads.get() - b2 === 12L)
    assert(viaFull === viaCkpt, "checkpoint altered the log")
    // restore a good checkpoint, then vacuum: removed versions stay gone
    // even though the checkpoint still carries them (listing authority),
    // and superseded checkpoints are reclaimed by a later vacuum pass
    ManifestTable.writeCheckpoint(spark, dir) // at v12
    assert(fs.exists(new org.apache.hadoop.fs.Path(mdir, "checkpoint-v00000012.json")))
    Vacuum.vacuum(spark, dir, keepLast = 2)
    assert(ManifestTable.snapshots(spark, dir).map(_.version) === Seq(11, 12),
      "a stale checkpoint resurrected vacuumed versions")
    assert(!fs.exists(ckpt), "superseded checkpoint not reclaimed")
    assert(ManifestTable.readLatest(spark, dir).count() === 120)
    assert(ManifestTable.snapshots(spark, dir).last.state === viaCkpt.last.state)
  }

  test("manifests escape file names: a converted file named with a quote reads back") {
    val dir = tmpTable()
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1).write.parquet(s"$dir/p")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new Path(s"$dir/p")).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    fs.rename(part, new Path(s"$dir/p/a\"b.parquet"))
    assert(Convert.convert(spark, dir, 20250901, 900) == 1)
    assert(ManifestTable.snapshots(spark, dir).map(_.files) == Seq(Seq("p/a\"b.parquet")))
    assert(ManifestTable.readLatest(spark, dir).count() == 2)
  }

  test("manifest state survives every commit kind and vacuum") {
    val dir = tmpTable()
    val cfg = graft.sinks.Jdbc.JdbcConfig(
      url = "jdbc:derby:memory:manifeststatespec;create=true",
      driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    def rows(ks: Seq[Long]) = ks.map(k => (k, k * 10, k)).toDF("k", "v", "id")
    graft.sinks.Jdbc.append(rows(1L to 4L), cfg, "state_src")
    graft.sources.JdbcIncr.pull(spark, cfg, "state_src", "k", dir, 20250901, 900)
    val landing = s"${tmpTable()}/landing"
    rows(Seq(5L, 6L)).coalesce(1).write.parquet(landing)
    CopyInto.copyInto(spark, dir, landing, 20250901, 901)
    Identity.appendWithIds(Seq((7L, 70L)).toDF("k", "v"), dir, "id", "k", 20250901, 902)
    def state() = (graft.sources.JdbcIncr.committedWatermark(spark, dir),
      CopyInto.ingestedFiles(spark, dir), Identity.highWater(spark, dir))
    val before = state()
    assert(before._1.contains(4L) && before._2.size == 1 && before._3 == 1L)

    val at = Iterator.from(910)
    // table metadata first, so every later commit kind must carry it; the
    // rename maps the plain table in its own commit
    Properties.set(spark, dir, Map("owner" -> "ops"), 20250901, at.next())
    Constraints.add(spark, dir, "pos", "k > 0", 20250901, at.next())
    ColumnMap.renameColumn(spark, dir, "v", "w")
    def meta() = (Properties.active(spark, dir), Constraints.active(spark, dir),
      ColumnMap.mappingAt(spark, dir, ManifestTable.latestVersion(spark, dir).get))
    val metaBefore = meta()
    assert(metaBefore._1 == Map("owner" -> "ops") &&
      metaBefore._2 == Seq(Constraints.Check("pos", "k > 0")) &&
      metaBefore._3.map(f => f.logical -> f.physical) == Seq("k" -> "k", "w" -> "v", "id" -> "id"))
    // the stats-carrying input: every commit kind must keep, unchanged,
    // the zone-map entry of each file it keeps (restore: of each file it
    // brings back)
    val sdir = tmpTable()
    ZoneMap.commitWithStats(rows(1L to 40L).repartitionByRange(4, $"k"), sdir,
      20250901, 900, Seq("k"))
    ZoneMap.appendWithStats(rows(41L to 60L).repartitionByRange(2, $"k"), sdir,
      20250901, 901, Seq("k"))
    def entries(): Map[String, ZoneMap.FileStats] = ZoneMap.fileStats(spark, sdir,
      ManifestTable.latestVersion(spark, sdir).get).getOrElse(Nil).map(e => e.file -> e).toMap
    val seen = scala.collection.mutable.Map(entries().toSeq: _*)
    assert(seen.size == 6)
    def keeps(kind: String)(commit: String => Any): Unit = {
      commit(dir)
      assert(meta() == metaBefore, s"$kind dropped the table metadata")
      commit(sdir)
      val now = entries()
      ManifestTable.snapshots(spark, sdir).last.files.filter(seen.contains).foreach(f =>
        assert(now.get(f) == seen.get(f), s"$kind changed or dropped the zone-map entry of $f"))
      seen ++= now
    }
    keeps("write")(d => if (d == sdir) ZoneMap.commitWithStats(
        ManifestTable.readLatest(spark, d).repartitionByRange(4, $"k"), d, 20250901,
        at.next(), Seq("k"))
      else ManifestTable.commit(ManifestTable.readLatest(spark, d), d,
        20250901, at.next()))
    keeps("delete")(DeleteVectors.deleteWhere(spark, _, col("k") === 1L, 20250901, at.next()))
    keeps("materialize")(DeleteVectors.materialize(spark, _, 20250901, at.next()))
    // v2 predates the identity append and the metadata: the restore still
    // keeps today's state, and brings back v2's files with their entries
    keeps("restore")(Restore.restore(spark, _, 2, 20250901, at.next()))
    assert(entries().size == 6)
    keeps("optimize")(ZOrder.optimizeN(spark, _, Seq("k"), 2, 20250901, at.next()))
    keeps("merge")(Merge.upsertCow(spark, _, rows(Seq(5L)), Seq("k"), 20250901, at.next()))
    keeps("replace_where")(ReplaceWhere.replaceWhere(spark, _, "k", 6L, 6L, rows(Seq(6L)),
      20250901, at.next(), Seq("k")))
    keeps("repair") { d =>
      val cur = ManifestTable.readLatest(spark, d)
      TableDiff.repair(cur.withColumn("v", when(col("k") === 2L, lit(222L))
        .otherwise(col("v"))), d, Seq("k"), 4, 20250901, at.next())
    }
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    keeps("fsck") { d =>
      fs.delete(new Path(s"$d/${ManifestTable.snapshots(spark, d).last.files.head}"), false)
      Fsck.repair(spark, d, 20250901, at.next())
    }
    keeps("append")(ManifestTable.appendRetrying(rows(Seq(8L)), _, 20250901, at.next()))
    assert(ManifestTable.snapshots(spark, dir).map(_.op).toSet == Set("append", "write",
      "materialize", "restore", "optimize", "setproperty", "constraint", "merge",
      "replace_where", "repair", "fsck", "rename"))
    assert(state() == before)
    assert(entries().nonEmpty)
    keeps("vacuum")(Vacuum.vacuum(spark, _, keepLast = 1))
    assert(ManifestTable.snapshots(spark, dir).size == 1)
    assert(state() == before)
  }

  test("a table whose manifests predate the state field resolves its old sidecars until the first new commit folds them") {
    val dir = tmpTable()
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def put(rel: String, json: String): Unit = {
      val out = fs.create(new Path(s"$dir/$rel"), true)
      try out.write(json.getBytes("UTF-8")) finally out.close()
    }
    val files = ManifestTable.stageDataFiles(Seq((1L, "a")).toDF("id", "v"), dir)
      .map("\"" + _ + "\"").mkString("[", ", ", "]")
    Seq(1, 2).foreach(v => put(f"_manifests/v$v%08d.json",
      s"""{"version": $v, "run_date": 20250901, "run_time": ${900 + v}, "files": $files}"""))
    put("_copy/v00000001.json", """{"version": 1, "files": ["/land/a.parquet"]}""")
    put("_copy/v00000002.json",
      """{"version": 2, "files": ["/land/b.parquet"], "digests": ["d2"]}""")
    put("_ingest/v00000001.json", """{"version": 1, "watermark": 3}""")
    put("_ingest/v00000002.json", """{"version": 2, "watermark": 7}""")
    put("_ingest/v00000003.json", """{"version": 3, "watermark": 99}""") // crash orphan
    put("_identity/v00000001.json", """{"version": 1, "high_water": 5}""")
    put("_stream/v00000002.json", """{"version": 2, "app_id": "chk", "batch_id": 4}""")
    def check(): Unit = {
      assert(graft.sources.JdbcIncr.committedWatermark(spark, dir).contains(7L))
      assert(CopyInto.ingestedFiles(spark, dir) == Set("/land/a.parquet", "/land/b.parquet"))
      assert(CopyInto.ingestedDigests(spark, dir) == Set("d2"))
      assert(Identity.highWater(spark, dir) == 5L)
      assert(ManifestTable.latestState(spark, dir, "stream") ==
        Some(JObject("app_id" -> JString("chk"), "batch_id" -> JInt(4))))
    }
    check()
    // the first new commit folds the resolved state into its manifest;
    // the old sidecars (and the orphan at the new version) no longer matter
    assert(ManifestTable.appendRetrying(Seq((2L, "b")).toDF("id", "v"), dir,
      20250901, 1000) == 3)
    Seq("_copy", "_ingest", "_identity", "_stream")
      .foreach(d => fs.delete(new Path(s"$dir/$d"), true))
    check()
    assert(ManifestTable.readLatest(spark, dir).count() == 2)
  }

  test("a table whose manifests predate the state field resolves its old metadata files per version, newest whole, never merged") {
    val dir = tmpTable()
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def put(rel: String, json: String): Unit = {
      val out = fs.create(new Path(s"$dir/$rel"), true)
      try out.write(json.getBytes("UTF-8")) finally out.close()
    }
    val files = ManifestTable.stageDataFiles(Seq((1L, "a")).toDF("id", "v"), dir)
      .map("\"" + _ + "\"").mkString("[", ", ", "]")
    (1 to 3).foreach(v => put(f"_manifests/v$v%08d.json",
      s"""{"version": $v, "run_date": 20250901, "run_time": ${900 + v}, "files": $files}"""))
    put("_properties/v00000001.json", """{"a": "1", "b": "2"}""")
    put("_properties/v00000003.json", """{"a": "1"}""") // UNSET b
    put("_constraints/v00000001.json",
      """[{"name": "c1", "predicate": "id > 0"}, {"name": "c2", "predicate": "v IS NOT NULL"}]""")
    put("_constraints/v00000002.json", """[{"name": "c1", "predicate": "id > 0"}]""") // DROP c2
    put("_colmap/v00000002.json", """{"version": 2, "fields": [""" +
      """{"id": 1, "logical": "id", "physical": "id", "dtype": "bigint"}, """ +
      """{"id": 2, "logical": "w", "physical": "v", "dtype": "string"}]}""")
    val (c1, c2) = (Constraints.Check("c1", "id > 0"), Constraints.Check("c2", "v IS NOT NULL"))
    def eras(): Unit = {
      assert(Seq(1, 2, 3).map(Properties.activeAt(spark, dir, _)) ==
        Seq(Map("a" -> "1", "b" -> "2"), Map("a" -> "1", "b" -> "2"), Map("a" -> "1")))
      assert(Seq(1, 2, 3).map(Constraints.activeAt(spark, dir, _)) ==
        Seq(Seq(c1, c2), Seq(c1), Seq(c1)))
      assert(Seq(1, 2, 3).map(v => ColumnMap.read(spark, dir, Some(v)).columns.toSeq) ==
        Seq(Seq("id", "v"), Seq("id", "w"), Seq("id", "w")))
    }
    eras()
    assert(Properties.active(spark, dir) == Map("a" -> "1"))
    // the first new commit folds the latest era into its manifest; the
    // old versions keep resolving their files while those exist
    assert(ManifestTable.appendRetrying(Seq((2L, "b")).toDF("id", "v"), dir,
      20250901, 1000) == 4)
    eras()
    Seq("_properties", "_constraints", "_colmap")
      .foreach(d => fs.delete(new Path(s"$dir/$d"), true))
    assert(Properties.active(spark, dir) == Map("a" -> "1"))
    assert(Constraints.active(spark, dir) == Seq(c1))
    val latest = ColumnMap.read(spark, dir)
    assert(latest.columns.toSeq == Seq("id", "w"))
    assert(latest.orderBy("id").as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
  }
}
