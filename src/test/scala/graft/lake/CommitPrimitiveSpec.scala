package graft.lake

import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.json4s.{JArray, JInt, JString, JValue}
import org.json4s.jackson.JsonMethods

import graft.SparkSpec

/** Counting wrapper proving the seam is pluggable: same semantics as the
  * default (delegates to [[RenameCommit]]), but records every call — a
  * conditional-PUT object-store implementation slots in the same way
  * (docs/STORAGE_CONTRACT.md). Top-level class with a no-arg constructor
  * because `CommitPrimitive.active` instantiates it by class name.
  */
class CountingCommit extends CommitPrimitive {
  override def putIfAbsent(spark: SparkSession, target: Path,
      payload: Array[Byte]): Boolean = {
    CountingCommit.puts.incrementAndGet()
    RenameCommit.putIfAbsent(spark, target, payload)
  }
  override def replace(spark: SparkSession, target: Path,
      payload: Array[Byte]): Unit = {
    CountingCommit.replaces.incrementAndGet()
    RenameCommit.replace(spark, target, payload)
  }
}
object CountingCommit {
  val puts = new AtomicInteger(0)
  val replaces = new AtomicInteger(0)
}

/** A primitive that loses races on demand. While armed for a directory,
  * each manifest or catalog put under it first lands a competing commit
  * in the slot — the previous version's content, renumbered to the slot's
  * version and passed through the armed `edit` — and then reports the
  * race lost, as a concurrent writer that got there first would. Other
  * puts and every replace pass straight to [[RenameCommit]].
  */
class InterloperCommit extends CommitPrimitive {
  override def putIfAbsent(spark: SparkSession, target: Path,
      payload: Array[Byte]): Boolean =
    InterloperCommit.slot(target) match {
      case Some(v) if InterloperCommit.left.getAndDecrement() > 0 =>
        val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val in = fs.open(new Path(target.getParent, f"v${v - 1}%08d.json"))
        val prev = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val competing = JsonMethods.compact(JsonMethods.render(
          InterloperCommit.edit(JsonMethods.parse(prev).replace(List("version"), JInt(v)))))
        assert(RenameCommit.putIfAbsent(spark, target, competing.getBytes("UTF-8")))
        false
      case _ => RenameCommit.putIfAbsent(spark, target, payload)
    }
  override def replace(spark: SparkSession, target: Path,
      payload: Array[Byte]): Unit = RenameCommit.replace(spark, target, payload)
}
object InterloperCommit {
  private val Slot = """v(\d{8})\.json""".r
  @volatile private var under = ""
  @volatile private var edit: JValue => JValue = identity
  private val left = new AtomicInteger(0)

  /** Run `body` losing the next `losses` manifest or catalog puts below
    * `dir`; each competing manifest is the previous one passed through
    * `edit`, as a concurrent commit that changed it would leave.
    */
  def losing[T](spark: SparkSession, dir: String, losses: Int = 1,
      edit: JValue => JValue = identity)(body: => T): T = {
    under = new Path(dir).toUri.getPath
    this.edit = edit
    left.set(losses)
    try CommitPrimitiveSpec.using(spark, classOf[InterloperCommit])(body)
    finally left.set(0)
  }

  private def slot(target: Path): Option[Int] =
    (target.getName, target.getParent.getName) match {
      case (Slot(v), "_manifests" | "_catalog")
          if target.toUri.getPath.startsWith(under) => Some(v.toInt)
      case _ => None
    }
}

/** A primitive that crashes on demand: while armed for a directory, each
  * manifest put under it throws before anything lands, as a writer that
  * died at its commit point would. Every other put and replace passes
  * straight to [[RenameCommit]].
  */
class CrashingCommit extends CommitPrimitive {
  override def putIfAbsent(spark: SparkSession, target: Path,
      payload: Array[Byte]): Boolean =
    if (target.getParent.getName == "_manifests" &&
        CrashingCommit.under.exists(target.toUri.getPath.startsWith))
      throw new java.io.IOException(s"simulated crash before publishing $target")
    else RenameCommit.putIfAbsent(spark, target, payload)
  override def replace(spark: SparkSession, target: Path,
      payload: Array[Byte]): Unit = RenameCommit.replace(spark, target, payload)
}
object CrashingCommit {
  @volatile private var under: Option[String] = None

  /** Run `body` with every manifest put below `dir` crashing; the crash
    * surfaces as the IOException `body` throws.
    */
  def crashing[T](spark: SparkSession, dir: String)(body: => T): T = {
    under = Some(new Path(dir).toUri.getPath)
    try CommitPrimitiveSpec.using(spark, classOf[CrashingCommit])(body)
    finally under = None
  }
}

/** A concurrent writer that commits while a job runs: [[during]] is a
  * row filter that keeps every row, but the first row it sees after
  * [[arm]] puts a copy of `dir`'s latest manifest as the next version,
  * the way a writer that read the same parent and staged faster would —
  * listing also the files `adding` names, when the interloper appended
  * files it staged. It lands between a commit's read of its parent and
  * its put, the window a primitive-level interloper cannot reach.
  * [[fire]] lands it from any other code a job runs.
  */
object InterloperDuringJob {
  private val Slot = """v(\d{8})\.json""".r
  private val armed =
    new java.util.concurrent.atomic.AtomicReference[Option[Seq[String]]](None)

  def arm(adding: Seq[String] = Nil): Unit = armed.set(Some(adding))

  /** Land the armed commit, once. */
  def fire(dir: String): Unit = armed.getAndSet(None).foreach(land(dir, _))

  def during(dir: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.udf { () => fire(dir); true }
      .asNondeterministic().apply()

  private def land(dir: String, adding: Seq[String]): Unit = {
    import java.nio.file.{Files, StandardOpenOption}
    val mdir = new java.io.File(dir, "_manifests")
    val (v, latest) = mdir.listFiles().toSeq.flatMap(f => f.getName match {
      case Slot(n) => Some(n.toInt -> f)
      case _ => None
    }).maxBy(_._1)
    val body = JsonMethods.parse(new String(Files.readAllBytes(latest.toPath), "UTF-8"))
    val files = body \ "files" match {
      case JArray(fs) => JArray(fs ++ adding.map(JString(_)))
      case other => other
    }
    Files.write(new java.io.File(mdir, f"v${v + 1}%08d.json").toPath,
      JsonMethods.compact(JsonMethods.render(body
        .replace(List("version"), JInt(v + 1)).replace(List("files"), files)))
        .getBytes("UTF-8"), StandardOpenOption.CREATE_NEW)
  }
}

object CommitPrimitiveSpec {
  /** Run `body` with the commit primitive `cls` selected. */
  def using[T](spark: SparkSession, cls: Class[_ <: CommitPrimitive])(body: => T): T = {
    val impl0 = spark.conf.getOption(CommitPrimitive.ImplConf)
    spark.conf.set(CommitPrimitive.ImplConf, cls.getName)
    try body finally impl0.fold(spark.conf.unset(CommitPrimitive.ImplConf))(
      spark.conf.set(CommitPrimitive.ImplConf, _))
  }
}

/** The storage commit seam (docs/STORAGE_CONTRACT.md): rename-backed
  * default semantics, and conf-selected pluggability with NO caller
  * changes — the property an object-store CommitPrimitive relies on.
  */
class CommitPrimitiveSpec extends SparkSpec {
  import spark.implicits._

  private def p(dir: String, name: String) = new Path(s"$dir/$name")
  private def readBytes(path: Path): String = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(path)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  test("putIfAbsent: first committer wins, loser gets false and the winner's bytes survive") {
    val dir = graft.util.Scratch.dir("cp_put")
    val t = p(dir, "v1.json")
    assert(RenameCommit.putIfAbsent(spark, t, "winner".getBytes("UTF-8")))
    assert(!RenameCommit.putIfAbsent(spark, t, "loser".getBytes("UTF-8")))
    assert(readBytes(t) == "winner")
    // the loser's temp staging must not linger (vacuum hygiene)
    val fs = t.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new Path(dir)).map(_.getPath.getName).toSet == Set("v1.json"))
  }

  test("putIfAbsent: of two puts racing one slot, exactly one wins and its bytes land") {
    val dir = graft.util.Scratch.dir("cp_put_race")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try (1 to 200).foreach { i =>
      val t = p(dir, f"v$i%08d.json")
      val gun = new java.util.concurrent.CyclicBarrier(2)
      val puts = Seq("a", "b").map(w => pool.submit(() => {
        gun.await(); RenameCommit.putIfAbsent(spark, t, w.getBytes("UTF-8"))
      }))
      val won = Seq("a", "b").zip(puts.map(_.get)).collect { case (w, true) => w }
      assert(won.size == 1, s"slot $i: winners $won")
      assert(readBytes(t) == won.head)
    } finally pool.shutdown()
  }

  test("replace: swaps bytes in place; a pre-existing target is not an error") {
    val dir = graft.util.Scratch.dir("cp_rep")
    val t = p(dir, "ref.json")
    RenameCommit.replace(spark, t, "old".getBytes("UTF-8"))
    RenameCommit.replace(spark, t, "new".getBytes("UTF-8"))
    assert(readBytes(t) == "new")
  }

  private def withCasStore[T](body: String => T): T = {
    val srv = CasObjectStore.start(0)
    val url = s"http://127.0.0.1:${srv.getAddress.getPort}"
    try body(url) finally srv.stop(0)
  }

  test("HttpCasCommit: the conditional PUT decides the race — 201 wins, 412 loses, bytes land whole") {
    withCasStore { url =>
      spark.conf.set(HttpCasCommit.UrlConf, url)
      try {
        val cas = new HttpCasCommit
        val dir = graft.util.Scratch.dir("cas_put")
        val t = p(dir, "v1.json")
        assert(cas.putIfAbsent(spark, t, "winner".getBytes("UTF-8")))
        assert(!cas.putIfAbsent(spark, t, "loser".getBytes("UTF-8")))
        assert(readBytes(t) == "winner")
        // the loser's attempt leaves no staging residue on disk
        val fs = t.getFileSystem(spark.sparkContext.hadoopConfiguration)
        assert(fs.listStatus(new Path(dir)).map(_.getPath.getName).toSet
          == Set("v1.json"))
        cas.replace(spark, t, "swapped".getBytes("UTF-8"))
        assert(readBytes(t) == "swapped")
      } finally spark.conf.unset(HttpCasCommit.UrlConf)
    }
  }

  test("X96 barrier races are green under the conditional-PUT primitive — rename plays no part in the decision") {
    withCasStore { url =>
      val impl0 = spark.conf.getOption(CommitPrimitive.ImplConf)
      spark.conf.set(HttpCasCommit.UrlConf, url)
      spark.conf.set(CommitPrimitive.ImplConf, classOf[HttpCasCommit].getName)
      try {
        // (1) ManifestSpec's two-writer append interleave, verbatim shape
        val dir = s"${graft.util.Scratch.dir("cas_race")}/t"
        ManifestTable.commit(Seq((0L, "base")).toDF("id", "v"), dir, 20250401, 800)
        val rounds = 3
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        def writer(tag: String): Seq[Int] = (1 to rounds).map { i =>
          val df = Seq((s"$tag$i".hashCode.toLong, tag)).toDF("id", "v")
          barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
          ManifestTable.appendRetrying(df, dir, 20250401, 900 + i, maxRetries = 50)
        }
        val fa = java.util.concurrent.CompletableFuture.supplyAsync(() => writer("a"))
        val fb = java.util.concurrent.CompletableFuture.supplyAsync(() => writer("b"))
        val (va, vb) = (fa.get(), fb.get())
        assert(va == va.sorted && vb == vb.sorted)
        assert((va ++ vb).sorted == (2 to 1 + 2 * rounds))
        assert(ManifestTable.snapshots(spark, dir).map(_.version) == (1 to 1 + 2 * rounds))
        val got = ManifestTable.readLatest(spark, dir)
          .groupBy("v").count().as[(String, Long)].collect().toMap
        assert(got == Map("base" -> 1L, "a" -> rounds.toLong, "b" -> rounds.toLong))
        // (2) the replace interleave: last replace wins, both time-travelable
        val dir2 = s"${graft.util.Scratch.dir("cas_race2")}/t"
        val b2 = new java.util.concurrent.CyclicBarrier(2)
        def replace(tag: String) = java.util.concurrent.CompletableFuture.supplyAsync { () =>
          b2.await(30, java.util.concurrent.TimeUnit.SECONDS)
          ManifestTable.commit(Seq((1L, tag)).toDF("id", "v"), dir2, 20250401, 900)
        }
        val (ra, rb) = (replace("a"), replace("b"))
        val (wa, wb) = (ra.get(), rb.get())
        assert(Set(wa, wb) == Set(1, 2))
        val winner = if (wa > wb) "a" else "b"
        assert(ManifestTable.readLatest(spark, dir2)
          .as[(Long, String)].collect().toSeq == Seq((1L, winner)))
        // (3) ref advance + catalog publish also route through the store
        Branches.createBranch(spark, dir, "main", 1)
        assert(Branches.readRef(spark, dir, "main").head == 1)
        val root = graft.util.Scratch.dir("cas_cat")
        assert(Catalog.publishCatalog(spark, root, 20250401, 901, Map("t" -> 1)) == 1)
      } finally {
        impl0.fold(spark.conf.unset(CommitPrimitive.ImplConf))(
          spark.conf.set(CommitPrimitive.ImplConf, _))
        spark.conf.unset(HttpCasCommit.UrlConf)
      }
    }
  }

  test("storage faults surface as exceptions, never as silent lost races") {
    // rename primitive: a target under a path component that is a FILE is
    // a broken store, not contention — must throw, not return false (a
    // false here would misreport 'concurrent commit' and burn the whole
    // optimistic-retry budget against a fault that can never heal)
    val dir = graft.util.Scratch.dir("cp_fault")
    val blocker = p(dir, "f")
    RenameCommit.replace(spark, blocker, "file".getBytes("UTF-8"))
    intercept[java.io.IOException] {
      RenameCommit.putIfAbsent(spark, new Path(s"$dir/f/v1.json"),
        "x".getBytes("UTF-8"))
    }
    // CAS primitive: an unreachable store is an IOException, not `false`
    spark.conf.set(HttpCasCommit.UrlConf, "http://127.0.0.1:1")
    try intercept[java.io.IOException] {
      new HttpCasCommit().putIfAbsent(spark, p(dir, "v1.json"),
        "x".getBytes("UTF-8"))
    } finally spark.conf.unset(HttpCasCommit.UrlConf)
  }

  test("conf-selected implementation: manifest, catalog, and ref commits all route through the seam") {
    val impl0 = spark.conf.getOption(CommitPrimitive.ImplConf)
    spark.conf.set(CommitPrimitive.ImplConf, classOf[CountingCommit].getName)
    try {
      val puts0 = CountingCommit.puts.get()
      val reps0 = CountingCommit.replaces.get()
      val dir = s"${graft.util.Scratch.dir("cp_conf")}/t"
      // manifest commit → putIfAbsent
      ManifestTable.commit(Seq((1L, "a")).toDF("k", "v"), dir, 20250816, 900)
      assert(CountingCommit.puts.get() > puts0)
      // ref advance → replace
      Branches.createBranch(spark, dir, "main", 1)
      assert(CountingCommit.replaces.get() > reps0)
      // catalog cut → putIfAbsent again
      val root = graft.util.Scratch.dir("cp_cat")
      val putsBeforeCat = CountingCommit.puts.get()
      Catalog.publishCatalog(spark, root, 20250816, 901, Map("t" -> 1))
      assert(CountingCommit.puts.get() > putsBeforeCat)
      // and the committed table reads back exactly (semantics preserved)
      assert(ManifestTable.readLatest(spark, dir).as[(Long, String)]
        .collect().toSeq == Seq((1L, "a")))
    } finally {
      impl0.fold(spark.conf.unset(CommitPrimitive.ImplConf))(
        spark.conf.set(CommitPrimitive.ImplConf, _))
    }
  }

  private def losing[T](dir: String, losses: Int = 1)(body: => T): T =
    InterloperCommit.losing(spark, dir, losses)(body)

  /** After one lost race, the committer landed at latest+2 and the
    * interloper's version at latest+1 still holds latest's content and
    * state: the lost attempt left nothing for it to adopt.
    */
  private def landedPastInterloper(dir: String, latest: Int, landed: Int): Unit = {
    assert(landed == latest + 2)
    val snaps = ManifestTable.snapshots(spark, dir)
    assert(snaps.map(_.version) == (1 to latest + 2))
    assert(snaps(latest).files == snaps(latest - 1).files &&
      snaps(latest).deletes == snaps(latest - 1).deletes,
      "the interloper's version was overwritten")
    assert(snaps(latest).state == snaps(latest - 1).state,
      "the interloper's version adopted the lost attempt's state")
  }

  test("one lost race: append, replace, delete and restore land past the interloper") {
    val kv = (0L until 6L).map(i => (i, i)).toDF("k", "v")
    val app = s"${graft.util.Scratch.dir("lose_app")}/t"
    ManifestTable.commit(kv, app, 20250901, 900)
    landedPastInterloper(app, 1, losing(app)(
      ManifestTable.appendRetrying(Seq((9L, 9L)).toDF("k", "v"), app, 20250901, 910)))
    assert(ManifestTable.readLatest(spark, app).count() == 7)

    val rep = s"${graft.util.Scratch.dir("lose_rep")}/t"
    ManifestTable.commit(kv, rep, 20250901, 900)
    landedPastInterloper(rep, 1, losing(rep)(
      ManifestTable.commit(Seq((9L, 9L)).toDF("k", "v"), rep, 20250901, 910)))
    assert(ManifestTable.readLatest(spark, rep).count() == 1)

    val del = s"${graft.util.Scratch.dir("lose_del")}/t"
    ManifestTable.commit(kv, del, 20250901, 900)
    DeleteVectors.deleteWhere(spark, del, col("k") === 0L, 20250901, 905)
    landedPastInterloper(del, 2, losing(del)(
      DeleteVectors.deleteWhere(spark, del, col("k") < 3L, 20250901, 910)))
    assert(ManifestTable.readLatest(spark, del).count() == 3)

    val res = s"${graft.util.Scratch.dir("lose_res")}/t"
    ManifestTable.commit(kv, res, 20250901, 900)
    ManifestTable.commit(kv.limit(1), res, 20250901, 905)
    landedPastInterloper(res, 2, losing(res)(
      Restore.restore(spark, res, 1, 20250901, 910)))
    assert(ManifestTable.readLatest(spark, res).count() == 6)
  }

  test("one lost race: zone-map append and replace put their stats at the landed version, and the interloper's version never reads them") {
    val kv = (0L until 6L).map(i => (i, i)).toDF("k", "v")
    def check(dir: String, landed: Int, newKeys: Set[Long]): Unit = {
      landedPastInterloper(dir, 1, landed)
      assert(ZoneMap.fileStats(spark, dir, landed).get
        .exists(s => newKeys.contains(s.lo("k"))))
      // the lost attempt left a stats sidecar at the interloper's version
      // naming files that version does not hold: pruning must not add them
      val got = ZoneMap.readRange(spark, dir, 2, "k", 0L, 100L)
        .select("k", "v").as[(Long, Long)].collect().toSet
      assert(got == (0L until 6L).map(i => (i, i)).toSet)
    }
    val app = s"${graft.util.Scratch.dir("lose_zapp")}/t"
    ZoneMap.commitWithStats(kv, app, 20250901, 900, Seq("k"))
    check(app, losing(app)(ZoneMap.appendWithStats(
      Seq((50L, 50L)).toDF("k", "v"), app, 20250901, 910, Seq("k"))), Set(50L))

    val rep = s"${graft.util.Scratch.dir("lose_zrep")}/t"
    ZoneMap.commitWithStats(kv, rep, 20250901, 900, Seq("k"))
    val staged = ManifestTable.stageDataFiles(Seq((60L, 60L)).toDF("k", "v"), rep)
    check(rep, losing(rep)(ZoneMap.commitStagedWithStats(
      spark, rep, 20250901, 910, staged, Seq("k"))), Set(60L))
  }

  private def dropLanding(landing: String, name: String, k: Long): Unit = {
    val tmp = s"$landing/_tmp_$name"
    Seq((k, k)).toDF("k", "v").coalesce(1).write.parquet(tmp)
    val fs = new Path(landing).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(fs.listStatus(new Path(tmp)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get, new Path(s"$landing/$name.parquet"))
    fs.delete(new Path(tmp), true)
  }

  private val lostCfg = graft.sinks.Jdbc.JdbcConfig(
    url = "jdbc:derby:memory:commitlosespec;create=true",
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver")

  test("one lost race: COPY INTO, the JDBC pull and an identity append land past the interloper with their state") {
    val landing = graft.util.Scratch.dir("lose_land")
    val cp = s"${graft.util.Scratch.dir("lose_copy")}/t"
    dropLanding(landing, "a", 1L)
    CopyInto.copyInto(spark, cp, landing, 20250901, 900)
    dropLanding(landing, "b", 2L)
    val cv = losing(cp)(CopyInto.copyInto(spark, cp, landing, 20250901, 910))
    landedPastInterloper(cp, 1, cv.get)
    assert(CopyInto.ingestedFiles(spark, cp) ==
      Set(s"$landing/a.parquet", s"$landing/b.parquet"))
    assert(ManifestTable.readLatest(spark, cp).count() == 2)

    val jd = s"${graft.util.Scratch.dir("lose_jdbc")}/t"
    graft.sinks.Jdbc.append((1L to 3L).map(i => (i, i)).toDF("wm", "v"), lostCfg, "lose_src")
    graft.sources.JdbcIncr.pull(spark, lostCfg, "lose_src", "wm", jd, 20250901, 900)
    graft.sinks.Jdbc.append(Seq((4L, 4L)).toDF("wm", "v"), lostCfg, "lose_src")
    val jv = losing(jd)(
      graft.sources.JdbcIncr.pull(spark, lostCfg, "lose_src", "wm", jd, 20250901, 910))
    landedPastInterloper(jd, 1, jv.get)
    assert(graft.sources.JdbcIncr.committedWatermark(spark, jd).contains(4L))

    // identity: the interloper issued no ids, so the retry keeps its
    // range and lands — ids stay contiguous
    val id = s"${graft.util.Scratch.dir("lose_ident")}/t"
    Identity.appendWithIds((0L until 3L).toDF("k"), id, "id", "k", 20250901, 900)
    val (iv, hw) = losing(id)(
      Identity.appendWithIds((5L until 7L).toDF("k"), id, "id", "k", 20250901, 910))
    landedPastInterloper(id, 1, iv)
    assert(hw == 5L && Identity.highWater(spark, id) == 5L)
    val ids = ManifestTable.readLatest(spark, id).select("id").as[Long].collect()
    assert(ids.sorted.toSeq == (1L to 5L))
  }

  test("a competing commit that moved the state: COPY INTO, the JDBC pull and an identity append refuse") {
    def moved(path: List[String], to: JValue): JValue => JValue =
      _.replace("state" :: path, to)
    def refuses(dir: String, path: List[String], to: JValue)(body: => Any): Unit = {
      val e = intercept[IllegalStateException](
        InterloperCommit.losing(spark, dir, edit = moved(path, to))(body))
      assert(e.getMessage.contains("moved"), e.getMessage)
      assert(!e.isInstanceOf[LostRace])
      // only the competing commit landed
      assert(ManifestTable.snapshots(spark, dir).map(_.version) == Seq(1, 2))
    }
    val landing = graft.util.Scratch.dir("moved_land")
    val cp = s"${graft.util.Scratch.dir("moved_copy")}/t"
    dropLanding(landing, "a", 1L)
    CopyInto.copyInto(spark, cp, landing, 20250901, 900)
    dropLanding(landing, "b", 2L)
    // a concurrent run ingested b: this run must not append it again
    refuses(cp, List("copy", "files"), JArray(List(
      JString(s"$landing/a.parquet"), JString(s"$landing/b.parquet"))))(
      CopyInto.copyInto(spark, cp, landing, 20250901, 910))
    assert(ManifestTable.readLatest(spark, cp).count() == 1)

    val jd = s"${graft.util.Scratch.dir("moved_jdbc")}/t"
    graft.sinks.Jdbc.append((1L to 3L).map(i => (i, i)).toDF("wm", "v"), lostCfg, "moved_src")
    graft.sources.JdbcIncr.pull(spark, lostCfg, "moved_src", "wm", jd, 20250901, 900)
    graft.sinks.Jdbc.append(Seq((4L, 4L)).toDF("wm", "v"), lostCfg, "moved_src")
    // a concurrent pull took rows up to 4: this pull must not append them again
    refuses(jd, List("ingest", "watermark"), JInt(4))(
      graft.sources.JdbcIncr.pull(spark, lostCfg, "moved_src", "wm", jd, 20250901, 910))
    assert(ManifestTable.readLatest(spark, jd).count() == 3)

    val id = s"${graft.util.Scratch.dir("moved_ident")}/t"
    Identity.appendWithIds((0L until 3L).toDF("k"), id, "id", "k", 20250901, 900)
    // a concurrent identity append issued ids 4..10: ours would collide
    refuses(id, List("identity", "high_water"), JInt(10))(
      Identity.appendWithIds((5L until 7L).toDF("k"), id, "id", "k", 20250901, 910))
    assert(Identity.highWater(spark, id) == 10L)
  }

  test("one lost race: the stream sink's append and merge carry their txn to the landed version") {
    val kv = (0L until 6L).map(i => (i, i)).toDF("k", "v")
    val app = s"${graft.util.Scratch.dir("lose_sink")}/t"
    ManifestTable.commit(kv, app, 20250901, 900)
    val appSink = new graft.spark.GraftSink.StreamSink(spark, app, appId = "chk-a",
      statsCols = Seq("k"))
    losing(app)(appSink.addBatch(0L, Seq((9L, 9L)).toDF("k", "v")))
    landedPastInterloper(app, 1, ManifestTable.latestVersion(spark, app).get)
    assert(txn(app) == Some(("chk-a", 0L)))
    assert(ZoneMap.fileStats(spark, app, 3).isDefined)
    assert(ManifestTable.readLatest(spark, app).count() == 7)

    val mrg = s"${graft.util.Scratch.dir("lose_msink")}/t"
    ManifestTable.commit(kv, mrg, 20250901, 900)
    val mergeSink = new graft.spark.GraftSink.StreamSink(spark, mrg, appId = "chk-m",
      mergeKeys = Seq("k"))
    losing(mrg)(mergeSink.addBatch(0L, Seq((2L, 20L), (9L, 9L)).toDF("k", "v")))
    landedPastInterloper(mrg, 1, ManifestTable.latestVersion(spark, mrg).get)
    assert(txn(mrg) == Some(("chk-m", 0L)))
    val rows = ManifestTable.readLatest(spark, mrg).select("k", "v")
      .as[(Long, Long)].collect().toMap
    assert(rows.size == 7 && rows(2L) == 20L && rows(9L) == 9L)
  }

  private def txn(dir: String): Option[(String, Long)] = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    ManifestTable.latestState(spark, dir, "stream").map(t =>
      ((t \ "app_id").extract[String], (t \ "batch_id").extract[Long]))
  }

  test("an always-losing loop leaves no stream txn behind: the append and merge sinks' batch 0 is not skipped as a replay") {
    val kv = (0L until 6L).map(i => (i, i)).toDF("k", "v")
    def exhaustThenRetry(tag: String, mergeKeys: Seq[String]): Unit = {
      val dir = s"${graft.util.Scratch.dir(tag)}/t"
      ManifestTable.commit(kv, dir, 20250901, 900)
      // an app id that needs escaping round-trips through the manifest
      val appId = s"chk \"$tag\" \\ x"
      val sink = new graft.spark.GraftSink.StreamSink(spark, dir, appId = appId,
        mergeKeys = mergeKeys)
      val batch = Seq((9L, 9L)).toDF("k", "v")
      intercept[IllegalStateException](
        InterloperCommit.losing(spark, dir, Int.MaxValue)(sink.addBatch(0L, batch)))
      // six interlopers took v2..v7; none carries the lost batch's txn
      assert(ManifestTable.snapshots(spark, dir).map(_.version) == (1 to 7))
      assert(txn(dir).isEmpty)
      // the restarted stream re-delivers batch 0, and it lands
      sink.addBatch(0L, batch)
      assert(txn(dir) == Some((appId, 0L)))
      assert(ManifestTable.readLatest(spark, dir).where(col("k") === 9L).count() == 1)
    }
    exhaustThenRetry("noadopt_sink", Nil)
    exhaustThenRetry("noadopt_msink", Seq("k"))
  }

  /** Crash `change` at its commit point, then let a plain append take the
    * version it was after; returns that version.
    */
  private def crashThenForeignAppend(dir: String)(change: => Any): Int = {
    intercept[java.io.IOException](CrashingCommit.crashing(spark, dir)(change))
    ManifestTable.appendRetrying(Seq((9L, 9.0)).toDF("k", "v"), dir, 20250901, 990)
  }

  private val kd = (0L until 6L).map(i => (i, i.toDouble)).toDF("k", "v")

  test("a crashed SET TBLPROPERTIES leaves no properties for a foreign commit at its version to adopt") {
    val dir = s"${graft.util.Scratch.dir("crash_props")}/t"
    ManifestTable.commit(kd, dir, 20250901, 900)
    Properties.set(spark, dir, Map("owner" -> "ops"), 20250901, 905)
    assert(crashThenForeignAppend(dir)(Properties.set(spark, dir,
      Map("graft.optimizeWrite" -> "true"), 20250901, 910)) == 3)
    assert(Properties.active(spark, dir) == Map("owner" -> "ops"))
  }

  test("a crashed ADD CONSTRAINT leaves no constraint for a foreign commit at its version to adopt") {
    val dir = s"${graft.util.Scratch.dir("crash_cons")}/t"
    ManifestTable.commit(kd, dir, 20250901, 900)
    Constraints.add(spark, dir, "pos", "k >= 0", 20250901, 905)
    assert(crashThenForeignAppend(dir)(
      Constraints.add(spark, dir, "small", "k < 6", 20250901, 910)) == 3)
    assert(Constraints.active(spark, dir) == Seq(Constraints.Check("pos", "k >= 0")))
  }

  test("a crashed RENAME COLUMN leaves no mapping for a foreign commit at its version to adopt") {
    val dir = s"${graft.util.Scratch.dir("crash_colmap")}/t"
    ColumnMap.create(kd, dir, 20250901, 900)
    assert(crashThenForeignAppend(dir)(ColumnMap.renameColumn(spark, dir, "v", "w")) == 2)
    assert(ColumnMap.mappingAt(spark, dir, 2) == ColumnMap.mappingAt(spark, dir, 1))
    assert(ColumnMap.read(spark, dir).columns.toSeq == Seq("k", "v"))
    assert(ColumnMap.read(spark, dir).count() == 7)
  }

  test("a lost race refuses an evolving append and leaves nothing the winner adopts") {
    val dir = s"${graft.util.Scratch.dir("lose_evolve")}/t"
    ColumnMap.create(kd, dir, 20250901, 900)
    intercept[LostRace](losing(dir)(ColumnMap.appendEvolve(
      Seq((9L, "x")).toDF("k", "tag"), dir, 20250901, 910)))
    val snaps = ManifestTable.snapshots(spark, dir)
    assert(snaps.map(_.version) == Seq(1, 2))
    assert(snaps(1).files == snaps(0).files)
    assert(ColumnMap.mappingAt(spark, dir, 2) == ColumnMap.mappingAt(spark, dir, 1))
    // no mapping file and no staged data of the lost attempt beside the log
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def names(rel: String) = fs.listStatus(new Path(s"$dir/$rel")).map(_.getPath.getName).toSet
    assert(names("") == Set("_manifests", "data"))
    assert(names("data") == snaps(0).files.map(_.split('/')(1)).toSet)
  }

  test("one lost catalog race: the cut lands past the interloper with both overlays") {
    val root = graft.util.Scratch.dir("lose_cat")
    Catalog.publishCatalog(spark, root, 20250901, 900, Map("t" -> 1))
    assert(losing(root)(
      Catalog.publishCatalog(spark, root, 20250901, 910, Map("u" -> 4))) == 3)
    val cuts = Catalog.snapshots(spark, root)
    assert(cuts.map(_.version) == Seq(1, 2, 3))
    assert(cuts(1).tables == Map("t" -> 1))
    assert(cuts(2).tables == Map("t" -> 1, "u" -> 4))
  }

  test("two racing OPTIMIZEs: each lands or loses its race, and the latest version reads every row") {
    val rows = (0L until 64L).map(i => (i, i * 10)).toDF("k", "v")
    (0 until 10).foreach { trial =>
      val dir = s"${graft.util.Scratch.dir(s"race_opt$trial")}/t"
      ManifestTable.commit(rows.repartition(16), dir, 20250901, 900)
      val gate = new java.util.concurrent.CountDownLatch(1)
      // the second compaction starts 0-450 ms after the first, so the race
      // falls on every step of the other's attempt across the trials
      def optimize(delayMs: Long) = java.util.concurrent.CompletableFuture.supplyAsync { () =>
        gate.await()
        Thread.sleep(delayMs)
        try Right(ZOrder.binPack(spark, dir, Long.MaxValue / 4, 20250901, 910))
        catch { case e: LostRace => Left(e) }
      }
      val (a, b) = (optimize(0L), optimize(50L * trial))
      gate.countDown()
      val outcomes = Seq(a.get(), b.get()) // any other failure escapes here
      assert(outcomes.count(_.isRight) >= 1, s"trial $trial: no OPTIMIZE landed")
      val latest = ManifestTable.readLatest(spark, dir).select("k", "v")
        .as[(Long, Long)].collect().sorted.toSeq
      assert(latest == (0L until 64L).map(i => (i, i * 10)), s"trial $trial")
      ManifestTable.snapshots(spark, dir).foreach(s =>
        assert(ManifestTable.readVersion(spark, dir, s.version).count() == 64,
          s"trial $trial: version ${s.version}"))
    }
  }

  test("a primitive that always loses exhausts the loop with a plain IllegalStateException, never a LostRace") {
    val dir = s"${graft.util.Scratch.dir("lose_all")}/t"
    ManifestTable.commit(Seq((1L, 1L)).toDF("k", "v"), dir, 20250901, 900)
    val e = intercept[IllegalStateException](losing(dir, Int.MaxValue)(
      ManifestTable.appendRetrying(Seq((2L, 2L)).toDF("k", "v"), dir, 20250901, 910)))
    assert(e.getMessage.contains("lost 6 consecutive races"), e.getMessage)
    assert(!e.isInstanceOf[LostRace])
    assert(e.getCause.isInstanceOf[LostRace])
    // six interlopers landed; the append itself never did
    assert(ManifestTable.snapshots(spark, dir).map(_.version) == (1 to 7))
    assert(ManifestTable.readLatest(spark, dir).count() == 1)
  }
}
