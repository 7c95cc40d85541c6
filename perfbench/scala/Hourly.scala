package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.lake.{Layout, SnapshotDiff}
import graft.ml.{Gender, NamesDict}
import graft.pipeline.{Pipeline, Scheduler}
import graft.sinks.{Elastic, Jdbc}
import graft.sources.Ingest

/** `hourly_pipeline`: the reference's own job, one `Scheduler.pipelineTick`
  * per hourly tick, starting late on one day so the run crosses midnight
  * (the aggregate's cost grows with the day's snapshot count and resets at
  * the day boundary). Five accounts from a few hundred followers up to
  * 7,500, Instagram's cap on accounts followed; about 5% of each list
  * churns per tick. JDBC goes to embedded Derby, ES to a loopback stub.
  */
object Hourly {
  val Accounts: Seq[(String, Int)] = Seq("acct_a" -> 300, "acct_b" -> 1200,
    "acct_c" -> 2500, "acct_d" -> 4800, "acct_e" -> 7500)
  val Churn = 0.05
  val FirstDate = 20250301
  val FirstHour = 22

  /** One entry of a following list; `fullName` may be null. */
  final case class Follower(username: String, fullName: String)

  /** The (date, HHMM) of the i-th hourly tick. */
  def stamp(i: Int): (Int, Int) = {
    val h = FirstHour + i
    (FirstDate + h / 24, (h % 24) * 100)
  }

  /** Seeded follower generator: every branch of Gender's decision table
    * fires — full-name hit, username-only hit, miss, NULL full_name, and
    * non-Latin names (dictionary diacritics and scripts the dictionary
    * lacks).
    */
  final class Names(seed: Long) {
    private val rng = new scala.util.Random(seed)
    private var serial = 0
    private val gendered = NamesDict.sortedEntries.collect {
      case (n, g) if g != "andy" && g != "unknown" => n
    }
    private val ascii = gendered.filter(_.matches("[A-Za-z]+")).toIndexedSeq
    private val diacritic = gendered.filterNot(_.matches("[A-Za-z]+")).toIndexedSeq
    private val surnames = IndexedSeq("Smith", "Garcia", "Martin", "Rossi",
      "Kowalski", "Nguyen", "Silva", "Muller", "Kim", "Okafor")
    private val scripts = IndexedSeq("张伟", "李娜 王", "Дмитрий Петров",
      "Анна Иванова", "محمد علي", "さくら 田中", "Νίκος Παππάς")

    private def pick[T](xs: IndexedSeq[T]): T = xs(rng.nextInt(xs.size))
    private def letters(n: Int): String =
      (1 to n).map(_ => ('a' + rng.nextInt(26)).toChar).mkString

    def next(): Follower = {
      serial += 1
      val tail = s"_$serial"
      rng.nextInt(100) match {
        case r if r < 40 => Follower(letters(6) + tail, s"${pick(ascii)} ${pick(surnames)}")
        case r if r < 55 => Follower(pick(ascii) + tail, if (r % 2 == 0) "" else "   ")
        case r if r < 70 => Follower(letters(5) + tail, s"Zq${letters(4)} ${pick(surnames)}")
        case r if r < 82 => Follower(
          (if (r % 2 == 0) pick(ascii) else letters(5)) + tail, null)
        case r if r < 91 && diacritic.nonEmpty =>
          Follower(letters(6) + tail, s"${pick(diacritic)} ${pick(surnames)}")
        case _ => Follower(letters(6) + tail, pick(scripts))
      }
    }
  }

  /** Per-account following lists that churn ~5% per tick; `scale`
    * shrinks every list (the warm-up uses a tenth).
    */
  final class Lists(seed: Long, scale: Double = 1.0) {
    private val names = new Names(seed)
    private val rng = new scala.util.Random(seed ^ 0x5DEECE66DL)
    private val sizes = Accounts.map { case (a, n) => a -> math.max(10, (n * scale).toInt) }
    val current: mutable.LinkedHashMap[String, Vector[Follower]] =
      mutable.LinkedHashMap(sizes.map { case (a, n) =>
        a -> Vector.fill(n)(names.next())
      }: _*)

    /** Advance every list by one tick of churn. */
    def churn(): Unit = sizes.foreach { case (a, n) =>
      val k = math.max(1, (n * Churn).round.toInt)
      val drop = rng.shuffle(current(a).indices.toVector).take(k).toSet
      val kept = current(a).zipWithIndex.collect { case (f, i) if !drop(i) => f }
      current(a) = kept ++ Vector.fill(k)(names.next())
    }

    def payloads: Seq[(String, String)] = current.toSeq.map { case (a, fs) => a -> json(fs) }
  }

  /** The Apify-shaped payload: a JSON array of follower objects. */
  def json(fs: Seq[Follower]): String =
    Json(fs.map(f => Map("username" -> f.username, "full_name" -> f.fullName)))

  def derby(name: String): Jdbc.JdbcConfig = Jdbc.JdbcConfig(
    url = s"jdbc:derby:memory:$name;create=true",
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver")

  /** What the tick must have produced, from the generator's own lists. */
  final case class Expect(date: Int, time: Int, lists: Map[String, Vector[Follower]],
      added: Map[String, Int], deleted: Map[String, Int], aggRows: Long,
      compRows: Long, aggIds: Set[String], compIds: Set[String])

  def run(c: Main.Ctx): Main.Result = {
    val spark = c.spark
    val es = new EsStub
    val scheduler = Scheduler.Config(retries = 1, retryDelayMs = 0L)
    val genT0 = c.spans.nowMs
    val lists = new Lists(c.seed)
    val warmLists = new Lists(c.seed + 7919, scale = 0.1)
    val inputGenS = Main.since(c.spans, genT0)

    // warm-up: one tick of one small account on a throwaway root, database
    // and index, so JIT, codegen and the JDBC and HTTP clients are warm,
    // then the first tick on the timed root
    val warmT0 = c.spans.nowMs
    val warmCfg = Pipeline.Config(s"${c.scratch}/warm_lake", jdbc = Some(derby("warm")),
      es = Some(Elastic.EsConfig("127.0.0.1", es.port)))
    val (wd, wt) = stamp(0)
    c.spans(s"warm $wd $wt", "warm")(_ =>
      Scheduler.pipelineTick(spark, scheduler, warmCfg, wd, wt, warmLists.payloads.take(1)))
    es.reset()

    val cfg = Pipeline.Config(s"${c.scratch}/lake", jdbc = Some(derby("timed")),
      es = Some(Elastic.EsConfig("127.0.0.1", es.port)))
    val expects = mutable.ArrayBuffer.empty[Expect]
    val attempts = mutable.ArrayBuffer.empty[Scheduler.Attempt]
    val esPerTick = mutable.ArrayBuffer.empty[Map[String, Set[String]]]
    val rounds = mutable.ArrayBuffer.empty[Double]
    var prev: Option[Expect] = None
    val dayAgg = mutable.Map.empty[Int, (Long, Long, Set[String], Set[String])]

    /** Tick i on the timed root, checked against the model; the first one
      * runs in set-up so every timed tick has a previous run to diff.
      */
    def tick(i: Int, timed: Boolean): Unit = {
      if (i > 0) lists.churn()
      val (d, t) = stamp(i)
      val snap = lists.current.toMap
      val t0 = System.nanoTime()
      val rows = c.ops.timed(if (timed) "tick" else "warm", c.spans, s"tick $d $t") { _ =>
        val tickId = c.spans.currentId
        val wrap: (String, () => Unit) => () => Unit = (name, body) => () => {
          val s0 = c.spans.nowMs
          try body() finally c.spans.record(tickId, name, "task", s0, c.spans.nowMs, Map.empty)
        }
        Scheduler.pipelineTick(spark, scheduler, cfg, d, t, lists.payloads, wrap)
      }
      if (timed) {
        rounds += (System.nanoTime() - t0) / 1e9
        rows.foreach(attempts ++= _)
      }
      esPerTick += es.snapshot()._3
      es.reset()
      rows.foreach(r => c.ops.check(s"tick $d $t tasks")(r.forall(_.status == Scheduler.Success),
        r.filter(_.status != Scheduler.Success).map(a => s"${a.task}: ${a.error}").mkString("; ")))
      // the model: same-day diff per account, the day's union so far
      val sameDay = prev.filter(_.date == d)
      def changed(a: String): (Seq[Follower], Seq[Follower]) = sameDay.fold(
        (Seq.empty[Follower], Seq.empty[Follower])) { p =>
        val cur = snap(a); val old = p.lists(a)
        val curKeys = cur.filter(_.fullName != null).toSet
        val oldKeys = old.filter(_.fullName != null).toSet
        (cur.filter(f => f.fullName == null || !oldKeys(f)),
          old.filter(f => f.fullName == null || !curKeys(f)))
      }
      val diffs = Accounts.map(_._1).map(a => a -> changed(a)).toMap
      val (aggSoFar, compSoFar, aggIds0, compIds0) =
        dayAgg.getOrElse(d, (0L, 0L, Set.empty[String], Set.empty[String]))
      val tickAgg = (aggSoFar + snap.values.map(_.size).sum,
        compSoFar + diffs.values.map { case (ad, de) => ad.size + de.size }.sum,
        aggIds0 ++ snap.values.flatten.map(_.username),
        compIds0 ++ diffs.values.flatMap { case (ad, de) => (ad ++ de).map(_.username) })
      dayAgg(d) = tickAgg
      val e = Expect(d, t, snap, diffs.map { case (a, v) => a -> v._1.size },
        diffs.map { case (a, v) => a -> v._2.size }, tickAgg._1, tickAgg._2,
        tickAgg._3, tickAgg._4)
      expects += e
      prev = Some(e)
    }

    tick(0, timed = false)
    val warmS = Main.since(c.spans, warmT0)
    val began = c.spans.nowMs
    var i = 1
    // two timed ticks, 23:00 and 00:00, so the timed ticks cross midnight
    while (Main.measuring(c, began, rounds.size, minRounds = 2)) {
      tick(i, timed = true)
      i += 1
    }

    c.spans("output checks", "check")(_ => checkOutputs(c, cfg, expects.toSeq, esPerTick.toSeq))
    val layers =
      if (c.trace) c.spans("layer pass", "layer_pass")(_ => layerPass(c, es))
      else Map.empty[String, Any]
    es.stop()

    val account = attempts.filter(_.task.startsWith("run_single_script"))
    val aggregate = attempts.filter(_.task == "aggregate_results")
    val ticks = attempts.groupBy(a => (a.run_date, a.run_time)).values.toSeq
    Main.Result(inputGenS, warmS, began, rounds.toSeq, Map(
      "pipeline" -> Map(
        "account_task_p50_s" -> Main.median(account.map(_.elapsed_ms / 1e3).toSeq),
        "account_task_max_s" -> Main.median(ticks.map(_.filter(
          _.task.startsWith("run_single_script")).map(_.elapsed_ms / 1e3).max)),
        "aggregate_task_s" -> Main.median(aggregate.map(_.elapsed_ms / 1e3).toSeq),
        "attempts_per_task" -> attempts.size.toDouble /
          math.max(1, attempts.map(a => (a.run_date, a.run_time, a.task)).distinct.size)),
      "layers" -> layers))
  }

  /** Checks against the model, after the timed loop: per-tick diff counts,
    * aggregate and JDBC row counts, the ES doc ids each tick sent, and
    * Gender.guess parity on every generated name.
    */
  private def checkOutputs(c: Main.Ctx, cfg: Pipeline.Config, expects: Seq[Expect],
      esPerTick: Seq[Map[String, Set[String]]]): Unit = {
    val spark = c.spark
    val j = cfg.jdbc.get
    // a table no tick has written yet reads as empty
    def counts(df: => DataFrame, extra: String*): Map[Seq[Any], Long] = scala.util.Try(
      df.groupBy((Seq(Layout.runDateCol, Layout.runTimeCol) ++ extra).map(col): _*)
        .count().collect().map(r => ((0 until r.length - 1).map(r.get): Seq[Any]) ->
          r.getLong(r.length - 1)).toMap).getOrElse(Map.empty[Seq[Any], Long])
    Accounts.map(_._1).foreach { a =>
      val comp = counts(Layout.snapshots(spark, Pipeline.comparatifRef(cfg, a)), "change")
      val jdbc = counts(Jdbc.read(spark, j, a))
      expects.foreach { e =>
        val k = Seq[Any](e.date, e.time)
        c.ops.check(s"diff $a ${e.date} ${e.time}")(
          comp.getOrElse(k :+ "added", 0L) == e.added(a) &&
            comp.getOrElse(k :+ "deleted", 0L) == e.deleted(a),
          s"added ${comp.getOrElse(k :+ "added", 0L)} vs ${e.added(a)}, " +
            s"deleted ${comp.getOrElse(k :+ "deleted", 0L)} vs ${e.deleted(a)}")
        c.ops.check(s"jdbc $a ${e.date} ${e.time}")(
          jdbc.getOrElse(k, 0L) == e.lists(a).size,
          s"${jdbc.getOrElse(k, 0L)} rows vs ${e.lists(a).size}")
      }
    }
    val agg = counts(Layout.snapshots(spark, Pipeline.aggregatedRef(cfg)))
    val aggJdbc = counts(Jdbc.read(spark, j, "final_aggregated_usage"))
    val compJdbc = counts(Jdbc.read(spark, j, "final_comparatif_usage"))
    expects.zip(esPerTick).foreach { case (e, ids) =>
      val k = Seq[Any](e.date, e.time)
      c.ops.check(s"aggregate ${e.date} ${e.time}")(
        agg.getOrElse(k, 0L) == e.aggRows && aggJdbc.getOrElse(k, 0L) == e.aggRows &&
          compJdbc.getOrElse(k, 0L) == e.compRows,
        s"lake ${agg.getOrElse(k, 0L)}, jdbc ${aggJdbc.getOrElse(k, 0L)} vs ${e.aggRows}; " +
          s"comparatif jdbc ${compJdbc.getOrElse(k, 0L)} vs ${e.compRows}")
      val aggIds = ids.getOrElse(Elastic.aggregatedIndex, Set.empty)
      val compIds = ids.getOrElse(Elastic.comparatifIndex, Set.empty)
      c.ops.check(s"es ${e.date} ${e.time}")(aggIds == e.aggIds && compIds == e.compIds,
        s"aggregated ids ${aggIds.size} vs ${e.aggIds.size}, " +
          s"comparatif ids ${compIds.size} vs ${e.compIds.size}")
    }
    // Gender parity: the enriched layer against the pure decision table
    val scored = Accounts.map(_._1).map(a => Layout.snapshots(spark, Pipeline.formattedRef(cfg, a)))
      .reduce(_ unionByName _)
      .select("username", "full_name", "predicted_gender", "confidence").distinct()
      .collect()
    val generated = expects.flatMap(_.lists.values.flatten).map(f => f.username -> f).toMap
    val bad = scored.filter { r =>
      val g = Gender.guess(r.getString(1), r.getString(0))
      g.predicted_gender != r.getString(2) || math.abs(g.confidence - r.getDouble(3)) > 1e-6
    }
    c.ops.check("gender parity")(bad.isEmpty && scored.map(_.getString(0)).toSet == generated.keySet,
      s"${bad.length} mismatches of ${scored.length}; " +
        s"${generated.size} names generated, ${scored.map(_.getString(0)).toSet.size} scored")
  }

  /** Traced run only: on two ticks of fresh inputs, call each public
    * function that runAccount/runAggregate compose, one call at a time,
    * and time the second tick's calls by layer.
    */
  private def layerPass(c: Main.Ctx, es: EsStub): Map[String, Any] = {
    val spark = c.spark
    val cfg = Pipeline.Config(s"${c.scratch}/layer_lake", jdbc = Some(derby("layers")),
      es = Some(Elastic.EsConfig("127.0.0.1", es.port)))
    val j = cfg.jdbc.get
    val lists = new Lists(c.seed + 104729)
    val acc = mutable.LinkedHashMap.empty[String, Double]
    var jdbcRows = 0L
    var tick = 1
    def layer[T](name: String)(body: => T): T = {
      val t0 = c.spans.nowMs
      val r = c.spans(name, s"layer.$name")(_ => body)
      if (tick == 1) acc(name) = acc.getOrElse(name, 0.0) + Main.since(c.spans, t0)
      r
    }
    def stamped(df: DataFrame, d: Int, t: Int): DataFrame =
      df.withColumn(Layout.runDateCol, lit(d)).withColumn(Layout.runTimeCol, lit(t))
    (0 to 1).foreach { i =>
      tick = i
      if (i > 0) lists.churn()
      val (d, t) = (FirstDate + 10, 100 * (i + 1))
      es.reset()
      lists.payloads.foreach { case (a, payload) =>
        layer("sources.land")(Ingest.landRaw(payload, cfg.root, cfg.group, a, d))
        val raw = Layout.rawFile(Layout.TableRef(cfg.root, Layout.rawLayer, cfg.group, a), d)
        val contracted = layer("sources.normalize")(
          Ingest.toContract(Ingest.normalize(spark, raw), Pipeline.contract))
        val scored = layer("ml.enrich") {
          val s = Gender.withGender(spark, contracted)
            .select(Pipeline.dataCols.map(col): _*).cache()
          s.count(); s
        }
        layer("lake.snapshot_write") {
          Layout.overwriteSnapshot(scored, Pipeline.formattedRef(cfg, a), d, t)
          Layout.overwriteSnapshot(scored, Pipeline.usageRef(cfg, a), d, t)
        }
        val pt = layer("lake.discovery")(
          Layout.previousRunTime(spark, Pipeline.usageRef(cfg, a), d, t))
        pt.foreach { p =>
          val diff = layer("lake.diff") {
            val prev = Layout.snapshotAt(spark, Pipeline.usageRef(cfg, a), d, p)
              .select(Pipeline.dataCols.map(col): _*)
            SnapshotDiff.diff(scored, prev, cfg.keys).cache()
          }
          layer("lake.snapshot_write")(
            Layout.overwriteSnapshot(diff, Pipeline.comparatifRef(cfg, a), d, t))
          diff.unpersist()
        }
        layer("sinks.jdbc")(Jdbc.append(stamped(scored, d, t), j, a))
        if (i == 1) jdbcRows += lists.current(a).size
        scored.unpersist()
      }
      val agg = layer("lake.discovery") {
        val u = Accounts.map(_._1).map { a =>
          Layout.snapshots(spark, Pipeline.usageRef(cfg, a))
            .where(col(Layout.runDateCol) === d && col(Layout.runTimeCol) <= t)
            .select(Pipeline.dataCols.map(col): _*)
            .withColumn("username_scraped", lit(a))
        }.reduce(_ unionByName _).cache()
        u.count(); u
      }
      layer("lake.snapshot_write")(Layout.overwriteSnapshot(agg, Pipeline.aggregatedRef(cfg), d, t))
      layer("sinks.jdbc")(Jdbc.append(stamped(agg, d, t), j, "final_aggregated_usage"))
      if (i == 1) jdbcRows += agg.count()
      layer("sinks.es")(Elastic.bulkIndexKeyed(agg, cfg.es.get, Elastic.aggregatedIndex))
      agg.unpersist()
    }
    val (req, docs, _) = es.snapshot()
    es.reset()
    acc.map { case (k, v) => s"${k}_s" -> v }.toMap ++ Map(
      "sinks.jdbc_rows" -> jdbcRows, "sinks.es_requests" -> req, "sinks.es_docs" -> docs)
  }
}
