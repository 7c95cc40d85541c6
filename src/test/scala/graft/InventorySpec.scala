package graft

import org.scalatest.funsuite.AnyFunSuite

/** Doc-vs-code drift tripwire (round-7 verdict ask #3): the README's
  * inventory claims and the SURVEY §2 contract must match what the code
  * actually ships — three rounds running the README's test/query counts
  * drifted silently, so the counts are now asserted, not edited.
  *
  * The canonical inventory line in README.md is GENERATED here: the test
  * recomputes every number from the code/tree and requires the README to
  * contain the exact line. Growing the inventory without updating the
  * README is a test failure, same discipline as the generated oracle dict.
  */
class InventorySpec extends AnyFunSuite {

  private def read(p: String): String = {
    val src = scala.io.Source.fromFile(p, "UTF-8")
    try src.mkString finally src.close()
  }

  private lazy val queryCount = SparkEntry.queries.size
  private lazy val oracleKeys = SparkEntry.oracleSql.keySet
  private lazy val queryKeys = SparkEntry.queries.keySet

  private lazy val surveyOps: Int =
    raw"(?m)^\| (S|P|J|U|A|L|D|F|E|X)\d+ \|".r
      .findAllIn(read("SURVEY.md")).toSeq.distinct.size

  /** Declared ScalaTest blocks: literal `test(` / `property(` registrations
    * at statement position across the test tree. Every suite here declares
    * tests statically, so the count equals the number the runner reports.
    */
  private lazy val declaredTests: Int = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(new java.io.File("src/test/scala")).map { f =>
      raw"(?m)^\s*(test|property)\(".r.findAllIn(read(f.getPath)).size
    }.sum
  }

  test("every oracle key names an existing query") {
    val orphans = oracleKeys -- queryKeys
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("the registry rejects a query name two modules both register") {
    val err = intercept[IllegalArgumentException] {
      SparkEntry.register(Seq(Map("q_a" -> "1", "q_dup" -> "2"), Map("q_dup" -> "3")))
    }
    assert(err.getMessage.contains("q_dup") && !err.getMessage.contains("q_a"))
    // so the inventory is exactly the modules' disjoint union
    assert(queryCount == SparkEntry.modules.map(_.queries.size).sum)
  }

  test("README cites the generated inventory line, byte-exact") {
    val line = s"Inventory (pinned by InventorySpec): $queryCount queries " +
      s"(${(oracleKeys intersect queryKeys).size} oracled), " +
      s"$surveyOps SURVEY §2 operators, $declaredTests declared tests."
    assert(read("README.md").contains(line),
      s"README.md must contain exactly:\n  $line")
  }

  test("SURVEY §2 pins one row per operator — no query family without a contract row") {
    // every SURVEY operator id appears exactly once (the table is the contract)
    val ids = raw"(?m)^\| ((S|P|J|U|A|L|D|F|E|X)\d+) \|".r
      .findAllMatchIn(read("SURVEY.md")).map(_.group(1)).toSeq
    val dups = ids.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate SURVEY §2 rows: $dups")
  }

  /** FROZEN allowlist: legacy keys that ride other rows' fixtures and are
    * deliberately uncited in SURVEY §2. This list may only SHRINK — a new
    * query key must land with a SURVEY row citing it (the X172/X184
    * failure mode this tripwire now actually catches, round-8 verdict
    * ask #3).
    */
  private val uncitedLegacy = Set(
    "q_dedup_doc_exact", "q_dedup_embedding", "q_dedup_ngram_jaccard",
    "q_doc_fingerprint", "q_frame_sample", "q_lang_id",
    "q_media_meta", "q_read_format_dv", "q_sessionize",
    "q_sql_refs", "q_stream_diff", "q_text_quality", "q_token_count")
  // (shrunk round-10: q_dedup_simhash and q_sim_lsh gained SURVEY §2
  // citations with their oracle lifts)

  test("every query key is cited in SURVEY.md (or frozen-allowlisted)") {
    val survey = read("SURVEY.md")
    val uncited = queryKeys.filter(k => !survey.contains(s"`$k`"))
    val orphans = uncited -- uncitedLegacy
    assert(orphans.isEmpty,
      s"queries shipped without a SURVEY §2 citation: $orphans — add a " +
        "contract row (do NOT grow the allowlist)")
    // the allowlist can only shrink: every entry must still be a real,
    // still-uncited query — a cited or deleted key must leave the list
    val stale = uncitedLegacy -- uncited
    assert(stale.isEmpty, s"allowlist entries now cited/deleted: $stale")
  }
}
