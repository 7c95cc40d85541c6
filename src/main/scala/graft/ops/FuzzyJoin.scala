package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Edit-distance-1 fuzzy join via deletion neighborhoods (X65) — the
  * entity-resolution join (spelling variants, OCR noise, typo'd
  * usernames) that a naive engine writes as `a CROSS JOIN b WHERE
  * levenshtein(a, b) <= 1`: an O(n·m) BroadcastNestedLoop that dies at
  * scale exactly like the naive range join X29 replaces.
  *
  * The FastSS/SymSpell identity makes it an equi-join: two strings at
  * Damerau-free edit distance ≤ 1 ALWAYS share a key in
  * `{s} ∪ del1(s)` (all single-character deletions of `s`) —
  *   - equal strings share `s` itself;
  *   - a substitution at position i makes both i-deletion variants equal;
  *   - an insertion/deletion makes the shorter string itself one of the
  *     longer string's deletion variants.
  * So: explode each side's (distinct) neighborhood keys, hash-join on the
  * key, dedup candidate pairs, and refine with the exact `levenshtein`
  * (built-in, codegen'd) — false positives drop, false negatives are
  * impossible (the property FuzzyJoinSpec pins against brute force).
  *
  * Scale shape: keys per row = |s|+1 (bounded by string length, not
  * corpus); candidates are bucket-collision-bounded, so cost tracks the
  * true-match structure instead of n·m — the same candidate-generation
  * philosophy as the X29 binned range join and the E2 MinHash bands. The
  * corpus shuffles once, keyed on the neighborhood string; at 100 TB the
  * key space is optionally md5-compressed to fixed-width hashes to cut
  * shuffle bytes (`compactKeys`).
  */
object FuzzyJoin extends graft.QueryModule {

  /** `{s} ∪ del1(s)` as a deduped array column — pure codegen'd
    * expressions, no UDF.
    */
  def neighborhood(s: Column): Column = array_distinct(concat(
    array(s),
    transform(sequence(lit(0), length(s) - 1), i =>
      concat(s.substr(lit(1), i), s.substr(i + 2, length(s))))))

  /** All pairs `(left.idCol, right.idCol)` whose `strCol` values are at
    * edit distance ≤ 1, as `(a_id, b_id, a_str, b_str, dist)`.
    * `selfJoin=true` keeps only `a_id < b_id` (unordered distinct pairs).
    * `compactKeys` ships md5 digests through the shuffle instead of raw
    * neighborhood strings (for long-string corpora).
    */
  def join(left: DataFrame, right: DataFrame, idCol: String, strCol: String,
      selfJoin: Boolean = false, compactKeys: Boolean = false): DataFrame = {
    def keyed(df: DataFrame, side: String): DataFrame = {
      val k = explode(neighborhood(col(strCol))).as("k0")
      df.select(col(idCol).as(s"${side}_id"), col(strCol).as(s"${side}_str"), k)
        .withColumn("key", if (compactKeys) md5(col("k0")) else col("k0"))
        .drop("k0")
    }
    val pairFilter: Column =
      if (selfJoin) col("a_id") < col("b_id") else lit(true)
    keyed(left, "a").join(keyed(right, "b"), Seq("key"))
      .where(pairFilter)
      .select("a_id", "b_id", "a_str", "b_str")
      .dropDuplicates("a_id", "b_id")
      .withColumn("dist", levenshtein(col("a_str"), col("b_str")))
      .where(col("dist") <= 1)
  }

  val queries: Map[String, Q] = Map(
    // Supplier-name self-join: every unordered pair of s_name values at
    // edit distance ≤ 1 (numeric name suffixes differing in one digit).
    // The oracle is the naive quadratic levenshtein join — candidate
    // generation must be invisible.
    "q_fuzzy_join" -> ((s, d) => {
      val sup = Tables.supplier(s, d).select("s_suppkey", "s_name")
      join(sup, sup, "s_suppkey", "s_name", selfJoin = true)
        .select(col("a_id").cast("long").as("a_id"),
          col("b_id").cast("long").as("b_id"),
          col("a_str").as("a_name"), col("b_str").as("b_name"),
          col("dist").cast("long").as("dist"))
        .orderBy("a_id", "b_id")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_fuzzy_join" ->
      """SELECT a.s_suppkey AS a_id, b.s_suppkey AS b_id,
        |       a.s_name AS a_name, b.s_name AS b_name,
        |       CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
        |FROM supplier a JOIN supplier b
        |  ON a.s_suppkey < b.s_suppkey
        | AND levenshtein(a.s_name, b.s_name) <= 1
        |ORDER BY a_id, b_id""".stripMargin,
  )
}
