package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.StringSim
import graft.sources.Tables

/** Jaro–Winkler similarity self-join (X79) — name-variant pairing above a
  * similarity threshold, the record-linkage join the reference's Apify
  * profiles would need to reconcile display-name drift across snapshots
  * (`scripts/script_api_apify_to_spark.py:160-176` keys rows on handle
  * only; two crawls of the same person under "J. Smith" / "J Smith"
  * never reconcile there).
  *
  * Unlike X65's edit-distance-1 join, Jaro–Winkler admits NO lossless
  * single-key blocking (a high-JW pair need not share any positional
  * q-gram — e.g. transposed short strings), so candidate generation
  * conjoins the two bounds that ARE sound:
  *
  *  - LENGTH. For `jw ≥ τ` with max prefix boost, `j ≥ (τ - 0.4) / 0.6`,
  *    and the Jaro upper bound `j ≤ (2 + min/max) / 3` forces
  *    `min/max ≥ 3j - 2`; at `τ ≥ 0.9` that is `max ≤ 2·min`, so both
  *    strings land within one `⌊log₂ len⌋` bucket of each other (one
  *    side keys on its bucket, the other explodes to `{b-1, b, b+1}`).
  *  - CHARACTER PREFIX FILTERING (the ppjoin/AllPairs principle). The
  *    same Jaro bound gives `m ≥ ⌈(3j₀-2)·l⌉ = ⌈(5τ-4)·l⌉` window-
  *    constrained character matches for EACH length `l`, and window
  *    matches are a sub-multiset of the plain character-multiset
  *    intersection — so under ANY common total order of characters, the
  *    two strings' sorted-character prefixes of length `l - m + 1` must
  *    share a character. Ordering by ASCENDING CORPUS FREQUENCY (one
  *    alphabet-sized aggregate, broadcast as a literal map) makes those
  *    prefixes each string's RAREST characters — which is what actually
  *    prunes: near-identical corpora segregate on their rare
  *    distinguishing characters where positional schemes (shared
  *    prefixes, uniform lengths) degenerate to all-pairs.
  *
  * Candidates = pairs agreeing on the length band AND sharing a prefix
  * character; the codegen'd [[graft.functions.JaroWinklerSim]] refines
  * in-scan after a pair-level dedup (a pair can share several rare
  * characters). All candidate generation is pure built-in expressions —
  * rank-encode each character via a literal map, `array_sort`, `slice`,
  * explode — no UDF.
  *
  * Scale shape: the corpus shuffles once, keyed on (band, rare char);
  * candidate cost tracks how concentrated the corpus is on its rare
  * characters — the honest residual for a metric with no exact
  * equi-blocking; for corpus-scale near-dup, E2/X65 candidate generation
  * with [[StringSim.jaroWinkler]] as the refine scorer remains the
  * recall-traded alternative. JaroJoinSpec pins losslessness
  * (blocked == brute force) on variable-length random strings.
  */
object JaroJoin extends graft.QueryModule {

  /** `⌊log₂(length)⌋` bucket — the sound length blocking key for τ ≥ 0.9. */
  private def bucket(s: Column): Column =
    floor(log(2.0, greatest(length(s), lit(1)))).cast("int")

  /** Rarest-character prefix keys of `s` under the corpus frequency
    * order `rankOf` (char → fixed-width rank string): rank-encode each
    * character, sort, keep the first `l - ⌈(5τ-4)·l⌉ + 1`, decode back
    * to the distinct characters. Pure built-in expressions.
    */
  private def prefixKeys(s: Column, rankOf: Column, tau: Double): Column = {
    val chars = filter(split(s, ""), c => length(c) > 0)
    val encoded = array_sort(transform(chars, c => concat(element_at(rankOf, c), c)))
    val pLen = (size(chars) - ceil(size(chars) * lit(5 * tau - 4)) + 1).cast("int")
    array_distinct(transform(slice(encoded, lit(1), greatest(pLen, lit(1))),
      e => substring(e, 5, 10)))
  }

  /** Corpus character→rank literal map (rank ascending by frequency,
    * char as tie-break; 4-digit zero-padded so rank strings sort like
    * the numbers). Alphabet-sized driver traffic.
    */
  private def charRanks(strs: DataFrame): Column = {
    val freqs = strs.select(explode(filter(split(col("s"), ""), c => length(c) > 0)).as("c"))
      .groupBy("c").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getAs[String]("c"), r.getAs[Long]("n")))
      .sortBy { case (c, n) => (n, c) }
    map(freqs.zipWithIndex.flatMap { case ((c, _), i) =>
      Seq(lit(c), lit(f"$i%04d"))
    }.toIndexedSeq: _*)
  }

  /** All pairs `(left.idCol, right.idCol)` with
    * `jaro_winkler(a_str, b_str) ≥ tau`, as
    * `(a_id, b_id, a_str, b_str, jw)`. `selfJoin=true` keeps only
    * `a_id < b_id`. Requires `tau ≥ 0.9` — below that the length bound
    * is not lossless (see scaladoc) and the caller should generate
    * candidates with X65/E2 and refine with [[StringSim.jaroWinkler]].
    *
    * Unit contract: losslessness of BOTH blocking tiers is proven for
    * strings where UTF-16 code units == Unicode codepoints (the BMP —
    * every name corpus in practice). The scorer ([[StringSim]]'s
    * `jaro_winkler`) walks UTF-16 code units, while the blocking keys
    * (`split(s, "")` / `length()`) are codepoint-level Spark builtins;
    * for astral-plane characters (surrogate pairs: emoji, some CJK
    * extensions) the two disagree by one per such character, so a pair
    * whose jw just clears `tau` could in principle land outside its
    * length band. Callers joining astral-bearing text should pre-filter
    * supplementary-plane rows (`rlike("[\\x{10000}-\\x{10FFFF}]")`) or
    * accept approximate recall on those rows.
    */
  def join(left: DataFrame, right: DataFrame, idCol: String, strCol: String,
      tau: Double, selfJoin: Boolean = false): DataFrame = {
    require(tau >= 0.9, s"length-band blocking is only lossless for tau >= 0.9 (got $tau)")
    if (tau >= multisetTau) multisetJoin(left, right, idCol, strCol, tau, selfJoin)
    else prefixJoin(left, right, idCol, strCol, tau, selfJoin)
  }

  /** Band + rare-char-prefix candidate tier (the τ < 0.97 path). */
  private def prefixJoin(left: DataFrame, right: DataFrame, idCol: String,
      strCol: String, tau: Double, selfJoin: Boolean): DataFrame = {
    val corpus =
      if (selfJoin || (left eq right)) left.select(col(strCol).as("s"))
      else left.select(col(strCol).as("s")).unionByName(right.select(col(strCol).as("s")))
    val rankOf = charRanks(corpus)
    val a = left.select(col(idCol).as("a_id"), col(strCol).as("a_str"),
      bucket(col(strCol)).as("bkt"),
      explode(prefixKeys(col(strCol), rankOf, tau)).as("pk"))
    val b = right.select(col(idCol).as("b_id"), col(strCol).as("b_str"),
      explode(array(bucket(col(strCol)) - 1, bucket(col(strCol)),
        bucket(col(strCol)) + 1)).as("bkt"),
      col(strCol).as("b_str2"))
      .select(col("b_id"), col("b_str"), col("bkt"),
        explode(prefixKeys(col("b_str2"), rankOf, tau)).as("pk"))
    val pairFilter: Column =
      if (selfJoin) col("a_id") < col("b_id") else lit(true)
    // Refine INLINE in the join output: a candidate pair can meet on 2-3
    // shared rare characters, but re-evaluating the codegen'd expression
    // per duplicate is far cheaper than shuffling the full candidate
    // multiset through a pair-level dedup — so dedup runs over the
    // SURVIVORS (≈ true-pair-sized), not the candidates.
    a.join(b, Seq("bkt", "pk"))
      .where(pairFilter)
      .withColumn("jw", StringSim.jaroWinkler(col("a_str"), col("b_str")))
      .where(col("jw") >= tau)
      .dropDuplicates("a_id", "b_id")
      .select("a_id", "b_id", "a_str", "b_str", "jw")
  }

  /** Threshold above which the deletion-neighborhood multiset tier is the
    * candidate generator. At τ ≥ 0.97 the required match count is within
    * 2 of the string length for every name-sized string (see
    * [[multisetJoin]]), so the tier's key fan-out stays tiny exactly
    * where the rare-char prefix filter degenerates.
    */
  private val multisetTau = 0.97

  /** Minimal Jaro match count for `jw ≥ τ` between lengths `la`,`lb`:
    * with max Winkler boost, `j ≥ j0 = (τ−0.4)/0.6`, and the Jaro
    * identity `j ≤ (m/la + m/lb + 1)/3` (transpositions can only lower
    * it) gives `m ≥ (3·j0 − 1) / (1/la + 1/lb)`. Rounded with a slack
    * epsilon so an exactly-integral bound never rounds UP past the true
    * minimum (over-rounding would be unsound).
    */
  private def mMin(la: Int, lb: Int, j0: Double): Int =
    math.ceil((3 * j0 - 1) / (1.0 / la + 1.0 / lb) - 1e-9).toInt

  /** Key fan-out guard: C(l, d) deletion keys are emitted per string per
    * class — cap d at 2 and C(l,2) at ~500.
    */
  private def classOk(l: Int, d: Int): Boolean =
    d >= 0 && (d == 0 || (d == 1 && l <= 512) || (d == 2 && l <= 32))

  /** All `array_join`s of `A` (sorted char array, length `l`) with exactly
    * `d ∈ {0,1,2}` positions deleted — the size-(l−d) sub-multisets as
    * strings. Pure built-in HOFs; `array_distinct` collapses duplicate
    * sub-multisets from repeated characters.
    */
  private def delKeys(A: Column, l: Column, d: Column): Column = {
    val d0 = array(array_join(A, ""))
    val d1 = transform(sequence(lit(1), l), i =>
      array_join(filter(A, (_, k) => k + 1 =!= i), ""))
    val d2 = flatten(transform(sequence(lit(1), l - 1), i =>
      transform(sequence(i + 1, l), j =>
        array_join(filter(A, (_, k) => k + 1 =!= i && k + 1 =!= j), ""))))
    array_distinct(when(d === 0, d0).when(d === 1, d1).otherwise(d2))
  }

  /** High-τ candidate tier: a deletion-neighborhood join on SORTED
    * CHARACTER MULTISETS (the X65 deletion-variant discipline lifted from
    * positional strings to multisets).
    *
    * Soundness: a pair `(a,b)` with `jw ≥ τ` has `m ≥ mMin(la,lb)`
    * window-matched characters, which form a common sub-multiset of both
    * strings; any size-`mMin` subset of it is a common size-`mMin`
    * sub-multiset, and BOTH sides emit every size-`mMin` sub-multiset of
    * themselves for the `(la,lb)` length class — so the pair meets on at
    * least one `(lo, hi, key)` join key. Length classes are enumerated
    * from the corpus's DISTINCT length set (driver-sized); classes with
    * `mMin > min(la,lb)` admit no pairs at all, and classes whose
    * deletion fan-out exceeds [[classOk]] route both lengths' strings to
    * the prefix tier (losslessness preserved — every pair's class is
    * either multiset-joined or has both ends in the fallback).
    *
    * Why it exists: the rare-char prefix filter keys on corpus-rare
    * characters, which degenerates when rarity correlates within a group
    * of near-identical strings (sf10's replicated supplier corpus
    * measured 149.8× — every replica's ~1000 names share the same rare
    * marker letters AND genuinely overlap on ≥ m−2 characters, so no
    * overlap-based blocker can separate them). The multiset tier keys on
    * the ENTIRE multiset: at τ ≥ 0.97, `l − mMin ≤ 2` for name-length
    * strings, so buckets are near-permutation classes and candidates
    * track true-pair structure, not group size².
    */
  private def multisetJoin(left: DataFrame, right: DataFrame, idCol: String,
      strCol: String, tau: Double, selfJoin: Boolean): DataFrame = {
    val j0 = (tau - 0.4) / 0.6
    val corpus =
      if (selfJoin || (left eq right)) left.select(col(strCol).as("s"))
      else left.select(col(strCol).as("s")).unionByName(right.select(col(strCol).as("s")))
    // distinct string lengths: driver-sized by construction (≤ max name length values)
    val lens = corpus.select(length(col("s")).cast("int").as("l"))
      .where(col("l") >= 1).distinct().collect().map(_.getInt(0)).sorted
    val classes = for {
      lo <- lens; hi <- lens if hi >= lo
      m = mMin(lo, hi, j0) if m >= 1 && m <= lo
    } yield (lo, hi, m)
    val (ok, bad) = classes.partition { case (lo, hi, m) =>
      classOk(lo, lo - m) && classOk(hi, hi - m)
    }
    val fallbackLens = bad.flatMap { case (lo, hi, _) => Seq(lo, hi) }.toSet
    // length → the ok classes it participates in, with ITS deletion count
    val classesOf: Map[Int, Seq[(Int, Int, Int)]] = ok.toSeq
      .flatMap { case (lo, hi, m) =>
        Seq(lo -> (lo, hi, lo - m), hi -> (lo, hi, hi - m)).distinct
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    def keyed(df: DataFrame, id: String, tag: String): DataFrame = {
      val classMap = map(classesOf.toSeq.sortBy(_._1).flatMap { case (l, cs) =>
        Seq(lit(l), array(cs.map { case (lo, hi, d) =>
          struct(lit(lo).as("lo"), lit(hi).as("hi"), lit(d).as("d"))
        }: _*))
      }: _*)
      val A = array_sort(filter(split(col(s"${tag}_str"), ""), c => length(c) > 0))
      df.select(col(id).as(s"${tag}_id"), col(strCol).as(s"${tag}_str"))
        .withColumn("__l", length(col(s"${tag}_str")).cast("int"))
        .withColumn("__cls", explode(element_at(classMap, col("__l"))))
        .select(col(s"${tag}_id"), col(s"${tag}_str"), col("__l").as(s"${tag}_l"),
          col("__cls.lo").as("lo"), col("__cls.hi").as("hi"),
          explode(delKeys(A, col("__l"), col("__cls.d"))).as("key"))
    }
    if (classesOf.isEmpty && fallbackLens.isEmpty)
      return left.limit(0).select(col(idCol).as("a_id"), col(idCol).as("b_id"),
        col(strCol).as("a_str"), col(strCol).as("b_str"),
        lit(0.0).as("jw")) // no qualifying length combos at all
    val pairFilter: Column =
      if (selfJoin) col("a_id") < col("b_id") else lit(true)
    val msTier =
      if (classesOf.isEmpty) None
      else Some(keyed(left, idCol, "a").join(keyed(right, idCol, "b"), Seq("lo", "hi", "key"))
        .where(least(col("a_l"), col("b_l")) === col("lo") &&
          greatest(col("a_l"), col("b_l")) === col("hi") && pairFilter)
        .withColumn("jw", StringSim.jaroWinkler(col("a_str"), col("b_str")))
        .where(col("jw") >= tau)
        .select("a_id", "b_id", "a_str", "b_str", "jw"))
    val fbTier =
      if (fallbackLens.isEmpty) None
      else {
        val inFb = (c: Column) => length(c).cast("int").isInCollection(fallbackLens)
        Some(prefixJoin(left.where(inFb(col(strCol))), right.where(inFb(col(strCol))),
          idCol, strCol, tau, selfJoin))
      }
    (msTier ++ fbTier).reduce(_ unionByName _)
      .dropDuplicates("a_id", "b_id")
  }

  val queries: Map[String, Q] = Map(
    // Supplier-name self-join at τ=0.97: numeric-suffix variants under
    // the shared "Supplier#" prefix — transpositions and substitutions
    // in the digit tail, exactly the regime Winkler's prefix boost
    // weights. The oracle is the naive quadratic jaro_winkler cross
    // join — blocking must be invisible.
    "q_jaro_join" -> ((s, d) => {
      val sup = Tables.supplier(s, d).select("s_suppkey", "s_name")
      join(sup, sup, "s_suppkey", "s_name", tau = 0.97, selfJoin = true)
        .select(col("a_id").cast("long").as("a_id"),
          col("b_id").cast("long").as("b_id"),
          round(col("jw"), 6).as("jw6"))
        .orderBy("a_id", "b_id")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_jaro_join" ->
      """SELECT a.s_suppkey AS a_id, b.s_suppkey AS b_id,
        |       round(jaro_winkler_similarity(a.s_name, b.s_name), 6) AS jw6
        |FROM supplier a JOIN supplier b
        |  ON a.s_suppkey < b.s_suppkey
        | AND jaro_winkler_similarity(a.s_name, b.s_name) >= 0.97
        |ORDER BY a_id, b_id""".stripMargin,
  )
}
