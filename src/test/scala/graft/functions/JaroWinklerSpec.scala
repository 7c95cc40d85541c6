package graft.functions

import org.apache.spark.sql.functions._
import scala.util.Random

import graft.SparkSpec
import graft.ops.JaroJoin

/** Pins for the native Jaro–Winkler expression (X79) and the
  * length-banded similarity join built on it.
  */
class JaroWinklerSpec extends SparkSpec {
  import spark.implicits._

  private def jwOf(a: String, b: String): Double =
    Seq((a, b)).toDF("a", "b")
      .select(StringSim.jaroWinkler(col("a"), col("b")).as("jw"))
      .head.getDouble(0)

  test("golden values match the classic Jaro–Winkler definition (DuckDB-checked)") {
    // Each expected value verified against DuckDB's
    // jaro_winkler_similarity (the oracle engine) to 10 decimals.
    assert(math.abs(jwOf("MARTHA", "MARHTA") - 0.9611111111) < 1e-9)
    assert(math.abs(jwOf("DIXON", "DICKSONX") - 0.8133333333) < 1e-9)
    assert(math.abs(jwOf("JELLYFISH", "SMELLYFISH") - 0.8962962963) < 1e-9)
    assert(math.abs(jwOf("CRATE", "TRACE") - 0.7333333333) < 1e-9)
    assert(math.abs(jwOf("hello world", "hello wrold") - 0.9818181818) < 1e-9)
    assert(jwOf("abc", "abc") == 1.0)
    // ODD out-of-order count: 3 mismatched matched positions floor to
    // t=1 (strcmp95/DuckDB convention), not 1.5 — the divergence the
    // round-12 sf1 oracle gate caught on 2% of supplier pairs.
    // j = (1 + 1 + 17/18)/3, then the full 4-char prefix boost.
    assert(math.abs(jwOf("Sughlier#000000768", "Sughlier#000000876")
      - 0.9888888889) < 1e-9)
  }

  test("boost threshold: no Winkler boost at jaro <= 0.7") {
    // "ax"/"ay": jaro = 2/3 with a 1-char common prefix — a boosted
    // implementation returns 0.7, the classic-threshold one 2/3.
    assert(math.abs(jwOf("ax", "ay") - 2.0 / 3.0) < 1e-9)
    // Well above the threshold the boost applies (prefix capped at 4).
    assert(math.abs(jwOf("aaaaaaaaab", "aaaaaaaaba") - 0.98) < 1e-9)
  }

  test("degenerate inputs: empty strings and zero matches score 0") {
    assert(jwOf("", "") == 0.0)
    assert(jwOf("abc", "") == 0.0)
    assert(jwOf("a", "b") == 0.0)
    // window 0 at length 2: transposed pair has no in-window match
    assert(jwOf("ab", "ba") == 0.0)
  }

  test("null propagates") {
    val r = Seq(("x", Option.empty[String])).toDF("a", "b")
      .select(StringSim.jaroWinkler(col("a"), col("b")).as("jw"))
      .head
    assert(r.isNullAt(0))
  }

  test("SQL registration: jaro_winkler callable from spark.sql") {
    SqlFunctions.registerAll(spark)
    val r = spark.sql("SELECT jaro_winkler('MARTHA', 'MARHTA') AS jw").head.getDouble(0)
    assert(math.abs(r - 0.9611111111) < 1e-9)
  }

  test("blocking (length bands ∧ rare-char prefix filter) is lossless vs brute force") {
    // Several regimes: tiny alphabet (duplicate-heavy sorted multisets —
    // the prefix-filter tie edge), wider alphabet, skewed char
    // frequencies, and two thresholds including the τ=0.9 soundness
    // boundary of the length band.
    val cases = Seq(
      (7, 3, 12, 0.90), (11, 3, 12, 0.95), (13, 8, 10, 0.90),
      (29, 5, 16, 0.93))
    for ((seed, alpha, maxLen, tau) <- cases) {
      val rnd = new Random(seed)
      val rows = (1 to 120).map { i =>
        val len = 1 + rnd.nextInt(maxLen)
        // skew: char 'a' twice as likely — uneven corpus frequencies
        (i.toLong, (0 until len).map { _ =>
          val r = rnd.nextInt(alpha + 1)
          ('a' + (if (r == alpha) 0 else r)).toChar
        }.mkString)
      }
      val df = rows.toDF("id", "s")

      val blocked = JaroJoin.join(df, df, "id", "s", tau, selfJoin = true)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet

      val a = df.select(col("id").as("a_id"), col("s").as("a_s"))
      val b = df.select(col("id").as("b_id"), col("s").as("b_s"))
      val brute = a.crossJoin(b)
        .where(col("a_id") < col("b_id") &&
          StringSim.jaroWinkler(col("a_s"), col("b_s")) >= tau)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet

      assert(brute.nonEmpty, s"case $seed: fixture must produce qualifying pairs")
      assert(blocked == brute, s"case ($seed,$alpha,$maxLen,$tau): " +
        s"missing=${(brute -- blocked).take(5)} extra=${(blocked -- brute).take(5)}")
    }
  }

  test("multiset tier (τ ≥ 0.97): deletion-neighborhood blocking is lossless vs brute force") {
    // Regimes: near-identical corpora (where the prefix filter
    // degenerates — the sf10 q_jaro_join finding), planted variants
    // (substitution / adjacent transposition / append), d=2 lengths
    // (l ≈ 32), and lengths past the classOk cap (l > 32 → the prefix
    // fallback union path). Both thresholds of the tier.
    val cases = Seq((3, 10, 0.97), (17, 30, 0.97), (23, 36, 0.98))
    for ((seed, baseLen, tau) <- cases) {
      val rnd = new Random(seed)
      val rows = scala.collection.mutable.ArrayBuffer[(Long, String)]()
      var id = 0L
      (1 to 25).foreach { _ =>
        val len = math.max(3, baseLen - 2 + rnd.nextInt(5))
        val base = (0 until len).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
        def add(s: String): Unit = { id += 1; rows += ((id, s)) }
        add(base)
        val i = rnd.nextInt(len - 1)
        add(base.updated(i, ('a' + rnd.nextInt(6)).toChar)) // substitution
        add(base.substring(0, i) + base(i + 1) + base(i) + base.substring(i + 2)) // transposition
        add(base + ('a' + rnd.nextInt(6)).toChar) // length+1 variant
      }
      val df = rows.toSeq.toDF("id", "s")
      val blocked = JaroJoin.join(df, df, "id", "s", tau, selfJoin = true)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      val a = df.select(col("id").as("a_id"), col("s").as("a_s"))
      val b = df.select(col("id").as("b_id"), col("s").as("b_s"))
      val brute = a.crossJoin(b)
        .where(col("a_id") < col("b_id") &&
          StringSim.jaroWinkler(col("a_s"), col("b_s")) >= tau)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      assert(brute.nonEmpty, s"case $seed: fixture must produce qualifying pairs")
      assert(blocked == brute, s"case ($seed,$baseLen,$tau): " +
        s"missing=${(brute -- blocked).take(5)} extra=${(blocked -- brute).take(5)}")
    }
  }

  test("multiset tier plans as a hash equi-join — no nested-loop product") {
    val df = Seq((1L, "alpha"), (2L, "alphb"), (3L, "beta")).toDF("id", "s")
    val plan = JaroJoin.join(df, df, "id", "s", tau = 0.97, selfJoin = true)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"candidate generation must be an equi-join:\n$plan")
  }

  test("blocked join plans as a hash equi-join — no nested-loop product") {
    val df = Seq((1L, "alpha"), (2L, "alphb"), (3L, "beta")).toDF("id", "s")
    val plan = JaroJoin.join(df, df, "id", "s", tau = 0.95, selfJoin = true)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"candidate generation must be an equi-join:\n$plan")
  }

  test("tau below 0.9 is rejected (blocking would not be lossless)") {
    val df = Seq((1L, "ab")).toDF("id", "s")
    intercept[IllegalArgumentException] {
      JaroJoin.join(df, df, "id", "s", tau = 0.8)
    }
  }
}
