package perfbench

import scala.collection.mutable

import graft.SparkEntry

/** `query_mix`: a fixed, committed list of the heaviest warm inventory
  * queries from the operator packages, over fixed generated tables. The
  * seed sets the query order within each pass; each timed query runs into
  * the noop sink, so every column it computes is evaluated. One untimed
  * pass in set-up fills the JVM memos and writes each result for the
  * DuckDB oracle compare that run.py makes after the run.
  */
object QueryMix {
  def run(c: Main.Ctx): Main.Result = {
    val spark = c.spark
    val data = c.args("data")
    val mix = scala.io.Source.fromFile(c.args("mix")).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")).map(p => p(0) -> p(1)).toSeq
    val queries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    mix.foreach { case (q, _) =>
      require(queries.contains(q), s"query_mix: $q is not in SparkEntry.queries")
      require(oracles.contains(q), s"query_mix: $q has no SparkEntry.oracleSql twin")
    }
    val rng = new scala.util.Random(c.seed)
    val outDir = s"${c.scratch}/query_out"

    // set-up pass: cold, fills the memos, and writes each result once
    val warmT0 = c.spans.nowMs
    val cold = mutable.LinkedHashMap.empty[String, Double]
    rng.shuffle(mix).foreach { case (q, pkg) =>
      val t0 = c.spans.nowMs
      c.spans(q, "warm") { _ =>
        queries(q)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
      }
      cold(q) = Main.since(c.spans, t0)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      Json(mix.map { case (q, _) => q -> oracles(q) }.toMap).getBytes("UTF-8"))
    val warmS = Main.since(c.spans, warmT0)

    val began = c.spans.nowMs
    val rounds = mutable.ArrayBuffer.empty[Double]
    val warm = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    // two passes: the JIT is still compiling during the first, so one
    // pass alone spreads widely from run to run
    while (Main.measuring(c, began, rounds.size, minRounds = 2)) {
      val t0 = System.nanoTime()
      c.spans(s"pass ${rounds.size}", "pass") { _ =>
        rng.shuffle(mix).foreach { case (q, pkg) =>
          val t0 = c.spans.nowMs
          c.ops.timed("query", c.spans, q) { a =>
            a("package") = pkg
            queries(q)(spark, data).write.format("noop").mode("overwrite").save()
          }
          warm.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += Main.since(c.spans, t0)
        }
      }
      rounds += (System.nanoTime() - t0) / 1e9
    }
    Main.Result(c.args.getOrElse("input_gen_s", "0").toDouble, warmS, began, rounds.toSeq,
      Map("out_dir" -> outDir, "cold_s" -> cold,
        "warm_s" -> warm.map { case (q, xs) => q -> Main.median(xs.toSeq) }))
  }
}
