package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Chat-template rendering (X237) — the SFT-side example assembler: an
  * interaction log becomes one rendered multi-turn training example per
  * conversation, in a fixed special-token template
  * (`<|system|>…<|user|>…<|assistant|>…`), truncated to a turn budget.
  * The string-assembly half of what X45 does for token budgets: every
  * fine-tuning pipeline ends in exactly this deterministic
  * rows→rendered-example collapse, and the rendered bytes are the
  * artifact (tokenizer input), so they are pinned byte-exact via md5.
  *
  * Conversation model on the fixture: each `user_id`'s event stream in
  * `(ts, event_id)` order is one conversation; roles alternate
  * user/assistant by turn parity; turn content is
  * `event_type#event_id` (ints and enums only — no float or timestamp
  * FORMATTING enters the rendered bytes, so Spark and DuckDB render
  * identical strings). Truncation keeps the first `maxTurns` turns — the
  * context-budget head, like X45's capacity cut.
  *
  * Scale shape: one shuffle by conversation key, then a per-conversation
  * `row_number` window and one combinable string aggregate. Partitions
  * are conversation-sized (bounded by per-user activity, thousands of
  * conversations per executor core at 100 TB) — many tiny windows, the
  * opposite of the X62 single-partition trap. Rendered examples are
  * turn-budget-bounded, so no row ever exceeds ~`maxTurns` turn strings.
  */
object Chat extends graft.QueryModule {
  /** Turn budget per rendered example (the context-window head). */
  val maxTurns = 12

  val queries: Map[String, Q] = Map(
    "q_chat_render" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val turns = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= maxTurns)
        .select(col("user_id"), col("rk"),
          concat(lit("<|"),
            when(col("rk") % 2 === 1, "user").otherwise("assistant"),
            lit("|>"), col("event_type"), lit("#"),
            col("event_id").cast("string")).as("turnstr"))
      turns.groupBy("user_id")
        .agg(count(lit(1)).as("n_turns"),
          concat(lit("<|system|>graft\n"),
            array_join(
              transform(array_sort(collect_list(struct(col("rk"), col("turnstr")))),
                t => t.getField("turnstr")),
              "\n")).as("rendered"))
        .select(col("user_id"), col("n_turns"),
          length(col("rendered")).cast("long").as("n_chars"),
          md5(col("rendered")).as("render_md5"))
        .orderBy("user_id")
    }),
  )

  val oracles: Map[String, String] = Map(
    "q_chat_render" ->
      s"""WITH turns AS (
         |  SELECT user_id,
         |         row_number() OVER (PARTITION BY user_id
         |                            ORDER BY ts, event_id) AS rk,
         |         event_type, event_id
         |  FROM events),
         |kept AS (
         |  SELECT user_id, rk,
         |         '<|' || CASE WHEN rk % 2 = 1 THEN 'user' ELSE 'assistant' END ||
         |         '|>' || event_type || '#' || CAST(event_id AS VARCHAR) AS turnstr
         |  FROM turns WHERE rk <= $maxTurns),
         |rendered AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_turns,
         |         '<|system|>graft' || chr(10) ||
         |         string_agg(turnstr, chr(10) ORDER BY rk) AS r
         |  FROM kept GROUP BY user_id)
         |SELECT user_id, n_turns, CAST(len(r) AS BIGINT) AS n_chars,
         |       md5(r) AS render_md5
         |FROM rendered ORDER BY user_id""".stripMargin,
  )
}
