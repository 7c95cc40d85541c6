package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Harness queries for F1 (SURVEY §2.3): both tiers over the decision-table
  * profiles, each with the generated DuckDB oracle. The two tiers implement
  * the same function, so they share it.
  */
object GenderQueries extends graft.QueryModule {
  val queries: Map[String, Q] = Map(
    // Tier 1: reference-shaped UDF → nested struct → flatten (reference
    // script_api_apify_to_spark.py:174-178).
    "q_gender_struct" -> ((s, _) =>
      Gender.profilesDF(s)
        .withColumn("gender_info", Gender.genderUdf(col("full_name"), col("username")))
        .withColumn("predicted_gender", col("gender_info.predicted_gender"))
        // float 0.9f widens to 0.89999997… as double; round-trip through
        // DECIMAL(2,1) so the value matches the oracle's exact 0.9.
        .withColumn("confidence",
          col("gender_info.confidence").cast("decimal(2,1)").cast("double"))
        .drop("gender_info")
        .orderBy("id")),

    // Tier 2: dictionary lookup + CASE form — no join, codegen'd; the
    // oracle states it as the dictionary join it equals.
    "q_gender_join" -> ((s, _) =>
      Gender.withGender(s, Gender.profilesDF(s))
        .select("id", "full_name", "username", "predicted_gender", "confidence")
        .orderBy("id"))
  )

  val oracles: Map[String, String] = Map(
    "q_gender_struct" -> Gender.oracleSql,
    "q_gender_join" -> Gender.oracleSql
  )
}
