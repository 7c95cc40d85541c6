package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gender prediction — the reference's one custom ML operator (SURVEY §2.3 F1;
  * reference `scripts/script_api_apify_to_spark.py:18-78`).
  *
  * Decision table (exact port of `:28-69`):
  *   - full_name non-blank → first whitespace token; dict category
  *     male/mostly_male → ("male", 0.9); female/mostly_female →
  *     ("female", 0.9); andy/unknown → ("unknown", 0.5). Blank → ("unknown", 0.0).
  *   - username non-blank → strip to `[A-Za-z]` (`:46`); if non-empty after
  *     cleaning, same collapse at 0.7, else-category 0.4; cleaned-empty 0.0.
  *     Blank → ("unknown", 0.0).
  *   - winner: full_name prediction iff conf_full >= conf_user (`:66-69`).
  *
  * Two tiers:
  *   - Tier 1 `gender_udf`: a Scala UDF returning the reference's nested
  *     struct (predicted_gender, confidence float). Deterministic, but opaque
  *     to Catalyst — kept for API fidelity.
  *   - Tier 2 `withGender` (preferred): one exact-match lookup of the
  *     normalized first token and the cleaned username in the immutable
  *     [[NamesDict.resolvedEntries]] + pure Column CASE logic. No join and no
  *     broadcast: the dictionary ships with the code, so a call plans no
  *     extra job, pushdown survives, and at 100 TB the JVM hash lookup
  *     replaces a per-row JVM⇄interpreter boundary (the reference's
  *     BatchEvalPython, its #1 scale bottleneck — SURVEY §3.1). A miss or a
  *     null key yields null, exactly what the left join against the
  *     dictionary gave (the DuckDB oracle still states it as that join).
  */
object Gender {

  /** Reference struct result (`:72-78`); confidence FloatType for fidelity. */
  case class GenderInfo(predicted_gender: String, confidence: Float)

  /** Tier-1 pure function — the exact reference decision table. */
  def guess(fullName: String, username: String): GenderInfo = {
    val (gF, cF) =
      if (fullName != null && fullName.trim.nonEmpty) {
        val first = fullName.trim.split("\\s+")(0)
        NamesDict.lookup(first) match {
          case "male" | "mostly_male" => ("male", 0.9f)
          case "female" | "mostly_female" => ("female", 0.9f)
          case _ => ("unknown", 0.5f)
        }
      } else ("unknown", 0.0f)
    val (gU, cU) =
      if (username != null && username.trim.nonEmpty) {
        val cleaned = username.replaceAll("[^A-Za-z]", "")
        if (cleaned.nonEmpty) NamesDict.lookup(cleaned) match {
          case "male" | "mostly_male" => ("male", 0.7f)
          case "female" | "mostly_female" => ("female", 0.7f)
          case _ => ("unknown", 0.4f)
        } else ("unknown", 0.0f)
      } else ("unknown", 0.0f)
    if (cF >= cU) GenderInfo(gF, cF) else GenderInfo(gU, cU)
  }

  /** Tier-1 UDF returning the nested struct, as the reference applies it. */
  val genderUdf = udf((fullName: String, username: String) => guess(fullName, username))

  private def isBlank(c: Column): Column = c.isNull || trim(c) === ""

  /** Column twin of [[NamesDict.normalizeKey]]: NFC composition (via the
    * X43 native expression) plus default-ignorable stripping. Applied to
    * the full-name token before the dictionary lookup so both tiers (and
    * the SQL oracle, which mirrors this with DuckDB's `nfc_normalize`)
    * resolve diacritic names identically. The username path is NOT
    * normalized — the reference's `[^A-Za-z]` cleaning already strips
    * every non-ASCII character (`:46`), and parity wins there.
    */
  private def normKey(c: Column): Column =
    regexp_replace(graft.functions.TextNorm.nfc_norm(c),
      "[\\u00AD\\u200B-\\u200D\\uFEFF]", "")

  /** The dictionary category of an already-normalized key: an exact `get`
    * in [[NamesDict.resolvedEntries]], null on a miss or a null key.
    */
  private val category = udf((key: String) => NamesDict.resolvedEntries.getOrElse(key, null))

  /** Tier-2 form: adds predicted_gender + confidence (double) columns to
    * `df`, which must carry `full_name` and `username` string columns.
    */
  def withGender(s: SparkSession, df: DataFrame): DataFrame = {
    val featured = df
      .withColumn("first_token",
        when(!isBlank(col("full_name")),
          normKey(regexp_extract(trim(col("full_name")), "^\\S+", 0))))
      .withColumn("cleaned_username",
        when(!isBlank(col("username")), regexp_replace(col("username"), "[^A-Za-z]", "")))
      .withColumn("g_full", category(col("first_token")))
      .withColumn("g_user", category(col("cleaned_username")))

    val confFull = when(col("first_token").isNull, 0.0)
      .when(col("g_full").isin("male", "mostly_male", "female", "mostly_female"), 0.9)
      .otherwise(0.5)
    val genderFull = when(col("g_full").isin("male", "mostly_male"), "male")
      .when(col("g_full").isin("female", "mostly_female"), "female")
      .otherwise("unknown")
    val confUser = when(col("cleaned_username").isNull || col("cleaned_username") === "", 0.0)
      .when(col("g_user").isin("male", "mostly_male"), 0.7)
      .when(col("g_user").isin("female", "mostly_female"), 0.7)
      .otherwise(0.4)
    val genderUser = when(col("g_user").isin("male", "mostly_male"), "male")
      .when(col("g_user").isin("female", "mostly_female"), "female")
      .otherwise("unknown")

    featured
      .withColumn("predicted_gender",
        when(confFull >= confUser,
          when(confFull === 0.0, "unknown").otherwise(genderFull))
          .otherwise(when(confUser === 0.0, "unknown").otherwise(genderUser)))
      .withColumn("confidence", when(confFull >= confUser, confFull).otherwise(confUser))
      .drop("first_token", "cleaned_username", "g_full", "g_user")
  }

  // --- Deterministic decision-table profiles (FIXTURES.md §3) shared by the
  // --- Spark queries and the generated DuckDB oracle.

  /** (id, full_name, username) — covers every row of the decision table. */
  val profiles: Seq[(Int, String, String)] = Seq(
    (1, "James Smith", "whatever123"),       // clear male full_name → (male, 0.9)
    (2, "Mary Jones", "x"),                  // clear female → (female, 0.9)
    (3, "Robin Banks", "bob123"),            // andy full, unknown user → (unknown, 0.5)
    (4, "", "John..!!"),                     // empty full, clear cleaned user → (male, 0.7)
    (5, "", "12345"),                        // cleans to empty → (unknown, 0.0)
    (6, null, null),                         // both absent → (unknown, 0.0)
    (7, "   ", "  "),                        // whitespace-only both → (unknown, 0.0)
    (8, "Zxqy Blorp", "Mary_01"),            // unknown 0.5 vs clear user 0.7 → (female, 0.7)
    (9, "Alex Morgan", "James5"),            // andy 0.5 vs male user 0.7 → (male, 0.7)
    (10, "mary lowercase", "x1"),            // case-sensitive miss → (unknown, 0.5)
    (11, "Kim Possible", "x"),               // mostly_female → (female, 0.9)
    (12, "Andrea Rossi", "x"),               // andy → (unknown, 0.5)
    (13, "  Bob   Marley ", "z9"),           // messy whitespace → (male, 0.9)
    (14, "Chris P", "Lisa!!"),               // mostly_male 0.9 beats female user 0.7
    (15, null, "Emma__"),                    // null full, clear user → (female, 0.7)
    (17, null, "Emma_x"),                    // cleans to "Emmax": dict miss → (unknown, 0.4)
    (16, "Pat", "Pat"),                      // andy 0.5 >= andy-user 0.4 → (unknown, 0.5)
    // I18N rows (round-6): native diacritic entries + NFC/ignorable
    // normalization. 19 is DECOMPOSED (e + combining acute) and must
    // equal composed José; 20 smuggles a soft hyphen; 24 pins the
    // boundary — inputs are never accent-stripped, so an unlisted
    // diacritic spelling stays unknown; 25 pins the reference's
    // username regex eating the é ("Renée88" cleans to "Rene").
    (18, "José García", "x"),                // native diacritic → (male, 0.9)
    (19, "José Morales", "x"),         // decomposed → NFC José → (male, 0.9)
    (20, "Jose\u00ADphine Baker", "x"),      // soft hyphen out → Josephine → (female, 0.9)
    (21, "María López", "x"),                // native diacritic → (female, 0.9)
    (22, "Zoë Deschanel", "x"),              // native diacritic → (female, 0.9)
    (23, "Sören Holm", "x"),                 // native diacritic → (male, 0.9)
    (24, "Dávid Kovács", "x"),               // no input folding → (unknown, 0.5)
    (25, "", "Renée88"))                     // cleans to "Rene" → (male, 0.7)

  def profilesDF(s: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      profiles.map { case (i, f, u) => org.apache.spark.sql.Row(i, f, u) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("full_name", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("username", org.apache.spark.sql.types.StringType))))
  }

  private def sqlStr(v: String): String =
    if (v == null) "NULL" else "'" + v.replace("'", "''") + "'"

  /** `dict(first_name, gender)` CTE body generated from [[NamesDict]], so the
    * oracle's dictionary can never drift from the engine's.
    */
  def dictCte: String = {
    val dictValues = NamesDict.sortedEntries
      .map { case (n, g) => s"(${sqlStr(n)}, ${sqlStr(g)})" }.mkString(", ")
    s"dict(first_name, gender) AS (VALUES $dictValues)"
  }

  /** `profiles(id, full_name, username)` CTE body over [[profiles]]. */
  def profilesCte: String = {
    val profileValues = profiles
      .map { case (i, f, u) => s"($i, ${sqlStr(f)}, ${sqlStr(u)})" }.mkString(", ")
    s"profiles(id, full_name, username) AS (VALUES $profileValues)"
  }

  /** Scored gender projection over relation `rel`, which must expose
    * `full_name` and `username`; `passCols` are carried through verbatim.
    * Emitted as nested derived tables (no named CTEs) so the fragment can be
    * spliced into any larger query — the composed-pipeline oracle
    * (q_pipeline_e2e) reuses the identical gender semantics this way.
    * Requires a `dict` CTE (see [[dictCte]]) in scope.
    */
  def genderedSelect(rel: String, passCols: String): String =
    s"""SELECT $passCols,
       |  CASE WHEN conf_full >= conf_user THEN
       |         CASE WHEN conf_full = 0.0 THEN 'unknown'
       |              WHEN g_full IN ('male','mostly_male') THEN 'male'
       |              WHEN g_full IN ('female','mostly_female') THEN 'female'
       |              ELSE 'unknown' END
       |       ELSE
       |         CASE WHEN conf_user = 0.0 THEN 'unknown'
       |              WHEN g_user IN ('male','mostly_male') THEN 'male'
       |              WHEN g_user IN ('female','mostly_female') THEN 'female'
       |              ELSE 'unknown' END END AS predicted_gender,
       |  CAST(CASE WHEN conf_full >= conf_user THEN conf_full ELSE conf_user END AS DOUBLE) AS confidence
       |FROM (SELECT f.*, d1.gender AS g_full, d2.gender AS g_user,
       |  CASE WHEN f.first_token IS NULL THEN CAST(0.0 AS DOUBLE)
       |       WHEN d1.gender IN ('male','mostly_male','female','mostly_female') THEN 0.9
       |       ELSE 0.5 END AS conf_full,
       |  CASE WHEN f.cleaned IS NULL OR f.cleaned = '' THEN CAST(0.0 AS DOUBLE)
       |       WHEN d2.gender IN ('male','mostly_male','female','mostly_female') THEN 0.7
       |       ELSE 0.4 END AS conf_user
       |  FROM (SELECT $passCols,
       |    CASE WHEN full_name IS NOT NULL AND trim(full_name) <> ''
       |         THEN regexp_replace(nfc_normalize(regexp_extract(trim(full_name), '^\\S+', 0)),
       |                             '[\\x{00AD}\\x{200B}-\\x{200D}\\x{FEFF}]', '', 'g') END AS first_token,
       |    CASE WHEN username IS NOT NULL AND trim(username) <> ''
       |         THEN regexp_replace(username, '[^A-Za-z]', '', 'g') END AS cleaned
       |    FROM $rel) f
       |  LEFT JOIN dict d1 ON f.first_token = d1.first_name
       |  LEFT JOIN dict d2 ON f.cleaned = d2.first_name) scored""".stripMargin

  /** DuckDB oracle generated from the same Scala data, so dict and profiles
    * can never drift from the engine's — [[profilesCte]] + [[dictCte]] +
    * [[genderedSelect]] recomposed.
    */
  def oracleSql: String =
    s"""WITH ${profilesCte},
       |${dictCte}
       |${genderedSelect("profiles", "id, full_name, username")}
       |ORDER BY id""".stripMargin
}
