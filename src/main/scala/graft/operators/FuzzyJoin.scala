package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Fuzzy applicant↔company similarity join (SURVEY.md §2.3 J6;
  * reference applicant_processor.py:200-266, applicant_pipeline.py:40-41).
  *
  * The reference bounds the O(N·M) pair space with a per-applicant API
  * name search (20 candidates); the scale-correct Spark restatement is a
  * token-overlap blocking join: explode rare name tokens, equi-join on
  * token, dedupe pairs — candidates shrink from N·M to pairs sharing at
  * least one informative token, and the join shuffles by token instead of
  * broadcasting anything unbounded. Score tiers and thresholds follow the
  * reference: exact / suffix-normalized ≥0.95 / token-Jaccard ≥0.7 /
  * fuzzy ≥0.8, confidence floor 0.7, top-k per applicant.
  */
object FuzzyJoin {

  /** Normalized-Levenshtein similarity in [0,1] — the engine's F6.
    * The reference uses difflib.SequenceMatcher.ratio (Ratcliff-Obershelp);
    * that exact algorithm is provided as `roRatio`/UDF for parity tests,
    * while the plan-level scorer uses this codegen-friendly built-in
    * (documented semantic substitution, SURVEY §7.3 — thresholds hold for
    * both on the reference's calibration pairs). */
  def levSimilarity(a: Column, b: Column): Column =
    graft.plans.LevenshteinSimilarity.levSimilarity(a, b)

  /** Ratcliff-Obershelp ratio, difflib-compatible (recursive longest
    * common substring). Scala implementation for exact reference parity;
    * register with `registerRoRatio` to use from SQL/Columns. */
  def roRatio(a: String, b: String): Double = {
    if (a == null || b == null) return 0.0
    if (a.isEmpty && b.isEmpty) return 1.0
    def matches(al: Int, ah: Int, bl: Int, bh: Int): Int = {
      // longest common substring within the window
      var best = 0; var bestA = al; var bestB = bl
      val dp = Array.ofDim[Int](ah - al + 1, bh - bl + 1)
      var i = al
      while (i < ah) {
        var j = bl
        while (j < bh) {
          if (a.charAt(i) == b.charAt(j)) {
            val v = dp(i - al)(j - bl) + 1
            dp(i - al + 1)(j - bl + 1) = v
            if (v > best) { best = v; bestA = i - v + 1; bestB = j - v + 1 }
          }
          j += 1
        }
        i += 1
      }
      if (best == 0) 0
      else best + matches(al, bestA, bl, bestB) +
        matches(bestA + best, ah, bestB + best, bh)
    }
    2.0 * matches(0, a.length, 0, b.length) / (a.length + b.length)
  }

  /** Register roRatio as the SQL/Column UDF `ro_ratio`. */
  def registerRoRatio(spark: SparkSession): Unit =
    spark.udf.register("ro_ratio", (a: String, b: String) => roRatio(a, b))

  /** Blocking tokens: the precomputed name tokens minus ubiquitous words —
    * blocking on a token every row shares would degenerate to a cross
    * join. `commonTokens` plays the role of a df-computed stoplist. */
  private def blockingTokens(tokens: Column, commonTokens: Seq[String]): Column =
    if (commonTokens.isEmpty) tokens
    else array_except(tokens, array(commonTokens.map(lit): _*))

  /** The "no silent caps" instrument for [[matchNames]]'s maxTokenDf
    * stoplist: one row per DROPPED hot token with its company-side df,
    * applicant-side df, and the candidate pairs (a_df · c_df) the cap
    * eliminated — what the operator traded for a bounded candidate
    * stage, surfaced instead of silent (the a43 basket-cap
    * discipline). Cost: two token-df aggregates, output ∝ hot tokens
    * (tiny by construction). */
  def droppedPairReport(applicants: DataFrame, companies: DataFrame,
      applicantName: String, companyName: String,
      commonTokens: Seq[String], maxTokenDf: Long): DataFrame = {
    val aDf = applicants.select(explode(blockingTokens(
        TextFunctions.nameTokens(col(applicantName)), commonTokens))
        .as("token"))
      .groupBy("token").agg(count(lit(1)).as("a_df"))
    val cDf = companies.select(explode(blockingTokens(
        TextFunctions.nameTokens(col(companyName)), commonTokens))
        .as("token"))
      .groupBy("token").agg(count(lit(1)).as("c_df"))
    cDf.filter(col("c_df") > maxTokenDf)
      .join(aDf, Seq("token"), "left_outer")
      .withColumn("a_df", coalesce(col("a_df"), lit(0L)))
      .withColumn("dropped_pairs", col("a_df") * col("c_df"))
      .select("token", "a_df", "c_df", "dropped_pairs")
  }

  /** The similarity join.
    *
    * @param applicants (idCol, nameCol) — left side
    * @param companies  (idCol, nameCol) — right side
    * @param minConfidence floor (reference: 0.7)
    * @param topK matches kept per applicant (reference: 3)
    * @param commonTokens tokens excluded from blocking (corpus-ubiquitous,
    *                     caller-known)
    * @param maxTokenDf data-computed stoplist: tokens whose company-side
    *                   document frequency exceeds this are dropped from
    *                   blocking (a token half the corpus shares would
    *                   degenerate the candidate join toward a product —
    *                   the fuzzy-join analog of the LSH hot-bucket cap).
    *                   Pairs whose ONLY shared token is that frequent are
    *                   missed by design; at such frequency the token
    *                   carries no matching signal.
    * @param difflibParity score with the reference's exact
    *                   SequenceMatcher.ratio (roRatio UDF — interpreted,
    *                   not codegen) instead of the default normalized-
    *                   Levenshtein substitute. Same tiers/thresholds;
    *                   candidate blocking is identical, so the cost delta
    *                   is per-candidate scoring only. Use when migrating
    *                   outputs must agree with the reference row-for-row.
    */
  def matchNames(applicants: DataFrame, companies: DataFrame,
      applicantId: String, applicantName: String,
      companyId: String, companyName: String,
      minConfidence: Double = 0.7, topK: Int = 3,
      commonTokens: Seq[String] = Nil,
      maxTokenDf: Long = Long.MaxValue,
      difflibParity: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    // normalize/tokenize once per input row — every derived column the
    // scorer needs rides along the candidate join instead of re-running
    // the regex chains per candidate pair
    val a = applicants.select(
      col(applicantId).as("applicant_id"),
      col(applicantName).as("applicant_name"),
      TextFunctions.normalizeName(col(applicantName)).as("a_norm"),
      TextFunctions.normalizeName(
        TextFunctions.removeCompanySuffixes(col(applicantName))).as("a_base"),
      TextFunctions.nameTokens(col(applicantName)).as("a_tokens"))
    val c = companies.select(
      col(companyId).as("company_id"),
      col(companyName).as("company_name"),
      TextFunctions.normalizeName(col(companyName)).as("c_norm"),
      TextFunctions.normalizeName(
        TextFunctions.removeCompanySuffixes(col(companyName))).as("c_base"),
      TextFunctions.nameTokens(col(companyName)).as("c_tokens"))

    val aTok = a.select(col("applicant_id"),
      explode(blockingTokens(col("a_tokens"), commonTokens)).as("token"))
    val cTok = c.select(col("company_id"),
      explode(blockingTokens(col("c_tokens"), commonTokens)).as("token"))
    // df-computed stoplist: the hot-token set is tiny by construction, so
    // the anti-join broadcasts (map-side count → filter → broadcast)
    val (aTokB, cTokB) =
      if (maxTokenDf == Long.MaxValue) (aTok, cTok)
      else {
        val hot = cTok.groupBy("token").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxTokenDf).select("token")
        (aTok.join(broadcast(hot), Seq("token"), "left_anti"),
          cTok.join(broadcast(hot), Seq("token"), "left_anti"))
      }
    val cand = aTokB.join(cTokB, "token")
      .select("applicant_id", "company_id").distinct()

    val fuzzyScore: (Column, Column) => Column =
      if (difflibParity) {
        val ro = udf((x: String, y: String) => roRatio(x, y))
        (x, y) => ro(x, y)
      } else levSimilarity
    // token_sim/fuzzy_sim behind EvalOnce: the confidence floor would
    // otherwise land in the company join's CONDITION, inlining
    // tokenJaccard's array_intersect ~20× and the Levenshtein scorer 5×
    // per candidate row
    val scored = cand.join(a, "applicant_id").join(c, "company_id")
      .withColumn("s", EvalOnce(struct(
        TextFunctions.tokenJaccard(col("a_tokens"), col("c_tokens"))
          .as("token_sim"),
        fuzzyScore(col("a_base"), col("c_base")).as("fuzzy_sim"))))
      .withColumn("token_sim", col("s.token_sim"))
      .withColumn("fuzzy_sim", col("s.fuzzy_sim"))
      .drop("s")
      .withColumn("method",
        when(col("a_norm") === col("c_norm"), "exact")
          .when(col("a_base") === col("c_base"), "suffix_normalized")
          .when(col("token_sim") >= 0.7, "token")
          .when(col("fuzzy_sim") >= 0.8, "fuzzy")
          .otherwise(lit(null)))
      .withColumn("confidence",
        when(col("method") === "exact", 1.0)
          .when(col("method") === "suffix_normalized", 0.95)
          .when(col("method") === "token", col("token_sim"))
          .when(col("method") === "fuzzy", col("fuzzy_sim")))
      .filter(col("confidence") >= minConfidence)

    val w = Window.partitionBy("applicant_id")
      .orderBy(col("confidence").desc, col("company_id"))
    scored.withColumn("match_rank", row_number().over(w))
      .filter(col("match_rank") <= topK)
      .select("applicant_id", "applicant_name", "company_id", "company_name",
        "method", "confidence", "match_rank")
  }
}
