package graft.operators

import graft.sources.VersionedStore
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PortableLn

/** Differentially private releases of grouped aggregates — the Laplace
  * mechanism (Dwork et al. 2006) run as ordinary Catalyst plans.
  *
  * Production DP pipelines draw noise from a KEYED PRF, not an RNG: a
  * resumable job must re-release the IDENTICAL value on retry (fresh
  * noise per attempt would average away under repeated observation,
  * silently spending privacy budget). The PRF here is the stable
  * 56-bit md5 hash over (SECRET ‖ seed ‖ label):
  *
  *  - the SECRET is a deployment credential (pass
  *    [[secretFromConf]]'s value in production — a Spark conf entry,
  *    an env var, a vault read; NEVER persisted next to the release).
  *    Without it the noise would be a pure function of public inputs
  *    — the group key and the release label, both visible to any
  *    consumer — and anyone could recompute (ln u1 − ln u2)/ε per
  *    group and subtract the noise off the release exactly
  *    (round-12 ADVICE, high). Tests and oracle replays inject a
  *    known test-only secret so cross-engine exactness still holds;
  *    a real deployment's secret never leaves its config.
  *  - the SEED length-prefixes every key value (`len:value` per key,
  *    concatenated), so distinct key tuples can never share a seed —
  *    plain concatenation would give ("ab","c") and ("a","bc")
  *    identical noise, enabling exact differencing between those
  *    groups (round-12 ADVICE, low).
  *
  * Replay the label and the release is bit-identical; change the
  * label and the noise is fresh. That determinism is also what makes
  * the mechanism ORACLE-CHECKABLE: DuckDB replays the hash, the
  * bit-portable ln chain, and the same IEEE arithmetic, so the noisy
  * release hashes exactly.
  *
  * Noise: (ln u1 − ln u2) with u1, u2 independent keyed uniforms is
  * the difference of two Exp(1) draws = a standard Laplace(1) sample —
  * no |·|/sign branch, and both logs stay in PortableLn's exact
  * domain because u ∈ [2⁻⁴⁰, 1) by construction.
  *
  * Scale shape: everything is one map-side-combined groupBy (dpSum
  * adds the per-user contribution cap + clamp aggregates first — the
  * sensitivity bound); the noise is a per-GROUP projection, so its
  * cost is ∝ groups, never rows.
  */
object Privacy {

  /** Low-40-bit uniform modulus: hash56 % 2^40 keeps u away from the
    * subnormal edge of PortableLn's (2⁻⁵³, 2⁵⁴) exact domain while
    * leaving 2⁴⁰ distinct noise values — far below the 1e-6 release
    * grid. */
  val U40: Long = 1L << 40

  /** The production path for the PRF secret: a session-conf entry the
    * operator sets from its secret store. Throws when unset — a DP
    * release with no secret is the vulnerability, not a default. */
  def secretFromConf(spark: org.apache.spark.sql.SparkSession): String =
    spark.conf.get("graft.dp.secret")

  /** Keyed uniform in (0, 1):
    * (hash56(secret‖seed‖salt) mod 2⁴⁰ + 1)/(2⁴⁰+1). The +1 dodges
    * zero (ln's pole); numerator and denominator are both < 2⁵³ so the
    * int→double casts and the division are exactly rounded —
    * bit-identical in any IEEE engine. */
  def keyedUniform(secret: String, seed: Column, salt: String): Column =
    (Dedup.hash56(concat(lit(secret), seed, lit(salt))) % lit(U40) + lit(1L))
      .cast("double") / lit((U40 + 1).toDouble)

  /** `len:value` — the prefix that makes key concatenation injective. */
  private def lenPrefixed(k: Column): Column = {
    val s = k.cast("string")
    concat(length(s).cast("string"), lit(":"), s)
  }

  private def seedExpr(keys: Seq[String]): Column =
    concat(keys.map(k => lenPrefixed(col(k))): _*)

  private def withNoise(g: DataFrame, keys: Seq[String], secret: String,
      label: String): DataFrame = {
    val seeded = g
      .withColumn("__seed", seedExpr(keys))
      .withColumn("u1", keyedUniform(secret, col("__seed"), s":$label:1"))
      .withColumn("u2", keyedUniform(secret, col("__seed"), s":$label:2"))
    PortableLn.withLn(PortableLn.withLn(seeded, "u1", "ln1"), "u2", "ln2")
  }

  /** Release column: floor the noisy value onto a 1e-6 grid so the
    * cross-engine hash has no last-ulp freedom left. */
  private def grid(relExpr: String, out: String): Column =
    expr(s"CAST(floor(($relExpr) * 1.0e6) AS BIGINT)")
      .cast("double") / lit(1.0e6) as out

  /** ε-DP noisy group counts (sensitivity 1 when each protected unit
    * contributes one row; for user-level protection count DISTINCT
    * units per group upstream). Output: keys + `dp_n`. */
  def dpCount(df: DataFrame, keys: Seq[String], eps: Double,
      secret: String, label: String = "dp"): DataFrame = {
    require(eps > 0, "epsilon must be positive")
    val g = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("exact_n"))
    withNoise(g, keys, secret, label)
      .select(keys.map(col) :+ grid(
        s"CAST(exact_n AS DOUBLE) + ((ln1 - ln2) * ${PortableLn.dbl(1.0 / eps)})",
        "dp_n"): _*)
  }

  /** ε-DP noisy group sums with USER-LEVEL sensitivity, both bounds
    * explicit (round-12 ADVICE: the clamp alone bounds a user's
    * per-GROUP contribution; a user present in k groups still shifts
    * the release VECTOR by k·clamp):
    *
    *  1. CONTRIBUTION CAP — each user keeps at most
    *     `maxGroupsPerUser` groups, chosen by a deterministic public
    *     hash rank (the standard DP-SQL contribution-bounding step;
    *     both engines replay the same choice), so k ≤ k_max by
    *     construction;
    *  2. CLAMP — the surviving per-(user, group) totals (exact
    *     integer cents) are clamped to [−clampCents, clampCents].
    *
    * User-level L1 sensitivity is therefore k_max·clamp, and the
    * Laplace scale is k_max·clamp/ε — the released ε is a true
    * user-level guarantee, not per-(user, group). Output: keys +
    * `dp_sum` in currency units. */
  def dpSum(df: DataFrame, keys: Seq[String], userCol: String,
      valueCents: Column, clampCents: Long, eps: Double, secret: String,
      maxGroupsPerUser: Int = 1, label: String = "dps"): DataFrame = {
    require(eps > 0, "epsilon must be positive")
    require(clampCents > 0, "clamp must be positive")
    require(maxGroupsPerUser > 0, "contribution cap must be positive")
    val per = df.groupBy((userCol +: keys).map(col): _*)
      .agg(sum(valueCents).as("uv"))
    // contribution cap: per user, keep the maxGroupsPerUser groups with
    // the smallest public hash (group keys as tiebreak) — deterministic,
    // engine-replayable, and a window on the HIGH-cardinality user key
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(userCol))
      .orderBy(Dedup.hash56(concat((userCol +: keys)
        .map(k => lenPrefixed(col(k))): _*)) +: keys.map(col): _*)
    val kept = per.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxGroupsPerUser)
      .withColumn("cv",
        greatest(least(col("uv"), lit(clampCents)), lit(-clampCents)))
    val g = kept.groupBy(keys.map(col): _*).agg(sum("cv").as("exact_c"))
    withNoise(g, keys, secret, label)
      .select(keys.map(col) :+ grid(
        s"(CAST(exact_c AS DOUBLE) * 1.0e-2) + ((ln1 - ln2) * " +
          s"${PortableLn.dbl(maxGroupsPerUser * clampCents / 100.0 / eps)})",
        "dp_sum"): _*)
  }

  // ---- ε-budget ledger ----------------------------------------------------
  //
  // Production DP's hard part is not the noise, it is ACCOUNTING: a
  // dataset carries a total ε budget, every release spends some, and
  // the pipeline must REFUSE the release that would overdraw
  // (sequential composition: spends add). The ledger is a tiny
  // append-only parquet under the store's lease lock (the IndexStore
  // single-writer discipline), rows ∝ releases ever made. Replaying a
  // label is FREE — the keyed-PRF noise re-emits the bit-identical
  // release, so a retried job re-reads its answer instead of
  // double-spending; composition charges distinct releases only. A
  // replay must quote its original ε (a changed ε under an old label
  // would silently lie about what was spent).

  private def ledgerDir(base: String) = s"$base/eps_ledger"

  /** (label, eps) rows of every release charged so far — ∝ releases. */
  def ledger(spark: org.apache.spark.sql.SparkSession,
      base: String): Seq[(String, Double)] = {
    val p = new org.apache.hadoop.fs.Path(ledgerDir(base))
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) Seq.empty
    else spark.read.parquet(ledgerDir(base))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
  }

  /** Charge `eps` for release `label` against `budget`, under the
    * store lock; a replayed label charges nothing. Throws before any
    * data is released when the spend would overdraw. Returns the total
    * spent AFTER this call. */
  def chargeBudget(spark: org.apache.spark.sql.SparkSession, base: String,
      label: String, eps: Double, budget: Double): Double = {
    require(eps > 0 && budget > 0, "epsilon and budget must be positive")
    VersionedStore.withWriterLock(spark, base) {
      val rows = ledger(spark, base)
      val spent = rows.map(_._2).sum
      rows.find(_._1 == label) match {
        case Some((_, prior)) =>
          require(math.abs(prior - eps) < 1e-12,
            s"label '$label' was released at eps=$prior; a replay must " +
              "quote the original epsilon")
          spent // replay: nothing new is spent
        case None =>
          if (spent + eps > budget + 1e-12)
            throw new IllegalStateException(
              f"release '$label' (eps=$eps%.3f) would overdraw the " +
                f"budget: spent $spent%.3f of $budget%.3f")
          import spark.implicits._
          LeaseLock.fenceCheck() // usurped ⇒ abort before the spend lands
          Seq((label, eps)).toDF("label", "eps")
            .coalesce(1).write.mode("append").parquet(ledgerDir(base))
          spent + eps
      }
    }
  }

  /** [[dpCount]] gated by the ledger: charge first (throws on
    * overdraw — no data leaves), then release. Same (label, eps) ⇒
    * the identical release at zero additional cost. */
  def dpCountBudgeted(spark: org.apache.spark.sql.SparkSession,
      df: DataFrame, keys: Seq[String], eps: Double, secret: String,
      label: String, base: String, budget: Double): DataFrame = {
    chargeBudget(spark, base, label, eps, budget)
    dpCount(df, keys, eps, secret, label)
  }

  /** DuckDB `len:value` key prefix mirroring [[lenPrefixed]]. */
  private def lenPrefixedSql(k: String): String =
    s"(CAST(length(CAST($k AS VARCHAR)) AS VARCHAR) || ':' " +
      s"|| CAST($k AS VARCHAR))"

  /** DuckDB replay of [[keyedUniform]] over a single VARCHAR key. */
  private def uniformSql(secret: String, key: String, salt: String): String =
    s"CAST(((md5_number_lower('$secret' || ${lenPrefixedSql(key)} " +
      s"|| '$salt') % ${Dedup.M56}) % $U40) + 1" +
      s" AS DOUBLE) / ${PortableLn.dbl((U40 + 1).toDouble)}"

  /** Oracle SQL for [[dpCount]] grouped by one VARCHAR key. */
  def dpCountOracleSql(table: String, key: String, eps: Double,
      secret: String, label: String): String =
    s"""WITH g AS (SELECT $key, count(*) AS exact_n FROM $table GROUP BY 1),
      s AS (SELECT *,
        ${uniformSql(secret, key, s":$label:1")} AS u1,
        ${uniformSql(secret, key, s":$label:2")} AS u2
      FROM g),
      ${PortableLn.cteChainSql("s", "u1", "ln1", "c1")},
      ${PortableLn.cteChainSql(PortableLn.cteChainOut("c1"), "u2", "ln2", "c2")}
      SELECT $key,
        CAST(CAST(floor((CAST(exact_n AS DOUBLE) +
            ((ln1 - ln2) * ${PortableLn.dbl(1.0 / eps)})) * 1.0e6) AS BIGINT)
          AS DOUBLE) / 1.0e6 AS dp_n
      FROM ${PortableLn.cteChainOut("c2")} ORDER BY 1"""

  /** Oracle SQL for [[dpSum]] grouped by one VARCHAR key; `valueSql`
    * must yield the SAME exact integer cents as the Spark-side
    * `valueCents` column. */
  def dpSumOracleSql(table: String, key: String, userCol: String,
      valueSql: String, clampCents: Long, eps: Double, secret: String,
      maxGroupsPerUser: Int, label: String): String =
    s"""WITH per AS (
        SELECT $userCol, $key, CAST(sum($valueSql) AS BIGINT) AS uv
        FROM $table GROUP BY 1, 2),
      rk AS (SELECT *, row_number() OVER (PARTITION BY $userCol
          ORDER BY (md5_number_lower(${lenPrefixedSql(userCol)}
            || ${lenPrefixedSql(key)}) % ${Dedup.M56}), $key) AS rn
        FROM per),
      cl AS (SELECT $key,
        greatest(least(uv, $clampCents), -$clampCents) AS cv
        FROM rk WHERE rn <= $maxGroupsPerUser),
      g AS (SELECT $key, CAST(sum(cv) AS BIGINT) AS exact_c
        FROM cl GROUP BY 1),
      s AS (SELECT *,
        ${uniformSql(secret, key, s":$label:1")} AS u1,
        ${uniformSql(secret, key, s":$label:2")} AS u2
      FROM g),
      ${PortableLn.cteChainSql("s", "u1", "ln1", "c1")},
      ${PortableLn.cteChainSql(PortableLn.cteChainOut("c1"), "u2", "ln2", "c2")}
      SELECT $key,
        CAST(CAST(floor(((CAST(exact_c AS DOUBLE) * 1.0e-2) +
            ((ln1 - ln2) *
              ${PortableLn.dbl(maxGroupsPerUser * clampCents / 100.0 / eps)}))
            * 1.0e6) AS BIGINT)
          AS DOUBLE) / 1.0e6 AS dp_sum
      FROM ${PortableLn.cteChainOut("c2")} ORDER BY 1"""
}
