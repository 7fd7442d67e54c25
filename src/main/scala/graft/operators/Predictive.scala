package graft.operators

import graft.{Num, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's predictive layer, re-expressed as declarative Spark
  * plans: next-day prediction pairs, cohort optimization, the what-if
  * scenario simulator, the generalized per-entity trend analyzer, and the
  * closed-form scoring query backing the MLlib pipeline
  * (reference: dbt .../analytics/sleep_performance_prediction.sql:1-35,
  * dbt .../analytics/workout_type_optimization.sql:3-40,
  * insights_engine/insights/what_if.py:24-60,140-220,
  * insights_engine/insights/{hrv_trend,rhr_trend,temperature_trend,
  * readiness_trend,progressive_overload}.py,
  * models/readiness_predictor/train.py + predict.py — the trained-model
  * analog lives in [[graft.ml.Predictor]]).
  *
  * Everything derives from the q12 gold rollup ([[Windows.q12DailyRollup]])
  * the way the reference's views derive from gold_daily_rollup. Scale: the
  * rollup is one scan + one shuffle; every model table built from it here
  * (regression sums, bucket stats, state effects) is an aggregate of at
  * most a few hundred rows, so scenario joins broadcast; the only
  * fact-sized operations are per-user windows.
  */
object Predictive {

  private def rollup(s: SparkSession, dir: String): DataFrame =
    Windows.dailyRollup(s, dir)

  /** Reference CTE: the q12 gold rollup as oracle SQL, reused by every
    * query here the way dbt refs gold_daily_rollup.
    */
  private val rollupCte: String = s"rollup AS (\n${Windows.q12Sql}\n)"

  /** Day-quality bucket of a score — the reference's sleep_quality CASE
    * (sleep_performance_prediction.sql:7-12).
    */
  private def qualityBucket(c: Column): Column =
    when(c >= 88, "excellent").when(c >= 75, "good")
      .when(c >= 60, "fair").otherwise("poor")

  private def sqlQualityBucket(e: String): String =
    s"CASE WHEN $e >= 88 THEN 'excellent' WHEN $e >= 75 THEN 'good' " +
      s"WHEN $e >= 60 THEN 'fair' ELSE 'poor' END"

  /** Next-day prediction pairs over a rollup frame: yesterday's score →
    * today's outcome (reference: sleep_performance_prediction.sql:25-35,
    * the day+1 self-join of gold_daily_rollup).
    *
    * Spark-first shape: the reference self-joins the rollup on
    * date_add(day, 1); since (user_id, day) is unique, that join is
    * exactly a per-user LEAD window with a consecutive-day filter — one
    * sort within the existing user partitioning instead of a second scan
    * and a shuffle join. The DuckDB oracle keeps the reference's join
    * formulation, so the equivalence is machine-checked every round.
    */
  def nextDayPairs(roll: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    roll
      .withColumn("next_day", lead("day", 1).over(w))
      .withColumn("next_purchase_total", lead("purchase_total", 1).over(w))
      .withColumn("next_purchases", lead("purchases", 1).over(w))
      .filter(col("next_day") ===
        date_format(date_add(to_date(col("day")), 1), "yyyy-MM-dd"))
      .filter(col("view_score_filled").isNotNull &&
        col("next_purchase_total").isNotNull)
      .select(
        col("user_id"), col("day"),
        col("view_score_filled").as("prev_score"),
        qualityBucket(col("view_score_filled")).as("prev_quality"),
        col("activity_state").as("prev_state"),
        col("next_purchase_total"), col("next_purchases"),
        when(col("view_score_filled") > 0,
          Num.roundD(col("next_purchase_total") / col("view_score_filled"), 2))
          .as("conversion_ratio"))
  }

  private val pairsCte: String =
    s"""pairs AS (
       |  SELECT a.user_id, a.day,
       |    a.view_score_filled AS prev_score,
       |    ${sqlQualityBucket("a.view_score_filled")} AS prev_quality,
       |    a.activity_state AS prev_state,
       |    b.purchase_total AS next_purchase_total,
       |    b.purchases AS next_purchases,
       |    CASE WHEN a.view_score_filled > 0
       |      THEN ${Num.sqlRoundD("b.purchase_total / a.view_score_filled", 2)}
       |    END AS conversion_ratio
       |  FROM rollup a
       |  JOIN rollup b ON b.user_id = a.user_id
       |    AND CAST(b.day AS DATE) = CAST(a.day AS DATE) + INTERVAL 1 DAY
       |  WHERE a.view_score_filled IS NOT NULL
       |    AND b.purchase_total IS NOT NULL)""".stripMargin

  /** q39: the next-day prediction view as a registered query. */
  def q39NextDayPrediction(s: SparkSession, dir: String): DataFrame =
    nextDayPairs(rollup(s, dir)).orderBy("user_id", "day")

  val q39Sql: String =
    s"""WITH $rollupCte,
       |$pairsCte
       |SELECT user_id, day, prev_score, prev_quality, prev_state,
       |  next_purchase_total, next_purchases, conversion_ratio
       |FROM pairs
       |ORDER BY user_id, day""".stripMargin

  /** q72: timing-correlation cohort scan — workout-intensity quintiles ×
    * next-day outcome (reference: insights/timing_correlation.py:28-144 —
    * pd.qcut(total_output_kj, 5) data-driven buckets, then per-bucket
    * mean/median/std/n of next-day readiness plus the bucket's intensity
    * range). Mapping: intensity = a day's purchase_total on workout days
    * (purchases ≥ 1), outcome = the NEXT day's view score.
    *
    * Spark-first: the day+1 pairing is a per-user LEAD window (q39's
    * shape); the data-driven buckets are NTILE(5) per user ordered by
    * (intensity, day) — the day tiebreak makes bucket membership
    * deterministic where qcut's rank-order on ties is not. The reference
    * runs pandas over one entity; this is per-entity windows + one
    * partial-aggregated groupBy, nothing global.
    */
  def q72TimingQuintiles(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    val pairs = rollup(s, dir)
      .withColumn("next_day", lead("day", 1).over(w))
      .withColumn("outcome", lead("view_score_filled", 1).over(w))
      .filter(col("next_day") ===
        date_format(date_add(to_date(col("day")), 1), "yyyy-MM-dd"))
      .filter(col("purchases") >= 1 && col("purchase_total").isNotNull &&
        col("outcome").isNotNull)
      .select(col("user_id"), col("day"),
        col("purchase_total").as("intensity"), col("outcome"))
    val bucketed = pairs.withColumn("bucket",
      ntile(5).over(Window.partitionBy("user_id").orderBy("intensity", "day")))
    bucketed.groupBy("user_id", "bucket")
      .agg(
        count(lit(1)).as("n"),
        Num.exactSum(col("outcome")).cast("double").as("sx"),
        Num.exactSum(col("outcome") * col("outcome")).cast("double").as("sxx"),
        Num.roundD(expr("percentile(outcome, 0.5)")).as("median_outcome"),
        Num.avgD(col("intensity")).as("avg_intensity"),
        min("intensity").as("min_intensity"),
        max("intensity").as("max_intensity"))
      .filter(col("n") >= 2)
      .withColumn("mean_outcome", Num.roundD(col("sx") / col("n")))
      .withColumn("var_raw",
        (col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - lit(1.0)))
      .withColumn("std_outcome",
        Num.roundD(when(col("var_raw") > 0, sqrt(col("var_raw"))).otherwise(lit(0.0))))
      .select("user_id", "bucket", "n", "mean_outcome", "median_outcome",
        "std_outcome", "avg_intensity", "min_intensity", "max_intensity")
      .orderBy("user_id", "bucket")
  }

  val q72Sql: String =
    s"""WITH $rollupCte,
       |tq AS (
       |  SELECT a.user_id, a.day, a.purchase_total AS intensity,
       |    b.view_score_filled AS outcome
       |  FROM rollup a
       |  JOIN rollup b ON b.user_id = a.user_id
       |    AND CAST(b.day AS DATE) = CAST(a.day AS DATE) + INTERVAL 1 DAY
       |  WHERE a.purchases >= 1 AND a.purchase_total IS NOT NULL
       |    AND b.view_score_filled IS NOT NULL),
       |bk AS (
       |  SELECT user_id, intensity, outcome,
       |    NTILE(5) OVER (PARTITION BY user_id ORDER BY intensity, day) AS bucket
       |  FROM tq),
       |agg AS (
       |  SELECT user_id, bucket, COUNT(*) AS n,
       |    CAST(SUM(CAST(outcome AS DECIMAL(25,6))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(outcome * outcome AS DECIMAL(25,6))) AS DOUBLE) AS sxx,
       |    ${Num.sqlRoundD("quantile_cont(outcome, 0.5)")} AS median_outcome,
       |    ${Num.sqlAvg("intensity")} AS avg_intensity,
       |    MIN(intensity) AS min_intensity,
       |    MAX(intensity) AS max_intensity
       |  FROM bk GROUP BY 1, 2)
       |SELECT user_id, bucket, n,
       |  ${Num.sqlRoundD("sx / n")} AS mean_outcome,
       |  median_outcome,
       |  ${Num.sqlRoundD(
            "CASE WHEN (sxx - sx * sx / n) / (n - 1.0) > 0 " +
            "THEN SQRT((sxx - sx * sx / n) / (n - 1.0)) ELSE 0.0 END")} AS std_outcome,
       |  avg_intensity, min_intensity, max_intensity
       |FROM agg
       |WHERE n >= 2
       |ORDER BY user_id, bucket""".stripMargin

  /** q74: intake-adequacy analyzer (reference: insights/nutrition_analyzer
    * .py:23-150 — daily-intake averages overall and over the last 7 logged
    * days, a threshold-adequacy tier per day and for the average, logging
    * completeness, and the correlation of intake to the
    * readiness outcome). Mapping: intake = a day's purchase_total,
    * meals = purchase count, outcome = the NEXT day's view score — the
    * reference correlates same-day readiness, but its own what-if/
    * prediction views (q38/q39) establish day+1 as the causal pairing, so
    * the composed analyzer uses next-day, as VERDICT r4 specified.
    *
    * Composition of proven shapes: q05's literal tier CASE, q39's LEAD
    * day+1 pairing, q45's closed-form Pearson over decimal-exact sums.
    * Per-user windows + one partial-aggregated groupBy — nothing global.
    */
  def q74NutritionAdequacy(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    val paired = rollup(s, dir)
      .withColumn("next_day", lead("day", 1).over(w))
      .withColumn("next_score0", lead("view_score_filled", 1).over(w))
      .withColumn("next_score",
        when(col("next_day") ===
          date_format(date_add(to_date(col("day")), 1), "yyyy-MM-dd"),
          col("next_score0")))
      .filter(col("purchases") >= 1 && col("purchase_total").isNotNull)
      .withColumn("tier",
        when(col("purchase_total") < 25, "low")
          .when(col("purchase_total") < 90, "adequate")
          .otherwise("high"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id").orderBy(col("day").desc)))
    val px = when(col("next_score").isNotNull, col("purchase_total"))
    val py = col("next_score")
    val agg = paired.groupBy("user_id")
      .agg(
        count(lit(1)).cast("double").as("n_days"),
        Num.exactSum(col("purchase_total")).cast("double").as("sx"),
        Num.exactSum(col("purchases")).cast("double").as("meals"),
        count(when(col("tier") === "low", 1)).as("n_low"),
        count(when(col("tier") === "adequate", 1)).as("n_adequate"),
        count(when(col("tier") === "high", 1)).as("n_high"),
        Num.exactSum(when(col("rn") <= 7, col("purchase_total"))).cast("double").as("r7x"),
        count(when(col("rn") <= 7, 1)).cast("double").as("r7n"),
        count(py).cast("double").as("pn"),
        Num.exactSum(px).cast("double").as("psx"),
        Num.exactSum(px * px).cast("double").as("psxx"),
        Num.exactSum(py).cast("double").as("psy"),
        Num.exactSum(py * py).cast("double").as("psyy"),
        Num.exactSum(px * py).cast("double").as("psxy"))
    val avgIntake = Num.roundD(col("sx") / col("n_days"))
    val denom = (col("pn") * col("psxx") - col("psx") * col("psx")) *
      (col("pn") * col("psyy") - col("psy") * col("psy"))
    agg
      .withColumn("avg_intake", avgIntake)
      .withColumn("avg_meals", Num.roundD(col("meals") / col("n_days"), 2))
      .withColumn("avg_intake_7d", Num.roundD(col("r7x") / col("r7n")))
      .withColumn("adequacy",
        when(avgIntake < 25, "low").when(avgIntake < 90, "adequate")
          .otherwise("high"))
      .withColumn("next_day_r",
        when(col("pn") >= 5 && denom > 0,
          Num.roundD((col("pn") * col("psxy") - col("psx") * col("psy")) / sqrt(denom), 3)))
      .select("user_id", "n_days", "avg_intake", "avg_meals", "avg_intake_7d",
        "adequacy", "n_low", "n_adequate", "n_high", "next_day_r")
      .orderBy("user_id")
  }

  val q74Sql: String = {
    val tierCase = (e: String) =>
      s"CASE WHEN $e < 25 THEN 'low' WHEN $e < 90 THEN 'adequate' ELSE 'high' END"
    s"""WITH $rollupCte,
       |nx AS (
       |  SELECT a.user_id, a.day, a.purchases, a.purchase_total,
       |    b.view_score_filled AS next_score
       |  FROM rollup a
       |  LEFT JOIN rollup b ON b.user_id = a.user_id
       |    AND CAST(b.day AS DATE) = CAST(a.day AS DATE) + INTERVAL 1 DAY),
       |intake AS (
       |  SELECT *, ${tierCase("purchase_total")} AS tier,
       |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day DESC) AS rn
       |  FROM nx WHERE purchases >= 1 AND purchase_total IS NOT NULL),
       |agg AS (
       |  SELECT user_id,
       |    CAST(COUNT(*) AS DOUBLE) AS n_days,
       |    CAST(SUM(CAST(purchase_total AS DECIMAL(25,6))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(purchases AS DECIMAL(25,6))) AS DOUBLE) AS meals,
       |    COUNT(CASE WHEN tier = 'low' THEN 1 END) AS n_low,
       |    COUNT(CASE WHEN tier = 'adequate' THEN 1 END) AS n_adequate,
       |    COUNT(CASE WHEN tier = 'high' THEN 1 END) AS n_high,
       |    CAST(SUM(CAST(CASE WHEN rn <= 7 THEN purchase_total END AS DECIMAL(25,6))) AS DOUBLE) AS r7x,
       |    CAST(COUNT(CASE WHEN rn <= 7 THEN 1 END) AS DOUBLE) AS r7n,
       |    CAST(COUNT(next_score) AS DOUBLE) AS pn,
       |    CAST(SUM(CAST(CASE WHEN next_score IS NOT NULL THEN purchase_total END AS DECIMAL(25,6))) AS DOUBLE) AS psx,
       |    CAST(SUM(CAST(CASE WHEN next_score IS NOT NULL THEN purchase_total * purchase_total END AS DECIMAL(25,6))) AS DOUBLE) AS psxx,
       |    CAST(SUM(CAST(next_score AS DECIMAL(25,6))) AS DOUBLE) AS psy,
       |    CAST(SUM(CAST(next_score * next_score AS DECIMAL(25,6))) AS DOUBLE) AS psyy,
       |    CAST(SUM(CAST(CASE WHEN next_score IS NOT NULL THEN purchase_total * next_score END AS DECIMAL(25,6))) AS DOUBLE) AS psxy
       |  FROM intake GROUP BY 1)
       |SELECT user_id, n_days,
       |  ${Num.sqlRoundD("sx / n_days")} AS avg_intake,
       |  ${Num.sqlRoundD("meals / n_days", 2)} AS avg_meals,
       |  ${Num.sqlRoundD("r7x / r7n")} AS avg_intake_7d,
       |  ${tierCase(Num.sqlRoundD("sx / n_days"))} AS adequacy,
       |  n_low, n_adequate, n_high,
       |  CASE WHEN pn >= 5
       |        AND (pn * psxx - psx * psx) * (pn * psyy - psy * psy) > 0
       |    THEN ${Num.sqlRoundD(
              "(pn * psxy - psx * psy) / SQRT((pn * psxx - psx * psx) * (pn * psyy - psy * psy))", 3)}
       |  END AS next_day_r
       |FROM agg
       |ORDER BY user_id""".stripMargin
  }

  /** Cohort-optimization table over a rollup frame: outcome-bucket ×
    * activity-type cohort averages (reference:
    * workout_type_optimization.sql:3-40 — readiness bucket × workout type
    * with a min-sample HAVING).
    */
  def cohortTable(roll: DataFrame): DataFrame =
    roll
      .filter(col("purchases") >= 1 && col("view_score_filled").isNotNull)
      .withColumn("score_bucket",
        when(col("view_score_filled") >= 85, "high")
          .when(col("view_score_filled") >= 70, "medium")
          .otherwise("low"))
      .groupBy("score_bucket", "activity_state")
      .agg(
        count(lit(1)).as("sample_days"),
        Num.avgD(col("purchase_total")).as("avg_purchase_total"),
        Num.avgD(col("clicks").cast("double")).as("avg_clicks"),
        Num.avgD(col("view_score_filled")).as("avg_score"))
      .filter(col("sample_days") >= 2)

  /** q40: cohort optimization, deterministically ordered. */
  def q40CohortOptimization(s: SparkSession, dir: String): DataFrame =
    cohortTable(rollup(s, dir)).orderBy("score_bucket", "activity_state")

  val q40Sql: String =
    s"""WITH $rollupCte
       |SELECT
       |  CASE WHEN view_score_filled >= 85 THEN 'high'
       |       WHEN view_score_filled >= 70 THEN 'medium'
       |       ELSE 'low' END AS score_bucket,
       |  activity_state,
       |  COUNT(*) AS sample_days,
       |  ${Num.sqlAvg("purchase_total")} AS avg_purchase_total,
       |  ${Num.sqlAvg("CAST(clicks AS DOUBLE)")} AS avg_clicks,
       |  ${Num.sqlAvg("view_score_filled")} AS avg_score
       |FROM rollup
       |WHERE purchases >= 1 AND view_score_filled IS NOT NULL
       |GROUP BY 1, 2
       |HAVING COUNT(*) >= 2
       |ORDER BY score_bucket, activity_state""".stripMargin

  /** q38: what-if scenario simulator (reference: what_if.py:24-60 Scenario
    * → SimulationResult; 140-220 simulate()). A literal scenario grid
    * (score × activity state) is scored against the model built from
    * history — the next-day regression fit, per-quality-bucket outcome
    * stats (confidence), and per-state outcome deltas — to produce
    * predicted outcome, confidence range, baseline comparison, and a
    * recommendation, exactly the reference's simulate() steps 1-8 as one
    * declarative plan.
    */
  def q38WhatIf(s: SparkSession, dir: String): DataFrame =
    whatIfTable(nextDayPairs(rollup(s, dir)))

  private val whatIfBuckets = Seq("excellent", "good", "fair", "poor")
  private val whatIfStates = Seq("power", "buyer", "active", "passive")

  /** The what-if table over a pairs frame ([[nextDayPairs]]'s columns).
    *
    * `pairs` is consumed once: every model table of the reference — the
    * OLS sums, the baseline, the per-quality-bucket spread and the
    * per-state means — is a column of ONE single-row aggregate, with the
    * bucket and state tables unrolled into conditional aggregates over
    * their fixed key sets. The 16-row scenario grid is generated from
    * that row and each scenario picks its bucket and state columns with
    * a CASE, so the plan has no join, no cache and no eager barrier, and
    * its single output partition is sorted without a range exchange. An
    * absent bucket reads `bucket_n = 0` and a null `bucket_std` (the
    * baseline spread stands in); an absent state reads `state_delta = 0`.
    * Every sum is the DECIMAL(25,6) exact sum the oracle replays.
    */
  def whatIfTable(pairs: DataFrame): DataFrame = {
    val (x, y) = (col("prev_score"), col("next_purchase_total"))
    def exact(c: Column) = Num.exactSum(c).cast("double")
    def inBucket(b: String) = col("prev_quality") === b
    val sums = pairs.agg(
      count(lit(1)).cast("double").as("n"),
      (Seq(exact(x).as("sx"), exact(y).as("sy"), exact(x * y).as("sxy"),
        exact(x * x).as("sxx"), exact(y * y).as("syy")) ++
      whatIfBuckets.flatMap(b => Seq(
        count(when(inBucket(b), 1)).as(s"bn_$b"),
        exact(when(inBucket(b), y)).as(s"bsx_$b"),
        exact(when(inBucket(b), y * y)).as(s"bsxx_$b"))) ++
      whatIfStates.map(st =>
        Num.avgD(when(col("prev_state") === st, y)).as(s"sm_$st"))): _*)

    // step-1 model: closed-form OLS of next-day outcome on prev score;
    // baseline + overall spread (what_if.py _build_baseline)
    val (n, sx, sy, sxy, sxx, syy) =
      (col("n"), col("sx"), col("sy"), col("sxy"), col("sxx"), col("syy"))
    val baselineMean = Num.roundD(sy / n)
    val model = sums.select(
      (Seq(
        n.cast("long").as("n_history"),
        Num.roundD((n * sxy - sx * sy) / (n * sxx - sx * sx)).as("slope"),
        Num.roundD((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n)
          .as("intercept"),
        baselineMean.as("baseline_mean"),
        Num.roundD(sqrt((syy - sy * sy / n) / (n - 1.0))).as("baseline_std")) ++
      // per-quality-bucket confidence stats (what_if.py _build_sleep_buckets)
      whatIfBuckets.flatMap { b =>
        val (bn, bsx, bsxx) = (col(s"bn_$b"), col(s"bsx_$b"), col(s"bsxx_$b"))
        Seq(bn.as(s"bn_$b"),
          when(bn > 1, Num.roundD(sqrt((bsxx - bsx * bsx / bn) / (bn - lit(1.0)))))
            .as(s"bstd_$b"))
      } ++
      // per-state outcome deltas (what_if.py _build_workout_effects)
      whatIfStates.map(st => coalesce(Num.roundD(col(s"sm_$st") - baselineMean, 2),
        lit(0.0)).as(s"delta_$st"))): _*)

    val scenarios = for {
      sc <- Seq(45.0, 65.0, 80.0, 92.0); st <- whatIfStates
    } yield struct(lit(sc).as("scenario_score"), lit(st).as("scenario_state"))
    // CASE over a closed key set: the last key is the ELSE branch
    def pick(key: Column, keys: Seq[String], prefix: String): Column =
      keys.init.tail.foldLeft(when(key === keys.head, col(prefix + keys.head))) {
        (c, k) => c.when(key === k, col(prefix + k))
      }.otherwise(col(prefix + keys.last))
    val scored = model
      .select(col("*"), inline(array(scenarios: _*)))
      .withColumn("bucket", qualityBucket(col("scenario_score")))
      .withColumn("bucket_n", pick(col("bucket"), whatIfBuckets, "bn_"))
      .withColumn("bucket_std", pick(col("bucket"), whatIfBuckets, "bstd_"))
      .withColumn("state_delta", pick(col("scenario_state"), whatIfStates, "delta_"))

    val predicted = greatest(lit(0.0),
      col("slope") * col("scenario_score") + col("intercept") + col("state_delta"))
    val sd = coalesce(col("bucket_std"), col("baseline_std"))
    scored
      .select(
        col("scenario_score"), col("scenario_state"), col("n_history"),
        Num.roundD(predicted, 2).as("predicted_outcome"),
        Num.roundD(greatest(lit(0.0), predicted - sd), 2).as("conf_lo"),
        Num.roundD(predicted + sd, 2).as("conf_hi"),
        col("state_delta"),
        Num.roundD(predicted - col("baseline_mean"), 2).as("vs_baseline"),
        when(predicted >= col("baseline_mean") * 1.2, "push")
          .when(predicted >= col("baseline_mean"), "steady")
          .when(predicted >= col("baseline_mean") * 0.8, "light")
          .otherwise("recover").as("recommendation"),
        col("bucket_n"))
      .orderBy("scenario_score", "scenario_state")
  }

  val q38Sql: String = {
    val predictedRaw = "(r.slope * g.scenario_score + r.intercept + COALESCE(st.state_delta, 0.0))"
    val predicted = s"GREATEST(0.0, $predictedRaw)"
    val sd = "COALESCE(bk.bucket_std, o.baseline_std)"
    s"""WITH $rollupCte,
       |$pairsCte,
       |sums AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(SUM(CAST(prev_score AS DECIMAL(25,6))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(next_purchase_total AS DECIMAL(25,6))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(prev_score * next_purchase_total AS DECIMAL(25,6))) AS DOUBLE) AS sxy,
       |    CAST(SUM(CAST(prev_score * prev_score AS DECIMAL(25,6))) AS DOUBLE) AS sxx
       |  FROM pairs),
       |reg AS (
       |  SELECT CAST(n AS BIGINT) AS n_history,
       |    ${Num.sqlRoundD("(n * sxy - sx * sy) / (n * sxx - sx * sx)")} AS slope,
       |    ${Num.sqlRoundD("(sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n")} AS intercept
       |  FROM sums),
       |o AS (
       |  SELECT
       |    ${Num.sqlRoundD("CAST(SUM(CAST(next_purchase_total AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)")} AS baseline_mean,
       |    ${Num.sqlRoundD(
             "SQRT((CAST(SUM(CAST(next_purchase_total * next_purchase_total AS DECIMAL(25,6))) AS DOUBLE) - " +
             "CAST(SUM(CAST(next_purchase_total AS DECIMAL(25,6))) AS DOUBLE) * " +
             "CAST(SUM(CAST(next_purchase_total AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)) / (COUNT(*) - 1.0))")} AS baseline_std
       |  FROM pairs),
       |bk AS (
       |  SELECT prev_quality AS bucket, COUNT(*) AS bucket_n,
       |    CASE WHEN COUNT(*) > 1 THEN ${Num.sqlRoundD(
             "SQRT((CAST(SUM(CAST(next_purchase_total * next_purchase_total AS DECIMAL(25,6))) AS DOUBLE) - " +
             "CAST(SUM(CAST(next_purchase_total AS DECIMAL(25,6))) AS DOUBLE) * " +
             "CAST(SUM(CAST(next_purchase_total AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)) / (COUNT(*) - 1.0))")}
       |    END AS bucket_std
       |  FROM pairs GROUP BY 1),
       |st AS (
       |  SELECT prev_state AS state,
       |    ${Num.sqlRoundD(s"${Num.sqlAvg("next_purchase_total")} - (SELECT baseline_mean FROM o)", 2)} AS state_delta
       |  FROM pairs GROUP BY 1),
       |grid AS (
       |  SELECT CAST(s.scenario_score AS DOUBLE) AS scenario_score, t.scenario_state
       |  FROM (VALUES (45.0), (65.0), (80.0), (92.0)) AS s(scenario_score)
       |  CROSS JOIN (VALUES ('power'), ('buyer'), ('active'), ('passive')) AS t(scenario_state))
       |SELECT g.scenario_score, g.scenario_state, r.n_history,
       |  ${Num.sqlRoundD(predicted, 2)} AS predicted_outcome,
       |  ${Num.sqlRoundD(s"GREATEST(0.0, $predicted - $sd)", 2)} AS conf_lo,
       |  ${Num.sqlRoundD(s"$predicted + $sd", 2)} AS conf_hi,
       |  COALESCE(st.state_delta, 0.0) AS state_delta,
       |  ${Num.sqlRoundD(s"$predicted - o.baseline_mean", 2)} AS vs_baseline,
       |  CASE WHEN $predicted >= o.baseline_mean * 1.2 THEN 'push'
       |       WHEN $predicted >= o.baseline_mean THEN 'steady'
       |       WHEN $predicted >= o.baseline_mean * 0.8 THEN 'light'
       |       ELSE 'recover' END AS recommendation,
       |  COALESCE(bk.bucket_n, 0) AS bucket_n
       |FROM grid g
       |CROSS JOIN reg r
       |CROSS JOIN o
       |LEFT JOIN bk ON bk.bucket = ${sqlQualityBucket("g.scenario_score")}
       |LEFT JOIN st ON st.state = g.scenario_state
       |ORDER BY scenario_score, scenario_state""".stripMargin
  }

  /** q41: generalized trend analyzer — one parameterized operator covering
    * the reference's per-metric analyzer family (hrv_trend.py,
    * rhr_trend.py, temperature_trend.py, readiness_trend.py,
    * progressive_overload.py): for every (entity, metric) series, an OLS
    * slope over the daily values, recent-vs-baseline level comparison
    * (7-sample vs 30-sample trailing means anchored at the series end,
    * hrv_trend.py:44-72), and the ±15% suppressed/elevated classification.
    *
    * Scale: one scan → daily grain groupBy; the only window is a
    * partition-wide MAX per (entity, metric) — no global ordering; the
    * closed-form slope comes from decimal-exact sums in the same
    * partial-aggregated pass as the level stats.
    */
  def q41TrendAnalyzer(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(25, 6)
    val daily = Tables.load(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"), to_date(col("ts")).as("d"))
      .agg(Num.avgD(col("value")).as("v"))
      .withColumn("x", datediff(col("d"), lit("2025-01-01").cast("date")))
    val wMax = Window.partitionBy("user_id", "event_type")
    val withMax = daily.withColumn("max_x", max("x").over(wMax))
    def condAvg(days: Int): Column =
      Num.roundD(Num.exactSum(when(col("x") > col("max_x") - days, col("v")))
        .cast("double") /
        count(when(col("x") > col("max_x") - days, col("v"))))
    val sums = withMax.groupBy(col("user_id"), col("event_type").as("metric"))
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("x").cast(dec)).cast("double").as("sx"),
        Num.exactSum(col("v")).cast("double").as("sy"),
        sum((col("x") * col("v")).cast(dec)).cast("double").as("sxy"),
        sum((col("x") * col("x")).cast(dec)).cast("double").as("sxx"),
        condAvg(7).as("recent_7d_avg"),
        condAvg(30).as("baseline_30d_avg"))
    val n = col("n_days").cast("double")
    val slope = when(col("n_days") > 1,
      Num.roundD((n * col("sxy") - col("sx") * col("sy")) /
        (n * col("sxx") - col("sx") * col("sx"))))
    val diffPct = when(col("baseline_30d_avg") =!= 0,
      Num.roundD((col("recent_7d_avg") - col("baseline_30d_avg")) /
        col("baseline_30d_avg") * 100, 2))
    sums.select(
        col("user_id"), col("metric"), col("n_days"),
        slope.as("slope"),
        col("recent_7d_avg"), col("baseline_30d_avg"),
        diffPct.as("diff_pct"),
        when(slope > 0.05, "rising").when(slope < -0.05, "falling")
          .otherwise("stable").as("trend_label"),
        when(diffPct < -15, "suppressed").when(diffPct > 15, "elevated")
          .otherwise("normal").as("level_status"))
      .orderBy("user_id", "metric")
  }

  val q41Sql: String = {
    def condAvg(days: Int): String = Num.sqlRoundD(
      s"CAST(SUM(CAST(CASE WHEN x > max_x - $days THEN v END AS DECIMAL(25,6))) AS DOUBLE) / " +
        s"COUNT(CASE WHEN x > max_x - $days THEN v END)")
    val slope = Num.sqlRoundD(
      "(CAST(n_days AS DOUBLE) * sxy - sx * sy) / (CAST(n_days AS DOUBLE) * sxx - sx * sx)")
    val slopeCase = s"CASE WHEN n_days > 1 THEN $slope END"
    val diffPct = Num.sqlRoundD(
      "(recent_7d_avg - baseline_30d_avg) / baseline_30d_avg * 100", 2)
    val diffCase = s"CASE WHEN baseline_30d_avg <> 0 THEN $diffPct END"
    s"""WITH daily AS (
       |  SELECT user_id, event_type, CAST(ts AS DATE) AS d,
       |    ${Num.sqlAvg("value")} AS v
       |  FROM events GROUP BY 1, 2, 3),
       |wd AS (
       |  SELECT user_id, event_type,
       |    datediff('day', DATE '2025-01-01', d) AS x, v,
       |    MAX(datediff('day', DATE '2025-01-01', d))
       |      OVER (PARTITION BY user_id, event_type) AS max_x
       |  FROM daily),
       |sums AS (
       |  SELECT user_id, event_type AS metric, COUNT(*) AS n_days,
       |    CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(v AS DECIMAL(25,6))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(x * v AS DECIMAL(25,6))) AS DOUBLE) AS sxy,
       |    CAST(SUM(CAST(x * x AS DECIMAL(25,6))) AS DOUBLE) AS sxx,
       |    ${condAvg(7)} AS recent_7d_avg,
       |    ${condAvg(30)} AS baseline_30d_avg
       |  FROM wd GROUP BY 1, 2)
       |SELECT user_id, metric, n_days,
       |  $slopeCase AS slope,
       |  recent_7d_avg, baseline_30d_avg,
       |  $diffCase AS diff_pct,
       |  CASE WHEN $slopeCase > 0.05 THEN 'rising'
       |       WHEN $slopeCase < -0.05 THEN 'falling'
       |       ELSE 'stable' END AS trend_label,
       |  CASE WHEN $diffCase < -15 THEN 'suppressed'
       |       WHEN $diffCase > 15 THEN 'elevated'
       |       ELSE 'normal' END AS level_status
       |FROM sums
       |ORDER BY user_id, metric""".stripMargin
  }

  /** q44: multi-day plan projection (reference: what_if.py:46-70
    * DayPlan/DayProjection/MultiDayResult and the project_plan path —
    * starting CTL/ATL seeded from TSS history, then per planned day the
    * EMA load recursion ctl_d = ctl_{d-1}·(1-1/42) + tss_d/42, atl with
    * τ=7, and form = tsb = ctl_{d-1} - atl_{d-1}).
    *
    * Spark-first shape: the projection horizon is 7 literal plan days, so
    * the EMA recursion UNROLLS at plan-build time — each day's projected
    * load is an affine function a_d·start + b_d whose coefficients are
    * compile-time constants (computed once on the driver, same literals
    * fed to the DuckDB oracle, so cross-engine floats agree bit-for-bit).
    * Per-user starting loads come from the q13 training-load operator's
    * last row; the plan table is a 7-row broadcast — the whole projection
    * is one window + one broadcast join, scaling linearly in users.
    */
  def q44MultidayPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lastW = Window.partitionBy("user_id").orderBy(col("day").desc)
    val starting = Analytics.q13TrainingLoad(s, dir)
      .withColumn("rn", row_number().over(lastW))
      .filter(col("rn") === 1 && col("ctl").isNotNull && col("atl").isNotNull)
      .select(col("user_id"), col("ctl").as("ctl0"), col("atl").as("atl0"))
    val plan = planCoefficients.toDF(
      "day_offset", "planned_tss", "ca", "cb", "aa", "ab",
      "ca_prev", "cb_prev", "aa_prev", "ab_prev")
    val tsb = (col("ctl0") * col("ca_prev") + col("cb_prev")) -
      (col("atl0") * col("aa_prev") + col("ab_prev"))
    starting.crossJoin(broadcast(plan))
      .select(
        col("user_id"), col("day_offset"), col("planned_tss"),
        Num.roundD(col("ctl0") * col("ca") + col("cb"), 2).as("projected_ctl"),
        Num.roundD(col("atl0") * col("aa") + col("ab"), 2).as("projected_atl"),
        Num.roundD(tsb, 2).as("projected_tsb"),
        when(Num.roundD(tsb, 2) > 5.0, "fresh")
          .when(Num.roundD(tsb, 2) < -10.0, "fatigued")
          .otherwise("neutral").as("form_label"))
      .orderBy("user_id", "day_offset")
  }

  /** The 7-day literal plan (hard/easy/rest cycle) with unrolled EMA
    * coefficients: for each offset d, projected load = a_d·start + b_d.
    * Shared by the Spark plan and the oracle SQL so both engines compute
    * from identical double literals.
    */
  private lazy val planCoefficients: Seq[(Int, Double, Double, Double, Double,
      Double, Double, Double, Double, Double)] = {
    val tssFor = (d: Int) => (d % 3) match {
      case 1 => 80.0; case 2 => 30.0; case _ => 0.0
    }
    val (kc, ka) = (1.0 / 42.0, 1.0 / 7.0)
    var (ca, cb, aa, ab) = (1.0, 0.0, 1.0, 0.0)
    (1 to 7).map { d =>
      val (caP, cbP, aaP, abP) = (ca, cb, aa, ab)
      val tss = tssFor(d)
      ca = caP * (1 - kc); cb = cbP * (1 - kc) + tss * kc
      aa = aaP * (1 - ka); ab = abP * (1 - ka) + tss * ka
      (d, tss, ca, cb, aa, ab, caP, cbP, aaP, abP)
    }
  }

  val q44Sql: String = {
    val planRows = planCoefficients.map { case (d, tss, ca, cb, aa, ab, caP, cbP, aaP, abP) =>
      s"($d, CAST($tss AS DOUBLE), CAST($ca AS DOUBLE), CAST($cb AS DOUBLE), " +
        s"CAST($aa AS DOUBLE), CAST($ab AS DOUBLE), CAST($caP AS DOUBLE), " +
        s"CAST($cbP AS DOUBLE), CAST($aaP AS DOUBLE), CAST($abP AS DOUBLE))"
    }.mkString(",\n    ")
    val tsb = "((s.ctl0 * p.ca_prev + p.cb_prev) - (s.atl0 * p.aa_prev + p.ab_prev))"
    s"""WITH tl AS (
       |${Analytics.q13Sql}
       |),
       |starting AS (
       |  SELECT user_id, ctl AS ctl0, atl AS atl0 FROM (
       |    SELECT user_id, ctl, atl,
       |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day DESC) AS rn
       |    FROM tl) t
       |  WHERE rn = 1 AND ctl IS NOT NULL AND atl IS NOT NULL),
       |plan AS (
       |  SELECT * FROM (VALUES
       |    $planRows)
       |  AS p(day_offset, planned_tss, ca, cb, aa, ab, ca_prev, cb_prev, aa_prev, ab_prev))
       |SELECT s.user_id, p.day_offset, p.planned_tss,
       |  ${Num.sqlRoundD("s.ctl0 * p.ca + p.cb", 2)} AS projected_ctl,
       |  ${Num.sqlRoundD("s.atl0 * p.aa + p.ab", 2)} AS projected_atl,
       |  ${Num.sqlRoundD(tsb, 2)} AS projected_tsb,
       |  CASE WHEN ${Num.sqlRoundD(tsb, 2)} > 5.0 THEN 'fresh'
       |       WHEN ${Num.sqlRoundD(tsb, 2)} < -10.0 THEN 'fatigued'
       |       ELSE 'neutral' END AS form_label
       |FROM starting s CROSS JOIN plan p
       |ORDER BY user_id, day_offset""".stripMargin
  }

  /** q45: feature selection — rank candidate predictors by absolute
    * Pearson correlation with the label (reference:
    * models/readiness_predictor/feature_selection.py — correlation-based
    * ranking feeding the trained model's feature list). One scan builds
    * every feature's exact sums in a single partial-aggregated pass; the
    * per-feature correlations unpivot from the one aggregate row, so the
    * ranking costs one shuffle regardless of corpus size.
    */
  def q45FeatureSelection(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(25, 6)
    val feats = graft.ml.Predictor.features(rollup(s, dir))
    val featCols = graft.ml.Predictor.FeatureCols
    val sumAggs = featCols.flatMap { f =>
      Seq(
        Num.exactSum(col(f)).cast("double").as(s"sx_$f"),
        sum((col(f) * col(f)).cast(dec)).cast("double").as(s"sxx_$f"),
        sum((col(f) * col("label")).cast(dec)).cast("double").as(s"sxy_$f"))
    }
    val aggs = Seq(
      count(lit(1)).cast("double").as("n"),
      Num.exactSum(col("label")).cast("double").as("sy"),
      sum((col("label") * col("label")).cast(dec)).cast("double").as("syy")) ++ sumAggs
    val sums = feats.agg(aggs.head, aggs.tail: _*)
    def rFor(f: String): Column = {
      val cov = col("n") * col(s"sxy_$f") - col(s"sx_$f") * col("sy")
      val varX = col("n") * col(s"sxx_$f") - col(s"sx_$f") * col(s"sx_$f")
      val varY = col("n") * col("syy") - col("sy") * col("sy")
      when(varX > 0 && varY > 0, Num.roundD(cov / sqrt(varX * varY)))
    }
    val perFeature = sums.select(col("n").cast("long").as("n_rows"),
      explode(array(featCols.map(f =>
        struct(lit(f).as("feature"), rFor(f).as("pearson_r"))): _*)).as("fr"))
      .select(col("fr.feature").as("feature"), col("n_rows"),
        col("fr.pearson_r").as("pearson_r"))
    perFeature
      .withColumn("rank", row_number().over(
        Window.orderBy(abs(col("pearson_r")).desc, col("feature"))))
      .select("rank", "feature", "n_rows", "pearson_r")
      .orderBy("rank")
  }

  val q45Sql: String = {
    val featCols = graft.ml.Predictor.FeatureCols
    val featExpr = Map(
      "views" -> "CAST(COALESCE(views, 0) AS DOUBLE)",
      "view_score_filled" -> "COALESCE(view_score_filled, 0.0)",
      "clicks" -> "CAST(COALESCE(clicks, 0) AS DOUBLE)",
      "errors" -> "CAST(COALESCE(errors, 0) AS DOUBLE)",
      "purchases" -> "CAST(COALESCE(purchases, 0) AS DOUBLE)")
    val sumCols = featCols.map { f =>
      val e = featExpr(f)
      s"""    CAST(SUM(CAST($e AS DECIMAL(25,6))) AS DOUBLE) AS sx_$f,
         |    CAST(SUM(CAST($e * $e AS DECIMAL(25,6))) AS DOUBLE) AS sxx_$f,
         |    CAST(SUM(CAST($e * purchase_total AS DECIMAL(25,6))) AS DOUBLE) AS sxy_$f""".stripMargin
    }.mkString(",\n")
    def rFor(f: String): String = {
      val cov = s"(n * sxy_$f - sx_$f * sy)"
      val vx = s"(n * sxx_$f - sx_$f * sx_$f)"
      s"CASE WHEN $vx > 0 AND (n * syy - sy * sy) > 0 THEN " +
        Num.sqlRoundD(s"$cov / SQRT($vx * (n * syy - sy * sy))") + " END"
    }
    val unions = featCols.map(f =>
      s"  SELECT '$f' AS feature, CAST(n AS BIGINT) AS n_rows, ${rFor(f)} AS pearson_r FROM sums")
      .mkString("\n  UNION ALL\n")
    s"""WITH $rollupCte,
       |feats AS (SELECT * FROM rollup WHERE purchase_total IS NOT NULL),
       |sums AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(SUM(CAST(purchase_total AS DECIMAL(25,6))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(purchase_total * purchase_total AS DECIMAL(25,6))) AS DOUBLE) AS syy,
       |$sumCols
       |  FROM feats),
       |per_feature AS (
       |$unions)
       |SELECT ROW_NUMBER() OVER (ORDER BY ABS(pearson_r) DESC, feature) AS rank,
       |  feature, n_rows, pearson_r
       |FROM per_feature
       |ORDER BY rank""".stripMargin
  }

  /** q42: batch scoring with the closed-form linear model — the
    * oracle-checkable twin of [[graft.ml.Predictor]]'s MLlib pipeline
    * (reference: models/readiness_predictor/predict.py — load model, score
    * the feature table, emit prediction + residual). The fit (daily spend
    * on daily purchase count) is two exact-sum aggregates broadcast back
    * over the feature rows; scoring is a row-local expression at scan
    * speed.
    */
  def q42PredictScore(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(25, 6)
    val feats = rollup(s, dir)
      .filter(col("purchases").isNotNull && col("purchase_total").isNotNull)
      .select(col("user_id"), col("day"),
        col("purchases").cast("double").as("x"), col("purchase_total").as("y"))
    val fit = feats.agg(
        count(lit(1)).cast("double").as("n"),
        Num.exactSum(col("x")).cast("double").as("sx"),
        Num.exactSum(col("y")).cast("double").as("sy"),
        sum((col("x") * col("y")).cast(dec)).cast("double").as("sxy"),
        sum((col("x") * col("x")).cast(dec)).cast("double").as("sxx"))
      .select(
        Num.roundD((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
        Num.roundD((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) / col("n"))
          .as("intercept"))
    feats.crossJoin(broadcast(fit))
      .select(
        col("user_id"), col("day"),
        col("x").cast("long").as("purchases"),
        col("y").as("purchase_total"),
        Num.roundD(col("intercept") + col("slope") * col("x"), 2).as("predicted"),
        Num.roundD(col("y") - (col("intercept") + col("slope") * col("x")), 2)
          .as("residual"))
      .orderBy("user_id", "day")
  }

  val q42Sql: String = {
    val slopeRaw = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
    s"""WITH $rollupCte,
       |feats AS (
       |  SELECT user_id, day, CAST(purchases AS DOUBLE) AS x, purchase_total AS y
       |  FROM rollup
       |  WHERE purchases IS NOT NULL AND purchase_total IS NOT NULL),
       |sums AS (
       |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(y AS DECIMAL(25,6))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(x * y AS DECIMAL(25,6))) AS DOUBLE) AS sxy,
       |    CAST(SUM(CAST(x * x AS DECIMAL(25,6))) AS DOUBLE) AS sxx
       |  FROM feats),
       |fit AS (
       |  SELECT ${Num.sqlRoundD(slopeRaw)} AS slope,
       |    ${Num.sqlRoundD(s"(sy - $slopeRaw * sx) / n")} AS intercept
       |  FROM sums)
       |SELECT f.user_id, f.day,
       |  CAST(f.x AS BIGINT) AS purchases, f.y AS purchase_total,
       |  ${Num.sqlRoundD("m.intercept + m.slope * f.x", 2)} AS predicted,
       |  ${Num.sqlRoundD("f.y - (m.intercept + m.slope * f.x)", 2)} AS residual
       |FROM feats f CROSS JOIN fit m
       |ORDER BY f.user_id, f.day""".stripMargin
  }

  /** Recovery-window trajectories over a rollup frame (reference:
    * dbt .../gold/workout_recovery_windows.sql:13-80 end-to-end, consumed
    * by insights_engine/insights/recovery_windows.py): for each
    * purchase-active day, the engagement score 1–3 days ahead, the delta
    * from the active day, the trailing 7-day baseline, an intensity
    * tier, and the first horizon at which the score returns to baseline.
    *
    * Spark-first shape: the reference's windows run `OVER (ORDER BY
    * date)` — a single global partition, fine for one person's history
    * and a scale-killer for a fleet. Here every window (three LEADs, two
    * secondary LEADs, the trailing baseline frame) shares ONE per-user
    * sort: partitionBy(user_id), one exchange total. The active-day
    * filter sits above the windows (trajectories must see every day) and
    * references non-partition columns, so Catalyst cannot push it below
    * them — the semantics are safe by construction, in both engines.
    */
  def recoveryWindows(roll: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    val base = Window.partitionBy("user_id").orderBy("day").rowsBetween(-7, -1)
    roll
      .withColumn("score_d1", lead("view_score_filled", 1).over(w))
      .withColumn("score_d2", lead("view_score_filled", 2).over(w))
      .withColumn("score_d3", lead("view_score_filled", 3).over(w))
      .withColumn("spend_d1", lead("purchase_total", 1).over(w))
      .withColumn("spend_d2", lead("purchase_total", 2).over(w))
      .withColumn("baseline_7d",
        Num.roundD(Num.exactSum(col("view_score_filled")).over(base).cast("double")
          / count(col("view_score_filled")).over(base)))
      .filter(col("purchases") >= 1 && col("view_score_filled").isNotNull)
      .withColumn("intensity",
        when(col("purchase_total") >= 40 || coalesce(col("clicks"), lit(0L)) >= 8, "high")
          .when(col("purchase_total") >= 15 || coalesce(col("clicks"), lit(0L)) >= 4, "moderate")
          .otherwise("light"))
      .select(
        col("user_id"), col("day"),
        col("view_score_filled").as("score"),
        col("purchase_total"), col("clicks"), col("intensity"),
        col("baseline_7d"),
        col("score_d1"), col("score_d2"), col("score_d3"),
        col("spend_d1"), col("spend_d2"),
        Num.roundD(col("score_d1") - col("view_score_filled")).as("delta_d1"),
        Num.roundD(col("score_d2") - col("view_score_filled")).as("delta_d2"),
        Num.roundD(col("score_d3") - col("view_score_filled")).as("delta_d3"),
        when(col("score_d1") >= col("baseline_7d"), 1)
          .when(col("score_d2") >= col("baseline_7d"), 2)
          .when(col("score_d3") >= col("baseline_7d"), 3)
          .as("days_to_recover"))
  }

  /** q54: the recovery-window view as a registered query. */
  def q54RecoveryWindows(s: SparkSession, dir: String): DataFrame =
    recoveryWindows(rollup(s, dir)).orderBy("user_id", "day")

  val q54Sql: String = {
    val bw = "OVER (PARTITION BY user_id ORDER BY day " +
      "ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)"
    s"""WITH $rollupCte,
       |daily AS (
       |  SELECT user_id, day, view_score_filled, purchase_total, clicks, purchases,
       |    LEAD(view_score_filled, 1) OVER w AS score_d1,
       |    LEAD(view_score_filled, 2) OVER w AS score_d2,
       |    LEAD(view_score_filled, 3) OVER w AS score_d3,
       |    LEAD(purchase_total, 1) OVER w AS spend_d1,
       |    LEAD(purchase_total, 2) OVER w AS spend_d2,
       |    ${Num.sqlRoundD(
            s"CAST(SUM(CAST(view_score_filled AS DECIMAL(25,6))) $bw AS DOUBLE) " +
              s"/ COUNT(view_score_filled) $bw")} AS baseline_7d
       |  FROM rollup
       |  WINDOW w AS (PARTITION BY user_id ORDER BY day))
       |SELECT user_id, day, view_score_filled AS score,
       |  purchase_total, clicks,
       |  CASE WHEN purchase_total >= 40 OR COALESCE(clicks, 0) >= 8 THEN 'high'
       |       WHEN purchase_total >= 15 OR COALESCE(clicks, 0) >= 4 THEN 'moderate'
       |       ELSE 'light' END AS intensity,
       |  baseline_7d, score_d1, score_d2, score_d3, spend_d1, spend_d2,
       |  ${Num.sqlRoundD("score_d1 - view_score_filled")} AS delta_d1,
       |  ${Num.sqlRoundD("score_d2 - view_score_filled")} AS delta_d2,
       |  ${Num.sqlRoundD("score_d3 - view_score_filled")} AS delta_d3,
       |  CASE WHEN score_d1 >= baseline_7d THEN 1
       |       WHEN score_d2 >= baseline_7d THEN 2
       |       WHEN score_d3 >= baseline_7d THEN 3 END AS days_to_recover
       |FROM daily
       |WHERE purchases >= 1 AND view_score_filled IS NOT NULL
       |ORDER BY user_id, day""".stripMargin
  }

  /** q88: workout-type → next-day recovery with a Mann-Whitney U rank-sum
    * test between the two largest cohorts (reference: insights_engine/
    * insights/workout_recovery.py:92-140 — next-day readiness segmented
    * by prior-day workout category, per-category n/mean/median/std over
    * cohorts of ≥5 observations, then scipy.stats.mannwhitneyu two-sided
    * between the two largest groups — the reference's only non-parametric
    * two-sample test). Mapping: category = the day's activity_state (the
    * §3 stand-in for the workout-type categorization, a per-day CASE like
    * the reference's), outcome = the NEXT day's view score via q39's
    * day+1 pairing.
    *
    * The reference pulls one entity's frame into scipy; this runs the
    * test for EVERY entity in one pass of entity-partitioned windows —
    * no join, no global sort. Cohort sizes and the two-largest selection
    * are count + dense_rank windows over (user, category) — the category
    * name in the ordering makes rank assignment total, so "top 2" is
    * exactly two cohorts. Pooled midranks are RANK + tie-count windows
    * over (user, outcome), kept DOUBLED (2·rank + t − 1, always integral)
    * so rank sums accumulate exactly in longs — q15's midrank discipline.
    * The tie-corrected normal approximation
    * σ² = n1·n2/12 · ((N+1) − Σ(t³−t)/(N(N−1))) with continuity
    * correction matches scipy's asymptotic two-sided method; Σ(t³−t)
    * folds row-wise as Σ(t²−1) (each of a t-row tie group contributes
    * t²−1). p rides [[Num.phi]], the portable erf CDF the oracle replays
    * bit-identically; per-group stats round at the reference's 1dp.
    * Degenerate users — fewer than two ≥5-observation cohorts, or all
    * pooled outcomes tied (σ = 0) — are filtered, not special-cased
    * (q76's guard discipline).
    */
  def q88MannWhitney(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("day")
    val pairs = rollup(s, dir)
      .withColumn("next_day", lead("day", 1).over(w))
      .withColumn("outcome", lead("view_score_filled", 1).over(w))
      .filter(col("next_day") ===
        date_format(date_add(to_date(col("day")), 1), "yyyy-MM-dd"))
      .filter(col("outcome").isNotNull)
      .select(col("user_id"), col("activity_state").as("category"), col("outcome"))
    mannWhitneyPanel(pairs)
  }

  /** The Mann-Whitney panel body over an arbitrary
    * (user_id, category, outcome) observation frame — q88's kernel,
    * exposed so the spec can pin U/z/p on a hand-computed sample.
    */
  def mannWhitneyPanel(pairs: DataFrame): DataFrame = {
    val wCat = Window.partitionBy("user_id", "category")
    val wRank = Window.partitionBy("user_id").orderBy(desc("cat_n"), asc("category"))
    val top2 = pairs
      .withColumn("cat_n", count(lit(1)).over(wCat))
      .filter(col("cat_n") >= 5)
      .withColumn("cat_rank", dense_rank().over(wRank))
      .filter(col("cat_rank") <= 2)
    val wVal = Window.partitionBy("user_id").orderBy("outcome")
    val wTie = Window.partitionBy("user_id", "outcome")
    val ranked = top2
      .withColumn("min_rank", rank().over(wVal).cast("long"))
      .withColumn("tie_n", count(lit(1)).over(wTie))
      .withColumn("r2", lit(2L) * col("min_rank") + col("tie_n") - lit(1L))
    def side(rk: Int) = {
      val v = when(col("cat_rank") === rk, col("outcome"))
      Seq(
        max(when(col("cat_rank") === rk, col("category"))).as(s"g$rk"),
        count(v).cast("double").as(s"n$rk"),
        Num.exactSum(v).cast("double").as(s"sx$rk"),
        Num.exactSum(v * v).cast("double").as(s"sxx$rk"),
        Num.roundD(expr(s"percentile(if(cat_rank = $rk, outcome, null), 0.5)"), 1)
          .as(s"median$rk"))
    }
    val aggs = side(1) ++ side(2) ++ Seq(
      sum(when(col("cat_rank") === 1, col("r2"))).as("r1d"),
      count(lit(1)).cast("double").as("nn"),
      sum(col("tie_n") * col("tie_n") - lit(1L)).as("tie_sum0"))
    val g = ranked.groupBy("user_id").agg(aggs.head, aggs.tail: _*)
      .filter(col("g2").isNotNull)
    val u1 = (col("r1d").cast("double") / lit(2.0)) -
      ((col("n1") * (col("n1") + lit(1.0))) / lit(2.0))
    val mu = (col("n1") * col("n2")) / lit(2.0)
    val sig2 = ((col("n1") * col("n2")) / lit(12.0)) *
      ((col("nn") + lit(1.0)) -
        (col("tie_sum0").cast("double") / (col("nn") * (col("nn") - lit(1.0)))))
    def stdOf(n: Column, sx: Column, sxx: Column): Column = {
      val v = (sxx - sx * sx / n) / (n - lit(1.0))
      Num.roundD(when(v > 0, sqrt(v)).otherwise(lit(0.0)), 1)
    }
    val staged = g
      .withColumn("u1", u1)
      .withColumn("mu", mu)
      .withColumn("sig2", sig2)
      .filter(col("sig2") > 0)
      .withColumn("z_raw",
        ((col("u1") - col("mu")) - (lit(0.5) * signum(col("u1") - col("mu")))) /
          sqrt(col("sig2")))
      .withColumn("p_value", Num.roundD(
        lit(2.0) * (lit(1.0) - Num.phi(abs(col("z_raw"))))))
    staged.select(
      col("user_id"), col("g1"), col("g2"),
      col("n1").cast("bigint").as("n1"), col("n2").cast("bigint").as("n2"),
      Num.roundD(col("sx1") / col("n1"), 1).as("mean1"),
      Num.roundD(col("sx2") / col("n2"), 1).as("mean2"),
      col("median1"), col("median2"),
      stdOf(col("n1"), col("sx1"), col("sxx1")).as("std1"),
      stdOf(col("n2"), col("sx2"), col("sxx2")).as("std2"),
      Num.roundD(col("u1"), 1).as("u_stat"),
      Num.roundD(col("z_raw")).as("z_stat"),
      col("p_value"),
      (col("p_value") < 0.05).cast("int").as("significant"))
      .orderBy("user_id")
  }

  val q88Sql: String =
    s"""WITH $rollupCte,
       |prs AS (
       |  SELECT a.user_id, a.activity_state AS category,
       |    b.view_score_filled AS outcome
       |  FROM rollup a
       |  JOIN rollup b ON b.user_id = a.user_id
       |    AND CAST(b.day AS DATE) = CAST(a.day AS DATE) + INTERVAL 1 DAY
       |  WHERE b.view_score_filled IS NOT NULL),
       |cn AS (
       |  SELECT user_id, category, outcome,
       |    COUNT(*) OVER (PARTITION BY user_id, category) AS cat_n
       |  FROM prs),
       |t2 AS (
       |  SELECT *, DENSE_RANK() OVER
       |      (PARTITION BY user_id ORDER BY cat_n DESC, category) AS cat_rank
       |  FROM cn WHERE cat_n >= 5),
       |rk AS (
       |  SELECT *,
       |    RANK() OVER (PARTITION BY user_id ORDER BY outcome) AS min_rank,
       |    COUNT(*) OVER (PARTITION BY user_id, outcome) AS tie_n
       |  FROM t2 WHERE cat_rank <= 2),
       |g AS (
       |  SELECT user_id,
       |    MAX(CASE WHEN cat_rank = 1 THEN category END) AS g1,
       |    CAST(COUNT(CASE WHEN cat_rank = 1 THEN outcome END) AS DOUBLE) AS n1,
       |    CAST(SUM(CASE WHEN cat_rank = 1 THEN CAST(outcome AS DECIMAL(25,6)) END) AS DOUBLE) AS sx1,
       |    CAST(SUM(CASE WHEN cat_rank = 1 THEN CAST(outcome * outcome AS DECIMAL(25,6)) END) AS DOUBLE) AS sxx1,
       |    ${Num.sqlRoundD("quantile_cont(outcome, 0.5) FILTER (WHERE cat_rank = 1)", 1)} AS median1,
       |    MAX(CASE WHEN cat_rank = 2 THEN category END) AS g2,
       |    CAST(COUNT(CASE WHEN cat_rank = 2 THEN outcome END) AS DOUBLE) AS n2,
       |    CAST(SUM(CASE WHEN cat_rank = 2 THEN CAST(outcome AS DECIMAL(25,6)) END) AS DOUBLE) AS sx2,
       |    CAST(SUM(CASE WHEN cat_rank = 2 THEN CAST(outcome * outcome AS DECIMAL(25,6)) END) AS DOUBLE) AS sxx2,
       |    ${Num.sqlRoundD("quantile_cont(outcome, 0.5) FILTER (WHERE cat_rank = 2)", 1)} AS median2,
       |    SUM(CASE WHEN cat_rank = 1 THEN 2 * min_rank + tie_n - 1 END) AS r1d,
       |    CAST(COUNT(*) AS DOUBLE) AS nn,
       |    SUM(tie_n * tie_n - 1) AS tie_sum0
       |  FROM rk GROUP BY user_id),
       |st AS (
       |  SELECT *,
       |    (CAST(r1d AS DOUBLE) / 2.0) - ((n1 * (n1 + 1.0)) / 2.0) AS u1,
       |    (n1 * n2) / 2.0 AS mu,
       |    ((n1 * n2) / 12.0) *
       |      ((nn + 1.0) - (CAST(tie_sum0 AS DOUBLE) / (nn * (nn - 1.0)))) AS sig2
       |  FROM g WHERE g2 IS NOT NULL),
       |zc AS (
       |  SELECT *,
       |    ((u1 - mu) - (0.5 * SIGN(u1 - mu))) / SQRT(sig2) AS z_raw
       |  FROM st WHERE sig2 > 0),
       |za AS (SELECT *, ABS(z_raw) AS az FROM zc),
       |pc AS (
       |  SELECT *, ${Num.sqlRoundD(s"2.0 * (1.0 - ${Num.sqlPhi("az")})")} AS p_value
       |  FROM za)
       |SELECT user_id, g1, g2,
       |  CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       |  ${Num.sqlRoundD("sx1 / n1", 1)} AS mean1,
       |  ${Num.sqlRoundD("sx2 / n2", 1)} AS mean2,
       |  median1, median2,
       |  ${Num.sqlRoundD(
            "CASE WHEN (sxx1 - sx1 * sx1 / n1) / (n1 - 1.0) > 0 " +
            "THEN SQRT((sxx1 - sx1 * sx1 / n1) / (n1 - 1.0)) ELSE 0.0 END", 1)} AS std1,
       |  ${Num.sqlRoundD(
            "CASE WHEN (sxx2 - sx2 * sx2 / n2) / (n2 - 1.0) > 0 " +
            "THEN SQRT((sxx2 - sx2 * sx2 / n2) / (n2 - 1.0)) ELSE 0.0 END", 1)} AS std2,
       |  ${Num.sqlRoundD("u1", 1)} AS u_stat,
       |  ${Num.sqlRoundD("z_raw")} AS z_stat,
       |  p_value,
       |  CAST(p_value < 0.05 AS INT) AS significant
       |FROM pc
       |ORDER BY user_id""".stripMargin
}
