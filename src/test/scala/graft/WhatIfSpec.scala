package graft

import graft.operators.Predictive
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q38's single-aggregate what-if table against the four-table fan-out it
  * replaced: separate regression, baseline, per-bucket and per-state
  * model tables joined to a literal grid. The fan-out lives only here, as
  * the reference shape the one-pass plan must reproduce row for row.
  */
class WhatIfSpec extends SparkSpec {

  private def fanOut(pairs: DataFrame): DataFrame = {
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(25, 6)
    val reg = pairs.agg(
        count(lit(1)).cast("double").as("n"),
        Num.exactSum(col("prev_score")).cast("double").as("sx"),
        Num.exactSum(col("next_purchase_total")).cast("double").as("sy"),
        sum((col("prev_score") * col("next_purchase_total")).cast(dec))
          .cast("double").as("sxy"),
        sum((col("prev_score") * col("prev_score")).cast(dec))
          .cast("double").as("sxx"))
      .select(
        col("n").cast("long").as("n_history"),
        Num.roundD((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
        Num.roundD((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) / col("n"))
          .as("intercept"))
    val overall = pairs.agg(
        count(lit(1)).cast("double").as("n"),
        Num.exactSum(col("next_purchase_total")).cast("double").as("sx"),
        sum((col("next_purchase_total") * col("next_purchase_total")).cast(dec))
          .cast("double").as("sxx"))
      .select(
        Num.roundD(col("sx") / col("n")).as("baseline_mean"),
        Num.roundD(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) /
          (col("n") - 1.0))).as("baseline_std"))
    val buckets = pairs.groupBy(col("prev_quality").as("bucket"))
      .agg(
        count(lit(1)).as("bucket_n"),
        Num.exactSum(col("next_purchase_total")).cast("double").as("bsx"),
        sum((col("next_purchase_total") * col("next_purchase_total")).cast(dec))
          .cast("double").as("bsxx"))
      .select(col("bucket"), col("bucket_n"),
        when(col("bucket_n") > 1,
          Num.roundD(sqrt((col("bsxx") - col("bsx") * col("bsx") / col("bucket_n")) /
            (col("bucket_n") - lit(1.0))))).as("bucket_std"))
    val states = pairs.groupBy(col("prev_state").as("state"))
      .agg(Num.avgD(col("next_purchase_total")).as("state_mean"))
    val grid = Seq(45.0, 65.0, 80.0, 92.0)
      .flatMap(sc => Seq("power", "buyer", "active", "passive").map(st => (sc, st)))
      .toDF("scenario_score", "scenario_state")
    val qualityBucket = when(col("scenario_score") >= 88, "excellent")
      .when(col("scenario_score") >= 75, "good")
      .when(col("scenario_score") >= 60, "fair").otherwise("poor")
    val predictedRaw = col("slope") * col("scenario_score") + col("intercept") +
      coalesce(col("state_delta"), lit(0.0))
    val predicted = greatest(lit(0.0), predictedRaw)
    val sd = coalesce(col("bucket_std"), col("baseline_std"))
    grid
      .crossJoin(broadcast(reg))
      .crossJoin(broadcast(overall))
      .join(broadcast(buckets), qualityBucket === col("bucket"), "left")
      .join(broadcast(states
          .crossJoin(overall.select(col("baseline_mean").as("bm")))
          .select(col("state"),
            Num.roundD(col("state_mean") - col("bm"), 2).as("state_delta"))),
        col("scenario_state") === col("state"), "left")
      .select(
        col("scenario_score"), col("scenario_state"), col("n_history"),
        Num.roundD(predicted, 2).as("predicted_outcome"),
        Num.roundD(greatest(lit(0.0), predicted - sd), 2).as("conf_lo"),
        Num.roundD(predicted + sd, 2).as("conf_hi"),
        coalesce(col("state_delta"), lit(0.0)).as("state_delta"),
        Num.roundD(predicted - col("baseline_mean"), 2).as("vs_baseline"),
        when(predicted >= col("baseline_mean") * 1.2, "push")
          .when(predicted >= col("baseline_mean"), "steady")
          .when(predicted >= col("baseline_mean") * 0.8, "light")
          .otherwise("recover").as("recommendation"),
        coalesce(col("bucket_n"), lit(0L)).as("bucket_n"))
      .orderBy("scenario_score", "scenario_state")
  }

  private def assertSame(pairs: DataFrame): Array[org.apache.spark.sql.Row] = {
    val got = Predictive.whatIfTable(pairs)
    val want = fanOut(pairs)
    assert(got.schema.map(f => f.name -> f.dataType) ==
      want.schema.map(f => f.name -> f.dataType))
    val (g, w) = (got.collect(), want.collect())
    assert(g.length == 16)
    // doubles compare with ==: the one-pass sums must be bit-identical
    assert(g.toSeq == w.toSeq, s"\n${g.mkString("\n")}\nvs\n${w.mkString("\n")}")
    g
  }

  test("whatIfTable equals the four-table fan-out on sf0.001") {
    val pairs = Predictive.nextDayPairs(graft.operators.Windows.dailyRollup(spark, Sf))
    assertSame(pairs)
  }

  test("whatIfTable: an absent bucket and state fall back like the left joins did") {
    import spark.implicits._
    // no 'excellent' bucket and no 'power' state; 'fair' has one row, so
    // its spread is null and the baseline spread stands in
    val pairs = Seq(
      (50.0, "poor", "buyer", 12.5), (55.0, "poor", "active", 30.25),
      (58.0, "poor", "passive", 7.0), (62.0, "fair", "buyer", 18.0),
      (76.0, "good", "active", 40.5), (80.0, "good", "passive", 22.75),
      (86.0, "good", "buyer", 35.0))
      .toDF("prev_score", "prev_quality", "prev_state", "next_purchase_total")
    val rows = assertSame(pairs)
    val byKey = rows.map(r => (r.getDouble(0), r.getString(1)) -> r).toMap
    // scenario 92 is 'excellent': no history rows in that bucket
    assert(byKey((92.0, "buyer")).getAs[Long]("bucket_n") == 0L)
    assert(byKey((65.0, "buyer")).getAs[Long]("bucket_n") == 1L)
    assert(rows.filter(_.getString(1) == "power")
      .forall(_.getAs[Double]("state_delta") == 0.0))
    assert(rows.forall(_.getAs[Long]("n_history") == 7L))
  }
}
