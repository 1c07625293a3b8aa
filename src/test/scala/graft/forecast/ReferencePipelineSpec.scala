package graft.forecast

import graft.SparkSpec
import graft.ml.ForecastModels

/** E2E replay on sf0.001: the full reference flow must run and produce a
  * coherent scorecard (finite metrics, sensible split, KPI columns). */
class ReferencePipelineSpec extends SparkSpec {

  private val Sf0001 = "/root/testdata/sf0.001"

  test("referenceCompat frame carries the reference's full feature width") {
    val daily = Forecast.dailySalesCompat(
      graft.Tables.salesLines(spark, Sf0001))
    val frame = ReferencePipeline.featureFrameCompat(daily)
    val lagCols = frame.columns.filter(_.startsWith("lag_"))
    val rollCols = frame.columns.filter(_.startsWith("roll_"))
    val diffCols = frame.columns.filter(_.startsWith("diff_"))
    assert(lagCols.length === 36) // 6 lags × {qty,price} × {day,6daycycle,dow}
    assert(rollCols.length === 18) // {3,6,12}d + {3,4,5}_dow × mean/std/median
    assert(diffCols.length === 12) // mean+median diffs vs both families
    // the reference's literal column names (py:617-646)
    assert(lagCols.contains("lag_quantity_4_6daycycle"))
    assert(diffCols.contains("diff_qty_median_5_dow"))
    // assembler width = 5 calendar + 71 numeric-derived + 2 indexers = 73,
    // exactly the feature_columns_v3 set (py:1006-1061)
    val numeric = graft.ml.ForecastModels.numericFeatureCols(frame)
    assert(numeric.length + 2 === 73, s"got ${numeric.length} numeric cols")
    // lag columns are the reference's rounded integers (round(...,0))
    val row = frame
      .filter(frame("lag_price_1_day").isNotNull)
      .select("lag_price_1_day").limit(200)
      .collect()
    assert(row.nonEmpty)
    row.foreach { r =>
      val v = r.getDouble(0)
      assert(v === math.rint(v), s"lag price $v not integer-rounded")
    }
  }

  test("referenceCompat pipeline runs end-to-end and still beats nothing-burger metrics") {
    val r = ReferencePipeline.run(
      spark, Sf0001, cutoff = "1999-09-01", models = Seq("lr"),
      referenceCompat = true)
    assert(r.trainRows > 0 && r.testRows > 0)
    val lr = r.scorecards.head
    assert(!lr.mae.isNaN && lr.mae > 0)
    assert(!r.maeModel.isNaN && !r.maeBaseline.isNaN)
  }

  test("full pipeline replays end-to-end on sf0.001 with LR") {
    val r = ReferencePipeline.run(
      spark, Sf0001, cutoff = "1999-09-01", models = Seq("lr"))
    assert(r.trainRows > 0 && r.testRows > 0)
    // ~64/36 style time split (reference proportions are cutoff-dependent;
    // just require both sides substantial)
    assert(r.testRows.toDouble / (r.trainRows + r.testRows) > 0.2)
    val lr = r.scorecards.head
    assert(lr.name === "lr_v2")
    assert(!lr.mae.isNaN && lr.mae > 0)
    assert(!lr.rmse.isNaN && lr.rmse >= lr.mae)
    assert(!r.maeModel.isNaN && !r.maeBaseline.isNaN)
    assert(!r.valueWeightedReductionPct.isNaN)
    // Published-scorecard ORDERING replay (BASELINE.md "KPIs vs baseline",
    // README.md:44-72): the exact UCI metric values are unreachable in the
    // sandbox (no UCI data), but the reference's qualitative scorecard —
    // the lag-feature Lasso beats the MA(6)+last-value baseline on MAE, and
    // the value-weighted error reduction is positive — must reproduce on
    // the synthetic fixture; a pipeline that inverted either ordering would
    // not be the reference's pipeline.
    assert(r.maeModel < r.maeBaseline,
      s"LR MAE ${r.maeModel} must beat baseline MAE ${r.maeBaseline} (published: 1.50 vs 18.18)")
    assert(r.valueWeightedReductionPct > 0,
      s"value-weighted reduction ${r.valueWeightedReductionPct}% must be positive (published: 83.49%)")
  }

  for (compat <- Seq(false, true))
    test(s"fused KPI over cached features equals kpiGlobal + valueWeighted over daily (referenceCompat=$compat)") {
      val sales = graft.Tables.salesLines(spark, Sf0001)
      val daily = if (compat) Forecast.dailySalesCompat(sales) else Forecast.dailySales(sales)
      val features = (if (compat) ReferencePipeline.featureFrameCompat(daily)
        else ReferencePipeline.featureFrame(daily)).cache()
      val (train, test) = ForecastModels.timeSplit(features, "1999-09-01")
      val fp = ForecastModels.featurePipeline(ForecastModels.numericFeatureCols(features)).fit(train)
      val pred = ForecastModels.fitPredict(ForecastModels.lasso(0.05), fp, train, test)
      def values(df: org.apache.spark.sql.DataFrame): Map[String, Any] = {
        val r = df.head()
        r.getValuesMap[Any](r.schema.fieldNames.toSeq)
      }
      val fused = values(Forecast.kpiGlobalWithValueWeighted(Forecast.evalAgainstBaseline(features, pred)))
      val split = Forecast.evalAgainstBaseline(daily, pred)
      val kpi = values(Forecast.kpiGlobal(split))
      val vw = values(Forecast.valueWeighted(split))
      assert(fused.keySet === kpi.keySet ++ vw.keySet)
      assert(fused === kpi ++ vw)
      pred.unpersist()
      features.unpersist()
    }

  test("a pipeline run leaves no persisted RDD behind") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    ReferencePipeline.run(
      spark, Sf0001, cutoff = "1999-09-01", models = Seq("lr"))
    val after = sc.getPersistentRDDs.keySet
    // compared by id, not by count: the ContextCleaner may release another
    // suite's unreachable pins while the run is in flight
    assert((after -- before).isEmpty, s"leaked persisted RDDs: ${after -- before}")
  }
}
