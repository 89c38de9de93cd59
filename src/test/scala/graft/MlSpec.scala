package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.metrics.Metrics
import graft.ml.{Featurize, Importance, Models, SegmentedModel}
import graft.TestSpark.withTempDir

/** §2.8 ML operators: fit/predict pipelines, segmented dispatch,
  * importances, splits, save/load. Parity with the reference is
  * metric-tolerance (SURVEY.md §7 risk 2), so these assert learnability
  * and semantics, not prediction identity.
  */
class MlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  /** Deterministic learnable fixture: y = 3x1 - 2x2 + 5 (+ tiny noise),
    * with an `is_event` stripe where the relation flips.
    */
  private lazy val fixture: DataFrame = {
    val rows = (0 until 2000).map { i =>
      val x1 = (i % 50).toDouble
      val x2 = ((i * 7) % 31).toDouble
      val isEvent = if (i % 13 == 0) 1 else 0
      val noise = math.sin(i.toDouble) * 0.01
      val y =
        if (isEvent == 1) -3.0 * x1 + 2.0 * x2 + 40.0 + noise
        else 3.0 * x1 - 2.0 * x2 + 5.0 + noise
      (i.toLong, x1, x2, isEvent, y)
    }
    rows.toDF("id", "x1", "x2", "is_event", "y")
  }

  test("M1 OLS recovers exact coefficients on a noiseless-ish fit") {
    val df = fixture.filter($"is_event" === 0)
    val model = Models.ols(Seq("x1", "x2"), "y").fit(df)
    val lr = model.stages.last
      .asInstanceOf[org.apache.spark.ml.regression.LinearRegressionModel]
    assert(math.abs(lr.coefficients(0) - 3.0) < 1e-3)
    assert(math.abs(lr.coefficients(1) + 2.0) < 1e-3)
    assert(math.abs(lr.intercept - 5.0) < 0.05)
  }

  test("M2 random forest fits and scores R2 > 0.9 on the learnable fixture") {
    val df = fixture.filter($"is_event" === 0)
    val model = Models.randomForest(Seq("x1", "x2"), "y",
      numTrees = 20, maxDepth = 8).fit(df)
    val r2 = model.transform(df)
      .agg(Metrics.r2($"y", $"prediction")).head().getDouble(0)
    assert(r2 > 0.9)
  }

  test("M3 GBT fits and scores R2 > 0.9") {
    val df = fixture.filter($"is_event" === 0)
    val model = Models.gbt(Seq("x1", "x2"), "y", maxIter = 20).fit(df)
    val r2 = model.transform(df)
      .agg(Metrics.r2($"y", $"prediction")).head().getDouble(0)
    assert(r2 > 0.9)
  }

  test("M3 early stopping halts before maxIter and holds heldout R2") {
    // The learnable stripe plateaus fast: with a generous iteration
    // budget, validation improvement drops below tol well before 150
    // trees — the reference's early_stopping=True behavior
    // (HistGradientBoostingRegressor.py:121).
    val df = fixture.filter($"is_event" === 0)
    val (train, heldout) = Models.randomSplit(df, 0.2, seed = 7)
    val (model, nTrees) = Models.fitGbtEarlyStopping(
      train, Seq("x1", "x2"), "y", maxIter = 150, validationTol = 0.01)
    assert(nTrees < 150, s"early stopping never engaged: $nTrees trees")
    assert(nTrees >= 5, s"stopped implausibly early: $nTrees trees")
    val r2 = model.transform(heldout)
      .agg(Metrics.r2($"y", $"prediction")).head().getDouble(0)
    assert(r2 > 0.85, s"heldout r2=$r2") // reference golden R2 0.8889 band
  }

  test("M4 SegmentedModel routes per-row on the event mask") {
    val seg = SegmentedModel.fit(fixture, "is_event",
      (featCol, predCol) => Models.gbt(Seq("x1", "x2"), "y", maxIter = 20,
        featuresCol = featCol, predictionCol = predCol))
    val out = seg.transform(fixture).cache()
    // Per-segment R2 must both be high — a single global model can't fit
    // the flipped event stripe, the segmented one can.
    val r2n = out.filter($"is_event" === 0)
      .agg(Metrics.r2($"y", $"prediction")).head().getDouble(0)
    val r2e = out.filter($"is_event" === 1)
      .agg(Metrics.r2($"y", $"prediction")).head().getDouble(0)
    assert(r2n > 0.9, s"normal segment r2=$r2n")
    assert(r2e > 0.5, s"event segment r2=$r2e")
    assert(!out.columns.contains(SegmentedModel.normalPredCol))
    out.unpersist()
  }

  test("M4 fit oversamples rare events (<10%) without changing semantics") {
    // events are 1/13 ≈ 7.7% of the fixture → oversample path taken;
    // smoke: fit succeeds and still predicts both segments.
    val seg = SegmentedModel.fit(fixture, "is_event",
      (f, p) => Models.ols(Seq("x1", "x2"), "y", featuresCol = f, predictionCol = p))
    assert(seg.transform(fixture).select("prediction").count() == 2000)
  }

  test("M5 random split partitions all rows with approximate fractions") {
    val (train, test) = Models.randomSplit(fixture, 0.15, seed = 42)
    val (n, t) = (train.count(), test.count())
    assert(n + t == 2000)
    assert(t > 150 && t < 450) // loose: RNG tolerance
  }

  test("A11 impurity importance ranks the signal feature above noise") {
    val withNoise = fixture.filter($"is_event" === 0)
      .withColumn("noise", (col("id") % 2).cast("double"))
    val model = Models.randomForest(Seq("x1", "noise"), "y",
      numTrees = 20, maxDepth = 8).fit(withNoise)
    val imp = Importance.featureImportances(model, Seq("x1", "noise")).toMap
    assert(imp("x1") > imp("noise"))
  }

  test("A12 permutation importance: shuffling the signal column hurts most") {
    val df = fixture.filter($"is_event" === 0).select("x1", "x2", "y")
    val model = Models.ols(Seq("x1", "x2"), "y").fit(df)
    val imp = Importance.permutationImportance(model, df, Seq("x1", "x2"), "y",
      repeats = 2).toMap
    assert(imp("x1") > 0.1 && imp("x2") > 0.1) // both carry signal
  }

  test("shuffleColumn preserves the column multiset") {
    val df = fixture.limit(100).select("id", "x1")
    val shuffled = Importance.shuffleColumn(df, "x1", seed = 7)
    val a = df.groupBy("x1").count().orderBy("x1").collect().toSeq
    val b = shuffled.groupBy("x1").count().orderBy("x1").collect().toSeq
    assert(a == b)
    assert(shuffled.columns.sorted.toSeq == Seq("id", "x1"))
  }

  test("S14 model save/load roundtrip predicts identically") {
    withTempDir("graft-model") { tmp =>
      val df = fixture.filter($"is_event" === 0)
      val model = Models.ols(Seq("x1", "x2"), "y").fit(df)
      val dir = tmp.toString
      Models.save(model, dir)
      val loaded = Models.load(dir)
      val orig = model.transform(df).agg(sum("prediction")).head().getDouble(0)
      val re = loaded.transform(df).agg(sum("prediction")).head().getDouble(0)
      assert(math.abs(orig - re) < 1e-6)
    }
  }

  test("M4+S14: SegmentedModel save/load roundtrip predicts identically") {
    withTempDir("graft-seg") { tmp =>
      // the second mask name needs JSON escaping in the saved metadata
      Seq("is_event", "is \"event\" \\ flag").foreach { mask =>
        val data = fixture.withColumnRenamed("is_event", mask)
        val seg = SegmentedModel.fit(data, mask,
          (f, p) => Models.ols(Seq("x1", "x2"), "y", featuresCol = f, predictionCol = p),
          expm1Inverse = false)
        val dir = tmp.toString
        SegmentedModel.save(seg, dir)
        val loaded = SegmentedModel.load(dir)
        assert(loaded.maskCol == mask && !loaded.expm1Inverse)
        val a = seg.transform(data).agg(sum("prediction")).head().getDouble(0)
        val b = loaded.transform(data).agg(sum("prediction")).head().getDouble(0)
        assert(math.abs(a - b) < 1e-9)
      }
    }
  }

  test("M4+S14: SegmentedModel nests as a stage in a persisted MLlib Pipeline") {
    withTempDir("graft-seg-pipe") { tmp =>
      val seg = SegmentedModel.fit(fixture, "is_event",
        (f, p) => Models.ols(Seq("x1", "x2"), "y", featuresCol = f, predictionCol = p))
      // A fitted Pipeline whose only stage is an already-fitted Transformer:
      // save goes through SegmentedModel.write, load dispatches back through
      // SegmentedModel.read via the metadata class name.
      val pm = new org.apache.spark.ml.Pipeline().setStages(Array(seg)).fit(fixture)
      val dir = tmp.toString
      pm.write.overwrite().save(dir)
      val loaded = org.apache.spark.ml.PipelineModel.load(dir)
      assert(loaded.stages.head.isInstanceOf[SegmentedModel])
      val a = pm.transform(fixture).agg(sum("prediction")).head().getDouble(0)
      val b = loaded.transform(fixture).agg(sum("prediction")).head().getDouble(0)
      assert(math.abs(a - b) < 1e-9)
    }
  }

  test("golden metrics: reference configs land in the published R2 bands on the seasonal fixture") {
    // Runtime-bounded version of the committed METRICS_rN.json run
    // (GoldenMetrics.main, full reference configs at nHours=8760): the
    // same feature pipeline and model families on the same calibrated
    // fixture, smaller ensemble/horizon. Band per SURVEY §7 risk 2:
    // metric tolerance, not prediction identity. Deterministic — the
    // fixture is hash-generated and every seed is fixed.
    val (rfR2, gbtR2, nTrees) = graft.GoldenMetrics.fit(spark,
      nHours = 2500, rfTrees = 30, gbtIter = 80)
    assert(math.abs(rfR2 - graft.GoldenMetrics.publishedRf) <= 0.05,
      s"rf r2=$rfR2 vs published ${graft.GoldenMetrics.publishedRf}")
    assert(math.abs(gbtR2 - graft.GoldenMetrics.publishedGbt) <= 0.05,
      s"gbt r2=$gbtR2 vs published ${graft.GoldenMetrics.publishedGbt}")
    assert(nTrees <= 80)
  }

  test("F15 one-hot drop_first drops the alphabetically-first value") {
    val df = Seq("b", "a", "c").toDF("v")
    val oh = Featurize.oneHot(df, "v", Seq("b", "a", "c"), "p")
    assert(oh.columns.toSet == Set("v", "p_b", "p_c"))
    val row = oh.filter($"v" === "b").head()
    assert(row.getAs[Int]("p_b") == 1 && row.getAs[Int]("p_c") == 0)
  }

  test("woeIv: hand-computed WOE and IV on a perfectly separating 2-bin split") {
    import org.apache.spark.sql.functions.col
    // x in {1,2,3,4}, target = x >= 3: bin 1 holds {1,2} (0 pos),
    // bin 2 holds {3,4} (2 pos). With s=0.5, T_pos=T_neg=2:
    //   woe_1 = ln((0.5/2)/(2.5/2)) = ln(0.2), woe_2 = ln(5)
    //   iv    = (0-1)ln(0.2) + (1-0)ln(5) = 2·ln(5)
    val df = Seq((1.0, 0), (2.0, 0), (3.0, 1), (4.0, 1)).toDF("x", "t")
    val got = Featurize.woeIv(df, col("x"), col("t") === 1, nBins = 2,
      tieBreak = Seq(col("x"))).orderBy("bin").collect()
    assert(got.map(_.getAs[Long]("n_pos")).toSeq == Seq(0L, 2L))
    assert(math.abs(got(0).getAs[Double]("woe") - math.log(0.2)) < 1e-12)
    assert(math.abs(got(1).getAs[Double]("woe") - math.log(5.0)) < 1e-12)
    assert(math.abs(got(0).getAs[Double]("iv") - 2 * math.log(5.0)) < 1e-12)
    assert(got(0).getAs[Double]("x_lo") == 1.0 &&
      got(0).getAs[Double]("x_hi") == 2.0)
  }
}
