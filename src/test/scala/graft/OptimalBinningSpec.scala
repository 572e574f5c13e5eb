package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators._

/** Shared local SparkSession for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Session.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val breastCancer = "/root/reference/tests/data/breast_cancer.parquet"
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

/** Golden-value tests from the reference's own suite
  * (`tests/test_binning.py:164-190`): optimal splits and IV on sklearn
  * breast-cancer "mean radius" with default parameters.
  */
class OptimalBinningSpec extends AnyFunSuite with BeforeAndAfterAll {

  test("breast cancer mean radius: default fit matches reference goldens") {
    val spark = TestSpark.spark
    val df = spark.read.parquet(TestSpark.breastCancer)
    // reference target: 0 = malignant event? tests use y = data.target with
    // event = 1... OptimalBinning treats y==0 as nonevent, y==1 as event.
    val fitted = OptimalBinning.fit(df, "mean radius", "target",
                                    BinningConfig(name = "mean radius"))
    val expected = Array(11.42500019, 12.32999992, 13.09499979,
                         13.70499992, 15.04500008, 16.92500019)
    assert(fitted.status == "OPTIMAL")
    assert(fitted.splits.length == expected.length,
           s"got splits ${fitted.splits.mkString(",")}")
    fitted.splits.zip(expected).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-6, s"split $a vs $b")
    }
    assert(math.abs(fitted.table.iv - 5.04392547) < 1e-6,
           s"iv ${fitted.table.iv}")
    assert(math.abs(fitted.table.gini - 0.87541620) < 1e-6,
           s"gini ${fitted.table.gini}")
    assert(math.abs(fitted.table.js - 0.39378376) < 1e-6,
           s"js ${fitted.table.js}")
  }

  test("user splits with max_pvalue: golden IV (test_binning.py:207-217)") {
    val spark = TestSpark.spark
    val df = spark.read.parquet(TestSpark.breastCancer)
    val userSplits = Array[Double](11, 12, 13, 14, 15, 17)
    for (policy <- Seq("consecutive", "all")) {
      val fitted = OptimalBinning.fit(
        df, "mean radius", "target",
        BinningConfig(name = "mean radius", userSplits = Some(userSplits),
                      maxPvalue = Some(0.05), maxPvaluePolicy = policy))
      assert(fitted.status == "OPTIMAL")
      assert(fitted.splits.toSeq == Seq(13.0, 15.0, 17.0),
             s"policy $policy splits ${fitted.splits.mkString(",")}")
      assert(math.abs(fitted.table.iv - 4.819661314733627) < 1e-6,
             s"policy $policy iv ${fitted.table.iv}")
    }
  }

  test("transform woe: round-trip totality (clean/missing rows)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = spark.read.parquet(TestSpark.breastCancer)
    val fitted = OptimalBinning.fit(df, "mean radius", "target",
                                    BinningConfig(name = "mean radius"))
    val woeCol = fitted.transform(org.apache.spark.sql.functions.col("mean radius"))
    val out = df.select(woeCol.as("woe")).as[Double].collect()
    assert(out.length == 569)
    assert(out.forall(v => !v.isNaN))
    val distinctWoe = out.distinct.sorted
    assert(distinctWoe.length == fitted.splits.length + 1)
  }

  val goldenSplits = Array(11.42500019, 12.32999992, 13.09499979,
                           13.70499992, 15.04500008, 16.92500019)

  test("outlier detectors reproduce reference goldens (test_binning.py:394)") {
    val spark = TestSpark.spark
    val df = spark.read.parquet(TestSpark.breastCancer)
    // zscore: default threshold keeps all golden splits
    val zs = OptimalBinning.fit(df, "mean radius", "target",
      BinningConfig(outlierDetector = Some("zscore")))
    assert(zs.splits.length == goldenSplits.length,
           zs.splits.mkString(","))
    zs.splits.zip(goldenSplits).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-6) }
    // range ETI and HDI at interval_length 0.9: same goldens
    for (m <- Seq("ETI", "HDI")) {
      val r = OptimalBinning.fit(df, "mean radius", "target",
        BinningConfig(outlierDetector = Some("range"),
                      outlierParams = Map("interval_length" -> 0.9,
                                          "method" -> m)))
      assert(r.splits.length == goldenSplits.length,
             s"$m: ${r.splits.mkString(",")}")
      r.splits.zip(goldenSplits).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-6) }
    }
  }

  test("auto trend modes reproduce the golden splits (test_binning.py:370)") {
    val spark = TestSpark.spark
    val df = spark.read.parquet(TestSpark.breastCancer)
    for (trend <- Seq("auto", "auto_heuristic", "auto_asc_desc",
                      "descending")) {
      val f = OptimalBinning.fit(df, "mean radius", "target",
        BinningConfig(monotonicTrend = Some(trend)))
      assert(f.status == "OPTIMAL", trend)
      assert(f.splits.length == goldenSplits.length,
             s"$trend: ${f.splits.mkString(",")}")
      f.splits.zip(goldenSplits).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-6, s"$trend $a vs $b") }
    }
  }

  test("min/max n_bins bound the solution (test_binning.py:384)") {
    val spark = TestSpark.spark
    val df = spark.read.parquet(TestSpark.breastCancer)
    val f = OptimalBinning.fit(df, "mean radius", "target",
      BinningConfig(minNBins = Some(2), maxNBins = Some(5)))
    assert(f.status == "OPTIMAL")
    assert(f.splits.length + 1 >= 2 && f.splits.length + 1 <= 5,
           f.splits.mkString(","))
  }

  test("user_splits_fixed semantics (test_binning.py:233-281)") {
    val spark = TestSpark.spark
    val df = spark.read.parquet(TestSpark.breastCancer)
    // fixing a split that pure-bin refinement must drop -> INFEASIBLE
    val bad = OptimalBinning.fit(df, "mean radius", "target",
      BinningConfig(
        userSplits = Some(Array(11, 12, 13, 14, 15, 16, 17)),
        userSplitsFixed = Some(Array(false, false, false, false, false,
                                     true, false))))
    assert(bad.status == "INFEASIBLE", bad.status)
    // a feasible fixed split is honored and costs some objective
    val fixed = OptimalBinning.fit(df, "mean radius", "target",
      BinningConfig(
        userSplits = Some(Array(11, 12, 13, 14, 15, 17)),
        userSplitsFixed = Some(Array(false, true, false, false, false,
                                     false))))
    assert(fixed.status == "OPTIMAL")
    assert(fixed.splits.exists(s => math.abs(s - 12.0) < 1e-9),
           fixed.splits.mkString(","))
    val free = OptimalBinning.fit(df, "mean radius", "target",
                                  BinningConfig())
    assert(fixed.table.iv <= free.table.iv + 1e-9)
  }

  test("fit timings: phases account for the whole wall time " +
       "(information() parity, binning.py:670-702)") {
    val spark = TestSpark.spark
    val df = spark.read.parquet(TestSpark.breastCancer)
    val f = OptimalBinning.fit(df, "mean radius", "target", BinningConfig())
    val t = f.timings
    for (k <- Seq("total", "data_pass", "solver", "postprocessing")) {
      assert(t.contains(k), s"missing phase $k")
      assert(t(k) >= 0.0, s"$k negative: ${t(k)}")
    }
    assert(t("total") > 0.0)
    val phaseSum = t("data_pass") + t("solver") + t("postprocessing")
    assert(math.abs(t("total") - phaseSum) < 1e-6,
           s"phases $phaseSum vs total ${t("total")}")
    assert(f.information().contains("solver"))

    val c = ContinuousOptimalBinning.fit(df, "mean radius", "mean area",
                                         BinningConfig())
    val ct = c.timings
    val cSum = ct("data_pass") + ct("solver") + ct("postprocessing")
    assert(math.abs(ct("total") - cSum) < 1e-6,
           s"phases $cSum vs total ${ct("total")}")
    assert(c.information().contains("data pass"))

    // the pinned single-scan path reports the same phase breakdown
    val p = ContinuousOptimalBinning.fit(df, "mean radius", "mean area",
      BinningConfig(userSplits = Some(Array(12.0, 15.0)),
                    monotonicTrend = None))
    assert(math.abs(p.timings("total") -
      (p.timings("data_pass") + p.timings("solver") +
       p.timings("postprocessing"))) < 1e-6)

    // multiclass reports the same contract
    import org.apache.spark.sql.functions.{col, when}
    val m3 = df.withColumn("cls3",
      when(col("mean area") < 500, 0.0)
        .when(col("mean area") < 800, 1.0).otherwise(2.0))
    val m = MulticlassOptimalBinning.fit(m3, "mean radius", "cls3",
                                         BinningConfig())
    val mt = m.timings
    val mSum = mt("data_pass") + mt("solver") + mt("postprocessing")
    assert(math.abs(mt("total") - mSum) < 1e-6,
           s"phases $mSum vs total ${mt("total")}")
    assert(m.information().contains("classes"))

    // 2D: data_pass + solver account for the total
    val f2 = OptimalBinning2D.fit(df, "mean radius", "mean texture",
                                  "target", OptimalBinning2D.Config2D())
    val t2 = f2.timings
    assert(math.abs(t2("total") - (t2("data_pass") + t2("solver")))
             < 1e-6, t2.toString)
    assert(f2.information().contains("rectangles"))

    // piecewise: binning_fit + data_pass + solver + postprocessing
    val pw = PWBinning.fit(df, "mean radius", "target")
    val pt = pw.timings
    val pwSum = pt("binning_fit") + pt("data_pass") + pt("solver") +
      pt("postprocessing")
    assert(math.abs(pt("total") - pwSum) < 1e-6, pt.toString)
    assert(pw.information().contains("binning fit"))
  }

  test("gamma regularization merges dominating bins (test_binning.py:424)") {
    val spark = TestSpark.spark
    val df = spark.read.parquet(TestSpark.breastCancer)
    val g = OptimalBinning.fit(df, "mean radius", "target",
      BinningConfig(gamma = 4.0))
    assert(g.status == "OPTIMAL")
    assert(g.splits.length < 6, g.splits.mkString(","))
    // sanity: gamma=0 objective is an upper bound on the pure-IV part
    val base = OptimalBinning.fit(df, "mean radius", "target",
                                  BinningConfig())
    assert(g.table.iv <= base.table.iv + 1e-9)
  }
}
