package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.sources._

class MonitoringAndIOSpec extends AnyFunSuite {

  private def li = {
    val spark = TestSpark.spark
    spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
      .withColumn("y", when(col("l_returnflag") === "R", 1.0).otherwise(0.0))
  }

  test("ModelIO: JSON round-trip preserves transform semantics") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = li
    val fitted = OptimalBinning.fit(df, "l_extendedprice", "y",
                                    BinningConfig(name = "x"))
    val restored = ModelIO.fromJson(ModelIO.toJson(fitted))
    assert(restored.splits.toSeq == fitted.splits.toSeq)
    assert(restored.table.iv == fitted.table.iv)
    val a = df.select(fitted.transform(col("l_extendedprice")).as("w"))
      .as[Double].collect()
    val b = df.select(restored.transform(col("l_extendedprice")).as("w"))
      .as[Double].collect()
    assert(a.toSeq == b.toSeq)
  }

  test("ScorecardMonitoring: psi/significance/performance reports") {
    val df = li
    val sc = Scorecard.fit(df, Seq("l_extendedprice", "l_quantity"), "y")
    val mon = new ScorecardMonitoring(sc, psiNBins = 10)
    val expected = df.where(col("l_orderkey") % 2 === 0)
    val actual = df.where(col("l_orderkey") % 2 === 1)
    val psi = mon.psiTotal(expected, actual)
    // same-distribution halves: insignificant change
    assert(psi >= 0 && psi < 0.1, s"psi $psi")
    assert(Monitoring.psiVerdict(psi) == "Insignificant change")
    val vpsi = mon.psiVariableTable(expected, actual)
    assert(vpsi.size == sc.selected.length && vpsi.forall(_._2 < 0.1))
    val tests = mon.significanceTests(expected, actual, "y")
    assert(tests.nonEmpty && tests.forall(t => t._5 >= 0 && t._5 <= 1))
    val perf = mon.performance(expected, actual, "y")
    assert(perf("gini_expected") > -1 && perf("gini_expected") < 1)

    // cart psi_method (the reference default): same-distribution halves
    // stay insignificant on tree-derived score bins too
    val monCart = new ScorecardMonitoring(sc, psiNBins = 10,
      psiMethod = "cart", psiYCol = Some("y"))
    val psiCart = monCart.psiTotal(expected, actual)
    assert(psiCart >= 0 && psiCart < 0.1, s"cart psi $psiCart")
    val monUni = new ScorecardMonitoring(sc, psiNBins = 10,
      psiMethod = "uniform")
    val psiUni = monUni.psiTotal(expected, actual)
    assert(psiUni >= 0 && psiUni < 0.1, s"uniform psi $psiUni")

    // fused single-job bundle equals the per-report methods
    val st = mon.stabilityStats(expected, actual, "y")
    assert(math.abs(st.psiTotal - psi) < 1e-9, s"${st.psiTotal} vs $psi")
    assert(st.tests.length == tests.length)
    st.tests.zip(tests).foreach { case (b, t) =>
      assert(b._1 == t._1 && math.abs(b._5 - t._5) < 1e-9, s"$b vs $t")
    }
    Seq("gini_expected", "gini_actual", "ks_expected", "ks_actual")
      .foreach { k =>
        assert(math.abs(st.performance(k) - perf(k)) < 1e-9,
               s"$k: ${st.performance(k)} vs ${perf(k)}")
      }
    val ta = mon.targetAnalysis(expected, actual, "y")
    st.targetAnalysis.zip(ta).foreach { case (b, t) =>
      assert(b._1 == t._1 && math.abs(b._2 - t._2) < 1e-6 &&
             math.abs(b._3 - t._3) < 1e-6, s"$b vs $t")
    }
  }

  test("cart psi splits are call-order independent beyond 10k rows") {
    // >10k expected rows: psiTotal and stabilityStats fit their cart
    // splits on the same expected slice with the same grid rule, so
    // every downstream report is identical whichever entry point runs
    // first
    val spark = TestSpark.spark
    val df = spark.read
      .parquet(s"${TestSpark.sf001}/lineitem.parquet")
      .withColumn("y", when(col("l_returnflag") === "R", 1.0)
        .otherwise(0.0))
    val sc = Scorecard.fit(df, Seq("l_extendedprice", "l_quantity"), "y")
    val expected = df.where(col("l_orderkey") % 2 === 0)
    val actual = df.where(col("l_orderkey") % 2 === 1)
    def mkMon() = new ScorecardMonitoring(sc, psiNBins = 10,
      psiMethod = "cart", psiYCol = Some("y"))
    val monA = mkMon()
    val psiA = monA.psiTotal(expected, actual)
    val stA = monA.stabilityStats(expected, actual, "y")
    val monB = mkMon()
    val stB = monB.stabilityStats(expected, actual, "y")
    assert(stA.psiBins.toSeq == stB.psiBins.toSeq,
           s"${stA.psiBins.toSeq} vs ${stB.psiBins.toSeq}")
    assert(math.abs(stB.psiTotal - psiA) < 1e-9)
  }

  test("ModelMetrics: gini/ks consistent with bin-table values") {
    val df = li
    val fitted = OptimalBinning.fit(df, "l_extendedprice", "y",
                                    BinningConfig(name = "x"))
    // scoring by event rate: score-level gini == bin-table gini
    val scored = df.select(col("y"),
      fitted.transform(col("l_extendedprice"), "event_rate").as("p"))
    val g = ModelMetrics.gini(scored, "y", "p")
    assert(math.abs(g - fitted.table.gini) < 1e-9,
           s"score gini $g table ${fitted.table.gini}")
    val k = ModelMetrics.ks(scored, "y", "p")
    assert(k > 0 && k < 1)
  }

  test("ModelMetrics: approx gini/ks close to exact on continuous scores") {
    // continuous scores (every row distinct): approx path grid-quantizes
    // before the per-score aggregate; on a 100k-bucket grid the rank
    // formula lands within grid-width error of exact
    val scored = li.select(col("y"),
      (col("l_extendedprice") * 1e-5 + col("l_quantity")).as("p"))
    val gE = ModelMetrics.gini(scored, "y", "p")
    val gA = ModelMetrics.gini(scored, "y", "p", approx = true)
    assert(math.abs(gE - gA) < 1e-3, s"gini exact $gE approx $gA")
    val kE = ModelMetrics.ks(scored, "y", "p")
    val kA = ModelMetrics.ks(scored, "y", "p", approx = true)
    assert(math.abs(kE - kA) < 1e-3, s"ks exact $kE approx $kA")
  }

  test("ModelMetrics: regression metrics sanity") {
    val df = li.select(col("l_extendedprice").as("y"))
      .withColumn("p", col("y") * 1.1)
    val m = ModelMetrics.regressionMetrics(df, "y", "p")
    assert(math.abs(m("Mean absolute percentage error") - 0.1) < 1e-9)
    assert(m("R^2") < 1.0)
  }

  test("Sources: csv + parquet disk fit, fitTransformDisk writes parquet") {
    val spark = TestSpark.spark
    val fitted = Sources.fitDisk(spark,
      s"${TestSpark.sf0001}/lineitem.parquet", "l_extendedprice",
      "l_linenumber", BinningConfig(name = "x", monotonicTrend = None))
    assert(fitted.status == "OPTIMAL")
    val out = java.nio.file.Files.createTempDirectory("graft").toString
    val proc = Sources.fitTransformDisk(spark,
      s"${TestSpark.sf0001}/lineitem.parquet", s"$out/woe",
      Seq("l_extendedprice", "l_quantity"), "l_linenumber")
    val written = spark.read.parquet(s"$out/woe")
    assert(written.count() > 0 && written.columns.length == 3)
  }

  test("Streaming: foreachBatch sketch accumulation solves per batch") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Double, Double)]
    val sk = new graft.streaming.OptimalBinningSketch(
      BinningConfig(name = "x", monotonicTrend = None), eps = 1e-3)
    var solves = 0
    val q = sk.streamingQuery(
      stream.toDF().toDF("x", "y"), "x", "y",
      fitted => { solves += 1; assert(fitted.status == "OPTIMAL") })
      .start()
    val rnd = new scala.util.Random(3)
    stream.addData((1 to 2000).map(_ =>
      (rnd.nextDouble() * 100, if (rnd.nextBoolean()) 1.0 else 0.0)))
    q.processAllAvailable()
    stream.addData((1 to 2000).map(_ =>
      (rnd.nextDouble() * 100, if (rnd.nextBoolean()) 1.0 else 0.0)))
    q.processAllAvailable()
    q.stop()
    assert(solves == 2)
    assert(sk.sketch.n == 4000)
  }

  test("Streaming: watermarked windowed aggregation drops late events") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp

    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, Long, String, Double)]
    val df = stream.toDF().toDF("ts", "user_id", "event_type", "value")
    val agg = graft.streaming.EventWindows.typeStatsPerWindow(
      df, "ts", "10 minutes", watermarkDelay = Some("5 minutes"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("ew_counts").start()

    def t(min: Int) = new Timestamp(3600L * 1000 * 24 * 1000 +
                                    min * 60000L)
    // batch 1: events in [0, 10) and [10, 20)
    stream.addData(Seq((t(2), 1L, "click", 1.0), (t(4), 2L, "click", 2.0),
                       (t(12), 1L, "view", 3.0)))
    q.processAllAvailable()
    // batch 2: advance watermark far ahead -> closes earlier windows
    stream.addData(Seq((t(40), 3L, "click", 1.0)))
    q.processAllAvailable()
    // batch 3: a LATE event for the long-closed [0, 10) window + advance
    stream.addData(Seq((t(3), 9L, "click", 100.0),
                       (t(55), 3L, "click", 1.0)))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("ew_counts")
      .select("window_start", "event_type", "n_events", "sum_value")
      .collect()
    val clickW0 = rows.filter(r =>
      r.getTimestamp(0).getTime == t(0).getTime &&
        r.getString(1) == "click")
    // the [0, 10) click window was emitted once with the 2 on-time events;
    // the late event (value 100) was dropped by the watermark
    assert(clickW0.length == 1, rows.mkString(";"))
    assert(clickW0.head.getLong(2) == 2)
    assert(math.abs(clickW0.head.getDouble(3) - 3.0) < 1e-9)
  }

  test("Streaming: append-mode window emits AT watermark == window " +
       "end (equality inclusive), integer value sums exact") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp

    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, String, Double)]
    val df = stream.toDF().toDF("ts", "event_type", "value")
    val agg = graft.streaming.EventWindows.typeCountsPerWindowQ(
      df, "ts", "10 minutes", watermarkDelay = Some("10 minutes"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("ew_q").start()
    def t(sec: Long) = new Timestamp(1700000000000L + sec * 1000L)
    val w0 = 1700000000L - (1700000000L % 600)
    stream.addData(Seq((t(10), "click", 1.25), (t(20), "click", 2.5)))
    q.processAllAvailable()
    // watermark = (w0+1200) - 600 == end of the first window EXACTLY:
    // the emission predicate is end <= watermark, so it must emit NOW
    stream.addData(Seq((new Timestamp((w0 + 1200) * 1000L),
                        "view", 0.0)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ew_q").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
                 r.getLong(3)))
    spark.catalog.dropTempView("ew_q")
    assert(rows.length == 1, rows.mkString(";"))
    assert(rows(0)._1 == w0 && rows(0)._2 == "click" &&
           rows(0)._3 == 2 &&
           rows(0)._4 == 1250000L + 2500000L, rows(0).toString)
  }

  test("continuous monitoring: psi methods agree on cohort totals, " +
       "quantile/uniform bins are valid partitions, one-cohort bins " +
       "test as NaN") {
    val spark = TestSpark.spark
    val li = spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
    val sc = Scorecard.fitContinuousTarget(li, Seq("l_quantity"),
      "l_extendedprice",
      BinningConfig(name = "l_quantity",
                    userSplits = Some(Array(10.0, 25.0, 40.0)),
                    monotonicTrend = None))
    val e = li.where(col("l_orderkey") % 2 === 0)
    val a = li.where(col("l_orderkey") % 2 === 1)
    val (ne, na) = (e.count(), a.count())
    Seq("cart", "quantile", "uniform").foreach { m =>
      val mon = new ContinuousScorecardMonitoring(sc, psiNBins = 4,
                                                  psiMethod = m)
      val st = mon.stabilityStats(e, a, "l_extendedprice")
      assert(st.psiBins.map(_._2).sum.toLong == ne, m)
      assert(st.psiBins.map(_._3).sum.toLong == na, m)
      assert(st.psiTotal >= 0.0 && st.psiTotal < 0.05,
             s"$m psi=${st.psiTotal}")
      assert(st.tests.forall(t => t._5.isNaN || (t._5 >= 0 && t._5 <= 1)),
             m)
      // ten regression metrics, both cohorts, all finite
      assert(st.performanceExpected.size == 10 &&
             st.performanceActual.size == 10, m)
      assert(st.performanceExpected.values.forall(v =>
               java.lang.Double.isFinite(v)), m)
    }
    // a score bin present in only one cohort: expected cohort capped
    // below the top quantity bin -> its bin exists only on the actual
    // side; the test must be NaN, never an exception
    val eCap = e.where(col("l_quantity") < 40.0)
    val mon = new ContinuousScorecardMonitoring(sc, psiNBins = 4)
    val st = mon.stabilityStats(eCap, a, "l_extendedprice")
    val lone = st.tests.filter(t => t._2.isNaN || t._3.isNaN)
    assert(st.psiBins.map(_._3).sum.toLong == na)
    assert(lone.forall(t => t._5.isNaN), st.tests.mkString(";"))
  }

  test("ivByFold: per-fold IV equals a driver-side exact replay; " +
       "whole-data fold reproduces the binning table's own IV") {
    val spark = TestSpark.spark
    val li = spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
      .withColumn("y", when(col("l_returnflag") === "R", 1.0)
        .otherwise(0.0))
    val splits = Array(25000.0, 50000.0, 75000.0)
    val bin = when(col("l_extendedprice") < splits(0), 0L)
      .when(col("l_extendedprice") < splits(1), 1L)
      .when(col("l_extendedprice") < splits(2), 2L).otherwise(3L)
    // ONE fold = the whole table: iv must equal the fitted table's IV
    // at the same user splits (the library's own statistic)
    val whole = graft.operators.Monitoring
      .ivByFold(li, bin, lit(0L), "y").collect().head
    val fitted = OptimalBinning.fit(li, "l_extendedprice", "y",
      BinningConfig(name = "x", userSplits = Some(splits),
                    monotonicTrend = None,
                    userSplitsFixed = Some(Array.fill(3)(true))))
    assert(math.abs(whole.getDouble(3) - fitted.table.iv) < 5e-7,
           s"${whole.getDouble(3)} vs ${fitted.table.iv}")
    // 4 folds partition the data: counts sum to the table count and
    // every fold IV is finite and non-negative
    val folds = graft.operators.Monitoring
      .ivByFold(li, bin, pmod(col("l_orderkey"), lit(4)), "y")
      .collect()
    assert(folds.length == 4)
    assert(folds.map(_.getLong(1)).sum == li.count())
    assert(folds.forall(r => r.getDouble(3) >= 0.0 &&
                             !r.getDouble(3).isNaN))
  }

  test("continuous monitoring: empty cohort fails fast (no NPE/NaN " +
       "PSI); ewma windowDays capped at the BIGINT-exact bound") {
    val spark = TestSpark.spark
    val li = spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
    val sc = Scorecard.fitContinuousTarget(li, Seq("l_quantity"),
      "l_extendedprice",
      BinningConfig(name = "l_quantity",
                    userSplits = Some(Array(10.0, 25.0, 40.0)),
                    monotonicTrend = None))
    val mon = new ContinuousScorecardMonitoring(sc, psiNBins = 4,
                                                psiMethod = "uniform")
    val empty = li.where(lit(false))
    val exE = intercept[IllegalArgumentException] {
      mon.stabilityStats(empty, li, "l_extendedprice")
    }
    assert(exE.getMessage.contains("expected cohort is empty"))
    val exA = intercept[IllegalArgumentException] {
      mon.stabilityStats(li, empty, "l_extendedprice")
    }
    assert(exA.getMessage.contains("actual cohort is empty"))
    // the BINARY monitor carries the same guard (psiMethod="quantile"
    // would NPE on the null percentile row of an empty cohort)
    val liY = li.withColumn("y",
      when(col("l_returnflag") === "R", 1.0).otherwise(0.0))
    val scB = Scorecard.fit(liY, Seq("l_quantity"), "y",
      varOverrides = Map("l_quantity" -> BinningConfig(
        name = "l_quantity", userSplits = Some(Array(10.0, 25.0, 40.0)),
        monotonicTrend = None)))
    val monB = new ScorecardMonitoring(scB, psiNBins = 4,
                                       psiMethod = "quantile")
    val exB = intercept[IllegalArgumentException] {
      monB.stabilityStats(liY.where(lit(false)), liY, "y")
    }
    assert(exB.getMessage.contains("expected cohort is empty"))
    // windowDays > 32 would silently wrap n * 2^(W-gap) in BIGINT at
    // real daily volumes — the require names the bound
    val exW = intercept[IllegalArgumentException] {
      graft.operators.Monitoring.ewmaAnomaliesFromDaily(
        li.select(lit(1L).as("g"), col("l_orderkey").as("day"),
                  lit(1L).as("n")),
        windowDays = 33, kNum = 3L, kDen = 1L)
    }
    assert(exW.getMessage.contains("[1, 32]"))
  }

  test("system stability report and MDLP facade") {
    val spark = TestSpark.spark
    val li = spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
      .withColumn("y", when(col("l_returnflag") === "R", 1.0).otherwise(0.0))
    val sc = Scorecard.fit(li, Seq("l_extendedprice", "l_quantity"), "y")
    val mon = new ScorecardMonitoring(sc, psiNBins = 8)
    val e = li.where(col("l_orderkey") % 2 === 0)
    val a = li.where(col("l_orderkey") % 2 === 1)
    val report = mon.systemStabilityReport(e, a, "y")
    assert(report.contains("PSI total"))
    assert(report.contains("Significance tests"))
    assert(report.contains("Performance metrics"))
    // same-population cohorts: PSI must be tiny and verdict stable
    assert(report.contains("Insignificant change"), report)

    val splits = MDLP.fit(li, "l_extendedprice", "y")
    assert(splits.sorted.sameElements(splits))
    // MDLP facade equals the internal mdlp prebinning path's input splits
    assert(splits.forall(s => s > 0))
  }

  test("process and scorecard JSON round-trip preserves scoring") {
    val spark = TestSpark.spark
    import spark.implicits._
    val li = spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
      .withColumn("y", when(col("l_returnflag") === "R", 1.0).otherwise(0.0))
    val sc = Scorecard.fit(li, Seq("l_extendedprice", "l_quantity"), "y")

    val pj = graft.sources.ModelIO.processToJson(sc.process)
    val p2 = graft.sources.ModelIO.processFromJson(pj)
    // transform through the round-tripped process equals the original
    val a = sc.process.transform(li, "woe").agg(
      sum("l_extendedprice"), sum("l_quantity")).head
    val b = p2.transform(li, "woe").agg(
      sum("l_extendedprice"), sum("l_quantity")).head
    assert(math.abs(a.getDouble(0) - b.getDouble(0)) < 1e-6)
    assert(math.abs(a.getDouble(1) - b.getDouble(1)) < 1e-6)

    val sj = graft.sources.ModelIO.scorecardToJson(sc)
    val sc2 = graft.sources.ModelIO.scorecardFromJson(sj)
    val s1 = li.select(sc.scoreColumn().as("s")).agg(sum("s"))
      .head.getDouble(0)
    val s2 = li.select(sc2.scoreColumn().as("s")).agg(sum("s"))
      .head.getDouble(0)
    assert(math.abs(s1 - s2) < 1e-6, s"$s1 vs $s2")
    val pr1 = li.select(sc.predictProbaColumn().as("p")).agg(avg("p"))
      .head.getDouble(0)
    val pr2 = li.select(sc2.predictProbaColumn().as("p")).agg(avg("p"))
      .head.getDouble(0)
    assert(math.abs(pr1 - pr2) < 1e-9)
  }

  test("continuous fit and scorecard JSON round-trip preserves scoring") {
    val spark = TestSpark.spark
    val li = spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")

    val f = ContinuousOptimalBinning.fit(li, "l_quantity",
      "l_extendedprice", BinningConfig(name = "l_quantity"))
    val f2 = graft.sources.ModelIO.continuousFromJson(
      graft.sources.ModelIO.continuousToJson(f))
    val a = li.select(f.transform(col("l_quantity")).as("m"))
      .agg(sum("m")).head.getDouble(0)
    val b = li.select(f2.transform(col("l_quantity")).as("m"))
      .agg(sum("m")).head.getDouble(0)
    assert(math.abs(a - b) < 1e-6, s"$a vs $b")

    val sc = Scorecard.fitContinuousTarget(
      li, Seq("l_quantity", "l_discount"), "l_extendedprice")
    val sc2 = graft.sources.ModelIO.continuousScorecardFromJson(
      graft.sources.ModelIO.continuousScorecardToJson(sc))
    val s1 = li.select(sc.scoreColumn().as("s")).agg(sum("s"))
      .head.getDouble(0)
    val s2 = li.select(sc2.scoreColumn().as("s")).agg(sum("s"))
      .head.getDouble(0)
    assert(math.abs(s1 - s2) < 1e-6, s"$s1 vs $s2")
    val p1 = li.select(sc.predictColumn().as("p")).agg(avg("p"))
      .head.getDouble(0)
    val p2 = li.select(sc2.predictColumn().as("p")).agg(avg("p"))
      .head.getDouble(0)
    assert(math.abs(p1 - p2) < 1e-6)
  }

  test("Streaming: categorical sketch foreachBatch equals batch fit") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Double)]
    val cfg = BinningConfig(name = "x", dtype = "categorical")
    val sk = new graft.streaming.OptimalBinningCatSketch(cfg)
    var lastFit: FittedOptimalBinning = null
    val q = sk.streamingQuery(
      stream.toDF().toDF("x", "y"), "x", "y",
      fitted => lastFit = fitted).start()
    val rnd = new scala.util.Random(7)
    val cats = Array("a", "b", "c", "d", "e")
    def batch() = (1 to 1500).map { _ =>
      val c = cats(rnd.nextInt(5))
      (c, if (rnd.nextDouble() < 0.2 + 0.1 * (c(0) - 'a')) 1.0 else 0.0)
    }
    val b1 = batch(); val b2 = batch()
    stream.addData(b1)
    q.processAllAvailable()
    stream.addData(b2)
    q.processAllAvailable()
    q.stop()
    assert(lastFit != null && lastFit.status == "OPTIMAL")
    // converged stream == batch fit over the union of both batches
    val all = (b1 ++ b2).toDF("x", "y")
    val bf = OptimalBinning.fit(all, "x", "y", cfg)
    assert(lastFit.catBins.map(_.toSeq).toSeq ==
           bf.catBins.map(_.toSeq).toSeq)
    assert(math.abs(lastFit.table.iv - bf.table.iv) < 1e-12)
  }

  test("ModelIO: SpecialDict, string specials, catch-all Others, " +
       "selection and scaling survive the JSON round-trip") {
    val spark = TestSpark.spark
    import spark.implicits._

    // SpecialDict on a numeric fit: special rows must route to their
    // GROUP bins after load, not fall through into data bins
    val df = li.withColumn("xs",
      when(col("l_linenumber") === 1, lit(-9.0))
        .when(col("l_linenumber") === 2, lit(-8.0))
        .otherwise(col("l_extendedprice")))
    val dictCfg = BinningConfig(name = "xs",
      specialCodes = Some(SpecialDict(Seq(
        "neg9" -> Seq(-9.0), "neg8" -> Seq(-8.0)))))
    val fd = OptimalBinning.fit(df, "xs", "y", dictCfg)
    val fd2 = ModelIO.fromJson(ModelIO.toJson(fd))
    assert(fd2.config.specialCodes == dictCfg.specialCodes)
    val sa = df.select(fd.transform(col("xs")).as("w")).as[Double]
      .collect()
    val sb = df.select(fd2.transform(col("xs")).as("w")).as[Double]
      .collect()
    assert(sa.toSeq == sb.toSeq)

    // string special codes on a categorical fit: load() must not
    // force-parse them as doubles
    val cat = li.withColumn("c",
      when(col("l_linenumber") === 1, lit("N/A"))
        .otherwise(col("l_returnflag")))
    val catCfg = BinningConfig(name = "c", dtype = "categorical",
      specialCodes = Some(SpecialList(Seq("N/A"))))
    val fc = OptimalBinning.fit(cat, "c", "y", catCfg)
    val fc2 = ModelIO.fromJson(ModelIO.toJson(fc))
    assert(fc2.config.specialCodes == Some(SpecialList(Seq("N/A"))))
    val ca = cat.select(fc.transform(col("c")).as("w")).as[Double]
      .collect()
    val cb = cat.select(fc2.transform(col("c")).as("w")).as[Double]
      .collect()
    assert(ca.toSeq == cb.toSeq)

    // catch-all Others (bounded-collect tail pool): unseen tail
    // categories must still route to the Others bin after load
    val wide = li.withColumn("c",
      concat(lit("v"), (col("l_orderkey") % 500).cast("string")))
    val fw = OptimalBinning.fit(wide, "c", "y",
      BinningConfig(name = "c", dtype = "categorical",
                    histogramMaxBuckets = 50))
    assert(fw.othersCatchAll, "expected a pooled tail catch-all")
    val fw2 = ModelIO.fromJson(ModelIO.toJson(fw))
    assert(fw2.othersCatchAll)
    val wa = wide.select(fw.transform(col("c")).as("w")).as[Double]
      .collect()
    val wb = wide.select(fw2.transform(col("c")).as("w")).as[Double]
      .collect()
    assert(wa.toSeq == wb.toSeq)

    // selection criteria + scorecard scaling/woeStats round-trip
    val sel = BinningProcess.Selection(minIv = Some(0.01),
      topK = Some(2), fixedVariables = Seq("l_quantity"))
    val scal = Scorecard.ScalingConfig(method = Some("pdo_odds"),
      pdo = 25, odds = 40, scorecardPoints = 500, rounding = true)
    val sc = Scorecard.fit(li, Seq("l_extendedprice", "l_quantity"),
      "y", selection = sel, scaling = scal)
    val sc2 = ModelIO.scorecardFromJson(ModelIO.scorecardToJson(sc))
    assert(sc2.process.selection == sel)
    assert(sc2.scaling == scal)
    assert(sc2.woeStats.isDefined == sc.woeStats.isDefined)
    sc.woeStats.zip(sc2.woeStats).foreach { case ((m1, l1), (m2, l2)) =>
      assert(m1.toSeq == m2.toSeq)
      assert(l1.map(_.toSeq).toSeq == l2.map(_.toSeq).toSeq)
    }
  }

  test("continuous categorical tail pool: unseen tail categories route " +
       "to Others (catch-all), and survive the round-trip") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val df = (1 to 2000).map { i =>
      val c = "cat" + rnd.nextInt(200)
      (c, c.length * 1.5 + rnd.nextGaussian())
    }.toDF("x", "y")
    val f = ContinuousOptimalBinning.fit(df, "x", "y",
      BinningConfig(name = "x", dtype = "categorical",
                    histogramMaxBuckets = 20))
    assert(f.othersCatchAll)
    // a category the fit never enumerated must get the Others mean,
    // not the unknown fallback (the table's overall mean)
    val othersMean = f.table.means(f.nDataBins)
    val probe = Seq(("cat_never_seen", 0.0)).toDF("x", "y")
    val got = probe.select(f.transform(col("x")).as("m")).as[Double]
      .head()
    assert(math.abs(got - othersMean) < 1e-12, s"$got vs $othersMean")
    val f2 = ModelIO.continuousFromJson(ModelIO.continuousToJson(f))
    assert(f2.othersCatchAll)
    val got2 = probe.select(f2.transform(col("x")).as("m")).as[Double]
      .head()
    assert(got2 == got)
  }

  test("rollingFeatures: exact trailing sums, deltas, and (ts, id) " +
       "tie-break order per key") {
    val spark = TestSpark.spark
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long): Timestamp = new Timestamp(s * 1000L)
    // u1: values 1.5, 2.25, 4.0, 8.0 at increasing ts (ids 1-4);
    // rows 3 and 4 share a ts — event_id must break the tie (3 < 4).
    // u2: single row -> delta null, roll = own value.
    val e = Seq(
      (1L, t(10), 1L, 1.5), (1L, t(20), 2L, 2.25),
      (1L, t(30), 3L, 4.0), (1L, t(30), 4L, 8.0),
      (2L, t(10), 9L, 0.5))
      .toDF("user_id", "ts", "event_id", "value")
    val got = graft.streaming.EventWindows
      .rollingFeatures(e, "user_id", "ts", "event_id", "value",
                       lookback = 2)
      .select("user_id", "event_id", "value_q", "roll_sum_q", "delta_q")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 if (r.isNullAt(4)) None else Some(r.getLong(4))))
      .sortBy(r => (r._1, r._2))
    assert(got.toSeq == Seq(
      (1L, 1L, 1500000L, 1500000L, None),
      (1L, 2L, 2250000L, 3750000L, Some(750000L)),
      (1L, 3L, 4000000L, 7750000L, Some(1750000L)),
      (1L, 4L, 8000000L, 14250000L, Some(4000000L)),
      (2L, 9L, 500000L, 500000L, None)), got.toSeq)
  }

  test("groupedLowerMedian: k-th smallest element for odd/even sizes, " +
       "duplicate mass, null exclusion, empty-group omission") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(
      ("a", Some(3.0)), ("a", Some(1.0)), ("a", Some(2.0)),   // odd: 2
      ("b", Some(4.0)), ("b", Some(1.0)),                      // even: 1 (lower)
      ("c", Some(5.0)), ("c", Some(5.0)), ("c", Some(1.0)),    // dup mass: 5
      ("c", Some(5.0)),
      ("d", None), ("d", Some(7.0)),                           // null excluded
      ("e", None))                                             // all-null: no row
      .toDF("g", "v")
    val got = graft.operators.Histograms.groupedLowerMedian(df, "g", "v")
      .collect().map(r => r.getString(0) -> ((r.getDouble(1),
                                              r.getLong(2)))).toMap
    assert(got == Map("a" -> ((2.0, 3L)), "b" -> ((1.0, 2L)),
                      "c" -> ((5.0, 4L)), "d" -> ((7.0, 1L))),
           got.toString)
    // general rational quantile: p90 of 1..10 = ceil(9)th = 9.0;
    // p25 = ceil(2.5)th = 3.0; p100 = max
    val ten = (1 to 10).map(i => ("g", i.toDouble)).toDF("g", "v")
    def q(n: Int, d: Int): Double = graft.operators.Histograms
      .groupedDiscreteQuantile(ten, "g", "v", n, d)
      .collect()(0).getDouble(1)
    assert(q(9, 10) == 9.0 && q(1, 4) == 3.0 && q(1, 1) == 10.0,
           s"${q(9, 10)} ${q(1, 4)} ${q(1, 1)}")
  }

  test("bigramTopK: exact pair counts and integer-ppm conditionals") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(
      (1L, "the cat sat"),
      (2L, "the cat ran"),
      (3L, "the  dog\tsat"),          // awkward whitespace collapses
      (4L, "solo"),                    // < 2 words -> no bigrams
      (5L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val got = graft.pipeline.TextAnalysis.bigramTopK(df, "text", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // 'the cat' 2 of 3 'the *' bigrams -> 666666 ppm (floor division);
    // 'the dog' 1/3 -> 333333; others 1/1 -> 1000000
    val m = got.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m("the cat") == ((2L, 666666L)), m.toString)
    assert(m("the dog") == ((1L, 333333L)), m.toString)
    assert(m("cat sat") == ((1L, 500000L)), m.toString)
    assert(m("cat ran") == ((1L, 500000L)), m.toString)
    assert(m("dog sat") == ((1L, 1000000L)), m.toString)
    assert(got.head._1 == "the cat")   // count-desc, bigram tie order
    assert(got.length == 5, got.mkString(","))
  }
}
