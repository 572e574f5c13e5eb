package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Prebinning
import graft.operators._

/** Every scorecard-monitoring report reads one cohort aggregate. Each
  * report here is checked against an independent computation on
  * sf0.01 lineitem halves (split on `l_orderkey` parity): score PSI
  * against `Monitoring.psi` at the returned splits, variable PSI
  * against `Monitoring.psiTable` over per-cohort bin counts, z-tests
  * against `Stats.testProportions` on those counts, Gini/KS against
  * `ModelMetrics.giniAndKs` per cohort, quantile splits against Spark
  * `percentile`. */
class MonitoringAggregateSpec extends AnyFunSuite {

  private lazy val li: DataFrame = TestSpark.spark.read
    .parquet(s"${TestSpark.sf001}/lineitem.parquet")
    .withColumn("y", when(col("l_returnflag") === "R", 1.0).otherwise(0.0))
  private lazy val expected = li.where(col("l_orderkey") % 2 === 0)
  private lazy val actual = li.where(col("l_orderkey") % 2 === 1)

  private val vars = Seq("l_extendedprice", "l_quantity", "l_discount",
                         "l_tax", "l_partkey", "l_suppkey", "l_linenumber",
                         "l_linestatus")
  private lazy val sc2 = Scorecard.fit(li, vars.take(2), "y")
  private lazy val sc8 = Scorecard.fit(li, vars, "y")

  /** Spark jobs started while `body` runs. */
  private def jobsOf(body: => Unit): Int = {
    val sc = TestSpark.spark.sparkContext
    TestListenerDrain(sc)
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try { body; TestListenerDrain(sc) }
    finally sc.removeSparkListener(listener)
    n.get
  }

  /** Bin of x under splits: x < splits(i) -> bin i. */
  private def binIdx(x: Column, splits: Array[Double]): Column =
    splits.indices.foldRight(lit(splits.length): Column) { (i, acc) =>
      when(x < splits(i), lit(i)).otherwise(acc)
    }

  /** bin -> (records, events) of one cohort. */
  private def counts(df: DataFrame, bin: Column): Map[Int, (Double, Double)] =
    df.groupBy(bin.as("b"))
      .agg(count(lit(1)).cast("double"), sum("y"))
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap

  private def same(a: Double, b: Double): Boolean =
    a == b || (a.isNaN && b.isNaN)

  Seq("quantile", "uniform", "cart").foreach { method =>
    Seq(2, 8).foreach { width =>
      test(s"$method score bins, $width variables: every report equals " +
           "its independent computation") {
        val sc = if (width == 2) sc2 else sc8
        assert(sc.selected.length == width, sc.selected.mkString(","))
        val mon = new ScorecardMonitoring(sc, psiNBins = 10,
          psiMethod = method, psiYCol = Some("y"))
        val st = mon.stabilityStats(expected, actual, "y")
        val splits = st.scoreSplits
        assert(splits.nonEmpty && splits.sorted.sameElements(splits))

        // score PSI: Monitoring.psi over scoreColumn() at the splits
        def scored(df: DataFrame) =
          df.select(sc.scoreColumn().as("s"), col("y"),
                    sc.predictProbaColumn().as("p"))
        val ref = Monitoring.psi(scored(expected), scored(actual), "s",
                                 splits).collect()
        assert(ref.map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2),
                             r.getDouble(5))).toSeq == st.psiBins.toSeq)
        assert(ref.map(_.getDouble(5)).sum == st.psiTotal)
        assert(mon.psiTotal(expected, actual) == st.psiTotal)
        val table = mon.psiTable(expected, actual).collect()
        assert(table.map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2),
                               r.getDouble(5))).toSeq == st.psiBins.toSeq)

        // z-tests: Stats.testProportions on per-cohort score-bin counts
        val bin = binIdx(sc.scoreColumn(), splits)
        val (ce, ca) = (counts(expected, bin), counts(actual, bin))
        val refTests = (ce.keySet ++ ca.keySet).toArray.sorted.map { b =>
          val (n1, e1) = ce.getOrElse(b, (0.0, 0.0))
          val (n2, e2) = ca.getOrElse(b, (0.0, 0.0))
          val (z, p) =
            graft.core.Stats.testProportions(e1, n1 - e1, e2, n2 - e2)
          (b, e1 / math.max(n1, 1), e2 / math.max(n2, 1), z, p)
        }
        val tests = mon.significanceTests(expected, actual, "y")
        Seq(st.tests, tests).foreach { got =>
          assert(got.length == refTests.length)
          got.zip(refTests).foreach { case (g, r) =>
            assert(g._1 == r._1 && same(g._2, r._2) && same(g._3, r._3) &&
                   same(g._4, r._4) && same(g._5, r._5), s"$g vs $r")
          }
        }

        // Gini/KS: ModelMetrics.giniAndKs per cohort
        val (ge, ke) = ModelMetrics.giniAndKs(scored(expected), "y", "p")
        val (ga, ka) = ModelMetrics.giniAndKs(scored(actual), "y", "p")
        val perf = Map("gini_expected" -> ge, "gini_actual" -> ga,
                       "ks_expected" -> ke, "ks_actual" -> ka)
        assert(st.performance == perf)
        assert(mon.performance(expected, actual, "y") == perf)

        // target analysis: record counts and event rates per cohort
        def tgt(df: DataFrame) = {
          val r = df.agg(count(lit(1)).cast("double"), sum("y")).head
          (r.getDouble(0), r.getDouble(1) / r.getDouble(0))
        }
        val ((ne, re), (na, ra)) = (tgt(expected), tgt(actual))
        val ta = Seq(("count", ne, na), ("event_rate", re, ra))
        assert(st.targetAnalysis == ta)
        assert(mon.targetAnalysis(expected, actual, "y") == ta)

        // variable PSI: Monitoring.psiTable over per-cohort bin counts
        val vpsi = mon.psiVariableTable(expected, actual)
        assert(vpsi.map(_._1) == sc.selected.toSeq)
        vpsi.foreach { case (v, psi) =>
          val idx = sc.process.fits(v).transform(col(v), metric = "indices")
          def binned(df: DataFrame) =
            df.groupBy(idx.as("bin")).agg(count(lit(1)).as("count"))
          val refPsi = Monitoring.psiTable(binned(expected), binned(actual))
            .collect().map(_.getDouble(5)).sum
          assert(psi == refPsi, v)
        }

        if (method == "quantile") {
          // Spark percentile on the expected scores: the same splits up to
          // the rounding of the interpolation, and the same bins
          val probs = (1 until 10).map(_ / 10.0)
          val sparkSplits = expected
            .select(percentile(sc.scoreColumn(), array(probs.map(lit): _*)))
            .head.getSeq[Double](0).toArray.distinct.sorted
          assert(sparkSplits.length == splits.length)
          val gap = sparkSplits.zip(splits).map { case (a, b) =>
            math.abs(a - b) / math.max(1.0, math.abs(a))
          }.max
          info(f"largest relative split gap to Spark percentile: $gap%.3g")
          assert(gap <= 1e-12)
          val scores = expected.select(sc.scoreColumn().as("s")).distinct()
            .collect().map(_.getDouble(0))
          assert(scores.forall(s =>
            sparkSplits.count(_ <= s) == splits.count(_ <= s)))
        }
      }
    }
  }

  test("psiTotal, psiVariableTable and stabilityStats launch as many " +
       "jobs at 8 variables as at 2") {
    val jobs = Seq(sc2, sc8).map { sc =>
      val mon = new ScorecardMonitoring(sc, psiNBins = 10)
      mon.psiTotal(expected, actual) // warm-up
      (jobsOf(mon.psiTotal(expected, actual)),
       jobsOf(mon.psiVariableTable(expected, actual)),
       jobsOf(mon.stabilityStats(expected, actual, "y")))
    }
    info(s"(psiTotal, psiVariableTable, stabilityStats) jobs at 2 and 8 " +
         s"variables: ${jobs.mkString(" ")}")
    assert(jobs(0) == jobs(1))
  }

  test("cart score bins on fewer than 10,000 distinct scores are the " +
       "exact-histogram CART splits, also beyond 10,000 rows") {
    val mon = new ScorecardMonitoring(sc2, psiNBins = 10,
      psiMethod = "cart", psiYCol = Some("y"))
    val st = mon.stabilityStats(expected, actual, "y")
    val hist = expected.groupBy(sc2.scoreColumn().as("s"))
      .agg(count(lit(1)), sum("y")).collect()
      .map(r => Prebinning.HistBucket(r.getDouble(0), r.getLong(1),
                                      r.getLong(1) - r.getDouble(2),
                                      r.getDouble(2)))
      .sortBy(_.value)
    val total = hist.map(_.n).sum
    assert(total > 10000 && hist.length < 10000)
    val exact = Prebinning.cartSplits(hist, maxLeafNodes = 10,
      minSamplesLeaf = math.ceil(0.05 * total).toLong,
      classification = true)
    assert(st.scoreSplits.toSeq == exact.toSeq,
           s"${st.scoreSplits.toSeq} vs ${exact.toSeq}")
  }

  test("Gini and KS of a one-class cohort are 0 everywhere") {
    val sc = sc2
    val noEvents = li.where(col("y") === 0.0)
    val scored = noEvents.select(col("y"), sc.predictProbaColumn().as("p"))
    assert(ModelMetrics.gini(scored, "y", "p") == 0.0)
    assert(ModelMetrics.ks(scored, "y", "p") == 0.0)
    assert(ModelMetrics.giniAndKs(scored, "y", "p") == ((0.0, 0.0)))
    val mon = new ScorecardMonitoring(sc, psiNBins = 10)
    val perf = mon.performance(noEvents, noEvents, "y")
    assert(perf.values.forall(_ == 0.0), perf.toString)
  }

  test("stability report histograms are half-open like their labels and " +
       "count no undefined test (drifted cohort, empty actual score bins)") {
    val mon = new ScorecardMonitoring(sc2, psiNBins = 10)
    // drift: the actual cohort keeps its upper half of scores only, so
    // the lower score bins are empty there and their tests undefined
    val median = actual
      .select(percentile(sc2.scoreColumn(), lit(0.5))).head.getDouble(0)
    val drifted = actual.where(sc2.scoreColumn() >= median)
    val st = mon.stabilityStats(expected, drifted, "y")
    val pvals = st.tests.map(_._5)
    assert(pvals.exists(_.isNaN), pvals.mkString(","))
    val report = mon.systemStabilityReport(expected, drifted, "y")
    val Line = """\s+(\[[^)]+\))\s+(\d+)""".r
    val got = report.linesIterator.collect {
      case Line(label, n) => label -> n.toInt
    }.toMap
    def bucket(vals: Array[Double], lo: Double, hi: Double) =
      vals.count(v => v >= lo && (v < hi || (hi == 1.0 && v == 1.0)))
    val psi = st.psiBins.map(_._4)
    val want = Map(
      "[0.00, 0.10)" -> bucket(psi, 0.0, 0.10),
      "[0.10, 0.25)" -> bucket(psi, 0.10, 0.25),
      "[0.25, Inf+)" -> bucket(psi, 0.25, Double.PositiveInfinity),
      "[0.00, 0.05)" -> bucket(pvals, 0.0, 0.05),
      "[0.05, 0.10)" -> bucket(pvals, 0.05, 0.10),
      "[0.10, 0.50)" -> bucket(pvals, 0.10, 0.50),
      "[0.50, 1.00)" -> bucket(pvals, 0.50, 1.0))
    assert(got == want, report)
    assert(pvals.count(!_.isNaN) ==
           Seq("[0.00, 0.05)", "[0.05, 0.10)", "[0.10, 0.50)",
               "[0.50, 1.00)").map(got).sum)
  }
}
