package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.core.Prebinning
import graft.core.Prebinning.HistBucket

/** Scorecard monitoring (`optbinning/scorecard/monitoring.py:166`):
  * population-stability and significance analysis between an expected
  * (train) and actual (production) cohort. Every report is a
  * driver-side reader of ONE cohort aggregate
  * ([[ScorecardMonitoring.cohorts]]): one Spark action that melts each
  * row of both cohorts into its score, proba or variable-bin entries
  * and groups them by (cohort, entry, key). The score-bin splits are
  * fitted per call on the expected slice of that aggregate, as the
  * reference's `fit(X_expected)` does, so no report runs a separate
  * split job and none grows in jobs with the number of variables.
  */
final class ScorecardMonitoring(val scorecard: FittedScorecard,
                                val psiNBins: Int = 20,
                                /** Score prebinning for the PSI bins:
                                  * "quantile" | "uniform" | "cart"
                                  * (`monitoring.py:195` psi_method;
                                  * reference default "cart"). cart
                                  * needs `psiYCol`. */
                                val psiMethod: String = "quantile",
                                val psiMinBinSize: Double = 0.05,
                                /** Target column for cart score bins
                                  * (`monitoring.py:492-498` fits
                                  * PreBinning on (score, y_expected))
                                  * of the reports that take no target;
                                  * the others fit on their own. */
                                val psiYCol: Option[String] = None) {

  import ScorecardMonitoring._

  require(Set("quantile", "uniform", "cart")(psiMethod),
          s"psi_method must be uniform, quantile or cart; got $psiMethod")

  private def score: Column = scorecard.scoreColumn()

  private def proba: Column = scorecard.predictProbaColumn()

  /** The target a score-bin aggregate carries: the call's own, else
    * `psiYCol` when the cart splits need one. */
  private def target(yCol: Option[String]): Option[Column] = {
    val y = if (psiMethod == "cart") yCol.orElse(psiYCol) else yCol
    require(psiMethod != "cart" || y.isDefined,
            "psi_method=cart needs psiYCol (CART fits on (score, y))")
    y.map(col)
  }

  /** Splits fitted on the expected score cells (entry 0 of `agg`), and
    * both cohorts' cells per score bin: s < splits(i) -> bin i. */
  private def scoreBins(agg: Cohorts): (Array[Double], Binned) = {
    val splits = scoreSplits(agg(0)(0), psiMethod, psiNBins,
                             psiMinBinSize, classification = true)
    (splits, new Binned(agg(0)(0), agg(1)(0), s => splits.count(_ <= s)))
  }

  /** 2-proportion Z-test of the event rates per score bin. */
  private def tests(b: Binned): Array[(Int, Double, Double, Double, Double)] =
    b.bins.indices.map { i =>
      val (e, a) = (b.expected(i), b.actual(i))
      val (z, p) =
        graft.core.Stats.testProportions(e.sy, e.n - e.sy, a.sy, a.n - a.sy)
      (b.bins(i), e.sy / math.max(e.n, 1), a.sy / math.max(a.n, 1), z, p)
    }.toArray

  /** Gini/KS of both cohorts over the proba cells of `entry`. */
  private def giniKs(agg: Cohorts, entry: Int): Map[String, Double] = {
    def of(c: Int): (Double, Double) = {
      val cells = agg(c)(entry)
      ModelMetrics.giniKs(cells.map(_.sy), cells.map(x => x.n - x.sy))
    }
    val ((ge, ke), (ga, ka)) = (of(0), of(1))
    Map("gini_expected" -> ge, "gini_actual" -> ga,
        "ks_expected" -> ke, "ks_actual" -> ka)
  }

  /** Record count and event rate per cohort, from any one entry. */
  private def targetOf(agg: Cohorts): Seq[(String, Double, Double)] = {
    val Array(e, a) = agg.map(_(0).reduce(_ + _))
    Seq(("count", e.n, a.n),
        ("event_rate", e.sy / math.max(e.n, 1), a.sy / math.max(a.n, 1)))
  }

  /** System stability: PSI over the score bins
    * (`monitoring.py:502-545`). Returns (bin, count_e, count_a,
    * p_expected, p_actual, psi). */
  def psiTable(expected: DataFrame, actual: DataFrame): DataFrame = {
    val (_, b) = scoreBins(cohorts(expected, actual, Seq(score), target(None)))
    Monitoring.psiFrame(expected.sparkSession, IntegerType, b.bins.toSeq,
                        b.expected.map(_.n), b.actual.map(_.n))
  }

  def psiTotal(expected: DataFrame, actual: DataFrame): Double =
    scoreBins(cohorts(expected, actual, Seq(score), target(None)))._2.psi.sum

  /** Per-variable PSI over each selected variable's fitted bins
    * (`monitoring.py:776-817`). Returns (variable, psi). */
  def psiVariableTable(expected: DataFrame,
                       actual: DataFrame): Seq[(String, Double)] = {
    val vars = scorecard.selected.toSeq
    val agg = cohorts(expected, actual, vars.map { v =>
      scorecard.process.fits(v).transform(col(v), metric = "indices")
    }, None)
    vars.indices.map { i =>
      vars(i) -> new Binned(agg(0)(i), agg(1)(i), _.toInt).psi.sum
    }
  }

  /** Significance tests per score bin: 2-proportion Z-test of event rates
    * between cohorts (`monitoring.py:598-654`). Returns
    * (bin, er_expected, er_actual, z, p-value). */
  def significanceTests(expected: DataFrame, actual: DataFrame,
                        yCol: String)
      : Array[(Int, Double, Double, Double, Double)] =
    tests(scoreBins(
      cohorts(expected, actual, Seq(score), target(Some(yCol))))._2)

  /** Performance comparison: Gini/KS of the score on both cohorts
    * (`monitoring.py:656-700`). */
  def performance(expected: DataFrame, actual: DataFrame,
                  yCol: String): Map[String, Double] =
    giniKs(cohorts(expected, actual, Seq(proba), Some(col(yCol))), 0)

  /** Target analysis: count/event statistics per cohort
    * (`monitoring.py` target report). */
  def targetAnalysis(expected: DataFrame, actual: DataFrame,
                     yCol: String): Seq[(String, Double, Double)] =
    // a constant entry: one cell per cohort
    targetOf(cohorts(expected, actual, Seq(lit(0.0)), Some(col(yCol))))

  /** Reference-shaped `information()` statistics block
    * (`tests/results/test_scorecard_monitoring_information.txt`
    * surface, `monitoring.py` print_level >= 1): cohort record counts,
    * scorecard variable count, target type. Timing lines are
    * intentionally omitted — they are run-dependent and the reference
    * golden itself cannot pin them. Counts come from an already-run
    * [[stabilityStats]] so the report costs no extra job. */
  def information(st: ScorecardMonitoring.StabilityStats): String =
    ScorecardMonitoring.informationBlock(
      st.psiBins.map(_._3).sum.toLong, st.psiBins.map(_._2).sum.toLong,
      scorecard.selected.length, "binary")

  /** Everything the stability report needs from one cohort aggregate
    * with score and proba entries: score splits, the per-bin PSI table,
    * per-bin 2-proportion z-tests, target analysis and per-cohort
    * Gini/KS. */
  def stabilityStats(expected: DataFrame, actual: DataFrame,
                     yCol: String): ScorecardMonitoring.StabilityStats = {
    val agg = cohorts(expected, actual, Seq(score, proba),
                      target(Some(yCol)))
    val (splits, b) = scoreBins(agg)
    ScorecardMonitoring.StabilityStats(
      psiBins = b.psiBins,
      psiTotal = b.psi.sum,
      tests = tests(b),
      performance = giniKs(agg, 1),
      targetAnalysis = targetOf(agg),
      scoreSplits = splits)
  }

  /** Text overview mirroring the reference's `system_stability_report`
    * (`monitoring.py:73-163`): PSI total + verdict and the per-bin PSI /
    * p-value histograms, target analysis, performance metrics.
    */
  def systemStabilityReport(expected: DataFrame, actual: DataFrame,
                            yCol: String): String = {
    val st = stabilityStats(expected, actual, yCol)
    val psi = st.psiBins.map(_._4)
    val tPsi = st.psiTotal
    // half-open [lo, hi) buckets, as labelled; the last p-value bucket
    // holds 1.0, and an undefined value (a score bin only one cohort
    // has) goes in no bucket
    def histo(vals: Array[Double], splits: Seq[Double]): Array[Int] = {
      val bins = Array.fill(splits.length + 1)(0)
      vals.filterNot(_.isNaN).foreach { v =>
        bins(splits.count(v >= _)) += 1
      }
      bins
    }
    val psiBins = histo(psi, Seq(0.10, 0.25))
    val pvals = st.tests.map(_._5)
    val pvalBins = histo(pvals, Seq(0.05, 0.10, 0.50))
    val ta = st.targetAnalysis
    val perf = st.performance
    val sb = new StringBuilder
    sb ++= "System stability report\n\n"
    sb ++= "  Population Stability Index (PSI)\n"
    val verdict = Monitoring.psiVerdict(tPsi)
    sb ++= f"    PSI total: $tPsi%7.4f ($verdict%s)\n"
    Seq("[0.00, 0.10)", "[0.10, 0.25)", "[0.25, Inf+)")
      .zip(psiBins).foreach { case (l, c) =>
        sb ++= f"    $l%-14s $c%5d\n"
      }
    sb ++= "\n  Significance tests (H0: actual == expected)\n"
    Seq("[0.00, 0.05)", "[0.05, 0.10)", "[0.10, 0.50)", "[0.50, 1.00)")
      .zip(pvalBins).foreach { case (l, c) =>
        sb ++= f"    $l%-14s $c%5d\n"
      }
    sb ++= "\n  Target analysis\n"
    ta.foreach { case (k, e, a) =>
      sb ++= f"    $k%-12s expected $e%12.6f actual $a%12.6f\n"
    }
    sb ++= "\n  Performance metrics\n"
    perf.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb ++= f"    $k%-14s $v%10.6f\n"
    }
    sb.result()
  }
}

object ScorecardMonitoring {
  /** Bundle of [[ScorecardMonitoring.stabilityStats]]: the full
    * stability report's numbers from one cohort aggregate.
    * `psiBins` rows are (bin, count_expected, count_actual, psi);
    * `tests` rows are (bin, er_expected, er_actual, z, p-value);
    * `scoreSplits` are the score-bin splits fitted on the expected
    * cohort. */
  final case class StabilityStats(
      psiBins: Array[(Int, Double, Double, Double)],
      psiTotal: Double,
      tests: Array[(Int, Double, Double, Double, Double)],
      performance: Map[String, Double],
      targetAnalysis: Seq[(String, Double, Double)],
      scoreSplits: Array[Double])

  /** Bundle of [[ContinuousScorecardMonitoring.stabilityStats]]:
    * `psiBins` rows are (bin, count_expected, count_actual, psi);
    * `tests` rows are (bin, mean_expected, mean_actual, t, p-value)
    * — Welch t-tests on the per-bin target means;
    * `targetAnalysis` rows are (metric, expected, actual) for
    * mean/std/p25/median/p75; `performanceExpected`/`performanceActual`
    * are the reference's ten regression metrics per cohort. */
  final case class ContinuousStabilityStats(
      psiBins: Array[(Int, Double, Double, Double)],
      psiTotal: Double,
      tests: Array[(Int, Double, Double, Double, Double)],
      targetAnalysis: Seq[(String, Double, Double)],
      performanceExpected: Map[String, Double],
      performanceActual: Map[String, Double],
      /** The fitted score-bin splits, exposed for pin-and-replay
        * verification. */
      scoreSplits: Array[Double])

  /** One (key, n, Σy, Σy²) cell of the cohort aggregate. */
  private[operators] final case class Cell(key: Double, n: Double,
                                           sy: Double, syy: Double) {
    def +(o: Cell): Cell = Cell(key, n + o.n, sy + o.sy, syy + o.syy)
  }

  /** The collected cohort aggregate: `agg(cohort)(entry)` holds that
    * slice's cells sorted by key (cohort 0 = expected, 1 = actual). */
  private[operators] type Cohorts = Array[Array[Array[Cell]]]

  private val MaxCells = 2000000

  /** Scores above this many distinct values snap onto a grid of this
    * many cells before the cart split search. */
  private val CartGrid = 10000

  /** The cohort aggregate every monitoring report reads: ONE Spark
    * action over `expected` (cohort 0) unioned with `actual` (cohort 1).
    * Each row melts through [[BinningProcess.chunkedMelt]] into one
    * entry per column of `entries` (the score, the proba, a variable's
    * bin index), and `groupBy(cohort, entry, key)` keeps n, plus Σy and
    * Σy² when the call has a target `y`. A scorecard's score and proba
    * take at most its bin-combination count of values, so the result
    * holds at most 2 × (distinct scores + Σ bins) rows for its entries;
    * it is collected once behind a cap. Fails fast on an empty cohort:
    * its splits and PSI shares are undefined.
    */
  private[operators] def cohorts(expected: DataFrame, actual: DataFrame,
                                 entries: Seq[Column],
                                 y: Option[Column]): Cohorts = {
    def side(df: DataFrame, tag: Int): DataFrame =
      df.select(Seq(lit(tag).as("__c")) ++
        y.map(_.cast("double").as("__t")) ++
        entries.zipWithIndex.map { case (e, i) =>
          e.cast("double").as(s"__e$i")
        }: _*)
    // the melt's class column carries the cohort, its value the key
    val melted = BinningProcess.chunkedMelt(
      side(expected, 0).unionByName(side(actual, 1)),
      entries.indices.map(_.toString),
      y.fold(lit(0.0))(_ => col("__t")), lit(1.0),
      i => col(s"__e$i"), _ => col("__c"))
    val sums =
      if (y.isEmpty) Nil else Seq(sum("y"), sum(col("y") * col("y")))
    val rows = melted.groupBy("cls", "var", "x")
      .agg(count(lit(1)).cast("double"), sums: _*)
      .limit(MaxCells + 1).collect()
    require(rows.length <= MaxCells,
            s"the monitoring aggregate exceeds $MaxCells (cohort, entry, " +
            "key) rows: the scores take too many distinct values to " +
            "collect on the driver")
    val cells = Array.fill(2, entries.length)(Array.newBuilder[Cell])
    rows.foreach { r =>
      cells(r.getInt(0))(r.getString(1).toInt) += Cell(
        r.getDouble(2), r.getDouble(3),
        if (y.isEmpty) 0.0 else r.getDouble(4),
        if (y.isEmpty) 0.0 else r.getDouble(5))
    }
    val agg = cells.map(_.map(_.result().sortBy(_.key)))
    require(agg(0)(0).nonEmpty, "expected cohort is empty")
    require(agg(1)(0).nonEmpty, "actual cohort is empty")
    agg
  }

  /** Both cohorts' cells per bin, over the union of their bins, `bin`
    * mapping a key to its bin; a bin one cohort lacks reads as an empty
    * cell there. */
  private[operators] final class Binned(e: Array[Cell], a: Array[Cell],
                                        bin: Double => Int) {
    private def byBin(cells: Array[Cell]): Map[Int, Cell] =
      cells.groupBy(c => bin(c.key)).map { case (b, g) => b -> g.reduce(_ + _) }
    private val (eb, ab) = (byBin(e), byBin(a))
    private val empty = Cell(0.0, 0.0, 0.0, 0.0)
    val bins: Array[Int] = (eb.keySet ++ ab.keySet).toArray.sorted
    val expected: Array[Cell] = bins.map(eb.getOrElse(_, empty))
    val actual: Array[Cell] = bins.map(ab.getOrElse(_, empty))
    val psi: Array[Double] =
      Monitoring.psiTerms(expected.map(_.n), actual.map(_.n))
    /** (bin, count_expected, count_actual, psi) rows. */
    def psiBins: Array[(Int, Double, Double, Double)] =
      bins.indices.map(i => (bins(i), expected(i).n, actual(i).n, psi(i)))
        .toArray
  }

  /** Score-bin splits fitted on the expected cohort's score cells
    * (sorted by score), `monitoring.py:480-500`: "quantile"
    * interpolates like numpy (and Spark `percentile`) over the exact
    * score histogram, "uniform" divides its [min, max], and "cart"
    * grows the prebinning CART on (score, y), classification on the
    * event counts or regression on the y sums. Only cart snaps the
    * scores onto the [[CartGrid]]-cell grid, and only when they take
    * more distinct values than that: a scorecard's few distinct scores
    * keep exact sklearn-style midpoints. */
  private[operators] def scoreSplits(exp: Array[Cell], method: String,
                                     nBins: Int, minBinSize: Double,
                                     classification: Boolean)
      : Array[Double] = method match {
    case "quantile" =>
      Prebinning.quantileSplits(
        exp.map(c => HistBucket(c.key, c.n.toLong, 0.0, 0.0)), nBins)
    case "uniform" =>
      val (lo, hi) = (exp.head.key, exp.last.key)
      (1 until nBins).map(i => lo + (hi - lo) * i / nBins).toArray
    case "cart" =>
      val snap: Double => Double =
        if (exp.length > CartGrid)
          Histograms.gridSnap(exp.head.key, exp.last.key, CartGrid)
        else identity
      val hist = exp.groupBy(c => snap(c.key)).toArray.map { case (s, g) =>
        val c = g.reduce(_ + _)
        if (classification) HistBucket(s, c.n.toLong, c.n - c.sy, c.sy)
        // regression cartSplits reads y0 as the bucket's total weight
        else HistBucket(s, c.n.toLong, c.n, 0.0, sum = c.sy, ssum = c.syy)
      }.sortBy(_.value)
      Prebinning.cartSplits(
        hist, maxLeafNodes = nBins,
        minSamplesLeaf = math.ceil(minBinSize * exp.map(_.n).sum).toLong,
        classification = classification)
  }

  /** The reference's information() "Statistics" block
    * (`test_scorecard_monitoring_information.txt`): label column
    * left-aligned, value column right-aligned to a fixed width. */
  private[operators] def informationBlock(nActual: Long, nExpected: Long,
                                          nVariables: Int,
                                          targetType: String): String = {
    def row(label: String, v: String): String =
      f"    $label%-30s${v}%10s"
    Seq("  Statistics",
        row("Number of records Actual", nActual.toString),
        row("Number of records Expected", nExpected.toString),
        row("Number of scorecard variables", nVariables.toString),
        row("Target type", targetType)).mkString("\n")
  }
}

/** Continuous-target scorecard monitoring — the regression branch of
  * the reference's `ScorecardMonitoring` (`monitoring.py:456,531-575`):
  * score bins come from a REGRESSION CART fit on the expected cohort's
  * (score, y) (`monitoring.py:494-498`, problem_type="regression"),
  * per-bin significance is Welch's t-test on the bin target means from
  * summary stats (`monitoring.py:650-652`,
  * `ttest_ind_from_stats(..., equal_var=False)` with numpy ddof=0
  * stds), target analysis reports mean/std/p25/median/p75
  * (`monitoring.py:696-709`), and performance is the ten-metric
  * regression table (`metrics/regression.py:109`) on
  * `FittedContinuousScorecard.predictColumn`.
  *
  * Splits, PSI, t-tests and moments read the binary monitor's cohort
  * aggregate ([[ScorecardMonitoring.cohorts]], score entry with n, Σy,
  * Σy²); the target quantiles are one exact `percentile` aggregate
  * grouped by cohort and the performance table two
  * [[ModelMetrics.regressionMetrics]] passes.
  */
final class ContinuousScorecardMonitoring(
    val scorecard: FittedContinuousScorecard,
    val psiNBins: Int = 20,
    /** "cart" (reference default) | "quantile" | "uniform" —
      * `monitoring.py:195` psi_method, all three fit on the expected
      * cohort's score histogram. */
    val psiMethod: String = "cart",
    val psiMinBinSize: Double = 0.05) {

  import ScorecardMonitoring._

  require(Set("quantile", "uniform", "cart")(psiMethod),
          s"psi_method must be uniform, quantile or cart; got $psiMethod")

  /** Reference-shaped `information()` statistics block (the continuous
    * variant of [[ScorecardMonitoring.information]] — see
    * `test_scorecard_monitoring_information.txt`); timing lines are
    * intentionally omitted (run-dependent). */
  def information(st: ScorecardMonitoring.ContinuousStabilityStats)
      : String =
    ScorecardMonitoring.informationBlock(
      st.psiBins.map(_._3).sum.toLong, st.psiBins.map(_._2).sum.toLong,
      scorecard.selected.length, "continuous")

  def stabilityStats(expected: DataFrame, actual: DataFrame,
                     yCol: String,
                     /** false skips the two regression-performance
                       * passes (each collects error columns for the
                       * exact medians) when the caller only needs
                       * PSI/tests/target analysis. */
                     withPerformance: Boolean = true)
      : ScorecardMonitoring.ContinuousStabilityStats = {
    val y = col(yCol).cast("double")
    val agg = cohorts(expected, actual, Seq(scorecard.scoreColumn()),
                      Some(y))
    val splits = scoreSplits(agg(0)(0), psiMethod, psiNBins,
                             psiMinBinSize, classification = false)
    // np.digitize(score, splits, right=True): bin = #splits < s
    val b = new Binned(agg(0)(0), agg(1)(0), s => splits.count(_ < s))
    // DELIBERATE shape divergence from the reference: `_fit_system`
    // iterates all len(splits)+1 score bins and reports a bin empty in
    // BOTH cohorts as a (0, 0, NaN-mean) row; here such bins are
    // omitted — they carry zero PSI mass and no defined test, and the
    // oracled queries replay occupied bins only. Callers needing the
    // reference's padded report shape can reindex over
    // 0 to splits.length with (0, 0, NaN) defaults.
    //
    // Welch from ddof=0 summary stats, exactly the arrays the
    // reference feeds scipy (`monitoring.py:531-544` y[mask].std())
    val tests = b.bins.indices.map { i =>
      val (e, a) = (b.expected(i), b.actual(i))
      val (m1, m2) = (e.sy / e.n, a.sy / a.n)
      // a bin present in only one cohort has no defined test — NaN
      // like scipy's ttest_ind_from_stats with n=0, without feeding a
      // NaN df into the t-distribution
      if (e.n < 2 || a.n < 2) (b.bins(i), m1, m2, Double.NaN, Double.NaN)
      else {
        val sd1 = math.sqrt(math.max(0.0, e.syy / e.n - m1 * m1))
        val sd2 = math.sqrt(math.max(0.0, a.syy / a.n - m2 * m2))
        val (t, p) =
          graft.core.Stats.ttestIndFromStats(m2, sd2, a.n, m1, sd1, e.n)
        (b.bins(i), m1, m2, t, p)
      }
    }.toArray

    // target analysis: mean/std (ddof=0) from the collected aggregate,
    // p25/median/p75 as one exact-percentile agg grouped by cohort
    // (numpy-style linear interpolation — Spark `percentile` matches)
    def moments(c: Int): (Double, Double) = {
      val t = agg(c)(0).reduce(_ + _)
      val m = t.sy / t.n
      (m, math.sqrt(math.max(0.0, t.syy / t.n - m * m)))
    }
    val q = expected.select(lit(0).as("c"), y.as("y"))
      .unionByName(actual.select(lit(1).as("c"), y.as("y")))
      .groupBy("c")
      .agg(percentile(col("y"), array(lit(0.25), lit(0.5), lit(0.75))))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val (me, sde) = moments(0)
    val (ma, sda) = moments(1)
    val target = Seq(
      ("mean", me, ma), ("std", sde, sda), ("p25", q(0)(0), q(1)(0)),
      ("median", q(0)(1), q(1)(1)), ("p75", q(0)(2), q(1)(2)))

    def perf(df: DataFrame): Map[String, Double] =
      ModelMetrics.regressionMetrics(
        df.select(y.as("__y"), scorecard.predictColumn().as("__p")),
        "__y", "__p")
    ScorecardMonitoring.ContinuousStabilityStats(
      psiBins = b.psiBins,
      psiTotal = b.psi.sum,
      tests = tests,
      targetAnalysis = target,
      performanceExpected =
        if (withPerformance) perf(expected) else Map.empty,
      performanceActual =
        if (withPerformance) perf(actual) else Map.empty,
      scoreSplits = splits)
  }
}
