package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scorecard monitoring (`optbinning/scorecard/monitoring.py:166`):
  * population-stability and significance analysis between an expected
  * (train) and actual (production) cohort. Every report is a small
  * aggregate: score deciles from the expected cohort (one exact
  * percentile agg), then one groupBy per cohort + a bins-sized join.
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
                                  * PreBinning on (score, y_expected)). */
                                val psiYCol: Option[String] = None) {

  require(Set("quantile", "uniform", "cart")(psiMethod),
          s"psi_method must be uniform, quantile or cart; got $psiMethod")

  /** Score-bin splits are a function of the EXPECTED cohort only and are
    * fitted once per monitor (the reference's `fit(X_expected)` computes
    * them once, `monitoring.py:480-500`); every report against the same
    * monitor reuses them, so psi/tests/report never re-run the
    * prebinning jobs. */
  private var splitsCache: Array[Double] = _

  private def scoreBins(expected: DataFrame): Array[Double] = {
    if (splitsCache != null) return splitsCache
    splitsCache = computeScoreBins(expected)
    splitsCache
  }

  /** The fitted score-bin splits, once any report has run (None before).
    * Exposed for verification/replay. */
  def fittedScoreSplits: Option[Array[Double]] = Option(splitsCache)

  private def computeScoreBins(expected: DataFrame): Array[Double] = {
    val sc = scorecard.scoreColumn()
    psiMethod match {
      case "quantile" =>
        val probs = (1 until psiNBins).map(_.toDouble / psiNBins)
        expected
          .select(percentile(sc, array(probs.map(lit(_)): _*)).as("q"))
          .head.getSeq[Double](0).toArray.distinct.sorted
      case "uniform" =>
        val r = expected.agg(min(sc), max(sc)).head
        val (lo, hi) = (r.getDouble(0), r.getDouble(1))
        (1 until psiNBins)
          .map(i => lo + (hi - lo) * i / psiNBins).toArray
      case "cart" =>
        val y = psiYCol.getOrElse(throw new IllegalArgumentException(
          "psi_method=cart needs psiYCol (CART fits on (score, y))"))
        // bounded per-score histogram (grid-compressed beyond 10k
        // buckets), then the same greedy CART used for prebinning
        val base = expected.select(sc.as("s"),
                                   col(y).cast("double").as("y"))
        val st = base.agg(count(lit(1)), min(col("s")), max(col("s")))
          .head
        val keyed =
          if (st.getLong(0) <= 10000) base
          else Histograms.gridCompress(base, "s", st.getDouble(1),
                                       st.getDouble(2), 10000)
        val hist = keyed.groupBy("s")
          .agg(count(lit(1)).as("n"),
               sum(when(col("y") === 0.0, 1.0).otherwise(0.0)).as("y0"),
               sum(when(col("y") =!= 0.0, 1.0).otherwise(0.0)).as("y1"))
          .collect()
          .map(r => graft.core.Prebinning.HistBucket(
            r.getDouble(0), r.getLong(1), r.getDouble(2),
            r.getDouble(3)))
          .sortBy(_.value)
        val total = hist.map(_.n).sum
        graft.core.Prebinning.cartSplits(
          hist, maxLeafNodes = psiNBins,
          minSamplesLeaf = math.ceil(psiMinBinSize * total).toLong,
          classification = true)
    }
  }

  /** System stability: PSI over score deciles
    * (`monitoring.py:502-545`). Returns (bin, count_e, count_a, psi). */
  /** Score staged as its own projection, then the bin chain compares a
    * plain attribute. Inlining the score into every `when` branch would
    * evaluate the full points CASE once per split per row (CollapseProject
    * keeps the stage because the alias is non-cheap and referenced by
    * every branch). */
  private def binnedScore(df: DataFrame, splits: Array[Double]): Column = {
    val s = col("__score")
    splits.indices.foldRight(lit(splits.length): Column) { (i, acc) =>
      when(s < splits(i), lit(i)).otherwise(acc)
    }
  }

  def psiTable(expected: DataFrame, actual: DataFrame): DataFrame = {
    val splits = scoreBins(expected)
    def binned(df: DataFrame): DataFrame =
      df.select(scorecard.scoreColumn().as("__score"))
        .select(binnedScore(df, splits).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("count"))
    Monitoring.psiTable(binned(expected), binned(actual))
  }

  def psiTotal(expected: DataFrame, actual: DataFrame): Double =
    psiTable(expected, actual).agg(sum("psi")).head.getDouble(0)

  /** Per-variable PSI over each selected variable's fitted bins
    * (`monitoring.py:776-817`). Returns (variable, psi). */
  def psiVariableTable(expected: DataFrame,
                       actual: DataFrame): Seq[(String, Double)] = {
    scorecard.selected.toSeq.map { v =>
      val f = scorecard.process.fits(v)
      val idx = f.transform(col(v), metric = "indices")
      def binned(df: DataFrame) =
        df.select(idx.as("bin")).groupBy("bin")
          .agg(count(lit(1)).as("count"))
      val psi = Monitoring.psiTable(binned(expected), binned(actual))
        .agg(sum("psi")).head.getDouble(0)
      v -> psi
    }
  }

  /** Significance tests per score bin: 2-proportion Z-test of event rates
    * between cohorts (`monitoring.py:598-654`). Returns
    * (bin, er_expected, er_actual, z, p-value). */
  def significanceTests(expected: DataFrame, actual: DataFrame,
                        yCol: String)
      : Array[(Int, Double, Double, Double, Double)] = {
    val splits = scoreBins(expected)
    def agg(df: DataFrame) = {
      df.select(scorecard.scoreColumn().as("__score"),
                col(yCol).cast("double").as("y"))
        .select(binnedScore(df, splits).as("bin"), col("y"))
        .groupBy("bin")
        .agg(sum("y").as("e"),
             (count(lit(1)).cast("double") - sum("y")).as("ne"))
        .collect()
        .map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2))))
        .toMap
    }
    val e = agg(expected)
    val a = agg(actual)
    (e.keySet ++ a.keySet).toArray.sorted.map { b =>
      val (e1, ne1) = e.getOrElse(b, (0.0, 0.0))
      val (e2, ne2) = a.getOrElse(b, (0.0, 0.0))
      val (z, p) = graft.core.Stats.testProportions(e1, ne1, e2, ne2)
      (b, e1 / math.max(e1 + ne1, 1), e2 / math.max(e2 + ne2, 1), z, p)
    }
  }

  /** Performance comparison: Gini/KS of the score on both cohorts
    * (`monitoring.py:656-700`). */
  def performance(expected: DataFrame, actual: DataFrame,
                  yCol: String): Map[String, Double] = {
    def withScore(df: DataFrame) =
      df.select(col(yCol).as("y"), scorecard.predictProbaColumn().as("p"))
    // gini and ks share the per-score aggregate: one scan per cohort
    val (ge, ke) = ModelMetrics.giniAndKs(withScore(expected), "y", "p")
    val (ga, ka) = ModelMetrics.giniAndKs(withScore(actual), "y", "p")
    Map(
      "gini_expected" -> ge,
      "gini_actual" -> ga,
      "ks_expected" -> ke,
      "ks_actual" -> ka)
  }

  private val MaxScoreCollect = 2000000

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

  /** Everything the stability report needs from ONE tagged-union
    * aggregate job: per-(cohort, score, proba) target counts, from which
    * the driver derives the per-bin PSI table, per-bin 2-proportion
    * z-tests, target analysis, and per-cohort Gini/KS — six cohort scans
    * fused into one (the score-bin splits stay a separate cached fit,
    * mirroring the reference's `monitoring.fit(X_expected)`). The collect
    * is bounded: a fitted scorecard's distinct (score, proba) pairs are
    * at most its bin-combination count, guarded like
    * `ModelMetrics.boundedScoreAgg`.
    */
  def stabilityStats(expected: DataFrame, actual: DataFrame,
                     yCol: String): ScorecardMonitoring.StabilityStats = {
    val sCol = scorecard.scoreColumn().cast("double")
    val pCol = scorecard.predictProbaColumn().cast("double")
    def side(df: DataFrame, tag: Int) =
      df.select(lit(tag).as("c"), sCol.as("s"), pCol.as("p"),
                col(yCol).cast("double").as("y"))
    val agg = side(expected, 0).unionAll(side(actual, 1))
      .groupBy("c", "s", "p")
      .agg(count(lit(1)).cast("double").as("n"), sum("y").as("e"))
      .limit(MaxScoreCollect + 1).collect()
    require(agg.length <= MaxScoreCollect,
            s"scorecard score cardinality exceeds $MaxScoreCollect " +
            "distinct values; use the per-report methods with approx paths")
    case class R(c: Int, s: Double, p: Double, n: Double, e: Double)
    val rows = agg.map(r => R(r.getInt(0), r.getDouble(1), r.getDouble(2),
                              r.getDouble(3), r.getDouble(4)))
    // fail fast on an empty cohort (mirrors the continuous monitor's
    // guard): psiMethod="quantile"/"uniform" would otherwise NPE on the
    // null percentile/min-max row and the PSI denominators go 0/0
    require(rows.exists(_.c == 0),
            "stabilityStats: expected cohort is empty")
    require(rows.exists(_.c == 1),
            "stabilityStats: actual cohort is empty")

    // cart score bins fit on the expected slice of this same aggregate
    // (no extra jobs). The SAME >10k-row grid compression
    // computeScoreBins applies runs here driver-side, so splitsCache is
    // identical whichever entry point populates it first (call-order
    // independence of psiTable/significanceTests vs stabilityStats)
    val splits: Array[Double] =
      if (splitsCache != null) splitsCache
      else if (psiMethod == "cart") {
        val exp = rows.filter(_.c == 0)
        val nRows = exp.map(_.n).sum
        val snap: Double => Double =
          if (nRows > 10000 && exp.nonEmpty)
            Histograms.gridSnap(exp.map(_.s).min, exp.map(_.s).max, 10000)
          else identity
        val hist = exp.groupBy(r => snap(r.s)).toArray
          .map { case (s, rs) =>
            val n = rs.map(_.n).sum; val e = rs.map(_.e).sum
            graft.core.Prebinning.HistBucket(s, n.toLong, n - e, e)
          }.sortBy(_.value)
        val total = hist.map(_.n).sum
        splitsCache = graft.core.Prebinning.cartSplits(
          hist, maxLeafNodes = psiNBins,
          minSamplesLeaf = math.ceil(psiMinBinSize * total).toLong,
          classification = true)
        splitsCache
      } else scoreBins(expected)
    def binOf(s: Double): Int = splits.count(_ <= s)

    // per-(cohort, bin) record/event counts -> PSI + z-tests
    def binAgg(c: Int): Map[Int, (Double, Double)] =
      rows.filter(_.c == c).groupBy(r => binOf(r.s))
        .map { case (b, rs) => b -> ((rs.map(_.n).sum, rs.map(_.e).sum)) }
    val eBins = binAgg(0)
    val aBins = binAgg(1)
    val te = eBins.values.map(_._1).sum
    val ta = aBins.values.map(_._1).sum
    val allBins = (eBins.keySet ++ aBins.keySet).toArray.sorted
    val psiBins = allBins.map { b =>
      val ce = eBins.getOrElse(b, (0.0, 0.0))._1
      val ca = aBins.getOrElse(b, (0.0, 0.0))._1
      val (pe, pa) = (ce / te, ca / ta)
      val psi = if (pe > 0 && pa > 0) (pa - pe) * math.log(pa / pe) else 0.0
      (b, ce, ca, psi)
    }
    val tests = allBins.map { b =>
      val (n1, e1) = eBins.getOrElse(b, (0.0, 0.0))
      val (n2, e2) = aBins.getOrElse(b, (0.0, 0.0))
      val (z, p) = graft.core.Stats.testProportions(e1, n1 - e1, e2, n2 - e2)
      (b, e1 / math.max(n1, 1), e2 / math.max(n2, 1), z, p)
    }

    // per-cohort Gini/KS over the proba aggregate (same arithmetic as
    // ModelMetrics.giniAndKs: rank-formula AUC, max ECDF gap)
    def giniKs(c: Int): (Double, Double) = {
      val byP = rows.filter(_.c == c).groupBy(_.p).toArray.sortBy(_._1)
      val ev = byP.map(_._2.map(_.e).sum)
      val ne = byP.map(g => g._2.map(_.n).sum - g._2.map(_.e).sum)
      val tE = ev.sum; val tNe = ne.sum
      // one-class cohort: gini/ks undefined — report 0 like
      // ModelMetrics.giniAndKs (not NaN/Inf in the performance map)
      if (tE == 0 || tNe == 0) return (0.0, 0.0)
      var cumNe = 0.0; var auc = 0.0
      var cumE = 0.0; var cumNeF = 0.0; var best = 0.0
      ev.indices.foreach { i =>
        auc += ev(i) * (cumNe + ne(i) / 2.0)
        cumNe += ne(i)
        cumE += ev(i); cumNeF += ne(i)
        best = math.max(best, math.abs(cumNeF / tNe - cumE / tE))
      }
      (2.0 * (auc / (tE * tNe)) - 1.0, best)
    }
    val (ge, ke) = giniKs(0)
    val (ga, ka) = giniKs(1)

    val eventsE = eBins.values.map(_._2).sum
    val eventsA = aBins.values.map(_._2).sum
    ScorecardMonitoring.StabilityStats(
      psiBins = psiBins,
      psiTotal = psiBins.map(_._4).sum,
      tests = tests,
      performance = Map(
        "gini_expected" -> ge, "gini_actual" -> ga,
        "ks_expected" -> ke, "ks_actual" -> ka),
      targetAnalysis = Seq(
        ("count", te, ta),
        ("event_rate", eventsE / math.max(te, 1),
                       eventsA / math.max(ta, 1))))
  }

  /** Target analysis: count/event statistics per cohort
    * (`monitoring.py` target report). */
  def targetAnalysis(expected: DataFrame, actual: DataFrame,
                     yCol: String): Seq[(String, Double, Double)] = {
    def stats(df: DataFrame): (Double, Double) = {
      val r = df.agg(count(lit(1)).cast("double"),
                     avg(col(yCol).cast("double"))).head
      (r.getDouble(0), r.getDouble(1))
    }
    val (ne, re) = stats(expected)
    val (na, ra) = stats(actual)
    Seq(("count", ne, na), ("event_rate", re, ra))
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
    def histo(vals: Array[Double], splits: Seq[Double]): Array[Int] = {
      val bins = Array.fill(splits.length + 1)(0)
      vals.foreach { v =>
        bins(splits.count(v > _)) += 1
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
    * stability report's numbers from one aggregate job.
    * `psiBins` rows are (bin, count_expected, count_actual, psi);
    * `tests` rows are (bin, er_expected, er_actual, z, p-value). */
  final case class StabilityStats(
      psiBins: Array[(Int, Double, Double, Double)],
      psiTotal: Double,
      tests: Array[(Int, Double, Double, Double, Double)],
      performance: Map[String, Double],
      targetAnalysis: Seq[(String, Double, Double)])

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
      /** The fitted regression-CART score-bin splits — exposed for
        * pin-and-replay verification (the binary monitor's
        * `fittedScoreSplits` role). */
      scoreSplits: Array[Double])

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
  * Scale shape mirrors the binary monitor: ONE tagged-union aggregate
  * per (cohort, score) with count/sum/ssum — bounded by the
  * scorecard's bin-combination count — feeds splits, PSI and t-tests
  * driver-side; the target quantiles are one exact `percentile`
  * aggregate per cohort and the performance table two
  * [[ModelMetrics.regressionMetrics]] passes.
  */
final class ContinuousScorecardMonitoring(
    val scorecard: FittedContinuousScorecard,
    val psiNBins: Int = 20,
    /** "cart" (reference default) | "quantile" | "uniform" —
      * `monitoring.py:195` psi_method, all three fit on the expected
      * cohort's score histogram. */
    val psiMethod: String = "cart",
    val psiMinBinSize: Double = 0.05,
    /** true swaps the target-analysis percentiles to the GK sketch
      * (`percentile_approx`): the exact percentile aggregate buffers a
      * cohort's y values on one executor, which stops fitting long
      * before 100 TB does. */
    val approxQuantiles: Boolean = false) {

  require(Set("quantile", "uniform", "cart")(psiMethod),
          s"psi_method must be uniform, quantile or cart; got $psiMethod")

  private val MaxScoreCollect = 2000000

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
    val sCol = scorecard.scoreColumn().cast("double")
    def side(df: DataFrame, tag: Int) =
      df.select(lit(tag).as("c"), sCol.as("s"),
                col(yCol).cast("double").as("y"))
    val agg = side(expected, 0).unionAll(side(actual, 1))
      .groupBy("c", "s")
      .agg(count(lit(1)).cast("double").as("n"), sum("y").as("sy"),
           sum(col("y") * col("y")).as("syy"))
      .limit(MaxScoreCollect + 1).collect()
    require(agg.length <= MaxScoreCollect,
            s"scorecard score cardinality exceeds $MaxScoreCollect " +
            "distinct values")
    case class R(c: Int, s: Double, n: Double, sy: Double, syy: Double)
    val rows = agg.map(r => R(r.getInt(0), r.getDouble(1),
                              r.getDouble(2), r.getDouble(3),
                              r.getDouble(4)))
    // fail fast on an empty cohort (the reference raises a clean
    // validation error): downstream, quantiles() would NPE on the
    // null exact-percentile result and te/ta would divide to NaN PSI
    // — the empty-input class q_score_deploy guards at the query
    // layer, enforced here at the library surface
    require(rows.exists(_.c == 0),
            "stabilityStats: expected cohort is empty")
    require(rows.exists(_.c == 1),
            "stabilityStats: actual cohort is empty")

    // regression CART on the expected slice (grid-compressed beyond
    // 10k distinct scores, the binary monitor's discipline)
    val exp = rows.filter(_.c == 0)
    val nRows = exp.map(_.n).sum
    val snap: Double => Double =
      if (exp.length > 10000)
        Histograms.gridSnap(exp.map(_.s).min, exp.map(_.s).max, 10000)
      else identity
    val hist = exp.groupBy(r => snap(r.s)).toArray
      .map { case (s, rs) =>
        val nb = rs.map(_.n).sum
        // regression cartSplits reads y0 as the bucket's total weight
        graft.core.Prebinning.HistBucket(
          s, nb.toLong, nb, 0.0,
          sum = rs.map(_.sy).sum, ssum = rs.map(_.syy).sum)
      }.sortBy(_.value)
    val splits = psiMethod match {
      case "cart" =>
        graft.core.Prebinning.cartSplits(
          hist, maxLeafNodes = psiNBins,
          minSamplesLeaf = math.ceil(psiMinBinSize * nRows).toLong,
          classification = false)
      case "quantile" =>
        graft.core.Prebinning.quantileSplits(hist, psiNBins)
      case "uniform" =>
        val (lo, hi) = (hist.head.value, hist.last.value)
        (1 until psiNBins)
          .map(i => lo + (hi - lo) * i / psiNBins).toArray
    }

    // np.digitize(score, splits, right=True): bin = #splits < s
    def binOf(s: Double): Int = splits.count(_ < s)
    def binAgg(c: Int): Map[Int, (Double, Double, Double)] =
      rows.filter(_.c == c).groupBy(r => binOf(r.s))
        .map { case (b, rs) =>
          b -> ((rs.map(_.n).sum, rs.map(_.sy).sum,
                 rs.map(_.syy).sum))
        }
    val eBins = binAgg(0)
    val aBins = binAgg(1)
    val te = eBins.values.map(_._1).sum
    val ta = aBins.values.map(_._1).sum
    // DELIBERATE shape divergence from the reference: `_fit_system`
    // iterates all len(splits)+1 score bins and reports a bin empty in
    // BOTH cohorts as a (0, 0, NaN-mean) row; here such bins are
    // omitted — they carry zero PSI mass and no defined test, and the
    // oracled queries replay occupied bins only. Callers needing the
    // reference's padded report shape can reindex over
    // 0 to splits.length with (0, 0, NaN) defaults.
    val allBins = (eBins.keySet ++ aBins.keySet).toArray.sorted
    val psiBins = allBins.map { b =>
      val ce = eBins.getOrElse(b, (0.0, 0.0, 0.0))._1
      val ca = aBins.getOrElse(b, (0.0, 0.0, 0.0))._1
      val (pe, pa) = (ce / te, ca / ta)
      val psi = if (pe > 0 && pa > 0) (pa - pe) * math.log(pa / pe)
                else 0.0
      (b, ce, ca, psi)
    }
    // Welch from ddof=0 summary stats, exactly the arrays the
    // reference feeds scipy (`monitoring.py:531-544` y[mask].std())
    val tests = allBins.map { b =>
      val (n1, s1, ss1) = eBins.getOrElse(b, (0.0, 0.0, 0.0))
      val (n2, s2, ss2) = aBins.getOrElse(b, (0.0, 0.0, 0.0))
      val (m1, m2) = (s1 / n1, s2 / n2)
      // a bin present in only one cohort has no defined test — NaN
      // like scipy's ttest_ind_from_stats with n=0, without feeding a
      // NaN df into the t-distribution
      if (n1 < 2 || n2 < 2) (b, m1, m2, Double.NaN, Double.NaN)
      else {
        val sd1 = math.sqrt(math.max(0.0, ss1 / n1 - m1 * m1))
        val sd2 = math.sqrt(math.max(0.0, ss2 / n2 - m2 * m2))
        val (t, p) =
          graft.core.Stats.ttestIndFromStats(m2, sd2, n2, m1, sd1, n1)
        (b, m1, m2, t, p)
      }
    }

    // target analysis: mean/std (ddof=0) from the collected aggregate,
    // p25/median/p75 as one exact-percentile agg per cohort
    // (numpy-style linear interpolation — Spark `percentile` matches;
    // the exact aggregate BUFFERS the cohort's y values, so at data
    // scales where that no longer fits an executor, construct with
    // `approxQuantiles = true` for the sketch-based percentiles)
    def moments(c: Int): (Double, Double) = {
      val rs = rows.filter(_.c == c)
      val n = rs.map(_.n).sum
      val m = rs.map(_.sy).sum / n
      (m, math.sqrt(math.max(0.0, rs.map(_.syy).sum / n - m * m)))
    }
    def quantiles(df: DataFrame): Seq[Double] = {
      val y = col(yCol).cast("double")
      val q =
        if (approxQuantiles)
          percentile_approx(y, array(lit(0.25), lit(0.5), lit(0.75)),
                            lit(10000))
        else percentile(y, array(lit(0.25), lit(0.5), lit(0.75)))
      df.select(q.as("q")).head.getSeq[Double](0)
    }
    val (me, sde) = moments(0)
    val (ma, sda) = moments(1)
    val qe = quantiles(expected)
    val qa = quantiles(actual)
    val target = Seq(
      ("mean", me, ma), ("std", sde, sda), ("p25", qe(0), qa(0)),
      ("median", qe(1), qa(1)), ("p75", qe(2), qa(2)))

    def perf(df: DataFrame): Map[String, Double] =
      ModelMetrics.regressionMetrics(
        df.select(col(yCol).cast("double").as("__y"),
                  scorecard.predictColumn().as("__p")),
        "__y", "__p")
    ScorecardMonitoring.ContinuousStabilityStats(
      psiBins = psiBins,
      psiTotal = psiBins.map(_._4).sum,
      tests = tests,
      targetAnalysis = target,
      performanceExpected =
        if (withPerformance) perf(expected) else Map.empty,
      performanceActual =
        if (withPerformance) perf(actual) else Map.empty,
      scoreSplits = splits)
  }
}
