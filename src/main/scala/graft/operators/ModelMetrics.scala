package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-performance metrics (`optbinning/metrics/classification.py`,
  * `optbinning/metrics/regression.py`) as distributed DataFrame
  * aggregations: score-level Gini/KS run on a quantile-compressed score
  * distribution (one groupBy, no global sort of raw rows), confusion and
  * regression metrics are single-pass aggregates.
  */
object ModelMetrics {

  /** Bound on the exact-median collect (mirrors Outliers.MaxExactCollect). */
  private val MaxExactCollect = 20000000L

  /** Bound on the per-score-value aggregate collected for Gini/KS; past
    * it the driver would hold one row per distinct score. */
  private val MaxScoreValues = 2000000

  /** Snap scores onto a bounded uniform grid (one min/max pass +
    * `Histograms.gridSnap`) so the per-score aggregate — and the
    * driver collect — stay O(grid) at any data scale. Rank-formula
    * AUC/KS on the quantized distribution is the standard histogram
    * approximation; error is bounded by the grid width. */
  private def quantizeScores(df: DataFrame, s: String): DataFrame = {
    val st = df.agg(min(col(s)), max(col(s))).head
    if (st.isNullAt(0)) df
    else df.withColumn(s, Histograms.gridSnap(col(s), st.getDouble(0),
                                              st.getDouble(1), 100000))
  }

  private def boundedScoreAgg(df: DataFrame): Array[org.apache.spark.sql.Row] = {
    // orderBy + limit plans as TakeOrdered: the driver sees at most
    // MaxScoreValues + 1 rows no matter the score cardinality
    val agg = df.limit(MaxScoreValues + 1).collect()
    require(agg.length <= MaxScoreValues,
            s"score cardinality exceeds $MaxScoreValues distinct values; " +
            "use approx = true to quantize onto a bounded grid")
    agg
  }

  /** The Gini/KS kernel over per-score (events, non-events), scores
    * ascending: Gini = 2*AUC - 1 by the rank formula (no ROC
    * materialization), KS = the largest gap of the class-conditional
    * score CDFs (`classification.py:34-67`). A one-class input has
    * neither: both read 0, not NaN. */
  private[graft] def giniKs(events: Array[Double],
                            nonEvents: Array[Double]): (Double, Double) = {
    val te = events.sum; val tne = nonEvents.sum
    if (te == 0 || tne == 0) return (0.0, 0.0)
    var cumE = 0.0; var cumNe = 0.0; var auc = 0.0; var best = 0.0
    events.indices.foreach { i =>
      // trapezoid: events at this score see cumNe + ne/2 nonevents below
      auc += events(i) * (cumNe + nonEvents(i) / 2.0)
      cumNe += nonEvents(i)
      cumE += events(i)
      best = math.max(best, math.abs(cumNe / tne - cumE / te))
    }
    (2.0 * (auc / (te * tne)) - 1.0, best)
  }

  /** Gini = 2*AUC - 1 over (label, score): the first component of
    * [[giniAndKs]]. */
  def gini(df: DataFrame, labelCol: String, scoreCol: String,
           approx: Boolean = false): Double =
    giniAndKs(df, labelCol, scoreCol, approx)._1

  /** KS statistic over scores: the second component of [[giniAndKs]]. */
  def ks(df: DataFrame, labelCol: String, scoreCol: String,
         approx: Boolean = false): Double =
    giniAndKs(df, labelCol, scoreCol, approx)._2

  /** Gini and KS from ONE per-score (event, nonevent) aggregate, the
    * sufficient statistic both share. Exact when score cardinality is
    * modest; `approx = true` grid-quantizes scores first (the 100 TB
    * path: bounded aggregate, bounded collect). */
  def giniAndKs(df: DataFrame, labelCol: String, scoreCol: String,
                approx: Boolean = false): (Double, Double) = {
    val base =
      if (approx) quantizeScores(df.select(col(scoreCol).cast("double")
        .as(scoreCol), col(labelCol)), scoreCol)
      else df
    val agg = boundedScoreAgg(base.groupBy(col(scoreCol).as("s"))
      .agg(sum(col(labelCol).cast("double")).as("e"),
           count(lit(1)).cast("double").as("n"))
      .orderBy("s"))
    giniKs(agg.map(_.getDouble(1)),
           agg.map(r => r.getDouble(2) - r.getDouble(1)))
  }

  /** Imbalanced binary classification metrics from a prediction column
    * (`classification.py:70-108`): TPR/TNR/FPR/FNR/balanced accuracy/
    * discriminant power — one aggregate over the confusion counts. */
  def imbalancedClassificationMetrics(df: DataFrame, labelCol: String,
                                      predCol: String)
      : Map[String, Double] = {
    val y = col(labelCol).cast("double")
    val p = col(predCol).cast("double")
    val r = df.agg(
      sum(when(y === 1.0 && p === 1.0, 1.0).otherwise(0.0)).as("tp"),
      sum(when(y === 0.0 && p === 0.0, 1.0).otherwise(0.0)).as("tn"),
      sum(when(y === 0.0 && p === 1.0, 1.0).otherwise(0.0)).as("fp"),
      sum(when(y === 1.0 && p === 0.0, 1.0).otherwise(0.0)).as("fn")).head
    val (tp, tn, fp, fn) =
      (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    val tpr = tp / (tp + fn)
    val tnr = tn / (fp + tn)
    val dp = math.sqrt(3) / math.Pi *
      (math.log(tpr / (1 - tnr)) + math.log(tnr / (1 - tpr)))
    Map(
      "True positive rate" -> tpr,
      "True negative rate" -> tnr,
      "False positive rate" -> (1.0 - tnr),
      "False negative rate" -> (1.0 - tpr),
      "Balanced accuracy" -> 0.5 * (tpr + tnr),
      "Discriminant power" -> dp)
  }

  /** Regression metrics (`regression.py:17-166`): one aggregate pass for
    * the closed-form metrics plus one narrow two-column collect for the
    * exact medians (the exact `median` aggregate's buffer grows with
    * distinct-value count — on continuous errors that is every row; the
    * sorted-collect route is ~5x faster and matches numpy/DuckDB linear
    * interpolation). Pass `approx = true` at cluster scale for mergeable
    * sketch medians with no collect. */
  def regressionMetrics(df: DataFrame, labelCol: String,
                        predCol: String,
                        approx: Boolean = false): Map[String, Double] = {
    val y = col(labelCol).cast("double")
    val p = col(predCol).cast("double")
    val err = y - p
    // y=0 rows have no defined percentage error: null them explicitly
    // (ANSI mode would otherwise raise DIVIDE_BY_ZERO) so averages and
    // medians run over the defined rows, like DuckDB's null-on-div-0
    val ape = when(y =!= 0.0, abs(err / y))
    val pe = when(y =!= 0.0, err / y)
    // reference convention (metrics/regression.py:70-105): SMAPE and
    // SMdAPE use |e| / (|y| + |p|) WITHOUT the classic x2 factor
    val sden = abs(y) + abs(p)
    val sape = when(sden =!= 0.0, abs(err) / sden)
    def interp(a: Array[Double], prob: Double): Double = {
      val pos = prob * (a.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      a(lo) + (pos - lo) * (a(hi) - a(lo))
    }
    val (mdae, mdape, smdape) =
      if (approx) {
        val m = df.select(
          percentile_approx(abs(err), lit(0.5), lit(10000)).as("a"),
          percentile_approx(ape, lit(0.5), lit(10000)).as("b"),
          percentile_approx(sape, lit(0.5), lit(10000)).as("c"))
          .head
        (m.getDouble(0), m.getDouble(1), m.getDouble(2))
      } else {
        // per-column null drops: y=0 rows null only err/y, and must stay
        // in the mdae median (median(abs(err)) semantics)
        val rows = df.select(abs(err).as("a"), ape.as("b"),
                             sape.as("c"))
          .collect()
        require(rows.length <= MaxExactCollect,
                s"exact median collects the error columns (n=${rows.length}); " +
                "use approx = true at this scale")
        val a = rows.collect { case r if !r.isNullAt(0) => r.getDouble(0) }
        val b = rows.collect { case r if !r.isNullAt(1) => r.getDouble(1) }
        val c = rows.collect { case r if !r.isNullAt(2) => r.getDouble(2) }
        java.util.Arrays.sort(a)
        java.util.Arrays.sort(b)
        java.util.Arrays.sort(c)
        (interp(a, 0.5), interp(b, 0.5), interp(c, 0.5))
      }
    val r = df.agg(
      avg(abs(err)).as("mae"),
      avg(err * err).as("mse"),
      avg(ape).as("mape"),
      avg(pe).as("mpe"),
      avg(sape).as("smape"),
      variance(err).as("var_err"),
      variance(y).as("var_y"),
      avg(y).as("mean_y"),
      avg(err).as("mean_err"),
      count(lit(1)).cast("double").as("n"),
      sum(err * err).as("sse"),
      sum(y * y).as("syy"),
      sum(y).as("sy")).head
    val n = r.getDouble(9)
    val sse = r.getDouble(10)
    val sst = r.getDouble(11) - r.getDouble(12) * r.getDouble(12) / n
    Map(
      "Mean absolute error" -> r.getDouble(0),
      "Mean squared error" -> r.getDouble(1),
      "Mean absolute percentage error" -> r.getDouble(2),
      "Mean percentage error" -> r.getDouble(3),
      "Median absolute error" -> mdae,
      "Median absolute percentage error" -> mdape,
      "Symmetric mean absolute percentage error" -> r.getDouble(4),
      "Symmetric median absolute percentage error" -> smdape,
      "Explained variance" -> (1.0 - r.getDouble(5) / r.getDouble(6)),
      "R^2" -> (1.0 - sse / sst))
  }

  /** Cohen's kappa as an EXACT rational — inter-rater / classifier-vs-
    * gold agreement corrected for chance, the statistic a confusion
    * matrix doesn't directly give. With n = total, a = agreeing rows,
    * pe_num = Σ_k row_k · col_k (the chance-agreement numerator over
    * n²): kappa = (n·a − pe_num) / (n² − pe_num). Both parts are
    * emitted as BIGINTs — no float division anywhere, so the result
    * hash-replays on any engine and callers divide at display time.
    *
    * Scale shape: ONE (gold, pred) count aggregate (bounded by the
    * class-pair count), then marginal/total aggregates over that
    * bounded matrix — nothing after the first shuffle scales with the
    * data. Overflow bound: n² must fit a long (n ≤ ~3e9 rows).
    *
    * Returns one row: (n_total, n_agree, pe_num, kappa_num, kappa_den).
    */
  def cohenKappaRational(df: DataFrame, goldCol: String,
                         predCol: String): DataFrame = {
    val m = df.where(col(goldCol).isNotNull && col(predCol).isNotNull)
      .groupBy(col(goldCol).as("__g"), col(predCol).as("__p"))
      .agg(count(lit(1)).as("__n"))
    val tot = m.agg(sum("__n").as("n_total"),
                    coalesce(sum(when(col("__g") === col("__p"),
                                      col("__n")).otherwise(0L)),
                             lit(0L)).as("n_agree"))
    val rows = m.groupBy("__g").agg(sum("__n").as("__rn"))
    val cols = m.groupBy("__p").agg(sum("__n").as("__cn"))
    // classes absent from one side contribute row·col = 0: inner join
    val pe = rows.join(cols, col("__g") === col("__p"))
      .agg(coalesce(sum(col("__rn") * col("__cn")), lit(0L))
             .as("pe_num"))
    tot.crossJoin(pe)
      .select(col("n_total"), col("n_agree"), col("pe_num"),
              (col("n_total") * col("n_agree") - col("pe_num"))
                .as("kappa_num"),
              (col("n_total") * col("n_total") - col("pe_num"))
                .as("kappa_den"))
  }
}
