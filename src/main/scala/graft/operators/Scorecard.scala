package graft.operators

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.LinearRegression
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Credit scorecard (`optbinning/scorecard/scorecard.py:177`): binning
  * process -> WoE transform -> linear estimator -> per-bin points with
  * pdo/odds or min/max scaling. Spark-native: the estimator is
  * `spark.ml` LogisticRegression/LinearRegression over the assembled WoE
  * vector (one extra narrow projection), and scoring is a generated
  * points-CASE column per variable summed row-wise — single stage, no
  * shuffle, no model object needed at score time.
  */
object Scorecard {

  final case class ScalingConfig(
      method: Option[String] = None,            // "pdo_odds" | "min_max"
      pdo: Double = 20, odds: Double = 50, scorecardPoints: Double = 600,
      min: Double = 300, max: Double = 850,
      reverseScorecard: Boolean = false,
      interceptBased: Boolean = false,
      rounding: Boolean = false)

  final case class PointsRow(variable: String, binId: Int, bin: String,
                             count: Double, eventRate: Double, woe: Double,
                             coefficient: Double, points: Double)

  def fit(df: DataFrame, variables: Seq[String], yCol: String,
          binningConfig: BinningConfig = BinningConfig(),
          /** Per-variable binning overrides (`binning_fit_params`,
            * `scorecard.py:219-224`) — e.g. pinned user splits per
            * variable. */
          varOverrides: Map[String, BinningConfig] = Map.empty,
          selection: BinningProcess.Selection = BinningProcess.Selection(),
      scaling: ScalingConfig = ScalingConfig(),
      target: String = "binary",
      regParam: Double = 0.0,
      elasticNetParam: Double = 0.0,
      /** WoE value used for special/missing rows in the design matrix
        * and their Points (`scorecard.py:265` fit defaults
        * metric_special=0, metric_missing=0; "empirical" uses the
        * fitted WoE like every other bin). */
      metricSpecial: Any = 0.0,
      metricMissing: Any = 0.0,
      /** Per-row sample weights (`scorecard.py:265` sample_weight,
        * binary targets only like the reference, `:572-575`): weights
        * flow into both the per-variable binning fits and the estimator
        * objective. */
      weightCol: Option[String] = None): FittedScorecard = {

    require(weightCol.isEmpty || target == "binary",
            "sample weights are only supported for binary targets " +
            "(`scorecard.py:572-575`)")
    val process = BinningProcess.fit(df, variables, yCol,
                                     targetType = "binary",
                                     config = binningConfig,
                                     varOverrides = varOverrides,
                                     selection = selection,
                                     weightCol = weightCol)
    val selected = process.selectedVariables.toSeq
    require(selected.nonEmpty, "no variables survive selection criteria")

    // WoE design matrix (one generated CASE per variable; single stage).
    // WoE is piecewise-constant in the bin index, so the matrix collapses
    // to one weighted row per (bin combination, label): the estimator
    // optimizes an identical weighted objective over <= prod(n_bins) rows
    // instead of scanning every input row per L-BFGS iteration. One
    // aggregate pass over the data, then driver-sized iterations — the
    // row count is bounded by the bin-combination count, not data scale.
    val xt = process.transform(df, metric = "woe",
      keepCols = Seq(yCol) ++ weightCol,
      transformParams =
        selected.map(v => v -> ((metricSpecial, metricMissing))).toMap)
    val assembler = new VectorAssembler()
      .setInputCols(selected.toArray).setOutputCol("features")
    // probe the ACTUAL distinct (bin-combination, label) count with a
    // bounded collect — the per-variable bin-count product is wildly
    // pessimistic (30 variables x 6 bins ~ 6^30 while the data holds at
    // most min(rows, combos) distinct combinations). The product still
    // serves as a free pre-filter: when it is astronomically large the
    // aggregate cannot plausibly collapse, so skip the probe entirely
    // instead of paying a full shuffle whose result would be discarded.
    val MaxCombos = 100000
    val comboProduct = selected
      .map(v => process.fits(v).table.rows.length.toDouble).product
    // combination weight = count without sample weights, sum(weight)
    // with them — the compact aggregate then carries the exact weighted
    // objective for both IRLS and spark.ml
    val comboW: Column = weightCol
      .map(c => sum(col(c).cast("double")).cast("double"))
      .getOrElse(count(lit(1)).cast("double"))
    lazy val grouped = xt.groupBy(selected.map(col) :+ col(yCol): _*)
      .agg(comboW.as("w"))
    val probe: Array[org.apache.spark.sql.Row] =
      if (comboProduct > 1e9) Array.empty
      else inKeyOrder(grouped.limit(MaxCombos + 1).collect(),
                      selected.size + 1)
    val oversized = comboProduct > 1e9 || probe.length > MaxCombos
    val compact =
      if (oversized)
        xt.withColumn("w", weightCol.map(c => col(c).cast("double"))
          .getOrElse(lit(1.0)))
      else grouped.coalesce(1)

    // ONE collect of the compact aggregate feeds both the counterfactual
    // closeness basis and the driver-side estimator below
    val compactRows: Option[Array[org.apache.spark.sql.Row]] =
      if (oversized) None else Some(probe)

    // WoE mean + Cholesky whitening factor of inv(cov) over the SAME
    // compact aggregate (weights = multiplicities, so this equals the
    // reference's row-level np.cov/chol on the transformed matrix,
    // `counterfactual/problem_data.py:52-55`) — feeds the counterfactual
    // "closeness" (Mahalanobis) objective. None when degenerate.
    val woeStats: Option[(Array[Double], Array[Array[Double]])] =
      compactRows.flatMap { rows => try {
        val p = selected.size
        val wTot = rows.map(_.getDouble(p + 1)).sum
        val mu = new Array[Double](p)
        rows.foreach { r =>
          val w = r.getDouble(p + 1)
          (0 until p).foreach(i => mu(i) += w * r.getDouble(i))
        }
        (0 until p).foreach(i => mu(i) /= wTot)
        val cov = breeze.linalg.DenseMatrix.zeros[Double](p, p)
        rows.foreach { r =>
          val w = r.getDouble(p + 1)
          val d = (0 until p).map(i => r.getDouble(i) - mu(i))
          for (i <- 0 until p; j <- 0 until p)
            cov(i, j) += w * d(i) * d(j)
        }
        cov :/= (wTot - 1.0)
        (0 until p).foreach(i => cov(i, i) += 1e-12)
        val f = breeze.linalg.cholesky(breeze.linalg.inv(cov))
        Some((mu, Array.tabulate(p, p)((i, j) => f(i, j))))
      } catch { case _: Exception => None }
      }

    // Estimator. Fits on a collected compact table solve on the driver
    // (IRLS / weighted normal equations — the same MLE spark.ml
    // converges to, without one treeAggregate job per L-BFGS iteration;
    // at sf0.1 that overhead dominates the fit). Binary L2 also solves
    // on the driver (penalized IRLS); only elastic-net, regularized
    // continuous targets, and oversized combination spaces take the
    // distributed spark.ml path — the 100 TB fallback when the
    // aggregate can't collapse.
    def sparkMlFit(): (Array[Double], Double) = {
      val assembled = assembler.transform(compact)
        .select(col("features"), col(yCol).cast("double").as("label"),
                col("w"))
        .persist()
      try {
        target match {
          case "binary" =>
            // tol 1e-4 matches the reference estimator default
            // (sklearn LogisticRegression)
            val lr = new LogisticRegression()
              .setRegParam(regParam).setElasticNetParam(elasticNetParam)
              .setStandardization(false).setTol(1e-4).setWeightCol("w")
            val m = lr.fit(assembled)
            (m.coefficients.toArray, m.intercept)
          case "continuous" =>
            val lr = new LinearRegression()
              .setRegParam(regParam).setElasticNetParam(elasticNetParam)
              .setStandardization(false).setWeightCol("w")
            val m = lr.fit(assembled)
            (m.coefficients.toArray, m.intercept)
        }
      } finally assembled.unpersist()
    }

    val (coefs, intercept) = compactRows match {
      case Some(rows) if elasticNetParam == 0.0 && rows.nonEmpty &&
                         (regParam == 0.0 || target == "binary") =>
        // L2 via penalized Newton: lambda = regParam * total weight maps
        // spark.ml's (1/W) sum loss + regParam * 0.5 |beta|^2 objective
        // onto the summed form (sklearn C maps as regParam = 1/(C * W))
        val wTot = rows.map(r => r.getDouble(selected.size + 1)).sum
        try driverGlmFit(rows, selected.size, target, l2 = regParam * wTot)
        catch { case _: Exception => sparkMlFit() }
      case _ => sparkMlFit()
    }

    // points = woe * coef per bin; special/missing rows take
    // metric_special/metric_missing * coef unless "empirical"
    // (`scorecard.py:639-664`, the loc overrides at :651-660)
    def metricValue(m: Any, empirical: Double): Double = m match {
      case "empirical" => empirical
      case v: Double   => v
      case v: Int      => v.toDouble
      case other => throw new IllegalArgumentException(
        s"metric must be a number or \"empirical\"; got $other")
    }
    val n = selected.size
    var rows: Seq[PointsRow] = selected.zipWithIndex.flatMap {
      case (v, i) =>
        val f = process.fits(v)
        val c = coefs(i)
        val nTable = f.table.rows.length
        val nOthers =
          if (f.catOthers != null && f.catOthers.nonEmpty) 1 else 0
        f.table.rows.zipWithIndex.map { case (r, binId) =>
          val base =
            if (binId == nTable - 1) metricValue(metricMissing, r.woe)
            else if (binId >= f.nDataBins + nOthers)
              metricValue(metricSpecial, r.woe)
            else r.woe
          PointsRow(v, binId, r.bin, r.count, r.eventRate, r.woe, c,
                    base * c)
        }
    }

    val (scaled, interceptOut) = applyScaling(rows, intercept, n, scaling)
    new FittedScorecard(process, selected.toArray, coefs, intercept,
                        scaled.toArray, interceptOut, scaling, woeStats,
                        metricSpecial, metricMissing)
  }

  /** Scaling + intercept-based shift + rounding, shared by the binary and
    * continuous-target fits (`scorecard.py:121-174`). */
  private def applyScaling(rows0: Seq[PointsRow], intercept: Double,
                           n: Int, scaling: ScalingConfig)
      : (Seq[PointsRow], Double) = {
    var rows = rows0
    // scaling (`scorecard.py:121-156`)
    val sense = if (scaling.reverseScorecard) -1.0 else 1.0
    rows = scaling.method match {
      case Some("pdo_odds") =>
        val factor = scaling.pdo / math.log(2)
        val offset = scaling.scorecardPoints -
          factor * math.log(scaling.odds)
        rows.map(r => r.copy(points =
          -(sense * r.points + intercept / n) * factor + offset / n))
      case Some("min_max") =>
        val byVar = rows.groupBy(_.variable)
        val minP = byVar.values.map(_.map(_.points).min).sum
        val maxP = byVar.values.map(_.map(_.points).max).sum
        val smin = intercept + minP
        val smax = intercept + maxP
        val slope = sense * (scaling.min - scaling.max) / (smax - smin)
        val shift =
          if (scaling.reverseScorecard) scaling.min - slope * smin
          else scaling.max - slope * smin
        val basePoints = shift + slope * intercept
        rows.map(r => r.copy(points = basePoints / n + slope * r.points))
      case _ => rows
    }

    // intercept-based shift (`scorecard.py:159-174`)
    var interceptOut = 0.0
    if (scaling.interceptBased) {
      val mins = rows.groupBy(_.variable).map { case (v, rs) =>
        v -> rs.map(_.points).min
      }
      interceptOut = mins.values.sum
      rows = rows.map(r => r.copy(points = r.points - mins(r.variable)))
    }

    if (scaling.rounding) {
      rows =
        if (scaling.method.isDefined) roundMinMaxPreserving(rows)
        else rows.map(r => r.copy(points = math.rint(r.points)))
      interceptOut = math.rint(interceptOut)
    }
    (rows, interceptOut)
  }

  /** Continuous-target scorecard (`scorecard.py:580-584`: target_dtype
    * "continuous" -> continuous optimal binning, metric "mean",
    * LinearRegression, Points = Mean * coef). The estimator solves on
    * the driver from the per-bin-combination aggregate: the mean
    * transform is piecewise-constant, so groupBy(features) with
    * (count, avg(y)) carries the exact weighted-least-squares
    * sufficient statistics at any data scale; an oversized combination
    * space falls back to distributed spark.ml. Variable selection
    * criteria are not applied (fit all passed variables). */
  def fitContinuousTarget(df: DataFrame, variables: Seq[String],
                          yCol: String,
                          binningConfig: BinningConfig = BinningConfig(),
                          scaling: ScalingConfig = ScalingConfig())
      : FittedContinuousScorecard = {
    val fits = BinningProcess.fitContinuous(df, variables, yCol,
                                            binningConfig)
    val y = col(yCol).cast("double")
    val xt = df.select(variables.map(v =>
      fits(v).transform(col(v), metric = "mean").as(v)) :+ y.as("__y"): _*)
    val nCombos = variables
      .map(v => fits(v).table.rows.length.toDouble).product
    val p = variables.size
    val (coefs, intercept) =
      if (nCombos <= 1e5) {
        val compact = xt.groupBy(variables.map(col): _*)
          .agg(avg(col("__y")).as("__ybar"),
               count(lit(1)).cast("double").as("__w"))
          .collect()
        driverGlmFit(inKeyOrder(compact, p), p, "continuous")
      } else {
        val assembler = new VectorAssembler()
          .setInputCols(variables.toArray).setOutputCol("features")
        val lr = new LinearRegression().setStandardization(false)
        val m = lr.fit(assembler.transform(xt)
          .select(col("features"), col("__y").as("label")))
        (m.coefficients.toArray, m.intercept)
      }

    val rows: Seq[PointsRow] = variables.zipWithIndex.flatMap {
      case (v, i) =>
        val f = fits(v)
        val c = coefs(i)
        f.table.rows.zipWithIndex.map { case (r, binId) =>
          // eventRate/woe fields carry the bin mean (the continuous
          // analogue): Points = Mean * coef
          PointsRow(v, binId, r.bin, r.count, r.mean, r.mean, c,
                    r.mean * c)
        }
    }
    val (scaled, interceptOut) = applyScaling(rows, intercept, p, scaling)
    new FittedContinuousScorecard(fits, variables.toArray, coefs,
                                  intercept, scaled.toArray, interceptOut,
                                  scaling)
  }

  /** Weighted GLM solve on the collected compact aggregate: Newton-IRLS
    * for the binary logistic MLE, weighted normal equations for the
    * continuous least-squares fit. Same optimum the spark.ml estimators
    * converge to at regParam = 0, without one treeAggregate job per
    * iteration. Throws on divergence or a singular system — the caller
    * falls back to the distributed spark.ml path. Row layout of the
    * compact aggregate: [woe_0..woe_{p-1}, y, w]. */
  private def driverGlmFit(rows: Array[org.apache.spark.sql.Row], p: Int,
                           target: String,
                           /** Summed-form L2 strength: objective
                             * sum w*loss + 0.5*l2*|beta|^2 (intercept
                             * unpenalized). Binary only. */
                           l2: Double = 0.0): (Array[Double], Double) = {
    import breeze.linalg.{DenseMatrix, DenseVector}
    val k = rows.length
    val d = p + 1 // features + intercept column
    val xs = Array.ofDim[Double](k, d)
    val ys = new Array[Double](k)
    val ws = new Array[Double](k)
    var i = 0
    while (i < k) {
      val r = rows(i)
      var j = 0
      while (j < p) { xs(i)(j) = r.getDouble(j); j += 1 }
      xs(i)(p) = 1.0
      ys(i) = numericValue(r.get(p))
      ws(i) = r.getDouble(p + 1)
      i += 1
    }
    def solveWls(wts: Array[Double],
                 z: Array[Double]): DenseVector[Double] = {
      val a = DenseMatrix.zeros[Double](d, d)
      val b = DenseVector.zeros[Double](d)
      var i = 0
      while (i < k) {
        val w = wts(i)
        var r = 0
        while (r < d) {
          val xr = xs(i)(r)
          b(r) += w * xr * z(i)
          var c = 0
          while (c < d) { a(r, c) += w * xr * xs(i)(c); c += 1 }
          r += 1
        }
        i += 1
      }
      // ridge on the coefficient block only (penalized IRLS: the
      // lambda*J term joins the Hessian; intercept stays unpenalized)
      var rr = 0
      while (rr < p) { a(rr, rr) += l2; rr += 1 }
      val beta = a \ b
      require(beta.forall(v => java.lang.Double.isFinite(v)),
              "singular or diverging weighted least squares")
      beta
    }
    require(l2 == 0.0 || target == "binary",
            "l2 regularization is implemented for the binary IRLS only")
    target match {
      case "continuous" =>
        // centered normal equations: the raw system suffers catastrophic
        // cancellation at large feature magnitudes (intercept noise ~1e-6
        // on 5e4-scale responses); centering keeps ~1e-12 relative error
        val wTot = ws.sum
        val fMean = new Array[Double](p)
        var yMean = 0.0
        var i2 = 0
        while (i2 < k) {
          val w = ws(i2)
          var j = 0
          while (j < p) { fMean(j) += w * xs(i2)(j); j += 1 }
          yMean += w * ys(i2)
          i2 += 1
        }
        var j2 = 0
        while (j2 < p) { fMean(j2) /= wTot; j2 += 1 }
        yMean /= wTot
        val a = DenseMatrix.zeros[Double](p, p)
        val b = DenseVector.zeros[Double](p)
        i2 = 0
        while (i2 < k) {
          val w = ws(i2)
          var r = 0
          while (r < p) {
            val xr = xs(i2)(r) - fMean(r)
            b(r) += w * xr * (ys(i2) - yMean)
            var c = 0
            while (c < p) {
              a(r, c) += w * xr * (xs(i2)(c) - fMean(c)); c += 1
            }
            r += 1
          }
          i2 += 1
        }
        val beta = a \ b
        require(beta.forall(v => java.lang.Double.isFinite(v)),
                "singular or diverging weighted least squares")
        var icpt = yMean
        var j3 = 0
        while (j3 < p) { icpt -= beta(j3) * fMean(j3); j3 += 1 }
        (Array.tabulate(p)(beta(_)), icpt)
      case "binary" =>
        var beta = DenseVector.zeros[Double](d)
        var converged = false
        var it = 0
        val wrk = new Array[Double](k)
        val z = new Array[Double](k)
        while (!converged && it < 100) {
          var i = 0
          while (i < k) {
            var eta = 0.0
            var j = 0
            while (j < d) { eta += xs(i)(j) * beta(j); j += 1 }
            val mu = 1.0 / (1.0 + math.exp(-eta))
            val v = math.max(mu * (1.0 - mu), 1e-12)
            wrk(i) = ws(i) * v
            z(i) = eta + (ys(i) - mu) / v
            i += 1
          }
          val next = solveWls(wrk, z)
          val delta = breeze.linalg.max(breeze.numerics.abs(next - beta))
          beta = next
          converged = delta < 1e-10
          it += 1
        }
        // perfectly separable data has no finite MLE — let spark.ml's
        // tolerance-capped L-BFGS produce the reference-like answer
        require(converged, "IRLS did not converge in 100 iterations")
        (Array.tabulate(p)(beta(_)), beta(p))
      case other =>
        throw new IllegalArgumentException(s"unknown target $other")
    }
  }

  /** `rows` in the order of their first `nKey` columns' values joined
    * as strings. Collect order depends on the shuffle partition count,
    * and the driver IRLS/WLS accumulates in row order, so this total
    * order keeps coefficients identical across configurations. Each
    * key is built once: a `sortBy` key function runs on every
    * comparison. */
  private def inKeyOrder(rows: Array[org.apache.spark.sql.Row],
                         nKey: Int): Array[org.apache.spark.sql.Row] =
    rows.map(r => (0 until nKey).map(i => numericValue(r.get(i)).toString)
                    .mkString("|") -> r)
      .sortBy(_._1).map(_._2)

  private def numericValue(v: Any): Double = v match {
    case d: java.lang.Double  => d
    case l: java.lang.Long    => l.toDouble
    case i: java.lang.Integer => i.toDouble
    case f: java.lang.Float   => f.toDouble
    case s: java.lang.Short   => s.toDouble
    case b: java.lang.Byte    => b.toDouble
    case b: java.lang.Boolean => if (b) 1.0 else 0.0
    case d: java.math.BigDecimal => d.doubleValue
    case other =>
      throw new IllegalArgumentException(s"non-numeric label $other")
  }

  /** Integer rounding preserving the exact total min/max score
    * (`scorecard/rounding.py:13-110`). The reference solves a CBC MIP:
    * minimize the L1 distortion sum |p - points| over integer p subject
    * to sum of per-variable minima == rint(total min) and sum of maxima
    * == rint(total max). Each optimal p is the floor or ceil of its real
    * value, so the exact optimum is: enumerate floor/ceil per bin within
    * each variable, keep the Pareto-minimal cost per attained
    * (min, max) pair, then a DP across variables over the (sum-of-mins,
    * sum-of-maxs) offsets. Falls back to nearest rounding if no
    * assignment hits the targets (cannot happen for min_max/pdo_odds
    * scaled tables, whose real sums are the targets).
    */
  private[graft] def roundMinMaxPreserving(
      rows: Seq[PointsRow]): Seq[PointsRow] = {
    val vars = rows.map(_.variable).distinct
    val byVar = vars.map(v => v -> rows.filter(_.variable == v)).toMap
    // a variable beyond the 2^20 enumeration cap takes the documented
    // nearest-rounding degradation instead of aborting the whole fit
    if (byVar.values.exists(_.length > 20))
      return rows.map(r => r.copy(points = math.rint(r.points)))
    val minPoint = math.rint(vars.map(v => byVar(v).map(_.points).min).sum)
    val maxPoint = math.rint(vars.map(v => byVar(v).map(_.points).max).sum)

    // per variable: (min, max) -> (cost, per-bin points)
    val candsByVar: Seq[Map[(Long, Long), (Double, Array[Double])]] =
      vars.map { v =>
        val ps = byVar(v).map(_.points).toArray
        val nBins = ps.length
        val best =
          scala.collection.mutable.HashMap
            .empty[(Long, Long), (Double, Array[Double])]
        (0 until (1 << nBins)).foreach { mask =>
          val p = new Array[Double](nBins)
          var cost = 0.0
          var i = 0
          while (i < nBins) {
            p(i) = if ((mask & (1 << i)) != 0) math.ceil(ps(i))
                   else math.floor(ps(i))
            cost += math.abs(p(i) - ps(i))
            i += 1
          }
          val key = (p.min.toLong, p.max.toLong)
          if (!best.contains(key) || cost < best(key)._1)
            best(key) = (cost, p)
        }
        best.toMap
      }

    // DP across variables on (sum of mins, sum of maxs)
    var states = Map((0L, 0L) -> (0.0, List.empty[Array[Double]]))
    candsByVar.foreach { cands =>
      val next =
        scala.collection.mutable.HashMap
          .empty[(Long, Long), (Double, List[Array[Double]])]
      states.foreach { case ((sm, sx), (cost, acc)) =>
        cands.foreach { case ((m, x), (c, p)) =>
          val key = (sm + m, sx + x)
          val tot = cost + c
          if (!next.contains(key) || tot < next(key)._1)
            next(key) = (tot, p :: acc)
        }
      }
      states = next.toMap
    }

    states.get((minPoint.toLong, maxPoint.toLong)) match {
      case Some((_, assignRev)) =>
        val assign = assignRev.reverse
        vars.zip(assign).flatMap { case (v, p) =>
          byVar(v).zipWithIndex.map { case (r, i) =>
            r.copy(points = p(i))
          }
        }
      case None => rows.map(r => r.copy(points = math.rint(r.points)))
    }
  }
}

final class FittedScorecard(
    val process: FittedBinningProcess,
    val selected: Array[String],
    val coefficients: Array[Double],
    val estimatorIntercept: Double,
    val pointsTable: Array[Scorecard.PointsRow],
    val baseIntercept: Double,
    val scaling: Scorecard.ScalingConfig,
    /** (mean, cholesky(inv(cov))) of the WoE design — Mahalanobis basis
      * for counterfactual closeness; None when unavailable. */
    val woeStats: Option[(Array[Double], Array[Array[Double]])] = None,
    /** Stored metric_special/metric_missing from fit — prediction uses
      * the same special/missing WoE policy (`scorecard.py:350`). */
    val metricSpecial: Any = 0.0,
    val metricMissing: Any = 0.0)
    extends Serializable {

  /** Reference-shaped `information()` statistics block
    * (`test_scorecard_information.txt` / `scorecard.py` print_level
    * >= 1 surface): record count (every fitted table totals the full
    * fit input), variable counts by dtype and selection, target type.
    * Timing lines are run-dependent and intentionally omitted. */
  def information(): String = {
    val all = process.variables
    val nNum = all.count(v => process.fits(v).config.dtype == "numerical")
    val n = all.headOption
      .map(v => process.fits(v).table.tRecords.toLong).getOrElse(0L)
    def row(label: String, v: String): String =
      f"    $label%-24s${v}%10s"
    Seq("  Statistics",
        row("Number of records", n.toString),
        row("Number of variables", all.length.toString),
        row("Target type", "binary"),
        "",
        row("Number of numerical", nNum.toString),
        row("Number of categorical", (all.length - nNum).toString),
        row("Number of selected", selected.length.toString))
      .mkString("\n")
  }

  /** Per-variable points expression: a FLAT per-bin CASE over the raw
    * column (points indexed by table bin id). Flat matters: nesting the
    * indices chain inside a points lookup would make every score
    * evaluation O(bins^2) branch tests, which multiplies again when a
    * monitoring query bins the score. */
  private def pointsColumn(v: String): Column = {
    val f = process.fits(v)
    val values = new Array[Double](f.table.rows.length)
    pointsTable.filter(_.variable == v)
      .foreach(r => values(r.binId) = r.points)
    f.transformValues(col(v), values)
  }

  /** Total score column (`scorecard.py:396-421`): sum of per-variable
    * points (+ intercept when intercept_based). Pure projection. */
  def scoreColumn(): Column =
    selected.map(pointsColumn).reduce(_ + _) + lit(baseIntercept)

  def score(df: DataFrame, keepCols: Seq[String] = Seq.empty): DataFrame =
    df.select(keepCols.map(col) :+ scoreColumn().as("score"): _*)

  /** Scorecard table (`scorecard.py:423-453`): "summary" =
    * (variable, bin, points); "detailed" adds bin id, count, event
    * rate, WoE, and the estimator coefficient. */
  def table(spark: org.apache.spark.sql.SparkSession,
            style: String = "summary"): DataFrame = {
    import spark.implicits._
    val full = pointsTable.toSeq.toDF(
      "variable", "bin_id", "bin", "count", "event_rate", "woe",
      "coefficient", "points")
    style match {
      case "summary"  => full.select("variable", "bin", "points")
      case "detailed" => full
      case other => throw new IllegalArgumentException(
        s"""Invalid value for style. Allowed string values are "summary" """ +
        s"""and "detailed"; got $other""")
    }
  }

  /** Predicted class label via the probability threshold
    * (`scorecard.py:335-354` predict). */
  def predictColumn(threshold: Double = 0.5): Column =
    (predictProbaColumn() >= threshold).cast("double")

  /** Event probability via the logistic link on the linear predictor
    * (equivalent to sklearn predict_proba on WoE features). */
  def predictProbaColumn(): Column = {
    val linear = selected.zipWithIndex.map { case (v, i) =>
      process.fits(v).transform(col(v), metric = "woe",
                                metricSpecial = metricSpecial,
                                metricMissing = metricMissing) *
        lit(coefficients(i))
    }.reduce(_ + _) + lit(estimatorIntercept)
    lit(1.0) / (lit(1.0) + exp(-linear))
  }
}

/** Continuous-target scorecard: per-variable continuous fits, points =
  * scaled Mean * coef (`scorecard.py` with target_dtype "continuous").
  * Scoring and prediction are generated CASE-chain projections, same as
  * the binary scorecard — single stage, no shuffle. */
final class FittedContinuousScorecard(
    val fits: Map[String, FittedContinuousBinning],
    val selected: Array[String],
    val coefficients: Array[Double],
    val estimatorIntercept: Double,
    val pointsTable: Array[Scorecard.PointsRow],
    val baseIntercept: Double,
    val scaling: Scorecard.ScalingConfig) extends Serializable {

  private def pointsColumn(v: String): Column = {
    val f = fits(v)
    val values = new Array[Double](f.table.rows.length)
    pointsTable.filter(_.variable == v)
      .foreach(r => values(r.binId) = r.points)
    f.transformValues(col(v), values)
  }

  /** Total score column: sum of per-variable points (+ intercept when
    * intercept_based). */
  def scoreColumn(): Column =
    selected.map(pointsColumn).reduce(_ + _) + lit(baseIntercept)

  def score(df: DataFrame, keepCols: Seq[String] = Seq.empty): DataFrame =
    df.select(keepCols.map(col) :+ scoreColumn().as("score"): _*)

  /** Linear prediction of the continuous target (sklearn
    * LinearRegression.predict on mean-transformed features). */
  def predictColumn(): Column =
    selected.zipWithIndex.map { case (v, i) =>
      fits(v).transform(col(v), metric = "mean") * lit(coefficients(i))
    }.reduce(_ + _) + lit(estimatorIntercept)
}
