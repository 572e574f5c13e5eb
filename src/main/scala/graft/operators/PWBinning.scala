package graft.operators

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Piecewise-polynomial optimal binning
  * (`optbinning/binning/piecewise/binning.py:27`): optimal bins first,
  * then a piecewise polynomial target curve fitted across the bins. The
  * reference delegates to the ropwr convex solver; here every objective
  * reduces to (iteratively re-)weighted least squares on the value
  * histogram — sufficient statistics of the row-level problem, so no
  * solver dependency. Data plane: the inner binning fit, then the value
  * histogram of the shared plane (`BinningProcess.aggregate`) over the
  * same prepared rows (`BinningProcess.Prepared`):
  *
  *  - degree d >= 1, continuous: truncated-power basis
  *    {1, x, .., x^d, (x - s_j)_+^d} gives C^(d-1) continuity
  *    (`continuous_deriv=True` semantics); one (d+1+k)-dim solve.
  *  - continuous=false: independent per-bin degree-d polynomials
  *    (block-diagonal solve).
  *  - degree 0: per-bin constants (a step curve is discontinuous by
  *    nature; `continuous` is ignored, as in ropwr's step fits).
  *  - objective "l2" is one weighted LSQ; "l1" / "huber" (h_epsilon) /
  *    "quantile" (tau) run IRLS with the standard residual reweighting —
  *    the histogram is tiny, so iterations are driver-side microseconds.
  *  - monotonic_trend ascending/descending (degree 1, continuous): the
  *    per-segment slope constraints make a convex QP; solved EXACTLY by
  *    enumerating active sets for k <= 12 knots (the optimum's active
  *    set must appear), greedy active-set beyond.
  */
object PWBinning {

  /** Piecewise predictor: either one global truncated-power coefficient
    * row (continuous) or one polynomial row per bin (discontinuous /
    * degree 0). */
  final case class PWCurve(
      splits: Array[Double],
      degree: Int,
      continuous: Boolean,
      coefs: Array[Array[Double]]) extends Serializable {

    def predict(xCol: Column): Column = {
      val x = xCol.cast(DoubleType)
      if (continuous && degree >= 1) {
        val c = coefs(0)
        val poly = (0 to degree).map {
          case 0 => lit(c(0))
          case 1 => lit(c(1)) * x
          case i => lit(c(i)) * pow(x, i)
        }.reduce(_ + _)
        splits.indices.foldLeft(poly) { (acc, j) =>
          val t = greatest(lit(0.0), x - splits(j))
          acc + lit(c(degree + 1 + j)) *
            (if (degree == 1) t else pow(t, degree))
        }
      } else {
        // CASE over bins, per-bin polynomial
        val k = splits.length
        def polyOf(c: Array[Double]): Column =
          (0 until c.length).map {
            case 0 => lit(c(0))
            case 1 => lit(c(1)) * x
            case i => lit(c(i)) * pow(x, i)
          }.reduce(_ + _)
        splits.indices.foldRight(polyOf(coefs(k)): Column) { (j, acc) =>
          when(x < splits(j), polyOf(coefs(j))).otherwise(acc)
        }
      }
    }
  }

  final case class FittedPW(
      splits: Array[Double],
      curve: PWCurve,
      binning: FittedOptimalBinning,
      lb: Double, ub: Double,
      /** Asymptotic IV (Jeffrey) of the fitted curve — the reference PW
        * table's IV (`piecewise/metrics.py` divergences_asymptotic):
        * per-row jeffrey((1-er)/(1-p), er/p) averaged over clean rows,
        * er clipped to [1e-8, 1-1e-8]. */
      asymptoticIv: Double = Double.NaN) extends Serializable {

    /** Per-phase wall times — `information()` contract: "binning_fit"
      * (inner OptimalBinning), "data_pass" (value histogram job),
      * "solver" (curve QP), "postprocessing", "total". */
    @transient var timings: Map[String, Double] = Map.empty

    /** Human-readable fit summary (`information()` mirror). */
    def information(): String = {
      val t = timings.withDefaultValue(0.0)
      f"""piecewise binning fit (degree ${curve.degree}%d)
         |  bins        ${splits.length + 1}%d
         |  iv          ${asymptoticIv}%.8f
         |  time total  ${t("total")}%.4f s
         |    binning fit    ${t("binning_fit")}%.4f s
         |    data pass      ${t("data_pass")}%.4f s
         |    solver         ${t("solver")}%.4f s
         |    postprocessing ${t("postprocessing")}%.4f s""".stripMargin
    }

    /** Predicted event rate, clipped to [lb, ub]. */
    def predictColumn(xCol: Column): Column =
      least(greatest(curve.predict(xCol), lit(lb)), lit(ub))

    /** WoE from the predicted event rate
      * (`transformations.py:19-39` applied pointwise). */
    def transformWoe(xCol: Column): Column = {
      val er = predictColumn(xCol)
      val tE = binning.table.tEvent
      val tNe = binning.table.tNonevent
      log((lit(1.0) / er - 1) * tE / tNe)
    }
  }

  def fit(df: DataFrame, xCol: String, yCol: String,
          config: BinningConfig = BinningConfig(),
          degree: Int = 1,
          objective: String = "l2",
          hEpsilon: Double = 1.35,
          quantileTau: Double = 0.5,
          monotonicTrend: Option[String] = Some("auto"),
          continuous: Boolean = true,
          /** Curve-fit target: "logistic" (the reference default — a
            * 1-feature L2-regularized logistic regression's predicted
            * probabilities, `piecewise/binning.py:360-371`) or
            * "empirical" (raw per-value event rates). */
          estimator: String = "logistic"): FittedPW = {
    require(Set("logistic", "empirical")(estimator),
            s"estimator $estimator not supported (logistic|empirical)")
    val tFit0 = System.nanoTime()
    val prepared = new BinningProcess.Prepared(df, xCol, yCol, config)
    val binning = OptimalBinning.withDataPass(prepared.binary)
    val tBin = (System.nanoTime() - tFit0) / 1e9
    val tHist0 = System.nanoTime()
    val hist = valueHistogram(prepared)
    val tHist = (System.nanoTime() - tHist0) / 1e9
    val tSolve0 = System.nanoTime()
    val target =
      if (estimator == "empirical") hist
      else {
        val (alpha, beta) = graft.core.Stats.logistic1D(
          hist.map(_._1), hist.map(_._2), hist.map(_._3))
        hist.map { case (v, w, _) =>
          (v, w, 1.0 / (1.0 + math.exp(-(alpha + beta * v))))
        }
      }
    val curve = solveCurve(target, binning.splits, degree, objective,
                           hEpsilon, quantileTau, monotonicTrend,
                           continuous)
    val tSolve = (System.nanoTime() - tSolve0) / 1e9
    val rates = hist.map(_._3)

    // asymptotic divergence IV over the fitted curve (clean rows; the
    // histogram weights ARE the row multiplicities)
    val p = binning.table.tEvent /
      math.max(binning.table.tEvent + binning.table.tNonevent, 1.0)
    val evalPoly: Double => Double = { x =>
      val c = curve.coefs
      if (curve.continuous && curve.degree >= 1) {
        var v = 0.0
        (0 to curve.degree).foreach(i => v += c(0)(i) * math.pow(x, i))
        binning.splits.indices.foreach { j =>
          val t = math.max(0.0, x - binning.splits(j))
          v += c(0)(curve.degree + 1 + j) *
            (if (curve.degree == 1) t else math.pow(t, curve.degree))
        }
        v
      } else {
        val bin = binning.splits.count(_ <= x)
        c(bin).zipWithIndex.map { case (ci, i) => ci * math.pow(x, i) }.sum
      }
    }
    val nClean = hist.map(_._2).sum
    val iv =
      if (nClean <= 0 || p <= 0 || p >= 1) Double.NaN
      else hist.map { case (v, w, _) =>
        val er = math.min(math.max(evalPoly(v), 1e-8), 1 - 1e-8)
        val pi = (1.0 - er) / (1.0 - p)
        val qi = er / p
        w * (pi - qi) * math.log(pi / qi)
      }.sum / nClean

    val fitted = FittedPW(binning.splits, curve, binning,
                          lb = math.max(rates.min, 1e-6),
                          ub = math.min(rates.max, 1 - 1e-6),
                          asymptoticIv = iv)
    val total = (System.nanoTime() - tFit0) / 1e9
    fitted.timings = Map(
      "total" -> total, "binning_fit" -> tBin, "data_pass" -> tHist,
      "solver" -> tSolve,
      "postprocessing" -> math.max(0.0, total - tBin - tHist - tSolve))
    fitted
  }

  /** Continuous-target piecewise binning
    * (`piecewise/continuous_binning.py:24`): optimal bins from
    * `ContinuousOptimalBinning`, then the same histogram fit. `lb`/`ub`
    * are optional user prediction bounds (a continuous target has no
    * [0, 1] range).
    */
  final case class FittedContPW(
      splits: Array[Double],
      curve: PWCurve,
      binning: FittedContinuousBinning,
      lb: Option[Double], ub: Option[Double]) extends Serializable {

    /** Per-phase wall times — same contract as [[FittedPW.timings]]. */
    @transient var timings: Map[String, Double] = Map.empty

    def predictColumn(xCol: Column): Column = {
      val linear = curve.predict(xCol)
      val lo = lb.map(v => greatest(linear, lit(v))).getOrElse(linear)
      ub.map(v => least(lo, lit(v))).getOrElse(lo)
    }
  }

  def fitContinuous(df: DataFrame, xCol: String, yCol: String,
                    config: BinningConfig = BinningConfig(),
                    lb: Option[Double] = None,
                    ub: Option[Double] = None,
                    degree: Int = 1,
                    objective: String = "l2",
                    hEpsilon: Double = 1.35,
                    quantileTau: Double = 0.5,
                    monotonicTrend: Option[String] = Some("auto"),
                    continuous: Boolean = true): FittedContPW = {
    val tFit0 = System.nanoTime()
    val prepared = new BinningProcess.Prepared(df, xCol, yCol, config)
    val binning = ContinuousOptimalBinning.withDataPass(prepared.continuous)
    val tBin = (System.nanoTime() - tFit0) / 1e9
    val tHist0 = System.nanoTime()
    val hist = valueHistogram(prepared)
    val tHist = (System.nanoTime() - tHist0) / 1e9
    val tSolve0 = System.nanoTime()
    val curve = solveCurve(hist, binning.splits, degree, objective,
                           hEpsilon, quantileTau, monotonicTrend,
                           continuous)
    val tSolve = (System.nanoTime() - tSolve0) / 1e9
    val fitted = FittedContPW(binning.splits, curve, binning, lb, ub)
    val total = (System.nanoTime() - tFit0) / 1e9
    fitted.timings = Map(
      "total" -> total, "binning_fit" -> tBin, "data_pass" -> tHist,
      "solver" -> tSolve,
      "postprocessing" -> math.max(0.0, total - tBin - tHist - tSolve))
    fitted
  }

  /** (value, weight, mean target) histogram of the clean rows: the one
    * histogram plane over the binning's own prepared rows — the same
    * special codes, row filters (fitted once) and grid — over the
    * actual values, so user splits are dropped. */
  private def valueHistogram(prepared: BinningProcess.Prepared)
      : Array[(Double, Double, Double)] =
    prepared.valueHistogram(
      Seq(count(lit(1)).cast("double").as("n"), avg(col("y")).as("rate")))
      .map { case (v, r) => (v, r.getDouble(0), r.getDouble(1)) }

  // ------------------------------------------------------------------
  // solver: (IRLS-)weighted least squares over the histogram
  // ------------------------------------------------------------------

  private def solveCurve(hist: Array[(Double, Double, Double)],
                         splits: Array[Double], degree: Int,
                         objective: String, hEpsilon: Double,
                         quantileTau: Double,
                         monotonicTrend: Option[String],
                         continuous: Boolean): PWCurve = {
    require(degree >= 0 && degree <= 3, "degree must be in [0, 3]")
    require(Set("l2", "l1", "huber", "quantile")(objective),
            s"objective $objective not supported")

    // "auto" resolves from the per-bin target means like the reference
    // (`piecewise/base.py:439-449`: digitize, bin means, trend typing;
    // undefined/non-monotonic -> unconstrained)
    val binMeans: Array[Double] = {
      val k = splits.length
      val sums = new Array[Double](k + 1)
      val ws = new Array[Double](k + 1)
      hist.foreach { case (v, w, r) =>
        val b = splits.count(_ <= v)
        sums(b) += w * r; ws(b) += w
      }
      (0 to k).map(b => if (ws(b) > 0) sums(b) / ws(b) else 0.0).toArray
    }
    val resolved: Option[(String, Int)] = monotonicTrend.flatMap {
      case "auto" if degree != 1 || !continuous =>
        // constraints are only expressible on the degree-1 continuous
        // basis; the default "auto" degrades to unconstrained elsewhere
        None
      case "auto" =>
        graft.core.AutoMonotonic.typeOfMonotonicTrend(binMeans) match {
          case t if t.contains("peak") =>
            Some(("peak", binMeans.indexOf(binMeans.max)))
          case t if t.contains("valley") =>
            Some(("valley", binMeans.indexOf(binMeans.min)))
          case "ascending"  => Some(("ascending", 0))
          case "descending" => Some(("descending", 0))
          case _            => None
        }
      case t @ ("ascending" | "descending") => Some((t, 0))
      case "peak"   => Some(("peak", binMeans.indexOf(binMeans.max)))
      case "valley" => Some(("valley", binMeans.indexOf(binMeans.min)))
      case other => throw new IllegalArgumentException(
        s"monotonic_trend $other not supported for piecewise fits")
    }
    require(resolved.isEmpty || (degree == 1 && continuous),
            "explicit monotonic piecewise fits require degree=1, continuous")

    if (degree == 0 || !continuous)
      PWCurve(splits, degree, continuous = false,
              perBinFit(hist, splits, degree, objective, hEpsilon,
                        quantileTau))
    else {
      val k = splits.length
      val p = degree + 1 + k
      def basis(v: Double): Array[Double] = {
        val b = new Array[Double](p)
        var i = 0
        var acc = 1.0
        while (i <= degree) { b(i) = acc; acc *= v; i += 1 }
        var j = 0
        while (j < k) {
          val t = math.max(0.0, v - splits(j))
          b(degree + 1 + j) = if (degree == 1) t else math.pow(t, degree)
          j += 1
        }
        b
      }
      val rows = hist.map { case (v, w, r) => (basis(v), w, r) }
      val coef = irls(rows, p, objective, hEpsilon, quantileTau,
                      constraints(resolved, degree, k))
      PWCurve(splits, degree, continuous = true, Array(coef))
    }
  }

  /** Monotonicity constraint rows A (A c >= 0) for the degree-1
    * truncated basis: segment m's slope is c(1) + sum_{j<=m} c(2+j).
    * peak/valley flip the slope sign after the change-point bin. */
  private def constraints(trend: Option[(String, Int)], degree: Int,
                          k: Int): Array[Array[Double]] = trend match {
    case None => Array.empty
    case Some((t, changePoint)) =>
      def segSign(m: Int): Double = t match {
        case "ascending"  => 1.0
        case "descending" => -1.0
        case "peak"       => if (m < changePoint) 1.0 else -1.0
        case "valley"     => if (m < changePoint) -1.0 else 1.0
      }
      (0 to k).map { m =>
        val row = new Array[Double](degree + 1 + k)
        val sign = segSign(m)
        row(1) = sign
        (0 until m).foreach(j => row(degree + 1 + j) = sign)
        row
      }.toArray
  }

  /** Independent per-bin polynomial fits (degree 0 = weighted constant:
    * mean / median / huber-mean / tau-quantile by objective). */
  private def perBinFit(hist: Array[(Double, Double, Double)],
                        splits: Array[Double], degree: Int,
                        objective: String, hEpsilon: Double,
                        quantileTau: Double): Array[Array[Double]] = {
    val byBin = hist.groupBy { case (v, _, _) =>
      OptimalBinning.upperBound(splits, v)
    }
    (0 to splits.length).map { b =>
      val pts = byBin.getOrElse(b, Array.empty)
      if (pts.isEmpty) Array.fill(degree + 1)(0.0)
      else {
        val p = degree + 1
        val rows = pts.map { case (v, w, r) =>
          val bas = new Array[Double](p)
          var i = 0; var acc = 1.0
          while (i < p) { bas(i) = acc; acc *= v; i += 1 }
          (bas, w, r)
        }
        irls(rows, p, objective, hEpsilon, quantileTau, Array.empty)
      }
    }.toArray
  }

  /** Iteratively reweighted least squares over (basis, weight, target)
    * rows; "l2" is a single solve. Constraints A c >= 0 are enforced in
    * every solve (exact active-set enumeration for <= 13 rows, greedy
    * most-violated beyond). */
  private def irls(rows: Array[(Array[Double], Double, Double)], p: Int,
                   objective: String, hEpsilon: Double, tau: Double,
                   cons: Array[Array[Double]]): Array[Double] = {
    val eps = 1e-8
    var w = rows.map(_._2)
    var coef = constrainedWls(rows, w, p, cons)
    if (objective == "l2") return coef
    var it = 0
    while (it < 30) {
      val r = rows.indices.map { i =>
        val (b, _, y) = rows(i)
        y - dotp(b, coef)
      }
      val newW = rows.indices.map { i =>
        val base = rows(i)._2
        val ri = r(i)
        val m = objective match {
          case "l1" => 1.0 / math.max(math.abs(ri), eps)
          case "huber" =>
            if (math.abs(ri) <= hEpsilon) 1.0
            else hEpsilon / math.abs(ri)
          case "quantile" =>
            if (ri > 0) tau / math.max(ri, eps)
            else (1.0 - tau) / math.max(-ri, eps)
        }
        base * m
      }.toArray
      w = newW
      val next = constrainedWls(rows, w, p, cons)
      val delta = coef.zip(next).map { case (a, b) => math.abs(a - b) }.max
      coef = next
      if (delta < 1e-10) it = 30 else it += 1
    }
    coef
  }

  private def dotp(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def wlsNormal(rows: Array[(Array[Double], Double, Double)],
                        w: Array[Double], p: Int)
      : (DenseMatrix[Double], DenseVector[Double]) = {
    val xtx = DenseMatrix.zeros[Double](p, p)
    val xty = DenseVector.zeros[Double](p)
    rows.indices.foreach { i =>
      val (b, _, y) = rows(i)
      val wi = w(i)
      var a = 0
      while (a < p) {
        var c = 0
        while (c < p) { xtx(a, c) += wi * b(a) * b(c); c += 1 }
        xty(a) += wi * b(a) * y
        a += 1
      }
    }
    (0 until p).foreach(i => xtx(i, i) += 1e-9)
    (xtx, xty)
  }

  private def kktSolve(xtx: DenseMatrix[Double], xty: DenseVector[Double],
                       active: Seq[Array[Double]], p: Int): Array[Double] = {
    val m = active.length
    if (m == 0) return (xtx \ xty).toArray
    val kkt = DenseMatrix.zeros[Double](p + m, p + m)
    val rhs = DenseVector.zeros[Double](p + m)
    kkt(0 until p, 0 until p) := xtx
    active.zipWithIndex.foreach { case (row, i) =>
      (0 until p).foreach { j =>
        kkt(p + i, j) = row(j); kkt(j, p + i) = row(j)
      }
    }
    rhs(0 until p) := xty
    (kkt \ rhs).toArray.take(p)
  }

  private def constrainedWls(rows: Array[(Array[Double], Double, Double)],
                             w: Array[Double], p: Int,
                             cons: Array[Array[Double]]): Array[Double] = {
    val (xtx, xty) = wlsNormal(rows, w, p)
    if (cons.isEmpty) return (xtx \ xty).toArray
    def feasible(c: Array[Double]): Boolean =
      cons.forall(a => dotp(a, c) >= -1e-9)
    def obj(c: Array[Double]): Double = {
      var s = 0.0
      rows.indices.foreach { i =>
        val (b, _, y) = rows(i)
        val r = y - dotp(b, c)
        s += w(i) * r * r
      }
      s
    }
    if (cons.length <= 13) {
      // exact: the optimum's active set appears among subsets
      var best: Array[Double] = null
      var bestObj = Double.MaxValue
      val n = cons.length
      var mask = 0
      while (mask < (1 << n)) {
        val active = (0 until n).filter(i => (mask & (1 << i)) != 0)
          .map(cons(_))
        val c = kktSolve(xtx, xty, active, p)
        if (feasible(c)) {
          val o = obj(c)
          if (o < bestObj) { bestObj = o; best = c }
        }
        mask += 1
      }
      best
    } else {
      // greedy: add the most-violated constraint until feasible
      var active = List.empty[Array[Double]]
      var c = kktSolve(xtx, xty, active, p)
      var guard = 0
      while (!feasible(c) && guard <= cons.length) {
        val worst = cons.minBy(a => dotp(a, c))
        active = worst :: active
        c = kktSolve(xtx, xty, active, p)
        guard += 1
      }
      c
    }
  }
}
