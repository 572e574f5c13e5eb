package graft.core

import scala.collection.mutable

/** Candidate-split generation (pre-binning) on a value-level histogram.
  *
  * The reference fits sklearn estimators on raw rows
  * (`optbinning/binning/prebinning.py:63-142`); in the Spark engine the data
  * plane first compresses clean rows to a (value -> target stats) histogram
  * (exact when the number of distinct values is modest, quantile-gridded
  * otherwise), and these algorithms run driver-side on that histogram:
  *
  * - "cart": exact greedy best-first CART with max_leaf_nodes semantics
  *   (sklearn grows best-first by impurity improvement when max_leaf_nodes
  *   is set) — deterministic replacement for DecisionTreeClassifier /
  *   DecisionTreeRegressor per SURVEY §2.9's caveat.
  * - "quantile": equal-frequency splits, numpy-linear interpolation
  *   (KBinsDiscretizer strategy="quantile", `prebinning.py:95-101`).
  * - "uniform": equal-width splits.
  * - "mdlp": entropy/MDL recursive splitting (`optbinning/binning/mdlp.py`).
  */
object Prebinning {

  /** Histogram bucket: distinct (or grid-collapsed) x value with target
    * stats. For binary targets y0/y1 are weighted counts and n is the
    * unweighted row count (sklearn min_samples_leaf counts samples).
    * For continuous targets `sum`/`ssum` hold sum(w*y), sum(w*y^2).
    */
  final case class HistBucket(value: Double, n: Long, y0: Double, y1: Double,
                              sum: Double = 0.0, ssum: Double = 0.0)

  /** Candidate splits of every 1-D fit (`binning.py` `_fit_prebinning`):
    * the sorted user splits when given, else `method` over the sorted
    * histogram — "cart" through the fit's own tree (`cart` receives the
    * minimum leaf count), "quantile", "uniform", or "mdlp" where the
    * target is binary — rounded half-even to `splitDigits` decimals. */
  def candidateSplits(hist: Array[HistBucket],
                      userSplits: Option[Array[Double]], method: String,
                      maxNPrebins: Int, minPrebinCount: Long,
                      splitDigits: Option[Int], mdlp: Boolean = true)
                     (cart: Long => Array[Double]): Array[Double] =
    roundSplits(userSplits match {
      case Some(us) => us.sorted
      case None => method match {
        case "cart" => cart(minPrebinCount)
        case "quantile" => quantileSplits(hist, maxNPrebins)
        case "uniform" =>
          if (hist.isEmpty) Array.empty[Double]
          else uniformSplits(hist.head.value, hist.last.value, maxNPrebins)
        case "mdlp" if mdlp => mdlpSplits(hist)
        case other => throw new IllegalArgumentException(
          s"prebinning method $other not supported")
      }
    }, splitDigits)

  /** Splits rounded half-even to `digits` decimals (`split_digits`). */
  def roundSplits(splits: Array[Double],
                  digits: Option[Int]): Array[Double] = digits match {
    case Some(d) => splits.map(s =>
      BigDecimal(s).setScale(d, BigDecimal.RoundingMode.HALF_EVEN).toDouble)
    case None => splits
  }

  /** Prebin refinement shared by every 1-D fit (`binning.py:1085-1145`):
    * while `remove` flags a prebin of `counts(splits)` (pure for binary
    * and multiclass targets, empty for continuous ones), drop the split
    * that closes it — a flagged last prebin merges the last two — and
    * recount. The user_splits_fixed mask is filtered alongside, so it
    * stays aligned with the kept splits; dropping a fixed split raises.
    * Returns the kept splits, their fixed mask and their counts. */
  def refine[C](splits: Array[Double], fixed: Option[Array[Boolean]])
               (counts: Array[Double] => C)(remove: C => Array[Boolean])
      : (Array[Double], Option[Array[Boolean]], C) = {
    var kept = splits
    var keptFixed = fixed
    var c = counts(kept)
    def flagged: Array[Boolean] =
      if (kept.isEmpty) Array.empty else remove(c)
    var maskRemove = flagged
    while (maskRemove.exists(identity)) {
      val nB = maskRemove.length
      val maskSplits = maskRemove.take(nB - 2) :+
        (maskRemove(nB - 2) || maskRemove(nB - 1))
      def keep[T: scala.reflect.ClassTag](xs: Array[T]): Array[T] =
        xs.zip(maskSplits).collect { case (x, false) => x }
      if (keptFixed.exists(_.zip(maskSplits).exists { case (f, m) => f && m }))
        throw new IllegalArgumentException(
          "Fixed user_splits are removed because they produce pure prebins.")
      keptFixed = keptFixed.map(keep(_))
      kept = keep(kept)
      c = counts(kept)
      maskRemove = flagged
    }
    (kept, keptFixed, c)
  }

  /** Equal-frequency candidate splits with numpy-style linear interpolation
    * over the expanded sorted sample. Exact when the histogram is exact.
    */
  def quantileSplits(hist: Array[HistBucket], nBins: Int): Array[Double] = {
    val total = hist.map(_.n).sum
    if (total == 0) return Array.empty
    // percentile at q in [0,100]: index q/100*(N-1), linear interpolation
    val cum = new Array[Long](hist.length)
    var acc = 0L
    for (i <- hist.indices) { acc += hist(i).n; cum(i) = acc }
    def valueAt(idx: Long): Double = {
      // value of the idx-th (0-based) element of the expanded sorted sample
      var lo = 0; var hi = hist.length - 1
      while (lo < hi) {
        val mid = (lo + hi) / 2
        if (cum(mid) > idx) hi = mid else lo = mid + 1
      }
      hist(lo).value
    }
    val edges = (1 until nBins).map { k =>
      val pos = k.toDouble / nBins * (total - 1)
      val lo = math.floor(pos).toLong
      val hi = math.ceil(pos).toLong
      val vLo = valueAt(lo)
      val vHi = valueAt(hi)
      vLo + (vHi - vLo) * (pos - lo)
    }
    dedupeSplits(edges.toArray)
  }

  /** Equal-width candidate splits. */
  def uniformSplits(minX: Double, maxX: Double, nBins: Int): Array[Double] = {
    if (!(maxX > minX)) return Array.empty
    dedupeSplits(
      (1 until nBins).map(k => minX + (maxX - minX) * k / nBins).toArray)
  }

  private def dedupeSplits(splits: Array[Double]): Array[Double] =
    splits.distinct.sorted

  /** Exact greedy best-first CART on the histogram. Thresholds are
    * midpoints between adjacent distinct values (sklearn convention);
    * growth is best-first by weighted impurity improvement until
    * `maxLeafNodes` leaves or no admissible split (minSamplesLeaf).
    * `classification=false` uses MSE (variance) impurity on sum/ssum.
    */
  def cartSplits(hist: Array[HistBucket], maxLeafNodes: Int,
                 minSamplesLeaf: Long,
                 classification: Boolean,
                 classWeight0: Double = 1.0,
                 classWeight1: Double = 1.0): Array[Double] = {
    if (hist.length < 2 || maxLeafNodes < 2) return Array.empty

    val n = hist.length
    // prefix sums
    val cumN = new Array[Long](n + 1)
    val cumW0 = new Array[Double](n + 1)
    val cumW1 = new Array[Double](n + 1)
    val cumS = new Array[Double](n + 1)
    val cumSS = new Array[Double](n + 1)
    val cumW = new Array[Double](n + 1)
    for (i <- 0 until n) {
      val h = hist(i)
      cumN(i + 1) = cumN(i) + h.n
      cumW0(i + 1) = cumW0(i) + h.y0 * classWeight0
      cumW1(i + 1) = cumW1(i) + h.y1 * classWeight1
      cumW(i + 1) = cumW(i) + (if (classification) h.y0 * classWeight0 + h.y1 * classWeight1
                               else h.y0) // y0 = total weight for regression
      cumS(i + 1) = cumS(i) + h.sum
      cumSS(i + 1) = cumSS(i) + h.ssum
    }
    val totalWeight = cumW(n)

    def weight(lo: Int, hi: Int): Double = cumW(hi) - cumW(lo)

    def impurity(lo: Int, hi: Int): Double = {
      val w = weight(lo, hi)
      if (w <= 0) return 0.0
      if (classification) {
        val w0 = cumW0(hi) - cumW0(lo)
        val w1 = cumW1(hi) - cumW1(lo)
        val p0 = w0 / w; val p1 = w1 / w
        1.0 - p0 * p0 - p1 * p1
      } else {
        val s = cumS(hi) - cumS(lo)
        val ss = cumSS(hi) - cumSS(lo)
        val mean = s / w
        math.max(ss / w - mean * mean, 0.0)
      }
    }

    // node: [lo, hi) bucket range. Find best split position p (split
    // between bucket p-1 and p) maximizing impurity improvement.
    final case class Split(lo: Int, hi: Int, pos: Int, improvement: Double)

    def bestSplit(lo: Int, hi: Int): Option[Split] = {
      val nodeW = weight(lo, hi)
      val nodeImp = impurity(lo, hi)
      if (nodeW <= 0 || nodeImp <= 1e-12) return None
      var best: Split = null
      var p = lo + 1
      while (p < hi) {
        val nL = cumN(p) - cumN(lo)
        val nR = cumN(hi) - cumN(p)
        if (nL >= minSamplesLeaf && nR >= minSamplesLeaf) {
          val wL = weight(lo, p); val wR = weight(p, hi)
          val imp = nodeW / totalWeight *
            (nodeImp - wL / nodeW * impurity(lo, p) -
              wR / nodeW * impurity(p, hi))
          if (best == null || imp > best.improvement)
            best = Split(lo, hi, p, imp)
        }
        p += 1
      }
      Option(best)
    }

    val queue = mutable.PriorityQueue.empty[Split](Ordering.by(_.improvement))
    bestSplit(0, n).foreach(queue.enqueue(_))
    val thresholds = mutable.ArrayBuffer.empty[Double]
    var leaves = 1
    while (queue.nonEmpty && leaves < maxLeafNodes) {
      val s = queue.dequeue()
      thresholds += (hist(s.pos - 1).value + hist(s.pos).value) / 2.0
      leaves += 1
      bestSplit(s.lo, s.pos).foreach(queue.enqueue(_))
      bestSplit(s.pos, s.hi).foreach(queue.enqueue(_))
    }
    thresholds.toArray.sorted
  }

  /** Exact greedy best-first CART for a k-class target: same structure as
    * `cartSplits` with Gini impurity 1 - sum_c p_c^2 over the per-bucket
    * class-count matrix `counts(bucket)(class)`.
    */
  def cartSplitsK(values: Array[Double], counts: Array[Array[Double]],
                  nRows: Array[Long], maxLeafNodes: Int,
                  minSamplesLeaf: Long): Array[Double] = {
    val n = values.length
    if (n < 2 || maxLeafNodes < 2) return Array.empty
    val k = counts(0).length
    val cumN = new Array[Long](n + 1)
    val cum = Array.ofDim[Double](n + 1, k)
    for (i <- 0 until n) {
      cumN(i + 1) = cumN(i) + nRows(i)
      var c = 0
      while (c < k) {
        cum(i + 1)(c) = cum(i)(c) + counts(i)(c); c += 1
      }
    }
    val totalW = cum(n).sum

    def weight(lo: Int, hi: Int): Double = {
      var acc = 0.0; var c = 0
      while (c < k) { acc += cum(hi)(c) - cum(lo)(c); c += 1 }
      acc
    }
    def impurity(lo: Int, hi: Int): Double = {
      val w = weight(lo, hi)
      if (w <= 0) return 0.0
      var acc = 0.0; var c = 0
      while (c < k) {
        val p = (cum(hi)(c) - cum(lo)(c)) / w
        acc += p * p; c += 1
      }
      1.0 - acc
    }

    final case class Split(lo: Int, hi: Int, pos: Int, improvement: Double)
    def bestSplit(lo: Int, hi: Int): Option[Split] = {
      val nodeW = weight(lo, hi)
      val nodeImp = impurity(lo, hi)
      if (nodeW <= 0 || nodeImp <= 1e-12) return None
      var best: Split = null
      var p = lo + 1
      while (p < hi) {
        val nL = cumN(p) - cumN(lo)
        val nR = cumN(hi) - cumN(p)
        if (nL >= minSamplesLeaf && nR >= minSamplesLeaf) {
          val wL = weight(lo, p); val wR = weight(p, hi)
          val imp = nodeW / totalW *
            (nodeImp - wL / nodeW * impurity(lo, p) -
              wR / nodeW * impurity(p, hi))
          if (best == null || imp > best.improvement)
            best = Split(lo, hi, p, imp)
        }
        p += 1
      }
      Option(best)
    }

    val queue = mutable.PriorityQueue.empty[Split](Ordering.by(_.improvement))
    bestSplit(0, n).foreach(queue.enqueue(_))
    val thresholds = mutable.ArrayBuffer.empty[Double]
    var leaves = 1
    while (queue.nonEmpty && leaves < maxLeafNodes) {
      val s = queue.dequeue()
      thresholds += (values(s.pos - 1) + values(s.pos)) / 2.0
      leaves += 1
      bestSplit(s.lo, s.pos).foreach(queue.enqueue(_))
      bestSplit(s.pos, s.hi).foreach(queue.enqueue(_))
    }
    thresholds.toArray.sorted
  }

  /** MDLP discretization on the histogram
    * (`optbinning/binning/mdlp.py:99-193`): recursive entropy-minimizing
    * binary splits, stopping by the MDL criterion; candidate splits
    * restricted to boundary points between class-distribution changes
    * when the buckets are exact values.
    */
  def mdlpSplits(hist: Array[HistBucket], minSamplesSplit: Long = 2,
                 minSamplesLeaf: Long = 2,
                 maxCandidates: Int = 32): Array[Double] = {
    val n = hist.length
    val cumN0 = new Array[Double](n + 1)
    val cumN1 = new Array[Double](n + 1)
    for (i <- 0 until n) {
      cumN0(i + 1) = cumN0(i) + hist(i).y0
      cumN1(i + 1) = cumN1(i) + hist(i).y1
    }
    def counts(lo: Int, hi: Int): (Double, Double) =
      (cumN0(hi) - cumN0(lo), cumN1(hi) - cumN1(lo))
    def ent(c0: Double, c1: Double): Double = {
      val t = c0 + c1
      if (t == 0) 0.0
      else {
        val p0 = c0 / t; val p1 = c1 / t
        -(Metrics.xlogy(p0, p0) + Metrics.xlogy(p1, p1)) / math.log(2)
      }
    }
    def nClasses(c0: Double, c1: Double): Int =
      (if (c0 > 0) 1 else 0) + (if (c1 > 0) 1 else 0)

    val out = mutable.ArrayBuffer.empty[Double]

    def recurse(lo: Int, hi: Int): Unit = {
      val (c0, c1) = counts(lo, hi)
      val total = c0 + c1
      if (total < minSamplesSplit || nClasses(c0, c1) < 2) return
      // find split minimizing weighted entropy
      var bestPos = -1
      var bestE = Double.MaxValue
      def evalPos(p: Int): Unit = {
        val (l0, l1) = counts(lo, p)
        val (r0, r1) = counts(p, hi)
        val nl = l0 + l1; val nr = r0 + r1
        if (nl >= minSamplesLeaf && nr >= minSamplesLeaf) {
          val e = nl / total * ent(l0, l1) + nr / total * ent(r0, r1)
          if (e < bestE) { bestE = e; bestPos = p }
        }
      }
      val nCand = hi - lo - 1
      if (nCand > maxCandidates) {
        // candidate cap (`mdlp.py:134-136`): beyond maxCandidates
        // boundaries, evaluate maxCandidates evenly-rank-spaced ones
        // (the reference's percentile subsample over unique midpoints)
        var i = 0
        val step = math.max(maxCandidates - 1, 1)
        while (i < maxCandidates) {
          evalPos(lo + 1 + ((i.toLong * (nCand - 1)) / step).toInt)
          i += 1
        }
      } else {
        var p = lo + 1
        while (p < hi) { evalPos(p); p += 1 }
      }
      if (bestPos < 0) return
      // MDL stopping criterion (Fayyad & Irani)
      val (l0, l1) = counts(lo, bestPos)
      val (r0, r1) = counts(bestPos, hi)
      val entS = ent(c0, c1)
      val gain = entS - bestE
      val k = nClasses(c0, c1)
      val kL = nClasses(l0, l1)
      val kR = nClasses(r0, r1)
      val delta = log2(math.pow(3, k) - 2) -
        (k * entS - kL * ent(l0, l1) - kR * ent(r0, r1))
      val threshold = (log2(total - 1) + delta) / total
      if (gain <= threshold) return
      out += (hist(bestPos - 1).value + hist(bestPos).value) / 2.0
      recurse(lo, bestPos)
      recurse(bestPos, hi)
    }

    recurse(0, n)
    out.toArray.sorted
  }

  private def log2(x: Double): Double = math.log(x) / math.log(2)
}
