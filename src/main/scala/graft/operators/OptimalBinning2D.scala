package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import scala.collection.mutable

import graft.core.{Metrics, Prebinning}

/** Joint optimal binning of two numerical variables into rectangles
  * against a binary target
  * (`optbinning/binning/multidimensional/binning_2d.py:211`). Data plane:
  * per-dimension quantile prebinning (two percentile aggregates) + ONE
  * `groupBy(binX, binY)` shuffle producing the event/nonevent grid
  * (`_prebinning_matrices` `binning_2d.py:775-811`).
  *
  * Solver: the reference enumerates all axis-aligned rectangles and packs
  * them with CP connectivity constraints (`model_data_2d.py:49-167`);
  * here the driver searches the SAME solution space exactly — first-gap
  * rectangle tiling with full bitmask memoization (includes
  * non-guillotine patterns like pinwheels the CP can also produce):
  * unbudgeted to 56 cells, node-budgeted with a two-word mask to 128
  * cells and with a word-vector mask at ANY larger grid, so every grid
  * size keeps the full candidate-rectangle space; the polynomial
  * guillotine-partition DP (a strict cut subset, result downgraded to
  * FEASIBLE) runs only on budget exhaustion. Unconstrained fits
  * shortcut to the provably-optimal all-singletons tiling (refinement
  * superadditivity). IV per rectangle from 2D prefix sums.
  */
object OptimalBinning2D {

  final case class Rect(x1: Int, x2: Int, y1: Int, y2: Int,
                        nonevent: Double, event: Double, iv: Double)

  final case class Config2D(
      nameX: String = "x", nameY: String = "y",
      /** "numerical" | "categorical" per dimension (`binning_2d.py`
        * dtype_x/dtype_y). A categorical dimension maps categories to
        * ordinals sorted ascending by target rate
        * (`preprocessing.py:24-29` categorical_transform); bins along it
        * are contiguous runs of that order. */
      dtypeX: String = "numerical",
      dtypeY: String = "numerical",
      /** Per-dimension candidate-split fit: "cart" (reference default,
        * `binning_2d.py` prebinning_method) or "quantile". */
      prebinningMethod: String = "cart",
      maxNPrebinsX: Int = 5, maxNPrebinsY: Int = 5,
      minPrebinSizeX: Double = 0.05, minPrebinSizeY: Double = 0.05,
      minBinSize: Option[Double] = None,
      maxBinSize: Option[Double] = None,
      minBinNEvent: Option[Long] = None,
      maxBinNEvent: Option[Long] = None,
      minBinNNonevent: Option[Long] = None,
      maxBinNNonevent: Option[Long] = None,
      /** Global bin-count bounds (`binning_2d.py` min_n_bins/max_n_bins;
        * CP `add_constraint_min_max_bins`). Routed through the
        * constrained branch-and-bound search. */
      minNBins: Option[Int] = None,
      maxNBins: Option[Int] = None,
      /** Size-uniformity regularization (`binning_2d.py` gamma; CP
        * objective -= gamma/total * (largest bin - smallest bin)). */
      gamma: Double = 0.0,
      /** Strict event-rate monotonicity across rectangles sharing a
        * vertical (X) / horizontal (Y) boundary, "ascending" |
        * "descending" (`binning_2d.py` monotonic_trend_x/y;
        * `cp_2d.py:137-185` forbids violating selected pairs). */
      monotonicTrendX: Option[String] = None,
      monotonicTrendY: Option[String] = None,
      /** Minimum separation the monotone trend must achieve between
        * adjacent selected rectangles: event-rate gap for binary fits
        * (`binning_2d.py` min_event_rate_diff_x/y), mean gap for
        * continuous fits (`continuous_binning_2d.py` min_mean_diff_x/y).
        */
      minEventRateDiffX: Double = 0.0,
      minEventRateDiffY: Double = 0.0,
      divergence: String = "iv",
      /** "grid": optimal tiling over the full prebin grid; "cart":
        * greedy recursive axis-parallel splitting, leaves = bins
        * (`binning_2d.py:63` strategy, `model_data_cart_2d.py`). */
      strategy: String = "grid",
      /** Largest grid (in cells) the exact rectangle-tiling search may
        * attempt — the reference CP's full space including
        * non-guillotine patterns (`cp_2d.py:14-150`). Up to
        * min(this, 56) cells the search is unbudgeted (guaranteed
        * exact, ~8s driver worst case; the 5x5 default is ~0.1s);
        * larger grids — at ANY size — run a node-budgeted search over
        * the same full space (two-word mask to 128 cells, word-vector
        * mask beyond) that falls back to the guillotine DP (a strict
        * cut subset, status FEASIBLE) on budget exhaustion, the CP
        * `time_limit` spirit. Set a finite cap to skip exact search
        * entirely above it (guillotine DP directly). */
      exactCellLimit: Int = Int.MaxValue)

  /** Per-dimension exact greedy CART candidate splits. Both dimensions
    * melt into ONE bounded-probe histogram job: the exact (dim, value)
    * histogram is collected when it fits 2x10k buckets (every realistic
    * pair of binning dimensions), and per-dim totals roll up from the
    * buckets on the driver — no separate stats pass. Dims whose combined
    * exact histogram overflows the probe take the previous two-pass path
    * (per-dim stats job, then a grid-snapped histogram) — the
    * ultra-high-cardinality escape hatch, unchanged semantics.
    * `classification = false` uses MSE impurity on the continuous target.
    */
  private def cartDimSplits(df: DataFrame, xv: Column, yv: Column,
                            target: Column, config: Config2D,
                            classification: Boolean)
      : (Array[Double], Array[Double]) = {
    val melted = df.select(target.as("t"), xv.as("vx"), yv.as("vy"))
      .selectExpr("t", "stack(2, 'x', vx, 'y', vy) as (dim, v)")
      .where(col("v").isNotNull && !isnan(col("v")))
    val cap = 10000
    val aggs =
      if (classification) Seq(
        count(lit(1)).as("n"),
        sum(when(col("t") === 0.0, 1.0).otherwise(0.0)).as("a"),
        sum(when(col("t") =!= 0.0, 1.0).otherwise(0.0)).as("b"))
      else Seq(count(lit(1)).as("n"), sum(col("t")).as("a"),
               sum(col("t") * col("t")).as("b"))
    def twoPass(): Array[org.apache.spark.sql.Row] = {
      val st = melted.groupBy("dim")
        .agg(min("v").as("mn"), max("v").as("mx"),
             approx_count_distinct(col("v")).as("ndv"))
        .collect()
        .map(r => r.getString(0) ->
          ((r.getDouble(1), r.getDouble(2), r.getLong(3))))
        .toMap
      val vRep = Seq("x", "y").foldLeft(col("v")) { (acc, d) =>
        st.get(d) match {
          case Some((mn, mx, ndv)) if ndv > cap && mx > mn =>
            when(col("dim") === d,
                 Histograms.gridSnap(col("v"), mn, mx, cap)).otherwise(acc)
          case _ => acc
        }
      }
      melted.select(col("dim"), vRep.as("v"), col("t"))
        .groupBy("dim", "v").agg(aggs.head, aggs.tail: _*)
        .collect()
    }
    // one-partition-sized sniff: a dim pair already showing > cap
    // distinct values within 50k rows cannot fit the exact-histogram
    // probe, so go straight to the two-pass snapped path — the probe
    // shuffle that would only overflow is never paid at scale
    val sniff = melted.limit(50000).groupBy("dim")
      .agg(approx_count_distinct(col("v")).as("ndv"))
      .collect().map(_.getLong(1)).sum
    val hist: Array[org.apache.spark.sql.Row] =
      if (sniff > cap) twoPass()
      else {
        val probe = melted.groupBy("dim", "v")
          .agg(aggs.head, aggs.tail: _*)
          .limit(2 * cap + 2).collect()
        if (probe.length <= 2 * cap + 1) probe else twoPass()
      }
    def splitsFor(d: String, k: Int, frac: Double): Array[Double] = {
      val h = hist.filter(_.getString(0) == d).map { r =>
        if (classification)
          Prebinning.HistBucket(r.getDouble(1), r.getLong(2),
                                r.getDouble(3), r.getDouble(4))
        else
          // regression convention: y0 carries the bucket weight
          Prebinning.HistBucket(r.getDouble(1), r.getLong(2),
                                r.getLong(2).toDouble, 0.0,
                                sum = r.getDouble(3), ssum = r.getDouble(4))
      }.sortBy(_.value)
      val n = h.map(_.n).sum
      if (h.isEmpty) Array.empty[Double]
      else Prebinning.cartSplits(
        h, maxLeafNodes = k,
        minSamplesLeaf = math.ceil(frac * n).toLong,
        classification = classification)
    }
    (splitsFor("x", config.maxNPrebinsX, config.minPrebinSizeX),
     splitsFor("y", config.maxNPrebinsY, config.minPrebinSizeY))
  }

  /** Event-rate-sorted category order for a categorical dimension — ONE
    * bounded aggregate (ties broken by category for determinism; pandas
    * sort_values ordering coincides on distinct rates). */
  private[graft] def categoricalOrder(df: DataFrame, dim: Column,
                                      target: Column,
                                      maxCats: Int = 100000)
      : Array[String] = {
    val rows = df.where(dim.isNotNull)
      .groupBy(dim.cast("string").as("c"))
      .agg(avg(target).as("er"))
      .orderBy(col("er"), col("c"))
      .limit(maxCats + 1).collect()
    require(rows.length <= maxCats,
            s"categorical 2D dimension exceeds $maxCats categories")
    rows.map(_.getString(0))
  }

  private def ordinalColumn(dim: Column, order: Array[String]): Column = {
    val m = typedLit(order.zipWithIndex.map {
      case (c, i) => c -> i.toDouble
    }.toMap)
    element_at(m, dim.cast("string"))
  }

  /** Trend strings reach [[monotonicTilingSolve]]'s two-way branch, so an
    * unvalidated value (e.g. the 1-D "auto") would silently enforce
    * descending; fail fast like strategy/prebinning_method do. */
  private def validateTrends(config: Config2D): Unit =
    Seq("monotonic_trend_x" -> config.monotonicTrendX,
        "monotonic_trend_y" -> config.monotonicTrendY).foreach {
      case (name, Some(t)) if t != "ascending" && t != "descending" =>
        throw new IllegalArgumentException(
          s"$name must be ascending or descending, got $t")
      case _ => ()
    }

  def fit(df: DataFrame, xCol: String, yCol: String, targetCol: String,
          config: Config2D = Config2D()): Fitted2DBinning = {
    val tFit0 = System.nanoTime()
    validateTrends(config)
    val t = col(targetCol).cast(DoubleType)
    val catOrderX =
      if (config.dtypeX == "categorical")
        Some(categoricalOrder(df, col(xCol), t))
      else None
    val catOrderY =
      if (config.dtypeY == "categorical")
        Some(categoricalOrder(df, col(yCol), t))
      else None
    val x = catOrderX.map(o => ordinalColumn(col(xCol), o))
      .getOrElse(col(xCol).cast(DoubleType))
    val y = catOrderY.map(o => ordinalColumn(col(yCol), o))
      .getOrElse(col(yCol).cast(DoubleType))

    // a row with a null/NaN coordinate (either dimension) or target has
    // no grid cell: exclude it from prebinning AND the grid stats, like
    // the 1-D path's clean/missing split (transform() maps such rows to
    // NaN). Unfiltered, the CASE-chain bin index would silently route
    // them into the top bin.
    val data = df.where(x.isNotNull && !isnan(x) && y.isNotNull &&
                        !isnan(y) && t.isNotNull && !isnan(t))

    // per-dimension equal-frequency candidate splits
    def dimSplits(c: Column, k: Int): Array[Double] = {
      // mergeable quantile sketch, not exact percentile (single-buffer
      // global sort): identical below the accuracy threshold, scale-safe
      // above it
      val probs = (1 until k).map(_.toDouble / k)
      data.select(percentile_approx(c, array(probs.map(lit(_)): _*),
                                    lit(10000)).as("q"))
        .head.getSeq[Double](0).toArray.distinct.sorted
    }
    val (splitsX, splitsY) = config.prebinningMethod match {
      case "cart" =>
        cartDimSplits(data, x, y, t, config, classification = true)
      case "quantile" =>
        (dimSplits(x, config.maxNPrebinsX), dimSplits(y, config.maxNPrebinsY))
      case other => throw new IllegalArgumentException(
        s"prebinning_method $other not supported for 2D (cart|quantile)")
    }

    def idxExpr(c: Column, splits: Array[Double]): Column =
      splits.indices.foldRight(lit(splits.length): Column) { (i, acc) =>
        when(c < splits(i), lit(i)).otherwise(acc)
      }

    // one shuffle: the 2D grid aggregate over the null-excluded rows
    val grid = data
      .groupBy(idxExpr(x, splitsX).as("bx"), idxExpr(y, splitsY).as("by"))
      .agg(sum(when(t === 0.0, 1.0).otherwise(0.0)).as("ne"),
           sum(when(t =!= 0.0, 1.0).otherwise(0.0)).as("ev"))
      .collect()

    val mx = splitsX.length + 1
    val my = splitsY.length + 1
    val ne = Array.fill(mx, my)(0.0)
    val ev = Array.fill(mx, my)(0.0)
    grid.foreach { r =>
      ne(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
      ev(r.getInt(0))(r.getInt(1)) = r.getDouble(3)
    }

    // 2D prefix sums for O(1) rectangle stats
    val cumNe = Array.fill(mx + 1, my + 1)(0.0)
    val cumEv = Array.fill(mx + 1, my + 1)(0.0)
    for (i <- 0 until mx; j <- 0 until my) {
      cumNe(i + 1)(j + 1) = ne(i)(j) + cumNe(i)(j + 1) +
        cumNe(i + 1)(j) - cumNe(i)(j)
      cumEv(i + 1)(j + 1) = ev(i)(j) + cumEv(i)(j + 1) +
        cumEv(i + 1)(j) - cumEv(i)(j)
    }
    val tNe = cumNe(mx)(my)
    val tEv = cumEv(mx)(my)
    val total = tNe + tEv
    val minSize = config.minBinSize.map(_ * total).getOrElse(0.0)

    def rectNe(x1: Int, x2: Int, y1: Int, y2: Int): Double =
      cumNe(x2 + 1)(y2 + 1) - cumNe(x1)(y2 + 1) -
        cumNe(x2 + 1)(y1) + cumNe(x1)(y1)
    def rectEv(x1: Int, x2: Int, y1: Int, y2: Int): Double =
      cumEv(x2 + 1)(y2 + 1) - cumEv(x1)(y2 + 1) -
        cumEv(x2 + 1)(y1) + cumEv(x1)(y1)

    val maxSize = config.maxBinSize.map(_ * total)
      .getOrElse(Double.PositiveInfinity)
    def leafIv(x1: Int, x2: Int, y1: Int, y2: Int): Option[Double] = {
      val e = rectEv(x1, x2, y1, y2)
      val n = rectNe(x1, x2, y1, y2)
      if (e <= 0 || n <= 0) return None
      if (e + n < minSize || e + n > maxSize) return None
      if (config.minBinNEvent.exists(e < _)) return None
      if (config.maxBinNEvent.exists(e > _)) return None
      if (config.minBinNNonevent.exists(n < _)) return None
      if (config.maxBinNNonevent.exists(n > _)) return None
      val p = e / tEv
      val q = n / tNe
      Some(config.divergence match {
        case "js" =>
          val m = 0.5 * (p + q)
          0.5 * (Metrics.xlogy(p, p / m) + Metrics.xlogy(q, q / m))
        case _ => (p - q) * math.log(p / q)
      })
    }

    val monotone = config.monotonicTrendX.isDefined ||
      config.monotonicTrendY.isDefined
    // bin-count bounds and gamma couple every selected rectangle, so
    // they route through the same constrained branch-and-bound as the
    // monotone trends (CP `add_constraint_min_max_bins` + gamma terms).
    // Exception: cart with ONLY max_n_bins keeps the greedy leaf cap —
    // the pre-existing semantics (cheap and budget-free at any grid).
    val globallyConstrained = monotone || config.minNBins.isDefined ||
      config.gamma > 0 ||
      (config.maxNBins.isDefined && config.strategy != "cart")
    val tSolve0 = System.nanoTime()
    val (status, leaves) = config.strategy match {
      case "cart" if !globallyConstrained =>
        cartSolve(mx, my, leafIv,
                  config.maxNBins.getOrElse(
                    config.maxNPrebinsX * config.maxNPrebinsY))
      case "cart" | "grid" if globallyConstrained =>
        def er(x1: Int, x2: Int, y1: Int, y2: Int): Double = {
          val e = rectEv(x1, x2, y1, y2); val n = rectNe(x1, x2, y1, y2)
          if (e + n > 0) e / (e + n) else 0.0
        }
        // cart + constraints mirrors the reference: the greedy tree's
        // node rectangles become the candidate set and the constrained
        // search selects a cover among them
        // (`model_data_cart_2d.py:73-100` + CP constraints); grid uses
        // the full rectangle space
        val lv =
          if (config.strategy == "cart")
            restrictToCartCandidates(mx, my, leafIv,
              config.maxNPrebinsX * config.maxNPrebinsY)
          else leafIv _
        monotonicTilingSolve(mx, my, lv, er,
                             config.monotonicTrendX,
                             config.monotonicTrendY,
                             minDiffX = config.minEventRateDiffX,
                             minDiffY = config.minEventRateDiffY,
                             minBins = config.minNBins,
                             maxBins = config.maxNBins,
                             gamma = config.gamma,
                             rectN = (a, b, c, d) =>
                               rectEv(a, b, c, d) + rectNe(a, b, c, d),
                             totalRecords = total)
      case "grid" => tilingSolve(mx, my, leafIv, config.exactCellLimit,
                                 refinementOptimal = true)
      case other =>
        throw new IllegalArgumentException(
          s"strategy must be grid or cart, got $other")
    }
    val tSolve = (System.nanoTime() - tSolve0) / 1e9
    val rects =
      if (status == "OPTIMAL" || status == "FEASIBLE")
        leaves.map { case (x1, x2, y1, y2, v) =>
          Rect(x1, x2, y1, y2, rectNe(x1, x2, y1, y2),
               rectEv(x1, x2, y1, y2), v)
        }
      else Array(Rect(0, mx - 1, 0, my - 1, tNe, tEv, 0.0))

    val fitted =
      new Fitted2DBinning(config, status, splitsX, splitsY, rects, tNe,
                          tEv, catOrderX, catOrderY)
    val totalT = (System.nanoTime() - tFit0) / 1e9
    fitted.timings = Map(
      "total" -> totalT, "solver" -> tSolve,
      // grid aggregation + prebin splits (the Spark jobs)
      "data_pass" -> math.max(0.0, totalT - tSolve))
    fitted
  }

  /** CART-strategy partition (`binning_2d.py` strategy="cart" via
    * `model_data_cart_2d.py`): greedy best-first axis-parallel recursive
    * splitting of the prebin grid. Each step cuts the leaf whose best
    * guillotine cut yields the largest divergence gain; children must
    * individually satisfy the bin constraints (leafVal defined). Stops
    * at maxLeaves or when no cut gains. Leaves are the bins. */
  private[graft] final case class CartLeaf(x1: Int, x2: Int, y1: Int,
                                           y2: Int, v: Double)

  /** Shared greedy growth: returns (final leaves, every tree-node rect
    * created — root, internal nodes, leaves). */
  private def cartGrow(mx: Int, my: Int,
      leafVal: (Int, Int, Int, Int) => Option[Double],
      maxLeaves: Int)
      : (List[CartLeaf], Set[(Int, Int, Int, Int)]) = {
    val rootV = leafVal(0, mx - 1, 0, my - 1)
    if (rootV.isEmpty) return (Nil, Set.empty)
    val nodes = mutable.Set[(Int, Int, Int, Int)]((0, mx - 1, 0, my - 1))
    var leaves = List(CartLeaf(0, mx - 1, 0, my - 1, rootV.get))
    var grown = true
    while (grown && leaves.size < maxLeaves) {
      // best (leaf, cut): maximize sum-of-children gain over the leaf
      var bestGain = 1e-12
      var bestLeaf: CartLeaf = null
      var bestParts: (CartLeaf, CartLeaf) = null
      leaves.foreach { l =>
        // vertical cuts x1 <= c < x2 (left = [x1,c], right = [c+1,x2])
        var c = l.x1
        while (c < l.x2) {
          (leafVal(l.x1, c, l.y1, l.y2),
           leafVal(c + 1, l.x2, l.y1, l.y2)) match {
            case (Some(a), Some(b)) if a + b - l.v > bestGain =>
              bestGain = a + b - l.v
              bestLeaf = l
              bestParts = (CartLeaf(l.x1, c, l.y1, l.y2, a),
                           CartLeaf(c + 1, l.x2, l.y1, l.y2, b))
            case _ => ()
          }
          c += 1
        }
        // horizontal cuts
        c = l.y1
        while (c < l.y2) {
          (leafVal(l.x1, l.x2, l.y1, c),
           leafVal(l.x1, l.x2, c + 1, l.y2)) match {
            case (Some(a), Some(b)) if a + b - l.v > bestGain =>
              bestGain = a + b - l.v
              bestLeaf = l
              bestParts = (CartLeaf(l.x1, l.x2, l.y1, c, a),
                           CartLeaf(l.x1, l.x2, c + 1, l.y2, b))
            case _ => ()
          }
          c += 1
        }
      }
      if (bestLeaf == null) grown = false
      else {
        nodes += ((bestParts._1.x1, bestParts._1.x2,
                   bestParts._1.y1, bestParts._1.y2))
        nodes += ((bestParts._2.x1, bestParts._2.x2,
                   bestParts._2.y1, bestParts._2.y2))
        leaves = bestParts._1 :: bestParts._2 ::
          leaves.filterNot(_ eq bestLeaf)
      }
    }
    (leaves, nodes.toSet)
  }

  private[graft] def cartSolve(mx: Int, my: Int,
      leafVal: (Int, Int, Int, Int) => Option[Double],
      maxLeaves: Int)
      : (String, Array[(Int, Int, Int, Int, Double)]) = {
    val (leaves, _) = cartGrow(mx, my, leafVal, maxLeaves)
    if (leaves.isEmpty) ("INFEASIBLE", Array.empty)
    else ("OPTIMAL",
          leaves.map(l => (l.x1, l.x2, l.y1, l.y2, l.v)).toArray)
  }

  /** Candidate rectangle set for constrained cart fits: every node of
    * the greedy cart tree. Mirrors the reference, which keeps ALL
    * tree-node rectangles as CP candidates
    * (`model_data_cart_2d.py:73-100` get_rectangles over the whole
    * tree) and lets the solver pick a cover under the global
    * constraints. */
  private[graft] def cartCandidateRects(mx: Int, my: Int,
      leafVal: (Int, Int, Int, Int) => Option[Double],
      maxLeaves: Int): Set[(Int, Int, Int, Int)] =
    cartGrow(mx, my, leafVal, maxLeaves)._2

  /** leafVal restricted to the greedy cart tree's node rectangles —
    * the candidate-set wrapper both fit paths hand to the constrained
    * solver under strategy="cart". */
  private def restrictToCartCandidates(mx: Int, my: Int,
      leafVal: (Int, Int, Int, Int) => Option[Double],
      maxLeaves: Int): (Int, Int, Int, Int) => Option[Double] = {
    val cand = cartCandidateRects(mx, my, leafVal, maxLeaves)
    (a, b, c, d) => if (cand((a, b, c, d))) leafVal(a, b, c, d) else None
  }

  /** Best rectangle partition of the (mx x my) prebin grid: the exact
    * tiling search for small grids (the reference CP's full search space
    * — includes non-guillotine patterns like pinwheels,
    * `binning_2d.py:813-945` candidate-rectangle cover), guillotine DP
    * beyond (polynomial; its cut structure is a strict subset).
    */
  private[graft] def tilingSolve(mx: Int, my: Int,
                                 leafVal: (Int, Int, Int, Int) => Option[Double],
                                 exactCellLimit: Int = Int.MaxValue,
                                 refinementOptimal: Boolean = false)
      : (String, Array[(Int, Int, Int, Int, Double)]) = {
    val nCells = mx * my
    // Both fit objectives are superadditive under refinement — IV/JS by
    // the log-sum inequality (f-divergences), the continuous |mean - mu|
    // by the convex-combination triangle inequality — so when EVERY 1x1
    // cell individually satisfies the bin constraints, the all-singletons
    // tiling is provably optimal and no search is needed. Callers whose
    // leafVal has that structure pass refinementOptimal = true;
    // arbitrary objectives (tests, future callers) keep the full search.
    if (refinementOptimal) {
      val singles = mutable.ArrayBuffer.empty[(Int, Int, Int, Int, Double)]
      var allFeasible = true
      var y = 0
      while (allFeasible && y < my) {
        var x = 0
        while (allFeasible && x < mx) {
          leafVal(x, x, y, y) match {
            case Some(v) => singles += ((x, x, y, y, v))
            case None => allFeasible = false
          }
          x += 1
        }
        y += 1
      }
      if (allFeasible) return ("OPTIMAL", singles.toArray)
    }
    // up to 56 cells: unbudgeted exact (guaranteed); beyond, budgeted
    // exact over the SAME full rectangulation space at any grid size
    // (two-word mask to 128 cells, word-vector mask after), guillotine
    // DP only on budget exhaustion. A user-lowered exactCellLimit skips
    // exact search entirely above the cap.
    if (nCells <= math.min(exactCellLimit, 56))
      exactTilingSolve(mx, my, leafVal)
    else if (nCells > exactCellLimit)
      guillotineSolve(mx, my, leafVal) // user-capped: documented choice
    else if (nCells <= 128)
      // budgeted exact attempt over the full rectangulation space (the
      // CP's search space with its time_limit spirit); guillotine DP if
      // the state space blows the budget, downgraded to FEASIBLE since
      // the guillotine space is a strict subset
      exactTilingSolve128(mx, my, leafVal)
        .getOrElse(feasibleGuillotine(mx, my, leafVal))
    else
      // beyond 128 cells: same budgeted exact search over the full
      // candidate-rectangle space with a word-vector occupancy mask
      // (reference CP at any grid size, `model_data_2d.py:49-167`);
      // guillotine DP only on budget exhaustion, reported FEASIBLE
      exactTilingSolveBig(mx, my, leafVal)
        .getOrElse(feasibleGuillotine(mx, my, leafVal))
  }

  /** Guillotine fallback of the budgeted exact searches: its cut space
    * is a strict subset of the rectangulation space, so a result that
    * stands in for an exhausted exact search is FEASIBLE, not OPTIMAL
    * (mirrors the reference CP's time_limit status,
    * `binning_2d.py:362`). */
  private[graft] def feasibleGuillotine(mx: Int, my: Int,
      leafVal: (Int, Int, Int, Int) => Option[Double])
      : (String, Array[(Int, Int, Int, Int, Double)]) = {
    val (st, rects) = guillotineSolve(mx, my, leafVal)
    (if (st == "OPTIMAL") "FEASIBLE" else st, rects)
  }

  /** Exact maximum-value rectangle TILING via first-gap branch and bound
    * with full memoization on the covered-cell bitmask: the first
    * uncovered cell (row-major) must be the top-left corner of the next
    * rectangle, so the optimal completion is a pure function of the mask.
    * Covers every rectangle partition — the same solution space as the
    * reference's 2D CP (`cp_2d.py:14-150`).
    */
  private[graft] def exactTilingSolve(mx: Int, my: Int,
                                      leafVal: (Int, Int, Int, Int) => Option[Double])
      : (String, Array[(Int, Int, Int, Int, Double)]) = {
    val nCells = mx * my
    val full = if (nCells == 64) -1L else (1L << nCells) - 1
    @inline def bit(ix: Int, iy: Int): Int = iy * mx + ix
    // memo: mask -> (best completion value, chosen rect for first gap)
    val memo = mutable.HashMap.empty[Long, (Double, (Int, Int, Int, Int))]

    def best(mask: Long): (Double, (Int, Int, Int, Int)) = {
      if (mask == full) return (0.0, null)
      memo.getOrElseUpdate(mask, {
        val gap = java.lang.Long.numberOfTrailingZeros(~mask & full)
        val gx = gap % mx
        val gy = gap / mx
        var bestV = Double.NegativeInfinity
        var bestR: (Int, Int, Int, Int) = null
        var x2 = gx
        var maxX2 = mx - 1
        while (x2 <= maxX2) {
          // row gy from gx..x2 must be free (cells left of gap are set)
          if ((mask & (1L << bit(x2, gy))) != 0) {
            maxX2 = x2 - 1 // cannot extend past an occupied cell
          } else {
            // bitmask row-span checks: row y2's span is one AND
            // <<1 split avoids the 1L<<64 wrap on a 64-cell-wide row
            val span = (((1L << (x2 - gx)) << 1) - 1) << gx
            var rectMask = 0L
            var y2 = gy
            var ok = true
            while (ok && y2 < my) {
              val rowMask = span << (y2 * mx)
              if ((mask & rowMask) != 0) ok = false
              else {
                rectMask |= rowMask
                leafVal(gx, x2, gy, y2).foreach { v =>
                  val rest = best(mask | rectMask)._1
                  if (rest > Double.NegativeInfinity && v + rest > bestV) {
                    bestV = v + rest; bestR = (gx, x2, gy, y2)
                  }
                }
                y2 += 1
              }
            }
          }
          x2 += 1
        }
        (bestV, bestR)
      })
    }

    val (obj, _) = best(0L)
    if (obj == Double.NegativeInfinity) return ("INFEASIBLE", Array.empty)
    val out = mutable.ArrayBuffer.empty[(Int, Int, Int, Int, Double)]
    var mask = 0L
    while (mask != full) {
      val (_, r) = best(mask)
      val (x1, x2, y1, y2) = r
      out += ((x1, x2, y1, y2, leafVal(x1, x2, y1, y2).get))
      for (yy <- y1 to y2; xx <- x1 to x2) mask |= 1L << bit(xx, yy)
    }
    ("OPTIMAL", out.toArray)
  }

  /** Budgeted exact tiling for 65..128-cell grids: the same first-gap
    * memoized search as [[exactTilingSolve]] over a two-word (128-bit)
    * occupancy mask. Returns None when the memo table exceeds the node
    * budget — the reachable-mask space grows exponentially with grid
    * area, so large loosely-constrained grids bail out and the caller
    * falls back to the guillotine DP (mirrors the reference CP's
    * `time_limit` bail-out on the same space, `binning_2d.py:362`).
    */
  private[graft] def exactTilingSolve128(mx: Int, my: Int,
      leafVal: (Int, Int, Int, Int) => Option[Double],
      nodeBudget: Int = 2000000)
      : Option[(String, Array[(Int, Int, Int, Int, Double)])] = {
    val nCells = mx * my
    require(nCells <= 128, s"grid has $nCells cells; limit 128")
    val fullLo = if (nCells >= 64) -1L else (1L << nCells) - 1
    val fullHi =
      if (nCells <= 64) 0L
      else if (nCells == 128) -1L
      else (1L << (nCells - 64)) - 1
    // contiguous bits a..b inclusive of a 128-bit word, as (lo, hi)
    @inline def rangeLo(a: Int, b: Int): Long =
      if (a >= 64 || b < a) 0L
      else {
        val hiB = math.min(b, 63)
        (((1L << (hiB - a)) << 1) - 1) << a // avoids 1L<<64 overflow
      }
    @inline def rangeHi(a: Int, b: Int): Long =
      if (b < 64) 0L
      else {
        val loA = math.max(a, 64) - 64; val hiB = b - 64
        (((1L << (hiB - loA)) << 1) - 1) << loA
      }
    // memo: mask -> (best completion value, rect covering the first gap)
    val memo =
      mutable.HashMap.empty[(Long, Long), (Double, (Int, Int, Int, Int))]
    var exceeded = false

    def best(lo: Long, hi: Long): (Double, (Int, Int, Int, Int)) = {
      if (lo == fullLo && hi == fullHi) return (0.0, null)
      memo.getOrElseUpdate((lo, hi), {
        if (memo.size > nodeBudget) { exceeded = true; return (0.0, null) }
        val gapLo = ~lo & fullLo
        val gap =
          if (gapLo != 0) java.lang.Long.numberOfTrailingZeros(gapLo)
          else 64 + java.lang.Long.numberOfTrailingZeros(~hi & fullHi)
        val gx = gap % mx
        val gy = gap / mx
        var bestV = Double.NegativeInfinity
        var bestR: (Int, Int, Int, Int) = null
        var x2 = gx
        var maxX2 = mx - 1
        while (x2 <= maxX2 && !exceeded) {
          val cb = gy * mx + x2
          val cellSet =
            if (cb < 64) (lo & (1L << cb)) != 0
            else (hi & (1L << (cb - 64))) != 0
          if (cellSet) {
            maxX2 = x2 - 1
          } else {
            var rmLo = 0L; var rmHi = 0L
            var y2 = gy
            var ok = true
            while (ok && y2 < my && !exceeded) {
              val a = y2 * mx + gx; val b = y2 * mx + x2
              val rowLo = rangeLo(a, b); val rowHi = rangeHi(a, b)
              if ((lo & rowLo) != 0 || (hi & rowHi) != 0) ok = false
              else {
                rmLo |= rowLo; rmHi |= rowHi
                leafVal(gx, x2, gy, y2).foreach { v =>
                  val rest = best(lo | rmLo, hi | rmHi)._1
                  if (rest > Double.NegativeInfinity && v + rest > bestV) {
                    bestV = v + rest; bestR = (gx, x2, gy, y2)
                  }
                }
                y2 += 1
              }
            }
          }
          x2 += 1
        }
        (bestV, bestR)
      })
    }

    val (obj, _) = best(0L, 0L)
    if (exceeded) return None
    if (obj == Double.NegativeInfinity)
      return Some(("INFEASIBLE", Array.empty))
    val out = mutable.ArrayBuffer.empty[(Int, Int, Int, Int, Double)]
    var lo = 0L; var hi = 0L
    while (lo != fullLo || hi != fullHi) {
      val (_, r) = best(lo, hi)
      val (x1, x2, y1, y2) = r
      out += ((x1, x2, y1, y2, leafVal(x1, x2, y1, y2).get))
      var yy = y1
      while (yy <= y2) {
        val a = yy * mx + x1; val b = yy * mx + x2
        lo |= rangeLo(a, b); hi |= rangeHi(a, b)
        yy += 1
      }
    }
    Some(("OPTIMAL", out.toArray))
  }

  // --- word-vector occupancy-mask helpers (grids beyond 64/128 cells;
  // a row span may straddle word boundaries at any grid width) --------
  private def fullMaskWords(nCells: Int): Array[Long] = {
    val w = new Array[Long]((nCells + 63) >>> 6)
    var i = 0
    while (i < nCells) {
      w(i >>> 6) |= 1L << (i & 63)
      i += 1
    }
    w
  }
  @inline private def wordMask(k: Int, a: Int, b: Int): Long = {
    val lo = if (k == (a >>> 6)) a & 63 else 0
    val hi = if (k == (b >>> 6)) b & 63 else 63
    (((1L << (hi - lo)) << 1) - 1) << lo // avoids the 1L<<64 wrap
  }
  /** Any set bit in the inclusive bit range [a, b]. */
  @inline private def anySet(w: Array[Long], a: Int, b: Int): Boolean = {
    var k = a >>> 6
    val kEnd = b >>> 6
    while (k <= kEnd) {
      if ((w(k) & wordMask(k, a, b)) != 0) return true
      k += 1
    }
    false
  }
  /** Set all bits in the inclusive bit range [a, b]. */
  @inline private def setRange(w: Array[Long], a: Int, b: Int): Unit = {
    var k = a >>> 6
    val kEnd = b >>> 6
    while (k <= kEnd) {
      w(k) |= wordMask(k, a, b)
      k += 1
    }
  }
  /** First uncovered bit, or -1 when the mask equals `full`. */
  @inline private def firstGap(w: Array[Long],
                               full: Array[Long]): Int = {
    var k = 0
    while (k < w.length) {
      val g = ~w(k) & full(k)
      if (g != 0)
        return (k << 6) + java.lang.Long.numberOfTrailingZeros(g)
      k += 1
    }
    -1
  }

  /** Budgeted exact tiling for grids beyond 128 cells: the same
    * first-gap memoized branch and bound as [[exactTilingSolve]] /
    * [[exactTilingSolve128]], with the occupancy mask widened to an
    * `Array[Long]` word vector. The candidate space is the FULL
    * rectangle enumeration of the reference's 2D model data
    * (`model_data_2d.py:49-167`): every rectangle anchored at the first
    * uncovered cell, pruned by `leafVal` infeasibility exactly as the
    * reference skips pure and size-violating rectangles. Returns None
    * when the memo exceeds the node budget — the caller keeps the
    * guillotine DP result and reports FEASIBLE.
    */
  /** Run a driver-side recursive solve on a dedicated thread with a
    * 512 MiB stack: the tiling searches recurse one frame per placed
    * rectangle, so a singleton-heavy path on a large grid can reach
    * ~nCells frames — far past the JVM's default ~1 MiB thread stack —
    * before any node budget trips. */
  private def withBigStack[T](f: => T): T = {
    @volatile var out: Either[Throwable, T] = null
    val t = new Thread(null,
      () => out = try Right(f) catch { case e: Throwable => Left(e) },
      "graft-2d-solve", 512L << 20)
    t.setDaemon(true)
    t.start(); t.join()
    out match { case Right(v) => v; case Left(e) => throw e }
  }

  private[graft] def exactTilingSolveBig(mx: Int, my: Int,
      leafVal: (Int, Int, Int, Int) => Option[Double],
      nodeBudget: Int = 2000000)
      : Option[(String, Array[(Int, Int, Int, Int, Double)])] =
    withBigStack(exactTilingSolveBigImpl(mx, my, leafVal, nodeBudget))

  private def exactTilingSolveBigImpl(mx: Int, my: Int,
      leafVal: (Int, Int, Int, Int) => Option[Double],
      nodeBudget: Int)
      : Option[(String, Array[(Int, Int, Int, Int, Double)])] = {
    val nCells = mx * my
    val nWords = (nCells + 63) >>> 6
    // bound the memo's MEMORY, not just its entry count: each key is an
    // nWords-long array (+ object headers + the value tuple), so a huge
    // grid at the flat 2M-entry budget would hold gigabytes; cap the
    // memo at ~256 MiB and let budget exhaustion fall back to the
    // guillotine FEASIBLE path as usual
    val effectiveBudget = math.min(nodeBudget.toLong,
      (256L << 20) / (8L * nWords + 96L)).toInt
    val fullWords = fullMaskWords(nCells)

    // memo key: value-equal wrapper over the mask words
    final class Mask(val w: Array[Long]) {
      override val hashCode: Int = java.util.Arrays.hashCode(w)
      override def equals(o: Any): Boolean = o match {
        case m: Mask => java.util.Arrays.equals(w, m.w)
        case _       => false
      }
    }

    val memo = mutable.HashMap.empty[Mask, (Double, (Int, Int, Int, Int))]
    var exceeded = false

    def best(mask: Mask): (Double, (Int, Int, Int, Int)) = {
      if (java.util.Arrays.equals(mask.w, fullWords)) return (0.0, null)
      memo.getOrElseUpdate(mask, {
        if (memo.size > effectiveBudget) { exceeded = true; return (0.0, null) }
        val gap = firstGap(mask.w, fullWords)
        val gx = gap % mx
        val gy = gap / mx
        var bestV = Double.NegativeInfinity
        var bestR: (Int, Int, Int, Int) = null
        var x2 = gx
        var maxX2 = mx - 1
        while (x2 <= maxX2 && !exceeded) {
          val cb = gy * mx + x2
          if ((mask.w(cb >>> 6) & (1L << (cb & 63))) != 0) {
            maxX2 = x2 - 1 // cannot extend past an occupied cell
          } else {
            // grow downward, accumulating the rect into a working copy
            val acc = mask.w.clone()
            var y2 = gy
            var ok = true
            while (ok && y2 < my && !exceeded) {
              val a = y2 * mx + gx
              val b = y2 * mx + x2
              if (anySet(mask.w, a, b)) ok = false
              else {
                setRange(acc, a, b)
                leafVal(gx, x2, gy, y2).foreach { v =>
                  val rest = best(new Mask(acc.clone()))._1
                  if (rest > Double.NegativeInfinity && v + rest > bestV) {
                    bestV = v + rest; bestR = (gx, x2, gy, y2)
                  }
                }
                y2 += 1
              }
            }
          }
          x2 += 1
        }
        (bestV, bestR)
      })
    }

    val (obj, _) = best(new Mask(new Array[Long](nWords)))
    if (exceeded) return None
    if (obj == Double.NegativeInfinity)
      return Some(("INFEASIBLE", Array.empty))
    val out = mutable.ArrayBuffer.empty[(Int, Int, Int, Int, Double)]
    val cur = new Array[Long](nWords)
    while (!java.util.Arrays.equals(cur, fullWords)) {
      val (_, r) = best(new Mask(cur.clone()))
      val (x1, x2, y1, y2) = r
      out += ((x1, x2, y1, y2, leafVal(x1, x2, y1, y2).get))
      var yy = y1
      while (yy <= y2) {
        setRange(cur, yy * mx + x1, yy * mx + x2)
        yy += 1
      }
    }
    Some(("OPTIMAL", out.toArray))
  }

  /** Exact monotone-constrained tiling: first-gap DFS branch-and-bound
    * WITHOUT mask memoization (the trend couples every placed rectangle
    * pair sharing a boundary, so the optimal completion is not a pure
    * function of the mask). Adjacent selected pairs must be STRICTLY
    * monotone in event rate along each constrained axis, matching the
    * reference CP's forbidden-pair encoding (`cp_2d.py:137-185`,
    * min_diff = 0). Pruned by an optimistic per-cell value bound and a
    * hard node budget; exact whenever the search completes. The
    * occupancy mask is a word vector, so ANY grid size is accepted —
    * there is no memo here (the trend couples placed pairs), only the
    * node budget bounds the search (the default config produces 25
    * cells).
    */
  private[graft] def monotonicTilingSolve(mx: Int, my: Int,
      leafVal: (Int, Int, Int, Int) => Option[Double],
      rectEr: (Int, Int, Int, Int) => Double,
      trendX: Option[String], trendY: Option[String],
      maxNodes: Long = 50000000L,
      minDiffX: Double = 0.0, minDiffY: Double = 0.0,
      minBins: Option[Int] = None, maxBins: Option[Int] = None,
      gamma: Double = 0.0,
      rectN: (Int, Int, Int, Int) => Double = null,
      totalRecords: Double = 0.0)
      : (String, Array[(Int, Int, Int, Int, Double)]) =
    withBigStack(monotonicTilingSolveImpl(mx, my, leafVal, rectEr,
      trendX, trendY, maxNodes, minDiffX, minDiffY, minBins, maxBins,
      gamma, rectN, totalRecords))

  private def monotonicTilingSolveImpl(mx: Int, my: Int,
      leafVal: (Int, Int, Int, Int) => Option[Double],
      rectEr: (Int, Int, Int, Int) => Double,
      trendX: Option[String], trendY: Option[String],
      maxNodes: Long,
      minDiffX: Double, minDiffY: Double,
      minBins: Option[Int], maxBins: Option[Int],
      gamma: Double,
      rectN: (Int, Int, Int, Int) => Double,
      totalRecords: Double)
      : (String, Array[(Int, Int, Int, Int, Double)]) = {
    val nCells = mx * my
    val fullWords = fullMaskWords(nCells)
    @inline def bit(ix: Int, iy: Int): Int = iy * mx + ix

    // optimistic bound: best value-per-cell over rectangles covering
    // each cell; remaining potential = sum over free cells
    val cellBound = new Array[Double](nCells)
    for (x1 <- 0 until mx; x2 <- x1 until mx;
         y1 <- 0 until my; y2 <- y1 until my)
      leafVal(x1, x2, y1, y2).foreach { v =>
        val density = math.max(v, 0.0) / ((x2 - x1 + 1) * (y2 - y1 + 1))
        for (yy <- y1 to y2; xx <- x1 to x2) {
          val b = bit(xx, yy)
          if (density > cellBound(b)) cellBound(b) = density
        }
      }

    final case class R(x1: Int, x2: Int, y1: Int, y2: Int,
                       v: Double, er: Double)
    // reference forbidden-pair encoding with min_diff
    // (`cp_2d.py:137-199`): ascending requires lo + minDiff < hi between
    // the lower-coordinate rect (lo) and its higher-coordinate neighbor
    // (hi); descending requires lo > hi + minDiff
    def mono(lo: Double, hi: Double, trend: String,
             minDiff: Double): Boolean =
      if (trend == "ascending") lo + minDiff < hi else lo > hi + minDiff
    def overlap(a1: Int, a2: Int, b1: Int, b2: Int): Boolean =
      a1 <= b2 && b1 <= a2
    def consistent(r: R, placed: List[R]): Boolean = placed.forall { p =>
      val xOk = trendX.forall { t =>
        if (p.x2 + 1 == r.x1 && overlap(p.y1, p.y2, r.y1, r.y2))
          mono(p.er, r.er, t, minDiffX)
        else if (r.x2 + 1 == p.x1 && overlap(p.y1, p.y2, r.y1, r.y2))
          mono(r.er, p.er, t, minDiffX)
        else true
      }
      val yOk = trendY.forall { t =>
        if (p.y2 + 1 == r.y1 && overlap(p.x1, p.x2, r.x1, r.x2))
          mono(p.er, r.er, t, minDiffY)
        else if (r.y2 + 1 == p.y1 && overlap(p.x1, p.x2, r.x1, r.x2))
          mono(r.er, p.er, t, minDiffY)
        else true
      }
      xOk && yOk
    }

    var best = Double.NegativeInfinity
    var bestTiling: List[R] = Nil
    // hard node budget: general rectangulations explode combinatorially
    // and the optimistic density bound can be weak under loose
    // constraints — on budget exhaustion keep the best COMPLETE tiling
    // found so far and report FEASIBLE, mirroring the reference CP's
    // time_limit behavior (OPTIMAL and FEASIBLE are both accepted,
    // `binning_2d.py:362` + cp status handling); with no complete tiling
    // yet, fail with guidance instead of effectively hanging
    var nodes = 0L
    var exhausted = false

    // gamma penalizes size spread of the SELECTED bins:
    // objective -= gamma/total * (largest - smallest) (`cp_2d.py:50-57`,
    // continuous double form of the CP's scaled-integer term). The
    // penalty is >= 0, so the optimistic bound without it stays
    // admissible.
    def sizeOf(r: R): Double =
      if (rectN == null) 0.0 else rectN(r.x1, r.x2, r.y1, r.y2)
    def objective(acc: Double, placed: List[R]): Double =
      if (gamma <= 0 || totalRecords <= 0) acc
      else {
        val sizes = placed.map(sizeOf)
        acc - gamma * (sizes.max - sizes.min) / totalRecords
      }

    def dfs(mask: Array[Long], placed: List[R], cnt: Int, acc: Double,
            potential: Double): Unit = {
      if (java.util.Arrays.equals(mask, fullWords)) {
        if (minBins.forall(cnt >= _)) {
          val obj = objective(acc, placed)
          if (obj > best) { best = obj; bestTiling = placed }
        }
        return
      }
      if (exhausted) return
      // a full cover needs at least one more rectangle
      if (maxBins.exists(cnt >= _)) return
      nodes += 1
      if (nodes > maxNodes) {
        exhausted = true
        if (best == Double.NegativeInfinity)
          throw new IllegalStateException(
            s"monotonic 2D search exceeded $maxNodes nodes on a " +
            s"$mx x $my grid with no feasible tiling found; lower " +
            "max_n_prebins_x/y or drop monotonic_trend_x/y")
        return
      }
      if (acc + potential <= best) return
      val gap = firstGap(mask, fullWords)
      val gx = gap % mx
      val gy = gap / mx
      var x2 = gx
      var maxX2 = mx - 1
      while (x2 <= maxX2) {
        val cb = bit(x2, gy)
        if ((mask(cb >>> 6) & (1L << (cb & 63))) != 0) {
          maxX2 = x2 - 1
        } else {
          // grow downward, accumulating the rect into a working copy
          val withRect = mask.clone()
          var y2 = gy
          var ok = true
          while (ok && y2 < my) {
            val a = y2 * mx + gx
            val b = y2 * mx + x2
            if (anySet(mask, a, b)) ok = false
            else {
              setRange(withRect, a, b)
              leafVal(gx, x2, gy, y2).foreach { v =>
                val r = R(gx, x2, gy, y2, v, rectEr(gx, x2, gy, y2))
                if (consistent(r, placed)) {
                  var lost = 0.0
                  for (yy <- gy to y2; xx <- gx to x2)
                    lost += cellBound(bit(xx, yy))
                  dfs(withRect.clone(), r :: placed, cnt + 1, acc + v,
                      potential - lost)
                }
              }
              y2 += 1
            }
          }
        }
        x2 += 1
      }
    }

    dfs(new Array[Long](fullWords.length), Nil, 0, 0.0, cellBound.sum)
    if (best == Double.NegativeInfinity) ("INFEASIBLE", Array.empty)
    else (if (exhausted) "FEASIBLE" else "OPTIMAL",
          bestTiling.map(r => (r.x1, r.x2, r.y1, r.y2, r.v)).toArray)
  }

  /** Exact guillotine-partition DP over an (mx x my) prebin grid.
    * `leafVal(x1,x2,y1,y2)` returns the objective value of keeping that
    * rectangle as one bin, or None if infeasible. Returns the leaf
    * rectangles of the best partition with their values.
    */
  private[graft] def guillotineSolve(mx: Int, my: Int,
                              leafVal: (Int, Int, Int, Int) => Option[Double])
      : (String, Array[(Int, Int, Int, Int, Double)]) = {
    val memo = mutable.HashMap.empty[Int, (Double, Int)]
    @inline def key(x1: Int, x2: Int, y1: Int, y2: Int): Int =
      ((x1 * mx + x2) * my + y1) * my + y2
    // cut encoding: 0 = leaf; 1+k = vertical cut after column k;
    // 1000+k = horizontal cut after row k
    def best(x1: Int, x2: Int, y1: Int, y2: Int): (Double, Int) = {
      val k = key(x1, x2, y1, y2)
      memo.getOrElseUpdate(k, {
        var bestV = leafVal(x1, x2, y1, y2).getOrElse(Double.NegativeInfinity)
        var bestCut = 0
        var c = x1
        while (c < x2) {
          val l = best(x1, c, y1, y2)._1
          if (l > Double.NegativeInfinity) {
            val r = best(c + 1, x2, y1, y2)._1
            if (r > Double.NegativeInfinity && l + r > bestV) {
              bestV = l + r; bestCut = 1 + c
            }
          }
          c += 1
        }
        c = y1
        while (c < y2) {
          val b = best(x1, x2, y1, c)._1
          if (b > Double.NegativeInfinity) {
            val u = best(x1, x2, c + 1, y2)._1
            if (u > Double.NegativeInfinity && b + u > bestV) {
              bestV = b + u; bestCut = 1000 + c
            }
          }
          c += 1
        }
        (bestV, bestCut)
      })
    }

    val (obj, _) = best(0, mx - 1, 0, my - 1)
    val out = mutable.ArrayBuffer.empty[(Int, Int, Int, Int, Double)]
    def emit(x1: Int, x2: Int, y1: Int, y2: Int): Unit = {
      val (_, cut) = best(x1, x2, y1, y2)
      if (cut == 0)
        out += ((x1, x2, y1, y2, leafVal(x1, x2, y1, y2).getOrElse(0.0)))
      else if (cut < 1000) {
        val c = cut - 1
        emit(x1, c, y1, y2); emit(c + 1, x2, y1, y2)
      } else {
        val c = cut - 1000
        emit(x1, x2, y1, c); emit(x1, x2, c + 1, y2)
      }
    }
    if (obj > Double.NegativeInfinity) {
      emit(0, mx - 1, 0, my - 1)
      ("OPTIMAL", out.toArray)
    } else ("INFEASIBLE", Array.empty)
  }

  final case class ContRect(x1: Int, x2: Int, y1: Int, y2: Int,
                            n: Double, sum: Double, ssum: Double,
                            value: Double) {
    def mean: Double = if (n > 0) sum / n else 0.0
    def std: Double =
      if (n > 0) math.sqrt(math.max(ssum / n - mean * mean, 0.0)) else 0.0
  }

  /** Continuous-target 2D binning
    * (`multidimensional/continuous_binning_2d.py:286`): same grid data
    * plane with (n, sum z, sum z^2) cells; leaf objective is the L1 norm
    * |mean_rect - t_mean| (`model_data_2d.py:253-257`).
    */
  def fitContinuous(df: DataFrame, xCol: String, yCol: String,
                    zCol: String,
                    config: Config2D = Config2D()): FittedContinuous2D = {
    val tFit0 = System.nanoTime()
    validateTrends(config)
    val x = col(xCol).cast(DoubleType)
    val y = col(yCol).cast(DoubleType)
    val z = col(zCol).cast(DoubleType)

    // same null/NaN row exclusion as the binary fit above
    val data = df.where(x.isNotNull && !isnan(x) && y.isNotNull &&
                        !isnan(y) && z.isNotNull && !isnan(z))

    def dimSplits(c: Column, k: Int): Array[Double] = {
      // mergeable quantile sketch, not exact percentile (single-buffer
      // global sort): identical below the accuracy threshold, scale-safe
      // above it
      val probs = (1 until k).map(_.toDouble / k)
      data.select(percentile_approx(c, array(probs.map(lit(_)): _*),
                                    lit(10000)).as("q"))
        .head.getSeq[Double](0).toArray.distinct.sorted
    }
    val (splitsX, splitsY) = config.prebinningMethod match {
      case "cart" =>
        // regression CART (MSE impurity) on the continuous target
        cartDimSplits(data, x, y, z, config, classification = false)
      case "quantile" =>
        (dimSplits(x, config.maxNPrebinsX), dimSplits(y, config.maxNPrebinsY))
      case other => throw new IllegalArgumentException(
        s"prebinning_method $other not supported for 2D (cart|quantile)")
    }

    def idxExpr(c: Column, splits: Array[Double]): Column =
      splits.indices.foldRight(lit(splits.length): Column) { (i, acc) =>
        when(c < splits(i), lit(i)).otherwise(acc)
      }

    val grid = data
      .groupBy(idxExpr(x, splitsX).as("bx"), idxExpr(y, splitsY).as("by"))
      .agg(count(lit(1)).cast("double").as("n"),
           sum(z).as("s"), sum(z * z).as("ss"))
      .collect()

    val mx = splitsX.length + 1
    val my = splitsY.length + 1
    val nG = Array.fill(mx, my)(0.0)
    val sG = Array.fill(mx, my)(0.0)
    val ssG = Array.fill(mx, my)(0.0)
    grid.foreach { r =>
      nG(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
      sG(r.getInt(0))(r.getInt(1)) = r.getDouble(3)
      ssG(r.getInt(0))(r.getInt(1)) = r.getDouble(4)
    }

    def prefix(a: Array[Array[Double]]): Array[Array[Double]] = {
      val c = Array.fill(mx + 1, my + 1)(0.0)
      for (i <- 0 until mx; j <- 0 until my)
        c(i + 1)(j + 1) = a(i)(j) + c(i)(j + 1) + c(i + 1)(j) - c(i)(j)
      c
    }
    val cumN = prefix(nG); val cumS = prefix(sG); val cumSS = prefix(ssG)
    def rectOf(c: Array[Array[Double]])(x1: Int, x2: Int, y1: Int,
                                        y2: Int): Double =
      c(x2 + 1)(y2 + 1) - c(x1)(y2 + 1) - c(x2 + 1)(y1) + c(x1)(y1)

    val total = cumN(mx)(my)
    val tMean = if (total > 0) cumS(mx)(my) / total else 0.0
    val minSize = config.minBinSize.map(_ * total).getOrElse(0.0)

    val maxSizeC = config.maxBinSize.map(_ * total)
      .getOrElse(Double.PositiveInfinity)
    def leafNorm(x1: Int, x2: Int, y1: Int, y2: Int): Option[Double] = {
      val n = rectOf(cumN)(x1, x2, y1, y2)
      if (n <= 0 || n < minSize || n > maxSizeC) return None
      val m = rectOf(cumS)(x1, x2, y1, y2) / n
      Some(math.abs(m - tMean))
    }

    val contMonotone = config.monotonicTrendX.isDefined ||
      config.monotonicTrendY.isDefined
    // same routing rule as the binary fit: cart with ONLY max_n_bins
    // keeps the greedy leaf cap (cheap and budget-free at any grid)
    val contConstrained = contMonotone || config.minNBins.isDefined ||
      config.gamma > 0 ||
      (config.maxNBins.isDefined && config.strategy != "cart")
    val tSolve0 = System.nanoTime()
    val (status, leaves) = config.strategy match {
      case "cart" if !contConstrained =>
        cartSolve(mx, my, leafNorm,
                  config.maxNBins.getOrElse(
                    config.maxNPrebinsX * config.maxNPrebinsY))
      case "cart" | "grid" if contConstrained =>
        // monotone trend on bin MEANS with min_mean_diff_x/y
        // (`continuous_binning_2d.py` monotonic_trend_x/y; same CP
        // forbidden-pair encoding as binary, mean in place of rate),
        // plus min/max_n_bins and gamma; cart restricts candidates to
        // the greedy tree's node rectangles like the reference
        def meanOf(x1: Int, x2: Int, y1: Int, y2: Int): Double = {
          val n = rectOf(cumN)(x1, x2, y1, y2)
          if (n > 0) rectOf(cumS)(x1, x2, y1, y2) / n else 0.0
        }
        val lv =
          if (config.strategy == "cart")
            restrictToCartCandidates(mx, my, leafNorm,
              config.maxNPrebinsX * config.maxNPrebinsY)
          else leafNorm _
        monotonicTilingSolve(mx, my, lv, meanOf,
                             config.monotonicTrendX, config.monotonicTrendY,
                             minDiffX = config.minEventRateDiffX,
                             minDiffY = config.minEventRateDiffY,
                             minBins = config.minNBins,
                             maxBins = config.maxNBins,
                             gamma = config.gamma,
                             rectN = rectOf(cumN),
                             totalRecords = total)
      case "grid" => tilingSolve(mx, my, leafNorm, config.exactCellLimit,
                                 refinementOptimal = true)
      case other =>
        throw new IllegalArgumentException(
          s"strategy must be grid or cart, got $other")
    }
    val tSolve = (System.nanoTime() - tSolve0) / 1e9
    val rects =
      if (status == "OPTIMAL" || status == "FEASIBLE")
        leaves.map { case (x1, x2, y1, y2, v) =>
          ContRect(x1, x2, y1, y2, rectOf(cumN)(x1, x2, y1, y2),
                   rectOf(cumS)(x1, x2, y1, y2),
                   rectOf(cumSS)(x1, x2, y1, y2), v)
        }
      else Array(ContRect(0, mx - 1, 0, my - 1, total, cumS(mx)(my),
                          cumSS(mx)(my), 0.0))

    val fitted =
      new FittedContinuous2D(config, status, splitsX, splitsY, rects,
                             tMean)
    val totalT = (System.nanoTime() - tFit0) / 1e9
    fitted.timings = Map(
      "total" -> totalT, "solver" -> tSolve,
      "data_pass" -> math.max(0.0, totalT - tSolve))
    fitted
  }
}

/** Fitted 2D binning: rectangle list + WoE transform (CASE over
  * rectangle membership — pure Catalyst, no shuffle). */
final class Fitted2DBinning(
    val config: OptimalBinning2D.Config2D,
    val status: String,
    val splitsX: Array[Double],
    val splitsY: Array[Double],
    val rects: Array[OptimalBinning2D.Rect],
    val tNonevent: Double,
    val tEvent: Double,
    /** Event-rate-sorted category order per categorical dimension —
      * transform maps raw categories onto these ordinals first. */
    val catOrderX: Option[Array[String]] = None,
    val catOrderY: Option[Array[String]] = None) extends Serializable {

  /** Per-phase wall times — same `information()` contract as the 1-D
    * estimators ("data_pass", "solver", "total"). */
  @transient var timings: Map[String, Double] = Map.empty

  /** Human-readable fit summary (`information()` mirror). */
  def information(): String = {
    val t = timings.withDefaultValue(0.0)
    f"""optimal 2D binning fit (${config.strategy}%s)
       |  status     ${status}%s
       |  bins       ${rects.length}%d rectangles
       |  iv         ${iv}%.8f
       |  time total ${t("total")}%.4f s
       |    data pass ${t("data_pass")}%.4f s
       |    solver    ${t("solver")}%.4f s""".stripMargin
  }

  def iv: Double = rects.map(_.iv).sum

  /** Gini over the rectangle bins (`binning_table.analysis()` of the 2D
    * table — same bin-level accuracy-ratio formula as the 1-D table). */
  def gini: Double =
    Metrics.gini(rects.map(_.event), rects.map(_.nonevent))

  /** Jensen-Shannon total over the rectangle bins. */
  def js: Double =
    Metrics.jensenShannonSum(rects.map(_.event / tEvent),
                             rects.map(_.nonevent / tNonevent))

  private def edge(splits: Array[Double], i: Int): Double =
    if (i < 0) Double.NegativeInfinity
    else if (i >= splits.length) Double.PositiveInfinity
    else splits(i)

  def binLabel(r: OptimalBinning2D.Rect): String = {
    def f(v: Double) = if (v.isInfinite) v.toString else f"$v%.2f"
    s"[${f(edge(splitsX, r.x1 - 1))}, ${f(edge(splitsX, r.x2))}) x " +
      s"[${f(edge(splitsY, r.y1 - 1))}, ${f(edge(splitsY, r.y2))})"
  }

  def woe(r: OptimalBinning2D.Rect): Double =
    if (r.event > 0 && r.nonevent > 0)
      math.log((r.nonevent / tNonevent) / (r.event / tEvent))
    else 0.0

  /** Rectangle-membership WoE transform (categorical dimensions map
    * through their fitted ordinal order; unknown categories fall to the
    * NaN else-branch). */
  def transform(xCol: Column, yCol: Column,
                metric: String = "woe"): Column = {
    def ordinal(c: Column, order: Array[String]): Column =
      element_at(typedLit(order.zipWithIndex.map {
        case (cat, i) => cat -> i.toDouble
      }.toMap), c.cast("string"))
    val x = catOrderX.map(o => ordinal(xCol, o))
      .getOrElse(xCol.cast(DoubleType))
    val y = catOrderY.map(o => ordinal(yCol, o))
      .getOrElse(yCol.cast(DoubleType))
    def inRect(r: OptimalBinning2D.Rect): Column = {
      val lx = edge(splitsX, r.x1 - 1); val ux = edge(splitsX, r.x2)
      val ly = edge(splitsY, r.y1 - 1); val uy = edge(splitsY, r.y2)
      val cx = (if (lx.isNegInfinity) lit(true) else x >= lx) &&
        (if (ux.isPosInfinity) lit(true) else x < ux)
      val cy = (if (ly.isNegInfinity) lit(true) else y >= ly) &&
        (if (uy.isPosInfinity) lit(true) else y < uy)
      cx && cy
    }
    rects.zipWithIndex.foldLeft(lit(Double.NaN)) { case (acc, (r, i)) =>
      val v = metric match {
        case "woe"        => lit(woe(r))
        case "event_rate" => lit(r.event / (r.event + r.nonevent))
        case "indices"    => lit(i.toDouble)
      }
      when(inRect(r), v).otherwise(acc)
    }
  }
}

/** Fitted continuous-target 2D binning: rectangle list + mean transform
  * (`multidimensional/transformations_2d.py` metric "mean"). */
final class FittedContinuous2D(
    val config: OptimalBinning2D.Config2D,
    val status: String,
    val splitsX: Array[Double],
    val splitsY: Array[Double],
    val rects: Array[OptimalBinning2D.ContRect],
    val tMean: Double) extends Serializable {

  /** Per-phase wall times — same `information()` contract as the 1-D
    * estimators ("data_pass", "solver", "total"). */
  @transient var timings: Map[String, Double] = Map.empty

  /** Sum of per-rectangle L1 norms (the solver objective). The
    * reference's continuous table "woe" total additionally counts its
    * empty Special and Missing bins, each contributing |0 - mean|:
    * reference_woe = l1Norm + 2 * tMean when both are empty. */
  def l1Norm: Double = rects.map(_.value).sum

  /** Continuous IV = sum |mean_i - mean| * p_i over the rectangle bins
    * (`binning_table.build()` of the continuous 2D table). */
  def iv: Double = {
    val tN = rects.map(_.n).sum
    if (tN <= 0) 0.0
    else rects.map(r => math.abs(r.mean - tMean) * r.n / tN).sum
  }

  private def edge(splits: Array[Double], i: Int): Double =
    if (i < 0) Double.NegativeInfinity
    else if (i >= splits.length) Double.PositiveInfinity
    else splits(i)

  def binLabel(r: OptimalBinning2D.ContRect): String = {
    def f(v: Double) = if (v.isInfinite) v.toString else f"$v%.2f"
    s"[${f(edge(splitsX, r.x1 - 1))}, ${f(edge(splitsX, r.x2))}) x " +
      s"[${f(edge(splitsY, r.y1 - 1))}, ${f(edge(splitsY, r.y2))})"
  }

  /** Rectangle-membership transform: metric "mean" or "indices". */
  def transform(xCol: Column, yCol: Column,
                metric: String = "mean"): Column = {
    val x = xCol.cast(DoubleType)
    val y = yCol.cast(DoubleType)
    def inRect(r: OptimalBinning2D.ContRect): Column = {
      val lx = edge(splitsX, r.x1 - 1); val ux = edge(splitsX, r.x2)
      val ly = edge(splitsY, r.y1 - 1); val uy = edge(splitsY, r.y2)
      val cx = (if (lx.isNegInfinity) lit(true) else x >= lx) &&
        (if (ux.isPosInfinity) lit(true) else x < ux)
      val cy = (if (ly.isNegInfinity) lit(true) else y >= ly) &&
        (if (uy.isPosInfinity) lit(true) else y < uy)
      cx && cy
    }
    rects.zipWithIndex.foldLeft(lit(Double.NaN)) { case (acc, (r, i)) =>
      val v = metric match {
        case "mean"    => lit(r.mean)
        case "indices" => lit(i.toDouble)
      }
      when(inRect(r), v).otherwise(acc)
    }
  }
}
