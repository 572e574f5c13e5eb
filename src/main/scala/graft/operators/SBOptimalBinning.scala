package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.core._

/** Scenario-based stochastic optimal binning
  * (`optbinning/binning/uncertainty/binning_scenarios.py:175`): one shared
  * bin structure maximizing the weighted sum of per-scenario IVs subject
  * to per-scenario feasibility/monotonicity — the scenario dimension maps
  * onto the same multi-table DP as the multiclass solver. Data plane: the
  * scenarios are unioned with a scenario id and aggregated in ONE
  * groupBy(scenario, bin) pass.
  */
object SBOptimalBinning {

  def fit(scenarios: Seq[(DataFrame, Double)], xCol: String, yCol: String,
          config: BinningConfig = BinningConfig()): FittedOptimalBinning = {
    require(scenarios.nonEmpty)
    val weights = scenarios.map(_._2)
    require(math.abs(weights.sum - 1.0) < 1e-9, "weights must sum to 1")

    // union with scenario ids; ONE scan+shuffle aggregates all
    // scenarios. Null/NaN rows have no bin (the table's Special/Missing
    // rows are not modeled for scenarios) — unfiltered, a null x would
    // NPE the histogram collect and a NaN would count into bin 0.
    val tagged = scenarios.zipWithIndex.map { case ((df, _), i) =>
      df.select(col(xCol).cast(DoubleType).as("x"),
                col(yCol).cast(DoubleType).as("y"))
        .where(col("x").isNotNull && !isnan(col("x")) &&
               col("y").isNotNull && !isnan(col("y")))
        .withColumn("sid", lit(i))
    }.reduce(_ unionByName _)

    // high-cardinality guard (same design as BinningProcess): beyond
    // histogramMaxBuckets distinct values, snap x onto a uniform grid so
    // the collected histogram — and the shuffle feeding it — stays
    // bounded regardless of data scale
    val pre = tagged.agg(min("x").as("mn"), max("x").as("mx"),
                         approx_count_distinct(col("x")).as("ndv")).head
    val xs: Column =
      if (!pre.isNullAt(2) && pre.getLong(2) > config.histogramMaxBuckets)
        Histograms.gridSnap(col("x"), pre.getDouble(0), pre.getDouble(1),
                            config.histogramMaxBuckets)
      else col("x")

    val nScen = scenarios.size
    // pooled value histogram with per-scenario class counts
    val rows = tagged
      .groupBy(xs.as("x"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("y") === 0.0, 1.0).otherwise(0.0)).as("w0all"),
        sum(when(col("y") =!= 0.0, 1.0).otherwise(0.0)).as("w1all"),
        array((0 until nScen).flatMap(i => Seq(
          sum(when(col("sid") === i && col("y") === 0.0, 1.0)
            .otherwise(0.0)),
          sum(when(col("sid") === i && col("y") =!= 0.0, 1.0)
            .otherwise(0.0)))): _*).as("perScen"))
      .collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2),
                 r.getDouble(3), r.getSeq[Double](4).toArray))
      .sortBy(_._1)

    // pooled prebinning (CART over all scenarios together,
    // `binning_scenarios.py:520-560` pools x/y for pre-binning)
    val pooledHist = rows.map { case (v, n, w0, w1, _) =>
      Prebinning.HistBucket(v, n, w0, w1)
    }
    val nSamples = rows.map(_._2).sum
    val rawSplits = config.userSplits match {
      case Some(us) => us.sorted
      case None =>
        val minPrebin = math.ceil(config.minPrebinSize * nSamples).toLong
        Prebinning.cartSplits(pooledHist, config.maxNPrebins, minPrebin,
                              classification = true)
    }

    def counts(splits: Array[Double])
        : (Array[Array[Double]], Array[Array[Double]]) = {
      val nBins = splits.length + 1
      val ne = Array.fill(nBins, nScen)(0.0)
      val ev = Array.fill(nBins, nScen)(0.0)
      rows.foreach { case (v, _, _, _, per) =>
        val b = OptimalBinning.upperBound(splits, v)
        (0 until nScen).foreach { s =>
          ne(b)(s) += per(2 * s)
          ev(b)(s) += per(2 * s + 1)
        }
      }
      (ne, ev)
    }

    // refinement: a prebin pure in ANY scenario is merged
    var splits = rawSplits
    var (ne, ev) = counts(splits)
    var refining = splits.nonEmpty
    while (refining) {
      val maskRemove = ne.indices.map { i =>
        (0 until nScen).exists(s => ne(i)(s) == 0.0 || ev(i)(s) == 0.0)
      }.toArray
      if (!maskRemove.exists(identity)) refining = false
      else {
        val nB = maskRemove.length
        val maskSplits =
          if (nB < 2) maskRemove.take(splits.length)
          else maskRemove.take(nB - 2) :+
            (maskRemove(nB - 2) || maskRemove(nB - 1))
        splits = splits.zip(maskSplits).collect { case (s, false) => s }
        val c = counts(splits); ne = c._1; ev = c._2
        refining = splits.nonEmpty
      }
    }

    val n = ne.length
    val (status, solution) =
      if (n <= 1) ("OPTIMAL", Array.fill(n)(true))
      else {
        // per-scenario model data; objective weighted per scenario
        val mds = (0 until nScen).map { s =>
          ModelData.binary(config.divergence, ne.map(_(s)), ev.map(_(s)),
                           config.maxPvalue, config.maxPvaluePolicy,
                           config.minEventRateDiff)
        }.toArray
        val weightedV = mds.zipWithIndex.map { case (md, s) =>
          md.v.map(_.map(v => (v * weights(s)).toLong))
        }
        val resolved = config.monotonicTrend.map {
          case m @ ("auto" | "auto_heuristic" | "auto_asc_desc") =>
            // pooled auto trend
            AutoMonotonic.autoMonotonic(
              ne.map(_.sum), ev.map(_.sum), "auto_asc_desc")
          case m => m
        }
        var trendChange = -1
        val trend = resolved match {
          case Some(t0 @ ("peak" | "valley" | "peak_heuristic" |
                          "valley_heuristic")) =>
            // heuristic change point on the pooled event rate (the
            // scenarios share bins, so they share the change point)
            val ht = if (t0.endsWith("_heuristic")) t0
                     else t0 + "_heuristic"
            val rate = (0 until n).map { i =>
              val e = ev(i).sum; val nn = ne(i).sum
              if (e + nn > 0) e / (e + nn) else 0.0
            }.toArray
            trendChange =
              AutoMonotonic.peakValleyTrendChangeHeuristic(rate, ht)
            Some(ht)
          case other => other // solveMulti validates asc/desc/concave…
        }
        val nRows = ne.indices.map(i =>
          math.round(ne(i).sum + ev(i).sum)).toArray
        val cons = Solver.Constraints(
          minNBins = config.minNBins, maxNBins = config.maxNBins,
          minBinSize = config.minBinSize.map(f =>
            math.ceil(f * nSamples).toLong),
          maxBinSize = config.maxBinSize.map(f =>
            math.ceil(f * nSamples).toLong),
          userSplitsFixed = config.userSplitsFixed,
          timeLimitMs = config.timeLimitMs)
        val adjV = mds.flatMap(md =>
          md.pvalueViolations ++ md.minDiffViolations)
        val r = Solver.solveMulti(n, mds.map(_.d), weightedV, nRows,
                                  Array.fill(nScen)(trend),
                                  Array.fill(nScen)(trendChange), cons,
                                  adjV)
        (r.status, r.solution)
      }

    val splitsOptimal =
      if (n <= 1) Array.empty[Double]
      else splits.indices.collect {
        case i if solution(i) => splits(i)
      }.toArray

    // pooled final table
    val mergedNe = BinningTables.mergeBySolution(solution, ne.map(_.sum))
    val mergedEv = BinningTables.mergeBySolution(solution, ev.map(_.sum))
    val edges = Double.NegativeInfinity +: splitsOptimal :+
      Double.PositiveInfinity
    val labels = (BinningTables.binStrFormat(edges, 2).toSeq :+
      "Special" :+ "Missing").toArray
    val table = new BinningTables.BinaryBinningTable(
      config.name, "numerical", splitsOptimal,
      mergedNe :+ 0.0 :+ 0.0, mergedEv :+ 0.0 :+ 0.0, labels, 1)
    new FittedOptimalBinning(config, status, splitsOptimal, table,
                             null, null, null, mergedNe.length)
  }
}
