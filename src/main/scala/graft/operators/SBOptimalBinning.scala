package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.core._

/** Scenario-based stochastic optimal binning
  * (`optbinning/binning/uncertainty/binning_scenarios.py:175`): one shared
  * bin structure maximizing the weighted sum of per-scenario IVs subject
  * to per-scenario feasibility/monotonicity — the scenario dimension maps
  * onto the same multi-table DP as the multiclass solver. Data plane: the
  * scenarios' union, each target tagged with its scenario, on the shared
  * histogram plane (`BinningProcess.aggregate`) with per-scenario
  * counts; pooled prebinning and refinement run the shared `Prebinning`
  * kernel.
  */
object SBOptimalBinning {

  def fit(scenarios: Seq[(DataFrame, Double)], xCol: String, yCol: String,
          config: BinningConfig = BinningConfig()): FittedOptimalBinning = {
    require(scenarios.nonEmpty)
    val weights = scenarios.map(_._2)
    require(math.abs(weights.sum - 1.0) < 1e-9, "weights must sum to 1")

    // the scenarios' union feeds the one histogram plane, each row's
    // target tagged with its scenario (2 * sid + event) so the
    // per-scenario counts ride the same aggregate. Null/NaN rows have no
    // bin (the table's Special/Missing rows are not modeled for
    // scenarios), so the plane sees no special codes and no row filters.
    val nScen = scenarios.size
    val tagged = scenarios.zipWithIndex.map { case ((df, _), i) =>
      df.select(col(xCol).cast(DoubleType).as("x"),
                col(yCol).cast(DoubleType).as("y"))
        .where(col("x").isNotNull && !isnan(col("x")) &&
               col("y").isNotNull && !isnan(col("y")))
        .select(col("x"), (lit(2.0 * i) +
          when(col("y") =!= 0.0, 1.0).otherwise(0.0)).as("sy"))
    }.reduce(_ unionByName _)
    val agg = BinningProcess.aggregate(tagged, "x", "sy",
      BinningConfig(userSplits = config.userSplits,
                    splitDigits = config.splitDigits,
                    histogramMaxBuckets = config.histogramMaxBuckets),
      (0 until 2 * nScen).map(t =>
        sum(when(col("y") === t.toDouble, 1.0).otherwise(0.0))) :+
        count(lit(1)))
    // per value: row count and per-scenario (non-event, event) counts
    val rows = agg.hist.map { case (v, r) =>
      (v, r.getLong(2 * nScen), Array.tabulate(2 * nScen)(r.getDouble))
    }

    // pooled prebinning (all scenarios together,
    // `binning_scenarios.py:520-560` pools x/y for pre-binning)
    val pooledHist = rows.map { case (v, n, per) =>
      Prebinning.HistBucket(v, n,
        (0 until nScen).map(s => per(2 * s)).sum,
        (0 until nScen).map(s => per(2 * s + 1)).sum)
    }
    val nSamples = rows.map(_._2).sum

    def counts(splits: Array[Double])
        : (Array[Array[Double]], Array[Array[Double]]) = {
      val nBins = splits.length + 1
      val ne = Array.fill(nBins, nScen)(0.0)
      val ev = Array.fill(nBins, nScen)(0.0)
      rows.foreach { case (v, _, per) =>
        val b = OptimalBinning.upperBound(splits, v)
        (0 until nScen).foreach { s =>
          ne(b)(s) += per(2 * s)
          ev(b)(s) += per(2 * s + 1)
        }
      }
      (ne, ev)
    }

    // refinement: a prebin pure in ANY scenario is merged
    val (splits, fixed, (ne, ev)) = Prebinning.refine(
      Prebinning.candidateSplits(pooledHist, config.userSplits,
        config.prebinningMethod, config.maxNPrebins,
        math.ceil(config.minPrebinSize * nSamples).toLong,
        config.splitDigits)(
        Prebinning.cartSplits(pooledHist, config.maxNPrebins, _,
                              classification = true)),
      config.userSplitsFixed)(counts) { case (ne, ev) =>
        ne.indices.map { i =>
          (0 until nScen).exists(s => ne(i)(s) == 0.0 || ev(i)(s) == 0.0)
        }.toArray
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
          userSplitsFixed = fixed,
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
