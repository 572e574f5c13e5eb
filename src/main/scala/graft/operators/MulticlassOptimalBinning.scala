package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.core._

/** Optimal binning of a numerical variable against a multiclass target
  * (`optbinning/binning/multiclass_binning.py:186`): one-vs-rest event
  * counts per class share one bin structure; objective is the summed
  * per-class IV with an independent monotonicity constraint per class.
  * Data plane: one bounded `distinct` discovers the classes, then the
  * shared histogram plane (`BinningProcess.aggregate`) carries per-class
  * counts, so special codes, row filters and the grid mean what they
  * mean in the binary fit. Prebinning and refinement: the shared
  * `Prebinning` kernel; solver: `Solver.solveMulti`.
  */
object MulticlassOptimalBinning {

  /** @param trendPerClass explicit monotonic trend per class (the
    *        reference's list form of `monotonic_trend`,
    *        `multiclass_binning.py:94-108`), indexed like the sorted
    *        class labels; None falls back to `config.monotonicTrend`
    *        resolved per class.
    */
  def fit(df: DataFrame, xCol: String, yCol: String,
          config: BinningConfig = BinningConfig(),
          trendPerClass: Option[Seq[Option[String]]] = None)
      : FittedMulticlassBinning = {
    val tFit0 = System.nanoTime()

    // classes discovered from data (sorted, like np.unique); the limit
    // probe keeps the collect bounded when a continuous column is passed
    // as y by mistake (one-vs-rest binning is only meaningful for a
    // small label set)
    val maxClasses = 100
    val classRows = df.select(col(yCol).cast(DoubleType)).distinct()
      .limit(maxClasses + 1).collect()
    require(classRows.length <= maxClasses,
            s"multiclass target has > $maxClasses distinct labels — " +
            "is y a continuous column?")
    val classes = classRows.map(_.getDouble(0)).sorted
    val k = classes.length
    require(k >= 2, "multiclass target needs >= 2 classes")

    // per-class counts, then the row count
    val agg = BinningProcess.aggregate(df, xCol, yCol, config,
      classes.zipWithIndex.map { case (c, i) =>
        sum(when(col("y") === c, 1L).otherwise(0L)).as(s"c$i")
      }.toSeq :+ count(lit(1)).as("n"))
    def classCounts(rs: Array[Row]): Array[Double] =
      Array.tabulate(k)(c => rs.map(_.getLong(c)).sum.toDouble)
    val totalsByCls = agg.classes.map { case (c, rs) => c -> classCounts(rs) }
    val nSamples = agg.classes.values.map(_.map(_.getLong(k)).sum).sum
    // value histogram with per-class counts
    val hist: Array[(Double, Long, Array[Double])] = agg.hist.map {
      case (v, row) => (v, row.getLong(k), classCounts(Array(row)))
    }

    // prebin counts + refinement: any class pure in a bin -> drop split
    // (`multiclass_binning.py:790-846`)
    def prebinCounts(splits: Array[Double])
        : (Array[Array[Double]], Array[Long]) = {
      val nBins = splits.length + 1
      val ev = Array.fill(nBins, k)(0.0)
      val nRows = Array.fill(nBins)(0L)
      hist.foreach { case (value, n, cc) =>
        val i = OptimalBinning.upperBound(splits, value)
        nRows(i) += n
        var c = 0
        while (c < k) { ev(i)(c) += cc(c); c += 1 }
      }
      (ev, nRows)
    }
    val (splits, fixed, (nEvent, nRows)) = Prebinning.refine(
      Prebinning.candidateSplits(
        hist.map(h => Prebinning.HistBucket(h._1, h._2, 0, 0)),
        config.userSplits, config.prebinningMethod, config.maxNPrebins,
        math.ceil(config.minPrebinSize * nSamples).toLong,
        config.splitDigits, mdlp = false)(
        Prebinning.cartSplitsK(hist.map(_._1), hist.map(_._3),
                               hist.map(_._2), config.maxNPrebins, _)),
      config.userSplitsFixed)(prebinCounts) { case (ev, _) =>
        ev.map { row =>
          val t = row.sum
          row.exists(c => c == 0.0 || t - c == 0.0)
        }
      }

    val n = nEvent.length
    val nNonevent = nEvent.map { row =>
      val t = row.sum; row.map(t - _)
    }

    val tSolve0 = System.nanoTime()
    val (status, solution) =
      if (n <= 1) ("OPTIMAL", Array.fill(n)(true))
      else {
        // per-class trend resolution (`multiclass_binning.py:695-735`)
        val trends = new Array[Option[String]](k)
        val trendChanges = Array.fill(k)(-1)
        trendPerClass.foreach(ts => require(ts.length == k,
          s"trendPerClass has ${ts.length} entries for $k classes"))
        (0 until k).foreach { c =>
          val resolved =
            trendPerClass.map(_(c)).getOrElse(config.monotonicTrend).map {
              case m @ ("auto" | "auto_heuristic" | "auto_asc_desc") =>
                AutoMonotonic.autoMonotonic(
                  nNonevent.map(_(c)), nEvent.map(_(c)), m)
              case m => m
            }
          resolved match {
            case Some(t0 @ ("peak" | "valley" | "peak_heuristic" |
                            "valley_heuristic")) =>
              // free peak/valley per class would need a per-class change
              // point product; use the heuristic change point (matches
              // auto_heuristic semantics — a documented approximation
              // when the trend was requested explicitly)
              val ht = if (t0.endsWith("_heuristic")) t0
                       else t0 + "_heuristic"
              val rate = (0 until n).map(i =>
                nEvent(i)(c) / (nEvent(i)(c) + nNonevent(i)(c))).toArray
              trendChanges(c) =
                AutoMonotonic.peakValleyTrendChangeHeuristic(rate, ht)
              trends(c) = Some(ht)
            case other => trends(c) = other // solveMulti validates
          }
        }
        val mds = ModelData.multiclass(nNonevent, nEvent, config.maxPvalue,
                                       config.maxPvaluePolicy,
                                       config.minEventRateDiff)
        val adjV = mds.flatMap(md =>
          md.pvalueViolations ++ md.minDiffViolations)
        val cons = Solver.Constraints(
          minNBins = config.minNBins, maxNBins = config.maxNBins,
          minBinSize = config.minBinSize.map(f =>
            math.ceil(f * nSamples).toLong),
          maxBinSize = config.maxBinSize.map(f =>
            math.ceil(f * nSamples).toLong),
          userSplitsFixed = fixed,
          timeLimitMs = config.timeLimitMs)
        val r = Solver.solveMulti(n, mds.map(_.d), mds.map(_.v),
                                  nRows, trends, trendChanges, cons, adjV)
        (r.status, r.solution)
      }
    val tSolve = (System.nanoTime() - tSolve0) / 1e9
    val tPost0 = System.nanoTime()

    val splitsOptimal: Array[Double] =
      if (n <= 1) Array.empty
      else splits.indices.collect {
        case i if solution(i) => splits(i)
      }.toArray

    // merge event matrix by solution (`binning_statistics.py:264-286`)
    val mergedEv: Array[Array[Double]] = {
      val out = new scala.collection.mutable.ArrayBuffer[Array[Double]]
      var accum = Array.fill(k)(0.0)
      solution.indices.foreach { i =>
        if (solution(i)) {
          out += nEvent(i).zip(accum).map { case (a, b) => a + b }
          accum = Array.fill(k)(0.0)
        } else accum = accum.zip(nEvent(i)).map { case (a, b) => a + b }
      }
      out.toArray
    }

    val missingIdx = Preprocess.missingClassIndex(config.specialCodes)
    val nSpecialBins = config.specialCodes match {
      case Some(SpecialDict(g)) => g.size
      case _                    => 1
    }
    val specialEv = (1 to nSpecialBins).map { g =>
      if (config.specialCodes.isDefined)
        totalsByCls.getOrElse(g, Array.fill(k)(0.0))
      else Array.fill(k)(0.0)
    }
    val missEv = totalsByCls.getOrElse(missingIdx, Array.fill(k)(0.0))
    val allEv = (mergedEv.toSeq ++ specialEv :+ missEv).toArray

    val edges = Double.NegativeInfinity +: splitsOptimal :+
      Double.PositiveInfinity
    val labels = (BinningTables.binStrFormat(edges, 2).toSeq ++
      (config.specialCodes match {
        case Some(SpecialDict(g)) => g.map(_._1)
        case _                    => Seq("Special")
      }) :+ "Missing").toArray

    val fitted =
      new FittedMulticlassBinning(config, status, splitsOptimal, classes,
                                  allEv, labels, mergedEv.length)
    val total = (System.nanoTime() - tFit0) / 1e9
    val tPost = (System.nanoTime() - tPost0) / 1e9
    fitted.timings = Map(
      "total" -> total,
      "solver" -> tSolve,
      "postprocessing" -> tPost,
      // the Spark aggregate passes are everything not spent driver-side
      "data_pass" -> math.max(0.0, total - tSolve - tPost))
    fitted
  }
}

/** Fitted multiclass model: per-bin per-class event counts; transforms:
  * mean_woe / weighted_mean_woe / indices / bins
  * (`transformations.py:319-385`). */
final class FittedMulticlassBinning(
    val config: BinningConfig,
    val status: String,
    val splits: Array[Double],
    val classes: Array[Double],
    val nEvent: Array[Array[Double]],   // (bin)(class), incl special/missing
    val binLabels: Array[String],
    val nDataBins: Int) extends Serializable {

  private val k = classes.length
  val nRecords: Array[Double] = nEvent.map(_.sum)

  /** Per-phase wall times in seconds — the reference's `information()`
    * breakdown (`multiclass_binning.py` via `binning.py:670-702`):
    * "data_pass", "solver", "postprocessing", "total". */
  @transient var timings: Map[String, Double] = Map.empty

  /** Human-readable fit summary (`information()` mirror). */
  def information(): String = {
    val t = timings.withDefaultValue(0.0)
    f"""multiclass optimal binning fit: ${config.name}%s
       |  status           ${status}%s
       |  classes          ${k}%d
       |  bins             ${nDataBins}%d data + special/missing
       |  js               ${js}%.8f
       |  time total       ${t("total")}%.4f s
       |    data pass      ${t("data_pass")}%.4f s
       |    solver         ${t("solver")}%.4f s
       |    postprocessing ${t("postprocessing")}%.4f s""".stripMargin
  }

  /** Per-(bin, class) one-vs-rest WoE (`transformations.py:352-368`). */
  lazy val woePerClass: Array[Array[Double]] = {
    val tEvent = (0 until k).map(c => nEvent.map(_(c)).sum)
    val tNonevent = (0 until k).map(c =>
      nRecords.sum - tEvent(c))
    nEvent.zipWithIndex.map { case (row, i) =>
      (0 until k).map { c =>
        val e = row(c)
        val ne = nRecords(i) - e
        if (e > 0 && ne > 0) {
          val er = e / nRecords(i)
          math.log((1 / er - 1) * tEvent(c) / tNonevent(c))
        } else 0.0
      }.toArray
    }
  }

  lazy val meanWoe: Array[Double] = woePerClass.map(_.sum / k)
  lazy val weightedMeanWoe: Array[Double] = {
    val tEvent = (0 until k).map(c => nEvent.map(_(c)).sum)
    val tw = tEvent.sum
    woePerClass.map(row =>
      row.zip(tEvent).map { case (w, t) => w * t }.sum / tw)
  }

  /** Multivariate Jensen-Shannon over class distributions
    * (`binning_statistics.py:1175-1177`). */
  lazy val js: Double = {
    val pEvent = Array.tabulate(nEvent.length, k) { (i, c) =>
      nEvent(i)(c) / nEvent.map(_(c)).sum
    }
    Metrics.jensenShannonMultivariate(pEvent)
  }

  /** Multiclass table analysis (`binning_statistics.py:1398-1460`):
    * chi-square tests of the class contingency between consecutive data
    * bins (+ Cramer's V) and the multiclass quality score
    * (JS normalized by log k, `metrics.py:347-350`). */
  def analysis(): (Array[(Int, Int, Double, Double)], Double) = {
    val tests = (0 until math.max(nDataBins - 1, 0)).map { i =>
      val obs = Array(nEvent(i), nEvent(i + 1))
      val (stat, p, _) = graft.core.Stats.chi2Contingency(obs)
      (i, i + 1, stat, p)
    }.toArray
    val pRecords = nRecords.map(_ / nRecords.sum)
    val hhiNorm = Metrics.hhi(pRecords, normalized = true)
    val jsNorm = js / math.log(k)
    val c = 0.39573882184806863
    val score1 = jsNorm * math.exp(0.5 * (1 - math.pow(jsNorm / c, 2))) / c
    val score2 = tests.map(1.0 - _._4).product
    val quality = score1 * score2 * (1.0 - hhiNorm)
    (tests, quality)
  }

  def transform(xCol: Column, metric: String = "mean_woe",
                metricSpecial: Any = "empirical",
                metricMissing: Any = "empirical"): Column = {
    val x = xCol.cast(DoubleType)
    val nTableBins = nEvent.length
    val values: Array[Double] = metric match {
      case "mean_woe"          => meanWoe
      case "weighted_mean_woe" => weightedMeanWoe
      case "indices" => Array.tabulate(nTableBins)(_.toDouble)
      case other =>
        throw new IllegalArgumentException(s"bad metric $other")
    }
    def v(i: Int): Column =
      if (metric == "indices") lit(i) else lit(values(i))

    val missingValue = metricMissing match {
      case "empirical" => v(nTableBins - 1)
      case d: Double   => lit(d)
      case i: Int      => if (metric == "indices") lit(i) else lit(i.toDouble)
    }
    val nSpecial = config.specialCodes match {
      case Some(SpecialDict(g)) => g.size
      case _                    => 1
    }
    def specialValue(g: Int): Column = metricSpecial match {
      case "empirical" => v(nDataBins + g)
      case d: Double   => lit(d)
      case i: Int      => if (metric == "indices") lit(i) else lit(i.toDouble)
    }

    var expr = when(Preprocess.missingPredicate(x, isNumeric = true),
                    missingValue)
    Preprocess.specialPredicates(x, isNumeric = true,
                                 config.specialCodes)
      .zipWithIndex.foreach { case (p, g) =>
        expr = expr.when(p, specialValue(g))
      }
    splits.indices.foreach { i =>
      expr = expr.when(x < splits(i), v(i))
    }
    expr.otherwise(v(splits.length))
  }
}
