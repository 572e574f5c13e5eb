package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.core._

/** Binning estimator configuration; parameter-for-parameter mirror of
  * `optbinning/binning/binning.py:252-530` (defaults identical).
  */
final case class BinningConfig(
    name: String = "",
    dtype: String = "numerical",                // "numerical" | "categorical"
    prebinningMethod: String = "cart",          // cart|mdlp|quantile|uniform
    divergence: String = "iv",                  // iv|js|hellinger|triangular
    maxNPrebins: Int = 20,
    minPrebinSize: Double = 0.05,
    minNBins: Option[Int] = None,
    maxNBins: Option[Int] = None,
    minBinSize: Option[Double] = None,
    maxBinSize: Option[Double] = None,
    minBinNEvent: Option[Long] = None,
    maxBinNEvent: Option[Long] = None,
    minBinNNonevent: Option[Long] = None,
    maxBinNNonevent: Option[Long] = None,
    monotonicTrend: Option[String] = Some("auto"),
    minEventRateDiff: Double = 0.0,
    maxPvalue: Option[Double] = None,
    maxPvaluePolicy: String = "consecutive",
    /** Bin-size-spread regularization strength (`binning.py:454`,
      * `cp.py:69-78`); 0 disables. */
    gamma: Double = 0.0,
    /** Pre-fit outlier filtering of clean rows, "range" | "zscore"
      * (`binning.py:455`, `preprocessing.py:230-249`). */
    outlierDetector: Option[String] = None,
    outlierParams: Map[String, Any] = Map.empty,
    /** Clean-row bound filter (`preprocessing.py:251-261`). */
    fixLb: Option[Double] = None,
    fixUb: Option[Double] = None,
    catCutoff: Option[Double] = None,
    catUnknown: Option[Any] = None,
    userSplits: Option[Array[Double]] = None,
    userSplitsCategorical: Option[Array[Array[String]]] = None,
    userSplitsFixed: Option[Array[Boolean]] = None,
    specialCodes: Option[SpecialCodes] = None,
    splitDigits: Option[Int] = None,
    /** Per-class weight multipliers (class label -> weight), applied to
      * the sample weight like `preprocessing.py:179-186`. */
    classWeight: Option[Map[Double, Double]] = None,
    timeLimitMs: Long = 100000L,
    /** Spark-side knob: max value-level histogram buckets collected to the
      * driver per variable. Numeric variables with more (approximately
      * counted) distinct clean values are first snapped onto a uniform
      * grid of this many cells over their clean [min, max]
      * (`Histograms.gridSnap`); categorical variables keep their top
      * categories by weight and pool the rest into Others. */
    histogramMaxBuckets: Int = 10000)

/** Per-class aggregate collected by the fit job. */
private[graft] final case class ClassTotals(w0: Double, w1: Double,
                                            n: Long, w: Double)

/** Optimal binning of one variable against a binary target.
  *
  * Spark-native re-expression of `optbinning.OptimalBinning`
  * (`optbinning/binning/binning.py:252`). `fit` runs the
  * `BinningProcess` batch data plane with one variable — narrow
  * aggregate jobs (row-class totals + value histogram, partial-agg hash
  * aggregations, no row data ever reaches the driver) — and the
  * pre-binning / refinement / constrained-optimization phases run
  * driver-side on the <=`histogramMaxBuckets`-entry aggregate via
  * `graft.core`. Scales with the cluster: the shuffle key cardinality is
  * the histogram size, not the row count.
  */
object OptimalBinning {

  def fit(df: DataFrame, xCol: String, yCol: String,
          config: BinningConfig = BinningConfig(),
          weightCol: Option[String] = None): FittedOptimalBinning = {
    require(config.dtype == "numerical" || config.dtype == "categorical")
    withDataPass(BinningProcess.fitBinary(df, Seq(xCol -> config), yCol,
                                          weightCol)(xCol))
  }

  /** `fit` timed: its driver-side phases come timed, so the Spark
    * aggregate passes are the rest of the total. */
  private[graft] def withDataPass(fit: => FittedOptimalBinning)
      : FittedOptimalBinning = {
    val t0 = System.nanoTime()
    val fitted = fit
    val total = (System.nanoTime() - t0) / 1e9
    val accounted = fitted.timings.values.sum
    fitted.timings ++= Map(
      "total" -> total,
      // the Spark aggregate passes are everything not spent driver-side
      "data_pass" -> math.max(0.0, total - accounted))
    fitted
  }

  /** sklearn-style `class_weight="balanced"` weights for a binary target
    * (`preprocessing.py:179-186` via `compute_sample_weight`):
    * weight(c) = n_samples / (n_classes * count(c)). ONE narrow
    * aggregate; pass the result as `BinningConfig.classWeight`.
    */
  def balancedClassWeight(df: DataFrame, yCol: String)
      : Map[Double, Double] = {
    val y = col(yCol).cast(DoubleType)
    val r = df.agg(
      sum(when(y === 0.0, 1L).otherwise(0L)).as("n0"),
      sum(when(y =!= 0.0, 1L).otherwise(0L)).as("n1")).collect()(0)
    val n0 = r.getLong(0).toDouble
    val n1 = r.getLong(1).toDouble
    val n = n0 + n1
    Map(0.0 -> (if (n0 > 0) n / (2.0 * n0) else 1.0),
        1.0 -> (if (n1 > 0) n / (2.0 * n1) else 1.0))
  }

  private[graft] def gammaRegOf(gamma: Double, totalRecords: Long): Long =
    if (gamma <= 0 || totalRecords <= 0) 0L
    else math.ceil(graft.core.ModelData.M * gamma / totalRecords).toLong

  private[graft] def nSamplesInBins(nNonevent: Array[Double],
                                    nEvent: Array[Double]): Double =
    nNonevent.sum + nEvent.sum

  /** Per-(rowClass, category) count row of the categorical fit aggregate. */
  private[graft] final case class CatCountRow(cls: Int, cat: String,
                                              n: Long, w0: Double,
                                              w1: Double)

  /** Driver-side phase of the categorical batch: cutoff -> others,
    * event-rate ordinalization, then the common histogram fit. With `userSplitsCategorical`, the given
    * category GROUPS become the atomic prebins (ordered by pooled group
    * event rate; categories outside every group fall into the others bin
    * — `binning.py:781-816` user-splits categorical path).
    */
  private[graft] def fitCategoricalFromCounts(
      rows: Array[CatCountRow],
      config: BinningConfig,
      tailOthers: Option[CatCountRow] = None): FittedOptimalBinning = {
    val totals = rows.groupBy(_.cls).map { case (k, rs) =>
      val extra = tailOthers.filter(_.cls == k).toSeq
      val all = rs ++ extra
      k -> ClassTotals(all.map(_.w0).sum, all.map(_.w1).sum,
                       all.map(_.n).sum, all.map(r => r.w0 + r.w1).sum)
    }
    val nSamplesWeighted = totals.values.map(_.w).sum

    val cleanCats = rows.filter(_.cls == Preprocess.CleanClass).map { r =>
      (r.cat, r.n, r.w0, r.w1)
    }

    config.userSplitsCategorical match {
      case Some(groups) =>
        val catToGroup = groups.zipWithIndex.flatMap { case (g, i) =>
          g.map(_ -> i)
        }.toMap
        val (listed, others) =
          cleanCats.partition(c => catToGroup.contains(c._1))
        val groupStats = listed.groupBy(c => catToGroup(c._1)).map {
          case (g, cs) =>
            g -> (cs.map(_._2).sum, cs.map(_._3).sum, cs.map(_._4).sum)
        }
        // order GROUPS by pooled event rate
        val orderedGroups = groups.indices
          .filter(groupStats.contains)
          .sortBy { g =>
            val (_, w0, w1) = groupStats(g); w1 / (w0 + w1)
          }
        val hist = orderedGroups.zipWithIndex.map { case (g, i) =>
          val (n, w0, w1) = groupStats(g)
          Prebinning.HistBucket(i.toDouble, n, w0, w1)
        }.toArray
        val othersTotals =
          if (others.nonEmpty)
            Some(ClassTotals(others.map(_._3).sum, others.map(_._4).sum,
                             others.map(_._2).sum,
                             others.map(c => c._3 + c._4).sum))
          else None
        fitFromCounts(
          // every group boundary is a candidate split
          (1 until hist.length).map(_.toDouble - 0.5).toArray,
          s => {
            val nBins = s.length + 1
            val ne = new Array[Double](nBins)
            val ev = new Array[Double](nBins)
            hist.foreach { h =>
              val i = upperBound(s, h.value)
              ne(i) += h.y0; ev(i) += h.y1
            }
            (ne, ev)
          },
          totals, nSamplesWeighted,
          config.copy(userSplits = None),
          categories = null, catOthers = others.map(_._1),
          othersTotals = othersTotals,
          ordinalGroups = orderedGroups.map(g => groups(g)).toArray)
      case None =>
        // cat_cutoff -> "others" group (`preprocessing.py:32-42`)
        val totalCleanW = cleanCats.map(c => c._3 + c._4).sum +
          tailOthers.map(t => t.w0 + t.w1).getOrElse(0.0)
        val (kept, others) = config.catCutoff match {
          case Some(cut) =>
            cleanCats.partition(c => (c._3 + c._4) / totalCleanW >= cut)
          case None =>
            (cleanCats, Array.empty[(String, Long, Double, Double)])
        }

        // order categories by event rate (`preprocessing.py:24-29`)
        val ordered = kept.sortBy { case (_, _, w0, w1) => w1 / (w0 + w1) }
        val categories = ordered.map(_._1)

        val hist = ordered.zipWithIndex.map { case ((_, n, w0, w1), i) =>
          Prebinning.HistBucket(i.toDouble, n, w0, w1)
        }

        val tailW0 = tailOthers.map(_.w0).getOrElse(0.0)
        val tailW1 = tailOthers.map(_.w1).getOrElse(0.0)
        val tailN = tailOthers.map(_.n).getOrElse(0L)
        val othersTotals =
          if (others.nonEmpty || tailOthers.isDefined)
            Some(ClassTotals(others.map(_._3).sum + tailW0,
                             others.map(_._4).sum + tailW1,
                             others.map(_._2).sum + tailN,
                             others.map(c => c._3 + c._4).sum +
                               tailW0 + tailW1))
          else None

        fitFromHistogram(hist, totals, nSamplesWeighted, config,
                         categories = categories,
                         catOthers =
                           if (tailOthers.isDefined && others.isEmpty)
                             Array("__tail__")
                           else others.map(_._1),
                         othersTotals = othersTotals,
                         othersCatchAll = tailOthers.isDefined)
    }
  }

  // ------------------------------------------------------------------
  // shared driver-side phase
  // ------------------------------------------------------------------

  private[graft] def fitFromHistogram(
      hist: Array[Prebinning.HistBucket],
      totals: Map[Int, ClassTotals],
      nSamplesWeighted: Double,
      config: BinningConfig,
      categories: Array[String],
      catOthers: Array[String],
      othersTotals: Option[ClassTotals] = None,
      othersCatchAll: Boolean = false): FittedOptimalBinning = {
    val t0 = System.nanoTime()
    val candidates = Prebinning.candidateSplits(hist, config.userSplits,
        config.prebinningMethod, config.maxNPrebins,
        math.ceil(config.minPrebinSize * nSamplesWeighted).toLong,
        config.splitDigits)(
        Prebinning.cartSplits(hist, config.maxNPrebins, _,
                              classification = true))
    fitFromCounts(candidates, s => prebinCounts(hist, s), totals,
      nSamplesWeighted, config, categories, catOthers, othersTotals,
      othersCatchAll = othersCatchAll,
      candidatesS = (System.nanoTime() - t0) / 1e9)
  }

  /** Driver-side phase shared by the histogram fit and the sketch fit:
    * `split_digits` rounding of `candidates` (idempotent, so candidates
    * `Prebinning.candidateSplits` already rounded are unchanged) +
    * refinement + solve + table, with a pluggable per-split-set count
    * function (`countFn` recomputes (n_nonevent, n_event) after each
    * refinement drop — histogram re-digitize or sketch `bins()`).
    * `candidatesS`, the caller's time choosing `candidates`, is reported
    * with refinement as the "prebinning" phase.
    */
  private[graft] def fitFromCounts(
      candidates: Array[Double],
      countFn: Array[Double] => (Array[Double], Array[Double]),
      totals: Map[Int, ClassTotals],
      nSamplesWeighted: Double,
      config: BinningConfig,
      categories: Array[String],
      catOthers: Array[String],
      othersTotals: Option[ClassTotals] = None,
      ordinalGroups: Array[Array[String]] = null,
      othersCatchAll: Boolean = false,
      candidatesS: Double = 0.0): FittedOptimalBinning = {
    val tPre0 = System.nanoTime()
    val isCategorical = categories != null || ordinalGroups != null
    def pure(c: (Array[Double], Array[Double])): Array[Boolean] =
      c._1.zip(c._2).map { case (ne, e) => ne == 0.0 || e == 0.0 }
    // hellinger/triangular keep pure prebins and bound every bin's
    // event and non-event counts below instead (`binning.py:1085-1145`)
    val keepPure = config.divergence == "hellinger" ||
      config.divergence == "triangular"
    val (splits, fixed, (nNonevent, nEvent)) =
      Prebinning.refine(Prebinning.roundSplits(candidates,
                                               config.splitDigits),
                        config.userSplitsFixed)(countFn)(c =>
        if (keepPure) Array.empty else pure(c))
    val flagMinNEventNonevent =
      keepPure && splits.nonEmpty && pure((nNonevent, nEvent)).exists(identity)

    val n = nNonevent.length

    val tSolve0 = System.nanoTime()
    // solve (`binning.py:907-1052`)
    val (status, solution) =
      if (n <= 1) ("OPTIMAL", Array.fill(math.max(n, 0))(false))
      else {
        val (trend, trendChange) =
          resolveTrend(config, nNonevent, nEvent, isCategorical)
        val md = ModelData.binary(config.divergence, nNonevent, nEvent,
                                  config.maxPvalue, config.maxPvaluePolicy,
                                  config.minEventRateDiff)
        val (adjV, allV) =
          if (config.maxPvaluePolicy == "all")
            (md.minDiffViolations, md.pvalueViolations)
          else (md.pvalueViolations ++ md.minDiffViolations,
                Array.empty[((Int, Int), (Int, Int))])
        val minBinNEvent =
          if (flagMinNEventNonevent)
            Some(config.minBinNEvent.map(math.max(_, 1L)).getOrElse(1L))
          else config.minBinNEvent
        val minBinNNonevent =
          if (flagMinNEventNonevent)
            Some(config.minBinNNonevent.map(math.max(_, 1L)).getOrElse(1L))
          else config.minBinNNonevent
        val cons = Solver.Constraints(
          minNBins = config.minNBins,
          maxNBins = config.maxNBins,
          minBinSize = config.minBinSize.map(f =>
            math.ceil(f * nSamplesWeighted).toLong),
          maxBinSize = config.maxBinSize.map(f =>
            math.ceil(f * nSamplesWeighted).toLong),
          minBinNEvent = minBinNEvent,
          maxBinNEvent = config.maxBinNEvent,
          minBinNNonevent = minBinNNonevent,
          maxBinNNonevent = config.maxBinNNonevent,
          userSplitsFixed = fixed,
          monoPreprocess = config.minEventRateDiff == 0,
          gammaReg = gammaRegOf(config.gamma,
                                math.round(nSamplesInBins(nNonevent,
                                                          nEvent))),
          timeLimitMs = config.timeLimitMs)
        val nRecords = nNonevent.zip(nEvent).map { case (a, b) =>
          math.round(a + b)
        }
        val r = Solver.solve(n, md.d, md.v, nRecords,
                             nEvent.map(math.round), nNonevent.map(math.round),
                             trend, trendChange, cons, adjV, allV)
        (r.status, r.solution)
      }
    val tSolve = (System.nanoTime() - tSolve0) / 1e9
    val tPost0 = System.nanoTime()

    val solutionFull =
      if (n <= 1) Array.fill(n)(true)
      else solution

    // optimal splits: selected ends excluding the final prebin
    val splitsOptimal: Array[Double] =
      if (n <= 1) Array.empty
      else splits.indices.collect {
        case i if solutionFull(i) => splits(i)
      }.toArray

    // merge prebin counts into final bins
    val mergedNe = BinningTables.mergeBySolution(
      if (n <= 1) Array.fill(math.max(n, 1))(true).take(nNonevent.length)
      else solutionFull, nNonevent)
    val mergedEv = BinningTables.mergeBySolution(
      if (n <= 1) Array.fill(math.max(n, 1))(true).take(nEvent.length)
      else solutionFull, nEvent)

    // synthetic trailing bins: [others,] special(s), missing
    val missingIdx = Preprocess.missingClassIndex(config.specialCodes)
    val specialGroups = config.specialCodes.map(_.groupNames).getOrElse(Seq("Special"))
    val nSpecialBins =
      config.specialCodes match {
        case Some(SpecialDict(g)) => g.size
        case _                    => 1
      }
    val specialNe = (1 to nSpecialBins).map { g =>
      if (config.specialCodes.isDefined)
        totals.get(g).map(_.w0).getOrElse(0.0)
      else 0.0
    }
    val specialEv = (1 to nSpecialBins).map { g =>
      if (config.specialCodes.isDefined)
        totals.get(g).map(_.w1).getOrElse(0.0)
      else 0.0
    }
    val missNe = totals.get(missingIdx).map(_.w0).getOrElse(0.0)
    val missEv = totals.get(missingIdx).map(_.w1).getOrElse(0.0)

    val hasOthers = catOthers != null && catOthers.nonEmpty
    val allNe = (mergedNe.toSeq ++
      (if (hasOthers) Seq(othersTotals.map(_.w0).getOrElse(0.0)) else Nil) ++
      specialNe :+ missNe).toArray
    val allEv = (mergedEv.toSeq ++
      (if (hasOthers) Seq(othersTotals.map(_.w1).getOrElse(0.0)) else Nil) ++
      specialEv :+ missEv).toArray

    // bin labels
    val nDataBins = mergedNe.length
    val binsOfCats: Array[Array[String]] =
      if (!isCategorical) null
      else if (ordinalGroups != null) {
        // groups are atomic prebins at ordinal positions; a final bin
        // flattens the member lists of its merged groups
        val perGroupBin = ordinalGroups.indices.map(i =>
          upperBound(splitsOptimal, i.toDouble))
        (0 until nDataBins).map { b =>
          ordinalGroups.indices.filter(perGroupBin(_) == b)
            .flatMap(ordinalGroups(_)).toArray
        }.toArray
      } else categoricalBins(splitsOptimal, categories)

    val dataLabels: Array[String] =
      if (!isCategorical) {
        val edges = Double.NegativeInfinity +: splitsOptimal :+
          Double.PositiveInfinity
        BinningTables.binStrFormat(edges, 2)
      } else binsOfCats.map(_.mkString("[", ", ", "]"))
    val labels = (dataLabels.toSeq ++
      (if (hasOthers) Seq("Others") else Nil) ++
      (config.specialCodes match {
        case Some(SpecialDict(g)) => g.map(_._1)
        case _                    => Seq("Special")
      }) :+ "Missing").toArray

    val table = new BinningTables.BinaryBinningTable(
      config.name, config.dtype, splitsOptimal, allNe, allEv, labels,
      nSpecialBins)

    val catsOut =
      if (ordinalGroups != null) ordinalGroups.flatten
      else categories
    val fitted =
      new FittedOptimalBinning(config, status, splitsOptimal, table,
                               catsOut, binsOfCats, catOthers, nDataBins,
                               othersCatchAll)
    fitted.timings = Map(
      "prebinning" -> (candidatesS + (tSolve0 - tPre0) / 1e9),
      "solver" -> tSolve,
      "postprocessing" -> (System.nanoTime() - tPost0) / 1e9)
    fitted
  }

  /** Category membership of each final bin: ordinal ranges -> category
    * arrays (`binning_statistics.py:80-109` bin_categorical). */
  private def categoricalBins(splits: Array[Double],
                              categories: Array[String])
      : Array[Array[String]] = {
    if (categories == null) return Array.empty
    val nBins = splits.length + 1
    val out = Array.fill(nBins)(
      new scala.collection.mutable.ArrayBuffer[String])
    categories.indices.foreach { i =>
      val idx = upperBound(splits, i.toDouble)
      out(idx) += categories(i)
    }
    out.map(_.toArray)
  }

  private def resolveTrend(config: BinningConfig, nNonevent: Array[Double],
                           nEvent: Array[Double], isCategorical: Boolean)
      : (Option[String], Int) = {
    if (isCategorical) {
      // categorical variables are event-rate ordered: trend is ascending
      // whenever any monotonicity requested (`binning.py:992-995`)
      return (config.monotonicTrend.map(_ => "ascending"), -1)
    }
    config.monotonicTrend match {
      case Some(m @ ("auto" | "auto_heuristic" | "auto_asc_desc")) =>
        val trend = AutoMonotonic.autoMonotonic(nNonevent, nEvent, m)
        if (m == "auto_heuristic" && (trend == "peak" || trend == "valley")) {
          val ht = trend + "_heuristic"
          val rate = nEvent.zip(nNonevent).map { case (e, ne) =>
            e / (e + ne)
          }
          val tc = AutoMonotonic.peakValleyTrendChangeHeuristic(rate, ht)
          (Some(ht), tc)
        } else (Some(trend), -1)
      case Some(m @ ("peak_heuristic" | "valley_heuristic")) =>
        val rate = nEvent.zip(nNonevent).map { case (e, ne) => e / (e + ne) }
        (Some(m), AutoMonotonic.peakValleyTrendChangeHeuristic(rate, m))
      case other => (other, -1)
    }
  }

  /** np.digitize(x, splits, right=False): count of splits <= x. */
  private[graft] def upperBound(splits: Array[Double], x: Double): Int = {
    var lo = 0; var hi = splits.length
    while (lo < hi) {
      val mid = (lo + hi) / 2
      if (splits(mid) <= x) lo = mid + 1 else hi = mid
    }
    lo
  }

  private def prebinCounts(hist: Array[Prebinning.HistBucket],
                           splits: Array[Double])
      : (Array[Double], Array[Double]) = {
    val nBins = splits.length + 1
    val ne = new Array[Double](nBins)
    val ev = new Array[Double](nBins)
    hist.foreach { h =>
      val i = upperBound(splits, h.value)
      ne(i) += h.y0
      ev(i) += h.y1
    }
    (ne, ev)
  }
}

/** Fitted model: optimal splits + per-bin statistics; builds pure-Catalyst
  * transform expressions (generated CASE chains, whole-stage codegen, no
  * UDFs — SURVEY §2.12).
  */
final class FittedOptimalBinning(
    val config: BinningConfig,
    val status: String,
    val splits: Array[Double],
    val table: BinningTables.BinaryBinningTable,
    val categories: Array[String],
    val catBins: Array[Array[String]],
    val catOthers: Array[String],
    val nDataBins: Int,
    /** true when the others bin is a long-tail catch-all: the transform's
      * ELSE branch maps to others (the tail cannot be enumerated). */
    val othersCatchAll: Boolean = false) extends Serializable {

  def iv: Double = table.iv

  /** Per-phase wall times in seconds — the reference's `information()`
    * breakdown (`binning.py:528-534, 670-702`): "data_pass" (the Spark
    * aggregate jobs), "prebinning" (candidate splits and refinement),
    * "solver", "postprocessing", "total". Empty when the model was
    * loaded from JSON rather than fitted. */
  @transient var timings: Map[String, Double] = Map.empty

  /** Human-readable fit summary (`information()` mirror). */
  def information(): String = {
    val t = timings.withDefaultValue(0.0)
    f"""optimal binning fit: ${config.name}%s (${config.dtype}%s)
       |  status           ${status}%s
       |  bins             ${nDataBins}%d data + special/missing
       |  iv               ${table.iv}%.8f
       |  time total       ${t("total")}%.4f s
       |    data pass      ${t("data_pass")}%.4f s
       |    prebinning     ${t("prebinning")}%.4f s
       |    solver         ${t("solver")}%.4f s
       |    postprocessing ${t("postprocessing")}%.4f s""".stripMargin
  }

  /** Transform x into the requested metric
    * (`optbinning/binning/transformations.py:230-316`).
    * metric in {woe, event_rate, indices, bins};
    * metricSpecial/metricMissing: "empirical" or a numeric constant.
    */
  def transform(xCol: Column, metric: String = "woe",
                metricSpecial: Any = "empirical",
                metricMissing: Any = "empirical"): Column = {
    val isNumeric = config.dtype == "numerical"
    val hasOthers = catOthers != null && catOthers.nonEmpty
    val nSpecial = config.specialCodes match {
      case Some(SpecialDict(g)) => g.size
      case _                    => 1
    }
    // metric values indexed like the table rows:
    // data bins (+ others), specials, missing
    val nTableBins = table.nRecords.length

    def metricValues: Array[Double] = metric match {
      case "woe"        => table.woe
      case "event_rate" => table.eventRate
    }

    val x = if (isNumeric) xCol.cast(DoubleType) else xCol.cast("string")

    val (specialValue, missingValue, unknownValue): (Int => Column, Column, Column) =
      metric match {
      case "woe" | "event_rate" =>
        val mv = metricValues
        val meanEventRate = table.tEvent / table.tRecords
        val unknown: Double = config.catUnknown match {
          case Some(v: Double) => v
          case Some(v: Int)    => v.toDouble
          case _ =>
            if (metric == "woe")
              math.log((1 / meanEventRate - 1) *
                table.tEvent / table.tNonevent)
            else meanEventRate
        }
        val specialV: Int => Column = g => metricSpecial match {
          case "empirical" => lit(mv(nDataBins + (if (hasOthers) 1 else 0) + g))
          case v: Double   => lit(v)
          case v: Int      => lit(v.toDouble)
        }
        val missingV = metricMissing match {
          case "empirical" => lit(mv(nTableBins - 1))
          case v: Double   => lit(v)
          case v: Int      => lit(v.toDouble)
        }
        (specialV, missingV, lit(unknown))
      case "indices" =>
        val specialV: Int => Column = g => metricSpecial match {
          case v: Int => lit(v)
          case _      => lit(nDataBins + (if (hasOthers) 1 else 0) + g)
        }
        val missingV = metricMissing match {
          case v: Int => lit(v)
          case _      => lit(nTableBins - 1)
        }
        val unknown = config.catUnknown match {
          case Some(v: Int) => lit(v)
          case _            => lit(-1)
        }
        (specialV, missingV, unknown)
      case "bins" =>
        val labels = table.rows.map(_.bin)
        val specialV: Int => Column = g =>
          lit(labels(nDataBins + (if (hasOthers) 1 else 0) + g))
        val missingV = lit(labels(nTableBins - 1))
        val unknown = config.catUnknown match {
          case Some(v: String) => lit(v)
          case _               => lit("unknown")
        }
        (specialV, missingV, unknown)
    }

    def dataBinValue(i: Int): Column = metric match {
      case "woe" | "event_rate" => lit(metricValues(i))
      case "indices"            => lit(i)
      case "bins"               => lit(table.rows(i).bin)
    }

    var expr = when(Preprocess.missingPredicate(x, isNumeric), missingValue)
    Preprocess.specialPredicates(x, isNumeric, config.specialCodes)
      .zipWithIndex.foreach { case (p, g) =>
        expr = expr.when(p, specialValue(g))
      }

    if (isNumeric) {
      // bin i = [s_{i-1}, s_i); CASE x < s_0, x < s_1, ... else last bin
      splits.indices.foreach { i =>
        expr = expr.when(x < splits(i), dataBinValue(i))
      }
      expr.otherwise(dataBinValue(splits.length))
    } else {
      catBins.zipWithIndex.foreach { case (cats, i) =>
        if (cats.nonEmpty) expr = expr.when(x.isin(cats: _*), dataBinValue(i))
      }
      if (hasOthers) {
        val othersIdx = nDataBins
        val v = metric match {
          case "woe" | "event_rate" => lit(metricValues(othersIdx))
          case "indices"            => lit(othersIdx)
          case "bins"               => lit(table.rows(othersIdx).bin)
        }
        if (othersCatchAll) return expr.otherwise(v)
        expr = expr.when(x.isin(catOthers: _*), v)
      }
      expr.otherwise(unknownValue)
    }
  }

  /** Flat CASE mapping each table bin (data bins, others, special
    * groups, missing — indexed like `table.rows`) to a caller-provided
    * value, evaluated directly on the RAW column. This is the vehicle
    * for scorecard points columns: ONE branch per bin, instead of an
    * indices-chain nested inside a value-lookup chain whose expression
    * size is O(bins^2) per evaluation. `unknown` is emitted for unseen
    * categories. */
  def transformValues(xCol: Column, values: Array[Double],
                      unknown: Double = Double.NaN): Column = {
    val nTableBins = table.nRecords.length
    require(values.length == nTableBins,
            s"need one value per table row ($nTableBins); got ${values.length}")
    val isNumeric = config.dtype == "numerical"
    val hasOthers = catOthers != null && catOthers.nonEmpty
    val x = if (isNumeric) xCol.cast(DoubleType) else xCol.cast("string")
    val specialBase = nDataBins + (if (hasOthers) 1 else 0)
    var expr = when(Preprocess.missingPredicate(x, isNumeric),
                    lit(values(nTableBins - 1)))
    Preprocess.specialPredicates(x, isNumeric, config.specialCodes)
      .zipWithIndex.foreach { case (p, g) =>
        expr = expr.when(p, lit(values(specialBase + g)))
      }
    if (isNumeric) {
      splits.indices.foreach { i =>
        expr = expr.when(x < splits(i), lit(values(i)))
      }
      expr.otherwise(lit(values(splits.length)))
    } else {
      catBins.zipWithIndex.foreach { case (cats, i) =>
        if (cats.nonEmpty) expr = expr.when(x.isin(cats: _*), lit(values(i)))
      }
      if (hasOthers) {
        if (othersCatchAll) return expr.otherwise(lit(values(nDataBins)))
        expr = expr.when(x.isin(catOthers: _*), lit(values(nDataBins)))
      }
      expr.otherwise(lit(unknown))
    }
  }

  /** JSON model mirroring the reference's `to_json` shape
    * (`binning.py:1221-1238`) for cross-checking. */
  def toJson: String = {
    def arr(a: Array[Double]) = a.mkString("[", ",", "]")
    def sarr(a: Array[String]) =
      a.map(s => "\"" + s.replace("\"", "\\\"") + "\"").mkString("[", ",", "]")
    s"""{"name":"${config.name}","dtype":"${config.dtype}","status":"$status",""" +
      s""""splits":${arr(splits)},"n_nonevent":${arr(table.nNonevent)},""" +
      s""""n_event":${arr(table.nEvent)},"bins":${sarr(table.rows.map(_.bin))}}"""
  }
}
