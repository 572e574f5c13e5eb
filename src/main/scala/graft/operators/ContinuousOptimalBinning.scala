package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.core._

/** Per-bucket continuous-target stats (value histogram entry). */
private[graft] final case class ContBucket(value: Double, n: Long, w: Double,
                                           wy: Double, wy2: Double,
                                           ymin: Double, ymax: Double,
                                           zeros: Long)

/** Per-class continuous totals (special groups / missing / others). */
private[graft] final case class ContClassTotals(n: Double, sum: Double,
                                                std: Double, ymin: Double,
                                                ymax: Double, zeros: Double)

/** One (row-class, category) aggregate row of the continuous
  * categorical fit. */
private[graft] final case class ContCatRow(cls: Int, cat: String, n: Long,
                                           w: Double, wy: Double,
                                           wy2: Double, ymin: Double,
                                           ymax: Double, zeros: Long)

/** Optimal binning of one variable against a continuous target.
  * Spark-native re-expression of `optbinning.ContinuousOptimalBinning`
  * (`optbinning/binning/continuous_binning.py:185`): a numeric fit runs
  * the `BinningProcess` batch data plane with one variable (per-bin
  * (n, sum, sum^2, min, max, zeros) stats); a categorical fit keeps its
  * own per-category aggregate below. The L1-norm objective solver
  * (`continuous_cp.py`) is replaced by the shared driver DP.
  */
object ContinuousOptimalBinning {

  def fit(df: DataFrame, xCol: String, yCol: String,
          config: BinningConfig = BinningConfig(),
          weightCol: Option[String] = None): FittedContinuousBinning = {
    withDataPass(
      if (config.dtype == "numerical")
        BinningProcess.fitContinuousVars(df, Seq(xCol -> config), yCol,
                                         weightCol)(xCol)
      else fitCategorical(df, xCol, yCol, config, weightCol))
  }

  /** `fit` timed: its driver-side phases come timed, so the Spark
    * aggregate passes are the rest of the total. */
  private[graft] def withDataPass(fit: => FittedContinuousBinning)
      : FittedContinuousBinning = {
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

  /** Per-bucket stats over (y, w): n, w, wy, wy2, ymin, ymax, zeros,
    * ystd — the population std of the weighted values, mirroring
    * np.std(sw*y) (`continuous_binning.py:869-875`). */
  private[graft] def aggExprs: Seq[Column] = Seq(
    count(lit(1)).as("n"),
    sum(col("w")).as("w"),
    sum(col("w") * col("y")).as("wy"),
    sum(col("w") * col("y") * col("y")).as("wy2"),
    min(col("w") * col("y")).as("ymin"),
    max(col("w") * col("y")).as("ymax"),
    sum(when(col("w") * col("y") === 0.0, 1L).otherwise(0L)).as("zeros"),
    stddev_pop(col("w") * col("y")).as("ystd"))

  private def fitCategorical(df: DataFrame, xCol: String, yCol: String,
                             config: BinningConfig, weightCol: Option[String])
      : FittedContinuousBinning = {
    val x = col(xCol).cast("string")
    val y = col(yCol).cast(DoubleType)
    val w = weightCol.map(c => col(c).cast(DoubleType)).getOrElse(lit(1.0))
    val cls = Preprocess.rowClass(x, isNumeric = false, config.specialCodes)
    val base = df.select(x.as("x"), y.as("y"), w.as("w"), cls.as("cls"))

    val grouped = base.groupBy("cls", "x")
      .agg(aggExprs.head, aggExprs.tail: _*)
    // aggregate row layout (TWO group keys, then aggExprs): cls(0),
    // x(1), n(2), w(3), wy(4), wy2(5), ymin(6), ymax(7), zeros(8)
    def toCat(r: org.apache.spark.sql.Row): ContCatRow =
      ContCatRow(r.getInt(0), Option(r.getString(1)).getOrElse(""),
                 r.getLong(2), r.getDouble(3), r.getDouble(4),
                 r.getDouble(5), r.getDouble(6), r.getDouble(7),
                 r.getLong(8))

    // bounded driver collect (same design as the binary categorical
    // batch, `BinningProcess.fitCategoricalBatch`): beyond the histogram
    // budget keep the top-K clean categories by weight, pool the
    // remaining tail into the Others group via one exact anti-join
    // aggregate — the collect is capped at any category cardinality
    val cap = config.histogramMaxBuckets
    val probe = grouped.limit(cap + 1).collect()
    val (rows, tailRow: Option[ContCatRow]) =
      if (probe.length <= cap) (probe.map(toCat), None)
      else {
        val nonClean = grouped
          .where(col("cls") =!= Preprocess.CleanClass).collect().map(toCat)
        val topDf = grouped.where(col("cls") === Preprocess.CleanClass)
          .orderBy(desc("w")).limit(cap)
        val top = topDf.collect().map(toCat)
        val t = base.where(col("cls") === Preprocess.CleanClass)
          .join(topDf.select("x"), Seq("x"), "left_anti")
          .agg(aggExprs.head, aggExprs.tail: _*).head
        val tail =
          if (t.getLong(0) == 0L) None
          else Some(ContCatRow(Preprocess.CleanClass, "", t.getLong(0),
                               t.getDouble(1), t.getDouble(2),
                               t.getDouble(3), t.getDouble(4),
                               t.getDouble(5), t.getLong(6)))
        (top ++ nonClean, tail)
      }

    val byCls = rows.groupBy(_.cls)
    def totalsOf(rs: Seq[ContCatRow]): ContClassTotals = {
      val n = rs.map(_.w).sum
      val s = rs.map(_.wy).sum
      val ss = rs.map(_.wy2).sum
      val std =
        if (n > 0) math.sqrt(math.max(ss / n - (s / n) * (s / n), 0.0))
        else 0.0
      ContClassTotals(n, s, std,
        if (rs.nonEmpty) rs.map(_.ymin).min else 0.0,
        if (rs.nonEmpty) rs.map(_.ymax).max else 0.0,
        rs.map(_.zeros).sum.toDouble)
    }
    val cleanAll =
      byCls.getOrElse(Preprocess.CleanClass, Array.empty[ContCatRow])
        .toSeq ++ tailRow
    val totals = byCls.map { case (k, rs) => k -> totalsOf(rs.toSeq) } +
      (Preprocess.CleanClass -> totalsOf(cleanAll))
    val nSamplesWeighted =
      rows.map(_.w).sum + tailRow.map(_.w).getOrElse(0.0)

    val cleanCats =
      byCls.getOrElse(Preprocess.CleanClass, Array.empty[ContCatRow]).toSeq
    val totalCleanW = cleanAll.map(_.w).sum
    val (kept, cutOthers) = config.catCutoff match {
      case Some(cut) =>
        cleanCats.partition(r => r.w / totalCleanW >= cut)
      case None => (cleanCats, Seq.empty[ContCatRow])
    }
    val others = cutOthers ++ tailRow // pooled tail joins Others
    // order categories by target mean (`preprocessing.py:356-366`)
    val ordered = kept.sortBy(r => r.wy / r.w)
    val categories = ordered.map(_.cat).toArray
    val hist = ordered.zipWithIndex.map { case (r, i) =>
      ContBucket(i.toDouble, r.n, r.w, r.wy, r.wy2, r.ymin, r.ymax,
                 r.zeros)
    }.toArray
    val othersTotals =
      if (others.nonEmpty) Some(totalsOf(others)) else None

    // a pooled tail cannot be enumerated, so its Others bin must be the
    // transform's catch-all ELSE branch (same contract as the binary
    // categorical batch); the "__tail__" placeholder
    // keeps hasOthers true when no cutoff-others names exist
    fitFromHistogram(hist, totals, nSamplesWeighted, config, categories,
                     catOthers =
                       if (tailRow.isDefined && cutOthers.isEmpty)
                         Array("__tail__")
                       else cutOthers.map(_.cat).toArray,
                     othersTotals = othersTotals,
                     othersCatchAll = tailRow.isDefined)
  }

  private[graft] def fitFromHistogram(
      hist: Array[ContBucket], totals: Map[Int, ContClassTotals],
      nSamplesWeighted: Double, config: BinningConfig,
      categories: Array[String], catOthers: Array[String],
      othersTotals: Option[ContClassTotals] = None,
      othersCatchAll: Boolean = false)
      : FittedContinuousBinning = {

    val isCategorical = categories != null

    val cartHist = hist.map(h =>
      Prebinning.HistBucket(h.value, h.n, h.w, 0.0, h.wy, h.wy2))

    // continuous refinement drops only empty prebins
    // (`continuous_binning.py:919-977`)
    val (splits, fixed, stats) = Prebinning.refine(
      Prebinning.candidateSplits(cartHist, config.userSplits,
        config.prebinningMethod, config.maxNPrebins,
        math.ceil(config.minPrebinSize * nSamplesWeighted).toLong,
        config.splitDigits, mdlp = false)(
        Prebinning.cartSplits(cartHist, config.maxNPrebins, _,
                              classification = false)),
      config.userSplitsFixed)(prebinStats(hist, _))(_.map(_._1 == 0.0))

    val nRecords = stats.map(_._1)
    val sums = stats.map(_._2)
    val ssums = stats.map(_._3)
    val n = nRecords.length

    val tSolve0 = System.nanoTime()
    val (status, solution) =
      if (n <= 1) ("OPTIMAL", Array.fill(math.max(n, 0))(false))
      else {
        val (trend, trendChange) = resolveTrend(config, nRecords, sums,
                                                isCategorical)
        val md = ModelData.continuous(nRecords, sums, ssums,
                                      config.maxPvalue, config.maxPvaluePolicy,
                                      config.minEventRateDiff)
        val (adjV, allV) =
          if (config.maxPvaluePolicy == "all")
            (md.minDiffViolations, md.pvalueViolations)
          else (md.pvalueViolations ++ md.minDiffViolations,
                Array.empty[((Int, Int), (Int, Int))])
        val cons = Solver.Constraints(
          minNBins = config.minNBins,
          maxNBins = config.maxNBins,
          minBinSize = config.minBinSize.map(f =>
            math.ceil(f * nSamplesWeighted).toLong),
          maxBinSize = config.maxBinSize.map(f =>
            math.ceil(f * nSamplesWeighted).toLong),
          userSplitsFixed = fixed,
          gammaReg = OptimalBinning.gammaRegOf(
            config.gamma, math.round(nRecords.sum)),
          timeLimitMs = config.timeLimitMs)
        val r = Solver.solve(n, md.d, md.v, nRecords.map(math.round),
                             Array.empty, Array.empty,
                             trend, trendChange, cons, adjV, allV)
        (r.status, r.solution)
      }

    val tSolve = (System.nanoTime() - tSolve0) / 1e9
    val tPost0 = System.nanoTime()
    val solutionFull = if (n <= 1) Array.fill(n)(true) else solution
    val splitsOptimal: Array[Double] =
      if (n <= 1) Array.empty
      else splits.indices.collect {
        case i if solutionFull(i) => splits(i)
      }.toArray

    // merge (`binning_statistics.py:292-372` continuous_bin_info)
    val mergedR = BinningTables.mergeBySolution(solutionFull, nRecords)
    val mergedS = BinningTables.mergeBySolution(solutionFull, sums)
    val mergedSS = BinningTables.mergeBySolution(solutionFull, ssums)
    val mergedZ = BinningTables.mergeBySolution(solutionFull,
                                                stats.map(_._4))
    val mergedMin = mergeMin(solutionFull, stats.map(_._5))
    val mergedMax = mergeMax(solutionFull, stats.map(_._6))
    val mergedStd = mergedR.indices.map { i =>
      if (mergedR(i) > 0)
        math.sqrt(math.max(
          mergedSS(i) / mergedR(i) -
            (mergedS(i) / mergedR(i)) * (mergedS(i) / mergedR(i)), 0.0))
      else 0.0
    }.toArray

    val missingIdx = Preprocess.missingClassIndex(config.specialCodes)
    val nSpecialBins = config.specialCodes match {
      case Some(SpecialDict(g)) => g.size
      case _                    => 1
    }
    def classOr0(idx: Int): ContClassTotals =
      totals.getOrElse(idx, ContClassTotals(0, 0, 0, 0, 0, 0))
    val specialTotals = (1 to nSpecialBins).map(g =>
      if (config.specialCodes.isDefined) classOr0(g)
      else ContClassTotals(0, 0, 0, 0, 0, 0))
    val missT = classOr0(missingIdx)

    val hasOthers = catOthers != null && catOthers.nonEmpty
    val tailTotals =
      (if (hasOthers)
        Seq(othersTotals.getOrElse(ContClassTotals(0, 0, 0, 0, 0, 0)))
      else Nil) ++ specialTotals :+ missT

    val allR = mergedR ++ tailTotals.map(_.n)
    val allS = mergedS ++ tailTotals.map(_.sum)
    val allStd = mergedStd ++ tailTotals.map(_.std)
    val allMin = mergedMin ++ tailTotals.map(_.ymin)
    val allMax = mergedMax ++ tailTotals.map(_.ymax)
    val allZ = mergedZ ++ tailTotals.map(_.zeros)

    val nDataBins = mergedR.length
    val dataLabels: Array[String] =
      if (!isCategorical) {
        val edges = Double.NegativeInfinity +: splitsOptimal :+
          Double.PositiveInfinity
        BinningTables.binStrFormat(edges, 2)
      } else {
        categoricalBins(splitsOptimal, categories).map(b =>
          b.mkString("[", ", ", "]"))
      }
    val labels = (dataLabels.toSeq ++
      (if (hasOthers) Seq("Others") else Nil) ++
      (config.specialCodes match {
        case Some(SpecialDict(g)) => g.map(_._1)
        case _                    => Seq("Special")
      }) :+ "Missing").toArray

    val table = new BinningTables.ContinuousBinningTable(
      config.name, config.dtype, splitsOptimal, allR, allS, allStd,
      allMin, allMax, allZ, labels, nDataBins)

    val catBins: Array[Array[String]] =
      if (isCategorical) categoricalBins(splitsOptimal, categories) else null

    val fitted =
      new FittedContinuousBinning(config, status, splitsOptimal, table,
                                  categories, catBins, catOthers, nDataBins,
                                  othersCatchAll)
    fitted.timings = Map(
      "solver" -> tSolve,
      "postprocessing" -> (System.nanoTime() - tPost0) / 1e9)
    fitted
  }

  private def categoricalBins(splits: Array[Double],
                              categories: Array[String])
      : Array[Array[String]] = {
    if (categories == null) return Array.empty
    val nBins = splits.length + 1
    val out = Array.fill(nBins)(
      new scala.collection.mutable.ArrayBuffer[String])
    categories.indices.foreach { i =>
      out(OptimalBinning.upperBound(splits, i.toDouble)) += categories(i)
    }
    out.map(_.toArray)
  }

  private def resolveTrend(config: BinningConfig, nRecords: Array[Double],
                           sums: Array[Double], isCategorical: Boolean)
      : (Option[String], Int) = {
    if (isCategorical)
      return (config.monotonicTrend.map(_ => "ascending"), -1)
    config.monotonicTrend match {
      case Some(m @ ("auto" | "auto_heuristic" | "auto_asc_desc")) =>
        val trend = AutoMonotonic.autoMonotonicContinuous(nRecords, sums, m)
        if (m == "auto_heuristic" && (trend == "peak" || trend == "valley")) {
          val ht = trend + "_heuristic"
          val mean = sums.zip(nRecords).map { case (s, r) => s / r }
          (Some(ht), AutoMonotonic.peakValleyTrendChangeHeuristic(mean, ht))
        } else (Some(trend), -1)
      case Some(m @ ("peak_heuristic" | "valley_heuristic")) =>
        val mean = sums.zip(nRecords).map { case (s, r) => s / r }
        (Some(m), AutoMonotonic.peakValleyTrendChangeHeuristic(mean, m))
      case other => (other, -1)
    }
  }

  /** per-prebin (n, sum, ssum, zeros, min, max) given splits. */
  private def prebinStats(hist: Array[ContBucket], splits: Array[Double])
      : Array[(Double, Double, Double, Double, Double, Double)] = {
    val nBins = splits.length + 1
    val r = new Array[Double](nBins)
    val s = new Array[Double](nBins)
    val ss = new Array[Double](nBins)
    val z = new Array[Double](nBins)
    val mn = Array.fill(nBins)(Double.PositiveInfinity)
    val mx = Array.fill(nBins)(Double.NegativeInfinity)
    hist.foreach { h =>
      val i = OptimalBinning.upperBound(splits, h.value)
      r(i) += h.w; s(i) += h.wy; ss(i) += h.wy2; z(i) += h.zeros
      mn(i) = math.min(mn(i), h.ymin)
      mx(i) = math.max(mx(i), h.ymax)
    }
    (0 until nBins).map { i =>
      (r(i), s(i), ss(i), z(i),
       if (mn(i).isPosInfinity) 0.0 else mn(i),
       if (mx(i).isNegInfinity) 0.0 else mx(i))
    }.toArray
  }

  private def mergeMin(sol: Array[Boolean],
                       v: Array[Double]): Array[Double] = {
    val out = new scala.collection.mutable.ArrayBuffer[Double]
    var acc = Double.PositiveInfinity
    v.indices.foreach { i =>
      acc = math.min(acc, v(i))
      if (sol(i)) { out += acc; acc = Double.PositiveInfinity }
    }
    out.toArray
  }

  private def mergeMax(sol: Array[Boolean],
                       v: Array[Double]): Array[Double] = {
    val out = new scala.collection.mutable.ArrayBuffer[Double]
    var acc = Double.NegativeInfinity
    v.indices.foreach { i =>
      acc = math.max(acc, v(i))
      if (sol(i)) { out += acc; acc = Double.NegativeInfinity }
    }
    out.toArray
  }
}

/** Fitted continuous-binning model; transform metrics: mean/indices/bins
  * (`transformations.py:388-460`). */
final class FittedContinuousBinning(
    val config: BinningConfig,
    val status: String,
    val splits: Array[Double],
    val table: BinningTables.ContinuousBinningTable,
    val categories: Array[String],
    val catBins: Array[Array[String]],
    val catOthers: Array[String],
    val nDataBins: Int,
    /** true when the others bin is a long-tail catch-all: the transform's
      * ELSE branch maps to others (the tail cannot be enumerated). */
    val othersCatchAll: Boolean = false) extends Serializable {

  /** Per-phase wall times in seconds — the reference's `information()`
    * breakdown (`binning.py:670-702` shape, continuous estimator):
    * "data_pass" (the Spark aggregate jobs), "solver",
    * "postprocessing", "total". Empty when loaded from JSON. */
  @transient var timings: Map[String, Double] = Map.empty

  /** Human-readable fit summary (`information()` mirror). */
  def information(): String = {
    val t = timings.withDefaultValue(0.0)
    f"""continuous optimal binning fit: ${config.name}%s (${config.dtype}%s)
       |  status           ${status}%s
       |  bins             ${nDataBins}%d data + special/missing
       |  time total       ${t("total")}%.4f s
       |    data pass      ${t("data_pass")}%.4f s
       |    solver         ${t("solver")}%.4f s
       |    postprocessing ${t("postprocessing")}%.4f s""".stripMargin
  }

  def transform(xCol: Column, metric: String = "mean",
                metricSpecial: Any = "empirical",
                metricMissing: Any = "empirical"): Column = {
    val isNumeric = config.dtype == "numerical"
    val hasOthers = catOthers != null && catOthers.nonEmpty
    val nTableBins = table.nRecords.length
    val x = if (isNumeric) xCol.cast(DoubleType) else xCol.cast("string")

    val (specialValue, missingValue, unknownValue):
        (Int => Column, Column, Column) = metric match {
      case "mean" =>
        val unknown: Double = config.catUnknown match {
          case Some(v: Double) => v
          case Some(v: Int)    => v.toDouble
          case _               => table.tMean
        }
        val sp: Int => Column = g => metricSpecial match {
          case "empirical" =>
            lit(table.means(nDataBins + (if (hasOthers) 1 else 0) + g))
          case v: Double => lit(v)
          case v: Int    => lit(v.toDouble)
        }
        val mv = metricMissing match {
          case "empirical" => lit(table.means(nTableBins - 1))
          case v: Double   => lit(v)
          case v: Int      => lit(v.toDouble)
        }
        (sp, mv, lit(unknown))
      case "indices" =>
        val sp: Int => Column = g => metricSpecial match {
          case v: Int => lit(v)
          case _      => lit(nDataBins + (if (hasOthers) 1 else 0) + g)
        }
        val mv = metricMissing match {
          case v: Int => lit(v)
          case _      => lit(nTableBins - 1)
        }
        (sp, mv, config.catUnknown match {
          case Some(v: Int) => lit(v); case _ => lit(-1)
        })
      case "bins" =>
        val labels = table.rows.map(_.bin)
        val sp: Int => Column = g =>
          lit(labels(nDataBins + (if (hasOthers) 1 else 0) + g))
        (sp, lit(labels(nTableBins - 1)), config.catUnknown match {
          case Some(v: String) => lit(v); case _ => lit("unknown")
        })
    }

    def dataBinValue(i: Int): Column = metric match {
      case "mean"    => lit(table.means(i))
      case "indices" => lit(i)
      case "bins"    => lit(table.rows(i).bin)
    }

    var expr = when(Preprocess.missingPredicate(x, isNumeric), missingValue)
    Preprocess.specialPredicates(x, isNumeric, config.specialCodes)
      .zipWithIndex.foreach { case (p, g) =>
        expr = expr.when(p, specialValue(g))
      }

    if (isNumeric) {
      splits.indices.foreach { i =>
        expr = expr.when(x < splits(i), dataBinValue(i))
      }
      expr.otherwise(dataBinValue(splits.length))
    } else {
      catBins.zipWithIndex.foreach { case (cats, i) =>
        if (cats.nonEmpty) expr = expr.when(x.isin(cats: _*), dataBinValue(i))
      }
      if (hasOthers) {
        val idx = nDataBins
        val v = metric match {
          case "mean"    => lit(table.means(idx))
          case "indices" => lit(idx)
          case "bins"    => lit(table.rows(idx).bin)
        }
        if (othersCatchAll) return expr.otherwise(v)
        expr = expr.when(x.isin(catOthers: _*), v)
      }
      expr.otherwise(unknownValue)
    }
  }

  /** Flat CASE mapping each table bin to a caller-provided value on the
    * RAW column — scorecard points vehicle; see the binary counterpart
    * `FittedOptimalBinning.transformValues` for rationale. */
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
}
