package optbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{BinningConfig, BinningProcess, FittedOptimalBinning,
  Scorecard, ScorecardMonitoring, SpecialList}

/** Outcome of one operation's checks. `known` marks a failure that is
  * the program's grid-count fault: a fitted table's per-bin counts
  * differ from an exact recount of the rows, and equal a recount of the
  * rows' grid representatives (see [[Checks.gridRecount]]). */
final case class Verdict(ok: Boolean, known: Boolean = false,
                         note: String = "")

/** One operation of a round and the numbers that identify its output;
  * later rounds must reproduce the checked round's numbers. */
final case class Op(name: String, output: Array[Double])

/** Wall times (seconds) of one round: data to fitted models, each of
  * the [[Workload.ApplyRepeats]] applications of them to every row, and
  * the whole round. */
final case class Times(fit: Double, apply: Seq[Double], cycle: Double)

/** The generated inputs of a run. */
final class Inputs(val spark: SparkSession, val train: DataFrame,
                   actualCohort: => DataFrame, val rows: Long,
                   val batches: Int, val probe: Probe) {
  lazy val actual: DataFrame = actualCohort
  def batch(b: Int): DataFrame = train.where(col("batch") === b)
}

trait Round {
  def times: Times
  def ops: Seq[Op]
  /** The round's binning process, whose WoE transform plan is traced. */
  def process: Option[graft.operators.FittedBinningProcess]
  /** Per-round layer numbers the calls' own results report. */
  def layer: Map[String, Double]
}

/** A workload: its inputs, one timed round, and the checks of a
  * round's outputs. */
trait Workload {
  def name: String
  def rows: Long
  def batches: Int = 4
  /** Variables and binning config the workload fits. */
  def variables: Seq[String]
  def config: BinningConfig
  /** Layers whose public calls the rounds make: "process" (with the
    * transform) or "scorecard" (with monitoring); the sketch layer is
    * only ever called by [[Layers.extras]]. */
  def layers: Set[String]
  /** Untimed rounds before the timed ones. The first call in a JVM is
    * 2-3x slower (class loading, JIT) and the second still ~30 % slower,
    * so two rounds are taken out of the timings. */
  def warmupRounds: Int = 2
  def round(in: Inputs): Round
  def check(in: Inputs, r: Round): Map[String, Verdict]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "scorecard_cycle" => ScorecardCycle
    case "fine_solve"      => FineSolve
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (scorecard_cycle, fine_solve)")
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Applying a model to every row takes a tenth of a second at these
    * sizes; each round applies it this many times so that its figure
    * rests on enough samples. */
  val ApplyRepeats = 5

  def applyTimes(body: => Unit): Seq[Double] =
    (1 to ApplyRepeats).map(_ => timed(body)._2)

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def tableOutput(f: FittedOptimalBinning): Array[Double] =
    f.splits ++ f.table.nRecords ++ f.table.nEvent

  /** Driver solve numbers of one fit: summed per-variable timings. */
  def coreLayer(fits: Iterable[FittedOptimalBinning]): Map[String, Double] =
    Map("core.solver_s" -> fits.map(_.timings.getOrElse("solver", 0.0)).sum,
        "core.postprocessing_s" ->
          fits.map(_.timings.getOrElse("postprocessing", 0.0)).sum,
        "core.bins" -> fits.map(_.nDataBins.toDouble).sum)

  /** Independent (rows, events) of a DataFrame. */
  def truth(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(col("y").cast("long"))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Table checks shared by every fitted variable: totals against an
    * independent count, and WoE/IV recomputed from the counts. */
  def tableVerdict(f: FittedOptimalBinning, n: Long, events: Long)
      : Verdict =
    if (!Checks.totalsMatch(f.table, n, events))
      Verdict(false, note = s"totals ${f.table.tRecords}/${f.table.tEvent}" +
        s" != $n/$events")
    else if (!Checks.woeIvMatch(f.table)) Verdict(false, note = "woe/iv")
    else Verdict(true)
}

import Workload._

/** Scorecard fit (BinningProcess inside) with the default binning
  * config -> scoring -> monitoring against the drifted cohort. Four
  * variables: two above the grid threshold (income, utilization), a
  * low-cardinality integer and a 50-level categorical; the last three
  * are the shifted ones. Monitoring costs several Spark jobs per
  * variable, which is what keeps the variable count this low. */
object ScorecardCycle extends Workload {
  val name = "scorecard_cycle"
  val rows = 50000L
  val variables: Seq[String] =
    Seq("income", "utilization", "inquiries", "region")
  val config: BinningConfig = BinningConfig()
  val layers: Set[String] = Set("scorecard")
  // its rounds are mostly small Spark jobs on the driver, whose code
  // the JIT compiles slowly: with two warm-up rounds its fit time still
  // fell by a third over the next four, with four it is near flat
  override val warmupRounds = 4
  /** Rows whose scores are recomputed by hand (every 199th id). */
  val sampleEvery = 199

  final class Out(val sc: graft.operators.FittedScorecard,
                  val monitor: ScorecardMonitoring, val psi: Double,
                  val psiVars: Seq[(String, Double)], val times: Times)
      extends Round {
    def process = Some(sc.process)
    def layer = coreLayer(sc.process.fits.values)
    def ops: Seq[Op] =
      variables.map(v => Op(s"bin:$v", tableOutput(sc.process.fits(v)))) ++
        Seq(Op("estimator", sc.coefficients :+ sc.estimatorIntercept),
            Op("score", sc.pointsTable.map(_.points) :+ sc.baseIntercept),
            Op("psi_total", Array(psi)),
            Op("psi_variable", psiVars.map(_._2).toArray))
  }

  def round(in: Inputs): Round = {
    val p = in.probe
    val t0 = System.nanoTime()
    val (sc, tFit) = timed(p("scorecard.fit")(
      Scorecard.fit(in.train, variables, "y", binningConfig = config)))
    val tApply = applyTimes(p("scorecard.score")(noop(sc.score(in.train))))
    val monitor = new ScorecardMonitoring(sc)
    val psi = p("monitoring.psi")(monitor.psiTotal(in.train, in.actual))
    val psiVars = p("monitoring.psi_variable")(
      monitor.psiVariableTable(in.train, in.actual))
    new Out(sc, monitor, psi, psiVars,
            Times(tFit, tApply, (System.nanoTime() - t0) / 1e9))
  }

  def check(in: Inputs, r: Round): Map[String, Verdict] = {
    val o = r.asInstanceOf[Out]
    val fits = o.sc.process.fits
    val (n, events) = truth(in.train)
    val counts = Checks.recount(in.train, "y", variables.map(v => v -> fits(v)))
    val gridCounts = Checks.gridRecount(in.train, "y",
      variables.filter(Gen.Numeric.contains).map(v => v -> fits(v)))
    val binVerdicts = variables.map { v =>
      val f = fits(v)
      val base = tableVerdict(f, n, events)
      val bad = Checks.recountMismatches(v, f.table, counts)
      // the known fault has one shape: the table counts the rows of the
      // grid cell holding each split on the side of the cell's
      // representative, so it equals a recount of the representatives
      val gridShaped = Gen.Numeric.contains(v) &&
        Checks.recountMismatches(v, f.table, gridCounts).isEmpty
      s"bin:$v" -> (
        if (!base.ok || bad.isEmpty) base
        else Verdict(false, known = gridShaped,
          note = s"recount differs in table rows ${bad.mkString(",")}" +
            (if (gridShaped) "; equals the grid recount" else "")))
    }
    (binVerdicts ++ Seq(
      "estimator" -> scoreEquations(in, o),
      "score" -> sampledScores(in, o),
      "psi_total" -> {
        val self = o.monitor.psiTotal(in.train, in.train)
        if (math.abs(self) <= 1e-12 && o.psi > 0 && !o.psi.isNaN)
          Verdict(true)
        else Verdict(false, note = s"psi(self)=$self psi=${o.psi}")
      },
      "psi_variable" -> {
        val top = o.psiVars.sortBy(-_._2).take(Gen.Shifted.size).map(_._1)
        if (top.toSet == Gen.Shifted.toSet) Verdict(true)
        else Verdict(false, note = s"largest psi: ${top.mkString(",")}")
      })).toMap
  }

  /** Gradient of the logistic log-likelihood at the fitted coefficients,
    * over the WoE design (special and missing rows take WoE 0, the
    * scorecard's default), in one aggregate; it must vanish. */
  private def scoreEquations(in: Inputs, o: Out): Verdict = {
    val sc = o.sc
    val design = sc.selected.map { v =>
      val f = sc.process.fits(v)
      val nData = f.nDataBins +
        (if (f.catOthers != null && f.catOthers.nonEmpty) 1 else 0)
      val woe = f.table.woe.indices.map(i =>
        if (i < nData) f.table.woe(i) else 0.0)
      val idx = Checks.binIndex(f, col(v))
      when(idx >= 0, element_at(typedLit(woe), idx + 1)).otherwise(0.0)
    }
    val eta = design.zip(sc.coefficients).foldLeft(
      lit(sc.estimatorIntercept)) { case (acc, (w, c)) => acc + w * c }
    val resid = col("y").cast("double") - lit(1.0) / (lit(1.0) + exp(-eta))
    val base = in.train.select(
      (resid.as("r") +: design.zipWithIndex.map { case (w, i) =>
        w.as(s"w$i") }).toIndexedSeq: _*)
    val sums = base.agg(sum("r"), design.indices.map(i =>
      sum(col("r") * col(s"w$i"))): _*).head()
    val grad = (0 to design.length).map(i => math.abs(sums.getDouble(i)) / in.rows)
    // spark.ml stops at a relative loss change of 1e-4; a mean-gradient
    // of 1e-3 is well inside what that leaves and far below what a wrong
    // coefficient gives (a 10% change in one coefficient moves it ~1e-2)
    if (grad.max <= 1e-3) Verdict(true)
    else Verdict(false, note = f"max |mean gradient| ${grad.max}%.3e")
  }

  /** Scores of sampled rows equal the sum of their bins' points plus the
    * intercept, with bins found here from the fitted splits. */
  private def sampledScores(in: Inputs, o: Out): Verdict = {
    val sc = o.sc
    val sample = in.train.where(col("id") % sampleEvery === 0)
    val got = sc.score(sample, keepCols = Seq("id")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val points = sc.pointsTable.groupBy(_.variable).map { case (v, rs) =>
      v -> rs.sortBy(_.binId).map(_.points)
    }
    val idx = sample.select(col("id") +: sc.selected.toSeq.map(v =>
      Checks.binIndex(sc.process.fits(v), col(v))): _*).collect()
    val bad = idx.count { r =>
      val want = sc.selected.indices.map { i =>
        val b = r.getInt(i + 1)
        if (b < 0) Double.NaN else points(sc.selected(i))(b)
      }.sum + sc.baseIntercept
      !Checks.close(want, got(r.getLong(0)))
    }
    if (bad == 0 && idx.nonEmpty) Verdict(true)
    else Verdict(false, note = s"$bad of ${idx.length} sampled scores differ")
  }
}

/** Fine-grained constrained solve: BinningProcess with the large-scale
  * tutorial's kind of config, then the WoE transform of every row. */
object FineSolve extends Workload {
  val name = "fine_solve"
  val rows = 100000L
  val variables: Seq[String] =
    Seq("age", "income", "x06", "debt_ratio", "balance")
  val config: BinningConfig = BinningConfig(
    maxNPrebins = 100, minPrebinSize = 0.01, minBinSize = Some(0.02),
    maxPvalue = Some(0.05), monotonicTrend = Some("auto"),
    specialCodes = Some(SpecialList(Seq(Gen.Special))))
  val layers: Set[String] = Set("process")

  final class Out(val bp: graft.operators.FittedBinningProcess,
                  val times: Times) extends Round {
    def process = Some(bp)
    def layer = coreLayer(bp.fits.values)
    def ops: Seq[Op] =
      variables.map(v => Op(s"bin:$v", tableOutput(bp.fits(v)))) :+
        Op("transform", variables.flatMap(v => bp.fits(v).table.woe).toArray)
  }

  def round(in: Inputs): Round = {
    val p = in.probe
    val (bp, tFit) = timed(p("process.fit")(
      BinningProcess.fit(in.train, variables, "y", config = config)))
    val tApply = applyTimes(p("transform")(
      noop(bp.transform(in.train, "woe"))))
    new Out(bp, Times(tFit, tApply, tFit + tApply.sum))
  }

  def check(in: Inputs, r: Round): Map[String, Verdict] = {
    val bp = r.asInstanceOf[Out].bp
    val (n, events) = truth(in.train)
    val binVerdicts = variables.map { v =>
      val f = bp.fits(v)
      val t = f.table
      val data = 0 until f.nDataBins
      val minRecords = math.ceil(config.minBinSize.get * t.tRecords)
      val pvalues = data.drop(1).map { i =>
        Checks.twoProportionPvalue(t.nEvent(i - 1), t.nRecords(i - 1),
                                   t.nEvent(i), t.nRecords(i))
      }
      val rates = data.map(i => t.nEvent(i) / t.nRecords(i))
      val base = tableVerdict(f, n, events)
      s"bin:$v" -> (
        if (!base.ok) base
        else if (f.status != "OPTIMAL")
          Verdict(false, note = s"status ${f.status}")
        else if (data.exists(i => t.nRecords(i) < minRecords))
          Verdict(false, note = s"bin below $minRecords records")
        else if (pvalues.exists(_ > config.maxPvalue.get))
          Verdict(false, note = s"p-values ${pvalues.mkString(",")}")
        else if (Checks.directionChanges(rates) > 1)
          Verdict(false, note = s"event rates ${rates.mkString(",")}")
        else Verdict(true))
    }
    binVerdicts.toMap + ("transform" -> transformVerdict(in, bp))
  }

  /** Transformed WoE of sampled rows equals the table WoE of the bin
    * found here from the fitted splits. */
  private def transformVerdict(in: Inputs,
                               bp: graft.operators.FittedBinningProcess)
      : Verdict = {
    val sample = in.train.where(col("id") % 97 === 0)
    val got = bp.transform(sample, "woe", keepCols = Seq("id")).collect()
      .map(r => r.getLong(0) -> r).toMap
    val idx = sample.select(col("id") +: variables.map(v =>
      Checks.binIndex(bp.fits(v), col(v))): _*).collect()
    val bad = idx.count { r =>
      val g = got(r.getLong(0))
      variables.indices.exists { i =>
        g.getDouble(i + 1) != bp.fits(variables(i)).table.woe(r.getInt(i + 1))
      }
    }
    if (bad == 0) Verdict(true)
    else Verdict(false, note = s"$bad sampled rows transform differently")
  }
}
