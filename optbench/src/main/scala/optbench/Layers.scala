package optbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.SparkPlan

import graft.operators.{BinningConfig, BinningProcess, Scorecard,
  ScorecardMonitoring, SpecialList}
import graft.streaming.BinningProcessSketch

/** Wraps each public call a round makes. With tracing on it records
  * what the call cost, under the call's layer name. */
final class Probe(tracer: Option[Tracer]) {
  private val calls = ArrayBuffer.empty[(String, CallStats)]

  def apply[T](name: String)(body: => T): T = tracer match {
    case None => body
    case Some(t) =>
      val (out, stats) = t.call(body)
      calls.synchronized(calls += name -> stats)
      out
  }

  /** Calls recorded since the last take. */
  def take(): Seq[(String, CallStats)] = calls.synchronized {
    val out = calls.toList
    calls.clear()
    out
  }
}

/** Per-layer metrics of a traced run. Layers a workload's rounds call
  * are measured in those rounds (median over rounds); the others are
  * called once after the rounds on the same inputs, so every traced run
  * reports every layer. */
object Layers {
  /** Variables used for the scorecard and sketch layers when the
    * workload's own rounds do not call them: a narrow slice keeps the
    * traced run short. */
  val ExtraWidth = 3

  /** The calls of the layers `w`'s rounds do not make. Returns derived
    * per-call numbers (the sketch solver's own time) and the checks of
    * those calls that failed. */
  def extras(in: Inputs, w: Workload): (Map[String, Double], Seq[String]) = {
    val p = in.probe
    val train = in.train
    if (!w.layers("process")) {
      // numeric special codes on a string variable make the fit cast the
      // column to double, which fails under ANSI casts: drop them there
      val categorical = w.variables.filterNot(Gen.Numeric.contains)
        .map(_ -> w.config.copy(specialCodes = None)).toMap
      val bp = p("process.fit")(BinningProcess.fit(train, w.variables, "y",
        config = w.config, varOverrides = categorical))
      p("transform")(Workload.noop(bp.transform(train, "woe")))
    }
    if (!w.layers("scorecard")) {
      val vs = w.variables.take(ExtraWidth)
      // the drifted cohort is generated on first use: not inside a probe
      val actual = in.actual
      actual.count()
      val sc = p("scorecard.fit")(Scorecard.fit(train, vs, "y"))
      p("scorecard.score")(Workload.noop(sc.score(train)))
      val monitor = new ScorecardMonitoring(sc)
      p("monitoring.psi")(monitor.psiTotal(train, actual))
      p("monitoring.psi_variable")(monitor.psiVariableTable(train, actual))
    }
    // no workload streams: the sketch layer is always an extra call
    val numeric = w.variables.filter(Gen.Numeric.contains).take(ExtraWidth)
    val sk = new BinningProcessSketch(numeric,
      BinningConfig(specialCodes = Some(SpecialList(Seq(Gen.Special)))))
    var fits = Map.empty[String, graft.operators.FittedOptimalBinning]
    val solver = (0 until in.batches).map { b =>
      p("streaming.add")(sk.add(in.batch(b), "y"))
      fits = p("streaming.solve")(sk.solveAll())
      fits.values.map(_.timings.getOrElse("solver", 0.0)).sum
    }.sum
    (Map("streaming.solver_s" -> solver), sketchProblems(in, sk.eps, fits))
  }

  /** The sketch fit after the last batch: record and event totals equal
    * an exact count. Each data bin's distance from an exact recount with
    * the solved splits and the sketch's edge rule (a value equal to a
    * split counts in the lower bin) is printed against the single-sketch
    * GK bound, 2 eps n, without failing the run: the sketch merges one
    * GK summary per partition and batch, and the merge can pass that
    * bound by a few rows. */
  private def sketchProblems(
      in: Inputs, eps: Double,
      fits: Map[String, graft.operators.FittedOptimalBinning]): Seq[String] = {
    val (n, events) = Workload.truth(in.train)
    val counts = Checks.recount(in.train, "y", fits.toSeq, tieLower = true)
    fits.toSeq.sortBy(_._1).flatMap { case (v, f) =>
      val t = f.table
      val worst = (0 until f.nDataBins).map { i =>
        val (rn, re) = counts.getOrElse((v, i), (0L, 0L))
        math.max(math.abs(t.nRecords(i) - rn), math.abs(t.nEvent(i) - re))
      }.max
      System.err.println(f"optbench: streaming $v: largest data-bin " +
        f"distance from the recount $worst%.0f rows, 2 eps n = " +
        f"${2 * eps * t.nRecords.take(f.nDataBins).sum}%.1f")
      if (Checks.totalsMatch(t, n, events)) None
      else Some(s"streaming $v: totals ${t.tRecords}/${t.tEvent} != $n/$events")
    }
  }

  def metrics(rounds: Seq[Seq[(String, CallStats)]],
              roundLayer: Seq[Map[String, Double]],
              extra: Seq[(String, CallStats)],
              extraLayer: Map[String, Double],
              transformPlan: SparkPlan,
              jvm: Seq[(String, Double)]): Seq[(String, Double, String)] = {
    import Main.median
    def of(calls: Seq[(String, CallStats)], name: String) =
      calls.filter(_._1 == name).map(_._2)
    /** Median over rounds of a per-round sum, or the extra call's. */
    def perRound(name: String)(f: CallStats => Double): Double = {
      val rs = rounds.map(of(_, name))
      if (rs.forall(_.nonEmpty)) median(rs.map(_.map(f).sum))
      else of(extra, name).map(f).sum
    }
    /** Median over every call of that name (the per-row applications
      * and per-batch sketch calls repeat within a round). */
    def perCall(name: String)(f: CallStats => Double): Double = {
      val cs = rounds.flatMap(of(_, name))
      median((if (cs.nonEmpty) cs else of(extra, name)).map(f))
    }
    def layer(k: String): Double =
      if (roundLayer.forall(_.contains(k))) median(roundLayer.map(_(k)))
      else extraLayer(k)

    Seq(
      ("process.fit_s", perRound("process.fit")(_.wallS), "s"),
      ("process.job_s", perRound("process.fit")(_.jobS), "s"),
      ("process.driver_s", perRound("process.fit")(_.driverS), "s"),
      ("process.task_cpu_s", perRound("process.fit")(_.taskCpuS), "s"),
      ("process.jobs", perRound("process.fit")(_.jobs.toDouble), "count"),
      ("process.shuffle_write_mb",
       perRound("process.fit")(_.shuffleWriteMb), "MB"),
      ("process.records_read",
       perRound("process.fit")(_.recordsRead.toDouble), "count"),
      ("core.solver_s", layer("core.solver_s"), "s"),
      ("core.postprocessing_s", layer("core.postprocessing_s"), "s"),
      ("core.bins", layer("core.bins"), "count"),
      ("transform.s", perCall("transform")(_.wallS), "s"),
      ("transform.task_cpu_s", perCall("transform")(_.taskCpuS), "s"),
      ("transform.non_codegen_ops",
       Plans.nonCodegenOps(transformPlan).toDouble, "count"),
      ("scorecard.fit_s", perRound("scorecard.fit")(_.wallS), "s"),
      ("scorecard.driver_s", perRound("scorecard.fit")(_.driverS), "s"),
      ("scorecard.jobs", perRound("scorecard.fit")(_.jobs.toDouble),
       "count"),
      ("scorecard.score_s", perCall("scorecard.score")(_.wallS), "s"),
      ("scorecard.score_task_cpu_s",
       perCall("scorecard.score")(_.taskCpuS), "s"),
      ("monitoring.psi_s", perRound("monitoring.psi")(_.wallS), "s"),
      ("monitoring.psi_variable_s",
       perRound("monitoring.psi_variable")(_.wallS), "s"),
      ("monitoring.jobs",
       perRound("monitoring.psi")(_.jobs.toDouble) +
         perRound("monitoring.psi_variable")(_.jobs.toDouble), "count"),
      ("monitoring.records_read",
       perRound("monitoring.psi")(_.recordsRead.toDouble) +
         perRound("monitoring.psi_variable")(_.recordsRead.toDouble),
       "count"),
      ("streaming.add_s", perCall("streaming.add")(_.wallS), "s"),
      ("streaming.add_task_cpu_s",
       perRound("streaming.add")(_.taskCpuS), "s"),
      ("streaming.shuffle_write_mb",
       perRound("streaming.add")(_.shuffleWriteMb), "MB"),
      ("streaming.solve_s", perCall("streaming.solve")(_.wallS), "s"),
      ("streaming.solver_s", layer("streaming.solver_s"), "s")) ++
      jvm.map { case (k, v) => (k, v, "s") }
  }
}
