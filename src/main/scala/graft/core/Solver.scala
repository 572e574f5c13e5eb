package graft.core

import scala.collection.mutable

/** Driver-side optimal-binning solver. Replaces the reference's OR-Tools
  * CP-SAT / MIP formulations (`optbinning/binning/cp.py`,
  * `optbinning/binning/mip.py`) with an exact interval-partition dynamic
  * program over the <=max_n_prebins prebin aggregate. The CP model's
  * x[i,j] structure ("bin ending at prebin i starts at prebin j",
  * `cp.py:75-82`) is exactly the DP state space; all constraints are
  * per-candidate-bin or adjacent-pair checks, so the DP is optimal for
  * trends none/ascending/descending/peak_heuristic/valley_heuristic
  * (pairwise monotonicity over a totally ordered scalar reduces to
  * adjacent pairs).
  *
  * Free peak/valley (the CP's change-point variable `t`, `cp.py:141-148`)
  * add a phase to the state, in one pass. A peak partition starts rising;
  * its first pair with rA > rB is the one free crossing and moves it to
  * falling, where every later pair needs rA >= rB (valley mirrored). This
  * is exactly the union over every change point of the heuristic feasible
  * sets, and the phase is a function of the prefix: staying rising
  * dominates switching early, because from rising any next pair is
  * allowed while from falling only a falling one is.
  *
  * Concave/convex and max_pvalue_policy="all" require non-adjacent
  * pair/triple constraints and use a DFS enumeration with identical
  * semantics (`cp.py:433-459`: all-triples midpoint condition), carrying
  * the same phase.
  */
object Solver {

  final case class Constraints(
      minNBins: Option[Int] = None,
      maxNBins: Option[Int] = None,
      minBinSize: Option[Long] = None,      // absolute weighted records
      maxBinSize: Option[Long] = None,
      minBinNEvent: Option[Long] = None,
      maxBinNEvent: Option[Long] = None,
      minBinNNonevent: Option[Long] = None,
      maxBinNNonevent: Option[Long] = None,
      userSplitsFixed: Option[Array[Boolean]] = None, // length n-1
      /** Scaled bin-size-spread regularization: objective loses
        * gammaReg * (max bin size - min bin size), with gammaReg =
        * ceil(M * gamma / total_records) like `cp.py:69-78`. Couples all
        * bins globally, so gamma > 0 routes to the DFS enumeration. */
      gammaReg: Long = 0L,
      /** Apply the reference CP's ascending/descending dominance
        * preprocessing (`cp.py:404-431`): ban singleton prebins whose
        * local pair violates the trend direction. The cut is part of the
        * reference's observable behavior (it can even force INFEASIBLE
        * against fixed splits), so the binary fit opts in whenever
        * min_event_rate_diff == 0, matching `cp.py`'s guard. */
      monoPreprocess: Boolean = false,
      timeLimitMs: Long = 100000L)

  final case class Result(status: String, solution: Array[Boolean],
                          objective: Long)

  /** Solve the generalized bin-merge problem.
    *
    * @param n number of prebins
    * @param d D(i)(j): scaled rate/mean of candidate bin j..i (monotonicity)
    * @param v V(i)(j): scaled objective contribution of candidate bin j..i
    * @param nRecords per-prebin weighted record counts
    * @param nEvent / nNonevent per-prebin counts (binary; empty arrays for
    *        continuous where event-count constraints do not apply)
    * @param trend one of null/"ascending"/"descending"/"concave"/"convex"/
    *        "peak"/"valley"/"peak_heuristic"/"valley_heuristic"
    * @param trendChange fixed change point for the heuristic modes
    * @param adjacentViolations adjacent candidate pairs that may not both be
    *        selected (p-value consecutive + min-diff)
    * @param allViolations non-adjacent pairs (p-value policy "all")
    */
  def solve(n: Int,
            d: Array[Array[Long]],
            v: Array[Array[Long]],
            nRecords: Array[Long],
            nEvent: Array[Long],
            nNonevent: Array[Long],
            trend: Option[String],
            trendChange: Int,
            cons: Constraints,
            adjacentViolations: Array[((Int, Int), (Int, Int))],
            allViolations: Array[((Int, Int), (Int, Int))]): Result = {
    val deadline = System.nanoTime() + cons.timeLimitMs * 1000000L
    val banned =
      if (cons.monoPreprocess &&
          (trend.contains("ascending") || trend.contains("descending")))
        singletonBans(n, d, trend.contains("ascending"))
      else null
    val t = new Tables(n, cons, nRecords, nEvent, nNonevent, banned,
                       adjacentViolations)
    val rule = pairRule(trend, trendChange, d)
    trend match {
      case Some(c @ ("concave" | "convex")) =>
        dfsSolve(n, d, v, rule, if (c == "concave") 1 else -1, t,
                 allViolations, cons, deadline)
      case _ if allViolations.nonEmpty || cons.gammaReg > 0 =>
        dfsSolve(n, d, v, rule, 0, t, allViolations, cons, deadline)
      case _ =>
        dpSolve(n, v, Array(rule), t, cons)
    }
  }

  /** Multiclass variant (`multiclass_cp.py`): shared bin structure,
    * objective = sum of per-class scaled divergences, independent
    * monotonicity constraint per class. Same DP; the transition check
    * quantifies over classes.
    */
  def solveMulti(n: Int,
                 d: Array[Array[Array[Long]]],     // per class
                 v: Array[Array[Array[Long]]],     // per class
                 nRecords: Array[Long],
                 trends: Array[Option[String]],
                 trendChanges: Array[Int],
                 cons: Constraints,
                 adjacentViolations: Array[((Int, Int), (Int, Int))])
      : Result = {
    val nClasses = d.length
    // fail fast on trends the pairwise transition check cannot express:
    // pairRule's default branch would silently skip an unsupported trend,
    // and a *_heuristic trend without a resolved change point (-1)
    // degenerates to pure descending/ascending
    trends.zipWithIndex.foreach { case (t, c) =>
      t.foreach {
        case "ascending" | "descending" => ()
        case h @ ("peak_heuristic" | "valley_heuristic") =>
          require(trendChanges(c) >= 0,
            s"$h for class $c needs a resolved trend change point; " +
            "compute it with AutoMonotonic.peakValleyTrendChangeHeuristic")
        case other => throw new IllegalArgumentException(
          s"per-class monotonic trend $other is not supported by the " +
          "shared-bin solver (allowed: ascending, descending, " +
          "peak_heuristic, valley_heuristic with a change point); " +
          "concave/convex need the single-variable solver")
      }
    }
    val t = new Tables(n, cons, nRecords, Array.empty, Array.empty, null,
                       adjacentViolations)
    val vSum = Array.tabulate(n) { i =>
      Array.tabulate(i + 1) { j =>
        var acc = 0L
        var c = 0
        while (c < nClasses) { acc += v(c)(i)(j); c += 1 }
        acc
      }
    }
    val rules = (0 until nClasses).collect {
      case c if trends(c).isDefined => pairRule(trends(c), trendChanges(c), d(c))
    }.toArray
    dpSolve(n, vSum, rules, t, cons)
  }

  /** Reference CP dominance preprocessing (`cp.py:404-431`): for plain
    * ascending/descending trends with min_event_rate_diff == 0, ban
    * singleton prebin i when merging it into its successor moves the
    * rate against the trend (and propagate along the run of violating
    * pairs, mirroring the reference's inner loop).
    */
  private def singletonBans(n: Int, d: Array[Array[Long]],
                            ascending: Boolean): Array[Boolean] = {
    val banned = new Array[Boolean](n)
    @inline def viol(pairEnd: Int, start: Int): Boolean =
      if (ascending) d(pairEnd)(start) > d(pairEnd)(pairEnd)
      else d(pairEnd)(start) < d(pairEnd)(pairEnd)
    var i = 0
    while (i < n - 1) {
      if (viol(i + 1, i)) {
        var j = 0
        while (j < n - i - 1) {
          if (viol(i + 1 + j, i)) banned(i + j) = true
          j += 1
        }
      }
      i += 1
    }
    banned
  }

  private def prefix(a: Array[Long]): Array[Long] = {
    val out = new Array[Long](a.length + 1)
    var i = 0
    while (i < a.length) { out(i + 1) = out(i) + a(i); i += 1 }
    out
  }

  @inline private def pack(i: Int, r: Int, j: Int, k: Int): Long =
    ((i.toLong & 0xffff) << 48) | ((r.toLong & 0xffff) << 32) |
      ((j.toLong & 0xffff) << 16) | (k.toLong & 0xffff)

  /** Per-solve tables shared by the DP and the DFS, built once from
    * prefix sums: `feasible(s)(e)` says whether candidate bin s..e passes
    * every per-bin check, and `banned(sA, eA, eB)` whether the adjacent
    * pair (sA..eA, eA+1..eB) is a listed violation (one bitset over
    * (sA, eB) per eA). */
  private final class Tables(n: Int, cons: Constraints,
                             nRecords: Array[Long], nEvent: Array[Long],
                             nNonevent: Array[Long],
                             bannedSingletons: Array[Boolean],
                             adjacentViolations: Array[((Int, Int), (Int, Int))]) {
    private val cumRec = prefix(nRecords)

    def records(s: Int, e: Int): Long = cumRec(e + 1) - cumRec(s)

    val feasible: Array[Array[Boolean]] = {
      // prefix sums and [min, max] of each bounded count; an empty count
      // array (continuous, multiclass) carries no event bounds
      val limited = Seq((nRecords, cons.minBinSize, cons.maxBinSize),
                        (nEvent, cons.minBinNEvent, cons.maxBinNEvent),
                        (nNonevent, cons.minBinNNonevent, cons.maxBinNNonevent))
        .filter { case (c, lo, hi) => c.nonEmpty && (lo.isDefined || hi.isDefined) }
      val cums = limited.map(l => prefix(l._1)).toArray
      val los = limited.map(_._2.getOrElse(Long.MinValue)).toArray
      val his = limited.map(_._3.getOrElse(Long.MaxValue)).toArray
      def countsOk(s: Int, e: Int): Boolean = {
        var k = 0
        while (k < cums.length && {
                 val x = cums(k)(e + 1) - cums(k)(s)
                 x >= los(k) && x <= his(k)
               }) k += 1
        k == cums.length
      }
      // Fixed split i forces x[i, i] == 1 in the reference CP
      // (`cp.py:580-584`): the prebin ENDING at that split is a bin on its
      // own, so a bin of two or more prebins may contain no fixed one.
      val fixed = cons.userSplitsFixed.getOrElse(Array.empty[Boolean])
      val cumFixed = prefix(fixed.map(f => if (f) 1L else 0L))
      Array.tabulate(n) { s =>
        val row = new Array[Boolean](n)
        var e = s
        while (e < n) {
          val hi = math.min(e, fixed.length - 1)
          row(e) =
            !(e > s && hi >= s && cumFixed(hi + 1) > cumFixed(s)) &&
            !(e == s && bannedSingletons != null && bannedSingletons(s)) &&
            countsOk(s, e)
          e += 1
        }
        row
      }
    }

    private val adj: Array[Array[Long]] = {
      val out = new Array[Array[Long]](n)
      adjacentViolations.foreach { case ((eA, sA), (eB, sB)) =>
        if (sB == eA + 1) {
          if (out(eA) == null) out(eA) = new Array[Long]((n * n + 63) >>> 6)
          val i = sA * n + eB
          out(eA)(i >>> 6) |= 1L << i
        }
      }
      out
    }

    def banned(sA: Int, eA: Int, eB: Int): Boolean = {
      val row = adj(eA)
      row != null && (row((sA * n + eB) >>> 6) & (1L << (sA * n + eB))) != 0
    }
  }

  /** A trend resolved once per solve into an adjacent-pair rule:
    * `next(phase, sA, eA, eB)` is the phase after bin A = (sA..eA) is
    * followed by bin B = (eA+1..eB), or -1 when the pair breaks the trend.
    * A sense is 1 (rising, rA <= rB), -1 (falling) or 0 (free). Pairs of
    * bins ending before `tc` follow `first`, pairs of bins ending at or
    * after it `second`, and the pair across it is free (`cp.py:498-530`).
    * Every trend has the single phase 0 except free peak/valley
    * (`freeTurn`), which move from 0 (`first`) to 1 (`second`) on their one
    * free crossing pair. */
  private final class PairRule(first: Int, second: Int, tc: Int,
                               val freeTurn: Boolean, d: Array[Array[Long]]) {
    def next(phase: Int, sA: Int, eA: Int, eB: Int): Int =
      if (first == 0 && second == 0) 0
      else {
        val c = java.lang.Long.compare(d(eB)(eA + 1), d(eA)(sA))
        if (freeTurn) {
          if (phase == 0) { if (c * first >= 0) 0 else 1 }
          else if (c * second >= 0) 1 else -1
        } else {
          val sense = if (eB < tc) first else if (eA >= tc) second else 0
          if (c * sense >= 0) 0 else -1
        }
      }
  }

  /** Phase after the pair under every rule (one per class), or -1. */
  private def step(rules: Array[PairRule], phase: Int,
                   sA: Int, eA: Int, eB: Int): Int = {
    var ph = phase
    var c = 0
    while (ph >= 0 && c < rules.length) {
      ph = rules(c).next(phase, sA, eA, eB)
      c += 1
    }
    ph
  }

  private def pairRule(trend: Option[String], tc: Int,
                       d: Array[Array[Long]]): PairRule = trend match {
    case Some("ascending")        => new PairRule(1, 1, tc, false, d)
    case Some("descending")       => new PairRule(-1, -1, tc, false, d)
    case Some("peak_heuristic")   => new PairRule(1, -1, tc, false, d)
    case Some("valley_heuristic") => new PairRule(-1, 1, tc, false, d)
    case Some("peak")             => new PairRule(1, -1, tc, true, d)
    case Some("valley")           => new PairRule(-1, 1, tc, true, d)
    case _                        => new PairRule(0, 0, tc, false, d)
  }

  /** Exact DP. States (e, s, b, phase) = partition of prebins 0..e whose
    * last bin is (s..e), with b+1 bins (only when min/max n_bins are set)
    * and the trend phase after its last pair. */
  private def dpSolve(n: Int, v: Array[Array[Long]], rules: Array[PairRule],
                      t: Tables, cons: Constraints): Result = {
    val phases = if (rules.exists(_.freeTurn)) 2 else 1
    val needCount = cons.minNBins.isDefined || cons.maxNBins.isDefined
    val maxB = if (needCount) math.min(cons.maxNBins.getOrElse(n), n) else 1
    val NEG = Long.MinValue / 4
    // slot (s, b, phase) = (s * maxB + b) * phases + phase within dp(e),
    // s <= e; par(e)(slot) is the predecessor's slot within dp(s - 1)
    val width = maxB * phases
    val dp = Array.tabulate(n)(e => Array.fill((e + 1) * width)(NEG))
    val par = Array.tabulate(n)(e => new Array[Int]((e + 1) * width))

    var e = 0
    while (e < n) {
      if (t.feasible(0)(e)) dp(e)(0) = v(e)(0)
      e += 1
    }

    e = 0
    while (e < n - 1) {
      val row = t.feasible(e + 1)
      var slot = 0
      while (slot < (e + 1) * width) {
        val cur = dp(e)(slot)
        val s = slot / width
        val b = slot % width / phases
        if (cur > NEG && (!needCount || b + 1 < maxB)) {
          val next = (if (needCount) (e + 1) * maxB + b + 1
                      else e + 1) * phases
          var e2 = e + 1
          while (e2 < n) {
            if (row(e2) && !t.banned(s, e, e2)) {
              val ph = step(rules, slot % phases, s, e, e2)
              if (ph >= 0) {
                val cand = cur + v(e2)(e + 1)
                if (cand > dp(e2)(next + ph)) {
                  dp(e2)(next + ph) = cand
                  par(e2)(next + ph) = slot
                }
              }
            }
            e2 += 1
          }
        }
        slot += 1
      }
      e += 1
    }

    // answer: full cover must end at prebin n-1
    var best = NEG
    var bestSlot = -1
    var slot = 0
    while (slot < n * width) {
      val nb = slot % width / phases + 1
      val okCount = !needCount ||
        (cons.minNBins.forall(nb >= _) && cons.maxNBins.forall(nb <= _))
      if (okCount && dp(n - 1)(slot) > best) {
        best = dp(n - 1)(slot); bestSlot = slot
      }
      slot += 1
    }

    val sol = Array.fill(n)(false)
    if (bestSlot < 0) {
      sol(n - 1) = true
      Result("INFEASIBLE", sol, 0L)
    } else {
      var ce = n - 1
      slot = bestSlot
      while (ce >= 0) {
        sol(ce) = true
        val cs = slot / width
        if (cs == 0) ce = -1
        else { slot = par(ce)(slot); ce = cs - 1 }
      }
      Result("OPTIMAL", sol, best)
    }
  }

  /** DFS over bin-end subsets for the constraint families the DP cannot
    * express: concave/convex all-triples midpoint conditions
    * (`cp.py:433-459`, `triples` = 1 concave, -1 convex, 0 none), non-
    * adjacent p-value violation pairs (policy "all") and the global gamma
    * term. Exact for the default max_n_prebins=20; budget-guarded beyond
    * that (returns best found with status FEASIBLE on timeout).
    */
  private def dfsSolve(n: Int, d: Array[Array[Long]], v: Array[Array[Long]],
                       rule: PairRule, triples: Int, t: Tables,
                       allViolations: Array[((Int, Int), (Int, Int))],
                       cons: Constraints, deadline: Long): Result = {
    val allViol = new mutable.HashSet[Long]
    allViolations.foreach { case ((i, r), (j, k)) =>
      allViol += pack(i, r, j, k)
    }
    var bestObj = Long.MinValue
    var bestBins: List[(Int, Int)] = null
    var timedOut = false

    val bins = new mutable.ArrayBuffer[(Int, Int)] // (start, end)
    val rates = new mutable.ArrayBuffer[Long]

    def violatesTriples(newRate: Long): Boolean = {
      // concavity: for all a<b<new: r_a + r_new <= 2 r_b  (convex mirrored)
      val m = rates.length
      var b = 0
      while (b < m) {
        var a = 0
        while (a < b) {
          if (triples > 0 && rates(a) + newRate > 2 * rates(b)) return true
          if (triples < 0 && rates(a) + newRate < 2 * rates(b)) return true
          a += 1
        }
        b += 1
      }
      false
    }

    def violatesPairs(s: Int, e: Int): Boolean = {
      var i = 0
      while (i < bins.length) {
        val (ps, pe) = bins(i)
        if (allViol.contains(pack(pe, ps, e, s))) return true
        i += 1
      }
      bins.nonEmpty && t.banned(bins.last._1, s - 1, e)
    }

    def rec(start: Int, obj: Long, phase: Int): Unit = {
      if (System.nanoTime() > deadline) { timedOut = true; return }
      if (start == n) {
        val nb = bins.length
        val okCount = cons.minNBins.forall(nb >= _) &&
          cons.maxNBins.forall(nb <= _)
        var effObj = obj
        if (cons.gammaReg > 0) {
          // gamma regularization: penalize bin-size spread (`cp.py:69-78`)
          var mn = Long.MaxValue
          var mx = Long.MinValue
          bins.foreach { case (s, e) =>
            val sz = t.records(s, e)
            if (sz < mn) mn = sz
            if (sz > mx) mx = sz
          }
          effObj -= cons.gammaReg * (mx - mn)
        }
        if (okCount && effObj > bestObj) {
          bestObj = effObj
          bestBins = bins.toList
        }
        return
      }
      val row = t.feasible(start)
      var e = start
      while (e < n && !timedOut) {
        if (row(e)) {
          val rate = d(e)(start)
          val next =
            if (triples != 0) { if (violatesTriples(rate)) -1 else 0 }
            else if (bins.isEmpty) 0
            else rule.next(phase, bins.last._1, start - 1, e)
          if (next >= 0 && !violatesPairs(start, e)) {
            bins += ((start, e))
            rates += rate
            rec(e + 1, obj + v(e)(start), next)
            bins.remove(bins.length - 1)
            rates.remove(rates.length - 1)
          }
        }
        e += 1
      }
    }

    rec(0, 0L, 0)

    val sol = Array.fill(n)(false)
    if (bestBins == null) {
      sol(n - 1) = true
      Result(if (timedOut) "UNKNOWN" else "INFEASIBLE", sol, 0L)
    } else {
      bestBins.foreach { case (_, e) => sol(e) = true }
      Result(if (timedOut) "FEASIBLE" else "OPTIMAL", sol, bestObj)
    }
  }
}
