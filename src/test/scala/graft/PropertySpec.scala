package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import graft.core._
import graft.operators._

/** Property tests the reference lacks but the distributed design demands
  * (SURVEY §5b): solver-vs-enumeration oracle and metric invariants.
  */
class PropertySpec extends AnyFunSuite {

  /** hand-rolled forAll: sample the generator n times (scalatestplus
    * bridge is not in the offline cache). */
  private def forAll[A](gen: Gen[A], n: Int = 80)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default,
                org.scalacheck.rng.Seed(i.toLong)).foreach(f)
    }

  private val countsGen: Gen[(Array[Double], Array[Double])] = for {
    n <- Gen.choose(2, 8)
    ne <- Gen.listOfN(n, Gen.choose(1, 50))
    ev <- Gen.listOfN(n, Gen.choose(1, 50))
  } yield (ne.map(_.toDouble).toArray, ev.map(_.toDouble).toArray)

  /** One binary solver instance: prebin counts plus the constraints the
    * oracles below cover, solved exactly as the binary fit calls it. */
  private final case class Inst(ne: Array[Double], ev: Array[Double],
                                maxPvalue: Option[Double] = None,
                                policy: String = "consecutive",
                                minBinSize: Option[Long] = None,
                                minNBins: Option[Int] = None,
                                maxNBins: Option[Int] = None,
                                gammaReg: Long = 0L,
                                fixed: Option[Array[Boolean]] = None) {
    val n: Int = ne.length
    val md = ModelData.binary("iv", ne, ev, maxPvalue, policy, 0.0)
    val records: Array[Long] =
      ne.zip(ev).map { case (a, b) => math.round(a + b) }
    val (adjV, allV) =
      if (policy == "all") (md.minDiffViolations, md.pvalueViolations)
      else (md.pvalueViolations ++ md.minDiffViolations,
            Array.empty[((Int, Int), (Int, Int))])
    def constraints: Solver.Constraints =
      Solver.Constraints(minNBins = minNBins, maxNBins = maxNBins,
                         minBinSize = minBinSize, gammaReg = gammaReg,
                         userSplitsFixed = fixed)
    def solve(trend: Option[String], tc: Int = -1,
              cons: Solver.Constraints = constraints): Solver.Result =
      Solver.solve(n, md.d, md.v, records, ev.map(math.round),
                   ne.map(math.round), trend, tc, cons, adjV, allV)
    def usesDfs: Boolean = allV.nonEmpty || gammaReg > 0
    override def toString: String =
      s"ne=${ne.mkString(",")} ev=${ev.mkString(",")} p=$maxPvalue " +
        s"$policy minSize=$minBinSize nBins=$minNBins..$maxNBins " +
        s"gamma=$gammaReg" +
        fixed.fold("")(f => s" fixed=${f.map(if (_) 1 else 0).mkString}")
  }

  /** brute force: enumerate all split subsets, apply the same per-bin,
    * bin-count, violation-pair and trend rules, and return the best scaled
    * objective (gamma penalty included) with every partition reaching it
    * (Long.MinValue and none when infeasible). A fixed split i is one
    * that some bin ends at prebin i. "peak" means the bin rates
    * rise (ties allowed) up to some bin and fall after it; "valley" is
    * the mirror. */
  private def bruteForce(inst: Inst, trend: Option[String])
      : (Long, Seq[Array[Boolean]]) = {
    import inst._
    val banned = (adjV ++ allV).toSet
    var best = Long.MinValue
    val optima = scala.collection.mutable.ArrayBuffer[Array[Boolean]]()
    // subsets of split positions 0..n-2; bins are maximal runs
    for (mask <- 0 until (1 << (n - 1))) {
      val ends = (0 until n - 1).filter(i => (mask & (1 << i)) != 0) :+ (n - 1)
      val starts = 0 +: ends.dropRight(1).map(_ + 1)
      val bins = starts.zip(ends)
      val k = bins.length
      val rates = bins.map { case (s, e) => md.d(e)(s) }
      val sizes = bins.map { case (s, e) => (s to e).map(records).sum }
      def follows(rising: Boolean)(i: Int): Boolean =
        if (rising) rates(i) <= rates(i + 1) else rates(i) >= rates(i + 1)
      val trendOk = trend match {
        case Some("ascending")  => (0 until k - 1).forall(follows(true))
        case Some("descending") => (0 until k - 1).forall(follows(false))
        case Some(pv @ ("peak" | "valley")) =>
          val rising = pv == "peak"
          (0 until k).exists { top =>
            (0 until top).forall(follows(rising)) &&
            (top until k - 1).forall(follows(!rising))
          }
        case _ => true
      }
      val ok = trendOk &&
        fixed.forall(_.indices.forall(i => !fixed.get(i) || ends.contains(i))) &&
        minBinSize.forall(m => sizes.forall(_ >= m)) &&
        minNBins.forall(k >= _) && maxNBins.forall(k <= _) &&
        !(0 until k).exists(b => (0 until b).exists { a =>
          banned(((bins(a)._2, bins(a)._1), (bins(b)._2, bins(b)._1)))
        })
      if (ok) {
        val obj = bins.map { case (s, e) => md.v(e)(s) }.sum -
          gammaReg * (sizes.max - sizes.min)
        if (obj > best) { best = obj; optima.clear() }
        if (obj == best) optima += Array.tabulate(n)(ends.contains)
      }
    }
    (best, optima.toSeq)
  }

  test("DP solver equals exhaustive enumeration (none/asc/desc trends)") {
    forAll(countsGen) { case (ne, ev) =>
      for (trend <- Seq(None, Some("ascending"), Some("descending"))) {
        val inst = Inst(ne, ev)
        val r = inst.solve(trend)
        val expected = bruteForce(inst, trend)._1
        assert(r.status == "OPTIMAL")
        assert(r.objective == expected,
               s"trend $trend dp ${r.objective} brute $expected " +
                 s"ne=${ne.mkString(",")} ev=${ev.mkString(",")}")
      }
    }
  }

  test("gini is permutation invariant and bounded") {
    forAll(countsGen) { case (ne, ev) =>
      val g = Metrics.gini(ev, ne)
      assert(g >= -1.0 - 1e-12 && g <= 1.0 + 1e-12)
      val perm = scala.util.Random.shuffle(ev.indices.toList).toArray
      val g2 = Metrics.gini(perm.map(ev), perm.map(ne))
      assert(math.abs(g - g2) < 1e-9)
    }
  }

  test("divergences are non-negative and zero iff identical distributions") {
    forAll(countsGen) { case (ne, ev) =>
      val p = ev.map(_ / ev.sum)
      val q = ne.map(_ / ne.sum)
      assert(Metrics.jeffreySum(p, q) >= -1e-12)
      assert(Metrics.jensenShannonSum(p, q) >= -1e-12)
      assert(Metrics.hellingerSum(p, q) >= -1e-12)
      assert(Metrics.triangularSum(p, q) >= -1e-12)
      assert(math.abs(Metrics.jeffreySum(p, p)) < 1e-12)
    }
  }

  test("mergeBySolution conserves totals") {
    forAll(countsGen) { case (ne, _) =>
      val n = ne.length
      forAll(Gen.listOfN(n - 1, Gen.oneOf(true, false)), 10) { sol0 =>
        val sol = (sol0 :+ true).toArray
        val merged = BinningTables.mergeBySolution(sol, ne)
        assert(math.abs(merged.sum - ne.sum) < 1e-9)
        assert(merged.length == sol.count(identity))
      }
    }
  }

  test("monoPreprocess only removes solutions (objective never improves)") {
    forAll(countsGen, n = 60) { case (ne, ev) =>
      for (trend <- Seq(Some("ascending"), Some("descending"))) {
        val inst = Inst(ne, ev)
        def run(pre: Boolean) =
          inst.solve(trend, cons = Solver.Constraints(monoPreprocess = pre))
        val plain = run(false)
        val cut = run(true)
        // the dominance cut is a restriction: objective can only drop
        if (plain.status == "OPTIMAL" && cut.status == "OPTIMAL")
          assert(cut.objective <= plain.objective,
                 s"$trend cut ${cut.objective} > plain ${plain.objective}")
        // and a cut OPTIMAL solution is valid under the plain model too:
        // same bins must satisfy the trend (checked via brute force bound)
        if (cut.status == "OPTIMAL")
          assert(cut.objective <= bruteForce(inst, trend)._1)
      }
    }
  }

  test("gamma DFS solver equals exhaustive enumeration") {
    forAll(countsGen, n = 40) { case (ne, ev) =>
      for (trend <- Seq(None, Some("ascending"));
           gammaReg <- Seq(1L, 50L)) {
        val inst = Inst(ne, ev, gammaReg = gammaReg)
        val r = inst.solve(trend)
        val expected = bruteForce(inst, trend)._1
        assert(r.status == "OPTIMAL")
        assert(r.objective == expected,
               s"trend $trend gamma $gammaReg dfs ${r.objective} " +
                 s"brute $expected ne=${ne.mkString(",")} " +
                 s"ev=${ev.mkString(",")}")
      }
    }
  }

  /** Random instances for the free peak/valley oracles. The DFS route
    * adds p-value policy "all" (non-adjacent violation pairs) and gamma. */
  private def instGen(nMin: Int, nMax: Int, dfs: Boolean): Gen[Inst] = for {
    n <- Gen.choose(nMin, nMax)
    ne <- Gen.listOfN(n, Gen.choose(1, 50))
    ev <- Gen.listOfN(n, Gen.choose(1, 50))
    maxP <- Gen.oneOf(None, Some(0.05), Some(0.5))
    policy <- if (dfs) Gen.const("all") else Gen.const("consecutive")
    minSizeFrac <- Gen.oneOf(0.0, 0.05, 0.15)
    minNB <- Gen.oneOf(None, Some(2))
    maxNB <- Gen.oneOf(None, Some(3), Some(5))
    gamma <- if (dfs) Gen.oneOf(0L, 1L, 50L) else Gen.const(0L)
  } yield {
    val total = ne.sum + ev.sum
    Inst(ne.map(_.toDouble).toArray, ev.map(_.toDouble).toArray, maxP,
         policy,
         Some(math.ceil(minSizeFrac * total).toLong).filter(_ > 0),
         minNB, maxNB, gamma)
  }

  /** The change-point loop free peak/valley used to run, rebuilt from
    * public calls: the heuristic solve at every change point 0..n, keeping
    * the first strictly better OPTIMAL result. */
  private def changePointLoop(inst: Inst, trend: String): Solver.Result =
    (0 to inst.n).map(tc => inst.solve(Some(trend + "_heuristic"), tc))
      .reduceLeft { (best, r) =>
        if (r.status == "OPTIMAL" && (best.status != "OPTIMAL" ||
                                      r.objective > best.objective)) r
        else best
      }

  /** Checks free peak/valley against brute force and the change-point
    * loop; returns the number of ties where the loop chose a different
    * optimal partition. */
  private def checkFreePeakValley(inst: Inst): Int = {
    var ties = 0
    for (trend <- Seq("peak", "valley")) {
      val r = inst.solve(Some(trend))
      val loop = changePointLoop(inst, trend)
      val (best, optima) = bruteForce(inst, Some(trend))
      val ctx = s"$trend $inst"
      assert(r.status == loop.status, ctx)
      if (optima.isEmpty) assert(r.status == "INFEASIBLE", ctx)
      else {
        assert(r.status == "OPTIMAL", ctx)
        assert(r.objective == best, s"$ctx: ${r.objective} vs brute $best")
        assert(loop.objective == best, ctx)
        assert(optima.exists(_.sameElements(r.solution)), ctx)
        if (optima.size == 1) {
          assert(r.solution.sameElements(optima.head), ctx)
          assert(loop.solution.sameElements(optima.head), ctx)
        } else if (!r.solution.sameElements(loop.solution)) ties += 1
      }
    }
    ties
  }

  test("free peak/valley (DP) equal brute force and the change-point " +
       "loop under p-values, min bin size and bin-count bounds") {
    var ties = 0
    forAll(instGen(2, 12, dfs = false), n = 120) { inst =>
      assert(!inst.usesDfs)
      ties += checkFreePeakValley(inst)
    }
    info(s"$ties tied optima where the loop picked another partition")
  }

  test("free peak/valley (DFS) equal brute force and the change-point " +
       "loop with gamma and non-adjacent p-value pairs") {
    var withAll = 0
    var withGamma = 0
    forAll(instGen(2, 10, dfs = true), n = 120) { inst =>
      if (inst.allV.nonEmpty) withAll += 1
      if (inst.gammaReg > 0) withGamma += 1
      checkFreePeakValley(inst)
    }
    assert(withAll > 20 && withGamma > 20, s"all=$withAll gamma=$withGamma")
  }

  test("a free peak/valley DFS cut by its deadline does not report " +
       "OPTIMAL") {
    val inst = Inst(Array.tabulate(12)(i => 10.0 + i), Array.fill(12)(20.0),
                    gammaReg = 1L)
    for (trend <- Seq("peak", "valley")) {
      val r = inst.solve(Some(trend),
                         cons = inst.constraints.copy(timeLimitMs = 0L))
      assert(r.status == "FEASIBLE" || r.status == "UNKNOWN", r.status)
    }
  }

  test("fixed user splits on random partial masks: DP and DFS keep " +
       "every fixed split and equal brute force") {
    val gen = for {
      dfs <- Gen.oneOf(false, true)
      inst <- instGen(2, 9, dfs)
      mask <- Gen.listOfN(inst.n - 1, Gen.oneOf(false, false, true))
    } yield inst.copy(fixed = Some(mask.toArray))
    var partial = 0
    forAll(gen, n = 150) { inst =>
      val mask = inst.fixed.get
      if (mask.contains(true) && mask.contains(false)) partial += 1
      for (trend <- Seq(None, Some("ascending"), Some("descending"),
                        Some("peak"), Some("valley"))) {
        val r = inst.solve(trend)
        val (best, optima) = bruteForce(inst, trend)
        val ctx = s"$trend $inst"
        if (optima.isEmpty) assert(r.status == "INFEASIBLE", ctx)
        else {
          assert(r.status == "OPTIMAL", ctx)
          assert(r.objective == best, s"$ctx: ${r.objective} vs brute $best")
          assert(optima.exists(_.sameElements(r.solution)), ctx)
        }
      }
    }
    assert(partial > 50, s"$partial partial masks")
  }

  test("a fixed user split keeps its split and nothing more: user " +
       "splits 1/2/3 over four prebins, max 2 bins, one split fixed") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq((0.5, 1.0), (0.6, 2.0), (1.5, 9.0), (1.6, 8.0),
                 (2.5, 3.0), (2.6, 1.0), (3.5, 7.0), (3.6, 9.0))
      .toDF("x", "y")
    for (k <- 0 until 3) {
      val f = ContinuousOptimalBinning.fit(df, "x", "y",
        BinningConfig(userSplits = Some(Array(1.0, 2.0, 3.0)),
                      userSplitsFixed = Some(Array.tabulate(3)(_ == k)),
                      maxNBins = Some(2)))
      assert(f.status == "OPTIMAL", s"split ${k + 1} fixed")
      assert(f.splits.toSeq == Seq(k + 1.0), s"split ${k + 1} fixed")
    }
  }

  test("free peak/valley equal the change-point loop at n = 30-40") {
    forAll(instGen(30, 40, dfs = false), n = 20) { inst =>
      for (trend <- Seq("peak", "valley")) {
        val r = inst.solve(Some(trend))
        val loop = changePointLoop(inst, trend)
        assert(r.status == loop.status, s"$trend $inst")
        assert(r.objective == loop.objective, s"$trend $inst")
      }
    }
  }

  test("integer sample weights equal row duplication (numerical fit)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val rows = (1 to 800).map { _ =>
      (rnd.nextDouble() * 100, if (rnd.nextDouble() < 0.3) 1.0 else 0.0,
       1 + rnd.nextInt(3))
    }
    val weighted = rows.toDF("x", "y", "w")
    val duplicated = rows.flatMap { case (x, y, w) =>
      Seq.fill(w)((x, y))
    }.toDF("x", "y")
    // fixed splits: prebin sizing is row-count-based by reference
    // semantics (min_prebin_size * len(x), unweighted), so free fits may
    // legitimately differ; the weighted AGGREGATES must not
    val cfg = BinningConfig(name = "x", monotonicTrend = None,
      userSplits = Some(Array(25.0, 50.0, 75.0)),
      minNBins = Some(4), maxNBins = Some(4))
    val fw = OptimalBinning.fit(weighted, "x", "y", cfg,
                                weightCol = Some("w"))
    val fd = OptimalBinning.fit(duplicated, "x", "y", cfg)
    assert(fw.splits.toSeq == fd.splits.toSeq,
           s"${fw.splits.toSeq} vs ${fd.splits.toSeq}")
    assert(math.abs(fw.table.iv - fd.table.iv) < 1e-9)
    fw.table.rows.zip(fd.table.rows).foreach { case (a, b) =>
      assert(math.abs(a.nonevent - b.nonevent) < 1e-9, s"$a vs $b")
      assert(math.abs(a.event - b.event) < 1e-9, s"$a vs $b")
    }
  }

  test("scorecard sample weights: integer weights equal row " +
       "duplication (binning, coefficients, scores)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 1500).map { _ =>
      val x1 = rnd.nextDouble() * 100
      val x2 = rnd.nextDouble() * 10
      val p = 1.0 / (1.0 + math.exp(-(x1 / 25 + x2 / 5 - 3)))
      val y = if (rnd.nextDouble() < p) 1.0 else 0.0
      val w = 1.0 + rnd.nextInt(3) // 1..3
      (x1, x2, y, w)
    }
    val weighted = rows.toDF("x1", "x2", "y", "w")
    val duplicated = rows.flatMap { case (x1, x2, y, w) =>
      Seq.fill(w.toInt)((x1, x2, y))
    }.toDF("x1", "x2", "y")

    // pinned splits: CART prebinning's min-size constraints count ROWS
    // (sklearn min_samples_leaf semantics the reference inherits), so
    // free binning under weights legitimately differs from duplication;
    // with fixed bins the whole estimator chain must match exactly
    val ov = Map(
      "x1" -> BinningConfig(userSplits = Some(Array(25.0, 50.0, 75.0))),
      "x2" -> BinningConfig(userSplits = Some(Array(3.0, 6.0))))
    val sw = Scorecard.fit(weighted, Seq("x1", "x2"), "y",
                           varOverrides = ov, weightCol = Some("w"))
    val sd = Scorecard.fit(duplicated, Seq("x1", "x2"), "y",
                           varOverrides = ov)
    sw.coefficients.zip(sd.coefficients).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-6, s"coef $a vs $b")
    }
    assert(math.abs(sw.estimatorIntercept - sd.estimatorIntercept) < 1e-6)
    // per-bin weighted counts match the duplicated-row counts
    sw.pointsTable.zip(sd.pointsTable).foreach { case (a, b) =>
      assert(a.variable == b.variable && a.bin == b.bin)
      assert(math.abs(a.count - b.count) < 1e-9, s"$a vs $b")
      assert(math.abs(a.points - b.points) < 1e-9)
    }
    // scoring the SAME frame with both models is identical
    import org.apache.spark.sql.functions.{sum => sqlSum}
    val s1 = duplicated.select(sw.scoreColumn().as("s")).agg(sqlSum("s"))
      .head.getDouble(0)
    val s2 = duplicated.select(sd.scoreColumn().as("s")).agg(sqlSum("s"))
      .head.getDouble(0)
    assert(math.abs(s1 - s2) < 1e-4, s"$s1 vs $s2")
  }

  test("integer nearest-cell kernels equal a brute-force quantized " +
       "reference on random vectors and centroids") {
    val spark = TestSpark.spark
    import spark.implicits._
    val caseGen: Gen[(List[Double], List[List[Double]])] = for {
      dim <- Gen.choose(1, 6)
      k <- Gen.choose(1, 5)
      v <- Gen.listOfN(dim, Gen.choose(-2.0, 2.0))
      cs <- Gen.listOfN(k, Gen.listOfN(dim, Gen.choose(-2.0, 2.0)))
    } yield (v, cs)
    forAll(caseGen, n = 60) { case (v, cs) =>
      val qc = cs.map(_.map(c => math.floor(c * 1e6).toLong).toArray)
        .toArray
      val qx = v.map(x => math.floor(x * 1e6).toLong).toArray
      val d2s = qc.map { w =>
        w.indices.map { j =>
          val d = qx(j) - w(j); d * d
        }.sum
      }
      val expectCell = d2s.zipWithIndex.minBy { case (d, i) => (d, i) }._2
      val expectD2 = d2s(expectCell)
      val row = Seq(Tuple1(v.toArray)).toDF("emb")
        .select(
          graft.functions.VectorExprs
            .nearestCellQ(org.apache.spark.sql.functions.col("emb"), qc)
            .as("cell"),
          graft.functions.VectorExprs
            .nearestCellD2Q(org.apache.spark.sql.functions.col("emb"), qc)
            .as("cd"))
        .collect()(0)
      assert(row.getInt(0) == expectCell,
             s"cell ${row.getInt(0)} vs $expectCell (v=$v cs=$cs)")
      val cd = row.getSeq[Long](1)
      assert(cd(0) == expectCell.toLong && cd(1) == expectD2,
             s"cd $cd vs ($expectCell, $expectD2)")
    }
  }

  test("setSimJoinExact equals brute force on randomized corpora and " +
       "thresholds (prefix + length + positional filters lose nothing)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(20260814)
    val vocab = ('a' to 'p').map(_.toString)
    for (trial <- 0 until 5) {
      val nDocs = 30 + rnd.nextInt(20)
      val docs = (0 until nDocs).map { i =>
        val len = 1 + rnd.nextInt(8)
        (i.toLong,
         Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val df = docs.toDF("id", "text")
      val (n, d) = Seq((1, 2), (2, 3), (3, 4), (9, 10))(trial % 4)
      val got = graft.pipeline.Dedup
        .setSimJoinExact(df, "text", "id", n, d, materialize = false)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                   r.getLong(3))).toSet
      val sets = docs.map { case (i, t) =>
        i -> t.split(" ").filter(_.nonEmpty).toSet
      }.filter(_._2.nonEmpty)
      val want = (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
        inter = (sa & sb).size.toLong; uni = (sa | sb).size.toLong
        if d * inter >= n * uni
      } yield (ia, ib, inter, uni)).toSet
      assert(got == want,
             s"trial $trial thr=$n/$d: got ${got.size} want ${want.size}")
    }
  }

  test("groupedDiscreteQuantile equals sorted-sequence indexing on " +
       "randomized groups and rational levels") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (0 until 500).map { _ =>
      (s"g${rnd.nextInt(6)}", (rnd.nextInt(40) + 1).toDouble)
    }
    val df = rows.toDF("g", "v")
    for ((n, d) <- Seq((1, 10), (1, 4), (1, 2), (3, 4), (9, 10), (1, 1))) {
      val got = graft.operators.Histograms
        .groupedDiscreteQuantile(df, "g", "v", n, d)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val want = rows.groupBy(_._1).map { case (g, vs) =>
        val sorted = vs.map(_._2).sorted
        val k = (n * sorted.size + d - 1) / d  // ceil(n/d * size)
        g -> sorted(k - 1)
      }
      assert(got == want, s"q=$n/$d got=$got want=$want")
    }
  }

  test("JaroWinkler properties: symmetric, bounded in [0,1], 1 iff " +
       "equal, kernel equals a direct Scala reimplementation") {
    // independent reference implementation (textbook Jaro + Winkler
    // with the 0.7 boost threshold) to cross-check the Catalyst
    // kernel's window/transposition bookkeeping
    def ref(a: String, b: String): Double = {
      val (la, lb) = (a.length, b.length)
      if (la == 0 && lb == 0) return 1.0
      if (la == 0 || lb == 0) return 0.0
      val win = math.max(0, math.max(la, lb) / 2 - 1)
      val am = Array.fill(la)(false); val bm = Array.fill(lb)(false)
      var m = 0
      for (i <- 0 until la) {
        var j = math.max(0, i - win)
        var done = false
        while (!done && j <= math.min(lb - 1, i + win)) {
          if (!bm(j) && a(i) == b(j)) {
            am(i) = true; bm(j) = true; m += 1; done = true
          }
          j += 1
        }
      }
      if (m == 0) return 0.0
      var t = 0; var j = 0
      for (i <- 0 until la if am(i)) {
        while (!bm(j)) j += 1
        if (a(i) != b(j)) t += 1
        j += 1
      }
      val jaro = (m.toDouble / la + m.toDouble / lb +
        (m - t / 2).toDouble / m) / 3.0
      if (jaro <= 0.7) jaro
      else {
        val l = a.zip(b).take(4).takeWhile { case (x, y) => x == y }.size
        jaro + l * 0.1 * (1 - jaro)
      }
    }
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def word() = (0 until rnd.nextInt(12))
      .map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    val pairs = (0 until 300).map(_ => (word(), word()))
    import org.apache.spark.sql.functions.col
    val jw = graft.functions.StringSimExprs.jaroWinkler _
    val got = pairs.toDF("a", "b")
      .select(jw(col("a"), col("b")), jw(col("b"), col("a")))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    pairs.zip(got).foreach { case ((a, b), (ab, ba)) =>
      assert(ab == ba, s"asymmetric on ($a, $b)")
      assert(ab >= 0.0 && ab <= 1.0, s"out of range on ($a, $b): $ab")
      assert((ab == 1.0) == (a == b), s"unit iff equal on ($a, $b)")
      assert(ab == ref(a, b), s"kernel ${ab} != ref ${ref(a, b)} " +
        s"on ($a, $b)")
    }
  }

  private val pwDataGen: Gen[(Array[Long], Array[Long], String)] = for {
    n <- Gen.choose(8, 40)
    xs <- Gen.listOfN(n, Gen.choose(0L, 30L))
    ys <- Gen.listOfN(n, Gen.choose(-50L, 50L))
    trend <- Gen.oneOf("ascending", "descending")
  } yield (xs.toArray, ys.toArray, trend)

  test("ExactFit monotone QP properties on random integer data: the " +
       "winner is feasible, argmin over feasible candidates, and its " +
       "closed-form SSE expansion equals the direct per-point SSE") {
    import graft.core.ExactFit
    val spec0 = ExactFit.PWSpec(Array(10.0, 20.0), 1L, 1L, 16.0,
                                Some("ascending"))
    forAll(pwDataGen, n = 60) { case (xs, ys, trend) =>
      val spec = spec0.copy(trend = Some(trend))
      // exact driver-side moments (mirrors momentAggs arithmetic:
      // integer lens, integer y, BigDecimal-exact sums)
      def len(m: Int, x: Long): Long = {
        val t = spec.tInt
        if (m == 0) math.min(x, t(0))
        else if (m < t.length)
          math.max(0L, math.min(x, t(m)) - t(m - 1))
        else math.max(0L, x - t(t.length - 1))
      }
      val k = spec.nSeg
      val env = ExactFit.Env(collection.mutable.Map.empty,
                             collection.mutable.Map.empty)
      env.d("n") = xs.length.toDouble
      env.d("sy") = ys.sum.toDouble
      for (i <- 0 until k) {
        env.d(s"s$i") = xs.map(len(i, _)).sum.toDouble
        env.d(s"sy$i") = xs.zip(ys)
          .map { case (x, y) => len(i, x) * y }.sum.toDouble
      }
      for (i <- 0 until k; j <- i until k)
        env.d(s"s${i}_$j") = xs
          .map(x => len(i, x) * len(j, x)).sum.toDouble
      ExactFit.program(spec).foreach {
        case ExactFit.DefD(nm, e) => env.d(nm) = ExactFit.ev(e, env)
        case ExactFit.DefB(nm, b) => env.b(nm) = ExactFit.bv(b, env)
      }
      val win = env.d("w_m").toInt
      val feas = spec.masks.filter(m => env.b(s"c${m}_ok"))
      if (feas.nonEmpty) {
        // winner is feasible and attains the minimum score
        assert(env.b(s"c${win}_ok"), s"winner $win infeasible")
        val best = feas.map(m => env.d(s"c${m}_j")).min
        assert(env.d(s"c${win}_j") <= best + 1e-9,
               s"winner $win score ${env.d(s"c${win}_j")} > $best")
        // trend holds on the winner's slopes
        (0 until k).foreach { m =>
          val sl = env.d(s"w_s$m")
          if (trend == "ascending") assert(sl >= -1e-12)
          else assert(sl <= 1e-12)
        }
        // closed-form score == direct SSE - sum(y^2), within float
        // tolerance scaled to the data magnitude
        val a = env.d("w_a")
        val direct = xs.zip(ys).map { case (x, y) =>
          val p = a + (0 until k)
            .map(m => env.d(s"w_s$m") * len(m, x)).sum
          val r = y - p; r * r
        }.sum
        val syy = ys.map(y => y.toDouble * y).sum
        val score = env.d(s"c${win}_j")
        assert(math.abs((score + syy) - direct) <=
                 1e-6 * math.max(1.0, syy),
               s"SSE expansion ${score + syy} != direct $direct")
      }
    }
  }
}
