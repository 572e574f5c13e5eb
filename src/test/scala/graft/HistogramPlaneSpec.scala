package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Prebinning
import graft.operators._

/** Every 1-D fit reads the one histogram plane (`BinningProcess.aggregate`)
  * and the one prebinning kernel (`Prebinning.candidateSplits` +
  * `Prebinning.refine`). Each property is checked against an
  * independent count of the rows on `/root/testdata`, or on a small
  * inline frame where the property needs a crafted prebin. */
class HistogramPlaneSpec extends AnyFunSuite {

  private lazy val li: DataFrame = TestSpark.spark.read
    .parquet(s"${TestSpark.sf001}/lineitem.parquet")
    .withColumn("y", when(col("l_returnflag") === "R", 1.0).otherwise(0.0))

  /** Bin index of `x` at `splits`: bin i = [s_{i-1}, s_i). */
  private def binIdx(x: Column, splits: Array[Double]): Column =
    splits.indices.foldRight(lit(splits.length): Column) { (i, acc) =>
      when(x < splits(i), lit(i)).otherwise(acc)
    }

  // user splits 1, 2, 3: prebin (-inf, 1) is empty (continuous) or
  // pure (multiclass), so refinement drops split 1 and the mask's flag
  // of split 2 must move from index 1 to index 0. Split 3 is the best
  // single split when nothing is fixed.
  private val splits3 = Some(Array(1.0, 2.0, 3.0))

  test("continuous: the fixed mask follows the splits refinement keeps, " +
       "and removing a fixed split raises") {
    import TestSpark.spark.implicits._
    val df = (Seq.fill(20)((1.5, 0.0)) ++ Seq.fill(20)((2.5, 0.0)) ++
      Seq.fill(20)((3.5, 10.0))).toDF("x", "y")
    val free = ContinuousOptimalBinning.fit(df, "x", "y",
      BinningConfig(userSplits = splits3, monotonicTrend = None,
                    maxNBins = Some(2)))
    assert(free.splits.toSeq == Seq(3.0))
    val fixed = ContinuousOptimalBinning.fit(df, "x", "y",
      BinningConfig(userSplits = splits3, monotonicTrend = None,
                    maxNBins = Some(2),
                    userSplitsFixed = Some(Array(false, true, false))))
    assert(fixed.status == "OPTIMAL")
    assert(fixed.splits.toSeq == Seq(2.0))
    assert(fixed.table.nRecords.take(2).toSeq == Seq(20.0, 40.0))
    val e = intercept[IllegalArgumentException] {
      ContinuousOptimalBinning.fit(df, "x", "y",
        BinningConfig(userSplits = splits3, monotonicTrend = None,
                      userSplitsFixed = Some(Array(true, false, false))))
    }
    assert(e.getMessage.contains("Fixed user_splits are removed"))
  }

  test("multiclass: the fixed mask follows the splits refinement keeps, " +
       "and removing a fixed split raises") {
    import TestSpark.spark.implicits._
    // (-inf, 1) holds class 0 only; 1.5 and 2.5 share one class mix,
    // 3.5 has another
    val mix = Seq(0.0, 0.0, 1.0, 2.0)
    val df = (Seq.fill(5)((0.5, 0.0)) ++
      Seq.fill(5)(mix).flatten.map(c => (1.5, c)) ++
      Seq.fill(5)(mix).flatten.map(c => (2.5, c)) ++
      Seq.fill(5)(Seq(2.0, 2.0, 1.0, 0.0)).flatten.map(c => (3.5, c)))
      .toDF("x", "y")
    val free = MulticlassOptimalBinning.fit(df, "x", "y",
      BinningConfig(userSplits = splits3, monotonicTrend = None,
                    maxNBins = Some(2)))
    assert(free.splits.toSeq == Seq(3.0))
    val fixed = MulticlassOptimalBinning.fit(df, "x", "y",
      BinningConfig(userSplits = splits3, monotonicTrend = None,
                    maxNBins = Some(2),
                    userSplitsFixed = Some(Array(false, true, false))))
    assert(fixed.status == "OPTIMAL")
    assert(fixed.splits.toSeq == Seq(2.0))
    assert(fixed.nRecords.take(2).toSeq == Seq(25.0, 40.0))
    val e = intercept[IllegalArgumentException] {
      MulticlassOptimalBinning.fit(df, "x", "y",
        BinningConfig(userSplits = splits3, monotonicTrend = None,
                      userSplitsFixed = Some(Array(true, false, false))))
    }
    assert(e.getMessage.contains("Fixed user_splits are removed"))
  }

  test("user splits rounded by splitDigits count rows at the rounded " +
       "split in the binary, continuous, multiclass and SB fits") {
    import TestSpark.spark.implicits._
    // user split 2.56 rounds to 2.6: the 2.58 rows lie between the raw
    // and the rounded split, so they belong to bin 0
    val df = Seq(2.5 -> 3, 2.58 -> 2, 2.6 -> 4, 2.7 -> 2).flatMap {
      case (x, k) => Seq.fill(k)(Seq(0.0, 1.0, 2.0)).flatten.map(x -> _)
    }.toDF("x", "y3").withColumn("y", (col("y3") === 1.0).cast("double"))
    val rounded = Array(2.6)
    val cfg = BinningConfig(userSplits = Some(Array(2.56)),
                            userSplitsFixed = Some(Array(true)),
                            splitDigits = Some(1), monotonicTrend = None)
    val byBin = df.groupBy(binIdx(col("x"), rounded).as("bin"), col("y3"))
      .count().collect()
      .map(r => (r.getInt(0), r.getDouble(1)) -> r.getLong(2).toDouble)
      .toMap.withDefaultValue(0.0)
    def perClass(bin: Int): Seq[Double] = (0 to 2).map(c => byBin((bin, c)))
    val rows = Seq(perClass(0).sum, perClass(1).sum)
    assert(rows == Seq(15.0, 18.0))
    val events = Seq(perClass(0)(1), perClass(1)(1))

    val mc = MulticlassOptimalBinning.fit(df, "x", "y3", cfg)
    assert(mc.splits.toSeq == rounded.toSeq)
    assert(mc.nEvent.take(2).map(_.toSeq).toSeq == Seq(perClass(0), perClass(1)))
    val sb = SBOptimalBinning.fit(Seq((df, 1.0)), "x", "y", cfg)
    assert(sb.splits.toSeq == rounded.toSeq)
    assert(sb.table.nEvent.take(2).toSeq == events)
    assert(sb.table.nNonevent.take(2).toSeq ==
           rows.zip(events).map { case (n, e) => n - e })
    val bin = OptimalBinning.fit(df, "x", "y", cfg)
    assert(bin.splits.toSeq == rounded.toSeq)
    assert(bin.table.nEvent.take(2).toSeq == events)
    val cont = ContinuousOptimalBinning.fit(df, "x", "y3", cfg)
    assert(cont.splits.toSeq == rounded.toSeq)
    assert(cont.table.nRecords.take(2).toSeq == rows)
  }

  test("multiclass on orders: per-class counts per bin equal a groupBy " +
       "at the fitted splits; special and null rows land in Special " +
       "and Missing") {
    // sf0.001: every value is its own bucket, so the table counts are
    // exact at any split (gridded histograms are ROADMAP item 7)
    val o = TestSpark.spark.read
      .parquet(s"${TestSpark.sf0001}/orders.parquet")
      .withColumn("y", when(col("o_orderstatus") === "F", 0.0)
        .when(col("o_orderstatus") === "P", 1.0).otherwise(2.0))
      .withColumn("x",
        when(col("o_orderkey") % 11 === 0, lit(null).cast("double"))
          .when(col("o_orderkey") % 7 === 0, lit(-1.0))
          .otherwise(col("o_totalprice")))
    val f = MulticlassOptimalBinning.fit(o, "x", "y",
      BinningConfig(specialCodes = Some(SpecialList(Seq(-1.0)))))
    assert(f.status == "OPTIMAL")
    assert(f.splits.nonEmpty)
    val special = f.nDataBins
    val missing = f.nDataBins + 1
    assert(f.nEvent.length == f.nDataBins + 2)
    val row = when(col("x").isNull, lit(missing))
      .when(col("x") === -1.0, lit(special))
      .otherwise(binIdx(col("x"), f.splits))
    val expected = Array.fill(f.nEvent.length, 3)(0.0)
    o.groupBy(row.as("bin"), col("y")).count().collect().foreach { r =>
      expected(r.getInt(0))(r.getDouble(1).toInt) = r.getLong(2).toDouble
    }
    assert(f.nEvent.map(_.toSeq).toSeq == expected.map(_.toSeq).toSeq)
    assert(expected(special).sum > 0 && expected(missing).sum > 0)
  }

  test("SB: pooled and per-scenario counts equal an independent recount, " +
       "also on a gridded variable with user splits") {
    val s1 = li.where(col("l_linenumber") <= 3)
    val s2 = li.where(col("l_linenumber") > 3)
    def recount(df: DataFrame, x: String, splits: Array[Double])
        : (Seq[Double], Seq[Double]) = {
      val byBin = df.groupBy(binIdx(col(x), splits).as("bin"))
        .agg(sum(when(col("y") === 0.0, 1.0).otherwise(0.0)),
             sum(col("y")))
        .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2))))
        .toMap.withDefaultValue((0.0, 0.0))
      ((0 to splits.length).map(byBin(_)._1),
       (0 to splits.length).map(byBin(_)._2))
    }
    def check(f: FittedOptimalBinning, df: DataFrame, x: String): Unit = {
      val (ne, ev) = recount(df, x, f.splits)
      assert(f.table.nNonevent.take(f.nDataBins).toSeq == ne)
      assert(f.table.nEvent.take(f.nDataBins).toSeq == ev)
    }
    // l_extendedprice has more distinct values than histogramMaxBuckets
    assert(li.agg(countDistinct("l_extendedprice")).head.getLong(0) >
           BinningConfig().histogramMaxBuckets)
    val us = Array(25000.0, 50000.0, 75000.0)
    val pinned = SBOptimalBinning.fit(Seq((s1, 0.6), (s2, 0.4)),
      "l_extendedprice", "y",
      BinningConfig(userSplits = Some(us), monotonicTrend = None,
                    userSplitsFixed = Some(Array.fill(3)(true))))
    assert(pinned.splits.toSeq == us.toSeq)
    check(pinned, li, "l_extendedprice")
    // one scenario at weight 1 reads that scenario's own counts
    Seq(s1, s2).foreach { s =>
      check(SBOptimalBinning.fit(Seq((s, 1.0)), "l_extendedprice", "y",
              BinningConfig(userSplits = Some(us), monotonicTrend = None)),
            s, "l_extendedprice")
      val cart = SBOptimalBinning.fit(Seq((s, 1.0)), "l_quantity", "y")
      assert(cart.splits.nonEmpty)
      check(cart, s, "l_quantity")
    }
    val pooled = SBOptimalBinning.fit(Seq((s1, 0.5), (s2, 0.5)),
                                      "l_quantity", "y")
    check(pooled, li, "l_quantity")
  }

  test("SB honours prebinningMethod and splitDigits") {
    val s1 = li.where(col("l_linenumber") <= 3)
    val s2 = li.where(col("l_linenumber") > 3)
    val sc = Seq((s1, 0.5), (s2, 0.5))
    val cfg = BinningConfig(monotonicTrend = None, maxNPrebins = 4)
    val quantile = SBOptimalBinning.fit(sc, "l_quantity", "y",
      cfg.copy(prebinningMethod = "quantile"))
    assert(quantile.splits.nonEmpty)
    val q = li.agg(percentile(col("l_quantity"),
                              lit(Array(0.25, 0.5, 0.75)))).head
      .getSeq[Double](0)
    assert(quantile.splits.forall(q.contains), quantile.splits.mkString(","))
    val rounded = SBOptimalBinning.fit(sc, "l_extendedprice", "y",
      cfg.copy(splitDigits = Some(-3)))
    assert(rounded.splits.nonEmpty)
    assert(rounded.splits.forall(s => s % 1000.0 == 0.0),
           rounded.splits.mkString(","))
  }

  test("MDLP.fit on a gridded column equals the prebinningMethod = mdlp " +
       "splits and mdlpSplits over an independent grid histogram") {
    val x = "l_extendedprice"
    val buckets = 200
    // a target whose mix moves with the price, with no pure region
    val li = this.li.withColumn("y",
      when((col(x) > 50000) =!= (col("l_linenumber") === 1), 1.0)
        .otherwise(0.0))
    val st = li.agg(min(x), max(x), countDistinct(x)).head
    assert(st.getLong(2) > buckets)
    val splits = MDLP.fit(li, x, "y", histogramMaxBuckets = buckets)
    assert(splits.nonEmpty)
    val hist = li
      .groupBy(Histograms.gridSnap(col(x), st.getDouble(0), st.getDouble(1),
                                   buckets).as("v"))
      .agg(count(lit(1)), sum(when(col("y") === 0.0, 1.0).otherwise(0.0)),
           sum(col("y")))
      .collect()
      .map(r => Prebinning.HistBucket(r.getDouble(0), r.getLong(1),
                                      r.getDouble(2), r.getDouble(3)))
      .sortBy(_.value)
    assert(hist.length <= buckets + 1)
    assert(splits.toSeq == Prebinning.mdlpSplits(hist).toSeq)
    val fit = OptimalBinning.fit(li, x, "y",
      BinningConfig(prebinningMethod = "mdlp", monotonicTrend = None,
                    histogramMaxBuckets = buckets))
    assert(fit.splits.toSeq == splits.toSeq)
  }

  /** Curve values at `xs`, evaluated through the fitted Column. */
  private def curveAt(c: PWBinning.PWCurve, xs: Seq[Double]): Array[Double] = {
    import TestSpark.spark.implicits._
    val ys = xs.toDF("x").select(col("x"), c.predict(col("x")).as("f"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    xs.map(ys).toArray
  }

  test("PW: a degree-2 continuous curve is C1 at its knots") {
    val li1 = TestSpark.spark.read
      .parquet(s"${TestSpark.sf0001}/lineitem.parquet")
      .withColumn("y", when(col("l_returnflag") === "R", 1.0).otherwise(0.0))
    val pw = PWBinning.fit(li1, "l_quantity", "y", degree = 2,
                           monotonicTrend = None)
    assert(pw.splits.length >= 2)
    // each side of a knot is one quadratic: three points on a side give
    // its exact value and slope at the knot
    val h = 0.1
    assert(pw.splits.sliding(2).forall(p => p(1) - p(0) > 3 * h))
    pw.splits.foreach { s =>
      val Array(l3, l2, l1, f0, r1, r2) =
        curveAt(pw.curve, Seq(s - 3 * h, s - 2 * h, s - h, s, s + h, s + 2 * h))
      val leftValue = 3 * l1 - 3 * l2 + l3
      val leftSlope = (3 * f0 - 4 * l1 + l2) / (2 * h)
      val rightSlope = (-3 * f0 + 4 * r1 - r2) / (2 * h)
      assert(math.abs(leftValue - f0) < 1e-9, s"value jump at $s")
      assert(math.abs(leftSlope - rightSlope) < 1e-7, s"slope jump at $s")
    }
  }

  test("PW: degree-1 curves are monotone where the trend is constrained") {
    val x = "l_quantity"
    Seq("ascending", "descending").foreach { trend =>
      val pw = PWBinning.fit(li, x, "y", monotonicTrend = Some(trend))
      assert(pw.splits.nonEmpty)
      val grid = (0 to 500).map(i => 1.0 + 49.0 * i / 500) ++
        pw.splits.flatMap(s => Seq(s - 1e-6, s, s + 1e-6))
      val f = curveAt(pw.curve, grid.sorted)
      val steps = f.sliding(2).map(p => p(1) - p(0)).toSeq
      if (trend == "ascending") assert(steps.forall(_ >= -1e-12), trend)
      else assert(steps.forall(_ <= 1e-12), trend)
    }
  }
}
