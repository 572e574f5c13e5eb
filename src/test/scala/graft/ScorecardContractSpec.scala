package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.operators.Scorecard.ScalingConfig

/** Scorecard contracts on sf0.001 lineitem against
  * `y = l_returnflag == 'R'`, with `l_linenumber` as a string
  * (categorical) variable, each checked on the fitted points table or
  * the scored rows: coefficients that do not depend on the shuffle
  * partition count, the min_max score range (plain, intercept-based,
  * reversed) and the rounding rule. */
class ScorecardContractSpec extends AnyFunSuite {

  private lazy val li: DataFrame = TestSpark.spark.read
    .parquet(s"${TestSpark.sf0001}/lineitem.parquet")
    .withColumn("y", when(col("l_returnflag") === "R", 1.0).otherwise(0.0))
    .withColumn("linenumber", col("l_linenumber").cast("string"))

  private val vars =
    Seq("l_extendedprice", "l_quantity", "l_discount", "linenumber")

  private def atPartitions[T](n: Int)(body: => T): T = {
    val conf = TestSpark.spark.conf
    val old = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally conf.set("spark.sql.shuffle.partitions", old)
  }

  private def bits(xs: Seq[Double]): Seq[Long] =
    xs.map(java.lang.Double.doubleToRawLongBits)

  test("binary and continuous coefficients are bit-identical at 1 and 8 " +
       "shuffle partitions") {
    val Seq(b1, b8) = Seq(1, 8).map(n => atPartitions(n)(
      Scorecard.fit(li, vars, "y")))
    assert(bits(b1.coefficients.toSeq) == bits(b8.coefficients.toSeq))
    assert(bits(Seq(b1.estimatorIntercept)) ==
             bits(Seq(b8.estimatorIntercept)))
    assert(bits(b1.pointsTable.map(_.points).toSeq) ==
             bits(b8.pointsTable.map(_.points).toSeq))

    val Seq(c1, c8) = Seq(1, 8).map(n => atPartitions(n)(
      Scorecard.fitContinuousTarget(li, Seq("l_quantity", "l_discount",
                                            "l_tax"), "l_extendedprice")))
    assert(bits(c1.coefficients.toSeq) == bits(c8.coefficients.toSeq))
    assert(bits(Seq(c1.estimatorIntercept)) ==
             bits(Seq(c8.estimatorIntercept)))
  }

  private def minMax(interceptBased: Boolean = false,
                     reverse: Boolean = false,
                     rounding: Boolean = false): ScalingConfig =
    ScalingConfig(method = Some("min_max"), min = 300, max = 850,
                  interceptBased = interceptBased,
                  reverseScorecard = reverse, rounding = rounding)

  /** Lowest and highest total score over every bin combination. */
  private def range(sc: FittedScorecard): (Double, Double) = {
    val byVar = sc.pointsTable.groupBy(_.variable).values
    (byVar.map(_.map(_.points).min).sum + sc.baseIntercept,
     byVar.map(_.map(_.points).max).sum + sc.baseIntercept)
  }

  for ((label, interceptBased, reverse) <- Seq(
         ("plain", false, false), ("interceptBased", true, false),
         ("reverseScorecard", false, true))) {
    test(s"min_max $label: scores span [min, max] and fall as the " +
         "event log-odds rise (rise when reversed)") {
      val sc = Scorecard.fit(li, vars, "y",
                             scaling = minMax(interceptBased, reverse))
      val (lo, hi) = range(sc)
      assert(math.abs(lo - 300) < 1e-8 && math.abs(hi - 850) < 1e-8,
             s"range $lo..$hi")
      if (interceptBased)
        sc.pointsTable.groupBy(_.variable).foreach { case (v, rs) =>
          assert(rs.map(_.points).min == 0.0, v)
        }
      else assert(sc.baseIntercept == 0.0)
      // the score is affine in the estimator's linear predictor
      val rows = li.select(sc.scoreColumn().as("s"),
                           sc.predictProbaColumn().as("p"))
        .collect().map(r => (math.log(r.getDouble(1) / (1 - r.getDouble(1))),
                             r.getDouble(0)))
      val (l0, s0) = rows.minBy(_._1)
      val (l1, s1) = rows.maxBy(_._1)
      val slope = (s1 - s0) / (l1 - l0)
      assert(if (reverse) slope > 0 else slope < 0, s"slope $slope")
      rows.foreach { case (l, s) =>
        assert(math.abs(s0 + slope * (l - l0) - s) < 1e-6, s"$l -> $s")
      }
    }
  }

  test("rounding: integer points within one of the unrounded points; " +
       "min_max keeps the exact score range") {
    for (scaling <- Seq(minMax(), minMax(interceptBased = true),
                        ScalingConfig(method = Some("pdo_odds")))) {
      val exact = Scorecard.fit(li, vars, "y", scaling = scaling)
      val rounded = Scorecard.fit(li, vars, "y",
                                  scaling = scaling.copy(rounding = true))
      val pairs = rounded.pointsTable.zip(exact.pointsTable)
      pairs.foreach { case (r, e) =>
        assert(r.points == math.rint(r.points), s"$scaling ${r.points}")
        assert(math.abs(r.points - e.points) < 1.0,
               s"$scaling ${r.points} vs ${e.points}")
      }
      assert(rounded.baseIntercept == math.rint(exact.baseIntercept))
      // the total min and max are the rounded unrounded ones
      val (lo, hi) = range(exact)
      assert(range(rounded) == ((math.rint(lo), math.rint(hi))), scaling)
    }
  }
}
