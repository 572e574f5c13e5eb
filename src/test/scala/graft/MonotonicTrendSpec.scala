package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Monotonic trends and bin-count bounds hold on a real fit: sf0.001
  * lineitem `l_extendedprice` against `y = l_returnflag == 'R'`, checked
  * on the fitted table's data-bin event rates. */
class MonotonicTrendSpec extends AnyFunSuite {

  private lazy val li: DataFrame = TestSpark.spark.read
    .parquet(s"${TestSpark.sf0001}/lineitem.parquet")
    .withColumn("y", when(col("l_returnflag") === "R", 1.0).otherwise(0.0))

  /** Strict direction changes of a rate sequence as a string of '+' and
    * '-'. The solver compares rates truncated to 1e-6, so steps below
    * that count as ties. */
  private def directions(rates: Seq[Double]): String =
    rates.sliding(2).collect {
      case Seq(a, b) if b - a > 1e-6 => '+'
      case Seq(a, b) if a - b > 1e-6 => '-'
    }.mkString.replaceAll("\\+{2,}", "+").replaceAll("-{2,}", "-")

  private val allowed = Map(
    "ascending" -> Set("", "+"),
    "descending" -> Set("", "-"),
    "peak" -> Set("", "+", "-", "+-"),
    "valley" -> Set("", "+", "-", "-+"),
    "auto" -> Set("", "+", "-", "+-", "-+"))

  for (trend <- Seq("peak", "valley", "ascending", "descending", "auto");
       // descending admits only 2 bins on this data (INFEASIBLE at
       // min_n_bins = 3); max_n_bins = 4 binds valley and auto
       (lo, hi) <- Seq((None, None), (Some(2), Some(4)))) {
    test(s"$trend with n_bins in ${lo.getOrElse("-")}..${hi.getOrElse("-")}" +
         ": OPTIMAL, bin count within bounds, at most one turn in the " +
         "trend's sense") {
      val f = OptimalBinning.fit(li, "l_extendedprice", "y",
        BinningConfig(name = "l_extendedprice",
                      monotonicTrend = Some(trend),
                      minNBins = lo, maxNBins = hi))
      assert(f.status == "OPTIMAL")
      assert(f.nDataBins == f.splits.length + 1)
      lo.foreach(m => assert(f.nDataBins >= m, f.splits.mkString(",")))
      hi.foreach(m => assert(f.nDataBins <= m, f.splits.mkString(",")))
      val rates = f.table.eventRate.take(f.nDataBins).toSeq
      assert(allowed(trend)(directions(rates)), rates.mkString(","))
      info(s"${f.nDataBins} bins, rates " +
           rates.map(r => f"$r%.4f").mkString(","))
    }
  }
}
