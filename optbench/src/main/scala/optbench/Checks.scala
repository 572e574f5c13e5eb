package optbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.BinningTables.BinaryBinningTable
import graft.operators.{FittedOptimalBinning, SpecialList}

/** Checks made apart from the program: bin membership, counts and
  * statistics are recomputed here from the raw rows and the fitted
  * splits, never read back through the program's own transform. */
object Checks {

  /** Relative-or-absolute closeness for recomputed floating values. */
  def close(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** Table row index of each row (data bins, others, specials, missing,
    * in table order); -1 for an unseen category. Numeric data bins use
    * `np.digitize(x, splits)` (a value equal to a split goes to the
    * upper bin) unless `tieLower`, the sketch's `searchsorted(side =
    * "left")` rule (a value equal to a split goes to the lower bin). */
  def binIndex(f: FittedOptimalBinning, x0: Column,
               tieLower: Boolean = false): Column = {
    val nTable = f.table.nRecords.length
    val hasOthers = f.catOthers != null && f.catOthers.nonEmpty
    val specialIdx = f.nDataBins + (if (hasOthers) 1 else 0)
    if (f.config.dtype == "numerical") {
      val x = x0.cast("double")
      val specials = f.config.specialCodes match {
        case Some(SpecialList(vs)) => vs.map(_.toString.toDouble)
        case _                     => Seq.empty
      }
      val data = f.splits.foldLeft(lit(0)) { (acc, s) =>
        acc + (if (tieLower) when(x > s, 1).otherwise(0)
               else when(x >= s, 1).otherwise(0))
      }
      val base = when(x.isNull || isnan(x), lit(nTable - 1))
      (if (specials.isEmpty) base
       else base.when(x.isin(specials: _*), lit(specialIdx)))
        .otherwise(data)
    } else {
      val x = x0.cast("string")
      var e = when(x.isNull, lit(nTable - 1))
      f.catBins.zipWithIndex.foreach { case (cats, i) =>
        if (cats.nonEmpty) e = e.when(x.isin(cats.toSeq: _*), lit(i))
      }
      if (hasOthers) {
        if (f.othersCatchAll) e.otherwise(lit(f.nDataBins))
        else e.when(x.isin(f.catOthers.toSeq: _*), lit(f.nDataBins))
              .otherwise(lit(-1))
      } else e.otherwise(lit(-1))
    }
  }

  /** (records, events) per (variable, table row) from the raw rows, in
    * one melted aggregate. */
  def recount(df: DataFrame, yCol: String,
              fits: Seq[(String, FittedOptimalBinning)],
              tieLower: Boolean = false)
      : Map[(String, Int), (Long, Long)] = {
    val idx = fits.zipWithIndex.map { case ((v, f), i) =>
      binIndex(f, col(v), tieLower).as(s"__i$i")
    }
    val stack = s"stack(${fits.length}, " +
      fits.indices.map(i => s"'${fits(i)._1}', __i$i").mkString(", ") +
      ") as (var, idx)"
    df.select(col(yCol).cast("long").as("y") +: idx: _*)
      .selectExpr("y", stack)
      .groupBy("var", "idx").agg(count(lit(1)), sum("y"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
  }

  /** [[recount]] of the rows' grid representatives instead of their
    * values: the program's rule for a numeric variable with more than
    * `histogramMaxBuckets` distinct values, which it counts on a uniform
    * grid of that many cells spanning its clean (not missing, not
    * special) values, each row standing at its cell's lower edge. */
  def gridRecount(df: DataFrame, yCol: String,
                  fits: Seq[(String, FittedOptimalBinning)])
      : Map[(String, Int), (Long, Long)] = {
    val clean = fits.map { case (v, f) =>
      val x = col(v).cast("double")
      val specials = f.config.specialCodes match {
        case Some(SpecialList(vs)) => vs.map(_.toString.toDouble)
        case _                     => Seq.empty
      }
      v -> (x.isNotNull && !isnan(x) &&
            (if (specials.isEmpty) lit(true) else !x.isin(specials: _*)))
    }.toMap
    val bounds = df.agg(
      min(when(clean(fits.head._1), col(fits.head._1))),
      (max(when(clean(fits.head._1), col(fits.head._1))) +:
        fits.tail.flatMap { case (v, _) =>
          Seq(min(when(clean(v), col(v))), max(when(clean(v), col(v))))
        }): _*).head()
    val gridded = fits.zipWithIndex.foldLeft(df) { case (acc, ((v, f), i)) =>
      val (mn, mx) = (bounds.getDouble(2 * i), bounds.getDouble(2 * i + 1))
      val width = (mx - mn) / f.config.histogramMaxBuckets
      val x = col(v).cast("double")
      if (width <= 0 || !java.lang.Double.isFinite(width)) acc
      else acc.withColumn(v, when(clean(v),
        lit(mn) + floor((x - mn) / width) * lit(width)).otherwise(x))
    }
    recount(gridded, yCol, fits)
  }

  /** Rows of one table whose (records, events) differ from a recount. */
  def recountMismatches(v: String, t: BinaryBinningTable,
                        counts: Map[(String, Int), (Long, Long)]): Seq[Int] = {
    val seen = counts.keys.filter(_._1 == v).map(_._2).toSet
    val rows = t.nRecords.indices.filter { i =>
      val (n, e) = counts.getOrElse((v, i), (0L, 0L))
      t.nRecords(i) != n.toDouble || t.nEvent(i) != e.toDouble
    }
    // rows the recount put outside every table bin (an unseen category)
    rows ++ seen.filter(i => i < 0 || i >= t.nRecords.length).toSeq
  }

  /** Totals of a table equal the independent count of the input. */
  def totalsMatch(t: BinaryBinningTable, n: Long, events: Long): Boolean =
    t.tRecords == n.toDouble && t.tEvent == events.toDouble

  /** WoE and IV recomputed from the table's own counts. */
  def woeIvMatch(t: BinaryBinningTable): Boolean = {
    val e = t.nEvent.sum
    val ne = t.nNonevent.sum
    val woe = t.nEvent.indices.map { i =>
      if (t.nEvent(i) > 0 && t.nNonevent(i) > 0)
        math.log((t.nNonevent(i) / ne) / (t.nEvent(i) / e))
      else 0.0
    }
    val iv = t.nEvent.indices.map { i =>
      (t.nNonevent(i) / ne - t.nEvent(i) / e) * woe(i)
    }.sum
    woe.indices.forall(i => close(woe(i), t.woe(i))) && close(iv, t.iv)
  }

  /** Two-sided p-value of the pooled two-proportion z-test. */
  def twoProportionPvalue(e1: Double, n1: Double, e2: Double,
                          n2: Double): Double = {
    val p = (e1 + e2) / (n1 + n2)
    val z = (e1 / n1 - e2 / n2) / math.sqrt(p * (1 - p) * (1 / n1 + 1 / n2))
    erfc(math.abs(z) / math.sqrt(2))
  }

  /** Complementary error function: the Taylor series of erf below 2,
    * the continued fraction (modified Lentz) above; both agree with
    * exact values to about 1e-14, far below any p-value margin. */
  def erfc(x: Double): Double = {
    if (x < 0) return 2.0 - erfc(-x)
    if (x < 2.0) {
      // erf series: 2/sqrt(pi) * sum (-1)^n x^(2n+1) / (n! (2n+1))
      var sum = 0.0; var term = x; var n = 0
      while (math.abs(term) > 1e-17 * math.abs(sum) || n < 3) {
        sum += term / (2 * n + 1)
        n += 1
        term = -term * x * x / n
      }
      1.0 - 2.0 / math.sqrt(math.Pi) * sum
    } else {
      // Lentz continued fraction for erfc
      val tiny = 1e-300
      var f = x; var c = x; var d = 0.0
      var i = 1
      var delta = 0.0
      do {
        val a = i * 0.5
        d = x + a * d; d = if (math.abs(d) < tiny) tiny else d
        c = x + a / c; c = if (math.abs(c) < tiny) tiny else c
        d = 1.0 / d
        delta = c * d
        f *= delta
        i += 1
      } while (math.abs(delta - 1.0) > 1e-15 && i < 5000)
      math.exp(-x * x) / math.sqrt(math.Pi) / f
    }
  }

  /** Sign changes of the data-bin event rate sequence. */
  def directionChanges(rates: Seq[Double]): Int = {
    val signs = rates.sliding(2).collect {
      case Seq(a, b) if b != a => math.signum(b - a)
    }.toSeq
    signs.sliding(2).count {
      case Seq(a, b) => a != b
      case _         => false
    }
  }
}
