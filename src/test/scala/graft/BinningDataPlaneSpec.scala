package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** The binning data plane on sf0.001 lineitem: single-variable fits run
  * as one-variable `BinningProcess` batches, so every `BinningConfig`
  * parameter means the same thing in both entry points. Each property is
  * checked against an independent count of the rows. */
class BinningDataPlaneSpec extends AnyFunSuite {

  private lazy val li: DataFrame = TestSpark.spark.read
    .parquet(s"${TestSpark.sf0001}/lineitem.parquet")
    .withColumn("y", when(col("l_returnflag") === "R", 1.0).otherwise(0.0))

  private def events(df: DataFrame): Long = df.where(col("y") === 1.0).count()

  /** Spark jobs started while `body` runs. */
  private def jobsOf(body: => Unit): Int = {
    val sc = TestSpark.spark.sparkContext
    TestListenerDrain(sc)
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try { body; TestListenerDrain(sc) }
    finally sc.removeSparkListener(listener)
    n.get
  }

  test("a column named it's fits through OptimalBinning.fit and " +
       "BinningProcess.fit") {
    val df = li.withColumn("it's", col("l_quantity"))
    val single = OptimalBinning.fit(df, "it's", "y",
                                    BinningConfig(name = "it's"))
    val proc = BinningProcess.fit(df, Seq("it's", "l_returnflag"), "y")
    val batch = proc.fits("it's")
    assert(single.splits.nonEmpty)
    assert(single.splits.toSeq == batch.splits.toSeq)
    assert(batch.config.name == "it's")
    assert(batch.table.tRecords.toLong == df.count())
    val out = proc.transform(df, "woe")
    assert(out.where(col("`it's`").isNull).count() == 0)
  }

  test("a numeric column named it's and a categorical column fit " +
       "through BinningProcessSketch with exact counts") {
    val df = li.withColumn("it's", col("l_quantity"))
    val ps = new graft.streaming.BinningProcessSketch(Seq("it's"),
      catVariables = Seq("l_linestatus"))
    ps.add(df, "y")
    val fits = ps.solveAll()
    assert(fits.keySet == Set("it's", "l_linestatus"))
    val n = df.count()
    val ev = events(df)
    val num = ps.sketch("it's").sketch
    assert(num.nEvent == ev)
    assert(num.nNonevent == n - ev)
    assert(fits("it's").table.tRecords.toLong == n)
    val byCat = df.groupBy("l_linestatus")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("e"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val cat = ps.catSketch("l_linestatus").sketch.counts
      .map { case (c, (k, _, w1)) => c -> (k, w1) }.toMap
    assert(cat == byCat)
  }

  test("numeric special codes on a string variable: the categorical " +
       "Special row is empty and transform covers every row") {
    val proc = BinningProcess.fit(li, Seq("l_returnflag", "l_quantity"), "y",
      config = BinningConfig(specialCodes = Some(SpecialList(Seq(-999.0)))))
    val cat = proc.fits("l_returnflag").table
    val special = cat.rows.indexWhere(_.bin == "Special")
    assert(special >= 0)
    assert(cat.nRecords(special) == 0.0)
    val n = li.count()
    assert(cat.tRecords.toLong == n)
    val out = proc.transform(li, "woe")
    assert(out.count() == n)
    assert(out.where(col("l_returnflag").isNull ||
                     col("l_quantity").isNull).count() == 0)
  }

  test("classWeight {1.0 -> 2.0} doubles the event total and keeps the " +
       "non-event total, in the batch and in a categorical single fit") {
    val n = li.count()
    val ev = events(li)
    val cw = Some(Map(1.0 -> 2.0))
    val proc = BinningProcess.fit(li, Seq("l_quantity", "l_linestatus"), "y",
      config = BinningConfig(classWeight = cw))
    val cat = OptimalBinning.fit(li, "l_linestatus", "y",
      BinningConfig(dtype = "categorical", classWeight = cw))
    Seq(proc.fits("l_quantity").table, proc.fits("l_linestatus").table,
        cat.table).foreach { t =>
      assert(t.tEvent == 2.0 * ev, s"events ${t.tEvent} vs 2 x $ev")
      assert(t.tNonevent == (n - ev).toDouble)
    }
  }

  test("fixLb/fixUb remove the out-of-bound clean rows from the totals") {
    val proc = BinningProcess.fit(li, Seq("l_quantity"), "y",
      config = BinningConfig(fixLb = Some(10.0), fixUb = Some(40.0)))
    val kept = li.where(col("l_quantity").between(10, 40))
    val t = proc.fits("l_quantity").table
    assert(kept.count() < li.count())
    assert(t.tRecords.toLong == kept.count())
    assert(t.tEvent.toLong == events(kept))
  }

  test("outlierDetector = range removes the rows the detector flags") {
    val params = Map[String, Any]("k" -> 0.1)
    val proc = BinningProcess.fit(li, Seq("l_extendedprice"), "y",
      config = BinningConfig(outlierDetector = Some("range"),
                             outlierParams = params))
    val x = col("l_extendedprice").cast("double")
    val flagged = li.where(
      Outliers.fitRange(li, "l_extendedprice", k = 0.1).support(x))
    val t = proc.fits("l_extendedprice").table
    assert(flagged.count() > 0)
    assert(t.tRecords.toLong == li.count() - flagged.count())
    assert(t.tEvent.toLong == events(li) - events(flagged))
  }

  test("outlierDetector = yquantile over zero-MAD bins drops the rows " +
       "off their bin's median instead of dividing by zero") {
    val df = TestSpark.spark.read
      .parquet(s"${TestSpark.sf001}/lineitem.parquet")
      .withColumn("y", when(col("l_returnflag") === "R", 1.0).otherwise(0.0))
    // every x-quintile holds fewer than half events: its y median and
    // MAD are 0, so numpy's inf/NaN makes every event row an outlier
    // and keeps every non-event row
    val shares = df
      .withColumn("q", ntile(5).over(
        org.apache.spark.sql.expressions.Window.orderBy("l_extendedprice")))
      .groupBy("q").agg(avg(col("y"))).collect().map(_.getDouble(1))
    assert(shares.forall(_ < 0.45), shares.mkString(","))
    val f = OptimalBinning.fit(df, "l_extendedprice", "y",
      BinningConfig(outlierDetector = Some("yquantile")))
    assert(f.status == "OPTIMAL")
    assert(f.table.tEvent == 0.0)
    assert(f.table.tRecords.toLong == df.count() - events(df))
  }

  test("outlierDetector = zscore with a zero MAD drops the rows off the " +
       "median instead of dividing by zero") {
    // over half the rows share x = 1, so the median is 1 and the MAD 0
    val df = li.withColumn("z",
      when(col("l_quantity") < 35, 1.0).otherwise(col("l_quantity")))
    val f = OptimalBinning.fit(df, "z", "y",
      BinningConfig(outlierDetector = Some("zscore")))
    assert(f.status == "OPTIMAL")
    val kept = df.where(col("z") === 1.0)
    assert(kept.count() * 2 > df.count())
    assert(f.table.tRecords.toLong == kept.count())
    assert(f.table.tEvent.toLong == events(kept))
  }

  test("fit timings: data pass, prebinning, solver and postprocessing " +
       "add up to the total") {
    for (x <- Seq("l_extendedprice", "l_returnflag")) {
      val t = OptimalBinning.fit(li, x, "y",
        BinningConfig(dtype = if (x == "l_returnflag") "categorical"
                              else "numerical")).timings
      val phases = Seq("data_pass", "prebinning", "solver", "postprocessing")
      phases.foreach(k => assert(t.getOrElse(k, -1.0) >= 0.0, s"$x $k"))
      assert(math.abs(t("total") - phases.map(t).sum) < 1e-6, s"$x $t")
    }
  }

  test("a mixed numeric + categorical fit equals the two families " +
       "fitted apart, in as many jobs") {
    val df = li.withColumn("linenumber", col("l_linenumber").cast("string"))
    val num = Seq("l_extendedprice", "l_quantity")
    val cat = Seq("linenumber", "l_linestatus")
    BinningProcess.fit(df, num ++ cat, "y") // one-time jobs (footers)
    var mixed, numOnly, catOnly: FittedBinningProcess = null
    val jobs = Seq(jobsOf { mixed = BinningProcess.fit(df, num ++ cat, "y") },
                   jobsOf { numOnly = BinningProcess.fit(df, num, "y") },
                   jobsOf { catOnly = BinningProcess.fit(df, cat, "y") })
    info(s"jobs: mixed ${jobs(0)}, numeric ${jobs(1)}, categorical ${jobs(2)}")
    assert(jobs(0) == jobs(1) + jobs(2))
    for ((v, apart) <- num.map(_ -> numOnly) ++ cat.map(_ -> catOnly)) {
      val (a, b) = (mixed.fits(v), apart.fits(v))
      assert(a.status == b.status, v)
      assert(a.splits.toSeq == b.splits.toSeq, v)
      assert(a.table.nRecords.toSeq == b.table.nRecords.toSeq, v)
      assert(a.table.nEvent.toSeq == b.table.nEvent.toSeq, v)
      assert(Option(a.catBins).map(_.map(_.toSeq).toSeq) ==
               Option(b.catBins).map(_.map(_.toSeq).toSeq), v)
    }
  }

  test("every job of a mixed fit carries the caller's job group, call " +
       "after call") {
    val sc = TestSpark.spark.sparkContext
    val df = li.withColumn("linenumber", col("l_linenumber").cast("string"))
    for (round <- 1 to 3) {
      TestListenerDrain(sc)
      val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          groups.add(String.valueOf(
            e.properties.getProperty("spark.jobGroup.id")))
      }
      sc.addSparkListener(listener)
      sc.setJobGroup(s"mixed-$round", "mixed fit")
      try {
        BinningProcess.fit(df,
          Seq("l_quantity", "l_extendedprice", "linenumber"), "y")
        TestListenerDrain(sc)
      } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
      assert(!groups.isEmpty)
      groups.forEach(g => assert(g == s"mixed-$round", groups))
    }
  }

  test("a varOverrides histogramMaxBuckets = 50 gives the splits of a " +
       "one-variable fit with that config") {
    val cfg = BinningConfig(histogramMaxBuckets = 50)
    val proc = BinningProcess.fit(li, Seq("l_extendedprice", "l_quantity"),
      "y", varOverrides = Map("l_extendedprice" -> cfg))
    val single = OptimalBinning.fit(li, "l_extendedprice", "y", cfg)
    val wide = OptimalBinning.fit(li, "l_extendedprice", "y")
    assert(proc.fits("l_extendedprice").splits.toSeq == single.splits.toSeq)
    // the 50-cell grid does move the splits of this variable
    assert(wide.splits.toSeq != single.splits.toSeq)
  }

  test("a user-split fit runs fewer jobs than the per-variable plane did; " +
       "a general fit runs no more") {
    val df = li
    df.count() // resolve the parquet footer outside the counted window
    val pinned = jobsOf(OptimalBinning.fit(df, "l_quantity", "y",
      BinningConfig(userSplits = Some(Array(10.0, 25.0, 40.0)))))
    val general = jobsOf(OptimalBinning.fit(df, "l_extendedprice", "y"))
    val contPinned = jobsOf(ContinuousOptimalBinning.fit(df, "l_quantity",
      "l_extendedprice",
      BinningConfig(userSplits = Some(Array(10.0, 25.0, 40.0)))))
    info(s"jobs: user-split $pinned, general $general, " +
         s"continuous user-split $contPinned")
    // the per-variable planes these fits used to run took 4 (binary
    // user splits), 4 (binary general) and 2 (continuous user splits)
    // jobs here (local[4], AQE on)
    assert(pinned < 4, s"user-split fit ran $pinned jobs")
    assert(general <= 4, s"general fit ran $general jobs")
    assert(contPinned <= 2, s"continuous user-split fit ran $contPinned jobs")
  }
}
