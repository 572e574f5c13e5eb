package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Population-stability monitoring (`optbinning/scorecard/monitoring.py`):
  * PSI between an expected (train) and actual (production) cohort, and the
  * supporting significance tests. Data plane: one groupBy per cohort (or a
  * single groupBy(cohort, bin)); the bins-sized counts align and go
  * through [[psiTerms]] on the driver.
  */
object Monitoring {

  /** Per-bin PSI contributions from two pre-binned cohorts.
    * psi_i = (p_actual_i - p_expected_i) * ln(p_actual_i / p_expected_i)
    * (`monitoring.py:502-545`). Inputs are (bin -> count) aggregates;
    * the join is tiny (#bins rows) and broadcast.
    */
  def psiTable(expected: DataFrame, actual: DataFrame,
               binCol: String = "bin",
               countCol: String = "count"): DataFrame = {
    // The binned aggregates are bins-sized: ONE collect each, then the
    // align/totals/psi arithmetic runs driver-side. (The previous
    // full-outer-join formulation cost two extra total-count jobs and
    // re-evaluated both aggregate branches inside the join.)
    def counts(df: DataFrame): Map[Any, Double] =
      df.select(col(binCol), col(countCol).cast("double"))
        .collect().map(r => r.get(0) -> r.getDouble(1)).toMap
    val e = counts(expected)
    val a = counts(actual)
    val bins = (e.keySet ++ a.keySet).toSeq
    psiFrame(expected.sparkSession, expected.schema(binCol).dataType, bins,
             bins.map(e.getOrElse(_, 0.0)).toArray,
             bins.map(a.getOrElse(_, 0.0)).toArray)
  }

  /** The PSI kernel: per-bin terms (p_a - p_e) * ln(p_a / p_e) of two
    * count vectors aligned by bin, p = count / total. A bin empty in
    * either cohort (or a cohort with no rows) contributes 0. */
  private[graft] def psiTerms(countE: Array[Double],
                             countA: Array[Double]): Array[Double] = {
    val te = countE.sum
    val ta = countA.sum
    countE.indices.map { i =>
      val pe = countE(i) / te
      val pa = countA(i) / ta
      if (pe > 0 && pa > 0) (pa - pe) * math.log(pa / pe) else 0.0
    }.toArray
  }

  /** The [[psiTable]] frame of aligned per-bin counts, ordered by bin. */
  private[operators] def psiFrame(spark: SparkSession, binType: DataType,
                                  bins: Seq[Any], countE: Array[Double],
                                  countA: Array[Double]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val (te, ta) = (countE.sum, countA.sum)
    val psi = psiTerms(countE, countA)
    val rows = bins.indices.map { i =>
      Row(bins(i), countE(i), countA(i), countE(i) / te, countA(i) / ta,
          psi(i))
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("bin", binType),
      StructField("count_e", DoubleType), StructField("count_a", DoubleType),
      StructField("p_expected", DoubleType),
      StructField("p_actual", DoubleType), StructField("psi", DoubleType)))
    spark.createDataFrame(rows.asJava, schema).orderBy("bin")
  }

  /** One-shot PSI over a raw column given fixed splits: bins both cohorts
    * with the same CASE chain and aggregates in one pass per cohort. */
  def psi(expected: DataFrame, actual: DataFrame, xCol: String,
          splits: Array[Double]): DataFrame = {
    def binned(df: DataFrame): DataFrame = {
      val x = col(xCol).cast("double")
      val idx = splits.indices.foldRight(lit(splits.length): Column) {
        (i, acc) => when(x < splits(i), lit(i)).otherwise(acc)
      }
      // null/NaN scores have no bin — the CASE chain would otherwise
      // route them into the top bin and a cohort's null rate would
      // masquerade as score drift (StreamingDriftMonitor.add applies
      // the same exclusion, so the two PSI paths agree)
      df.where(x.isNotNull && !isnan(x))
        .select(idx.as("bin")).groupBy("bin").agg(count(lit(1)).as("count"))
    }
    psiTable(binned(expected), binned(actual))
  }

  /** PSI significance thresholds (`monitoring.py:560-571`): psi total vs
    * 0.1/0.25 traffic-light rule. */
  def psiVerdict(psiTotal: Double): String =
    if (psiTotal < 0.1) "Insignificant change"
    else if (psiTotal < 0.25) "Requires investigation"
    else "Significance change"

  /** Chi-square test comparing event counts of two cohorts per bin
    * (`monitoring.py:598-654` statistical tests, binary target). Expects
    * per-bin (n_records, n_event) for both cohorts; computes per-bin
    * 2x2 chi2 p-values driver-side (bin count is small).
    */
  def chi2Tests(bins: Array[(String, Double, Double, Double, Double)])
      : Array[(String, Double, Double)] = {
    bins.map { case (bin, nE, eE, nA, eA) =>
      val obs = Array(Array(nE - eE, eE), Array(nA - eA, eA))
      val (stat, p, _) = graft.core.Stats.chi2Contingency(obs)
      (bin, stat, p)
    }
  }

  /** CUSUM change-point scan per group: over the per-period counts of
    * each group, the cumulative-sum statistic
    * `S_d = sum_{i<=d}(c_i - mean)` peaks at the most likely shift
    * point of the count level. Everything stays integer by scaling
    * with the period count: `n*S_d = n*cum_d - d_idx*total` (`n` =
    * periods observed for the group). Output per group: the argmax
    * period (`change_period`, earliest on ties), the scaled peak
    * `n_s_max = max_d |n*S_d|`, `n_periods` and `total` — a caller
    * recovers the usual normalized statistic as `n_s_max / n`.
    * Only periods the group was observed in enter the scan
    * (zero-fill first via [[Temporal.densify]] when absence itself is
    * the signal).
    *
    * Plan shape: one (group, period) count aggregate (map-side
    * partial), then ONE window sort per group over its distinct
    * periods — bounded by the time span, never row count — and a
    * struct-max aggregate for the arg-max. Null periods are excluded.
    */
  def cusumScan(df: DataFrame, groupCol: String,
                periodCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byP = df.where(col(periodCol).isNotNull)
      .groupBy(col(groupCol).as("g"), col(periodCol).cast("long").as("p"))
      .agg(count(lit(1)).as("c"))
    val wRun = Window.partitionBy("g").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("g")
    val scored = byP
      .withColumn("cum", sum("c").over(wRun))
      .withColumn("idx", count(lit(1)).over(wRun))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("total", sum("c").over(wAll))
      .withColumn("ns", abs(col("n") * col("cum") -
                            col("idx") * col("total")))
    scored.groupBy(col("g").as(groupCol))
      // struct max over (|nS|, -p): peak first, EARLIEST period on ties
      .agg(max(struct(col("ns"), (-col("p")).as("np"))).as("__m"),
           first(col("n")).as("n_periods"),
           first(col("total")).as("total"))
      .select(col(groupCol), (-col("__m.np")).as("change_period"),
              col("__m.ns").as("n_s_max"),
              col("n_periods"), col("total"))
  }

  /** Seasonal burst detection: hourly event volumes judged against a
    * per-(group, hour-of-day) robust baseline — the on-call anomaly
    * monitor that does not page at 9am because 9am is always busy.
    * The baseline is the exact doubled median of that slot's hourly
    * counts across the window ([[graft.operators.Histograms
    * .groupedDoubledMedian]] — a histogram crossing, no row sort), and
    * a cell is flagged when `count >= (kNum/kDen) * median`, tested as
    * the all-integer `2 * count * kDen >= kNum * median2`.
    *
    * Scale shape: ONE (group, hour) count aggregate (map-side partial;
    * output rows = groups x hours — calendar-bounded, not data-
    * bounded), a bounded profile aggregate over it (groups x 24 rows)
    * broadcast back, and a flag projection. Nothing after the first
    * aggregate scales with the event volume. Hours with zero events
    * are absent from both baseline and flags: a burst monitor, not an
    * outage monitor (pair with a densified spine for gap alerts).
    *
    * Returns flagged cells: (group, hour_epoch, n, median2).
    */
  def seasonalAnomalies(df: DataFrame, groupCol: String, tsCol: String,
                        kNum: Long = 2L, kDen: Long = 1L): DataFrame = {
    // the calendar-bounded hourly table feeds three plan branches (the
    // median's two histogram crossings and the final flag join) but is
    // deliberately NOT persisted (r13, reversing an earlier persist):
    // every branch consumes hourly through the IDENTICAL scan+partial-
    // agg+exchange subtree, which runtime exchange reuse dedupes to
    // ONE events scan within the single action — the same measured
    // result as the bucketedCrossing2K histogram (r12 audit note
    // there; the STATIC formatted plan still prints the subtree once
    // per branch). The persist added an InMemoryRelation build plus
    // cpus-wide cached-read tasks per branch job: measured 2.89 ->
    // 1.14-1.23 s at local[32], flat-within-noise at local[4].
    val hourly = df.where(col(tsCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("g"),
               date_trunc("hour", col(tsCol)).as("h"))
      .agg(count(lit(1)).as("n"))
    seasonalAnomaliesFromHourly(hourly, kNum, kDen)
      .withColumnRenamed("g", groupCol)
  }

  /** Exact two-sample Kolmogorov–Smirnov distance between the value
    * distributions of two cohorts (`flagCol` true vs false) — the
    * distribution-level drift test that needs no binning choice, the
    * raw-score sibling of [[psi]].
    *
    * All integer: with cohort sizes n1, n2 and cumulative counts
    * F1(v), F2(v) over distinct values, `d_num = max_v |n2*F1(v) -
    * n1*F2(v)|` and D = d_num/(n1*n2) exactly (emitted as the
    * rational's numerator next to both denominile counts — fits a
    * long through ~3e9 rows per cohort; go DECIMAL(38) beyond).
    *
    * Plan at scale: one grouped count per distinct value (map-side
    * combined), then the [[DistributedRank]] bucketed-prefix
    * discipline — per-bucket sums prefix-summed on ONE task over
    * n_buckets rows and broadcast back, in-bucket cumulative windows
    * partitioned by bucket — so no global sort ever happens; the
    * final max is a single aggregate using the (diff desc, value asc)
    * struct-max tie rule. Output one row: n1, n2, d_num, arg_value
    * (the smallest value attaining the max).
    */
  def ks2Sample(df: DataFrame, valueCol: String, flag: Column,
                bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be > 0; got $bucketWidth")
    import org.apache.spark.sql.expressions.Window
    val perValue = df.where(col(valueCol).isNotNull)
      .select(col(valueCol).cast("long").as("v"),
              when(flag, 1L).otherwise(0L).as("__f"))
      .groupBy("v")
      .agg(sum("__f").as("c1"), (count(lit(1)) - sum("__f")).as("c2"))
      .withColumn("__b",
        expr(s"CASE WHEN v >= 0 THEN v div ${bucketWidth}L " +
             s"ELSE -((-v + ${bucketWidth - 1}L) div ${bucketWidth}L) " +
             "END"))
    // NOT persisted (r13): the prefix table and the probe side read
    // the identical grouped-count subtree — runtime exchange reuse
    // dedupes to one input scan within the single action (the
    // seasonalAnomalies finding; the static plan prints the subtree
    // twice, the runtime plan reuses the exchange)
    val wPfx = graft.core.Windows.bounded(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = graft.core.Windows.boundedAll
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val prefix = perValue.groupBy("__b")
      .agg(sum("c1").as("__s1"), sum("c2").as("__s2"))
      .select(col("__b"),
              coalesce(sum("__s1").over(wPfx), lit(0L)).as("__p1"),
              coalesce(sum("__s2").over(wPfx), lit(0L)).as("__p2"),
              sum("__s1").over(wAll).as("n1"),
              sum("__s2").over(wAll).as("n2"))
    val wIn = Window.partitionBy("__b").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perValue.join(broadcast(prefix), Seq("__b"))
      .select(col("v"), col("n1"), col("n2"),
              (col("__p1") + sum("c1").over(wIn)).as("__F1"),
              (col("__p2") + sum("c2").over(wIn)).as("__F2"))
      .select(col("n1"), col("n2"),
              abs(col("n2") * col("__F1") - col("n1") * col("__F2"))
                .as("__d"),
              col("v"))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
           max(struct(col("__d").as("d"), negate(col("v")).as("nv")))
             .as("__m"))
      .select(col("n1"), col("n2"), col("__m.d").as("d_num"),
              negate(col("__m.nv")).as("arg_value"))
      // empty/all-null input: the ungrouped agg still yields one
      // all-null row, but the LIMIT 1 oracle yields none — align
      .where(col("n1").isNotNull)
  }

  /** [[seasonalAnomalies]] over a PRE-AGGREGATED hourly table
    * (g, h = hour-truncated timestamp, n) — the entry point for
    * incrementally-maintained counts (a streaming complete-mode
    * aggregation snapshot, a materialized rollup): hourly counts are
    * additive, so flags over the maintained table equal flags over
    * the raw events by construction. */
  def seasonalAnomaliesFromHourly(hourly: DataFrame, kNum: Long,
                                  kDen: Long): DataFrame = {
    require(kNum > 0 && kDen > 0,
            s"threshold must be a positive rational; got $kNum/$kDen")
    val slotted = hourly
      .withColumn("__slot", concat_ws("#", col("g"), hour(col("h"))))
    val profile = graft.operators.Histograms
      .groupedDoubledMedian(slotted, "__slot", "n")
      .select(col("__slot"), col("median2"))
    slotted.join(broadcast(profile), Seq("__slot"))
      .where(col("n") * (2L * kDen) >= lit(kNum) * col("median2"))
      .select(col("g"),
              unix_timestamp(col("h")).as("hour_epoch"),
              col("n"), col("median2"))
  }

  /** EWMA burst gate over per-group daily counts — the classic
    * exponentially-weighted control chart, made BIT-REPLAYABLE by the
    * half-life choice: with decay 1/2 the day-at-gap-j weight is the
    * dyadic 2^(W-j), so the W-day truncated EWMA numerator
    * `ewma_scaled = sum_j n(t-j) * 2^(W-j)` is pure BIGINT arithmetic
    * and the flag `n(t) * (2^W - 1) * kDen > kNum * ewma_scaled`
    * (baseline = ewma_scaled / (2^W - 1), calendar semantics: a
    * missing day is a zero-count day) replays exactly in any SQL
    * engine — no float pow, no accumulation-order sensitivity. Only
    * days with a FULL W-day history are evaluated, so the denominator
    * is the constant 2^W - 1. Epoch-day arithmetic assumes post-1970
    * timestamps (Spark's `div` truncates toward zero, SQL `//` floors
    * — they agree on non-negative epochs only, the ks2Sample
    * convention).
    *
    * Scale shape: one daily count aggregate (calendar-bounded), then
    * each day's count EXPLODES onto its next W target days with its
    * dyadic weight (the q_rolling_active x7-coverage pattern — a
    * W-row bounded explode of the daily table, never an events
    * range join), one (g, day) re-aggregate, and a group-bounded
    * flag rollup. Output per group: `n_days_eval`, `n_anomalies`,
    * and the largest flagged burst (`top_day` epoch-day, `top_n`,
    * `top_ewma_scaled`; -1/-1/-1 when the group never flags).
    */
  def ewmaAnomalies(df: DataFrame, groupCol: String, tsCol: String,
                    windowDays: Int = 14, kNum: Long = 3L,
                    kDen: Long = 1L): DataFrame = {
    val daily = df
      .where(col(tsCol).isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("g"),
               expr(s"CAST(CAST($tsCol AS TIMESTAMP) AS LONG) " +
                    "div 86400").as("day"))
      .agg(count(lit(1)).as("n"))
    ewmaAnomaliesFromDaily(daily, windowDays, kNum, kDen)
  }

  /** [[ewmaAnomalies]] over a PRE-AGGREGATED daily table
    * (g, day = epoch-day BIGINT, n) — the entry point for maintained
    * counts (a streaming complete-mode aggregation snapshot, a
    * materialized rollup): daily counts are additive, so the chart
    * over the maintained table equals the chart over raw events by
    * construction. */
  def ewmaAnomaliesFromDaily(dailyIn: DataFrame, windowDays: Int,
                             kNum: Long, kDen: Long): DataFrame = {
    // the per-day contribution n * 2^(W-gap) and the flag product
    // n * (2^W - 1) * kDen are BIGINT: past W=32 they overflow a
    // signed Long at real daily volumes (daily n >= 8 already wraps
    // at W=60) and Spark's default non-ANSI arithmetic wraps SILENTLY
    // — so the cap is a provably safe bound, not a style choice.
    // Callers must keep max(daily n) * 2^W * max(kNum, kDen) < 2^63
    // (documented contract; W <= 32 leaves 2^31 headroom per day at
    // kDen <= 1, ample for any real chart window — reference EWMA
    // spans are 7-30 days).
    require(windowDays >= 1 && windowDays <= 32,
            s"windowDays must be in [1, 32] (BIGINT-exact bound: " +
            s"n * 2^W * kDen must stay below 2^63); got $windowDays")
    require(kNum > 0 && kDen > 0,
            s"threshold must be a positive rational; got $kNum/$kDen")
    val W = windowDays
    val daily = dailyIn
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val contrib = daily
      .select(col("g"), col("day"), col("n"),
              explode(sequence(lit(1), lit(W))).as("gap"))
      .select(col("g"), (col("day") + col("gap")).as("day"),
              (col("n") *
                expr(s"shiftleft(CAST(1 AS BIGINT), $W - gap)"))
                .as("w"))
    val base = contrib.groupBy("g", "day")
      .agg(sum("w").as("ewma_scaled"))
    val firstDay = daily.groupBy("g").agg(min("day").as("__d0"))
    val denom = (1L << W) - 1L
    val flagged = daily
      .join(base, Seq("g", "day"), "left")
      .join(broadcast(firstDay), Seq("g"))
      .where(col("day") >= col("__d0") + W)
      .select(col("g"), col("day"), col("n"),
              coalesce(col("ewma_scaled"), lit(0L)).as("ew"))
      .withColumn("__a",
        col("n") * lit(denom) * lit(kDen) > lit(kNum) * col("ew"))
    flagged.groupBy("g")
      .agg(count(lit(1)).as("n_days_eval"),
           sum(when(col("__a"), 1L).otherwise(0L)).as("n_anomalies"),
           max(struct(
             when(col("__a"), col("n")).otherwise(-1L).as("n"),
             when(col("__a"), negate(col("day"))).otherwise(-1L)
               .as("nd"),
             when(col("__a"), col("ew")).otherwise(-1L).as("ew")))
             .as("__t"))
      .select(col("g"), col("n_days_eval"), col("n_anomalies"),
              when(col("__t.n") >= 0, negate(col("__t.nd")))
                .otherwise(-1L).as("top_day"),
              col("__t.n").as("top_n"),
              col("__t.ew").as("top_ewma_scaled"))
  }

  /** Binning-stability diagnostic by disjoint subsampling: the data
    * splits into hash folds and each fold's Information Value is
    * computed EXACTLY at the caller's (fixed) binning — the "is this
    * variable's IV an artifact of one slice" check a monitoring
    * pipeline runs before trusting a fitted binning (the subsampling
    * variance-estimation idea, Politis-Romano style, applied to the
    * binning table's own statistic). Folds with a pure bin contribute
    * that bin as 0 IV mass (the standard xlogy convention), so the
    * diagnostic never divides by zero.
    *
    * Scale shape: ONE row-level aggregate (groupBy(fold, bin),
    * map-side combined — shuffle bounded by folds x bins), then the
    * IV arithmetic runs on that bounded table: per-fold totals come
    * from a (folds)-row broadcast self-aggregate, never a second data
    * pass or a window over raw rows.
    *
    * Output per fold: `n`, `n_event`, `iv` (6dp). The caller supplies
    * the fold expression so the fold key is replayable (an audit wants
    * deterministic folds, not a random split).
    */
  def ivByFold(df: DataFrame, binCol: Column, foldCol: Column,
               yCol: String): DataFrame = {
    val base = df.groupBy(foldCol.cast("long").as("fold"),
                          binCol.cast("long").as("bin"))
      .agg(sum(col(yCol).cast("double")).as("e"),
           (count(lit(1)) - sum(col(yCol).cast("double"))).as("ne"))
    val tot = base.groupBy("fold")
      .agg(sum("e").as("te"), sum("ne").as("tne"))
    val term = when(col("e") > 0 && col("ne") > 0,
                    (col("ne") / col("tne") - col("e") / col("te")) *
                      log((col("ne") / col("tne")) /
                          (col("e") / col("te"))))
      .otherwise(lit(0.0))
    base.join(broadcast(tot), Seq("fold"))
      .groupBy("fold")
      .agg((sum("e") + sum("ne")).cast("long").as("n"),
           sum("e").cast("long").as("n_event"),
           round(sum(term), 6).as("iv"))
  }

  /** Additive seasonal decomposition of a per-group daily count
    * series, pure-BIGINT: trend is the centered 7-day moving SUM over
    * the zero-filled calendar spine, the detrended series is scaled
    * by 7 to stay integral (`detr_x7 = 7*count - trend7_sum`), and
    * the day-of-week seasonal profile reports the integer numerator
    * and denominator of the mean detrended mass (no division — a
    * truncating div on negative values floors differently across
    * engines, so callers divide, not the report).
    *
    * Shape: ONE full-data aggregate to (group, day); the spine, the
    * 7-day window (PARTITIONED by group, calendar-bounded rows) and
    * the day-of-week rollup all run on the bounded daily table. Edge
    * days without a full +-3-day window are excluded from the profile
    * (interior days only), so every contribution is a true centered
    * window.
    *
    * `dow` is 0=Sunday..6=Saturday. Output per (group, dow):
    * `n_days` interior days, `sum_count` their raw counts,
    * `sum_detr_x7` the 7-scaled detrended mass, and `trend7_sum`
    * checksum of their window sums.
    */
  /** Zero-filled per-group daily count spine over the CORPUS day
    * range: ONE full-data aggregate to (group, day), persisted (it is
    * re-read by the range, the group list and the spine join — the
    * raw table scans once; caller releases via clearCache), then the
    * calendar spine left-join. A group silent on a day contributes a
    * true zero. */
  private[operators] def dailyFilled(df: DataFrame, groupCol: String,
                                     tsCol: String): DataFrame = {
    val daily = df
      .where(col(groupCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(groupCol).as("g"),
               to_date(col(tsCol).cast("timestamp")).as("d"))
      .agg(count(lit(1)).as("n"))
      .persist()
    val range = daily.agg(min("d").as("mn"), max("d").as("mx"))
    val groups = daily.select("g").distinct()
    val spine = groups.join(broadcast(range), lit(true))
      .select(col("g"), explode(expr("sequence(mn, mx)")).as("d"))
    spine.join(daily, Seq("g", "d"), "left")
      .na.fill(0L, Seq("n"))
  }

  def seasonalDecomposeDaily(df: DataFrame, groupCol: String,
                             tsCol: String): DataFrame = {
    val filled = dailyFilled(df, groupCol, tsCol)
    val w7 = Window.partitionBy("g").orderBy("d").rowsBetween(-3, 3)
    val pos = Window.partitionBy("g").orderBy("d")
    val nDays = Window.partitionBy("g")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    filled
      .withColumn("trend7", sum("n").over(w7))
      .withColumn("i", row_number().over(pos))
      .withColumn("days", count(lit(1)).over(nDays))
      .where(col("i") > 3 && col("i") <= col("days") - 3)
      .withColumn("detr_x7", lit(7L) * col("n") - col("trend7"))
      .withColumn("dow", (dayofweek(col("d")) - 1).cast("long"))
      .groupBy(col("g").as(groupCol), col("dow"))
      .agg(count(lit(1)).as("n_days"), sum("n").as("sum_count"),
           sum("detr_x7").as("sum_detr_x7"),
           sum("trend7").as("trend7_sum"))
      .orderBy(groupCol, "dow")
  }

  /** Seasonal-naive forecast backtest, pure-BIGINT: predict each
    * day's count with the count `lagDays` earlier on the zero-filled
    * spine, score only days with a full lag available, and report the
    * per-group integer error profile — total/|error| sums, signed
    * bias, and the worst day (largest |error|, earliest day on ties,
    * argmax folded into the aggregate — no window rank). The baseline
    * every real forecaster must beat, and a drift tripwire on its
    * own: a shifted weekly pattern shows up as a jump in `sum_abs_err`.
    */
  def forecastEval(df: DataFrame, groupCol: String, tsCol: String,
                   lagDays: Int): DataFrame = {
    require(lagDays >= 1 && lagDays <= 366,
            s"lagDays must be in [1, 366]; got $lagDays")
    val filled = dailyFilled(df, groupCol, tsCol)
    val w = Window.partitionBy("g").orderBy("d")
    filled
      .withColumn("pred", lag("n", lagDays).over(w))
      .where(col("pred").isNotNull)
      .withColumn("err", col("n") - col("pred"))
      .withColumn("abs_err", abs(col("err")))
      .withColumn("day_s",
                  datediff(col("d"), lit("1970-01-01").cast("date"))
                    .cast("long"))
      .groupBy(col("g").as(groupCol))
      .agg(count(lit(1)).as("n_days_scored"),
           sum("n").as("sum_actual"),
           sum("abs_err").as("sum_abs_err"),
           sum("err").as("sum_err"),
           // argmax abs_err, ties -> earliest day, via min(struct(
           // -abs_err, day_s)): abs_err >= 0 so the negation is
           // ANSI-safe, and day_s may be legitimately negative
           // (pre-1970 epochs) — the previous MaxValue - day_s
           // encoding overflowed there
           min(struct((-col("abs_err")).as("ne"), col("day_s")))
             .getField("day_s").as("worst_day_epoch_d"))
      .orderBy(groupCol)
  }
}
