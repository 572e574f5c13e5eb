package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}

import scala.collection.parallel.CollectionConverters._

import graft.core.Prebinning

/** Multi-variable binning process
  * (`optbinning/binning/binning_process.py:438`), Spark-native
  * two-pass data plane per SURVEY §3.2. It is the one data plane of
  * every 1-D fit: a single-variable `OptimalBinning.fit` or
  * `ContinuousOptimalBinning.fit` runs as a one-variable batch, and the
  * multiclass, scenario, MDLP and piecewise fits read [[aggregate]] with
  * their own aggregate columns, so a `BinningConfig` parameter means the
  * same thing in every entry point.
  *
  *  - Row preparation ([[Rows]]): each variable's class column carries
  *    its special codes and its row filters (outlier detector,
  *    fix_lb/fix_ub: a removed clean row gets
  *    `Preprocess.FilteredClass`, which no aggregate reads), and its
  *    weight carries its class weights.
  *  - Pass A (class totals + range/ndv). Binary: the no-shuffle global
  *    conditional aggregate over the UN-melted table — one partial row
  *    per partition — chunked into <= ~256-expression aggregates that
  *    run as CONCURRENT driver actions, so each generated method stays
  *    under HotSpot's JIT ceiling at any batch width and each chunk's
  *    scan prunes to its own columns. Every other numeric fit:
  *    [[aggregate]]'s melted `groupBy(var, cls)`.
  *  - Pass B (value histograms) melts all variables to long format via
  *    [[chunkedMelt]] (a union of small stack() generators, same JIT
  *    reasoning) and aggregates in ONE shuffle (`groupBy(variable,
  *    value)` with map-side partial aggregation, so shuffle volume is
  *    bounded by n_vars x histogram buckets per partition, not by row
  *    count); variables with more distinct values than their
  *    `histogramMaxBuckets` are collapsed onto per-variable uniform
  *    grids first (`Histograms.gridSnap`).
  *  - Batches whose every variable has user splits skip Pass A: one
  *    aggregate keyed by in-bin representative gives totals and
  *    histograms at once ([[aggregate]]).
  *
  * The per-variable solve loop runs on the driver over the collected
  * aggregates in parallel (replaces the reference's joblib threading).
  */
object BinningProcess {

  /** Per-metric selection rule (`selection_criteria` entry,
    * `binning_process.py:160-200`): min/max bounds plus an optional
    * top-k pick — `top` an integer count, or a (0,1) fraction of the
    * still-eligible variables (`binning_process.py:378-384`). */
  final case class MetricCriteria(
      min: Option[Double] = None, max: Option[Double] = None,
      strategy: Option[String] = None, // "highest" | "lowest"
      top: Option[Double] = None)

  final case class Selection(
      minIv: Option[Double] = None, maxIv: Option[Double] = None,
      minJs: Option[Double] = None, maxJs: Option[Double] = None,
      minGini: Option[Double] = None,
      minQuality: Option[Double] = None,
      strategy: Option[String] = None, // "highest" | "lowest"
      topK: Option[Int] = None,
      /** Reference-shaped criteria: metric ("iv"|"js"|"gini"|"quality")
        * -> rule, applied in metric order after the flat bounds above. */
      criteria: Map[String, MetricCriteria] = Map.empty,
      /** Always-selected variables (`fixed_variables`,
        * `binning_process.py:392-395`). */
      fixedVariables: Seq[String] = Seq.empty)

  def fit(df: DataFrame, variables: Seq[String], yCol: String,
          targetType: String = "binary",
          config: BinningConfig = BinningConfig(),
          varOverrides: Map[String, BinningConfig] = Map.empty,
          selection: Selection = Selection(),
          weightCol: Option[String] = None,
          /** Force these variables into the categorical batch regardless
            * of column type (`categorical_variables`,
            * `binning_process.py:559`; values are cast to string). */
          categoricalVariables: Seq[String] = Seq.empty)
      : FittedBinningProcess = {
    require(targetType == "binary",
            "continuous targets: use BinningProcess.fitContinuous")
    val schema = df.schema
    val forced = categoricalVariables.toSet
    val cfgs = variables.map { v =>
      val categorical = forced(v) || schema(v).dataType == StringType
      v -> cfgFor(v, config, varOverrides,
                  if (categorical) "categorical" else "numerical")
    }
    new FittedBinningProcess(variables.toArray,
                             fitBinary(df, cfgs, yCol, weightCol), selection)
  }

  /** Continuous-target process over numeric variables: per-variable
    * continuous fits. */
  def fitContinuous(df: DataFrame, variables: Seq[String], yCol: String,
                    config: BinningConfig = BinningConfig(),
                    varOverrides: Map[String, BinningConfig] = Map.empty,
                    weightCol: Option[String] = None)
      : Map[String, FittedContinuousBinning] =
    fitContinuousVars(df, variables.map(v =>
      v -> cfgFor(v, config, varOverrides, "numerical")), yCol, weightCol)

  private def cfgFor(v: String, config: BinningConfig,
                     overrides: Map[String, BinningConfig],
                     dtype: String): BinningConfig =
    overrides.getOrElse(v, config).copy(name = v, dtype = dtype)

  /** Binary-target fits of (variable, config) pairs, each config used
    * as given; `dtype = "categorical"` selects the categorical batch. */
  private[graft] def fitBinary(df: DataFrame,
                               vars: Seq[(String, BinningConfig)],
                               yCol: String, weightCol: Option[String])
      : Map[String, FittedOptimalBinning] = {
    val (cat, num) = vars.partition(_._2.dtype == "categorical")
    (if (num.isEmpty) Map.empty[String, FittedOptimalBinning]
     else fitNumericBatch(new Rows(df, num, yCol, weightCol,
                                   isNumeric = true))) ++
    (if (cat.isEmpty) Map.empty
     else fitCategoricalBatch(new Rows(df, cat, yCol, weightCol,
                                       isNumeric = false)))
  }

  /** Continuous-target fits of numeric (variable, config) pairs, each
    * config used as given. */
  private[graft] def fitContinuousVars(df: DataFrame,
                                       vars: Seq[(String, BinningConfig)],
                                       yCol: String,
                                       weightCol: Option[String])
      : Map[String, FittedContinuousBinning] =
    if (vars.isEmpty) Map.empty
    else fitContinuousBatch(new Rows(df, vars, yCol, weightCol,
                                     isNumeric = true))

  /** UNION of <= `chunkSize`-variable stack() generators over
    * pre-projected per-variable value/class columns — the one melt
    * shape every batch path uses. One monolithic stack over hundreds
    * of columns compiles the stage into a single generated method that
    * crosses HotSpot's 8 KB JIT ceiling and runs INTERPRETED (measured
    * 4-5x slower at 40 vars, superlinear in width); chunked stages
    * each stay small (compiled), each chunk's parquet scan prunes to
    * its own columns, and the union feeds ONE downstream aggregate.
    * Per-var value/cls expressions sit in the chunk's projection, so
    * per-row work is O(1) per (row, var) — no when(var === v) chains.
    * Melted rows carry the variable's name as `var`, projected as a
    * literal column so no name is ever spliced into the stack's SQL
    * text (a `'` in a name would not parse); the expressions may read
    * the target and weight as `__y` / `__w`.
    * `wExpr`, when given, melts a per-variable weight column instead
    * of the shared `w` (class weights).
    */
  private[graft] def chunkedMelt(df: DataFrame, vars: Seq[String],
                          y: Column,
                          w: Column, valExpr: String => Column,
                          clsExpr: String => Column,
                          wExpr: Option[String => Column] = None,
                          chunkSize: Int = 16): DataFrame = {
    // a bare Nil would surface as an opaque empty.reduceLeft from the
    // final union — fail with the actual contract instead (public
    // entry points guard with an early Map.empty; this catches new
    // callers)
    require(vars.nonEmpty, "chunkedMelt requires at least one variable")
    val (shared, fields) =
      if (wExpr.isEmpty) (Seq("y", "w"), "(var, x, cls)")
      else (Seq("y"), "(var, x, cls, w)")
    vars.zipWithIndex.grouped(chunkSize).map { chunk =>
      val repCols = chunk.flatMap { case (v, i) =>
        Seq(lit(v).as(s"__v$i"), valExpr(v).as(s"__x$i"),
            clsExpr(v).as(s"__c$i")) ++
          wExpr.map(f => f(v).as(s"__w$i"))
      }
      val stackExpr = s"stack(${chunk.length}, " +
        chunk.map { case (_, i) =>
          (Seq(s"__v$i", s"__x$i", s"__c$i") ++
            wExpr.map(_ => s"__w$i")).mkString(", ")
        }.mkString(", ") + s") as $fields"
      df.withColumn("__y", y).withColumn("__w", w)
        .select(shared.map(c => col(s"__$c").as(c)) ++ repCols: _*)
        .selectExpr(shared :+ stackExpr: _*)
    }.reduce(_ unionByName _)
  }

  /** Row preparation of one batch, shared by all of its passes:
    * per-variable value, class and weight columns. Variable i's class
    * folds in its special codes and, for numeric batches, its row
    * filters (the outlier detector is fitted here, on clean rows,
    * before the bound filter applies); its weight folds in its class
    * weights. A variable with neither keeps the plain class column and
    * the shared weight.
    */
  private final class Rows(df: DataFrame,
                           vs: Seq[(String, BinningConfig)],
                           yCol: String, weightCol: Option[String],
                           isNumeric: Boolean,
                           fittedCls: Option[IndexedSeq[Column]] = None) {
    val vars: IndexedSeq[(String, BinningConfig)] = vs.toIndexedSeq
    private val y = col(yCol).cast(DoubleType)
    private val w =
      weightCol.map(c => col(c).cast(DoubleType)).getOrElse(lit(1.0))
    val index: Map[String, Int] = vars.map(_._1).zipWithIndex.toMap

    /** Collected rows whose first column is `var`, by variable index. */
    def byVar(rows: Array[Row]): Map[Int, Array[Row]] =
      rows.groupBy(row => index(row.getString(0)))

    def name(i: Int): String = vars(i)._1
    def cfg(i: Int): BinningConfig = vars(i)._2
    def nClasses(i: Int): Int =
      Preprocess.missingClassIndex(cfg(i).specialCodes) + 1
    def x(i: Int): Column =
      col(name(i)).cast(if (isNumeric) DoubleType else StringType)
    /** User splits of each variable, sorted and rounded to its
      * `splitDigits` as the driver's candidates are, so every in-bin
      * representative re-digitizes into its own bin; None when it has
      * none. */
    val pinned: IndexedSeq[Option[Array[Double]]] =
      vars.map { case (_, c) =>
        c.userSplits.filter(_.nonEmpty)
          .map(us => Prebinning.roundSplits(us.sorted, c.splitDigits))
      }

    val cls: IndexedSeq[Column] = fittedCls.getOrElse(vars.indices.map { i =>
      val base = Preprocess.rowClass(x(i), isNumeric, cfg(i).specialCodes)
      val keep = if (isNumeric) rowFilters(i, base) else Nil
      if (keep.isEmpty) base
      else when(keep.reduce(_ && _), base)
        .otherwise(lit(Preprocess.FilteredClass))
    })

    /** The same rows with every user split dropped, so value
      * histograms run over the actual values; the row classes, and so
      * the fitted outlier detectors, are shared. */
    def unpinned: Rows =
      new Rows(df, vars.map { case (v, c) => v -> c.copy(userSplits = None) },
               yCol, weightCol, isNumeric, Some(cls))

    val weight: IndexedSeq[Column] = vars.indices.map { i =>
      cfg(i).classWeight.fold(col("__w"))(_.foldLeft(col("__w")) {
        case (acc, (label, cw)) =>
          when(col("__y") === label, acc * cw).otherwise(acc)
      })
    }

    /** The frame every un-melted aggregate reads: `__y`, `__w` added. */
    def wide: DataFrame = df.withColumn("__y", y).withColumn("__w", w)

    def melt(valExpr: Int => Column): DataFrame =
      chunkedMelt(df, vars.map(_._1), y, w, v => valExpr(index(v)),
                  v => cls(index(v)),
                  if (vars.exists(_._2.classWeight.isDefined))
                    Some(v => weight(index(v)))
                  else None)

    /** Pass B value of variable i: its grid representative when it is
      * gridded, its in-bin representative when pinned, else the value.
      * A pinned representative lies strictly inside its bin (bin 0:
      * s_0 - 1, bin i: s_{i-1}), so re-digitizing against any subset
      * of the splits on the driver is exact. */
    def rep(grid: Map[Int, (Double, Double)])(i: Int): Column =
      grid.get(i) match {
        case Some((mn, mx)) =>
          Histograms.gridSnap(x(i), mn, mx, cfg(i).histogramMaxBuckets)
        case None => pinned(i) match {
          case Some(ss) =>
            ss.indices.foldRight(lit(ss.last): Column) { (k, e) =>
              when(x(i) < ss(k),
                   lit(if (k == 0) ss(0) - 1.0 else ss(k - 1)))
                .otherwise(e)
            }
          case None => x(i)
        }
      }

    /** Keep-predicates of variable i's row filters
      * (`preprocessing.py:230-261`); missing/special rows always pass.
      * A predicate that is not TRUE removes the row, like a `where`.
      * Note: when BOTH bounds are set the reference's if/elif chain
      * applies only fix_lb (its both-bounds branch is unreachable); we
      * apply both, the documented intent. */
    private def rowFilters(i: Int, base: Column): Seq[Column] = {
      val c = cfg(i)
      val clean = base === Preprocess.CleanClass
      val outlier = c.outlierDetector.map { method =>
        val p = c.outlierParams
        def num(key: String, dflt: Double): Double = p.get(key) match {
          case Some(v: Number) => v.doubleValue()
          case _ => dflt
        }
        // fitted on the clean rows; the predicate reads the raw column
        // (and `__y`), so it evaluates in every pass's projection
        val cleanDf = df.withColumn("__y", y).where(clean)
        val drop: Column = method match {
          case "range" =>
            Outliers.fitRange(cleanDf, name(i),
              intervalLength = num("interval_length", 0.5),
              k = num("k", 1.5),
              method = p.get("method").map(_.toString).getOrElse("ETI"))
              .support(x(i))
          case "zscore" =>
            // "med"/"mad" in outlierParams skip the stats jobs (caller
            // already derived them, e.g. for oracle pinning)
            val pre = (p.get("med"), p.get("mad")) match {
              case (Some(m: Number), Some(d: Number)) =>
                Some((m.doubleValue(), d.doubleValue()))
              case _ => None
            }
            Outliers.fitZScore(cleanDf, name(i), num("threshold", 3.5),
              approx = p.get("approx").exists(_ == true),
              precomputed = pre)
          case "yquantile" =>
            Outliers.fitYQuantile(cleanDf, name(i), "__y",
              detector = p.get("detector").map(_.toString)
                .getOrElse("zscore"),
              nBins = num("n_bins", 5).toInt)
          case other => throw new IllegalArgumentException(
            s"outlier_detector $other not supported")
        }
        !(clean && drop)
      }
      val bounds = (c.fixLb.map(x(i) >= _) ++ c.fixUb.map(x(i) <= _))
        .reduceOption(_ && _).map(!clean || _)
      outlier.toSeq ++ bounds
    }
  }

  /** One variable's slice of [[aggregate]]: the rows of each row class
    * (one row, or one per in-bin representative when pinned) and the
    * clean-row value histogram sorted by value. Every row holds only the
    * aggregate columns, in the order they were given. */
  private[graft] final case class VarAggregate(
      classes: Map[Int, Array[Row]], hist: Array[(Double, Row)])

  /** Numeric variable `xCol` of `df` prepared once under `config`: the
    * binary or continuous fit and the clean value histogram (user
    * splits dropped) of the piecewise fits read the same rows, so an
    * outlier detector is fitted once. */
  private[graft] final class Prepared(df: DataFrame, xCol: String,
                                      yCol: String, config: BinningConfig) {
    private lazy val r = new Rows(df, Seq(xCol -> config), yCol, None,
                                  isNumeric = true)
    def binary: FittedOptimalBinning = fitNumericBatch(r)(xCol)
    def continuous: FittedContinuousBinning = fitContinuousBatch(r)(xCol)
    def valueHistogram(aggs: Seq[Column]): Array[(Double, Row)] =
      aggregate(r.unpinned, aggs)(0).hist
  }

  /** The numeric histogram plane of every 1-D fit: [[aggregate]] of
    * variable `xCol` of `df` under `config` (its special codes, row
    * filters, class weights, grid budget and user splits). */
  private[graft] def aggregate(df: DataFrame, xCol: String, yCol: String,
                               config: BinningConfig,
                               aggs: Seq[Column]): VarAggregate =
    aggregate(new Rows(df, Seq(xCol -> config), yCol, None,
                       isNumeric = true), aggs)(0)

  /** The one melted aggregate of a numeric batch over caller-given
    * aggregate columns of the melted (x, cls, y, w). Pass A is
    * `groupBy(var, cls)`: every class's row, plus the clean ndv/min/max
    * that snaps each variable with more distinct values than its
    * `histogramMaxBuckets` onto its uniform grid (`Histograms.gridSnap`);
    * Pass B ([[histogramRows]]) gives the value histograms. A batch
    * whose every variable has user splits runs one
    * `groupBy(var, cls, rep)` instead: it feeds BOTH the class rows
    * (one per representative) and the exact per-prebin histogram
    * (clean rows keyed by their in-bin representative). Its non-clean
    * rows collapse to a null rep, so the shuffle key space stays
    * `vars x (splits + row classes)` — bounded by config, not data.
    * Indexed by variable; a variable without rows is empty. */
  private def aggregate(r: Rows, aggs: Seq[Column])
      : IndexedSeq[VarAggregate] = {
    val k = aggs.length
    val (classRows, hist) =
      if (allPinned(r)) {
        // rows: 0 var, 1 cls, 2 rep, then aggs
        val rep = when(col("cls") === Preprocess.CleanClass, col("x"))
          .otherwise(lit(null).cast(DoubleType))
        val byVar = r.byVar(r.melt(r.rep(Map.empty))
          .select(col("var"), col("cls"), rep.as("rep"), col("y"), col("w"))
          .groupBy("var", "cls", "rep")
          .agg(aggs.head, aggs.tail: _*)
          .collect()
          .filter(_.getInt(1) != Preprocess.FilteredClass))
        (byVar.map { case (i, rs) =>
           i -> rs.map(row => row.getInt(1) -> slice(row, 3, k)) },
         byVar.map { case (i, rs) =>
           i -> rs.filter(_.getInt(1) == Preprocess.CleanClass)
             .map(row => row.getDouble(2) -> slice(row, 3, k))
             .sortBy(_._1)
         })
      } else {
        // rows: 0 var, 1 cls, then aggs, ndv, minx, maxx
        val statsRows = r.melt(r.x)
          .groupBy("var", "cls")
          .agg(aggs.head, aggs.tail :+
            approx_count_distinct(col("x")).as("ndv") :+
            min(col("x")).as("minx") :+ max(col("x")).as("maxx"): _*)
          .collect()
          .filter(_.getInt(1) != Preprocess.FilteredClass)
        val grid = statsRows.filter(_.getInt(1) == Preprocess.CleanClass)
          .flatMap { row =>
            val i = r.index(row.getString(0))
            if (row.getLong(2 + k) > r.cfg(i).histogramMaxBuckets &&
                r.pinned(i).isEmpty && !row.isNullAt(3 + k))
              Some(i -> ((row.getDouble(3 + k), row.getDouble(4 + k))))
            else None
          }.toMap
        (r.byVar(statsRows).map { case (i, rs) =>
           i -> rs.map(row => row.getInt(1) -> slice(row, 2, k)) },
         histogramRows(r, grid, aggs))
      }
    r.vars.indices.map { i =>
      VarAggregate(
        classRows.getOrElse(i, Array.empty[(Int, Row)]).groupBy(_._1)
          .map { case (c, rs) => c -> rs.map(_._2) },
        hist.getOrElse(i, Array.empty[(Double, Row)]))
    }
  }

  /** Columns `from until from + k` of `row`. */
  private def slice(row: Row, from: Int, k: Int): Row =
    Row.fromSeq(row.toSeq.slice(from, from + k))

  /** Pass B: the clean-row histogram shuffle for every variable at
    * once, as (value, `aggs` row) per variable index, sorted by value. */
  private def histogramRows(r: Rows, grid: Map[Int, (Double, Double)],
                            aggs: Seq[Column])
      : Map[Int, Array[(Double, Row)]] =
    r.byVar(r.melt(r.rep(grid))
      .where(col("cls") === Preprocess.CleanClass)
      .groupBy("var", "x")
      .agg(aggs.head, aggs.tail: _*)
      .collect())
      .map { case (i, rs) =>
        i -> rs.map(row => row.getDouble(1) -> slice(row, 2, aggs.length))
          .sortBy(_._1)
      }

  private def allPinned(r: Rows): Boolean =
    r.pinned.forall(_.isDefined)

  // binary aggregates over melted (y, w)
  private val nAgg = count(lit(1)).as("n")
  private val w0Agg =
    sum(when(col("y") === 0.0, col("w")).otherwise(0.0)).as("w0")
  private val w1Agg =
    sum(when(col("y") =!= 0.0, col("w")).otherwise(0.0)).as("w1")
  private val wtAgg = sum(col("w")).as("wt")

  /** Binary histogram columns (n, w0, w1) and their buckets. */
  private[graft] val binaryAggs: Seq[Column] = Seq(nAgg, w0Agg, w1Agg)
  private[graft] def binaryHist(hist: Array[(Double, Row)])
      : Array[Prebinning.HistBucket] =
    hist.map { case (v, row) =>
      Prebinning.HistBucket(v, row.getLong(0), row.getDouble(1),
                            row.getDouble(2))
    }

  private def fitNumericBatch(r: Rows): Map[String, FittedOptimalBinning] = {
    val (totalsByVar, histByVar) =
      if (allPinned(r)) {
        // one scan + one bounded shuffle replaces the two of the
        // general path
        val byVar = aggregate(r, binaryAggs :+ wtAgg)
        (byVar.map(_.classes.map { case (c, rs) =>
           c -> ClassTotals(rs.map(_.getDouble(1)).sum,
                            rs.map(_.getDouble(2)).sum,
                            rs.map(_.getLong(0)).sum,
                            rs.map(_.getDouble(3)).sum)
         }),
         byVar.map(a => binaryHist(a.hist)))
      } else {
        val (totals, grid) = binaryPassA(r)
        val hist = histogramRows(r, grid, binaryAggs)
        (r.vars.indices.map(totals.getOrElse(_, Map.empty[Int, ClassTotals])),
         r.vars.indices.map(i =>
           binaryHist(hist.getOrElse(i, Array.empty[(Double, Row)]))))
      }

    // driver-side parallel solve per variable
    r.vars.indices.par.map { i =>
      val totals = totalsByVar(i)
      r.name(i) -> OptimalBinning.fitFromHistogram(histByVar(i),
        totals, totals.values.map(_.w).sum, r.cfg(i),
        categories = null, catOthers = null)
    }.toList.toMap
  }

  /** Binary Pass A: per-(var, cls) totals + clean range/ndv, and the
    * grid (min, max) of every variable whose approximate distinct count
    * exceeds its `histogramMaxBuckets`. The class space is
    * config-bounded (clean + special groups + missing), so instead of
    * melting vars x rows through a groupBy shuffle, emit one
    * conditional aggregate per (var, class, metric) over the UN-melted
    * table: one data pass, no vars-fold row explosion, and a no-shuffle
    * global aggregate (partial rows are a single row per partition) at
    * any scale. Chunked so each generated aggregate stays a
    * JIT-compilable method: past ~256 aggregate expressions the
    * monolithic codegen method crosses HotSpot's 8 KB ceiling and the
    * whole stage runs interpreted. Chunks run as CONCURRENT driver
    * actions — each is a single-stage scan whose parquet read prunes to
    * its own variables, so wide batches cost the same bytes as one
    * scan, split across simultaneously-running jobs. */
  private def binaryPassA(r: Rows)
      : (Map[Int, Map[Int, ClassTotals]], Map[Int, (Double, Double)]) = {
    val passAChunks: Seq[Seq[Int]] = {
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[scala.collection.mutable.ArrayBuffer[Int]]
      var width = 0
      r.vars.indices.foreach { i =>
        val w = 4 * r.nClasses(i) + 3
        if (buf.isEmpty || width + w > 256) {
          buf += scala.collection.mutable.ArrayBuffer(i); width = w
        } else { buf.last += i; width += w }
      }
      buf.map(_.toSeq).toSeq
    }

    val wide = r.wide
    val groupRows: Seq[(Seq[Int], Row)] =
      passAChunks.par.map { group =>
        val aggCols: Seq[Column] = group.flatMap { i =>
          val cls = r.cls(i)
          val w = r.weight(i)
          val perClass = (0 until r.nClasses(i)).flatMap { c =>
            Seq(sum(when(cls === c && col("__y") === 0.0, w)
                  .otherwise(0.0)).as(s"w0_${i}_$c"),
                sum(when(cls === c && col("__y") =!= 0.0, w)
                  .otherwise(0.0)).as(s"w1_${i}_$c"),
                count(when(cls === c, lit(1))).as(s"n_${i}_$c"),
                sum(when(cls === c, w).otherwise(0.0))
                  .as(s"wt_${i}_$c"))
          }
          val cleanX = when(cls === Preprocess.CleanClass, r.x(i))
          perClass ++ Seq(min(cleanX).as(s"minx_$i"),
                          max(cleanX).as(s"maxx_$i"),
                          approx_count_distinct(cleanX).as(s"ndv_$i"))
        }
        group -> wide.agg(aggCols.head, aggCols.tail: _*).collect()(0)
      }.toList

    val totals = groupRows.flatMap { case (group, row) =>
      group.map { i =>
        i -> (0 until r.nClasses(i)).flatMap { c =>
          val n = row.getAs[Long](s"n_${i}_$c")
          if (n == 0L) None
          else Some(c -> ClassTotals(row.getAs[Double](s"w0_${i}_$c"),
                                     row.getAs[Double](s"w1_${i}_$c"), n,
                                     row.getAs[Double](s"wt_${i}_$c")))
        }.toMap
      }
    }.toMap
    val grid = groupRows.flatMap { case (group, row) =>
      group.flatMap { i =>
        if (row.getAs[Long](s"ndv_$i") > r.cfg(i).histogramMaxBuckets &&
            r.pinned(i).isEmpty &&
            !row.isNullAt(row.fieldIndex(s"minx_$i")))
          Some(i -> (row.getAs[Double](s"minx_$i"),
                     row.getAs[Double](s"maxx_$i")))
        else None
      }
    }.toMap
    (totals, grid)
  }

  /** Continuous bucket from the `ContinuousOptimalBinning.aggExprs`
    * columns (n, w, wy, wy2, ymin, ymax, zeros). */
  private def contBucket(value: Double, row: Row): ContBucket =
    ContBucket(value, row.getLong(0), row.getDouble(1), row.getDouble(2),
               row.getDouble(3), row.getDouble(4), row.getDouble(5),
               row.getLong(6))

  /** Continuous class totals from the class's `aggExprs` rows: one row
    * carries its exact `stddev_pop`; a pinned clean class (one row per
    * representative) derives it from the moments — it is not consumed
    * downstream, data-bin stds come from bucket moments. */
  private def contTotals(rs: Array[Row]): ContClassTotals = {
    val w = rs.map(_.getDouble(1)).sum
    val wy = rs.map(_.getDouble(2)).sum
    val std =
      if (rs.length == 1)
        Option(rs(0).get(7)).map(_.asInstanceOf[Double]).getOrElse(0.0)
      else if (w > 0) {
        val wy2 = rs.map(_.getDouble(3)).sum
        math.sqrt(math.max(wy2 / w - (wy / w) * (wy / w), 0.0))
      } else 0.0
    ContClassTotals(w, wy, std, rs.map(_.getDouble(4)).min,
                    rs.map(_.getDouble(5)).max,
                    rs.map(_.getLong(6)).sum.toDouble)
  }

  private def fitContinuousBatch(r: Rows)
      : Map[String, FittedContinuousBinning] = {
    val byVar = aggregate(r, ContinuousOptimalBinning.aggExprs)
    r.vars.indices.par.map { i =>
      val totals = byVar(i).classes.map { case (c, rs) => c -> contTotals(rs) }
      r.name(i) -> ContinuousOptimalBinning.fitFromHistogram(
        byVar(i).hist.map { case (v, row) => contBucket(v, row) },
        totals, totals.values.map(_.n).sum, r.cfg(i),
        categories = null, catOthers = null)
    }.toList.toMap
  }

  private def fitCategoricalBatch(r: Rows)
      : Map[String, FittedOptimalBinning] = {
    val base = r.melt(r.x)
    val agg = base
      .groupBy("var", "cls", "x")
      .agg(nAgg, w0Agg, w1Agg, wtAgg)

    // bounded driver collect: beyond each variable's histogram budget,
    // keep its top-K categories by weight and pool its long tail into
    // its others bin — the collect stays O(sum of budgets) at any
    // cardinality
    val caps = r.vars.indices.map(r.cfg(_).histogramMaxBuckets)
    val probe = agg.limit(caps.sum + 1).collect()
    val (rows, tails) =
      if (probe.length <= caps.sum)
        (probe, Map.empty[Int, OptimalBinning.CatCountRow])
      else {
        val nonClean =
          agg.where(col("cls") =!= Preprocess.CleanClass).collect()
        val wnd = org.apache.spark.sql.expressions.Window
          // category tie-break keeps the top-K selection deterministic
          // when weights tie (re-runs must fit identical bins)
          .partitionBy("var").orderBy(desc("wt"), col("x"))
        val cap =
          if (caps.distinct.size == 1) lit(caps.head)
          else r.vars.indices.tail.foldLeft(lit(caps.head)) { (e, i) =>
            when(col("var") === r.name(i), caps(i)).otherwise(e)
          }
        val top = agg.where(col("cls") === Preprocess.CleanClass)
          .withColumn("__rn", row_number().over(wnd))
          .where(col("__rn") <= cap).drop("__rn").collect()
        val topByVar = r.byVar(top)
        val tailMap = base.where(col("cls") === Preprocess.CleanClass)
          .groupBy("var")
          .agg(nAgg, w0Agg, w1Agg)
          .collect().flatMap { t =>
            val i = r.index(t.getString(0))
            val kept = topByVar.getOrElse(i, Array.empty)
            val tailN = t.getLong(1) - kept.map(_.getLong(3)).sum
            if (tailN <= 0) None
            else Some(i -> OptimalBinning.CatCountRow(
              Preprocess.CleanClass, "", tailN,
              t.getDouble(2) - kept.map(_.getDouble(4)).sum,
              t.getDouble(3) - kept.map(_.getDouble(5)).sum))
          }.toMap
        (top ++ nonClean, tailMap)
      }

    val byVar = r.byVar(rows)
    r.vars.indices.par.map { i =>
      val catRows = byVar.getOrElse(i, Array.empty).map { row =>
        OptimalBinning.CatCountRow(row.getInt(1),
                                   Option(row.getString(2)).getOrElse(""),
                                   row.getLong(3), row.getDouble(4),
                                   row.getDouble(5))
      }
      r.name(i) -> OptimalBinning.fitCategoricalFromCounts(
        catRows, r.cfg(i), tailOthers = tails.get(i))
    }.toList.toMap
  }
}

/** Fitted multi-variable process: per-variable models, selection support,
  * wide transform (one generated CASE column per selected variable — a
  * single stage, no shuffle). */
final class FittedBinningProcess(
    val variables: Array[String],
    val fits: Map[String, FittedOptimalBinning],
    val selection: BinningProcess.Selection) extends Serializable {

  /** Per-variable summary metrics (`binning_process.py:397-435`). */
  lazy val summary: Seq[(String, String, String, Double, Double, Double,
                         Int)] =
    variables.toSeq.map { v =>
      val f = fits(v)
      (v, f.config.dtype, f.status, f.table.iv, f.table.js, f.table.gini,
       f.nDataBins)
    }

  /** Selection support mask (`_support_selection_criteria`
    * `binning_process.py:350-395`). */
  lazy val support: Map[String, Boolean] = {
    val s = selection
    val base = variables.map { v =>
      val f = fits(v)
      var ok = true
      s.minIv.foreach(b => ok &&= f.table.iv >= b)
      s.maxIv.foreach(b => ok &&= f.table.iv <= b)
      s.minJs.foreach(b => ok &&= f.table.js >= b)
      s.maxJs.foreach(b => ok &&= f.table.js <= b)
      s.minGini.foreach(b => ok &&= f.table.gini >= b)
      v -> ok
    }.toMap
    var mask = (s.strategy, s.topK) match {
      case (Some(strategy), Some(k)) =>
        val eligible = variables.filter(base)
        val ranked = eligible.sortBy(v =>
          (if (strategy == "highest") -1 else 1) * fits(v).table.iv)
        val keep = ranked.take(k).toSet
        variables.map(v => v -> (base(v) && keep(v))).toMap
      case _ => base
    }
    // reference-shaped per-metric criteria, metric order fixed like
    // `_METRICS` iteration (`binning_process.py:361-389`)
    def metricOf(v: String, m: String): Double = m match {
      case "iv" => fits(v).table.iv
      case "js" => fits(v).table.js
      case "gini" => fits(v).table.gini
      case "quality" | "quality_score" =>
        fits(v).table.analysis().qualityScore
      case other =>
        throw new IllegalArgumentException(s"unknown metric $other")
    }
    Seq("iv", "js", "gini", "quality", "quality_score").foreach { m =>
      s.criteria.get(m).foreach { c =>
        c.min.foreach { b =>
          mask = mask.map { case (v, ok) =>
            v -> (ok && metricOf(v, m) >= b)
          }
        }
        c.max.foreach { b =>
          mask = mask.map { case (v, ok) =>
            v -> (ok && metricOf(v, m) <= b)
          }
        }
        (c.strategy, c.top) match {
          case (Some(strategy), Some(top)) =>
            val eligible = variables.filter(mask)
            val n = math.min(
              eligible.length,
              if (top >= 1.0) top.toInt
              else math.ceil(eligible.length * top).toInt)
            val ranked = eligible.sortBy(v =>
              (if (strategy == "highest") -1 else 1) * metricOf(v, m))
            val keep = ranked.take(n).toSet
            mask = mask.map { case (v, ok) => v -> (ok && keep(v)) }
          case _ =>
        }
      }
    }
    // fixed variables are always selected
    s.fixedVariables.foreach { fv =>
      if (mask.contains(fv)) mask += fv -> true
    }
    mask
  }

  def selectedVariables: Array[String] = variables.filter(support)

  /** Fitted model for one variable (`get_binned_variable`,
    * `binning_process.py:944-961`). */
  def getBinnedVariable(name: String): FittedOptimalBinning =
    fits.getOrElse(name, throw new IllegalArgumentException(
      s"name $name does not match a binned variable"))

  /** Replace one variable's fitted model (`update_binned_variable`,
    * `binning_process.py:963-1016`) — e.g. after re-fitting it with
    * hand-tuned parameters. Returns a NEW process (immutability keeps
    * broadcast copies of the old one valid); support and summary are
    * re-derived lazily from the updated fit set. */
  def updated(name: String, optb: FittedOptimalBinning)
      : FittedBinningProcess = {
    if (!fits.contains(name))
      throw new IllegalArgumentException(
        s"name $name does not match a binned variable")
    if (optb.config.name.nonEmpty && optb.config.name != name)
      throw new IllegalArgumentException(
        s"name and object name must coincide; $name != ${optb.config.name}")
    new FittedBinningProcess(variables, fits + (name -> optb), selection)
  }

  /** Overview text (`information()`,
    * `binning_process.py:892-918`): variable counts by dtype and
    * status, and the selection outcome. */
  def information(): String = {
    val nNum = variables.count(v => fits(v).config.dtype == "numerical")
    val byStatus = variables.map(v => fits(v).status)
      .groupBy(identity).view.mapValues(_.length).toMap
      .toSeq.sortBy(_._1)
      .map { case (s, n) => s"$s=$n" }.mkString(", ")
    f"""binning process: ${variables.length}%d variables
       |  numerical        $nNum%d
       |  categorical      ${variables.length - nNum}%d
       |  selected         ${selectedVariables.length}%d
       |  status           $byStatus%s""".stripMargin
  }

  /** Wide transform: metric column per selected variable. */
  /** Wide transform: one generated CASE per selected variable in a
    * single projection. `transformParams` carries per-variable
    * (metric_special, metric_missing) overrides — the reference's
    * `binning_transform_params` (`binning_process.py:452-460`).
    */
  def transform(df: DataFrame, metric: String = "woe",
                keepCols: Seq[String] = Seq.empty,
                transformParams: Map[String, (Any, Any)] = Map.empty)
      : DataFrame = {
    val cols = keepCols.map(col) ++ selectedVariables.toSeq.map { v =>
      val (sp, mi) =
        transformParams.getOrElse(v, ("empirical", "empirical"))
      fits(v).transform(col(v), metric, metricSpecial = sp,
                        metricMissing = mi).as(v)
    }
    df.select(cols: _*)
  }
}
