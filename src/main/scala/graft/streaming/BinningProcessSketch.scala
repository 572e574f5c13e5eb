package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.operators.{BinningConfig, BinningProcess, FittedOptimalBinning,
                        SpecialList}

/** Multi-variable streaming binning
  * (`optbinning/binning/distributed/binning_process_sketch.py:123`): one
  * BSketch per numerical variable and one CatSketch per categorical
  * variable, updated for ALL variables of a dtype family in a single
  * melted `groupByKey(variable)` aggregate per batch (the sketch
  * aggregator's partial/merge runs map-side), solved per variable on the
  * driver.
  */
final class BinningProcessSketch(
    val variables: Seq[String],
    val config: BinningConfig = BinningConfig(),
    val eps: Double = 1e-4,
    val catVariables: Seq[String] = Seq.empty) extends Serializable {

  private val sketches: Map[String, OptimalBinningSketch] =
    variables.map(v =>
      v -> new OptimalBinningSketch(config.copy(name = v), eps)).toMap

  private val catSketches: Map[String, OptimalBinningCatSketch] =
    catVariables.map(v =>
      v -> new OptimalBinningCatSketch(
        config.copy(name = v, dtype = "categorical"))).toMap

  def sketch(variable: String): OptimalBinningSketch = sketches(variable)
  def catSketch(variable: String): OptimalBinningCatSketch =
    catSketches(variable)

  /** Add a batch: melt variables to long format, ONE groupByKey(var)
    * aggregate per dtype family updates every sketch. */
  def add(df: DataFrame, yCol: String): Unit = {
    val spark = df.sparkSession
    import spark.implicits._

    // the batch plane's melt (BinningProcess.chunkedMelt): variable
    // names travel as literal columns, never as SQL text
    def melt(vars: Seq[String], xType: String): DataFrame =
      BinningProcess.chunkedMelt(df, vars, col(yCol).cast("double"),
                                 lit(1.0), v => col(v).cast(xType),
                                 _ => lit(0))
        .select(col("var"), col("x"), col("y"))

    if (variables.nonEmpty) {
      val melted = melt(variables, "double")

      // typed Aggregator => ObjectHashAggregate with PARTIAL aggregation:
      // each task merges into per-variable sketch buffers before the
      // shuffle, so only n_vars sketches cross the wire per partition.
      // The batch aggregator must route the SAME special codes the
      // per-variable solver sketches were built with — an empty list
      // here would count special values into the clean GK sketches.
      val specials: Array[Double] = config.specialCodes match {
        case Some(SpecialList(vs)) => vs.map(_.toString.toDouble).toArray
        case _                     => Array.empty[Double]
      }
      val agg = new BSketchAggregator(eps, specials)
      val perVar = melted
        .as[(String, Option[Double], Double)]
        .map { case (v, x, y) => (v, SketchInput(x, y)) }(
          Encoders.tuple(Encoders.STRING,
                         Encoders.product[SketchInput]))
        .groupByKey(_._1)
        .mapValues(_._2)(Encoders.product[SketchInput])
        .agg(agg.toColumn)
        .collect()

      perVar.foreach { case (v, sk) =>
        sketches(v).mergeSketch(sk)
      }
    }

    if (catVariables.nonEmpty) {
      val melted = melt(catVariables, "string")
      // same special-code routing as the numeric family above
      val catSpecials: Array[String] = config.specialCodes match {
        case Some(SpecialList(vs)) => vs.map(_.toString).toArray
        case _                     => Array.empty[String]
      }
      val agg = new CatSketchAggregator(catSpecials)
      val perVar = melted
        .as[(String, Option[String], Double)]
        .map { case (v, x, y) => (v, CatSketchInput(x, y)) }(
          Encoders.tuple(Encoders.STRING,
                         Encoders.product[CatSketchInput]))
        .groupByKey(_._1)
        .mapValues(_._2)(Encoders.product[CatSketchInput])
        .agg(agg.toColumn)
        .collect()
      perVar.foreach { case (v, sk) =>
        catSketches(v).sketch.merge(sk)
      }
    }
  }

  def merge(other: BinningProcessSketch): Unit = {
    variables.foreach(v => sketches(v).merge(other.sketches(v)))
    catVariables.foreach(v => catSketches(v).merge(other.catSketches(v)))
  }

  /** Solve every variable from current sketch state (driver, ms each). */
  def solveAll(): Map[String, FittedOptimalBinning] =
    variables.map(v => v -> sketches(v).solve()).toMap ++
      catVariables.map(v => v -> catSketches(v).solve()).toMap
}
