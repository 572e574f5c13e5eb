package graft.operators

import org.apache.spark.sql.DataFrame

import graft.core.Prebinning

/** Standalone MDLP discretizer facade (`optbinning/binning/mdlp.py:34`):
  * entropy-minimizing recursive binary splits with the MDL stopping
  * criterion against a binary target. Data plane: the binary value
  * histogram of the one histogram plane (`BinningProcess.aggregate`,
  * gridded beyond `histogramMaxBuckets` distinct values), then the
  * driver-side recursion — the same histogram and engine
  * `prebinningMethod = "mdlp"` uses inside the optimal-binning fits.
  */
object MDLP {

  def fit(df: DataFrame, xCol: String, yCol: String,
          minSamplesSplit: Long = 2, minSamplesLeaf: Long = 2,
          maxCandidates: Int = 32,
          histogramMaxBuckets: Int = 10000): Array[Double] =
    Prebinning.mdlpSplits(
      BinningProcess.binaryHist(BinningProcess.aggregate(df, xCol, yCol,
        BinningConfig(histogramMaxBuckets = histogramMaxBuckets),
        BinningProcess.binaryAggs).hist),
      minSamplesSplit, minSamplesLeaf, maxCandidates)
}
