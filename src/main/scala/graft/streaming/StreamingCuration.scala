package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.pipeline.TextAnalysis

/** Structured-Streaming curation and monitoring operators: near-real-time
  * exact dedup on a content fingerprint, and continuous PSI drift
  * monitoring of a production stream against a training-time expected
  * distribution. Both follow the engine's streaming doctrine — state is
  * a commutative monoid (per-key dedup marks, per-bin counters), so
  * results are arrival-order-insensitive within the watermark.
  */
object StreamingCuration {

  /** Streaming exact dedup: keep the first document per normalized
    * content fingerprint, with state bounded by the event-time watermark
    * (`dropDuplicatesWithinWatermark` — duplicate state is evicted once
    * the watermark passes, so memory is O(docs per delay window), not
    * O(corpus)). Works on any append stream carrying a text and an
    * event-time column.
    */
  def exactDedup(stream: DataFrame, textCol: String, tsCol: String,
                 watermarkDelay: String,
                 portable: Boolean = false): DataFrame = {
    // portable = true keys on the arithmetic-only rolling fingerprint
    // (same normalized-text equivalence classes) so an external SQL
    // engine replays the dedup key bit-for-bit — the same convention
    // as the batch Dedup operators; production uses xxhash64
    val fp = if (portable) TextAnalysis.rollingFingerprint(col(textCol))
             else TextAnalysis.fingerprint(col(textCol))
    stream
      .withColumn("__fp", fp)
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")
  }
}

/** Continuous PSI drift monitor: accumulate per-bin counts of a scored
  * production stream (via `foreachBatch`) and compare against the
  * expected (training) distribution after every micro-batch —
  * `ScorecardMonitoring` semantics (`monitoring.py:502-571`) pushed into
  * a stream. Per batch cost is ONE narrow aggregate of the micro-batch
  * (counts by CASE-chain bin index); the monitor state is the bin-count
  * vector, a commutative monoid, so the PSI trajectory is identical to
  * re-running batch PSI on everything seen so far.
  *
  * Usage:
  * {{{
  *   val mon = new StreamingDriftMonitor(expectedCounts, splits, "score")
  *   stream.writeStream.foreachBatch { (df, _) =>
  *     mon.add(df)
  *     log.info(s"psi=\${mon.psiTotal} \${mon.verdict}")
  *   }
  * }}}
  */
final class StreamingDriftMonitor(
    expectedCounts: Array[Double],
    splits: Array[Double],
    xCol: String) extends Serializable {

  require(expectedCounts.length == splits.length + 1,
          "expectedCounts must have one entry per bin (splits + 1)")
  private val actual = new Array[Double](expectedCounts.length)

  private def binIdx(x: Column): Column =
    splits.indices.foldRight(lit(splits.length): Column) { (i, acc) =>
      when(x < splits(i), lit(i)).otherwise(acc)
    }

  /** Fold one micro-batch into the per-bin counters (one aggregate).
    * Null/NaN scores are excluded — the CASE chain would otherwise drop
    * them silently into the last bin and distort PSI. */
  def add(batch: DataFrame): Unit = {
    val x = col(xCol).cast("double")
    val rows = batch
      .where(x.isNotNull && !isnan(x))
      .select(binIdx(x).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .collect()
    rows.foreach(r => actual(r.getInt(0)) += r.getLong(1).toDouble)
  }

  def actualCounts: Array[Double] = actual.clone()

  def expectedTotals: Array[Double] = expectedCounts.clone()

  /** Total PSI of the accumulated actual distribution vs expected. */
  def psiTotal: Double =
    graft.operators.Monitoring.psiTerms(expectedCounts, actual).sum

  /** Traffic-light verdict (`monitoring.py:560-571`). */
  def verdict: String = graft.operators.Monitoring.psiVerdict(psiTotal)
}

object StreamingDriftMonitor {

  /** Build a monitor from the training cohort: bins `xCol` with the
    * given splits and captures the expected per-bin counts (one
    * aggregate job).
    */
  def fromExpected(expected: DataFrame, xCol: String,
                   splits: Array[Double]): StreamingDriftMonitor = {
    val x = col(xCol).cast("double")
    val idx = splits.indices.foldRight(lit(splits.length): Column) {
      (i, acc) => when(x < splits(i), lit(i)).otherwise(acc)
    }
    val counts = new Array[Double](splits.length + 1)
    // same null/NaN exclusion as add() so both cohorts bin identically
    expected.where(x.isNotNull && !isnan(x))
      .select(idx.as("bin")).groupBy("bin")
      .agg(count(lit(1)).as("n")).collect()
      .foreach(r => counts(r.getInt(0)) = r.getLong(1).toDouble)
    new StreamingDriftMonitor(counts, splits, xCol)
  }
}
