package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft program builds its SparkSession. */
object Session {

  /** A local session on `cpus` cores: one shuffle partition per core,
    * no UI, UTC session time zone, and `EliminateWindowPartitions`
    * excluded. With that rule active Spark folds away the constant
    * partition key of `core.Windows.bounded`, and every intentional
    * bounded window prints the WindowExec single-partition warning,
    * burying real findings; excluded, only accidental unpartitioned
    * windows warn (plan cost identical — one partition either way).
    * Callers set their own log level.
    */
  def local(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.excludedRules",
              "org.apache.spark.sql.catalyst.optimizer." +
                "EliminateWindowPartitions")
      .getOrCreate()
}
