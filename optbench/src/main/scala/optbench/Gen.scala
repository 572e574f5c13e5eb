package optbench

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded credit-style table shared by every workload.
  *
  * Each row is drawn from its own random stream keyed by (seed, cohort,
  * row id), so a seed gives the same rows at any partition count and in
  * any row order. Cohort 0 is the training ("expected") cohort; cohort 1
  * is the drifted "actual" cohort, in which the [[Shifted]] variables
  * move.
  *
  * Make-up (at any size):
  *  - [[HighCard]]: continuous numerics, skewed, with far more than
  *    10,000 distinct values (the program's `histogramMaxBuckets`) at
  *    the sizes the workloads use; some carry missing values or the
  *    special code [[Special]]; each has a strong effect on the target,
  *    so every fit splits it;
  *  - [[LowCard]]: integer numerics with 5 to 360 distinct values,
  *    `age` and `debt_ratio` with non-monotone (valley) effects;
  *  - [[Noise]]: numerics with no effect and 2 to 2,000 distinct values,
  *    some with missing values;
  *  - [[Categorical]]: string variables with 4 to 150 levels, `employer`
  *    with missing values;
  *  - `y`: a logistic target with the effects written in [[logit]];
  *    `batch`: the arrival batch (equal contiguous id ranges).
  */
object Gen {
  val Special: Double = -999.0

  val HighCard: Seq[String] =
    Seq("income", "balance", "credit_limit", "utilization", "debt_ratio")
  val LowCard: Seq[String] =
    Seq("age", "n_accounts", "delinquencies", "inquiries",
        "months_on_book", "term", "dependents")
  /** Distinct-value count of each noise numeric. */
  private val NoiseLevels: Seq[Int] =
    Seq(2, 3, 5, 10, 20, 50, 100, 200, 500, 1000, 2000,
        4, 8, 16, 32, 64, 128, 256)
  val Noise: Seq[String] = NoiseLevels.indices.map(i => f"x$i%02d")
  val Numeric: Seq[String] = HighCard ++ LowCard ++ Noise

  val CategoricalLevels: Seq[(String, Int)] = Seq(
    "home" -> 4, "purpose" -> 12, "region" -> 50, "employer" -> 8,
    "channel" -> 5, "zip3" -> 150, "product" -> 20, "segment" -> 6,
    "education" -> 7, "state" -> 40)
  val Categorical: Seq[String] = CategoricalLevels.map(_._1)

  /** Variables whose distribution moves in the actual cohort. */
  val Shifted: Seq[String] = Seq("utilization", "inquiries", "region")

  val schema: StructType = StructType(
    StructField("id", LongType, nullable = false) +:
      (Numeric.map(StructField(_, DoubleType)) ++
       Categorical.map(StructField(_, StringType)) ++
       Seq(StructField("y", IntegerType, nullable = false),
           StructField("batch", IntegerType, nullable = false))))

  private val HomeEffect = Array(0.0, 0.35, -0.25, 0.5)
  private val ChannelEffect = Array(0.0, 0.45, 0.0, -0.35, 0.2)

  private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** `n` rows of one cohort in `batches` equal arrival batches. */
  def table(spark: SparkSession, seed: Long, cohort: Int, n: Long,
            batches: Int, partitions: Int): DataFrame =
    spark.range(0L, n, 1L, partitions)
      .map((id: java.lang.Long) => row(seed, cohort, id, n, batches))(
        Encoders.row(schema))

  /** Logit of the event probability; the known effects. */
  private def logit(zi: Double, zb: Double, zl: Double, utilization: Double,
                    debtRatio: Option[Double], age: Double,
                    delinquencies: Double, inquiries: Double,
                    monthsOnBook: Double, term: Double,
                    levels: Map[String, Int]): Double =
    -2.3 - 0.8 * zi + 0.45 * zb - 0.4 * zl +
      (if (utilization == Special) 0.6 else 2.2 * (utilization - 0.5)) +
      debtRatio.map(d => 0.9 * math.pow(d - 1.2, 2) - 0.6).getOrElse(0.3) +
      0.0012 * math.pow(age - 45.0, 2) - 0.3 +
      0.35 * delinquencies + 0.12 * inquiries -
      (if (monthsOnBook == Special) 0.0 else 0.003 * monthsOnBook) +
      0.01 * (term - 36.0) +
      HomeEffect(levels("home")) + 0.07 * (levels("purpose") - 6) +
      ChannelEffect(levels("channel")) - 0.12 * levels("education")

  private def row(seed: Long, cohort: Int, id: Long, n: Long,
                  batches: Int): Row = {
    val r = new java.util.SplittableRandom(
      mix64(mix64(mix64(seed) ^ cohort.toLong) + id))
    // every draw is made in this fixed order, whatever the branches
    def u(): Double = 1.0 - r.nextDouble() // (0, 1]
    val drift = cohort == 1
    val (zi, zb, zl, z7) =
      (r.nextGaussian(), r.nextGaussian(), r.nextGaussian(), r.nextGaussian())
    val (uIncomeNa, uUtilSpecial, uDebtNa, uMobSpecial) = (u(), u(), u(), u())
    val (uUtil, uDebt, uAge, uDelinq, uInq, uMob, uTerm, uDep) =
      (u(), u(), u(), u(), u(), u(), u(), u())

    val income = if (uIncomeNa < 0.04) None
                 else Some(math.exp(10.5 + 0.6 * zi))
    val balance = math.exp(8.0 + 1.2 * zb)
    val creditLimit = math.exp(9.0 + 0.5 * zl + 0.4 * zi)
    val utilization =
      if (uUtilSpecial < 0.02) Special
      else 1.2 * math.pow(uUtil, if (drift) 0.6 else 1.5)
    val debtRatio = if (uDebtNa < 0.03) None
                    else Some(3.0 * uDebt * uDebt)
    val age = 18.0 + math.floor(67.0 * uAge)
    val nAccounts = math.min(40.0, math.floor(math.exp(1.5 + 0.5 * z7)))
    val delinquencies = math.min(10.0, math.floor(-math.log(uDelinq) * 0.6))
    val inquiries = math.min(20.0, math.floor(-math.log(uInq) * 1.5)) +
      (if (drift) 3.0 else 0.0)
    val monthsOnBook =
      if (uMobSpecial < 0.02) Special else 1.0 + math.floor(359.0 * uMob)
    val term = 12.0 * (1.0 + math.floor(5.0 * uTerm))
    val dependents = math.floor(6.0 * uDep * uDep)
    val noise: Seq[Option[Double]] = NoiseLevels.zipWithIndex.map {
      case (k, i) =>
        val (v, na) = (math.floor(k * (1.0 - u())), u())
        if (i % 4 == 1 && na < 0.05) None else Some(math.min(v, k - 1.0))
    }

    val levels: Map[String, Int] = CategoricalLevels.map { case (c, k) =>
      val power = if (drift && c == "region") 0.4 else 1.5
      c -> math.min(k - 1, math.floor(k * math.pow(u(), power)).toInt)
    }.toMap
    val employerNa = u()
    val categorical: Seq[String] = Categorical.map { c =>
      if (c == "employer" && employerNa < 0.03) null
      else {
        val l = levels(c)
        c.take(2) + (if (l < 10) "00" else if (l < 100) "0" else "") + l
      }
    }

    val eta = logit(zi, zb, zl, utilization, debtRatio, age, delinquencies,
                    inquiries, monthsOnBook, term, levels)
    val y = if (u() < 1.0 / (1.0 + math.exp(-eta))) 1 else 0

    def boxed(x: Option[Double]): Any = x.map(Double.box).orNull
    val numeric: Seq[Any] = Seq(
      boxed(income), balance, creditLimit, utilization, boxed(debtRatio),
      age, nAccounts, delinquencies, inquiries, monthsOnBook, term,
      dependents) ++ noise.map(boxed)
    Row.fromSeq((id +: numeric) ++ categorical ++
                Seq(y, (id * batches / n).toInt))
  }
}
