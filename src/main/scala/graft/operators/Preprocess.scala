package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Special-code configuration: a flat list (one synthetic "Special" bin) or
  * an ordered dict of named groups, mirroring
  * `optbinning/binning/preprocessing.py:193-228`.
  */
sealed trait SpecialCodes {
  def groupNames: Seq[String]
  def allValues: Seq[Any]
}
final case class SpecialList(values: Seq[Any]) extends SpecialCodes {
  def groupNames: Seq[String] = Seq("Special")
  def allValues: Seq[Any] = values
}
final case class SpecialDict(groups: Seq[(String, Seq[Any])])
    extends SpecialCodes {
  def groupNames: Seq[String] = groups.map(_._1)
  def allValues: Seq[Any] = groups.flatMap(_._2)
}

/** Row-classification expressions: every input row is exactly one of
  * clean / special group k / missing (`preprocessing.py:45-285` split_data).
  * Pure Catalyst `when` chains — predicate pushdown and whole-stage codegen
  * apply; no UDFs.
  */
object Preprocess {

  /** 0 = clean, 1..k = special group index+1, k+1 = missing. */
  val CleanClass = 0

  def missingPredicate(x: Column, isNumeric: Boolean): Column =
    if (isNumeric) x.isNull || isnan(x) else x.isNull

  /** Class of a clean row that a row filter (outlier detector or
    * fix_lb/fix_ub bound) removes. No fit aggregate reads it, so the
    * row drops out of every total and histogram. */
  val FilteredClass = -1

  /** Special-code membership, one predicate per group in declared
    * order. A numeric column compares the codes as given; a string
    * column compares each code as a string and is never cast to a
    * number (an ANSI cast of a category to DOUBLE would throw). */
  def specialPredicates(x: Column, isNumeric: Boolean,
                        specialCodes: Option[SpecialCodes]): Seq[Column] = {
    def member(codes: Seq[Any]): Column =
      if (isNumeric) x.isin(codes: _*)
      else x.isin(codes.map(c => lit(c).cast("string")): _*)
    specialCodes match {
      case Some(SpecialList(values)) => Seq(member(values))
      case Some(SpecialDict(groups)) => groups.map(g => member(g._2))
      case None => Nil
    }
  }

  /** Build the row-class column. Missing is checked first (NaN cannot be a
    * special code member), then special groups in declared order.
    */
  def rowClass(x: Column, isNumeric: Boolean,
               specialCodes: Option[SpecialCodes]): Column =
    specialPredicates(x, isNumeric, specialCodes).zipWithIndex
      .foldLeft(when(missingPredicate(x, isNumeric),
                     lit(missingClassIndex(specialCodes)))) {
        case (e, (p, g)) => e.when(p, lit(g + 1))
      }
      .otherwise(lit(CleanClass))

  def missingClassIndex(specialCodes: Option[SpecialCodes]): Int =
    specialCodes.map(_.groupNames.size).getOrElse(0) + 1
}
