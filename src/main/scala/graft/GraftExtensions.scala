package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{BooleanType, IntegerType}

import graft.functions.{CosineSimExpr, FreqLongsAgg, JaroWinklerExpr, LangIdExpr, LshSigExpr, MinHashSigExpr, RepetitionStatsExpr, SimHash64Expr, TopKLongsAgg, ZOrder2Expr}
import graft.pipeline.TextAnalysis

/** SQL surface for the native Catalyst kernels, registered via
  * `SparkSessionExtensions` (the idiomatic Spark extension point —
  * `spark.sql.extensions=graft.GraftExtensions` on a cluster, or
  * `.withExtensions(new GraftExtensions)` on a session builder), so
  * pure-SQL pipelines reach the same codegen'd kernels as the Column
  * API:
  *
  * {{{
  * SELECT graft_simhash64(text), graft_lang_id(text) FROM documents
  * }}}
  *
  * Registered functions (all whole-stage-codegen expressions, no UDFs):
  *  - `graft_simhash64(text[, portable])` -> BIGINT
  *  - `graft_minhash_sig(text, shingle_len, k[, portable])` -> ARRAY<BIGINT>
  *  - `graft_cosine_sim(a, b)` -> DOUBLE
  *  - `graft_lsh_sig(emb, n_planes[, portable])` -> BIGINT
  *  - `graft_repetition_stats(text)` -> ARRAY<DOUBLE> of
  *    [top_bigram_frac, dup_trigram_frac] (Gopher-style signals;
  *    access with `element_at(..., 1)` / `element_at(..., 2)`)
  *  - `graft_lang_id(text)` -> STRING (en/es/de/fr/zh/und heuristic)
  *  - `graft_topk_longs(key, id, k)` -> ARRAY<STRUCT<key,id>>, the
  *    bounded-state grouped top-k aggregate (O(k) per group)
  *
  * [[GraftExtensions.install]] registers the same functions into an
  * already-running session (notebooks, tests).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def litBool(e: Expression, fn: String): Boolean = e match {
    case Literal(b: Boolean, BooleanType) => b
    case other => throw new IllegalArgumentException(
      s"$fn: expected a boolean literal, got $other")
  }

  private def litInt(e: Expression, fn: String): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case other => throw new IllegalArgumentException(
      s"$fn: expected an integer literal, got $other")
  }

  private def bad(fn: String, args: Seq[Expression]): Nothing =
    throw new IllegalArgumentException(
      s"$fn: unexpected argument count ${args.length}")

  private[graft] val descriptions: Seq[
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (new FunctionIdentifier("graft_simhash64"),
       new ExpressionInfo(classOf[SimHash64Expr].getName,
                          "graft_simhash64"),
       (args: Seq[Expression]) => args match {
         case Seq(t) => SimHash64Expr(t)
         case Seq(t, p) =>
           SimHash64Expr(t, litBool(p, "graft_simhash64"))
         case other => bad("graft_simhash64", other)
       }),
      (new FunctionIdentifier("graft_minhash_sig"),
       new ExpressionInfo(classOf[MinHashSigExpr].getName,
                          "graft_minhash_sig"),
       (args: Seq[Expression]) => args match {
         case Seq(t, sl, k) =>
           MinHashSigExpr(t, litInt(sl, "graft_minhash_sig"),
                          litInt(k, "graft_minhash_sig"))
         case Seq(t, sl, k, p) =>
           MinHashSigExpr(t, litInt(sl, "graft_minhash_sig"),
                          litInt(k, "graft_minhash_sig"),
                          litBool(p, "graft_minhash_sig"))
         case other => bad("graft_minhash_sig", other)
       }),
      (new FunctionIdentifier("graft_cosine_sim"),
       new ExpressionInfo(classOf[CosineSimExpr].getName,
                          "graft_cosine_sim"),
       (args: Seq[Expression]) => args match {
         case Seq(a, b) => CosineSimExpr(a, b)
         case other => bad("graft_cosine_sim", other)
       }),
      (new FunctionIdentifier("graft_lsh_sig"),
       new ExpressionInfo(classOf[LshSigExpr].getName, "graft_lsh_sig"),
       (args: Seq[Expression]) => args match {
         case Seq(e, n) => LshSigExpr(e, litInt(n, "graft_lsh_sig"))
         case Seq(e, n, p) =>
           LshSigExpr(e, litInt(n, "graft_lsh_sig"),
                      litBool(p, "graft_lsh_sig"))
         case other => bad("graft_lsh_sig", other)
       }),
      (new FunctionIdentifier("graft_repetition_stats"),
       new ExpressionInfo(classOf[RepetitionStatsExpr].getName,
                          "graft_repetition_stats"),
       (args: Seq[Expression]) => args match {
         case Seq(t) => RepetitionStatsExpr(t)
         case other => bad("graft_repetition_stats", other)
       }),
      (new FunctionIdentifier("graft_zorder"),
       new ExpressionInfo(classOf[ZOrder2Expr].getName, "graft_zorder"),
       (args: Seq[Expression]) => args match {
         case Seq(x, y, b) =>
           ZOrder2Expr(x, y, litInt(b, "graft_zorder"))
         case other => bad("graft_zorder", other)
       }),
      (new FunctionIdentifier("graft_topk_longs"),
       new ExpressionInfo(classOf[TopKLongsAgg].getName,
                          "graft_topk_longs"),
       (args: Seq[Expression]) => args match {
         case Seq(key, id, k) =>
           TopKLongsAgg(key, id, litInt(k, "graft_topk_longs"))
         case other => bad("graft_topk_longs", other)
       }),
      (new FunctionIdentifier("graft_freq_longs"),
       new ExpressionInfo(classOf[FreqLongsAgg].getName,
                          "graft_freq_longs"),
       (args: Seq[Expression]) => args match {
         case Seq(key, cap) =>
           FreqLongsAgg(key, litInt(cap, "graft_freq_longs"))
         case other => bad("graft_freq_longs", other)
       }),
      (new FunctionIdentifier("graft_jaro_winkler"),
       new ExpressionInfo(classOf[JaroWinklerExpr].getName,
                          "graft_jaro_winkler"),
       (args: Seq[Expression]) => args match {
         case Seq(a, b) => JaroWinklerExpr(a, b)
         case other => bad("graft_jaro_winkler", other)
       }),
      (new FunctionIdentifier("graft_lang_id"),
       new ExpressionInfo(classOf[LangIdExpr].getName, "graft_lang_id"),
       (args: Seq[Expression]) => args match {
         case Seq(t) =>
           LangIdExpr(t, TextAnalysis.langOrder.map(l =>
             l -> TextAnalysis.stopwords(l)))
         case other => bad("graft_lang_id", other)
       }))

  /** Register the functions into an already-running session. */
  def install(spark: SparkSession): Unit =
    descriptions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(ident, info, builder)
    }
}
