package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.pipeline.{Similarity, TextAnalysis}

/** Higher-order-function formulations of the native kernels: the
  * composable Spark SQL reference each kernel's parity test compares
  * against (identical values, interpreted per row). None of them runs
  * in the library.
  */
object HofReferences {

  /** [[Similarity.cosine]]: 0.0 when either norm is zero. */
  def cosine(a: Column, b: Column): Column = {
    val d = Similarity.dot(a, b)
    val na = Similarity.norm(a)
    val nb = Similarity.norm(b)
    when(na > 0 && nb > 0, d / (na * nb)).otherwise(lit(0.0))
  }

  /** Deterministic pseudo-random hyperplane component h_{p,i} in [-1, 1]:
    * derived from xxhash64((p, i)) — no RNG state, reproducible across
    * executors and runs.
    */
  private def hyperplaneComponent(plane: Int, i: Column): Column =
    (xxhash64(lit(plane), i).cast("double") / lit(Long.MaxValue.toDouble))

  /** [[Similarity.lshSignature]] with `portable = false`. */
  def lshSignature(emb: Column, nPlanes: Int = 16): Column = {
    val dims = sequence(lit(0), size(emb) - 1)
    val bits = (0 until nPlanes).map { p =>
      val proj = aggregate(
        zip_with(emb, dims, (v, i) => v * hyperplaneComponent(p, i)),
        lit(0.0d), (acc, v) => acc + v)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  private def centroidLit(centroids: Array[Array[Double]]): Column =
    typedLit(centroids.map(_.toSeq).toSeq)

  /** Nearest cell by squared L2, ties to the lower cell id — the IVF
    * corpus assignment. */
  def nearestCell(centroids: Array[Array[Double]])(emb: Column): Column =
    array_sort(transform(centroidLit(centroids), (ctr, ci) =>
      struct(aggregate(zip_with(emb, ctr, (a, b) => (a - b) * (a - b)),
                       lit(0.0d), (acc, v) => acc + v).as("d2"),
             ci.as("cell"))))(0).getField("cell")

  /** The nProbe nearest cells in the same tie-break order — the IVF
    * query-side probe. */
  def probeCells(centroids: Array[Array[Double]], nProbe: Int)
                (emb: Column): Column =
    slice(transform(
      array_sort(transform(centroidLit(centroids), (ctr, ci) =>
        struct(aggregate(zip_with(emb, ctr, (a, b) => (a - b) * (a - b)),
                         lit(0.0d), (acc, v) => acc + v).as("d2"),
               ci.as("cell")))),
      s => s.getField("cell")), 1, nProbe)

  /** PQ encode: per subspace, argmin_c ||sub - codeword_c||^2, ties to
    * the lower code. */
  def pqCode(codebooks: Array[Array[Array[Double]]])(emb: Column): Column = {
    val dsub = codebooks(0)(0).length
    transform(typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq), (cb, s) =>
      array_sort(transform(cb, (ctr, ci) =>
        struct(aggregate(
                 zip_with(slice(emb, s * lit(dsub) + lit(1), lit(dsub)),
                          ctr, (a, b) => (a - b) * (a - b)),
                 lit(0.0d), (acc, v) => acc + v).as("d2"),
               ci.as("c"))))(0).getField("c"))
  }

  /** [[graft.pipeline.Dedup.simhash]] with `portable = false`. */
  def simhash(text: Column): Column = {
    val tokens = split(regexp_replace(lower(trim(text)), "\\s+", " "), " ")
    // aggregate over token HASHES (computed once per token) — building the
    // bit array from the raw token would re-hash it 64 times per element
    val bitArray: Column => Column = h => array(
      (0 until 64).map(i =>
        when(shiftright(h, i).bitwiseAND(1) === 1, lit(1L))
          .otherwise(lit(-1L))): _*)
    val votes = aggregate(
      transform(tokens, t => xxhash64(t)),
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, bitArray(h), (a, v) => a + v))
    // shiftleft (bitwise, no ANSI overflow check) instead of acc*2: the
    // top bit legitimately lands in the sign bit of the Long
    aggregate(reverse(votes), lit(0L),
              (acc, v) => shiftleft(acc, 1) + when(v > 0, 1L).otherwise(0L))
  }

  /** [[TextAnalysis.langId]]. Re-tokenizes per language and duplicates
    * the hit expressions inside the argmax chain, so it is ~12
    * interpreted split+intersect evaluations per row. */
  def langId(text: Column): Column = {
    val cjk = size(regexp_extract_all(text, lit("[\\x{4e00}-\\x{9fff}]"),
                                      lit(0)))
    val hits = TextAnalysis.langOrder
      .map(l => l -> TextAnalysis.stopwordHits(text, l))
    val maxHits = greatest(hits.map(_._2): _*)
    // first language (in en,es,de,fr order) reaching maxHits wins
    val ordered = hits.reverse.foldLeft(lit("und"): Column) {
      case (acc, (l, h)) => when(h === maxHits && maxHits > 0, lit(l))
        .otherwise(acc)
    }
    when(text.isNull, lit("und"))
      .when(cjk > 0, lit("zh"))
      .otherwise(ordered)
  }

  /** Longest run of equal adjacent elements in an already-sorted array =
    * the count of its most frequent element. */
  private def maxEqualRun(sortedArr: Column): Column = {
    def step(st: Column, x: Column): Column =
      when(x === st.getField("prev"), st.getField("run") + 1).otherwise(lit(1L))
    aggregate(sortedArr,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (st, x) => struct(
        x.as("prev"),
        step(st, x).as("run"),
        greatest(st.getField("best"), step(st, x)).as("best")),
      st => st.getField("best"))
  }

  /** [[TextAnalysis.repetitionFeatures]]. */
  def repetitionFeatures(text: Column): Seq[(String, Column)] = {
    val words = split(trim(text), "\\s+")
    val bi = TextAnalysis.wordNgrams(words, 2)
    val tri = TextAnalysis.wordNgrams(words, 3)
    Seq(
      "top_bigram_frac" -> when(size(bi) > 0,
        maxEqualRun(array_sort(bi)).cast("double") / size(bi))
        .otherwise(lit(0.0)),
      "dup_trigram_frac" -> when(size(tri) > 0,
        lit(1.0) - size(array_distinct(tri)).cast("double") / size(tri))
        .otherwise(lit(0.0)))
  }
}
