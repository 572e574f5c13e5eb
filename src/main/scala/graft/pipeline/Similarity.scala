package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Baseline: brute-force cosine top-k (one scan, one
  * `TakeOrderedAndProject` — no shuffle of the full data). Scale path:
  * deterministic random-hyperplane LSH bucketing so the candidate set per
  * query is a bucket, not the corpus; bucket join is an equi shuffle join
  * on the signature.
  *
  * Dot products use `zip_with` + `aggregate` higher-order functions —
  * evaluated inside codegen, no UDF.
  */
object Similarity {

  /** dot(a, b) for two array<float/double> columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d),
              (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Single-pass native cosine (`graft.functions.CosineSimExpr`): one
    * loop computes dot and both norms with no intermediate arrays — the
    * hot-path form for pair joins. `graft.HofReferences.cosine` (under
    * src/test) is the composable reference implementation its parity
    * test compares against.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExprs.cosineSim(a, b)

  /** Brute-force cosine top-k against a literal query vector: Catalyst
    * plans scan -> project(cosine) -> TakeOrderedAndProject(k) — the sort
    * never materializes beyond k rows per partition.
    */
  def bruteForceTopK(df: DataFrame, embCol: String, idCol: String,
                     query: Array[Float], k: Int): DataFrame = {
    val q = array(query.map(v => lit(v.toDouble)): _*)
    df.select(col(idCol),
              cosine(col(embCol).cast("array<double>"), q).as("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)
  }

  /** nPlanes-bit signature: bit p = sign of dot(x, h_p). Native
    * single-loop expression (`graft.functions.LshSigExpr`) with the
    * hyperplane matrix cached per dimension;
    * `graft.HofReferences.lshSignature` (under src/test) is the
    * composable reference form its parity test compares against.
    * `portable = true` switches plane generation to the
    * integer-arithmetic Lehmer mix that external SQL engines can
    * reproduce bit-exactly (used by the oracled driver queries; same
    * plan shape and per-row cost, planes are built once either way).
    */
  def lshSignature(emb: Column, nPlanes: Int = 16,
                   portable: Boolean = false): Column =
    graft.functions.VectorExprs.lshSig(emb, nPlanes, portable)

  /** Bucketed ANN top-k: corpus and queries are signed with the same
    * hyperplanes; candidates = equal signature (plus optional 1-bit
    * neighbors), ranked by exact cosine within bucket. Returns per-query
    * top-k. `queries` must carry (qidCol, embCol).
    */
  def annTopK(corpus: DataFrame, queries: DataFrame, embCol: String,
              idCol: String, qidCol: String, k: Int,
              nPlanes: Int = 12, portable: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select(col(idCol).as("cid"),
                          col(embCol).cast("array<double>").as("cemb"))
      .withColumn("sig", lshSignature(col("cemb"), nPlanes, portable))
    val q = queries.select(col(qidCol).as("qid"),
                           col(embCol).cast("array<double>").as("qemb"))
      .withColumn("sig", lshSignature(col("qemb"), nPlanes, portable))
    // query set << corpus by construction: broadcast it so the corpus
    // never shuffles (bucket matching happens map-side in every scan task)
    val scored = c.join(broadcast(q), Seq("sig"))
      .withColumn("cosine", cosine(col("qemb"), col("cemb")))
    val w = Window.partitionBy("qid").orderBy(desc("cosine"), col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "cid", "cosine", "rank")
  }

  /** Nearest-cell assignment: argmin by squared L2, ties to the lower
    * cell id — native single-loop kernel
    * (`graft.functions.NearestCellsExpr`);
    * `graft.HofReferences.nearestCell` (under src/test) is the
    * composable reference form its parity test compares against.
    */
  private def nearestCellExpr(centroids: Array[Array[Double]])
                             (emb: Column): Column =
    graft.functions.VectorExprs
      .nearestCells(emb.cast("array<double>"), centroids, 1)(0)

  /** Exact-integer nearest-cell assignment over 1e-6-quantized
    * components — the k-means fit/assignment kernel (see
    * [[graft.functions.VectorExprs.nearestCellQ]]). */
  private def nearestCellQExpr(qcentroids: Array[Array[Long]])
                              (emb: Column): Column =
    graft.functions.VectorExprs
      .nearestCellQ(emb.cast("array<double>"), qcentroids)

  /** nProbe nearest cells for the query side (same tie-break order). */
  private def probeCellsExpr(centroids: Array[Array[Double]],
                             nProbe: Int)(emb: Column): Column =
    graft.functions.VectorExprs
      .nearestCells(emb.cast("array<double>"), centroids, nProbe)

  /** Deterministic portable IVF centroids: component j of centroid l is
    * `VectorExprs.portablePlaneComponent(1000 + l, j)` — plain integer
    * Lehmer arithmetic an external SQL engine replays bit-exactly.
    * Random directions cluster worse than a trained quantizer, but the
    * plan shape and cost are the same, and assignment + probe + rank
    * stay fully replayable by the oracled driver queries.
    */
  def portableCentroids(nLists: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nLists, dim) { (l, j) =>
      graft.functions.VectorExprs.portablePlaneComponent(1000L + l,
                                                         j.toLong)
    }

  /** [[portableCentroids]] quantized to the 1e-6 integer grid
    * (`floor(c * 1e6)` as a long) — the seed of the exact-integer
    * k-means fit. The floor of one deterministic IEEE expression is
    * itself deterministic, so the SQL oracle derives identical longs. */
  def portableCentroidsQ(nLists: Int, dim: Int): Array[Array[Long]] =
    portableCentroids(nLists, dim)
      .map(_.map(c => math.floor(c * 1e6).toLong))

  /** IVF (inverted-file) ANN top-k: the [[portableCentroids]] coarse
    * quantizer partitions the corpus into nLists cells; each query
    * probes its nProbe nearest cells and ranks candidates by exact
    * cosine. Scale shape: corpus cells are assigned in one narrow
    * argmin-over-centroid-literal projection, the probe join is an
    * equi-join on cell id with the (small) query side broadcast, so the
    * corpus never shuffles and each query scans ~nProbe/nLists of it.
    */
  def ivfTopKPortable(corpus: DataFrame, queries: DataFrame,
                      embCol: String, idCol: String, qidCol: String,
                      k: Int, dim: Int, nLists: Int = 16,
                      nProbe: Int = 4): DataFrame = {
    val c = corpus.select(col(idCol).as("cid"),
                          col(embCol).cast("array<double>").as("cemb"))
    ivfScore(c, queries, embCol, qidCol, k, nProbe,
             portableCentroids(nLists, dim))
  }

  private def ivfScore(c: DataFrame, queries: DataFrame, embCol: String,
                       qidCol: String, k: Int, nProbe: Int,
                       centroids: Array[Array[Double]]): DataFrame = {
    val assigned = c.withColumn("cell",
                                nearestCellExpr(centroids)(col("cemb")))
    val q = queries.select(col(qidCol).as("qid"),
                           col(embCol).cast("array<double>").as("qemb"))
      .withColumn("__cells",
                  probeCellsExpr(centroids, nProbe)(col("qemb")))
      .select(col("qid"), col("qemb"),
              explode(col("__cells")).as("cell"))

    val scored = assigned.join(broadcast(q), Seq("cell"))
      .withColumn("cosine", cosine(col("qemb"), col("cemb")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc("cosine"), col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "cid", "cosine", "rank")
  }

  /** Deterministic portable PQ codebooks (Lehmer-mix components, like
    * [[portableCentroids]]): codeword c of subspace s is
    * `portablePlaneComponent(5000 + s*ksub + c, j)` over j < dsub —
    * integer arithmetic an external SQL engine replays bit-exactly, so
    * the oracled driver query can verify the whole encode + ADC plan.
    */
  def pqPortableCodebooks(m: Int, ksub: Int, dsub: Int)
      : Array[Array[Array[Double]]] =
    Array.tabulate(m, ksub, dsub) { (s, c, j) =>
      graft.functions.VectorExprs.portablePlaneComponent(
        5000L + s.toLong * ksub + c, j.toLong)
    }

  /** Product-quantization ANN (ADC scan). The d-dim embedding splits
    * into `m` subvectors; each is quantized against a `ksub`-codeword
    * per-subspace codebook, so a corpus vector is stored as `m` small
    * ints. Queries carry per-subspace DOT TABLES (m x ksub doubles,
    * computed once per query and broadcast with it); the corpus scan
    * scores a document with m table lookups — no full-vector arithmetic
    * on the big side, and the corpus never shuffles. Ranking is
    * approximate cosine against the PQ-reconstructed corpus vector:
    * dot_pq / (|q| * sqrt(sum_s |codeword|^2)). At 100 TB this is the
    * standard memory-bound ANN compression: 64-dim float vectors (256 B)
    * become m=4 codes (4 B) after a one-off encode pass.
    *
    * Every query scores every code (the ADC contract), so cost is
    * |corpus| x |queries| table lookups — right for query batches up to
    * a few thousand. For larger batches use [[ivfPqTopKPortable]]:
    * bucket both sides by cell first, then ADC within the probed cells
    * only.
    *
    * The codebooks are [[pqPortableCodebooks]] (no training scan).
    */
  def pqTopKPortable(corpus: DataFrame, queries: DataFrame,
                     embCol: String, idCol: String, qidCol: String,
                     k: Int, dim: Int, m: Int = 4,
                     ksub: Int = 16): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val c = corpus.select(col(idCol).as("cid"),
                          col(embCol).cast("array<double>").as("cemb"))
    pqScore(c, queries, embCol, qidCol, k,
            pqPortableCodebooks(m, ksub, dim / m))
  }

  // ---- shared PQ expression builders (used by pqScore + ivfPqScore;
  // any tie-break/overflow fix lands once and reaches both paths and
  // their portable-oracle replays) ----

  /** ONE nested Literal node (not m x ksub x dsub `lit` nodes):
    * Catalyst walks every expression node per rule per transform, so a
    * codebook built from scalar `lit`s adds ~1k nodes to every plan that
    * embeds it — measurable driver-side planning time on an otherwise
    * tiny query. A single nested literal is equivalent to evaluate and
    * O(1) to traverse. */
  private def pqCodebookLit(codebooks: Array[Array[Array[Double]]])
      : Column =
    typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)

  /** Distributed encode: per subspace, argmin_c ||sub - codeword_c||^2
    * (ties to the lower code) — native single-loop kernel
    * (`graft.functions.PqEncodeExpr`); `graft.HofReferences.pqCode`
    * (under src/test) is the composable reference form its parity test
    * compares against.
    */
  private def pqCodeExpr(codebooks: Array[Array[Array[Double]]])
                        (emb: Column): Column =
    graft.functions.VectorExprs
      .pqEncode(emb.cast("array<double>"), codebooks)

  /** Codeword squared norms — data-independent, one Literal node. */
  private def pqNorm2Lit(codebooks: Array[Array[Array[Double]]]): Column =
    typedLit(codebooks.map(_.map(_.foldLeft(0.0)((a, x) => a + x * x))
      .toSeq).toSeq)

  /** sum_s tab[s][code[s]] — the m-lookup ADC reduction. */
  private def pqLookupSum(tab: Column, code: Column): Column =
    aggregate(zip_with(tab, code,
                       (t, cd) => element_at(t, cd.cast("int") + lit(1))),
              lit(0.0d), (acc, v) => acc + v)

  /** Query-side per-subspace dot tables (m x ksub) — the ADC structure,
    * computed once per query row and broadcast. */
  private def pqDotTabExpr(codebooks: Array[Array[Array[Double]]])
                          (emb: Column): Column = {
    val dsub = codebooks(0)(0).length
    transform(pqCodebookLit(codebooks), (cb, s) =>
      transform(cb, ctr => aggregate(
        zip_with(slice(emb, s * lit(dsub) + lit(1), lit(dsub)),
                 ctr, (a, b) => a * b),
        lit(0.0d), (acc, v) => acc + v)))
  }

  /** PQ approximate cosine with the same zero-norm semantics as
    * [[cosine]] (CosineSimExpr): 0.0 when either norm is zero. An
    * unguarded division would score every candidate of a zero-norm
    * query NaN, which Spark's desc sort ranks ABOVE all real scores. */
  private def pqCosine(dotp: Column, qnorm: Column,
                      cnorm: Column): Column =
    when(qnorm > 0 && cnorm > 0, dotp / (qnorm * cnorm))
      .otherwise(lit(0.0d))

  private def pqScore(c: DataFrame, queries: DataFrame, embCol: String,
                      qidCol: String, k: Int,
                      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    // the reconstructed norm is a per-DOCUMENT quantity: compute it on
    // the corpus side once, not once per (doc, query) pair after the
    // join
    val encoded = c.withColumn("code", pqCodeExpr(codebooks)(col("cemb")))
      .withColumn("cnorm",
                  sqrt(pqLookupSum(pqNorm2Lit(codebooks), col("code"))))
    val q = queries
      .select(col(qidCol).as("qid"),
              col(embCol).cast("array<double>").as("qemb"))
      .withColumn("qnorm", norm(col("qemb")))
      .withColumn("dtab", pqDotTabExpr(codebooks)(col("qemb")))
      .select("qid", "qnorm", "dtab")
    // scan: m table lookups per (doc, query); corpus side stationary
    val scored = encoded.crossJoin(broadcast(q))
      .withColumn("dotp", pqLookupSum(col("dtab"), col("code")))
      .withColumn("cosine_pq",
                  pqCosine(col("dotp"), col("qnorm"), col("cnorm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc("cosine_pq"), col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "cid", "cosine_pq", "rank")
  }

  /** IVF-PQ ANN: the standard big-corpus composition. The coarse
    * quantizer assigns every corpus vector to one of `nLists` cells and
    * queries probe only `nProbe` cells (bounding the scanned fraction);
    * within the probed cells, scoring is the PQ ADC table lookup
    * (bounding per-vector memory to m codes). Corpus: one encode pass
    * (cell + codes), then stationary; queries broadcast (cells + dot
    * tables). Use over [[pqTopKPortable]] when query batches are large
    * and over [[ivfTopKPortable]] when vectors are too wide to keep raw.
    *
    * The coarse centroids are [[portableCentroids]] and the PQ codebooks
    * [[pqPortableCodebooks]] — no training scan; the whole assign +
    * encode + probe + ADC plan is integer/float arithmetic an external
    * SQL engine replays.
    */
  def ivfPqTopKPortable(corpus: DataFrame, queries: DataFrame,
                        embCol: String, idCol: String, qidCol: String,
                        k: Int, dim: Int, nLists: Int = 16,
                        nProbe: Int = 4, m: Int = 4,
                        ksub: Int = 16): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val c = corpus.select(col(idCol).as("cid"),
                          col(embCol).cast("array<double>").as("cemb"))
    ivfPqScore(c, queries, embCol, qidCol, k, nProbe,
               portableCentroids(nLists, dim),
               pqPortableCodebooks(m, ksub, dim / m))
  }

  private def ivfPqScore(c: DataFrame, queries: DataFrame,
                         embCol: String, qidCol: String, k: Int,
                         nProbe: Int,
                         centroids: Array[Array[Double]],
                         codebooks: Array[Array[Array[Double]]])
      : DataFrame = {
    // corpus: cell + codes + reconstructed norm in ONE projection pass
    val encoded = c
      .withColumn("cell", nearestCellExpr(centroids)(col("cemb")))
      .withColumn("code", pqCodeExpr(codebooks)(col("cemb")))
      .withColumn("cnorm",
                  sqrt(pqLookupSum(pqNorm2Lit(codebooks), col("code"))))
      .select("cid", "cell", "code", "cnorm")
    // queries: nProbe nearest cells + per-subspace dot tables
    val q = queries
      .select(col(qidCol).as("qid"),
              col(embCol).cast("array<double>").as("qemb"))
      .withColumn("qnorm", norm(col("qemb")))
      .withColumn("dtab", pqDotTabExpr(codebooks)(col("qemb")))
      .withColumn("__cells",
                  probeCellsExpr(centroids, nProbe)(col("qemb")))
      .select(col("qid"), col("qnorm"), col("dtab"),
              explode(col("__cells")).as("cell"))
    // probe join on cell: only nProbe/nLists of the corpus is scored
    val scored = encoded.join(broadcast(q), Seq("cell"))
      .withColumn("cosine_pq",
                  pqCosine(pqLookupSum(col("dtab"), col("code")),
                           col("qnorm"), col("cnorm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc("cosine_pq"), col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "cid", "cosine_pq", "rank")
  }

  /** Exact re-rank (refine) stage — the standard production closer for
    * a compressed ANN scan: the approximate stage retrieves a candidate
    * pool per query (`refineFactor * k` ids), and only those candidates
    * are re-scored with EXACT cosine against the raw vectors, restoring
    * near-exact recall while the full corpus is only ever touched by
    * the compressed scan.
    *
    * Scale shape: the candidate set is |queries| x (refineFactor * k)
    * rows — query-batch sized, never corpus sized. The raw-vector
    * fetch is an equi-join of the corpus against that small id set
    * (AQE broadcasts it), the query vectors broadcast, and the final
    * top-k is a window over candidate pools. The corpus never
    * self-joins and its raw vectors never shuffle.
    */
  private def refineExact(corpus: DataFrame, queries: DataFrame,
                          embCol: String, idCol: String, qidCol: String,
                          k: Int, cand: DataFrame,
                          /** Round scores to this many digits BEFORE
                            * ranking — the same libm-ulp determinism
                            * clamp as the oracle queries: near-identical
                            * vectors (planted near-dups) can differ by
                            * <1 ulp in cosine, and an unrounded rank
                            * would then depend on summation order. */
                          scoreDigits: Option[Int] = None): DataFrame = {
    val c = corpus.select(col(idCol).as("cid"),
                          col(embCol).cast("array<double>").as("cemb"))
    val q = queries.select(col(qidCol).as("qid"),
                           col(embCol).cast("array<double>").as("qemb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc("cosine"), col("cid"))
    val raw = cosine(col("cemb"), col("qemb"))
    cand.select("qid", "cid")
      .join(c, Seq("cid"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("cosine",
                  scoreDigits.map(d => round(raw, d)).getOrElse(raw))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "cid", "cosine", "rank")
  }

  /** [[pqTopKPortable]] + exact re-rank of the top `refineFactor * k`
    * ADC candidates per query. Output schema matches [[bruteForceTopK]]
    * (exact cosine), and equals it whenever the true top-k survive the
    * candidate pool. `scoreDigits` rounds exact scores before ranking
    * (cross-engine replay determinism; None ranks on the raw double). */
  def pqTopKRefinedPortable(corpus: DataFrame, queries: DataFrame,
                            embCol: String, idCol: String,
                            qidCol: String, k: Int, dim: Int,
                            refineFactor: Int = 4, m: Int = 4,
                            ksub: Int = 16,
                            scoreDigits: Option[Int] = None): DataFrame =
    refineExact(corpus, queries, embCol, idCol, qidCol, k,
                pqTopKPortable(corpus, queries, embCol, idCol, qidCol,
                               k * refineFactor, dim, m, ksub),
                scoreDigits)

  /** SemDeDup-style semantic deduplication: documents whose embeddings
    * are near-identical in meaning (cosine >= threshold) are collapsed to
    * one survivor per near-dup relation. The corpus is first partitioned
    * into IVF cells by the [[portableCentroids]] coarse quantizer
    * (bounding the candidate set per item to its cell — never
    * all-pairs), then within each cell the deterministic rule "drop x
    * if some lower-id y in the cell has cos(x, y) >= threshold" marks
    * duplicates. There is no training scan, and every stage
    * (assignment, in-cell pairing, cosine threshold) is arithmetic an
    * external SQL engine replays bit-exactly (the oracled driver query
    * runs this operator).
    *
    * Scale shape: cell assignment is one narrow projection (native
    * nearest-cell kernel); the only join is a self equi-join on `cell`,
    * so candidate pairs are bounded by the per-cell population — at
    * 100 TB, raise `nLists` so cells stay ~1e4 items (pairwise within a
    * cell is then ~1e8 cheap dot products spread across executors, and
    * AQE's skew-join split handles hot cells). This mirrors the
    * published SemDeDup recipe (cluster, then pairwise inside clusters).
    *
    * Returns one row per input: (cid, cell, is_dup).
    */
  def semanticDedupPortable(corpus: DataFrame, embCol: String,
                            idCol: String, dim: Int,
                            threshold: Double = 0.95,
                            nLists: Int = 16): DataFrame = {
    val c = corpus.select(col(idCol).as("cid"),
                          col(embCol).cast("array<double>").as("cemb"))
    semanticDedupFlags(c, threshold, portableCentroids(nLists, dim))
  }

  private def semanticDedupFlags(c: DataFrame, threshold: Double,
      centroids: Array[Array[Double]]): DataFrame = {
    val assigned = c.withColumn("cell",
                                nearestCellExpr(centroids)(col("cemb")))
    val a = assigned.select(col("cell"), col("cid").as("id_a"),
                            col("cemb").as("emb_a"))
    val b = assigned.select(col("cell"), col("cid").as("id_b"),
                            col("cemb").as("emb_b"))
    // dup = any lower-id cell-mate above the cosine threshold; DISTINCT
    // collapses multiple witnesses before the (small) flag join back
    val dups = a.join(b, Seq("cell"))
      .where(col("id_a") < col("id_b") &&
             cosine(col("emb_a"), col("emb_b")) >= threshold)
      .select(col("id_b").as("cid")).distinct()
      .withColumn("__dup", lit(true))
    assigned.join(dups, Seq("cid"), "left")
      .select(col("cid"), col("cell"),
              coalesce(col("__dup"), lit(false)).as("is_dup"))
  }

  /** Distributed Lloyd k-means over the embedding column — the corpus
    * clustering primitive behind topic bucketing, cluster-balanced
    * sampling, and per-cluster dedup/mixing at training-data scale.
    *
    * Scale shape: each iteration is ONE narrow assignment projection
    * (native nearest-cell kernel over a broadcast centroid literal — no
    * join, no shuffle of vectors) followed by ONE bounded aggregate of
    * k rows x (dim+1) columns with map-side partial aggregation; the
    * driver only ever holds k x dim doubles. Vectors never leave their
    * scan task, so the per-iteration shuffle is the partial-aggregate
    * rows, not the corpus — the loop costs `iters` scans at any scale.
    *
    * Determinism (what makes the fit hash-oracle-able): the ENTIRE fit
    * is integer arithmetic. Vectors quantize once to
    * `floor(x * 1e6)` BIGINT components; assignment ranks on exact
    * 64-bit integer squared distances ([[graft.functions.VectorExprs
    * .nearestCellQ]] — no float fold whose result could depend on
    * evaluation order or FMA contraction); component sums are exact
    * BIGINTs (aggregation-order independent, the same
    * integerize-before-sum trick as [[Search.bm25TopK]]); and the
    * centroid update is the integer floor-division
    * `floorDiv(sum, n)` staying on the 1e-6 grid. The only float op
    * anywhere is the initial `floor(x * 1e6)` / seed quantization —
    * one IEEE multiply + floor, identical on every engine — so the
    * DuckDB oracle replays the fit and assignment bit-exactly. Ties
    * break to the lowest cell id. Empty clusters keep their previous
    * centroid.
    */
  def kmeansCentroidsQ(df: DataFrame, embCol: String, dim: Int, k: Int,
                       iters: Int): Array[Array[Long]] = {
    require(k > 0, s"k must be positive; got $k")
    require(iters >= 0, s"iters must be >= 0; got $iters")
    var centroids = portableCentroidsQ(k, dim)
    val emb = col(embCol).cast("array<double>")
    val aggCols = count(lit(1)).as("n") +: (0 until dim).map(d =>
      sum(floor(col("e").getItem(d) * lit(1e6)).cast("long")).as(s"s$d"))
    // guard null/ragged embeddings out of the fit (an unguarded null
    // yields a null cell group and the driver loop would NPE; a short
    // vector would NPE inside the component sums)
    val clean = df.where(col(embCol).isNotNull &&
                         size(col(embCol)) === dim)
    for (_ <- 0 until iters) {
      val rows = clean
        .select(nearestCellQExpr(centroids)(emb).as("cell"), emb.as("e"))
        .groupBy("cell").agg(aggCols.head, aggCols.tail: _*)
        .collect()
      val next = centroids.map(_.clone())
      rows.foreach { r =>
        val cell = r.getInt(0)
        val n = r.getLong(1)
        var d = 0
        while (d < dim) {
          next(cell)(d) = Math.floorDiv(r.getLong(2 + d), n); d += 1
        }
      }
      centroids = next
    }
    centroids
  }

  /** [[kmeansCentroidsQ]] de-quantized to doubles (1e-6 grid) for
    * callers that consume centroid coordinates. */
  def kmeansCentroids(df: DataFrame, embCol: String, dim: Int, k: Int,
                      iters: Int): Array[Array[Double]] =
    kmeansCentroidsQ(df, embCol, dim, k, iters).map(_.map(_ / 1e6))

  /** [[kmeansCentroidsQ]] + final assignment: the input with a `cluster`
    * column (one more narrow projection, no shuffle, exact-integer
    * ranking). */
  def kmeansPortable(df: DataFrame, embCol: String, dim: Int, k: Int,
                     iters: Int): DataFrame = {
    val centroids = kmeansCentroidsQ(df, embCol, dim, k, iters)
    df.withColumn("cluster",
                  nearestCellQExpr(centroids)(col(embCol)))
  }

  /** Per-cluster embedding outliers by EXACT integer squared distance
    * to the assigned quantized k-means centroid: within every cluster
    * the `frac` fraction ranking highest by d2 is flagged (ties to the
    * lower id, rank count `ceil(round(n * frac, 9))` — the
    * [[graft.pipeline.Curation.stratifiedSample]] rounding discipline).
    * The whole chain — fit, assignment, distance, rank — is integer
    * arithmetic, so the flags are hash-oracle-able on any engine.
    * Semantically this is the embedding-space analogue of the y-space
    * outlier detectors: vectors far from every topic centroid are
    * OOD/noise candidates a curation pass reviews or drops.
    *
    * Scale shape: one narrow kernel projection (cell + d2, no shuffle
    * of vectors), then ONE k-partition window rank. With small k every
    * cluster is one task's sort — for corpus scale set
    * `approx = true`: per-cluster `percentile_approx` thresholds from
    * one bounded aggregate (collected, k rows) are compiled back into
    * the scan as a CASE chain, no window at all. The approx flags can
    * differ from exact ranks near the threshold (sketch error), which
    * is why the oracled driver query uses the exact path.
    */
  def kmeansOutliers(df: DataFrame, embCol: String, idCol: String,
                     dim: Int, k: Int, iters: Int, frac: Double,
                     approx: Boolean = false): DataFrame = {
    require(frac > 0 && frac <= 1, s"frac must be in (0, 1]; got $frac")
    val qc = kmeansCentroidsQ(df, embCol, dim, k, iters)
    val cd = graft.functions.VectorExprs
      .nearestCellD2Q(col(embCol).cast("array<double>"), qc)
    val base = df.withColumn("__cd", cd)
      .withColumn("cluster", col("__cd").getItem(0).cast("int"))
      .withColumn("d2", col("__cd").getItem(1))
      .drop("__cd")
    if (approx) {
      val thr = base.groupBy("cluster")
        .agg(percentile_approx(col("d2"), lit(1.0 - frac), lit(10000))
               .as("__thr"))
      base.join(broadcast(thr), Seq("cluster"))
        .withColumn("is_outlier", col("d2") >= col("__thr"))
        .drop("__thr")
    } else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster")
        .orderBy(col("d2").desc, col(idCol))
      val wn = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster")
      base.withColumn("__rn", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(wn))
        .withColumn("is_outlier",
                    col("__rn") <= ceil(round(col("__n") * lit(frac), 9)))
        .drop("__rn", "__n")
    }
  }

  /** Hard-negative mining for contrastive training: for every query
    * vector, the top-k most-similar corpus vectors carrying a DIFFERENT
    * label — the near-miss negatives that make embedding models learn
    * boundaries (easy random negatives are uninformative; the hardest
    * ones sit closest in embedding space on the wrong side of the
    * label).
    *
    * Determinism: similarity is the EXACT BIGINT dot product of the
    * 1e-6-quantized components (`floor(x*1e6)` per side — one IEEE
    * multiply+floor, identical everywhere; the sum of 64 bounded long
    * products is order-independent), ties break to the lower corpus
    * id, so the ranking replays bit-exactly in any engine. For
    * float-scored production mining swap the score column for the
    * codegen'd [[cosine]] kernel — the plan shape is identical.
    *
    * Scale shape: the query side (a training batch, thousands of rows
    * at most) broadcasts into the corpus scan — one pass over the
    * corpus, no corpus self-join, no shuffle of corpus vectors; the
    * per-query top-k rides the O(k)-state [[graft.functions.TopKAgg]]
    * aggregate (map-side combined — the [[knnLabelEval]] shape), so
    * the shuffle carries at most k (dot, cid) pairs per query per map
    * task and NO per-query window sort over candidates ever runs.
    * For corpus-scale mining route queries through [[ivfTopKPortable]]
    * first and only exact-score the probed cells — same contract,
    * index-bounded candidates.
    *
    * Rows with a NULL label (either side) are excluded up front: a
    * null can never witness "different label", so unlabeled corpus
    * mass is invisible to the miner by contract, not by accident.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
                    embCol: String, idCol: String, labelCol: String,
                    qidCol: String, qembCol: String, qlabelCol: String,
                    k: Int): DataFrame = {
    val quant: Column => Column = e =>
      transform(e.cast("array<double>"),
                x => floor(x * lit(1e6)).cast("long"))
    // null labels carry no "different label" evidence — exclude them
    // EXPLICITLY (the join's =!= would drop them silently either way;
    // this makes the contract visible in the plan and the doc)
    val q = queries.where(col(qlabelCol).isNotNull)
      .select(col(qidCol).as("qid"),
              quant(col(qembCol)).as("__qv"),
              col(qlabelCol).as("qlabel"))
    val c = corpus.where(col(labelCol).isNotNull)
      .select(col(idCol).as("cid"),
              quant(col(embCol)).as("__cv"),
              col(labelCol).as("clabel"))
    val dotQ = aggregate(zip_with(col("__qv"), col("__cv"),
                                  (a, b) => a * b),
                         lit(0L), (acc, x) => acc + x)
    // top-k as the O(k)-state aggregate: key = dot (desc), id = cid
    // (asc ties) — TopKAgg's ordering IS the miner's contract, and cid
    // is unique per query so its set semantics can't drop a candidate.
    // The dot product is the buffer key, so it comes back for free.
    c.join(broadcast(q), col("qlabel") =!= col("clabel"))
      .select(col("qid"), col("cid"), dotQ.as("dot_q"))
      .groupBy("qid")
      .agg(graft.functions.TopKAgg
             .topkLongs(col("dot_q"), col("cid"), k).as("__t"))
      .select(col("qid"), posexplode(col("__t")).as(Seq("__p", "__e")))
      .select(col("qid"), col("__e.id").as("cid"),
              col("__e.key").as("dot_q"),
              (col("__p") + lit(1)).as("rank"))
  }

  /** k-NN label-agreement evaluation — the embedding-quality audit a
    * retrieval/classification pipeline runs before trusting a vector
    * column: for each query vector, the k nearest corpus vectors by
    * EXACT BIGINT squared distance over 1e-6-quantized components
    * (the [[kmeansCentroidsQ]] discipline; self-matches excluded by
    * id), predicted label = majority vote among the k (vote ties break
    * to the smaller label, distance ties to the smaller id). Output is
    * the (label, predicted) confusion matrix with integer counts —
    * diagonal mass = leave-one-out kNN accuracy, off-diagonal cells
    * name the confused classes.
    *
    * Scale shape: the bounded query batch broadcasts into ONE corpus
    * pass (the [[hardNegatives]] shape), and the per-query k nearest
    * ride the O(k)-state [[graft.functions.TopKAgg]] aggregate
    * (map-side combined — never a per-query window sort over the
    * corpus, the [[graft.operators.Ranking]] discipline); votes and
    * the confusion matrix are label-bounded aggregates. Null labels,
    * null embeddings, and labels outside [0, `labelSpace`) are
    * excluded (the label rides the packed candidate id, so the label
    * space must be declared; 1024 fits any classification fixture —
    * raise it for larger vocabularies, keeping
    * max_id * labelSpace < 2^63; ids must be non-negative for the
    * packing's tie order to equal cid order).
    */
  def knnLabelEval(corpus: DataFrame, queries: DataFrame,
                   embCol: String, idCol: String, labelCol: String,
                   qidCol: String, qembCol: String, qlabelCol: String,
                   k: Int, labelSpace: Long = 1024L): DataFrame = {
    val quant: Column => Column = e =>
      transform(e.cast("array<double>"),
                x => floor(x * lit(1e6)).cast("long"))
    val q = queries
      .where(col(qlabelCol).isNotNull && col(qembCol).isNotNull)
      .select(col(qidCol).as("qid"), quant(col(qembCol)).as("__qv"),
              col(qlabelCol).cast("long").as("qlabel"))
    val c = corpus
      .where(col(labelCol).isNotNull && col(embCol).isNotNull &&
             col(labelCol).cast("long") >= 0 &&
             col(labelCol).cast("long") < labelSpace)
      .select(col(idCol).as("cid"), quant(col(embCol)).as("__cv"),
              col(labelCol).cast("long").as("clabel"))
    val d2 = aggregate(zip_with(col("__qv"), col("__cv"),
                                (a, b) => (a - b) * (a - b)),
                       lit(0L), (acc, x) => acc + x)
    // k nearest per query as a bounded aggregate: key = -d2 (largest
    // key = smallest distance; id-asc ties = cid-asc since the label
    // rides the low bits and cid is unique per query)
    val topk = c.join(broadcast(q), col("cid") =!= col("qid"))
      .select(col("qid"), col("qlabel"),
              (col("cid") * lit(labelSpace) + col("clabel"))
                .as("__pid"),
              d2.as("d2"))
      .groupBy("qid", "qlabel")
      .agg(graft.functions.TopKAgg
             .topkLongs(negate(col("d2")), col("__pid"), k).as("__t"))
      .select(col("qid"), col("qlabel"), explode(col("__t")).as("__e"))
      .select(col("qid"), col("qlabel"),
              pmod(col("__e.id"), lit(labelSpace)).as("clabel"))
    val pred = topk.groupBy("qid", "qlabel", "clabel")
      .agg(count(lit(1)).as("__v"))
      .groupBy("qid", "qlabel")
      .agg(max(struct(col("__v").as("v"),
                      negate(col("clabel")).as("nl"))).as("__m"))
      .select(col("qlabel").as("label"),
              negate(col("__m.nl")).as("predicted"))
    pred.groupBy("label", "predicted")
      .agg(count(lit(1)).as("n"))
  }

  /** IVF-routed k-NN RECALL audit — the measurement that turns "swap
    * the candidate stage for IVF cells at corpus scale" from a claim
    * into a number (the [[graft.pipeline.Dedup.lshQualityReport]]
    * discipline, applied to the vector index): the same exact BIGINT
    * distance top-k runs twice, once over ALL corpus candidates (the
    * brute-force truth) and once over only the `nProbe` probed
    * portable-IVF cells, and the report counts, in integers, how much
    * of the truth the index-bounded route recovered. Output is ONE row:
    * `n_queries`, `n_truth` (truth pairs), `n_hits` (truth pairs the
    * IVF route also returned), `recall_ppm` (floor(1e6 * hits/truth)),
    * `n_perfect` (queries with full recall).
    *
    * Determinism: distances are exact BIGINT squared L2 over
    * 1e-6-quantized components, ties (d2 asc, cid asc) — both top-k
    * sets replay bit-exactly in SQL; cell assignment/probing uses the
    * Lehmer-mix portable centroids ([[portableCentroids]]) that an
    * external engine re-derives from integer arithmetic.
    *
    * Scale shape: both candidate stages are ONE corpus pass with the
    * bounded query batch broadcast in; per-query top-k state is the
    * O(k) [[graft.functions.TopKAgg]] aggregate on both paths (never
    * a window sort); the recall join is |queries| x k rows. The truth
    * pass is the expensive one BY DESIGN — it is the audit's ground
    * truth, run on a sampled query batch; production routing then
    * runs the IVF path alone at the measured recall.
    */
  def knnRecallReport(corpus: DataFrame, queries: DataFrame,
                      embCol: String, idCol: String, qidCol: String,
                      qembCol: String, k: Int, dim: Int,
                      nLists: Int = 16, nProbe: Int = 4): DataFrame = {
    val quant: Column => Column = e =>
      transform(e.cast("array<double>"),
                x => floor(x * lit(1e6)).cast("long"))
    val c = corpus.where(col(embCol).isNotNull)
      .select(col(idCol).as("cid"),
              col(embCol).cast("array<double>").as("cemb"),
              quant(col(embCol)).as("__cv"))
    val q = queries.where(col(qembCol).isNotNull)
      .select(col(qidCol).as("qid"),
              col(qembCol).cast("array<double>").as("qemb"),
              quant(col(qembCol)).as("__qv"))
    val d2 = aggregate(zip_with(col("__qv"), col("__cv"),
                                (a, b) => (a - b) * (a - b)),
                       lit(0L), (acc, x) => acc + x)
    def topkPairs(cands: DataFrame): DataFrame =
      cands.groupBy("qid")
        .agg(graft.functions.TopKAgg
               .topkLongs(negate(col("d2")), col("cid"), k).as("__t"))
        .select(col("qid"), explode(col("__t")).as("__e"))
        .select(col("qid"), col("__e.id").as("cid"))
    val truth = topkPairs(
      c.join(broadcast(q.select("qid", "__qv")),
             col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"), d2.as("d2")))
    val centroids = portableCentroids(nLists, dim)
    val assigned = c
      .withColumn("cell", nearestCellExpr(centroids)(col("cemb")))
      .select("cell", "cid", "__cv")
    val probed = q
      .withColumn("__cells",
                  probeCellsExpr(centroids, nProbe)(col("qemb")))
      .select(col("qid"), col("__qv"),
              explode(col("__cells")).as("cell"))
    val ivf = topkPairs(
      assigned.join(broadcast(probed), Seq("cell"))
        .where(col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"), d2.as("d2")))
    val perQ = truth
      .join(ivf.withColumn("__hit", lit(1L)), Seq("qid", "cid"), "left")
      .groupBy("qid")
      .agg(count(lit(1)).as("n_t"),
           sum(coalesce(col("__hit"), lit(0L))).as("n_h"))
    perQ.agg(count(lit(1)).as("n_queries"),
             sum("n_t").cast("long").as("n_truth"),
             sum("n_h").cast("long").as("n_hits"),
             sum(when(col("n_h") === col("n_t"), 1L).otherwise(0L))
               .as("n_perfect"))
      .select(col("n_queries"), col("n_truth"), col("n_hits"),
              expr("n_hits * 1000000 div n_truth").as("recall_ppm"),
              col("n_perfect"))
  }

  /** Embedding centroid-drift audit between two corpus snapshots —
    * the "did re-embedding / a new crawl move my classes" regression
    * check: per label, both cohort sizes and the EXACT scaled L1
    * centroid drift `sum_d |sumA_d * nB - sumB_d * nA|` over
    * 1e-6-quantized components (the cross-multiplied form of
    * `|meanA - meanB|` — no division, so the whole audit is BIGINT
    * and replays bit-exactly; divide by `nA * nB * 1e6` at display
    * time for the mean-space L1 distance). Labels present in only
    * one snapshot report the missing side's count as 0 and drift 0 —
    * there is no second mean to compare; the count columns flag the
    * appearance/disappearance itself.
    *
    * Scale shape: one per-(label, dim) sum aggregate per snapshot
    * (explode bounded by dim x labels after map-side combine) and a
    * label-dim-bounded full-outer join — never a row-level join.
    * Magnitude bound: |sum_d| <= n * 1e6 per dim, so the products
    * stay inside a long while `nA * nB * 1e6 < 9.2e18` (~3e6 rows
    * per cohort per label at dim 64); beyond that, pre-scale the
    * quantization.
    */
  def centroidDrift(a: DataFrame, b: DataFrame, embCol: String,
                    labelCol: String): DataFrame = {
    def sums(df: DataFrame, nCol: String, sCol: String) = {
      val quantized = transform(col(embCol).cast("array<double>"),
                                x => floor(x * lit(1e6)).cast("long"))
      df.where(col(labelCol).isNotNull && col(embCol).isNotNull)
        .select(col(labelCol).cast("long").as("label"),
                posexplode(quantized))
        .groupBy(col("label"), col("pos").as("dim"))
        .agg(sum("col").as(sCol),
             count(lit(1)).as(nCol))
    }
    val sa = sums(a, "__na", "__sa")
    val sb = sums(b, "__nb", "__sb")
    sa.join(sb, Seq("label", "dim"), "full_outer")
      .select(col("label"),
              coalesce(col("__na"), lit(0L)).as("__na"),
              coalesce(col("__nb"), lit(0L)).as("__nb"),
              coalesce(col("__sa"), lit(0L)).as("__sa"),
              coalesce(col("__sb"), lit(0L)).as("__sb"))
      .groupBy("label")
      .agg(max("__na").as("n_a"), max("__nb").as("n_b"),
           sum(abs(col("__sa") * col("__nb") -
                   col("__sb") * col("__na"))).as("drift_l1_scaled"))
  }

  /** Greedy k-center (farthest-point) coreset sampling: pick the seed
    * (lowest id), then k-1 times the vector FARTHEST from everything
    * picked so far — the classic 2-approximation to the k-center
    * cover, and the diversity-sampling primitive of data curation
    * (maximally-spread exemplars for labeling budgets, eval-set
    * construction, pruning redundant mass).
    *
    * Determinism: distances are exact BIGINT squared distances over
    * 1e-6-quantized components (the [[kmeansCentroidsQ]] discipline —
    * the only float op is one IEEE multiply+floor per component);
    * argmax ties break to the lower id. Every step replays bit-exactly
    * in plain SQL.
    *
    * Scale shape: each of the k rounds is ONE narrow projection — the
    * native [[graft.functions.VectorExprs.nearestCellD2Q]] kernel over
    * the picked set as a broadcast literal (min-distance to picks and
    * the argmax TakeOrdered fuse into one codegen stage) — so the loop
    * costs k corpus scans and the driver holds k quantized vectors,
    * never the corpus. Rows with null/ragged embeddings are excluded
    * up front.
    *
    * Returns the picked rows in pick order: (pick, id, d2 = exact
    * squared quantized distance to the previously-picked set; 0 for
    * the seed).
    */
  def kCenterSample(df: DataFrame, embCol: String, idCol: String,
                    dim: Int, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1; got $k")
    val spark = df.sparkSession
    import scala.jdk.CollectionConverters._
    val clean = df.where(col(embCol).isNotNull &&
                         size(col(embCol)) === dim &&
                         !exists(col(embCol), _.isNull))
      .select(col(idCol).cast("long").as("id"),
              col(embCol).cast("array<double>").as("emb"))
    // picks quantize on the driver with the SAME floor(x*1e6) the
    // kernel applies to every scanned vector — one quantization step
    // per component on either path
    def quantized(r: org.apache.spark.sql.Row): Array[Long] =
      r.getSeq[Double](1).map(v => math.floor(v * 1e6).toLong).toArray
    val seedRow = clean.orderBy("id").limit(1)
      .collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        s"kCenterSample: no usable rows (null/ragged $embCol everywhere)"))
    var picked = Vector((seedRow.getLong(0), quantized(seedRow), 0L))
    for (_ <- 1 until k) {
      val centers = picked.map(_._2).toArray
      val cd = graft.functions.VectorExprs
        .nearestCellD2Q(col("emb"), centers)
      val next = clean
        .select(col("id"), col("emb"), cd.getItem(1).as("d2"))
        .orderBy(col("d2").desc, col("id")).limit(1)
        .collect().head
      picked = picked :+ ((next.getLong(0), quantized(next), next.getLong(2)))
    }
    val rows = picked.zipWithIndex.map { case ((id, _, d2), i) =>
      org.apache.spark.sql.Row(i, id, d2)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pick",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("d2",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Embedding-cosine near-duplicate pairs via LSH buckets: pairs within a
    * bucket with cosine >= threshold. */
  def cosineNearDupPairs(df: DataFrame, embCol: String, idCol: String,
                         threshold: Double = 0.95,
                         nPlanes: Int = 12,
                         portable: Boolean = false): DataFrame = {
    val e = df.select(col(idCol).as("id"),
                      col(embCol).cast("array<double>").as("emb"))
      .withColumn("sig", lshSignature(col("emb"), nPlanes, portable))
    val a = e.as("a")
    val b = e.as("b")
    a.join(b, col("a.sig") === col("b.sig") && col("a.id") < col("b.id"))
      .withColumn("cosine", cosine(col("a.emb"), col("b.emb")))
      .where(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine"))
  }

  /** Embedding-health audit — the vector edition of the data-quality
    * expectations report: one scan, one global aggregate, all BIGINT.
    * Counts null vectors, wrong-dimension vectors, vectors carrying a
    * BAD VALUE (null element, NaN, Infinity, or |x| > 1e5 — the last
    * bound also keeps every per-element q² at most 1e16, so a
    * 64-dim integer norm can never wrap a long), and zero vectors,
    * and checksums the VALID vectors' norms on the milli-quantized
    * integer grid (`q = floor(x*1000)`, `qnorm = Σ q²` — integer
    * additions commute, so the totals are bit-exact under any
    * partitioning and replay in any engine, unlike a float norm
    * fold). A drifting producer shows up as a moving
    * `qnorm_sum`/`qnorm_max` — or as `n_bad_vals` when it starts
    * emitting Inf/NaN — long before retrieval quality craters.
    */
  def embeddingHealth(df: DataFrame, embCol: String,
                      dim: Int): DataFrame = {
    val e = col(embCol)
    val qnorm = aggregate(
      transform(e.cast("array<double>"),
                x => floor(x * 1000).cast("long")),
      lit(0L), (acc, q) => acc + q * q)
    val bad = exists(e, x =>
      x.isNull || isnan(x) || abs(x) > 100000.0d)
    val valid = e.isNotNull && size(e) === dim && !bad
    df.select(
        when(e.isNull, 1L).otherwise(0L).as("__null"),
        when(e.isNotNull && size(e) =!= dim, 1L).otherwise(0L)
          .as("__dim"),
        when(e.isNotNull && bad, 1L).otherwise(0L).as("__bad"),
        when(valid, qnorm).as("__q"))
      .agg(count(lit(1)).as("n_vecs"), sum("__null").as("n_null"),
           sum("__dim").as("n_wrong_dim"), sum("__bad").as("n_bad_vals"),
           sum(when(col("__q") === 0L, 1L).otherwise(0L)).as("n_zero"),
           sum("__q").as("qnorm_sum"), min("__q").as("qnorm_min"),
           max("__q").as("qnorm_max"))
  }
}
