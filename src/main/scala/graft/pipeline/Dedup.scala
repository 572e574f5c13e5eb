package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed
  * around one shuffle-per-stage at 100 TB scale:
  *
  * - exact: hash-groupBy on a normalized fingerprint.
  * - MinHash + LSH: shingle -> k minhashes -> b bands; candidate pairs come
  *   from an equi-join on (band, band-signature) — no pairwise cross join.
  * - SimHash: 64-bit bit-vote signature; near-dups share signature (or a
  *   banded prefix).
  * - n-gram Jaccard: verification metric on LSH candidates.
  * - embedding cosine: see `Similarity` (hyperplane-LSH bucketed).
  *
  * All signature computation is Catalyst higher-order functions over token
  * arrays — codegen, no UDFs, no driver round-trips.
  */
object Dedup {

  /** Case-folded, whitespace-collapsed text. IMPORTANT: materialize this
    * as a column (`withColumn`) before passing into the shingle helpers —
    * higher-order-function lambdas re-evaluate captured expression trees
    * per element, so feeding an unmaterialized regex into `shinglesOf`
    * costs |text| regex evaluations per row.
    */
  def normalizeText(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Character shingles of length n over a MATERIALIZED normalized-text
    * column (plain column refs are cheap to capture in lambdas). */
  def shinglesOf(norm: Column, n: Int): Column =
    array_distinct(
      when(length(norm) < n, array(norm)).otherwise(
        transform(sequence(lit(1), length(norm) - n + 1),
                  i => norm.substr(i, lit(n)))))

  /** Convenience single-expression form — only for small inputs; see
    * `normalizeText` note. */
  def shingles(text: Column, n: Int = 5): Column =
    shinglesOf(normalizeText(text), n)

  /** Word n-gram shingles over a MATERIALIZED token-array column. */
  def wordShinglesOf(tokens: Column, n: Int): Column =
    when(size(tokens) < n, array(concat_ws(" ", tokens))).otherwise(
      array_distinct(transform(sequence(lit(0), size(tokens) - n),
        i => concat_ws(" ", slice(tokens, i + lit(1), lit(n))))))

  /** Convenience single-expression form — see `normalizeText` note. */
  def wordShingles(text: Column, n: Int = 3): Column =
    wordShinglesOf(split(normalizeText(text), " "), n)

  /** Base 64-bit hash per shingle — computed ONCE per shingle. */
  def shingleHashes(shingleArr: Column): Column =
    transform(shingleArr, s => xxhash64(s))

  /** k minhash slots via one-permutation hashing (Li et al. 2012): slot j
    * keeps the minimum of base hashes with h mod k == j. One cheap pass
    * (pmod + compare) instead of k independent re-hashes per shingle —
    * higher-order functions are interpreted (CodegenFallback), so per-
    * element work must be trivial. Empty slots densify to the doc's
    * global min hash (keeps band semantics deterministic for short docs).
    */
  def minhashSignatureFromHashes(hashArr: Column, k: Int): Column =
    // r13: one codegen pass (graft_minhash_slots) instead of the
    // transform/filter/array_min HOF chain — the expression form ran
    // k interpreted filter+min passes over the array per document
    // (O(k*n) boxed lambda calls); value-identical, see MinHashExprs
    graft.functions.MinHashExprs.minhashSlots(hashArr, k)

  /** LSH band keys: the signature split into b bands of r rows each,
    * hashed; equal band-hash => candidate pair. Returns array of b hashes.
    */
  def lshBands(signature: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(concat_ws(",", slice(signature, b * lit(rows) + 1,
                                         lit(rows))), b))

  /** Portable band keys: the band's slot values joined as a string
    * instead of xxhash64-compressed — identical bucketing semantics (the
    * hash only compresses the key), reproducible in plain SQL by the
    * correctness oracle. */
  def lshBandsPortable(signature: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => concat_ws(",", slice(signature, b * lit(rows) + 1, lit(rows))))

  /** Exact duplicate groups by normalized-content fingerprint:
    * (fingerprint, n_docs, min doc id as canonical). Null-text rows have
    * no content to group on and are excluded (xxhash64 of a null input
    * returns its seed, which would otherwise collapse every null-text
    * document into one spurious group). */
  def exactGroups(df: DataFrame, textCol: String,
                  idCol: String): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
              TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("canonical_id"))

  /** Exact-dedup: keep one row (min id) per fingerprint. Implemented as a
    * min-id aggregate + semi-join (two shuffles on the same key — AQE
    * coalesces), never a window over the full data. Null-text rows are
    * never duplicates of anything and all pass through: their group key
    * is the (unique) doc id, not the degenerate null fingerprint.
    */
  /** The ONE content-fingerprint discipline shared by every exact /
    * incremental dedup path: portable keys are md5 hex over normalized
    * text (replayable by external SQL engines), production keys are
    * xxhash64 rendered as a string ([[TextAnalysis.fingerprint]]). */
  private def contentFpStr(text: Column, portable: Boolean): Column =
    if (portable) md5(normalizeText(text))
    else TextAnalysis.fingerprint(text).cast("string")

  /** Row-id key for null-text rows, in the same portable/production
    * rendering as [[contentFpStr]] — md5 hex vs xxhash64 string, so the
    * two key worlds stay disjoint by format in portable mode and are
    * guarded by `__null` in the group key everywhere. */
  private def nullRowKey(id: Column, portable: Boolean): Column =
    if (portable) md5(id.cast("string")) else xxhash64(id).cast("string")

  /** (`__null`, `__fp`) key columns appended to `df` — the shared
    * keying stage of [[exactDedup]]/[[exactDedupFlag]]/
    * [[incrementalDedup]]. */
  private def withContentKey(df: DataFrame, textCol: String,
                             idCol: String,
                             portable: Boolean): DataFrame =
    df.withColumn("__null", col(textCol).isNull)
      .withColumn("__fp",
        when(col("__null"), nullRowKey(col(idCol), portable))
          .otherwise(contentFpStr(col(textCol), portable)))

  def exactDedup(df: DataFrame, textCol: String, idCol: String,
                 /** md5 content keys (replayable by external SQL
                   * engines) instead of the production xxhash64. */
                 portable: Boolean = false): DataFrame = {
    val fp = withContentKey(df, textCol, idCol, portable)
    // __null rides in the group key so a hash collision between a row
    // id and a content fingerprint still cannot merge the two worlds
    val keep = fp.groupBy("__fp", "__null").agg(min(col(idCol)).as(idCol))
    fp.join(keep, Seq("__fp", "__null", idCol), "left_semi")
      .drop("__fp", "__null")
  }

  /** [[exactDedup]] as an annotation instead of a filter: every input
    * row survives, carrying an `is_canonical` flag (true on the min-id
    * row of its content group). Lets a multi-stage pipeline compute
    * per-stage survivor stats in ONE conditional aggregate over flags
    * rather than one job per filtered branch — same group-by + join
    * shape and cost as exactDedup itself. */
  def exactDedupFlag(df: DataFrame, textCol: String, idCol: String,
                     portable: Boolean = false): DataFrame = {
    val fp = withContentKey(df, textCol, idCol, portable)
    val keep = fp.groupBy("__fp", "__null")
      .agg(min(col(idCol)).as("__minid"))
    fp.join(keep, Seq("__fp", "__null"))
      .withColumn("is_canonical", col(idCol) === col("__minid"))
      .drop("__fp", "__null", "__minid")
  }

  /** Incremental (snapshot) dedup — the cross-crawl shape: a new batch
    * of documents is deduplicated AGAINST an already-curated snapshot
    * without rescanning the snapshot's text (only its fingerprint set).
    * A batch row survives iff (a) its content fingerprint is absent from
    * the snapshot and (b) it is the min-id holder of its fingerprint
    * within the batch (batch-internal exact dedup).
    *
    * Scale shape: one anti equi-join on the 8-byte fingerprint (the
    * snapshot side is fingerprints only — at 100 TB corpus scale that is
    * the standard "seen-set" table, bucketable by fp for a shuffle-free
    * join), then the same min-id aggregate + semi-join as [[exactDedup]]
    * on the (much smaller) surviving batch. Null-text rows pass through
    * like in [[exactDedup]].
    *
    * `portable = true` keys on md5 (replayable by external SQL engines,
    * used by the oracled driver query); production keys on xxhash64.
    */
  def incrementalDedup(batch: DataFrame, snapshot: DataFrame,
                       textCol: String, idCol: String,
                       portable: Boolean = false): DataFrame = {
    val seen = snapshot.where(col(textCol).isNotNull)
      .select(contentFpStr(col(textCol), portable).as("__fp")).distinct()
    val keyed = withContentKey(batch, textCol, idCol, portable)
    // null-text rows can never be in the snapshot: route them past the
    // anti-join (two-worlds invariant — an id key colliding with a
    // content key cannot drop the row)
    val fresh = keyed.where(col("__null")).unionByName(
      keyed.where(!col("__null")).join(seen, Seq("__fp"), "left_anti"))
    val keep = fresh.groupBy("__fp", "__null")
      .agg(min(col(idCol)).as(idCol))
    fresh.join(keep, Seq("__fp", "__null", idCol), "left_semi")
      .drop("__fp", "__null")
  }

  /** Sub-document (chunk-level) dedup — the exact-substring-dedup
    * approximation used on big web/code corpora: every document is cut
    * into consecutive `blockTokens`-token blocks, a block that appears
    * in multiple places survives only at its globally-first occurrence
    * (min `(doc id, block position)`), and each document reassembles
    * from its surviving blocks in order. Boilerplate shared across many
    * pages (headers, license banners, navigation) disappears from all
    * but one document. Null-text rows pass through; a fully-duplicated
    * document reassembles to ''.
    *
    * NOTE: output text is the case-folded whitespace-collapsed
    * normalization for EVERY surviving document (blocks are cut and
    * rejoined in normalized token space) — chunk dedup is a
    * pre-tokenization stage, not a byte-preserving filter; callers that
    * must keep original bytes should use the surviving doc/block ids to
    * re-slice their own text.
    *
    * Scale shape: blocks explode as a generator in the scan stage
    * (array slicing is per-row arithmetic); the survivor choice is one
    * window rank keyed on the 8-byte block hash, and the reassembly is
    * one per-document aggregate over surviving blocks (state bounded by
    * document size). The corpus token stream rides those two exchanges
    * — the dedup decision itself could be taken on hashes alone, but
    * reassembly needs the text, and re-deriving it via a (doc, pos)
    * self-join would shuffle the same bytes anyway.
    */
  def chunkDedup(df: DataFrame, textCol: String, idCol: String,
                 blockTokens: Int): DataFrame = {
    require(blockTokens > 0,
      s"blockTokens must be positive; got $blockTokens")
    import org.apache.spark.sql.expressions.Window
    val k = blockTokens
    val tok = split(normalizeText(col(textCol)), " ")
    // consecutive k-token blocks rendered back to strings in the scan
    val blocks = transform(
      sequence(lit(0), floor((size(tok) - 1) / k).cast("int")),
      i => array_join(slice(tok, i * k + 1, lit(k)), " "))
    val hasText = df.where(col(textCol).isNotNull)
    val seg = hasText
      .select(col(idCol).as("__id"),
              posexplode(blocks).as(Seq("__pos", "__seg")))
      .withColumn("__fp", xxhash64(col("__seg")))
    val w = Window.partitionBy("__fp").orderBy(col("__id"), col("__pos"))
    val kept = seg
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
    val rebuilt = kept
      .groupBy("__id")
      .agg(array_join(array_sort(collect_list(struct(col("__pos"),
                                                     col("__seg"))))
             .getField("__seg"), " ").as("__newtext"))
    // left join back: docs whose every block was claimed elsewhere
    // reassemble to '' (they vanish entirely, like exact dedup losers)
    hasText
      .join(rebuilt, col(idCol) === col("__id"), "left")
      .withColumn(textCol, coalesce(col("__newtext"), lit("")))
      .drop("__id", "__newtext")
      .unionByName(df.where(col(textCol).isNull))
  }

  /** [[incrementalDedup]] with a Bloom-filter routing stage — the
    * compact "seen-set" shape for snapshots too large to anti-join the
    * whole batch against. The snapshot's fingerprint set is folded into
    * a Bloom filter (one distributed aggregate; `expectedItems`/`fpp`
    * bound its size, e.g. 1e9 items at 1% fpp is ~1.1 GiB) whose test
    * compiles into the scan as a native codegen'd predicate
    * (`BloomFilterMightContain` on the xxhash64 fingerprint). Batch rows
    * the filter clears are DEFINITELY unseen (no false negatives) and
    * bypass the snapshot join entirely; only the `might contain`
    * suspects — true dups plus the fpp sliver — are exactly verified
    * with the anti-join. The result is therefore EXACT (identical to
    * [[incrementalDedup]]); the Bloom stage only routes.
    *
    * Scale shape: at a typical 1-5% cross-crawl dup rate the anti-join
    * processes ~(dup rate + fpp) of the batch instead of all of it. The
    * snapshot fingerprints are read twice — the eager Bloom build and
    * the lazy anti-join side — but both passes carry 8-byte hashes,
    * never text.
    */
  def incrementalDedupBloom(batch: DataFrame, snapshot: DataFrame,
                            textCol: String, idCol: String,
                            expectedItems: Long,
                            fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.{GraftExpressionBridge => EB}
    import org.apache.spark.sql.catalyst.expressions.{
      BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    // the production 8-byte content key IS TextAnalysis.fingerprint —
    // one definition, so the Bloom path can never drift from
    // incrementalDedup's keys.
    // no distinct: Bloom insertion is idempotent and the anti-join only
    // tests existence, so deduplicating the fingerprints would just add
    // a shuffle to each of the two snapshot passes (the eager filter
    // build here, and the lazy anti-join side below)
    def contentFp(c: Column): Column = TextAnalysis.fingerprint(c)
    val seen = snapshot.where(col(textCol).isNotNull)
      .select(contentFp(col(textCol)).as("__fp"))
    val bloom = seen.stat.bloomFilter("__fp", expectedItems, fpp)
    val blob = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos); bos.toByteArray
    }
    val keyed = batch
      .withColumn("__null", col(textCol).isNull)
      .withColumn("__fp",
        when(col("__null"), xxhash64(col(idCol)))
          .otherwise(contentFp(col(textCol))))
    val mightContain = EB.column(BloomFilterMightContain(
      Literal(blob, BinaryType), EB.expression(col("__fp"))))
    // cleared rows never touch the snapshot join; suspects verify
    // exactly so a false positive cannot drop a genuinely new document.
    // Null-text rows route straight past the Bloom test: they can never
    // be in the snapshot, and keeping their (row-id-keyed) fingerprints
    // out of the content anti-join preserves exactDedup's two-worlds
    // invariant — an id hash colliding with a content hash still cannot
    // drop the row. unionByName: the using-key join reorders __fp.
    val fresh = keyed.where(col("__null") || !mightContain).unionByName(
      keyed.where(!col("__null") && mightContain)
        .join(seen, Seq("__fp"), "left_anti"))
    val keep = fresh.groupBy("__fp", "__null")
      .agg(min(col(idCol)).as(idCol))
    fresh.join(keep, Seq("__fp", "__null", idCol), "left_semi")
      .drop("__fp", "__null")
  }

  /** Per-document banded MinHash signature, staged as materialized
    * projections: each intermediate (normalized text, shingle array,
    * signature) is computed ONCE per row. Nesting them in one expression
    * would re-evaluate the captured subtree per lambda element — Catalyst
    * does not CSE across higher-order-function lambdas.
    */
  def withMinhashBands(df: DataFrame, textCol: String, idCol: String,
                       numHashes: Int, bands: Int,
                       shingleLen: Int,
                       portable: Boolean = false): DataFrame = {
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands " +
      s"($bands) — otherwise band rows are truncated (or empty, which " +
      "would bucket the whole corpus together)")
    val rows = numHashes / bands
    val bandKeys: Column => Column =
      if (portable) lshBandsPortable(_, bands, rows)
      else lshBands(_, bands, rows)
    df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .withColumn("__norm", normalizeText(col("__text")))
      .withColumn("__sig",
                  graft.functions.TextHashExprs.minhashSig(
                    col("__norm"), shingleLen, numHashes, portable))
      .select(col("id"),
              posexplode(bandKeys(col("__sig"))).as(Seq("band", "bh")))
  }

  /** MinHash-LSH candidate pairs: returns (id_a, id_b, band) with
    * id_a < id_b. ONE scan computes signatures and ONE shuffle groups by
    * (band, bucket-hash); pairs are generated inside each bucket with a
    * pair-expansion expression — no self-join, so signatures are not
    * recomputed for a second plan branch.
    *
    * Skew guard: a bucket of m near-identical documents would emit
    * m(m-1)/2 pairs — quadratic blowup on degenerate mega-clusters
    * (boilerplate/spam) at corpus scale. Buckets larger than
    * `starThreshold` switch to STAR expansion: every member pairs with
    * the bucket's minimum id only (m-1 pairs). For dedup this loses
    * nothing — the cluster stays one connected component — while
    * bounding output linearly in bucket size.
    */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        numHashes: Int = 64, bands: Int = 16,
                        shingleLen: Int = 5,
                        starThreshold: Int = 256,
                        portable: Boolean = false,
                        keepBand: Boolean = true): DataFrame =
    candidatesFromBanded(
      withMinhashBands(df, textCol, idCol, numHashes, bands,
                       shingleLen, portable),
      starThreshold, keepBand)

  /** Pair generation over an ALREADY-BANDED `(id, band, bh)` table —
    * the incremental-ingest entry point: banding is a stateless
    * per-row map, so per-batch banded rows appended to a signature
    * store union to EXACTLY the batch banding, and this operator over
    * the accumulated store equals the one-shot
    * [[minhashCandidates]]. */
  def candidatesFromBanded(banded: DataFrame,
                           starThreshold: Int = 256,
                           keepBand: Boolean = true): DataFrame = {
    // Bucket size + min id annotated per member by ONE window over the
    // (band, bh) shuffle. Unlike a bucket-wide collect_list — whose
    // single aggregation buffer must hold an entire mega-bucket in
    // memory — WindowExec spills oversized partition groups to disk, so
    // a degenerate spam/boilerplate bucket of any size stays bounded.
    // Both branches below consume the IDENTICAL annotated subtree
    // (small also groups on mn; per-branch column pruning would
    // otherwise specialize the two copies and defeat exchange reuse),
    // so AQE plans the shuffle once and reuses the stage: the corpus is
    // scanned and signatures computed ONCE.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "bh")
    val ann = banded
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("mn", min(col("id")).over(w))
      .where(col("n") > 1)
    // small buckets: in-bucket all-pairs expansion; the collect_list
    // row is bounded by starThreshold members, and the (band, bh)
    // partitioning already satisfies the grouping — no extra shuffle
    val smallPairs = ann.where(col("n") <= starThreshold)
      .groupBy("band", "bh", "mn")
      .agg(array_sort(collect_list(col("id"))).as("ids"))
      .select(col("band"),
              explode(flatten(transform(col("ids"), (a, i) =>
                transform(slice(col("ids"), i + lit(2), size(col("ids"))),
                          b => struct(a.as("id_a"), b.as("id_b"))))))
                .as("p"))
    // mega buckets switch to STAR expansion — every member pairs with
    // the bucket minimum — as a pure per-row projection: m-1 pairs,
    // bounded memory AND output, and for dedup nothing is lost (the
    // cluster stays one connected component)
    val starPairs = ann
      .where(col("n") > starThreshold && col("id") =!= col("mn"))
      .select(col("band"), struct(col("mn").as("id_a"),
                                  col("id").as("id_b")).as("p"))
    val pairs = smallPairs.union(starPairs)
      .select(col("p.id_a"), col("p.id_b"), col("band"))
    // keepBand=false dedupes straight to (id_a, id_b) — one distinct
    // shuffle instead of a band-level distinct plus a re-distinct in the
    // caller
    if (keepBand) pairs.distinct()
    else pairs.select("id_a", "id_b").distinct()
  }

  /** 64-bit SimHash over whitespace tokens: per-bit vote sum of token
    * hashes, bit set when the vote is positive. Bit packing avoids dynamic
    * shifts via MSB-first Horner accumulation (acc*2 + bit). */
  def simhash(text: Column, portable: Boolean = false): Column =
    graft.functions.TextHashExprs.simhash64(normalizeText(text), portable)

  /** Jaccard similarity of two precomputed (distinct-element) arrays. */
  def jaccardArrays(sa: Column, sb: Column): Column = {
    val inter = size(array_intersect(sa, sb)).cast("double")
    val union = size(array_union(sa, sb)).cast("double")
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  /** [[jaccardArrays]] for SORTED no-null-element arrays, via the
    * one-pass merge kernel ([[graft.functions.ArraySetExprs]]):
    * value-identical (same distinct int sizes, same double division,
    * same null/empty fallback to 0.0) but JIT-compiled per pair
    * instead of Spark's interpreted per-row `SQLOpenHashSet` build —
    * the r13 fix for verify joins whose entire cost was
    * `ArrayIntersect.nullSafeEval` over millions of candidate pairs.
    * Callers sort each side ONCE per document (`array_sort`), never
    * per pair. */
  def sortedJaccardArrays(sa: Column, sb: Column): Column = {
    val iu = graft.functions.ArraySetExprs.sortedInterUnion(sa, sb)
    val inter = shiftright(iu, 32).cast("int").cast("double")
    val union = iu.bitwiseAND(lit(0xffffffffL)).cast("int").cast("double")
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  /** n-gram Jaccard similarity between two texts. For joins, precompute
    * `wordShingles` per side first and use `jaccardArrays` — this form
    * re-tokenizes per comparison. */
  def ngramJaccard(textA: Column, textB: Column, n: Int = 3): Column =
    jaccardArrays(wordShingles(textA, n), wordShingles(textB, n))

  /** Directed n-gram CONTAINMENT pairs: (a, b) where at least
    * `minNum/minDen` of a's distinct word n-grams also occur in b —
    * the asymmetric overlap Jaccard near-dup misses (a short document
    * quoted inside a much longer one has tiny Jaccard but containment
    * ≈ 1). The quote/boilerplate-inclusion detector of a curation
    * pipeline.
    *
    * The threshold test and both emitted overlap columns are exact
    * integers (`inter_grams * minDen >= minNum * a_grams` — no float
    * division anywhere), so results replay bit-exactly in any engine.
    *
    * This form joins the given pairs frame (`id_a`, `id_b`) against
    * materialized shingle arrays — feed it LSH candidates
    * ([[minhashCandidates]]) or any blocked pair source; shingles are
    * computed once per distinct member id (semi-join against the pair
    * ids), never per pair. Pairs are directed: callers wanting both
    * orientations pass both.
    */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       pairs: DataFrame, n: Int = 3,
                       minNum: Long = 1L, minDen: Long = 2L): DataFrame = {
    require(minDen > 0 && minNum >= 0,
            s"threshold must be a nonnegative rational; got $minNum/$minDen")
    val ids = pairs.select(col("id_a").as("__id"))
      .union(pairs.select(col("id_b").as("__id"))).distinct()
    val sh = df.join(ids, col(idCol) === col("__id"), "left_semi")
      .select(col(idCol).as("__sid"),
              split(normalizeText(col(textCol)), " ").as("__tok"))
      // sorted once per doc for the per-pair codegen merge kernel
      .select(col("__sid"),
              array_sort(wordShinglesOf(col("__tok"), n)).as("__sh"))
    val a = sh.select(col("__sid").as("id_a"), col("__sh").as("__sha"))
    val b = sh.select(col("__sid").as("id_b"), col("__sh").as("__shb"))
    pairs.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
              graft.functions.ArraySetExprs
                .sortedInterSize(col("__sha"), col("__shb"))
                .cast("long").as("inter_grams"),
              size(col("__sha")).cast("long").as("a_grams"))
      .where(col("inter_grams") * minDen >= lit(minNum) * col("a_grams"))
  }

  /** Candidate-stage quality report: RECALL of the MinHash-LSH
    * candidate generator against the exact verification criterion
    * (word n-gram Jaccard >= thrNum/thrDen), plus the candidate volume
    * that recall costs — the measurement that tunes numHashes/bands
    * before a 100 TB dedup run (more bands = higher recall = more
    * candidate pairs to verify; this report prices the trade on a
    * sample).
    *
    * `df` should be a bounded sample: the truth side is an exact
    * all-pairs join by construction (that is the point — an
    * LSH-independent ground truth). All emitted quantities are exact
    * integers; the Jaccard threshold is the integer cross-multiply
    * `inter * thrDen >= thrNum * union`.
    *
    * Returns one row: (n_candidates, n_truth, n_hits, truth_id_sum) —
    * recall = n_hits / n_truth, and the id checksum pins the truth set
    * itself, not just its size.
    */
  def lshQualityReport(df: DataFrame, textCol: String, idCol: String,
                       numHashes: Int = 32, bands: Int = 8,
                       thrNum: Long = 1L, thrDen: Long = 2L,
                       ngram: Int = 3,
                       /** persist the candidate and truth tables — each
                         * feeds TWO branches of the crossJoined report
                         * (its own tallies + the hit semi-join);
                         * unpersisted, the LSH chain and the brute-force
                         * truth join each run twice (16 parquet scans in
                         * the final plan). Both are sample-bounded; as
                         * with [[setSimJoinExact]]/[[nearDupPairs]],
                         * release via `spark.catalog.clearCache()` (or
                         * unpersist) when the report is consumed, or
                         * pass false for a fully lazy plan. */
                       materialize: Boolean = true): DataFrame = {
    def mat(x: DataFrame): DataFrame =
      if (materialize) x.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else x
    val cand = mat(minhashCandidates(df, textCol, idCol, numHashes,
                                     bands, portable = true)
      .select(col("id_a"), col("id_b")).distinct())
    // materialization barrier (the q_ngram_jaccard discipline): without
    // it the shingle projection is recomputed per PAIR above the join
    val sh = df
      .select(col(idCol).as("__sid"),
              split(normalizeText(col(textCol)), " ").as("__tok"))
      // sorted once per doc: the all-pairs truth join then verifies
      // each pair with the codegen merge kernel, not interpreted
      // array_intersect/array_union hash sets
      .select(col("__sid"),
              array_sort(wordShinglesOf(col("__tok"), ngram)).as("__sh"))
      .repartition(df.sparkSession.conf
                     .get("spark.sql.shuffle.partitions").toInt)
    val a = sh.select(col("__sid").as("id_a"), col("__sh").as("__sha"))
    val b = sh.select(col("__sid").as("id_b"), col("__sh").as("__shb"))
    val iu = graft.functions.ArraySetExprs
      .sortedInterUnion(col("__sha"), col("__shb"))
    val truth = mat(a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
              shiftright(iu, 32).cast("int")
                .cast("long").as("__i"),
              iu.bitwiseAND(lit(0xffffffffL)).cast("int")
                .cast("long").as("__u"))
      .where(col("__i") * thrDen >= lit(thrNum) * col("__u"))
      .select(col("id_a"), col("id_b")))
    val hits = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
    cand.agg(count(lit(1)).as("n_candidates"))
      .crossJoin(truth.agg(count(lit(1)).as("n_truth"),
                           coalesce(sum(col("id_a") + col("id_b")),
                                    lit(0L)).as("truth_id_sum")))
      .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
  }

  /** Verified near-dup pairs: LSH candidates filtered by n-gram Jaccard >=
    * threshold. Shingle arrays are materialized per doc BEFORE the joins
    * so tokenization runs once per document, not once per candidate pair
    * — and only for documents that appear in some candidate pair (a
    * semi-join against the candidate id set): at corpus scale the
    * candidate members are a small fraction of the corpus, so the
    * expensive shingle projection never runs on the clean majority.
    */
  def nearDupPairs(df: DataFrame, textCol: String, idCol: String,
                   jaccardThreshold: Double = 0.8,
                   numHashes: Int = 64, bands: Int = 16,
                   jaccardNgram: Int = 3,
                   portable: Boolean = false,
                   /** persist the candidate-pair and member-shingle
                     * intermediates (both dup-suspect-sized). Set false
                     * to keep the plan fully lazy — each branch then
                     * recomputes from the corpus scan (3x LSH, 2x
                     * shingling). The cached data lives until the
                     * returned frame's session clears it
                     * (`spark.catalog.clearCache()` or unpersist on the
                     * upstream frames). */
                   materialize: Boolean = true): DataFrame = {
    // the candidate subtree feeds the member-id semi-join AND the pair
    // join, and the member-shingle projection feeds both join sides;
    // without materialization Spark re-derives each branch from the
    // corpus scan (7 scans, no ReusedExchange — the projections above
    // the shuffles differ). Both intermediates are dup-suspect-sized
    // (a small fraction of the corpus), so MEMORY_AND_DISK
    // materialization is the scale-correct trade: LSH runs once,
    // shingling runs once, and the corpus is scanned 2x total.
    def mat(d: DataFrame): DataFrame =
      if (materialize)
        d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else d
    val cands = mat(
      minhashCandidates(df, textCol, idCol, numHashes, bands,
                        portable = portable, keepBand = false))
    val candIds = cands
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol))
      .distinct()
    // shingles are carried as 64-bit hashes: Jaccard over distinct
    // hashes equals Jaccard over distinct shingle strings (collisions
    // are ~n^2/2^64), while the pair join shuffles 8-byte longs instead
    // of full n-gram strings and intersects on long equality
    // hashes are SORTED once per doc so the per-pair verify runs the
    // codegen merge kernel (sortedJaccardArrays), not the interpreted
    // per-pair hash-set build of array_intersect/array_union
    val sh = mat(df.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol).as("id"),
              split(normalizeText(col(textCol)), " ").as("__tok"))
      .select(col("id"),
              array_sort(
                shingleHashes(wordShinglesOf(col("__tok"), jaccardNgram)))
                .as("sh")))
    cands
      .join(sh.toDF("id_a", "sh_a"), Seq("id_a"))
      .join(sh.toDF("id_b", "sh_b"), Seq("id_b"))
      .withColumn("jaccard", sortedJaccardArrays(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= jaccardThreshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cross-corpus NEAR-dup filter — [[incrementalDedup]] at similarity
    * (not equality) level, the refresh-crawl workflow: drop batch
    * documents whose word-`jaccardNgram`-gram Jaccard against ANY
    * snapshot document reaches `jaccardThreshold`.
    *
    * Scale shape: candidate generation is a bucketed equi-join of the
    * two corpora's MinHash band keys on `(band, bucket-hash)` — never
    * an all-pairs comparison, and the shuffle carries band-key longs,
    * not text. The snapshot side of every bucket is capped at
    * `maxSnapshotPerBucket` members (lowest ids, one window rank) so a
    * degenerate boilerplate bucket bounds the join fan-out to
    * `cap * batch-members`; a batch doc whose only witnesses were
    * capped out is missed — the standard LSH recall trade, made
    * explicit and deterministic here (selection is by id rank, so
    * re-runs and the SQL oracle agree exactly). Verification
    * materializes the shingle-hash array ONCE per candidate-involved
    * document per side (semi-join first, so the clean majority of both
    * corpora never shingles). Null-text batch rows pass through — they
    * cannot be near-dup of anything.
    */
  def crossCorpusNearDup(batch: DataFrame, snapshot: DataFrame,
                         textCol: String, idCol: String,
                         jaccardThreshold: Double = 0.8,
                         numHashes: Int = 64, bands: Int = 16,
                         shingleLen: Int = 5, jaccardNgram: Int = 3,
                         maxSnapshotPerBucket: Int = 32,
                         portable: Boolean = false,
                         /** persist the candidate-pair intermediate
                           * (dup-suspect-sized) — it feeds both
                           * semi-joins AND the verify join, and without
                           * materialization each branch re-derives BOTH
                           * corpora's LSH scans ([[nearDupPairs]]'
                           * rationale, doubled). */
                         materialize: Boolean = true): DataFrame = {
    require(maxSnapshotPerBucket > 0,
      s"maxSnapshotPerBucket must be positive; got $maxSnapshotPerBucket")
    import org.apache.spark.sql.expressions.Window
    def mat(d: DataFrame): DataFrame =
      if (materialize)
        d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else d
    val hasText = batch.where(col(textCol).isNotNull)
    val snapText = snapshot.where(col(textCol).isNotNull)
    val bb = withMinhashBands(hasText, textCol, idCol, numHashes,
                              bands, shingleLen, portable)
      .select(col("id").as("id_b"), col("band"), col("bh"))
    val sb = withMinhashBands(snapText, textCol, idCol, numHashes,
                              bands, shingleLen, portable)
      .withColumn("__rk", row_number().over(
        Window.partitionBy("band", "bh").orderBy("id")))
      .where(col("__rk") <= maxSnapshotPerBucket)
      .select(col("id").as("id_s"), col("band"), col("bh"))
    val cand = mat(bb.join(sb, Seq("band", "bh"))
      .select("id_b", "id_s").distinct())
    // shingle-hash materialization per involved doc (the jaccard-over-
    // hashes == jaccard-over-strings argument of [[nearDupPairs]])
    def shOf(df: DataFrame, ids: DataFrame, idName: String): DataFrame =
      mat(df.select(col(idCol).as(idName), col(textCol).as("__text"))
        .join(ids.distinct(), Seq(idName), "left_semi")
        .select(col(idName),
                // sorted once per doc for the codegen merge verify
                array_sort(shingleHashes(wordShinglesOf(
                  split(normalizeText(col("__text")), " "),
                  jaccardNgram))).as("__sh")))
    val bSh = shOf(hasText, cand.select("id_b"), "id_b")
      .withColumnRenamed("__sh", "sh_b")
    val sSh = shOf(snapText, cand.select("id_s"), "id_s")
      .withColumnRenamed("__sh", "sh_s")
    val flagged = cand.join(bSh, Seq("id_b")).join(sSh, Seq("id_s"))
      .where(sortedJaccardArrays(col("sh_b"), col("sh_s"))
               >= jaccardThreshold)
      .select(col("id_b").as(idCol)).distinct()
    hasText.join(flagged, Seq(idCol), "left_anti")
      .unionByName(batch.where(col(textCol).isNull))
  }

  /** Per-source duplicate-rate report — the corpus-triage view of
    * [[exactDedup]] ("which crawl is feeding me copies"): WITHIN each
    * source, group rows by the shared content key (null text rows stay
    * unique via the id-keyed world) and report `n_docs`, `n_unique`,
    * `n_dups`, and the largest duplicate group. One grouped count on
    * (source, fp) + a per-source rollup — map-side combined, the
    * shuffle carries one row per distinct (source, fingerprint).
    */
  def dupStatsBySource(df: DataFrame, textCol: String, idCol: String,
                       srcCol: String,
                       portable: Boolean = false): DataFrame =
    withContentKey(df, textCol, idCol, portable)
      .groupBy(col(srcCol), col("__fp"), col("__null"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col(srcCol))
      .agg(sum("__n").as("n_docs"), count(lit(1)).as("n_unique"),
           (sum("__n") - count(lit(1))).as("n_dups"),
           max("__n").as("largest_group"))
      .orderBy(srcCol)

  /** Cross-source duplication matrix — the provenance question
    * [[dupStatsBySource]] cannot answer: which source PAIRS share
    * content. One row per unordered (src_a < src_b) pair with the
    * number of distinct content fingerprints present in both. The
    * distinct (fp, source) aggregate bounds the self-join: each side
    * carries one row per fingerprint per source, so a fingerprint's
    * pair fan-out is C(#sources, 2) ≤ C(n_sources, 2) — never a
    * row-level blow-up however many copies each source holds. Null
    * text stays out (a null row duplicates nothing).
    */
  def crossSourceDupes(df: DataFrame, textCol: String, idCol: String,
                       srcCol: String,
                       portable: Boolean = false): DataFrame = {
    val fpSrc = df.where(col(textCol).isNotNull)
      .select(contentFpStr(col(textCol), portable).as("__fp"),
              col(srcCol).cast("string").as("__src"))
      .distinct()
      .persist() // both self-join sides (caller clearCache)
    fpSrc.as("a")
      .join(fpSrc.as("b"),
            col("a.__fp") === col("b.__fp") &&
              col("a.__src") < col("b.__src"))
      .groupBy(col("a.__src").as("src_a"), col("b.__src").as("src_b"))
      .agg(count(lit(1)).as("n_shared_fps"))
      .orderBy("src_a", "src_b")
  }

  /** Benchmark-contamination check (decontamination step of a training
    * pipeline): corpus documents sharing at least one word n-gram with
    * any benchmark/eval document. Returns (id, n_matched_grams) for
    * contaminated docs only.
    *
    * Scale shape: the benchmark side is eval-set sized (thousands of
    * docs), so its distinct n-gram set is broadcast; the corpus is
    * scanned ONCE, n-grams exploded and matched map-side by the
    * broadcast hash join, then one aggregate by doc id. No corpus
    * self-shuffle, no benchmark re-scan per partition. Grams are carried
    * as 64-bit xxhash64 values computed by the single-pass native
    * kernel [[graft.functions.TextHashExprs.wordGramHashes]] (the HOF
    * shingle lambda is interpreted AND projection collapse re-inlines
    * the normalize/split regexes into every lambda element — O(words^2)
    * regex work per doc): the broadcast set, join keys, and
    * countDistinct all operate on 8-byte longs instead of n-word
    * strings. Matched-gram counts over distinct hashes equal counts
    * over distinct gram strings (collisions ~n^2/2^64), so string-side
    * oracles stay valid; `portable = true` keeps raw gram strings (the
    * HOF formulation) for a literal external-SQL replay.
    */
  def contamination(corpus: DataFrame, benchmark: DataFrame,
                    textCol: String, idCol: String,
                    n: Int = 8, portable: Boolean = false): DataFrame = {
    def grams(df: DataFrame, keepId: Boolean): DataFrame = {
      val ids = if (keepId) Seq(col(idCol).as("id")) else Seq.empty
      if (portable) {
        val base = df.select(ids :+
                split(normalizeText(col(textCol)), " ").as("__tok"): _*)
        base.select((if (keepId) Seq(col("id")) else Seq.empty) :+
                    explode(wordShinglesOf(col("__tok"), n)).as("g"): _*)
      } else {
        val base = df.select(ids :+
                graft.functions.TextHashExprs.wordGramHashes(
                  normalizeText(col(textCol)), n).as("__gh"): _*)
        base.select((if (keepId) Seq(col("id")) else Seq.empty) :+
                    explode(col("__gh")).as("g"): _*)
      }
    }
    val bench = grams(benchmark, keepId = false).distinct()
    grams(corpus, keepId = true)
      .join(broadcast(bench), Seq("g"))
      .groupBy("id")
      .agg(countDistinct(col("g")).as("n_matched_grams"))
  }

  /** Connected components over a duplicate-pair edge list — the cluster
    * step of a dedup pipeline (pick one canonical doc per component).
    * Iterative minimum-label propagation: each round joins labels across
    * the symmetric edge list and keeps the per-node minimum; rounds
    * needed = graph diameter (near-dup clusters are shallow). Each
    * round is one shuffle join + one aggregate, fully distributed; the
    * per-round `localCheckpoint` cuts the growing lineage so plans stay
    * flat at scale. Returns (id, component) with component = the
    * minimum id in the node's component.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b",
                          maxIter: Int = 25,
                          /** Edge budget for the driver union-find fast
                            * path: near-dup edges are VERIFIED pairs —
                            * tiny relative to the corpus — so most dedup
                            * runs resolve components in one bounded
                            * collect instead of one Spark job per
                            * propagation round. Distributed min-label
                            * propagation handles edge sets beyond the
                            * budget (tests pass 0 to force it). */
                          driverEdgeBudget: Int = 5000000): DataFrame = {
    // ids are label values: the long cast must be lossless. A string id
    // would cast "doc-17" to null — NPE on the driver path, silently
    // null components on the distributed path — so fail fast and tell
    // the caller to pre-hash (e.g. xxhash64) instead.
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType,
      LongType}
    Seq(idA, idB).foreach { c =>
      val dt = pairs.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"connectedComponents needs integral node ids; column $c is " +
        s"$dt — pre-hash non-numeric ids to longs (e.g. xxhash64) first")
    }
    // an edge with a null endpoint connects nothing — drop defensively
    val edges = pairs
      .where(col(idA).isNotNull && col(idB).isNotNull)
      .select(col(idA).cast("long").as("src"),
              col(idB).cast("long").as("dst"))
    val probe =
      if (driverEdgeBudget <= 0) Array.empty[org.apache.spark.sql.Row]
      else edges.limit(driverEdgeBudget + 1).collect()
    if (driverEdgeBudget > 0 && probe.length <= driverEdgeBudget) {
      // driver union-find: O(E alpha) with path compression
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val n = parent.getOrElse(c, c); parent(c) = r; c = n
        }
        r
      }
      probe.foreach { r =>
        val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
        if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
      }
      val ids = probe.flatMap(r => Seq(r.getLong(0), r.getLong(1)))
        .distinct
      val spark = pairs.sparkSession
      import spark.implicits._
      return ids.map(id => (id, find(id))).toSeq.toDF("id", "comp")
    }
    val sym = edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val prop = sym
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("comp")).as("ncomp"))
      // one materialization carries both the update and the old label,
      // so convergence is a cheap count on checkpointed data (no second
      // join per round)
      val joined = labels
        .join(prop, Seq("id"), "left")
        .select(col("id"), col("comp").as("old"),
                least(col("comp"), coalesce(col("ncomp"), col("comp")))
                  .as("comp"))
        .localCheckpoint()
      val changes = joined.where(col("comp") =!= col("old")).count()
      labels = joined.select("id", "comp")
      converged = changes == 0
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds — " +
        "a component's diameter exceeds maxIter and its labels are only " +
        "partially propagated; raise maxIter")
    labels
  }

  /** Near-dup survivor selection: run the production chain
    * ([[nearDupPairs]] -> [[connectedComponents]]) and keep, per
    * duplicate cluster, the single member ranking first by
    * `(quality DESC, id ASC)`; every unclustered document is kept
    * untouched. This is the step an LLM-data pipeline actually wants
    * from dedup — not the cluster labels, but the curated corpus with
    * the best representative of each duplicate family retained.
    *
    * Scale shape: clustered documents are a small fraction of the
    * corpus (they are VERIFIED near-dup pairs), so the ranking window
    * partitions over cluster-member rows only, and the final
    * `left_anti` join removes a dropped-id set that is strictly
    * smaller still. The corpus itself is never self-joined and never
    * sorted globally.
    *
    * `quality` must be computable from `df`'s columns (e.g. a stored
    * quality score, or [[TextAnalysis.qualityScore]] over the text).
    */
  def dedupSurvivors(df: DataFrame, textCol: String, idCol: String,
                     quality: Column,
                     jaccardThreshold: Double = 0.8,
                     numHashes: Int = 64, bands: Int = 16,
                     jaccardNgram: Int = 3,
                     portable: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = nearDupPairs(df, textCol, idCol, jaccardThreshold,
                             numHashes, bands, jaccardNgram, portable)
    val comps = connectedComponents(pairs)
      .withColumnRenamed("id", idCol)
    val w = Window.partitionBy("comp").orderBy(quality.desc, col(idCol))
    val dropped = df.join(comps, Seq(idCol)) // cluster members only
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") > 1)
      .select(col(idCol))
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** EXACT set-similarity self-join by prefix filtering (the
    * AllPairs/PPJoin family): every unordered document pair whose
    * DISTINCT-token-set Jaccard reaches `thrNum/thrDen` — no LSH
    * probability, no missed pairs, and a completely INTEGER surface:
    * the threshold is a rational, the qualifying test is
    * `thrDen * |a n b| >= thrNum * |a u b|`, and the prefix length is
    * integer ceil-division, so an external engine replays the result
    * bit-exactly with no float anywhere.
    *
    * Prefix filter: order each document's tokens by global rarity
    * (document frequency asc, token asc — one vocabulary-sized
    * aggregate joined back, ONE row per token so the build side cannot
    * skew); a document's prefix is its first
    * `|T| - ceil(thr * |T|) + 1` tokens. Exactness: for a qualifying
    * pair, the FIRST shared token in the canonical order has all
    * shared tokens at-or-after it in both documents, so
    * `overlap <= size - pos + 1` on each side; with
    * `overlap >= ceil(thr * size)` on each side that pins it inside
    * BOTH prefixes — a prefix-vs-prefix equi-join misses nothing.
    * Two further PPJoin prunes run on the raw candidate rows, both
    * pure integer arithmetic: the LENGTH filter
    * (`thrDen * min_size >= thrNum * max_size`, since
    * J <= min/max) and the POSITIONAL filter
    * (`min(sz - pos) + 1 >= alpha` with
    * `alpha = ceil(thrNum * (sz_a + sz_b) / (thrNum + thrDen))`, the
    * equivalent-overlap form of the Jaccard threshold). Survivors
    * verify with exact `array_intersect` / `array_union` sizes on the
    * distinct-token arrays.
    *
    * Scale shape: both join sides carry PREFIX rows only (a ~(1-thr)
    * sliver of the token volume); a hot template token contributes
    * its prefix-occurrence count squared, and the positional filter
    * then discards witnesses that sit late in either order BEFORE the
    * pair-distinct, so the verify set tracks the true result size —
    * on a deliberately duplication-heavy 5k-doc corpus this cut raw
    * candidates 16.3M -> ~2M and end-to-end wall 90 s -> seconds.
    * The per-document ranking window partitions by document (bounded
    * by its distinct tokens). At extreme scale swap the token STRING
    * arrays for 8-byte hashes ([[nearDupPairs]]' memory trade, with
    * its collision caveat); strings keep this operator exact.
    *
    * Returns (id_a, id_b, inter, uni) with id_a < id_b — integer
    * overlap and union sizes; jaccard = inter/uni is derivable.
    */
  def setSimJoinExact(df: DataFrame, textCol: String, idCol: String,
                      thrNum: Int, thrDen: Int,
                      /** persist the prefix-row sliver — it feeds BOTH
                        * sides of the candidate self-join, and without
                        * materialization each side re-derives the
                        * tokenize + df-join + window subtree. The
                        * blocks are prefix-sized (a ~(1-thr) sliver of
                        * distinct tokens); as with [[nearDupPairs]],
                        * release them via `spark.catalog.clearCache()`
                        * (or unpersist) when the caller is done. */
                      materialize: Boolean = true): DataFrame = {
    require(thrNum > 0 && thrDen > 0 && thrNum <= thrDen,
      s"threshold must be a rational in (0, 1]; got $thrNum/$thrDen")
    import org.apache.spark.sql.expressions.Window
    val tokArr = array_distinct(filter(
      split(lower(trim(col(textCol))), "\\s+"), t => t =!= ""))
    val setsRaw = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), array_sort(tokArr).as("__set"))
      .where(size(col("__set")) > 0)
    // r12: the tokenized set table feeds THREE plan branches (the
    // prefix ranking and both verify sides) — without materialization
    // each branch re-tokenizes the corpus (3 full split+sort passes
    // measured). Same persist/release discipline as `pre` below.
    val sets =
      if (materialize)
        setsRaw.persist(org.apache.spark.storage.StorageLevel
          .MEMORY_AND_DISK)
      else setsRaw
    // |T| rides along from size(__set) — a whole-partition count
    // window here would re-pass the exploded token table for a value
    // the array already knows
    val toks = sets.select(col("__id"),
                           size(col("__set")).cast("long").as("__sz"),
                           explode(col("__set")).as("token"))
    val dfreq = toks.groupBy("token").agg(count(lit(1)).as("__df"))
    val wDoc = Window.partitionBy("__id")
      .orderBy(col("__df"), col("token"))
    val ranked = toks.join(dfreq, Seq("token"))
      .withColumn("__pos", row_number().over(wDoc))
    val prefixLen = col("__sz") -
      expr(s"($thrNum * __sz + $thrDen - 1) div $thrDen") + 1
    val preRaw = ranked.where(col("__pos") <= prefixLen)
      .select(col("__id"), col("token"), col("__pos"), col("__sz"))
    val pre =
      if (materialize)
        preRaw.persist(org.apache.spark.storage.StorageLevel
          .MEMORY_AND_DISK)
      else preRaw
    val preA = pre.select(col("__id").as("id_a"), col("token"),
                          col("__pos").as("__pa"), col("__sz").as("__sa"))
    val preB = pre.select(col("__id").as("id_b"), col("token"),
                          col("__pos").as("__pb"), col("__sz").as("__sb"))
    val alpha = expr(
      s"($thrNum * (__sa + __sb) + $thrNum + $thrDen - 1) " +
      s"div ($thrNum + $thrDen)")
    val cand = preA.join(preB, Seq("token"))
      .where(col("id_a") < col("id_b") &&
             // length filter: J <= min/max
             lit(thrDen.toLong) * least(col("__sa"), col("__sb")) >=
               lit(thrNum.toLong) * greatest(col("__sa"), col("__sb")) &&
             // positional filter: overlap upper bound vs required alpha
             least(col("__sa") - col("__pa"),
                   col("__sb") - col("__pb")) + 1 >= alpha)
      .select("id_a", "id_b").distinct()
    val aSets = sets.select(col("__id").as("id_a"),
                            col("__set").as("__sa"))
    val bSets = sets.select(col("__id").as("id_b"),
                            col("__set").as("__sb"))
    // union derives from sizes (|a|+|b|-inter) — the arrays are
    // distinct, so one intersect pass is the whole verify cost; the
    // sets are array_sort'ed above, so the intersect is the codegen
    // merge kernel (r13 — interpreted ArrayIntersect built a hash set
    // per candidate pair and was this query's entire cost)
    cand.join(aSets, Seq("id_a")).join(bSets, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
              graft.functions.ArraySetExprs
                .sortedInterSize(col("__sa"), col("__sb"))
                .cast("long").as("inter"),
              (size(col("__sa")) + size(col("__sb"))).cast("long")
                .as("__ss"))
      .select(col("id_a"), col("id_b"), col("inter"),
              (col("__ss") - col("inter")).as("uni"))
      .where(lit(thrDen.toLong) * col("inter") >=
             lit(thrNum.toLong) * col("uni"))
  }

  /** Corpus-level repeated-span audit (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * substring-dedup shape, over fixed-length word grams): every
    * word `gramN`-gram occurring at least `minOccurrences` times in
    * the WHOLE corpus marks its token span for removal; overlapping
    * marked spans merge per document (gaps-and-islands over gram
    * start positions), and the audit reports per source how much
    * boilerplate mass removal would strip: `n_docs`, `n_tokens`,
    * `n_docs_affected`, `n_spans` (merged), `n_tokens_removed` —
    * all integers.
    *
    * Portability: token hashes are the code-point polynomial
    * ([[graft.pipeline.TextAnalysis.rollingFingerprint]] per token)
    * and gram hashes the same polynomial folded over the token
    * hashes, so every count replays bit-exactly in SQL. The per-token
    * HOF hashing is interpreted — fine for audit passes; kernelize
    * via a positional variant of
    * [[graft.functions.TextHashExprs.wordGramHashes]] if this ever
    * sits on the hot path.
    *
    * Scale shape: one gram explode into a corpus-wide (gramHash ->
    * occurrence count) aggregate (8-byte keys, map-side combined),
    * one hash-keyed semi-join back onto the positional grams (only
    * REPEATED grams survive into the window), then a per-document
    * window over that sliver — bounded by the document's repeated
    * grams, never the corpus. The tokenized base persists across its
    * two uses (gram generation + per-doc totals); released by the
    * caller's clearCache.
    */
  def repeatedSpanAudit(df: DataFrame, textCol: String, idCol: String,
                        srcCol: String, gramN: Int = 10,
                        minOccurrences: Long = 2L): DataFrame = {
    require(gramN >= 2, s"gramN must be >= 2; got $gramN")
    import org.apache.spark.sql.expressions.Window
    val P = 1000000007L
    val toks = filter(split(normalizeText(col(textCol)), " "),
                      t => t =!= "")
    val tokH = transform(toks,
      t => graft.pipeline.TextAnalysis.rollingFingerprint(t))
    val base = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), col(srcCol).as("source"),
              tokH.as("__th"))
      .withColumn("__n", size(col("__th")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val gramArr = when(col("__n") >= gramN,
        transform(sequence(lit(0), col("__n") - gramN),
          i => aggregate(slice(col("__th"), i + lit(1), lit(gramN)),
                         lit(0L),
                         (a, h) => (a * lit(131L) + h) % lit(P))))
      .otherwise(array().cast("array<bigint>"))
    val grams = base
      .select(col("__id"), posexplode(gramArr))
      .withColumnRenamed("pos", "__pos")
      .withColumnRenamed("col", "__gh")
    val hot = grams.groupBy("__gh").agg(count(lit(1)).as("__cnt"))
      .where(col("__cnt") >= minOccurrences)
      .select("__gh")
    val rep = grams.join(hot, Seq("__gh"))
    val w = Window.partitionBy("__id").orderBy("__pos")
    val prevEnd = max(col("__pos") + gramN)
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val isl = rep
      .withColumn("__new",
        when(prevEnd.isNull || col("__pos") >= prevEnd, 1L)
          .otherwise(0L))
      .withColumn("__isl", sum("__new").over(w))
    val perDoc = isl
      .groupBy("__id", "__isl")
      .agg(min("__pos").as("__s"),
           (max(col("__pos")) + gramN).as("__e"))
      .groupBy("__id")
      .agg(count(lit(1)).as("__spans"),
           sum(col("__e") - col("__s")).as("__removed"))
    base.select(col("__id"), col("source"), col("__n"))
      .join(perDoc, Seq("__id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("__n").as("n_tokens"),
           count(col("__spans")).as("n_docs_affected"),
           coalesce(sum("__spans"), lit(0L)).as("n_spans"),
           coalesce(sum("__removed"), lit(0L)).as("n_tokens_removed"))
  }

  /** Suffix-array-fidelity audit for [[repeatedSpanAudit]] (the Lee
    * et al. 2022 gap the word-gram approximation leaves open): the
    * paper's exact semantics removes every corpus-repeated substring
    * of length >= L CHARACTERS, built single-node via a suffix
    * array. The removal MASS of that rule has a distributed
    * closed form with no suffix array at all: a character position
    * is removal-marked iff some repeated substring of length >= L
    * covers it, and every repeated substring of length >= L is a
    * union of repeated length-L windows — so the exact removed set
    * is EXACTLY the merged union of length-L char-gram spans whose
    * gram repeats corpus-wide. This operator computes that exact
    * char-level mass (gram keys are the literal substrings — no
    * hashing, so no collision caveat) NEXT TO the word-`wordGramN`-
    * gram approximation's spans converted to char extents, plus
    * their per-document interval intersection, and reports per
    * source:
    * `n_docs, n_chars, n_spans_exact, n_chars_removed_exact,
    * n_spans_approx, n_chars_removed_approx, n_chars_overlap,
    * recall_ppm, precision_ppm` — recall = how much of the exact
    * suffix-array-grade removal mass the production word-gram pass
    * captures (truncated ppm, integer div on non-negative masses).
    *
    * Scale shape: two gram explodes over the normalized corpus (char
    * grams ~len rows/doc, word grams ~tokens rows/doc), each into a
    * corpus-wide repeated-key aggregate (map-side combined) and a
    * key semi-join back; islands merge per document under a window
    * bounded by the doc's repeated grams; the interval intersection
    * joins the two bounded per-doc island sets. The 50-char gram
    * keys shuffle as strings — an AUDIT pass by design (run it on a
    * bounded sample at corpus scale); the production removal path
    * stays the hashed [[repeatedSpanAudit]]. The per-token prefix-sum
    * HOF (token char starts) is O(tokens^2) per document — fine for
    * audit docs, same caveat as repeatedSpanAudit's HOF hashing. */
  def spanFidelityAudit(df: DataFrame, textCol: String, idCol: String,
                        srcCol: String, charGramLen: Int = 50,
                        wordGramN: Int = 10,
                        minOccurrences: Long = 2L): DataFrame = {
    require(charGramLen >= 2 && wordGramN >= 2)
    import org.apache.spark.sql.expressions.Window
    val L = charGramLen
    val N = wordGramN
    val base = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), col(srcCol).as("source"),
              normalizeText(col(textCol)).as("__t"))
      .withColumn("__len", length(col("__t")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    def mergedIslands(rows: DataFrame, spanEnd: Column): DataFrame = {
      // gaps-and-islands over (possibly variable-length) intervals:
      // a row starts a new island iff its start clears the running
      // max end of everything before it
      val w = Window.partitionBy("__id").orderBy("__s")
      val prevEnd = max(spanEnd)
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
      rows
        .withColumn("__new",
          when(prevEnd.isNull || col("__s") >= prevEnd, 1L)
            .otherwise(0L))
        .withColumn("__isl", sum("__new").over(w))
        .groupBy("__id", "__isl")
        .agg(min("__s").as("s"), max(spanEnd).as("e"))
        .select("__id", "s", "e")
    }

    // ---- exact: corpus-repeated length-L char grams ----
    val cgArr = when(col("__len") >= L,
        transform(sequence(lit(0L), col("__len") - L),
          p => col("__t").substr((p + lit(1L)).cast("int"), lit(L))))
      .otherwise(array().cast("array<string>"))
    val cg = base.select(col("__id"), posexplode(cgArr))
      .select(col("__id"), col("pos").cast("long").as("__s"),
              col("col").as("__k"))
    val hotC = cg.groupBy("__k").agg(count(lit(1)).as("__c"))
      .where(col("__c") >= minOccurrences).select("__k")
    val exIsl = mergedIslands(cg.join(hotC, Seq("__k")),
                              col("__s") + L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---- approx: the word-gram spans in char space ----
    // norm is single-spaced, so a word gram's char extent IS the
    // substring between its first token's start and its last
    // token's end, and two grams are token-equal iff those
    // substrings are equal — the production audit's semantics with
    // literal keys instead of hashes
    val toks = split(col("__t"), " ")
    val nt = size(toks).cast("long")
    val starts = transform(sequence(lit(0L), nt - 1),
      i => i + aggregate(slice(toks, lit(1), i), lit(0L),
                         (a, t) => a + length(t)))
    val wgArr = when(col("__len") > 0 && nt >= N,
        transform(sequence(lit(0L), nt - N), i => {
          val last = (i + N).cast("int") // 1-based idx of token i+N-1
          val s = element_at(col("__st"), (i + lit(1L)).cast("int"))
          val e = element_at(col("__st"), last) +
            length(element_at(col("__tk"), last))
          struct(s.as("s"), e.cast("long").as("e"))
        }))
      .otherwise(array().cast("array<struct<s:bigint,e:bigint>>"))
    val wg = base
      .withColumn("__tk", toks).withColumn("__st", starts)
      .select(col("__id"), col("__t"), explode(wgArr).as("__g"))
      .select(col("__id"), col("__g.s").as("__s"),
              col("__g.e").as("__e"),
              col("__t").substr((col("__g.s") + 1).cast("int"),
                                (col("__g.e") - col("__g.s"))
                                  .cast("int")).as("__k"))
    val hotW = wg.groupBy("__k").agg(count(lit(1)).as("__c"))
      .where(col("__c") >= minOccurrences).select("__k")
    val apIsl = mergedIslands(wg.join(hotW, Seq("__k"))
                                .select("__id", "__s", "__e"),
                              col("__e"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---- per-doc masses + interval intersection ----
    val exDoc = exIsl.groupBy("__id")
      .agg(count(lit(1)).as("__exs"),
           sum(col("e") - col("s")).as("__exm"))
    val apDoc = apIsl.groupBy("__id")
      .agg(count(lit(1)).as("__aps"),
           sum(col("e") - col("s")).as("__apm"))
    val ovDoc = exIsl.as("a")
      .join(apIsl.as("b"),
            col("a.__id") === col("b.__id") &&
            col("a.s") < col("b.e") && col("b.s") < col("a.e"))
      .groupBy(col("a.__id").as("__id"))
      .agg(sum(least(col("a.e"), col("b.e")) -
               greatest(col("a.s"), col("b.s"))).as("__ovm"))

    base.select("__id", "source", "__len")
      .join(exDoc, Seq("__id"), "left")
      .join(apDoc, Seq("__id"), "left")
      .join(ovDoc, Seq("__id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("__len").as("n_chars"),
           coalesce(sum("__exs"), lit(0L)).as("n_spans_exact"),
           coalesce(sum("__exm"), lit(0L)).as("n_chars_removed_exact"),
           coalesce(sum("__aps"), lit(0L)).as("n_spans_approx"),
           coalesce(sum("__apm"), lit(0L))
             .as("n_chars_removed_approx"),
           coalesce(sum("__ovm"), lit(0L)).as("n_chars_overlap"))
      .withColumn("recall_ppm",
        expr("CASE WHEN n_chars_removed_exact > 0 THEN " +
             "(n_chars_overlap * 1000000) div n_chars_removed_exact " +
             "ELSE 0 END"))
      .withColumn("precision_ppm",
        expr("CASE WHEN n_chars_removed_approx > 0 THEN " +
             "(n_chars_overlap * 1000000) div n_chars_removed_approx" +
             " ELSE 0 END"))
  }

  /** Edit-distance-1 string pairs by deletion-neighborhood blocking
    * (FastSS, Bocek et al. 2007): two strings are within one edit iff
    * they share a member of each other's {self} ∪ {one-char-deleted
    * variants} sets, so candidate generation is an equi-join on
    * variant strings — each string emits |s|+1 variants, NEVER an
    * all-pairs comparison. The block join can admit false positives
    * at equal length (ab/ba share both single-char deletions but need
    * two substitutions), so candidates verify with the exact
    * `levenshtein` expression; the verify cost is the candidate
    * count, which blocking keeps near-linear in vocabulary size.
    *
    * Shuffle discipline (the `contamination` lesson,
    * [[decontaminate]]): the block join keys on `xxhash64` of the
    * variant, NOT the variant string, and candidate pairs travel as
    * 8-byte string-id pairs — strings re-enter only in the final
    * verify join against the bounded distinct-string table. Each
    * string emits |s|+1 variants, so at 100× vocabulary a
    * string-keyed join would shuffle hundreds of GB of near-copies
    * of every name; the hashed join shuffles 16 bytes per variant.
    * Hash collisions only ever ADD candidates (false blocks), which
    * the exact levenshtein verify removes; a 64-bit string-id
    * collision (~1e-8 at 1M distinct strings) could at worst drop
    * the colliding pair, the standard xxhash64-keying trade the
    * dedup family already makes.
    *
    * Input: one string column. Output: (`a`, `b`) with `a < b` and
    * edit distance exactly 1. Duplicate input strings dedupe first.
    */
  def editDistance1Pairs(strings: DataFrame, strCol: String,
                         /** persist the distinct-string table (it
                           * feeds the two variant generators AND both
                           * verify join-backs; released by the
                           * caller's clearCache, the nearDupPairs
                           * discipline). r13 MEASURED the trade both
                           * ways at local[32]: removal is SLOWER for
                           * raw-column callers (q_fuzzy_pairs 1.57 ->
                           * 2.27 s, q_jaro_scores 1.59 -> 2.50 s) but
                           * FASTER when the input is itself an
                           * unpersisted aggregate whose exchange the
                           * readers can share ([[entityClusters]]
                           * passes false: 1.70 -> 1.34 s — a cached
                           * subtree here blocks that runtime exchange
                           * reuse). */
                         materialize: Boolean = true): DataFrame = {
    val s0 = strings.where(col(strCol).isNotNull)
      .select(col(strCol).as("__s")).distinct()
      .withColumn("__sid", xxhash64(col("__s")))
    val s = if (materialize)
      s0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else s0
    val variants = s.select(col("__sid"), col("__s"))
      .select(col("__sid"),
        explode(array_union(
          array(col("__s")),
          transform(sequence(lit(1), length(col("__s"))),
            i => concat(col("__s").substr(lit(1), i - 1),
                        col("__s").substr(i + 1,
                          length(col("__s")) - i))))).as("__v"))
      .select(col("__sid"), xxhash64(col("__v")).as("__vh"))
    val a = variants.select(col("__sid").as("__ida"), col("__vh"))
    val b = variants.select(col("__sid").as("__idb"), col("__vh"))
    val cand = a.join(b, Seq("__vh"))
      .where(col("__ida") < col("__idb"))
      .select("__ida", "__idb").distinct()
    val sa = s.select(col("__sid").as("__ida"), col("__s").as("__a0"))
    val sb = s.select(col("__sid").as("__idb"), col("__s").as("__b0"))
    cand.join(sa, Seq("__ida")).join(sb, Seq("__idb"))
      .where(levenshtein(col("__a0"), col("__b0")) === 1)
      .select(least(col("__a0"), col("__b0")).as("a"),
              greatest(col("__a0"), col("__b0")).as("b"))
  }

  /** Composed entity resolution: normalize → block → verify → cluster,
    * the end-to-end chain that collapses near-identical entities
    * (customer/vendor/product names) into canonical groups — the
    * master-data-management counterpart of the document dedup chain.
    *
    * Stages, each the scale-safe primitive already proven on its own:
    *  1. normalize: case-folded name, exact-duplicate names collapse to
    *     one node keyed by the MINIMUM owning entity id (a bounded
    *     groupBy — exact-entity dedup for free);
    *  2. block + verify: edit-distance-1 name pairs via FastSS deletion
    *     -neighborhood blocking ([[editDistance1Pairs]] — an equi-join
    *     on deletion variants, never all-pairs, exact `levenshtein`
    *     verify on the candidate sliver);
    *  3. cluster: transitive closure over the verified edges
    *     ([[connectedComponents]] — driver union-find under the edge
    *     budget, distributed min-label propagation beyond).
    *
    * The bounded name-node table feeds the variant generator and both
    * edge-endpoint joins; all three read the identical aggregate
    * subtree, which runtime exchange reuse dedupes to one entity scan
    * (so the table is NOT persisted — r13).
    *
    * Returns (id = name-node, comp = cluster label, both BIGINT);
    * only entities participating in at least one fuzzy match appear
    * (unmatched entities are their own implicit singleton clusters).
    */
  def entityClusters(df: DataFrame, idCol: String,
                     nameCol: String): DataFrame = {
    // NOT persisted (r13): the variant generator and both edge-endpoint
    // joins read the identical bounded groupBy(name) subtree — runtime
    // exchange reuse dedupes to one entity scan within the action (the
    // seasonalAnomalies finding; connectedComponents consumes the edge
    // list in one pass before its own lineage cuts take over)
    val names = df.where(col(nameCol).isNotNull)
      .groupBy(lower(col(nameCol)).as("name"))
      .agg(min(col(idCol).cast("long")).as("node"))
    val pairs = editDistance1Pairs(names, "name", materialize = false)
    val an = names.select(col("name").as("a"), col("node").as("na"))
    val bn = names.select(col("name").as("b"), col("node").as("nb"))
    val edges = pairs.join(an, Seq("a")).join(bn, Seq("b"))
      .select(col("na").as("id_a"), col("nb").as("id_b"))
    connectedComponents(edges)
  }

  /** Corpus n-gram novelty per group (source/snapshot/shard): how much
    * of each group's shingle mass appears NOWHERE else in the corpus.
    * Per document, the distinct word n-grams ([[wordShinglesOf]]); a
    * gram is novel when its document frequency is exactly 1 — then its
    * single owning document (and so its group) is well-defined. Output
    * per group: `n_docs`, `n_grams` (sum of per-doc distinct grams),
    * `n_novel` — all integers; novelty ratio is derivable, never
    * emitted (the float-in-oracle lesson of rounds 5-6).
    *
    * Scale shape: one explode + two hash aggregates; the gram-df
    * shuffle carries the gram STRINGS so the result replays exactly in
    * SQL — a production variant may group on `xxhash64(gram)` to
    * shuffle 8-byte keys instead, accepting a ~2^-64 collision in a
    * diagnostic. Df counting needs no count-distinct: per-doc arrays
    * are already distinct, so `count(*)` per gram IS document
    * frequency.
    */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   groupCol: String, n: Int): DataFrame = {
    val norm = docs.where(col(textCol).isNotNull)
      .withColumn("__norm", normalizeText(col(textCol)))
      .withColumn("__tok", split(col("__norm"), " "))
    val withGrams = norm.select(col(groupCol).as("__g"),
                                wordShinglesOf(col("__tok"), n)
                                  .as("__grams"))
    // totals never explode: per-doc gram count is the array size, so
    // this branch is a narrow scan + one map-side-partial aggregate
    val totals = withGrams.groupBy("__g")
      .agg(count(lit(1)).as("n_docs"),
           sum(size(col("__grams")).cast("long")).as("n_grams"))
    val pairs = withGrams.select(col("__g"),
                                 explode(col("__grams")).as("gram"))
    val byGram = pairs.groupBy("gram")
      .agg(count(lit(1)).as("__df"), min(col("__g")).as("__src"))
    val novel = byGram.where(col("__df") === 1)
      .groupBy(col("__src").as("__g"))
      .agg(count(lit(1)).as("n_novel"))
    totals.join(novel, Seq("__g"), "left")
      .select(col("__g").as(groupCol), col("n_docs"), col("n_grams"),
              coalesce(col("n_novel"), lit(0L)).as("n_novel"))
  }
}
