package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.pipeline._

/** Plan-shape regression tests: the properties that matter at 100 TB are
  * visible in the physical plan at any scale factor — column-pruned
  * scans, single shuffles for single-pass aggregates, whole-stage
  * codegen on transforms, and the absence of cartesian products. These
  * assertions pin them so a refactor cannot silently regress the plan.
  */
class PlanShapeSpec extends AnyFunSuite {

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def countOccurrences(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)

  test("WoE transform is one codegen'd projection over a pruned scan") {
    val spark = TestSpark.spark
    val li = spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
      .withColumn("y", when(col("l_returnflag") === "R", 1.0).otherwise(0.0))
    val fitted = OptimalBinning.fit(li, "l_extendedprice", "y",
                                    BinningConfig(name = "x"))
    val out = li.select(fitted.transform(col("l_extendedprice")).as("woe"))
    val plan = physical(out)
    // no shuffle, no join: transform is a generated CASE projection
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
    // "*(1)" prefix marks a WholeStageCodegen stage in toString output
    assert(plan.contains("*(1)"), plan)
    // scan reads only the needed column
    assert(plan.contains("ReadSchema"), plan)
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_extendedprice"), readSchema)
    assert(!readSchema.contains("l_orderkey"), readSchema)
  }

  test("melted multi-variable fit aggregate has exactly one shuffle") {
    val spark = TestSpark.spark
    val li = spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
    val vars = Seq("l_extendedprice", "l_quantity", "l_discount")
    val stackExpr = s"stack(${vars.length}, " +
      vars.map(v => s"'$v', cast(`$v` as double)").mkString(", ") +
      ") as (var, x)"
    val melted = li
      .withColumn("__y", when(col("l_returnflag") === "R", 1.0).otherwise(0.0))
      .selectExpr("__y as y", stackExpr)
    val agg = melted.groupBy("var", "x")
      .agg(count(lit(1)).as("n"),
           sum(when(col("y") === 0.0, 1.0).otherwise(0.0)).as("w0"))
    val plan = physical(agg)
    assert(countOccurrences(plan, "Exchange") == 1, plan)
    // partial aggregation before the exchange (map-side combine)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("30-variable chunked melt still feeds exactly ONE shuffle") {
    // the operator's own melt (BinningProcess.chunkedMelt) at the
    // reference's breast-cancer width: 30 vars = two 16-var stack
    // chunks UNIONed — union is not a shuffle boundary, so the
    // downstream histogram aggregate must keep a single Exchange
    // regardless of variable count, with map-side partial
    // aggregation on every chunk branch.
    val spark = TestSpark.spark
    val li = spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
    val vars = (0 until 30).map(i => s"v$i")
    val df = vars.zipWithIndex.foldLeft(li) { case (d, (v, i)) =>
      d.withColumn(v, col("l_extendedprice") * (1.0 + 0.03 * i))
    }
    val melted = graft.operators.BinningProcess.chunkedMelt(
      df, vars,
      when(col("l_returnflag") === "R", 1.0).otherwise(0.0),
      lit(1.0),
      v => col(v).cast("double"),
      _ => lit(0))
    val agg = melted.groupBy("var", "x")
      .agg(count(lit(1)).as("n"),
           sum(when(col("y") === 0.0, col("w"))).as("w0"))
    val plan = physical(agg)
    assert(countOccurrences(plan, "Exchange") == 1, plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("minhash LSH candidates: one scan, one reused corpus shuffle, " +
       "no join") {
    val spark = TestSpark.spark
    val d = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val cands = Dedup.minhashCandidates(d, "text", "doc_id",
                                        numHashes = 16, bands = 4)
    cands.collect() // AQE stage reuse is decided at runtime
    val finalPlan = physical(cands).split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct"), finalPlan)
    assert(!finalPlan.contains("SortMergeJoin"), finalPlan)
    assert(!finalPlan.contains("BroadcastHashJoin"), finalPlan)
    // the small-bucket and star branches must share ONE (band, bh)
    // shuffle of the signature-annotated corpus: a single parquet scan
    // plus a ReusedExchange. Per-branch column pruning diverging the
    // two subtrees would silently double the scan + signature work.
    assert(countOccurrences(finalPlan, "Scan parquet") == 1, finalPlan)
    assert(finalPlan.contains("ReusedExchange"), finalPlan)
  }

  test("ANN probe joins broadcast the query side") {
    val spark = TestSpark.spark
    val e = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding"))
    val res = Similarity.annTopK(e, q, "embedding", "vec_id", "qid",
                                 k = 3, nPlanes = 6)
    val plan = physical(res)
    assert(plan.contains("BroadcastHashJoin") ||
             plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("PQ ADC scan: corpus side never shuffles before scoring; query " +
       "tables broadcast") {
    val spark = TestSpark.spark
    val e = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding"))
    val res = Similarity.pqTopKPortable(e, q, "embedding", "vec_id",
                                        "qid", k = 3, dim = 64)
    val plan = physical(res)
    // the scoring join is a broadcast of the (tiny) per-query dot
    // tables against the encoded corpus — no corpus-side shuffle join
    assert(plan.contains("BroadcastNestedLoopJoin") ||
             plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the only Exchange is the top-k window's hash partitioning on qid
    // (rank over per-query candidates), never on the corpus relation
    val exchanges = plan.linesIterator
      .filter(_.trim.startsWith("Exchange")).toSeq
    assert(exchanges.forall(_.contains("qid")), plan)
  }

  test("filter + projection push down to the parquet scan") {
    val spark = TestSpark.spark
    val li = spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
    val q = li.where(col("l_quantity") > 30)
      .select(col("l_orderkey"), col("l_quantity"))
    val plan = physical(q)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), " +
                         "GreaterThan(l_quantity,"), plan)
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_extendedprice"), readSchema)
  }

  test("partitionBy layout prunes partitions at the source") {
    val spark = TestSpark.spark
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft_part_prune").toString
    val o = spark.read.parquet(s"${TestSpark.sf0001}/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority"))
    o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(tmp)
    val q = spark.read.parquet(tmp)
      .where(col("o_orderpriority") === "1-URGENT")
      .agg(count(lit(1)))
    val plan = physical(q)
    // the partition predicate must land in PartitionFilters (directory
    // pruning), NOT as a row-level data filter after a full scan
    assert(plan.contains("PartitionFilters") &&
           plan.matches("(?s).*PartitionFilters: \\[[^\\]]*" +
                        "o_orderpriority[^\\]]*\\].*"), plan)
    graft.SparkEntry.deleteRecursively(tmp)
  }

  test("bucketed tables co-locate the join: no shuffle on either side") {
    val spark = TestSpark.spark
    import java.nio.file.Files
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
        .select("l_orderkey", "l_extendedprice")
      val o = spark.read.parquet(s"${TestSpark.sf0001}/orders.parquet")
        .select("o_orderkey", "o_totalprice")
      graft.sources.Bucketing.writeBucketed(li, "li_b", "l_orderkey", 8)
      graft.sources.Bucketing.writeBucketed(o, "o_b", "o_orderkey", 8)
      val joined = graft.sources.Bucketing.readBucketed(spark, "li_b")
        .join(graft.sources.Bucketing.readBucketed(spark, "o_b"),
              col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(sum("l_extendedprice").as("rev"))
      val plan = physical(joined)
      // bucketing pre-partitions both sides on the join key: the join
      // itself needs NO Exchange (only the final aggregation may)
      val joinSection = plan.split("HashAggregate").last
      assert(!joinSection.contains("Exchange"), plan)
      assert(joined.count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("scorecard scoring is join-free codegen over the bin CASE columns") {
    val spark = TestSpark.spark
    val li = spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
      .withColumn("y", when(col("l_returnflag") === "R", 1.0).otherwise(0.0))
    val sc = Scorecard.fit(li, Seq("l_extendedprice", "l_quantity"), "y")
    val scored = li.select(sc.scoreColumn().as("score"))
    val plan = physical(scored)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("*(1)"), plan)
  }

  test("ngram-jaccard join evaluates on materialized shingles, not " +
       "per-pair recomputation") {
    val spark = TestSpark.spark
    val plan = physical(
      graft.SparkEntry.queries("q_ngram_jaccard")(spark, TestSpark.sf0001))
    // the repartition barrier materializes shingle arrays below the join;
    // the join condition and post-join projection must then reference
    // shingle COLUMNS only. Without the barrier CollapseProject inlines
    // the shingle-building expression (concat_ws over token slices) into
    // the per-pair join condition — O(pairs) recomputation.
    val joinLines = plan.linesIterator.filter(_.contains("Join")).toSeq
    val jaccardLines = plan.linesIterator
      .filter(_.contains("AS jaccard")).toSeq
    assert(joinLines.nonEmpty, plan)
    assert(joinLines.forall(!_.contains("concat_ws")), joinLines)
    assert(jaccardLines.forall(!_.contains("concat_ws")), jaccardLines)
    // shingles are built exactly once per side (2 concat_ws occurrences
    // inside each side's single shingle projection), below the exchanges
    assert(countOccurrences(plan, "concat_ws") <= 4, plan)
  }

  test("native vector kernels appear in the plan (no HOF lambda chains)") {
    val spark = TestSpark.spark
    val e = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val pairs = Similarity.cosineNearDupPairs(e, "embedding", "vec_id",
                                              threshold = 0.9, nPlanes = 8)
    val plan = physical(pairs)
    assert(plan.contains("graft_lsh_sig"), plan)
    assert(plan.contains("graft_cosine"), plan)
    // the interpreted HOF kernels must NOT be in this hot path
    assert(!plan.contains("zip_with"), plan)
    assert(!plan.contains("aggregate("), plan)
  }

  test("driver contract: every oracle names a query; q_repetition codegen") {
    // an oracleSql entry whose key has no matching queries entry would
    // silently never be checked by the driver
    val orphans = graft.SparkEntry.oracleSql.keySet --
      graft.SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"orphan oracles: $orphans")
    // repetition signals use the native kernel, not the HOF chain whose
    // inlined split re-evaluates per lambda element in aggregate shapes
    val spark = TestSpark.spark
    val plan = physical(
      graft.SparkEntry.queries("q_repetition")(spark, TestSpark.sf0001))
    assert(plan.contains("graft_repetition_stats"), plan)
    assert(!plan.contains("array_sort"), plan)
  }

  test("IVF corpus assignment is one narrow projection (no ml job chain)") {
    val spark = TestSpark.spark
    val e = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding"))
    val dim = e.select(size(col("embedding"))).head.getInt(0)
    val res = Similarity.ivfTopKPortable(e, q, "embedding", "vec_id", "qid",
                                         k = 3, dim = dim, nLists = 4,
                                         nProbe = 2)
    val plan = physical(res)
    // probe join broadcasts the exploded query side; corpus not shuffled
    // before the join (only the window ranking shuffles candidates)
    assert(plan.contains("BroadcastHashJoin") ||
           plan.contains("BroadcastExchange"), plan)
    val shuffles = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(shuffles.length == 1 && shuffles.head.contains("qid"), plan)
  }

  test("BM25: broadcast-only joins, top-k bound, no token-dump shuffle") {
    val spark = TestSpark.spark
    val d = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val res = Search.bm25TopK(d, "text", "doc_id",
                              Seq("spark", "window", "merge"), k = 10)
    val plan = physical(res)
    // df-count and corpus-stats sides broadcast; nothing sort-merges,
    // nothing goes cartesian
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
    // top-k is a TakeOrdered bound, not a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the query-term IN filter runs below the postings aggregate, so
    // non-matching tokens never reach a shuffle: the generator stage
    // itself carries the filter
    assert(plan.contains("Generate explode"), plan)
  }

  test("tf-idf terms: corpus vocab is semi-joined down before broadcast") {
    val spark = TestSpark.spark
    val d = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val res = Search.tfidfTopTerms(d, d.where(col("doc_id") < 10),
                                   "text", "doc_id", k = 3)
    val plan = physical(res)
    // the (token, df) side is reduced by a broadcast LEFT SEMI against
    // the targets' token set before it broadcasts into scoring — the
    // full corpus vocabulary never ships to the driver or executors
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("crossCorpusNearDup candidate generation is a bucketed " +
       "equi-join, never a cartesian product") {
    val spark = TestSpark.spark
    val d = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val res = Dedup.crossCorpusNearDup(
      d.where(col("doc_id") % 3 === 0),
      d.where(col("doc_id") % 3 =!= 0),
      "text", "doc_id", jaccardThreshold = 0.5,
      numHashes = 32, bands = 8, materialize = false)
    val plan = physical(res)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("kmeansOutliers approx path flags via broadcast thresholds — " +
       "no window over the corpus") {
    val spark = TestSpark.spark
    val e = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val res = Similarity.kmeansOutliers(e, "embedding", "vec_id",
      dim = 16, k = 4, iters = 0, frac = 0.1, approx = true)
    val plan = physical(res)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("graft_nearest_cell_d2_q"), plan)
  }

  test("k-means final assignment is a native no-shuffle projection") {
    val spark = TestSpark.spark
    val e = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val res = Similarity.kmeansPortable(e, "embedding", dim = 16, k = 4,
                                        iters = 0)
    val plan = physical(res)
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("graft_nearest_cells"), plan)
  }

  test("sequence packing: window and roll-up share ONE shard shuffle") {
    val spark = TestSpark.spark
    val d = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val res = Packing.sequenceStats(
      d, "doc_id", TextAnalysis.tokenCount(col("text")),
      seqLen = 512, nShards = 4)
    val plan = physical(res)
    // the groupBy(shard, seq_id) clustering is satisfied by the window's
    // hash-partitioning on shard — no second exchange
    assert(countOccurrences(plan, "Exchange") == 1, plan)
    assert(plan.contains("Window"), plan)
  }

  test("token chunking is generator-only: no shuffle, no window") {
    val spark = TestSpark.spark
    val d = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val res = Packing.tokenChunks(
      d, "doc_id", TextAnalysis.tokenCount(col("text")),
      chunkSize = 256, stride = 128)
    val plan = physical(res)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("Generate explode"), plan)
  }

  test("bigramTopK tokenizes the corpus ONCE (single Generate) and " +
       "tops out in a TakeOrdered, not a global sort") {
    val spark = TestSpark.spark
    val d = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val plan = physical(TextAnalysis.bigramTopK(d, "text", 20))
    // one tokenize+explode subtree: a join-back for first-word totals
    // would re-derive the whole scan+generate (2 occurrences)
    assert(countOccurrences(plan, "Generate explode") == 1, plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("tokenBudgetSample: counts broadcast back, ONE data shuffle " +
       "feeds the window over the sliver") {
    val spark = TestSpark.spark
    val d = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val res = Curation.tokenBudgetSample(d, col("source"), col("doc_id"),
      TextAnalysis.tokenCount(col("text")), budget = 800L)
    val plan = physical(res)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // exactly two hash shuffles — the counts aggregate and the one
    // data shuffle feeding the window; a third would mean the sliver
    // re-shuffles between pre-filter and rank
    assert(countOccurrences(plan, "Exchange hashpartitioning") == 2,
           plan)
    assert(countOccurrences(plan, "BroadcastExchange") == 1, plan)
  }

  test("funnelCounts is ONE linear chain: the k-step fold appears " +
       "once, not once per report row") {
    val spark = TestSpark.spark
    val e = spark.read.parquet(s"${TestSpark.sf0001}/events.parquet")
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
              col("event_type"))
    val plan = physical(graft.operators.Funnel.funnelCounts(
      e, "user_id", "ts", "event_type",
      Seq("signup", "view", "click", "purchase")))
    // 4 steps = exactly 4 event scans; the old union-of-filters shape
    // re-derived the chain per step (10 scans for 4 steps)
    assert(countOccurrences(plan, "Scan parquet") == 4, plan)
    assert(plan.contains("Generate stack"), plan)
  }

  test("groupedLowerMedian shuffles the (group, value) histogram, " +
       "never sorts raw rows globally") {
    val spark = TestSpark.spark
    val li = spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
    val plan = physical(Histograms.groupedLowerMedian(
      li, "l_returnflag", "l_extendedprice"))
    // histogram aggregate below the window: partial + final
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("Window"), plan)
    // a global sort of raw rows would show as a rangepartitioning
    // exchange; the histogram path never range-partitions
    assert(!plan.contains("rangepartitioning"), plan)
  }

  test("phraseSearch: term filter sits inside the generate stage — " +
       "non-matching tokens never reach an exchange") {
    val spark = TestSpark.spark
    val d = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val plan = physical(
      Search.phraseSearch(d, "text", "doc_id", Seq("the", "query")))
    assert(plan.contains("Generate"), plan)
    // the posexplode output is filtered before any exchange: in the
    // toString rendering the first Exchange must appear ABOVE (earlier
    // lines = later operators) the Generate, and a Filter on token
    // must sit between them
    val lines = plan.linesIterator.toVector
    val genIdx = lines.indexWhere(_.contains("Generate"))
    val filtIdx = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("token"))
    assert(filtIdx >= 0 && filtIdx < genIdx,
           s"token filter not fused below the generator\n$plan")
    // no global sort anywhere (ranking is an aggregate, not a sort)
    assert(!plan.contains("rangepartitioning"), plan)
    // r13: the postings persist was dropped (measured slower than the
    // m bounded re-scans) — each term's filter now pushes BELOW its
    // branch's repartition(id) exchange, so every branch shuffles only
    // its own term's postings sliver; no cached relation remains
    assert(countOccurrences(plan, "InMemoryTableScan") === 0, plan)
    assert(plan.contains("REPARTITION_BY_COL"), plan)
    spark.catalog.clearCache()
  }

  test("hardNegatives: query side broadcasts; NO window rank — the " +
       "per-query top-k is the O(k)-state TopKAgg aggregate") {
    val spark = TestSpark.spark
    val e = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val plan = physical(Similarity.hardNegatives(
      e, e.where(col("vec_id") < 5), "embedding", "vec_id", "label",
      "vec_id", "embedding", "label", k = 5))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
           plan.contains("BroadcastExchange"), plan)
    // no window, no sort: candidates fold into topk_longs partial
    // aggregates map-side; the shuffle carries <= k rows per query per
    // map task (the knnLabelEval shape, commit 3fee65b)
    assert(!plan.contains("Window ["), plan)
    assert(!plan.contains("rangepartitioning"), plan)
    assert(plan.contains("topk_longs"), plan)
    // TypedImperativeAggregate lowers to ObjectHashAggregate
    assert(plan.contains("ObjectHashAggregate"), plan)
    // the corpus is scanned once: a self-join would scan embeddings
    // twice with the SAME pruned schema
    assert(countOccurrences(plan, "Scan parquet") === 2, plan) // corpus + query side
  }

  test("knnRecallReport: BOTH candidate paths fold through topk_longs " +
       "aggregates — no window, no sort; query side broadcasts twice") {
    val spark = TestSpark.spark
    val e = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val plan = physical(Similarity.knnRecallReport(
      e, e.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding")),
      "embedding", "vec_id", "qid", "embedding",
      k = 5, dim = 64, nLists = 16, nProbe = 4))
    // truth pass + IVF pass: two O(k)-state aggregates, zero windows
    assert(countOccurrences(plan, "topk_longs") >= 2, plan)
    assert(!plan.contains("Window ["), plan)
    assert(!plan.contains("rangepartitioning"), plan)
    // bounded query batch broadcasts into both corpus passes
    assert(countOccurrences(plan, "BroadcastExchange") >= 2, plan)
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("winsorizedStats: windows only over grid cells, never a raw " +
       "per-group row sort; thresholds broadcast back") {
    val spark = TestSpark.spark
    val e = spark.read.parquet(s"${TestSpark.sf0001}/events.parquet")
      .where(col("value").isNotNull)
      .select(col("event_type"),
              floor(col("value") * 100).cast("long").as("cents"))
    val plan = physical(Histograms.winsorizedStats(
      e, "event_type", "cents", 1, 10, 9, 10))
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("rangepartitioning"), plan)
    // every window input is histogram/grid-sized: windows exist, but
    // below each sits a HashAggregate (the histogram), never raw rows
    assert(plan.contains("Window"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("entityClusters edge generation is equi-join only — no " +
       "cartesian/nested-loop over the vocabulary") {
    val spark = TestSpark.spark
    import spark.implicits._
    val ents = (0 until 50).map(i => (i.toLong, s"name$i"))
      .toDF("id", "name")
    val plan = physical(Dedup.entityClusters(ents, "id", "name"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    spark.catalog.clearCache()
  }

  test("spanFidelityAudit: island windows sit above the repeated-key " +
       "joins; the interval intersection is an equi-join on the doc " +
       "id — no cartesian anywhere") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = (0 until 40)
      .map(i => (i.toLong, s"s${i % 3}", s"tok$i " * 15))
      .toDF("doc_id", "source", "text")
    val plan = physical(graft.pipeline.Dedup
      .spanFidelityAudit(d, "text", "doc_id", "source",
                         charGramLen = 20, wordGramN = 5))
    assert(plan.contains("Window"), plan.take(2000))
    // both hot-key filters join on __k; the ex/ap interval overlap
    // join keys on __id with the range predicate as a filter
    assert(plan.contains("__k"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    spark.catalog.clearCache()
  }

  test("repeatedSpanAudit: per-doc windows sit above the hash semi-" +
       "join on gram hashes — never directly over the corpus explode") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = (0 until 40)
      .map(i => (i.toLong, s"s${i % 3}", s"tok$i " * 15))
      .toDF("doc_id", "source", "text")
    val plan = physical(graft.pipeline.Dedup
      .repeatedSpanAudit(d, "text", "doc_id", "source", gramN = 5))
    assert(plan.contains("Window"), plan.take(2000))
    // the repeated-gram filter is a join on the 8-byte __gh key; the
    // window's input therefore passed through that join (sliver), and
    // no plan branch windows the raw exploded grams
    assert(plan.contains("__gh"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    spark.catalog.clearCache()
  }

  test("vocabCoverage: the k-row vocabulary head broadcasts back onto " +
       "the per-source table; the head is a TakeOrdered, not a sort") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = (0 until 40)
      .map(i => (s"s${i % 4}", s"the quick tok$i fox"))
      .toDF("source", "text")
    val plan = physical(graft.pipeline.TextAnalysis
      .vocabCoverage(d, "text", "source", k = 5))
    assert(plan.contains("BroadcastExchange"), plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    spark.catalog.clearCache()
  }

  test("editDistance1Pairs: the FastSS candidate join keys on " +
       "xxhash64 longs — variant STRINGS never enter a join key") {
    val spark = TestSpark.spark
    import spark.implicits._
    val words = (0 until 40).map(i => s"word$i").toDF("w")
    val plan = physical(Dedup.editDistance1Pairs(words, "w"))
    // the variant-block join is keyed on __vh = xxhash64(variant):
    // every join key in the plan is the hash column or a string-id
    // long, so the candidate shuffle carries 16 bytes per variant
    assert(plan.contains("xxhash64"), plan)
    val joinKeyLines = plan.linesIterator
      .filter(l => l.contains("HashJoin") || l.contains("SortMergeJoin"))
      .toSeq
    assert(joinKeyLines.nonEmpty, plan)
    // join keys reference only long-typed hash/id columns (__vh/__ida/
    // __idb) — a join keyed on the raw variant (__v, string) would
    // reintroduce the r7 string-shuffle finding
    assert(joinKeyLines.forall(l => !l.contains("[__v#")),
           joinKeyLines.mkString("\n"))
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("itemNeighbors: per-item top-k is the O(k) topk_longs " +
       "aggregate — no window rank over the pair fan-out, no " +
       "cartesian; one basket pass feeds pairs AND supports") {
    val spark = TestSpark.spark
    val li = spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
    val plan = physical(MarketBasket.itemNeighbors(
      li, "l_orderkey", "l_partkey", k = 3))
    assert(plan.contains("topk_longs"), plan)
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("Window ["), plan)
    assert(!plan.contains("rangepartitioning"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the basket aggregate and the canonical pair aggregate are the
    // cached frames both downstream passes read
    assert(plan.contains("InMemoryTableScan"), plan)
    spark.catalog.clearCache()
  }

  test("lpaCommunities: the per-round argmax folds into the round " +
       "aggregate — no window, no sort, no cartesian") {
    val spark = TestSpark.spark
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val plan = physical(Graph.lpaCommunities(edges, "a", "b", 2))
    assert(!plan.contains("Window ["), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // labels are lineage-cut per round (r13: localCheckpoint, not
    // persist); the final community rollup reads the checkpointed
    // last-round labels as an RDD scan
    assert(plan.contains("ExistingRDD"), plan)
    spark.catalog.clearCache()
  }

  test("gainsTable/thresholdSweep: ONE pruned full-data scan and one " +
       "hash aggregate; every window sits above the bounded band " +
       "table") {
    val spark = TestSpark.spark
    val li = spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
      .withColumn("y",
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0))
    val bin = when(col("l_extendedprice") < 50000, 0L).otherwise(1L)
    Seq(ScorecardAnalytics.gainsTable(li, bin, "y"),
        ScorecardAnalytics.thresholdSweep(li, bin, "y", 5L, 1L))
      .foreach { df =>
        val plan = physical(df)
        assert(countOccurrences(plan, "Scan parquet") === 1, plan)
        val readSchema = plan.linesIterator
          .find(_.contains("ReadSchema")).getOrElse("")
        // only the band source and the target reach the scan
        assert(readSchema.contains("l_extendedprice") &&
               readSchema.contains("l_returnflag") &&
               !readSchema.contains("l_quantity"), readSchema)
        assert(!plan.contains("CartesianProduct"), plan)
      }
  }

  test("ExactFit moment aggregates (piecewise and OLS): partial " +
       "aggregation, ONE exchange, pruned scan") {
    val spark = TestSpark.spark
    val li = spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
    val pwSpec = graft.core.ExactFit.PWSpec(
      Array(23.5, 47.5), 10L, 100L, 512.0, None)
    val aggs = graft.core.ExactFit.momentAggs(
      pwSpec, col("l_quantity"), col("l_extendedprice"))
    val mdf = li
      .where(col("l_quantity").isNotNull &&
             col("l_extendedprice").isNotNull)
      .agg(aggs.head, aggs.tail: _*)
    val plan = physical(mdf)
    assert(plan.contains("HashAggregate"), plan)
    assert(countOccurrences(plan, "Exchange") == 1, plan)
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_quantity") &&
           readSchema.contains("l_extendedprice") &&
           !readSchema.contains("l_orderkey"), readSchema)

    val olsSpec = graft.core.ExactFit.OLSSpec(
      Seq(10L, 100L), 100L, Seq(512.0, 8.0))
    val oAggs = graft.core.ExactFit.olsMomentAggs(
      olsSpec, Seq(col("l_quantity"), col("l_discount")),
      col("l_extendedprice"))
    val oPlan = physical(li.agg(oAggs.head, oAggs.tail: _*))
    assert(oPlan.contains("HashAggregate"), oPlan)
    assert(countOccurrences(oPlan, "Exchange") == 1, oPlan)
  }

  test("journeyTransitions: the journey windows shuffle ONCE on the " +
       "journey key; the output aggregate is the only other exchange") {
    val spark = TestSpark.spark
    val ev = spark.read.parquet(s"${TestSpark.sf0001}/events.parquet")
    val key = concat(col("user_id").cast("string"), lit("_"),
                     to_date(col("ts")).cast("string"))
    val tr = graft.operators.MarkovAttribution.journeyTransitions(
      ev, key, "event_type", "ts", "event_id", "purchase")
    val plan = physical(tr)
    // both window passes (cut + lag/lead) cluster on the materialized
    // journey key: ONE exchange feeds them (no union, no re-derive),
    // and the only other shuffle is the final (from, to) aggregate
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Union"), plan)
    val exchanges = countOccurrences(plan, "Exchange hashpartitioning")
    assert(exchanges == 2, s"$exchanges exchanges:\n$plan")
    // no exchange between the two window operators (same clustering)
    val body = plan.substring(plan.indexOf("Window"))
    assert(!body.substring(0, math.max(0, body.lastIndexOf("Window")))
             .contains("Exchange"),
           "re-shuffle between journey windows:\n" + plan)
  }

  test("bootstrap CI: broadcast replica spine, map-side-combined " +
       "aggregate, pruned pushed-filter scan") {
    val spark = TestSpark.spark
    // the distributed stage (the query itself driver-stages the
    // 32-row result, so its returned plan is a LocalRelation)
    val df = SparkEntry.bootstrapStats(spark, TestSpark.sf0001, 32)
    val plan = physical(df)
    // the 32-row replica spine must BROADCAST (a shuffle join or a
    // cartesian would be the 100 TB scale-killer here)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin") &&
           !plan.contains("CartesianProduct"), plan)
    // partial_sum before the single 32-group exchange
    assert(plan.contains("partial_sum"), plan)
    // the md5 weight chain is a Project below the aggregate — inside
    // the aggregate functions it re-evaluates per CASE branch per
    // aggregate (measured 27 s -> 0.6 s at sf0.1)
    val aggLines = plan.linesIterator
      .filter(_.contains("HashAggregate")).toSeq
    assert(aggLines.nonEmpty && aggLines.forall(!_.contains("md5")),
           "md5 leaked into the aggregate functions:\n" + plan)
    // scan reads only the 3 needed columns with the filter pushed
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") &&
           readSchema.contains("l_linenumber") &&
           readSchema.contains("l_extendedprice") &&
           !readSchema.contains("l_quantity"), readSchema)
    assert(plan.contains("PushedFilters: [IsNotNull(l_extendedprice)]"),
           plan)
  }
}
