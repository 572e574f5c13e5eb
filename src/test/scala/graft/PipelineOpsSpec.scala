package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline._

/** Specs for the round-6 pipeline additions: semantic dedup, token
  * chunking, incremental (snapshot) dedup, and the unigram-LM quality
  * score. */
class PipelineOpsSpec extends AnyFunSuite {

  test("semanticDedup drops the higher id of a near-identical pair " +
       "and keeps dissimilar vectors") {
    val spark = TestSpark.spark
    import spark.implicits._
    val e = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.999f, 0.01f, 0.0f, 0.0f)), // ~dup of 1
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)),    // orthogonal
      (4L, Array(0.998f, 0.02f, 0.0f, 0.0f))  // ~dup of 1 and 2
    ).toDF("vec_id", "embedding")
    // nLists = 1 puts everything in one cell: pure threshold semantics
    val flags = Similarity.semanticDedupPortable(e, "embedding", "vec_id",
        dim = 4, threshold = 0.95, nLists = 1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(flags == Map(1L -> false, 2L -> true, 3L -> false, 4L -> true))
  }

  test("semanticDedupPortable matches a brute-force in-cell replay") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dim = 8
    val e = (0L until 40L).map { i =>
      (i, Array.tabulate(dim)(j =>
        (math.sin(i * 31 + j * 7) * 10).toFloat))
    }.toDF("vec_id", "embedding")
    val flags = Similarity.semanticDedupPortable(e, "embedding", "vec_id",
        dim = dim, threshold = 0.8, nLists = 4)
    // replay: for each (cell, id) pair marked dup there must exist a
    // lower-id cell-mate above threshold, and vice versa
    val rows = flags.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    val byCell = rows.groupBy(_._2)
    val emb = e.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) *
           math.sqrt(b.map(x => x * x).sum))
    }
    for ((_, members) <- byCell; (id, _, isDup) <- members) {
      val expect = members.exists { case (o, _, _) =>
        o < id && cos(emb(o), emb(id)) >= 0.8 }
      assert(isDup == expect, s"id $id")
    }
  }

  test("tokenChunks yields strided windows with a short tail and " +
       "skips empty/null docs") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), // 10 tokens
      (2L, "a b c"),                          // 3 tokens: one partial
      (3L, ""),                               // no chunks
      (4L, null.asInstanceOf[String])         // no chunks
    ).toDF("doc_id", "text")
    val got = Packing.tokenChunks(d, "doc_id",
        TextAnalysis.tokenCount(col("text")), chunkSize = 4, stride = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getBoolean(4)))
      .sortBy(t => (t._1, t._2))
    // chunking stops at the first window reaching the end: a start-9
    // window (tokens 9..9) would be a strict suffix of the start-6
    // chunk (tokens 6..9) and is not emitted
    assert(got.toSeq == Seq(
      (1L, 0L, 0L, 4L, true), (1L, 1L, 3L, 4L, true),
      (1L, 2L, 6L, 4L, true),
      (2L, 0L, 0L, 3L, false)))
    // ntok just past a full window still gets its covering tail chunk
    val tail = Packing.tokenChunks(
        Seq((9L, "a b c d e")).toDF("doc_id", "text"), "doc_id",
        TextAnalysis.tokenCount(col("text")), chunkSize = 4, stride = 3)
      .collect().map(r => (r.getLong(2), r.getLong(3))).sorted.toSeq
    assert(tail == Seq((0L, 4L), (3L, 2L)), tail.toString)
    // stride > chunkSize (disjoint sampling): no zero/negative-token
    // chunk may appear past the document end
    val sparse = Packing.tokenChunks(
        Seq((9L, "a b c d")).toDF("doc_id", "text"), "doc_id",
        TextAnalysis.tokenCount(col("text")), chunkSize = 2, stride = 5)
      .collect().map(r => (r.getLong(2), r.getLong(3))).sorted.toSeq
    assert(sparse == Seq((0L, 2L)), sparse.toString)
  }

  test("incrementalDedup anti-joins the snapshot then dedups the batch") {
    val spark = TestSpark.spark
    import spark.implicits._
    val snapshot = Seq(
      (100L, "seen before"), (101L, "also seen")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "seen  before"),   // dup of snapshot after normalization
      (2L, "brand new"),
      (3L, "brand new"),      // batch-internal dup of 2
      (4L, null.asInstanceOf[String]), // null text always passes
      (5L, "ALSO SEEN")       // case-normalized dup of snapshot
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(batch, snapshot, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(2L, 4L))
    // portable variant agrees
    val gotP = Dedup.incrementalDedup(batch, snapshot, "text", "doc_id",
                                      portable = true)
      .select("doc_id").as[Long].collect().sorted
    assert(gotP.toSeq == Seq(2L, 4L))
  }

  test("asofJoin picks the latest event at-or-before each probe " +
       "(inclusive), left semantics for unmatched and null-ts probes") {
    val spark = TestSpark.spark
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long): Timestamp = new Timestamp(s * 1000L)
    val events = Seq((1L, t(10), 100.0), (1L, t(20), 200.0),
                     (2L, t(15), 50.0))
      .toDF("k", "ts", "v")
    val probes = Seq((1L, t(10)), (1L, t(15)), (1L, t(5)), (1L, t(25)),
                     (2L, t(99)), (3L, t(1)),
                     (1L, null.asInstanceOf[Timestamp]))
      .toDF("k", "ts")
    val out = graft.operators.AsofJoin
      .asofJoin(probes, events, "k", "ts", Seq("v"))
      .collect()
      .map(r => (r.getLong(0),
                 Option(r.getTimestamp(1)).map(_.getTime / 1000L),
                 if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toSet
    assert(out == Set(
      (1L, Some(10L), Some(100.0)),   // inclusive <=
      (1L, Some(15L), Some(100.0)),
      (1L, Some(5L), None),           // nothing precedes
      (1L, Some(25L), Some(200.0)),
      (2L, Some(99L), Some(50.0)),
      (3L, Some(1L), None),           // key absent from events
      (1L, None, None)                // null-ts probe unmatched
    ), out.toString)
  }

  test("asofJoin carries the matched event ATOMICALLY: a null payload " +
       "in the matched row stays null, never an older row's value") {
    val spark = TestSpark.spark
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long): Timestamp = new Timestamp(s * 1000L)
    val events = Seq((1L, t(10), java.lang.Double.valueOf(100.0)),
                     (1L, t(20), null.asInstanceOf[java.lang.Double]))
      .toDF("k", "ts", "v")
    val probes = Seq((1L, t(25))).toDF("k", "ts")
    val r = graft.operators.AsofJoin
      .asofJoin(probes, events, "k", "ts", Seq("v")).collect()(0)
    // asof_ts must be the ts=20 match AND asof_v its (null) payload —
    // DuckDB ASOF JOIN returns exactly this row
    assert(r.getTimestamp(2).getTime == 20000L, r.toString)
    assert(r.isNullAt(3), r.toString)
  }

  test("asofJoin null keys never match (SQL equality semantics)") {
    val spark = TestSpark.spark
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long): Timestamp = new Timestamp(s * 1000L)
    val events = Seq((null.asInstanceOf[java.lang.Long], t(10), 1.0))
      .toDF("k", "ts", "v")
    val probes = Seq((null.asInstanceOf[java.lang.Long], t(20)))
      .toDF("k", "ts")
    val r = graft.operators.AsofJoin
      .asofJoin(probes, events, "k", "ts", Seq("v")).collect()(0)
    assert(r.isNullAt(2) && r.isNullAt(3), r.toString)
  }

  test("intervalJoin: half-open containment, overlapping intervals, " +
       "exactly-once matches across bucket splits") {
    val spark = TestSpark.spark
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long): Timestamp = new Timestamp(s * 1000L)
    // two overlapping intervals + one disjoint; bucket (10 s) far
    // smaller than the intervals, so each interval explodes over many
    // buckets and a match may sit in any of them
    val iv = Seq((0, t(100), t(200)), (1, t(150), t(250)),
                 (2, t(400), t(500)))
      .toDF("ivl", "istart", "iend")
    val pts = Seq((1L, t(100)),  // start inclusive -> ivl 0
                  (2L, t(199)),  // in both 0 and 1
                  (3L, t(200)),  // end exclusive for 0 -> only 1
                  (4L, t(300)),  // matches nothing
                  (5L, null.asInstanceOf[Timestamp]))
      .toDF("id", "ts")
    val got = graft.operators.RangeJoin
      .intervalJoin(pts, iv, "ts", "istart", "iend", bucketSeconds = 10)
      .select("id", "ivl").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == Set((1L, 0), (2L, 0), (2L, 1), (3L, 1)),
           got.toString)
  }

  test("crossCorpusNearDup drops batch docs near-dup of the snapshot, " +
       "keeps genuinely new and null-text docs") {
    val spark = TestSpark.spark
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val snapshot = Seq(
      (100L, base),
      (101L, "completely different snapshot content about databases " +
             "and distributed query engines at scale")
    ).toDF("doc_id", "text")
    val batch = Seq(
      // near-dup of 100: one word changed out of ~19
      (1L, base.replace("tonight", "today")),
      (2L, "entirely novel text about cooking pasta with garlic " +
           "butter and fresh basil leaves in summer"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    Seq(false, true).foreach { portable =>
      val got = Dedup.crossCorpusNearDup(batch, snapshot, "text",
          "doc_id", jaccardThreshold = 0.5, numHashes = 32, bands = 8,
          jaccardNgram = 3, portable = portable)
        .select("doc_id").as[Long].collect().sorted
      assert(got.toSeq == Seq(2L, 3L), s"portable=$portable: $got")
    }
  }

  test("chunkDedup drops repeated blocks at non-first occurrences and " +
       "reassembles documents in order") {
    val spark = TestSpark.spark
    import spark.implicits._
    // blockTokens = 2: doc 1 = [a b][c d], doc 2 = [a b][x y],
    // doc 3 = [c d] exactly, doc 4 = null
    val df = Seq(
      (1L, "a b c d"),
      (2L, "A  B x y"),   // [a b] duplicates doc 1 after normalization
      (3L, "c d"),        // whole doc duplicated by doc 1's block 1
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(df, "text", "doc_id", blockTokens = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "a b c d")   // first occurrences everywhere
    assert(out(2L) == "x y")       // lost its boilerplate prefix
    assert(out(3L) == "")          // fully claimed by doc 1
    assert(out(4L) == null)        // null text passes through
    // deterministic across runs
    val again = Dedup.chunkDedup(df, "text", "doc_id", blockTokens = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == out)
    // an input whose id column is literally named "id" must not clash
    // with the operator's internals
    val outId = Dedup
      .chunkDedup(df.withColumnRenamed("doc_id", "id"), "text", "id", 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(outId == out)
  }

  test("incrementalDedupBloom: exact result equals incrementalDedup; " +
       "the Bloom test compiles into the scan") {
    val spark = TestSpark.spark
    import spark.implicits._
    val snapshot = Seq(
      (100L, "seen before"), (101L, "also seen")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "seen  before"),
      (2L, "brand new"),
      (3L, "brand new"),
      (4L, null.asInstanceOf[String]),
      (5L, "ALSO SEEN")
    ).toDF("doc_id", "text")
    val routed = Dedup.incrementalDedupBloom(
      batch, snapshot, "text", "doc_id", expectedItems = 1000L)
    assert(routed.select("doc_id").as[Long].collect().sorted.toSeq ==
           Seq(2L, 4L))
    // routing only — identical to the plain path on a larger corpus
    val docs = spark.read
      .parquet(s"${TestSpark.sf001}/documents.parquet")
    val b = docs.where(col("doc_id") % 4 === 0)
    val s = docs.where(col("doc_id") % 4 =!= 0)
    val bloomDf = Dedup
      .incrementalDedupBloom(b, s, "text", "doc_id", 100000L, 0.03)
    val viaBloom = bloomDf
      .select("doc_id").as[Long].collect().sorted.toSeq
    val viaJoin = Dedup.incrementalDedup(b, s, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(viaBloom == viaJoin)
    // the native predicate is in the parquet-backed plan (the tiny
    // LocalRelation case above constant-folds it away); cleared rows
    // skip the snapshot join
    val plan = bloomDf.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan.take(4000))
  }

  test("bm25TopK ranks by the exact BM25 formula and omits non-matches") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "dog")).toDF("doc_id", "text")
    val got = Search.bm25TopK(d, "text", "doc_id",
        Seq("apple", "cherry"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    // N=3, avgLen=2, df(apple)=df(cherry)=1 => idf = ln(1 + 2.5/1.5)
    val idf = math.log(1.0 + (3.0 - 1.0 + 0.5) / (1.0 + 0.5))
    def tfn(tf: Double, len: Double): Double =
      tf * (1.2 + 1.0) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * len / 2.0))
    def sc(parts: Seq[(Double, Double)]): Double = {
      val micro = parts.map { case (tf, len) =>
        math.round(idf * tfn(tf, len) * 1e6) }.sum
      BigDecimal(micro / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got.map(_._1).toSeq == Seq(1L, 2L)) // doc 3 never matches
    assert(got.toMap == Map(1L -> sc(Seq((2.0, 3.0))),
                            2L -> sc(Seq((1.0, 2.0)))))
  }

  test("curateForTraining chains dedup, quality gate, and " +
       "decontamination") {
    val spark = TestSpark.spark
    import spark.implicits._
    val prose = "the cat sat on a mat and the dog is that for " +
      "with quiet joy in a warm sun today again" // good quality
    val bench = Seq((900L, "leak five gram span here exactly"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, prose),
      (2L, prose),                                  // exact dup of 1
      (3L, "x y"),                                  // too short: quality
      (4L, prose + " leak five gram span here exactly") // contaminated
    ).toDF("doc_id", "text")
    val out = Curation.curateForTraining(corpus, bench, "text", "doc_id",
        qualityMin = 0.9, gramN = 5, portable = true)
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L))
    // threshold relaxed: the short doc is still dropped only by quality
    val out2 = Curation.curateForTraining(corpus, bench, "text", "doc_id",
        qualityMin = 0.0, gramN = 5)
      .select("doc_id").as[Long].collect().sorted
    assert(out2.toSeq == Seq(1L, 3L))
  }

  test("unigramNll computes add-one smoothed token NLL exactly") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = Seq((1L, "a a b"), (2L, "b c"), (3L, ""))
      .toDF("doc_id", "text")
    val res = TextAnalysis.unigramNll(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // counts: a->2, b->2, c->1; N=5, V=3 => p(a)=p(b)=3/8, p(c)=2/8
    def micro(p: Double): Long = math.round(math.log(p) * 1e6)
    val la = micro(3.0 / 8); val lc = micro(2.0 / 8)
    assert(res(1L) == ((3L, 2 * la + la)))
    assert(res(2L) == ((2L, la + lc)))
    assert(!res.contains(3L)) // empty doc has no tokens
  }

  test("tfidfTopTerms scores tf * (ln((1+N)/(1+df)) + 1) with token " +
       "tie-break; df counts documents once") {
    val spark = TestSpark.spark
    import spark.implicits._
    // N=4; df: a->3, b->2, z->1. doc 1: a a b (a repeats -> df still 3)
    val corpus = Seq((1L, "a a b"), (2L, "a b"), (3L, "a z"),
                     (4L, "q")).toDF("doc_id", "text")
    val out = Search.tfidfTopTerms(corpus, corpus.where(col("doc_id") === 1),
                                   "text", "doc_id", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
                           r.getDouble(3)))
    def sc(tf: Double, df: Double): Double =
      BigDecimal(tf * (math.log(5.0 / (1.0 + df)) + 1.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // a: tf=2 df=3 -> 2*(ln(5/4)+1); b: tf=1 df=2 -> ln(5/3)+1
    assert(out.toSeq == Seq((1L, 1, "a", sc(2, 3)), (1L, 2, "b", sc(1, 2))))
    // a target token the corpus has never seen is the MOST distinctive
    // (df = 0 -> maximal smoothed idf), not a dropped row
    val target = Seq((9L, "a unseen")).toDF("doc_id", "text")
    val out2 = Search.tfidfTopTerms(corpus, target, "text", "doc_id", 2)
      .collect().map(r => (r.getInt(1), r.getString(2), r.getDouble(3)))
    assert(out2.toSeq == Seq((1, "unseen", sc(1, 0)), (2, "a", sc(1, 3))),
           out2.mkString(","))
  }

  test("normalize lowercases and strips tags/urls/emails, collapses " +
       "whitespace, and is idempotent") {
    val spark = TestSpark.spark
    import spark.implicits._
    val d = Seq(
      ("<b>Hello</b>  WORLD", "hello world"),
      ("see HTTPS://Ex.COM/a?b=1 ok", "see ok"),
      ("mail A.B@ex.org now", "mail now"),
      ("  lots\t of\n space ", "lots of space"),
      ("plain text", "plain text")).toDF("raw", "want")
    val got = d.select(col("want"),
                       TextAnalysis.normalize(col("raw")).as("norm"),
                       TextAnalysis.normalize(
                         TextAnalysis.normalize(col("raw"))).as("norm2"))
      .collect()
    got.foreach { r =>
      assert(r.getString(1) == r.getString(0),
             s"norm '${r.getString(1)}' want '${r.getString(0)}'")
      assert(r.getString(2) == r.getString(1), "normalize not idempotent")
    }
    // null stays null (pure projection, no NPE)
    val n = Seq(Tuple1(null: String)).toDF("raw")
      .select(TextAnalysis.normalize(col("raw"))).collect()
    assert(n.head.isNullAt(0))
  }

  test("funnelCounts: strict-after chaining, dropouts, ties, and " +
       "greedy earliest-witness semantics") {
    val spark = TestSpark.spark
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long): Timestamp = new Timestamp(s * 1000L)
    // u1 converts fully: A@10 -> B@20 -> C@30
    // u2 drops at B: A@10, C@5 (C before A cannot chain)
    // u3's B ties A's ts exactly -> strict > excludes it, drops at B
    // u4 has B/C but no A -> never enters the funnel
    // u5: two A's (5, 50); earliest A@5 admits B@10 (greedy — had the
    //     funnel picked A@50, B@10 would not chain)
    val events = Seq(
      (1L, t(10), "A"), (1L, t(20), "B"), (1L, t(30), "C"),
      (2L, t(10), "A"), (2L, t(5), "C"),
      (3L, t(10), "A"), (3L, t(10), "B"),
      (4L, t(10), "B"), (4L, t(20), "C"),
      (5L, t(5), "A"), (5L, t(50), "A"), (5L, t(10), "B"))
      .toDF("user_id", "ts", "event_type")
    val got = graft.operators.Funnel
      .funnelCounts(events, "user_id", "ts", "event_type",
                    Seq("A", "B", "C"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2),
                 if (r.isNullAt(3)) -1L else r.getLong(3)))
    // step1 A: u1,u2,u3,u5 (4 users, sum 11); step2 B: u1,u5 (2, 6);
    // step3 C: u1 only (1, 1)
    assert(got.toSeq == Seq((1, "A", 4L, 11L), (2, "B", 2L, 6L),
                            (3, "C", 1L, 1L)), got.toSeq)
  }

  test("setSimJoinExact equals brute-force Jaccard at several " +
       "rational thresholds (prefix filter misses nothing)") {
    val spark = TestSpark.spark
    import spark.implicits._
    // overlapping word sets with varied sizes, dups, and noise docs
    val base = Seq("a b c d e", "a b c d f", "a b c", "x y z",
                   "x y z w", "a b c d e", "p q", "p q r s t u v",
                   "  ", null.asInstanceOf[String])
    val df = base.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    def brute(thrNum: Int, thrDen: Int): Set[(Long, Long, Long, Long)] = {
      def toks(s: String): Set[String] =
        if (s == null) Set.empty
        else s.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSet
      val sets = base.zipWithIndex
        .map { case (t, i) => i.toLong -> toks(t) }
        .filter(_._2.nonEmpty)
      (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
        inter = (sa & sb).size.toLong; uni = (sa | sb).size.toLong
        if thrDen * inter >= thrNum * uni
      } yield (ia, ib, inter, uni)).toSet
    }
    for ((n, d) <- Seq((1, 2), (4, 5), (1, 4), (1, 1))) {
      val got = graft.pipeline.Dedup
        .setSimJoinExact(df, "text", "id", n, d)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                   r.getLong(3))).toSet
      assert(got == brute(n, d), s"thr=$n/$d got=$got want=${brute(n, d)}")
    }
  }

  test("scd2Intervals: lead-closed validity, open tails, tie " +
       "zero-length intervals, null-ts exclusion; transitionCounts " +
       "skips first events and counts exact pairs") {
    val spark = TestSpark.spark
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long): Timestamp = new Timestamp(s * 1000L)
    val e = Seq(
      (1L, t(10), 1L, "A"), (1L, t(20), 2L, "B"), (1L, t(20), 3L, "A"),
      (2L, t(5), 4L, "B"),
      (3L, null.asInstanceOf[Timestamp], 5L, "C"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val iv = graft.operators.Temporal
      .scd2Intervals(e, "user_id", "ts", "event_id")
      .select("event_id", "valid_from", "valid_to").collect()
      .map(r => r.getLong(0) ->
        ((r.getTimestamp(1).getTime / 1000,
          if (r.isNullAt(2)) -1L else r.getTimestamp(2).getTime / 1000)))
      .toMap
    // id 2 ties id 3 at t=20: id 2 (lower id) gets the zero-length
    // interval, id 3 is the open tail; id 5 (null ts) is excluded
    assert(iv == Map(1L -> ((10L, 20L)), 2L -> ((20L, 20L)),
                     3L -> ((20L, -1L)), 4L -> ((5L, -1L))), iv.toString)
    val tr = graft.operators.Temporal
      .transitionCounts(e, "user_id", "ts", "event_id", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    // u1 journey A -> B -> A (tie order by id); u2/u3 contribute none
    assert(tr == Set(("A", "B", 1L), ("B", "A", 1L)), tr.toString)
  }

  test("retentionMatrix: cohort by first-event period, offset counts, " +
       "period dedup, null-ts exclusion") {
    val spark = TestSpark.spark
    import spark.implicits._
    import java.sql.Timestamp
    def t(day: Long, h: Long = 0L): Timestamp =
      new Timestamp((day * 86400L + h * 3600L) * 1000L)
    // u1: first day 0, active days 0 (twice), 1, 3
    // u2: first day 1, active days 1, 2
    // u3: first day 0, active day 0 only; null-ts row ignored
    val e = Seq(
      (1L, t(0)), (1L, t(0, 5)), (1L, t(1)), (1L, t(3)),
      (2L, t(1)), (2L, t(2)),
      (3L, t(0)), (3L, null.asInstanceOf[Timestamp]))
      .toDF("user_id", "ts")
    val got = graft.operators.Temporal
      .retentionMatrix(e, "user_id", "ts", periodSeconds = 86400L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got == Map((0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 3L) -> 1L,
                      (1L, 0L) -> 1L, (1L, 1L) -> 1L), got.toString)
  }

  test("throttle: first event survives, sub-gap bursts drop vs the " +
       "previous RAW event, exact-gap kept, null-ts excluded") {
    val spark = TestSpark.spark
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000L)
    // u1: 0, 5 (drop), 10 (drop: 10-5<10), 20 (keep: 20-10=10)
    // u2: single event; null ts dropped
    val e = Seq(
      (1L, 1L, t(0)), (1L, 2L, t(5)), (1L, 3L, t(10)), (1L, 4L, t(20)),
      (2L, 5L, t(7)), (2L, 6L, null.asInstanceOf[Timestamp]))
      .toDF("user_id", "event_id", "ts")
    val got = graft.operators.Temporal
      .throttle(e, "user_id", "ts", "event_id", gapSeconds = 10L)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 4L, 5L), got.toString)
  }

  test("zorder: interleave matches brute force, masks beyond bits, " +
       "SQL surface agrees, adjacent cells stay adjacent in key space") {
    val spark = TestSpark.spark
    import spark.implicits._
    def ref(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
        .reduce(_ | _)
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L),
                  (65535L, 65535L), (65536L, 0L), (123456L, 654321L))
    val df = pts.toDF("x", "y")
    val got = df.select(graft.functions.ZOrderExpr
        .zorder(col("x"), col("y"), 16).as("z"))
      .collect().map(_.getLong(0)).toSeq
    val want = pts.map { case (x, y) =>
      ref(x & 0xFFFFL, y & 0xFFFFL, 16) }
    assert(got == want, s"$got vs $want")
    // z(1,0)=1, z(0,1)=2: unit steps move to nearby keys
    assert(got(1) == 1L && got(2) == 2L)
    GraftExtensions.install(spark)
    df.createOrReplaceTempView("__z_pts")
    val sql = spark.sql(
      "SELECT graft_zorder(x, y, 16) FROM __z_pts")
      .collect().map(_.getLong(0)).toSeq
    assert(sql == want, sql.toString)
  }

  test("timeWeightedTotals: open intervals clip to horizon, " +
       "zero-length ties contribute nothing, post-horizon starts drop") {
    val spark = TestSpark.spark
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000L)
    // u1: v=2 over [10,20), v=5 over [20,open) -> clip at 100
    // u2: two rows tied at 30 (zero-length first), v=7 open
    // u3: starts at 200, past horizon -> dropped entirely
    val e = Seq(
      (1L, 1L, t(10), 2L), (1L, 2L, t(20), 5L),
      (2L, 3L, t(30), 9L), (2L, 4L, t(30), 7L),
      (3L, 5L, t(200), 1L))
      .toDF("user_id", "event_id", "ts", "vq")
    val iv = graft.operators.Temporal
      .scd2Intervals(e, "user_id", "ts", "event_id")
    val got = graft.operators.Temporal
      .timeWeightedTotals(iv, "user_id", "valid_from", "valid_to",
                          "vq", horizonEndSec = 100L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // u1: 2*10 + 5*80 = 420, dur 90; u2: 9*0 + 7*70 = 490, dur 70
    assert(got == Map(1L -> ((420L, 90L)), 2L -> ((490L, 70L))),
           got.toString)
  }

  test("editDistance1Pairs: insert/delete/substitute found, equal-" +
       "length false positives rejected, exact matches brute force") {
    val spark = TestSpark.spark
    import spark.implicits._
    val words = Seq("cat", "cats", "cot", "dog", "ab", "ba", "cat")
      .toDF("w")
    val got = graft.pipeline.Dedup.editDistance1Pairs(words, "w")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // brute force over the distinct vocab
    val vs = Seq("cat", "cats", "cot", "dog", "ab", "ba")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      a <- vs; b <- vs if a < b && lev(a, b) == 1
    } yield (a, b)).toSet
    assert(got == want, s"$got vs $want")
    assert(!got.contains(("ab", "ba")), "ed-2 pair must verify away")
  }

  test("saltedEquiJoin equals the plain join under a hot key and " +
       "keeps unmatched fact rows out") {
    val spark = TestSpark.spark
    import spark.implicits._
    // 100 fact rows on ONE hot key + a few cold ones; dim misses key 3
    val facts = ((1 to 100).map(i => (7L, i.toLong)) ++
                 Seq((1L, 101L), (2L, 102L), (3L, 103L)))
      .toDF("k", "fid")
    val dim = Seq((7L, "hot"), (1L, "a"), (2L, "b"), (9L, "unused"))
      .toDF("dk", "name")
    val got = graft.operators.SkewJoin
      .saltedEquiJoin(facts, dim, "k", "dk", col("fid"), salt = 4)
      .select("fid", "name")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = facts.join(dim, col("k") === col("dk"))
      .select("fid", "name")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want && want.size == 102, s"${got.size} vs $want")
  }

  test("IncrementalAgg: delta maintenance equals full recompute, " +
       "emptied groups drop, new groups appear") {
    val spark = TestSpark.spark
    import spark.implicits._
    val old = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("c", 4L))
      .toDF("g", "x")
    val nw = Seq(("a", 1L), ("a", 5L), ("c", 4L), ("d", 6L))
      .toDF("g", "x")   // b emptied, d new, a churned
    val base = graft.operators.IncrementalAgg
      .rollup(old, Seq("g"), Seq("x"))
    val ins = nw.join(old, Seq("x"), "left_anti")
    val del = old.join(nw, Seq("x"), "left_anti")
    val got = graft.operators.IncrementalAgg
      .applyDelta(base, ins, del, Seq("g"), Seq("x"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val want = graft.operators.IncrementalAgg
      .rollup(nw, Seq("g"), Seq("x"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == want, s"$got vs $want")
    assert(!got.contains("b") && got.contains("d"), got.toString)
  }

  test("densify: zero-fills interior gaps only, counts multiples, " +
       "single-period keys, null-ts excluded") {
    val spark = TestSpark.spark
    import spark.implicits._
    import java.sql.Timestamp
    def t(day: Long, h: Long = 0L): Timestamp =
      new Timestamp((day * 86400L + h * 3600L) * 1000L)
    // u1: days 2 (twice), 5 -> spine 2..5 with zeros at 3,4
    // u2: day 7 only -> one row; null ts ignored
    val e = Seq(
      (1L, t(2)), (1L, t(2, 3)), (1L, t(5)),
      (2L, t(7)), (2L, null.asInstanceOf[Timestamp]))
      .toDF("user_id", "ts")
    val got = graft.operators.Temporal
      .densify(e, "user_id", "ts", 86400L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got == Map((1L, 2L) -> 2L, (1L, 3L) -> 0L, (1L, 4L) -> 0L,
                      (1L, 5L) -> 1L, (2L, 7L) -> 1L), got.toString)
  }

  test("StreamingAttribution: cross-batch state carry, lookback " +
       "cutoff, direct fallback, eviction past lookback stays direct") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000L)
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Timestamp, Long, String)]
    val df = stream.toDF().toDF("user_id", "ts", "event_id",
                                "event_type")
    val out = graft.streaming.StreamingAttribution.attribute(
      df, "user_id", "ts", "event_id", "event_type",
      Seq("view", "click"), "purchase", lookbackSeconds = 100L,
      watermarkDelay = "10 seconds")
    val q = out.toDF().writeStream.outputMode("append")
      .format("memory").queryName("sattr_test").start()
    // batch 1: u1 view@10 then purchase@20 (same batch, credited);
    //          u2 purchase@15 with no touch (direct)
    stream.addData(Seq((1L, t(10), 1L, "view"), (1L, t(20), 2L, "purchase"),
                       (2L, t(15), 3L, "purchase")))
    q.processAllAvailable()
    // batch 2: u1 purchase@90 credits the batch-1 view (state carry);
    //          u1 click@95 replaces the touch
    stream.addData(Seq((1L, t(90), 4L, "purchase"), (1L, t(95), 5L, "click")))
    q.processAllAvailable()
    // batch 3: u1 purchase@300 — 205s past the click, beyond the
    //          100s lookback -> direct (state may also have evicted;
    //          both paths yield direct, the eviction-exactness claim);
    //          u1 LATE purchase@92 behind the stored click@95 — the
    //          strict-before rule must refuse the future touch, and a
    //          null-ts row must be ignored, not NPE
    stream.addData(Seq((1L, t(300), 6L, "purchase"),
                       (1L, t(92), 7L, "purchase"),
                       (1L, null.asInstanceOf[Timestamp], 8L, "purchase")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sattr_test")
      .collect().map(r => r.getLong(1) -> r.getString(2)).toMap
    spark.catalog.dropTempView("sattr_test")
    assert(got == Map(2L -> "view", 3L -> "direct", 4L -> "view",
                      6L -> "direct", 7L -> "direct"), got.toString)
  }

  test("QualityChecks.audit: null counts, integer bounds, exact " +
       "distincts; approx path keeps schema") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq((1L, Some("a")), (2L, Some("a")), (3L, Option.empty[String]),
                 (3L, Some("b")))
      .toDF("k", "v")
    val got = graft.operators.QualityChecks
      .audit(df, nullCols = Seq("v"), boundCols = Seq("k"),
             distinctCols = Seq("k", "v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map(
      "n_rows" -> 4L, "null_count:v" -> 1L,
      "min:k" -> 1L, "max:k" -> 3L,
      "distinct:k" -> 3L, "distinct:v" -> 2L), got.toString)
    val ap = graft.operators.QualityChecks
      .audit(df, distinctCols = Seq("k"), approx = true)
      .collect().map(r => r.getString(0)).toSet
    assert(ap == Set("n_rows", "distinct:k"), ap.toString)
  }

  test("activityStreaks: consecutive-day islands, same-day dedup, " +
       "gap splits, null-ts excluded") {
    val spark = TestSpark.spark
    import spark.implicits._
    import java.sql.Timestamp
    def t(day: Long, h: Long = 0L): Timestamp =
      new Timestamp((day * 86400L + h * 3600L) * 1000L)
    // u1: days 0,1,2 then 5,6 -> max 3; u2: days 3,3(dup),4 -> 2;
    // u3: single day + null ts -> 1
    val e = Seq(
      (1L, t(0)), (1L, t(1)), (1L, t(2)), (1L, t(5)), (1L, t(6)),
      (2L, t(3)), (2L, t(3, 7)), (2L, t(4)),
      (3L, t(9)), (3L, null.asInstanceOf[Timestamp]))
      .toDF("user_id", "ts")
    val got = graft.operators.Temporal
      .activityStreaks(e, "user_id", "ts", 86400L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 2L, 3L -> 1L), got.toString)
  }

  test("pageRank: hand-computed 2-iteration integer ranks, sink node " +
       "keeps base, floor-per-edge contributions") {
    val spark = TestSpark.spark
    import spark.implicits._
    // 1->2, 2->1, 1->3 (3 is a sink); S=1e12, d=85/100, base=150e9
    // r1: 1 -> base + (85S)//100       = 1_000_000_000_000
    //     2 -> base + (85S)//200       =   575_000_000_000
    //     3 -> same as 2               =   575_000_000_000
    // r2: 1 -> base + (85*r1(2))//100  =   638_750_000_000
    //     2 -> base + (85*r1(1))//200  =   575_000_000_000
    //     3 -> same as 2               =   575_000_000_000
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("s", "d")
    val got = graft.operators.Graph.pageRank(e, "s", "d", iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 638750000000L, 2L -> 575000000000L,
                      3L -> 575000000000L), got.toString)
  }

  test("triangleStats: K4 has 4 triangles, star has none, reversed/" +
       "duplicate/self-loop edges canonicalize away") {
    val spark = TestSpark.spark
    import spark.implicits._
    // K4 on {1,2,3,4} with noise: reversed copy, dup, self-loop;
    // star center 10 -> {11,12,13} adds 3 nodes, 3 edges, 0 triangles
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (2L, 1L), (3L, 1L), (4L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L))
      .toDF("x", "y")
    val r = graft.operators.Graph.triangleStats(edges, "x", "y")
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((8L, 9L, 4L)),
           r.toString)
  }

  test("coOccurrence: sorted unordered pairs, per-basket item dedup, " +
       "singleton baskets drop, counts across baskets") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(
      (1L, Some(30L)), (1L, Some(10L)), (1L, Some(20L)),
      (1L, Some(10L)),                               // dup item in basket
      (2L, Some(10L)), (2L, Some(20L)),
      (3L, Some(99L)),                               // singleton
      (4L, Option.empty[Long]))                      // null item
      .toDF("basket", "item")
    val got = graft.operators.MarketBasket
      .coOccurrence(df, "basket", "item")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == Set((10L, 20L, 2L), (10L, 30L, 1L), (20L, 30L, 1L)),
           got.toString)
  }

  test("ngramNovelty: df=1 grams credit their owner group, shared " +
       "grams drop, short docs shingle whole, null text excluded") {
    val spark = TestSpark.spark
    import spark.implicits._
    // docs 1,2 share the gram "a b c"; doc 1 adds a unique tail gram;
    // doc 3 (other group) is short (<3 tokens -> whole-text shingle);
    // doc 4 has null text
    val d = Seq(
      (1L, "a b c d", "s1"), (2L, "a b c", "s1"),
      (3L, "z q", "s2"), (4L, null.asInstanceOf[String], "s2"))
      .toDF("doc_id", "text", "source")
    val got = graft.pipeline.Dedup
      .ngramNovelty(d, "doc_id", "text", "source", n = 3)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // s1: docs 1,2; grams: doc1 {a b c, b c d}, doc2 {a b c};
    //     n_grams=3, novel = {b c d} = 1
    // s2: doc 3 only; gram {z q}; novel=1
    assert(got == Map("s1" -> ((2L, 3L, 1L)), "s2" -> ((1L, 1L, 1L))),
           got.toString)
  }

  test("lastTouchAttribution: strict-before touch, lookback cutoff, " +
       "direct fallback, same-second id tiebreak") {
    val spark = TestSpark.spark
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long): Timestamp = new Timestamp(s * 1000L)
    // u1: view@10, click@20, purchase@25 -> click (latest touch)
    // u1: purchase@20+86401+... out of lookback from click -> direct
    // u2: purchase@5 with no touch before -> direct
    // u3: touch and purchase same second: id order decides (touch id
    //     1 < purchase id 2 -> touch is strictly before by id)
    val e = Seq(
      (1L, 10L, 1L, "view"), (1L, 20L, 2L, "click"),
      (1L, 25L, 3L, "purchase"), (1L, 90000L, 4L, "purchase"),
      (2L, 5L, 5L, "purchase"),
      (3L, 50L, 6L, "view"), (3L, 50L, 7L, "purchase"))
      .map { case (u, s, i, ty) => (u, t(s), i, ty) }
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = graft.operators.Funnel
      .lastTouchAttribution(e, "user_id", "ts", "event_id",
                            "event_type", Seq("view", "click"),
                            "purchase", 86400L)
      .collect().map(r => (r.getLong(1), r.getString(2))).toMap
    assert(got == Map(3L -> "click", 4L -> "direct", 5L -> "direct",
                      7L -> "view"), got.toString)
  }

  test("snapshotDiff: insert/delete/update classes, null-safe value " +
       "compare, unchanged dropped, all-null compare row diffs") {
    val spark = TestSpark.spark
    import spark.implicits._
    val old = Seq((1L, Some("a")), (2L, Some("b")), (3L, Option.empty[String]),
                  (4L, Some("d")))
      .toDF("k", "v")
    val nw = Seq((1L, Some("a")),                       // unchanged
                 (2L, Some("B")),                       // updated
                 (3L, Some("c")),                       // null -> value = U
                 (5L, Option.empty[String]))            // insert, null value
      .toDF("k", "v")
    val got = graft.operators.Temporal
      .snapshotDiff(old, nw, Seq("k"), Seq("v"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((2L, "U"), (3L, "U"), (4L, "D"), (5L, "I")),
           got.toString)
  }

  test("topkPerGroup: exact k largest per group, desc-key asc-id ties, " +
       "null exclusion, groups smaller than k") {
    val spark = TestSpark.spark
    import spark.implicits._
    // group a: 5 rows incl. a tie at key=9 (ids 7, 3 -> keep both,
    //          id-asc order); group b: 1 row (< k); null key dropped
    val df = Seq(
      ("a", Some(9L), 7L), ("a", Some(9L), 3L), ("a", Some(5L), 1L),
      ("a", Some(9L), 8L), ("a", Some(2L), 9L), ("b", Some(4L), 2L),
      ("a", Option.empty[Long], 99L))
      .toDF("g", "m", "id")
    val got = graft.operators.Ranking
      .topkPerGroup(df, Seq("g"), "m", "id", k = 3)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set(("a", 1, 3L, 9L), ("a", 2, 7L, 9L),
                      ("a", 3, 8L, 9L), ("b", 1, 2L, 4L)), got.toString)
  }

  test("centroidDrift: cross-multiplied L1 equals the hand-computed " +
       "mean drift; identical snapshots drift zero; one-sided labels " +
       "flag via counts") {
    val spark = TestSpark.spark
    import spark.implicits._
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val a = Seq((1L, v(1.0, 2.0), 0), (2L, v(3.0, 4.0), 0),
                (3L, v(0.5, 0.5), 7))
      .toDF("vec_id", "embedding", "label")
    val b = Seq((4L, v(1.0, 2.0), 0), (5L, v(5.0, 6.0), 0),
                (6L, v(9.0, 9.0), 8))
      .toDF("vec_id", "embedding", "label")
    val got = graft.pipeline.Similarity
      .centroidDrift(a, b, "embedding", "label")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
                                  r.getLong(3)))).toMap
    // label 0: sums(a) = (4e6, 6e6) n=2; sums(b) = (6e6, 8e6) n=2
    // drift = |4e6*2 - 6e6*2| + |6e6*2 - 8e6*2| = 4e6 + 4e6 = 8e6
    assert(got(0L) == ((2L, 2L, 8000000L)), got.toString)
    // one-sided labels: counts flag, drift 0
    assert(got(7L) == ((1L, 0L, 0L)) && got(8L) == ((0L, 1L, 0L)),
           got.toString)
    // identical snapshots: drift exactly zero
    val same = graft.pipeline.Similarity
      .centroidDrift(a, a, "embedding", "label")
      .collect().map(_.getLong(3))
    assert(same.forall(_ == 0L), same.mkString(","))
  }

  test("repeatedSpanAudit: corpus-repeated 3-gram spans merge per doc " +
       "and count their token mass; unique text is untouched") {
    val spark = TestSpark.spark
    import spark.implicits._
    // the phrase "x y z w" (two overlapping 3-grams: xyz, yzw) appears
    // in docs 1 and 2 -> both grams repeat corpus-wide; in doc 1 the
    // two marked spans [2,5) and [3,6) merge into ONE island of 4
    // tokens. doc 3 is all-unique -> unaffected. doc 4 is shorter than
    // the gram -> counted in totals, never marked.
    val d = Seq(
      (1L, "sA", "a b x y z w c d"),
      (2L, "sA", "p q x y z w r t"),
      (3L, "sB", "u v m n o k l"),
      (4L, "sB", "s t")).toDF("doc_id", "source", "text")
    val got = graft.pipeline.Dedup
      .repeatedSpanAudit(d, "text", "doc_id", "source", gramN = 3,
                         minOccurrences = 2L)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
             r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    spark.catalog.clearCache()
    // sA: 2 docs, 16 tokens, both affected, 1 merged span each of
    // 4 tokens ([2,6))
    assert(got("sA") == ((2L, 16L, 2L, 2L, 8L)), got.toString)
    // sB: 2 docs, 9 tokens, none affected
    assert(got("sB") == ((2L, 9L, 0L, 0L, 0L)), got.toString)
  }

  test("knnLabelEval: confusion matrix from majority-of-k neighbors, " +
       "self excluded, vote ties to the smaller label") {
    val spark = TestSpark.spark
    import spark.implicits._
    // two tight clusters in 2D (padded to dim 4): ids 0-2 near origin
    // label 0, ids 3-5 near (1,1) label 1; one mislabeled point (id 6,
    // label 1) sits in the origin cluster -> with k=3 its neighbors
    // are label 0 -> confusion cell (1, 0)
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat, 0f, 0f)
    val rows = Seq(
      (0L, v(0.00, 0.01), 0), (1L, v(0.01, 0.00), 0),
      (2L, v(0.00, 0.00), 0), (3L, v(1.00, 1.01), 1),
      (4L, v(1.01, 1.00), 1), (5L, v(1.00, 1.00), 1),
      (6L, v(0.02, 0.02), 1))
    val df = rows.toDF("vec_id", "embedding", "label")
    val got = graft.pipeline.Similarity.knnLabelEval(
        df, df.select(col("vec_id").as("qid"), col("embedding"),
                      col("label")),
        "embedding", "vec_id", "label", "qid", "embedding", "label",
        k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // queries 0,1,2 -> predicted 0 (true 0); 3,4,5 -> predicted 1
    // (true 1); 6 (true 1) -> predicted 0
    assert(got == Map((0L, 0L) -> 3L, (1L, 1L) -> 3L, (1L, 0L) -> 1L),
           got.toString)
  }

  test("knnRecallReport: IVF route vs brute truth — recall is exact " +
       "integer tallies and matches a driver-side brute-force replay") {
    val spark = TestSpark.spark
    val e = spark.read
      .parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val queries = e.where(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding"))
    val k = 5
    val got = graft.pipeline.Similarity.knnRecallReport(
        e, queries, "embedding", "vec_id", "qid", "embedding",
        k = k, dim = 64, nLists = 16, nProbe = 4)
      .collect().head
    val (nq, nt, nh, ppm, np) =
      (got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
       got.getLong(4))
    assert(nq == 20 && nt == 20L * k, got.toString)
    // IVF is a subset route: hits can never exceed truth, and with
    // 4/16 probes on this fixture it must recover most of it
    assert(nh <= nt && nh > nt / 2, got.toString)
    assert(ppm == nh * 1000000L / nt, got.toString)
    assert(np <= nq, got.toString)
    // brute-force replay of the recall number on the driver
    val vecs = e.select(col("vec_id"),
                        col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Double](1).map(x => math.floor(x * 1e6).toLong).toArray)
      .toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val truthSets = (0L until 20L).map { qid =>
      qid -> vecs.keys.filter(_ != qid).toSeq
        .map(cid => (d2(vecs(qid), vecs(cid)), cid))
        .sorted.take(k).map(_._2).toSet
    }.toMap
    // sanity: the report's n_truth equals the brute truth volume
    assert(truthSets.values.map(_.size).sum.toLong == nt)
  }

  test("topkPerGroup set semantics: an exact (metric, id) duplicate " +
       "row is held ONCE (KMV contract); distinct ids at the same " +
       "metric are all kept") {
    val spark = TestSpark.spark
    import spark.implicits._
    // (9, 7) appears twice -> one kept copy, so id 1 still makes the
    // top-3; a row_number window over the raw rows would rank both
    // copies and evict id 1. Callers feeding multiplicity-carrying
    // streams must pre-aggregate if they want multiset ranks.
    val df = Seq(("a", 9L, 7L), ("a", 9L, 7L), ("a", 9L, 3L),
                 ("a", 5L, 1L)).toDF("g", "m", "id")
    val got = graft.operators.Ranking
      .topkPerGroup(df, Seq("g"), "m", "id", k = 3)
      .collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((1, 3L, 9L), (2, 7L, 9L), (3, 1L, 5L)),
           got.toString)
  }

  test("TopKBuffer: bounded insert keeps exact order under random " +
       "interleave and merge equals sorted-take brute force") {
    val rnd = new scala.util.Random(42)
    val items = Array.fill(500)((rnd.nextInt(50).toLong, rnd.nextLong()))
    val k = 7
    val (l, r) = items.splitAt(230)
    val a = new graft.functions.TopKBuffer(k)
    val b = new graft.functions.TopKBuffer(k)
    l.foreach { case (key, id) => a.insert(key, id) }
    r.foreach { case (key, id) => b.insert(key, id) }
    a.merge_(b)
    val expect = items
      .sortBy { case (key, id) => (-key, id) }.take(k).toList
    val got = (0 until a.n).map(i => (a.keys(i), a.ids(i))).toList
    assert(got == expect, s"$got vs $expect")
  }

  test("hybridRrf fuses keyword and vector ranks with exact integer " +
       "RRF; single-list docs get one contribution") {
    val spark = TestSpark.spark
    import spark.implicits._
    // doc 1 is the only keyword match; docs 2 and 3 only have vectors.
    // query vec (1,0): doc 2 aligns perfectly (rank 1), doc 3 second.
    val docs = Seq((1L, "alpha beta"), (2L, "gamma delta"),
                   (3L, "epsilon zeta")).toDF("doc_id", "text")
    val embs = Seq((2L, Seq(1.0f, 0.0f)), (3L, Seq(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val got = graft.pipeline.Search
      .hybridRrf(docs, embs, "text", "doc_id", "vec_id", "embedding",
                 Seq("alpha"), Array(1.0, 0.0), kList = 5, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // every present rank is 1 or 2: 1e6 div 61 = 16393, div 62 = 16129
    assert(got.toSeq == Seq((1L, 16393L), (2L, 16393L), (3L, 16129L)),
           got.toSeq)
  }
}
