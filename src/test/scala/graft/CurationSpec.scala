package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline._

class CurationSpec extends AnyFunSuite {

  test("redactPii scrubs emails, urls, and phone numbers; counts match") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(
      (1L, "reach me at alice@corp.io or https://corp.io/a?x=1 today"),
      (2L, "call 555-867-5309 or 555.123.4567 now"),
      (3L, "clean text with no identifiers at all"),
      (4L, "mail bob.smith+tag@sub.domain.org please")).toDF("id", "text")
    val counts = TextAnalysis.piiCounts(col("text")).toMap
    val got = df.select(col("id"),
        counts("email").as("e"), counts("url").as("u"),
        counts("phone").as("p"),
        TextAnalysis.redactPii(col("text")).as("r"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    assert(got(1L)._1 == 1 && got(1L)._2 == 1)
    assert(got(2L)._3 == 2)
    assert(got(3L) == ((0, 0, 0, "clean text with no identifiers at all")))
    assert(got(4L)._1 == 1)
    assert(got(1L)._4 == "reach me at <PII> or <PII> today")
    assert(got(2L)._4 == "call <PII> or <PII> now")
    assert(!got(4L)._4.contains("@"))
  }

  test("hashSplit is deterministic, total, and roughly 12/2/2 by nibble") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = (0L until 4000L).toDF("id")
    val a = df.groupBy(Curation.hashSplit(col("id")).as("s")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = df.groupBy(Curation.hashSplit(col("id")).as("s")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)                       // deterministic across runs
    assert(a.values.sum == 4000L)        // total: every row assigned
    assert(a.keySet == Set("train", "val", "test"))
    // md5 nibbles are uniform: train 12/16, val 2/16, test 2/16
    assert(math.abs(a("train") - 3000.0) < 150, a.toString)
    assert(math.abs(a("val") - 500.0) < 100, a.toString)
    assert(math.abs(a("test") - 500.0) < 100, a.toString)
  }

  test("contamination flags docs sharing an n-gram with the benchmark") {
    val spark = TestSpark.spark
    import spark.implicits._
    val bench = Seq(
      (1L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text")
    val corpus = Seq(
      (10L, "prefix words then the quick brown fox jumps too"),   // 5-gram hit
      (11L, "completely different content with no overlap here"),
      (12L, "quick brown fox jumps over and more text after")     // 5-gram hit
    ).toDF("id", "text")
    val hits = Dedup.contamination(corpus, bench, "text", "id", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.keySet == Set(10L, 12L), hits.toString)
    assert(hits.values.forall(_ >= 1))
  }

  test("qualityFilter keeps the top quartile; curate end-to-end") {
    val spark = TestSpark.spark
    import spark.implicits._
    // 100 docs with token counts 1..100 (subword count == token count)
    val docs = (1 to 100).map { i =>
      (i.toLong, (1 to i).map(k => "tok" + (k % 7)).mkString(" "))
    }.toDF("id", "text")
    val metric = TextAnalysis.subwordCount(col("text")).cast("double")
    val kept = Curation.qualityFilter(docs, metric, 0.75)
    // exact percentile of 1..100 at 0.75 = 75.25 -> keep counts >= 75.25
    assert(kept.count() == 25)

    val curated = Curation.curate(docs, "text", "id", qualityFrac = 0.10)
    val rows = curated.select("id", "split").collect()
    // qualityScore is discrete (0.0..1.0 in 0.1 steps): >= threshold
    // keeps ties, so only assert the gate executed and kept a subset
    assert(rows.length <= 100 && rows.nonEmpty)
    assert(rows.map(_.getString(1)).toSet.subsetOf(
      Set("train", "val", "test")))
  }

  test("qualityFilter: empty input and all-null metric return empty, " +
       "not NPE; percentileThreshold reports the undefined case") {
    val spark = TestSpark.spark
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("id", "text")
    assert(Curation.qualityFilter(empty,
      TextAnalysis.subwordCount(col("text")).cast("double"), 0.5)
      .count() == 0)
    assert(Curation.curate(empty, "text", "id").count() == 0)
    val allNull = Seq(1L, 2L).toDF("id")
      .withColumn("m", lit(null).cast("double"))
    assert(Curation.qualityFilter(allNull, col("m"), 0.5).count() == 0)
    val e = intercept[IllegalArgumentException] {
      Curation.percentileThreshold(empty, col("id").cast("double"), 0.5)
    }
    assert(e.getMessage.contains("undefined"))
  }

  test("domainMixture: waterfilled proportions, deterministic, " +
       "unlisted sources dropped") {
    val spark = TestSpark.spark
    import spark.implicits._
    // 400 web, 100 code, 50 books, 30 junk (unlisted)
    val docs = ((1 to 400).map(i => (i.toLong, "web")) ++
                (1 to 100).map(i => (1000L + i, "code")) ++
                (1 to 50).map(i => (2000L + i, "books")) ++
                (1 to 30).map(i => (3000L + i, "junk")))
      .toDF("id", "source")
    val mixed = Curation.domainMixture(docs, "source", "id",
      Map("web" -> 0.5, "code" -> 0.25, "books" -> 0.25))
    val n = mixed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // books is the binding source: T = 50/0.25 = 200 -> targets
    // web 100, code 50, books 50 (books keeps everything)
    assert(n.getOrElse("junk", 0L) == 0, n)
    assert(n("books") == 50, n)
    // md5-thresholded counts land within binomial noise of the target
    assert(math.abs(n("web") - 100) < 30, n)
    assert(math.abs(n("code") - 50) < 20, n)
    // deterministic: identical result on a re-run
    val again = Curation.domainMixture(docs, "source", "id",
      Map("web" -> 0.5, "code" -> 0.25, "books" -> 0.25))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again == mixed.select("id").collect().map(_.getLong(0)).toSet)
    intercept[IllegalArgumentException] {
      Curation.domainMixture(docs, "source", "id", Map("absent" -> 1.0))
    }
  }

  test("packSequences: concat-and-chunk invariants hold per shard") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val docs = (1 to 300).map { i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(40))("w").mkString(" "))
    }.toDF("id", "text")
    val packed = Packing.packSequences(docs, "id",
      TextAnalysis.tokenCount(col("text")), seqLen = 64, nShards = 4)
      .select("id", "shard", "tok", "seq_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                           r.getLong(3)))
    assert(packed.length == 300) // total: no doc lost
    packed.groupBy(_._2).foreach { case (_, rows) =>
      val ordered = rows.sortBy(_._1)
      // replay the token stream: seq_id must equal floor(start / 64)
      var start = 0L
      ordered.foreach { case (_, _, tok, seqId) =>
        assert(seqId == start / 64, s"seq $seqId at offset $start")
        start += tok
      }
      // seq ids are non-decreasing in id order and start at 0
      assert(ordered.head._4 == 0L)
    }
    // stats roll-up: last sequence of a shard may be partial, others
    // fill to >= 1.0 only via straddlers; fills are positive
    val stats = Packing.sequenceStats(docs, "id",
      TextAnalysis.tokenCount(col("text")), 64, 4).collect()
    assert(stats.forall(_.getDouble(4) > 0))
    assert(stats.map(_.getLong(2)).sum == 300)
  }

  test("repetitionFeatures: top-bigram share and dup-trigram share") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b a b"),          // bigrams: ab ba ab ba ab -> top 3/5
      (2L, "w x y z q r"),          // all bigrams/trigrams distinct
      (3L, "solo"),                 // < 2 words: both 0.0
      (4L, "k k k k")               // bigrams kk x3 -> 3/3; tris kkk x2 -> dup 1/2
    ).toDF("id", "text")
    val rep = TextAnalysis.repetitionFeatures(col("text")).toMap
    val got = df.select(col("id"), rep("top_bigram_frac").as("t"),
        rep("dup_trigram_frac").as("d"))
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(math.abs(got(1L)._1 - 3.0 / 5) < 1e-12)
    // trigrams of doc1: aba bab aba bab -> 2 distinct of 4 -> dup 0.5
    assert(math.abs(got(1L)._2 - 0.5) < 1e-12)
    assert(got(2L)._1 == 0.2 && got(2L)._2 == 0.0)
    assert(got(3L) == ((0.0, 0.0)))
    assert(got(4L)._1 == 1.0 && math.abs(got(4L)._2 - 0.5) < 1e-12)
  }

  test("repetition kernel matches the HOF oracle on awkward whitespace") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq(
      "a b a b a b", "w x y z", "solo", "k k k k", "",
      "  leading and trailing  ", "tab\tseparated\twords here",
      "double  space  gap", "x", "p q p q p q p q p q",
      "\tstarts with tab after space-trim",
      (1 to 200).map(i => "w" + (i % 9)).mkString(" ")
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val nat = TextAnalysis.repetitionFeatures(col("text")).toMap
    val hof = HofReferences.repetitionFeatures(col("text")).toMap
    val rows = docs.select(col("id"),
        nat("top_bigram_frac"), nat("dup_trigram_frac"),
        hof("top_bigram_frac"), hof("dup_trigram_frac"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(3) &&
             r.getDouble(2) == r.getDouble(4),
             s"id ${r.getLong(0)}: native (${r.getDouble(1)}, " +
             s"${r.getDouble(2)}) vs hof (${r.getDouble(3)}, " +
             s"${r.getDouble(4)})")
    }
  }

  test("stratifiedSample keeps exact ceil(frac*n) per stratum, stable") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = (0 until 103).map(i => (i.toLong, "s" + (i % 3)))
      .toDF("id", "stratum")
    val s1 = Curation.stratifiedSample(df, col("stratum"), col("id"), 0.25)
    val got = s1.groupBy("stratum").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // strata sizes: s0 = 35, s1 = 34, s2 = 34 -> ceil(.25*n) = 9, 9, 9
    assert(got == Map("s0" -> 9L, "s1" -> 9L, "s2" -> 9L), got.toString)
    // deterministic: same rows both runs
    val ids1 = s1.select("id").collect().map(_.getLong(0)).toSet
    val ids2 = Curation.stratifiedSample(df, col("stratum"), col("id"), 0.25)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    // subset invariance: rows sampled from a stratum are the hash-least,
    // so frac=1.0 returns everything
    assert(Curation.stratifiedSample(df, col("stratum"), col("id"), 1.0)
      .count() == 103)
    // float-artifact guard: 30 * 0.1 = 3.0000000000000004 in binary;
    // a bare ceil would keep 4 rows instead of 3
    val df30 = (0 until 30).map(i => (i.toLong, "s")).toDF("id", "stratum")
    assert(Curation.stratifiedSample(df30, col("stratum"), col("id"), 0.1)
      .count() == 3)
  }

  test("corpusReport: integer per-source totals, dup fingerprints " +
       "collapse, null text counted not fingerprinted") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta", "s1", "en"),
      (2L, "Alpha  BETA", "s1", "en"),   // normalized dup of 1
      (3L, "gamma delta x", "s1", "es"),
      (4L, null.asInstanceOf[String], "s1", "en"),
      (5L, "solo", "s2", null.asInstanceOf[String])
    ).toDF("doc_id", "text", "source", "lang")
    Seq(false, true).foreach { portable =>
      val r = graft.pipeline.Curation
        .corpusReport(df, "text", "doc_id", "source", "lang", portable)
        .orderBy("source").collect()
      assert(r.length == 2)
      val s1 = r(0)
      assert(s1.getString(0) == "s1" && s1.getLong(1) == 4 &&
             s1.getLong(2) == 1 &&            // one null text
             s1.getLong(3) == 2 + 2 + 3 &&    // token total
             s1.getLong(5) == 2 &&            // dup pair collapses
             s1.getLong(6) == 2,              // en, es
             s"portable=$portable: $s1")
      val s2 = r(1)
      assert(s2.getLong(1) == 1 && s2.getLong(5) == 1 &&
             s2.getLong(6) == 0)              // null lang not counted
    }
  }

  test("topKByContent: md5-prefix pre-filter that ACTUALLY cuts still " +
       "returns the exact content-ranked top-k") {
    val spark = TestSpark.spark
    import spark.implicits._
    // n = 20_000 >> 1.5*cap + 64, so the prefix threshold is a real cut
    // (~(79/20000) of the hash space); the result must still be the
    // exact first `cap` ids by (md5(id), id), which we compute here
    // with the same rendering Spark uses (lowercase hex of the utf8
    // string bytes)
    val n = 20000
    val cap = 10
    val df = (0 until n).map(i => (i.toLong, "big"))
      .toDF("id", "source")
    val got = Curation.sourceCap(df, col("source"), col("id"), cap)
      .select("id").collect().map(_.getLong(0)).toSet
    val mdig = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      mdig.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = (0 until n).map(_.toLong)
      .sortBy(i => (md5hex(i.toString), i)).take(cap).toSet
    assert(got == want, s"got $got want $want")
    // fraction path over the same big stratum: exact ceil count
    val frac = Curation.stratifiedSample(df, col("source"), col("id"),
                                         0.001)
    assert(frac.count() == 20, frac.count().toString)
  }

  test("topKByContent: null-id rows rank first (nulls-first md5 " +
       "order) and survive the prefix pre-filter") {
    val spark = TestSpark.spark
    import spark.implicits._
    // 5 non-null ids + 3 null ids in one source; cap 10 keeps all 8
    val df = ((0 until 5).map(i => (java.lang.Long.valueOf(i.toLong),
                                    "s")) ++
              (0 until 3).map(_ => (null.asInstanceOf[java.lang.Long],
                                    "s")))
      .toDF("id", "source")
    val all = Curation.sourceCap(df, col("source"), col("id"), cap = 10)
    assert(all.count() == 8, all.count().toString)
    // cap 2: null ids occupy the first ranks, so both picks are null
    val two = Curation.sourceCap(df, col("source"), col("id"), cap = 2)
      .select("id").collect().map(r => r.isNullAt(0))
    assert(two.length == 2 && two.forall(identity), two.mkString(","))
  }

  test("sourceCap bounds every source, passes small sources through, " +
       "and other-source growth never changes a source's picks") {
    val spark = TestSpark.spark
    import spark.implicits._
    // s0 = 40 rows (over cap), s1 = 5 rows (under cap)
    val df = ((0 until 40).map(i => (i.toLong, "s0")) ++
              (100 until 105).map(i => (i.toLong, "s1")))
      .toDF("id", "source")
    val capped = Curation.sourceCap(df, col("source"), col("id"), cap = 10)
    val got = capped.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("s0" -> 10L, "s1" -> 5L), got.toString)
    // content-addressed: the s0 picks are identical when s1 triples
    val s0Picks = capped.where(col("source") === "s0")
      .select("id").collect().map(_.getLong(0)).toSet
    val grown = df.union(
      (200 until 210).map(i => (i.toLong, "s1")).toDF("id", "source"))
    val s0Picks2 = Curation.sourceCap(grown, col("source"), col("id"), 10)
      .where(col("source") === "s0")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(s0Picks == s0Picks2)
    // skew-safe shape: per-source counts broadcast back (no shuffle of
    // the data for the join), the md5-prefix pre-filter sits BELOW the
    // window's exchange (the window sorts only the candidate sliver),
    // and the data itself shuffles exactly once (the window); the only
    // other hash exchange carries the per-source count rows
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.sliding("Exchange hashpartitioning".length)
             .count(_ == "Exchange hashpartitioning") == 2, plan)
    val windowAt = plan.indexOf("Window [row_number()")
    val filterAt = plan.indexOf("conv(substring(md5(")
    assert(windowAt >= 0 && filterAt > windowAt,
           s"prefix pre-filter must feed the window: $plan")
  }

  test("qualityFilterBy gates each stratum at its own percentile") {
    val spark = TestSpark.spark
    import spark.implicits._
    // stratum a: metrics 1..4 (p50 = 2.5); stratum b: 100..103
    // (p50 = 101.5) — a global p50 would keep all of b, none of a
    val df = ((1 to 4).map(i => ("a", i.toDouble)) ++
              (100 to 103).map(i => ("b", i.toDouble)))
      .toDF("stratum", "m")
    val kept = Curation
      .qualityFilterBy(df, col("stratum"), col("m"), 0.5)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(kept == Set(("a", 3.0), ("a", 4.0),
                       ("b", 102.0), ("b", 103.0)), kept.toString)
    // a stratum whose metric is entirely null keeps nothing
    val withNull = df.union(
      Seq(("c", null.asInstanceOf[java.lang.Double]))
        .toDF("stratum", "m"))
    val kept2 = Curation
      .qualityFilterBy(withNull, col("stratum"), col("m"), 0.5)
      .collect().map(_.getString(0)).toSet
    assert(kept2 == Set("a", "b"))
    // a NULL stratum is a stratum like any other: gated at its own
    // percentile, not silently dropped (null-safe join key)
    val withNullStratum = df.union(
      Seq((null.asInstanceOf[String], 7.0),
          (null.asInstanceOf[String], 9.0)).toDF("stratum", "m"))
    val keptNull = Curation
      .qualityFilterBy(withNullStratum, col("stratum"), col("m"), 0.5)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .filter(_._1 == null).map(_._2).toSet
    assert(keptNull == Set(9.0), keptNull.toString)
    // threshold side broadcasts: no shuffle of the data rows
    val plan = Curation.qualityFilterBy(df, col("stratum"), col("m"), 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("contamination plan broadcasts the benchmark gram side") {
    val spark = TestSpark.spark
    import spark.implicits._
    val bench = Seq((1L, "a b c d e f g h")).toDF("id", "text")
    val corpus = (0 until 100).map(i => (100L + i, s"doc $i a b c d e f g"))
      .toDF("id", "text")
    val plan = Dedup.contamination(corpus, bench, "text", "id", n = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
           plan.contains("BroadcastExchange"), plan)
  }

  test("dedupSurvivors keeps the best cluster member and all singletons") {
    val spark = TestSpark.spark
    import spark.implicits._
    // 1,2,3 are near-identical (one cluster); 4 and 5 are unrelated
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight", 10),
      (2L, "the quick brown fox jumps over the lazy dog tonight!!", 99),
      (3L, "the quick brown fox jumps over the lazy dog today", 50),
      (4L, "an entirely different document about spark aggregation", 7),
      (5L, "yet another unrelated text with its own words only", 3))
      .toDF("id", "text", "quality")
    val kept = Dedup.dedupSurvivors(df, "text", "id", col("quality"),
        jaccardThreshold = 0.4, numHashes = 16, bands = 8)
      .select("id").as[Long].collect().toSet
    assert(kept.contains(4L) && kept.contains(5L)) // singletons untouched
    assert(kept.contains(2L), kept)    // highest-quality cluster member
    assert(!kept.contains(1L) && !kept.contains(3L), kept)
  }

  test("vocabTopK: exact tf/df head with deterministic tie order") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta beta gamma"),
      (2L, "Alpha  beta\tdelta"),
      (3L, null.asInstanceOf[String]),
      (4L, "   "),
      (5L, "gamma gamma gamma")).toDF("id", "text")
    val rows = TextAnalysis.vocabTopK(df, "text", "id", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // gamma tf=4 (docs 1,5); beta tf=3 (docs 1,2); alpha tf=2 (docs 1,2)
    assert(rows.toSeq == Seq(("gamma", 4L, 2L), ("beta", 3L, 2L),
                             ("alpha", 2L, 2L)), rows.toSeq)
  }

  test("tokenBudgetSample: inclusive cumsum <= budget in content " +
       "order, zero-token rows dropped, under-budget sources whole") {
    val spark = TestSpark.spark
    import spark.implicits._
    // s0: 6 docs x 10 tokens (60 > budget 35 -> truncation at the
    // content-order boundary); s1: 2 docs x 5 tokens (10 <= 35 ->
    // passes whole); plus a zero-token doc that must never be kept
    val df = ((0 until 6).map(i => (i.toLong, "s0", 10L)) ++
              Seq((100L, "s1", 5L), (101L, "s1", 5L),
                  (102L, "s1", 0L)))
      .toDF("id", "source", "ntok")
    val kept = Curation.tokenBudgetSample(df, col("source"), col("id"),
                                          col("ntok"), budget = 35L)
      .select("id").collect().map(_.getLong(0)).toSet
    // expected s0 picks: first 3 by (md5(id), id) — 3*10=30 <= 35,
    // the 4th would cross the budget
    val mdig = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      mdig.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val s0Want = (0 until 6).map(_.toLong)
      .sortBy(i => (md5hex(i.toString), i)).take(3).toSet
    assert(kept == s0Want + 100L + 101L, s"got $kept want $s0Want+s1")
    // determinism: s0's picks are unchanged when s1 grows
    val grown = df.unionByName(
      Seq((200L, "s1", 5L)).toDF("id", "source", "ntok"))
    val kept2 = Curation.tokenBudgetSample(grown, col("source"),
                                           col("id"), col("ntok"), 35L)
      .where(col("source") === "s0")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept2 == s0Want, kept2.toString)
  }

  test("tokenBudgetSample: mega-source prefilter stays exact (matches " +
       "the brute-force cumsum) and the kept mass respects the budget") {
    val spark = TestSpark.spark
    import spark.implicits._
    val n = 20000
    // variable token counts 1..40
    val df = (0 until n).map(i => (i.toLong, "big", (i % 40 + 1).toLong))
      .toDF("id", "source", "ntok")
    val budget = 2000L
    val got = Curation.tokenBudgetSample(df, col("source"), col("id"),
                                         col("ntok"), budget)
      .select("id", "ntok").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mdig = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      mdig.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ordered = (0 until n).map(_.toLong)
      .sortBy(i => (md5hex(i.toString), i))
    var cum = 0L
    val want = ordered.takeWhile { i =>
      cum += (i % 40 + 1); cum <= budget
    }.toSet
    assert(got.keySet == want,
           s"sizes got=${got.size} want=${want.size}")
    assert(got.values.sum <= budget, got.values.sum.toString)
  }

  test("splitLeakage: duplicated text across folds counted per fold " +
       "pair; clean split reports explicit zero rows for all 3 pairs") {
    val spark = TestSpark.spark
    import spark.implicits._
    // 30 ids share one text -> they land in folds by md5(id); every
    // fold pair sharing the fingerprint leaks exactly 1 fingerprint
    // with the fold's doc counts on each side. A second, unique text
    // per id adds no leakage.
    val df = (0L until 30L).map(i => (i, "shared text body")) ++
      (100L until 110L).map(i => (i, s"unique $i"))
    val d = df.toDF("doc_id", "text")
    val folds = d.where(col("text") === "shared text body")
      .groupBy(Curation.hashSplit(col("doc_id")).as("s"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Curation.splitLeakage(d, "doc_id", "text")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
             ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet == Set(("test", "train"), ("test", "val"),
                             ("train", "val")))
    def want(a: String, b: String) =
      if (folds.contains(a) && folds.contains(b))
        (1L, folds(a), folds(b))
      else (0L, 0L, 0L)
    assert(got(("test", "train")) == want("test", "train"), got.toString)
    assert(got(("test", "val")) == want("test", "val"), got.toString)
    assert(got(("train", "val")) == want("train", "val"), got.toString)
    // clean corpus: all-unique texts -> three explicit zero rows
    val clean = Curation.splitLeakage(
        (0L until 10L).map(i => (i, s"only $i")).toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(clean.length == 3 && clean.forall(_ == ((0L, 0L, 0L))),
           clean.mkString(","))
  }

  test("vocabCoverage: OOV instances and types per source against the " +
       "top-k head with deterministic tie-break") {
    val spark = TestSpark.spark
    import spark.implicits._
    // global tf: the=4, cat=3, dog=2, emu=1 -> k=2 head = {the, cat}
    val d = Seq(
      ("s1", "the cat the dog"),
      ("s2", "the cat cat emu the dog"))
      .toDF("source", "text")
    val got = graft.pipeline.TextAnalysis
      .vocabCoverage(d, "text", "source", k = 2)
      .collect()
      .map(r => r.getString(0) ->
             ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // s1: 4 tokens, oov = dog(1) -> 1 instance, 1 type
    // s2: 6 tokens, oov = emu(1) + dog(1) -> 2 instances, 2 types
    assert(got("s1") == ((4L, 1L, 1L)), got.toString)
    assert(got("s2") == ((6L, 2L, 2L)), got.toString)
    spark.catalog.clearCache()
  }
}
