package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._
import graft.pipeline._

class PipelineQualitySpec extends AnyFunSuite {

  test("HDI outlier bounds: shortest interval beats ETI on skewed data") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // right-skewed: lognormal-ish
    val values = (1 to 5000).map(_ => math.exp(rnd.nextGaussian()))
    val df = values.toDF("x")
    val eti = Outliers.fitRange(df, "x", method = "ETI")
    val hdi = Outliers.fitRange(df, "x", method = "HDI")
    assert(hdi.upper - hdi.lower > 0)
    // HDI interval is the shortest 50% interval: its raw width is <= ETI's
    val etiWidth = (eti.upper - eti.lower) / 4.0 // undo k=1.5 expansion: w*(1+2k)
    val hdiWidth = (hdi.upper - hdi.lower) / 4.0
    assert(hdiWidth <= etiWidth + 1e-9, s"hdi $hdiWidth eti $etiWidth")
  }

  test("embedding LSH near-dup recall vs brute force") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    // 200 base vectors + 50 near-duplicates (small perturbations)
    val base = (0 until 200).map { i =>
      (i.toLong, Array.fill(32)(rnd.nextGaussian().toFloat))
    }
    val dups = (0 until 50).map { i =>
      val (srcId, v) = base(i)
      (1000L + i, v.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val lsh = Similarity.cosineNearDupPairs(df, "embedding", "vec_id",
                                            threshold = 0.98, nPlanes = 6)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force ground truth
    val all = (base ++ dups)
    val truth = (for {
      i <- all.indices; j <- (i + 1) until all.length
      a = all(i)._2.map(_.toDouble); b = all(j)._2.map(_.toDouble)
      dot = a.zip(b).map { case (p, q) => p * q }.sum
      na = math.sqrt(a.map(v => v * v).sum)
      nb = math.sqrt(b.map(v => v * v).sum)
      if dot / (na * nb) >= 0.98
    } yield (math.min(all(i)._1, all(j)._1),
             math.max(all(i)._1, all(j)._1))).toSet
    assert(truth.nonEmpty)
    val recall = lsh.intersect(truth).size.toDouble / truth.size
    // 6 hyperplanes on 0.98-cosine pairs: high collision probability
    assert(recall >= 0.8, s"recall $recall (${lsh.size} vs ${truth.size})")
    // precision: every returned pair is a true near-dup (exact cosine
    // verified in-bucket)
    assert(lsh.subsetOf(truth))
  }

  test("langId identifies real-language samples") {
    // (the testdata lang column is a synthetic label over English word
    // salads, so it cannot validate a detector; use real snippets)
    val spark = TestSpark.spark
    import spark.implicits._
    val samples = Seq(
      ("en", "the cat sat on the mat and looked at the dog for a while"),
      ("es", "el perro y el gato viven en la casa de los abuelos"),
      ("de", "der Hund und die Katze sind mit dem Kind in das Haus"),
      ("fr", "le chien et le chat sont dans la maison des grands parents"),
      ("zh", "数据处理引擎"),
      ("und", "zzz qqq xxx"))
    val df = samples.toDF("expected", "text")
    val out = df.select(col("expected"),
                        TextAnalysis.langId(col("text")).as("pred"))
      .collect()
    out.foreach { r =>
      assert(r.getString(0) == r.getString(1),
             s"expected ${r.getString(0)} got ${r.getString(1)}")
    }
  }

  test("langId kernel matches the HOF formulation on documents + edges") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
    val edges = Seq("", "   ", "the", "THE AND OF", "le la les 数据",
                    "de de de", "un le el", "\tthe\nand of")
      .toDF("text")
    Seq(docs, edges).foreach { df =>
      val diff = df.select(
          TextAnalysis.langId(col("text")).as("k"),
          HofReferences.langId(col("text")).as("h"))
        .where(col("k") =!= col("h"))
      assert(diff.count() == 0,
             diff.limit(5).collect().mkString(" "))
    }
  }

  test("IVF ANN: a small corpus still answers; an empty corpus returns " +
       "no rows") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // 5 vectors < nLists = 16: most cells are empty
    val corpus = (0 until 5).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val queryDf = Seq((100L, corpus(2)._2)).toDF("vec_id", "embedding")
    val res = Similarity.ivfTopKPortable(corpus.toDF("vec_id", "embedding"),
                                         queryDf, "embedding", "vec_id",
                                         "vec_id", k = 3, dim = 8,
                                         nLists = 16, nProbe = 4)
      .collect()
    assert(res.nonEmpty)
    // the query equals corpus vector 2: it must rank first with cosine 1
    val top = res.minBy(_.getInt(3))
    assert(top.getLong(1) == 2L && math.abs(top.getDouble(2) - 1.0) < 1e-9)

    // empty corpus: no candidates, no crash
    val empty = Similarity.ivfTopKPortable(
      corpus.toDF("vec_id", "embedding").limit(0), queryDf,
      "embedding", "vec_id", "vec_id", k = 3, dim = 8, nLists = 16,
      nProbe = 4)
    assert(empty.collect().isEmpty)
  }

  test("PQ ANN: the portable variant is deterministic and structurally " +
       "sound") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian() * 10))
    val corpus = (0 until 800).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => (v + 0.3 * rnd.nextGaussian()).toFloat))
    }
    val corpusDf = corpus.toDF("vec_id", "embedding")
    val queries = (0 until 16).map { i =>
      val c = centers(i % 8)
      (1000L + i, c.map(v => (v + 0.3 * rnd.nextGaussian()).toFloat))
    }
    val queryDf = queries.toDF("vec_id", "embedding")

    // ADC scores every code: every query returns exactly k ranked results
    val pq = Similarity.pqTopKPortable(corpusDf, queryDf, "embedding",
                                       "vec_id", "vec_id", k = 5,
                                       dim = 16, m = 4, ksub = 16)
      .collect()
    assert(pq.length == 16 * 5)
    assert(pq.groupBy(_.getLong(0)).values
      .forall(_.map(_.getInt(3)).sorted.toSeq == (1 to 5).toSeq))

    // deterministic across invocations, codes stable
    val a = Similarity.pqTopKPortable(corpusDf, queryDf, "embedding",
                                      "vec_id", "vec_id", k = 3,
                                      dim = 16, m = 4, ksub = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val b = Similarity.pqTopKPortable(corpusDf, queryDf, "embedding",
                                      "vec_id", "vec_id", k = 3,
                                      dim = 16, m = 4, ksub = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(a.sameElements(b))
    // codebooks themselves are reproducible pure functions
    val cb1 = Similarity.pqPortableCodebooks(2, 4, 3)
    val cb2 = Similarity.pqPortableCodebooks(2, 4, 3)
    assert(cb1.map(_.map(_.toVector).toVector).toVector ==
           cb2.map(_.map(_.toVector).toVector).toVector)

    // IVF-PQ: at most k results per query, ranked 1..n
    val ivfpq = Similarity.ivfPqTopKPortable(corpusDf, queryDf, "embedding",
                                             "vec_id", "vec_id", k = 5,
                                             dim = 16, nLists = 8,
                                             nProbe = 2)
      .collect()
    assert(ivfpq.nonEmpty)
    assert(ivfpq.groupBy(_.getLong(0)).values.forall { rs =>
      rs.map(_.getInt(3)).sorted.toSeq == (1 to rs.length).toSeq &&
        rs.length <= 5 })

    // edge cases: empty corpus answers empty (no crash); a dimension
    // not divisible by m is rejected with guidance
    assert(Similarity.pqTopKPortable(corpusDf.limit(0), queryDf,
                                     "embedding", "vec_id", "vec_id",
                                     k = 3, dim = 16)
      .collect().isEmpty)
    assert(Similarity.ivfPqTopKPortable(corpusDf.limit(0), queryDf,
                                        "embedding", "vec_id", "vec_id",
                                        k = 3, dim = 16)
      .collect().isEmpty)
    val err = intercept[IllegalArgumentException] {
      Similarity.pqTopKPortable(corpusDf, queryDf, "embedding",
                                "vec_id", "vec_id", k = 3, dim = 16,
                                m = 5)
    }
    assert(err.getMessage.contains("divisible"))

    // zero-norm query scores 0.0 on every candidate (an unguarded
    // division yields NaN, which desc sort would rank FIRST)
    val zeroQ = Seq((9999L, Array.fill(16)(0.0f)))
      .toDF("vec_id", "embedding")
    for (res <- Seq(
           Similarity.pqTopKPortable(corpusDf, zeroQ, "embedding", "vec_id",
                                     "vec_id", k = 3, dim = 16),
           Similarity.ivfPqTopKPortable(corpusDf, zeroQ, "embedding",
                                        "vec_id", "vec_id", k = 3,
                                        dim = 16, nLists = 8,
                                        nProbe = 2))) {
      val scores = res.collect().map(_.getDouble(2))
      assert(scores.nonEmpty && scores.forall(_ == 0.0),
             s"zero-norm query scores: ${scores.mkString(",")}")
    }
  }

  test("refined ANN equals brute-force exact top-k on clustered data") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(97)
    // pool (refineFactor 8 -> 40) covers the WHOLE 40-doc corpus, so
    // this pins the refine stage in isolation: whatever order the ADC
    // scan hands over, the exact re-rank must reproduce the brute-force
    // ranking — including the within-region order PQ quantization ties
    // cannot see.
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian() * 10))
    val corpusDf = (0 until 40).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => (v + 0.05 * rnd.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = (0 until 8).map { i =>
      val c = centers(i)
      (1000L + i, c.map(v => (v + 0.05 * rnd.nextGaussian()).toFloat))
    }
    val queryDf = queries.toDF("vec_id", "embedding")

    val refined = Similarity.pqTopKRefinedPortable(corpusDf, queryDf,
        "embedding", "vec_id", "vec_id", k = 5, dim = 16, refineFactor = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
      .toSet
    // exact ranking per query: bruteForceTopK against each query vector
    val exact = queries.flatMap { case (qid, qv) =>
      Similarity.bruteForceTopK(corpusDf, "embedding", "vec_id", qv, 5)
        .collect().zipWithIndex
        .map { case (r, i) => (qid, r.getLong(0), i + 1) }
    }.toSet
    assert(refined == exact,
           s"refined missed ${(exact -- refined).size} of ${exact.size}")

    // the refined scores are true cosines (not ADC approximations)
    val c = corpusDf.select(col("vec_id").as("cid2"),
      col("embedding").cast("array<double>").as("cemb"))
    val q = queryDf.select(col("vec_id").as("qid2"),
      col("embedding").cast("array<double>").as("qemb"))
    val withScores = Similarity.pqTopKRefinedPortable(corpusDf, queryDf,
        "embedding", "vec_id", "vec_id", k = 3, dim = 16, refineFactor = 8)
      .join(c, col("cid") === col("cid2"))
      .join(q, col("qid") === col("qid2"))
      .withColumn("truecos", Similarity.cosine(col("cemb"), col("qemb")))
      .select(col("cosine"), col("truecos")).collect()
    assert(withScores.nonEmpty)
    withScores.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
    }
  }

  test("minhash skew guard: mega-cluster emits linear star pairs") {
    val spark = TestSpark.spark
    import spark.implicits._
    // 400 exact copies (one mega bucket) + 50 distinct docs
    val rnd = new scala.util.Random(41)
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val docs = (0 until 400).map(i => (i.toLong, boiler)) ++
      (0 until 50).map(i => (1000L + i,
        Seq.fill(12)(rnd.alphanumeric.take(6).mkString).mkString(" ")))
    val df = docs.toDF("doc_id", "text")

    val cands = Dedup.minhashCandidates(df, "text", "doc_id",
      numHashes = 16, bands = 4, starThreshold = 64)
    val pairs = cands.select("id_a", "id_b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))

    // the 400-cluster contributes ~399 star pairs, not 79,800 all-pairs
    val clusterPairs = pairs.filter { case (a, b) => a < 400 && b < 400 }
    assert(clusterPairs.length == 399, clusterPairs.length)
    // every member connects to the canonical min id -> one component
    assert(clusterPairs.forall(_._1 == 0L))
    val covered = clusterPairs.map(_._2).toSet + 0L
    assert(covered == (0L until 400L).toSet)
  }

  test("custom hash expressions match HOF reference formulations") {
    val spark = TestSpark.spark
    import spark.implicits._
    val texts = Seq(
      "The quick brown fox jumps over the lazy dog",
      "the  QUICK   brown fox ", // normalization collapses/cases
      "ab", // shorter than shingle length
      "", // empty
      "a a a a repeated tokens vote repeatedly",
      "naïve café résumé — multi-byte UTF-8 ügür",
      "x" * 500)
    val df = texts.toDF("text")

    // simhash: custom expression vs HOF oracle
    val sh = df.select(Dedup.simhash(col("text")).as("fast"),
                       HofReferences.simhash(col("text")).as("ref")).collect()
    sh.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))

    // minhash signature: custom expression vs HOF oracle
    val k = 16
    val norm = Dedup.normalizeText(col("text"))
    val mh = df.select(
      graft.functions.TextHashExprs.minhashSig(norm, 5, k).as("fast"),
      Dedup.minhashSignatureFromHashes(
        Dedup.shingleHashes(Dedup.shinglesOf(norm, 5)), k).as("ref"))
      .collect()
    mh.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString)
    }

    // word-gram hashes: custom expression vs HOF oracle (values AND
    // first-occurrence order), across gram lengths straddling the
    // shorter-than-n whole-string branch
    for (n <- Seq(1, 3, 5, 20)) {
      val wg = df.select(
        graft.functions.TextHashExprs.wordGramHashes(norm, n).as("fast"),
        Dedup.shingleHashes(
          Dedup.wordShinglesOf(split(norm, " "), n)).as("ref"))
        .collect()
      wg.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"n=$n $r")
      }
    }
  }

  test("contamination hashed fast path matches the portable string path") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = (0 until 60).map { i =>
      (i.toLong, s"shared prefix tokens run $i plus trailing words " +
        ("pad " * (i % 7)).trim)
    }.toDF("id", "text")
    val bench = docs.where(col("id") < 8)
    val corpus = docs.where(col("id") >= 8)
    def result(portable: Boolean) =
      Dedup.contamination(corpus, bench, "text", "id", n = 5,
                          portable = portable)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(result(portable = false) == result(portable = true))
  }

  test("portable hash modes match first-principles reimplementations") {
    val spark = TestSpark.spark
    import spark.implicits._
    // independent reference of the documented portable formulas (the
    // same arithmetic the DuckDB oracle SQL encodes)
    def poly(cps: Array[Int], base: Long, mod: Long): Long =
      cps.foldLeft(0L)((h, cp) => (h * base + cp) % mod)
    def cpsOf(s: String): Array[Int] = {
      val b = Array.newBuilder[Int]
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i); b += cp; i += Character.charCount(cp)
      }
      b.result()
    }
    def normalize(t: String): String =
      t.trim.toLowerCase.replaceAll("\\s+", " ")

    val texts = Seq(
      "The quick brown fox jumps over the lazy dog",
      "the  QUICK   brown fox ", "ab", "",
      "a a a a repeated tokens vote repeatedly",
      "naïve café résumé — multi-byte UTF-8 ügür 😀 emoji",
      "x" * 500)
    val df = texts.toDF("text")

    // simhash portable
    val sh = df.select(Dedup.simhash(col("text"), portable = true))
      .collect().map(_.getLong(0))
    val shRef = texts.map { t =>
      val votes = new Array[Int](64)
      normalize(t).split(" ", -1).foreach { tok =>
        val cps = cpsOf(tok)
        val h = (poly(cps, 131L, 1000000007L) << 30) |
                poly(cps, 137L, 998244353L)
        (0 until 64).foreach(i =>
          votes(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1))
      }
      (0 until 64).foldLeft(0L)((s, i) =>
        if (votes(i) > 0) s | (1L << i) else s)
    }
    assert(sh.toSeq == shRef)

    // minhash portable (k = 32, shingleLen = 5)
    val k = 32
    val mh = df.select(graft.functions.TextHashExprs.minhashSig(
        Dedup.normalizeText(col("text")), 5, k, portable = true))
      .collect().map(_.getSeq[Long](0))
    val mhRef = texts.map { t =>
      val cps = cpsOf(normalize(t))
      val hs =
        if (cps.length < 5) Seq(poly(cps, 131L, 1000000007L))
        else (0 to cps.length - 5).map(i =>
          poly(cps.slice(i, i + 5), 131L, 1000000007L))
      val gm = hs.min
      (0 until k).map(j => hs.filter(_ % k == j)
        .reduceOption(_ min _).getOrElse(gm))
    }
    assert(mh.map(_.toSeq).toSeq == mhRef)

    // portable LSH planes (Lehmer mix)
    val P = 2147483647L
    def comp(p: Long, i: Long): Double = {
      val m = (p * 1315423911L + i * 2654435761L + 97531L) % P
      ((((m * m) % P) * 48271L) % P) * 2.0 / P - 1.0
    }
    val rnd = new scala.util.Random(23)
    val vecs = (1 to 100).map(_ => Array.fill(16)(rnd.nextDouble() - 0.5))
    val sigs = vecs.toDF("emb")
      .select(Similarity.lshSignature(col("emb"), 8, portable = true))
      .collect().map(_.getLong(0))
    val sigRef = vecs.map { v =>
      (0 until 8).foldLeft(0L) { (s, p) =>
        val proj = v.indices.foldLeft(0.0)((a, i) =>
          a + v(i) * comp(p.toLong, i.toLong))
        if (proj >= 0) s | (1L << p) else s
      }
    }
    assert(sigs.toSeq == sigRef)
  }

  test("native cosine expression matches the HOF reference (float+double)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows = (1 to 200).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() - 0.5f),
       Array.fill(16)(rnd.nextFloat() - 0.5f))
    }
    val df = rows.toDF("id", "a", "b")
    // double-cast path (sequential HOF arithmetic order == native loop)
    val d = df.select(
      Similarity.cosine(col("a").cast("array<double>"),
                        col("b").cast("array<double>")).as("native"),
      HofReferences.cosine(col("a").cast("array<double>"),
                           col("b").cast("array<double>")).as("hof"))
      .collect()
    d.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12,
                          r.toString))
    // native float path (no cast) stays within float rounding of the ref
    val f = df.select(
      Similarity.cosine(col("a"), col("b")).as("native"),
      HofReferences.cosine(col("a").cast("array<double>"),
                           col("b").cast("array<double>")).as("hof"))
      .collect()
    f.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-5,
                          r.toString))
    // zero vector -> 0.0 (HOF otherwise-branch semantics)
    val z = Seq((Array.fill(4)(0.0), Array(1.0, 2.0, 3.0, 4.0)))
      .toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b"))).head.getDouble(0)
    assert(z == 0.0)
  }

  test("native LSH signature matches the HOF reference bit-for-bit") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 300).map { i =>
      (i.toLong, Array.fill(32)(rnd.nextDouble() - 0.5))
    }
    val df = rows.toDF("id", "emb")
    val r = df.select(
      Similarity.lshSignature(col("emb"), 12).as("native"),
      HofReferences.lshSignature(col("emb"), 12).as("hof")).collect()
    r.foreach(x => assert(x.getLong(0) == x.getLong(1), x.toString))
    // float input path agrees with the double-cast HOF form
    val fdf = rows.map { case (i, a) => (i, a.map(_.toFloat)) }
      .toDF("id", "emb")
    val rf = fdf.select(
      Similarity.lshSignature(col("emb"), 12).as("native"),
      HofReferences.lshSignature(col("emb"), 12).as("hof")).collect()
    rf.foreach(x => assert(x.getLong(0) == x.getLong(1), x.toString))
  }

  test("native PQ encode and nearest-cells match the HOF references") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val dim = 16
    val rows = (1 to 250).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextDouble() - 0.5))
    }
    val df = rows.toDF("id", "emb")
    val centroids = Similarity.portableCentroids(8, dim)
    val codebooks = Similarity.pqPortableCodebooks(m = 4, ksub = 8,
                                                   dsub = dim / 4)
    val r = df.select(
      graft.functions.VectorExprs.pqEncode(col("emb"), codebooks)
        .as("code_n"),
      HofReferences.pqCode(codebooks)(col("emb")).as("code_h"),
      graft.functions.VectorExprs.nearestCells(col("emb"), centroids, 1)(0)
        .as("cell_n"),
      HofReferences.nearestCell(centroids)(col("emb")).as("cell_h"),
      graft.functions.VectorExprs.nearestCells(col("emb"), centroids, 3)
        .as("probe_n"),
      HofReferences.probeCells(centroids, 3)(col("emb")).as("probe_h"))
      .collect()
    r.foreach { x =>
      assert(x.getSeq[Int](0) == x.getSeq[Int](1), s"codes $x")
      assert(x.getInt(2) == x.getInt(3), s"cell $x")
      assert(x.getSeq[Int](4) == x.getSeq[Int](5), s"probe $x")
    }
    // float input path agrees too (testdata embeddings are float)
    val fdf = rows.map { case (i, a) => (i, a.map(_.toFloat)) }
      .toDF("id", "emb")
    val rf = fdf.select(
      graft.functions.VectorExprs
        .pqEncode(col("emb").cast("array<double>"), codebooks).as("code_n"),
      HofReferences.pqCode(codebooks)(col("emb").cast("array<double>"))
        .as("code_h")).collect()
    rf.foreach(x => assert(x.getSeq[Int](0) == x.getSeq[Int](1), x.toString))
  }

  test("null-text rows: exactDedup keeps them all, exactGroups excludes") {
    val spark = TestSpark.spark
    import spark.implicits._
    // xxhash64(null) returns its seed — ungrouped, every null-text doc
    // would share fp=42 and all but one would be silently dropped
    val df = Seq((1L, "same doc"), (2L, "same doc"), (3L, "unique"),
                 (4L, null), (5L, null), (6L, null))
      .toDF("doc_id", "text")
    val dd = Dedup.exactDedup(df, "text", "doc_id")
    assert(dd.where(col("text").isNull).count() == 3, "nulls must survive")
    assert(dd.count() == 5) // 1+2 collapse to min id 1
    assert(dd.where(col("doc_id") === 2L).count() == 0)
    val groups = Dedup.exactGroups(df, "text", "doc_id")
    assert(groups.count() == 2) // "same doc" + "unique"; no null group
    assert(groups.agg(sum("n_docs")).head.getLong(0) == 3)
  }

  test("minhash bands must divide numHashes") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    // bands > numHashes -> empty band slices would bucket the whole
    // corpus together; non-divisible -> trailing slots silently dropped
    intercept[IllegalArgumentException] {
      Dedup.minhashCandidates(df, "text", "doc_id",
                              numHashes = 64, bands = 128)
    }
    intercept[IllegalArgumentException] {
      Dedup.minhashCandidates(df, "text", "doc_id",
                              numHashes = 100, bands = 16)
    }
  }

  test("connected components: non-integral ids rejected, null edges " +
       "dropped") {
    val spark = TestSpark.spark
    import spark.implicits._
    // a string id would cast to null: NPE on the driver path, silently
    // null components on the distributed path
    val sPairs = Seq(("doc-1", "doc-2")).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(sPairs)
    }
    assert(e.getMessage.contains("integral"))
    val withNull = Seq((Some(1L), Some(2L)), (Some(2L), None))
      .toDF("id_a", "id_b")
    Seq(5000000, 0).foreach { budget =>
      val comps = Dedup.connectedComponents(withNull,
          driverEdgeBudget = budget).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comps == Map(1L -> 1L, 2L -> 1L), comps)
    }
  }

  test("connected components: chains, triangles, disjoint clusters") {
    val spark = TestSpark.spark
    import spark.implicits._
    // chain 1-2-3-4-5 (diameter 4), triangle 10-11-12, pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
                    (10L, 11L), (11L, 12L), (10L, 12L),
                    (20L, 21L)).toDF("id_a", "id_b")
    // both paths must agree: driver union-find (default budget) and the
    // distributed min-label propagation (budget 0 forces it)
    Seq(5000000, 0).foreach { budget =>
      val comps = Dedup.connectedComponents(pairs,
          driverEdgeBudget = budget).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((1L to 5L).forall(comps(_) == 1L), comps)
      assert(Seq(10L, 11L, 12L).forall(comps(_) == 10L), comps)
      assert(Seq(20L, 21L).forall(comps(_) == 20L), comps)
      assert(comps.size == 10)
    }
  }

  test("lsh signature rejects nPlanes outside 1..64 (long overflow " +
       "would silently corrupt bits)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq(Array.fill(8)(0.5)).toDF("emb")
    intercept[IllegalArgumentException] {
      df.select(graft.functions.VectorExprs.lshSig(col("emb"), 96))
        .collect()
    }
    intercept[IllegalArgumentException] {
      df.select(graft.functions.VectorExprs.lshSig(col("emb"), 0))
        .collect()
    }
    // 64 is the inclusive max: the full long width is addressable
    val s = df.select(graft.functions.VectorExprs.lshSig(col("emb"), 64))
      .collect()
    assert(s.length == 1)
  }

  test("exactDedupFlag marks exactly the exactDedup survivors") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = Seq((1L, "a b"), (2L, "a  B "), (3L, "c"),
                 (4L, null: String), (5L, null: String))
      .toDF("doc_id", "text")
    for (portable <- Seq(false, true)) {
      val flagged = Dedup.exactDedupFlag(df, "text", "doc_id", portable)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(flagged.size == 5, "every input row survives annotated")
      val kept = Dedup.exactDedup(df, "text", "doc_id", portable)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(flagged.filter(_._2).keySet == kept,
             s"flags $flagged vs filter $kept (portable=$portable)")
      // 1 canonicalizes {1,2}; 3 alone; null-text rows pass through
      assert(kept == Set(1L, 3L, 4L, 5L))
    }
  }

  test("kmeans: converges to planted cluster means, assignment exact") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    // two tight planted blobs far apart in 4-d
    val blobA = (0 until 300).map(i =>
      (i.toLong, Array.fill(4)(5.0 + 0.05 * rnd.nextGaussian())))
    val blobB = (0 until 300).map(i =>
      (1000L + i, Array.fill(4)(-5.0 + 0.05 * rnd.nextGaussian())))
    val df = (blobA ++ blobB).toDF("vec_id", "embedding")
    val out = Similarity.kmeansPortable(df, "embedding", dim = 4,
                                        k = 2, iters = 3)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // after 3 Lloyd rounds the blobs must separate perfectly: every
    // member of a blob lands in the same cluster, blobs in different ones
    val cA = blobA.map(b => out(b._1)).distinct
    val cB = blobB.map(b => out(b._1)).distinct
    assert(cA.size == 1 && cB.size == 1 && cA.head != cB.head,
           s"blob clusters A=$cA B=$cB")
    // centroids land on the planted means (exact-BIGINT update path)
    val cents = Similarity.kmeansCentroids(df, "embedding", dim = 4,
                                           k = 2, iters = 3)
    val near = (m: Double) => cents.exists(_.forall(c =>
      math.abs(c - m) < 0.1))
    assert(near(5.0) && near(-5.0),
           s"centroids ${cents.map(_.mkString(",")).mkString(" | ")}")
  }

  test("kmeans: null and ragged embeddings are guarded out of the fit") {
    val spark = TestSpark.spark
    import spark.implicits._
    val good = (0 until 20).map(i => (i.toLong, Array.fill(4)(1.0 + i)))
    val bad = Seq((100L, null.asInstanceOf[Array[Double]]),
                  (101L, Array(1.0, 2.0))) // short vector
    val df = (good ++ bad).toDF("vec_id", "embedding")
    // fit must not NPE on the driver; centroids equal the clean-only fit
    val withBad = Similarity.kmeansCentroids(df, "embedding", dim = 4,
                                             k = 2, iters = 2)
    val cleanOnly = Similarity.kmeansCentroids(good.toDF("vec_id",
        "embedding"), "embedding", dim = 4, k = 2, iters = 2)
    assert(withBad.zip(cleanOnly).forall { case (a, b) =>
      a.sameElements(b) })
  }

  test("kmeansOutliers flags the planted far point; exact and approx " +
       "paths agree away from the threshold") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // tight blob + one planted far point per cluster-ish region
    val blob = (0 until 99).map(i =>
      (i.toLong, Array.fill(4)(1.0 + 0.01 * rnd.nextGaussian())))
    val far = Seq((999L, Array.fill(4)(3.5)))
    val df = (blob ++ far).toDF("vec_id", "embedding")
    val out = Similarity.kmeansOutliers(df, "embedding", "vec_id",
        dim = 4, k = 2, iters = 3, frac = 0.01)
      .select("vec_id", "cluster", "d2", "is_outlier").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2),
                                 r.getBoolean(3))).toMap
    // the far point must be flagged within its cluster (it ranks first
    // by d2 wherever it lands)
    assert(out(999L)._3, out(999L).toString)
    // exactly ceil(0.01 * n) flags per cluster
    val flagsByCluster = out.values.groupBy(_._1)
      .map { case (c, vs) => c -> (vs.size, vs.count(_._3)) }
    flagsByCluster.foreach { case (c, (n, f)) =>
      assert(f == math.ceil(
               BigDecimal(n * 0.01).setScale(9,
                 BigDecimal.RoundingMode.HALF_UP).toDouble).toInt,
             s"cluster $c: n=$n flagged=$f")
    }
    // d2 is nonnegative and integer-exact (longs)
    assert(out.values.forall(_._2 >= 0L))
    // approx path agrees on the unambiguous planted point
    val approx = Similarity.kmeansOutliers(df, "embedding", "vec_id",
        dim = 4, k = 2, iters = 3, frac = 0.01, approx = true)
      .where(col("vec_id") === 999L).select("is_outlier")
      .collect()(0).getBoolean(0)
    assert(approx)
  }

  test("kmeans: empty clusters keep their seed centroid; iters=0 is " +
       "pure seed assignment; runs are deterministic") {
    val spark = TestSpark.spark
    import spark.implicits._
    // one point: k=4 leaves >= 3 cells empty every round
    val df = Seq((1L, Array.fill(4)(0.25))).toDF("vec_id", "embedding")
    // the fit's domain is the 1e-6-quantized seed, so "unchanged" means
    // equal to the de-quantized quantized seed, not the raw doubles
    val seed = Similarity.portableCentroidsQ(4, 4).map(_.map(_ / 1e6))
    val after = Similarity.kmeansCentroids(df, "embedding", dim = 4,
                                           k = 4, iters = 2)
    val moved = after.indices.count(i =>
      !after(i).sameElements(seed(i)))
    assert(moved == 1, s"exactly the occupied cell moves; moved=$moved")
    // determinism: a second identical run yields bit-identical centroids
    val again = Similarity.kmeansCentroids(df, "embedding", dim = 4,
                                           k = 4, iters = 2)
    assert(after.indices.forall(i => after(i).sameElements(again(i))))
    // iters=0: assignment against the raw seed
    val a0 = Similarity.kmeansPortable(df, "embedding", dim = 4,
                                       k = 4, iters = 0)
      .select("cluster").collect()
    assert(a0.length == 1)
  }
}
