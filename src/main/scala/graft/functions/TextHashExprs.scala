package graft.functions

import org.apache.spark.sql.{Column, GraftExpressionBridge => ExpressionUtils}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text-hash kernels as custom Catalyst expressions.
  *
  * The composable higher-order-function formulations in
  * `graft.pipeline.Dedup` are the semantic reference (and remain as
  * test oracles), but HOF lambdas are interpreted element-by-element:
  * a k-slot one-permutation minhash costs O(shingles x k) closure
  * dispatches per document. These expressions compute identical results
  * in one JIT-compiled pass per row — O(len + k) for minhash,
  * O(tokens x 64) primitive ops for simhash — with zero per-shingle
  * allocations (shingles are hashed as byte slices of the input
  * `UTF8String`, never materialized).
  *
  * Hash function matches `functions.xxhash64` (XXH64, seed 42) so
  * signatures are interchangeable with the HOF pipeline's.
  */
object TextHashExprs {
  private[functions] val Seed = 42L

  // portable polynomial hash parameters (Rabin-Karp over code points) —
  // plain 64-bit modular arithmetic, reproducible in any SQL engine (the
  // correctness oracle mirrors them; same family as
  // `TextAnalysis.rollingFingerprint`)
  private[functions] val P1 = 1000000007L // base 131
  private[functions] val P2 = 998244353L  // base 137

  def minhashSig(norm: Column, shingleLen: Int, k: Int,
                 portable: Boolean = false): Column =
    ExpressionUtils.column(
      MinHashSigExpr(ExpressionUtils.expression(norm), shingleLen, k,
                     portable))

  def simhash64(norm: Column, portable: Boolean = false): Column =
    ExpressionUtils.column(
      SimHash64Expr(ExpressionUtils.expression(norm), portable))

  /** [top_bigram_frac, dup_trigram_frac] word-repetition kernel — same
    * values as `graft.HofReferences.repetitionFeatures` (parity-tested) in
    * one pass instead of four interpreted HOF traversals per row. */
  def repetitionStats(text: Column): Column =
    ExpressionUtils.column(
      RepetitionStatsExpr(ExpressionUtils.expression(text)))

  /** Distinct word n-gram hashes of a NORMALIZED (single-space) text —
    * same values as
    * `Dedup.shingleHashes(Dedup.wordShinglesOf(split(norm, " "), n))`
    * (parity-tested, first-occurrence order) in one codegen'd pass:
    * each gram is hashed as a byte window of the input `UTF8String`,
    * never materialized as a string, and the interpreted HOF lambda
    * (plus its projection-collapse re-evaluation of upstream regexes
    * per element) disappears. */
  def wordGramHashes(norm: Column, n: Int,
                     portable: Boolean = false): Column =
    ExpressionUtils.column(
      WordGramHashesExpr(ExpressionUtils.expression(norm), n, portable))

  /** Single-pass language-ID kernel — same result as the HOF
    * formulation in `graft.HofReferences.langId` (parity-tested): CJK char
    * anywhere -> "zh", else the language (in `langs` order) with the
    * most DISTINCT stopword hits over the whitespace tokens of the
    * lowercased text, "und" when no hits. The HOF chain re-tokenizes
    * per language and duplicates the hit expressions inside the
    * argmax-when chain (~12 split+intersect evaluations per row); this
    * tokenizes once and scores every language together. */
  def langId(text: Column, langs: Seq[(String, Seq[String])]): Column =
    ExpressionUtils.column(LangIdExpr(ExpressionUtils.expression(text),
                                      langs))

  /** Code points of a string (surrogate pairs combined) — the unit the
    * portable hashes fold over, matching SQL `unicode()` per character. */
  private[functions] def codePoints(s: String): Array[Int] = {
    val out = new Array[Int](s.codePointCount(0, s.length))
    var i = 0
    var j = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      out(j) = cp
      j += 1
      i += Character.charCount(cp)
    }
    out
  }

  /** h = fold(h * base + cp) mod m over code points, h0 = 0. */
  private[functions] def polyHash(cps: Array[Int], from: Int, len: Int,
                                  base: Long, mod: Long): Long = {
    var h = 0L
    var i = from
    val end = from + len
    while (i < end) {
      h = (h * base + cps(i)) % mod
      i += 1
    }
    h
  }
}

/** One-permutation-hashing minhash signature of character shingles
  * (`Dedup.minhashSignatureFromHashes` over `Dedup.shinglesOf`
  * semantics): shingle s's base hash h lands in slot pmod(h, k); each
  * slot keeps its minimum, empty slots densify to the global minimum.
  * Strings shorter than `shingleLen` contribute the whole string as one
  * shingle. Duplicate shingles cannot change a minimum, so no distinct
  * pass is needed. `portable = true` swaps XXH64 for the Rabin-Karp
  * polynomial hash over code points (base 131 mod 1e9+7) so an external
  * SQL oracle can replicate signatures bit-exactly; the slot/min/densify
  * structure is identical.
  */
final case class MinHashSigExpr(child: Expression, shingleLen: Int, k: Int,
                                portable: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override protected def withNewChildInternal(newChild: Expression)
      : MinHashSigExpr = copy(child = newChild)

  /** Kernel entry for generated code — keeps the expression inside
    * whole-stage codegen instead of a row-materializing fallback. */
  def kernel(s: UTF8String): GenericArrayData =
    nullSafeEval(s).asInstanceOf[GenericArrayData]

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mhExpr", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]

    val slots = Array.fill(k)(Long.MaxValue)
    var globalMin = Long.MaxValue

    // every input branch below calls accept() at least once (the empty
    // string hashes as one short shingle), so globalMin is always set
    // and the densify pass always yields a full k-slot signature
    @inline def accept(h: Long): Unit = {
      val m = h % k
      val slot = (if (m < 0) m + k else m).toInt
      if (h < slots(slot)) slots(slot) = h
      if (h < globalMin) globalMin = h
    }

    if (portable) {
      val cps = TextHashExprs.codePoints(s.toString)
      val n = cps.length
      if (n < shingleLen) {
        accept(TextHashExprs.polyHash(cps, 0, n, 131L, TextHashExprs.P1))
      } else {
        var c = 0
        val last = n - shingleLen
        while (c <= last) {
          accept(TextHashExprs.polyHash(cps, c, shingleLen, 131L,
                                        TextHashExprs.P1))
          c += 1
        }
      }
    } else {
      val base = s.getBaseObject
      val offset = s.getBaseOffset
      val nBytes = s.numBytes
      // char-start byte offsets (shingles are CHARACTER n-grams; hashing
      // byte windows directly would break on multi-byte UTF-8)
      val nChars = s.numChars()
      if (nChars < shingleLen) {
        accept(XXH64.hashUnsafeBytes(base, offset, nBytes,
                                     TextHashExprs.Seed))
      } else {
        val charOff = new Array[Int](nChars + 1)
        var i = 0
        var b = 0
        while (b < nBytes) {
          charOff(i) = b
          b += UTF8String.numBytesForFirstByte(
            org.apache.spark.unsafe.Platform.getByte(base, offset + b))
          i += 1
        }
        charOff(nChars) = nBytes
        var c = 0
        val last = nChars - shingleLen
        while (c <= last) {
          val from = charOff(c)
          val len = charOff(c + shingleLen) - from
          accept(XXH64.hashUnsafeBytes(base, offset + from, len,
                                       TextHashExprs.Seed))
          c += 1
        }
      }
    }

    var j = 0
    while (j < k) {
      if (slots(j) == Long.MaxValue) slots(j) = globalMin
      j += 1
    }
    new GenericArrayData(slots)
  }
}

/** Distinct word n-gram hashes over a single-space-separated text (see
  * `TextHashExprs.wordGramHashes`). Tokenization matches
  * `split(norm, " ")` keeping empty tokens; fewer than n tokens yields
  * the whole string as one gram (`concat_ws(" ", tokens)` rejoins to
  * the input exactly, empty tokens included); otherwise every n-token
  * window is a gram. Because the joiner equals the separator, each gram
  * IS a byte window of the input, so the default hash is
  * `XXH64.hashUnsafeBytes` over that window (identical to
  * `xxhash64(gram_string)`); `portable = true` swaps in the Rabin-Karp
  * polynomial hash over code points (base 131 mod 1e9+7, matching
  * `MinHashSigExpr`) for external-SQL replay. Output keeps
  * first-occurrence order (`array_distinct` semantics).
  */
final case class WordGramHashesExpr(child: Expression, n: Int,
                                    portable: Boolean = false)
    extends UnaryExpression {

  require(n >= 1, s"gram length must be >= 1; got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_word_gram_hashes"

  override protected def withNewChildInternal(newChild: Expression)
      : WordGramHashesExpr = copy(child = newChild)

  /** Kernel entry for generated code (see MinHashSigExpr.kernel). */
  def kernel(s: UTF8String): GenericArrayData =
    nullSafeEval(s).asInstanceOf[GenericArrayData]

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wgExpr", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    // token boundaries as offsets into the hash unit (bytes for XXH64,
    // code points for the portable polynomial hash — the ASCII space
    // separator is one unit in both)
    val (unitLen, isSpace, hashWindow) =
      if (portable) {
        val cps = TextHashExprs.codePoints(s.toString)
        (cps.length,
         (i: Int) => cps(i) == ' '.toInt,
         (from: Int, to: Int) =>
           TextHashExprs.polyHash(cps, from, to - from, 131L,
                                  TextHashExprs.P1))
      } else {
        val base = s.getBaseObject
        val offset = s.getBaseOffset
        (s.numBytes,
         (i: Int) => org.apache.spark.unsafe.Platform
           .getByte(base, offset + i) == ' ',
         (from: Int, to: Int) =>
           XXH64.hashUnsafeBytes(base, offset + from, to - from,
                                 TextHashExprs.Seed))
      }

    var nTok = 1
    var b = 0
    while (b < unitLen) {
      if (isSpace(b)) nTok += 1
      b += 1
    }
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var t = 0
    starts(0) = 0
    b = 0
    while (b < unitLen) {
      if (isSpace(b)) {
        ends(t) = b
        t += 1
        starts(t) = b + 1
      }
      b += 1
    }
    ends(t) = unitLen

    val nGrams = if (nTok < n) 1 else nTok - n + 1
    val seen = new java.util.HashSet[java.lang.Long](nGrams * 2)
    val out = new scala.collection.mutable.ArrayBuffer[Long](nGrams)
    if (nTok < n) {
      val h = hashWindow(0, unitLen)
      seen.add(h)
      out += h
    } else {
      var i = 0
      while (i <= nTok - n) {
        val h = hashWindow(starts(i), ends(i + n - 1))
        if (seen.add(h)) out += h
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }
}

/** 64-bit SimHash over single-space-separated tokens (`Dedup.simhash`
  * semantics): each token's xxhash64 votes +1/-1 per bit position;
  * output bit i is set when votes(i) > 0. Tokens are NOT deduplicated
  * (repeated tokens vote repeatedly), matching `split(norm, " ")`.
  * `portable = true` swaps xxhash64 for a 60-bit pair of Rabin-Karp
  * polynomial hashes over code points — (h131 mod 1e9+7) << 30 |
  * (h137 mod 998244353) — reproducible by an external SQL oracle (bits
  * 60..63 then never vote positive; a 60-bit signature is still far
  * beyond the vote resolution SimHash needs).
  */
final case class SimHash64Expr(child: Expression,
                               portable: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override protected def withNewChildInternal(newChild: Expression)
      : SimHash64Expr = copy(child = newChild)

  /** Kernel entry for generated code (see MinHashSigExpr.kernel). */
  def kernel(s: UTF8String): Long = nullSafeEval(s).asInstanceOf[Long]

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shExpr", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val votes = new Array[Int](64)

    @inline def vote(h: Long): Unit = {
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
    }

    if (portable) {
      // split(" ") semantics incl. empty tokens (leading/trailing/double
      // spaces cannot occur post-normalizeText, but empty input yields
      // one empty token hashing to 0 — mirrored by the SQL oracle)
      val str = s.toString
      var tokStart = 0
      var done = false
      while (!done) {
        val sp = str.indexOf(' ', tokStart)
        val tokEnd = if (sp < 0) str.length else sp
        val cps = TextHashExprs.codePoints(str.substring(tokStart, tokEnd))
        val h1 = TextHashExprs.polyHash(cps, 0, cps.length, 131L,
                                        TextHashExprs.P1)
        val h2 = TextHashExprs.polyHash(cps, 0, cps.length, 137L,
                                        TextHashExprs.P2)
        vote((h1 << 30) | h2)
        if (sp < 0) done = true else tokStart = sp + 1
      }
    } else {
      val base = s.getBaseObject
      val offset = s.getBaseOffset
      val nBytes = s.numBytes
      var tokStart = 0
      var b = 0
      while (b <= nBytes) {
        val atEnd = b == nBytes
        if (atEnd ||
            org.apache.spark.unsafe.Platform.getByte(base, offset + b)
              == ' ') {
          // token = bytes [tokStart, b) — split(" ") keeps empty tokens
          vote(XXH64.hashUnsafeBytes(base, offset + tokStart, b - tokStart,
                                     TextHashExprs.Seed))
          tokStart = b + 1
        }
        b += 1
      }
    }

    var sig = 0L
    var i = 0
    while (i < 64) {
      if (votes(i) > 0) sig |= (1L << i)
      i += 1
    }
    sig
  }
}

/** Word-repetition statistics in one pass: returns
  * `array(top_bigram_frac, dup_trigram_frac)` where words are
  * `split(trim(text), "\s+")` — exactly the HOF formulation in
  * `graft.HofReferences.repetitionFeatures` (space-only trim like SQL
  * `trim`, Java-regex split like Spark `split`), so the two are
  * interchangeable and parity-tested. The HOF chain re-evaluates the
  * split per feature and sorts the bigram array to find the mode; this
  * kernel tokenizes once and counts with a hash map — O(words) time,
  * no array materialization beyond the token list.
  */
final case class RepetitionStatsExpr(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.DoubleType, containsNull = false)
  override def prettyName: String = "graft_repetition_stats"

  override protected def withNewChildInternal(newChild: Expression)
      : RepetitionStatsExpr = copy(child = newChild)

  /** Kernel entry for generated code (see MinHashSigExpr.kernel). */
  def kernel(s: UTF8String): GenericArrayData =
    nullSafeEval(s).asInstanceOf[GenericArrayData]

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("repExpr", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }

  override def nullSafeEval(input: Any): Any = {
    val raw = input.asInstanceOf[UTF8String].toString
    // SQL trim strips 0x20 only (String.trim would also strip controls)
    var lo = 0
    var hi = raw.length
    while (lo < hi && raw.charAt(lo) == ' ') lo += 1
    while (hi > lo && raw.charAt(hi - 1) == ' ') hi -= 1
    val words = raw.substring(lo, hi).split("\\s+", -1)

    if (words.length < 2)
      return new GenericArrayData(Array(0.0, 0.0))

    val nBi = words.length - 1
    val biCounts = new java.util.HashMap[String, Integer]()
    var best = 0
    var i = 0
    while (i < nBi) {
      val g = words(i) + " " + words(i + 1)
      val c = biCounts.merge(g, 1, (a, b) => a + b)
      if (c > best) best = c
      i += 1
    }
    val top = best.toDouble / nBi

    var dup = 0.0
    if (words.length >= 3) {
      val nTri = words.length - 2
      val tris = new java.util.HashSet[String]()
      i = 0
      while (i < nTri) {
        tris.add(words(i) + " " + words(i + 1) + " " + words(i + 2))
        i += 1
      }
      dup = 1.0 - tris.size.toDouble / nTri
    }
    new GenericArrayData(Array(top, dup))
  }
}

/** One-pass language ID over a fixed stopword table (see
  * `TextHashExprs.langId`). Tokenization matches
  * `split(lower(text), "\s+")` (UTF8String lowercase, Java-regex split
  * keeping empty tokens); hits count DISTINCT stopwords present
  * (`array_intersect` semantics); ties break by `langs` order.
  */
final case class LangIdExpr(child: Expression,
                            langs: Seq[(String, Seq[String])])
    extends UnaryExpression {

  require(langs.size <= 30, "lang bitmask capacity")

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_lang_id"

  override protected def withNewChildInternal(newChild: Expression)
      : LangIdExpr = copy(child = newChild)

  // word -> bitmask of languages containing it (a stopword may belong
  // to several languages, e.g. "de" in both es and fr)
  @transient private lazy val wordMask: java.util.HashMap[String, Integer] =
    {
      val m = new java.util.HashMap[String, Integer]()
      langs.zipWithIndex.foreach { case ((_, words), i) =>
        words.foreach { w =>
          m.merge(w, 1 << i, (a: Integer, b: Integer) => a | b)
        }
      }
      m
    }
  @transient private lazy val langOut: Array[UTF8String] =
    langs.map(l => UTF8String.fromString(l._1)).toArray
  @transient private lazy val zhOut = UTF8String.fromString("zh")
  @transient private lazy val undOut = UTF8String.fromString("und")

  /** Kernel entry for generated code (see MinHashSigExpr.kernel). */
  def kernel(s: UTF8String): UTF8String =
    nullSafeEval(s).asInstanceOf[UTF8String]

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("langIdExpr", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
  }

  override def nullSafeEval(input: Any): Any = {
    // UTF8String.toLowerCase = Spark `lower` exactly
    val str = input.asInstanceOf[UTF8String].toLowerCase.toString
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      if (cp >= 0x4e00 && cp <= 0x9fff) return zhOut
      i += Character.charCount(cp)
    }
    val tokens = str.split("\\s+", -1)
    val counts = new Array[Int](langs.size)
    val seen = new java.util.HashSet[String]()
    var t = 0
    while (t < tokens.length) {
      val m = wordMask.get(tokens(t))
      if (m != null && seen.add(tokens(t))) {
        val mask = m.intValue
        var l = 0
        while (l < counts.length) {
          if ((mask & (1 << l)) != 0) counts(l) += 1
          l += 1
        }
      }
      t += 1
    }
    var best = 0
    var l = 0
    while (l < counts.length) {
      if (counts(l) > best) best = counts(l)
      l += 1
    }
    if (best == 0) undOut
    else {
      var w = 0
      while (counts(w) != best) w += 1
      langOut(w)
    }
  }
}
