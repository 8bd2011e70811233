/* Bridge package: Spark 4 marks AbstractDataType / ExpressionUtils as
 * private[sql], so custom Catalyst expressions live in a subpackage of
 * org.apache.spark.sql (the standard extension pattern). Public API is
 * re-exported through graft.functions.HashFunctions. */
package org.apache.spark.sql.graft

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass kernels for the dedup/text-hashing hot path.
  *
  * The declarative forms (`transform`/`aggregate` higher-order
  * functions over md5) are semantically right but evaluate interpreted:
  * one lambda dispatch + UTF8String hex round-trip per shingle/token.
  * On a 100 TB corpus the shingle set of every document is hashed at
  * least once per dedup pass, so this is the dominant CPU cost of the
  * MinHash/SimHash family. Each kernel below does the identical
  * arithmetic (bit-for-bit — the DuckDB oracles still hash-match) in a
  * single JIT-compiled pass per row, invoked from whole-stage codegen.
  *
  * Semantics preserved exactly (property-checked in HashKernelsSpec):
  *  - hash32(s)   = first 4 bytes of md5(utf8(s)) as an unsigned int
  *  - shingles    = character (code-point) k-grams, distinct in
  *                  first-occurrence order, whole string when len < k
  *  - tokenize    = split on single space, KEEPING empty tokens
  *                  (Spark `split(text, " ")` limit=-1 semantics)
  */
object HashKernels {

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** First 4 md5 bytes of bytes[off, off+len) as an unsigned 32-bit Long
    * — identical to `conv(substring(md5(s), 1, 8), 16, 10)`. */
  def hash32(bytes: Array[Byte], off: Int, len: Int): Long = {
    val d = md5.get()
    d.reset()
    d.update(bytes, off, len)
    val h = d.digest()
    ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
      ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
  }

  /** Code-point start offsets of a UTF-8 byte array (+ end sentinel).
    * One linear scan; ASCII-only strings cost one branch per byte. */
  private def codePointOffsets(bytes: Array[Byte]): Array[Int] = {
    // worst case 1 byte per code point
    val tmp = new Array[Int](bytes.length + 1)
    var n = 0
    var p = 0
    while (p < bytes.length) {
      tmp(n) = p
      p += UTF8String.numBytesForFirstByte(bytes(p))
      n += 1
    }
    tmp(n) = bytes.length
    if (n + 1 == tmp.length) tmp else java.util.Arrays.copyOf(tmp, n + 1)
  }

  /** Distinct character-k-shingle hashes, first-occurrence order.
    * Equivalent to `transform(array_distinct(shingles(text,k)), hash32)`
    * with `shingles` = substr(i, k) for i in 1..max(len-k+1, 1). */
  def shingleHash32(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    val offs = codePointOffsets(bytes)
    val nChars = offs.length - 1
    val n = math.max(nChars - k + 1, 1)
    // capacity clamp before any arithmetic: n can approach Int.MaxValue
    // for GB-scale strings and n * 2 would wrap negative
    val seen = new java.util.HashSet[UTF8String](math.min(n, 1 << 16))
    val out = new Array[Long](n)
    var cnt = 0
    var i = 0
    while (i < n) {
      val start = offs(i)
      val end = offs(math.min(i + k, nChars))
      // zero-copy view over the shared byte array, used only as set key
      val sh = UTF8String.fromBytes(bytes, start, end - start)
      if (seen.add(sh)) {
        out(cnt) = hash32(bytes, start, end - start)
        cnt += 1
      }
      i += 1
    }
    new GenericArrayData(
      if (cnt == n) out else java.util.Arrays.copyOf(out, cnt))
  }

  /** hash32 of every space-separated token (empties kept, no dedup) —
    * equivalent to `transform(split(text, " "), hash32)`. Space is a
    * single byte in UTF-8 and never a continuation byte, so the byte
    * scan is code-point safe. */
  def tokenHash32(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    var nTok = 1
    var p = 0
    while (p < bytes.length) { if (bytes(p) == ' ') nTok += 1; p += 1 }
    val out = new Array[Long](nTok)
    var start = 0
    var t = 0
    p = 0
    while (p < bytes.length) {
      if (bytes(p) == ' ') {
        out(t) = hash32(bytes, start, p - start)
        t += 1
        start = p + 1
      }
      p += 1
    }
    out(t) = hash32(bytes, start, bytes.length - start)
    new GenericArrayData(out)
  }

  /** Order-insensitive 61-bit fingerprint: left-fold
    * (acc + tokenHash) % (2^61 - 1) — same fold order as the
    * `aggregate` HOF twin. */
  val FingerprintMod: Long = 2305843009213693951L
  def contentFingerprint(s: UTF8String): Long = {
    val bytes = s.getBytes
    var acc = 0L
    var start = 0
    var p = 0
    while (p < bytes.length) {
      if (bytes(p) == ' ') {
        acc = (acc + hash32(bytes, start, p - start)) % FingerprintMod
        start = p + 1
      }
      p += 1
    }
    (acc + hash32(bytes, start, bytes.length - start)) % FingerprintMod
  }

  /** Redact every match of `p` with `repl` AND count the matches in
    * ONE regex pass — the declarative form pays two full scans per row
    * (`split` for the count, `regexp_replace` for the text), and regex
    * cost dominates a compliance sweep. Matches `regexp_replace` +
    * `size(split(s, p, -1)) - 1` exactly: split-with-keep-empties
    * yields n_matches + 1 pieces, and no redaction pattern here can
    * match empty. */
  def regexRedact(s: UTF8String, p: java.util.regex.Pattern,
                  repl: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val str = s.toString
    val m = p.matcher(str)
    var n = 0L
    var last = 0
    var sb: java.lang.StringBuilder = null
    val r = repl.toString
    while (m.find()) {
      if (sb == null) sb = new java.lang.StringBuilder(str.length)
      sb.append(str, last, m.start()).append(r)
      last = m.end()
      n += 1
    }
    val out =
      if (n == 0) s // zero matches: hand back the input, no copy
      else UTF8String.fromString(sb.append(str, last, str.length).toString)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, out))
  }

  // MinHash coefficient table — single source of truth is
  // graft.functions.HashFunctions.MinHashCoeffs; flattened here into
  // primitive arrays for the inner loop.
  private lazy val coeffA: Array[Long] =
    graft.functions.HashFunctions.MinHashCoeffs.map(_._1).toArray
  private lazy val coeffB: Array[Long] =
    graft.functions.HashFunctions.MinHashCoeffs.map(_._2).toArray
  private lazy val minHashP: Long = graft.functions.HashFunctions.MinHashPrime

  /** All MinHash signature values in ONE pass over the hash array —
    * sig(j) = min over h of (h*a_j + b_j) mod p. Returns null for an
    * empty input (array_min of an empty array is null in the HOF twin). */
  def minHashSigs(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val m = coeffA.length
    val mins = new Array[Long](m)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < m) {
        val v = (h * coeffA(j) + coeffB(j)) % minHashP
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  // Disjoint refinement coefficient family — single source of truth is
  // graft.functions.HashFunctions.MinHashExtraCoeffs.
  private lazy val extraA: Array[Long] =
    graft.functions.HashFunctions.MinHashExtraCoeffs.map(_._1).toArray
  private lazy val extraB: Array[Long] =
    graft.functions.HashFunctions.MinHashExtraCoeffs.map(_._2).toArray

  /** Refinement bits for hot LSH band keys, ONE pass over the shingle
    * hash array: bit j = low bit of min over h of (h·a'_j + b'_j) mod p
    * with the DISJOINT MinHashExtraCoeffs family (16 bits packed into
    * one long; callers mask to the observed-population width). Exact
    * duplicates always agree; near-dups at Jaccard J agree per bit with
    * probability ≥ (1+J)/2. Empty input → 0. */
  def minHashExtraBits(arr: ArrayData): Long = {
    val n = arr.numElements()
    if (n == 0) return 0L
    val m = extraA.length
    val mins = new Array[Long](m)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < m) {
        val v = (h * extraA(j) + extraB(j)) % minHashP
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    var bits = 0L
    var j = 0
    while (j < m) {
      bits |= (mins(j) & 1L) << j
      j += 1
    }
    bits
  }

  /** Per-document repetition statistics in ONE pass over the raw text:
    * (n_tokens, n_distinct, top_share_bp) where tokens are
    * single-space-separated (empties kept, matching `split(text, " ")`)
    * and top_share_bp = most-frequent-token count * 10000 div n_tokens
    * (integer division, same as the groupBy twin). The token counts of
    * a document are a row-local statistic — every token lives inside
    * its own row — so computing them here removes the full-corpus
    * explode+shuffle the declarative twin pays: at 100 TB that twin
    * shuffles every token of every document twice; this kernel
    * shuffles nothing. Scratch space is one hash map over zero-copy
    * UTF8String views of the row's own bytes. */
  def repetitionStats(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = s.getBytes
    val counts = new java.util.HashMap[UTF8String, Array[Int]]()
    var nTokens = 0L
    var maxN = 0
    var start = 0
    var p = 0
    while (p <= bytes.length) {
      if (p == bytes.length || bytes(p) == ' ') {
        // zero-copy view over the shared byte array, used only as map key
        val tok = UTF8String.fromBytes(bytes, start, p - start)
        val c = counts.get(tok)
        val n = if (c == null) { counts.put(tok, Array(1)); 1 }
                else { c(0) += 1; c(0) }
        if (n > maxN) maxN = n
        nTokens += 1
        start = p + 1
      }
      p += 1
    }
    // nTokens >= 1 always: split of "" is one empty token
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTokens, counts.size.toLong, maxN.toLong * 10000L / nTokens))
  }

  /** 32-bit SimHash from a token-hash array in one pass: bit b set iff
    * sum over hashes of ((h>>b & 1)*2 - 1) is positive. Empty input
    * yields 0 (all votes zero), like the HOF twin. */
  def simHash32(arr: ArrayData): Long = {
    val votes = new Array[Int](32)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 32) {
        votes(b) += (((h >> b) & 1L) * 2 - 1).toInt
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 32) {
      if (votes(b) > 0) fp |= 1L << b
      b += 1
    }
    fp
  }

  /** 64-bit token hash: md5 bytes 4-7 in the high half, bytes 0-3 in
    * the low half (the low half IS [[hash32]], so the 32-bit twins
    * keep matching). Split keeps every DuckDB-side computation inside
    * signed-BIGINT range: the oracle carries (hi, lo) as two unsigned
    * 32-bit values and never casts a full unsigned 64-bit literal. */
  def hash64(bytes: Array[Byte], off: Int, len: Int): Long = {
    val d = md5.get()
    d.reset()
    d.update(bytes, off, len)
    val h = d.digest()
    val lo = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
      ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
    val hi = ((h(4) & 0xffL) << 24) | ((h(5) & 0xffL) << 16) |
      ((h(6) & 0xffL) << 8) | (h(7) & 0xffL)
    (hi << 32) | lo
  }

  /** array<long> of 64-bit hashes of space-separated tokens. */
  def tokenHash64(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    var nTok = 1
    var p = 0
    while (p < bytes.length) { if (bytes(p) == ' ') nTok += 1; p += 1 }
    val out = new Array[Long](nTok)
    var start = 0
    var t = 0
    p = 0
    while (p < bytes.length) {
      if (bytes(p) == ' ') {
        out(t) = hash64(bytes, start, p - start)
        t += 1
        start = p + 1
      }
      p += 1
    }
    out(t) = hash64(bytes, start, bytes.length - start)
    new GenericArrayData(out)
  }

  /** 64-bit SimHash from a 64-bit token-hash array — the at-scale
    * fingerprint width: 32 bits put unrelated short documents within
    * hamming 3 of each other often enough that the near-dup OUTPUT
    * grows quadratically with the corpus (measured, SCALING.md §4.5);
    * at 64 bits the expected random-pair rate at hamming ≤ 3 is
    * ~n²·4.4e4/2^64 — single digits even at 10^6 docs. */
  def simHash64(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 64) {
        votes(b) += (((h >>> b) & 1L) * 2 - 1).toInt
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) fp |= 1L << b
      b += 1
    }
    fp
  }
}

/** array<long> of distinct k-shingle hashes of a string column. */
case class ShingleHash32(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash32"

  override def nullSafeEval(s: Any): Any =
    HashKernels.shingleHash32(s.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.HashKernels.shingleHash32($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHash32 =
    copy(child = newChild)
}

/** array<long> of hashes of space-separated tokens (empties kept). */
case class TokenHash32(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_hash32"

  override def nullSafeEval(s: Any): Any =
    HashKernels.tokenHash32(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.HashKernels.tokenHash32($c);")

  override protected def withNewChildInternal(newChild: Expression): TokenHash32 =
    copy(child = newChild)
}

/** Order-insensitive 61-bit content fingerprint of a string column. */
case class ContentFingerprint(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "content_fingerprint"

  override def nullSafeEval(s: Any): Any =
    HashKernels.contentFingerprint(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.HashKernels.contentFingerprint($c);")

  override protected def withNewChildInternal(newChild: Expression): ContentFingerprint =
    copy(child = newChild)
}

/** Full MinHash signature (one array) from a shingle-hash array. */
case class MinHashSigs(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // empty input -> null signature
  override def prettyName: String = "minhash_sigs"

  override def nullSafeEval(a: Any): Any =
    HashKernels.minHashSigs(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = org.apache.spark.sql.graft.HashKernels.minHashSigs($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)
}

/** Packed refinement bits from a shingle-hash array (see
  * [[HashKernels.minHashExtraBits]]). */
case class MinHashExtraBits(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "minhash_extra_bits"

  override def nullSafeEval(a: Any): Any =
    HashKernels.minHashExtraBits(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.HashKernels.minHashExtraBits($c);")

  override protected def withNewChildInternal(newChild: Expression): MinHashExtraBits =
    copy(child = newChild)
}

/** 32-bit SimHash fingerprint from a token-hash array. */
case class SimHash32(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash32"

  override def nullSafeEval(a: Any): Any =
    HashKernels.simHash32(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.HashKernels.simHash32($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash32 =
    copy(child = newChild)
}

/** array<long> of 64-bit hashes of space-separated tokens. */
case class TokenHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_hash64"

  override def nullSafeEval(s: Any): Any =
    HashKernels.tokenHash64(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.HashKernels.tokenHash64($c);")

  override protected def withNewChildInternal(newChild: Expression): TokenHash64 =
    copy(child = newChild)
}

/** 64-bit SimHash fingerprint from a 64-bit token-hash array. */
case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(a: Any): Any =
    HashKernels.simHash64(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.HashKernels.simHash64($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** struct(n_redacted, redacted) — one-regex-pass redaction of a string
  * column (see [[HashKernels.regexRedact]]). The pattern is compiled
  * once per expression instance at plan time.
  *
  * CONTRACT (enforced at construction): the replacement is appended
  * LITERALLY — unlike `regexp_replace` (Matcher.appendReplacement), no
  * `$n` group references or `\` escapes are interpreted — so both are
  * rejected rather than silently diverging. Patterns that can match the
  * empty string are also rejected: the redact/count loop (and its
  * `size(split(s,p,-1))-1` counting twin) assume every match consumes
  * at least one character. */
case class RegexRedact(child: Expression, pattern: String, replacement: String)
    extends UnaryExpression with ExpectsInputTypes {
  require(!replacement.contains('$') && !replacement.contains('\\'),
    s"regex_redact replacement is literal; '$$'/'\\' would diverge from " +
      s"regexp_replace semantics: '$replacement'")
  require(!java.util.regex.Pattern.compile(pattern).matcher("").find(),
    s"regex_redact pattern must not match the empty string: '$pattern'")
  @transient private lazy val compiled = java.util.regex.Pattern.compile(pattern)
  @transient private lazy val replU = UTF8String.fromString(replacement)

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_redacted", LongType, nullable = false),
    StructField("redacted", StringType, nullable = false)))
  override def prettyName: String = "regex_redact"

  override def nullSafeEval(s: Any): Any =
    HashKernels.regexRedact(s.asInstanceOf[UTF8String], compiled, replU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pat = ctx.addReferenceObj("redactPattern", compiled,
      "java.util.regex.Pattern")
    val rep = ctx.addReferenceObj("redactRepl", replU,
      "org.apache.spark.unsafe.types.UTF8String")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.HashKernels.regexRedact($c, $pat, $rep);")
  }

  override protected def withNewChildInternal(newChild: Expression): RegexRedact =
    copy(child = newChild)
}

/** struct(n_tokens, n_distinct, top_share_bp) repetition statistics of
  * a string column — the zero-shuffle form of the explode→groupBy twin
  * (see [[HashKernels.repetitionStats]]). */
case class RepetitionStats(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_share_bp", LongType, nullable = false)))
  override def prettyName: String = "repetition_stats"

  override def nullSafeEval(s: Any): Any =
    HashKernels.repetitionStats(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graft.HashKernels.repetitionStats($c);")

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

/** Exact squared L2 distance over two array<long> columns — the IVF
  * assignment/probe kernel; inline codegen loop like [[DotProductLong]].
  * Mismatched lengths yield NULL (the `aggregate(zip_with(...))` twin
  * null-pads the shorter side and propagates), so a truncated vector
  * surfaces as a visible null instead of a plausible partial distance. */
/** |a ∩ b| of two SORTED arrays of distinct ints — the LSH Jaccard hot
  * loop. `array_intersect` builds a per-invocation hash set and
  * materializes the intersection ARRAY, and `array_union` repeats both
  * just to take a size; at candidate counts of ~capPop·n/2 (every band
  * bucket saturated at the refinement cap — the 2M-doc regime,
  * SCALING.md §4.6) those per-pair allocations are the entire query.
  * One linear merge computes the cardinality with zero allocation, and
  * |a ∪ b| falls out as |a| + |b| − |a ∩ b| (sets are distinct by
  * construction). Precondition: both arrays ascending-sorted with
  * distinct elements — callers sort once per DOCUMENT before the band
  * explode, not per pair. */
case class SortedInterSize(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(IntegerType), ArrayType(IntegerType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_inter_size"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements(); val nb = y.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val u = x.getInt(i); val v = y.getInt(j)
      if (u == v) { c += 1; i += 1; j += 1 }
      else if (u < v) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val u = ctx.freshName("u"); val v = ctx.freshName("v")
      s"""
         |final int $na = $a.numElements();
         |final int $nb = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $na && $j < $nb) {
         |  final int $u = $a.getInt($i);
         |  final int $v = $b.getInt($j);
         |  if ($u == $v) { $c++; $i++; $j++; }
         |  else if ($u < $v) { $i++; }
         |  else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedInterSize =
    copy(left = newLeft, right = newRight)
}

case class L2SqLong(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "l2sq_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final long $d = $a.getLong($i) - $b.getLong($i);
         |    $s += $d * $d;
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2SqLong =
    copy(left = newLeft, right = newRight)
}

object HashExpressions {
  /** Distinct k-shingle hash set of a text column (codegen'd). */
  def shingle_hash32(text: Column, k: Int): Column =
    ExpressionUtils.column(ShingleHash32(ExpressionUtils.expression(text), k))

  /** Token hash array of a text column (codegen'd). */
  def token_hash32(text: Column): Column =
    ExpressionUtils.column(TokenHash32(ExpressionUtils.expression(text)))

  /** 61-bit content fingerprint of a text column (codegen'd). */
  def content_fingerprint(text: Column): Column =
    ExpressionUtils.column(ContentFingerprint(ExpressionUtils.expression(text)))

  /** One-pass MinHash signature array over a hash-set column. */
  def minhash_sigs(hs: Column): Column =
    ExpressionUtils.column(MinHashSigs(ExpressionUtils.expression(hs)))

  /** Packed hot-band refinement bits over a hash-set column. */
  def minhash_extra_bits(hs: Column): Column =
    ExpressionUtils.column(MinHashExtraBits(ExpressionUtils.expression(hs)))

  /** One-pass 32-bit SimHash over a token-hash column. */
  def simhash32(th: Column): Column =
    ExpressionUtils.column(SimHash32(ExpressionUtils.expression(th)))

  /** array<long> of 64-bit token hashes of a text column. */
  def token_hash64(text: Column): Column =
    ExpressionUtils.column(TokenHash64(ExpressionUtils.expression(text)))

  /** One-pass 64-bit SimHash over a 64-bit token-hash column. */
  def simhash64(th: Column): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(th)))

  /** One-pass struct(n_tokens, n_distinct, top_share_bp) of a text
    * column (codegen'd, zero shuffles). */
  def repetition_stats(text: Column): Column =
    ExpressionUtils.column(RepetitionStats(ExpressionUtils.expression(text)))

  /** One-regex-pass struct(n_redacted, redacted) of a text column. */
  def regex_redact(text: Column, pattern: String, replacement: String): Column =
    ExpressionUtils.column(
      RegexRedact(ExpressionUtils.expression(text), pattern, replacement))

  /** Zero-allocation |a ∩ b| over sorted distinct int arrays. */
  def sorted_inter_size(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedInterSize(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Exact squared L2 over quantized (long) vectors (codegen'd). */
  def l2sq_long(a: Column, b: Column): Column =
    ExpressionUtils.column(L2SqLong(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** `c IN values` as a hash-set lookup over a driver-local value set
    * (String or Long values). Unlike `isin`, whose generated code
    * inlines each literal below the optimizer's InSet threshold, the
    * set is a reference object: a per-batch set of any size reuses
    * one compiled class. Parquet scans still receive it as a pushed
    * `In` filter. */
  def in_set(c: Column, values: Iterable[Any]): Column =
    ExpressionUtils.column(org.apache.spark.sql.catalyst.expressions.InSet(
      ExpressionUtils.expression(c), values.iterator.map {
        case s: String => UTF8String.fromString(s)
        case v => v
      }.toSet))
}
