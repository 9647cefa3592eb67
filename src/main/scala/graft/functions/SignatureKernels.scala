package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the document-signature hot path.
  *
  * The declarative forms ([[graft.operators.Dedup.minHashFromHashes]]
  * etc.) are higher-order-function folds — correct and portable, but
  * interpreted per lambda step: measured ~2.4k docs/s for a 16-hash
  * minhash at 1M docs, which at 100 TB would make signature
  * generation the pipeline bottleneck. These
  * expressions compute the identical values (spec-asserted against the
  * declarative forms; the DuckDB oracles are unchanged) in tight
  * primitive loops via `doGenCode`.
  */
object SignatureKernels {
  /** Max int64 value of `len` hex digits starting at 1-based `start`
    * of the md5 hex digest.
    */
  private def hexSlice(md5Hex: Array[Byte], start: Int, len: Int): Long = {
    var acc = 0L
    var i = start - 1
    val end = start - 1 + len
    while (i < end) {
      val c = md5Hex(i)
      acc = acc * 16 + (if (c >= 'a') c - 'a' + 10 else c - '0')
      i += 1
    }
    acc
  }

  private val hexDigits = "0123456789abcdef".getBytes

  private val md5Instance =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** md5 hex digest bytes of `s` — identical to Spark's `md5(string)`
    * output (UTF-8 bytes in, lowercase hex out). Thread-local digest:
    * `getInstance` per call was the measured bottleneck at millions of
    * shingles per second.
    */
  private def md5Hex(s: UTF8String): Array[Byte] = {
    val md = md5Instance.get()
    md.reset()
    val digest = md.digest(s.getBytes)
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((digest(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(digest(i) & 0xf)
      i += 1
    }
    out
  }

  /** (h1, h2) = (first 14 hex digits, next 14 hex digits) of md5 —
    * matches `TextAnalysis.portableHash56`/`portableHash56b`.
    */
  def hashPair(s: UTF8String): (Long, Long) = {
    val h = md5Hex(s)
    (hexSlice(h, 1, 14), hexSlice(h, 15, 14))
  }

  /** Portable 32-bit hash — matches `TextAnalysis.portableHash32`. */
  def hash32(s: UTF8String): Long = hexSlice(md5Hex(s), 1, 8)

  val MinHashMod: Long = 1L << 56

  /** MinHash signature over the strings of `arr`: hash function j =
    * (h1 + j·h2) mod 2^56, empty input → sentinel 2^56 everywhere.
    */
  def minHash(arr: ArrayData, numHashes: Int): ArrayData = {
    val n = arr.numElements()
    val sig = Array.fill(numHashes)(MinHashMod)
    var i = 0
    while (i < n) {
      val (h1, h2) = hashPair(arr.getUTF8String(i))
      var j = 0
      while (j < numHashes) {
        // mod 2^56 as a mask (power-of-2 modulus, operands nonnegative)
        val hj = (h1 + j * h2) & (MinHashMod - 1)
        if (hj < sig(j)) sig(j) = hj
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** 32-bit SimHash over the strings of `arr` (bit-majority of the
    * portable 32-bit token hashes).
    */
  def simHash(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](32)
    var i = 0
    while (i < n) {
      val h = hash32(arr.getUTF8String(i))
      var b = 0
      while (b < 32) {
        if (((h >> b) & 1L) != 0L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var acc = 0L
    var b = 0
    while (b < 32) {
      if (counts(b) > 0) acc += 1L << b
      b += 1
    }
    acc
  }

  /** 64-bit SimHash over the strings of `arr` (bit-majority of the
    * full 16-hex-digit md5-prefix token hashes). `hexSlice` over 16
    * digits wraps into exactly the low 64 bits (two's complement), so
    * the packed value may be negative as a signed long — only the bit
    * pattern matters; band extraction and hamming use unsigned ops.
    * Word q (bits [16q, 16q+16)) is the q-th pigeonhole band: any
    * pair within hamming distance 3 must agree on at least one of
    * the 4 words.
    */
  def simHash64(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = hexSlice(md5Hex(arr.getUTF8String(i)), 1, 16)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) != 0L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var acc = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) acc |= 1L << b
      b += 1
    }
    acc
  }

  /** Distinct 56-bit hashes of the k-token shingles of `arr` — value-
    * identical to `array_distinct(transform(Dedup.shingles(tokens, k),
    * portableHash56))` (space-joined shingles, first-occurrence order)
    * but built in one tight loop: no materialized shingle strings in
    * the row, no interpreted per-element lambda.
    */
  def shingleHashes56(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.HashSet[Long](2 * (n - k + 1))
    val out = new Array[Long](n - k + 1)
    var m = 0
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= n - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(arr.getUTF8String(i + j).toString)
        j += 1
      }
      val h = hexSlice(md5Hex(UTF8String.fromString(sb.toString)), 1, 14)
      if (seen.add(h)) { out(m) = h; m += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }

  /** Positional variant of [[shingleHashes56]]: EVERY k-token window's
    * hash in document order (index i = 0-based window start), no
    * dedup — the span-dedup workload needs occurrence positions, not
    * the distinct set. Same md5-of-space-joined-window hash, so the
    * value at index i equals `portableHash56(join(tokens[i..i+k)))`.
    */
  def shingleHashes56All(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](n - k + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= n - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(arr.getUTF8String(i + j).toString)
        j += 1
      }
      out(i) = hexSlice(md5Hex(UTF8String.fromString(sb.toString)), 1, 14)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Rebuild a document from its tokens MINUS the union of k-token
    * spans at the given sorted 1-based start positions — the interval
    * union and the filter run in ONE two-pointer pass, O(tokens +
    * spans), never materializing covered positions (a wholesale-
    * duplicated doc has ~len spans; exploding each to k positions
    * costs k× the shuffle and the HOF-contains rebuild O(len·cov)).
    * Position p is covered iff some start s satisfies p−k+1 ≤ s ≤ p.
    */
  def filterOutSpans(toks: ArrayData, starts: ArrayData, k: Int): UTF8String = {
    val n = toks.numElements()
    val m = starts.numElements()
    val sb = new java.lang.StringBuilder
    var i = 0
    var j = 0
    var first = true
    while (i < n) {
      val pos = i + 1
      while (j < m && starts.getLong(j) < pos - k + 1) j += 1
      val covered = j < m && starts.getLong(j) <= pos
      if (!covered) {
        if (!first) sb.append(' ')
        sb.append(toks.getUTF8String(i).toString)
        first = false
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** Every k-token window as a space-joined STRING, in document order
    * (no dedup) — the materialized-shingle projection for operators
    * whose OUTPUT is the n-gram text (heavy hitters); one
    * StringBuilder pass instead of an interpreted
    * transform/slice/array_join per window.
    */
  def shingleStrings(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - k + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= n - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(arr.getUTF8String(i + j).toString)
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash signature straight from TOKENS: k-shingles are assembled
    * in-kernel (one StringBuilder, no materialized shingle-string
    * column, no interpreted HOF concat pass) and each distinct shingle
    * feeds the same (h1 + j·h2) mod 2^56 family as [[minHash]] —
    * value-identical to `minHash(shingles(tokens, k), numHashes)`
    * because duplicate shingles cannot change a min.
    */
  def minHashTokens(arr: ArrayData, k: Int, numHashes: Int): ArrayData = {
    val n = arr.numElements()
    val sig = Array.fill(numHashes)(MinHashMod)
    if (n >= k) {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i <= n - k) {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(arr.getUTF8String(i + j).toString)
          j += 1
        }
        val h = md5Hex(UTF8String.fromString(sb.toString))
        val h1 = hexSlice(h, 1, 14)
        val h2 = hexSlice(h, 15, 14)
        var m = 0
        while (m < numHashes) {
          val hm = (h1 + m * h2) & (MinHashMod - 1)
          if (hm < sig(m)) sig(m) = hm
          m += 1
        }
        i += 1
      }
    }
    new GenericArrayData(sig)
  }

  /** Normal form for exact dedup — value-identical to
    * `lower(regexp_replace(trim(text), "\\s+", " "))`: delegate the
    * trim to `UTF8String.trim` (the same call Spark's `trim` makes),
    * collapse runs of Java-`\s` characters ([ \t\n\x0B\f\r] — all
    * ASCII, so a byte-level scan is UTF-8-safe) to one space, then
    * `UTF8String.toLowerCase` (the same call Spark's `lower` makes).
    * One pass, no regex engine.
    */
  def normalize(s: UTF8String): UTF8String = {
    val b = s.trim().getBytes
    val out = new Array[Byte](b.length)
    var i = 0
    var o = 0
    var inWs = false
    while (i < b.length) {
      val c = b(i)
      val ws = c == ' ' || c == '\t' || c == '\n' || c == 0x0b || c == '\f' || c == '\r'
      if (ws) {
        if (!inWs) { out(o) = ' '; o += 1 }
        inWs = true
      } else {
        out(o) = c; o += 1
        inWs = false
      }
      i += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, o)).toLowerCase
  }

  /** Rolling polynomial hash over the strings of `arr` — matches
    * `TextAnalysis.rollingHash`'s fold (init 7, ×31 + h32, mod 2³¹−1).
    */
  def rollingHash(arr: ArrayData): Long = {
    val n = arr.numElements()
    var acc = 7L
    var i = 0
    while (i < n) {
      acc = (acc * 31L + hash32(arr.getUTF8String(i))) % 2147483647L
      i += 1
    }
    acc
  }
}

/** Native normal-form kernel: `string → string`, the regex-free
  * whitespace-collapse + lowercase under [[SignatureKernels.normalize]].
  */
case class NormalizeText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_text"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.simpleString}")
  }
  override def nullSafeEval(s: Any): Any =
    SignatureKernels.normalize(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = SignatureKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $ref.normalize($in);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
object NormalizeText {
  def apply(text: Column): Column =
    Bridge.column(NormalizeText(Bridge.expression(text)))
}

/** Base for unary array<string> kernels with a static-call codegen. */
sealed abstract class StringArrayKernel extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${other.simpleString}")
  }
  /** Java call on the helper object, e.g. `"simHash"`. */
  protected def helperCall(input: String): String
  protected final val helperRef: String =
    SignatureKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = ${helperCall(in)};")
}

/** Native minhash signature: `array<string> → array<long>` (numHashes
  * mins of the portable double-hashing family).
  */
case class MinHashSig(child: Expression, numHashes: Int) extends StringArrayKernel {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def nullSafeEval(arr: Any): Any =
    SignatureKernels.minHash(arr.asInstanceOf[ArrayData], numHashes)
  override protected def helperCall(input: String): String =
    s"$helperRef.minHash($input, $numHashes)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native 64-bit simhash: `array<string> → bigint` — the packed
  * 4×16-bit pigeonhole-band form (value may be negative; bit pattern
  * is what matters).
  */
case class SimHash64(child: Expression) extends StringArrayKernel {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override def nullSafeEval(arr: Any): Any =
    SignatureKernels.simHash64(arr.asInstanceOf[ArrayData])
  override protected def helperCall(input: String): String =
    s"$helperRef.simHash64($input)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native 32-bit simhash: `array<string> → bigint`. */
case class SimHash32(child: Expression) extends StringArrayKernel {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash32"
  override def nullSafeEval(arr: Any): Any =
    SignatureKernels.simHash(arr.asInstanceOf[ArrayData])
  override protected def helperCall(input: String): String =
    s"$helperRef.simHash($input)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused tokens→minhash: `array<string> → array<long>` with shingling
  * done in-kernel (no shingle-string column, no HOF concat pass).
  */
case class MinHashSigTokens(child: Expression, k: Int, numHashes: Int)
    extends StringArrayKernel {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig_tokens"
  override def nullSafeEval(arr: Any): Any =
    SignatureKernels.minHashTokens(arr.asInstanceOf[ArrayData], k, numHashes)
  override protected def helperCall(input: String): String =
    s"$helperRef.minHashTokens($input, $k, $numHashes)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native distinct shingle hashes: `array<string> → array<long>`
  * (56-bit portable hashes of the k-token shingles).
  */
case class ShingleHashes56(child: Expression, k: Int) extends StringArrayKernel {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes56"
  override def nullSafeEval(arr: Any): Any =
    SignatureKernels.shingleHashes56(arr.asInstanceOf[ArrayData], k)
  override protected def helperCall(input: String): String =
    s"$helperRef.shingleHashes56($input, $k)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Two-pointer span-drop reassembly: `(array<string> tokens,
  * array<bigint> sorted 1-based span starts) → string` of the tokens
  * surviving the k-span union, space-joined.
  */
case class FilterOutSpans(left: Expression, right: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"filter_out_spans expects (array<string>, array<bigint>), got $other")
    }
  override def dataType: DataType = StringType
  override def prettyName: String = "filter_out_spans"
  override def nullSafeEval(a: Any, b: Any): Any =
    SignatureKernels.filterOutSpans(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helperRef = SignatureKernels.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = $helperRef.filterOutSpans($x, $y, $k);")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object FilterOutSpans {
  def apply(toks: Column, sortedStarts: Column, k: Int): Column =
    Bridge.column(FilterOutSpans(
      Bridge.expression(toks), Bridge.expression(sortedStarts), k))
}

/** Positional (non-dedup) shingle strings: `array<string> →
  * array<string>`, index = 0-based window start, space-joined.
  */
case class ShingleStrings(child: Expression, k: Int) extends StringArrayKernel {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_strings"
  override def nullSafeEval(arr: Any): Any =
    SignatureKernels.shingleStrings(arr.asInstanceOf[ArrayData], k)
  override protected def helperCall(input: String): String =
    s"$helperRef.shingleStrings($input, $k)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleStrings {
  def apply(tokens: Column, k: Int): Column =
    Bridge.column(ShingleStrings(Bridge.expression(tokens), k))
}

/** Positional (non-dedup) shingle hashes: `array<string> →
  * array<bigint>`, index = 0-based window start.
  */
case class ShingleHashesAll56(child: Expression, k: Int) extends StringArrayKernel {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes_all56"
  override def nullSafeEval(arr: Any): Any =
    SignatureKernels.shingleHashes56All(arr.asInstanceOf[ArrayData], k)
  override protected def helperCall(input: String): String =
    s"$helperRef.shingleHashes56All($input, $k)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native rolling polynomial hash: `array<string> → bigint`. */
case class RollingHash32(child: Expression) extends StringArrayKernel {
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash32"
  override def nullSafeEval(arr: Any): Any =
    SignatureKernels.rollingHash(arr.asInstanceOf[ArrayData])
  override protected def helperCall(input: String): String =
    s"$helperRef.rollingHash($input)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  def apply(shingles: Column, numHashes: Int): Column =
    Bridge.column(MinHashSig(Bridge.expression(shingles), numHashes))
}
object SimHash32 {
  def apply(tokens: Column): Column =
    Bridge.column(SimHash32(Bridge.expression(tokens)))
}
object SimHash64 {
  def apply(tokens: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(tokens)))
}
object RollingHash32 {
  def apply(tokens: Column): Column =
    Bridge.column(RollingHash32(Bridge.expression(tokens)))
}
object ShingleHashes56 {
  def apply(tokens: Column, k: Int): Column =
    Bridge.column(ShingleHashes56(Bridge.expression(tokens), k))
}
object ShingleHashesAll56 {
  def apply(tokens: Column, k: Int): Column =
    Bridge.column(ShingleHashesAll56(Bridge.expression(tokens), k))
}
object MinHashSigTokens {
  def apply(tokens: Column, k: Int, numHashes: Int): Column =
    Bridge.column(MinHashSigTokens(Bridge.expression(tokens), k, numHashes))
}
