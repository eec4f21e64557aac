package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native whole-stage-codegen kernels for the text family's hot per-row
 * loops. Each is SEMANTICALLY IDENTICAL to a composable formulation the
 * operators previously used — the kernels exist because those
 * formulations run on Spark's interpreted higher-order-function path
 * (one closure dispatch per element, one UTF8String allocation per
 * intermediate), which at corpus scale IS the scan cost (the MinHashSig
 * precedent). The SQL oracles keep the composable formulation, so every
 * kernel's exactness is hash-checked end to end; TextKernelsSpec
 * additionally pins each kernel to its replaced expression row-for-row.
 *
 *  - ws_tokens(text)            == regexp_extract_all(text, '[^ \t\n\r\f]+', 0)
 *  - ws_gram_md5_hex(toks, n)   == transform(sequence(1, size(toks)-n+1),
 *                                    i -> md5(CAST(concat_ws(' ', slice(toks, i, n)) AS BINARY)))
 *                                  (empty array when size(toks) < n)
 *  - ws_grams(toks, n)          == transform(sequence(1, size(toks)-n+1),
 *                                    i -> concat_ws(' ', slice(toks, i, n)))
 *                                  (empty array when size(toks) < n)
 *  - char_shingles(text, k)     == array_distinct(transform(
 *                                    sequence(1, greatest(length(text)-k+1, 1)),
 *                                    i -> substring(text, i, k)))
 *  - md5_prefix60(bin)          == CAST(conv(substring(md5(bin), 1, 15), 16, 10) AS BIGINT)
 *
 * The five whitespace bytes (0x20 0x09 0x0a 0x0d 0x0c) are all ASCII and
 * UTF-8 multi-byte sequences never contain ASCII bytes, so byte-level
 * splitting is exact on any input (the WsTokenCount precedent).
 */
object TextKernels {

  @inline private def isWs(b: Byte): Boolean =
    b == 32 || b == 9 || b == 10 || b == 13 || b == 12

  /** Maximal non-whitespace byte runs as UTF8String slices (zero-copy
    * over one materialized byte array). */
  def wsTokens(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    var start = -1
    while (i < n) {
      if (isWs(bytes(i))) {
        if (start >= 0) { out.add(UTF8String.fromBytes(bytes, start, i - start)); start = -1 }
      } else if (start < 0) start = i
      i += 1
    }
    if (start >= 0) out.add(UTF8String.fromBytes(bytes, start, n - start))
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  private val HexDigits = "0123456789abcdef".getBytes

  // one MessageDigest per executor thread: getInstance("MD5") walks the
  // JCA provider tables per call, which at one digest PER TOKEN/GRAM is
  // measurable against the ~0.5µs digest itself. digest() resets the
  // instance, so reuse across calls is exact.
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def md5HexOf(bytes: Array[Byte], off: Int, len: Int): UTF8String = {
    val md = md5Local.get()
    md.update(bytes, off, len)
    val d = md.digest()
    val hex = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      hex(2 * i) = HexDigits((d(i) >> 4) & 0xf)
      hex(2 * i + 1) = HexDigits(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(hex)
  }

  /** Gram byte buffers: tokens i..i+n-1 joined by one 0x20, reusing one
    * byte buffer across windows; `emit` turns (buf, len) into the output. */
  private def eachGram(toks: ArrayData, n: Int)(emit: (Array[Byte], Int) => Any): Array[Any] = {
    val m = toks.numElements()
    if (m < n) return Array.empty[Any]
    val ts = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) { ts(i) = toks.getUTF8String(i).getBytes; i += 1 }
    var maxLen = 0
    i = 0
    while (i <= m - n) {
      var l = n - 1
      var j = 0
      while (j < n) { l += ts(i + j).length; j += 1 }
      if (l > maxLen) maxLen = l
      i += 1
    }
    val buf = new Array[Byte](math.max(maxLen, 0))
    val out = new Array[Any](m - n + 1)
    i = 0
    while (i <= m - n) {
      var pos = 0
      var j = 0
      while (j < n) {
        if (j > 0) { buf(pos) = ' '; pos += 1 }
        val t = ts(i + j)
        System.arraycopy(t, 0, buf, pos, t.length)
        pos += t.length
        j += 1
      }
      out(i) = emit(buf, pos)
      i += 1
    }
    out
  }

  /** All n-gram strings (tokens joined by one space) of a token array. */
  def wsGrams(toks: ArrayData, n: Int): ArrayData =
    new GenericArrayData(eachGram(toks, n) { (buf, len) =>
      UTF8String.fromBytes(java.util.Arrays.copyOf(buf, len))
    })

  /** md5 hex of each n-gram string of a token array — one reusable byte
    * buffer, no per-gram string intermediates. */
  def wsGramMd5Hex(toks: ArrayData, n: Int): ArrayData =
    new GenericArrayData(eachGram(toks, n)((buf, len) => md5HexOf(buf, 0, len)))

  /** Distinct k-CHARACTER substrings in first-occurrence order; a text of
    * fewer than k+1 characters yields the single window substring(text,1,k)
    * (possibly shorter / empty), exactly like the composable form. */
  def charShingles(s: UTF8String, k: Int): ArrayData = {
    val nChars = s.numChars()
    if (nChars <= k) // sequence(1, greatest(len-k+1, 1)) == [1]
      return new GenericArrayData(Array[Any](s.substring(0, k)))
    val bytes = s.getBytes
    val nb = bytes.length
    // codepoint byte offsets, one forward walk
    val offs = new Array[Int](nChars + 1)
    var i = 0
    var ci = 0
    while (i < nb) {
      offs(ci) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      ci += 1
    }
    offs(nChars) = nb
    val seen = new java.util.HashSet[UTF8String]()
    val out = new java.util.ArrayList[UTF8String]()
    var w = 0
    while (w + k <= nChars) {
      val sub = UTF8String.fromBytes(bytes, offs(w), offs(w + k) - offs(w))
      if (seen.add(sub)) out.add(sub)
      w += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  /** First 60 bits of the MD5 digest as a non-negative long — the numeric
    * value of the first 15 hex digits. */
  def md5Prefix60(bytes: Array[Byte]): Long = {
    val md = md5Local.get()
    val d = md.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  // ---- expressions -------------------------------------------------

  case class WsTokens(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"ws_tokens requires a string input, got ${dt.simpleString}")
    }
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(s: Any): Any =
      TextKernels.wsTokens(s.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.plans.TextKernels.wsTokens($c)")
    override protected def withNewChildInternal(newChild: Expression): WsTokens =
      copy(child = newChild)
    override def prettyName: String = "ws_tokens"
  }

  case class WsGrams(child: Expression, n: Int) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(_: StringType, _) if n >= 1 => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"ws_grams requires array<string> input and n >= 1, got ${dt.simpleString}, n=$n")
    }
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(a: Any): Any =
      TextKernels.wsGrams(a.asInstanceOf[ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.plans.TextKernels.wsGrams($c, $n)")
    override protected def withNewChildInternal(newChild: Expression): WsGrams =
      copy(child = newChild)
    override def prettyName: String = "ws_grams"
  }

  case class WsGramMd5Hex(child: Expression, n: Int) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(_: StringType, _) if n >= 1 => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"ws_gram_md5_hex requires array<string> input and n >= 1, got ${dt.simpleString}, n=$n")
    }
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(a: Any): Any =
      TextKernels.wsGramMd5Hex(a.asInstanceOf[ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.plans.TextKernels.wsGramMd5Hex($c, $n)")
    override protected def withNewChildInternal(newChild: Expression): WsGramMd5Hex =
      copy(child = newChild)
    override def prettyName: String = "ws_gram_md5_hex"
  }

  case class CharShingles(child: Expression, k: Int) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case _: StringType if k >= 1 => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"char_shingles requires a string input and k >= 1, got ${dt.simpleString}, k=$k")
    }
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(s: Any): Any =
      TextKernels.charShingles(s.asInstanceOf[UTF8String], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.plans.TextKernels.charShingles($c, $k)")
    override protected def withNewChildInternal(newChild: Expression): CharShingles =
      copy(child = newChild)
    override def prettyName: String = "char_shingles"
  }

  case class Md5Prefix60(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"md5_prefix60 requires string or binary input, got ${dt.simpleString}")
    }
    override def dataType: DataType = LongType
    private def isStr = child.dataType.isInstanceOf[StringType]
    override def nullSafeEval(v: Any): Any = v match {
      case u: UTF8String => TextKernels.md5Prefix60(u.getBytes)
      case b: Array[Byte] => TextKernels.md5Prefix60(b)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        if (isStr) s"graft.plans.TextKernels.md5Prefix60($c.getBytes())"
        else s"graft.plans.TextKernels.md5Prefix60($c)")
    override protected def withNewChildInternal(newChild: Expression): Md5Prefix60 =
      copy(child = newChild)
    override def prettyName: String = "md5_prefix60"
  }

  // ---- Column API ---------------------------------------------------

  def ws_tokens(c: Column): Column = Shims.column(WsTokens(Shims.expression(c)))
  def ws_grams(c: Column, n: Int): Column = Shims.column(WsGrams(Shims.expression(c), n))
  def ws_gram_md5_hex(c: Column, n: Int): Column =
    Shims.column(WsGramMd5Hex(Shims.expression(c), n))
  def char_shingles(c: Column, k: Int = 5): Column =
    Shims.column(CharShingles(Shims.expression(c), k))
  def md5_prefix60(c: Column): Column = Shims.column(Md5Prefix60(Shims.expression(c)))
}
