package graft.plans

import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Per-row loops behind the text kernels below — shingles, shingle
  * hashes, md5 MinHash signatures, LSH band keys and token-set counts.
  *
  * Why not Spark's `zip_with`/`filter`/`transform`: higher-order
  * functions are CodegenFallback, so every array element is an
  * interpreted, boxed lambda call, and every MinHash entry a fresh
  * `concat` plus a 32-char hex string. Each kernel here is one plain
  * loop that the expressions call from their generated code, so the
  * projection stays inside whole-stage codegen.
  *
  * Value contract: every kernel returns exactly what the equivalent
  * higher-order chain returns (`TextExpressionsSpec` compares them row
  * by row against `HofTextFunctions`):
  *  - tokens come from `UTF8String.split("\\s+", -1)`, the call Spark's
  *    `split` makes, so leading/trailing whitespace still yields an
  *    empty first/last token;
  *  - a shingle is its n tokens joined by single spaces (the
  *    `concat(a, " ", b)` fold);
  *  - distinct keeps first occurrences, in order (`array_distinct`);
  *  - hashes are xxhash64 with Spark's seed 42 over the UTF-8 bytes, and
  *    a null element hashes to the seed, as `xxhash64(null)` does;
  *  - md5 hashes the UTF-8 bytes of the string `md5` would be given, and
  *    lowercase hex keeps byte order, so the min over raw digests is the
  *    min over their hex strings.
  */
object TextKernels {

  private val Whitespace = UTF8String.fromString("\\s+")
  private val Seed = 42L
  private val Hex = "0123456789abcdef".getBytes(US_ASCII)
  private val Comma = ",".getBytes(US_ASCII)
  private val Md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  private def tokens(text: UTF8String): Array[UTF8String] = text.split(Whitespace, -1)

  /** Byte length of tokens [i, i+n) joined by single spaces. */
  private def joinedLength(tk: Array[UTF8String], i: Int, n: Int): Int = {
    var len = n - 1
    var t = i
    while (t < i + n) { len += tk(t).numBytes; t += 1 }
    len
  }

  /** Writes tokens [i, i+n) joined by single spaces to the front of `out`. */
  private def writeJoined(tk: Array[UTF8String], i: Int, n: Int, out: Array[Byte]): Unit = {
    var off = 0
    var t = i
    while (t < i + n) {
      if (t > i) { out(off) = ' '; off += 1 }
      tk(t).writeToMemory(out, Platform.BYTE_ARRAY_OFFSET + off)
      off += tk(t).numBytes
      t += 1
    }
  }

  /** Word n-gram shingles, in text order; with `distinct`, first
    * occurrences only. Fewer than n tokens give an empty array.
    */
  def shingles(text: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    val tk = tokens(text)
    val m = math.max(tk.length - n + 1, 0)
    val seen = if (distinct) new java.util.HashSet[UTF8String](2 * m) else null
    val out = new Array[Any](m)
    var kept = 0
    var i = 0
    while (i < m) {
      val s = if (n == 1) tk(i) else {
        val bytes = new Array[Byte](joinedLength(tk, i, n))
        writeJoined(tk, i, n, bytes)
        UTF8String.fromBytes(bytes)
      }
      if (!distinct || seen.add(s)) { out(kept) = s; kept += 1 }
      i += 1
    }
    new GenericArrayData(if (kept == m) out else out.take(kept))
  }

  /** Distinct xxhash64 values of the shingles, first occurrences in order
    * (distinct on the hash, as `array_distinct(transform(.., xxhash64))`).
    */
  def shingleHashes(text: UTF8String, n: Int): ArrayData = {
    val tk = tokens(text)
    val h = new Array[Long](math.max(tk.length - n + 1, 0))
    var buf = new Array[Byte](text.numBytes)
    var i = 0
    while (i < h.length) {
      val len = joinedLength(tk, i, n)
      if (buf.length < len) buf = new Array[Byte](len)
      writeJoined(tk, i, n, buf)
      h(i) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, Seed)
      i += 1
    }
    ArrayData.toArrayData(distinctLongs(h))
  }

  /** `h` without repeats, first occurrences in order: open addressing
    * over the already well-mixed hash values.
    */
  private def distinctLongs(h: Array[Long]): Array[Long] = {
    var cap = 2
    while (cap < 2 * h.length) cap <<= 1
    val slot = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    var kept = 0
    var i = 0
    while (i < h.length) {
      val v = h(i)
      var p = (v ^ (v >>> 32)).toInt & (cap - 1)
      while (used(p) && slot(p) != v) p = (p + 1) & (cap - 1)
      if (!used(p)) { used(p) = true; slot(p) = v; h(kept) = v; kept += 1 }
      i += 1
    }
    if (kept == h.length) h else java.util.Arrays.copyOf(h, kept)
  }

  /** xxhash64 of each element of a string array. */
  def hashEach(strings: ArrayData): ArrayData = {
    val h = new Array[Long](strings.numElements())
    var i = 0
    while (i < h.length) {
      h(i) = if (strings.isNullAt(i)) Seed else {
        val s = strings.getUTF8String(i)
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Seed)
      }
      i += 1
    }
    ArrayData.toArrayData(h)
  }

  /** MinHash signature: entry j is min over non-null s of
    * `md5(prefixes(j) ++ s)` as lowercase hex, null when there is no
    * such s (also for a null array). Only the k winning digests are
    * hex-encoded.
    */
  def md5Minhash(strings: ArrayData, prefixes: Array[Array[Byte]]): ArrayData = {
    val k = prefixes.length
    val out = new Array[Any](k)
    val n = if (strings == null) 0 else strings.numElements()
    val md = Md5.get()
    val best = new Array[Byte](16 * k)
    val d = new Array[Byte](16)
    var found = false
    var i = 0
    while (i < n) {
      if (!strings.isNullAt(i)) {
        val s = strings.getUTF8String(i).getBytes
        var j = 0
        while (j < k) {
          md.update(prefixes(j))
          md.update(s)
          md.digest(d, 0, 16)
          if (!found || lessUnsigned(d, best, 16 * j)) System.arraycopy(d, 0, best, 16 * j, 16)
          j += 1
        }
        found = true
      }
      i += 1
    }
    if (found) {
      var j = 0
      while (j < k) { out(j) = hex(Array.emptyByteArray, best, 16 * j); j += 1 }
    }
    new GenericArrayData(out)
  }

  private def lessUnsigned(d: Array[Byte], best: Array[Byte], off: Int): Boolean = {
    var b = 0
    while (b < 16) {
      val x = d(b) & 0xff
      val y = best(off + b) & 0xff
      if (x != y) return x < y
      b += 1
    }
    false
  }

  /** `prefix` followed by the lowercase hex of the 16 bytes at `off`. */
  private def hex(prefix: Array[Byte], digest: Array[Byte], off: Int): UTF8String = {
    val out = java.util.Arrays.copyOf(prefix, prefix.length + 32)
    var b = 0
    while (b < 16) {
      out(prefix.length + 2 * b) = Hex((digest(off + b) >> 4) & 0xf)
      out(prefix.length + 2 * b + 1) = Hex(digest(off + b) & 0xf)
      b += 1
    }
    UTF8String.fromBytes(out)
  }

  /** LSH band keys: key b is `b + "_" + md5hex(entries [b·rows,
    * (b+1)·rows) joined by ",")`, null entries skipped and the range
    * clipped to the array (`concat_ws` over `slice`); a null signature
    * gives every band the md5 of "".
    */
  def md5BandKeys(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val n = if (sig == null) 0 else sig.numElements()
    val md = Md5.get()
    val d = new Array[Byte](16)
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var first = true
      var r = b * rows
      val end = math.min(r + rows, n)
      while (r < end) {
        if (!sig.isNullAt(r)) {
          if (!first) md.update(Comma)
          md.update(sig.getUTF8String(r).getBytes)
          first = false
        }
        r += 1
      }
      md.digest(d, 0, 16)
      out(b) = hex(s"${b}_".getBytes(US_ASCII), d, 0)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Number of non-null elements of `strings` that are in `set`. */
  def countIn(strings: ArrayData, set: java.util.Set[UTF8String]): Int = {
    var c = 0
    var i = 0
    while (i < strings.numElements()) {
      if (!strings.isNullAt(i) && set.contains(strings.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }
}

/** One text kernel as a unary expression: the input check, and both
  * evaluation paths calling the same [[TextKernels]] loop — `eval`
  * directly, generated code through a static call.
  *
  * A kernel is null in → null out unless `nullSafe` is false; then it
  * takes the null input itself and never returns null.
  */
private[plans] trait TextKernel extends UnaryExpression {
  protected def inputType: DataType
  protected def nullSafe: Boolean = true
  /** The kernel applied to the child's value. */
  protected def kernel(input: Any): Any
  /** The same kernel as a Java call on the generated expression `input`. */
  protected def kernelCall(ctx: CodegenContext, input: String): String

  protected final def Kernels: String = TextKernels.getClass.getName.stripSuffix("$")

  override def checkInputDataTypes(): TypeCheckResult = (inputType, child.dataType) match {
    case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
    case (ArrayType(StringType, _), ArrayType(StringType, _)) => TypeCheckResult.TypeCheckSuccess
    case (want, got) => TypeCheckFailure(s"$prettyName needs ${want.simpleString}, got ${got.simpleString}")
  }

  override def nullable: Boolean = nullSafe && child.nullable

  override def eval(input: InternalRow): Any =
    if (nullSafe) super.eval(input) else kernel(child.eval(input))

  override def nullSafeEval(input: Any): Any = kernel(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (nullSafe) defineCodeGen(ctx, ev, c => kernelCall(ctx, c))
    else {
      val c = child.genCode(ctx)
      val call = kernelCall(ctx, s"(${c.isNull} ? null : ${c.value})")
      ev.copy(isNull = FalseLiteral, code = code"""
        |${c.code}
        |${CodeGenerator.javaType(dataType)} ${ev.value} = $call;
        """.stripMargin)
    }
}

/** `graft_shingles(text)` / `graft_shingle_set(text)`: word n-gram
  * shingles of the whitespace tokens, optionally distinct. The element
  * type keeps the higher-order chain's nullability: `n = 1` had no
  * `zip_with`, so its elements are non-null.
  */
case class Shingles(child: Expression, n: Int, distinct: Boolean) extends TextKernel {
  require(n >= 1, s"shingle width must be at least 1, got $n")
  override protected def inputType: DataType = StringType
  override def dataType: DataType = ArrayType(StringType, containsNull = n > 1)
  override def prettyName: String = if (distinct) "graft_shingle_set" else "graft_shingles"
  override protected def kernel(text: Any): Any =
    TextKernels.shingles(text.asInstanceOf[UTF8String], n, distinct)
  override protected def kernelCall(ctx: CodegenContext, text: String): String =
    s"$Kernels.shingles($text, $n, $distinct)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_shingle_hashes(text)`: distinct xxhash64 shingle hashes. */
case class ShingleHashes(child: Expression, n: Int) extends TextKernel {
  require(n >= 1, s"shingle width must be at least 1, got $n")
  override protected def inputType: DataType = StringType
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"
  override protected def kernel(text: Any): Any =
    TextKernels.shingleHashes(text.asInstanceOf[UTF8String], n)
  override protected def kernelCall(ctx: CodegenContext, text: String): String =
    s"$Kernels.shingleHashes($text, $n)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_xxhash64_each(strings)`: xxhash64 of every element. */
case class HashEach(child: Expression) extends TextKernel {
  override protected def inputType: DataType = ArrayType(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_xxhash64_each"
  override protected def kernel(strings: Any): Any =
    TextKernels.hashEach(strings.asInstanceOf[ArrayData])
  override protected def kernelCall(ctx: CodegenContext, strings: String): String =
    s"$Kernels.hashEach($strings)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_md5_minhash(strings)`: the k-entry md5 MinHash signature. Never
  * null: a null or all-null input gives k null entries.
  */
case class Md5MinhashSignature(child: Expression, k: Int) extends TextKernel {
  require(k >= 1, s"signature length must be at least 1, got $k")
  override protected def inputType: DataType = ArrayType(StringType)
  override protected def nullSafe: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_md5_minhash"

  @transient private lazy val prefixes: Array[Array[Byte]] =
    Array.tabulate(k)(j => s"$j:".getBytes(UTF_8))

  override protected def kernel(strings: Any): Any =
    TextKernels.md5Minhash(strings.asInstanceOf[ArrayData], prefixes)
  override protected def kernelCall(ctx: CodegenContext, strings: String): String =
    s"$Kernels.md5Minhash($strings, ${ctx.addReferenceObj("md5Prefixes", prefixes, "byte[][]")})"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_md5_band_keys(sig)`: one LSH band key per band. Never null. */
case class Md5BandKeys(child: Expression, bands: Int, rows: Int) extends TextKernel {
  require(bands >= 1 && rows >= 1, s"need at least one band of one row, got $bands × $rows")
  override protected def inputType: DataType = ArrayType(StringType)
  override protected def nullSafe: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_md5_band_keys"
  override protected def kernel(sig: Any): Any =
    TextKernels.md5BandKeys(sig.asInstanceOf[ArrayData], bands, rows)
  override protected def kernelCall(ctx: CodegenContext, sig: String): String =
    s"$Kernels.md5BandKeys($sig, $bands, $rows)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_count_in(strings)`: how many elements are in a fixed set. */
case class CountInSet(child: Expression, values: Seq[String]) extends TextKernel {
  override protected def inputType: DataType = ArrayType(StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_count_in"

  @transient private lazy val set: java.util.Set[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    values.foreach(v => s.add(UTF8String.fromString(v)))
    s
  }

  override protected def kernel(strings: Any): Any =
    TextKernels.countIn(strings.asInstanceOf[ArrayData], set)
  override protected def kernelCall(ctx: CodegenContext, strings: String): String =
    s"$Kernels.countIn($strings, ${ctx.addReferenceObj("tokenSet", set, "java.util.Set")})"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
