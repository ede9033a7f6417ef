package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native text-hashing kernels for the near-dup front half.
  *
  * The Column-composed forms of the shingle-set and SimHash builders
  * (`TextOps.hash7`/`shingles`/the explode→bit-sum aggregate) evaluate
  * md5 → 32-char hex string → substring → base-16 string parse once per
  * SHINGLE / per (word, salt) — the per-document inner loop of q36/q37/
  * q40/q69/q70 — and the SimHash form additionally shuffles an exploded
  * (doc, word) row per distinct word through a 56-column aggregate.
  * These kernels compute the same values straight from the md5 digest
  * bytes in one pass per document, so the front half of every near-dup
  * operator becomes a row-local projection inside whole-stage codegen:
  * no hex round-trip, no intermediate shingle-string array, and (for
  * SimHash) NO shuffle at all.
  *
  * Parity is bit-exact with the Column forms (pinned by
  * TextKernelsSpec): same ASCII-space-only trim, same `\s+` split with
  * limit -1 (trailing empty token and all), same 28-bit md5 prefix the
  * DuckDB oracle reproduces. Tier (b) of the custom-operator ladder
  * (SURVEY §7.3), same as [[ToNumberExpr]] / [[ArrayOps]].
  *
  * PRECONDITION: the parity guarantee is stated for VALID UTF-8 text.
  * The kernel goes UTF8String→toString→getBytes, which rewrites
  * malformed byte sequences to U+FFFD before hashing. In practice the
  * Column forms do the same — Spark's `split` itself round-trips each
  * word through java.lang.String (`UTF8String.split` calls
  * `toString().split(...)`, substituting malformed sequences
  * identically) before `md5` sees its bytes — but only the valid-UTF-8
  * case is pinned by TextKernelsSpec, so that is the contract.
  */
object TextKernels {

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 28 bits of md5(bytes) — bit-equal to
    * `conv(substring(md5(x), 1, 7), 16, 10)`: hex chars 1-7 are digest
    * bytes 0-2 plus the high nibble of byte 3.
    */
  def hash28(bytes: Array[Byte]): Long = {
    val d = md5.get()
    d.reset()
    val dig = d.digest(bytes)
    ((dig(0) & 0xffL) << 20) | ((dig(1) & 0xffL) << 12) |
      ((dig(2) & 0xffL) << 4) | ((dig(3) & 0xffL) >>> 4)
  }

  private val ws = java.util.regex.Pattern.compile("\\s+")

  /** Spark-parity word split: `split(trim(text), "\\s+")`. Spark's trim
    * strips ASCII 0x20 ONLY (not \t\n), and its split keeps trailing
    * empty tokens (Java limit -1) — both reproduced exactly, because a
    * trailing "\n" yields a trailing "" word that the SimHash form
    * hashes like any other.
    */
  def words(text: String): Array[String] = {
    var s = 0
    var e = text.length
    while (s < e && text.charAt(s) == ' ') s += 1
    while (e > s && text.charAt(e - 1) == ' ') e -= 1
    ws.split(text.substring(s, e), -1)
  }

  private val emptyLongs =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Array.emptyLongArray)

  /** Sorted distinct 28-bit hashes of the word n-gram shingles — the
    * kernel form of `TextOps.hashedShingleSet`. Null text and fewer
    * than n words both yield the EMPTY array (the Column form's
    * `when(size >= n, …).otherwise(array())` falls through on the null
    * condition too).
    */
  def hashedShingles(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return emptyLongs
    val w = words(text.toString)
    val m = w.length - n + 1
    if (m <= 0) return emptyLongs
    val hs = new Array[Long](m)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(w(i + j))
        j += 1
      }
      val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      hs(i) = hash28(bytes)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var k = 0
    var p = 0
    while (p < m) {
      if (p == 0 || hs(p) != hs(p - 1)) { hs(k) = hs(p); k += 1 }
      p += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(hs, k))
  }

  /** Width-parameterized SimHash over distinct words — the kernel form
    * of `TextOps.simhashWideDf`'s explode → ±1 bit-sum aggregate, fully
    * row-local. Salt k contributes bits 28k..28k+27 (hash of word+salt);
    * a bit is set iff strictly more distinct words vote 1 than 0. Null
    * text → 0 (the Column form's left-outer + coalesce).
    */
  def simhash(text: UTF8String, salts: Array[Array[Byte]]): Long = {
    if (text == null) return 0L
    val w = words(text.toString)
    val seen = new java.util.HashSet[String]()
    val counters = new Array[Int](28 * salts.length)
    var i = 0
    while (i < w.length) {
      if (seen.add(w(i))) {
        val wb = w(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var k = 0
        while (k < salts.length) {
          val s = salts(k)
          val bytes =
            if (s.length == 0) wb
            else {
              val b = new Array[Byte](wb.length + s.length)
              System.arraycopy(wb, 0, b, 0, wb.length)
              System.arraycopy(s, 0, b, wb.length, s.length)
              b
            }
          val h = hash28(bytes)
          var j = 0
          while (j < 28) {
            counters(28 * k + j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
            j += 1
          }
          k += 1
        }
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < counters.length) {
      if (counters(b) > 0) sim |= 1L << b
      b += 1
    }
    sim
  }
}

/** `graft_hashed_shingles(text, n)`: sorted distinct 28-bit md5-prefix
  * hashes of the word n-gram shingles. Never null — null text or a doc
  * shorter than n words yields the empty array.
  */
case class HashedShinglesExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (STRING, INT), got ${left.dataType.sql}")
    else if (right.dataType != IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a literal INT shingle width")
    else right.eval() match {
      case n: Int if n >= 1 => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName width must be a non-null INT >= 1")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_hashed_shingles"

  private lazy val n: Int = right.eval().asInstanceOf[Int]

  // not nullSafeEval: null text maps to the EMPTY ARRAY, not null
  override def eval(input: InternalRow): Any =
    TextKernels.hashedShingles(left.eval(input).asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    ev.copy(code = code"""
      ${l.code}
      ${r.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        graft.expressions.TextKernels.hashedShingles(
          ${l.isNull} ? null : ${l.value}, ${r.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_simhash(text, salts)`: SimHash of width 28·|salts| over the
  * distinct words (salt k → bits 28k..28k+27) from md5-prefix word
  * hashes. Never null — null text yields 0.
  */
case class SimhashExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (STRING, ARRAY<STRING>), got ${left.dataType.sql}")
    else if (!right.foldable || (right.dataType match {
      case ArrayType(StringType, _) => false
      case _ => true
    }))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a literal ARRAY<STRING> of salts")
    else right.eval() match {
      case a: ArrayData if a.numElements() >= 1 &&
          28 * a.numElements() <= 63 &&
          (0 until a.numElements()).forall(!a.isNullAt(_)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName salts must be 1-2 non-null strings (width <= 63 bits)")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_simhash"

  private lazy val saltBytes: Array[Array[Byte]] = {
    val a = right.eval().asInstanceOf[ArrayData]
    (0 until a.numElements()).map(i =>
      a.getUTF8String(i).toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
  }

  // not nullSafeEval: null text maps to 0L, not null
  override def eval(input: InternalRow): Any =
    TextKernels.simhash(left.eval(input).asInstanceOf[UTF8String], saltBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val saltsRef = ctx.addReferenceObj("graftSimhashSalts", saltBytes, "byte[][]")
    val l = left.genCode(ctx)
    ev.copy(code = code"""
      ${l.code}
      long ${ev.value} = graft.expressions.TextKernels.simhash(
        ${l.isNull} ? null : ${l.value}, $saltsRef);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
