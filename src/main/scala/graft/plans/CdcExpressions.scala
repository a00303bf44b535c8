package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined-chunking boundary detection over a per-char code
  * array — the native spelling of d10_cdc_chunking's window-hash scan
  * (guide §4, the L2F32 recipe applied to the CDC family).
  *
  * The retired HOF spelling re-folded a 16-code slice PER POSITION:
  * `filter(sequence(16, n-1), i => aggregate(slice(cs, i-15, 16), 0,
  * (acc, x) => pmod(acc*31 + x, 1e9+7)) % 64 == 0)` — O(16·n) mod-mults
  * per document, each through an interpreted lambda plus a slice
  * allocation. This expression computes the identical boundary set in
  * ONE pass: the window hash is maintained as a ROLLING Karp–Rabin
  * value (h' = (h − c_out·31¹⁵)·31 + c_in mod M — modular arithmetic is
  * exact, so every per-position value equals the refolded one
  * digit-for-digit), emitting position i (1-based, 16 ≤ i ≤ n−1)
  * whenever the hash of codes[i−15..i] ≡ 0 (mod 64). At 100 TB the
  * window scan is the per-byte ingest multiplier, so the 16× fewer
  * multiplies matter more than the toy-SF seconds.
  *
  * Parity domain: code values in [0, 2³¹) — ascii/codepoint values, the
  * only call site — where neither spelling can overflow a long. Inputs
  * with a null element or an out-of-range value take a DIRECT per-window
  * refold path that replicates the HOF exactly (a null code poisons its
  * 16 windows' folds to null, so none of them is a boundary; wrap
  * semantics are Java's, matching Spark's long arithmetic). Arrays
  * shorter than 17 yield an empty result — the query guards
  * length >= 17 BEFORE this scan, because the HOF's descending
  * `sequence(16, n-1)` is undefined there. NULL in, NULL out.
  */
object CdcBoundariesUtil {
  final val M = 1000000007L
  final val Window = 16
  final val Mask = 64L
  /** 31^15 mod M, the rolling eviction coefficient. */
  final val P15: Long = {
    var p = 1L
    var k = 0
    while (k < Window - 1) { p = p * 31L % M; k += 1 }
    p
  }

  /** Static entry shared by eval and codegen — one implementation, so
    * the interpreted and generated paths cannot drift. */
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < Window + 1) return new GenericArrayData(Array.emptyLongArray)
    // domain check: rolling algebra needs non-null codes in [0, 2^31)
    var clean = true
    var k = 0
    while (clean && k < n) {
      if (arr.isNullAt(k)) clean = false
      else { val v = arr.getLong(k); if (v < 0L || v >= 2147483648L) clean = false }
      k += 1
    }
    val tmp = new Array[Long](n)
    var cnt = 0
    if (clean) {
      // rolling: h over the window ending at 0-based e = codes[e-15..e];
      // boundary candidate i = e+1 (1-based), valid for 15 <= e <= n-2
      var h = 0L
      var e = 0
      while (e <= n - 2) {
        val cin = arr.getLong(e)
        if (e < Window) h = (h * 31L + cin) % M
        else {
          val cout = arr.getLong(e - Window)
          // (h - cout*P15) can be negative; add a multiple of M first.
          // cout < 2^31 and P15 < M < 2^30·... — cout*P15 < 2^62: no wrap
          h = ((h + M - cout * P15 % M) % M * 31L + cin) % M
        }
        if (e >= Window - 1 && h % Mask == 0L) { tmp(cnt) = (e + 1).toLong; cnt += 1 }
        e += 1
      }
    } else {
      // direct refold, HOF-exact for every input: per candidate i the
      // fold runs pmod(acc*31 + x, M) left-to-right; a null code makes
      // that window's fold NULL, which the HOF's filter drops
      var i = Window
      while (i <= n - 1) {
        var acc = 0L
        var ok = true
        var k2 = i - Window
        while (ok && k2 < i) {
          if (arr.isNullAt(k2)) ok = false
          else {
            // Java long wrap matches Spark's acc*31 + x; pmod per step
            val t = acc * 31L + arr.getLong(k2)
            acc = ((t % M) + M) % M
          }
          k2 += 1
        }
        if (ok && acc % Mask == 0L) { tmp(cnt) = i.toLong; cnt += 1 }
        i += 1
      }
    }
    val out = new Array[Long](cnt)
    System.arraycopy(tmp, 0, out, 0, cnt)
    new GenericArrayData(out)
  }
}

/** [[CdcBoundariesUtil.compute]] fed DIRECTLY from the document string —
  * removes the per-char `split(text, '')` array (one UTF8String
  * allocation per character, the measured dominant cost of the codes
  * build) by iterating the string's CODE POINTS in place. Exactly the
  * retired pipeline's semantics, pinned by probe: `split(s, '')` splits
  * per code point, `ascii(c)` returns the code point, and
  * `substring`/`length` count code points — so positions emitted here
  * line up 1:1 with the chunk-emit `substr` downstream. Code points are
  * in [0, 0x10FFFF] ⊂ [0, 2³¹), the rolling domain by construction. */
object CdcBoundariesStrUtil {
  def compute(text: UTF8String): ArrayData = {
    val s = text.toString
    val n = s.codePointCount(0, s.length)
    if (n < CdcBoundariesUtil.Window + 1)
      return new GenericArrayData(Array.emptyLongArray)
    val M = CdcBoundariesUtil.M
    val W = CdcBoundariesUtil.Window
    val P15 = CdcBoundariesUtil.P15
    val window = new Array[Int](W) // ring buffer of the last W code points
    val tmp = new Array[Long](n)
    var cnt = 0
    var h = 0L
    var e = 0 // code-point index
    var ci = 0 // UTF-16 index
    while (e <= n - 2) {
      val cp = s.codePointAt(ci)
      ci += Character.charCount(cp)
      if (e < W) h = (h * 31L + cp) % M
      else {
        val cout = window(e % W).toLong
        h = ((h + M - cout * P15 % M) % M * 31L + cp) % M
      }
      window(e % W) = cp
      if (e >= W - 1 && h % CdcBoundariesUtil.Mask == 0L) {
        tmp(cnt) = (e + 1).toLong; cnt += 1
      }
      e += 1
    }
    val out = new Array[Long](cnt)
    System.arraycopy(tmp, 0, out, 0, cnt)
    new GenericArrayData(out)
  }
}

/** Karp–Rabin document fingerprint straight off the string — the
  * native spelling of [[graft.functions.Text.fingerprint]]'s
  * `aggregate(filter(split(text, '')), 0, (acc, ch) => pmod(acc*31 +
  * ascii(ch), 1e9+7))`: the identical strict left fold over the same
  * code-point sequence (split('')/ascii are code-point-based — pinned
  * by probe), minus the per-char UTF8String array the split built.
  * Empty string folds to 0 (the init); NULL in, NULL out. */
object KarpRabinFpUtil {
  def compute(text: UTF8String): Long = {
    val s = text.toString
    val M = CdcBoundariesUtil.M
    var acc = 0L
    var ci = 0
    while (ci < s.length) {
      val cp = s.codePointAt(ci)
      ci += Character.charCount(cp)
      acc = (acc * 31L + cp) % M
    }
    acc
  }
}

/** See [[KarpRabinFpUtil]]. */
case class KarpRabinFp(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    ExprTypes.check(this, Seq(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "karp_rabin_fp"

  override protected def nullSafeEval(text: Any): Any =
    KarpRabinFpUtil.compute(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.KarpRabinFpUtil.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** See [[CdcBoundariesStrUtil]]. */
case class CdcBoundariesStr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    ExprTypes.check(this, Seq(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cdc_boundaries_str"

  override protected def nullSafeEval(text: Any): Any =
    CdcBoundariesStrUtil.compute(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.CdcBoundariesStrUtil.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** See [[CdcBoundariesUtil]]. */
case class CdcBoundaries(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    ExprTypes.check(this, Seq(ExprTypes.I64s))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cdc_boundaries"

  override protected def nullSafeEval(codes: Any): Any =
    CdcBoundariesUtil.compute(codes.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.CdcBoundariesUtil.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
