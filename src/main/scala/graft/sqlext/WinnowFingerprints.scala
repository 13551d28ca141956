package graft.sqlext

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for winnowing fingerprint selection
  * (Schleimer, Wilkerson & Aiken 2003) — the O(len) scale path for
  * [[graft.llm.Dedup.winnowingFingerprintsFast]], bit-identical to
  * the O(len·k) SQL-lambda form (the test oracle
  * `DedupOracle.winnowingFingerprints`) and to the DuckDB oracle
  * on every input:
  *
  *  - k-gram hashes over UNICODE CODE POINTS (matching SQL
  *    `ascii`/`ord`), base-31 polynomial with the 40-bit mask
  *    applied every step, seed 549755813881 — but computed by a
  *    TRUE rolling update (mod 2⁴⁰ is a ring, so the leading term
  *    subtracts out: one multiply-add per position instead of k);
  *  - window minima via a monotonic deque (amortized O(1) per
  *    window) with the rightmost-on-ties rule (pop-while ≥);
  *  - consecutive-duplicate suppression ≡ the lambda form's
  *    array_distinct (a position can only repeat in consecutive
  *    windows).
  *
  * Returns array<bigint> of (pos << 40) | fp packed selections
  * (pos is the 1-based k-gram index; fp < 2⁴⁰). Unpack with
  * `v >> 40` and `v & 1099511627775`. Codegen emits one static call
  * per row — stays inside whole-stage codegen. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  require(k >= 2 && k <= 64, s"k in [2,64], got $k")
  require(w >= 1 && w <= 64, s"w in [1,64], got $w")

  override def dataType: DataType = ArrayType(LongType, false)
  override def prettyName: String = "winnow_fps"

  override def nullSafeEval(input: Any): Any =
    WinnowFingerprints.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.sqlext.WinnowFingerprints" +
        s".compute($c, $k, $w);")

  override protected def withNewChildInternal(
      newChild: Expression): WinnowFingerprints = copy(child = newChild)
}

object WinnowFingerprints {

  private val Mask = (1L << 40) - 1
  private val Seed = 549755813881L

  /** Java-callable kernel shared by eval and codegen. */
  def compute(u: UTF8String, k: Int, w: Int): ArrayData = {
    val s = u.toString
    // code points (the SQL ascii/ord domain)
    val n = s.codePointCount(0, s.length)
    val cps = new Array[Int](n)
    var ci = 0
    var si = 0
    while (si < s.length) {
      val cp = s.codePointAt(si)
      cps(ci) = cp
      ci += 1
      si += Character.charCount(cp)
    }
    val nGrams = n - k + 1
    if (nGrams < w)
      return ArrayData.toArrayData(Array.empty[Long])
    // 31^(k-1) and seed*31^k mod 2^40
    var b = 1L // 31^(k-1)
    var i = 0
    while (i < k - 1) { b = (b * 31L) & Mask; i += 1 }
    val seedTerm = (((b * 31L) & Mask) * (Seed & Mask)) & Mask
    // rolling k-gram hashes
    val hs = new Array[Long](nGrams)
    var h = Seed
    i = 0
    while (i < k) { h = (h * 31L + cps(i)) & Mask; i += 1 }
    hs(0) = h
    i = 1
    while (i < nGrams) {
      // invariant: h_i = S·31^k + P_i (mod 2^40) with P_i the pure
      // window polynomial, so the seed term stays constant and
      // P_{i} = (P_{i-1} − c_{i-1}·31^{k-1})·31 + c_{i+k-1}
      var p = (h - ((cps(i - 1) * b) & Mask) - seedTerm) & Mask
      p = (p * 31L) & Mask
      h = (p + seedTerm + cps(i + k - 1)) & Mask
      hs(i) = h
      i += 1
    }
    // monotonic deque window minima, rightmost on ties
    val nWin = nGrams - w + 1
    val out = new Array[Long](nWin)
    var outN = 0
    val dq = new Array[Int](nGrams)
    var head = 0
    var tail = 0 // [head, tail)
    i = 0
    while (i < nGrams) {
      while (tail > head && hs(dq(tail - 1)) >= hs(i)) tail -= 1
      dq(tail) = i; tail += 1
      val start = i - w + 1
      if (start >= 0) {
        while (dq(head) < start) head += 1
        val sel = dq(head)
        val packed = ((sel + 1).toLong << 40) | hs(sel)
        if (outN == 0 || out(outN - 1) != packed) {
          out(outN) = packed; outN = outN + 1
        }
      }
      i += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(out, outN))
  }

  def winnow_fps(c: Column, k: Int, w: Int): Column =
    GraftSqlBridge.toColumn(
      WinnowFingerprints(GraftSqlBridge.toExpression(c), k, w))

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "winnow_fps", exprs => WinnowFingerprints(exprs.head,
        exprs(1).eval().asInstanceOf[Int],
        exprs(2).eval().asInstanceOf[Int]), "built-in")
}
