package graft.sqlext

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: content-defined chunk CUT positions
  * (FastCDC/LBFS family — the kernel of
  * `graft.llm.Dedup.cdcChunksFast`; the portable SQL chain is the
  * test oracle `DedupOracle.cdcChunks`, the same relationship
  * WinnowFingerprints has to the portable winnowing chain).
  *
  * Semantics are BIT-EQUAL to the portable SQL expression chain (the
  * DuckDB oracle replays that chain): k-gram hashes are the base-31
  * polynomial with the 40-bit mask applied every step over code
  * points, seeded 549755813881; a gram starting at 1-based position
  * i with h ≡ 0 (mod 2^modBits) cuts after character i+k−1; the
  * document end is always the last cut. Returns array<bigint> of cut
  * END positions (1-based, ascending). Docs shorter than k return
  * [length]. The rolling update reuses the WinnowFingerprints
  * seed-term invariant, so the kernel is O(n) not O(n·k).
  */
case class CdcCuts(child: Expression, k: Int, modBits: Int,
    maxLen: Int) extends UnaryExpression {

  require(k >= 2 && k <= 64, s"k in [2,64], got $k")
  require(modBits >= 1 && modBits <= 20,
    s"modBits in [1,20], got $modBits")
  require(maxLen >= (1 << modBits),
    s"maxLen >= 2^modBits (got $maxLen < ${1 << modBits})")

  override def dataType: DataType = ArrayType(LongType, false)
  override def prettyName: String = "cdc_cuts"

  override def nullSafeEval(input: Any): Any =
    CdcCuts.compute(input.asInstanceOf[UTF8String], k, modBits,
      maxLen)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.sqlext.CdcCuts.compute($c, $k, " +
        s"$modBits, $maxLen);")

  override protected def withNewChildInternal(
      newChild: Expression): CdcCuts = copy(child = newChild)
}

object CdcCuts {

  import org.apache.spark.sql.{Column, GraftSqlBridge}

  /** Column-level entry point. */
  def cdc_cuts(c: Column, k: Int, modBits: Int,
      maxLen: Int): Column =
    GraftSqlBridge.toColumn(
      CdcCuts(GraftSqlBridge.toExpression(c), k, modBits, maxLen))

  private val Mask = (1L << 40) - 1
  private val Seed = 549755813881L

  /** Java-callable kernel shared by eval and codegen. Forced cuts:
    * between consecutive natural cuts a < b (a=0 at doc start, doc
    * end is a natural cut), inserts a+maxLen, a+2·maxLen, … while
    * the remaining gap exceeds maxLen — positions depend only on
    * the natural-cut set, so the portable SQL chain replays them
    * with pure gap arithmetic. */
  def compute(u: UTF8String, k: Int, modBits: Int,
      maxLen: Int): ArrayData = {
    val s = u.toString
    val n = s.codePointCount(0, s.length)
    val modMask = (1L << modBits) - 1
    if (n == 0) return ArrayData.toArrayData(Array.empty[Long])
    val natural = new scala.collection.mutable.ArrayBuffer[Long]()
    if (n >= k) {
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
      // 31^(k-1), seed*31^k mod 2^40 (WinnowFingerprints invariant)
      var b = 1L
      var i = 0
      while (i < k - 1) { b = (b * 31L) & Mask; i += 1 }
      val seedTerm = (((b * 31L) & Mask) * (Seed & Mask)) & Mask
      var h = Seed
      i = 0
      while (i < k) { h = (h * 31L + cps(i)) & Mask; i += 1 }
      if ((h & modMask) == 0L) natural += k.toLong
      i = 1
      while (i < nGrams) {
        var p = (h - ((cps(i - 1) * b) & Mask) - seedTerm) & Mask
        p = (p * 31L) & Mask
        h = (p + seedTerm + cps(i + k - 1)) & Mask
        if ((h & modMask) == 0L) natural += (i + k).toLong
        i += 1
      }
    }
    if (natural.isEmpty || natural.last != n.toLong)
      natural += n.toLong
    // expand gaps with forced cuts (max chunk length)
    val cuts = new scala.collection.mutable.ArrayBuffer[Long]()
    var last = 0L
    var j = 0
    while (j < natural.length) {
      val b2 = natural(j)
      while (b2 - last > maxLen) {
        last += maxLen
        cuts += last
      }
      cuts += b2
      last = b2
      j += 1
    }
    ArrayData.toArrayData(cuts.toArray)
  }
}
