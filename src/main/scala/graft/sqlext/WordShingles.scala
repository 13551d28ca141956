package graft.sqlext

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native word-shingle kernels: the byte-level tokenizer behind
  * [[graft.functions.TextFunctions.wordNgrams]], MinHash banding,
  * benchmark decontamination and duplicate-span detection.
  *
  * Tokens are the maximal runs of non-`\s` bytes of the UTF-8 input,
  * `\s` being `[ \t\n\x0B\f\r]` — exactly the non-empty elements of
  * `split(trim(t), "\\s+")` (every other byte, including each byte
  * of a multi-byte sequence such as NBSP, stays inside its token).
  * One pass copies the tokens into a canonical buffer joined by
  * single spaces, so every k-token shingle is a contiguous slice of
  * it: n-grams are zero-copy `UTF8String` views and MinHash hashes
  * each slice in place. Both expressions emit one static call per
  * row and stay inside whole-stage codegen, where the SQL-lambda
  * forms they replace (`transform` over `slice`/`array_join`) ran
  * interpreted. Lower-casing stays a Catalyst child (`lower(...)`),
  * so Spark's case mapping is unchanged. */
object WordShingles {

  /** Tokens joined by single spaces in `buf(0 until len)`; token `i`
    * is `buf(starts(i) until ends(i))`. */
  private final class Canon(val buf: Array[Byte], val len: Int,
      val starts: Array[Int], val ends: Array[Int]) {
    def count: Int = starts.length
  }

  @inline private def isSpace(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r')

  private def canon(u: UTF8String): Canon = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val nb = u.numBytes
    var nTok = 0
    var inTok = false
    var i = 0
    while (i < nb) {
      val sp = isSpace(Platform.getByte(base, off + i))
      if (!sp && !inTok) nTok += 1
      inTok = !sp
      i += 1
    }
    val buf = new Array[Byte](nb)
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var w = 0
    var t = -1
    inTok = false
    i = 0
    while (i < nb) {
      val b = Platform.getByte(base, off + i)
      if (isSpace(b)) {
        if (inTok) { ends(t) = w; inTok = false }
      } else {
        if (!inTok) {
          t += 1
          if (t > 0) { buf(w) = ' '; w += 1 }
          starts(t) = w
          inTok = true
        }
        buf(w) = b
        w += 1
      }
      i += 1
    }
    if (inTok) ends(t) = w
    new Canon(buf, w, starts, ends)
  }

  /** Word `n`-grams of `u` in order (each `n` tokens joined by single
    * spaces); `distinct` keeps the first occurrence of each. Empty
    * when `u` is null or has fewer than `n` tokens. */
  def ngrams(u: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    if (u == null) return new GenericArrayData(Array.empty[Any])
    val c = canon(u)
    val m = c.count - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    var outN = 0
    val seen =
      if (distinct) new java.util.HashSet[UTF8String](2 * m) else null
    var i = 0
    while (i < m) {
      val s = UTF8String.fromBytes(c.buf, c.starts(i),
        c.ends(i + n - 1) - c.starts(i))
      if (seen == null || seen.add(s)) { out(outN) = s; outN += 1 }
      i += 1
    }
    new GenericArrayData(
      if (outN == m) out else out.take(outN))
  }

  /** MinHash signature of `u`'s `k`-token shingles: element `j` is
    * the minimum over shingles of `xxhash64(j, shingle)` — Spark's
    * xxhash64 with its default seed 42, so the per-slot seed is
    * `XXH64.hashInt(j, 42)`. A text with fewer than `k` tokens is one
    * shingle: its tokens joined by spaces (possibly empty). */
  def minhash(u: UTF8String, numHashes: Int, k: Int): ArrayData = {
    val c = canon(u)
    val sig = new Array[Long](numHashes)
    val nSh = c.count - k + 1
    var j = 0
    while (j < numHashes) {
      val seed = XXH64.hashInt(j, 42L)
      var m = Long.MaxValue
      if (nSh <= 0) {
        m = XXH64.hashUnsafeBytes(c.buf, Platform.BYTE_ARRAY_OFFSET,
          c.len, seed)
      } else {
        var i = 0
        while (i < nSh) {
          val s = c.starts(i)
          val h = XXH64.hashUnsafeBytes(c.buf,
            Platform.BYTE_ARRAY_OFFSET + s, c.ends(i + k - 1) - s, seed)
          if (h < m) m = h
          i += 1
        }
      }
      sig(j) = m
      j += 1
    }
    ArrayData.toArrayData(sig)
  }

  def word_ngrams(text: Column, n: Int, distinct: Boolean): Column =
    GraftSqlBridge.toColumn(
      WordNgrams(GraftSqlBridge.toExpression(text), n, distinct))

  def minhash_sig(text: Column, numHashes: Int, k: Int): Column =
    GraftSqlBridge.toColumn(
      MinHashSig(GraftSqlBridge.toExpression(text), numHashes, k))

  /** Register both kernels for SQL-string use:
    * `SELECT word_ngrams(text, 3, true), minhash_sig(text, 12, 3)`. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("word_ngrams",
      WordNgrams.fromSql, "built-in")
    reg.createOrReplaceTempFunction("minhash_sig",
      MinHashSig.fromSql, "built-in")
  }
}

/** `word_ngrams(text, n, distinct)`: array<string> of word n-grams
  * (see [[WordShingles.ngrams]]). Never null — a null text yields an
  * empty array, like the `when(size(..) >= n, ..).otherwise(array())`
  * form it replaces, whose declared nullability (and element
  * nullability) follows the text column's; both are mirrored here so
  * swapping the kernel in leaves every schema unchanged. */
case class WordNgrams(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(n >= 1, s"word_ngrams: n >= 1, got $n")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, child.nullable)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "word_ngrams"

  override def eval(input: InternalRow): Any = WordShingles.ngrams(
    child.eval(input).asInstanceOf[UTF8String], n, distinct)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.sqlext.WordShingles.ngrams(
      |  ${c.isNull} ? null : ${c.value}, $n, $distinct);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): WordNgrams = copy(child = newChild)
}

object WordNgrams {
  private[sqlext] def fromSql(exprs: Seq[Expression]): WordNgrams = {
    ScalarArgs.arity("word_ngrams", exprs, 3)
    WordNgrams(exprs.head, ScalarArgs.int("word_ngrams", "n", exprs(1)),
      ScalarArgs.bool("word_ngrams", "distinct", exprs(2)))
  }
}

/** `minhash_sig(text, numHashes, k)`: array<bigint> MinHash signature
  * over `k`-token shingles (see [[WordShingles.minhash]]); null for a
  * null text. */
case class MinHashSig(child: Expression, numHashes: Int, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(numHashes >= 1, s"minhash_sig: numHashes >= 1, got $numHashes")
  require(k >= 1, s"minhash_sig: k >= 1, got $k")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    WordShingles.minhash(input.asInstanceOf[UTF8String], numHashes, k)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.sqlext.WordShingles.minhash($c, $numHashes, $k);")

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSig = copy(child = newChild)
}

object MinHashSig {
  private[sqlext] def fromSql(exprs: Seq[Expression]): MinHashSig = {
    ScalarArgs.arity("minhash_sig", exprs, 3)
    MinHashSig(exprs.head,
      ScalarArgs.int("minhash_sig", "numHashes", exprs(1)),
      ScalarArgs.int("minhash_sig", "k", exprs(2)))
  }
}
