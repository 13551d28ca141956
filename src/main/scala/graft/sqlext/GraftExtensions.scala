package graft.sqlext

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extensions injector — the deployment path for SQL-only
  * surfaces (thrift server, `spark-sql`, notebooks with no Scala
  * classpath access at session-build time):
  *
  * {{{
  *   spark.sql.extensions=graft.sqlext.GraftExtensions
  * }}}
  *
  * injects the native codegen expressions into EVERY session built by
  * that config, with proper ExpressionInfo (usage text shows up in
  * `DESCRIBE FUNCTION`). The imperative `register(spark)` companions
  * remain for ad-hoc sessions; this class is the declarative,
  * cluster-config route (SparkSessionExtensions.injectFunction — the
  * same hook rule/strategy injection would use).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("rolling_hash64"),
      new ExpressionInfo(classOf[RollingHash64].getName,
        "rolling_hash64",
        "rolling_hash64(str) - 64-bit polynomial rolling hash " +
          "(base-31, seed 1125899906842597) of the UTF-8 bytes."),
      (exprs: Seq[Expression]) => RollingHash64(exprs.head)))
    ext.injectFunction((
      new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName,
        "cosine_similarity",
        "cosine_similarity(a, b) - fused dot/norm cosine similarity " +
          "of two float arrays; null on null/zero-norm/length-mismatch."),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs.head, exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName,
        "jaro_winkler",
        "jaro_winkler(a, b) - Jaro-Winkler similarity (prefix scale " +
          "0.1, boost threshold 0.7) over UTF-8 bytes; 0.0 if either " +
          "side is empty."),
      (exprs: Seq[Expression]) => JaroWinkler(exprs.head, exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[WinnowFingerprints].getName,
        "winnow_fps",
        "winnow_fps(str, k, w) - winnowing fingerprint selection " +
          "(MOSS): packed (pos << 40) | fp longs of the rightmost-" +
          "min k-gram hash per w-window."),
      (exprs: Seq[Expression]) => WinnowFingerprints(exprs.head,
        ScalarArgs.int("winnow_fps", "k", exprs(1)),
        ScalarArgs.int("winnow_fps", "w", exprs(2)))))
    ext.injectFunction((
      new FunctionIdentifier("word_lcs"),
      new ExpressionInfo(classOf[WordLcs].getName, "word_lcs",
        "word_lcs(a, b) - longest common subsequence length over " +
          "two token arrays (the ROUGE-L kernel)."),
      (exprs: Seq[Expression]) => WordLcs(exprs.head, exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("word_levenshtein"),
      new ExpressionInfo(classOf[WordLevenshtein].getName,
        "word_levenshtein",
        "word_levenshtein(a, b) - token-level Levenshtein edit " +
          "distance over two string arrays."),
      (exprs: Seq[Expression]) =>
        WordLevenshtein(exprs.head, exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("cdc_cuts"),
      new ExpressionInfo(classOf[CdcCuts].getName, "cdc_cuts",
        "cdc_cuts(str, k, modBits, maxLen) - content-defined chunk " +
          "cut end positions (1-based, ascending; doc end always " +
          "included): k-gram base-31 masked rolling hash == 0 mod " +
          "2^modBits, forced cuts bound chunks at maxLen chars."),
      (exprs: Seq[Expression]) => CdcCuts(exprs.head,
        ScalarArgs.int("cdc_cuts", "k", exprs(1)),
        ScalarArgs.int("cdc_cuts", "modBits", exprs(2)),
        ScalarArgs.int("cdc_cuts", "maxLen", exprs(3)))))
    ext.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName,
        "nfc_normalize",
        "nfc_normalize(str) - Unicode NFC canonical composition " +
          "(UAX #15) via java.text.Normalizer."),
      (exprs: Seq[Expression]) => NfcNormalize(exprs.head)))
    ext.injectFunction((
      new FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNgrams].getName, "word_ngrams",
        "word_ngrams(str, n, distinct) - word n-grams (tokens = runs " +
          "of non-whitespace bytes, joined by single spaces), in " +
          "order; distinct keeps first occurrences; empty for a null " +
          "or shorter-than-n text."),
      (exprs: Seq[Expression]) => WordNgrams.fromSql(exprs)))
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig",
        "minhash_sig(str, numHashes, k) - MinHash signature: element " +
          "j is the min of xxhash64(j, shingle) over the k-token " +
          "shingles (a text with fewer than k tokens is one shingle)."),
      (exprs: Seq[Expression]) => MinHashSig.fromSql(exprs)))
  }
}

/** Analysis-time validation of the scalar arguments of the SQL-
  * registered native functions, shared by [[GraftExtensions]] and the
  * `register(spark)` companions. */
private[sqlext] object ScalarArgs {

  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.types.{BooleanType, ByteType, IntegerType, LongType, ShortType}

  /** Validate a scalar-parameter argument of a SQL-registered native
    * function: it must be a foldable integer literal (INT, or a
    * SMALLINT/TINYINT/BIGINT literal within Int range — SQL text like
    * `cdc_cuts(s, 8, 6, 256)` parses small numbers as INT but a user
    * may write a typed BIGINT literal). Raises a descriptive
    * analysis-time error instead of the opaque ClassCastException a
    * bare `eval().asInstanceOf[Int]` produces on a non-foldable or
    * mistyped argument. */
  def int(fn: String, arg: String, e: Expression): Int = {
    def bad(detail: String): Nothing =
      throw new IllegalArgumentException(
        s"$fn: argument '$arg' must be an integer literal " +
          s"(constant, within INT range); got ${e.sql} of type " +
          s"${e.dataType.simpleString}$detail")
    e match {
      case Literal(v: Int, IntegerType) => v
      case Literal(v: Short, ShortType) => v.toInt
      case Literal(v: Byte, ByteType) => v.toInt
      case Literal(v: Long, LongType)
          if v >= Int.MinValue && v <= Int.MaxValue => v.toInt
      case f if f.foldable => // e.g. CAST(8 AS BIGINT), 4 + 4
        f.eval() match {
          case i: Int => i
          case s: Short => s.toInt
          case b: Byte => b.toInt
          case l: Long if l >= Int.MinValue && l <= Int.MaxValue =>
            l.toInt
          case other => bad(s" (folds to $other)")
        }
      case _ => bad(" (non-foldable)")
    }
  }

  /** A foldable, non-null BOOLEAN argument (`true`, `1 = 1`). */
  def bool(fn: String, arg: String, e: Expression): Boolean = e match {
    case f if f.foldable && f.dataType == BooleanType && f.eval() != null =>
      f.eval().asInstanceOf[Boolean]
    case _ => throw new IllegalArgumentException(
      s"$fn: argument '$arg' must be a boolean literal (constant, " +
        s"non-null); got ${e.sql} of type ${e.dataType.simpleString}")
  }

  /** Exactly `n` arguments. */
  def arity(fn: String, exprs: Seq[Expression], n: Int): Unit =
    if (exprs.length != n) throw new IllegalArgumentException(
      s"$fn takes $n arguments; got ${exprs.length}")
}
