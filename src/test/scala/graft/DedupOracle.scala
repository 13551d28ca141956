package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.Dedup

/** The portable SQL-lambda forms of `Dedup.winnowingFingerprintsFast`
  * and `Dedup.cdcChunksFast`: the same masked base-31 recurrence over
  * code points, written as `transform`/`aggregate` lambdas in O(len·k)
  * per document. They are the chains the q414/q461 DuckDB oracles
  * replay, and CdcSpec and EmbedPolicyWinnowSpec compare the codegen
  * kernels against them bit for bit. */
object DedupOracle {

  /** Same output and semantics as `Dedup.winnowingFingerprintsFast`. */
  def winnowingFingerprints(df: DataFrame, idCol: String,
      textCol: String, k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 2 && k <= 64, s"k in [2,64], got $k")
    require(w >= 1 && w <= 64, s"w in [1,64], got $w")
    val mask = (1L << 40) - 1
    val hs = expr(
      s"""transform(sequence(1, length(__t__) - $k + 1),
         |  i -> aggregate(sequence(i, i + $k - 1),
         |    549755813881L,
         |    (acc, j) -> (31 * acc + ascii(substring(__t__, j, 1)))
         |      & ${mask}L))""".stripMargin)
    val fps = expr(
      s"""transform(sequence(1, size(__hs__) - $w + 1), p -> struct(
         |  array_min(slice(__hs__, p, $w)) AS fp,
         |  p + array_max(filter(sequence(0, ${w - 1}),
         |    q -> element_at(__hs__, p + q) =
         |      array_min(slice(__hs__, p, $w)))) AS pos))""".stripMargin)
    df.select(col(idCol).as("doc_id"), col(textCol).as("__t__"))
      .filter(col("__t__").isNotNull &&
        length(col("__t__")) >= k + w - 1)
      .select(col("doc_id"), hs.as("__hs__"))
      .select(col("doc_id"),
        explode(array_distinct(fps)).as("f"))
      .select(col("doc_id"), col("f.pos").cast("long").as("pos"),
        col("f.fp").as("fp"))
  }

  /** Same output and semantics as `Dedup.cdcChunksFast`. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, modBits: Int = 6, maxLen: Int = 256): DataFrame = {
    require(k >= 2 && k <= 64, s"k in [2,64], got $k")
    require(modBits >= 1 && modBits <= 20,
      s"modBits in [1,20], got $modBits")
    require(maxLen >= (1 << modBits),
      s"maxLen >= 2^modBits (got $maxLen)")
    val mask = (1L << 40) - 1
    val m = 1L << modBits
    // sequence(1, n) is DESCENDING for n < 1 — guard short docs
    val hs = expr(
      s"""case when length(__t__) >= $k then
         |  transform(sequence(1, length(__t__) - $k + 1),
         |    i -> aggregate(sequence(i, i + $k - 1),
         |      549755813881L,
         |      (acc, j) -> (31 * acc + ascii(substring(__t__, j, 1)))
         |        & ${mask}L))
         |else cast(array() as array<bigint>) end""".stripMargin)
    val cutEnds = expr(
      s"""case when size(__hs__) = 0
         |  then cast(array() as array<bigint>)
         |  else transform(filter(sequence(1, size(__hs__)),
         |      i -> element_at(__hs__, i) % ${m}L = 0),
         |    i -> cast(i + $k - 1 as bigint)) end""".stripMargin)
    val allCuts = expr(
      s"""case when coalesce(try_element_at(__ce__, -1), -1L)
         |       != length(__t__)
         |  then concat(__ce__, array(cast(length(__t__) as bigint)))
         |  else __ce__ end""".stripMargin)
    // forced max-chunk cuts: between consecutive natural cuts a < b,
    // insert a+maxLen, a+2·maxLen, … — pure gap arithmetic on the
    // natural-cut set (CDC on exactly-periodic text can otherwise go
    // hundreds of chars without a boundary)
    def prevCut = "case when j = 1 then 0L " +
      "else element_at(__ac0__, j - 1) end"
    val expanded = expr(
      s"""flatten(transform(sequence(1, size(__ac0__)), j ->
         |  concat(
         |    case when (element_at(__ac0__, j) - ($prevCut) - 1L)
         |        >= ${maxLen}L
         |      then transform(sequence(1,
         |          cast((element_at(__ac0__, j) - ($prevCut) - 1L)
         |            div ${maxLen}L as int)),
         |        f -> ($prevCut) + cast(f as bigint) * ${maxLen}L)
         |      else cast(array() as array<bigint>) end,
         |    array(element_at(__ac0__, j)))))""".stripMargin)
    df.select(col(idCol).as("doc_id"), col(textCol).as("__t__"))
      .filter(col("__t__").isNotNull && length(col("__t__")) >= 1)
      .withColumn("__hs__", hs)
      .withColumn("__ce__", cutEnds)
      .withColumn("__ac0__", allCuts)
      .withColumn("__ac__", expanded)
      .transform(Dedup.emitCdcChunks)
  }
}
