package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** String accessor parity (reference src/series/string_accessor.rs:
  * 63-692; SIMD variants src/optimized/jit/simd_string.rs are a
  * non-concern — whole-stage codegen covers it). Everything is a
  * built-in composition; the two genuinely missing functions (title,
  * swapcase) are expression chains, not UDFs, so they stay codegen'd.
  */
object StrOps {

  def upper(c: Column): Column = org.apache.spark.sql.functions.upper(c)
  def lower(c: Column): Column = org.apache.spark.sql.functions.lower(c)

  /** str.title — initcap matches Python title() for space-separated
    * words (string_accessor.rs title). */
  def title(c: Column): Column = initcap(c)

  /** str.capitalize — first char upper, rest lower. */
  def capitalize(c: Column): Column =
    concat(org.apache.spark.sql.functions.upper(substring(c, 1, 1)),
      org.apache.spark.sql.functions.lower(c.substr(lit(2), length(c))))

  /** str.swapcase via per-char translate-free chain: upper→marker is
    * impossible without a UDF in one pass, so compose with translate
    * over the ASCII alphabet (the reference is ASCII-only here too). */
  def swapcase(c: Column): Column = {
    val lo = "abcdefghijklmnopqrstuvwxyz"
    val hi = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    translate(c, lo + hi, hi + lo)
  }

  def contains(c: Column, pat: String, regex: Boolean = false): Column =
    if (regex) c.rlike(pat) else c.contains(pat)

  def startswith(c: Column, p: String): Column = c.startsWith(p)
  def endswith(c: Column, p: String): Column = c.endsWith(p)

  def replace(c: Column, pat: String, rep: String): Column =
    regexp_replace(c, pat, rep)

  def split(c: Column, pat: String): Column =
    org.apache.spark.sql.functions.split(c, pat)

  def len(c: Column): Column = length(c)

  /** str.strip/lstrip/rstrip drop every leading/trailing whitespace
    * character (`\s`: space, tab, newlines, form feed); Spark's
    * trim/ltrim/rtrim drop spaces only. */
  def strip(c: Column): Column = regexp_replace(c, "^\\s+|\\s+$", "")
  def lstrip(c: Column): Column = regexp_replace(c, "^\\s+", "")
  def rstrip(c: Column): Column = regexp_replace(c, "\\s+$", "")

  def extract(c: Column, pat: String, group: Int = 1): Column =
    regexp_extract(c, pat, group)

  def findall(c: Column, pat: String): Column =
    call_function("regexp_extract_all", c, lit(pat), lit(0))

  def countMatches(c: Column, pat: String): Column =
    size(findall(c, pat))

  def isalpha(c: Column): Column = c.rlike("^[A-Za-z]+$")
  def isdigit(c: Column): Column = c.rlike("^[0-9]+$")
  def isalnum(c: Column): Column = c.rlike("^[A-Za-z0-9]+$")
  def isspace(c: Column): Column = c.rlike("^\\s+$")
  def islower(c: Column): Column =
    (c === org.apache.spark.sql.functions.lower(c)) && c.rlike("[a-z]")
  def isupper(c: Column): Column =
    (c === org.apache.spark.sql.functions.upper(c)) && c.rlike("[A-Z]")

  /** str.pad with side ∈ {left,right,both}; pandas center puts the
    * extra fill character on the right. Strings already longer than
    * width pass through unchanged (Spark's lpad/rpad would truncate —
    * pandas never does). */
  def pad(c: Column, width: Int, side: String = "left",
      fill: String = " "): Column = {
    val padded = side match {
      case "right" => rpad(c, width, fill)
      case "both" =>
        val target1 = length(c) +
          floor((lit(width) - length(c)) / 2).cast("int")
        call_function("rpad",
          call_function("lpad", c, greatest(target1, length(c)), lit(fill)),
          lit(width), lit(fill))
      case _ => lpad(c, width, fill)
    }
    when(length(c) >= width, c).otherwise(padded)
  }
}
