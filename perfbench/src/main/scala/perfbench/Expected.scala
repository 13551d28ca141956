package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row

/** Compares collected rows with the DuckDB oracle's rows the way the
  * repo's correctness gate does: columns sorted by name, rows sorted,
  * numbers equal within 1e-9 absolute + 1e-9 relative. */
object Expected {
  private val mapper = new ObjectMapper()

  def load(path: String): Map[String, (Seq[String], Seq[Seq[Any]])] = {
    val f = new java.io.File(path)
    if (!f.exists()) return Map.empty
    val root = mapper.readTree(f)
    root.fieldNames().asScala.map { name =>
      val n = root.get(name)
      val cols = n.get("cols").elements().asScala.map(_.asText).toSeq
      val rows = n.get("rows").elements().asScala
        .map(r => r.elements().asScala.map(fromJson).toSeq).toSeq
      name -> (cols, rows)
    }.toMap
  }

  def json(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  private def fromJson(n: JsonNode): Any =
    if (n.isNull) null
    else if (n.isBoolean) n.asBoolean
    else if (n.isIntegralNumber) n.asLong: Any
    else if (n.isNumber) n.asDouble: Any
    else if (n.isArray) n.elements().asScala.map(fromJson).toSeq
    else n.asText

  /** Spark values in the oracle's JSON domain: integers as Long,
    * fractions as Double, timestamps as epoch micros, dates as epoch
    * days. */
  def norm(v: Any): Any = v match {
    case null => null
    case x: Byte => x.toLong
    case x: Short => x.toLong
    case x: Int => x.toLong
    case x: Long => x
    case x: Float => if (x.isNaN || x.isInfinite) x.toString else x.toDouble
    case x: Double => if (x.isNaN || x.isInfinite) x.toString else x
    case x: java.math.BigDecimal => x.doubleValue
    case x: scala.math.BigDecimal => x.toDouble
    case x: java.sql.Timestamp =>
      x.getTime / 1000 * 1000000L + x.getNanos / 1000 % 1000000L
    case x: java.time.Instant => x.getEpochSecond * 1000000L + x.getNano / 1000
    case x: java.time.LocalDateTime =>
      val i = x.toInstant(java.time.ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000
    case x: java.sql.Date => x.toLocalDate.toEpochDay
    case x: java.time.LocalDate => x.toEpochDay
    case x: scala.collection.Seq[_] => x.map(norm).toSeq
    case x: Row => x.toSeq.map(norm)
    case x => x.toString
  }

  private def rank(v: Any): Int = v match {
    case null => 0
    case _: Boolean => 1
    case _: Long | _: Double => 2
    case _: String => 3
    case _ => 4
  }

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Long, y: Double) => java.lang.Double.compare(x.toDouble, y)
    case (x: Double, y: Long) => java.lang.Double.compare(x, y.toDouble)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: String, y: String) => x.compareTo(y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case (x: Seq[_], y: Seq[_]) =>
      x.zip(y).iterator.map { case (p, q) => cmp(p, q) }.find(_ != 0)
        .getOrElse(Integer.compare(x.size, y.size))
    case _ => Integer.compare(rank(a), rank(b))
  }

  private val rowOrdering: Ordering[Seq[Any]] = (a, b) => cmp(a, b)

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Long, y: Long) => x == y
    case (x: Long, y: Double) => close(x.toDouble, y)
    case (x: Double, y: Long) => close(x, y.toDouble)
    case (x: Double, y: Double) => close(x, y)
    case (x: Seq[_], y: Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q) }
    case _ => a == b
  }

  private def close(e: Double, g: Double): Boolean =
    math.abs(e - g) <= 1e-9 + 1e-9 * math.abs(e)

  /** None when the rows match, else the first difference. */
  def diff(cols: Seq[String], rows: Seq[Row],
      exp: (Seq[String], Seq[Seq[Any]])): Option[String] = {
    val order = cols.indices.sortBy(cols(_))
    val gotCols = order.map(cols(_))
    if (gotCols != exp._1)
      return Some(s"columns ${gotCols.mkString(",")} != ${exp._1.mkString(",")}")
    if (rows.size != exp._2.size)
      return Some(s"rows ${rows.size} != ${exp._2.size}")
    val got = rows.map(r => order.map(i => norm(r.get(i)))).sorted(rowOrdering)
    val want = exp._2.sorted(rowOrdering)
    got.zip(want).zipWithIndex.collectFirst {
      case ((g, w), i) if !same(w, g) => s"row $i: got $g want $w"
    }
  }
}
