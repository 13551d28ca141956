package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}
import org.apache.hadoop.fs.Path
import java.io.FileNotFoundException
import java.util.WeakHashMap
import java.util.concurrent.ConcurrentHashMap

/** Loads the driver-provided parquet tables (TESTDATA.md). At cluster
  * scale the same call works on a directory of many files; Spark
  * parallelizes the scan over row-groups, so nothing here changes at
  * 100 TB — only the path does.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Normalizes the `ts` column to TimestampType regardless of how the
    * driver generated it:
    *  - Parquet TIMESTAMP(NANOS) is rejected by Spark's vectorized
    *    reader; with spark.sql.legacy.parquet.nanosAsLong=true (set in
    *    `GraftSession`) it surfaces as epoch-nanos LongType and
    *    is truncated to micros (integer div — exact on long).
    *  - Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) surfaces as
    *    TimestampNTZType, which rejects unix_micros/numeric casts; the
    *    session timezone is pinned to UTC, so a cast to TimestampType
    *    is value-preserving.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = parquetSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
    df.schema.fields.filter(_.name == "ts").foldLeft(df) { (d, f) =>
      f.dataType match {
        case LongType =>
          d.withColumn(f.name, timestamp_micros(expr(s"${f.name} div 1000")))
        case TimestampNTZType =>
          d.withColumn(f.name, col(f.name).cast(TimestampType))
        case _ => d
      }
    }
  }

  /** Parquet schema inference is a Spark job per read. The inferred
    * schema is kept per session and path, and reused while the path's
    * fingerprint (modification time and length, of each child for a
    * directory) and the session's parquet settings are unchanged, so
    * an overwritten table is re-inferred on its next load. None (read
    * plainly, with Spark's own error) if the path does not exist. */
  private def parquetSchema(spark: SparkSession,
      path: String): Option[StructType] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fingerprint = try {
      val st = fs.getFileStatus(p)
      val files = if (st.isDirectory) fs.listStatus(p).toSeq else Seq(st)
      files.map(f => (f.getPath.getName, f.getModificationTime, f.getLen))
        .sorted :+ st.getModificationTime :+ spark.conf.getAll.filter {
          case (k, _) => k.contains(".parquet.")
        }
    } catch { case _: FileNotFoundException => return None }
    val bySession = schemaCache.synchronized(
      schemaCache.computeIfAbsent(spark, _ =>
        new ConcurrentHashMap[String, (Any, StructType)]()))
    val hit = bySession.get(path)
    if (hit != null && hit._1 == fingerprint) Some(hit._2)
    else {
      val schema = spark.read.parquet(path).schema
      bySession.put(path, (fingerprint, schema))
      Some(schema)
    }
  }

  private val schemaCache =
    new WeakHashMap[SparkSession, ConcurrentHashMap[String, (Any, StructType)]]()
}
