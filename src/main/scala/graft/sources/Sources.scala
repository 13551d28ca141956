package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.LocalStrategy

/** Source/sink surface (reference §2.1: src/io/csv.rs:11,74,
  * src/io/json.rs:13,103, src/io/parquet.rs:175,369,
  * src/io/sql/operations.rs, src/connectors/cloud.rs:198).
  *
  * Everything delegates to Spark's DataSource V2 readers — which is
  * the point: the reference hand-rolls chunked readers, schema
  * inference and cloud connectors (~5k LoC); Spark gives the same
  * surface with predicate pushdown, partitioned parallel scans and
  * s3a/gs/abfss paths for free. These wrappers pin the pandrs-like
  * defaults (header inference, records orientation).
  */
object Sources {

  /** CSV read with pandrs defaults: header row + type inference
    * (src/io/csv.rs:11; optimized io.rs:82). For production scans
    * pass an explicit schema — inference reads the data twice. */
  def readCsv(spark: SparkSession, path: String,
      schema: Option[StructType] = None,
      header: Boolean = true): DataFrame = {
    val r = spark.read.option("header", header.toString)
    schema.fold(r.option("inferSchema", "true"))(r.schema)
      .csv(path)
  }

  def writeCsv(df: DataFrame, path: String,
      header: Boolean = true): Unit =
    df.write.mode("overwrite").option("header", header.toString)
      .csv(path)

  /** JSON lines (records orientation, src/io/json.rs JsonOrient). */
  def readJsonRecords(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  def writeJsonRecords(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Column-orientation JSON (src/io/json.rs:13,103 JsonOrient::
    * Columns; pandas orient="columns"): ONE document of
    * `{col: {rowIdx: value}}`. The format is a single JSON object, so
    * it is inherently non-splittable — fine for the small config-like
    * frames it is used for; large data belongs in records/parquet.
    * Returns rows keyed by `__idx__` (the original row index). */
  def readJsonColumns(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{MapType, StringType}
    val raw = spark.read.option("multiLine", "true").json(path)
    val perCol = raw.schema.fields.map { f =>
      val valueType = f.dataType.asInstanceOf[StructType].fields
        .head.dataType
      raw.select(explode(from_json(to_json(col(f.name)),
        MapType(StringType, valueType))).as(Seq("__idx__", f.name)))
    }
    perCol.reduce((a, b) => a.join(b, Seq("__idx__"), "full"))
      .withColumn("__idx__", col("__idx__").cast("long"))
  }

  /** Write the columns orientation: `idxCol` supplies the row index
    * (cast to string keys, pandas-style). */
  def writeJsonColumns(df: DataFrame, path: String, idxCol: String,
      valueCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions._
    val aggs = valueCols.map(c => map_from_entries(sort_array(
      collect_list(struct(col(idxCol).cast("string").as("k"),
        col(c).as("v"))))).as(c))
    df.agg(aggs.head, aggs.tail: _*)
      .select(to_json(struct(valueCols.map(col): _*)).as("value"))
      .write.mode("overwrite").text(path)
  }

  /** pandas json_normalize: parse a JSON-string column against an
    * EXPLICIT schema and flatten nested structs into dotted top-level
    * columns (meta.priority, meta.geo.lat, …). Schema-explicit by
    * design — at 100 TB, schema inference is an extra full scan;
    * callers that need inference can sample first. Pure map-side
    * from_json + projections, codegen'd, no shuffle. */
  def jsonNormalize(df: DataFrame, jsonCol: String,
      schema: org.apache.spark.sql.types.StructType,
      sep: String = "."): DataFrame = {
    import org.apache.spark.sql.functions.{col, from_json}
    import org.apache.spark.sql.types.StructType
    def paths(st: StructType, prefix: Seq[String]): Seq[Seq[String]] =
      st.fields.toSeq.flatMap { f =>
        f.dataType match {
          case nested: StructType => paths(nested, prefix :+ f.name)
          case _ => Seq(prefix :+ f.name)
        }
      }
    val parsed = df.withColumn("__j__", from_json(col(jsonCol), schema))
    val flat = paths(schema, Nil).map(p =>
      col(("__j__" +: p).mkString(".")).as(p.mkString(sep)))
    val keep = df.columns.filter(_ != jsonCol).map(col).toSeq
    parsed.select(keep ++ flat: _*)
  }

  /** Hive-style partitioned parquet layout: one directory per
    * partition value. THE mechanism for scan elimination at 100 TB —
    * a reader filtering on the partition column touches only its
    * directories (PartitionFilters in the scan node; asserted in
    * SourcesAndPlanSpec), so a by-source/by-date query reads 1/N of
    * the lake instead of filtering 100 TB row by row. Partition by
    * low-cardinality columns only (each value is a directory). */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.partitionBy(partitionCols: _*).mode("overwrite")
      .parquet(path)

  /** Target-file-size compacted write — the operational companion to
    * [[writePartitioned]] and the first problem a 100 TB pipeline
    * hits in production: a plain `partitionBy` write emits one file
    * per (shuffle task × partition value), so a 32-task shuffle over
    * 1k partition values fragments into 32k tiny files and the NEXT
    * job pays a listing + open-per-file tax that dwarfs the scan.
    *
    * Strategy (all distributed, one extra count aggregate):
    *   1. SAMPLE the real parquet row width: write `sampleRows` rows
    *      to a scratch file, measure bytes, delete — compressed
    *      on-disk width, not a memory-size guess, so the target
    *      holds under whatever codec/encoding the data compresses to
    *      (footer overhead in the sample biases slightly small =
    *      conservative).
    *   2. rowsPerFile = targetBytes / bytesPerRow.
    *   3. Repartition by the partition columns PLUS a per-partition
    *      salt `hash(row) mod ceil(partitionRows / rowsPerFile)` —
    *      each Hive partition gets exactly as many writer buckets as
    *      target-size files it needs (a skewed partition value gets
    *      many parallel writers; a small one gets one file, not 32).
    *   4. `maxRecordsPerFile` as the hard per-file cap (belt and
    *      braces for salt-bucket unevenness).
    *
    * Returns rowsPerFile (the derived cap) for auditability. */
  def writeCompacted(df: DataFrame, path: String,
      partitionCols: Seq[String],
      targetBytes: Long = 256L << 20,
      sampleRows: Int = 10000): Long = {
    import org.apache.spark.sql.functions._
    require(targetBytes >= 1024, s"targetBytes >= 1KiB, got $targetBytes")
    require(sampleRows >= 1, s"sampleRows >= 1, got $sampleRows")
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    val outPath = new org.apache.hadoop.fs.Path(path)
    val fs = outPath.getFileSystem(hconf)
    val samplePath = new org.apache.hadoop.fs.Path(
      path + "__graft_width_sample")
    val (n, sampleBytes) = LocalStrategy.cached(df.limit(sampleRows)) {
      sample =>
        val n = sample.count()
        if (n == 0) (0L, 0L)
        else {
          sample.coalesce(1).write.mode("overwrite")
            .parquet(samplePath.toString)
          val bytes = fs.getContentSummary(samplePath).getLength
          fs.delete(samplePath, true)
          (n, bytes)
        }
    }
    if (n == 0) {
      df.write.mode("overwrite").parquet(path)
      return 0L
    }
    val bytesPerRow = math.max(1.0, sampleBytes.toDouble / n)
    val rowsPerFile =
      math.max(1L, (targetBytes / bytesPerRow).toLong)
    if (partitionCols.isEmpty) {
      val cnt = df.count()
      val nFiles =
        math.max(1L, (cnt + rowsPerFile - 1) / rowsPerFile).toInt
      df.repartition(nFiles).write.mode("overwrite")
        .option("maxRecordsPerFile", rowsPerFile).parquet(path)
    } else {
      val pc = partitionCols.map(col)
      // join back with NULL-SAFE equality (<=>): partition values can
      // legitimately be null (partitionBy writes them to
      // __HIVE_DEFAULT_PARTITION__) and a plain equi-join would
      // silently DROP those rows from the compacted dataset
      val counts = df.groupBy(pc: _*)
        .agg(count(lit(1)).as("__cnt__"))
        .select(partitionCols.zipWithIndex.map { case (c, i) =>
          col(c).as(s"__pc${i}__") } :+ col("__cnt__"): _*)
      val joinCond = partitionCols.zipWithIndex
        .map { case (c, i) => col(c) <=> col(s"__pc${i}__") }
        .reduce(_ && _)
      val nBuckets = greatest(
        expr(s"CAST((__cnt__ + ${rowsPerFile - 1}) div $rowsPerFile" +
          " AS BIGINT)"), lit(1L))
      val salted = df.join(broadcast(counts), joinCond)
        .withColumn("__salt__",
          pmod(xxhash64(df.columns.map(col): _*), nBuckets))
      salted.repartition((pc :+ col("__salt__")): _*)
        .select(df.columns.map(col): _*)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", rowsPerFile)
        .partitionBy(partitionCols: _*).parquet(path)
    }
    rowsPerFile
  }

  /** Small-file audit for an existing parquet dataset — the DETECTOR
    * whose fix is [[writeCompacted]]: one distributed scan groups
    * rows by physical file (input_file_name), joined with the
    * filesystem's recursive size listing. Returns one row per data
    * file: (file name, rows, bytes). Run it on a slow-to-list table;
    * thousands of KB-sized rows here mean the next job pays an
    * open-per-file tax that dwarfs its scan. */
  def fileReport(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // key by FULL path, not basename: partitioned writes (and
    // distcp'd/externally-compacted data) reuse identical
    // part-NNNNN names across partition directories, so basenames
    // silently merge distinct files and multiply join rows. Both
    // sides are normalized to the scheme-less URI path
    // (input_file_name() is a file:///… URI; the listing uses
    // Path.toUri.getPath) so they compare exactly.
    val byFile = spark.read.parquet(path)
      .groupBy(regexp_replace(input_file_name(),
        "^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/]*)?", "").as("file"))
      .agg(count(lit(1)).as("rows"))
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sizes = scala.collection.mutable.ListBuffer[(String, Long)]()
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet"))
        sizes += ((st.getPath.toUri.getPath, st.getLen))
    }
    import spark.implicits._
    byFile.join(sizes.toSeq.toDF("file", "bytes"), Seq("file"))
      .select(col("file"), col("rows"), col("bytes"))
  }

  /** In-place SELECTIVE compaction — the operational verb between
    * [[fileReport]] (detect fragmentation) and [[writeCompacted]]
    * (write compact): rewrite ONLY the fragmented partition
    * directories of an existing parquet dataset, leaving healthy
    * partitions byte-identical. A 100 TB table can't be round-tripped
    * through a full rewrite to fix the 2% of its partitions last
    * night's trickle-append fragmented — this fixes exactly those.
    *
    * Mechanics per fragmented directory (driver loop over the
    * PARTITION DIRECTORY list — the bounded audit unit; each rewrite
    * itself is a distributed job):
    *   1. read just that directory, repartition to
    *      ceil(dirBytes / targetBytes) writers, write to a staging
    *      dir under `<root>/.graft_compact_tmp/`;
    *   2. swap: delete the old data files, rename the staged files
    *      in (per-file renames are atomic on HDFS-like filesystems;
    *      the swap window is per-partition and readers of OTHER
    *      partitions are never affected).
    *
    * `partitionPredicate(relativeDir, nFiles, bytes)` picks the
    * directories to rewrite; the default rewrites any directory with
    * more files than ceil(bytes/targetBytes) needs (i.e. any
    * fragmentation at all). Returns one audit row per directory:
    * (dir, old_files, bytes, new_files, rewritten). */
  def compactPartitions(spark: SparkSession, path: String,
      targetBytes: Long = 256L << 20,
      partitionPredicate: (String, Long, Long) => Boolean = null)
      : DataFrame = {
    require(targetBytes >= 1024, s"targetBytes >= 1KiB, got $targetBytes")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootPath = fs.makeQualified(root).toUri.getPath
    def needed(bytes: Long): Long =
      math.max(1L, (bytes + targetBytes - 1) / targetBytes)
    val pred: (String, Long, Long) => Boolean =
      if (partitionPredicate != null) partitionPredicate
      else (_, nFiles, bytes) => nFiles > needed(bytes)
    // group data files by their parent directory (the Hive partition
    // directory; the root itself for unpartitioned data); staging /
    // metadata dirs are excluded
    val files = scala.collection.mutable
      .ListBuffer[(String, String, Long)]()
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.stripPrefix(rootPath)
      if (st.isFile && st.getPath.getName.endsWith(".parquet") &&
          !rel.contains("/.") && !rel.contains("/_"))
        files += ((st.getPath.getParent.toUri.getPath,
          st.getPath.toUri.getPath, st.getLen))
    }
    val byDir = files.groupBy(_._1).toSeq.sortBy(_._1)
    val report = byDir.map { case (dir, fl) =>
      val nFiles = fl.size.toLong
      val bytes = fl.map(_._3).sum
      val rel = dir.stripPrefix(rootPath).stripPrefix("/")
      val rewrite = pred(rel, nFiles, bytes)
      val newFiles = if (!rewrite) nFiles else {
        val stage = new org.apache.hadoop.fs.Path(rootPath +
          "/.graft_compact_tmp/" + Integer.toHexString(dir.hashCode))
        spark.read.parquet(dir)
          .repartition(needed(bytes).toInt)
          .write.mode("overwrite").parquet(stage.toString)
        val staged = fs.listStatus(stage)
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        // swap: old files out, staged files in (same directory, so
        // the partition's identity — its dir name — is untouched)
        fl.foreach { case (_, f, _) =>
          fs.delete(new org.apache.hadoop.fs.Path(f), false) }
        staged.zipWithIndex.foreach { case (s, i) =>
          fs.rename(s.getPath, new org.apache.hadoop.fs.Path(
            dir + s"/graft-compact-$i.parquet")) }
        fs.delete(stage, true)
        staged.length.toLong
      }
      (rel, nFiles, bytes, newFiles, rewrite)
    }
    val tmpDir = new org.apache.hadoop.fs.Path(
      rootPath + "/.graft_compact_tmp")
    if (fs.exists(tmpDir)) fs.delete(tmpDir, true)
    import spark.implicits._
    report.toDF("dir", "old_files", "bytes", "new_files", "rewritten")
  }

  /** Parquet with compression option (src/io/parquet.rs:369). */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def writeParquet(df: DataFrame, path: String,
      compression: String = "snappy"): Unit =
    df.write.mode("overwrite").option("compression", compression)
      .parquet(path)

  /** ORC read/write (beyond the reference's formats — free via
    * Spark's built-in DataSource V2, with the same pushdown/pruning
    * properties as parquet). */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String,
      compression: String = "zstd"): Unit =
    df.write.mode("overwrite").option("compression", compression)
      .orc(path)

  /** Parquet footer metadata (src/io/parquet.rs:582-666): row count
    * and per-column min/max/null stats, computed distributed from
    * the files rather than by footer peeking. */
  def parquetStats(spark: SparkSession, path: String,
      cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(path)
    df.agg(count(lit(1)).as("row_count"),
      cols.flatMap(c => Seq(min(col(c)).as(s"${c}_min"),
        max(col(c)).as(s"${c}_max"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"))): _*)
  }

  /** Bucketed write (SCALE.md): pre-shuffles once at write time so
    * later equi-joins/aggregations on the bucket keys are co-located
    * — no Exchange in the join plan. The canonical 100 TB pattern for
    * repeatedly-joined fact tables. Requires a table name (bucketing
    * metadata lives in the catalog). */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** 64-bit Morton (Z-order) value: interleaves the low 32 bits of
    * two non-negative integer columns (a gets even bits, b odd) via
    * the classic mask-and-shift bit spread — a pure codegen'd
    * expression, no UDF. Rows close in Z are close in BOTH
    * dimensions, so sorting/range-partitioning by Z before a write
    * clusters multi-dimensional ranges into few files. */
  def zValue2(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    def spread(x0: org.apache.spark.sql.Column) = {
      val m = Seq(0x0000FFFF0000FFFFL, 0x00FF00FF00FF00FFL,
        0x0F0F0F0F0F0F0F0FL, 0x3333333333333333L, 0x5555555555555555L)
      val sh = Seq(16, 8, 4, 2, 1)
      m.zip(sh).foldLeft(x0.cast("long").bitwiseAND(lit(0xFFFFFFFFL))) {
        case (v, (mask, s)) =>
          (v.bitwiseOR(shiftleft(v, s))).bitwiseAND(lit(mask))
      }
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Z-order clustered parquet write (the 100 TB layout play for
    * two-dimensional range scans): range-partition by the Morton
    * value into `numFiles` and sort within partitions, so every file
    * covers a compact rectangle of (a, b) space and min/max footer
    * stats prune most files for any 2-D range predicate — where a
    * single-column sort prunes only its own dimension. */
  def writeZOrdered(df: DataFrame, aCol: String, bCol: String,
      path: String, numFiles: Int): Unit = {
    import org.apache.spark.sql.functions._
    df.withColumn("__z__", zValue2(col(aCol), col(bCol)))
      .repartitionByRange(numFiles, col("__z__"))
      .sortWithinPartitions("__z__")
      .drop("__z__")
      .write.mode("overwrite").parquet(path)
  }

  /** JDBC passthrough (src/io/sql/operations.rs:118-485): partitioned
    * parallel reads when a split column is given. Round-trip tested
    * against embedded Derby (which ships with Spark), including the
    * 4-way parallel range-partitioned read. */
  def readJdbc(spark: SparkSession, url: String, table: String,
      props: java.util.Properties,
      partitionCol: Option[(String, Long, Long, Int)] = None): DataFrame =
    partitionCol match {
      case Some((c, lo, hi, n)) =>
        spark.read.jdbc(url, table, c, lo, hi, n, props)
      case None => spark.read.jdbc(url, table, props)
    }

  def writeJdbc(df: DataFrame, url: String, table: String,
      props: java.util.Properties): Unit =
    df.write.mode("append").jdbc(url, table, props)

  /** Bucketed parquet table write — THE co-location primitive for
    * repeated large-scale joins/aggregations on a stable key (the
    * SCALE.md §bucketing design): the write pays one shuffle into
    * `numBuckets` hash buckets (optionally sorted within), and every
    * later equi-join or aggregation on the bucket key between
    * same-bucketed tables plans WITHOUT a ShuffleExchange — at
    * 100 TB that converts the nightly fact-to-fact join from the
    * dominant shuffle into a zipped per-bucket merge. Registered in
    * the session catalog with data at `path` (external table, no
    * warehouse pollution); read it back with `spark.table`.
    * BucketingSpec asserts the exchange-free plans mechanically. */
  def writeBucketed(df: DataFrame, tableName: String, path: String,
      bucketCols: Seq[String], numBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "need at least one bucket column")
    require(numBuckets >= 1 && numBuckets <= 100000,
      s"numBuckets in [1,100000], got $numBuckets")
    df.sparkSession.sql(s"DROP TABLE IF EXISTS `$tableName`")
    val w0 = df.write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val w = if (sortCols.nonEmpty)
      w0.sortBy(sortCols.head, sortCols.tail: _*) else w0
    w.saveAsTable(tableName)
  }
}
