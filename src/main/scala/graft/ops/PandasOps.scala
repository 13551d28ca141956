package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The pandas-style relational surface of the reference
  * (cool-japan/pandrs), re-expressed as thin extension methods over
  * Spark built-ins so Catalyst owns optimization (pushdown, pruning,
  * join strategy). Each method cites the reference implementation it
  * covers (file:line under /root/reference).
  *
  * Scale notes: every method stays fully declarative — no collect(),
  * no driver-side loops — so plans distribute unchanged on a real
  * cluster. Operations that need pandas' implicit row order take an
  * explicit order column (SURVEY.md §7.4.1).
  */
object PandasOps {

  // outside RichDataFrame: a value class cannot hold the lambda
  private def boundsBelow(v: Column, bounds: Array[Double]): Column =
    size(filter(typedLit(bounds), b => v > b))

  implicit class RichDataFrame(val df: DataFrame) extends AnyVal {

    /** String-predicate filter; replaces the reference's 2.5k-LoC
      * query engine (src/dataframe/query/engine.rs:32-57) with the
      * Spark SQL parser. */
    def query(predicate: String): DataFrame = df.filter(predicate)

    /** pandas assign — add computed columns
      * (src/dataframe/pandas_compat/trait_def.rs:14-28). */
    def assign(cols: (String, Column)*): DataFrame =
      cols.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }

    /** value_counts (trait_def.rs:84-92): frequency table, most
      * frequent first, deterministic tiebreak on the value. */
    def valueCounts(colName: String, normalize: Boolean = false,
        dropna: Boolean = true): DataFrame = {
      val base = if (dropna) df.filter(col(colName).isNotNull) else df
      val counts = base.groupBy(colName).agg(count(lit(1)).as("count"))
      val out = if (!normalize) counts
        else counts
          .crossJoin(broadcast(counts.agg(
            sum(col("count")).cast("double").as("__tot__"))))
          .withColumn("proportion", col("count") / col("__tot__"))
          .drop("__tot__")
      out.orderBy(col("count").desc, col(colName))
    }

    /** nunique per column (trait_def.rs:78). */
    def nunique(cols: String*): DataFrame =
      df.agg(countDistinct(cols.head) as s"${cols.head}_nunique",
        cols.tail.map(c => countDistinct(c).as(s"${c}_nunique")): _*)

    /** drop_duplicates(subset, keep=first/last) keyed by an explicit
      * order column (src/dataframe/apply.rs:199-276). keep=first ⇒
      * smallest orderCol wins. One shuffle on the subset keys; the
      * row_number window is the standard scalable dedup. */
    def dropDuplicatesKeep(subset: Seq[String], orderCol: String,
        keepLast: Boolean = false): DataFrame = {
      val ord = if (keepLast) col(orderCol).desc else col(orderCol).asc
      val w = Window.partitionBy(subset.map(col): _*).orderBy(ord)
      df.withColumn("__rn__", row_number().over(w))
        .filter(col("__rn__") === 1).drop("__rn__")
    }

    /** duplicated flags (apply.rs:199-276): true for every row after
      * the first occurrence (by orderCol) of its subset key. */
    def duplicated(subset: Seq[String], orderCol: String): DataFrame = {
      val w = Window.partitionBy(subset.map(col): _*)
        .orderBy(col(orderCol).asc)
      df.withColumn("duplicated", row_number().over(w) > 1)
    }

    /** melt / wide-to-long (src/optimized/split_dataframe/data_ops.rs:241,
      * src/dataframe/transform.rs:11) via the codegen'd stack()
      * expression — no shuffle, row-local. Value columns keep their
      * type when they share one; mixed numerics widen to double and
      * anything else falls back to string (pandas object semantics) —
      * never a silent numeric cast of strings. */
    def melt(idVars: Seq[String], valueVars: Seq[String],
        varName: String = "variable",
        valueName: String = "value"): DataFrame = {
      import org.apache.spark.sql.types._
      val types = valueVars.map(v => df.schema(v).dataType).distinct
      val target: Option[DataType] = types match {
        case Seq(single) => Some(single) // already uniform: no cast
        case ts if ts.forall(_.isInstanceOf[NumericType]) =>
          Some(DoubleType)
        case _ => Some(StringType)
      }
      val castSql = target match {
        case Some(t) if types != Seq(t) => (v: String) =>
          s"cast(`$v` as ${t.sql})"
        case _ => (v: String) => s"`$v`"
      }
      val stackArgs = valueVars
        .map(v => s"'$v', ${castSql(v)}").mkString(", ")
      df.select(idVars.map(col) :+
        expr(s"stack(${valueVars.size}, $stackArgs) as ($varName, $valueName)"): _*)
    }

    /** pandas wide_to_long: columns named `<stub><sep><suffix>` for
      * each stub in `stubs` unpivot into one row per suffix carrying
      * every stub's value (A_1970, B_1970 → j=1970 with columns A, B).
      * Suffixes are discovered from the schema (driver-side — column
      * metadata, not data) and must be shared by all stubs; the
      * unpivot itself is a row-local explode, no shuffle. */
    def wideToLong(stubs: Seq[String], idVars: Seq[String], j: String,
        sep: String = "_"): DataFrame = {
      require(stubs.nonEmpty, "wideToLong needs stub names")
      val suffixes = df.columns.toSeq
        .filter(c => stubs.exists(st => c.startsWith(st + sep)))
        .map { c =>
          val st = stubs.filter(s2 => c.startsWith(s2 + sep))
            .maxBy(_.length)
          c.drop(st.length + sep.length)
        }.distinct.sorted
      require(suffixes.nonEmpty, "wideToLong: no stub columns found")
      stubs.foreach(st => suffixes.foreach(sf =>
        require(df.columns.contains(st + sep + sf),
          s"wideToLong: missing column $st$sep$sf")))
      val rows = array(suffixes.map(sf =>
        struct((lit(sf).as(j) +:
          stubs.map(st => col(st + sep + sf).as(st))): _*)): _*)
      df.select((idVars.map(col) :+ explode(rows).as("__w__")): _*)
        .select((idVars.map(col) :+ col(s"__w__.$j").as(j)) ++
          stubs.map(st => col(s"__w__.$st").as(st)): _*)
    }

    /** pivot_table (src/pivot/mod.rs:12-108): index × columns grid.
      * Spark's pivot collects distinct pivot values (bounded, small)
      * then runs a single hash aggregate. Pass `values` explicitly
      * when known to skip that distinct-scan job — on a 100 TB input
      * the values list is usually a known small domain. */
    def pivotTable(index: Seq[String], pivotCol: String,
        agg: Column, values: Seq[Any] = Nil): DataFrame = {
      val g = df.groupBy(index.map(col): _*)
      (if (values.isEmpty) g.pivot(pivotCol)
       else g.pivot(pivotCol, values)).agg(agg)
    }

    /** pivot_table margins=True: the body plus an `All` column (agg
      * across pivot values per index row) and an `All` row (agg
      * across index values per pivot value, with the grand total in
      * the corner). Margins re-aggregate the UNDERLYING rows — the
      * pandas semantics, which differs from summing pivot cells for
      * non-additive aggs like mean. Index columns come back as
      * strings to carry the margin label. Three grouped aggregates
      * over the same scan; no driver state. */
    def pivotTableMargins(index: Seq[String], pivotCol: String,
        agg: Column, values: Seq[Any] = Nil,
        marginsName: String = "All"): DataFrame = {
      val strIdx = df.select(
        index.map(c => col(c).cast("string").as(c)) ++
          df.columns.filterNot(index.contains).map(col): _*)
      val g = strIdx.groupBy(index.map(col): _*)
      val body = (if (values.isEmpty) g.pivot(pivotCol)
        else g.pivot(pivotCol, values)).agg(agg)
      val colMargin = strIdx.groupBy(index.map(col): _*)
        .agg(agg.as(marginsName))
      val gAll = strIdx.groupBy()
      val rowMargin = (if (values.isEmpty) gAll.pivot(pivotCol)
        else gAll.pivot(pivotCol, values)).agg(agg)
        .crossJoin(strIdx.agg(agg.as(marginsName)))
        .select(index.map(_ => lit(marginsName)).zip(index)
          .map { case (l, c) => l.as(c) } ++
          body.columns.filterNot(index.contains).map(col) :+
          col(marginsName).as(marginsName): _*)
      body.join(colMargin, index)
        .select(index.map(col) ++
          body.columns.filterNot(index.contains).map(col) :+
          col(marginsName): _*)
        .unionByName(rowMargin)
    }

    /** crosstab contingency counts
      * (src/dataframe/pandas_compat/functions.rs:2138). */
    def crosstab2(a: String, b: String): DataFrame =
      df.groupBy(a).pivot(b).agg(count(lit(1)))

    /** pandas crosstab(normalize=): cell shares instead of counts.
      * normalize ∈ {"index" (rows sum to 1), "columns", "all"}.
      * Computed in LONG form (a, b, share) — one count aggregate +
      * one margin aggregate broadcast back; rounded to 6 dp. */
    def crosstabNormalized(a: String, b: String,
        normalize: String = "all"): DataFrame = {
      require(Seq("index", "columns", "all").contains(normalize),
        s"normalize must be index/columns/all, got $normalize")
      val cells = df.filter(col(a).isNotNull && col(b).isNotNull)
        .groupBy(col(a), col(b)).agg(count(lit(1)).as("__n__"))
      val denom = normalize match {
        case "index" =>
          cells.groupBy(col(a)).agg(sum("__n__").as("__d__"))
        case "columns" =>
          cells.groupBy(col(b)).agg(sum("__n__").as("__d__"))
        case _ => cells.agg(sum("__n__").as("__d__"))
      }
      val joined = normalize match {
        case "index"   => cells.join(broadcast(denom), Seq(a))
        case "columns" => cells.join(broadcast(denom), Seq(b))
        case _         => cells.crossJoin(broadcast(denom))
      }
      joined.select(col(a), col(b),
        round(col("__n__").cast("double") / col("__d__"), 6).as("share"))
    }

    /** hierarchical-groupby navigation parity
      * (src/dataframe/hierarchical_groupby.rs:232): rollup + a level
      * label decoded from grouping_id, replacing the reference's tree
      * object with a flat navigable frame. */
    def rollupLevels(keys: Seq[String], aggs: Column*): DataFrame = {
      val gid = grouping_id().cast("long")
      val level = lit(keys.size) - keys.indices
        .map(i => (gid / (1L << (keys.size - 1 - i)) % 2).cast("int"))
        .reduce(_ + _)
      df.rollup(keys.map(col): _*)
        .agg(aggs.head, (aggs.tail :+ level.as("level")): _*)
    }

    /** fillna with per-column constants (trait_def.rs:110-121). */
    def fillna(values: Map[String, Any]): DataFrame = df.na.fill(values)

    /** dropna (trait_def.rs dropna): how ∈ any|all, optional subset. */
    def dropna(how: String = "any",
        subset: Seq[String] = Nil): DataFrame =
      if (subset.isEmpty) df.na.drop(how) else df.na.drop(how, subset)

    /** unstack = long-to-wide (src/dataframe/transform.rs:141):
      * inverse of melt. */
    def unstack(index: Seq[String], pivotCol: String,
        valueCol: String): DataFrame =
      df.groupBy(index.map(col): _*).pivot(pivotCol)
        .agg(first(col(valueCol)))

    /** forward-fill within partitions ordered by orderCol
      * (trait_def.rs ffill; SURVEY §2.9). last(ignoreNulls) over an
      * unbounded-preceding frame — one window pass, distributes. */
    def ffill(cols: Seq[String], orderCol: String,
        partitionCols: Seq[String] = Nil): DataFrame = {
      val w = Window.partitionBy(partitionCols.map(col): _*)
        .orderBy(col(orderCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cols.foldLeft(df)((d, c) =>
        d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
    }

    /** backward-fill: mirror of ffill. */
    def bfill(cols: Seq[String], orderCol: String,
        partitionCols: Seq[String] = Nil): DataFrame = {
      val w = Window.partitionBy(partitionCols.map(col): _*)
        .orderBy(col(orderCol))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      cols.foldLeft(df)((d, c) =>
        d.withColumn(c, first(col(c), ignoreNulls = true).over(w)))
    }

    /** linear interpolation of nulls between the previous and next
      * non-null values, pandas interpolate(method='linear')
      * (trait_def.rs:151-172). Two window passes, no shuffle beyond
      * the partition-by. */
    def interpolateLinear(valueCol: String, orderCol: String,
        partitionCols: Seq[String] = Nil): DataFrame = {
      val wAll = Window.partitionBy(partitionCols.map(col): _*)
        .orderBy(col(orderCol))
      val wPrev = wAll.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = wAll.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val v = col(valueCol)
      val rn = row_number().over(wAll)
      df.withColumn("__rn__", rn)
        .withColumn("__pv__", last(v, ignoreNulls = true).over(wPrev))
        .withColumn("__pn__",
          last(when(v.isNotNull, col("__rn__")), ignoreNulls = true).over(wPrev))
        .withColumn("__nv__", first(v, ignoreNulls = true).over(wNext))
        .withColumn("__nn__",
          first(when(v.isNotNull, col("__rn__")), ignoreNulls = true).over(wNext))
        .withColumn(valueCol,
          when(v.isNotNull, v)
            // pandas interpolate: leading NaNs stay NaN (no backfill);
            // trailing NaNs hold the last valid value
            .when(col("__pv__").isNull, lit(null))
            .when(col("__nv__").isNull, col("__pv__"))
            .otherwise(col("__pv__") +
              (col("__nv__") - col("__pv__")) *
                (col("__rn__") - col("__pn__")) /
                (col("__nn__") - col("__pn__"))))
        .drop("__rn__", "__pv__", "__pn__", "__nv__", "__nn__")
    }

    /** pandas rank with method ∈ {average,min,max,first,dense}
      * (trait_def.rs:51, rankmethod_traits.rs). */
    def rankBy(valueCol: String, method: String = "average",
        partitionCols: Seq[String] = Nil): DataFrame = {
      val v = col(valueCol)
      // pandas: NaN/null stays unranked and does not shift other
      // ranks. Nulls sort first in Spark, so subtract the partition's
      // null count from the raw rank and null out the null rows.
      val w = Window.partitionBy(partitionCols.map(col): _*)
        .orderBy(v.asc_nulls_first)
      val wp = Window.partitionBy(partitionCols.map(col): _*)
      val nullCnt = sum(when(v.isNull, 1L).otherwise(0L)).over(wp)
      val raw = method match {
        case "min"   => rank().over(w).cast("double") - nullCnt
        case "dense" => dense_rank().over(w).cast("double") -
          when(nullCnt > 0, 1.0).otherwise(0.0)
        case "first" => row_number().over(w).cast("double") - nullCnt
        case "max"   =>
          (rank().over(w) + count(lit(1))
            .over(w.rangeBetween(0, 0)) - 1).cast("double") - nullCnt
        case _ => // average = (min_rank + max_rank) / 2
          (rank().over(w) +
            (count(lit(1)).over(w.rangeBetween(0, 0)) - 1) / 2.0) -
            nullCnt
      }
      df.withColumn("rank", when(v.isNull, lit(null)).otherwise(raw))
    }

    /** pandas groupby().cumcount(): 0-based position of each row
      * within its group under `orderCols` (pass a full tiebreak for a
      * deterministic result). One partitioned window. */
    def cumcount(groupCols: Seq[String], orderCols: Seq[String],
        outName: String = "cumcount"): DataFrame = {
      val w = Window.partitionBy(groupCols.map(col): _*)
        .orderBy(orderCols.map(col): _*)
      df.withColumn(outName, (row_number().over(w) - 1).cast("long"))
    }

    /** pandas groupby().ngroup(): dense 0-based index of each row's
      * group in group-key sort order. The index is computed on the
      * DISTINCT group table (bounded by the group-key domain, so the
      * single-partition ordering window is over group COUNT rows, not
      * data rows) and broadcast-joined back — data rows never move. */
    def ngroup(groupCols: Seq[String],
        outName: String = "ngroup"): DataFrame = {
      val w = Window.orderBy(groupCols.map(col): _*)
      val groups = df.select(groupCols.map(col): _*).distinct()
        .withColumn(outName, (row_number().over(w) - 1).cast("long"))
      df.join(broadcast(groups), groupCols)
    }

    /** SQL percent_rank ((min_rank − 1)/(n − 1)) over the WHOLE frame
      * without the global single-partition window: ranks come from the
      * distinct-value table via the range-bucketed cumulative counts
      * (StatsOps.distinctValueCumCounts — the Mann-Whitney machinery)
      * and broadcast-join back, so the only full-data operations are
      * one groupBy(value) and one join. Null values get a null rank
      * and don't shift others. Value domain must be well below row
      * count (cents, ids, categories) — the rank map is broadcast. */
    def percentRankScalable(valueCol: String,
        outName: String = "pct_rank"): DataFrame = {
      val nonNull = df.filter(col(valueCol).isNotNull)
      val counts = nonNull.groupBy(col(valueCol))
        .agg(count(lit(1)).as("__c__"))
      val n = nonNull.count().toDouble
      val rankMap = graft.stats.StatsOps
        .distinctValueCumCounts(counts, valueCol, "__c__")
        .select(col(valueCol),
          (col("__below__") / lit(math.max(n - 1.0, 1.0))).as(outName))
      df.join(broadcast(rankMap), Seq(valueCol), "left")
    }

    /** shift/lag (trait_def.rs:75). */
    def shiftCol(valueCol: String, n: Int, orderCol: String,
        partitionCols: Seq[String] = Nil): DataFrame = {
      val w = Window.partitionBy(partitionCols.map(col): _*)
        .orderBy(col(orderCol))
      df.withColumn(s"${valueCol}_shift", lag(col(valueCol), n).over(w))
    }

    /** diff (trait_def.rs:107). */
    def diffCol(valueCol: String, orderCol: String,
        partitionCols: Seq[String] = Nil): DataFrame = {
      val w = Window.partitionBy(partitionCols.map(col): _*)
        .orderBy(col(orderCol))
      df.withColumn(s"${valueCol}_diff",
        col(valueCol) - lag(col(valueCol), 1).over(w))
    }

    /** pct_change (trait_def.rs:110). */
    def pctChange(valueCol: String, orderCol: String,
        partitionCols: Seq[String] = Nil): DataFrame = {
      val w = Window.partitionBy(partitionCols.map(col): _*)
        .orderBy(col(orderCol))
      df.withColumn(s"${valueCol}_pct_change",
        col(valueCol) / lag(col(valueCol), 1).over(w) - 1)
    }

    /** cumulative sum/min/max/prod (trait_def.rs:63-74). cumprod via
      * exp∘sum∘log with sign/zero handling (SURVEY §2.4). */
    def cumsum(valueCol: String, orderCol: String,
        partitionCols: Seq[String] = Nil): DataFrame = {
      val w = Window.partitionBy(partitionCols.map(col): _*)
        .orderBy(col(orderCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(s"${valueCol}_cumsum", sum(col(valueCol)).over(w))
    }

    def cummax(valueCol: String, orderCol: String,
        partitionCols: Seq[String] = Nil): DataFrame = {
      val w = Window.partitionBy(partitionCols.map(col): _*)
        .orderBy(col(orderCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(s"${valueCol}_cummax", max(col(valueCol)).over(w))
    }

    def cummin(valueCol: String, orderCol: String,
        partitionCols: Seq[String] = Nil): DataFrame = {
      val w = Window.partitionBy(partitionCols.map(col): _*)
        .orderBy(col(orderCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(s"${valueCol}_cummin", min(col(valueCol)).over(w))
    }

    def cumprod(valueCol: String, orderCol: String,
        partitionCols: Seq[String] = Nil): DataFrame = {
      val w = Window.partitionBy(partitionCols.map(col): _*)
        .orderBy(col(orderCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val v = col(valueCol)
      val zeros = sum(when(v === 0, 1).otherwise(0)).over(w)
      val negs = sum(when(v < 0, 1).otherwise(0)).over(w)
      val mag = exp(sum(when(v =!= 0, log(abs(v)))).over(w))
      df.withColumn(s"${valueCol}_cumprod",
        when(zeros > 0, lit(0.0))
          .otherwise(when(negs % 2 === 1, -mag).otherwise(mag)))
    }

    /** fixed-width binning, pandas cut (functions.rs:2339). Emits the
      * 0-based bin index; edges follow pandas right-closed intervals. */
    def cut(valueCol: String, bins: Seq[Double]): DataFrame = {
      val v = col(valueCol)
      val idx = bins.sliding(2).zipWithIndex.foldLeft(lit(null)
          .cast("int")) { case (acc, (Seq(lo, hi), i)) =>
        when(v > lo && v <= hi, lit(i)).otherwise(acc)
      }
      df.withColumn(s"${valueCol}_bin", idx)
    }

    /** quantile binning, pandas qcut (functions.rs:2370) — ntile over
      * a deterministic total order (tiebreak column required).
      * NOTE: exact ntile needs a global single-partition window; use
      * qcutApprox for large data. */
    def qcut(valueCol: String, q: Int, tiebreak: String): DataFrame =
      df.withColumn(s"${valueCol}_qbin",
        ntile(q).over(Window.orderBy(col(valueCol), col(tiebreak))) - 1)

    /** Scalable qcut: bucket by approximate quantile bounds
      * (GK sketch, driver gets q-1 doubles, rows never move) —
      * the 100 TB path; bin populations are approximately equal
      * rather than exactly equal. A row's bin is the number of bounds
      * below it; the bounds enter the plan as one array literal, so
      * the generated code does not change with the data. */
    def qcutApprox(valueCol: String, q: Int,
        relErr: Double = 0.001): DataFrame = {
      val bounds = df.stat.approxQuantile(valueCol,
        (1 until q).map(_.toDouble / q).toArray, relErr)
      val v = col(valueCol)
      val bin = boundsBelow(v, bounds)
      // null/NaN stays null (pandas qcut), not the top bucket
      df.withColumn(s"${valueCol}_qbin",
        when(v.isNull || isnan(v.cast("double")), lit(null))
          .otherwise(bin))
    }

    /** group filter (reference group/operations.rs:51,
      * dataframe/groupby.rs:406): keep rows of groups whose aggregate
      * predicate holds — aggregate once, semi-join back (no
      * per-group closure, distributes). */
    def groupFilter(keys: Seq[String], aggPred: Column): DataFrame = {
      val keep = df.groupBy(keys.map(col): _*)
        .agg(aggPred.as("__keep__")).filter(col("__keep__"))
        .select(keys.map(col): _*)
      df.join(keep, keys, "left_semi")
    }

    /** group transform (group/operations.rs:132): broadcast a group
      * aggregate back onto every row — window over the keys. */
    def groupTransform(keys: Seq[String], agg: Column,
        outName: String): DataFrame =
      df.withColumn(outName,
        agg.over(Window.partitionBy(keys.map(col): _*)))

    /** named multi-agg (reference NamedAgg / agg_dict,
      * src/dataframe/groupby.rs:258-397). */
    def aggNamed(keys: Seq[String],
        aggs: (String, Column)*): DataFrame =
      df.groupBy(keys.map(col): _*)
        .agg(aggs.head._2.as(aggs.head._1),
          aggs.tail.map { case (n, c) => c.as(n) }: _*)

    /** clip to [lo, hi] (trait_def.rs:54). */
    def clip(valueCol: String, lo: Double, hi: Double): DataFrame =
      df.withColumn(valueCol,
        least(greatest(col(valueCol), lit(lo)), lit(hi)))

    /** value replacement map on one column (trait_def.rs replace). */
    def replaceValues(colName: String, mapping: Map[String, String]): DataFrame =
      df.withColumn(colName, mapping.foldLeft(col(colName)) {
        case (c, (from, to)) => when(col(colName) === from, lit(to))
          .otherwise(c)
      })

    /** transpose (trait_def.rs:60) — small frames only by design:
      * collects to the driver (pandas-style transpose has no
      * distributed meaning; guarded by maxRows). */
    def transposeSmall(keyCol: String, maxRows: Int = 1000): DataFrame = {
      val rows = df.limit(maxRows + 1).collect()
      require(rows.length <= maxRows,
        s"transposeSmall: more than $maxRows rows")
      val spark = df.sparkSession
      val valueCols = df.columns.filter(_ != keyCol)
      val header = rows.map(_.getAs[Any](keyCol).toString)
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val schema = StructType(StructField("column", StringType) +:
        header.map(h => StructField(h, StringType)).toSeq)
      val data = valueCols.map { c =>
        Row.fromSeq(c +: rows.map(r => String.valueOf(r.getAs[Any](c))).toSeq)
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(data.toSeq), schema)
    }

    /** seeded random sample (trait_def.rs sample;
      * src/stats/mod.rs:310). */
    def sampleSeed(fraction: Double, seed: Long,
        withReplacement: Boolean = false): DataFrame =
      df.sample(withReplacement, fraction, seed)

    /** Grouped string concatenation (pandas groupby + str.cat / SQL
      * LISTAGG): values sorted before joining so the result is
      * deterministic under any partitioning. `distinct` collapses
      * duplicates first. One grouped aggregate — collect_set/list is
      * per-group bounded; keep value domains per group modest. */
    def stringAgg(keyCols: Seq[String], valueCol: String,
        sep: String = ",", distinct: Boolean = true): DataFrame = {
      val v = col(valueCol).cast("string")
      val collected = if (distinct) collect_set(v) else collect_list(v)
      df.filter(v.isNotNull)
        .groupBy(keyCols.map(col): _*)
        .agg(array_join(array_sort(collected), sep).as(s"${valueCol}_agg"))
    }

    /** pandas combine_first (keyed): union of rows by key; shared
      * columns take this frame's value and fall back to `other`'s,
      * columns unique to either side pass through. One full-outer
      * join on the keys — the standard patch/backfill operation. */
    def combineFirst(other: DataFrame, keyCols: Seq[String]): DataFrame = {
      val dfCols = df.columns.toSeq.filterNot(keyCols.contains)
      val otherCols = other.columns.toSeq.filterNot(keyCols.contains)
      val common = dfCols.intersect(otherCols)
      val joined = df.as("l").join(other.as("r"), keyCols, "full_outer")
      joined.select(
        keyCols.map(col) ++
          common.map(c => coalesce(col(s"l.$c"), col(s"r.$c")).as(c)) ++
          dfCols.diff(common).map(c => col(s"l.$c").as(c)) ++
          otherCols.diff(common).map(c => col(s"r.$c").as(c)): _*)
    }

    /** pandas groupby().sample(n): a fixed-size per-group sample,
      * deterministic and engine-portable — rows draw an md5 lottery
      * ticket on (id, salt) and the n smallest per group win. One
      * shuffle on the group keys; groups smaller than n keep all
      * their rows. Vary `salt` for an independent redraw. */
    def sampleNPerGroup(keyCols: Seq[String], idCol: String, n: Int,
        salt: String = ""): DataFrame = {
      require(n >= 1, s"n=$n must be >= 1")
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(md5(concat(col(idCol).cast("string"), lit(salt))),
          col(idCol))
      df.withColumn("__rn__", row_number().over(w))
        .filter(col("__rn__") <= n).drop("__rn__")
    }

    /** nlargest/nsmallest (trait_def.rs:39-42): Catalyst plans
      * TakeOrderedAndProject — no full sort. */
    def nlargest(n: Int, valueCol: String, tiebreak: String): DataFrame =
      df.orderBy(col(valueCol).desc, col(tiebreak)).limit(n)

    def nsmallest(n: Int, valueCol: String, tiebreak: String): DataFrame =
      df.orderBy(col(valueCol).asc, col(tiebreak)).limit(n)

    /** pandas groupby().nlargest(n): top n rows per group by value
      * (deterministic tiebreak). Partitioned window — per-group sorted
      * streams, no global sort; scales with group cardinality. */
    def nlargestPerGroup(n: Int, valueCol: String, keyCols: Seq[String],
        tiebreak: String): DataFrame = {
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(col(valueCol).desc, col(tiebreak).asc)
      df.withColumn("__rn__", row_number().over(w))
        .filter(col("__rn__") <= n).drop("__rn__")
    }

    def nsmallestPerGroup(n: Int, valueCol: String, keyCols: Seq[String],
        tiebreak: String): DataFrame = {
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(col(valueCol).asc, col(tiebreak).asc)
      df.withColumn("__rn__", row_number().over(w))
        .filter(col("__rn__") <= n).drop("__rn__")
    }

    /** pandas merge with overlap suffixes
      * (src/dataframe/pandas_compat/merge.rs:34). SQL null-key
      * semantics (documented divergence, SURVEY §2.3). */
    def merge(right: DataFrame, on: Seq[String], how: String = "inner",
        suffixes: (String, String) = ("_x", "_y")): DataFrame = {
      val overlap = (df.columns.toSet intersect right.columns.toSet) -- on
      val l = overlap.foldLeft(df)((d, c) =>
        d.withColumnRenamed(c, c + suffixes._1))
      val r = overlap.foldLeft(right)((d, c) =>
        d.withColumnRenamed(c, c + suffixes._2))
      l.join(r, on, how)
    }

    /** pandas merge(indicator=True): the [[merge]] join plus the
      * `_merge` provenance column (both / left_only / right_only) —
      * the standard join-coverage audit. Presence flags ride the two
      * sides as literal columns, so the indicator is pure join
      * output (no extra pass). */
    def mergeIndicator(right: DataFrame, on: Seq[String],
        how: String = "outer",
        suffixes: (String, String) = ("_x", "_y")): DataFrame = {
      val overlap = (df.columns.toSet intersect right.columns.toSet) -- on
      val l = overlap.foldLeft(df)((d, c) =>
        d.withColumnRenamed(c, c + suffixes._1))
        .withColumn("__in_l__", lit(1))
      val r = overlap.foldLeft(right)((d, c) =>
        d.withColumnRenamed(c, c + suffixes._2))
        .withColumn("__in_r__", lit(1))
      l.join(r, on, how)
        .withColumn("_merge",
          when(col("__in_l__").isNotNull && col("__in_r__").isNotNull,
            "both")
            .when(col("__in_l__").isNotNull, "left_only")
            .otherwise("right_only"))
        .drop("__in_l__", "__in_r__")
    }

    /** pandas reindex (src/index_impl + pandas_compat reindex): the
      * result has EXACTLY the keys of `newIndex` (one `keyCol`
      * column), in their row set — existing rows carry their values,
      * absent keys appear with nulls (or `fill` for numeric columns).
      * A left join from the new key table — broadcastable when the
      * index is small, shuffle-join otherwise; never a collect. */
    def reindex(newIndex: DataFrame, keyCol: String,
        fill: Option[Double] = None): DataFrame = {
      val joined = newIndex.select(keyCol).join(df, Seq(keyCol), "left")
      fill match {
        case Some(v) => joined.na.fill(v)
        case None => joined
      }
    }

    /** pandas align(join="outer") on a key column: both frames keyed
      * on `keyCol`, full-outer joined, non-key columns suffixed — the
      * aligned pair as ONE frame (Spark has no tuple-of-frames
      * return; select the suffixed halves to split). */
    def alignOuter(right: DataFrame, keyCol: String,
        suffixes: (String, String) = ("_x", "_y")): DataFrame = {
      val l = df.columns.filter(_ != keyCol).foldLeft(df)((d, c) =>
        d.withColumnRenamed(c, c + suffixes._1))
      val r = right.columns.filter(_ != keyCol).foldLeft(right)((d, c) =>
        d.withColumnRenamed(c, c + suffixes._2))
      l.join(r, Seq(keyCol), "outer")
    }

    /** positional row selection (reference select.rs:53
      * select_rows_by_indices): order-dependent, takes an explicit
      * order column per SURVEY §7.4.1. */
    def selectRowsByPosition(positions: Seq[Long],
        orderCols: Seq[String]): DataFrame = {
      val w = Window.orderBy(orderCols.map(col): _*)
      df.withColumn("__pos__", row_number().over(w).cast("long") - 1)
        .filter(col("__pos__").isin(positions: _*))
        .drop("__pos__")
    }

    /** head/tail/offset over an explicit order
      * (row_ops.rs:284-301; distributed Offset). */
    def headN(n: Int, orderCols: Seq[String]): DataFrame =
      df.orderBy(orderCols.map(col): _*).limit(n)

    def tailN(n: Int, orderCols: Seq[String]): DataFrame =
      df.orderBy(orderCols.map(c => col(c).desc): _*).limit(n)

    def offsetN(n: Int, orderCols: Seq[String]): DataFrame =
      df.orderBy(orderCols.map(col): _*).offset(n)

    /** concat axis=1 (pandas_compat/concat.rs:36): align two frames
      * on a key column. */
    def concatCols(other: DataFrame, key: String): DataFrame =
      df.join(other, Seq(key), "full")

    /** DataFrame-wide rolling over every numeric column
      * (src/dataframe/enhanced_window.rs:25-294). */
    def rollingAll(n: Int, agg: Column => Column,
        orderCols: Seq[String],
        partitionCols: Seq[String] = Nil): DataFrame = {
      import org.apache.spark.sql.types.NumericType
      val w = Window.partitionBy(partitionCols.map(col): _*)
        .orderBy(orderCols.map(col): _*)
        .rowsBetween(-(n - 1), 0)
      df.schema.fields
        .filter(f => f.dataType.isInstanceOf[NumericType] &&
          !orderCols.contains(f.name) && !partitionCols.contains(f.name))
        .foldLeft(df)((d, f) =>
          d.withColumn(s"${f.name}_roll$n", agg(col(f.name)).over(w)))
    }

    /** apply a column expression to many columns at once
      * (apply.rs applymap / par_apply — expression-first per
      * SURVEY §2.15). */
    def applyNumeric(f: Column => Column, cols: Seq[String]): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, f(col(c))))

    /** idxmax/idxmin (trait_def.rs:45-48): key of the extremum row
      * via max_by/min_by — single aggregate, no sort. */
    def idxmax(valueCol: String, idCol: String): DataFrame =
      df.agg(max_by(col(idCol), col(valueCol)).as(s"${valueCol}_idxmax"))

    def idxmin(valueCol: String, idCol: String): DataFrame =
      df.agg(min_by(col(idCol), col(valueCol)).as(s"${valueCol}_idxmin"))

    /** where/mask (src/dataframe/apply.rs:31-36,118-177): keep value
      * where cond (where) / replace where cond (mask). */
    def whereCond(valueCol: String, cond: Column, other: Any): DataFrame =
      df.withColumn(valueCol,
        when(cond, col(valueCol)).otherwise(lit(other)))

    def maskCond(valueCol: String, cond: Column, other: Any): DataFrame =
      df.withColumn(valueCol,
        when(cond, lit(other)).otherwise(col(valueCol)))

    /** equals (trait_def.rs:303): exact content equality, computed
      * distributed via two anti-joins (no collect). */
    def dfEquals(other: DataFrame): Boolean =
      df.columns.sameElements(other.columns) &&
        df.exceptAll(other).isEmpty && other.exceptAll(df).isEmpty

    /** pipe (trait_def.rs:28): function chaining — in Scala this is
      * plain application, provided for surface parity. */
    def pipe(f: DataFrame => DataFrame): DataFrame = f(df)

    /** memory_usage (trait_def.rs misc surface): estimated bytes per
      * column = Catalyst default width × row count, plus the
      * optimizer's total-size estimate. One count; no data movement.
      * (An estimate by design — pandas' is too, for object dtypes.) */
    def memoryUsage(): DataFrame = {
      val n = df.count()
      val spark = df.sparkSession
      val rows = df.schema.fields.toSeq.map(f =>
        org.apache.spark.sql.Row(f.name,
          f.dataType.defaultSize.toLong * n))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("column",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("est_bytes",
            org.apache.spark.sql.types.LongType))))
    }

    /** compare (trait_def.rs compare): row-level diff keyed by
      * keyCols — returns rows whose non-key values differ, with both
      * sides suffixed. */
    def dfCompare(other: DataFrame, keyCols: Seq[String]): DataFrame = {
      val vals = df.columns.filterNot(keyCols.contains)
      val l = vals.foldLeft(df)((d, c) => d.withColumnRenamed(c, c + "_self"))
      val r = vals.foldLeft(other)((d, c) =>
        d.withColumnRenamed(c, c + "_other"))
      l.join(r, keyCols, "full")
        .filter(vals.map(c =>
          !(col(c + "_self") <=> col(c + "_other"))).reduce(_ || _))
    }

    /** as-of join helper (exceeds reference; SURVEY §7.3): for each
      * left row, the matching right row per key in the requested
      * `direction` — "backward" (most recent rightTime ≤ leftTime,
      * pandas default), "forward" (earliest rightTime ≥ leftTime) or
      * "nearest" (closer of the two; backward wins ties). Union +
      * ordered window — a single shuffle on (key), no O(n²) join.
      * Exactly-equal timestamps match in every direction
      * (allow_exact_matches=true semantics). If SEVERAL right rows
      * share one timestamp for a key, which is picked is unspecified
      * — disambiguate rightTime (add a sequence number) when that
      * matters. */
    def asofJoin(right: DataFrame, key: String, leftTime: String,
        rightTime: String, rightVal: String,
        direction: String = "backward",
        tolerance: Option[Double] = None): DataFrame = {
      require(Seq("backward", "forward", "nearest").contains(direction),
        s"asofJoin direction must be backward/forward/nearest, got " +
          direction)
      tolerance.foreach(t0 => require(t0 >= 0,
        s"asofJoin tolerance must be >= 0, got $t0"))
      val lcols = df.columns.toSeq
      val l = df.withColumn("__t__", col(leftTime))
        .withColumn("__side__", lit(1))
        .withColumn("__rv__",
          lit(null).cast(right.schema(rightVal).dataType))
      val r = right.select(col(key), col(rightTime).as("__t__"),
        lit(0).as("__side__"), col(rightVal).as("__rv__"))
      val u = l.unionByName(r, allowMissingColumns = true)
      // backward scan: right rows sort BEFORE coincident left rows
      // (__side__ 0 < 1), so an equal timestamp is visible to
      // last(...) over [unboundedPreceding, currentRow].
      val wb = Window.partitionBy(col(key))
        .orderBy(col("__t__"), col("__side__"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // forward scan: flip the tiebreak so coincident right rows sort
      // AFTER the left row and are visible to first(...) over
      // [currentRow, unboundedFollowing].
      val wf = Window.partitionBy(col(key))
        .orderBy(col("__t__"), -col("__side__"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      // matched value AND matched time in both directions — the time
      // is needed for "nearest" and for pandas-style `tolerance`
      // (match dropped when |leftTime − rightTime| > tolerance, in
      // the time column's units — epoch seconds for timestamps)
      val rt = when(col("__side__") === 0, col("__t__"))
      val bv = last(col("__rv__"), ignoreNulls = true).over(wb)
      val bt = last(rt, ignoreNulls = true).over(wb)
      val fv = first(col("__rv__"), ignoreNulls = true).over(wf)
      val ft = first(rt, ignoreNulls = true).over(wf)
      val db = abs(col("__t__").cast("double") - bt.cast("double"))
      val dfw = abs(ft.cast("double") - col("__t__").cast("double"))
      val (v, dist) = direction match {
        case "backward" => (bv, db)
        case "forward"  => (fv, dfw)
        case "nearest"  =>
          (when(bt.isNull, fv).when(ft.isNull, bv)
            .when(dfw < db, fv).otherwise(bv), // ties -> backward
           when(bt.isNull, dfw).when(ft.isNull, db)
             .otherwise(least(db, dfw)))
      }
      val matched = tolerance match {
        case Some(t0) => when(dist <= t0, v)
        case None => v
      }
      val out = u.withColumn(s"${rightVal}_asof", matched)
      out.filter(col("__side__") === 1)
        .select((lcols.map(col) :+ col(s"${rightVal}_asof")): _*)
    }
  }

  /** Data-profiling report (pandas-profiling's overview table /
    * `df.info()+nunique()` in one result): one row per requested
    * column with total/null/exact-distinct counts and, for numeric
    * columns, min/max/mean as doubles (null for non-numeric). One
    * aggregate branch per column unioned — each branch is a plain
    * scan+agg the optimizer can share; swap `countDistinct` for
    * `approx_count_distinct` at petabyte scale if exactness isn't
    * needed for the audit. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile: need at least one column")
    cols.map { c =>
      val isNum = df.schema(c).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType]
      // non-numeric columns: aggregate a typed null so the branch
      // stays a valid aggregate with a stable schema
      val numC =
        if (isNum) col(c).cast("double") else lit(null).cast("double")
      df.agg(count(lit(1)).as("n_total"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
          countDistinct(col(c)).as("n_distinct"),
          min(numC).as("min_v"),
          max(numC).as("max_v"),
          avg(numC).as("mean_v"))
        .select(lit(c).as("column"), col("n_total"), col("n_null"),
          col("n_distinct"), col("min_v"), col("max_v"), col("mean_v"))
    }.reduce(_ unionByName _)
  }

  /** pandas json_normalize for flat paths: extract typed columns from
    * a JSON-string column — map-side `get_json_object` (codegen'd
    * path evaluation, no UDF), cast per the caller's schema. Paths
    * are JSONPath ("$.k", "$.a.b"); missing paths yield null like
    * json_normalize's NaN. */
  def jsonExtract(df: DataFrame, jsonCol: String,
      fields: Seq[(String, String, String)]): DataFrame =
    fields.foldLeft(df) { case (d, (path, castTo, out)) =>
      d.withColumn(out, get_json_object(col(jsonCol), path).cast(castTo))
    }

  /** pandas Series.is_monotonic_increasing / decreasing per key
    * (reference dataframe is_monotonic): one lag window partitioned
    * by the keys, then a bool-and aggregate — monotonicity and strict
    * monotonicity in both directions from a single pass. */
  def isMonotonic(df: DataFrame, valueCol: String, orderCol: String,
      keyCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol))
    val prev = lag(col(valueCol), 1).over(w)
    df.select(keyCols.map(col) :+ col(valueCol).as("__v") :+
        prev.as("__p"): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(
        coalesce(bool_and(col("__p").isNull || col("__v") >= col("__p")),
          lit(true)).as("increasing"),
        coalesce(bool_and(col("__p").isNull || col("__v") <= col("__p")),
          lit(true)).as("decreasing"),
        coalesce(bool_and(col("__p").isNull || col("__v") > col("__p")),
          lit(true)).as("strict_increasing"),
        coalesce(bool_and(col("__p").isNull || col("__v") < col("__p")),
          lit(true)).as("strict_decreasing"))
  }

  /** pandas groupby().expanding().nunique(): running count of
    * DISTINCT non-null values per key in event order. The first
    * occurrence of each (key, value) contributes 1 (row_number over
    * the (key, value) partition), then a running sum in event order.
    * Two window partitionings — (key, value) then (key) — so two
    * keyed shuffles; both scale with the key cardinality, nothing
    * global. Nulls never count and carry the running value through
    * (pandas nunique semantics). */
  def expandingNunique(df: DataFrame, valueCol: String,
      orderCols: Seq[String], keyCols: Seq[String],
      outName: String = "expanding_nunique"): DataFrame = {
    val wf = Window.partitionBy((keyCols :+ valueCol).map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val wr = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__first__",
        when(col(valueCol).isNotNull &&
          row_number().over(wf) === 1, 1).otherwise(0))
      .withColumn(outName, sum(col("__first__")).over(wr).cast("long"))
      .drop("__first__")
  }

  /** Merge overlapping/touching intervals per key (gaps-and-islands):
    * an interval starting at or before the running max end of its
    * predecessors joins their island; a strict gap starts a new one.
    * Emits one row per island: keys..., island (1-based per key),
    * `start`/`end` of the merged span, n_intervals. Works on any
    * ordered type (dates, timestamps, numerics).
    *
    * Two per-key windows (running max end, running island count) —
    * keyed shuffles only, nothing global. The island partition is
    * order-independent under start ties: a tied row's end ≥ its own
    * start, so ties can never introduce a break between each other,
    * making the result (and its SQL replay) deterministic. */
  def mergeIntervals(df: DataFrame, keyCols: Seq[String],
      startCol: String, endCol: String): DataFrame = {
    require(keyCols.nonEmpty, "mergeIntervals needs at least one key")
    val wPrev = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(startCol), col(endCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(startCol), col(endCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.filter(col(startCol).isNotNull && col(endCol).isNotNull)
      .withColumn("__pmax__", max(col(endCol)).over(wPrev))
      .withColumn("__new__",
        when(col("__pmax__").isNull ||
          col(startCol) > col("__pmax__"), 1L).otherwise(0L))
      .withColumn("island", sum(col("__new__")).over(wRun))
      .groupBy((keyCols.map(col) :+ col("island")): _*)
      .agg(min(col(startCol)).as("start"),
        max(col(endCol)).as("end"),
        count(lit(1)).as("n_intervals"))
  }
}
