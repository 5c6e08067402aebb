package graft.sink

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Physical layout control for write-side data-skipping.
  *
  * Parquet readers prune row groups by column min/max statistics — but
  * stats only help if values are clustered: a randomly-ordered 100 TB
  * table has every row group spanning the full value range, so a range
  * predicate prunes nothing. [[writeRangeClustered]] writes the table
  * range-partitioned AND sorted on the cluster columns, making file- and
  * row-group-level ranges pairwise disjoint: a `BETWEEN` on the cluster
  * key then reads only the touched files (verified file-by-file in
  * LayoutSpec).
  *
  * This is the vanilla-parquet half of what table formats call
  * Z-ordering/clustering; for multi-column skew use a composite or
  * interleaved key.
  */
object Layout {

  def writeRangeClustered(df: DataFrame, path: String,
      clusterCols: Seq[String], numFiles: Int): Unit =
    Parquet.writer(df.repartitionByRange(numFiles, clusterCols.map(col): _*)
        .sortWithinPartitions(clusterCols.map(col): _*))
      .mode(SaveMode.Overwrite).parquet(path)

  /** Morton (Z-order) interleave of two bucketized dimensions — bit i of
    * `a` lands at output bit 2i+1, bit i of `b` at 2i.
    */
  def zValue(a: Column, b: Column, bits: Int): Column =
    (0 until bits).map { i =>
      (shiftleft(shiftright(a, i).bitwiseAND(1), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(1), 2 * i))
    }.reduce(_.bitwiseOR(_))

  /** Z-order-clustered write over TWO numeric columns: each column is
    * min/max-bucketized to `bits` bits, the bucket ids are Morton-
    * interleaved, and the table is range-partitioned + sorted on the
    * z-value. Every file then covers a small RECTANGLE of the 2-D value
    * space, so min/max skipping works on predicates over EITHER column —
    * where [[writeRangeClustered]] on one column leaves the other
    * unclustered (every file spans its full range). This is the
    * clustered-table-format Z-ORDER BY, on vanilla parquet.
    *
    * Linear min/max bucketing keeps the z computation a pure per-row
    * expression (one tiny min/max agg up front, broadcast as literals —
    * no sampling job, no shuffle). Heavily skewed columns would want
    * quantile boundaries instead; the interleave is unchanged.
    */
  def writeZOrdered(df: DataFrame, path: String,
      colA: String, colB: String, numFiles: Int,
      bits: Int = 12): Unit = {
    require(!df.columns.contains("_z"),
      "writeZOrdered reserves the working column _z — rename it in the " +
        "input first (it would be silently overwritten and dropped)")
    // 31 keeps the top interleaved bit at 61/60 — bit 31 of colA would
    // land on the long's sign bit and invert the sort order
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val r = df.agg(min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double")).first()
    if (r.isNullAt(0) || r.isNullAt(2)) {
      // empty input (or all-NULL cluster column): nothing to cluster —
      // write as-is rather than NPE on the missing min/max
      Parquet.writer(df).mode(SaveMode.Overwrite).parquet(path)
      return
    }
    val (loA, hiA, loB, hiB) =
      (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    val nb = 1L << bits
    def bucket(c: Column, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else least(lit(nb - 1), greatest(lit(0L),
        floor((c.cast("double") - lit(lo)) / lit(hi - lo) * nb)
          .cast("long")))
    val z = zValue(bucket(col(colA), loA, hiA),
      bucket(col(colB), loB, hiB), bits)
    Parquet.writer(df.withColumn("_z", z)
        .repartitionByRange(numFiles, col("_z"))
        .sortWithinPartitions(col("_z"))
        .drop("_z"))
      .mode(SaveMode.Overwrite).parquet(path)
  }

  /** Per-row-group parquet FOOTER statistics of one long-backed
    * column — `(file, rowGroup, nRows, min, max)` read from the real
    * metadata a parquet reader prunes with (not re-derived by
    * scanning data). INT32-backed logical types (DATE, smaller ints)
    * widen to Long, so `l_shipdate` audits as epoch days.
    *
    * This is the sink-side closure of [[zoneMapAudit]]: the audit
    * says a re-cluster WOULD prune; after [[writeRangeClustered]],
    * this reads back what the layout actually promises scanners.
    * Footers are metadata (driver-read here, file-list-bounded); at
    * 100 TB distribute the same loop over a files frame.
    */
  def parquetRowGroupStatsLong(spark: org.apache.spark.sql.SparkSession,
      path: String, column: String)
      : Seq[(String, Int, Long, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val files = new java.io.File(path).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).sortBy(_.getName)
    files.toSeq.flatMap { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        reader.getFooter.getBlocks.asScala.toSeq.zipWithIndex.map {
          case (block, i) =>
            val cc = block.getColumns.asScala
              .find(_.getPath.toDotString == column)
              .getOrElse(sys.error(
                s"column $column absent from ${f.getName} footer"))
            def asLong(v: Any): Long = v match {
              case x: java.lang.Integer => x.longValue()
              case x: java.lang.Long => x.longValue()
              case other => sys.error(
                s"parquetRowGroupStatsLong: $column has " +
                  s"non-integer stats ${other.getClass}")
            }
            val st = cc.getStatistics
            (f.getName, i, block.getRowCount,
              asLong(st.genericGetMin()), asLong(st.genericGetMax()))
        }
      } finally reader.close()
    }
  }

  /** Zone-map pruning audit: how much of the table would a range
    * predicate on `valCol` SKIP if rows were laid out in `keyCol`
    * order, in chunks of `chunk` rows (a row-group / file stand-in)?
    * A chunk is prunable when its [min, max] of `valCol` misses
    * [lo, hi] entirely — exactly the min/max-statistics test parquet
    * readers, Delta/Iceberg data skipping, and q125's Z-order
    * rectangles all run. Comparing the audit across candidate sort
    * keys answers "is re-clustering this 100 TB table worth it?"
    * BEFORE paying for the rewrite — on the live table, no copy.
    *
    * One row out: `(layout, n_chunks, n_pruned, pruned_ppm,
    * rows_scanned)`. Exact integers throughout.
    *
    * Scale: chunk ids come from [[graft.operators.Ranks
    * .globalRowNumbers]] (bucketed two-phase sequence — NO
    * single-partition sort, the q221 infrastructure); the per-chunk
    * min/max is one hash aggregation over n/chunk groups; the final
    * verdict aggregates the chunk frame (table-size / chunk rows —
    * thousands at 100 TB).
    *
    * Contract: `keyCol` unique (globalRowNumbers' contract); pack
    * composite orders into one BIGINT upstream.
    */
  def zoneMapAudit(df: DataFrame, keyCol: String, valCol: String,
      chunk: Int, lo: Column, hi: Column, label: String): DataFrame = {
    require(chunk >= 1)
    val ranked = graft.operators.Ranks.globalRowNumbers(df, keyCol)
    val chunks = ranked
      .withColumn("_chunk", expr(s"global_rank div $chunk"))
      .groupBy(col("_chunk"))
      .agg(count(lit(1)).as("_n"),
        min(col(valCol)).as("_lo"), max(col(valCol)).as("_hi"))
      // a chunk whose valCol is entirely NULL has NULL min/max — the
      // reader cannot prune on absent statistics, so it is SCANNED;
      // coalesce states that convention instead of leaving it to
      // three-valued-logic accident (ADVICE r11)
      .withColumn("_pruned",
        coalesce(col("_hi") < lo || col("_lo") > hi, lit(false)))
    chunks.agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("_pruned"), 1L).otherwise(0L)).as("n_pruned"),
        sum(when(col("_pruned"), 0L).otherwise(col("_n")))
          .as("rows_scanned"))
      .select(lit(label).as("layout"), col("n_chunks"),
        coalesce(col("n_pruned"), lit(0L)).as("n_pruned"),
        // empty input ⇒ one row with n_chunks = 0: a 0-ppm verdict
        // stated explicitly, not Spark's null-on-divide-by-zero
        when(col("n_chunks") > 0,
          expr("(n_pruned * 1000000) div n_chunks"))
          .otherwise(lit(0L)).as("pruned_ppm"),
        coalesce(col("rows_scanned"), lit(0L)).as("rows_scanned"))
  }
}
