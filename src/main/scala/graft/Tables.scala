package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-table loader for the driver harness (TESTDATA.md).
  *
  * Reads one of the driver-generated parquet tables under an sf dir.
  * Centralized so every `SparkEntry.queries` entry reads identical inputs
  * to the DuckDB oracle.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Rebalance a DataFrame whose scan under-parallelizes the cluster.
    *
    * Expensive per-row derivations (shingling, hashing, vector math)
    * inherit the scan's partitioning; a small single-file input would run
    * them on one core. This is a no-op whenever the plan already has at
    * least `defaultParallelism` partitions — which any 100 TB multi-file
    * scan does — so the extra shuffle only ever moves tiny inputs.
    */
  def rebalance(df: DataFrame): DataFrame = {
    // Streaming frames pass through untouched: micro-batch parallelism
    // is the source's concern (maxFilesPerTrigger etc.), and touching
    // sparkPlan/.rdd here would assert batch execution and throw.
    if (df.isStreaming) return df
    // If the plan already contains a shuffle, its output is
    // spark.sql.shuffle.partitions-way parallel — nothing to fix, and
    // consulting .rdd here would eagerly execute the upstream stages
    // under AQE just to read a partition count.
    val hasExchange = df.queryExecution.sparkPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
    if (hasExchange) df
    else {
      // shuffle-free plan (scan + narrow ops): .rdd is cheap, no stages
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
    }
  }

  /** Normalize an events frame's `ts` to TimestampType regardless of the
    * parquet physical layout the driver generated it with. Observed
    * layouts across testdata generations: TIMESTAMP(NANOS) (readable
    * only as a raw long via `nanosAsLong` — µs-resolution data, so the
    * DIV 1000 truncation is lossless), TIMESTAMP(MICROS) without UTC
    * adjustment (reads as TIMESTAMP_NTZ), and instant-adjusted
    * TIMESTAMP (reads as TimestampType directly). The session timezone
    * is UTC everywhere (Bench/Verify/specs), so the NTZ→LTZ cast is
    * instant-preserving and all three layouts yield identical values —
    * DuckDB oracles see the same via CAST(ts AS TIMESTAMP).
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** Run `body` with `spark.sql.legacy.parquet.nanosAsLong` set, then
    * restore the session's previous value (or unset it). The flag is
    * session-wide (no per-reader option exists) but is only consulted
    * while a relation is resolved (captured into the relation's hadoop
    * conf), so it can be restored immediately after `spark.read` /
    * `spark.readStream` — verified: count() succeeds with the flag back
    * at false — leaving unrelated TIMESTAMP(NANOS) reads in the
    * session untouched. For non-nanos layouts the flag is inert.
    */
  def withNanosAsLong[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events")
      withNanosAsLong(spark)(
        normalizeTs(spark.read.parquet(s"$sfDir/$name.parquet")))
    else spark.read.parquet(s"$sfDir/$name.parquet")
}
