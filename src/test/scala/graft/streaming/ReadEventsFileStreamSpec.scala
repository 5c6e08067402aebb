package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkSpec
import org.apache.spark.sql.streaming.OutputMode

/** Regression test for the file-source read path (ADVICE r2): a parquet
  * file-stream source re-resolves its relation per micro-batch at query
  * runtime, so the TIMESTAMP(NANOS) events file must stay readable AFTER
  * `readEvents` returns and `spark.sql.legacy.parquet.nanosAsLong` has
  * been restored. MemoryStream tests can't catch this — only a real
  * file source across 2+ micro-batches does.
  */
class ReadEventsFileStreamSpec extends SparkSpec {

  test("readEvents processes 2+ micro-batches of the NANOS parquet " +
      "with the session flag restored") {
    val src = Paths.get("/root/testdata/sf0.001/events.parquet")
    assume(Files.exists(src), "driver testdata not present")
    val dir = tempDir("graft-evstream")
    // two copies -> two files -> maxFilesPerTrigger=1 gives 2 batches
    Files.copy(src, dir.resolve("f1.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.copy(src, dir.resolve("f2.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

    val events =
      EventStreams.readEvents(spark, dir.toString, maxFilesPerTrigger = 1)
    // the flag must be restored by now; the batches below still succeed
    assert(spark.conf
      .getOption("spark.sql.legacy.parquet.nanosAsLong").isEmpty ||
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") != "true",
      "readEvents should not leave the session flag set")

    val q = events.writeStream.format("memory").queryName("ev_file")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val perFile =
        graft.Tables.load(spark, "/root/testdata/sf0.001", "events").count()
      assert(spark.table("ev_file").count() == 2 * perFile)
      // both files really went through the micro-batch executor
      val batches = q.recentProgress.map(_.batchId).distinct.length
      assert(batches >= 2, s"expected >=2 micro-batches, saw $batches")
      // event-time column came out as a usable timestamp, not a raw long
      assert(spark.table("ev_file").schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType)
    } finally q.stop()
  }

  test("readEvents starts on an EMPTY directory via the eventSchema " +
      "fallback and processes a later-arriving instant-layout file") {
    val dir = tempDir("graft-evempty")
    // empty directory: the probe cannot infer a schema; the logical
    // µs-timestamp fallback lets the stream START before data arrives
    val events = EventStreams.readEvents(spark, dir.toString)
    assert(events.isStreaming)
    assert(events.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val q = events.writeStream.format("memory").queryName("ev_empty")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      assert(spark.table("ev_empty").count() == 0)
      // a file arriving AFTER start, in the fallback's own (instant
      // timestamp) layout, flows through the already-running stream
      import org.apache.spark.sql.functions._
      val stage = tempDir("graft-evempty-stage")
      spark.range(1).select(lit(1L).as("event_id"),
          expr("TIMESTAMP '2024-01-01 00:00:00'").as("ts"),
          lit(7L).as("user_id"), lit("click").as("event_type"),
          lit(1.5).as("value"), lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = {
        val ls = Files.list(stage)
        try ls.filter(_.toString.endsWith(".parquet")).findFirst().get()
        finally ls.close()
      }
      Files.copy(part, dir.resolve("late.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      assert(spark.table("ev_empty").count() == 1)
    } finally q.stop()
  }

  test("streaming tumblingAgg over the real file EQUALS the batch q35 result") {
    // sentinel second batch: ONE far-future event whose ts physical
    // layout stageWithSentinel derives from the real file (nanos long /
    // µs NTZ / instant timestamp), so it always matches the schema
    // readEvents probes. Processing it advances the watermark past
    // every real window, so append mode emits them all; its own window
    // stays open and is excluded below. Later modification time =>
    // second micro-batch.
    val dir = stageWithSentinel()
    val events =
      EventStreams.readEvents(spark, dir.toString, maxFilesPerTrigger = 1)
    val agg = EventStreams.tumblingAgg(events, "1 hour", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("ev_parity")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ev_parity")
        .filter(org.apache.spark.sql.functions.col("event_type") =!=
          "sentinel")
        .orderBy("bucket_start", "event_type")
      val batch = graft.SparkEntry
        .queries("q35_tumbling_window")(spark, "/root/testdata/sf0.001")
      // exact row-for-row parity: the streaming twin computes the very
      // frame the batch oracle hash-checks
      assert(streamed.collect().toSeq == batch.collect().toSeq)
    } finally q.stop()
  }

  /** Stage the real events file + a far-future sentinel as two ordered
    * micro-batches (the sentinel advances the watermark past every real
    * window/session so append mode emits them all). The sentinel is
    * derived FROM the real file so its `ts` physical layout (nanos
    * long / µs NTZ / instant timestamp — the driver has generated all
    * three across testdata generations) always matches the schema
    * `readEvents` probes.
    */
  private def stageWithSentinel(): java.nio.file.Path = {
    val src = Paths.get("/root/testdata/sf0.001/events.parquet")
    assume(Files.exists(src), "driver testdata not present")
    val dir = tempDir("graft-evparity")
    Files.copy(src, dir.resolve("a_data.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    import org.apache.spark.sql.functions._
    val prev = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val sentinel =
      try {
        val base = spark.read.parquet(src.toString)
        val farFutureTs = base.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            lit(4102444800L * 1000000000L) // 2100-01-01 in ns
          case org.apache.spark.sql.types.TimestampNTZType =>
            expr("TIMESTAMP_NTZ '2100-01-01 00:00:00'")
          case _ => expr("TIMESTAMP '2100-01-01 00:00:00'")
        }
        base.limit(1).select(lit(-1L).as("event_id"),
          farFutureTs.as("ts"), lit(-1L).as("user_id"),
          lit("sentinel").as("event_type"), lit(0.0).as("value"),
          lit("{}").as("props"))
      } finally prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", v)
        case None =>
          spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
      }
    val sentDir = tempDir("graft-evsent")
    sentinel.coalesce(1).write.mode("overwrite").parquet(sentDir.toString)
    val part = {
      val ls = Files.list(sentDir)
      try ls.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally ls.close()
    }
    Thread.sleep(1100)
    Files.copy(part, dir.resolve("z_sentinel.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  test("streaming slidingAgg over the real file EQUALS the batch q36 result") {
    val dir = stageWithSentinel()
    val events =
      EventStreams.readEvents(spark, dir.toString, maxFilesPerTrigger = 1)
    val agg = EventStreams.slidingAgg(events, "1 hour", "30 minutes",
      "10 minutes")
    val q = agg.writeStream.format("memory").queryName("ev_parity36")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .start()
    try {
      q.processAllAvailable()
      import org.apache.spark.sql.functions._
      // drop any sentinel bucket robustly: its two sliding windows
      // start 2099-12-31T23:30 and 2100-01-01T00:00 (today neither is
      // emitted — the watermark stops before their ends — but a filter
      // keyed to the real data era survives future watermark tweaks)
      val streamed = spark.table("ev_parity36")
        .filter(year(col("bucket_start")) < 2090)
        .orderBy("bucket_start")
      val batch = graft.SparkEntry
        .queries("q36_sliding_window")(spark, "/root/testdata/sf0.001")
      assert(streamed.collect().toSeq == batch.collect().toSeq)
    } finally q.stop()
  }

  test("stateful sessionizer over the real file matches the batch q37 sessions") {
    val dir = stageWithSentinel()
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val events =
      EventStreams.readEvents(spark, dir.toString, maxFilesPerTrigger = 1)
        .as[Event]
    val sessions = EventStreams.sessionizeStateful(events, 30, "10 minutes")
    val q = sessions.writeStream.format("memory").queryName("ev_parity37")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ev_parity37")
        .filter(col("user_id") =!= -1L) // the sentinel's own session
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("session_value"))
      val batch = graft.SparkEntry
        .queries("q37_sessionize")(spark, "/root/testdata/sf0.001")
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"),
          col("session_value").as("batch_value"))
      // session_value: the stateful fold sums raw doubles in event
      // order while the batch twin sums exact decimals — compare with
      // tolerance; everything else must match exactly (full outer join
      // finds sessions present on only one side)
      val joined = streamed.join(batch,
        Seq("user_id", "session_start", "session_end", "n_events"),
        "full_outer")
      assert(joined.filter(col("session_value").isNull ||
        col("batch_value").isNull).count() == 0,
        "session present on only one side")
      val maxDiff = joined
        .agg(max(abs(col("session_value") - col("batch_value"))))
        .collect().head.getDouble(0)
      assert(maxDiff < 1e-6, s"session_value diverged by $maxDiff")
    } finally q.stop()
  }
}
