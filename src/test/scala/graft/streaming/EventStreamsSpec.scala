package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming semantics: watermark-gated append output, late-data drop,
  * and custom-state sessionization — driven through MemoryStream
  * micro-batches so event-time progression is controlled exactly.
  */
class EventStreamsSpec extends SparkSpec {
  import graft.operators.{Dedup, Retrieval, Similarity}
  import graft.sink.IndexFamily

  private val tfFam = Retrieval.tfFamily()
  private val fpFam = Dedup.fingerprintFamily()

  private def ts(minutes: Long): Timestamp =
    new Timestamp(1704067200000L + minutes * 60000L) // 2024-01-01 00:00 UTC

  private def ev(id: Long, minutes: Long, user: Long = 1L,
      typ: String = "click", value: Double = 1.0): Event =
    Event(id, ts(minutes), user, typ, value)

  test("tumblingAgg emits finalized windows and drops late data") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val agg = EventStreams.tumblingAgg(in.toDF(), "10 minutes", "5 minutes")
    val q = agg.writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Append).start()
    try {
      // window [0,10): two clicks; then advance watermark past 10+5
      in.addData(ev(1, 1), ev(2, 9, value = 2.0))
      q.processAllAvailable()
      in.addData(ev(3, 30))
      q.processAllAvailable()
      // late event for the already-finalized [0,10) window — dropped
      in.addData(ev(4, 2, value = 100.0))
      in.addData(ev(5, 60))
      q.processAllAvailable()
      val rows = spark.table("tumbling")
        .orderBy("bucket_start").collect()
      // [0,10) finalized with the 2 on-time clicks (late id=4 dropped —
      // its value=100 is absent), [30,40) finalized by the minute-60
      // event advancing the watermark to 55
      assert(rows.map(_.getAs[Long]("n")).toSeq == Seq(2L, 1L))
      assert(rows.head.getAs[Double]("total_value") == 3.0)
      assert(rows.head.getAs[Timestamp]("bucket_start") == ts(0))
      assert(rows(1).getAs[Timestamp]("bucket_start") == ts(30))
    } finally q.stop()
  }

  test("heavyHitterCandidates: per-group MG buffers merge across " +
      "micro-batches; final candidates cover every truly-heavy key") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val agg = EventStreams.heavyHitterCandidates(in.toDF(),
      "1 hour", "10 minutes", "event_type", "user_id", capacity = 3)
    val q = agg.writeStream.format("memory").queryName("hh")
      .outputMode(OutputMode.Update).start()
    // clicks: user 7 heavy (9 rows of 16 > 16/4), users 20..26 tail
    // spread across batches so the heavy count ACCRUES through the
    // state-store merge rather than landing in one batch; views:
    // user 9 heavy in its own group (never diluted by click volume)
    val clicks = (1 to 9).map(i => ev(i, i.toLong, user = 7)) ++
      (20 to 26).map(i => ev(i, (i % 50).toLong, user = i.toLong))
    val views = (40 to 44).map(i =>
      ev(i, (i % 50).toLong, user = 9, typ = "view")) ++
      Seq(ev(45, 3, user = 30, typ = "view"))
    val all = (clicks ++ views).sortBy(_.event_id)
    try {
      all.grouped(6).foreach { batch =>
        in.addData(batch: _*); q.processAllAvailable()
      }
      // final state per (bucket, group) = the row with the largest
      // n_seen (monotone batch marker) — last() over the memory sink
      // is order-dependent and can flake under multi-partition reads
      val fin = spark.table("hh")
        .groupBy("bucket_start", "event_type")
        .agg(expr("max_by(candidates, n_seen)").as("candidates"))
        .collect()
        .map(r => r.getString(1) -> r.getSeq[Long](2)).toMap
      assert(fin("click").size <= 3 && fin("view").size <= 3)
      // coverage guarantee per group: share > 1/(cap+1) ⇒ candidate
      assert(fin("click").contains(7L), s"click cands ${fin("click")}")
      assert(fin("view").contains(9L), s"view cands ${fin("view")}")
      // lambda verify half: exact counts over the same rows confirm
      // the streamed candidates cover the true per-group top keys
      val batchDf = all.toDF()
      val exact = graft.operators.Freq.heavyHitterCountsBy(
        batchDf.withColumn("user_id", col("user_id")),
        Seq("event_type"), "user_id", capacity = 3)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(exact.contains(("click", 7L)) && exact.contains(("view", 9L)))
    } finally q.stop()
  }

  test("windowedQuantileSketch: KLL buffers merge through the state " +
      "store across micro-batches; final state holds the q326 " +
      "envelope on the same rows as the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val k = 64
    val agg = EventStreams.windowedQuantileSketch(in.toDF(),
      "1 hour", "10 minutes", "value", k)
    val q = agg.writeStream.format("memory").queryName("kllwin")
      .outputMode(OutputMode.Update).start()
    // 500 values in one window, arriving across many micro-batches so
    // the envelope must survive repeated state-store merges
    val n = 500
    val events = (1 to n).map(i =>
      ev(i, (i % 50).toLong, user = i.toLong,
        value = ((i * 7919) % n + 1).toDouble))
    try {
      events.grouped(60).foreach { batch =>
        in.addData(batch: _*); q.processAllAvailable()
      }
      val fin = spark.table("kllwin")
        .groupBy("bucket_start")
        .agg(expr("max_by(sketch, n_seen)").as("sketch"),
          max(col("n_seen")).as("n_seen"))
        .select(explode(col("sketch")).as("x"), col("n_seen"))
        .select(col("x.item"), col("x.weight"), col("n_seen"))
        .orderBy("item").collect()
      assert(fin.head.getLong(2) == n.toLong)
      // Σweight = n exactly (lossless weight conservation through the
      // state store)
      assert(fin.map(_.getLong(1)).sum == n.toLong)
      // O(k) space after all merges
      assert(fin.length <= 3 * k + 64, s"${fin.length} items")
      // p50 rank error within the q326 envelope; values are a
      // permutation of 1..n scaled by the double→long cast (×100
      // cents in the batch twin, raw here) so true rank(x) = x
      var cum = 0L
      var est = fin.last.getLong(0)
      var found = false
      fin.foreach { r =>
        if (!found) {
          cum += r.getLong(1)
          if (cum >= (n + 1) / 2) { est = r.getLong(0); found = true }
        }
      }
      val errPpm = math.abs(est - (n + 1) / 2) * 1000000L / n
      assert(errPpm <= 30000L, s"est=$est errPpm=$errPpm")
    } finally q.stop()
  }

  test("sessionizeStateful closes sessions on gap and on watermark timeout") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val sessions =
      EventStreams.sessionizeStateful(in.toDS(), 30, "10 minutes")
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: events at 0,10 then a >30m gap then 50,55 (one batch,
      // unordered) → first session closed by the in-batch gap
      in.addData(ev(2, 10), ev(1, 0), ev(3, 50), ev(4, 55, value = 4.0))
      q.processAllAvailable()
      // sentinel far in the future pushes the watermark past 55+30+10
      in.addData(ev(9, 500, user = 99))
      q.processAllAvailable()
      in.addData(ev(10, 501, user = 99)) // extra batch to fire timeouts
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .filter(col("user_id") === 1)
        .orderBy("session_start").collect()
      assert(rows.length == 2)
      val first = rows(0); val second = rows(1)
      assert(first.getAs[Timestamp]("session_start") == ts(0))
      assert(first.getAs[Timestamp]("session_end") == ts(10))
      assert(first.getAs[Long]("n_events") == 2L)
      assert(second.getAs[Timestamp]("session_start") == ts(50))
      assert(second.getAs[Timestamp]("session_end") == ts(55))
      assert(second.getAs[Double]("session_value") == 5.0)
    } finally q.stop()
  }

  test("sessionizeStateful: cross-batch late event extends session backward") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val sessions =
      EventStreams.sessionizeStateful(in.toDS(), 30, "60 minutes")
    val q = sessions.writeStream.format("memory").queryName("late_sess")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 30)) // open session at minute 30
      q.processAllAvailable()
      // batch 2: a LATE event at minute 10 (within watermark, within
      // gap of session start) must extend the session backward, not
      // corrupt its end
      in.addData(ev(2, 10, value = 2.0))
      q.processAllAvailable()
      in.addData(ev(9, 500, user = 99)) // advance watermark
      q.processAllAvailable()
      in.addData(ev(10, 501, user = 99)) // fire timeouts
      q.processAllAvailable()
      val rows = spark.table("late_sess").filter(col("user_id") === 1)
        .collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Timestamp]("session_start") == ts(10))
      assert(rows.head.getAs[Timestamp]("session_end") == ts(30))
      assert(rows.head.getAs[Long]("n_events") == 2L)
      assert(rows.head.getAs[Double]("session_value") == 3.0)
    } finally q.stop()
  }

  test("sessionizeStateful: mutually-close very-late events form ONE session") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val sessions =
      EventStreams.sessionizeStateful(in.toDS(), 30, "600 minutes")
    val q = sessions.writeStream.format("memory").queryName("vlate")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 300)) // open session far ahead
      q.processAllAvailable()
      // two late events at minutes 5 and 8 — within gap of EACH OTHER,
      // far before the open session: must merge into one session [5,8]
      in.addData(ev(2, 5), ev(3, 8, value = 2.0))
      q.processAllAvailable()
      val rows = spark.table("vlate").filter(col("user_id") === 1)
        .collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Timestamp]("session_start") == ts(5))
      assert(rows.head.getAs[Timestamp]("session_end") == ts(8))
      assert(rows.head.getAs[Long]("n_events") == 2L)
      assert(rows.head.getAs[Double]("session_value") == 3.0)
    } finally q.stop()
  }

  test("sessionAgg (session_window) matches gap semantics declaratively") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val agg = EventStreams.sessionAgg(in.toDF(), "30 minutes", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("swin")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 0), ev(2, 10), ev(3, 50))
      q.processAllAvailable()
      in.addData(ev(9, 500, user = 99))
      q.processAllAvailable()
      val rows = spark.table("swin").filter(col("user_id") === 1)
        .orderBy("session_start").collect()
      assert(rows.length == 2)
      // session_window end = last event + gap
      assert(rows(0).getAs[Timestamp]("session_start") == ts(0))
      assert(rows(0).getAs[Timestamp]("session_end") == ts(40))
      assert(rows(0).getAs[Long]("n_events") == 2L)
    } finally q.stop()
  }

  test("intervalJoin: stream-stream pairs within the time bound only") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Event]
    val errors = MemoryStream[Event]
    val joined = EventStreams.intervalJoin(
      clicks.toDF(), errors.toDF(), "user_id", "15 minutes", "5 minutes")
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append).start()
    try {
      // click at minute 20; errors at 10 (within 15m), 2 (outside),
      // 25 (future — rejected by r_ts <= l_ts)
      clicks.addData(ev(1, 20))
      errors.addData(ev(100, 10), ev(101, 2), ev(102, 25))
      q.processAllAvailable()
      clicks.addData(ev(9, 500, user = 99)) // advance watermarks
      errors.addData(ev(900, 500, user = 99))
      q.processAllAvailable()
      val rows = spark.table("ssj").filter(col("l_event_id") === 1)
        .collect()
      assert(rows.map(_.getAs[Long]("r_event_id")).toSet == Set(100L))
    } finally q.stop()
  }

  test("intervalJoinLeftOuter: matched rows emit like the inner join; " +
      "an unmatched left row emits with nulls AFTER the watermark " +
      "passes its bound") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Event]
    val errors = MemoryStream[Event]
    val joined = EventStreams.intervalJoinLeftOuter(
      clicks.toDF(), errors.toDF(), "user_id", "15 minutes", "5 minutes")
    val q = joined.writeStream.format("memory").queryName("ssjo")
      .outputMode(OutputMode.Append).start()
    try {
      // click 1 has a match (error at minute 10); click 2 (user 7) has
      // no error anywhere in its bound
      clicks.addData(ev(1, 20), ev(2, 22, user = 7))
      errors.addData(ev(100, 10))
      q.processAllAvailable()
      // before the watermark passes, the unmatched row must NOT have
      // been emitted with nulls (a match could still arrive)
      val early = spark.table("ssjo").filter(col("l_event_id") === 2)
        .collect()
      assert(early.isEmpty, "null row emitted before watermark")
      // advance both watermarks far past the bound
      clicks.addData(ev(9, 500, user = 99))
      errors.addData(ev(900, 500, user = 99))
      q.processAllAvailable()
      val matched = spark.table("ssjo").filter(col("l_event_id") === 1)
        .collect()
      assert(matched.map(_.getAs[Long]("r_event_id")).toSet
        == Set(100L))
      val unmatched = spark.table("ssjo")
        .filter(col("l_event_id") === 2).collect()
      assert(unmatched.length == 1 &&
        unmatched.head.isNullAt(unmatched.head.fieldIndex("r_event_id")),
        "unmatched left row must emit exactly once with nulls")
    } finally q.stop()
  }

  test("enrichWithDim: stream-static broadcast join, miss yields nulls") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val in = MemoryStream[Event]
    val enriched = EventStreams.enrichWithDim(in.toDF(), dim,
      Seq("user_id"))
    val q = enriched.writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 0, user = 1), ev(2, 1, user = 9))
      q.processAllAvailable()
      val rows = spark.table("enriched").orderBy("event_id").collect()
      assert(rows(0).getAs[String]("tier") == "gold")
      assert(rows(1).isNullAt(rows(1).fieldIndex("tier"))) // miss -> null
    } finally q.stop()
  }

  test("streaming tumblingAgg over event files matches the batch q35 totals") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val batch = graft.Tables.load(spark, sf, "events")
    val expected = batch
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n")).count()
    // Same transform applied to a streaming read of the same file; with
    // complete/update semantics unavailable for files easily, run the
    // unified transform in BATCH mode (withWatermark is a no-op) to show
    // one definition serves both engines.
    val unified = EventStreams.tumblingAgg(batch, "1 hour", "1 minute")
    assert(unified.count() == expected)
  }

  test("dedupWithinWatermark drops re-delivered event_ids, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val deduped = EventStreams.dedupWithinWatermark(
      in.toDF(), Seq("event_id"), "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 1), ev(2, 2))
      q.processAllAvailable()
      // at-least-once source replays id=1 (same batch horizon) + new id=3
      in.addData(ev(1, 1), ev(3, 3))
      q.processAllAvailable()
      val ids = spark.table("dedup").select("event_id")
        .as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("startTargetSink: replayed epoch overwrites, not duplicates") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.core.{ColumnDef, TableSpec}
    import org.apache.spark.sql.types._
    val dir = tempDir("graft-fb").toString
    val target = graft.sink.ParquetTarget(s"$dir/tables")
    val spec = TableSpec("stream_out", Seq(
      ColumnDef("epoch", LongType),
      ColumnDef("event_id", LongType),
      ColumnDef("value", DoubleType)),
      batchColumns = Seq("epoch"))
    val in = MemoryStream[Event]
    def run(): Unit = {
      val q = EventStreams.startTargetSink(
        in.toDF().select(col("event_id"), col("value")),
        target, spec, "epoch", s"$dir/ckpt")
      q.awaitTermination()
    }
    in.addData(ev(1, 1), ev(2, 2))
    run()
    val afterFirst = target.read(spark, spec).count()
    assert(afterFirst == 2)
    // simulate the replay of an epoch: write the same epoch id again
    // directly through the sink path — overwriteBatch must replace, and
    // a fresh epoch must append
    target.overwriteBatch(
      Seq((0L, 1L, 9.0), (0L, 2L, 9.0)).toDF("epoch", "event_id", "value"),
      spec)
    assert(target.read(spark, spec).count() == 2) // replaced, not 4
    in.addData(ev(3, 3))
    run()
    assert(target.read(spark, spec).count() == 3)
  }

  test("dedupWithinWatermark ≡ batch keepFirstPerKey on identical-row redelivery") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = EventStreams.dedupWithinWatermark(
        in.toDF(), Seq("event_id"), "30 minutes")
      .writeStream.format("memory").queryName("dedup_parity")
      .outputMode(OutputMode.Append).start()
    val batch1 = Seq(ev(1, 1), ev(2, 2), ev(3, 3))
    val redeliveries = Seq(ev(1, 1), ev(3, 3)) // identical rows, again
    val batch2 = Seq(ev(4, 4))
    try {
      in.addData(batch1)
      q.processAllAvailable()
      in.addData(redeliveries ++ batch2)
      q.processAllAvailable()
      val streamed = spark.table("dedup_parity")
        .select("event_id", "user_id", "event_type", "value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getDouble(3))).toSet
      val twin = graft.operators.Dedup.keepFirstPerKey(
          (batch1 ++ redeliveries ++ batch2).toDF(),
          Seq("event_id"), Seq("ts"))
        .select("event_id", "user_id", "event_type", "value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getDouble(3))).toSet
      assert(streamed == twin && streamed.size == 4)
    } finally q.stop()
  }

  test("TF-index streaming ingest: micro-batches append exactly once " +
      "(replayed epochs skipped), query ≡ batch-built index") {
    import spark.implicits._
    val docs = (0L until 30L).map { i =>
      (i, s"${"common words " * ((i % 3) + 1).toInt}doc$i " +
        (if (i < 5) "needle" else "hay"))
    }
    val dir = tempDir("graft_tfstream").toString
    val queries = Seq(1 -> "needle common", 2 -> "doc7 hay")
    try {
      // seed the index with the first third (the batch-built base)
      graft.operators.Retrieval.writeTfIndex(
        docs.take(10).toDF("doc_id", "text"), dir, wordBuckets = 8)
      // two streamed micro-batches, then a REPLAY of each
      val b1 = docs.slice(10, 20).toDF("doc_id", "text")
      val b2 = docs.slice(20, 30).toDF("doc_id", "text")
      assert(tfFam.ingestBatch(dir, b1, 0L))
      assert(tfFam.ingestBatch(dir, b2, 1L))
      assert(!tfFam.ingestBatch(dir, b1, 0L), "replay!")
      assert(!tfFam.ingestBatch(dir, b2, 1L), "replay!")
      val streamed = graft.operators.Retrieval.bm25TopKFromTfIndex(
          spark, dir, queries, 10).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).sortBy(t => (t._1, t._4)).toSeq
      val full = graft.operators.Retrieval.bm25TopK(
          docs.toDF("doc_id", "text"), "doc_id", "text", queries, 10)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).sortBy(t => (t._1, t._4)).toSeq
      assert(streamed == full)
      assert(IndexFamily.committedEpoch(spark, dir) == 1L)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("TF-index streaming UPSERT (the crawler shape): a stream " +
      "mixing new docs and re-crawls of known ids lands the LATEST " +
      "text; replays still skipped") {
    import spark.implicits._
    val dir = tempDir("graft_tfupstream").toString
    val queries = Seq(1 -> "needle common", 2 -> "revised fresh")
    try {
      graft.operators.Retrieval.writeTfIndex(
        Seq((0L, "common base corpus"), (1L, "needle stale text"))
          .toDF("doc_id", "text"), dir, wordBuckets = 8)
      // batch 0: one NEW doc + one RE-CRAWL of doc 1 with changed text
      val b0 = Seq((2L, "hay common brand new"),
        (1L, "needle revised fresh text")).toDF("doc_id", "text")
      assert(tfFam.ingestBatch(dir, b0, 0L, upsert = true))
      // replay skipped
      assert(!tfFam.ingestBatch(dir, b0, 0L, upsert = true))
      val got = graft.operators.Retrieval.bm25TopKFromTfIndex(
          spark, dir, queries, 10).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).sortBy(t => (t._1, t._4)).toSeq
      val twin = graft.operators.Retrieval.bm25TopK(
          Seq((0L, "common base corpus"),
            (1L, "needle revised fresh text"),
            (2L, "hay common brand new")).toDF("doc_id", "text"),
          "doc_id", "text", queries, 10).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).sortBy(t => (t._1, t._4)).toSeq
      assert(got == twin)
      // the stale text must be GONE, not just outranked: 'stale'
      // appears ONLY in doc 1's pre-crawl text, so after the re-crawl
      // it must match nothing at all
      assert(graft.operators.Retrieval.bm25TopKFromTfIndex(
        spark, dir, Seq(1 -> "stale"), 10).count() == 0)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("crash self-heal: a batch that died AFTER appending its facts " +
      "but BEFORE its epoch commit replays WITHOUT double-counting — " +
      "in APPEND mode too (the pending-epoch marker routes the " +
      "replay through the upsert path, whose fresh-generation " +
      "tombstones kill the partial facts)") {
    import spark.implicits._
    val dir = tempDir("graft_tfcrash").toString
    val queries = Seq(1 -> "needle common", 2 -> "doc17 hay")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).sortBy(t => (t._1, t._4)).toSeq
    try {
      val base = (0L until 10L).map(i => (i,
        s"common words doc$i " + (if (i < 3) "needle" else "hay")))
      val b0 = (10L until 15L).map(i => (i, s"hay common doc$i"))
      val b1 = (15L until 20L).map(i => (i, s"needle hay doc$i"))
      graft.operators.Retrieval.writeTfIndex(
        base.toDF("doc_id", "text"), dir, wordBuckets = 8)
      assert(tfFam.ingestBatch(dir, b0.toDF("doc_id", "text"), 0L))
      // simulate epoch 1 dying between its fact append and its epoch
      // commit — exactly ingestBatch's prefix, in append mode:
      // pending marker, generation reservation, fact append... crash.
      val m0 = graft.sink.IndexManifest.latest(spark, dir)
      graft.sink.IndexManifest.commit(spark, dir,
        m0.copy(pendingEpoch = 1L))
      val g = graft.sink.IndexLayout.reserveGen(spark, dir)
      tfFam.appendFacts(dir, b1.toDF("doc_id", "text"), g)
      // the facts are fully on disk, the epoch is NOT committed
      assert(IndexFamily.committedEpoch(spark, dir) == 0L)
      // the at-least-once replay of the SAME batch at the SAME epoch:
      // without the self-heal this would double every tf/df/dl of
      // docs 15-19 and shift every BM25 score below
      assert(tfFam.ingestBatch(dir, b1.toDF("doc_id", "text"), 1L))
      val got = canon(graft.operators.Retrieval.bm25TopKFromTfIndex(
        spark, dir, queries, 10))
      val twin = canon(graft.operators.Retrieval.bm25TopK(
        (base ++ b0 ++ b1).toDF("doc_id", "text"),
        "doc_id", "text", queries, 10))
      assert(got == twin, "replayed crash double-counted facts")
      // a further replay of the now-committed epoch is skipped outright
      assert(!tfFam.ingestBatch(dir, b1.toDF("doc_id", "text"), 1L))
      assert(IndexFamily.committedEpoch(spark, dir) == 1L)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("startIndexSink (TF) end to end: a real foreachBatch stream " +
      "lands its documents in the index; a second run ingests only " +
      "the new data") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = tempDir("graft_tfsink").toString
    val ckpt = tempDir("graft_tfsink_ckpt").toString
    val queries = Seq(1 -> "needle common")
    try {
      graft.operators.Retrieval.writeTfIndex(
        Seq((0L, "common base corpus")).toDF("doc_id", "text"), dir,
        wordBuckets = 8)
      val in = MemoryStream[(Long, String)]
      def run(): Unit = {
        val q = EventStreams.startIndexSink(
          in.toDS().toDF("doc_id", "text"), ckpt, Seq(tfFam -> dir))
        q.awaitTermination() // AvailableNow: drains then stops
      }
      in.addData((1L, "needle common words"), (2L, "hay common"))
      run()
      val docs1 = idxDf(dir, "docs").count()
      assert(docs1 == 3) // base + 2 streamed
      // second run with NEW data: same checkpoint, later epochs only
      in.addData((3L, "needle needle common"))
      run()
      assert(idxDf(dir, "docs").count() == 4)
      val got = graft.operators.Retrieval.bm25TopKFromTfIndex(
          spark, dir, queries, 10).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).sortBy(t => (t._1, t._4)).toSeq
      val twin = graft.operators.Retrieval.bm25TopK(
          Seq((0L, "common base corpus"), (1L, "needle common words"),
            (2L, "hay common"), (3L, "needle needle common"))
            .toDF("doc_id", "text"),
          "doc_id", "text", queries, 10).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).sortBy(t => (t._1, t._4)).toSeq
      assert(got == twin)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("startIndexSink (shingle) end to end: a real foreachBatch " +
      "stream lands its documents in the near-dup index; a second run " +
      "ingests only the new data; pairs ≡ a batch-built index") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = tempDir("graft_shsink").toString
    val ckpt = tempDir("graft_shsink_ckpt").toString
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon eta"),
      (2L, "totally different words entirely here now"),
      (3L, "alpha beta gamma delta epsilon zeta"))
    try {
      graft.operators.Dedup.writeShingleIndex(
        corpus.take(1).toDF("doc_id", "text"), dir, n = 3,
        shingleBuckets = 4)
      val in = MemoryStream[(Long, String)]
      def run(): Unit = {
        val q = EventStreams.startIndexSink(
          in.toDS().toDF("doc_id", "text"), ckpt,
          Seq(Dedup.shingleFamily() -> dir))
        q.awaitTermination() // AvailableNow: drains then stops
      }
      in.addData(corpus(1), corpus(2))
      run()
      def pairs(ids: Seq[Long]) = graft.operators.Dedup
        .jaccardPairsAgainstIndex(spark, dir, 0.5,
          ids.toDF("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs(Seq(1L, 2L)) == Set((0L, 1L))) // near-dup found
      // second run: only the NEW doc ingests (earlier epochs skipped)
      in.addData(corpus(3))
      run()
      val got = pairs(Seq(1L, 2L, 3L))
      // twin: batch-built index over the same corpus, same increment
      val twinDir = tempDir("graft_shsink_twin").toString
      try {
        graft.operators.Dedup.writeShingleIndex(
          corpus.toDF("doc_id", "text"), twinDir, n = 3,
          shingleBuckets = 4)
        val twin = graft.operators.Dedup
          .jaccardPairsAgainstIndex(spark, twinDir, 0.5,
            Seq(1L, 2L, 3L).toDF("doc_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == twin && got.contains((0L, 3L)))
      } finally org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(twinDir))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("startIndexSink (IVF-PQ) end to end: a real foreachBatch " +
      "re-embed stream upserts into the frozen-geometry ANN index across two " +
      "runs (earlier epochs skipped on restart); searches ≡ one " +
      "batch upsert of everything") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = tempDir("graft_annsink").toString
    val ckpt = tempDir("graft_annsink_ckpt").toString
    val dims = 8; val m = 2
    def vec(seed: Long, flip: Boolean) = Array.tabulate(dims)(d =>
      (if (flip) -1 else 1) * ((seed * 13 + d * 7) % 17).toFloat)
    val corpus = (0L until 16L).map(i => (i, vec(i, flip = false)))
    try {
      graft.operators.Similarity.ivfPqIndex(
          corpus.toDF("vec_id", "embedding"), nCells = 2, dims, m,
          nCentroids = 4)
        .write(dir)
      val in = MemoryStream[(Long, Array[Float])]
      def run(): Unit = {
        val q = EventStreams.startIndexSink(
          in.toDS().toDF("vec_id", "embedding"), ckpt,
          Seq(Similarity.ivfPqFamily() -> dir), upsert = true)
        q.awaitTermination()
      }
      // two runs, two re-embed batches (ids 1,2 then 3)
      in.addData((1L, vec(1, flip = true)), (2L, vec(2, flip = true)))
      run()
      in.addData((3L, vec(3, flip = true)))
      run()
      def search(d: String) = graft.operators.Similarity.ivfPqSearch(
          corpus.take(6).toDF("vec_id", "embedding"),
          graft.operators.Similarity.IvfPqIndex.read(spark, d),
          k = 3, nprobe = 2)
        .collect().map(_.toSeq).toSeq
      // twin: the same three re-embeds as ONE batch upsert
      val twinDir = tempDir("graft_annsink_twin").toString
      try {
        graft.operators.Similarity.ivfPqIndex(
            corpus.toDF("vec_id", "embedding"), nCells = 2, dims, m,
            nCentroids = 4)
          .write(twinDir)
        Similarity.ivfPqFamily().upsert(twinDir,
          Seq((1L, vec(1, true)), (2L, vec(2, true)),
            (3L, vec(3, true))).toDF("vec_id", "embedding"))
        assert(search(dir) == search(twinDir))
      } finally org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(twinDir))
      // the code stream holds exactly one live code row per (id, j)
      val codes = graft.operators.Similarity.IvfPqIndex.read(spark, dir)
        .codes.groupBy(col("id"), col("j")).count()
        .filter(col("count") > 1).count()
      assert(codes == 0, "duplicate live codes after streamed upserts")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("COMPOSED multi-family crash recovery: ONE crawler stream " +
      "fans each micro-batch into TF + shingle + fingerprint + " +
      "IVF-PQ sinks; a kill BETWEEN family ingests of one " +
      "micro-batch leaves the families at DIFFERENT committed " +
      "epochs; the restart converges all four to the same epoch and " +
      "every index ≡ its batch-built twin") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dims = 8; val m = 2
    def vec(seed: Long) =
      Array.tabulate(dims)(d => ((seed * 13 + d * 7) % 17).toFloat)
    // one crawler row carries text AND its embedding — all four
    // families feed from the same stream
    def doc(i: Long, text: String) = (i, text, vec(i))
    val seed = Seq(
      doc(0L, "alpha beta gamma delta epsilon zeta common needle"),
      doc(1L, "alpha beta gamma delta epsilon eta common hay"),
      doc(2L, "the quick brown fox jumps over the lazy dog today"),
      doc(3L, "totally unrelated filler words occupy this document"))
    val b0 = Seq(
      doc(4L, "alpha beta gamma delta epsilon zeta common fresh"),
      doc(5L, "the quick brown fox jumps over the lazy dog tonight"))
    val b1 = Seq(
      doc(6L, "alpha beta gamma delta epsilon theta common needle"),
      doc(7L, "the quick brown fox jumps over the lazy dog sometimes"))
    val all = seed ++ b0 ++ b1
    val mk = (p: String) => tempDir(p).toString
    val (tfDir, shDir, fpDir, vqDir, ckpt) =
      (mk("cmp_tf"), mk("cmp_sh"), mk("cmp_fp"), mk("cmp_vq"),
        mk("cmp_ckpt"))
    val twins = scala.collection.mutable.ListBuffer.empty[String]
    try {
      // seed all four families (the batch-built base)
      val seedDf = seed.toDF("doc_id", "text", "embedding")
      graft.operators.Retrieval.writeTfIndex(
        seedDf.select($"doc_id", $"text"), tfDir, wordBuckets = 8)
      graft.operators.Dedup.writeShingleIndex(
        seedDf.select($"doc_id", $"text"), shDir, n = 3,
        shingleBuckets = 4)
      graft.operators.Dedup.writeFingerprintIndex(
        seedDf.select($"doc_id", $"text"), fpDir, k = 10, w = 4,
        fpBuckets = 4)
      graft.operators.Similarity.ivfPqIndex(
          seedDf.select($"doc_id".as("vec_id"), $"embedding"),
          nCells = 2, dims, m, nCentroids = 4)
        .write(vqDir)
      val families = Seq(
        tfFam -> tfDir,
        Dedup.shingleFamily() -> shDir,
        fpFam -> fpDir,
        Similarity.ivfPqFamily(idCol = "doc_id") -> vqDir)
      def epochs() = Seq(tfDir, shDir, fpDir, vqDir)
        .map(IndexFamily.committedEpoch(spark, _))
      val in = MemoryStream[(Long, String, Array[Float])]
      def run(hook: String => Unit = _ => ()): Option[Throwable] = {
        val q = EventStreams.startIndexSink(
          in.toDS().toDF("doc_id", "text", "embedding"), ckpt,
          families, hook = hook)
        try { q.awaitTermination(); None }
        catch { case t: org.apache.spark.sql.streaming
          .StreamingQueryException => Some(t) }
        finally q.stop()
      }
      // micro-batch 0 lands cleanly in all four families
      in.addData(b0: _*)
      assert(run().isEmpty)
      assert(epochs() == Seq(0L, 0L, 0L, 0L))
      // micro-batch 1: KILL between the shingle and fingerprint
      // ingests — TF and shingle committed epoch 1, fingerprint and
      // IVF-PQ never saw it
      in.addData(b1: _*)
      val killed = run(name =>
        if (name == "shingle")
          throw new RuntimeException("kill between family ingests"))
      assert(killed.isDefined, "the injected kill must fail the query")
      assert(epochs() == Seq(1L, 1L, 0L, 0L),
        s"expected diverged epochs, got ${epochs()}")
      // restart with the same checkpoint: the offset log re-delivers
      // micro-batch 1 at the SAME epoch; TF and shingle skip it,
      // fingerprint and IVF-PQ ingest it — all four converge
      assert(run().isEmpty)
      assert(epochs() == Seq(1L, 1L, 1L, 1L),
        s"families did not converge: ${epochs()}")
      // every family ≡ its batch-built twin (per-family checks)
      def twin(p: String) = { val d = mk(p); twins += d; d }
      val allDf = all.toDF("doc_id", "text", "embedding")
      // TF: BM25 over the streamed index ≡ BM25 over the full corpus
      val queries = Seq(1 -> "needle common", 2 -> "fox lazy")
      def canonBm(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).sortBy(t => (t._1, t._4)).toSeq
      assert(canonBm(graft.operators.Retrieval.bm25TopKFromTfIndex(
        spark, tfDir, queries, 10)) ==
        canonBm(graft.operators.Retrieval.bm25TopK(
          allDf.select($"doc_id", $"text"), "doc_id", "text",
          queries, 10)))
      // shingle: pairs against the streamed index ≡ a fresh batch build
      val shTwin = twin("cmp_sh_twin")
      graft.operators.Dedup.writeShingleIndex(
        allDf.select($"doc_id", $"text"), shTwin, n = 3,
        shingleBuckets = 4)
      val probeIds = (4L to 7L).toDF("doc_id")
      def pairs(d: String) = graft.operators.Dedup
        .jaccardPairsAgainstIndex(spark, d, 0.5, probeIds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs(shDir) == pairs(shTwin) && pairs(shDir).nonEmpty)
      // fingerprint: substring candidates ≡ a fresh batch build
      val fpTwin = twin("cmp_fp_twin")
      graft.operators.Dedup.writeFingerprintIndex(
        allDf.select($"doc_id", $"text"), fpTwin, k = 10, w = 4,
        fpBuckets = 4)
      def cands(d: String) = graft.operators.Dedup
        .substringCandidatesAgainstIndex(spark, d, minShared = 1,
          probeIds)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(cands(fpDir) == cands(fpTwin) && cands(fpDir).nonEmpty)
      // IVF-PQ: searches against the streamed index ≡ the same
      // increments applied as ONE batch append to a fresh twin
      val vqTwin = twin("cmp_vq_twin")
      graft.operators.Similarity.ivfPqIndex(
          seed.toDF("doc_id", "text", "embedding")
            .select($"doc_id".as("vec_id"), $"embedding"),
          nCells = 2, dims, m, nCentroids = 4)
        .write(vqTwin)
      Similarity.ivfPqFamily(idCol = "doc_id").append(vqTwin,
        (b0 ++ b1).toDF("doc_id", "text", "embedding"))
      def search(d: String) = graft.operators.Similarity.ivfPqSearch(
          seed.map(t => (t._1, t._3)).toDF("vec_id", "embedding"),
          graft.operators.Similarity.IvfPqIndex.read(spark, d),
          k = 3, nprobe = 2)
        .collect().map(_.toSeq).toSeq
      assert(search(vqDir) == search(vqTwin))
    } finally (Seq(tfDir, shDir, fpDir, vqDir, ckpt) ++ twins)
      .foreach(d => org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(d)))
  }

  test("composed recovery with BOTH crash kinds on one micro-batch: " +
      "family A committed the epoch (between-families kill), family " +
      "B died INSIDE its ingest after its facts landed — the " +
      "composed replay skips A and self-heals B as an upsert") {
    import spark.implicits._
    val tfDir = tempDir("cmp2_tf").toString
    val fpDir = tempDir("cmp2_fp").toString
    val clean = tempDir("cmp2_clean").toString
    val seed = Seq(
      (0L, "the quick brown fox jumps over the lazy dog daily"),
      (1L, "completely unrelated text with nothing shared zq"))
    val b0 = Seq((2L, "the quick brown fox jumps over the lazy dog often"))
    val b1 = Seq((3L, "the quick brown fox jumps over the lazy dog rarely"))
    try {
      graft.operators.Retrieval.writeTfIndex(
        seed.toDF("doc_id", "text"), tfDir, wordBuckets = 8)
      graft.operators.Dedup.writeFingerprintIndex(
        seed.toDF("doc_id", "text"), fpDir, k = 10, w = 4,
        fpBuckets = 4)
      val families = Seq(tfFam -> tfDir, fpFam -> fpDir)
      // micro-batch 0 lands cleanly in both
      EventStreams.ingestFamiliesBatch(b0.toDF("doc_id", "text"), 0L,
        families)
      // micro-batch 1, first delivery: TF commits; the fingerprint
      // ingest starts (pending marker + generation + facts) and DIES
      // before its epoch commit; the driver crash also means the
      // composed loop never reached any later family
      val b1df = b1.toDF("doc_id", "text")
      assert(tfFam.ingestBatch(tfDir, b1df, 1L))
      val m0 = graft.sink.IndexManifest.latest(spark, fpDir)
      graft.sink.IndexManifest.commit(spark, fpDir,
        m0.copy(pendingEpoch = 1L))
      val g = graft.sink.IndexLayout.reserveGen(spark, fpDir)
      fpFam.appendFacts(fpDir, b1df, g)
      assert(IndexFamily.committedEpoch(spark, tfDir) == 1L)
      assert(IndexFamily.committedEpoch(spark, fpDir) == 0L)
      // the composed replay of the SAME micro-batch: TF skips
      // (committed), fingerprint detects its own pending marker and
      // heals as an upsert (fresh-generation tombstones kill the
      // crashed duplicate fingerprints)
      val healed = EventStreams.ingestFamiliesBatch(b1df, 1L, families)
      assert(healed == Seq("tf" -> false, "fingerprint" -> true))
      assert(Seq(tfDir, fpDir).map(
        IndexFamily.committedEpoch(spark, _)) == Seq(1L, 1L))
      // fingerprint ≡ a cleanly built index (a missed heal would
      // double doc 3's fingerprints and inflate every shared count)
      graft.operators.Dedup.writeFingerprintIndex(
        (seed ++ b0 ++ b1).toDF("doc_id", "text"), clean, k = 10,
        w = 4, fpBuckets = 4)
      def cands(d: String) = graft.operators.Dedup
        .substringCandidatesAgainstIndex(spark, d, minShared = 1,
          Seq(2L, 3L).toDF("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(cands(fpDir) == cands(clean) && cands(fpDir).nonEmpty)
    } finally Seq(tfDir, fpDir, clean).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  test("ingestBatch (fingerprint): exactly-once per epoch, and a " +
      "crashed-after-facts delivery self-heals on an append-mode " +
      "replay (candidates ≡ a cleanly appended index)") {
    import spark.implicits._
    val dir = tempDir("graft_fpsink").toString
    val clean = tempDir("graft_fpsink_clean").toString
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog repeatedly"),
      (1L, "the quick brown fox jumps over the lazy dog sometimes"),
      (2L, "completely unrelated text with no shared substrings xyz"))
    val inc0 = Seq(
      (3L, "the quick brown fox jumps over the lazy dog repeatedly"))
    val inc1 = Seq(
      (4L, "the quick brown fox jumps over the lazy dog occasionally"))
    try {
      def cands(d: String) = graft.operators.Dedup
        .substringCandidatesAgainstIndex(spark, d, minShared = 1,
          Seq(3L, 4L).toDF("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      graft.operators.Dedup.writeFingerprintIndex(
        corpus.toDF("doc_id", "text"), dir, k = 10, w = 4,
        fpBuckets = 4)
      // epoch 0 ingests once; its replay is skipped
      val b0 = inc0.toDF("doc_id", "text")
      assert(fpFam.ingestBatch(dir, b0, 0L))
      assert(!fpFam.ingestBatch(dir, b0, 0L))
      // epoch 1 crashes after its facts; the append-mode replay heals
      // (without the heal, doc 4's fingerprints double and every
      // shared count inflates)
      val b1 = inc1.toDF("doc_id", "text")
      val m0 = graft.sink.IndexManifest.latest(spark, dir)
      graft.sink.IndexManifest.commit(spark, dir,
        m0.copy(pendingEpoch = 1L))
      val g = graft.sink.IndexLayout.reserveGen(spark, dir)
      fpFam.appendFacts(dir, b1, g)
      assert(fpFam.ingestBatch(dir, b1, 1L))
      graft.operators.Dedup.writeFingerprintIndex(
        (corpus ++ inc0 ++ inc1).toDF("doc_id", "text"), clean,
        k = 10, w = 4, fpBuckets = 4)
      assert(cands(dir) == cands(clean))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(clean))
    }
  }
}
