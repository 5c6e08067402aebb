package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** One event of the `events` table (TESTDATA.md); `props` is carried as
  * an opaque JSON string just like the batch side.
  */
case class Event(
    event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** One closed (or timed-out) session emitted by the stateful
  * sessionizer.
  */
case class Session(
    user_id: Long, session_start: Timestamp, session_end: Timestamp,
    n_events: Long, session_value: Double)

/** Accumulating state for one user's open session. */
case class OpenSession(
    start: Timestamp, end: Timestamp, n: Long, total: Double)

/** Structured Streaming operators over the `events` schema — the
  * streaming twins of `graft.queries.EventOps` (q35–q37): identical
  * epoch-aligned `window()` buckets and 30-minute-gap session semantics,
  * expressed over `readStream` inputs with event-time watermarks.
  *
  * The reference is batch-only (SURVEY.md §1.1 "Not present in the
  * reference ... streams"); this module is the north-star streaming
  * extension, specified directly from Spark's semantics:
  *  - aggregations run in watermark-bounded event-time windows, so state
  *    is dropped once the watermark passes a window's end — bounded
  *    memory at any scale;
  *  - shuffle keys are (window, event_type) / user_id, so partitioning
  *    matches the batch plans and skew behavior is identical;
  *  - every transform takes a plain DataFrame/Dataset and works on BOTH
  *    batch and streaming inputs (Spark's unified model) — the batch
  *    catalog queries and these functions can share one definition, and
  *    tests can cross-check streaming output against the batch oracle.
  */
object EventStreams {

  /** In-memory / MemoryStream schema (µs timestamp). */
  val eventSchema: StructType =
    Encoders.product[Event].schema.add("props", "string")

  /** File-based event stream over a DIRECTORY of parquet files (Spark's
    * file source rejects a bare file path — stage single files into a
    * directory first). One file per micro-batch by default;
    * `maxFilesPerTrigger` bounds per-batch work for backfills.
    *
    * The stream schema is PROBED from the files already in the
    * directory (a streaming source requires a user schema, and the
    * driver has generated events parquet with three different physical
    * `ts` layouts across testdata generations — TIMESTAMP(NANOS),
    * TIMESTAMP(MICROS)/NTZ, and instant TIMESTAMP); the probed layout
    * governs every micro-batch scan, and `Tables.normalizeTs` folds all
    * three to the same µs TimestampType the batch side uses — verified
    * across 2 real file-source micro-batches by
    * ReadEventsFileStreamSpec.
    *
    * CONTRACT: every file that ever lands in one stream directory must
    * share ONE physical ts layout. The probe (or the [[eventSchema]]
    * fallback when the directory is still empty at start) is captured
    * once into the source; a file arriving later with a DIFFERENT
    * layout would fail or misread in its micro-batch — re-layout means
    * a new directory and a fresh stream, not mixed files.
    */
  def readEvents(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    // the flag is set just for the probe + readStream calls
    graft.Tables.withNanosAsLong(spark) {
      // An empty directory cannot be probed (schema inference throws);
      // fall back to the logical µs-timestamp schema so a stream can be
      // STARTED before its first file arrives — the pre-probe behavior.
      val fileSchema =
        try spark.read.parquet(dir).schema
        catch { case _: org.apache.spark.sql.AnalysisException =>
          eventSchema }
      graft.Tables.normalizeTs(spark.readStream
        .schema(fileSchema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(dir))
    }
  }

  /** Tumbling event-time window aggregation (streaming twin of
    * q35_tumbling_window). Append mode emits each (window, event_type)
    * row exactly once, when the watermark passes the window end.
    */
  def tumblingAgg(events: DataFrame, windowDur: String,
      watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.queries.dsum(col("value")).as("total_value"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Sliding event-time window aggregation (streaming twin of
    * q36_sliding_window): each event lands in windowDur/slide buckets.
    */
  def slidingAgg(events: DataFrame, windowDur: String, slide: String,
      watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur, slide))
      .agg(count(lit(1)).as("n"),
        graft.queries.dsum(col("value")).as("total_value"))
      .select(col("window.start").as("bucket_start"), col("n"),
        col("total_value"))

  /** Streaming per-group heavy-hitter CANDIDATES — the incremental arm
    * of [[graft.operators.Freq.heavyHitterCountsBy]]: per
    * watermark-bounded event-time window and group, the Misra-Gries
    * candidate set of `keyCol` maintained incrementally (the
    * TypedImperativeAggregate's buffer lives in the state store and
    * each micro-batch MERGES into it — MG merge is associative and
    * the coverage guarantee is merge-order-independent, so any key
    * with share > 1/(capacity+1) of a (window, group)'s rows is in
    * the final set no matter how arrivals were batched). Update mode:
    * each trigger re-emits the groups it touched; `n_seen` (rows
    * merged so far) is MONOTONE per (window, group), so the final
    * state is `max_by(candidates, n_seen)` — sink row order is not
    * part of the contract. The exact-count verification join is a
    * batch pass over the emitted candidates (the lambda shape:
    * sketch online, verify offline — EventStreamsSpec pins
    * stream-final candidates ≡ the batch operator's on the same
    * rows).
    */
  def heavyHitterCandidates(events: DataFrame, windowDur: String,
      watermark: String, groupCol: String, keyCol: String,
      capacity: Int): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col(groupCol))
      .agg(graft.functions.SketchAggs.misraGries(
          col(keyCol).cast("long"), capacity).as("candidates"),
        count(lit(1)).as("n_seen"))
      .select(col("window.start").as("bucket_start"), col(groupCol),
        col("candidates"), col("n_seen"))

  /** Streaming per-window QUANTILE sketch — the incremental arm of
    * the q326 KLL family: per watermark-bounded event-time window, the
    * [[graft.functions.KllAgg]] compactor buffer lives in the state
    * store and each micro-batch MERGES into it. KLL merge is
    * associative with the rank-error guarantee preserved under ANY
    * merge order (Karnin-Lang-Liberty 2016, §2.3), but the concrete
    * ESTIMATE is merge-order-dependent — so what the stream and its
    * batch twin share deterministically is the ENVELOPE (Σweight = n
    * exactly, O(k) retained items, rank error inside the bound), the
    * q326 gating discipline. Update mode; `n_seen` is the monotone
    * final-state marker ([[heavyHitterCandidates]] contract).
    */
  def windowedQuantileSketch(events: DataFrame, windowDur: String,
      watermark: String, valueCol: String, k: Int): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur))
      .agg(graft.functions.KllAgg.kll(col(valueCol).cast("long"), k)
          .as("sketch"),
        count(lit(1)).as("n_seen"))
      .select(col("window.start").as("bucket_start"), col("sketch"),
        col("n_seen"))

  /** Declarative gap-based sessions via `session_window` — Spark merges
    * overlapping per-event windows into sessions natively; state per key
    * is bounded by the watermark.
    */
  def sessionAgg(events: DataFrame, gap: String,
      watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        graft.queries.dsum(col("value")).as("session_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("session_value"))

  /** Custom-state sessionizer via `flatMapGroupsWithState` — the escape
    * hatch for session logic `session_window` can't express (here it
    * reproduces q37's semantics: a session ends when the next event is
    * MORE than `gapMinutes` after the previous one, and `session_end` is
    * the last event's timestamp, not last+gap).
    *
    * Within a micro-batch, a user's events arrive unordered — they are
    * sorted by (ts, event_id) before folding into the open-session state.
    * Sessions closed by an in-batch gap are emitted immediately; the
    * trailing open session is emitted when the event-time watermark
    * passes its end by `gapMinutes` (state timeout), so per-key state is
    * one small case class, never the event backlog.
    */
  def sessionizeStateful(events: Dataset[Event], gapMinutes: Int,
      watermark: String): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L

    def fold(userId: Long, it: Iterator[Event],
        state: GroupState[OpenSession]): Iterator[Session] = {
      def toSession(s: OpenSession) =
        Session(userId, s.start, s.end, s.n, s.total)
      if (state.hasTimedOut) {
        val out = state.getOption.map(toSession).iterator
        state.remove()
        out
      } else {
        val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        var open = state.getOption
        var lateOpen: Option[OpenSession] = None
        val closed = Seq.newBuilder[Session]
        sorted.foreach { e =>
          val t = e.ts.getTime
          open = open match {
            // within gap of the open session on either side — late
            // events (cross-batch, above watermark) may precede the
            // session start, so the window extends in both directions
            case Some(s) if t >= s.start.getTime - gapMs &&
                t <= s.end.getTime + gapMs =>
              Some(OpenSession(
                if (t < s.start.getTime) e.ts else s.start,
                if (t > s.end.getTime) e.ts else s.end,
                s.n + 1, s.total + e.value))
            case Some(s) if t > s.end.getTime + gapMs =>
              closed += toSession(s)
              Some(OpenSession(e.ts, e.ts, 1L, e.value))
            case Some(s) => // very late: > gap BEFORE the open session.
              // Merge with a pending late-session accumulator so
              // mutually-within-gap late events form ONE session (as the
              // batch twin q37 would), closed at end of batch.
              lateOpen = lateOpen match {
                case Some(l) if e.ts.getTime <= l.end.getTime + gapMs =>
                  Some(OpenSession(l.start, e.ts, l.n + 1,
                    l.total + e.value))
                case Some(l) =>
                  closed += toSession(l)
                  Some(OpenSession(e.ts, e.ts, 1L, e.value))
                case None =>
                  Some(OpenSession(e.ts, e.ts, 1L, e.value))
              }
              Some(s)
            case None =>
              Some(OpenSession(e.ts, e.ts, 1L, e.value))
          }
        }
        lateOpen.foreach(l => closed += toSession(l))
        open.foreach { s =>
          state.update(s)
          // the timeout must stay ahead of the current watermark (a
          // late batch can leave end+gap behind it)
          state.setTimeoutTimestamp(
            math.max(s.end.getTime + gapMs,
              state.getCurrentWatermarkMs() + 1))
        }
        closed.result().iterator
      }
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fold)
  }

  /** Stream-STREAM interval join: pair rows from two live streams whose
    * event times fall within `within` of each other (right.ts in
    * [left.ts − within, left.ts]). Both sides carry watermarks, so
    * Spark bounds the join state: a buffered row is dropped once the
    * other side's watermark passes its time bound — state is
    * O(rate × (watermark + within)), never the full streams. The time
    * condition is REQUIRED: an unbounded-state stream-stream join is
    * exactly what a 100 TB/day pipeline cannot run.
    *
    * Columns are prefixed (l_/r_) because both sides share the event
    * schema.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      key: String, within: String, watermark: String): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col(key).as("l_key"), col("ts").as("l_ts"),
        col("event_id").as("l_event_id"), col("value").as("l_value"))
    val r = right.withWatermark("ts", watermark)
      .select(col(key).as("r_key"), col("ts").as("r_ts"),
        col("event_id").as("r_event_id"), col("value").as("r_value"))
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $within") &&
        col("r_ts") <= col("l_ts"))
  }

  /** LEFT OUTER stream-stream interval join: like [[intervalJoin]],
    * but a left row with NO match inside its time bound is still
    * emitted (right side null) — the attribution shape "every
    * purchase, with its preceding click if any". The null row can
    * only be emitted once the right watermark has passed the bound
    * (before that a match could still arrive), so unmatched results
    * trail the watermark by design — correctness over latency, the
    * documented Spark outer-join contract. State stays
    * watermark-bounded exactly as in the inner form.
    */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame,
      key: String, within: String, watermark: String): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col(key).as("l_key"), col("ts").as("l_ts"),
        col("event_id").as("l_event_id"), col("value").as("l_value"))
    val r = right.withWatermark("ts", watermark)
      .select(col(key).as("r_key"), col("ts").as("r_ts"),
        col("event_id").as("r_event_id"), col("value").as("r_value"))
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $within") &&
        col("r_ts") <= col("l_ts"),
      "left_outer")
  }

  /** Stream-static enrichment join: each micro-batch left-joins the
    * (broadcast) dimension — the streaming twin of the lookup operator
    * (SURVEY.md §2.2). The dimension is re-read per trigger for file
    * sources, so slowly-changing dims pick up updates without restart;
    * misses produce nulls, matching the batch lookup semantics.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
      keys: Seq[String]): DataFrame =
    events.join(broadcast(dim), keys, "left")

  /** Streaming exact dedup with watermark-bounded state: re-deliveries of
    * the same key (e.g. an at-least-once source replaying `event_id`)
    * inside the watermark horizon are dropped; state for a key is freed
    * once the watermark passes its event time, so memory is
    * O(rate × watermark), never the full stream — the streaming twin of
    * `Dedup.exactByKey` and the precondition for exactly-once semantics
    * over at-least-once transports.
    */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
      watermark: String, tsCol: String = "ts"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream each micro-batch through a [[graft.sink.TargetSpec]] with
    * batch-overwrite semantics: the epoch id is stamped into the spec's
    * batch column, so a micro-batch REPLAYED after a failure deletes its
    * own previous partial write and re-inserts — end-to-end idempotence
    * on any target (parquet partition overwrite, JDBC delete+append),
    * i.e. the reference's `truncate_rows` idempotency contract applied
    * per streaming epoch. `foreachBatch` is the bridge: inside it the
    * micro-batch is a plain DataFrame, so the whole batch sink/DQ stack
    * applies unchanged.
    */
  def startTargetSink(df: DataFrame, target: graft.sink.TargetSpec,
      spec: graft.core.TableSpec, epochCol: String,
      checkpoint: String): StreamingQuery = {
    require(spec.batchColumns.contains(epochCol),
      s"epoch column $epochCol must be a declared batch column")
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        target.overwriteBatch(batch.withColumn(epochCol, lit(epochId)),
          spec)
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  private val NoHook: String => Unit = _ => ()

  /** Fan ONE micro-batch into one or more persisted indexes — each
    * `(family, path)` target runs its family's exactly-once
    * [[graft.sink.IndexFamily.ingestBatch]] against its own manifest.
    * This is the crawler shape: a real crawler does not run one
    * stream per index, it lands each micro-batch of documents in its
    * retrieval (TF), near-dup (shingle), substring (fingerprint) and
    * ANN (IVF-PQ) indexes together. Composition contract:
    *
    *  - there is deliberately no cross-family transaction (the
    *    families live at different paths, possibly different
    *    filesystems; a distributed transaction here would buy nothing
    *    a replay does not already give);
    *  - a crash BETWEEN family ingests of one micro-batch therefore
    *    leaves the families at DIFFERENT committed epochs — the
    *    window the per-family protocols cannot see individually. The
    *    streaming replay closes it: the restarted query re-delivers
    *    the micro-batch at the SAME epochId (the offset log is
    *    written before execution), families already at that epoch
    *    skip (`epochId <= committed`), the rest ingest — all families
    *    CONVERGE to the same epoch with each index ≡ its batch-built
    *    twin. A crash INSIDE one family's ingest is the case the
    *    per-family pending-epoch self-heal already covers; composed,
    *    both kinds of crash land on the same replay path;
    *  - with more than one target the micro-batch is materialized
    *    ONCE (`localCheckpoint`) before the fan-out: each family runs
    *    several Spark actions over it, and without pinning, N
    *    families × M actions would re-derive the micro-batch source
    *    N×M times. A single target reads the batch as it is — a pin
    *    would add a job and save none.
    *
    * `upsert` selects every target's upsert path (the crawler's
    * re-crawl stream). `hook(name)` runs after each family's ingest —
    * the crash-injection seam (the specs kill between two families of
    * one micro-batch), same pattern as
    * [[graft.sink.IndexFamily.purgeTombstones]]'s phase hook.
    *
    * With the default (no-op) hook the families' ingests OVERLAP from
    * driver threads (guide §2.6 — each family's micro-batch jobs are
    * small and driver-bound; sequential ingest left the cluster idle
    * between family tails; optimization round 20). A caller-supplied
    * hook forces the sequential ingest order the crash-injection
    * specs rely on — the concurrency is an execution detail, never a
    * protocol change.
    * @return per-family (name, ingested?) in `targets` order. */
  def ingestFamiliesBatch(batch: DataFrame, epochId: Long,
      targets: Seq[(graft.sink.IndexFamily, String)],
      upsert: Boolean = false,
      hook: String => Unit = NoHook): Seq[(String, Boolean)] = {
    val input = if (targets.sizeIs > 1) batch.localCheckpoint() else batch
    def one(t: (graft.sink.IndexFamily, String)): (String, Boolean) = {
      val (family, path) = t
      val r = family.ingestBatch(path, input, epochId, upsert)
      hook(family.name)
      family.name -> r
    }
    try {
      if (hook eq NoHook) graft.core.Par.mapInParallel(targets)(one)
      else targets.map(one)
    } finally {
      if (input ne batch) input.unpersist()
      ()
    }
  }

  /** Stream micro-batches INTO one or more persisted indexes —
    * [[ingestFamiliesBatch]] under one streaming query and one
    * checkpoint: the operator where the streaming and index
    * lifecycles meet. Each micro-batch is an O(increment) append (or,
    * with `upsert = true`, an upsert — new-id upsert ≡ append, so a
    * pure-new stream costs one extra tombstone write per batch) into
    * every target; queries against the indexes see every committed
    * batch immediately — the freshness contract an impact index
    * cannot give a stream. Replays are skipped per family, and a
    * crash anywhere — inside a family's ingest or between two
    * families — heals on restart with every family converging to the
    * same committed epoch. */
  def startIndexSink(input: DataFrame, checkpoint: String,
      targets: Seq[(graft.sink.IndexFamily, String)],
      upsert: Boolean = false,
      hook: String => Unit = NoHook): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        ingestFamiliesBatch(batch, epochId, targets, upsert, hook)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Start an idempotent append to partitioned parquet: exactly-once via
    * the checkpoint's file-sink log, partitioned so downstream reads
    * prune by event date.
    */
  def startParquetSink(df: DataFrame, path: String,
      checkpoint: String, tsCol: String = "bucket_start"): StreamingQuery =
    df.withColumn("event_date", to_date(col(tsCol)))
      .writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("event_date")
      .outputMode(OutputMode.Append)
      .start()
}
