package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared GENERATION + LAYOUT plumbing for the persisted inverted-index
  * families (TF — [[graft.operators.Retrieval.writeTfIndex]], shingle
  * and fingerprint — [[graft.operators.Dedup.writeShingleIndex]] /
  * `writeFingerprintIndex`, IVF-PQ codes —
  * [[graft.operators.Similarity.IvfPqIndex]]); their mutation and
  * maintenance operations are written once in [[IndexFamily]].
  *
  * The ingest-only appends those layouts started with cannot express a
  * RE-CRAWL: a doc_id whose text changed needs its old facts replaced,
  * and a plain `doc_id` tombstone would kill the re-appended facts at
  * read time along with the stale ones. The fix is a monotone
  * per-mutation generation:
  *
  *  - every fact row carries `gen` (the mutation that wrote it —
  *    constant per append batch, so parquet RLE stores it in a few
  *    bytes per FILE, not per row);
  *  - tombstones are `(key, below_gen)`: kill this key's facts with
  *    `gen < below_gen`;
  *  - reads keep a fact iff it has no tombstone or `gen >= below_gen`
  *    (per-key `max(below_gen)` when a key was tombstoned repeatedly).
  *
  * UPSERT is then one call: tombstone the incoming ids at
  * `below_gen = g`, append their fresh facts at `gen = g`. The fresh
  * facts survive their own tombstone (`g >= g`), every earlier
  * generation dies. DELETE is a tombstone at `below_gen = g` with no
  * append — and an upsert AFTER a delete resurrects the doc (its new
  * facts carry a later generation), which is what a re-crawl of a
  * previously-taken-down page should do.
  *
  * The generation counter, the visibility watermark, the streaming
  * ingest epoch, and the logical→physical directory pointers all live
  * in ONE tiny atomic commit marker, [[IndexManifest]] — driver-side
  * FS reads/writes, no Spark jobs. Three disciplines ride it:
  *
  *  - ''Reserve-before-write'': [[reserveGen]] commits the new
  *    generation BEFORE any tombstone or fact lands, so a mutation that
  *    crashes half-done is self-healing under replay — the replay
  *    reserves a HIGHER generation and its `below_gen` tombstones kill
  *    the crashed attempt's partial facts (an upsert replayed after a
  *    crash between its fact append and anything else is therefore
  *    exactly correct, not double-counted).
  *  - ''Publish-after-write'': parquet appends are not atomic (a
  *    multi-file job commit is a sequence of renames, and an upsert is
  *    TWO appends — tombstones, then facts), so readers never trust
  *    raw presence. Facts are visible only at `gen <= visibleGen`
  *    ([[visibleFacts]]) and tombstones only at `below_gen <=
  *    visibleGen` ([[tombstoneFloor]]); a mutation bumps the watermark
  *    in one [[publishGen]] commit AFTER all its rows landed. Every
  *    reader therefore sees exactly a pre- or post-mutation snapshot —
  *    mutations are READER-ATOMIC, not merely self-healing. Both
  *    predicates ride the existing kill-floor join, and the `gen`
  *    filter is an ordinary pushed parquet predicate over a
  *    per-file-constant RLE column: at 100 TB the unpublished tail is
  *    skipped from row-group stats, not scanned.
  *  - ''Versioned rewrites'': a purge/compaction builds
  *    `postings-v{n+1}` beside the live tree and commits by one pointer
  *    write ([[IndexFamily.purgeTombstones]], [[compactVersioned]]);
  *    concurrent readers resolve the pointer first and always see
  *    exactly the pre- or post-rewrite snapshot — never a missing or
  *    half-swapped tree; this is the only rewrite protocol (there is
  *    no in-place swap). GC keeps a HISTORY grace window: each
  *    rewrite's [[gcWithGrace]] call retains every tree the newest
  *    [[IndexManifest.HistoryKeep]] snapshots reference (a reader
  *    holding a snapshot up to that many commits stale still finds
  *    its trees) and collects only older versions; a full sweep
  *    ([[gcUnreferenced]] with an empty keep set) reclaims the rest
  *    once in-flight readers have drained.
  *
  * Format note: fact trees written before the generation era carry no
  * `gen` column; [[withGen]] defaults it to 0 so those artifacts stay
  * READABLE (they hold only generation-0 facts by definition). Mutating
  * them is fine too: the first mutation starts at generation 1.
  */
object IndexLayout {

  def dirExists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Run independent Spark write jobs CONCURRENTLY from driver
    * threads (guide §2.6 "overlap independent jobs": actions are only
    * sequential because driver code calls them sequentially — one
    * job's task tail backfills executors freed by the other). Used by
    * the index mutation paths whose postings/docs/tombstone writes
    * land in DISTINCT directories off one materialized frame; the
    * manifest commit ordering (reserve → writes → publish) is
    * unchanged — this only overlaps the writes between those two
    * commits. Rethrows the first failure after all jobs settle
    * (a half-written mutation is exactly the crash window the
    * generation protocol already self-heals). Pool semantics and the
    * local-properties pinning live in [[graft.core.Par]]. */
  def inParallel(jobs: (() => Unit)*): Unit = {
    graft.core.Par.mapInParallel(jobs.toSeq)(j => j())
    ()
  }

  /** The one-row `path/meta` table of an index layout, cached
    * driver-side by canonical path: meta is immutable for the life of
    * a layout (written once by the family's write*Index right after
    * [[freshLayout]], never by mutations), but every micro-batch
    * append was re-reading it as a one-task Spark job — pure per-batch
    * overhead at streaming cadence (optimization round 19).
    * [[freshLayout]] invalidates this JVM's entry; a rebuild by
    * ANOTHER driver/process (the manifest protocol tolerates racing
    * mutators) is caught by the fingerprint check below: the cached
    * row is served only while the meta directory's file listing
    * (name, length, modTime) is unchanged — one driver-side
    * listStatus, orders of magnitude cheaper than the Spark job it
    * replaces, and a foreign rebuild (freshLayout deletes + rewrites
    * meta) always changes it (round-20 hardening, ADVICE). A listing
    * failure yields the empty fingerprint, which never validates a
    * cached row: two failed listings around a foreign rebuild would
    * otherwise compare equal and serve the stale row. */
  private[sink] val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (String, org.apache.spark.sql.Row)]()

  /** Cache keys resolve through Hadoop (same resolution the reads and
    * [[freshLayout]] use): java.io.File canonicalization mapped
    * `file:/x` and `/x` (or any non-local URI) to DISTINCT keys, so a
    * freshLayout given one form failed to invalidate a row cached
    * under the other (round-20 hardening, ADVICE). */
  private[sink] def canonical(spark: SparkSession, path: String): String =
    try {
      val p = new Path(path)
      p.getFileSystem(spark.sessionState.newHadoopConf())
        .makeQualified(p).toString
    } catch { case _: Throwable => path }

  /** Fingerprint of the meta dir's file listing — the layout
    * incarnation marker the cached row is validated against. */
  private def metaFingerprint(spark: SparkSession,
      path: String): String =
    try {
      val p = new Path(s"$path/meta")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(p).map(st =>
          s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
        .sorted.mkString("|")
    } catch { case _: Throwable => "" }

  def metaRow(spark: SparkSession, path: String)
      : org.apache.spark.sql.Row = {
    val key = canonical(spark, path)
    val fp = metaFingerprint(spark, path)
    metaCache.compute(key, (_, cached) =>
      if (cached != null && fp.nonEmpty && cached._1 == fp) cached
      else (fp, spark.read.parquet(s"$path/meta").collect()(0)))._2
  }

  /** Resolve a logical subtree against an already-read manifest
    * snapshot (readers read the manifest ONCE and resolve everything
    * from it — piecemeal resolution could mix two snapshots across a
    * concurrent commit). */
  def dir(path: String, m: Option[IndexManifest],
      logical: String): String =
    s"$path/${m.map(_.dirFor(logical)).getOrElse(logical)}"

  /** One-off resolve (fresh manifest read) — for writers and tests. */
  def resolve(spark: SparkSession, path: String,
      logical: String): String =
    dir(path, IndexManifest.read(spark, path), logical)

  /** Current generation — manifest field (driver-side read, no job);
    * legacy parquet-log fallback for pre-manifest layouts; 0 for a
    * freshly built index. */
  def currentGen(spark: SparkSession, path: String): Long =
    IndexManifest.read(spark, path).map(_.gen)
      .getOrElse(IndexManifest.legacyGen(spark, path))

  /** RESERVE the next generation: commit `gen = current + 1` to the
    * manifest BEFORE the caller writes any tombstone or fact. A
    * mutation that crashes after this point left a consumed generation
    * and (at most) partial facts at it; the replay reserves a higher
    * one, so its `below_gen` tombstones kill the partial facts — the
    * at-least-once self-heal the old write-facts-then-bump ordering
    * could not give. */
  def reserveGen(spark: SparkSession, path: String): Long =
    // commutable commit: two racing reservers both succeed with
    // DISTINCT generations (the loser re-derives against the winner's
    // snapshot — [[IndexManifest.commitWith]])
    IndexManifest.commitWith(spark, path, m => m.copy(gen = m.gen + 1))
      .gen

  /** PUBLISH generation `g`: bump the reader-visibility watermark in
    * one commit AFTER the mutation's tombstone and fact rows all
    * landed — the second half of the reserve → write → publish
    * protocol that makes mutations reader-atomic. A crash before this
    * commit leaves the partial rows INVISIBLE (strictly better than
    * the pre-watermark behavior); the replay reserves a higher
    * generation, and publishing that makes the crashed rows visible
    * exactly when the tombstones that kill them become visible too —
    * same commit, same snapshot. Commutable (max-merge), so a lost
    * race retries. */
  def publishGen(spark: SparkSession, path: String, g: Long): Unit = {
    IndexManifest.commitWith(spark, path,
      m => m.copy(visibleGen = math.max(m.visibleGen, g)))
    ()
  }

  /** Default a missing `gen` column to 0 — keeps pre-generation-era
    * fact trees readable (everything they hold IS generation 0). A
    * MIXED tree (a legacy artifact that later mutations appended
    * gen-stamped files into) surfaces the legacy rows as NULL gen, so
    * present columns are null-coalesced to 0 too — otherwise the
    * visibility watermark would silently drop every pre-migration
    * fact. */
  def withGen(df: DataFrame): DataFrame =
    if (df.columns.contains("gen"))
      df.withColumn("gen", coalesce(col("gen"), lit(0L)))
    else df.withColumn("gen", lit(0L))

  /** The PUBLISHED slice of a fact table under a caller-held snapshot:
    * rows at `gen <= visibleGen`. The filter goes on the RAW column —
    * `IsNull OR <=` is a pushable parquet predicate over a
    * per-file-constant RLE column, so unpublished files are skipped
    * from row-group stats (a coalesce-wrapped filter would scan them);
    * NULL gen = a legacy row in a mixed tree = generation 0, always
    * published. [[withGen]] then normalizes the value for the
    * kill-floor join. No manifest (pre-manifest layout) ⇒ everything
    * is published by definition. */
  def visibleFacts(df: DataFrame,
      m: Option[IndexManifest]): DataFrame = m match {
    case Some(mm) if df.columns.contains("gen") =>
      withGen(df.filter(col("gen").isNull ||
        col("gen") <= lit(mm.visibleGen)))
    case _ => withGen(df)
  }

  /** Append `(keyName, below_gen)` tombstones: kill these keys' facts
    * with `gen < belowGen`. `Long.MaxValue` is deliberately NOT used
    * anywhere — a delete kills what exists now, never the future.
    * An EMPTY id frame is a no-op: a zero-row dynamic write would
    * leave a parquet directory with no files, and every subsequent
    * schema-inferring tombstone read would throw. */
  def appendTombstones(ids: DataFrame, path: String, keyName: String,
      belowGen: Long): Unit = {
    val t = ids.select(col(ids.columns.head).cast("long").as(keyName))
      .distinct()
      .withColumn("below_gen", lit(belowGen))
      .localCheckpoint() // one materialization: emptiness check + write
    if (!t.isEmpty)
      t.write.mode("append")
        .parquet(resolve(ids.sparkSession, path, "tombstones"))
  }

  /** Per-key kill floor `(keyName, below_gen)` — None when nothing is
    * tombstoned. */
  def tombstoneFloor(spark: SparkSession, path: String,
      keyName: String): Option[DataFrame] =
    tombstoneFloor(spark, path, keyName,
      IndexManifest.read(spark, path))

  /** [[tombstoneFloor]] resolved against a caller-held manifest
    * snapshot. Deliberately NO broadcast hint: measured (round 16,
    * isolated same-JVM alternating A/B at 256k docs) Catalyst's size
    * estimate on the max-aggregated floor already selects
    * BroadcastHashJoin with or without the hint — plans identical,
    * timing deltas inside box noise — and past broadcastable sizes a
    * GDPR-scale purge list needs AQE's stats-based choice anyway. */
  def tombstoneFloor(spark: SparkSession, path: String,
      keyName: String, m: Option[IndexManifest]): Option[DataFrame] = {
    val d = dir(path, m, "tombstones")
    if (!dirExists(spark, d)) None
    else {
      // only PUBLISHED tombstones count (below_gen <= visibleGen) —
      // an in-flight upsert's tombstones must not delete the doc for
      // readers before its facts publish (reader-atomicity's other
      // half; pre-manifest layouts have no watermark and skip the
      // filter)
      val raw = spark.read.parquet(d)
      val pub = m.map(mm =>
        raw.filter(col("below_gen") <= lit(mm.visibleGen)))
        .getOrElse(raw)
      Some(pub.groupBy(col(keyName))
        .agg(max(col("below_gen")).as("below_gen")))
    }
  }

  /** Keep the facts that survive the kill floor: no tombstone for the
    * key, or `gen >= below_gen`. No broadcast hint — Catalyst already
    * broadcasts the aggregated floor when it is small (plan-verified,
    * see [[tombstoneFloor]]); a purge list can be any size and AQE
    * picks the join strategy from actual stats past that. */
  def applyTombstones(df: DataFrame, floor: Option[DataFrame],
      keyName: String): DataFrame =
    floor.map { f =>
      df.join(f, Seq(keyName), "left_outer")
        .filter(col("below_gen").isNull || col("gen") >= col("below_gen"))
        .drop("below_gen")
    }.getOrElse(df)

  // ------------------------------------------------------------------
  // Shared facts plumbing — the one bucket-stamp → repartition →
  // partitionBy append all four index families were hand-rolling.
  // ------------------------------------------------------------------

  /** Initial build of a bucketed fact tree: facts at generation 0,
    * repartitioned ON the bucket column (one file per bucket per write
    * instead of #tasks × #buckets tiny files — the listing-cost lesson
    * of PLANS.md round 14, "ScaleShingleIndex"), overwrite into the
    * resolved physical dir.
    * Callers compute the bucket column (each family hashes its own
    * key). */
  def writeFacts(facts: DataFrame, path: String, logical: String,
      bucketCol: String): Unit =
    facts.withColumn("gen", lit(0L))
      .repartition(col(bucketCol))
      .write.mode("overwrite").partitionBy(bucketCol)
      .parquet(resolve(facts.sparkSession, path, logical))

  /** Append one mutation's facts at `gen` into the resolved bucketed
    * tree — same one-file-per-bucket shape as [[writeFacts]]. */
  def appendFacts(facts: DataFrame, path: String, logical: String,
      bucketCol: String, gen: Long): Unit =
    facts.withColumn("gen", lit(gen))
      .repartition(col(bucketCol))
      .write.mode("append").partitionBy(bucketCol)
      .parquet(resolve(facts.sparkSession, path, logical))

  /** [[writeFacts]] for a flat (unbucketed) side table. */
  def writeFlatFacts(facts: DataFrame, path: String,
      logical: String): Unit =
    facts.withColumn("gen", lit(0L))
      .write.mode("overwrite")
      .parquet(resolve(facts.sparkSession, path, logical))

  /** [[appendFacts]] for a flat (unbucketed) side table. */
  def appendFlatFacts(facts: DataFrame, path: String, logical: String,
      gen: Long): Unit =
    facts.withColumn("gen", lit(gen))
      .write.mode("append")
      .parquet(resolve(facts.sparkSession, path, logical))

  /** Reset `path` for a FRESH BUILD: delete the manifest (pointers
    * revert to plain names), every physical dir it referenced, any
    * plain tombstones, the legacy gen/epoch parquet logs, and — via
    * `sideLogicals` — the family's side tables the build itself does
    * not rewrite (e.g. the IVF-PQ drift baseline: a rebuilt index must
    * not serve the previous incarnation's baseline against a new
    * codebook). A rebuild must not inherit a previous incarnation's
    * kill floor, counters, or stale side state. Deletion is by logical
    * NAME: the plain dir and every versioned `<name>-v*` variant, so
    * pre-manifest leftovers and orphaned staging trees go too. */
  def freshLayout(spark: SparkSession, path: String,
      sideLogicals: Seq[String] = Nil): Unit = {
    metaCache.remove(canonical(spark, path)) // rebuilds may change meta
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(root)) {
      val logicals = IndexManifest.readHistory(spark, path)
        .flatMap(_.dirs.keysIterator).toSet ++
        sideLogicals ++ Seq("tombstones", "gen", "ingest_meta")
      val versioned = logicals.map { l =>
        l -> s"^${java.util.regex.Pattern.quote(l)}-v\\d+(-[0-9a-f]+)?$$".r
      }.toMap
      fs.listStatus(root).foreach { st =>
        val n = st.getPath.getName
        val stale = logicals.contains(n) ||
          versioned.exists(_._2.findFirstIn(n).isDefined)
        if (stale) fs.delete(st.getPath, true)
      }
    }
    IndexManifest.reset(spark, path)
  }

  // ------------------------------------------------------------------
  // Snapshot CDC — what changed between two retained snapshots.
  // ------------------------------------------------------------------

  /** The LIVE (key, gen) state of a flat fact table under snapshot
    * `m`: per key, the max published generation that survives `m`'s
    * kill floor. The generation IS the content version (every
    * mutation rewrites a key's facts at a fresh gen), so two
    * snapshots' live maps diff into exact CDC without any extra
    * state. */
  def liveKeyGens(spark: SparkSession, path: String, keyName: String,
      factLogical: String, m: IndexManifest): DataFrame = {
    val mOpt = Some(m)
    val facts = visibleFacts(
      spark.read.parquet(dir(path, mOpt, factLogical)), mOpt)
    applyTombstones(facts, tombstoneFloor(spark, path, keyName, mOpt),
      keyName)
      .groupBy(col(keyName)).agg(max(col("gen")).as("gen"))
  }

  /** CDC between two RETAINED snapshots of one index — the
    * incremental-pull primitive a 100 TB training pipeline needs:
    * instead of re-exporting the corpus, a downstream job pins
    * snapshot `a` on its last run, pins `b` now, and asks exactly
    * which keys changed. Returns `(keyName, change)` with change ∈
    * {'upsert', 'delete'}:
    *
    *  - a key live at `b` whose generation differs from its `a` state
    *    (new key, re-crawl, or delete-then-resurrect inside the
    *    window) → `upsert`;
    *  - a key live at `a` but not at `b` (takedown, including
    *    upsert-then-delete inside the window) → `delete`;
    *  - unchanged keys, and no-op tombstones on keys that were never
    *    live, produce NO row.
    *
    * Both states resolve from their own pinned snapshot (trees,
    * tombstones, watermark), so the diff is exact across any
    * interleaving of upserts, deletes, purges and compactions — a
    * purge preserves every live (key, gen) pair by construction, so
    * it contributes nothing. Cost: two scans of the flat per-key side
    * table (one row per key per mutation — the doc CATALOG, never the
    * postings body) + one shuffle on the key; both scans carry the
    * pushed visibility filter, and `a`'s side of the aggregation
    * reuses the same plan shape every read uses. Requires both
    * snapshots retained ([[IndexManifest.setRetention]] sized to the
    * pull interval — the same sizing rule as pinned reports). */
  def changedKeysBetween(spark: SparkSession, path: String,
      keyName: String, factLogical: String,
      a: IndexManifest, b: IndexManifest): DataFrame = {
    require(a.seq <= b.seq && a.visibleGen <= b.visibleGen,
      s"snapshot a (m-${a.seq}) must precede b (m-${b.seq})")
    // refuse LOUDLY if either pin aged out of retention (its trees
    // may be GC'd — without this, the diff dies mid-job on a raw
    // missing-file error instead of readAt's clear refusal)
    IndexManifest.readAt(spark, path, a.seq)
    IndexManifest.readAt(spark, path, b.seq)
    val la = liveKeyGens(spark, path, keyName, factLogical, a)
      .withColumnRenamed("gen", "gen_a")
    val lb = liveKeyGens(spark, path, keyName, factLogical, b)
      .withColumnRenamed("gen", "gen_b")
    la.join(lb, Seq(keyName), "full_outer")
      .filter(col("gen_a").isNull || col("gen_b").isNull ||
        col("gen_a") =!= col("gen_b"))
      .select(col(keyName),
        when(col("gen_b").isNull, lit("delete"))
          .otherwise(lit("upsert")).as("change"))
  }

  // ------------------------------------------------------------------
  // Versioned rewrites — build beside, commit by pointer, GC after.
  // ------------------------------------------------------------------

  private def countParquet(spark: SparkSession, d: String): Int = {
    val p = new Path(d)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0
    else {
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext)
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
  }

  private def parquetBytes(spark: SparkSession, d: String): Long = {
    val p = new Path(d)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(p, true)
    var b = 0L
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet")) b += st.getLen
    }
    b
  }

  /** Build the next physical version of `logical` by running `build`
    * against its staging path; returns the new physical NAME (not yet
    * committed — the caller folds it into one manifest commit). The
    * name carries a per-attempt token so two racing rewriters can
    * never stage into (or a committed winner point at) each other's
    * half-built tree; a crashed or race-losing attempt's staging is an
    * ordinary unreferenced version that the next [[gcWithGrace]]
    * sweeps (and the loser deletes its own eagerly —
    * [[commitVersions]]). */
  private[sink] def buildVersion(spark: SparkSession, path: String,
      m: IndexManifest, logical: String,
      build: String => Unit): String = {
    val token = java.util.UUID.randomUUID.toString
      .replace("-", "").substring(0, 8)
    val next = s"$logical-v${m.seq + 1}-$token"
    val staging = new Path(s"$path/$next")
    val fs = staging.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(staging)) fs.delete(staging, true)
    build(staging.toString)
    next
  }

  /** Clean abort of a dir-pointer commit that lost a race: the
    * pointer never moved, so this attempt's staged trees are pure
    * garbage — delete them eagerly (they'd also fall to the next
    * [[gcWithGrace]]) and rethrow with the recovery contract spelled
    * out. */
  private[sink] def abortStaged(spark: SparkSession, path: String,
      staged: Seq[String],
      e: ManifestCommitRaceException): Nothing = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    staged.foreach { n =>
      val p = new Path(root, n)
      if (fs.exists(p)) fs.delete(p, true)
    }
    throw new ManifestCommitRaceException(
      "rewrite lost a commit race and aborted CLEANLY: the tree is " +
        "unchanged for readers, this attempt's staged versions are " +
        s"deleted, and the operation is safe to rerun — ${e.getMessage}")
  }

  /** Delete physical dirs the committed manifest no longer references
    * — the GC step of a versioned rewrite. `keep` is the GRACE set:
    * the rewrite entry points pass the PREVIOUS snapshot's physical
    * names, so a reader who resolved the manifest just before the
    * commit still finds its tree — only dirs at least TWO rewrites
    * old are deleted (the next rewrite collects this one's
    * predecessors). Call with an empty `keep` for a full sweep once
    * in-flight readers have drained. Only names derived from a
    * pointed logical (`logical` itself or `logical-v<k>[-tok]`) are
    * candidates — `meta`, `_manifest`, and anything else untracked is
    * never touched. Versions AT or ABOVE the committed sequence are
    * also never touched: an unreferenced `-v{m.seq}` tree is a racing
    * (or just-crashed) rewriter's staging for THIS commit slot — the
    * loser deletes its own on abort, and anything orphaned falls to
    * the NEXT rewrite's sweep, whose sequence is higher (the same
    * deferred-collection philosophy as the reader grace window). */
  def gcUnreferenced(spark: SparkSession, path: String,
      m: IndexManifest, keep: Set[String] = Set.empty): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    val children = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName).toSet
    m.dirs.foreach { case (logical, physical) =>
      val versioned =
        s"^${java.util.regex.Pattern.quote(logical)}-v(\\d+)(-[0-9a-f]+)?$$".r
      children.foreach { n =>
        val version = versioned.findFirstMatchIn(n).map(_.group(1).toLong)
        val stale = n != physical && !keep.contains(n) &&
          (n == logical || version.exists(_ < m.seq))
        if (stale) fs.delete(new Path(root, n), true)
      }
    }
  }

  /** GC with the HISTORY grace window: keep every physical name any
    * RETAINED manifest snapshot still references — a reader (or pin)
    * holding any snapshot inside the index's retention window
    * ([[IndexManifest.setRetention]]; default the newest
    * [[IndexManifest.HistoryKeep]] commits) still finds its trees.
    * The rewrite entry points call this after their commit; versions
    * older than the retained history are collected. */
  def gcWithGrace(spark: SparkSession, path: String): Unit = {
    val history = IndexManifest.readHistory(spark, path)
    history.headOption.foreach { latest =>
      val logicals = history.iterator.flatMap(_.dirs.keysIterator)
        .toSet
      val keep = for {
        l <- logicals
        m <- history.iterator
      } yield m.dirFor(l)
      gcUnreferenced(spark, path, latest, keep)
    }
  }

  /** Build new versions of several logical subtrees (each `build` is
    * handed its staging path) and commit every pointer — plus any
    * extra manifest change from `mutate` — in ONE atomic write, then
    * GC the replaced versions. The multi-artifact swap primitive:
    * an IVF-PQ retrain replaces cells + codebook + codes + drift_meta
    * + tombstones as one snapshot flip. */
  def commitVersions(spark: SparkSession, path: String,
      builds: Seq[(String, String => Unit)],
      mutate: IndexManifest => IndexManifest = identity)
      : IndexManifest = {
    val m0 = IndexManifest.readOrInit(spark, path)
    val staged = scala.collection.mutable.ListBuffer.empty[String]
    var m = m0
    builds.foreach { case (logical, build) =>
      val nn = buildVersion(spark, path, m0, logical, build)
      staged += nn
      m = m.withDir(logical, nn)
    }
    val committed =
      try IndexManifest.commit(spark, path, mutate(m))
      catch { case e: ManifestCommitRaceException =>
        abortStaged(spark, path, staged.toSeq, e) }
    gcWithGrace(spark, path)
    committed
  }

  /** Compact a logical subtree's accumulated append files into a NEW
    * physical version and commit the pointer (readers never observe
    * the tree mid-rewrite). Bucketed trees
    * (`partitionCol` set) collapse to one file per bucket; flat tables
    * to ⌈bytes / targetBytes⌉ files. Row values untouched: reads are
    * bit-identical before and after.
    * @return (filesBefore, filesAfter). */
  def compactVersioned(spark: SparkSession, path: String,
      logical: String, partitionCol: Option[String],
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val m = IndexManifest.readOrInit(spark, path)
    val cur = dir(path, Some(m), logical)
    require(dirExists(spark, cur), s"$cur does not exist")
    val before = countParquet(spark, cur)
    val newName = buildVersion(spark, path, m, logical, { st =>
      val df = spark.read.parquet(cur)
      partitionCol match {
        case Some(pc) =>
          df.repartition(col(pc))
            .write.mode("overwrite").partitionBy(pc).parquet(st)
        case None =>
          val nFiles = math.max(1L,
            (parquetBytes(spark, cur) + targetBytes - 1) / targetBytes)
          df.repartition(nFiles.toInt)
            .write.mode("overwrite").parquet(st)
      }
    })
    try IndexManifest.commit(spark, path, m.withDir(logical, newName))
    catch { case e: ManifestCommitRaceException =>
      abortStaged(spark, path, Seq(newName), e) }
    gcWithGrace(spark, path)
    (before, countParquet(spark, s"$path/$newName"))
  }

  /** Metadata housekeeping for the compaction entry points: prune the
    * manifest history to its tail and drop the legacy gen/epoch parquet
    * logs once a manifest carries their values (they were folded in on
    * the first post-upgrade mutation). */
  def compactMetadata(spark: SparkSession, path: String): Unit = {
    if (IndexManifest.read(spark, path).isDefined) {
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      Seq("gen", "ingest_meta").foreach { n =>
        val p = new Path(root, n)
        if (fs.exists(p)) fs.delete(p, true)
      }
    }
    IndexManifest.pruneHistory(spark, path)
  }
}
