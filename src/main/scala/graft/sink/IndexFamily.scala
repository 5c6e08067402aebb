package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One persisted index family — what really differs between TF
  * ([[graft.operators.Retrieval.tfFamily]]), shingle and fingerprint
  * ([[graft.operators.Dedup.shingleFamily]] /
  * [[graft.operators.Dedup.fingerprintFamily]]) and IVF-PQ
  * ([[graft.operators.Similarity.ivfPqFamily]]) — with the index
  * lifecycle written ONCE over it: append, upsert, delete, snapshot
  * CDC, tombstone purge, compaction and the exactly-once streaming
  * ingest. Every mutation runs [[IndexLayout]]'s reserve → write →
  * publish generation protocol here and nowhere else. Builds
  * (`writeTfIndex`, `writeShingleIndex`, `writeFingerprintIndex`,
  * `IvfPqIndex.write`, `retrainIvfPqIndex`) and reads stay with their
  * family; a build's one manifest commit holds the parameters its
  * family's appends read back. Every mutation rejects a path with no
  * committed manifest (an unbuilt index or a crashed build) with an
  * error naming the path ([[IndexManifest.latest]]).
  *
  * @param name        family name the multi-index sink reports
  *                    ([[graft.streaming.EventStreams.ingestFamiliesBatch]])
  * @param key         tombstone key column of the stored facts
  * @param idCol       id column of the caller's input frames
  * @param bucketCol   partition column of the bucketed `postings`
  *                    tree; None when the family has no such tree
  * @param flats       flat (unbucketed) fact tables
  * @param cdcTable    fact table [[changesBetween]] diffs — the flat
  *                    per-key table when there is one (the postings
  *                    body is then never scanned)
  * @param appendFacts the family's fact append at generation `g`:
  *                    `(path, input, g)`. Package-visible as the
  *                    crash-simulation seam — specs and catalog rows
  *                    reserve a generation, append, and stop before
  *                    the publish. It reads the build parameters from
  *                    the latest manifest.
  */
final case class IndexFamily(name: String, key: String, idCol: String,
    bucketCol: Option[String], flats: Seq[String], cdcTable: String,
    private[graft] val appendFacts: (String, DataFrame, Long) => Unit) {

  /** APPEND an increment whose ids are new to the index (ingest, not
    * upsert). The generation is RESERVED (one driver-side manifest
    * commit, no Spark job) before any fact lands, so a crashed
    * append's replay reserves a higher one and its tombstones can
    * self-heal it; it is PUBLISHED after, so readers never see a
    * partial append. */
  def append(path: String, input: DataFrame): Unit =
    mutate(input.sparkSession, path)(g => appendFacts(path, input, g))

  /** The reserve → write → publish bracket of every mutation, on a
    * BUILT index only: the check runs before the reserve, so a
    * rejected mutation commits nothing. */
  private def mutate(spark: SparkSession, path: String)(
      write: Long => Unit): Unit = {
    IndexManifest.latest(spark, path)
    val g = IndexLayout.reserveGen(spark, path)
    write(g)
    IndexLayout.publishGen(spark, path, g)
  }

  /** UPSERT a re-crawled (or re-embedded) increment: tombstone the
    * incoming ids at `below_gen = g` and append their fresh facts at
    * `gen = g` — the fresh facts survive their own tombstone, every
    * earlier generation of those ids dies at read time, ids new to the
    * index are a plain append. Upsert-twice ≡ once; an upsert after a
    * delete resurrects. O(increment) — stored facts are never re-read.
    * Reserve-first makes a crashed upsert self-healing under replay;
    * publish-last makes it reader-atomic. The tombstone and fact
    * writes land in distinct dirs between the same reserve/publish
    * pair, so they overlap (guide §2.6). */
  def upsert(path: String, input: DataFrame): Unit =
    mutate(input.sparkSession, path) { g =>
      IndexLayout.inParallel(
        () => IndexLayout.appendTombstones(input.select(col(idCol)),
          path, key, g),
        () => appendFacts(path, input, g))
    }

  /** DELETE the ids in `ids`' first column — the takedown/GDPR
    * operation: `(key, below_gen)` tombstones kill every CURRENT
    * generation, never the future, so a later [[upsert]] resurrects.
    * Reads filter the killed facts before anything aggregates, so
    * read-time statistics recompute as if they never existed.
    * Physical removal is [[purgeTombstones]]. */
  def delete(path: String, ids: DataFrame): Unit =
    mutate(ids.sparkSession, path)(
      g => IndexLayout.appendTombstones(ids, path, key, g))

  /** CDC between two PINNED snapshots: `(key, change)` with change ∈
    * {'upsert', 'delete'} ([[IndexLayout.changedKeysBetween]] on
    * [[cdcTable]]). The incremental training-data pull: a downstream
    * job keeps the pin of its last export and fetches only the delta.
    * An IVF-PQ retrain between the pins re-encodes every vector at a
    * fresh generation, so every id reports `upsert` — the stored codes
    * really did all change. */
  def changesBetween(spark: SparkSession, path: String,
      a: IndexManifest, b: IndexManifest): DataFrame =
    IndexLayout.changedKeysBetween(spark, path, key, cdcTable, a, b)

  /** Physically drop the tombstone-killed generations: rewrite the
    * bucketed postings tree (ONE job, `repartition(bucketCol)` — never
    * one job per bucket leaf) and each existing flat table into NEW
    * physical versions, keeping exactly the facts the read-time filter
    * keeps, then commit every pointer — trees and a FRESH (empty)
    * tombstones name — in one atomic manifest write. Readers never
    * observe a missing, half-rewritten, or purged-with-old-tombstones
    * tree: the snapshot has all of the old or all of the new. Queries
    * are bit-identical before and after; the purge buys back the
    * tombstone join's read tax. The generation counter is untouched.
    * No-op without tombstones.
    *
    * `hook` is a test seam: called with `"built"` after the new
    * versions exist (pointer not yet moved), `"committed"` after the
    * pointer moved (old trees still on disk), `"gc"` after old
    * versions are deleted — specs interleave reads and simulated
    * crashes at each. */
  def purgeTombstones(spark: SparkSession, path: String,
      hook: String => Unit = _ => ()): Unit = {
    val m0 = IndexManifest.latest(spark, path)
    IndexLayout.tombstoneFloor(spark, path, key, m0).foreach { floor0 =>
      val floor = floor0.localCheckpoint()
      // keep exactly the PUBLISHED facts a reader keeps — a crashed
      // unpublished mutation's partial rows are dropped here too (its
      // replay reserves a fresh generation and rewrites them whole)
      def keep(logical: String) = IndexLayout.applyTombstones(
        IndexLayout.visibleFacts(
          Parquet.read(spark, IndexLayout.dir(path, m0, logical)), m0),
        Some(floor), key)
      val builds = bucketCol.toSeq.map { bc =>
        val postings = new Path(IndexLayout.dir(path, m0, "postings"))
        require(Parquet.fs(spark, postings).listStatus(postings)
            .exists(st => st.isDirectory && st.getPath.getName
              .startsWith(s"$bc=")),
          s"$postings has no $bc= leaves — wrong index layout for " +
            s"the $name family")
        "postings" -> { (st: String) =>
          val remaining = keep("postings")
          Parquet.writer(remaining.repartition(col(bc)))
            .mode("overwrite").partitionBy(bc).parquet(st)
          ensureReadable(spark, st,
            org.apache.spark.sql.types.StructType(
              remaining.schema.filterNot(_.name == bc)),
            Some(s"$bc=0"))
        }
      } ++ flats
        .filter(l => IndexLayout.dirExists(spark,
          IndexLayout.dir(path, m0, l)))
        .map { l =>
          l -> { (st: String) =>
            val remaining = keep(l)
            Parquet.writer(remaining).mode("overwrite").parquet(st)
            ensureReadable(spark, st, remaining.schema, None)
          }
        }
      val staged = builds.map { case (l, build) =>
        l -> IndexLayout.buildVersion(spark, path, m0, l, build)
      }
      // fresh tombstones = a not-yet-existing name: absent dir ≡ no
      // kill floor to every reader, and the old tombstones stay paired
      // with the old trees until the commit flips the whole snapshot
      val m = staged.foldLeft(m0) { case (mm, (l, n)) => mm.withDir(l, n) }
        .withDir("tombstones", s"tombstones-v${m0.seq + 1}")
      hook("built")
      try IndexManifest.commit(spark, path, m)
      catch { case e: ManifestCommitRaceException =>
        IndexLayout.abortStaged(spark, path, staged.map(_._2), e) }
      hook("committed")
      // grace GC: anything the retained manifest history references
      // survives, so a stale reader finishes cleanly
      IndexLayout.gcWithGrace(spark, path)
      hook("gc")
    }
  }

  /** A purge that drops EVERY row writes an empty tree (no parquet
    * files for a dynamic-partition write), and an empty tree breaks
    * every later schema-inferring read. Keep it readable: write one
    * zero-row parquet file carrying the read schema. For a partitioned
    * tree the file must live INSIDE a partition directory
    * (`partitionSubdir`, e.g. `sbucket=0`) — a flat file at the root
    * would make later partitioned appends fail partition discovery
    * ("conflicting directory structures"). The synthetic partition
    * value must parse to the partition column's type; the
    * integer-bucketed index layouts satisfy that by construction. */
  private def ensureReadable(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      partitionSubdir: Option[String]): Unit = {
    val staging = new Path(dir)
    val fs = Parquet.fs(spark, staging)
    val hasParquet = fs.exists(staging) && {
      val it = fs.listFiles(staging, true)
      var found = false
      while (!found && it.hasNext)
        found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
    if (!hasParquet) {
      val target = partitionSubdir.map(d => new Path(staging, d))
        .getOrElse(staging)
      // a 0-partition plan writes exactly one schema-only file
      Parquet.writer(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
        .mode("overwrite").parquet(target.toString)
    }
  }

  /** Compact the accumulated append files (N daily appends leave one
    * file per bucket per day — the classic ingest failure mode): the
    * postings tree collapses to one file per bucket in ONE partitioned
    * job, each flat table to ⌈bytes / targetBytes⌉ files, each into a
    * NEW physical version committed by pointer
    * ([[IndexLayout.compactVersioned]]); then the manifest history is
    * pruned. Row values are untouched: reads are bit-identical before
    * and after.
    * @return (filesBefore, filesAfter) summed over the rewritten
    *         tables. */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val counts =
      bucketCol.toSeq.map(bc => IndexLayout.compactVersioned(spark, path,
        "postings", Some(bc))) ++
      flats.map(l => IndexLayout.compactVersioned(spark, path, l, None,
        targetBytes))
    IndexManifest.pruneHistory(spark, path)
    (counts.map(_._1).sum, counts.map(_._2).sum)
  }

  /** Ingest ONE streaming micro-batch, exactly-once per epoch WITH
    * crash self-healing (driver-side manifest commits only — zero
    * metadata Spark jobs):
    *
    *  1. a batch whose `epochId` is ≤ the committed epoch is SKIPPED
    *     (foreachBatch re-delivers committed batches after a restart —
    *     without the guard every replay double-counts its facts);
    *  2. `pending_epoch = epochId` commits BEFORE the mutation, so a
    *     replay can detect the half-committed case: if the incoming
    *     epoch equals the recorded pending epoch, a previous attempt
    *     may have died after appending facts but before committing —
    *     the replay routes through [[upsert]], whose fresh-generation
    *     tombstones kill the partial facts (generations are reserved
    *     before facts are written, so the replay's is strictly
    *     higher). Append mode therefore self-heals too;
    *  3. `epoch = epochId` commits AFTER the mutation — the batch is
    *     now exactly-once durable.
    *
    * A micro-batch thus costs 4 manifest commits (pending_epoch,
    * reserve, publish, epoch). Folding the epoch moves into the
    * reserve/publish commits was measured and DECLINED (PLANS.md,
    * "Manifest commit cadence"): one commit costs 2.3–4.8 ms on a
    * populated layout, ~0.8% of even a 1-doc micro-batch, and pin
    * aging is solved directly by per-index retention
    * ([[IndexManifest.setRetention]]).
    *
    * `upsert = true` is the crawler shape: a stream mixing new ids and
    * re-crawls of known ids goes through [[upsert]] per batch.
    * @return true if the batch was ingested, false if skipped. */
  def ingestBatch(path: String, batch: DataFrame, epochId: Long,
      upsert: Boolean = false): Boolean = {
    val spark = batch.sparkSession
    val m0 = IndexManifest.latest(spark, path)
    if (epochId <= m0.epoch) false
    else {
      val suspectReplay = m0.pendingEpoch == epochId
      // commutable commits ride the retrying CAS (commitWith): a lost
      // race re-derives against the winner's snapshot — the epoch
      // fields are this batch's own, so the merge is trivial
      IndexManifest.commitWith(spark, path, _.copy(pendingEpoch = epochId))
      if (upsert || suspectReplay) this.upsert(path, batch)
      else append(path, batch)
      // the mutation committed its own reservation and publish —
      // commitWith re-reads, so the epoch commit carries them forward
      IndexManifest.commitWith(spark, path,
        _.copy(epoch = epochId, pendingEpoch = -1L))
      true
    }
  }
}

object IndexFamily {

  /** The index's max committed streaming epoch (−1 when nothing has
    * been ingested) — the same for every family: an [[IndexManifest]]
    * field, a driver-side FS read. */
  def committedEpoch(spark: SparkSession, path: String): Long =
    IndexManifest.latest(spark, path).epoch
}
