package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** A manifest commit lost a race to a concurrent committer: the
  * sequence number it tried to claim was taken by a SEALED commit, or
  * its own in-flight file was adjudged torn and recovered over. The
  * pointer never moved for the loser — its view of the tree is
  * unchanged, its staged artifacts are garbage ([[IndexLayout]]'s
  * dir-pointer entry points delete them before rethrowing), and the
  * operation is safe to rerun against the fresh snapshot. Commutable
  * commits (generation reserve, visibility publish, epoch moves)
  * should go through [[IndexManifest.commitWith]], which absorbs the
  * race by re-deriving against the winner's snapshot and retrying.
  * Extends IllegalArgumentException so callers that treated the old
  * single-writer `require` failure as such keep working. */
final class ManifestCommitRaceException(msg: String)
  extends IllegalArgumentException(msg)

/** One atomic commit marker per persisted-index mutation — the
  * manifest-pointer snapshot layer under every index layout
  * (TF/shingle/fingerprint/IVF-PQ).
  *
  * Problem it solves (three faces of the same race):
  *
  *  1. ''Rewrites must be invisible to readers.'' A purge/compaction
  *     that swaps `path/postings` in place has a window where the tree
  *     simply does not exist; concurrent reads fail, and a crash in the
  *     window takes reads down until a self-heal runs. Here a rewrite
  *     builds a new version BESIDE the live tree and commits by one
  *     atomic pointer write; readers resolve the pointer first and see
  *     exactly the pre- or post-rewrite snapshot, never a missing or
  *     half-swapped tree. Old versions are garbage-collected after the
  *     commit ([[IndexLayout.gcUnreferenced]] — inline in the batch
  *     entry points; a serving deployment schedules it after a grace
  *     period so in-flight readers drain first).
  *  2. ''Mutations must be invisible until published.'' An upsert is
  *     two parquet appends (tombstones, then facts) and parquet
  *     appends are not atomic — a reader between them would see the
  *     doc deleted. The `visibleGen` field closes that window: facts
  *     and tombstones carry the generation that wrote them, readers
  *     keep only rows at `gen <= visibleGen` / `below_gen <=
  *     visibleGen` ([[IndexLayout.visibleFacts]] /
  *     [[IndexLayout.tombstoneFloor]]), and a mutation publishes by
  *     bumping `visibleGen` in ONE commit AFTER all its rows landed
  *     ([[IndexLayout.publishGen]]). Every read therefore sees exactly
  *     a pre- or post-mutation snapshot. A crash before the publish
  *     leaves invisible partial rows that the replay's
  *     fresher-generation tombstones kill.
  *  3. ''Metadata moves must not launch Spark jobs.'' The generation
  *     counter and the streaming ingest epoch were append-only parquet
  *     logs — 2–3 driver-side Spark jobs per mutation just to move one
  *     long. They are fields of this manifest, read and written
  *     through the Hadoop FS API with zero jobs.
  *
  * Commit protocol (the Iceberg/Delta idea reduced to a single file):
  * the state is a tiny text file under `path/_manifest/`, named
  * `m-<seq>` with a zero-padded, strictly increasing sequence number.
  * The first line is a `len=<bytes>` seal over the `key=value` body
  * that follows — a file whose body does not match its seal (or that
  * has no seal) is a torn write and is IGNORED by readers. `read` =
  * list the directory, parse the highest-numbered SEALED file.
  * `commit` = claim the next sequence number with an atomic
  * create-if-absent (`File.createNewFile` on local filesystems —
  * POSIX `rename` silently replaces an existing target, so the old
  * temp-write + rename protocol could NOT detect a race there; HDFS
  * creates are atomic at the namenode), write the sealed content into
  * the claimed file, then read it back. A lost race fails loudly with
  * [[ManifestCommitRaceException]] on every filesystem: either the
  * claim finds the name taken, or the read-back finds someone
  * recovered over an in-flight write. Single WRITER remains the
  * recommended contract; concurrent READERS are first-class, and a
  * racing second writer now loses cleanly instead of corrupting:
  * commutable commits retry via [[commitWith]], dir-pointer rewrites
  * abort with their staging deleted. The one write surface the
  * manifest cannot arbitrate is two mutations FACT-APPENDING into the
  * same parquet directory concurrently (Spark append jobs share the
  * directory's `_temporary` staging, so one job's cleanup can eat the
  * other's pending task files — a Spark-layer hazard, not a commit
  * race): run one mutator per index at a time; the streaming sinks
  * serialize this per micro-batch by construction.
  *
  * Fields: `gen` is the highest RESERVED generation — reserved BEFORE
  * any tombstone/fact write, so a replayed mutation always computes a
  * fresh generation and its tombstones kill a crashed predecessor's
  * partial facts (the at-least-once self-heal). `visibleGen` is the
  * highest PUBLISHED generation — the reader-visibility watermark
  * (face 2 above).
  * `epoch` is the highest COMMITTED streaming ingest epoch;
  * `pendingEpoch` marks an epoch whose fact write may be in flight,
  * letting a replay detect the half-committed case and route through
  * the self-healing upsert path ([[IndexFamily.ingestBatch]]).
  * `dirs` maps logical subtree names
  * (`postings`, `docs`, `codes`, `tombstones`, …) to their current
  * physical directory name; unlisted names resolve to themselves (the
  * plain layout a build writes). `params` holds the build parameters
  * the family's appends and reads need (`n_buckets`, `shingle_n`, `k`,
  * `w`, `dims`, `m`); the build's own commit writes them, and every
  * later commit carries them forward.
  *
  * A path with no committed manifest is an unbuilt index or a build
  * that crashed before its commit: [[latest]] rejects it, naming the
  * path, and so does every reader and mutation.
  *
  * Snapshot pinning: any retained manifest ([[readAt]]) can be handed
  * to the query entry points (`bm25TopKFromTfIndex`,
  * `jaccardPairsAgainstIndex`, `IvfPqIndex.read`) to resolve EVERY
  * subtree, generation watermark included, from one frozen snapshot —
  * time travel over exactly the history the GC grace window already
  * preserves. Reads against a pinned snapshot are bit-stable across
  * later mutations, purges and compactions until the snapshot ages out
  * of the RETENTION window, at which point [[readAt]] refuses loudly
  * rather than answering wrong. Retention is a per-index setting
  * stored IN the manifest (`retainCommits` snapshots and/or
  * `retainMs` of age — [[IndexManifest.setRetention]]): a mutation
  * costs 2 commits (reserve + publish) and a streaming micro-batch 4,
  * so a report that must stay reproducible across M interleaved
  * mutations sets `retainCommits >= 2M + 1` (or an age bound covering
  * the report's runtime) BEFORE pinning. Both [[pruneHistory]] and the
  * GC grace window derive from the same retained listing, so raising
  * retention lengthens pin lifetime and physical-tree grace together;
  * the manifest listing stays O(retainCommits).
  */
final case class IndexManifest(
    seq: Long,
    gen: Long,
    visibleGen: Long,
    epoch: Long,
    pendingEpoch: Long,
    dirs: Map[String, String],
    params: Map[String, Int] = Map.empty,
    retainCommits: Int = IndexManifest.HistoryKeep,
    retainMs: Long = 0L) {
  def dirFor(logical: String): String = dirs.getOrElse(logical, logical)
  def withDir(logical: String, physical: String): IndexManifest =
    copy(dirs = dirs + (logical -> physical))
}

object IndexManifest {

  private val MDIR = "_manifest"
  private val NamePat = "m-(\\d{20})".r

  /** DEFAULT retention: manifest files kept by [[pruneHistory]] when
    * no per-index retention was set ([[setRetention]]) — enough that a
    * reader resolving "the latest" a beat behind the writer never
    * finds its file deleted, and the default depth of the [[readAt]]
    * pinning window. Kept small by default because every retained
    * snapshot also pins its physical trees against the GC grace sweep;
    * long-lived pins should raise retention explicitly. */
  val HistoryKeep = 8

  /** An UNSEALED `m-` file younger than this is presumed to be a live
    * committer's in-flight write and is not recovered over; older, it
    * is adjudged a crashed commit whose sequence number may be
    * reclaimed (a committer takes milliseconds between claim and seal,
    * so the bound is generous by 4–5 orders of magnitude). */
  private[sink] val TornGraceMs = 60000L

  val Fresh: IndexManifest =
    IndexManifest(0L, 0L, 0L, -1L, -1L, Map.empty)

  private def fsOf(spark: SparkSession, path: String)
      : (FileSystem, Path) = {
    val p = new Path(path)
    (Parquet.fs(spark, p), p)
  }

  /** The file's body if it is SEALED (its `len=` header matches the
    * byte count that follows); None for a torn in-flight/crashed write
    * or a file with no header. */
  private def readSealed(fs: FileSystem, p: Path): Option[String] = {
    // a file listed a beat ago may have been pruned (history tail) or
    // recovered aside (torn claim) by the time we open it — absent ≡
    // unsealed, the caller falls back to the next older snapshot
    val in =
      try fs.open(p)
      catch { case _: java.io.FileNotFoundException => return None }
    val bytes =
      try org.apache.commons.io.IOUtils.toByteArray(
        in.asInstanceOf[java.io.InputStream])
      finally in.close()
    // String(bytes) replaces malformed UTF-8 instead of throwing — a
    // torn claim can be cut mid-multibyte (or be plain binary junk)
    // and must read as "unsealed", never as an exception
    val text = new String(bytes, "UTF-8")
    val nl = text.indexOf('\n')
    if (!text.startsWith("len=") || nl < 0) None
    else {
      val body = text.substring(nl + 1)
      val want = text.substring(4, nl)
      if (want.nonEmpty && want.forall(_.isDigit) &&
          body.getBytes("UTF-8").length == want.toLong) Some(body)
      else None
    }
  }

  /** Latest committed (sealed) manifest, or None when the path has
    * none. Driver-side FS listing + one tiny file read — no Spark
    * job. Readers call this (through [[latest]]) ONCE per operation
    * and resolve every subtree from the same snapshot (resolving
    * piecemeal could mix two snapshots across a concurrent commit). */
  def read(spark: SparkSession, path: String): Option[IndexManifest] = {
    val (fs, root) = fsOf(spark, path)
    val mdir = new Path(root, MDIR)
    if (!fs.exists(mdir)) None
    else {
      val names = fs.listStatus(mdir).map(_.getPath.getName)
        .collect { case n @ NamePat(_) => n }
        .sorted.reverse // zero-padded: lexicographic = numeric
      names.iterator.flatMap { n =>
        readSealed(fs, new Path(mdir, n))
          .map(t => parse(n.stripPrefix("m-").toLong, t))
      }.nextOption()
    }
  }

  /** Every RETAINED sealed manifest snapshot, newest first — the GC
    * grace window reads these: a physical dir referenced by ANY
    * retained snapshot survives, so a reader holding a snapshot up to
    * [[HistoryKeep]] commits stale still finds its files
    * ([[IndexLayout.gcWithGrace]]). */
  def readHistory(spark: SparkSession,
      path: String): Seq[IndexManifest] = {
    val (fs, root) = fsOf(spark, path)
    val mdir = new Path(root, MDIR)
    if (!fs.exists(mdir)) Seq.empty
    else fs.listStatus(mdir).map(_.getPath.getName)
      .collect { case n @ NamePat(_) => n }
      .sorted.reverse.toSeq
      .flatMap { n =>
        readSealed(fs, new Path(mdir, n))
          .map(t => parse(n.stripPrefix("m-").toLong, t))
      }
  }

  /** The RETAINED snapshot at exactly `seq` — the pinning entry point
    * (hand the result to the pinned-read query variants). Refuses
    * loudly once the snapshot has aged out of the [[HistoryKeep]]
    * window (its trees may be GC'd — answering from it could be
    * silently wrong, and a clear error beats that). */
  def readAt(spark: SparkSession, path: String,
      seq: Long): IndexManifest = {
    val (fs, root) = fsOf(spark, path)
    val p = new Path(new Path(root, MDIR), f"m-$seq%020d")
    val body =
      if (fs.exists(p)) readSealed(fs, p) else None
    body.map(t => parse(seq, t)).getOrElse {
      val retained = readHistory(spark, path).map(_.seq)
      throw new IllegalStateException(
        s"manifest snapshot m-$seq of $path is not retained" +
          retained.reduceOption((a, b) => math.max(a, b))
            .map(hi => s" (retained: ${retained.min}..$hi)")
            .getOrElse(" (no snapshots exist)") +
          " — it aged out of the retention window or never sealed;" +
          " re-pin from the current manifest (and raise the window" +
          " with setRetention BEFORE pinning if the pin must outlive" +
          " more mutations)")
    }
  }

  /** The latest committed snapshot of a BUILT index — what every
    * reader resolves when the caller pins nothing, what every mutation
    * starts from, and what a caller holds as a pin for later [[readAt]]
    * / pinned-read use (it is a retained history entry, so the GC grace
    * window keeps its trees alive through the next [[HistoryKeep]]
    * rewrites). A path with no committed manifest is an unbuilt index
    * or a build that crashed before its commit, and is rejected. */
  def latest(spark: SparkSession, path: String): IndexManifest =
    read(spark, path).getOrElse(throw new IllegalStateException(
      s"$path has no committed index manifest — it was never built, " +
        "or its build crashed before committing; rebuild it"))

  private def parse(seq: Long, text: String): IndexManifest = {
    val kv = text.linesIterator.filter(_.contains('=')).map { l =>
      val i = l.indexOf('=')
      (l.substring(0, i), l.substring(i + 1))
    }.toMap
    def prefixed(p: String) = kv.collect { case (k, v)
      if k.startsWith(p) => (k.stripPrefix(p), v) }
    IndexManifest(seq,
      kv("gen").toLong,
      kv("visible_gen").toLong,
      kv("epoch").toLong,
      kv("pending_epoch").toLong,
      prefixed("dir."),
      prefixed("param.").map { case (k, v) => (k, v.toInt) },
      kv.get("retain_commits").map(_.toInt).getOrElse(HistoryKeep),
      kv.get("retain_ms").map(_.toLong).getOrElse(0L))
  }

  private def render(m: IndexManifest): String =
    (Seq(s"gen=${m.gen}", s"visible_gen=${m.visibleGen}",
      s"epoch=${m.epoch}", s"pending_epoch=${m.pendingEpoch}") ++
      (if (m.retainCommits != HistoryKeep)
        Seq(s"retain_commits=${m.retainCommits}") else Nil) ++
      (if (m.retainMs != 0L) Seq(s"retain_ms=${m.retainMs}") else Nil) ++
      m.dirs.toSeq.sorted.map { case (k, v) => s"dir.$k=$v" } ++
      m.params.toSeq.sorted.map { case (k, v) => s"param.$k=$v" })
      .mkString("", "\n", "\n")

  /** Set this index's PIN/GC retention, carried in the manifest
    * itself: [[pruneHistory]] keeps the newest `commits` snapshots
    * plus (when `ms > 0`) every snapshot younger than `ms` — measured
    * by the FILESYSTEM's clock, the one that stamped the files — and
    * the GC grace window ([[IndexLayout.gcWithGrace]]) keeps every
    * physical tree a retained snapshot references, so both the pin
    * lifetime and the stale-reader grace lengthen together. Sizing: a
    * mutation costs 2 commits (reserve + publish), a streaming
    * micro-batch 4 — a pin that must survive M interleaved mutations
    * needs `commits >= 2M + 1`; a report of bounded runtime can set an
    * age bound instead and leave `commits` small. Lowering retention
    * BELOW the default narrows the stale-reader grace window too (a
    * reader resolving "the latest" a beat behind the writer depends
    * on the same retained listing) — keep `commits >= ` the default
    * unless the age bound covers the gap. Commutable
    * (last-set-wins), so it rides the retrying [[commitWith]]. */
  def setRetention(spark: SparkSession, path: String,
      commits: Int = HistoryKeep, ms: Long = 0L): IndexManifest = {
    require(commits >= 1, "retention must keep at least one commit")
    commitWith(spark, path,
      _.copy(retainCommits = commits, retainMs = ms))
  }

  /** "Now" by the FILESYSTEM's own clock: the mtime of a just-created
    * probe file. Torn-claim age (and age-based retention) must be
    * measured against the clock that stamped the claim's mtime — on a
    * shared filesystem (NFS mount, HDFS namenode) the driver's
    * `System.currentTimeMillis()` can be skewed against the server
    * clock, which would eat into or invert the [[TornGraceMs]] window
    * (a live in-flight claim adjudged crashed, or a dead one blocking
    * commits). Only paid on the rare unsealed-claim / age-retention
    * paths, never per commit. */
  private def fsNow(fs: FileSystem, mdir: Path): Long = {
    val probe = new Path(mdir, s".clock-${java.util.UUID.randomUUID}")
    try {
      fs.create(probe, true).close()
      fs.getFileStatus(probe).getModificationTime
    } finally {
      try { fs.delete(probe, false); () }
      catch { case _: java.io.IOException => () }
    }
  }

  /** Atomically claim `target` with create-if-absent and write
    * `content` into it. False = the name was already taken (a race).
    * Local filesystems go through `FileChannel.open(CREATE_NEW,
    * WRITE)` — the one POSIX primitive that makes the claim atomic
    * (both Hadoop local `create` and `rename` silently clobber an
    * existing target) AND hands back the handle the bytes go through.
    * One handle matters: a claim-then-reopen-by-path pair
    * (`createNewFile` + `new FileOutputStream(path)`) has a stall
    * hole — a committer paused past [[TornGraceMs]] between the two
    * calls would re-create/truncate BY PATH, so if a racer had
    * adjudged the empty claim torn, renamed it aside and sealed its
    * own commit at the name, the stalled writer silently destroyed
    * the racer's acknowledged commit (and its read-back passed on its
    * own bytes). With one handle the stalled writer's bytes follow
    * the renamed-aside inode, and the path-based read-back then sees
    * the racer's content and fails loudly — the contract HDFS gives
    * naturally (its open stream follows the renamed inode too).
    * Everything non-local uses the filesystem's own atomic
    * `create(overwrite=false)` (HDFS: atomic at the namenode), which
    * is already a single claim+write handle. */
  private def claimAndWrite(fs: FileSystem, target: Path,
      content: String): Boolean = {
    val bytes = content.getBytes("UTF-8")
    if (fs.getScheme == "file") {
      val ch =
        try java.nio.channels.FileChannel.open(
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            return false
        }
      try {
        val buf = java.nio.ByteBuffer.wrap(bytes)
        while (buf.hasRemaining) ch.write(buf)
      } finally ch.close()
      true
    } else {
      val out =
        try fs.create(target, false)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException |
              _: java.nio.file.FileAlreadyExistsException => return false
        }
      try out.write(bytes) finally out.close()
      true
    }
  }

  /** Atomically commit `m` as the next snapshot (sequence `m.seq + 1`
    * — CAS semantics: the commit only lands if no one advanced the
    * sequence since `m` was read). Returns the committed manifest (seq
    * advanced). Throws [[ManifestCommitRaceException]] if the sequence
    * number was taken by a sealed commit — two writers raced, and this
    * one lost with the tree unchanged. A torn (unsealed) file older
    * than [[TornGraceMs]] at the target name is a crashed
    * predecessor's leftover: it is moved aside and the sequence number
    * reclaimed; the post-write read-back detects the converse case
    * (this writer's own in-flight file recovered over by a racer) so
    * a lost race is loud on every filesystem. */
  def commit(spark: SparkSession, path: String,
      m: IndexManifest): IndexManifest = {
    val (fs, root) = fsOf(spark, path)
    val mdir = new Path(root, MDIR)
    if (!fs.exists(mdir)) fs.mkdirs(mdir)
    val next = m.seq + 1
    val target = new Path(mdir, f"m-$next%020d")
    val body = render(m)
    def race(why: String) = throw new ManifestCommitRaceException(
      s"manifest commit of m-$next on $path lost a race ($why) — the " +
        "pointer did not move for this writer; re-read and retry " +
        "(commitWith) or rerun the operation against the new snapshot")
    // the probe below is check-then-act: a racer's torn-claim recovery
    // (or pruneHistory) can remove `target` between any two of these
    // calls. That is an ORDINARY lost race, not an error — fall
    // through to the create-if-absent claim, which is the real
    // arbiter (race() throws ManifestCommitRaceException, which is
    // NOT a FileNotFoundException, so losses stay loud).
    try {
      if (fs.exists(target)) {
        if (readSealed(fs, target).isDefined) race("sequence taken")
        else {
          val st = fs.getFileStatus(target)
          // age by the FILESYSTEM's clock (fsNow) — the clock that
          // stamped the claim's mtime; the driver's wall clock can be
          // skewed against a shared filesystem's by more than the
          // whole grace window
          if (fsNow(fs, mdir) - st.getModificationTime <= TornGraceMs)
            race("sequence claimed by an in-flight committer")
          else {
            // crashed predecessor's torn claim: move it aside (atomic
            // rename) and reclaim the sequence number
            val aside = new Path(mdir,
              s".torn-${java.util.UUID.randomUUID}")
            if (!fs.rename(target, aside))
              race("torn-claim recovery lost")
          }
        }
      }
    } catch { case _: java.io.FileNotFoundException => () }
    val sealedContent = s"len=${body.getBytes("UTF-8").length}\n$body"
    if (!claimAndWrite(fs, target, sealedContent))
      race("sequence taken")
    // read-back guard: if a racer adjudged OUR in-flight file torn and
    // recovered over it, the sealed content at the name is not ours
    if (!readSealed(fs, target).contains(body))
      race("recovered over mid-write")
    m.copy(seq = next)
  }

  /** Retrying commit for COMMUTABLE updates (generation reserve,
    * visibility publish, epoch moves — anything re-derivable from the
    * latest snapshot): read the newest manifest ([[Fresh]] on a path
    * with none yet), apply `update`, try
    * to claim the next sequence; on a lost race, re-derive against the
    * winner's snapshot and try again. Bounded — pathological
    * contention still fails loudly rather than spinning. Dir-pointer
    * swaps must NOT come through here (their staged trees were built
    * against one specific snapshot); they abort cleanly instead
    * ([[IndexLayout.commitVersions]]). */
  def commitWith(spark: SparkSession, path: String,
      update: IndexManifest => IndexManifest,
      maxAttempts: Int = 64): IndexManifest = {
    var attempt = 1
    while (true) {
      try return commit(spark, path,
        update(read(spark, path).getOrElse(Fresh)))
      catch {
        case e: ManifestCommitRaceException =>
          if (attempt >= maxAttempts) throw new
              ManifestCommitRaceException(
            s"commitWith gave up after $maxAttempts lost races on " +
              s"$path: ${e.getMessage}")
          // jittered linear backoff: N committers racing the same
          // sequence otherwise re-collide in lockstep and a straggler
          // can starve through an arbitrary run of losses
          Thread.sleep(java.util.concurrent.ThreadLocalRandom
            .current().nextLong(1L + math.min(20L, attempt.toLong)))
          attempt += 1
      }
    }
    sys.error("unreachable")
  }

  /** Drop manifest files outside the index's RETENTION (plus any
    * orphaned commit temps, recovered torn claims and clock probes) —
    * the bound that keeps a year of mutations from turning `read`'s
    * directory listing into a scan. Retention comes from the LATEST
    * manifest itself ([[setRetention]]; default [[HistoryKeep]]
    * commits): the newest `retainCommits` files always survive, and
    * with `retainMs > 0` so does every committed file younger than
    * that by the filesystem's clock. Called from the index compaction
    * entry points. */
  def pruneHistory(spark: SparkSession, path: String): Unit = {
    val (fs, root) = fsOf(spark, path)
    val mdir = new Path(root, MDIR)
    if (!fs.exists(mdir)) return
    val (retainCommits, retainMs) = read(spark, path)
      .map(m => (m.retainCommits, m.retainMs))
      .getOrElse((HistoryKeep, 0L))
    val statuses = fs.listStatus(mdir)
    val committed = statuses.map(_.getPath.getName)
      .collect { case n @ NamePat(_) => n }.sorted
    val tail = committed.takeRight(math.max(1, retainCommits)).toSet
    val now = if (retainMs > 0L) fsNow(fs, mdir) else 0L
    statuses.foreach { st =>
      val n = st.getPath.getName
      val isCommit = NamePat.pattern.matcher(n).matches()
      val drop =
        if (isCommit)
          !tail.contains(n) &&
            !(retainMs > 0L &&
              now - st.getModificationTime <= retainMs)
        else n.startsWith(".tmp-") || n.startsWith(".torn-") ||
          n.startsWith(".clock-")
      if (drop) fs.delete(st.getPath, false)
    }
  }

  /** Delete the manifest directory — a FRESH BUILD over an existing
    * path resets the layout to plain (unversioned) names. */
  def reset(spark: SparkSession, path: String): Unit = {
    val (fs, root) = fsOf(spark, path)
    val mdir = new Path(root, MDIR)
    if (fs.exists(mdir)) fs.delete(mdir, true)
  }
}
