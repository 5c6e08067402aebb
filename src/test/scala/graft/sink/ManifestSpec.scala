package graft.sink

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The manifest-pointer snapshot layer ([[IndexManifest]]): rewrites
  * must be INVISIBLE to readers — at every step of a purge
  * (build / commit / GC) and at every simulated crash point, a read
  * must succeed and see exactly the pre- or post-rewrite snapshot,
  * never a missing or half-swapped tree. The per-family lifecycle laws
  * live in RetrievalSpec/DedupSpec/SimilaritySpec; this pins the
  * snapshot mechanics.
  */
class ManifestSpec extends SparkSpec {
  import graft.operators.Retrieval

  private def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getLong(3))).sortBy(t => (t._1, t._4)).toSeq

  private def tfDocs(spark: org.apache.spark.sql.SparkSession) = {
    import spark.implicits._
    (0L until 20L).map(i => (i,
      s"common words doc$i " + (if (i % 4 == 1) "needle" else "hay")))
      .toDF("doc_id", "text")
  }

  test("purge: a read interleaved at EVERY step (pre / built / " +
      "committed / gc) succeeds and sees exactly the pre- or " +
      "post-purge snapshot") {
    import spark.implicits._
    val dir = tempDir("msnap").toString
    val queries = Seq(1 -> "needle common", 2 -> "doc7 hay")
    try {
      val docs = tfDocs(spark)
      Retrieval.writeTfIndex(docs, dir, wordBuckets = 8)
      Retrieval.tfFamily().delete(dir,
        docs.where(col("doc_id") % 4 === 1).select(col("doc_id")))
      val expected = canon(
        Retrieval.bm25TopKFromTfIndex(spark, dir, queries, 10))
      val preRows = idxDf(dir, "postings").count() // dead gens present
      var steps = List.empty[String]
      Retrieval.tfFamily().purgeTombstones(spark, dir, hook = { step =>
          steps ::= step
          // the QUERY answer is snapshot-invariant by design — purge
          // is logical-identity — so it must hold at every step
          assert(canon(Retrieval.bm25TopKFromTfIndex(
            spark, dir, queries, 10)) == expected, s"read failed at $step")
          // the PHYSICAL snapshot is all-old or all-new, never mixed:
          // before the commit the resolved postings still hold the
          // dead generations AND the tombstones; after, neither
          val rows = idxDf(dir, "postings").count()
          if (step == "built") {
            assert(rows == preRows, "pointer moved before commit")
            assert(idxDirExists(dir, "tombstones"),
              "tombstones vanished before the snapshot flipped")
          } else {
            assert(rows < preRows, s"purged tree not visible at $step")
            assert(!idxDirExists(dir, "tombstones"),
              s"stale tombstones still resolved at $step")
          }
        })
      assert(steps.reverse == List("built", "committed", "gc"))
      assert(canon(Retrieval.bm25TopKFromTfIndex(
        spark, dir, queries, 10)) == expected)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("purge crash points: dying before the commit leaves the OLD " +
      "snapshot fully readable; dying after the commit (before GC) " +
      "leaves the NEW one; the retry completes and GCs the garbage") {
    import spark.implicits._
    val dir = tempDir("mcrash").toString
    val queries = Seq(1 -> "needle common", 2 -> "doc7 hay")
    try {
      val docs = tfDocs(spark)
      Retrieval.writeTfIndex(docs, dir, wordBuckets = 8)
      Retrieval.tfFamily().delete(dir,
        docs.where(col("doc_id") % 4 === 1).select(col("doc_id")))
      val expected = canon(
        Retrieval.bm25TopKFromTfIndex(spark, dir, queries, 10))
      def read() = canon(
        Retrieval.bm25TopKFromTfIndex(spark, dir, queries, 10))

      // CRASH #1: after the new trees are built, before the commit.
      final class Boom extends RuntimeException("crash")
      intercept[Boom](Retrieval.tfFamily().purgeTombstones(spark, dir,
        hook = s => if (s == "built") throw new Boom))
      // the pointer never moved: reads see the OLD snapshot, whole
      assert(read() == expected)
      assert(idxDirExists(dir, "tombstones"))

      // CRASH #2 (on the retry): after the commit, before GC. The
      // retry first rebuilds the same staging names over crash #1's
      // leftovers — that must be harmless.
      intercept[Boom](Retrieval.tfFamily().purgeTombstones(spark, dir,
        hook = s => if (s == "committed") throw new Boom))
      // the pointer moved atomically: reads see the NEW snapshot
      assert(read() == expected)
      assert(!idxDirExists(dir, "tombstones"))
      // old physical trees are orphaned garbage until a GC runs
      val man = IndexManifest.read(spark, dir).get
      assert(new java.io.File(s"$dir/postings").exists(),
        "old tree should linger until GC")
      IndexLayout.gcUnreferenced(spark, dir, man)
      assert(!new java.io.File(s"$dir/postings").exists())
      assert(read() == expected)

      // a further purge is a no-op (tombstones are gone) and mutations
      // keep working against the new snapshot
      Retrieval.tfFamily().purgeTombstones(spark, dir)
      Retrieval.tfFamily().append(dir,
        Seq((100L, "needle common fresh")).toDF("doc_id", "text"))
      assert(Retrieval.bm25TopKFromTfIndex(spark, dir,
        Seq(1 -> "fresh"), 10).count() == 1)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("GRACE window: a reader thread racing live REWRITES (purge + " +
      "compactions) never fails and always sees the one true answer " +
      "(rewrites keep the previous snapshot's trees; only " +
      "two-generations-old versions are collected)") {
    import spark.implicits._
    val dir = tempDir("mrace").toString
    val queries = Seq(1 -> "needle common", 2 -> "revised fresh")
    try {
      val docs = tfDocs(spark)
      Retrieval.writeTfIndex(docs, dir, wordBuckets = 8)
      val crawl = Seq((1L, "needle revised fresh text"))
        .toDF("doc_id", "text").localCheckpoint()
      // mutate BEFORE the race so the answer is a fixpoint: purge and
      // compaction are logical-identity, so every read below must
      // return exactly this (the mutation-vs-reader race has its own
      // test — the visibility watermark makes those reader-atomic too)
      Retrieval.tfFamily().upsert(dir, crawl)
      val expected = canon(
        Retrieval.bm25TopKFromTfIndex(spark, dir, queries, 10))
      @volatile var writerDone = false
      @volatile var reads = 0L
      val failure =
        new java.util.concurrent.atomic.AtomicReference[Throwable]
      val reader = new Thread(() => {
        try {
          while (!writerDone) {
            val got = canon(
              Retrieval.bm25TopKFromTfIndex(spark, dir, queries, 10))
            reads += 1
            if (got != expected)
              throw new AssertionError(s"inconsistent read: $got")
          }
        } catch { case t: Throwable => failure.set(t) }
      })
      reader.start()
      // the grace window is ONE rewrite deep (each rewrite keeps its
      // predecessor's trees) — so between rewrites, wait until a read
      // that STARTED after the commit completed: every reader
      // operation then overlaps at most one rewrite, the contract the
      // one-generation grace covers (a serving deployment sizes its
      // grace period to reader latency the same way)
      def awaitReads(n: Long): Unit = {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (reads < n && failure.get() == null &&
            System.nanoTime() < deadline) Thread.sleep(10)
      }
      try {
        Seq[() => Unit](
          () => { Retrieval.tfFamily().compact(spark, dir); () },
          () => Retrieval.tfFamily().purgeTombstones(spark, dir),
          () => { Retrieval.tfFamily().compact(spark, dir); () },
          () => { Retrieval.tfFamily().compact(spark, dir); () }
        ).foreach { rewrite =>
          rewrite()
          awaitReads(reads + 2) // ≥1 full read born after the commit
        }
      } finally {
        writerDone = true
        reader.join(120000)
      }
      assert(failure.get() == null, s"racing reader died: " +
        s"${failure.get()}")
      assert(reads > 0, "reader never completed a read")
      // the grace window leaves exactly the PREVIOUS snapshot's trees
      // on disk; a full sweep (empty keep) collects them
      val man = IndexManifest.read(spark, dir).get
      IndexLayout.gcUnreferenced(spark, dir, man)
      val left = new java.io.File(dir).listFiles()
        .filter(_.isDirectory).map(_.getName)
        .filter(n => n == "postings" || n.startsWith("postings-v"))
      assert(left.toSeq == Seq(man.dirFor("postings")), left.toSeq)
      assert(canon(Retrieval.bm25TopKFromTfIndex(
        spark, dir, queries, 10)) == expected)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("commit mechanics: sequence strictly increases, torn temp " +
      "files are invisible, a stale-sequence double-commit is refused " +
      "(single-writer violation), history pruning keeps the tail") {
    val dir = tempDir("mmech").toString
    try {
      assert(IndexManifest.read(spark, dir).isEmpty)
      val m1 = IndexManifest.commit(spark, dir,
        IndexManifest.Fresh.copy(gen = 1L))
      assert(m1.seq == 1L)
      // a torn commit (temp file never renamed) is ignored by read
      val tmp = new java.io.File(s"$dir/_manifest/.tmp-torn")
      java.nio.file.Files.write(tmp.toPath, "gen=999\n".getBytes)
      assert(IndexManifest.read(spark, dir).get.gen == 1L)
      // two writers racing the same base sequence: second loses loudly
      IndexManifest.commit(spark, dir, m1.copy(gen = 2L))
      intercept[IllegalArgumentException](
        IndexManifest.commit(spark, dir, m1.copy(gen = 3L)))
      assert(IndexManifest.read(spark, dir).get.gen == 2L)
      // history pruning keeps the newest files (and drops torn temps)
      var m = IndexManifest.read(spark, dir).get
      (3L to 20L).foreach { g =>
        m = IndexManifest.commit(spark, dir, m.copy(gen = g))
      }
      IndexManifest.pruneHistory(spark, dir)
      val left = new java.io.File(s"$dir/_manifest").listFiles()
      assert(left.count(_.getName.startsWith("m-")) ==
        IndexManifest.HistoryKeep)
      assert(!left.exists(_.getName.startsWith(".tmp-")))
      assert(IndexManifest.read(spark, dir).get.gen == 20L)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("READER-ATOMIC mutations: a reader thread racing live UPSERTS " +
      "and DELETES always sees exactly a pre- or post-mutation " +
      "snapshot — never a torn one (the visibility watermark: an " +
      "upsert's tombstone and fact appends flip visible in ONE " +
      "publish commit)") {
    import spark.implicits._
    val dir = tempDir("mmut").toString
    try {
      // twin docs 101/102 always carry IDENTICAL text of constant
      // length, alternating tf("pair") between revisions (2 vs 1), so
      // in EVERY committed snapshot the query "pair" returns exactly
      // both twins with EQUAL scores (same tf, same dl, same corpus
      // stats) — or, mid-delete-cycle, neither. A torn read can't
      // satisfy that: between an upsert's tombstones and facts the
      // twins vanish mid-upsert; between its postings and dl appends
      // the stats skew; between the two fact FILES of one append only
      // one twin updates, and mixed revisions give tf 2 vs 1 at the
      // same dl — unequal scores
      def twins(k: Int) = Seq(
        (101L, if (k % 2 == 0) "pair pair padx" else "pair solo padx"),
        (102L, if (k % 2 == 0) "pair pair padx" else "pair solo padx"))
        .toDF("doc_id", "text")
      val filler = (0L until 10L)
        .map(i => (i, s"base filler doc$i")).toDF("doc_id", "text")
      Retrieval.writeTfIndex(filler.union(twins(0)), dir,
        wordBuckets = 8)
      @volatile var writerDone = false
      @volatile var reads = 0L
      val failure =
        new java.util.concurrent.atomic.AtomicReference[Throwable]
      val reader = new Thread(() => {
        try {
          while (!writerDone && failure.get() == null) {
            val rows = Retrieval.bm25TopKFromTfIndex(spark, dir,
              Seq(1 -> "pair"), 10).collect()
            reads += 1
            if (rows.length != 0 && rows.length != 2)
              throw new AssertionError(
                s"torn read: ${rows.length} twins visible")
            if (rows.length == 2 &&
                rows(0).getDouble(2) != rows(1).getDouble(2))
              throw new AssertionError("torn read: twin scores " +
                s"diverge (${rows(0)} vs ${rows(1)}) — mixed revisions")
          }
        } catch { case t: Throwable => failure.set(t) }
      })
      reader.start()
      try {
        (1 to 4).foreach { k =>
          Retrieval.tfFamily().upsert(dir, twins(k).localCheckpoint())
        }
        // a delete + resurrecting upsert: valid snapshots are 0 or 2
        // twins, never 1
        Retrieval.tfFamily().delete(dir,
          Seq(101L, 102L).toDF("doc_id"))
        Retrieval.tfFamily().upsert(dir, twins(5).localCheckpoint())
      } finally {
        writerDone = true
        reader.join(120000)
      }
      assert(failure.get() == null,
        s"racing reader died: ${failure.get()}")
      assert(reads > 0, "reader never completed a read")
      // final state: the k=5 revision serves, published and whole
      val fin = Retrieval.bm25TopKFromTfIndex(spark, dir,
        Seq(1 -> "solo"), 10).collect()
      assert(fin.map(_.getLong(1)).toSet == Set(101L, 102L))
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("publish-after-write: rows at a reserved-but-unpublished " +
      "generation are INVISIBLE — tombstones and facts alike — and " +
      "the publish commit flips the whole mutation visible at once") {
    import spark.implicits._
    val dir = tempDir("mpub").toString
    val queries = Seq(1 -> "needle stale", 2 -> "revised fresh")
    try {
      val docs = Seq((0L, "common base corpus"),
        (1L, "needle stale text")).toDF("doc_id", "text")
      Retrieval.writeTfIndex(docs, dir, wordBuckets = 8)
      val before = canon(Retrieval.bm25TopKFromTfIndex(
        spark, dir, queries, 10))
      // an upsert's writes, without its publish (the crash window)
      val crawl = Seq((1L, "needle revised fresh text"))
        .toDF("doc_id", "text")
      val g = IndexLayout.reserveGen(spark, dir)
      IndexLayout.appendTombstones(crawl.select(col("doc_id")), dir,
        "doc_id", g)
      Retrieval.tfFamily().appendFacts(dir, crawl, g)
      // readers still see EXACTLY the pre-mutation snapshot: the
      // unpublished tombstones don't delete doc 1, the unpublished
      // facts don't serve
      assert(canon(Retrieval.bm25TopKFromTfIndex(
        spark, dir, queries, 10)) == before,
        "unpublished mutation leaked into a read")
      assert(Retrieval.bm25TopKFromTfIndex(spark, dir,
        Seq(1 -> "revised"), 10).count() == 0)
      // one publish commit flips tombstones AND facts together
      IndexLayout.publishGen(spark, dir, g)
      assert(Retrieval.bm25TopKFromTfIndex(spark, dir,
        Seq(1 -> "revised"), 10).count() == 1)
      assert(Retrieval.bm25TopKFromTfIndex(spark, dir,
        Seq(1 -> "stale"), 10).count() == 0)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("commit races: concurrent commutable committers all land with " +
      "DISTINCT generations (commitWith re-derives and retries); a " +
      "stale direct commit loses LOUDLY even on the local filesystem " +
      "(atomic create-if-absent claim, not rename-clobber)") {
    val dir = tempDir("mcas").toString
    try {
      val threads = 4
      val perThread = 5
      val gens = java.util.Collections.newSetFromMap(
        new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Boolean])
      val barrier = new java.util.concurrent.CyclicBarrier(threads)
      val failure =
        new java.util.concurrent.atomic.AtomicReference[Throwable]
      val ts = (1 to threads).map { _ =>
        new Thread(() => {
          try {
            barrier.await()
            (1 to perThread).foreach { _ =>
              val g = IndexLayout.reserveGen(spark, dir)
              if (!gens.add(g))
                throw new AssertionError(s"generation $g issued twice")
            }
          } catch { case t: Throwable => failure.set(t) }
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join(120000))
      assert(failure.get() == null, s"racer died: ${failure.get()}")
      assert(gens.size == threads * perThread)
      val m = IndexManifest.read(spark, dir).get
      assert(m.gen == threads * perThread)
      // direct (non-retrying) commit from a stale snapshot: the claim
      // finds the sequence taken and fails loudly — the typed race
      // exception, on RawLocalFileSystem where rename would clobber
      val stale = m.copy(seq = m.seq - 1)
      intercept[ManifestCommitRaceException](
        IndexManifest.commit(spark, dir, stale.copy(gen = 999L)))
      assert(IndexManifest.read(spark, dir).get.gen ==
        threads * perThread)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("dir-pointer commit race: two rewriters racing the same index " +
      "— exactly one wins; the loser aborts CLEANLY (pointer " +
      "unmoved for it, its staged trees deleted) and a rerun " +
      "succeeds against the winner's snapshot") {
    import spark.implicits._
    val dir = tempDir("mdirrace").toString
    try {
      Seq((1L, 10L), (2L, 20L)).toDF("doc_id", "n")
        .write.parquet(s"$dir/docs")
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val results = new java.util.concurrent.ConcurrentHashMap[
        Int, Either[Throwable, IndexManifest]]
      def rewriter(i: Int) = new Thread(() => {
        val r = try Right(IndexLayout.commitVersions(spark, dir, Seq(
          "docs" -> ((st: String) => {
            // both attempts have read the SAME base snapshot and
            // staged their trees before either commits
            barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
            Seq((1L, 10L), (2L, 20L), (i.toLong + 100L, 1L))
              .toDF("doc_id", "n").write.parquet(st)
          }))))
        catch { case t: Throwable => Left(t) }
        results.put(i, r)
      })
      val ts = Seq(rewriter(1), rewriter(2))
      ts.foreach(_.start()); ts.foreach(_.join(120000))
      val (wins, losses) = (1 to 2).map(results.get)
        .partition(_.isRight)
      assert(wins.size == 1 && losses.size == 1,
        s"expected exactly one winner: $results")
      val raceErr = losses.head.swap.toOption.get
      assert(raceErr.isInstanceOf[ManifestCommitRaceException],
        s"loser threw the wrong type: $raceErr")
      assert(raceErr.getMessage.contains("aborted CLEANLY"))
      // the committed pointer resolves to the WINNER's tree, whole
      val m = IndexManifest.read(spark, dir).get
      val served = spark.read.parquet(s"$dir/${m.dirFor("docs")}")
      assert(served.count() == 3)
      // loser's staging is gone: only the winner's version + the
      // original plain dir (grace) remain
      val vdirs = new java.io.File(dir).listFiles()
        .filter(_.isDirectory).map(_.getName)
        .filter(_.startsWith("docs-v"))
      assert(vdirs.toSeq == Seq(m.dirFor("docs")), vdirs.toSeq)
      // a rerun of the losing rewrite succeeds against the new state
      val m2 = IndexLayout.commitVersions(spark, dir, Seq(
        "docs" -> ((st: String) =>
          spark.read.parquet(s"$dir/${m.dirFor("docs")}")
            .write.parquet(st))))
      assert(m2.seq == m.seq + 1)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("torn-claim recovery: a crashed committer's unsealed claim " +
      "older than the grace is moved aside and its sequence reclaimed; " +
      "a YOUNG unsealed claim (in-flight writer) makes a racer lose, " +
      "not recover; pruneHistory sweeps the recovered torn files") {
    val dir = tempDir("mtorn").toString
    try {
      val m1 = IndexManifest.commit(spark, dir,
        IndexManifest.Fresh.copy(gen = 1L))
      // a crashed committer claimed m-2 but died mid-write (len seal
      // does not match the body) — stale mtime says it's abandoned
      val torn = new java.io.File(
        s"$dir/_manifest/m-${"%020d".format(2)}")
      java.nio.file.Files.write(torn.toPath, "len=999\ngen=7\n".getBytes)
      assert(torn.setLastModified(
        System.currentTimeMillis() - 10 * 60 * 1000))
      // readers skip the torn file
      assert(IndexManifest.read(spark, dir).get.gen == 1L)
      // the next commit reclaims sequence 2
      val m2 = IndexManifest.commit(spark, dir, m1.copy(gen = 2L))
      assert(m2.seq == 2L)
      assert(IndexManifest.read(spark, dir).get.gen == 2L)
      // a YOUNG unsealed claim is an in-flight writer: lose loudly
      val young = new java.io.File(
        s"$dir/_manifest/m-${"%020d".format(3)}")
      java.nio.file.Files.write(young.toPath, "len=999\ngen=8\n".getBytes)
      intercept[ManifestCommitRaceException](
        IndexManifest.commit(spark, dir, m2.copy(gen = 3L)))
      assert(young.delete())
      // the recovered torn file was moved aside; pruneHistory sweeps it
      val aside = new java.io.File(s"$dir/_manifest").listFiles()
        .filter(_.getName.startsWith(".torn-"))
      assert(aside.length == 1)
      IndexManifest.pruneHistory(spark, dir)
      assert(!new java.io.File(s"$dir/_manifest").listFiles()
        .exists(_.getName.startsWith(".torn-")))
      assert(IndexManifest.read(spark, dir).get.gen == 2L)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("manifest parse fuzz: arbitrary torn/garbage bytes in m-files " +
      "never throw and never serve — readers fall back to the newest " +
      "SEALED snapshot") {
    val dir = tempDir("mfuzz").toString
    try {
      val m1 = IndexManifest.commit(spark, dir,
        IndexManifest.Fresh.copy(gen = 5L, visibleGen = 5L))
      val good = IndexManifest.read(spark, dir).get
      assert(good.gen == 5L && good.visibleGen == 5L)
      val rnd = new scala.util.Random(42)
      val payloads: Seq[Array[Byte]] = Seq(
        Array.empty[Byte],
        "len=".getBytes,
        "len=\n".getBytes,
        "len=999\n".getBytes,
        "len=3\ngen=99\n".getBytes, // seal shorter than body
        "len=7\ngen=9".getBytes, // seal longer than body
        "len=abc\ngen=9\n".getBytes,
        "len=-1\ngen=9\n".getBytes,
        " ".getBytes("ISO-8859-1"),
        ("len=" + Long.MaxValue + "\ngen=9\n").getBytes
      ) ++ (1 to 20).map { _ =>
        val b = new Array[Byte](rnd.nextInt(64))
        rnd.nextBytes(b); b
      }
      payloads.zipWithIndex.foreach { case (bytes, i) =>
        val f = new java.io.File(
          s"$dir/_manifest/m-${"%020d".format(100 + i)}")
        java.nio.file.Files.write(f.toPath, bytes)
        // read never throws; a torn higher-sequence file never serves
        val got = IndexManifest.read(spark, dir).get
        assert(got.gen == 5L && got.seq == m1.seq,
          s"torn payload $i served: $got")
        assert(f.delete())
      }
      // a complete render WITHOUT the `len=` seal (the pre-seal on-disk
      // format) is ignored like any other torn file
      val headerless = new java.io.File(
        s"$dir/_manifest/m-${"%020d".format(150)}")
      java.nio.file.Files.write(headerless.toPath,
        "gen=9\nvisible_gen=9\nepoch=3\npending_epoch=-1\n".getBytes)
      assert(IndexManifest.read(spark, dir).get.seq == m1.seq)
      assert(headerless.delete())
      // history and readAt survive garbage too
      val junk = new java.io.File(
        s"$dir/_manifest/m-${"%020d".format(200)}")
      java.nio.file.Files.write(junk.toPath, "len=999\nx=1\n".getBytes)
      assert(IndexManifest.readHistory(spark, dir).map(_.seq)
        == Seq(m1.seq))
      intercept[IllegalStateException](
        IndexManifest.readAt(spark, dir, 200L))
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("reserve-before-write: a mutation that crashed after writing " +
      "facts at its reserved generation is KILLED by the replay's " +
      "tombstones — upsert replay ≡ upsert once") {
    import spark.implicits._
    val dir = tempDir("mres").toString
    val queries = Seq(1 -> "needle common", 2 -> "revised fresh")
    try {
      val docs = Seq((0L, "common base corpus"),
        (1L, "needle stale text")).toDF("doc_id", "text")
      Retrieval.writeTfIndex(docs, dir, wordBuckets = 8)
      val crawl = Seq((1L, "needle revised fresh text"))
        .toDF("doc_id", "text")
      // simulate a TF upsert dying AFTER its fact append (the last
      // step) — generation reserved, tombstones written, facts written
      val g = IndexLayout.reserveGen(spark, dir)
      IndexLayout.appendTombstones(crawl.select(col("doc_id")), dir,
        "doc_id", g)
      Retrieval.tfFamily().appendFacts(dir, crawl, g)
      // the replay reserves g+1: its tombstones kill the crashed
      // attempt's facts, so the state ≡ a single clean upsert
      Retrieval.tfFamily().upsert(dir, crawl)
      val got = canon(Retrieval.bm25TopKFromTfIndex(
        spark, dir, queries, 10))
      val cleanDir = tempDir("mres2").toString
      try {
        Retrieval.writeTfIndex(docs, cleanDir, wordBuckets = 8)
        Retrieval.tfFamily().upsert(cleanDir, crawl)
        assert(got == canon(Retrieval.bm25TopKFromTfIndex(
          spark, cleanDir, queries, 10)),
          "crashed-then-replayed upsert diverged from a clean upsert")
      } finally org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(cleanDir))
      assert(Retrieval.bm25TopKFromTfIndex(
        spark, dir, Seq(1 -> "stale"), 10).count() == 0)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("configurable retention: pruneHistory honors the manifest's " +
      "retain_commits and retain_ms (age by the filesystem's clock), " +
      "the listing stays O(retention), and the fields round-trip " +
      "through unrelated commits") {
    val dir = tempDir("mret").toString
    def mFiles() = new java.io.File(s"$dir/_manifest").listFiles()
      .count(_.getName.matches("m-\\d{20}"))
    try {
      IndexManifest.setRetention(spark, dir, commits = 2,
        ms = 10 * 60 * 1000L)
      (1 to 12).foreach(_ => IndexLayout.reserveGen(spark, dir))
      // age retention: every commit is younger than 10 minutes, so
      // ALL of them survive a prune even though commits = 2
      IndexManifest.pruneHistory(spark, dir)
      assert(mFiles() == 13, s"age-retained files pruned: ${mFiles()}")
      // unrelated commutable commits must carry the fields forward
      val m = IndexManifest.read(spark, dir).get
      assert(m.retainCommits == 2 && m.retainMs == 10 * 60 * 1000L)
      // drop the age bound: only the newest 2 commits survive
      IndexManifest.setRetention(spark, dir, commits = 2)
      IndexManifest.pruneHistory(spark, dir)
      assert(mFiles() == 2, s"count-retention kept ${mFiles()}")
      assert(IndexManifest.read(spark, dir).get.gen == 12L)
      // default retention (no setRetention) remains HistoryKeep
      val dir2 = tempDir("mret2")
        .toString
      try {
        (1 to IndexManifest.HistoryKeep + 5).foreach(_ =>
          IndexLayout.reserveGen(spark, dir2))
        IndexManifest.pruneHistory(spark, dir2)
        assert(new java.io.File(s"$dir2/_manifest").listFiles()
          .count(_.getName.matches("m-\\d{20}")) ==
          IndexManifest.HistoryKeep)
      } finally org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(dir2))
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }
}
