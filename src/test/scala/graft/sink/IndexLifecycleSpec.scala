package graft.sink

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The one index lifecycle ([[IndexFamily]]) run through the same
  * sequence on all four persisted families: build → append → upsert →
  * delete → CDC between two pins → purge → compact → a crashed upsert
  * replayed. After every step the family's own reader must return
  * exactly what it returns on a TWIN holding only the surviving rows
  * (for the text families a fresh build of the live corpus; for IVF-PQ
  * the live vectors encoded in memory under the seed build's frozen
  * geometry), and the surviving keys must be exactly the expected
  * ones. Purge and compaction must leave reads bit-identical, and a
  * purge of every key must leave a readable empty index that later
  * appends extend.
  */
class IndexLifecycleSpec extends SparkSpec {
  import graft.operators.{Dedup, Retrieval, Similarity}

  /** One family's row of the table.
    * @param input  the mutation frame for `(id, version)` rows
    * @param build  the family's build over an input frame
    * @param read   the family's reader: its result rows and the keys
    *               they cover
    * @param twin   the reader's expected result for a live corpus */
  private case class Row(name: String, family: IndexFamily,
      input: Seq[(Long, Int)] => DataFrame,
      build: (DataFrame, String) => Unit,
      read: String => (Set[Seq[Any]], Set[Long]),
      twin: DataFrame => (Set[Seq[Any]], Set[Long]))

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private def delete(d: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))

  /** A text family's twin: a fresh build of the live corpus, read. */
  private def rebuilt(build: (DataFrame, String) => Unit,
      read: String => (Set[Seq[Any]], Set[Long]))(
      live: DataFrame): (Set[Seq[Any]], Set[Long]) = {
    val d = tmp("lc_twin")
    try { build(live, d); read(d) } finally delete(d)
  }

  // every document shares its first 23 characters, so every pair of
  // live documents shares shingles and winnowed fingerprints — the
  // pair readers then cover every live key
  private def docs(rows: Seq[(Long, Int)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map { case (id, v) =>
      (id, s"alpha beta gamma delta doc$id version$v " +
        (if (id % 2 == 0) "even words here" else "odd words there"))
    }.toDF("doc_id", "text")
  }

  private def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def pairKeys(rows: Set[Seq[Any]]): Set[Long] =
    rows.flatMap(r =>
      Seq(r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))

  private def tfRead(d: String) = {
    val r = rowsOf(Retrieval.bm25TopKFromTfIndex(spark, d,
        Seq(1 -> "alpha", 2 -> "version1 even"), k = 100)
      .select("query_id", "doc_id", "score"))
    (r, r.map(_(1).asInstanceOf[Long]))
  }
  private def tfBuild(df: DataFrame, d: String) =
    Retrieval.writeTfIndex(df, d, wordBuckets = 4)

  private def shRead(d: String) = {
    val r = rowsOf(Dedup.jaccardPairsAgainstIndex(spark, d, 0.05,
      everyId))
    (r, pairKeys(r))
  }
  private def shBuild(df: DataFrame, d: String) =
    Dedup.writeShingleIndex(df, d, n = 3, shingleBuckets = 4)

  private def fpRead(d: String) = {
    val r = rowsOf(Dedup.substringCandidatesAgainstIndex(spark, d, 1,
      everyId))
    (r, pairKeys(r))
  }
  private def fpBuild(df: DataFrame, d: String) =
    Dedup.writeFingerprintIndex(df, d, k = 10, w = 4, fpBuckets = 4)

  /** Every id the test ever writes — the pair readers' increment. */
  private def everyId: DataFrame = {
    val s = spark
    import s.implicits._
    (0L until 20L).toDF("doc_id")
  }

  private val dims = 8
  private val m = 2
  private def vecs(rows: Seq[(Long, Int)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map { case (id, v) =>
      val sign = if (v == 1) -1 else 1
      (id, Array.tabulate(dims)(d =>
        sign * ((id * 13 + d * 7 + v * 5) % 17).toFloat))
    }.toDF("vec_id", "embedding")
  }
  private val vecSeed = (0L until 8L).map(_ -> 0)
  private def vqBuild(df: DataFrame, d: String) =
    Similarity.ivfPqIndex(df, nCells = 2, dims, m, nCentroids = 4)
      .write(d)
  private def vqRows(codes: DataFrame) = {
    val r = rowsOf(codes.select("id", "j", "code", "cell"))
    (r, r.map(_(0).asInstanceOf[Long]))
  }
  private def vqRead(d: String) =
    vqRows(Similarity.IvfPqIndex.read(spark, d).codes)
  private def vqTwin(live: DataFrame) = {
    val seedIdx = Similarity.ivfPqIndex(vecs(vecSeed), nCells = 2, dims,
      m, nCentroids = 4)
    vqRows(seedIdx.copy(codes = seedIdx.codes.limit(0))
      .append(live, dims, m).codes)
  }

  private val table = Seq(
    Row("tf", Retrieval.tfFamily(), docs, tfBuild, tfRead,
      rebuilt(tfBuild, tfRead)),
    Row("shingle", Dedup.shingleFamily(), docs, shBuild, shRead,
      rebuilt(shBuild, shRead)),
    Row("fingerprint", Dedup.fingerprintFamily(), docs, fpBuild, fpRead,
      rebuilt(fpBuild, fpRead)),
    Row("ivfpq", Similarity.ivfPqFamily(dims, m), vecs, vqBuild, vqRead,
      vqTwin))

  table.foreach { row =>
    test(s"${row.name}: build → append → upsert → delete → CDC → " +
        "purge → compact → crashed upsert replayed, reads ≡ the twin " +
        "of the surviving rows after every step") {
      val f = row.family
      val dir = tmp(s"lc_${row.name}")
      // id → version of every live row
      var live = Map.empty[Long, Int]
      def check(step: String): (Set[Seq[Any]], Set[Long]) = {
        val got = row.read(dir)
        val want = row.twin(row.input(live.toSeq.sortBy(_._1)))
        assert(got._2 == live.keySet, s"$step: live keys")
        assert(got == want, s"$step: reader ≠ twin")
        got
      }
      try {
        val seed = (0L until 8L).map(_ -> 0)
        row.build(row.input(seed), dir)
        live ++= seed
        check("build")
        val a = IndexManifest.pin(spark, dir)

        val inc = (8L until 12L).map(_ -> 0)
        f.append(dir, row.input(inc))
        live ++= inc
        check("append")

        // re-crawl of a seed id, of an appended id, and a new id
        val recrawl = Seq(2L -> 1, 9L -> 1, 12L -> 1)
        f.upsert(dir, row.input(recrawl))
        live ++= recrawl
        check("upsert")

        // a seed id, an id appended inside the window, a no-op id
        import spark.implicits._
        f.delete(dir, Seq(3L, 10L, 99L).toDF(f.idCol))
        live --= Seq(3L, 10L)
        val afterDelete = check("delete")
        val b = IndexManifest.pin(spark, dir)

        val cdc = f.changesBetween(spark, dir, a, b).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(cdc == Map(2L -> "upsert", 8L -> "upsert", 9L -> "upsert",
          11L -> "upsert", 12L -> "upsert", 3L -> "delete"))

        f.purgeTombstones(spark, dir)
        assert(!idxDirExists(dir, "tombstones"))
        assert(row.read(dir) == afterDelete, "purge changed the read")

        val (filesBefore, filesAfter) = f.compact(spark, dir)
        assert(filesAfter <= filesBefore)
        assert(row.read(dir) == afterDelete, "compaction changed the read")

        // crash window: reserve, append the facts, die before the
        // publish — readers must not see the partial upsert, and its
        // replay must heal it
        val recrawl2 = Seq(4L -> 1, 13L -> 1)
        val g = IndexLayout.reserveGen(spark, dir)
        f.appendFacts(dir, row.input(recrawl2), g)
        assert(row.read(dir) == afterDelete, "unpublished facts served")
        f.upsert(dir, row.input(recrawl2))
        live ++= recrawl2
        check("replayed upsert")
      } finally delete(dir)
    }

    test(s"${row.name}: a purge that drops every row leaves a readable " +
        "zero-row index; a later append reads back exactly its rows") {
      val f = row.family
      val dir = tmp(s"lc_empty_${row.name}")
      try {
        val seed = (0L until 4L).map(_ -> 0)
        row.build(row.input(seed), dir)
        import spark.implicits._
        f.delete(dir, seed.map(_._1).toDF(f.idCol))
        f.purgeTombstones(spark, dir)
        assert(!idxDirExists(dir, "tombstones"))
        assert(row.read(dir) == ((Set.empty, Set.empty)),
          "purged index not empty")

        val inc = (4L until 8L).map(_ -> 0)
        f.append(dir, row.input(inc))
        val got = row.read(dir)
        assert(got._2 == inc.map(_._1).toSet, "appended keys")
        assert(got == row.twin(row.input(inc)), "append after purge ≠ twin")
      } finally delete(dir)
    }
  }
}
