package graft.sink

import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import graft.{SparkSpec, Tables}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.TimestampType

/** The library's one parquet I/O path ([[Parquet]]): its writes leave
  * the permission bits and `.crc` sidecars of Hadoop's forking local
  * filesystem, its reads resolve the schema Spark infers without
  * running a job for it. */
class ParquetIoSpec extends SparkSpec {

  // ---------------------------------------------------------------
  // Writes: the NIO filesystem against Hadoop's forking path
  // ---------------------------------------------------------------

  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  private def localFs(fs: FileSystem, conf: Configuration): FileSystem = {
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Every path under `root` (relative, part-file job ids masked) with
    * its permission bits, setuid/setgid/sticky included. */
  private def modes(root: NioPath): Map[String, Int] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString
        .replaceAll("part-(\\d+)-[0-9a-f-]{36}", "part-$1") ->
        (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    }.toMap
    finally walk.close()
  }

  /** The creates and permission changes a Spark write and the index
    * commits make, plus an explicit sticky bit and a setgid parent. */
  private def exercise(fs: FileSystem, root: NioPath): Unit = {
    def p(rel: String) = new Path(root.resolve(rel).toString)
    fs.mkdirs(p("a/b"))
    fs.create(p("a/b/f")).close()
    fs.mkdirs(p("private"), octal("700"))
    fs.create(p("g"), octal("640"), true, 4096, 1.toShort, 1L << 20, null)
      .close()
    fs.mkdirs(p("shared"))
    fs.setPermission(p("shared"), octal("1777"))
    fs.mkdirs(p("group"))
    Files.setAttribute(root.resolve("group"), "unix:mode",
      Int.box(Integer.parseInt("2775", 8)))
    fs.mkdirs(p("group/sub"))
    fs.create(p("group/sub/h")).close()
    fs.setPermission(p("group/sub"), octal("750"))
  }

  test("the NIO filesystem leaves the bits of Hadoop's forking chmod, " +
      "under the session umask and a stricter one, sticky and setgid " +
      "included") {
    assume(!NativeIO.isAvailable,
      "native libhadoop loaded: Hadoop's own path does not fork here")
    val session = spark.sessionState.newHadoopConf()
    val strict = new Configuration(session)
    strict.set("fs.permissions.umask-mode", "027")
    for (conf <- Seq(session, strict)) {
      val (forked, nio) = (tempDir("pq-forked"), tempDir("pq-nio"))
      exercise(localFs(new LocalFileSystem(), conf), forked)
      exercise(localFs(new NioLocalFileSystem(), conf), nio)
      val want = modes(forked)
      assert(want("shared") == Integer.parseInt("1777", 8))
      assert((want("group/sub") & Integer.parseInt("2000", 8)) != 0,
        "the forked chmod keeps a directory's setgid bit")
      assert(want.contains("a/b/.f.crc"))
      assert(modes(nio) == want, conf.get("fs.permissions.umask-mode"))
    }
    // the driver-side filesystem is the NIO one
    assert(Parquet.fs(spark, new Path(tempDir("pq-fs").toUri))
      .asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
  }

  test("a Parquet.writer write leaves the files, .crc sidecars and bits " +
      "of a plain Spark write") {
    val df = spark.range(40).selectExpr("id", "id % 3 AS b")
    val (plain, nio) = (tempDir("pq-plain"), tempDir("pq-writer"))
    df.repartition(2).write.mode("overwrite").partitionBy("b")
      .parquet(plain.toString)
    Parquet.writer(df.repartition(2)).mode("overwrite").partitionBy("b")
      .parquet(nio.toString)
    val got = modes(nio)
    assert(got.keys.exists(k => k.startsWith("b=0/.part-") &&
      k.endsWith(".crc")), got.keys)
    assert(got == modes(plain))
    assert(Parquet.read(spark, nio.toString).orderBy("id").collect()
      .toSeq == df.orderBy("id").collect().toSeq)
  }

  // ---------------------------------------------------------------
  // Reads: the driver-resolved schema against Spark's inference
  // ---------------------------------------------------------------

  /** Names, types, nullability, metadata and order. */
  private def assertSameSchema(dir: String): Unit = {
    val inferred = spark.read.parquet(dir).schema
    assert(Parquet.read(spark, dir).schema == inferred, dir)
  }

  for (sf <- Seq("sf0.001", "sf0.01"); t <- Tables.names) {
    test(s"driver-resolved schema of $sf/$t equals Spark's inference") {
      val path = s"/root/testdata/$sf/$t.parquet"
      assume(Files.exists(java.nio.file.Paths.get(path)),
        "driver testdata not present")
      Tables.withNanosAsLong(spark)(assertSameSchema(path))
    }
  }

  /** An events file with a raw parquet `ts` column (Spark's writer
    * cannot write TIMESTAMP(NANOS)). */
  private def rawEvents(dir: NioPath, tsType: String, ts: Long): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"message events { optional int64 event_id; optional int64 ts " +
        s"($tsType); optional binary event_type (STRING); }")
    val w = ExampleParquetWriter
      .builder(new Path(dir.resolve("part-0.parquet").toUri))
      .withType(schema).withConf(spark.sessionState.newHadoopConf())
      .build()
    val rows = new SimpleGroupFactory(schema)
    try (0 until 3).foreach { i =>
      w.write(rows.newGroup().append("event_id", i.toLong)
        .append("ts", ts + i).append("event_type", s"e$i"))
    } finally w.close()
  }

  test("events in every timestamp layout: driver-resolved schema and " +
      "normalized rows equal Spark's inference") {
    val real = "/root/testdata/sf0.001/events.parquet"
    val nanos = tempDir("pq-ev-nanos")
    rawEvents(nanos, "TIMESTAMP(NANOS,false)", 1700000000000000000L)
    val micros = tempDir("pq-ev-micros")
    rawEvents(micros, "TIMESTAMP(MICROS,true)", 1700000000000000L)
    def sparkWritten(ts: String) = {
      val d = tempDir("pq-ev-spark")
      spark.range(3).selectExpr("id AS event_id", s"$ts AS ts",
          "'click' AS event_type")
        .write.mode("overwrite").parquet(d.toString)
      d
    }
    val layouts = Seq(nanos, micros,
      sparkWritten("timestamp_seconds(1700000000 + id)"),
      sparkWritten("CAST(timestamp_seconds(1700000000 + id) AS TIMESTAMP_NTZ)"))
      .map(_.toString) ++
      Seq(real).filter(p => Files.exists(java.nio.file.Paths.get(p)))
    layouts.foreach { dir =>
      def normalized(read: => DataFrame) =
        Tables.withNanosAsLong(spark)(Tables.normalizeTs(read))
      val inferred = normalized(spark.read.parquet(dir))
      val resolved = normalized(Parquet.read(spark, dir))
      Tables.withNanosAsLong(spark)(assertSameSchema(dir))
      assert(resolved.schema == inferred.schema, dir)
      assert(resolved.schema("ts").dataType == TimestampType, dir)
      assert(resolved.orderBy("event_id").collect().toSeq ==
        inferred.orderBy("event_id").collect().toSeq, dir)
    }
  }

  /** Two partition directories whose files disagree on their schema:
    * `k=1` holds `id, extra`, `k=1-x` holds `id`. By name `k=1` comes
    * first; by full path string (`-` sorts before `/`) `k=1-x` does. */
  private def disagreeingParts(): String = {
    val root = tempDir("pq-parts")
    spark.range(3).selectExpr("id", "'x' AS extra")
      .write.parquet(root.resolve("k=1").toString)
    spark.range(3).write.parquet(root.resolve("k=1-x").toString)
    root.toString
  }

  test("the footer read is the file Spark's inference reads: first by " +
      "full path string") {
    val dir = disagreeingParts()
    assertSameSchema(dir)
    assert(Parquet.read(spark, dir).schema.fieldNames.toSeq ==
      Seq("id", "k"))
  }

  test("with schema merging on in the session, the read merges as " +
      "Spark's does") {
    val root = tempDir("pq-merge")
    spark.range(3).selectExpr("id", "'x' AS extra")
      .write.parquet(root.resolve("k=1").toString)
    spark.range(3).selectExpr("id", "'y' AS other")
      .write.parquet(root.resolve("k=2").toString)
    val dir = root.toString
    val key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try {
      assertSameSchema(dir)
      // both footers count: no one file holds every column
      assert(Parquet.read(spark, dir).schema.fieldNames.toSeq.sorted ==
        Seq("extra", "id", "k", "other"))
    } finally spark.conf.unset(key)
  }

  /** Every fact tree under an index root (one per physical subtree,
    * versioned rewrites included). */
  private def assertFactTrees(root: String, step: String): Unit = {
    val trees = new java.io.File(root).listFiles()
      .filter(d => d.isDirectory && !d.getName.startsWith("_"))
    assert(trees.nonEmpty, s"$root after $step")
    trees.foreach { d =>
      withClue(s"$step: ") { assertSameSchema(d.toString) }
      val bucketed = d.listFiles().exists(_.getName.contains("="))
      if (bucketed) {
        val last = Parquet.read(spark, d.toString).schema.last.name
        assert(d.listFiles().exists(_.getName.startsWith(s"$last=")),
          s"$d: the partition column comes last")
      }
    }
  }

  private def docs(ids: Seq[Long], version: Int): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(id => (id, s"alpha beta gamma doc$id version$version"))
      .toDF("doc_id", "text")
  }

  private def vecs(ids: Seq[Long], version: Int): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(id => (id, Array.tabulate(8)(d =>
      ((id * 13 + d * 7 + version * 5) % 17).toFloat)))
      .toDF("vec_id", "embedding")
  }

  {
    import graft.operators.{Dedup, Retrieval, Similarity}
    val families = Seq[(String, IndexFamily, (Seq[Long], Int) => DataFrame,
        (DataFrame, String) => Unit)](
      ("tf", Retrieval.tfFamily(), docs,
        (df, d) => Retrieval.writeTfIndex(df, d, wordBuckets = 4)),
      ("shingle", Dedup.shingleFamily(), docs,
        (df, d) => Dedup.writeShingleIndex(df, d, n = 3, shingleBuckets = 4)),
      ("fingerprint", Dedup.fingerprintFamily(), docs,
        (df, d) => Dedup.writeFingerprintIndex(df, d, k = 10, w = 4,
          fpBuckets = 4)),
      ("ivfpq", Similarity.ivfPqFamily(), vecs,
        (df, d) => Similarity.ivfPqIndex(df, nCells = 2, dims = 8, m = 2,
          nCentroids = 4).write(d)))
    families.foreach { case (name, family, input, build) =>
      test(s"$name: every fact tree's driver-resolved schema equals " +
          "Spark's inference after build, append, upsert and purge") {
        val dir = tempDir(s"pq-$name").toString
        build(input(0L until 8L, 0), dir)
        assertFactTrees(dir, "build")
        family.append(dir, input(8L until 10L, 0))
        assertFactTrees(dir, "append")
        family.upsert(dir, input(Seq(1L, 9L), 1))
        assertFactTrees(dir, "upsert")
        family.delete(dir, input(Seq(2L, 3L), 0).select(family.idCol))
        family.purgeTombstones(spark, dir)
        assertFactTrees(dir, "purge")
        family.delete(dir, input(0L until 10L, 0).select(family.idCol))
        family.purgeTombstones(spark, dir)
        assertFactTrees(dir, "purge of every key")
      }
    }
  }

  // ---------------------------------------------------------------
  // No schema job while a plan is built
  // ---------------------------------------------------------------

  /** The parquet schema-inference jobs `body` submits: jobs whose stage
    * was created inside a `DataFrameReader.parquet` call (the call
    * site's first frame). */
  private def schemaJobs(body: => Any): Seq[String] = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.filter(_.details.linesIterator.take(1)
            .exists(_.contains("DataFrameReader.parquet")))
          .foreach(st => sites.add(st.name))
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc) }
    finally sc.removeSparkListener(listener)
    sites.asScala.toSeq
  }

  test("Tables.load, a BM25 read's plan and a TF append submit no " +
      "schema job") {
    import graft.operators.Retrieval
    val sf = "/root/testdata/sf0.001"
    assume(Files.exists(java.nio.file.Paths.get(sf)),
      "driver testdata not present")
    // the listener sees the jobs of the unchanged read path
    assert(schemaJobs(spark.read.parquet(s"$sf/region.parquet")).size == 1)
    val loads = schemaJobs(Tables.names.foreach(Tables.load(spark, sf, _)))
    val dir = tempDir("pq-jobs").toString
    Retrieval.writeTfIndex(docs(0L until 8L, 0), dir, wordBuckets = 4)
    val bm25 = schemaJobs(Retrieval.bm25TopKFromTfIndex(spark, dir,
      Seq(1 -> "alpha doc3"), k = 5))
    val append = schemaJobs(Retrieval.tfFamily().append(dir,
      docs(8L until 10L, 0)))
    assert((loads, bm25, append) == ((Nil, Nil, Nil)))
  }
}
