package graft.sink

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Range-clustered layout: per-file value ranges must be pairwise
  * disjoint, so range predicates skip whole files/row groups.
  */
class LayoutSpec extends SparkSpec {

  test("writeRangeClustered produces disjoint per-file ranges; " +
      "random layout does not") {
    import spark.implicits._
    val df = new scala.util.Random(7).shuffle((1 to 20000).toList)
      .map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val dir = tempDir("layout").toString

    Layout.writeRangeClustered(df, s"$dir/clustered", Seq("k"), 8)

    def fileRanges(path: String): Seq[(Long, Long)] =
      new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).toSeq
        .map { f =>
          val r = spark.read.parquet(f.getPath)
            .agg(min(col("k")), max(col("k"))).first()
          (r.getLong(0), r.getLong(1))
        }

    val ranges = fileRanges(s"$dir/clustered").sortBy(_._1)
    assert(ranges.size == 8)
    // disjoint: each file's min exceeds the previous file's max
    ranges.sliding(2).foreach {
      case Seq((_, prevMax), (curMin, _)) => assert(curMin > prevMax)
      case _ =>
    }
    // whole domain covered, nothing lost
    assert(ranges.head._1 == 1L && ranges.last._2 == 20000L)
    assert(spark.read.parquet(s"$dir/clustered").count() == 20000)

    // contrast: an unclustered write leaves every file spanning ~the
    // full domain (no skipping possible)
    df.repartition(8).write.parquet(s"$dir/random")
    val rr = fileRanges(s"$dir/random")
    assert(rr.forall { case (mn, mx) => mx - mn > 15000 })
  }

  test("writeZOrdered bounds per-file extents on BOTH dimensions") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // 20k independent uniform (x, y) points
    val df = (1 to 20000)
      .map(_ => (rnd.nextInt(100000).toLong, rnd.nextInt(100000).toLong))
      .toDF("x", "y")
    val dir = tempDir("zorder").toString

    def extents(path: String): Seq[(Double, Double)] =
      new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).toSeq
        .map { f =>
          val r = spark.read.parquet(f.getPath).agg(
            min(col("x")), max(col("x")), min(col("y")), max(col("y")))
            .first()
          ((r.getLong(1) - r.getLong(0)) / 100000.0,
            (r.getLong(3) - r.getLong(2)) / 100000.0)
        }

    Layout.writeZOrdered(df, s"$dir/z", "x", "y", numFiles = 16)
    val ze = extents(s"$dir/z")
    assert(ze.size == 16)
    assert(spark.read.parquet(s"$dir/z").count() == 20000)
    val zAvg = ze.map { case (a, b) => (a + b) / 2 }.sum / ze.size
    // every file covers a small 2-D rectangle: mean normalized extent
    // far below the full domain on the AVERAGE of both dims
    assert(zAvg < 0.4, s"z-order mean extent $zAvg")

    // single-column range clustering: x extents are tiny but every file
    // spans ~the whole y domain — no skipping on the second dimension
    Layout.writeRangeClustered(df, s"$dir/x_only", Seq("x"), 16)
    val xe = extents(s"$dir/x_only")
    assert(xe.map(_._2).min > 0.9)
    assert(zAvg < xe.map { case (a, b) => (a + b) / 2 }.sum / xe.size)
  }

  test("audit → layout loop closes: writeRangeClustered on l_shipdate " +
      "makes REAL parquet row-group footer stats prune a date window " +
      "that the unsorted layout cannot prune") {
    val src = new java.io.File("/root/testdata/sf0.001/lineitem.parquet")
    assume(src.exists(), "driver testdata not present")
    val li = spark.read.parquet(src.toString)
      .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"))
    val dir = tempDir("footers").toString
    // small row groups so pruning granularity is sub-file (the
    // row-group reality the 128MB default hides at this tiny SF)
    li.repartition(4).write.option("parquet.block.size", 32 * 1024)
      .parquet(s"$dir/unsorted")
    Layout.writeRangeClustered(li, s"$dir/clustered",
      Seq("l_shipdate"), 4)
    // re-write clustered with small groups too (writeRangeClustered
    // has no option hook — re-sort within partitions is preserved by
    // a straight per-partition copy)
    spark.read.parquet(s"$dir/clustered")
      .sortWithinPartitions("l_shipdate")
      .write.option("parquet.block.size", 32 * 1024)
      .parquet(s"$dir/clustered_small")

    def prunable(path: String, lo: Long, hi: Long) = {
      val stats = Layout.parquetRowGroupStatsLong(spark, path,
        "l_shipdate")
      assert(stats.nonEmpty)
      (stats.count { case (_, _, _, mn, mx) => mx < lo || mn > hi },
        stats.size)
    }
    // a ~3-week shipdate window mid-range (the column is a TIMESTAMP:
    // footer stats are int64 MICROS since epoch)
    def micros(d: String): Long =
      java.time.LocalDate.parse(d).toEpochDay * 86400L * 1000000L
    val (lo, hi) = (micros("1997-06-01"), micros("1997-06-21"))
    val (prunedC, totalC) = prunable(s"$dir/clustered_small", lo, hi)
    val (prunedU, totalU) = prunable(s"$dir/unsorted", lo, hi)
    info(s"clustered: $prunedC/$totalC pruned; unsorted: $prunedU/$totalU")
    // sub-file granularity = MORE row groups than the 4 files; the
    // exact count (7-9 here) depends on the writer's memory-pressure
    // flush points and varies under parallel suite load
    assert(totalC > 4, s"want sub-file granularity, got $totalC groups")
    assert(prunedC.toDouble / totalC >= 0.8,
      s"clustered layout pruned only $prunedC/$totalC")
    assert(prunedU == 0,
      s"unsorted layout unexpectedly prunable: $prunedU/$totalU")
    // and the layouts agree on the query itself, with the range
    // filter pushed to the scan
    val q = (p: String) => spark.read.parquet(p)
      .where(col("l_shipdate").between(
        lit("1997-06-01").cast("timestamp"),
        lit("1997-06-21").cast("timestamp")))
    assert(q(s"$dir/clustered_small").count() == q(s"$dir/unsorted").count())
    val plan = q(s"$dir/clustered_small").queryExecution.executedPlan
      .toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("l_shipdate"), plan.take(1500))
  }

  test("zoneMapAudit: value-sorted layout prunes exactly the chunks " +
    "outside the window; decorrelated layout prunes nothing") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 100 rows, chunk=10. Sorted key = v: chunk i holds v in
    // [10i+1, 10i+10]; window [15, 25] touches chunks 1 and 2 only.
    // Shuffled key (reversed bit-mixed) decorrelates v from position.
    val df = (1 to 100).map(i => (i.toLong, ((i * 37) % 101).toLong))
      .toDF("v", "kshuf")
    val sorted = Layout.zoneMapAudit(df.withColumn("k", col("v")),
      "k", "v", 10, lit(15L), lit(25L), "sorted").collect()(0)
    assert((sorted.getLong(1), sorted.getLong(2), sorted.getLong(3),
      sorted.getLong(4)) == (10L, 8L, 800000L, 20L))
    val shuf = Layout.zoneMapAudit(df, "kshuf", "v", 10,
      lit(15L), lit(25L), "shuffled").collect()(0)
    assert((shuf.getLong(1), shuf.getLong(2)) == (10L, 0L))
    assert(shuf.getLong(4) == 100L)
  }

  test("zoneMapAudit edge conventions: empty input yields an explicit " +
    "all-zero verdict; an all-NULL-stats chunk counts as SCANNED") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // empty frame: one row, every counter 0 — not Spark's
    // null-on-divide-by-zero (ADVICE r11)
    val empty = Seq.empty[(Long, Long)].toDF("k", "v")
    val e = Layout.zoneMapAudit(empty, "k", "v", 10,
      lit(15L), lit(25L), "empty").collect()(0)
    assert((e.getLong(1), e.getLong(2), e.getLong(3), e.getLong(4)) ==
      (0L, 0L, 0L, 0L), e.toString)
    // chunk 0 (k 1..10) holds only NULL values: min/max stats absent ⇒
    // a reader cannot prune it — it must count as scanned, not slip
    // out of both sums through three-valued logic
    val withNulls = (1 to 20).map(i =>
      (i.toLong, if (i <= 10) Option.empty[Long] else Option(100L)))
      .toDF("k", "v")
    val g = Layout.zoneMapAudit(withNulls, "k", "v", 10,
      lit(15L), lit(25L), "nullchunk").collect()(0)
    // chunk 1 (v=100) prunes; chunk 0 (all NULL) is scanned: 10 rows
    assert((g.getLong(1), g.getLong(2), g.getLong(4)) == (2L, 1L, 10L),
      g.toString)
  }
}
