package graft

import graft.operators.{AsOf, Lookup, Skew}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generated property tests (SURVEY.md §5): semantics that
  * must hold for ANY input, not just hand-built fixtures. Raw ScalaCheck
  * generators with fixed seeds (no scalatest bridge in the offline dep
  * set) — deterministic, 5 samples per property.
  */
class PropertiesSpec extends SparkSpec {

  private val params = Gen.Parameters.default.withSize(40)
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(params, Seed(42L + i)))

  private val kvGen: Gen[List[(Long, Int)]] =
    Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 8L), Gen.choose(-100, 100)))

  test("property: salted join ≡ plain join for any data and factor") {
    import spark.implicits._
    for (((l, r), factor) <- samples(Gen.zip(kvGen, kvGen), 5)
           .zip(Seq(1, 2, 3, 5, 8))) {
      val left = l.toDF("k", "v")
      val right = r.zipWithIndex.map { case ((k, v), i) => (k, v, i) }
        .toDF("k", "w", "i")
      val plain = left.join(right, Seq("k"))
      val salted = Skew.saltedEquiJoin(left, right, Seq("k"), factor)
      assert(salted.exceptAll(plain).count() == 0)
      assert(plain.exceptAll(salted).count() == 0)
    }
  }

  test("property: lookup enrichment keeps input cardinality; misses all-null") {
    import spark.implicits._
    for ((l, r) <- samples(Gen.zip(kvGen, kvGen), 5)) {
      val input = l.toDF("k", "v")
      val lookupDf = r.map { case (k, v) => (k, s"p$v") }
        .toDF("k", "payload")
      val enriched = Lookup(lookupDf, Seq("k")).enrich(input)
      assert(enriched.count() == input.count())
      val lookupKeys = r.map(_._1).toSet
      val misses = enriched.filter(!col("k").isInCollection(
        if (lookupKeys.isEmpty) Set(-999L) else lookupKeys))
      assert(misses.filter(col("payload").isNotNull).count() == 0)
    }
  }

  test("property: as-of join keeps left cardinality; never matches the future") {
    import spark.implicits._
    val rowsGen = Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 4L),
      Gen.choose(0L, 50L)))
    for ((l, r) <- samples(Gen.zip(rowsGen, rowsGen), 5)) {
      val left = l.zipWithIndex.map { case ((k, ts), i) => (k, ts, i) }
        .toDF("k", "ts", "lid")
      val right = r.zipWithIndex
        .map { case ((k, ts), i) => (k, ts, i * 1.0) }
        .toDF("k", "rts", "rv")
        .groupBy("k", "rts").agg(max(col("rv")).as("rv"))
        .withColumn("rts2", col("rts"))
      val out = AsOf.join(left, right, Seq("k"), "ts", "rts",
        Seq("rts2", "rv"))
      assert(out.count() == left.count())
      assert(out.filter(col("rts2") > col("ts")).count() == 0)
    }
  }

  test("property: MG candidates ⊇ keys above n/(capacity+1), any stream") {
    import spark.implicits._
    // skewed generator: small key range so heavy keys actually occur
    val streamGen = Gen.nonEmptyListOf(Gen.frequency(
      (5, Gen.choose(0L, 3L)),    // hot candidates
      (3, Gen.choose(0L, 200L)))) // tail
    for ((data, cap) <- samples(streamGen, 6).zip(Seq(2, 3, 4, 8, 16, 5))) {
      val df = data.toDF("k").repartition(7)
      val cand = df.agg(
          graft.functions.SketchAggs.misraGries(col("k"), cap).as("ks"))
        .select(explode(col("ks")).as("k")).as[Long].collect().toSet
      val truth = data.groupBy(identity).view.mapValues(_.size)
      val bound = data.length.toDouble / (cap + 1)
      val mustSurvive = truth.filter(_._2 > bound).keySet
      assert(mustSurvive.subsetOf(cand),
        s"cap=$cap n=${data.length} missing=${mustSurvive -- cand}")
      assert(cand.size <= cap)
    }
  }

  test("property: Scd2.merge ≡ full rebuild for any log and cutoff") {
    import spark.implicits._
    // logs with FEW keys and COARSE times so runs/compression and
    // key-collisions across the cutoff actually happen; ord values are
    // made unique per (key, minute) upstream like build requires
    val logGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(0L, 3L), Gen.choose(0, 30), Gen.oneOf("A", "B", "C")))
    val eot = lit("2200-01-01 00:00:00").cast("timestamp")
    for ((raw, cutMin) <- samples(logGen, 5).zip(Seq(5, 10, 15, 20, 25))) {
      val log = raw.distinctBy(r => (r._1, r._2))
        .map { case (k, m, v) =>
          (k, new java.sql.Timestamp(1704067200000L + m * 60000L), v) }
      val df = log.toDF("k", "ts", "v")
      val cut = new java.sql.Timestamp(1704067200000L + cutMin * 60000L)
      val hist = df.filter(col("ts") < lit(cut))
      val delta = df.filter(col("ts") >= lit(cut))
      val full = operators.Scd2.build(df, Seq("k"), "ts", Seq("v"), eot)
        .orderBy("k", "valid_from")
      val merged =
        if (hist.isEmpty) operators.Scd2.build(delta, Seq("k"), "ts",
          Seq("v"), eot).orderBy("k", "valid_from")
        else operators.Scd2.merge(
          operators.Scd2.build(hist, Seq("k"), "ts", Seq("v"), eot),
          delta, Seq("k"), "ts", Seq("v"), eot).orderBy("k", "valid_from")
      assert(merged.exceptAll(full).isEmpty &&
        full.exceptAll(merged).isEmpty,
        s"cut=$cutMin log=${log.take(20)}")
    }
  }

  test("property: distributed packSequences ≡ serial per-stratum prefix " +
    "sum for any corpus, window, and block count") {
    import spark.implicits._
    // docs: (id, stratum ∈ 3 values + null, token count 0..9)
    val docGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.oneOf(Some("en"), Some("de"), Some("fr"), None),
      Gen.choose(0, 9)))
    for (((raw, window), blocks) <-
           samples(Gen.zip(docGen, Gen.choose(1L, 20L)), 5)
             .zip(Seq(1, 2, 3, 8, 17))) {
      val docs = raw.zipWithIndex.map { case ((lang, n), i) =>
        (i.toLong, lang, Seq.fill(n)("w").mkString(" ")) }
      val df = docs.toDF("doc_id", "lang", "text")
      val got = operators.Curation
        .packSequences(df, "text", "doc_id", "lang", window,
          blocks = blocks)
        .select("doc_id", "n_tokens", "bin").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // serial oracle: running offset per stratum in id order
      val cum = scala.collection.mutable.Map.empty[Option[String], Long]
      val expect = docs.map { case (id, lang, text) =>
        val n = if (text.isEmpty) 0L else text.split(" ").length.toLong
        val off = cum.getOrElse(lang, 0L)
        cum(lang) = off + n
        (id, n, off / window)
      }
      assert(got.toSeq == expect,
        s"window=$window blocks=$blocks docs=${docs.take(20)}")
    }
  }

  test("property: dedupBlocks ≡ in-memory first-occurrence block dedup " +
    "for any corpus and block size") {
    import spark.implicits._
    val docGen = Gen.nonEmptyListOf(
      Gen.listOf(Gen.oneOf("a", "b", "c")).map(_.mkString(" ")))
    for ((texts, bw) <- samples(docGen, 5).zip(Seq(1, 2, 3, 4, 7))) {
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = operators.Curation
        .dedupBlocks(docs.toDF("doc_id", "text"), "text", "doc_id", bw)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3)))
      val expect = docs.map { case (id, t) =>
        val ws = t.split("\\s+").filter(_.nonEmpty)
        val blocks = ws.grouped(bw).map(_.mkString(" ")).toSeq
        val kept = blocks.zipWithIndex
          .filter { case (b, i) => blocks.indexOf(b) == i }.map(_._1)
        (id, blocks.size.toLong, (blocks.size - kept.size).toLong,
          kept.mkString(" "))
      }
      assert(got.toSeq == expect, s"bw=$bw texts=${texts.take(10)}")
    }
  }

  test("property: chunkTokens with overlap 0 partitions the token " +
    "stream exactly (concatenation reconstructs the normalized text)") {
    import spark.implicits._
    val docGen = Gen.nonEmptyListOf(
      Gen.listOf(Gen.oneOf("x", "yy", "zzz")).map(_.mkString(" ")))
    for ((texts, size) <- samples(docGen, 5).zip(Seq(1, 2, 3, 5, 11))) {
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val rebuilt = operators.Curation
        .chunkTokens(docs.toDF("doc_id", "text"), "text", "doc_id",
          chunkSize = size, overlap = 0)
        .groupBy("doc_id")
        .agg(concat_ws(" ", array_sort(collect_list(
          struct(col("chunk_id"), col("chunk_text")))).getField("chunk_text"))
          .as("joined"),
          sum("n_tokens").as("n"))
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
        .toMap
      docs.foreach { case (id, t) =>
        val ws = t.split("\\s+").filter(_.nonEmpty)
        if (ws.nonEmpty) {
          val (joined, n) = rebuilt(id)
          assert(joined == ws.mkString(" ") && n == ws.length,
            s"size=$size doc=$t got=$joined")
        } else assert(!rebuilt.contains(id)) // empty docs emit no chunks
      }
    }
  }

  test("property: bloomDecontaminate flags are monotone in the benchmark " +
      "and n_shingles is benchmark-independent") {
    import spark.implicits._
    import graft.operators.Curation
    // per-doc-unique shingles: growth must come from the ADDED bench
    // docs' own content (cross-doc sharing is covered in CurationSpec)
    val docs = (0L until 60L).map { i =>
      (i, (0 until 12).map(j => s"w${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    def flags(bench: org.apache.spark.sql.DataFrame) =
      Curation.bloomDecontaminate(docs, bench, "text", "doc_id",
          n = 8, mBits = 1L << 22, kHashes = 4)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(1), r.getLong(2)))
    val a = flags(docs.filter($"doc_id" % 5 === 0))
    val ab = flags(docs.filter($"doc_id" % 5 === 0 ||
      $"doc_id" % 3 === 0))
    // a larger benchmark can only set MORE filter bits: per-doc flags
    // grow monotonically, and the doc's own shingle count is fixed
    a.zip(ab).foreach { case ((sh1, f1), (sh2, f2)) =>
      assert(sh1 == sh2 && f1 <= f2)
    }
    assert(ab.map(_._2).sum > a.map(_._2).sum) // grew somewhere
  }

  test("property: editDistancePairs ≡ brute-force levenshtein on random strings") {
    import spark.implicits._
    // short alphabet maximizes collisions/near-misses; includes empty
    val strGen = Gen.listOf(Gen.oneOf('a', 'b', 'c')).map(_.mkString)
    val listGen = Gen.nonEmptyListOf(strGen)
    for (strs <- samples(listGen, 5)) {
      val df = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "nm")
      val fast = operators.Dedup.editDistancePairs(df, "id", "nm")
        .as[(Long, Long, Long)].collect().toSet
      val a = df.select(col("id").as("ia"), col("nm").as("na"))
      val b = df.select(col("id").as("ib"), col("nm").as("nb"))
      val brute = a.crossJoin(b).filter(col("ia") < col("ib"))
        .withColumn("d", levenshtein(col("na"), col("nb")))
        .filter(col("d") <= 1)
        .select(col("ia"), col("ib"), col("d").cast("long"))
        .as[(Long, Long, Long)].collect().toSet
      assert(fast == brute, s"on ${strs.take(20)}…")
    }
  }

  test("property: piiScrub output is a fixed point (re-scrub finds 0)") {
    import spark.implicits._
    val frag = Gen.oneOf("hi", "a@b.com", "1.2.3.4", "555-123-4567",
      "x@1.2.3.4", "ok 555-123-4567@y.org", "plain text")
    val docGen = Gen.nonEmptyListOf(
      Gen.listOf(frag).map(_.mkString(" ")))
    for (texts <- samples(docGen, 5)) {
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val once = operators.Curation.piiScrub(docs, "text", "doc_id")
        .select(col("doc_id"), col("scrubbed").as("text"))
      val twice = operators.Curation.piiScrub(once, "text", "doc_id")
      assert(twice.agg(sum("n_pii")).first().getLong(0) == 0L)
    }
  }

  private val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta",
    "epsilon", "zeta", "eta", "theta", "iota", "kappa")
  private val corpusGen: Gen[List[String]] =
    Gen.nonEmptyListOf(
      Gen.choose(3, 12).flatMap(n => Gen.listOfN(n, wordGen))
        .map(_.mkString(" ")))

  test("property: containmentPairsPrefix ≡ containmentPairs on " +
      "random corpora") {
    import spark.implicits._
    for ((texts, t) <- samples(corpusGen, 4).zip(
        Seq(0.5, 0.7, 0.8, 0.95))) {
      val docs = texts.zipWithIndex.map { case (x, i) => (i.toLong, x) }
        .toDF("doc_id", "text")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("contained", "container").collect()
          .map(_.toSeq).toSeq
      assert(
        canon(operators.Dedup.containmentPairsPrefix(docs, "doc_id",
          "text", 3, t)) ==
        canon(operators.Dedup.containmentPairs(docs, "doc_id",
          "text", 3, t)), s"t=$t texts=$texts")
    }
  }

  test("property: Cdc.compact ≡ sequential reference fold on random " +
      "change streams") {
    import spark.implicits._
    val chGen: Gen[List[(Long, Long, String, Double)]] =
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 4L),
        Gen.choose(1L, 6L), Gen.oneOf("I", "U", "D"),
        Gen.choose(0, 99).map(_.toDouble)))
    def rank(op: String) = op match {
      case "I" => 0; case "U" => 1; case _ => 2 }
    for (chRaw <- samples(chGen, 5)) {
      // dedupe (k, ver, op): ties with equal sort keys but different
      // payloads have no defined winner (both engines pick SOME row;
      // the operator's contract demands real version resolution)
      val ch = chRaw.distinctBy(c => (c._1, c._2, c._3))
      val df = ch.toDF("k", "ver", "op", "price")
      val got = operators.Cdc.compact(df.repartition(4), "k", "ver",
          "op", Seq("price"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1),
          r.getLong(2), r.getString(3), r.getString(4),
          r.getString(5), Option(r.get(6))))).toMap
      val want = ch.groupBy(_._1).map { case (k, rows) =>
        val sorted = rows.sortBy(c => (c._2, rank(c._3)))
        val (fo, lo) = (sorted.head._3, sorted.last._3)
        val net =
          if (fo == "I" && lo == "D") "noop"
          else if (lo == "D") "delete"
          else if (fo == "I") "insert" else "update"
        k -> ((rows.size.toLong, rows.map(_._2).max, fo, lo, net,
          if (lo == "D") None else Some(sorted.last._4)))
      }
      assert(got == want, s"ch=$ch\ngot=$got\nwant=$want")
    }
  }

  test("property: rankNormalize stays in [0, 10^6], is monotone in " +
      "value within a group, and hits both endpoints") {
    import spark.implicits._
    val rowsGen = Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("a", "b"),
      Gen.choose(0, 50).map(_.toDouble)))
    for (rows <- samples(rowsGen, 5)) {
      val df = rows.zipWithIndex.map { case ((g, v), i) =>
        (g, i.toLong, v) }.toDF("grp", "id", "v")
      val out = operators.Quantiles.rankNormalize(df, Seq("grp"),
          "v", "id")
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getDouble(2), r.getLong(3)))
      assert(out.forall(r => r._4 >= 0L && r._4 <= 1000000L))
      out.groupBy(_._1).foreach { case (_, g) =>
        val sorted = g.sortBy(r => (r._3, r._2))
        assert(sorted.map(_._4).toSeq ==
          sorted.map(_._4).toSeq.sorted, sorted.toString)
        if (g.size > 1) {
          assert(sorted.head._4 == 0L && sorted.last._4 == 1000000L)
        } else assert(sorted.head._4 == 500000L)
      }
    }
  }
}
