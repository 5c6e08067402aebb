package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** Corpus-curation operators: hand-computed repetition metrics, df
  * pruning semantics, stratified-sample rates, and the plan contracts
  * (map-side-only repetition, broadcast stop set) the scaladocs claim.
  */
class CurationSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "a b a b a b"),       // bigrams: ab ba ab ba ab → top 3
      (2L, "x y z"),             // all distinct, top bigram 1
      (3L, "w"),                 // single word: no bigram
      (4L, "a a a a")            // 'a a' ×3
    ).toDF("doc_id", "text")
  }

  test("repetitionStats matches hand-computed metrics") {
    val got = Curation.repetitionStats(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 6L, 2L, 3L),
      (2L, 3L, 3L, 1L),
      (3L, 1L, 1L, 0L),
      (4L, 4L, 1L, 3L)))
  }

  test("repetitionStats plans with NO shuffle (map-side contract)") {
    val plan = Curation.repetitionStats(docs, "text", "doc_id")
      .queryExecution.executedPlan
    assert(plan.collect { case e: ShuffleExchangeLike => e }.isEmpty)
  }

  test("repetitionStats native kernel ≡ declarative fold (generated corpus)") {
    import spark.implicits._
    // varied shapes: empty, 1-word, repeated bigrams, long docs
    val d = (0L to 300L).map { i =>
      val words = (0 until (i % 43).toInt).map(j => s"w${(i * j) % 17}")
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    val a = Curation.repetitionStats(d, "text", "doc_id")
    val b = Curation.repetitionStatsDeclarative(d, "text", "doc_id")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("qualityGate assigns the first matching reason in fixed precedence") {
    import spark.implicits._
    val d = Seq(
      (1L, "a a a a"),       // 4 < 5 words → too_short (wins over others)
      (2L, "a b a b a b"),   // top bigram 3·2 ≥ 6 → repetitive (wins
                             // over low_diversity: 2 distinct · 2 < 6)
      (3L, "x x y z w"),     // nothing fires → kept
      (4L, "p p q q p p")    // 2 distinct · 2 < 6 → low_diversity
    ).toDF("doc_id", "text")
    val got = Curation.qualityGate(d, "text", "doc_id",
        minWords = 5, repMul = 2, divMul = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq(
      (1L, "too_short"), (2L, "repetitive"),
      (3L, "kept"), (4L, "low_diversity")))
  }

  test("dfPruneCounts removes only words above the df fraction") {
    import spark.implicits._
    // 'the' in 3/4 docs (df 0.75 > 0.5 → stop); 'cat' in 2/4 (kept)
    val d = Seq(
      (1L, "the cat sat"),
      (2L, "the cat ran"),
      (3L, "the dog"),
      (4L, "bird song")).toDF("doc_id", "text")
    val got = Curation.dfPruneCounts(d, "text", "doc_id", 0.5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 3L, 2L, 1L),
      (2L, 3L, 2L, 1L),
      (3L, 2L, 1L, 1L),
      (4L, 2L, 2L, 0L)))
  }

  test("dfPruneCounts broadcasts the stop set (no corpus-side shuffle join)") {
    import spark.implicits._
    val d = (1L to 100L).map(i => (i, s"common w$i")).toDF("doc_id", "text")
    val plan = Curation.dfPruneCounts(d, "text", "doc_id", 0.5)
      .queryExecution.executedPlan
    val bhj = plan.toString
    assert(bhj.contains("BroadcastHashJoin") ||
      bhj.contains("BroadcastExchange"))
  }

  test("stratifiedSample: rate 0 keeps none, 100 keeps all, default applies") {
    import spark.implicits._
    implicit val s = spark
    val d = (1L to 200L).map(i =>
      (i, if (i % 2 == 0) "en" else "xx")).toDF("doc_id", "lang")
    val out = Curation.stratifiedSample(d, "lang", "doc_id",
      rates = Map("en" -> 0), defaultPct = 100)
    val kept = out.groupBy("lang")
      .agg(count(when(col("sample_keep"), 1)).as("k"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(kept("en") == (0L, 100L))   // rate 0: none sampled
    assert(kept("xx") == (100L, 100L)) // default 100: all sampled
    // determinism: same inputs → identical keep decisions
    val again = Curation.stratifiedSample(d, "lang", "doc_id",
      rates = Map("en" -> 0), defaultPct = 100)
    assert(out.filter(col("sample_keep")).exceptAll(
      again.filter(col("sample_keep"))).isEmpty)
  }

  test("unigramLogProb matches hand-computed corpus unigram scores") {
    import spark.implicits._
    // corpus: a×3, b×1, N=4 → logp(a)=round(ln .75)=-0.287682,
    //                         logp(b)=round(ln .25)=-1.386294
    val d = Seq((1L, "a a"), (2L, "a b")).toDF("doc_id", "text")
    val got = Curation.unigramLogProb(d, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(
      (1L, 2L, -0.287682),
      (2L, 2L, (-0.287682 + -1.386294) / 2)))
  }

  test("blocklistGate counts hits with multiplicity; boundary not blocked") {
    import spark.implicits._
    val d = Seq(
      (1L, "good clean text"),
      (2L, "bad worse bad"),
      (3L, "bad ok")).toDF("doc_id", "text")
    val got = Curation.blocklistGate(d, "text", "doc_id",
        terms = Seq("bad"), maxHits = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.toSeq == Seq(
      (1L, 0L, false),
      (2L, 2L, true),
      (3L, 1L, false)))  // == maxHits is within budget
  }

  test("mixtureRates: targets from shares, rate capped at 1, missing share 0") {
    import spark.implicits._
    implicit val s = spark
    val d = Seq(
      (1L, "en", "a b c d"),  // en: 4 tokens
      (2L, "de", "x y")       // de: 2 tokens
    ).toDF("doc_id", "lang", "text")
    val got = Curation.mixtureRates(d, "text", "lang",
        shares = Map("en" -> 0.5), budget = 4L)
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    // de has no share → target 0, rate 0; en: target 2 of 4 → rate 0.5
    assert(got.toSeq == Seq(
      ("de", 2L, 0L, 0.0),
      ("en", 4L, 2L, 0.5)))
    val capped = Curation.mixtureRates(d, "text", "lang",
        shares = Map("en" -> 0.5), budget = 100L)
      .filter(col("lang") === "en").first()
    assert(capped.getAs[Long]("target_tokens") == 50L &&
      capped.getAs[Double]("rate") == 1.0)  // min(1, 50/4)
    // an all-empty stratum must report rate 0, not Infinity/NaN-driven 1
    val empty = Curation.mixtureRates(
        Seq((1L, "fr", "  ")).toDF("doc_id", "lang", "text"),
        "text", "lang", shares = Map("fr" -> 0.5), budget = 4L)
      .first()
    assert(empty.getAs[Long]("total_tokens") == 0L &&
      empty.getAs[Double]("rate") == 0.0)
  }

  test("chunkTokens: overlapping windows, no zero-new-token tail, " +
    "short tail kept, empty doc dropped") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d e f g"),  // 7 tokens, size 3 overlap 1 → stride 2
      (2L, "x"),
      (3L, " "),              // no tokens → no chunks
      (4L, "p q r s")         // 4 tokens → tail chunk with 1 new token
    ).toDF("doc_id", "text")
    val got = Curation.chunkTokens(d, "text", "doc_id",
        chunkSize = 3, overlap = 1)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // starts stop at len − overlap: a start-7 chunk of doc 1 would be
    // "g" alone — zero new tokens, fully inside "e f g" — and is NOT
    // emitted; doc 4's tail "r s" IS (token s is new)
    assert(got.toSeq == Seq(
      (1L, 0L, 3L, "a b c"),
      (1L, 1L, 3L, "c d e"),
      (1L, 2L, 3L, "e f g"),
      (2L, 0L, 1L, "x"),
      (4L, 0L, 3L, "p q r"),
      (4L, 1L, 2L, "r s")))
  }

  test("chunkTokens reconstructs every document exactly (drop `overlap` " +
    "tokens from each non-first chunk, concatenate)") {
    import spark.implicits._
    val d = (0L to 120L).map { i =>
      (i, (0 until (i % 41).toInt).map(j => s"t${(i + j) % 13}")
        .mkString(" "))
    }.toDF("doc_id", "text")
    val (cs, ov) = (7, 3)
    val rebuilt = Curation.chunkTokens(d, "text", "doc_id", cs, ov)
      .withColumn("piece", when(col("chunk_id") === 0, col("chunk_text"))
        .otherwise(concat_ws(" ",
          slice(split(col("chunk_text"), " "), ov + 1, cs))))
      .groupBy("doc_id")
      .agg(concat_ws(" ", array_sort(collect_list(
        struct(col("chunk_id"), col("piece")))).getField("piece"))
        .as("rebuilt"))
    val orig = d.select(col("doc_id"),
      concat_ws(" ", TextOps.words(col("text"))).as("orig"))
      .filter(length(col("orig")) > 0)
    val joined = orig.join(rebuilt, Seq("doc_id"), "full")
    assert(joined.filter(col("orig").isNull || col("rebuilt").isNull ||
      col("orig") =!= col("rebuilt")).count() == 0)
  }

  test("compressionStats: deterministic, repetition compresses better, " +
    "bounds hold, empty text null") {
    import spark.implicits._
    val rep = ("ab " * 200).trim           // highly repetitive
    val mixed = (1 to 200).map(i => s"w${i * 7919 % 4093}").mkString(" ")
    val d = Seq((1L, rep), (2L, mixed), (3L, "")).toDF("doc_id", "text")
    val got = Curation.compressionStats(d, "text", "doc_id")
      .orderBy("doc_id").collect()
    val ratios = got.map(r =>
      r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    assert(ratios(1L).get < ratios(2L).get)  // repetition ⇒ smaller
    assert(ratios(1L).get > 0 && ratios(2L).get > 0)
    assert(ratios(3L).isEmpty)               // empty text ⇒ null
    // deflate never inflates past raw + small header at these sizes
    got.filter(!_.isNullAt(3)).foreach { r =>
      assert(r.getLong(2) <= r.getLong(1) + 16)
    }
    // determinism: identical second run, value-identical
    val again = Curation.compressionStats(d, "text", "doc_id")
    assert(Curation.compressionStats(d, "text", "doc_id")
      .exceptAll(again).isEmpty)
  }

  test("piiScrub: counts per pattern on the original text, email wins " +
    "the overlap, clean text untouched") {
    import spark.implicits._
    val d = Seq(
      (1L, "mail me at a.b+c@example.org or 555-123-4567"),
      (2L, "host 192.168.0.1 backup 10.0.0.2"),
      (3L, "from 555-123-4567@relay.org today"), // email ⊃ phone
      (4L, "user@1.2.3.4 logged in"), // digit TLD: an IP, not an email
      (5L, "nothing sensitive here")
    ).toDF("doc_id", "text")
    val got = Curation.piiScrub(d, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got(0) == ((1L, 2L, "mail me at [EMAIL] or [PHONE]")))
    assert(got(1) == ((2L, 2L, "host [IP] backup [IP]")))
    // n_pii counts BOTH the email and the phone inside it (independent
    // per-pattern counts on the original); the scrub applies email
    // first so no phone husk survives
    assert(got(2) == ((3L, 2L, "from [EMAIL] today")))
    // the email pattern requires an alphabetic TLD
    assert(got(3) == ((4L, 1L, "user@[IP] logged in")))
    assert(got(4) == ((5L, 0L, "nothing sensitive here")))
  }

  test("packSequences assigns bins by running offset within each stratum") {
    import spark.implicits._
    val d = Seq(
      (1L, "en", "a b c"),     // en offsets: 0 → bin 0
      (2L, "en", "d e f g"),   // offset 3   → bin 0
      (3L, "en", "h i"),       // offset 7   → bin 1 (window 5)
      (4L, "de", "x y z w v u")// de restarts at 0 → bin 0
    ).toDF("doc_id", "lang", "text")
    val got = Curation.packSequences(d, "text", "doc_id", "lang", 5L)
      .select("doc_id", "lang", "n_tokens", "bin")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, "en", 3L, 0L),
      (2L, "en", 4L, 0L),
      (3L, "en", 2L, 1L),
      (4L, "de", 6L, 0L)))
  }

  test("packSequences tokenCountCol: caller-supplied counts drive the " +
      "bins; default path unchanged") {
    import spark.implicits._
    val d = Seq(
      (1L, "en", "a b c", 4L),  // supplied 4 (≠ 3 whitespace)
      (2L, "en", "d e", 1L),    // offset 4 → bin 0 (window 5)
      (3L, "en", "f g", 3L))    // offset 5 → bin 1
      .toDF("doc_id", "lang", "text", "cnt")
    val got = Curation.packSequences(d, "text", "doc_id", "lang", 5L,
        tokenCountCol = Some("cnt"))
      .select("doc_id", "n_tokens", "bin").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 4L, 0L), (2L, 1L, 0L), (3L, 3L, 1L)))
    // default path on the same frame ignores cnt entirely
    val dft = Curation.packSequences(d, "text", "doc_id", "lang", 5L)
      .select("doc_id", "n_tokens", "bin").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(dft.toSeq == Seq((1L, 3L, 0L), (2L, 2L, 0L), (3L, 2L, 1L)))
  }

  test("corpusDiff: all four statuses; whitespace-only edits are " +
      "UNCHANGED (normalized fingerprint)") {
    import spark.implicits._
    val old = Seq((1L, "a b c"), (2L, "d e"), (3L, "gone soon"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (1L, "  a   b c "),   // whitespace churn only → unchanged
      (2L, "d e revised"),  // changed
      (4L, "brand new"))    // added; 3 removed
      .toDF("doc_id", "text")
    val got = Curation.corpusDiff(old, fresh, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
    val sum = Curation.corpusDiffSummary(old, fresh, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sum == Map("unchanged" -> 1L, "changed" -> 1L,
      "removed" -> 1L, "added" -> 1L))
  }

  test("packSequences fans a single stratum over >1 block and still " +
      "matches the serial prefix sum") {
    import spark.implicits._
    // ONE stratum, 64 docs with varying token counts: the r5 verdict's
    // scale-killer was a per-stratum window that would run this (and a
    // terabyte-scale language) in a single task.
    val d = (1L to 64L)
      .map(i => (i, "en", Seq.fill((i % 5 + 1).toInt)("w").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    // the internal blocking must actually split the stratum — this is
    // the parallelism contract (blocks ≈ strata × blocks tasks)
    val blks = Curation.withPackBlocks(d, "doc_id", "lang", 8)
      .select("_blk").distinct().count()
    assert(blks > 1, s"expected >1 block for 64 docs @ blocks=8, got $blks")
    // driver-safety: above maxStrata the (strata-sized) boundary
    // collect is skipped and blocking degrades to the serial-but-
    // already-parallel-by-strata path
    val capped = Curation.withPackBlocks(d, "doc_id", "lang", 8,
        maxStrata = 0)
      .select("_blk").distinct().collect().map(_.getInt(0)).toSeq
    assert(capped == Seq(0))
    // distributed result ≡ the serial greedy packing, bin by bin
    val got = Curation.packSequences(d, "text", "doc_id", "lang", 7L,
        blocks = 8)
      .select("doc_id", "n_tokens", "bin").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    var cum = 0L
    val expect = (1L to 64L).map { i =>
      val n = i % 5 + 1
      val bin = cum / 7L
      cum += n
      (i, n, bin)
    }
    assert(got.toSeq == expect)
  }

  test("dedupBlocks keeps first occurrences in order, boundary-aligned") {
    import spark.implicits._
    val d = Seq(
      (1L, "p q p q p q"),       // 3 identical 2-word blocks → keep 1
      (2L, "a b c a b c d e"),   // offset repeat invisible to the grid
      (3L, ""),                  // no tokens → 0 blocks, empty cleaned
      (4L, "x y z")              // 2 blocks (second short), distinct
    ).toDF("doc_id", "text")
    val got = Curation.dedupBlocks(d, "text", "doc_id", blockWords = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 3L, 2L, "p q"),
      (2L, 4L, 0L, "a b c a b c d e"),
      (3L, 0L, 0L, ""),
      (4L, 2L, 0L, "x y z")))
  }

  test("dedupBlocks native kernel ≡ declarative array_position twin " +
      "(generated corpus incl. repeats, partial blocks, null text)") {
    import spark.implicits._
    // varied shapes: empty, null, all-identical blocks, offset repeats,
    // partial trailing blocks, long docs with interleaved repeats
    val d = ((0L to 200L).map { i =>
      val words = (0 until (i % 37).toInt)
        .map(j => s"w${(i + j * j) % 11}")
      (i, if (i % 50 == 13) null else words.mkString(" "))
    } :+ (999L, ("dup block of four " * 6) + "tail bit")).toDF("doc_id", "text")
    for (bw <- Seq(1, 2, 4)) {
      val a = Curation.dedupBlocks(d, "text", "doc_id", bw)
      val b = Curation.dedupBlocksDeclarative(d, "text", "doc_id", bw)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"kernel/declarative divergence at blockWords=$bw")
    }
  }

  test("blockScrub kernel is linear in blocks (no quadratic straggler)") {
    import org.apache.spark.unsafe.types.UTF8String
    // all-distinct blocks = worst case for the old array_position scan
    // (every test walks the whole prefix). 16× the blocks must cost
    // nowhere near 256× the time; generous bound to absorb JIT/GC
    // noise — quadratic behavior overshoots it by ~4×.
    def doc(nBlocks: Int): UTF8String = UTF8String.fromString(
      (0 until nBlocks * 4).map(j => s"w$j").mkString(" "))
    def timeMin(t: UTF8String): Double = {
      graft.functions.CurationStatsKernel.blockScrub(t, 4) // warm
      (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        graft.functions.CurationStatsKernel.blockScrub(t, 4)
        (System.nanoTime() - t0) / 1e6
      }.min
    }
    val small = timeMin(doc(1000))
    val big = timeMin(doc(16000))
    assert(big / math.max(small, 0.001) < 64.0,
      f"16x blocks cost ${big / small}%.1fx (quadratic ~256x)")
  }

  test("bloomDecontaminate: bench copies fully flag, clean docs pass, " +
      "short docs have zero shingles; bits join broadcasts") {
    import spark.implicits._
    val mk = (s: Seq[String]) => s.mkString(" ")
    val benchText = mk((1 to 12).map(i => s"b$i"))
    val docs = Seq(
      (1L, benchText),                        // the benchmark doc itself
      (2L, "x " + benchText),                 // shifted copy: shares all
                                              // 8-gram shingles → flagged
      (3L, mk((1 to 12).map(i => s"c$i"))),   // unrelated → clean
      (4L, "too short")                       // < 8 words → 0 shingles
    ).toDF("doc_id", "text")
    val bench = docs.filter($"doc_id" === 1)
    val q = Curation.bloomDecontaminate(docs, bench, "text", "doc_id",
      n = 8, mBits = 1L << 22, kHashes = 4)
    // static-plan text, PlanAuditSpec-style: the position-set join must
    // broadcast (the corpus side never shuffles for it)
    assert(q.queryExecution.executedPlan.toString
      .contains("BroadcastExchange"))
    val got = q.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    // doc 1: 5 shingles, all in the filter; doc 2: 6 shingles, the 5
    // bench shingles flag, the x-prefixed one doesn't
    assert(got.toSeq == Seq(
      (1L, 5L, 5L, true),
      (2L, 6L, 5L, true),
      (3L, 5L, 0L, false),
      (4L, 0L, 0L, false)))
  }

  test("bloomDecontaminateBitmap ≡ position-set bloomDecontaminate " +
      "(generated corpus with shared and unique shingles)") {
    import spark.implicits._
    // mix of per-doc-unique and cross-doc-shared 8-gram content
    val docs = (0L until 80L).map { i =>
      val words =
        if (i % 4 == 0) (0 until 12).map(j => s"s${(i % 3)}_$j")
        else (0 until 12).map(j => s"u${i}_$j")
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    val bench = docs.filter($"doc_id" % 5 === 0)
    val a = Curation.bloomDecontaminate(docs, bench, "text", "doc_id",
      n = 8, mBits = 1L << 18, kHashes = 3)
    val b = Curation.bloomDecontaminateBitmap(docs, bench, "text",
      "doc_id", n = 8, mBits = 1L << 18, kHashes = 3)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // and the bitmap gate actually flags the shared-content docs
    assert(b.filter($"contaminated").count() > 0)
  }

  test("bloom bitmap/mBits mismatch fails with a clear message, " +
      "not an index error") {
    import graft.functions.BloomKernel
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // filter built at m=2^18 (4096 words), queried at m=2^22
    val smallBitmap = new GenericArrayData(new Array[Long](4096))
    val e = intercept[IllegalArgumentException] {
      BloomKernel.hitsAll(smallBitmap, 12345L, 4, 1L << 22)
    }
    assert(e.getMessage.contains("different mBits"))
    // consistent m is fine regardless of hit outcome
    assert(!BloomKernel.hitsAll(smallBitmap, 12345L, 4, 1L << 18))
    // the OTHER direction: a bitmap LARGER than mBits needs would probe
    // mod the wrong modulus and silently miss contamination — must also
    // fail loudly (exact-size equality, both drift directions)
    val bigBitmap = new GenericArrayData(new Array[Long](65536))
    val e2 = intercept[IllegalArgumentException] {
      BloomKernel.hitsAll(bigBitmap, 12345L, 4, 1L << 18)
    }
    assert(e2.getMessage.contains("different mBits"))
  }

  test("persisted BloomFilter round-trip: parameters restored, probe ≡ " +
      "in-memory build, forged mismatch fails on the read path") {
    import spark.implicits._
    val docs = (0L until 20L).map(i =>
      (i, (0 until 12).map(j => s"w${i % 4}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val bench = docs.filter($"doc_id" % 5 === 0)
    val dir = tempDir("graft_bloom_rt")
      .toFile
    try {
      Curation.BloomFilter
        .build(bench, "text", "doc_id", n = 8, mBits = 1L << 18,
          kHashes = 3)
        .write(dir.getAbsolutePath)
      val f = Curation.BloomFilter.read(spark, dir.getAbsolutePath)
      assert(f.mBits == (1L << 18) && f.kHashes == 3 && f.shingleN == 8)
      val a = Curation.bloomDecontaminateBitmap(docs, bench, "text",
        "doc_id", n = 8, mBits = 1L << 18, kHashes = 3)
      val b = Curation.bloomDecontaminateWith(docs, f, "text", "doc_id")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
      // a forged parameter drift against a persisted bitmap must hit
      // the kernel's exact-size guard, not return silent false negatives
      val err = intercept[Exception] {
        Curation.bloomDecontaminateWith(docs, f.copy(mBits = 1L << 20),
          "text", "doc_id").collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(err).exists(_.contains("different mBits")), msgs(err))
    } finally {
      def rm(f: java.io.File): Unit = {
        val k = f.listFiles(); if (k != null) k.foreach(rm)
        f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("spanRepeatStats counts off-grid repeats (hand-computed + " +
      "in-memory model), no shuffle") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c x a b c"),  // spans at 1-based 1..5; "a b c" repeats
                              // at offset 5 (off the 3-grid) → 1 repeat
      (2L, "p q"),            // fewer than 3 words → 0 spans, null frac
      (3L, "z z z z"),        // spans: zzz, zzz → 1 repeat of 2
      (4L, null.asInstanceOf[String]) // null text ≡ empty: (0, 0, null)
                              // — what the q93 oracle's COALESCE emits
    ).toDF("doc_id", "text")
    val q = Curation.spanRepeatStats(d, "text", "doc_id", spanWords = 3)
    assert(q.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeLike => e }.isEmpty)
    val got = q.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    assert(got.toSeq == Seq(
      (1L, 5L, 1L, Some(0.2)),
      (2L, 0L, 0L, None),
      (3L, 2L, 1L, Some(0.5)),
      (4L, 0L, 0L, None)))
    // generated corpus vs in-memory seen-set model
    val gen = (0L to 120L).map { i =>
      val words = (0 until (i % 23).toInt).map(j => s"w${(i + j) % 5}")
      (i, words.mkString(" "))
    }
    val expect = gen.map { case (id, text) =>
      val ws = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val spans = (0 to ws.length - 3).map(k => ws.slice(k, k + 3).mkString(" "))
      val seen = scala.collection.mutable.Set.empty[String]
      val rep = spans.count(sp => !seen.add(sp))
      (id, math.max(0, ws.length - 2).toLong, rep.toLong)
    }
    val out = Curation.spanRepeatStats(gen.toDF("doc_id", "text"),
        "text", "doc_id", 3)
      .select("doc_id", "n_spans", "n_repeated").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == expect)
  }

  test("packSequences degradation paths: non-numeric ids and " +
      ">maxStrata both fall back to serial blocking with identical bins") {
    import spark.implicits._
    val d = (1L to 40L)
      .map(i => (i, if (i % 2 == 0) "en" else "fi",
        Seq.fill((i % 7 + 1).toInt)("w").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val numeric = Curation.packSequences(d, "text", "doc_id", "lang",
        window = 9L, blocks = 8)
      .select("doc_id", "n_tokens", "bin").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // >maxStrata: the boundary collect is skipped (LIMIT-bounded),
    // blocking degrades to one block per stratum, bins unchanged
    val capped = Curation.packSequences(d, "text", "doc_id", "lang",
        window = 9L, blocks = 8, maxStrata = 1)
      .select("doc_id", "n_tokens", "bin").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(capped == numeric)
    // non-numeric id TYPE: one block per stratum; zero-padded string
    // order ≡ numeric order, so the bins must agree with the numeric
    // run doc for doc
    val s = d.select(concat(lit("k"), lpad(col("doc_id"), 4, "0"))
      .as("k"), col("lang"), col("text"))
    val viaString = Curation.packSequences(s, "text", "k", "lang",
        window = 9L, blocks = 8)
      .select(col("k"), col("n_tokens"), col("bin"))
      .collect()
      .map(r => (r.getString(0).drop(1).toLong, r.getLong(1),
        r.getLong(2))).toSeq.sortBy(_._1)
    assert(viaString == numeric)
    // UNPADDED numeric-text strings: "10" sorts before "9"
    // lexicographically but after it numerically — the type gate must
    // force the serial path (quantile blocks over parsed values would
    // break block monotonicity and silently corrupt bins), so blocked
    // ≡ serial in the STRING sort order
    val u = d.select(col("doc_id").cast("string").as("k"), col("lang"),
      col("text"))
    val blocked = Curation.packSequences(u, "text", "k", "lang",
        window = 9L, blocks = 8)
      .select("k", "bin").orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val serial = Curation.packSequences(u, "text", "k", "lang",
        window = 9L, blocks = 1)
      .select("k", "bin").orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(blocked == serial)
  }

  test("packSequences with startOffsets: append-pack ≡ packing the " +
      "union when new ids sort after the old corpus") {
    import spark.implicits._
    val mk = (r: Range, tag: String) => r.map(i =>
      (i.toLong, if (i % 2 == 0) "en" else "fi",
        Seq.fill(i % 5 + 1)(tag).mkString(" ")))
    val old = mk(1 to 30, "o").toDF("doc_id", "lang", "text")
    val neu = mk(31 to 50, "n").toDF("doc_id", "lang", "text")
    val offsets = old.groupBy($"lang")
      .agg(sum(size(TextOps.words($"text"))).cast("bigint")
        .as("start_tokens"))
    val appended = Curation.packSequences(neu, "text", "doc_id", "lang",
        window = 7L, blocks = 4, startOffsets = Some(offsets))
      .select("doc_id", "n_tokens", "bin").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val unioned = Curation.packSequences(old.union(neu), "text",
        "doc_id", "lang", window = 7L, blocks = 4)
      .filter($"doc_id" > 30)
      .select("doc_id", "n_tokens", "bin").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(appended.toSeq == unioned.toSeq)
    // a stratum absent from the offsets frame starts at bin 0
    val fresh = Curation.packSequences(
        Seq((99L, "zz", "a b c")).toDF("doc_id", "lang", "text"),
        "text", "doc_id", "lang", window = 7L,
        startOffsets = Some(offsets))
      .select("bin").first().getLong(0)
    assert(fresh == 0L)
    // duplicate stratum rows in the offsets frame SUM (per-shard
    // summaries passed unioned) — and must NOT duplicate output rows
    val halves = old.filter($"doc_id" <= 15).groupBy($"lang")
      .agg(sum(size(TextOps.words($"text"))).cast("bigint")
        .as("start_tokens"))
      .union(old.filter($"doc_id" > 15).groupBy($"lang")
        .agg(sum(size(TextOps.words($"text"))).cast("bigint")
          .as("start_tokens")))
    val viaDup = Curation.packSequences(neu, "text", "doc_id", "lang",
        window = 7L, blocks = 4, startOffsets = Some(halves))
      .select("doc_id", "n_tokens", "bin").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(viaDup.toSeq == appended.toSeq)
  }

  test("packSequences keeps null-strata rows (null-safe offsets join)") {
    import spark.implicits._
    val d = Seq(
      (1L, Some("en"), "a b c"),
      (2L, None, "d e"),
      (3L, None, "f g h i")
    ).toDF("doc_id", "lang", "text")
    val got = Curation.packSequences(d, "text", "doc_id", "lang", 3L)
      .select("doc_id", "bin").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // the null stratum packs as its own group: offsets 0, 2 → bins 0, 0
    assert(got.toSeq == Seq((1L, 0L), (2L, 0L), (3L, 0L)))
  }

  test("weightedSample: exactly k rows, weight>0 only, keys in (0,1], partition-proof") {
    import spark.implicits._
    val df = ((1 to 40).map(i => (i.toLong, 5L)) ++
      Seq((100L, 0L), (101L, -3L), (102L, 5L))) // excluded: w ≤ 0
      .toDF("id", "w")
    val got = Curation.weightedSample(df, "id", "w", k = 10)
      .as[(Long, Long, Double)].collect()
    assert(got.length == 10)
    assert(!got.exists(r => r._1 == 100L || r._1 == 101L))
    got.foreach { case (_, w, skey) =>
      assert(w == 5L && skey > 0.0 && skey <= 1.0)
    }
    val repart = Curation.weightedSample(df.repartition(7), "id", "w",
      k = 10).as[(Long, Long, Double)].collect()
    assert(got.sortBy(_._1).toSeq == repart.sortBy(_._1).toSeq)
  }

  test("weightedSample: k >= n returns every positive-weight row") {
    import spark.implicits._
    val df = Seq((1L, 2L), (2L, 3L), (3L, 0L)).toDF("id", "w")
    val got = Curation.weightedSample(df, "id", "w", k = 10)
      .as[(Long, Long, Double)].collect()
    assert(got.map(_._1).sorted.toSeq == Seq(1L, 2L))
  }

  test("weightedSamplePerStratum: k per stratum, short strata whole, ≡ solo draw") {
    import spark.implicits._
    val df = ((1 to 30).map(i => ("en", i.toLong, 5L)) ++
      (1 to 3).map(i => ("de", (100 + i).toLong, 5L)) ++
      Seq(("fr", 200L, 0L))).toDF("lang", "id", "w")
    val got = Curation.weightedSamplePerStratum(df, "lang", "id", "w",
      k = 4).as[(String, Long, Long, Double, Long)].collect()
    val byLang = got.groupBy(_._1)
    assert(byLang("en").length == 4 && byLang("de").length == 3)
    assert(!byLang.contains("fr")) // weight 0 excluded
    // per-stratum selection ≡ the solo weightedSample on that stratum
    val soloEn = Curation.weightedSample(
      df.filter($"lang" === "en").drop("lang"), "id", "w", k = 4)
      .as[(Long, Long, Double)].collect().map(_._1).toSet
    assert(byLang("en").map(_._2).toSet == soloEn)
  }

  test("weightedSample: a dominant weight wins the draw for most salts") {
    import spark.implicits._
    // one row with weight 1000 vs 50 rows of weight 1 → P(win) ≈ 0.95
    // per draw; across 20 deterministic salts it must win a clear
    // majority (the weighting actually biases the draw)
    val df = ((1 to 50).map(i => (i.toLong, 1L)) :+ (999L, 1000L))
      .toDF("id", "w")
    val wins = (1 to 20).count { s =>
      Curation.weightedSample(df, "id", "w", k = 1, salt = s"s$s")
        .as[(Long, Long, Double)].collect().head._1 == 999L
    }
    assert(wins >= 15, s"dominant weight won only $wins/20 draws")
  }

  test("stupidBackoffScores: all three branches hand-computed on a " +
      "one-train-doc corpus") {
    import spark.implicits._
    // train trigrams of "a b c a b d": (a,b,c)(b,c,a)(c,a,b)(a,b,d)
    // → c12(a,b)=2, c2m(b)=2, c23(b,c)=1, N=4, V3=|{c,a,b,d}|=4
    val df = Seq(
      (0L, "a b c a b d"), // train (doc 0)
      (1L, "a b c"),       // seen trigram: ln(1/2)
      (3L, "x b c"),       // suffix backoff: ln(0.4·1/2)
      (5L, "q q q")        // OOV floor: ln(0.16·1/8)
    ).toDF("doc_id", "text")
    val got = Curation.stupidBackoffScores(df, "text", "doc_id",
        trainCol = col("doc_id") === 0)
      .orderBy("doc_id")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, -0.693147), (3L, 1L, -1.609438), (5L, 1L, -3.912023)),
      got.toString)
  }

  test("stupidBackoffScores: <3-token docs omitted; multi-trigram " +
      "doc averages in exact micro-units") {
    import spark.implicits._
    val df = Seq(
      (0L, "a b c a b d"),
      (1L, "a b"),          // no trigram → omitted
      (3L, "a b c q q q")   // 4 trigrams: seen + 3 floors... compute n
    ).toDF("doc_id", "text")
    val got = Curation.stupidBackoffScores(df, "text", "doc_id",
        trainCol = col("doc_id") === 0)
      .orderBy("doc_id")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(3L), got.toString)
    assert(got.head._2 == 4L) // a b c / b c q / c q q / q q q
  }

  test("dsirLogRatios: target-vocabulary docs score above raw-typical " +
      "docs; dsirSample draws only positive-ppm docs") {
    import spark.implicits._
    val df = Seq(
      (0L, "ziel wort satz", true),
      (1L, "ziel satz wort", true),
      (2L, "noise words here", false),
      (3L, "ziel wort satz", false),   // looks like target
      (4L, "noise words here", false), // looks like raw background
      (5L, "noise here words", false)
    ).toDF("doc_id", "text", "tgt")
    val lr = Curation.dsirLogRatios(df, "text", "doc_id", col("tgt"))
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(lr(3L) > lr(4L),
      s"target-like doc must out-score background: $lr")
    val sampled = Curation.dsirSample(df, "text", "doc_id", col("tgt"),
      k = 3).as[(Long, Long, Double)].collect()
    assert(sampled.length == 3 && sampled.forall(_._2 > 0L))
  }

  test("temperatureShares: α=½ flattens a 9:1 corpus to 3:1 shares, " +
      "exact ppm and allocation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "big", "w w w w w w w w w"), // 9 tokens
      (2L, "small", "w"))               // 1 token
      .toDF("doc_id", "lang", "text")
    val got = Curation.temperatureShares(docs, "text", "lang",
        alphaHalvings = 1, budget = 100L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // sqrt weights 3e6 : 1e6 → temp shares 750000 : 250000
    assert(got == Seq(
      ("big", 9L, 900000L, 750000L, 75L),
      ("small", 1L, 100000L, 250000L, 25L)), got.toString)
    // α=¼ flattens further: weights 9^¼ : 1 = √3 : 1
    val q = Curation.temperatureShares(docs, "text", "lang",
        alphaHalvings = 2, budget = 100L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(q("small") > 250000L && q("small") < 500000L, q.toString)
  }

  test("pplBuckets: per-language tie-coherent terciles ordered by " +
      "the exact LM score") {
    import spark.implicits._
    // corpus: 'common' df 3, rares df 1 each (n_total 6) →
    // logp(common) = ln(1/2), logp(rare) = ln(1/6)
    val docs = Seq(
      (1L, "en", "common common"),   // score −693147 → head
      (2L, "en", "common rare1"),    // −1242453 → middle
      (3L, "en", "rare2 rare3"))     // −1791759 → tail
      .toDF("doc_id", "lang", "text")
    val got = Curation.pplBuckets(docs, "text", "doc_id", "lang", 3)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, -693147L, 2L), (2L, -1242453L, 1L),
      (3L, -1791759L, 0L)), got.toString)
  }

  test("pplBuckets: ties share a bucket; strata cut independently") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x", "a a"), (2L, "x", "a a"), (3L, "x", "b c"),
      (4L, "y", "a a"))
      .toDF("doc_id", "lang", "text")
    val got = Curation.pplBuckets(docs, "text", "doc_id", "lang", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // x: doc3 (rare words, lowest score) cut alone into bucket 0;
    // docs 1·2 tie on the top score → both land in bucket 1
    assert(got(1L) == got(2L) && got(1L) == 1L && got(3L) == 0L,
      got.toString)
    // y has one doc — its own stratum, bucket (1−1)·2 div 1 = 0
    assert(got(4L) == 0L, got.toString)
  }

  test("neymanAllocation: dispersion beats size; zero-variance " +
      "stratum gets nothing; singletons dropped") {
    import spark.implicits._
    val df = (
      // wide: 100 rows alternating 1.00 / 99.00 (sd ≈ 49)
      (1 to 100).map(i => ("wide", if (i % 2 == 0) 1.00 else 99.00)) ++
      // flat: 400 rows all 50.00 (sd = 0) — bigger but carries
      // no estimation variance → weight 0
      (1 to 400).map(_ => ("flat", 50.00)) ++
      Seq(("single", 7.00))  // n = 1: variance undefined → dropped
    ).toDF("g", "v")
    val got = Curation.neymanAllocation(df, "g", "v", budget = 1000L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4))).toMap
    assert(!got.contains("single"), got.toString)
    assert(got("flat")._2 == 0L && got("flat")._3 == 0L, got.toString)
    // the wide stratum takes the whole budget despite being 4× smaller
    assert(got("wide")._3 == 1000L, got.toString)
    // exact variance: cents ±4900 around mean 5000 → s² of the
    // two-point ladder = n/(n−1)·2401⁰… hand value: Σ(c−c̄)² =
    // 100·2400² ... verify via the integer formula directly
    val cents = (1 to 100).map(i => if (i % 2 == 0) 100L else 9900L)
    val n = BigInt(100); val s = cents.map(BigInt(_)).sum
    val q = cents.map(c => BigInt(c) * c).sum
    val expectVar = ((n * q - s * s) / (n * (n - 1))).toLong
    assert(got("wide")._2 == expectVar, s"${got("wide")._2} vs $expectVar")
  }

  test("gopherQualityFlags: each rule trips on its designed offender, " +
      "clean prose passes all five") {
    import spark.implicits._
    val clean = (1 to 60).map(_ => "the quick brown fox is here to win")
      .mkString(" ") // 480 words, stopword-rich, alpha, mean len ~4
    val docs = Seq(
      (1L, clean),
      (2L, "too short but the a of is in to"),            // word count
      (3L, (1 to 60).map(_ => "a b the of c d").mkString(" ")), // mean len < 3
      (4L, clean + " " + (1 to 60).map(_ => "###").mkString(" ")), // symbols+alpha
      (5L, (1 to 60).map(i => s"the of ${i}1 23 45 67").mkString(" ")) // alpha < 80%
    ).toDF("doc_id", "text")
    val got = Curation.gopherQualityFlags(docs, "text", "doc_id",
        minWords = 50)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Boolean]("keep"), got(1L).toString)
    assert(!got(2L).getAs[Boolean]("f_word_count") &&
      !got(2L).getAs[Boolean]("keep"))
    assert(!got(3L).getAs[Boolean]("f_mean_word_len"))
    assert(!got(4L).getAs[Boolean]("f_symbol_ratio"))
    assert(!got(5L).getAs[Boolean]("f_alpha_words"))
    // rule independence: doc 5 still passes the stopword rule
    assert(got(5L).getAs[Boolean]("f_stopwords"))
  }

  test("c4QualityFlags: punctuation/sentence/brace/lorem/word rules " +
      "fire independently") {
    import spark.implicits._
    val docs = Seq(
      (1L, "One fine sentence here. Another one follows! A third?"),
      (2L, "no terminal punctuation at all in this one"),
      (3L, "Code ahead { x }. Two more. Sentences here."),
      (4L, "Lorem ipsum dolor sit amet. More words. Again here."),
      (5L, "Tiny. Ok. Yes.")
    ).toDF("doc_id", "text")
    val got = Curation.c4QualityFlags(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Boolean]("keep"))
    assert(!got(2L).getAs[Boolean]("f_ends_punct") &&
      !got(2L).getAs[Boolean]("f_sentences"))
    assert(!got(3L).getAs[Boolean]("f_no_brace"))
    assert(!got(4L).getAs[Boolean]("f_no_lorem"))
    assert(!got(5L).getAs[Boolean]("f_words") &&
      got(5L).getAs[Boolean]("f_sentences"))
  }

  test("largestRemainderAllocation: Σ alloc = budget exactly, floor+1 " +
      "to largest remainders, deterministic ties, zero-weight edge") {
    import spark.implicits._
    // weights 1,1,1 over budget 10: base 3 each, remainder 1/3 each —
    // equal remainders tie to the first group in group order
    val even = Seq(("a", 1L), ("b", 1L), ("c", 1L)).toDF("g", "w")
    val gotE = Curation.largestRemainderAllocation(even, Seq("g"), "w",
      10L).orderBy("g").collect().map(r => r.getString(0) -> r.getLong(2))
    assert(gotE.toSeq == Seq("a" -> 4L, "b" -> 3L, "c" -> 3L))
    // hand case: weights 5, 3, 2 over budget 7 → exact shares 3.5,
    // 2.1, 1.4 → bases 3, 2, 1 (Σ 6), largest remainder .5 → a gets +1
    val skew = Seq(("a", 5L), ("b", 3L), ("c", 2L)).toDF("g", "w")
    val gotS = Curation.largestRemainderAllocation(skew, Seq("g"), "w",
      7L).orderBy("g").collect().map(r => r.getString(0) -> r.getLong(2))
    assert(gotS.toSeq == Seq("a" -> 4L, "b" -> 2L, "c" -> 1L))
    assert(gotS.map(_._2).sum == 7L)
    // exactness at an awkward budget over many groups
    val many = (1 to 37).map(i => (f"g$i%02d", (i * 13 % 11 + 1).toLong))
      .toDF("g", "w")
    val gotM = Curation.largestRemainderAllocation(many, Seq("g"), "w",
      1000003L).collect()
    assert(gotM.map(_.getLong(2)).sum == 1000003L)
    // all-zero weights: stated degenerate rule — first budget groups
    // in group order get one unit each
    val zero = Seq(("a", 0L), ("b", 0L), ("c", 0L)).toDF("g", "w")
    val gotZ = Curation.largestRemainderAllocation(zero, Seq("g"), "w",
      2L).orderBy("g").collect().map(r => r.getString(0) -> r.getLong(2))
    assert(gotZ.toSeq == Seq("a" -> 1L, "b" -> 1L, "c" -> 0L))
  }
}
