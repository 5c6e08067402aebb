package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup-operator semantics on small hand-built corpora where expected
  * pairs are computable by hand.
  */
class DedupSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
      (3L, "completely different words entirely here now"),
      (4L, "the quick brown fox jumps over the lazy dog") // exact dup of 1
    ).toDF("doc_id", "text")
  }

  test("exactByKey keeps min-id representative with group counts") {
    import spark.implicits._
    val df = Seq((3L, "a"), (1L, "a"), (2L, "b")).toDF("id", "k")
    val out = Dedup.exactByKey(df, Seq("k"), "id").orderBy("k").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq(("a", 1L, 2L), ("b", 2L, 1L)))
  }

  test("jaccardPairs finds near and exact dups above threshold only") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .orderBy("da", "db").collect()
    val keys = pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq
    // 9 words -> 7 3-shingles; docs 1/2 share 6 of 8 distinct -> J = 0.75
    // docs 1/4 identical -> J = 1.0 (and 2/4 = 0.75); doc 3 matches none
    assert(keys == Seq((1L, 2L), (1L, 4L), (2L, 4L)))
    val j14 = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 4L).get
    assert(j14.getAs[Double]("jaccard") == 1.0)
    val j12 = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get
    assert(j12.getAs[Double]("jaccard") == 0.75)
  }

  test("minhash signature of identical docs is identical; est_sim = 1") {
    val cand = Dedup.minhashCandidates(docs, "doc_id", "text",
        n = 3, k = 16, bands = 4, minEst = 0.9)
      .collect()
    val exact = cand.find(r => r.getLong(0) == 1L && r.getLong(1) == 4L)
    assert(exact.isDefined && exact.get.getAs[Double]("est_sim") == 1.0)
  }

  test("minhashCrossCandidates pairs a new-shard dup against the corpus, " +
    "broadcasting the new side") {
    import spark.implicits._
    val newShard = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"), // dup of 1
      (101L, "nothing like anything in this corpus at all")
    ).toDF("doc_id", "text")
    val out = Dedup.minhashCrossCandidates(newShard, docs,
      "doc_id", "text", n = 3, k = 16, bands = 4, minEst = 0.9)
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // doc 100 ≡ corpus docs 1 and 4 (identical text → est 1.0);
    // 101 matches nothing; corpus-internal pairs (1,4) never emitted
    assert(got == Set((100L, 1L, 1.0), (100L, 4L, 1.0)))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"))
  }

  test("winnowing guarantee: a shared substring of w+k-1 chars always " +
    "yields a shared fingerprint; disjoint docs never pair") {
    import spark.implicits._
    // shared run: 34+ normalized chars embedded at different offsets
    val shared = "the quick brown fox jumps over me"  // 33 chars + pad
    val d = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"unrelated prefix words here $shared and a tail"),
      (3L, "totally different content with no overlap at all whatsoever")
    ).toDF("doc_id", "text")
    val pairs = Dedup.substringCandidates(d, "doc_id", "text",
        k = 25, w = 10, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // maxFpDf cap drops boilerplate fingerprints shared by everything
    val boiler = (1L to 20L).map(i => (i, s"$shared common to all $i"))
      .toDF("doc_id", "text")
    val capped = Dedup.substringCandidates(boiler, "doc_id", "text",
      k = 25, w = 10, minShared = 1, maxFpDf = Some(5))
    assert(capped.count() == 0) // every fingerprint has df 20 > 5
  }

  test("simhash: identical docs at hamming 0; near-dups within budget") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", 3,
        maxHamming = 10)
      .orderBy("da", "db").collect()
    val h14 = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 4L).get
    assert(h14.getAs[Long]("hamming") == 0L)
    // unrelated doc 3 never pairs with anything at hamming <= 10
    assert(!pairs.exists(r => r.getLong(0) == 3L || r.getLong(1) == 3L))
  }

  test("connectedComponents: transitive closure, singletons, chains") {
    import spark.implicits._
    // components: {1,2,3} via chain 1-2, 2-3; {7,9}; singleton {5}
    val pairs = Seq((1L, 2L), (2L, 3L), (9L, 7L)).toDF("da", "db")
    val nodes = Seq(1L, 2L, 3L, 5L, 7L, 9L).toDF("doc_id")
    val cc = Dedup.connectedComponents(pairs, nodes, "doc_id")
      .orderBy("id").collect()
    assert(cc.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (7L, 7L), (9L, 7L)))
  }

  test("greedy higher-id removable vs component-exact removable " +
      "diverge on a reversed star (the q318 policy comparison)") {
    import spark.implicits._
    // pairs (1,3) and (2,3): greedy removes only the higher id of
    // each pair = {3} → 1 doc; the component {1,2,3} keeps min-id 1
    // and removes {2,3} → 2 docs. Component ≥ greedy always (a pair's
    // higher id is never its component's min).
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("da", "db")
    val nodes = Seq(1L, 2L, 3L).toDF("doc_id")
    val greedy = pairs.select(col("db")).distinct().count()
    val ccRem = Dedup.connectedComponents(pairs, nodes, "doc_id")
      .where(col("id") =!= col("cluster")).collect()
      .map(_.getLong(0)).toSet
    assert(greedy == 1L)
    assert(ccRem == Set(2L, 3L))
  }

  test("connectedComponents: long chain converges (diameter > 1 round)") {
    import spark.implicits._
    val n = 20
    val pairs = (1 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("da", "db")
    val nodes = (1 to n).map(_.toLong).toDF("doc_id")
    // force the distributed loop — this test is about its convergence
    val cc = Dedup.connectedComponents(pairs, nodes, "doc_id",
      smallGraphEdges = 0L)
    assert(cc.select("cluster").distinct().count() == 1)
    assert(cc.filter(col("cluster") =!= 1L).count() == 0)
  }

  test("connectedComponents: 300-chain converges in O(log d) rounds " +
      "(pointer jumping — plain propagation would need 299)") {
    import spark.implicits._
    val n = 300
    val pairs = (1 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("da", "db")
    val nodes = (1 to n).map(_.toLong).toDF("doc_id")
    // maxIter 15 << diameter 299: only the path-halving jump gets there
    // (smallGraphEdges=0 forces the distributed loop under test)
    val cc = Dedup.connectedComponents(pairs, nodes, "doc_id",
      maxIter = 15, smallGraphEdges = 0L)
    assert(cc.filter(col("cluster") =!= 1L).count() == 0)
    assert(cc.count() == n)
  }

  test("connectedComponents: union-find fast path ≡ distributed loop") {
    import spark.implicits._
    // multi-shape graph: a chain, a triangle with a cross edge into the
    // chain's tail, a 2-clique, singletons, and out-of-order ids
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L),       // chain
      (20L, 21L), (21L, 22L), (22L, 20L),       // triangle
      (13L, 22L),                               // bridges chain↔triangle
      (31L, 30L),                               // 2-clique, reversed ids
      (41L, 40L), (40L, 7L)).toDF("da", "db")
    val nodes = (Seq(5L, 6L, 7L) ++ (10L to 13L) ++ (20L to 22L) ++
      Seq(30L, 31L, 40L, 41L)).toDF("doc_id")
    def run(threshold: Long) =
      Dedup.connectedComponents(pairs, nodes, "doc_id",
        smallGraphEdges = threshold)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq
    val fast = run(1000000L)
    val loop = run(0L)
    assert(fast == loop)
    // spot-check the bridged component collapsed to one min label
    assert(fast.filter(p => Seq(10L, 13L, 20L, 22L).contains(p._1))
      .map(_._2).distinct == Seq(10L))
  }

  test("connectedComponents: edges via unknown ids are inert on BOTH paths") {
    import spark.implicits._
    // 99 is not in nodes: (1,99),(99,2) must NOT bridge 1 and 2 —
    // and identically so regardless of which path the edge count picks
    val pairs = Seq((1L, 99L), (99L, 2L)).toDF("da", "db")
    val nodes = Seq(1L, 2L).toDF("doc_id")
    def run(threshold: Long) =
      Dedup.connectedComponents(pairs, nodes, "doc_id",
        smallGraphEdges = threshold)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq
    val expected = Seq((1L, 1L), (2L, 2L))
    assert(run(1000000L) == expected)
    assert(run(0L) == expected)
  }

  test("shingleSet: per-doc distinct, correct count, no duplicates") {
    val sh = Dedup.shingleSet(docs, "doc_id", "text", 3)
    val counts = sh.groupBy("doc_id").count().orderBy("doc_id").collect()
    // "the quick brown fox jumps over the lazy dog": 7 shingles, all
    // distinct
    assert(counts.head.getLong(1) == 7L)
    assert(sh.count() == sh.distinct().count())
  }

  test("keepBestPerCluster: argmax by (score, -id); salted two-level " +
      "variant is result-identical on a mega-cluster with ties") {
    import spark.implicits._
    // cluster 0 = mega-cluster (300 members) with the best score TIED
    // between ids 17 and 203 → keep the LOWER id (17); cluster 1000 is
    // a singleton; cluster 2000 has a strict best
    val clusters = ((0L until 300L).map(i => (i, 0L)) ++
      Seq((1000L, 1000L), (2000L, 2000L), (2001L, 2000L)))
      .toDF("id", "cluster")
    val scores = ((0L until 300L).map(i =>
      (i, if (i == 17 || i == 203) 9.5 else 1.0 + (i % 7) * 0.1)) ++
      Seq((1000L, 2.0), (2000L, 3.0), (2001L, 4.0)))
      .toDF("doc_id", "q")
    val plain = Dedup.keepBestPerCluster(clusters, scores, "doc_id", "q")
    val got = plain.orderBy("cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (0L, 17L, 300L, 9.5),
      (1000L, 1000L, 1L, 2.0),
      (2000L, 2001L, 2L, 4.0)))
    // the salted plan must produce the IDENTICAL frame (several salt
    // counts, including one that splits the tied ids across salts)
    Seq(2, 3, 16).foreach { k =>
      val salted = Dedup.keepBestPerClusterSalted(clusters, scores,
        "doc_id", "q", salts = k)
      assert(plain.exceptAll(salted).isEmpty &&
        salted.exceptAll(plain).isEmpty, s"salts=$k")
    }
  }

  test("editDistancePairs: substitution, insertion, deletion all found; d=2 rejected") {
    import spark.implicits._
    val df = Seq((1L, "abc"), (2L, "abd"), (3L, "ab"), (4L, "xyz"),
      (5L, "abcd")).toDF("id", "nm")
    val got = Dedup.editDistancePairs(df, "id", "nm")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 2L, 1L),  // abc ~ abd   substitution
      (1L, 3L, 1L),  // abc ~ ab    deletion
      (2L, 3L, 1L),  // abd ~ ab    deletion
      (1L, 5L, 1L),  // abc ~ abcd  insertion
      (2L, 5L, 1L))) // abd ~ abcd  insertion (of c)
    // NOT present: (3,5) d=2, anything with xyz
  }

  test("editDistancePairs ≡ brute-force levenshtein join (completeness)") {
    import spark.implicits._
    // adversarial mix: duplicates (d=0), repeated chars, empty string,
    // single chars, shared deletions that create d=2 candidates
    val strs = Seq("", "a", "b", "ab", "ba", "aa", "aab", "aba", "abc",
      "cab", "cb", "hello", "hallo", "hell", "helo", "hello", "shell")
    val df = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "nm")
    val fast = Dedup.editDistancePairs(df, "id", "nm")
      .as[(Long, Long, Long)].collect().toSet
    val a = df.select(col("id").as("ia"), col("nm").as("na"))
    val b = df.select(col("id").as("ib"), col("nm").as("nb"))
    val brute = a.crossJoin(b).filter(col("ia") < col("ib"))
      .withColumn("d", levenshtein(col("na"), col("nb")))
      .filter(col("d") <= 1)
      .select(col("ia"), col("ib"), col("d").cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(fast == brute)
  }

  test("editDistancePairs: maxVariantDf cap drops only hot-variant pairs") {
    import spark.implicits._
    // 5 strings all pairwise-adjacent through the hot variant "x"
    // plus an unrelated cold pair
    val df = Seq((1L, "xa"), (2L, "xb"), (3L, "xc"), (4L, "xd"),
      (5L, "xe"), (10L, "frog"), (11L, "frogs")).toDF("id", "nm")
    val uncapped = Dedup.editDistancePairs(df, "id", "nm")
      .as[(Long, Long, Long)].collect().toSet
    assert(uncapped.contains((10L, 11L, 1L)))
    assert(uncapped.count(_._1 <= 5) == 10) // C(5,2) via variant "x"
    val capped = Dedup.editDistancePairs(df, "id", "nm",
      maxVariantDf = Some(3)).as[(Long, Long, Long)].collect().toSet
    // the cold pair survives; hot-variant pairs… "xa"~"xb" also share
    // variants? deleting pos2: "x" (hot, capped); deleting pos1: "a"/"b"
    // differ — so capping "x" removes exactly the hub pairs
    assert(capped.contains((10L, 11L, 1L)))
    assert(capped.count(_._1 <= 5) == 0)
  }

  test("containmentPairs catches a quote inside a long doc that " +
      "Jaccard misses; orientation = (contained, container)") {
    import spark.implicits._
    val quote = "alpha beta gamma delta epsilon zeta"
    val filler = (1 to 120).map(i => s"w${(i * 7) % 40}").mkString(" ")
    val docs = Seq(
      (1L, quote),                 // the short doc
      (2L, s"$filler $quote"),     // quoted inside a much longer doc
      (3L, "totally different content here now")
    ).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, "doc_id", "text", n = 3,
        threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
    // the quote's shingles are fully inside doc 2 → containment 1.0
    assert(cont.exists { case (c, big, v) =>
      c == 1L && big == 2L && v == 1.0 })
    // symmetric Jaccard at the same bar finds NOTHING for this pair
    val jac = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.9).collect()
    assert(!jac.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
  }

  // quote-heavy corpus with corpus-wide boilerplate: short quotes
  // contained in long docs, a hot header shared by everyone, plus
  // unrelated docs — the shape where the naive inverted-index join
  // fans out on the hot shingles and the prefix filter must not
  // change the answer
  private def quoteCorpus = {
    import spark.implicits._
    val boiler = "standard legal disclaimer header text here"
    val quoteA = "alpha beta gamma delta epsilon zeta eta theta"
    val quoteB = "one two three four five six seven eight nine"
    val fillerA = (1 to 90).map(i => s"fa${(i * 3) % 55}").mkString(" ")
    val fillerB = (1 to 70).map(i => s"fb${(i * 11) % 45}").mkString(" ")
    Seq(
      (1L, s"$boiler $quoteA"),
      (2L, s"$boiler $fillerA $quoteA"),      // contains 1's quote
      (3L, s"$boiler $fillerB $quoteB"),
      (4L, s"$boiler $quoteB"),               // contained in 3
      (5L, s"$boiler unrelated totally fresh material present"),
      (6L, s"$boiler $quoteA $quoteB")        // contains both quotes
    ).toDF("doc_id", "text")
  }

  test("containmentPairsPrefix ≡ containmentPairs on a quote-heavy " +
      "boilerplate corpus (exactness of the prefix filter)") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("contained", "container").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    for (t <- Seq(0.5, 0.8, 0.95)) {
      val naive = canon(Dedup.containmentPairs(quoteCorpus, "doc_id",
        "text", n = 3, threshold = t))
      val pfx = canon(Dedup.containmentPairsPrefix(quoteCorpus,
        "doc_id", "text", n = 3, threshold = t))
      assert(pfx == naive, s"prefix != naive at t=$t")
      assert(naive.nonEmpty, s"degenerate fixture at t=$t")
    }
  }

  test("native RankedShinglesAgg prefix ≡ declarative window twin " +
      "(jaccardPairsPrefix and containmentPairsPrefix)") {
    def canonJ(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("da", "db").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSeq
    def canonC(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("contained", "container").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    for (t <- Seq(0.5, 0.8)) {
      assert(
        canonJ(Dedup.jaccardPairsPrefix(quoteCorpus, "doc_id", "text",
          n = 3, threshold = t, nativePrefix = true)) ==
        canonJ(Dedup.jaccardPairsPrefix(quoteCorpus, "doc_id", "text",
          n = 3, threshold = t, nativePrefix = false)),
        s"jaccard native != declarative at t=$t")
      assert(
        canonC(Dedup.containmentPairsPrefix(quoteCorpus, "doc_id",
          "text", n = 3, threshold = t, nativePrefix = true)) ==
        canonC(Dedup.containmentPairsPrefix(quoteCorpus, "doc_id",
          "text", n = 3, threshold = t, nativePrefix = false)),
        s"containment native != declarative at t=$t")
    }
  }

  test("pre-built rankedShingleRows artifact ≡ self-built frames in " +
      "both PPJoin consumers (the q244 shared-artifact contract)") {
    def canonJ(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("da", "db").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSeq
    def canonC(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("contained", "container").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    val ranked = Dedup.rankedShingleRows(quoteCorpus, "doc_id", "text",
      n = 3).localCheckpoint()
    for (t <- Seq(0.5, 0.8)) {
      assert(
        canonJ(Dedup.jaccardPairsPrefix(quoteCorpus, "doc_id", "text",
          n = 3, threshold = t, ranked = Some(ranked))) ==
        canonJ(Dedup.jaccardPairsPrefix(quoteCorpus, "doc_id", "text",
          n = 3, threshold = t)),
        s"jaccard artifact != self-built at t=$t")
      assert(
        canonC(Dedup.containmentPairsPrefix(quoteCorpus, "doc_id",
          "text", n = 3, threshold = t, rankedIn = Some(ranked))) ==
        canonC(Dedup.containmentPairsPrefix(quoteCorpus, "doc_id",
          "text", n = 3, threshold = t)),
        s"containment artifact != self-built at t=$t")
    }
    // the artifact itself: pos is a 1..n permutation per doc, n is the
    // doc's distinct-shingle count, order is ascending global dfreq
    val byDoc = ranked.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .groupBy(_._1)
    byDoc.foreach { case (d, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length).toSeq,
        s"doc $d pos not a permutation")
      assert(rows.forall(_._4 == rows.length), s"doc $d n mismatch")
    }
  }

  test("containmentPairs maxShingleDf: capped run reports lower-bound " +
      "containment over exact sizes; drops only stop-shingle overlap") {
    val un = Dedup.containmentPairs(quoteCorpus, "doc_id", "text",
        n = 3, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    // cap at 3: the 6-doc boilerplate header shingles are dropped from
    // candidate generation/intersection; quote shingles (df ≤ 3) stay
    val capped = Dedup.containmentPairs(quoteCorpus, "doc_id", "text",
        n = 3, threshold = 0.5, maxShingleDf = Some(3))
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    assert(capped.nonEmpty)
    capped.foreach { case (k, (inter, nS, nB, c)) =>
      val (uInter, uS, uB, uC) = un(k)
      assert(nS == uS && nB == uB, s"sizes must stay exact for $k")
      assert(inter <= uInter && c <= uC + 1e-12,
        s"capped containment must lower-bound the exact value for $k")
    }
    // capped finds a strict subset of pairs (boilerplate-only overlap
    // pairs fall below threshold), never a new pair
    assert(capped.keySet.subsetOf(un.keySet))
    assert(capped.keySet != un.keySet,
      "fixture should have at least one pair held up only by the " +
      "boilerplate shingles")
  }

  test("noveltyRates: first doc fully novel, exact copy fully stale, " +
      "half-quote half-novel") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),      // 6 shingles, all first
      (2L, "a b c d e f g h"),      // exact copy → novelty 0
      (3L, "a b c d x y z w v u"))  // shares prefix shingles
      .toDF("doc_id", "text")
    val got = Dedup.noveltyRates(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((6L, 6L, 1000000L)))
    assert(got(2L) == ((6L, 0L, 0L)))
    // doc 3: 8 shingles; "a b c"/"b c d" seen before → 6 novel
    assert(got(3L) == ((8L, 6L, 750000L)))
  }

  test("clusterCards: keep-best canonical, majority-lang tie-break, " +
      "sorted langs, singletons dropped") {
    import spark.implicits._
    // cluster 1 = {1,2,3}; cluster 10 = {10,11}; 99 is a singleton
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L), (99L, 99L)).toDF("id", "cluster")
    val docs = Seq(
      (1L, "en", 50L), (2L, "de", 80L), (3L, "de", 80L), // tie: min id
      (10L, "fr", 10L), (11L, "en", 90L),                // lang tie 1-1
      (99L, "zh", 7L)).toDF("doc_id", "lang", "n_chars")
    val got = Dedup.clusterCards(clusters, docs, "doc_id", "lang",
        "n_chars")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5))).toSeq
    assert(got == Seq(
      // canonical: chars 80 tie between 2 and 3 → lower id 2;
      // majority lang: de×2 beats en; langs sorted distinct
      (1L, 3L, 2L, 210L, "de,en", "de"),
      // majority tie en-fr → lexicographic 'en'
      (10L, 2L, 11L, 100L, "en,fr", "en")), got.toString)
  }

  test("lineDedup keeps first occurrence, short lines always survive") {
    import spark.implicits._
    // doc 1: HEADER / body-a / x        (x < minChars: always kept)
    // doc 2: HEADER / body-a / x        (HEADER+body dup of doc 1)
    // doc 3: body-a at pos 0 — still a later occurrence than doc 1 pos 1
    val docs = Seq(
      (1L, "LONG SHARED HEADER\nthe first body line\nx"),
      (2L, "LONG SHARED HEADER\nthe first body line\nx"),
      (3L, "the first body line\nfresh content here")
    ).toDF("doc_id", "text").repartition(5)
    val got = Dedup.lineDedup(docs, "doc_id", "text", minChars = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 3L, 0L, "LONG SHARED HEADER\nthe first body line\nx"),
      (2L, 3L, 2L, "x"),
      (3L, 2L, 1L, "fresh content here")))
  }

  test("lineDedup: doc whose every line is removed yields empty text") {
    import spark.implicits._
    val docs = Seq((1L, "dup line one\ndup line two"),
      (2L, "dup line one\ndup line two")).toDF("doc_id", "text")
    val got = Dedup.lineDedup(docs, "doc_id", "text", minChars = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq((1L, 0L, "dup line one\ndup line two"),
      (2L, 2L, "")))
  }

  test("duplicatedSpans merges overlapping windows into exact spans") {
    import spark.implicits._
    // winLen=4, stride=2: docs 1 and 2 share chars 1..8 ("abcdefgh");
    // doc 3 is all-unique. Windows in doc1 at p=1,3,5,7,9,...
    // shared windows: p=1 "abcd", p=3 "cdef", p=5 "efgh" → one island
    // covering [1, 8] = 8 chars.
    val docs = Seq(
      (1L, "abcdefgh" + "qqqrrrsssttt"),     // 20 chars
      (2L, "abcdefgh" + "uuuvvvwwwxxx"),
      (3L, "zzzzyyyyzzzzyyyyzzzz")           // self-repeats, single doc
    ).toDF("doc_id", "text").repartition(3)
    val got = Dedup.duplicatedSpans(docs, "doc_id", "text",
        winLen = 4, stride = 2, minDocs = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // 20 chars, winLen 4, stride 2 → positions 1,3,...,17 = 9 windows
    assert(got.toSeq == Seq(
      (1L, 9L, 3L, 1L, 8L, 400000L),
      (2L, 9L, 3L, 1L, 8L, 400000L),
      (3L, 9L, 0L, 0L, 0L, 0L)))
  }

  test("duplicatedSpans: disjoint shared regions give separate islands") {
    import spark.implicits._
    // shared prefix (1..4) and shared suffix (13..16), unique middle
    val docs = Seq(
      (1L, "SAME" + "abcdefgh" + "TAIL"),
      (2L, "SAME" + "12345678" + "TAIL")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "doc_id", "text",
        winLen = 4, stride = 4, minDocs = 2) // windows at p=1,5,9,13
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq((1L, 2L, 2L, 8L), (2L, 2L, 2L, 8L)))
  }

  test("keepFirstPerKey is deterministic and partitioning-invariant") {
    import spark.implicits._
    // key 1: three versions — ts ties broken by the payload columns
    val rows = Seq(
      (1L, 10L, "b", 2.0), (1L, 10L, "a", 9.0), (1L, 5L, "z", 1.0),
      (2L, 7L, "only", 4.0))
    for (parts <- Seq(1, 3, 7)) {
      val df = rows.toDF("event_id", "ts", "tag", "value")
        .repartition(parts)
      val got = Dedup.keepFirstPerKey(df, Seq("event_id"), Seq("ts"))
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getDouble(3)))
      assert(got.toSeq == Seq((1L, 5L, "z", 1.0), (2L, 7L, "only", 4.0)))
    }
    // ts tie: (10,"a",9.0) < (10,"b",2.0) lexicographically by tag
    val tied = rows.filter(_._2 == 10L).toDF("event_id", "ts", "tag", "value")
    val Array(r) = Dedup.keepFirstPerKey(tied, Seq("event_id"), Seq("ts"))
      .collect()
    assert((r.getString(2), r.getDouble(3)) == ("a", 9.0))
  }

  private def shingleIndexCorpus = {
    import spark.implicits._
    // 1/2/4 mutually near-dup; 5 a near-dup of 2 arriving in the
    // increment; 3 and 6 match nothing
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words entirely here now"),
      (4L, "the quick brown fox jumps over the lazy dog"),
      (5L, "a quick brown fox jumps over the lazy cat"),
      (6L, "nothing shared with anything else at all then")
    ).toDF("doc_id", "text")
  }

  test("shingle index: build∘append∘query ≡ full-corpus pairs " +
      "restricted to increment-touching, across bucket counts") {
    val all = shingleIndexCorpus
    val corpus = all.where(col("doc_id") <= 4)
    val inc = all.where(col("doc_id") >= 5)
    // full-rebuild truth, restricted to pairs touching the increment
    val truth = Dedup.jaccardPairsPrefix(all, "doc_id", "text",
        n = 3, threshold = 0.5)
      .where(col("da") >= 5 || col("db") >= 5)
      .orderBy("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(truth.nonEmpty) // live branch: 2–5 share most shingles
    for (buckets <- Seq(1, 4, 16)) {
      val dir = tempDir("shidx").toString
      Dedup.writeShingleIndex(corpus, dir, n = 3,
        shingleBuckets = buckets)
      Dedup.shingleFamily().append(dir, inc)
      val got = Dedup.jaccardPairsAgainstIndex(spark, dir, 0.5,
          inc.select(col("doc_id")))
        .orderBy("da", "db").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSeq
      assert(got == truth, s"buckets=$buckets")
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(dir))
    }
  }

  test("shingle index: two successive appends ≡ one; corpus-internal " +
      "pairs never re-emitted") {
    val all = shingleIndexCorpus
    val dir = tempDir("shidx2").toString
    Dedup.writeShingleIndex(all.where(col("doc_id") <= 2), dir, n = 3,
      shingleBuckets = 4)
    Dedup.shingleFamily().append(dir, all.where(col("doc_id").isin(3L, 4L)))
    Dedup.shingleFamily().append(dir, all.where(col("doc_id") >= 5))
    // querying with the SECOND increment only: (1,4)/(2,4)/(1,2) are
    // corpus-or-earlier-increment-internal — absent by contract
    val got = Dedup.jaccardPairsAgainstIndex(spark, dir, 0.5,
        all.where(col("doc_id") >= 5).select(col("doc_id")))
      .orderBy("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.forall { case (a, b) => a >= 5 || b >= 5 })
    // and the increment-touching set matches the full-rebuild truth
    val truth = Dedup.jaccardPairsPrefix(all, "doc_id", "text",
        n = 3, threshold = 0.5)
      .where(col("da") >= 5 || col("db") >= 5)
      .orderBy("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == truth)
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("shingle index DELETE: tombstoned docs vanish from pair sets " +
      "(ranks recomputed as if they never existed); purge ≡ logical") {
    val all = shingleIndexCorpus
    val dir = tempDir("shidx3").toString
    Dedup.writeShingleIndex(all.where(col("doc_id") <= 4), dir, n = 3,
      shingleBuckets = 4)
    Dedup.shingleFamily().append(dir, all.where(col("doc_id") >= 5))
    // delete doc 2 (a member of the 1/2/4/5 near-dup family)
    Dedup.shingleFamily().delete(dir,
      all.where(col("doc_id") === 2).select(col("doc_id")))
    val truth = Dedup.jaccardPairsPrefix(
        all.where(col("doc_id") =!= 2), "doc_id", "text",
        n = 3, threshold = 0.5)
      .where(col("da") >= 5 || col("db") >= 5)
      .orderBy("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    def run() = Dedup.jaccardPairsAgainstIndex(spark, dir, 0.5,
        all.where(col("doc_id") >= 5).select(col("doc_id")))
      .orderBy("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    val logical = run()
    assert(logical == truth)
    assert(logical.forall { case (a, b, _, _) => a != 2L && b != 2L })
    // physical purge: tombstones gone, postings thinner, same answers
    val before = idxDf(dir, "postings").count()
    Dedup.shingleFamily().purgeTombstones(spark, dir)
    assert(!idxDirExists(dir, "tombstones"))
    assert(idxDf(dir, "postings").count() < before)
    assert(run() == truth)
    org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("shingle index UPSERT: a re-crawled doc's stale shingles die, " +
      "its new text pairs — ≡ rebuild with mutated corpus; " +
      "upsert-twice ≡ once; purge ≡ logical") {
    import spark.implicits._
    val all = shingleIndexCorpus
    val dir = tempDir("shidxup").toString
    try {
      Dedup.writeShingleIndex(all, dir, n = 3, shingleBuckets = 4)
      // doc 3 (matched nothing) is re-crawled INTO the dup family
      val recrawl = Seq(
        (3L, "the quick brown fox jumps over the lazy dog")
      ).toDF("doc_id", "text")
      Dedup.shingleFamily().upsert(dir, recrawl)
      val mutated = all.where(col("doc_id") =!= 3).unionAll(recrawl)
      val truth = Dedup.jaccardPairsPrefix(mutated, "doc_id", "text",
          n = 3, threshold = 0.5)
        .where(col("da") === 3 || col("db") === 3)
        .orderBy("da", "db").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSeq
      assert(truth.nonEmpty) // the re-crawl joined the 1/2/4 family
      def run() = Dedup.jaccardPairsAgainstIndex(spark, dir, 0.5,
          Seq(3L).toDF("doc_id"))
        .orderBy("da", "db").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSeq
      assert(run() == truth)
      // idempotence
      Dedup.shingleFamily().upsert(dir, recrawl)
      assert(run() == truth)
      // physical purge of the dead generations: answers unchanged
      val before = idxDf(dir, "postings").count()
      Dedup.shingleFamily().purgeTombstones(spark, dir)
      assert(!idxDirExists(dir, "tombstones"))
      assert(idxDf(dir, "postings").count() < before)
      assert(run() == truth)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("fingerprint index UPSERT: re-crawled text re-winnowed, stale " +
      "fingerprints dead — ≡ rebuild with mutated corpus") {
    import spark.implicits._
    val all = shingleIndexCorpus
    val dir = tempDir("fpidxup").toString
    try {
      Dedup.writeFingerprintIndex(all, dir, k = 25, w = 10,
        fpBuckets = 4)
      // doc 6 re-crawled to contain doc 1's text verbatim (long
      // shared substring ⇒ winnowing guarantees a shared fingerprint)
      val recrawl = Seq(
        (6L, "prefix text the quick brown fox jumps over the lazy dog")
      ).toDF("doc_id", "text")
      Dedup.fingerprintFamily().upsert(dir, recrawl)
      val mutated = all.where(col("doc_id") =!= 6).unionAll(recrawl)
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("da", "db").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val truth = canon(Dedup.substringCandidates(mutated, "doc_id",
          "text", k = 25, w = 10, minShared = 1)
        .where(col("da") === 6 || col("db") === 6))
      assert(truth.nonEmpty)
      assert(canon(Dedup.substringCandidatesAgainstIndex(spark, dir,
        minShared = 1, Seq(6L).toDF("doc_id"))) == truth)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("fingerprint index: build∘append∘query ≡ substringCandidates " +
      "restricted to increment-touching pairs; tombstones respected") {
    val all = shingleIndexCorpus
    val dir = tempDir("fpidx").toString
    try {
      Dedup.writeFingerprintIndex(all.where(col("doc_id") <= 4), dir,
        k = 25, w = 10, fpBuckets = 4)
      Dedup.fingerprintFamily().append(dir, all.where(col("doc_id") >= 5))
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("da", "db").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val truth = canon(Dedup.substringCandidates(all, "doc_id",
          "text", k = 25, w = 10, minShared = 1)
        .where(col("da") >= 5 || col("db") >= 5))
      assert(truth.nonEmpty) // 2 and 5 share a long substring
      val got = canon(Dedup.substringCandidatesAgainstIndex(spark, dir,
        minShared = 1, all.where(col("doc_id") >= 5)
          .select(col("doc_id"))))
      assert(got == truth)
      // tombstoning doc 2 removes its pairs, ≡ a rebuild without it
      Dedup.shingleFamily().delete(dir, // same tombstones layout
        all.where(col("doc_id") === 2).select(col("doc_id")))
      val truth2 = canon(Dedup.substringCandidates(
          all.where(col("doc_id") =!= 2), "doc_id", "text",
          k = 25, w = 10, minShared = 1)
        .where(col("da") >= 5 || col("db") >= 5))
      assert(canon(Dedup.substringCandidatesAgainstIndex(spark, dir,
        minShared = 1, all.where(col("doc_id") >= 5)
          .select(col("doc_id")))) == truth2)
      // physical purge of the fbucket layout: tombstones gone,
      // postings thinner, same answers
      val before = idxDf(dir, "postings").count()
      Dedup.fingerprintFamily().purgeTombstones(spark, dir)
      assert(!idxDirExists(dir, "tombstones"))
      assert(idxDf(dir, "postings").count() < before)
      assert(canon(Dedup.substringCandidatesAgainstIndex(spark, dir,
        minShared = 1, all.where(col("doc_id") >= 5)
          .select(col("doc_id")))) == truth2)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("fingerprint index COMPACTION: file count shrinks after two " +
      "appends, candidate pairs bit-identical through the rewrite") {
    val all = shingleIndexCorpus
    val dir = tempDir("fpidxc").toString
    def parquetFiles(): Int = {
      def walk(f: java.io.File): Int = {
        val kids = Option(f.listFiles()).getOrElse(Array.empty)
        kids.count(k => k.isFile && k.getName.endsWith(".parquet")) +
          kids.filter(_.isDirectory).map(walk).sum
      }
      walk(new java.io.File(
        graft.sink.IndexLayout.resolve(spark, dir, "postings")))
    }
    try {
      Dedup.writeFingerprintIndex(all.where(col("doc_id") <= 2), dir,
        k = 25, w = 10, fpBuckets = 4)
      Dedup.fingerprintFamily().append(dir,
        all.where(col("doc_id").isin(3L, 4L)))
      Dedup.fingerprintFamily().append(dir, all.where(col("doc_id") >= 5))
      def run() = Dedup.substringCandidatesAgainstIndex(spark, dir,
          minShared = 1, all.where(col("doc_id") >= 5)
            .select(col("doc_id")))
        .orderBy("da", "db").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val before = run()
      assert(before.nonEmpty)
      val nBefore = parquetFiles()
      val (fb, fa) = Dedup.fingerprintFamily().compact(spark, dir)
      assert(fb == nBefore && fa < fb, s"$fb -> $fa")
      assert(parquetFiles() == fa)
      assert(run() == before)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("shingle index COMPACTION: file count shrinks after two " +
      "appends, pair results bit-identical through the rewrite") {
    val all = shingleIndexCorpus
    val dir = tempDir("shidx4").toString
    def parquetFiles(): Int = {
      def walk(f: java.io.File): Int = {
        val kids = Option(f.listFiles()).getOrElse(Array.empty)
        kids.count(k => k.isFile && k.getName.endsWith(".parquet")) +
          kids.filter(_.isDirectory).map(walk).sum
      }
      walk(new java.io.File(dir))
    }
    try {
      Dedup.writeShingleIndex(all.where(col("doc_id") <= 2), dir,
        n = 3, shingleBuckets = 4)
      Dedup.shingleFamily().append(dir, all.where(col("doc_id").isin(3L, 4L)))
      Dedup.shingleFamily().append(dir, all.where(col("doc_id") >= 5))
      def run() = Dedup.jaccardPairsAgainstIndex(spark, dir, 0.5,
          all.where(col("doc_id") >= 5).select(col("doc_id")))
        .orderBy("da", "db").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSeq
      val truth = run()
      assert(truth.nonEmpty)
      val filesBefore = parquetFiles()
      val (b, a) = Dedup.shingleFamily().compact(spark, dir)
      assert(b > a, s"compaction did not shrink: $b -> $a")
      // grace GC keeps the pre-compaction trees for stale readers;
      // the DISK claim holds after the post-grace full sweep
      graft.sink.IndexLayout.gcUnreferenced(spark, dir,
        graft.sink.IndexManifest.read(spark, dir).get)
      assert(parquetFiles() < filesBefore)
      assert(run() == truth)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }
}
