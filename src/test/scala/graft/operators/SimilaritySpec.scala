package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Similarity-search semantics: exact top-k correctness against a
  * hand-computed answer, and LSH recall of planted near-duplicates.
  */
class SimilaritySpec extends SparkSpec {

  private def vecs = {
    import spark.implicits._
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),  // near 0
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),  // orthogonal to 0
      (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f)), // opposite of 0
      (4L, Array(1.0f, 0.01f, 0.0f, 0.0f))  // nearest to 0
    ).toDF("vec_id", "embedding")
  }

  test("bruteForceTopK ranks by exact cosine, excludes self") {
    val top = Similarity.bruteForceTopK(
        vecs.filter(col("vec_id") === 0), vecs, k = 3)
      .orderBy("rank").collect()
    assert(top.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(4L, 1L, 2L))
    assert(top.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
    assert(top.head.getAs[Double]("sim") > 0.999)
    assert(!top.exists(_.getAs[Long]("neighbor_id") == 0L)) // no self
  }

  test("cosine column matches hand-computed values") {
    import spark.implicits._
    val df = Seq((Array(3.0f, 4.0f), Array(4.0f, 3.0f)))
      .toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
    assert(math.abs(df.first().getDouble(0) - 24.0 / 25.0) < 1e-12)
  }

  test("lshNearDupPairs recalls an exact duplicate pair") {
    import spark.implicits._
    // 40 random-ish vectors plus one exact duplicate pair (100, 101)
    val base = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(d =>
        math.sin(i * 31 + d * 7).toFloat))
    }
    val dup = Array.tabulate(8)(d => math.cos(d * 13).toFloat)
    val df = (base :+ (100L, dup) :+ (101L, dup))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.lshNearDupPairs(df, threshold = 0.99,
      tables = 6, planesPerTable = 4, dims = 8)
    val found = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    // identical vectors share every bucket in every table -> always found
    assert(found.contains((100L, 101L)))
    val sim = pairs.filter(col("da") === 100L).first().getAs[Double]("sim")
    assert(sim == 1.0)
  }

  test("LshKernel.buckets ≡ per-table literal-array lshTableBucket") {
    import spark.implicits._
    val df = (0L until 50L).map { i =>
      (i, Array.tabulate(16)(d => math.sin(i * 17 + d * 3)))
    }.toDF("id", "e")
    val viaKernel = df.select(col("id"),
        posexplode(graft.functions.Lsh.buckets(col("e"), 4, 5, 16)))
      .select(col("id"), col("pos").as("t"), col("col").as("bk"))
    val viaLiterals = df.select(col("id"), explode(array(
        (0 until 4).map(t => struct(lit(t).as("t"),
          Similarity.lshTableBucket(col("e"), t, 5, 16).as("bk"))): _*))
        .as("x"))
      .select(col("id"), col("x.t"), col("x.bk"))
    assert(viaKernel.except(viaLiterals).count() == 0 &&
      viaLiterals.except(viaKernel).count() == 0)
  }

  test("semDedup flags only the lower-id-witnessed near-duplicate") {
    // 2 centroids = vecs 0 and 1; cells: {0: [0,4], 1: [1,2,3]}.
    // cos(0,4) ≈ 0.99995 ≥ 0.99 ⇒ 4 is the redundant copy (0 survives
    // as the lower-id representative); cell 1's pairs top out at ~0.11.
    val out = Similarity.semDedup(vecs, threshold = 0.99, nCentroids = 2)
      .orderBy("vec_id").collect()
    assert(out.map(_.getAs[Long]("vec_id")).toSeq == (0L to 4L))
    val dups = out.filter(_.getAs[Boolean]("semdup"))
      .map(_.getAs[Long]("vec_id")).toSeq
    assert(dups == Seq(4L))
    val cells = out.map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    assert(cells(0L) == 0L && cells(4L) == 0L)
    assert(cells(1L) == 1L && cells(2L) == 1L && cells(3L) == 1L)
  }

  test("trainedCentroids: iters=0 ≡ seeds, k=1 converges to the mean, " +
      "deterministic, and the consumers' plan shape is unchanged") {
    val seeded = Similarity.seedCentroids(vecs, 2)
      .select("cen_id").collect().map(_.getLong(0)).toSeq.sorted
    val t0 = Similarity.trainedCentroids(vecs, 2, 0)
      .select("cen_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(t0 == seeded)
    // k=1: every vector lands in the single cell, so one Lloyd step is
    // exactly the rounded per-dimension mean of all five vectors
    val m = Similarity.trainedCentroids(vecs, 1, 1).first()
    assert(m.getSeq[Double](m.fieldIndex("cen_e")).toList ==
      List(0.38, 0.222, 0.0, 0.0))
    // 6-decimal rounding each iteration pins run-to-run determinism
    val a = Similarity.trainedCentroids(vecs, 2, 3)
      .orderBy("cen_id").collect().toSeq
    val b = Similarity.trainedCentroids(vecs, 2, 3)
      .orderBy("cen_id").collect().toSeq
    assert(a == b)
    // trained cells ride the same semDedup plan (one row per vector) —
    // and demonstrate the recall gain: the seeded split put 1 in the
    // other cell, hiding the (0,1) pair at cos 0.99388 ≥ 0.99; Lloyd
    // iterations pull 0, 1 and 4 into one cell, so BOTH redundant
    // copies are witnessed by the lower-id representative 0.
    val out = Similarity.semDedup(vecs, threshold = 0.99, nCentroids = 2,
        trainIters = 2)
      .orderBy("vec_id").collect()
    assert(out.map(_.getAs[Long]("vec_id")).toSeq == (0L to 4L))
    assert(out.filter(_.getAs[Boolean]("semdup"))
      .map(_.getAs[Long]("vec_id")).toSeq == Seq(1L, 4L))
  }

  test("Lloyd loops keep the schema and values of the SQL-rebuilt means") {
    import org.apache.spark.sql.types._
    // the centroid arrays were rebuilt in SQL by
    // transform(array_sort(collect_list(struct(p, m))), _.m); the
    // driver rebuild must give the same frame, nullability included
    val means = ArrayType(DoubleType, containsNull = true)
    val km = Similarity.trainedCentroids(vecs, 2, 2)
    assert(km.schema == StructType(Seq(StructField("cen_id", LongType),
      StructField("cen_e", means, nullable = false),
      StructField("cen_nrm", DoubleType))))
    assert(km.orderBy("cen_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq ==
      Seq(0L -> Seq(0.966667, 0.036667, 0.0, 0.0),
        1L -> Seq(-0.5, 0.5, 0.0, 0.0)))
    val pq = Similarity.trainedPqCentroids(vecs, dims = 4, m = 2,
      nCentroids = 2, iters = 2)
    assert(pq.schema == StructType(Seq(
      StructField("j", IntegerType, nullable = false),
      StructField("cen_id", LongType),
      StructField("cv", means, nullable = false))))
    assert(pq.orderBy("j", "cen_id").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2))).toSeq ==
      Seq((0, 0L, Seq(0.966667, 0.036667)), (0, 1L, Seq(-0.5, 0.5)),
        (1, 0L, Seq(0.0, 0.0))))
  }

  test("ivfPqResidualTopK warns on the seeded (trainIters=0) path only") {
    // the measured recall trap (PLANS.md round 6): seeded residual PQ
    // underperforms the global codebook; the warning nudges production
    // callers toward trainedCentroids while the catalog keeps the
    // oracle-replayable seeded shape
    assert(Similarity.seededResidualWarning(0).exists(
      _.contains("trainIters")))
    assert(Similarity.seededResidualWarning(3).isEmpty)
    // and the seeded result itself is unchanged by the guard: an exact
    // duplicate of the query still ranks first in its cell
    import spark.implicits._
    val base = (0L until 24L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val top = Similarity.ivfPqResidualTopK(
        base.filter(col("vec_id") === 5), base, k = 3,
        nCells = 4, nprobe = 2, dims = 8, m = 4, nCentroids = 4)
      .orderBy("rank").collect()
    assert(top.nonEmpty && top.head.getAs[Long]("rank") == 1L)
  }

  test("knnClassify takes the majority label, ties to the smaller") {
    import spark.implicits._
    val labeled = vecs.join(
      Seq((1L, 1), (2L, 2), (3L, 2), (4L, 1)).toDF("vec_id", "label"),
      Seq("vec_id"))
    // k=3 nearest to vec 0: 4 (0.99995), 1 (0.99388), 2 (0.0)
    // ⇒ labels (1, 1, 2) ⇒ majority 1 with 2 votes
    val maj = Similarity.knnClassify(
        vecs.filter(col("vec_id") === 0), labeled, k = 3)
      .first()
    assert(maj.getAs[Int]("pred_label") == 1 &&
      maj.getAs[Long]("n_votes") == 2L)
    // k=2 with labels 4→2, 1→1 ⇒ 1-vote tie ⇒ smaller label wins
    val relabeled = vecs.join(
      Seq((1L, 1), (2L, 3), (3L, 3), (4L, 2)).toDF("vec_id", "label"),
      Seq("vec_id"))
    val tie = Similarity.knnClassify(
        vecs.filter(col("vec_id") === 0), relabeled, k = 2)
      .first()
    assert(tie.getAs[Int]("pred_label") == 1 &&
      tie.getAs[Long]("n_votes") == 1L)
  }
  test("randomProject preserves pairwise distance structure (JL)") {
    val src = new java.io.File("/root/testdata/sf0.001/embeddings.parquet")
    assume(src.exists(), "driver testdata not present")
    val emb = spark.read.parquet(src.toString).limit(40)
    val proj = Similarity.randomProject(emb, outDims = 16, dims = 64)
      .groupBy("vec_id")
      .agg(org.apache.spark.sql.functions.collect_list(
        org.apache.spark.sql.functions.struct(col("dim"), col("v")))
        .as("pv"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .sortBy(_.getLong(0)).map(_.getDouble(1)).toArray)
      .toMap
    val orig = emb.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ids = orig.keys.toSeq.sorted
    val pairs = for (i <- ids.indices; j <- (i + 1) until ids.size)
      yield (ids(i), ids(j))
    val ratios = pairs.map { case (a, b) =>
      d2(proj(a), proj(b)) / d2(orig(a), orig(b)) }
    // JL at 16 dims: squared-distance ratios concentrate around 1 -
    // a loose band (no ratio collapses to 0 or explodes) is the
    // operator-level guarantee worth pinning
    assert(ratios.forall(r => r > 0.2 && r < 3.0),
      s"distortion out of band: min ${ratios.min} max ${ratios.max}")
    // deterministic: same plane family every run
    val again = Similarity.randomProject(emb, outDims = 16, dims = 64)
      .orderBy("vec_id", "dim").collect()
    val first = Similarity.randomProject(emb, outDims = 16, dims = 64)
      .orderBy("vec_id", "dim").collect()
    assert(again.toSeq == first.toSeq)
  }
  test("topPrincipalComponent recovers a planted dominant direction") {
    import spark.implicits._
    // 4-d vectors spread along axis 1 (variance ~25) with small spread
    // on axis 3 (variance ~0.01): the top PC must align with axis 1
    val rows = (0 until 20).map { i =>
      val t = (i - 10).toDouble / 2.0
      val n = (i % 3 - 1).toDouble / 10.0
      (i.toLong, Array(0.0f, t.toFloat, 0.0f, n.toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val pc = Similarity.topPrincipalComponent(df, dims = 4, iters = 3)
      .orderBy("dim").collect().map(_.getDouble(1))
    val nrm = math.sqrt(pc.map(x => x * x).sum)
    assert(math.abs(nrm - 1.0) < 1e-4, s"unit norm, got $nrm")
    assert(math.abs(pc(1)) > 0.999, s"dominant axis, got ${pc.toSeq}")
    assert(math.abs(pc(0)) < 1e-3 && math.abs(pc(2)) < 1e-3)
    // deterministic across runs
    val again = Similarity.topPrincipalComponent(df, dims = 4, iters = 3)
      .orderBy("dim").collect().map(_.getDouble(1))
    assert(again.toSeq == pc.toSeq)
    // projection onto the component recovers the planted coordinate
    // (up to global sign): proj_i ≈ ±(t_i − mean t)
    val proj = Similarity.pcaProject(df, dims = 4, iters = 3)
      .orderBy("vec_id").collect().map(_.getDouble(1))
    val ts = rows.map(_._2(1).toDouble)
    val tc = ts.map(_ - ts.sum / ts.size)
    val sign = if (proj(0) * tc(0) >= 0) 1.0 else -1.0
    proj.zip(tc).foreach { case (p, t) =>
      assert(math.abs(p - sign * t) < 0.01, s"proj $p vs centered $t")
    }
  }
  test("principalComponents deflation recovers the SECOND direction") {
    import spark.implicits._
    // dominant spread on axis 1 (t, antisymmetric about the center),
    // secondary on axis 3 (u = |i-9.5|/6, SYMMETRIC about the center,
    // so cov(t, u) is exactly 0 - a correlated second coordinate
    // would legitimately tilt the top component): component 0 ->
    // axis 1, component 1 -> axis 3, approximately orthogonal
    val rows = (0 until 20).map { i =>
      val t = (i - 10).toDouble / 2.0
      val u = math.abs(i - 9.5) / 6.0
      (i.toLong, Array(0.0f, t.toFloat, 0.0f, u.toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val pcs = Similarity.principalComponents(df, dims = 4, iters = 3,
        nComponents = 2)
      .orderBy("component", "dim").collect()
      .groupBy(_.getLong(0))
      .map { case (c, rs) => c -> rs.sortBy(_.getLong(1))
        .map(_.getDouble(2)) }
    val c0 = pcs(0L); val c1 = pcs(1L)
    assert(math.abs(c0(1)) > 0.999, s"component 0 on axis 1: ${c0.toSeq}")
    assert(math.abs(c1(3)) > 0.99, s"component 1 on axis 3: ${c1.toSeq}")
    val dotp = c0.zip(c1).map { case (a, b) => a * b }.sum
    assert(math.abs(dotp) < 0.05, s"near-orthogonal, dot $dotp")
  }

  test("mutualNearestNeighbors: only reciprocal top-1 pairs survive") {
    // nn(0)=4, nn(4)=0 → mutual. nn(1)=4 (0.994949 > 0.993884),
    // nn(2)=1, nn(3)=2 → one-directional chains, dropped.
    val got = Similarity.mutualNearestNeighbors(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((0L, 4L)), got.toString)
    // sim is the q28-rounded cosine of the pair
    val sim = Similarity.mutualNearestNeighbors(vecs)
      .collect().head.getDouble(2)
    val expect = BigDecimal(1.0 / math.sqrt(1.0 + 0.01 * 0.01))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(sim - expect) < 1e-9, s"$sim vs $expect")
  }

  // a larger deterministic corpus for the bounded-arm equivalences:
  // 30 vectors in 8 dims, no duplicates, spread over the sphere
  /** The IVF-PQ family of the 8-dim, 2-subspace persisted-index
    * tests. */
  private val ivf = Similarity.ivfPqFamily()

  private def corpus30 = {
    import spark.implicits._
    (0L until 30L).map { i =>
      (i, Array.tabulate(8)(d =>
        (math.sin(i * 31 + d * 7) + 0.1 * math.cos(i * 3 + d)).toFloat))
    }.toDF("vec_id", "embedding")
  }

  private def canonPairs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2)).toSeq

  test("mutualNearestNeighborsIvf ≡ exact arm when probes cover every " +
      "cell (the bounded arm's correctness anchor)") {
    val exact = canonPairs(Similarity.mutualNearestNeighbors(corpus30))
    assert(exact.nonEmpty, "degenerate fixture: no mutual pair")
    // nprobe = nCentroids ⇒ every query scores every candidate — the
    // IVF arm's candidate set covers every true top-1 by construction
    val bounded = canonPairs(Similarity.mutualNearestNeighborsIvf(
      corpus30, nCentroids = 6, nprobe = 6))
    assert(bounded == exact, s"bounded $bounded vs exact $exact")
  }

  test("mutualNearestNeighborsIvf with partial probes returns a subset " +
      "of candidate-restricted mutual pairs, never a fabricated pair") {
    // with nprobe < nCentroids the arm is exact mutual-NN restricted
    // to IVF candidates: any surviving pair must be reciprocal top-1
    // within the probed candidates, so every (a, b, sim) it emits must
    // carry the TRUE rounded cosine of (a, b)
    val emb = corpus30.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
      .toMap
    def cos(a: Long, b: Long): Double = {
      val (x, y) = (emb(a), emb(b))
      val d = x.zip(y).map { case (p, q) => p * q }.sum
      val n = math.sqrt(x.map(v => v * v).sum) *
        math.sqrt(y.map(v => v * v).sum)
      BigDecimal(d / n).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }
    val got = canonPairs(Similarity.mutualNearestNeighborsIvf(
      corpus30, nCentroids = 6, nprobe = 2))
    got.foreach { case (a, b, s) =>
      assert(a < b, s"orientation ($a, $b)")
      assert(math.abs(s - cos(a, b)) < 1e-9,
        s"pair ($a, $b) sim $s != true cosine ${cos(a, b)}")
    }
  }

  test("mutualNearestNeighborsFromCandidates ≡ exact arm when the " +
      "candidate pairs cover every true top-1") {
    val exact = canonPairs(Similarity.mutualNearestNeighbors(corpus30))
    // candidates = exact top-2 pairs (a strict superset of top-1,
    // far smaller than all-pairs) — the LSH/blocking-key stand-in
    val top2 = Similarity.bruteForceTopK(corpus30, corpus30, k = 2)
      .select(col("query_id").as("da"), col("neighbor_id").as("db"))
    val bounded = canonPairs(
      Similarity.mutualNearestNeighborsFromCandidates(top2, corpus30))
    assert(bounded == exact, s"bounded $bounded vs exact $exact")
  }

  test("mutualNearestNeighborsFromCandidates: vectors outside the " +
      "candidate frame produce nothing; a lone covered pair survives") {
    import spark.implicits._
    val pairs = Seq((0L, 4L)).toDF("da", "db")
    val got = canonPairs(
      Similarity.mutualNearestNeighborsFromCandidates(pairs, vecs))
    // within candidates, 0 and 4 are each other's only (hence best)
    // neighbor — reciprocal by construction; nothing else may appear
    assert(got.map(p => (p._1, p._2)) == Seq((0L, 4L)), got.toString)
  }

  // exact rounded cosine replicated driver-side (same float→double
  // cast, same left-to-right dot, same HALF_UP rounding)
  private def cosOf(emb: Map[Long, Seq[Double]])(a: Long, b: Long)
      : Double = {
    val (x, y) = (emb(a), emb(b))
    val d = x.zip(y).map { case (p, q) => p * q }.sum
    val n = math.sqrt(x.map(v => v * v).sum) *
      math.sqrt(y.map(v => v * v).sum)
    BigDecimal(d / n).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
  }

  private def embMap(df: org.apache.spark.sql.DataFrame) =
    df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
      .toMap

  test("mutualNearestNeighborsBetween ≡ hand-computed reciprocal " +
      "top-1 across the even/odd split") {
    val emb = embMap(corpus30)
    val lIds = emb.keys.filter(_ % 2 == 0).toSeq.sorted
    val rIds = emb.keys.filter(_ % 2 == 1).toSeq.sorted
    val cos = cosOf(emb) _
    def top1(q: Long, pool: Seq[Long]): Long =
      pool.map(c => (c, cos(q, c))).minBy { case (c, s) => (-s, c) }._1
    val expect = lIds.flatMap { l =>
      val r = top1(l, rIds)
      if (top1(r, lIds) == l) Some((l, r, cos(l, r))) else None
    }
    val got = Similarity.mutualNearestNeighborsBetween(
        corpus30.filter(col("vec_id") % 2 === 0),
        corpus30.filter(col("vec_id") % 2 === 1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(got.nonEmpty && got == expect, s"$got vs $expect")
  }

  test("marginMiningScores: exact micro margins ≡ hand arithmetic " +
      "(sign-split truncating division) at k=2") {
    val emb = embMap(corpus30)
    val lIds = emb.keys.filter(_ % 2 == 0).toSeq.sorted
    val rIds = emb.keys.filter(_ % 2 == 1).toSeq.sorted
    val cos = cosOf(emb) _
    def micro(s: Double): Long = // round6 → exact micro int
      BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .*(BigDecimal(1000000)).toLongExact
    def topk(q: Long, pool: Seq[Long], k: Int): Seq[(Long, Long)] =
      pool.map(c => (c, micro(cos(q, c))))
        .sortBy { case (c, s) => (-s, c) }.take(k)
    val expect = lIds.map { l =>
      val ln = topk(l, rIds, 2)
      val (r, simM) = ln.head
      val rn = topk(r, lIds, 2)
      val (sumL, kL) = (ln.map(_._2).sum, ln.length.toLong)
      val (sumR, kR) = (rn.map(_._2).sum, rn.length.toLong)
      val s = sumL * kR + sumR * kL
      val d = kL * kR * 2
      val avg = if (s < 0) -(-s / d) else s / d // toward-zero ≡ div
      (l, r, simM, simM - avg)
    }
    val got = Similarity.marginMiningScores(
        corpus30.filter(col("vec_id") % 2 === 0),
        corpus30.filter(col("vec_id") % 2 === 1), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == expect, s"$got vs $expect")
  }

  private def canonMargins(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).sortBy(p => (p._1, p._2)).toSeq

  test("marginMiningScoresFromCandidates ≡ exhaustive arm on the full " +
      "cross product (identical arithmetic, candidate-shaped plan)") {
    import spark.implicits._
    val l = corpus30.filter(col("vec_id") % 2 === 0)
    val r = corpus30.filter(col("vec_id") % 2 === 1)
    val allPairs = l.select(col("vec_id").as("left_id"))
      .crossJoin(r.select(col("vec_id").as("right_id")))
    val exact = canonMargins(Similarity.marginMiningScores(l, r, k = 3))
    val bounded = canonMargins(
      Similarity.marginMiningScoresFromCandidates(allPairs, l, r, k = 3))
    assert(bounded == exact, s"bounded $bounded vs exact $exact")
  }

  test("marginMiningScoresFromCandidates ≡ exhaustive arm when " +
      "candidates cover each side's true top-k (the scale contract)") {
    val l = corpus30.filter(col("vec_id") % 2 === 0)
    val r = corpus30.filter(col("vec_id") % 2 === 1)
    val k = 3
    // covering candidate set: each side's exact top-k in the other
    // corpus (the IVF/LSH stand-in — a strict subset of all-pairs)
    val lTop = Similarity.bruteForceTopK(l, r, k)
      .select(col("query_id").as("left_id"),
        col("neighbor_id").as("right_id"))
    val rTop = Similarity.bruteForceTopK(r, l, k)
      .select(col("neighbor_id").as("left_id"),
        col("query_id").as("right_id"))
    val cover = lTop.unionAll(rTop).distinct()
    val exact = canonMargins(Similarity.marginMiningScores(l, r, k = k))
    val bounded = canonMargins(
      Similarity.marginMiningScoresFromCandidates(cover, l, r, k = k))
    assert(bounded == exact, s"bounded $bounded vs exact $exact")
    // and the candidate frame really was smaller than all-pairs
    assert(cover.count() < l.count() * r.count())
  }

  test("marginMiningScoresFromCandidates: a left vector with no " +
      "candidate pair produces nothing; lone pairs self-anchor") {
    import spark.implicits._
    val l = vecs.filter(col("vec_id").isin(0L, 2L))
    val r = vecs.filter(col("vec_id").isin(1L, 3L))
    val pairs = Seq((0L, 1L)).toDF("left_id", "right_id")
    val got = canonMargins(
      Similarity.marginMiningScoresFromCandidates(pairs, l, r, k = 2))
    // only left 0 appears (2 has no candidates); its neighborhood and
    // right 1's neighborhood are both just the (0,1) pair, so
    // avg = sim and margin = 0
    assert(got.map(g => (g._1, g._2, g._4)) == Seq((0L, 1L, 0L)),
      got.toString)
  }

  test("lshCrossPairs recalls a planted cross-corpus duplicate and " +
      "never emits a within-corpus pair") {
    import spark.implicits._
    val base = (0L until 30L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 31 + d * 7).toFloat))
    }
    val dup = Array.tabulate(8)(d => math.cos(d * 13).toFloat)
    val left = (base.filter(_._1 % 2 == 0) :+ (100L, dup))
      .toDF("vec_id", "embedding")
    val right = (base.filter(_._1 % 2 == 1) :+ (200L, dup))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.lshCrossPairs(left, right,
      tables = 6, planesPerTable = 4, dims = 8)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    // identical vectors share every bucket in every table
    assert(got.contains((100L, 200L)), got.toSeq.toString)
    // directional: column 1 ids all from left, column 2 all from right
    val lIds = left.select("vec_id").collect().map(_.getLong(0)).toSet
    val rIds = right.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.forall { case (a, b) => lIds(a) && rIds(b) })
  }

  test("dot/cosine fail loudly on ragged (dimension-mismatched) input " +
      "— never a silent common-prefix similarity") {
    import spark.implicits._
    val ragged = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)))
      .toDF("a", "b")
    val e = intercept[Exception] {
      ragged.select(Similarity.dot(col("a"), col("b")).as("d"))
        .collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
    assert(chain(e).exists(c =>
      Option(c.getMessage).exists(_.contains("dimension mismatch"))),
      s"unexpected failure: $e")
  }

  test("calibrateLshGeometry: nested plane families make recall and " +
      "candidate yield monotone in tables; report columns are exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dims = 8
    def vec() = Array.fill(dims)(rnd.nextGaussian().toFloat)
    val left = (0L until 20L).map(i => (i, vec()))
      .toDF("vec_id", "embedding")
    val right = (100L until 120L).map(i => (i, vec()))
      .toDF("vec_id", "embedding")
    val rep = Similarity.calibrateLshGeometry(left, right,
        configs = Seq((1, 4), (3, 4), (6, 4)), dims = dims,
        sampleMod = 2, recallFloorPpm = 100000L)
      .orderBy("tables").collect()
    assert(rep.length == 3)
    // sampleMod=2 keeps the even half of each dense id range
    assert(rep.forall(_.getAs[Long]("n_left") == 10L))
    assert(rep.forall(_.getAs[Long]("n_right") == 10L))
    assert(rep.forall(_.getAs[Long]("n_truth") == 10L))
    // tables nest: candidates and caught truth are supersets
    val yields = rep.map(_.getAs[Long]("n_cand_pairs")).toSeq
    val recalls = rep.map(_.getAs[Long]("recall_ppm")).toSeq
    assert(yields == yields.sorted, s"yield not monotone: $yields")
    assert(recalls == recalls.sorted, s"recall not monotone: $recalls")
    // probe volume bounds the distinct pair yield from above
    rep.foreach { r =>
      assert(r.getAs[Long]("probe_volume") >=
        r.getAs[Long]("n_cand_pairs"))
    }
    // passes flag consistent with the floor
    rep.foreach { r =>
      assert(r.getAs[Boolean]("passes") ==
        (r.getAs[Long]("recall_ppm") >= 100000L))
    }
  }

  test("simplifiedSilhouette: perfect fit = 1e6, boundary tie = 0") {
    import spark.implicits._
    // centroids from seedCentroids = lowest-id vectors 1 (1,0) and 2 (0,1)
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)),   // own centroid → sil 1e6
      (2L, Seq(0.0f, 1.0f)),   // own centroid → sil 1e6
      (3L, Seq(1.0f, 1.0f)),   // equidistant tie → cell 1, sil 0
      (4L, Seq(2.0f, 1.0f))    // cos c1 = 0.894427, c2 = 0.447214
    ).toDF("vec_id", "embedding")
    val cen = Similarity.seedCentroids(emb, 2)
    val got = Similarity.simplifiedSilhouette(emb, cen)
      .orderBy("cell").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // vec 4: sil = (894427−447214)·1e6 div (1e6−447214)
    val sil4 = (1000000L * (894427L - 447214L)) / (1000000L - 447214L)
    // cell 1 holds vecs 1,3,4: mean = (1e6 + 0 + sil4) div 3, min = 0
    assert(got.toSeq == Seq(
      (1L, 3L, (1000000L + 0L + sil4) / 3L, 0L),
      (2L, 1L, 1000000L, 1000000L)))
  }

  test("IvfPqIndex delete: tombstoned vectors never return as " +
      "neighbors; cells/codebook frozen; purge ≡ logical; deleted " +
      "ids may still QUERY") {
    import spark.implicits._
    val emb = (0L until 24L).map { i =>
      (i, Array.tabulate(8)(d =>
        (math.sin(i * 3.0 + d) * 0.5 + 0.5).toFloat))
    }.toDF("vec_id", "embedding")
    val dir = tempDir("annidx").toString
    try {
      Similarity.ivfPqIndex(emb, nCells = 4, dims = 8, m = 2,
        nCentroids = 4).write(dir)
      ivf.delete(dir,
        emb.where(col("vec_id") % 3 === 1).select(col("vec_id")))
      def search() = Similarity.ivfPqSearch(
          emb.filter(col("vec_id") < 6), Similarity.IvfPqIndex.read(
            spark, dir), k = 4, nprobe = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).sortBy(t => (t._1, t._4)).toSeq
      val logical = search()
      assert(logical.nonEmpty)
      assert(logical.forall(_._2 % 3 != 1), "deleted id returned")
      // deleted ids still appear as queries (vec_id 1 and 4 < 6)
      assert(logical.exists(_._1 % 3 == 1), "deleted ids must query")
      // frozen halves untouched on disk
      assert(idxDf(dir, "cells").count() == 4)
      // purge: tombstones gone, codes thinner, same answers
      val before = idxDf(dir, "codes").count()
      ivf.purgeTombstones(spark, dir)
      assert(!idxDirExists(dir, "tombstones"))
      assert(idxDf(dir, "codes").count() < before)
      assert(search() == logical)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("IvfPqIndex UPSERT: re-embedded ids serve their NEW vectors, " +
      "stale codes die; upsert-twice ≡ once; upsert after delete " +
      "resurrects; purge ≡ logical") {
    import spark.implicits._
    def vec(i: Long, flip: Boolean) = Array.tabulate(8)(d =>
      ((if (flip) -1 else 1) *
        (math.sin(i * 3.0 + d) * 0.5 + 0.5)).toFloat)
    val orig = (0L until 24L).map(i => (i, vec(i, flip = false)))
      .toDF("vec_id", "embedding")
    val dir = tempDir("annup").toString
    try {
      Similarity.ivfPqIndex(orig, nCells = 4, dims = 8, m = 2,
        nCentroids = 4).write(dir)
      // re-embed ids %5=0 (negated vectors — different cells)
      val recrawl = (0L until 24L by 5).map(i => (i, vec(i, flip = true)))
        .toDF("vec_id", "embedding")
      ivf.upsert(dir, recrawl)
      val mutated = orig.where(col("vec_id") % 5 =!= 0)
        .unionAll(recrawl)
      def search() = Similarity.ivfPqSearch(
          mutated.filter(col("vec_id") < 6),
          Similarity.IvfPqIndex.read(spark, dir),
          k = 4, nprobe = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).sortBy(t => (t._1, t._4)).toSeq
      // truth: frozen geometry (cells/codebook from the ORIGINAL
      // corpus), codes over the mutated corpus — in-memory twin
      val frozen = Similarity.ivfPqIndex(orig, nCells = 4, dims = 8,
        m = 2, nCentroids = 4)
      val twinIdx = frozen.copy(codes = frozen.codes.limit(0))
        .append(mutated)
      def twin() = Similarity.ivfPqSearch(
          mutated.filter(col("vec_id") < 6), twinIdx,
          k = 4, nprobe = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).sortBy(t => (t._1, t._4)).toSeq
      val expected = twin()
      assert(search() == expected)
      // idempotence
      ivf.upsert(dir, recrawl)
      assert(search() == expected)
      // delete then upsert resurrects with the new embedding
      ivf.delete(dir, Seq(5L).toDF("vec_id"))
      ivf.upsert(dir, recrawl.where(col("vec_id") === 5))
      assert(search() == expected)
      // physical purge: thinner codes, identical searches
      val before = idxDf(dir, "codes").count()
      ivf.purgeTombstones(spark, dir)
      assert(!idxDirExists(dir, "tombstones"))
      assert(idxDf(dir, "codes").count() < before)
      assert(search() == expected)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("persisted IVF-PQ append + compaction: the family's append ≡ " +
      "in-memory append (delta codes only); file count shrinks " +
      "through the family's compact with searches bit-identical") {
    import spark.implicits._
    def vecs(ids: Range) = ids.map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (math.sin(i * 3.0 + d) * 0.5 + 0.5).toFloat))
    }.toDF("vec_id", "embedding")
    val dir = tempDir("annapp").toString
    try {
      Similarity.ivfPqIndex(vecs(0 until 16), nCells = 4, dims = 8,
        m = 2, nCentroids = 4).write(dir)
      ivf.append(dir, vecs(16 until 24))
      ivf.append(dir, vecs(24 until 32))
      def search() = Similarity.ivfPqSearch(
          vecs(0 until 4), Similarity.IvfPqIndex.read(spark, dir),
          k = 4, nprobe = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).sortBy(t => (t._1, t._4)).toSeq
      val onDisk = search()
      // ≡ the in-memory append chain over the same increments
      val inMem = Similarity.ivfPqSearch(
          vecs(0 until 4),
          Similarity.ivfPqIndex(vecs(0 until 16), nCells = 4,
              dims = 8, m = 2, nCentroids = 4)
            .append(vecs(16 until 24))
            .append(vecs(24 until 32)),
          k = 4, nprobe = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).sortBy(t => (t._1, t._4)).toSeq
      assert(onDisk == inMem)
      assert(onDisk.exists(_._2 >= 16), "appended ids must serve")
      // compaction: genuinely fewer files, bit-identical searches
      val (before, after) = ivf.compact(spark, dir)
      assert(after < before, s"$before -> $after")
      assert(search() == onDisk)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("ivfPqDriftStats: same-distribution append reads ~1.0M ppm, a " +
      "shifted append reads well above it; baseline survives parquet") {
    import spark.implicits._
    def vecs(ids: Seq[Int], shift: Double) = ids.map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (math.sin(i * 3.0 + d) * 0.5 + 0.5 + shift).toFloat))
    }.toDF("vec_id", "embedding")
    // even/odd split of one generator: identical marginals, and large
    // enough that the zero-distortion codebook seeds (8 lowest train
    // ids) don't bias the train-side mean visibly
    val train = vecs(0 until 512 by 2, 0.0)
    val dir = tempDir("anndrift")
      .toString
    try {
      Similarity.ivfPqIndex(train, nCells = 4, dims = 8, m = 2,
        nCentroids = 8).write(dir)
      Similarity.writeIvfPqDriftBaseline(spark, dir, train)
      // an append drawn from the SAME distribution barely drifts
      val same = Similarity.ivfPqDriftStats(spark, dir,
        vecs(1 until 512 by 2, 0.0)).collect()(0)
      val rSame = same.getLong(4)
      assert(rSame > 800000L && rSame < 1300000L,
        s"same-distribution ratio $rSame")
      // a distribution SHIFT quantizes much worse under frozen codes
      val shifted = Similarity.ivfPqDriftStats(spark, dir,
        vecs(1 until 512 by 2, 3.0)).collect()(0)
      val rShift = shifted.getLong(4)
      assert(rShift > 2 * rSame,
        s"shifted ratio $rShift vs same $rSame")
      // sanity: the baseline itself reads back exactly ratio = 1M
      val self = Similarity.ivfPqDriftStats(spark, dir, train)
        .collect()(0)
      assert(self.getLong(4) == 1000000L)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("retrainIvfPqIndex closes the trigger→action loop: retrain " +
      "over the live corpus ≡ a fresh build bit-identically, swap is " +
      "one atomic snapshot (tombstones cleared WITH the new geometry), " +
      "generations stay monotone, drift baseline resets to 1.0M ppm") {
    import spark.implicits._
    def vecs(ids: Seq[Int], shift: Double) = ids.map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (math.sin(i * 3.0 + d) * 0.5 + 0.5 + shift).toFloat))
    }.toDF("vec_id", "embedding")
    val dir = tempDir("annretrain")
      .toString
    try {
      // yesterday's geometry: trained on the old slice, then a
      // shifted batch appended frozen (the drift q347 alerts on) and
      // a takedown tombstoned
      val old = vecs(0 until 16, 0.0)
      val drifted = vecs(16 until 24, 2.0)
      Similarity.ivfPqIndex(old, nCells = 4, dims = 8, m = 2,
        nCentroids = 4).write(dir)
      Similarity.writeIvfPqDriftBaseline(spark, dir, old)
      ivf.append(dir, drifted)
      ivf.delete(dir, Seq(3L).toDF("vec_id"))
      val genBefore = idxGen(dir)
      // the LIVE corpus: everything except the takedown
      val live = old.unionAll(drifted).where(col("vec_id") =!= 3)
      Similarity.retrainIvfPqIndex(spark, dir, live, nCells = 4,
        dims = 8, m = 2, nCentroids = 4)
      def search(idx: Similarity.IvfPqIndex) = Similarity.ivfPqSearch(
          vecs(0 until 6, 0.0), idx, k = 4, nprobe = 2)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).sortBy(t => (t._1, t._4)).toSeq
      // retrain ≡ fresh build over the live rows (deterministic
      // seeding), served from the swapped artifacts
      val got = search(Similarity.IvfPqIndex.read(spark, dir))
      val freshTwin = search(Similarity.ivfPqIndex(live, nCells = 4,
        dims = 8, m = 2, nCentroids = 4))
      assert(got == freshTwin, "retrain diverged from a fresh build")
      assert(got.forall(_._2 != 3L), "takedown resurrected by retrain")
      // tombstones reset WITH the geometry (same atomic snapshot)
      assert(!idxDirExists(dir, "tombstones"))
      // generations stay monotone: the re-encoded corpus took the
      // next gen, and a post-retrain takedown works as usual
      assert(idxGen(dir) ==
        genBefore + 1)
      ivf.delete(dir, Seq(5L).toDF("vec_id"))
      assert(search(Similarity.IvfPqIndex.read(spark, dir))
        .forall(_._2 != 5L))
      // the drift baseline was rewritten from the retrain corpus:
      // the live rows under the NEW codebook read exactly 1.0M ppm
      val self = Similarity.ivfPqDriftStats(spark, dir, live)
        .collect()(0)
      assert(self.getLong(4) == 1000000L,
        s"baseline not reset: ${self.getLong(4)} ppm")
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }
}
