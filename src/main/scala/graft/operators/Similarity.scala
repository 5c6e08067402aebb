package graft.operators

import java.math.{BigDecimal => JDecimal}

import graft.sink.Parquet
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** Similarity search over embedding columns (`array<float>`).
  *
  * The arms — exhaustive ([[bruteForceTopK]], the correctness
  * baseline: the query side broadcasts, so the candidate scan never
  * shuffles), IVF, PQ, IVF-PQ, sign-random-projection LSH
  * ([[lshNearDupPairs]]: only same-bucket pairs are compared) and
  * caller-supplied candidates — differ only in candidate generation.
  * Every scoring and selection step is one shared private stage:
  * [[vecs]], [[cos6]], [[probeCells]], [[adcTopK]], [[topK]],
  * [[argmax]], [[marginTail]].
  *
  * Numeric policy: dot products run in double in index order (the
  * native kernel sums left to right, the sequential order DuckDB's
  * list functions use) and final similarities are rounded to 6
  * decimals on both engines, putting cross-engine float divergence
  * (~1e-15) far below the comparison granularity.
  */
object Similarity {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The warning [[ivfPqResidualTopK]] logs when called with untrained
    * (lowest-id seeded) coarse centroids — a MEASURED recall downgrade
    * versus the simpler global-codebook [[ivfPqTopK]] (PLANS.md round 6:
    * recall@10 0.092 seeded-residual vs 0.120 global @ nprobe 2;
    * trained ≥3 iters overtakes both at 0.162): residual encoding
    * amplifies coarse-quantizer quality, so residuals from bad
    * centroids carry MORE variance than the raw vectors. The seeded
    * path exists for oracle replayability (q88); production callers
    * should pass `trainIters >= 3` ([[trainedCentroids]]). Returns
    * None when training is on; factored out so the spec can pin the
    * warning path without a log capture harness.
    */
  private[graft] def seededResidualWarning(
      trainIters: Int): Option[String] =
    if (trainIters > 0) None
    else Some("ivfPqResidualTopK called with trainIters=0 (seeded " +
      "centroids): residual encoding with untrained coarse centroids " +
      "measurably UNDERPERFORMS the global-codebook ivfPqTopK " +
      "(recall@10 0.092 vs 0.120 on the reference corpus — " +
      "PLANS.md round 6). Pass trainIters >= 3 for production use; the " +
      "seeded path exists for deterministic oracle replay.")

  private def darr(c: Column): Column = c.cast("array<double>")

  /** Sequential dot product via the native fused kernel
    * ([[graft.functions.VectorKernel]]) — same left-to-right summation
    * as `aggregate(zip_with(...))` and DuckDB's `list_dot_product`, so
    * results are bit-identical, at a fraction of the interpreted-HOF
    * cost.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.Vectors.dot(darr(a), darr(b))

  def norm2(a: Column): Column = dot(a, a)

  /** cosine = dot/(‖a‖·‖b‖), matching DuckDB's
    * list_dot_product/sqrt(..)·sqrt(..) evaluation shape. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))

  /** The scoring projection `(id, e: array<double>, nrm)` under the
    * caller's names: the embedding cast and its norm computed once per
    * vector, never once per (query, candidate) pair —
    * sqrt(‖a‖²)·sqrt(‖b‖²) is the same float op either way. */
  private def vecs(df: DataFrame, id: Column, embCol: String,
      e: String, nrm: String): DataFrame =
    df.select(id, darr(col(embCol)).as(e),
      sqrt(norm2(col(embCol))).as(nrm))

  /** The rounded cosine every argmax and rank sees, over precomputed
    * norms: `round(dot(a, b) / (‖a‖·‖b‖), 6)` — rounding BEFORE any
    * comparison makes cell assignment and ranking cross-engine
    * deterministic (ties then break by id). */
  private def cos6(a: String, b: String, na: String, nb: String): Column =
    round(dot(col(a), col(b)) / (col(na) * col(nb)), 6)

  /** A 6-decimal similarity as exact integer micro-units: the DECIMAL
    * cast makes ×10⁶ exact, so sums and margins have no float
    * boundary. */
  private def micro(sim6: Column): Column =
    (sim6.cast("decimal(10,6)") * 1000000).cast("bigint")

  /** The top-1 argmax every mutual-NN and margin arm shares: `value`
    * at the highest `score`, ties to the lowest `id` (`nr` is the
    * negated id). A map-side combining `max_by`, never a ranking
    * window. */
  private def argmax(value: Column, score: String, id: String): Column =
    max_by(value, struct(col(score), (-col(id)).as("nr")))

  /** Each `by` group's first `k` rows under `order`, numbered in a
    * BIGINT `rank` column — the ranking window of every top-k arm. */
  private def topK(scored: DataFrame, by: String, k: Int,
      order: Column*): DataFrame =
    scored.withColumn("rank", row_number()
        .over(Window.partitionBy(col(by)).orderBy(order: _*))
        .cast("bigint"))
      .filter(col("rank") <= k)

  /** Per-vector int8 scalar quantization: maps each component into
    * [-128, 127] by min/max scaling — `code = round((v−mn)/(mx−mn)·255)
    * − 128` — and keeps the (mn, mx) scale params so [[dequantizeInt8]]
    * can reconstruct. 4× smaller than float32: the standard first rung
    * of an embedding-index compression ladder (before PQ/OPQ).
    *
    * Map-side only (no shuffle, no UDF) and integer-exact across
    * engines: the scaled value is non-negative, so Spark's HALF_UP
    * `round` and DuckDB's round-half-away-from-zero agree, making the
    * codes themselves oracle-checkable.
    *
    * The codes come from the native
    * [[graft.functions.VectorKernel.int8Codes]] kernel: the declarative
    * `transform(d, v => round((v − array_min(d)) / ...))` re-evaluated
    * the min/max subtrees per ELEMENT (interpreted lambdas get no
    * subexpression elimination), making a linear kernel quadratic —
    * measured 2 s for 2,000×64 floats. QuantizeSpec pins kernel ≡
    * declarative equality.
    */
  def quantizeInt8(e: Column): Column = {
    val d = darr(e)
    val mn = array_min(d)
    val span = array_max(d) - mn
    val scale = when(span > 0, span).otherwise(lit(1.0))
    struct(
      graft.functions.Vectors.int8Codes(d).as("codes"),
      mn.as("mn"),
      (scale / 255).as("step"))
  }

  /** Declarative twin of the [[quantizeInt8]] codes array — the
    * cross-check oracle for the native kernel (QuantizeSpec).
    */
  private[graft] def quantizeInt8CodesDeclarative(e: Column): Column = {
    val d = darr(e)
    val mn = array_min(d)
    val span = array_max(d) - mn
    val scale = when(span > 0, span).otherwise(lit(1.0))
    transform(d, v => (round((v - mn) / scale * 255)).cast("int") - 128)
  }

  /** Reconstruct an approximate double vector from [[quantizeInt8]]
    * output: `v ≈ mn + (code + 128) · step`.
    */
  def dequantizeInt8(q: Column): Column =
    transform(q.getField("codes"),
      c => q.getField("mn") + (c + 128).cast("double") * q.getField("step"))

  /** One row per (vector, subspace): `(idAs, carry…, j, svAs)` — the
    * shared subvector explode of the PQ family. `carry` columns ride
    * along unchanged. */
  private def pqSubvectors(in: DataFrame, dims: Int, m: Int,
      idCol: String, embCol: String, idAs: String, svAs: String,
      carry: Seq[String] = Nil): DataFrame = {
    require(m > 0 && dims % m == 0, "m must divide dims")
    val sub = dims / m
    val keys = col(idAs) +: carry.map(col)
    in.select((col(idCol).as(idAs) +: carry.map(col)) :+
        darr(col(embCol)).as("d"): _*)
      .select(keys :+ explode(transform(
        sequence(lit(0), lit(m - 1)),
        j => struct(j.as("j"),
          slice(col("d"), j * sub + 1, lit(sub)).as(svAs)))).as("x"): _*)
      .select(keys ++ Seq(col("x.j").as("j"), col(s"x.$svAs").as(svAs)): _*)
  }

  /** The deterministic per-subspace codebook `(j, cen_id, cv)`:
    * subvectors of the `nCentroids` lowest-id vectors. */
  private def pqCentroids(df: DataFrame, dims: Int, m: Int,
      nCentroids: Int, idCol: String, embCol: String): DataFrame =
    pqSubvectors(df.orderBy(col(idCol)).limit(nCentroids),
      dims, m, idCol, embCol, "cen_id", "cv")

  /** A per-subspace codebook `(j, cen_id, cv)` packed to ONE row per
    * subspace of parallel arrays `(j, cen_ids, cvs, cvvs)` — the
    * broadcast side of the fused argmin assignment
    * ([[graft.functions.VectorKernel.bestCodeL2]]). `cvv = dot(cv,
    * cv)` is precomputed once per CENTROID here instead of once per
    * (subvector, centroid) pair in the fan-out it replaces. */
  private def packCodebook(cen: DataFrame): DataFrame =
    packed(cen.select(col("j"), col("cen_id"), darr(col("cv")).as("cv"))
      .withColumn("cvv", graft.functions.Vectors.dot(col("cv"), col("cv"))),
      Seq("j"), "cen_id", "cv", "cvv")

  /** Each `keys` group's rows as parallel arrays `<field>s` — the
    * broadcast side of the fused argmin/argmax kernels. */
  private def packed(df: DataFrame, keys: Seq[String],
      fields: String*): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(collect_list(struct(fields.map(col): _*)).as("cs"))
      .select(keys.map(col) ++ fields.map(f =>
        transform(col("cs"), x => x.getField(f)).as(s"${f}s")): _*)

  private def pqAssignWith(cen: DataFrame, df: DataFrame,
      dims: Int, m: Int, idCol: String, embCol: String): DataFrame = {
    val s = graft.Tables.rebalance(
      pqSubvectors(df, dims, m, idCol, embCol, "id", "sv"))
    // fused argmin: one kernel call per (vector, subspace) row against
    // the packed subspace codebook — replaces the ×nCentroids fan-out
    // join + min_by aggregation (identical dist2 rounding and tie
    // order — ArgKernelSpec; guide §4, optimization round 20)
    s.join(broadcast(packCodebook(cen)), Seq("j"))
      .select(col("id"), col("j"),
        graft.functions.Vectors.bestCodeL2(col("sv"), col("cen_ids"),
          col("cvs"), col("cvvs")).as("code"))
  }

  /** Product-quantization codebook assignment (Jégou et al. 2011): each
    * vector splits into `m` subvectors of `dims/m` components; each
    * subvector maps to its nearest (rounded squared-L2, ties to the
    * lowest id) of `nCentroids` per-subspace centroids. Returns one row
    * per (vector, subspace): `(id, j, code)` where `code` is the
    * centroid's source vector id.
    *
    * Centroid seeds are the subvectors of the `nCentroids` lowest-id
    * vectors — the same deterministic k-means stand-in as [[ivfTopK]],
    * letting the DuckDB oracle replay the full assignment. The centroid
    * table is m·nCentroids rows and broadcasts; assignment is a
    * broadcast join + per-(id, j) `min_by` partial aggregation — the
    * corpus shuffles once, carrying dims-length subvectors, never
    * pairwise data. PQ is the memory rung below [[quantizeInt8]]:
    * m·log₂(nCentroids) bits per vector (here 8×4 bits vs int8's 64
    * bytes) at the cost of centroid-table lookups.
    */
  def pqAssign(
      df: DataFrame, dims: Int, m: Int, nCentroids: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    pqAssignWith(pqCentroids(df, dims, m, nCentroids, idCol, embCol),
      df, dims, m, idCol, embCol)

  /** Per-subspace Lloyd refinement of [[pqCentroids]] — the PQ
    * codebook twin of [[trainedCentroids]] (the r9 verdict's last
    * seeded-only training gap): `iters` k-means iterations in EACH of
    * the m subspaces under the rounded squared-L2 metric (the
    * assignment arithmetic of [[pqAssign]], ties to the lowest
    * cen_id), each followed by a per-(subspace, code, dimension) mean
    * rounded to 6 decimals. Returns the same `(j, cen_id, cv)` shape
    * as [[pqCentroids]]; empty codes drop (standard Lloyd), so a
    * subspace may end with fewer than `nCentroids` rows.
    *
    * Scale shape: corpus-sized reductions run in Spark, model-sized
    * iteration runs on the driver. The subvector explode runs ONCE
    * (`localCheckpoint`'d — m·N rows of dims/m-length arrays); each
    * iteration is one broadcast-assign pass plus the per-(subspace,
    * code, dimension) mean aggregation of [[lloydMeans]], whose
    * m·nCentroids·dims/m rows collect to the driver and come back as
    * the literal codebook the next iteration broadcasts. 6-decimal
    * per-dimension rounding each iteration pins cross-engine float
    * drift below the assignment's own rounding, so the DuckDB oracle
    * replays every iteration (the q91 discipline).
    */
  def trainedPqCentroids(df: DataFrame, dims: Int, m: Int,
      nCentroids: Int, iters: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    val sub = graft.Tables.rebalance(
        pqSubvectors(df, dims, m, idCol, embCol, "id", "sv"))
      .localCheckpoint()
    (1 to iters).foldLeft(pqCentroids(df, dims, m, nCentroids, idCol,
        embCol)) { (cen, _) =>
      // fused argmin per (vector, subspace) row against the packed
      // codebook (guide §4, optimization round 20)
      lloydMeans(sub.join(broadcast(packCodebook(cen)), Seq("j"))
        .select(col("j"),
          graft.functions.Vectors.bestCodeL2(col("sv"), col("cen_ids"),
            col("cvs"), col("cvvs")).as("cen_id"),
          col("sv")), Seq("j", "cen_id"), col("sv"), "cv")
    }
  }

  /** The means step of every Lloyd loop: over `assigned` rows
    * `(keys…, vec…)`, the per-(keys, dimension) mean rounded to 6
    * decimals — aggregated in Spark, then collected (model-sized: one
    * row per centroid and dimension) and rebuilt on the driver as one
    * `(keys…, out)` row per centroid, `out` in dimension order. The
    * schema is what the SQL array rebuild
    * `transform(array_sort(collect_list(struct(p, m))), _.m)` gave:
    * the key fields as aggregated and a non-null `array<double>` of
    * nullable means. */
  private def lloydMeans(assigned: DataFrame, keys: Seq[String],
      vec: Column, out: String): DataFrame = {
    val means = assigned
      .select(keys.map(col) :+ posexplode(vec).as(Seq("p", "v")): _*)
      .groupBy((keys :+ "p").map(col): _*)
      .agg(round(avg(col("v")), 6).as("m"))
    val n = keys.size
    val rows = means.collect().toSeq.groupBy(_.toSeq.take(n)).map {
      case (key, ms) =>
        Row.fromSeq(key :+ ms.sortBy(_.getInt(n)).map(_.get(n + 1)))
    }
    assigned.sparkSession.createDataFrame(rows.toSeq.asJava,
      StructType(keys.map(means.schema(_)) :+ StructField(out,
        ArrayType(DoubleType, containsNull = true), nullable = false)))
  }

  /** [[pqAssign]] packed to one row per vector: `(idCol, codes)` with
    * the m codes comma-joined in subspace order (a string so the
    * driver's value hash is representation-stable across engines).
    */
  def pqCodes(
      df: DataFrame, dims: Int, m: Int, nCentroids: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    pqAssign(df, dims, m, nCentroids, idCol, embCol)
      .groupBy(col("id"))
      .agg(concat_ws(",", transform(
        array_sort(collect_list(struct(col("j"), col("code")))),
        x => x.getField("code").cast("string"))).as("codes"))
      .select(col("id").as(idCol), col("codes"))

  /** PQ asymmetric-distance top-k (ADC): each query's approximate
    * squared L2 to candidate x is Σⱼ d²(qⱼ, centroid(codeⱼ(x))) — the
    * codes never decompress. Returns
    * `(query_id, neighbor_id, adist, rank)`, ranked ascending with id
    * tiebreak; self-matches excluded.
    *
    * Scale shape: candidates carry only their m codes; the per-query
    * distance TABLE (|queries|·m·nCentroids rows — the small side by
    * construction) broadcasts onto the code stream, and the partial
    * aggregation reduces to |queries|·|candidates| sums of m terms
    * ([[adcTopK]]).
    */
  def pqTopK(
      queries: DataFrame, candidates: DataFrame, k: Int,
      dims: Int, m: Int, nCentroids: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      trainIters: Int = 0): DataFrame = {
    val cen =
      if (trainIters > 0)
        trainedPqCentroids(candidates, dims, m, nCentroids, trainIters,
          idCol, embCol)
      else pqCentroids(candidates, dims, m, nCentroids, idCol, embCol)
    val table = adcTable(pqSubvectors(queries, dims, m, idCol, embCol,
      "query_id", "qv"), cen, "query_id", "j")
    adcTopK(pqAssignWith(cen, candidates, dims, m, idCol, embCol)
      .join(broadcast(table), Seq("j", "code"))
      .filter(col("query_id") =!= col("id")), k)
  }

  /** The per-query ADC distance table: for each query subvector `qv`
    * and each codebook centroid `cv` of its subspace, the squared L2
    * rounded to 6 decimals as DECIMAL(20,6) — `(keys…, code, d2)`. */
  private def adcTable(qsub: DataFrame, codebook: DataFrame,
      keys: String*): DataFrame =
    qsub.join(codebook, Seq("j"))
      .select(keys.map(col) ++ Seq(col("cen_id").as("code"),
        round(dot(col("qv"), col("qv")) - dot(col("qv"), col("cv")) * 2
          + dot(col("cv"), col("cv")), 6)
          .cast("decimal(20,6)").as("d2")): _*)

  /** The ADC tail: over `(query_id, id, d2)` rows — one per (query,
    * candidate, subspace) — the DECIMAL sum of the subspace distances
    * (associative, so partition-order-proof and SQL-replayable),
    * ranked ascending with id tiebreak:
    * `(query_id, neighbor_id, adist, rank)`. */
  private def adcTopK(terms: DataFrame, k: Int): DataFrame =
    topK(terms.groupBy(col("query_id"), col("id"))
        .agg(sum(col("d2")).cast("double").as("adist"))
        .select(col("query_id"), col("id").as("neighbor_id"),
          col("adist")),
      "query_id", k, col("adist"), col("neighbor_id"))

  /** ±1 sign vector (length dims) for hyperplane `p`, derived from md5 so
    * the oracle can inline the identical literal list.
    */
  def planeSigns(p: Int, dims: Int): IndexedSeq[Double] =
    (0 until dims).map(i =>
      if ((TextOps.hash60Const(s"plane:$p:$i") & 1L) == 1L) 1.0 else -1.0)

  /** Exact cosine top-k: for each query vector, the k nearest candidates
    * (excluding itself), ranked by rounded cosine with id tiebreak.
    */
  def bruteForceTopK(
      queries: DataFrame, candidates: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val q = vecs(queries, col(idCol).as("query_id"), embCol, "q_emb",
      "q_nrm")
    val c = graft.Tables.rebalance(vecs(candidates,
      col(idCol).as("neighbor_id"), embCol, "c_emb", "c_nrm"))
    topK(c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          cos6("q_emb", "c_emb", "q_nrm", "c_nrm").as("sim")),
      "query_id", k, col("sim").desc, col("neighbor_id"))
  }

  /** Mutual nearest neighbors — the bitext-mining / paired-data shape
    * (LASER/CCMatrix margin mining keeps a candidate pair only when
    * each side is the other's best match; mutual-NN is its exact
    * α→∞ skeleton). Emits `(a, b, sim)` with `a < b` where b is a's
    * cosine top-1 AND a is b's.
    *
    * EXACT BASELINE over [[bruteForceTopK]]'s top-1 (the q28
    * contract: all-pairs work, query side broadcast — correct at any
    * size but O(n²); the correctness anchor the bounded arms are
    * spec-pinned against). The SCALE PATHS are
    * [[mutualNearestNeighborsIvf]] (IVF probed-cell candidates) and
    * [[mutualNearestNeighborsFromCandidates]] (any bounded candidate
    * pair frame, e.g. LSH buckets) — same reciprocal filter, bounded
    * candidate generation. `sim` is identical from both directions —
    * dot and norm products are IEEE-commutative — so the self-join
    * dedup by `a < b` loses nothing.
    */
  def mutualNearestNeighbors(df: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding")
      : DataFrame =
    mutualFilter(bruteForceTopK(df, df, k = 1, idCol, embCol)
      .select(col("query_id"), col("neighbor_id"), col("sim")))

  /** The reciprocal filter every mutual-NN arm shares: from a
    * per-query top-1 frame `(query_id, neighbor_id, sim)`, the pairs
    * where each side is the other's best — `(a, b, sim)`, a < b.
    * The top-1 frame is tiny (one row per query) and feeds both
    * self-join sides, so it is checkpointed once.
    */
  private def mutualFilter(top1Raw: DataFrame): DataFrame = {
    val top1 = top1Raw.localCheckpoint()
    val rev = top1.select(col("query_id").as("r_q"),
      col("neighbor_id").as("r_n"))
    top1.join(rev,
        col("query_id") === col("r_n") &&
          col("neighbor_id") === col("r_q") &&
          col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("a"), col("neighbor_id").as("b"),
        col("sim"))
      .orderBy(col("a"))
  }

  /** Each `by` row's top-1 `id` in a scored pair stream `(by, id,
    * sim)` — the [[argmax]] aggregation (partial map-side combine), not
    * a ranking window: `(by, id, sim)`, one row per `by`. */
  private def top1(scored: DataFrame, by: String = "query_id",
      id: String = "neighbor_id"): DataFrame =
    scored.groupBy(col(by))
      .agg(argmax(struct(col(id), col("sim")), "sim", id).as("best"))
      .select(col(by), col(s"best.$id").as(id), col("best.sim").as("sim"))

  /** A caller's candidate pairs `(aId, bId)` scored by [[cos6]]: each
    * side's [[vecs]] frame `(id, e, nrm)` joins on its id — ids are
    * join keys, never a cross product: `(aId, bId, sim)`. */
  private def scorePairs(pairs: DataFrame, a: DataFrame,
      b: DataFrame): DataFrame = {
    val Array(aId, aE, aN) = a.columns
    val Array(bId, bE, bN) = b.columns
    pairs.join(a, Seq(aId)).join(b, Seq(bId))
      .select(col(aId), col(bId), cos6(aE, bE, aN, bN).as("sim"))
  }

  /** CANDIDATE-BOUNDED mutual nearest neighbors — the 100 TB arm of
    * [[mutualNearestNeighbors]]: IVF cells bound which pairs are ever
    * scored ([[ivfTopK]]'s probe join — queries score only their
    * `nprobe` nearest of `nCentroids` cells), then the same reciprocal
    * filter keeps pairs that are each other's within-candidates top-1.
    *
    * Semantics: EXACT mutual-NN restricted to IVF candidates — when
    * the probed cells cover every vector's true top-1 (always at
    * `nprobe = nCentroids`, where this is spec-pinned ≡ the exact
    * arm), the result IS the exact answer; below that, recall follows
    * the IVF S-curve (measure recall on your corpus, as PLANS.md round 6
    * did,
    * before trusting a (nCentroids, nprobe) config — the q183
    * calibration discipline). `trainIters > 0` refines the cells by
    * spherical k-means ([[trainedCentroids]]) for production recall;
    * the seeded default keeps the whole pipeline oracle-replayable.
    *
    * Scale shape (vs the exact arm's all-pairs broadcast): candidate
    * generation is [[ivfTopK]]'s bounded probe join —
    * ~nprobe/nCentroids of the corpus scored per query, centroids
    * broadcast, per-query top-1 via one partial-aggregated window —
    * and the reciprocal filter touches only the n-row top-1 frame.
    * Nothing anywhere is O(n²).
    */
  def mutualNearestNeighborsIvf(df: DataFrame,
      nCentroids: Int, nprobe: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      trainIters: Int = 0): DataFrame =
    // ivfTopK(k = 1) with the map-side [[top1]] argmax in place of the
    // ranking window's sort of ~|q|·nprobe·|cell| rows; same rounding
    // and tiebreak ⇒ bit-identical (spec-pinned via the ≡-exact
    // equivalences)
    mutualFilter(top1(ivfScores(df, df, nCentroids, nprobe, idCol,
      embCol, trainIters)))

  /** [[mutualNearestNeighbors]] over a CALLER-SUPPLIED candidate pair
    * frame — the generic bounded arm for candidate generators this
    * module doesn't own (LSH buckets via [[lshNearDupPairs]]'
    * machinery, a blocking key join, yesterday's pair artifact):
    * `pairs` holds undirected candidate pairs `(da, db)`; each side's
    * top-1 WITHIN its candidates is computed (exact rounded cosine,
    * id tiebreak), then the reciprocal filter applies. Returns
    * `(a, b, sim)`, a < b.
    *
    * Exact whenever the candidate set covers each vector's true
    * top-1 (spec-pinned on an LSH-covered corpus); vectors with no
    * candidate pair simply produce nothing. Cost: one equi-join of
    * the pair frame against the embedding frame per side (ids are
    * join keys — never a cross product) + a map-side-combined max_by
    * per query; everything is candidate-frame-sized.
    */
  def mutualNearestNeighborsFromCandidates(pairs: DataFrame,
      emb: DataFrame, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    // symmetrize once: per-side top-1 needs both directions of each
    // undirected candidate pair
    val undirected = pairs.select(col("da").cast("long").as("query_id"),
      col("db").cast("long").as("neighbor_id"))
    val directed = undirected.union(undirected.select(
      col("neighbor_id").as("query_id"), col("query_id").as("neighbor_id")))
    def side(id: String, p: String) =
      vecs(emb, col(idCol).cast("long").as(id), embCol, s"${p}_e",
        s"${p}_nrm")
    mutualFilter(top1(scorePairs(directed, side("query_id", "q"),
      side("neighbor_id", "n"))))
  }

  /** Every (left, right) pair's rounded cosine — the cross-corpus
    * scored stream shared by [[mutualNearestNeighborsBetween]] and
    * [[marginMiningScores]]: the left side broadcasts onto the
    * (rebalanced) right scan, so the pair stream is generated
    * map-side and never shuffled as pairs (the [[bruteForceTopK]]
    * shape WITHOUT the self-exclusion — cross-corpus ids live in
    * separate namespaces, so numeric collisions are legitimate
    * pairs).
    */
  private def crossScores(left: DataFrame, right: DataFrame,
      idCol: String, embCol: String): DataFrame = {
    val l = vecs(left, col(idCol).as("left_id"), embCol, "l_emb", "l_nrm")
    val r = graft.Tables.rebalance(vecs(right, col(idCol).as("right_id"),
      embCol, "r_emb", "r_nrm"))
    r.join(broadcast(l), lit(true))
      .select(col("left_id"), col("right_id"),
        cos6("l_emb", "r_emb", "l_nrm", "r_nrm").as("sim"))
  }

  /** CROSS-CORPUS mutual nearest neighbors — the actual bitext-mining
    * deployment shape (LASER/CCMatrix mine pairs BETWEEN a source and
    * a target corpus, not within one): `(left_id, right_id, sim)`
    * where right is left's cosine top-1 in RIGHT and left is right's
    * top-1 in LEFT. The self-corpus [[mutualNearestNeighbors]] is the
    * degenerate left = right case (minus its self-exclusion).
    *
    * Exact baseline: the scored stream is generated twice (once per
    * top-1 aggregation — each pass is map-side broadcast work, and
    * persisting an |L|·|R| frame would cost more than re-scoring);
    * both top-1s are partial-combining max_by argmaxes, never a
    * ranking window. At scale, bound candidates first and feed the
    * pair frame to [[mutualNearestNeighborsFromCandidates]] — with
    * directed pairs from IVF/LSH the reciprocal filter is identical.
    * Ids must be unique within each frame; the two id spaces are
    * independent (equal numeric ids across frames are a normal
    * cross-corpus pair).
    */
  def mutualNearestNeighborsBetween(left: DataFrame, right: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding")
      : DataFrame = {
    val scored = crossScores(left, right, idCol, embCol)
    val lTop = top1(scored, "left_id", "right_id")
    val rTop = scored.groupBy(col("right_id"))
      .agg(argmax(col("left_id"), "sim", "left_id").as("r_best"))
    lTop.join(rTop,
        lTop("right_id") === rTop("right_id") &&
          col("left_id") === col("r_best"))
      .select(col("left_id"), lTop("right_id").as("right_id"),
        col("sim"))
      .orderBy(col("left_id"))
  }

  /** Margin-based bitext mining scores (Artetxe & Schwenk 2019, the
    * LASER/CCMatrix criterion): for each left vector's cosine top-1
    * in RIGHT, the ABSOLUTE margin `sim − (avgₖ(left) + avgₖ(right))
    * / 2` — the top-1 similarity discounted by how similar each side
    * is to its k nearest neighbors in the other corpus (hubness
    * correction: a vector that is close to EVERYTHING scores low
    * margins everywhere). Returns `(left_id, right_id, sim_micro,
    * margin_micro)` — exact integer micro-cosine units end to end:
    * per-pair sims round to 6 decimals into DECIMAL (micro ints are
    * then exact), the two k-neighborhood sums are BIGINT, and the
    * averaging division is sign-split truncating (q166's discipline:
    * `sign·(abs div den)`, so Spark's toward-zero `div` and DuckDB's
    * floor `//` agree on every operand sign). No float boundary —
    * the driver hash gates the margins exactly.
    *
    * Cost shape: the scored stream is generated once (map-side
    * broadcast work, see [[crossScores]]) and persisted; the two top-k
    * neighborhoods need per-side ranking windows over the scored
    * stream (|L|·|R| rows at the exact baseline — at scale, generate
    * candidates with IVF/LSH first and run the same windows over the
    * candidate-bounded stream; the arithmetic is unchanged).
    */
  def marginMiningScores(left: DataFrame, right: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding")
      : DataFrame =
    // the micro-sim stream feeds BOTH per-side neighborhood windows;
    // persisted (3 longs per pair — spillable), the dot products run
    // once, not per branch
    marginTail(simMicro(crossScores(left, right, idCol, embCol))
      .persist(StorageLevel.MEMORY_AND_DISK), k)

  /** `(left_id, right_id, sim_micro)` of a scored cross-corpus pair
    * stream `(left_id, right_id, sim)`. */
  private def simMicro(scored: DataFrame): DataFrame =
    scored.select(col("left_id"), col("right_id"),
      micro(round(col("sim"), 6)).as("sim_micro"))

  /** The margin arithmetic of both margin arms over a micro-sim
    * stream `(left_id, right_id, sim_micro)`: per-side top-k
    * neighborhood sums, the left top-1, and its margin. */
  private def marginTail(scored: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val wL = Window.partitionBy(col("left_id"))
      .orderBy(col("sim_micro").desc, col("right_id"))
    val wR = Window.partitionBy(col("right_id"))
      .orderBy(col("sim_micro").desc, col("left_id"))
    val lNbh = scored.withColumn("_r", row_number().over(wL))
      .filter(col("_r") <= k)
      .groupBy(col("left_id"))
      .agg(sum(col("sim_micro")).as("sum_l"),
        count(lit(1)).as("k_l"),
        argmax(struct(col("right_id"), col("sim_micro")), "sim_micro",
          "right_id").as("top"))
    val rNbh = scored.withColumn("_r", row_number().over(wR))
      .filter(col("_r") <= k)
      .groupBy(col("right_id"))
      .agg(sum(col("sim_micro")).as("sum_r"),
        count(lit(1)).as("k_r"))
    // avg_micro = (sum_l·k_r + sum_r·k_l) / (2·k_l·k_r), sign-split
    // truncating so both engines agree on negative sums
    val s = col("sum_l") * col("k_r") + col("sum_r") * col("k_l")
    val avgMicro = when(s < 0,
        -expr("(abs(sum_l * k_r + sum_r * k_l)) div (k_l * k_r * 2)"))
      .otherwise(expr("(sum_l * k_r + sum_r * k_l)" +
        " div (k_l * k_r * 2)"))
    lNbh
      .select(col("left_id"), col("top.right_id").as("right_id"),
        col("top.sim_micro").as("sim_micro"), col("sum_l"),
        col("k_l"))
      .join(rNbh, Seq("right_id"))
      .select(col("left_id"), col("right_id"), col("sim_micro"),
        (col("sim_micro") - avgMicro).as("margin_micro"))
      .orderBy(col("left_id"))
  }

  /** [[marginMiningScores]] over a CALLER-SUPPLIED candidate pair
    * frame — the candidate-bounded arm (the CCMatrix deployment
    * reality: LASER mines margins over FAISS candidates, never the
    * |L|·|R| cross product). `pairs` holds cross-corpus candidate
    * pairs `(left_id, right_id)` (undirected by construction — one
    * row per pair; ids live in separate namespaces); only those pairs
    * are ever scored, each side's k-NN neighborhood sum is its top-k
    * WITHIN its candidates, and the margin arithmetic is the shared
    * [[marginTail]]. Left vectors with no candidate produce nothing.
    *
    * Exact whenever the candidate set covers each side's true top-k
    * in the other corpus (spec-pinned: candidates ⊇ per-side top-k ⇒
    * ≡ the exhaustive arm). Cost: two equi-joins of the pair frame
    * against the embedding frames (ids are join keys — never a cross
    * product), two ranking windows over the CANDIDATE-sized stream
    * (the exhaustive arm ran them over |L|·|R| rows), one map-side
    * argmax for the top-1. Everything is candidate-frame-sized; pair
    * generation is the caller's bounded operator ([[lshCrossPairs]],
    * [[ivfTopK]] probes, a blocking join, yesterday's pair artifact).
    */
  def marginMiningScoresFromCandidates(pairs: DataFrame,
      left: DataFrame, right: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding")
      : DataFrame =
    marginTail(simMicro(scorePairs(
      pairs.select(col("left_id").cast("long").as("left_id"),
        col("right_id").cast("long").as("right_id")),
      vecs(left, col(idCol).as("left_id"), embCol, "l_emb", "l_nrm"),
      vecs(right, col(idCol).as("right_id"), embCol, "r_emb", "r_nrm"))),
      k)

  /** CROSS-CORPUS LSH candidate pairs: `(left_id, right_id)` pairs of
    * vectors sharing a sign-LSH bucket in ANY of `tables` tables — the
    * candidate generator that feeds
    * [[mutualNearestNeighborsFromCandidates]] and
    * [[marginMiningScoresFromCandidates]] when the two corpora are
    * distinct (the within-corpus twin is [[lshNearDupPairs]]' bucket
    * self-join). Same plane family, same kernel, same explosive-join
    * guard (fixed-width repartition on the bucket key — AQE cannot see
    * quadratic join fan-out from tiny map outputs); generation is
    * `tables` equi-joins, never a cross product. Ids may numerically
    * collide across frames (separate namespaces) — pairs are kept
    * directional (left frame → left_id), no `<` orientation filter.
    */
  def lshCrossPairs(left: DataFrame, right: DataFrame, tables: Int,
      planesPerTable: Int, dims: Int, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    def bucketed(df: DataFrame, as: String): DataFrame =
      lshBuckets(graft.Tables.rebalance(
          df.select(col(idCol).as(as), col(embCol).as("e"))),
        as, "e", tables, planesPerTable, dims)
    val np = left.sparkSession.sparkContext.defaultParallelism
    bucketed(left, "left_id").repartition(np, col("t"), col("bk"))
      .join(bucketed(right, "right_id"), Seq("t", "bk"))
      .select(col("left_id"), col("right_id"))
      .distinct()
  }

  /** One row per (vector, LSH table): `(id, t, bk)` — the bucket of
    * every table from ONE native kernel call per row over the `emb`
    * column (bit-identical to the per-table literal-array dot products
    * of [[lshTableBucket]], but the plan carries ~5 nodes instead of
    * ~1,500 literals — see LshKernel). */
  private def lshBuckets(df: DataFrame, id: String, emb: String,
      tables: Int, planesPerTable: Int, dims: Int): DataFrame =
    df.select(col(id), posexplode(graft.functions.Lsh.buckets(
        darr(col(emb)), tables, planesPerTable, dims)))
      .select(col(id), col("pos").cast("int").as("t"), col("col").as("bk"))

  /** LSH geometry auto-calibration — the measurement PLANS.md round
    * 11 ("ScaleMutual") proved is make-or-break (6×4 planes LOSE
    * under 64 clusters, 6×8 win at 32k): for each `(tables,
    * planesPerTable)` config in the ladder, measured on a deterministic SAMPLE of both corpora
    * (`idCol % sampleMod = 0` — sampling is what makes the exact
    * truth affordable), one report row:
    *  - `probe_volume` = Σ over buckets |L_b|·|R_b| — the bucket-join
    *    fan-out the config would pay (occupancy distribution collapsed
    *    to the number that drives cost);
    *  - `n_cand_pairs` = distinct candidate pairs out of
    *    [[lshCrossPairs]], and `pair_ppm`, its fraction of the
    *    sample's |L|·|R|;
    *  - `recall_ppm` = the fraction of exact cross-corpus top-1 pairs
    *    (brute force on the sample) present in the candidates, and
    *    `passes` vs `recallFloorPpm`.
    *
    * The caller picks the CHEAPEST passing config (fewest candidate
    * pairs / probe volume); RecallGateSpec-style floors should be
    * re-derived from the calibrated geometry. Plane families nest
    * (table t at p planes uses planes t·p..t·p+p−1), so at fixed p
    * more tables strictly add candidates — recall is monotone in
    * `tables`, spec-pinned. Everything is sample- and
    * config-ladder-bounded; the per-config loop unions one-row
    * frames.
    */
  def calibrateLshGeometry(left: DataFrame, right: DataFrame,
      configs: Seq[(Int, Int)], dims: Int,
      sampleMod: Int = 2, recallFloorPpm: Long = 500000L,
      idCol: String = "vec_id", embCol: String = "embedding")
      : DataFrame = {
    require(configs.nonEmpty, "need at least one (tables, planes) config")
    require(sampleMod >= 1)
    val sl = left.where(pmod(col(idCol), lit(sampleMod)) === 0)
      .localCheckpoint()
    val sr = right.where(pmod(col(idCol), lit(sampleMod)) === 0)
      .localCheckpoint()
    // exact truth on the sample: each left vector's cosine top-1 in
    // right (the max_by argmax over the broadcast cross stream)
    val truth = crossScores(sl, sr, idCol, embCol)
      .groupBy(col("left_id"))
      .agg(argmax(col("right_id"), "sim", "right_id").as("right_id"))
      .localCheckpoint()
    val sizes = sl.agg(count(lit(1)).as("n_left")).crossJoin(
      sr.agg(count(lit(1)).as("n_right"))).crossJoin(
      truth.agg(count(lit(1)).as("n_truth")))
    // arms are independent given the shared sample/truth checkpoints;
    // each arm's EAGER work (the lshCrossPairs localCheckpoint) runs
    // overlapped from driver threads so the wall is ≈ the slowest arm
    // rather than the sum (guide §2.6; optimization round 20 — the
    // sequential shape serialized three candidate-pair jobs whose
    // tails left the cluster idle)
    val arms = graft.core.Par.mapInParallel(configs) {
      case (tables, planes) =>
      def occ(df: DataFrame, as: String): DataFrame =
        lshBuckets(df, idCol, embCol, tables, planes, dims)
          .groupBy(col("t"), col("bk")).agg(count(lit(1)).as(as))
      val probeVol = occ(sl, "cl").join(occ(sr, "cr"), Seq("t", "bk"))
        .agg(coalesce(sum(col("cl") * col("cr")), lit(0L))
          .as("probe_volume"))
      val cand = lshCrossPairs(sl, sr, tables, planes, dims,
        idCol, embCol).localCheckpoint()
      val nCand = cand.agg(count(lit(1)).as("n_cand_pairs"))
      val caught = truth
        .join(cand, Seq("left_id", "right_id"), "left_semi")
        .agg(count(lit(1)).as("n_caught"))
      sizes.crossJoin(broadcast(probeVol))
        .crossJoin(broadcast(nCand)).crossJoin(broadcast(caught))
        .select(lit(tables.toLong).as("tables"),
          lit(planes.toLong).as("planes"),
          col("n_left"), col("n_right"), col("probe_volume"),
          col("n_cand_pairs"),
          expr("(n_cand_pairs * 1000000) div (n_left * n_right)")
            .as("pair_ppm"),
          col("n_truth"),
          col("n_caught"),
          when(col("n_truth") > 0,
            expr("(n_caught * 1000000) div n_truth")).otherwise(0L)
            .as("recall_ppm"))
        .withColumn("passes", col("recall_ppm") >= recallFloorPpm)
    }
    arms.reduce(_ unionAll _).orderBy(col("tables"), col("planes"))
  }

  /** Bucket id for LSH table `t`: `planesPerTable` sign bits from the
    * plane family `t*planesPerTable .. t*planesPerTable+planesPerTable-1`.
    */
  def lshTableBucket(e: Column, t: Int, planesPerTable: Int, dims: Int): Column =
    (0 until planesPerTable).map { j =>
      val signs = array(planeSigns(t * planesPerTable + j, dims).map(lit): _*)
      when(dot(e, signs) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Johnson–Lindenstrauss sign-random projection: embed `dims`-d
    * vectors into `outDims` dimensions via the md5-derived ±1
    * hyperplane family ([[planeSigns]] — the same planes the q29 LSH
    * tables use) scaled by 1/√outDims, the cheap distance-preserving
    * reduction (Achlioptas 2003 showed ±1 entries satisfy the JL
    * lemma) an embedding pipeline runs before LSH/clustering when the
    * INDEX, not the model, bounds dimensionality.
    *
    * Purely map-side: `outDims` dot products per row against literal
    * sign vectors — no shuffle, no model frame; at 100 TB the cost is
    * the scan. Returns `(idCol, dim, v)` rows, `v` rounded to 6
    * decimals (`√outDims` is IEEE-exact for perfect-square `outDims`,
    * so the scale division is engine-identical; oracle q109 replays
    * the sign lists inline exactly like q29).
    */
  def randomProject(df: DataFrame, outDims: Int, dims: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(outDims > 0, "outDims must be positive")
    val scale = math.sqrt(outDims.toDouble)
    val projections = array((0 until outDims).map { j =>
      val signs = array(planeSigns(j, dims).map(lit): _*)
      round(dot(col("_e"), signs) / scale, 6)
    }: _*)
    df.select(col(idCol), darr(col(embCol)).as("_e"))
      .select(col(idCol), posexplode(projections).as(Seq("dim", "v")))
      .select(col(idCol), col("dim").cast("bigint").as("dim"), col("v"))
  }

  /** Top principal component by POWER ITERATION — the decorrelation
    * step an embedding-index pipeline runs before quantization (FAISS
    * ships PCA/OPQ matrices for exactly this; Jégou 2011 §IV notes PQ
    * degrades on correlated dimensions). Returns the unit-norm
    * dominant eigenvector of the (N-scaled) covariance as
    * `(dim, v)` rows after `iters` iterations from the deterministic
    * uniform start `v₀ = 1/√dims` (exact at power-of-4 dims).
    *
    * Replayability discipline (q91-Lloyd family; oracle q110):
    *  - per-dimension means round to 6 decimals (the trainedCentroids
    *    arithmetic);
    *  - centered components are DECIMAL(12,6), so every covariance
    *    product/sum is EXACT decimal arithmetic — decimal widths are
    *    chosen to keep all products ≤ precision 38, because DuckDB
    *    silently degrades wider products to DOUBLE whose summation
    *    order would break the oracle;
    *  - the UNNORMALIZED covariance `C = Σ x xᵀ` (round 6) is used —
    *    same eigenvectors as the mean-normalized matrix, and dropping
    *    the /N division removes a rounding boundary entirely;
    *  - each matvec `u = round₆(C·v)` is exact decimal; only the
    *    normalization touches doubles (IEEE sqrt + division + round —
    *    the cross-engine pair every cosine already relies on).
    *
    * Scale shape: corpus-sized reductions run in Spark, model-sized
    * iteration runs on the driver. One component explode
    * (corpus-reduced to N·dims rows) and ONE self-join build the
    * dims² covariance, which collects to the driver; the `iters`
    * matvecs are driver arithmetic on it ([[powerIterate]]) and never
    * touch Spark. At 100 TB: covariance state is dims², independent
    * of N; train on a sample if dims is huge.
    */
  def topPrincipalComponent(df: DataFrame, dims: Int, iters: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val (_, v) = pcaCore(df, dims, iters, idCol, embCol)
    df.sparkSession.createDataFrame(
      v.indices.map(p => Row(p.toLong, v(p).doubleValue)).asJava,
      StructType(Seq(StructField("dim", LongType),
        StructField("v", DoubleType))))
  }

  /** Project every vector onto the learned top principal component —
    * the whitening/reduction step using the TRAINED transform (the
    * data-independent [[randomProject]]'s learned counterpart):
    * `proj = round₆(Σ_p x_p·v_p)` over the centered DECIMAL components
    * and the exact-decimal eigenvector, so the projection itself is
    * exact decimal arithmetic (rounded BEFORE the double cast — no
    * quotient/product boundary). One extra broadcast join + aggregation
    * over the already-materialized centered frame; oracle q111 replays
    * training and projection from one CTE chain.
    */
  def pcaProject(df: DataFrame, dims: Int, iters: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val (cen, v) = pcaCore(df, dims, iters, idCol, embCol)
    val vDf = df.sparkSession.createDataFrame(
      v.indices.map(q => Row(q, v(q))).asJava,
      StructType(Seq(StructField("q", IntegerType),
        StructField("v", DecimalType(12, 6)))))
    cen.join(broadcast(vDf), col("p") === col("q"))
      .groupBy(col("id"))
      .agg(round(sum(col("x") * col("v")), 6).cast("double").as("proj"))
      .select(col("id").as(idCol), col("proj"))
  }

  /** Top `nComponents` principal components by power iteration +
    * SPECTRAL DEFLATION: after each component converges, subtract its
    * rank-1 term from the covariance (`C ← C − λ v vᵀ`, with λ = the
    * final iteration's matvec norm — for the dominant eigenvector
    * `u = C v = λ v`, so ‖u‖ IS the eigenvalue) and re-iterate on the
    * deflated matrix. Every deflation product rounds to 6 decimals in
    * two exact-decimal steps (`round₆(λ·v_p)` then `round₆(·v_q)`),
    * and λ itself is rounded to 6, exactly as the oracle's SQL rounds
    * it, so the deflated matrices — and therefore all components —
    * replay exactly (oracle q114 for nComponents = 2). Orthogonality
    * of the results is approximate (finite iterations + 6-decimal
    * rounding), pinned by spec bound, not assumed.
    *
    * Returns `(component, dim, v)` with components numbered from 0 in
    * decreasing-eigenvalue order. Cost: corpus-sized reductions run in
    * Spark, model-sized iteration runs on the driver — the one
    * corpus-reduced covariance build is the only Spark work; the
    * nComponents · iters matvecs and every deflation ([[deflate]]) are
    * driver arithmetic on the collected dims² matrix.
    */
  def principalComponents(df: DataFrame, dims: Int, iters: Int,
      nComponents: Int, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(nComponents >= 1, "nComponents must be >= 1")
    var cov = pcaCovariance(df, dims, idCol, embCol)._2
    val rows = (0 until nComponents).flatMap { comp =>
      val (v, lam6) = powerIterate(cov, iters)
      if (comp < nComponents - 1) cov = deflate(cov, v, lam6)
      v.indices.map(p => Row(comp.toLong, p.toLong, v(p).doubleValue))
    }
    df.sparkSession.createDataFrame(rows.asJava,
      StructType(Seq(StructField("component", LongType),
        StructField("dim", LongType), StructField("v", DoubleType))))
  }

  /** Shared power-iteration core: the materialized centered-component
    * frame `(id, p, x)` and the final eigenvector as exact
    * 6-decimal values, indexed by dimension. */
  private def pcaCore(df: DataFrame, dims: Int, iters: Int,
      idCol: String, embCol: String)
      : (DataFrame, IndexedSeq[JDecimal]) = {
    val (cen, cov) = pcaCovariance(df, dims, idCol, embCol)
    (cen, powerIterate(cov, iters)._1)
  }

  /** A covariance on the driver: `cov(p)(q)` is the exact
    * `decimal(18,6)` entry `c_pq`. */
  private[graft] type Cov = IndexedSeq[IndexedSeq[JDecimal]]

  /** Centered components (materialized) + the exact-decimal
    * covariance, collected to the driver. */
  private def pcaCovariance(df: DataFrame, dims: Int, idCol: String,
      embCol: String): (DataFrame, Cov) = {
    val comp = graft.Tables.rebalance(
        df.select(col(idCol).as("id"), darr(col(embCol)).as("e")))
      .select(col("id"), posexplode(col("e")).as(Seq("p", "val")))
    val m = comp.groupBy(col("p"))
      .agg(round(avg(col("val")), 6).cast("decimal(12,6)").as("m"))
    val cen = comp.join(broadcast(m), Seq("p"))
      .select(col("id"), col("p"),
        (col("val").cast("decimal(12,6)") - col("m")).as("x"))
      .localCheckpoint()
    val c = cen.as("a")
      .join(cen.as("b"), col("a.id") === col("b.id"))
      .select(col("a.p").as("p"), col("b.p").as("q"),
        (col("a.x") * col("b.x")).as("xx"))
      .groupBy(col("p"), col("q"))
      .agg(round(sum(col("xx")), 6).cast("decimal(18,6)").as("c"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDecimal(2)).toMap
    require(c.size == dims * dims && c.values.forall(_ != null),
      s"the covariance is not $dims×$dims: every embedding needs $dims " +
        "components, and no dimension may be all null")
    (cen, IndexedSeq.tabulate(dims, dims)((p, q) => c((p, q))))
  }

  /** `x` as Spark's ANSI cast to `decimal(precision, scale)` leaves it:
    * rounded HALF_UP to `scale` (what SQL `round(x, 6)` and the cast
    * both do), and an overflow raises, as Spark's cast does. */
  private def ansiDecimal(x: JDecimal, precision: Int,
      scale: Int = 6): JDecimal = {
    val r = x.setScale(scale, java.math.RoundingMode.HALF_UP)
    if (r.precision - r.scale > precision - scale)
      throw new ArithmeticException(
        s"$r overflows decimal($precision,$scale)")
    r
  }

  /** A double as Spark's cast to `decimal(precision, 6)` reads it:
    * through its shortest decimal string (`Decimal(double)`). */
  private def ansiDecimal(d: Double, precision: Int): JDecimal =
    ansiDecimal(JDecimal.valueOf(d), precision)

  /** Power iteration: the converged unit eigenvector (exact 6-decimal
    * values, indexed by dimension) and λ₆, the final matvec norm
    * rounded to 6 — the eigenvalue estimate [[deflate]] subtracts.
    * Cost: corpus-sized reductions run in Spark, model-sized iteration
    * runs on the driver — this is the model-sized part, so it runs no
    * Spark job. Each step is the SQL the oracle replays, computed
    * exactly as Spark computes it (PcaArithmeticSpec pins every step
    * against Spark itself):
    *  - `u_p = round₆(Σ_q c_pq·v_q)` as `decimal(18,6)` — exact decimal;
    *  - `nrm = sqrt(Σu²)`, the exact `decimal(38,12)` sum through
    *    Spark's decimal → double conversion;
    *  - `λ₆ = round₆(nrm)` as `decimal(18,6)`;
    *  - `v_p = round₆(u_p / nrm)` in double, as `decimal(12,6)`.
    * A zero norm divides by zero, and raises as ANSI Spark does. */
  private[graft] def powerIterate(cov: Cov, iters: Int)
      : (IndexedSeq[JDecimal], JDecimal) = {
    require(iters >= 1, "iters must be >= 1")
    import graft.functions.VectorKernel.round6
    val zero = JDecimal.ZERO
    val v0 = JDecimal.valueOf(
      Math.round(1e6 / math.sqrt(cov.size.toDouble)), 6)
    (1 to iters).foldLeft((cov.map(_ => v0), zero)) { case ((v, _), _) =>
      val u = cov.map(row => ansiDecimal(
        row.indices.foldLeft(zero)((s, q) => s.add(row(q).multiply(v(q)))),
        18))
      // Spark's Decimal.toDouble is this same BigDecimal.doubleValue
      val nrm = math.sqrt(ansiDecimal(
        u.foldLeft(zero)((s, x) => s.add(x.multiply(x))), 38, 12).doubleValue)
      if (nrm == 0.0)
        throw new ArithmeticException("power iteration: division by zero " +
          "(the matvec norm is 0)")
      (u.map(x => ansiDecimal(round6(x.doubleValue / nrm), 12)),
        ansiDecimal(round6(nrm), 18))
    }
  }

  /** Spectral deflation on the driver, `C ← C − λ₆ v vᵀ` as the oracle
    * writes it: `c_pq − round₆(round₆(λ₆·v_p)·v_q)`, every step exact
    * decimal cast to `decimal(18,6)`. */
  private[graft] def deflate(cov: Cov, v: IndexedSeq[JDecimal],
      lam6: JDecimal): Cov =
    cov.indices.map { p =>
      val lv = ansiDecimal(lam6.multiply(v(p)), 18)
      cov(p).indices.map(q => ansiDecimal(
        cov(p)(q).subtract(ansiDecimal(lv.multiply(v(q)), 18)), 18))
    }

  /** The `nCentroids` lowest-id vectors as coarse-quantizer seeds —
    * `(cen_id, cen_e, cen_nrm)`. Seed selection affects recall, not
    * the plumbing, and the deterministic choice lets the DuckDB oracle
    * replay the whole pipeline; [[trainedCentroids]] is the
    * k-means-refined production path (`trainIters` on the consumers).
    */
  def seedCentroids(candidates: DataFrame, nCentroids: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    candidates.orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).as("cen_id"), col(embCol).as("cen_e"),
        sqrt(norm2(col(embCol))).as("cen_nrm"))

  /** Spherical k-means refinement of [[seedCentroids]]: `iters` Lloyd
    * iterations under the rounded-cosine metric ([[assignCells]] is the
    * assignment step), each followed by a per-cell, per-dimension mean.
    * Returns the same `(cen_id, cen_e, cen_nrm)` shape as
    * [[seedCentroids]]; empty cells drop (standard Lloyd), so the
    * result may hold fewer than `nCentroids` rows.
    *
    * This is the production recall path for [[ivfTopK]] / [[semDedup]]
    * / [[ivfPqTopK]] (the r5 verdict's "trained centroids" gap): the
    * catalog queries keep deterministic lowest-id seeds so the DuckDB
    * oracle can replay every assignment, and training changes WHICH
    * centroids the plan broadcasts — never the plan shape.
    * PLANS.md round 6 records the measured recall delta.
    *
    * Scale shape: corpus-sized reductions run in Spark, model-sized
    * iteration runs on the driver. Each iteration is one broadcast-
    * assign pass (the fused argmax of [[assignCells]], no shuffle of
    * the corpus) plus the (nCentroids × dims)-sized mean aggregation
    * of [[lloydMeans]], which collects to the driver — model-sized,
    * like any k-means library — so the next iteration broadcasts
    * literal centroids instead of growing a lineage chain.
    * Per-dimension means round to 6 decimals each iteration, pinning
    * run-to-run float drift below the assignment's own 6-decimal
    * rounding. For very large corpora, train on a sample: recall needs
    * representative centroids, not every row.
    */
  def trainedCentroids(df: DataFrame, nCentroids: Int, iters: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    (1 to iters).foldLeft(seedCentroids(df, nCentroids, idCol, embCol)) {
      (cen, _) =>
        lloydMeans(assignCells(df, cen, idCol, embCol)
            .withColumnRenamed("cell", "cen_id"),
          Seq("cen_id"), darr(col("e")), "cen_e")
          .select(col("cen_id"), col("cen_e"),
            sqrt(norm2(col("cen_e"))).as("cen_nrm"))
    }
  }

  /** The coarse quantizer of every IVF arm: `trainIters` rounds of
    * [[trainedCentroids]] when positive, else the lowest-id
    * [[seedCentroids]]. */
  private def coarseCentroids(df: DataFrame, nCentroids: Int,
      trainIters: Int, idCol: String, embCol: String): DataFrame =
    if (trainIters > 0)
      trainedCentroids(df, nCentroids, trainIters, idCol, embCol)
    else seedCentroids(df, nCentroids, idCol, embCol)

  /** Nearest-cell assignment against a (broadcast) centroid frame:
    * `(id, e, nrm, cell)` with cell = argmax rounded cosine, ties to the
    * lowest cen_id.
    *
    * The assignment is a map-side max_by aggregation, not a ranking
    * window: the window formulation shuffles AND sorts one group per
    * candidate (at 100k vectors that sort dominated the whole query);
    * max_by keeps one (sim, cell, emb) buffer per candidate and combines
    * partially before the exchange. Ordering (csim desc, cen_id asc) is
    * preserved via the (csim, -cen_id) sort key. Similarity is rounded
    * to 6 decimals BEFORE the argmax so cell assignment is cross-engine
    * deterministic.
    */
  def assignCells(candidates: DataFrame, cen: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    // shadow-cast to array<double> ONCE PER ROW (the r19 cast-hoist:
    // the dot kernel's internal float→double cast otherwise allocates
    // fresh arrays per pair). The OUTPUT `e` keeps the caller's
    // original element type — consumers persist and re-derive from
    // it, so its schema must not drift.
    val c = graft.Tables.rebalance(
      candidates.select(col(idCol).as("id"),
        col(embCol).as("e"), sqrt(norm2(col(embCol))).as("nrm")))
      .withColumn("_ed", darr(col("e")))
    // The centroid table (broadcast-sized by construction) packs into
    // ONE row of parallel arrays and the fused argmax kernel scans it
    // per candidate: the previous shape fanned the corpus out
    // ×nCentroids rows through a BroadcastNestedLoopJoin and paid a
    // max_by aggregation whose buffers carried the embedding — per
    // Lloyd iteration, per assignment pass. One kernel call per row
    // replaces fan-out + aggregation + their exchange; scores and tie
    // order are bit-identical (VectorKernel.bestCellCosine mirrors
    // round(..,6) and the struct ordering exactly; ArgKernelSpec
    // pins kernel ≡ declarative). Guide §4; optimization round 20.
    val table = packed(cen.select(col("cen_id"),
      darr(col("cen_e")).as("cv"), col("cen_nrm").as("cnrm")), Nil,
      "cen_id", "cv", "cnrm")
    c.join(broadcast(table), lit(true))
      // empty centroid table ⇒ no assignment rows (the fan-out shape's
      // inner-join semantics, preserved)
      .where(size(col("cen_ids")) > 0)
      .select(col("id"), col("e"), col("nrm"),
        graft.functions.Vectors.bestCellCosine(col("_ed"), col("nrm"),
          col("cen_ids"), col("cvs"), col("cnrms")).as("cell"))
  }

  /** IVF (inverted-file) ANN top-k — the classic coarse-quantizer scale
    * path: candidates are assigned to their nearest of `nCentroids`
    * cells once ([[assignCells]]), queries probe only their `nprobe`
    * best cells, and exact scoring runs inside probed cells only —
    * search cost drops by ~nprobe/nCentroids versus brute force,
    * trading bounded recall. Scoring is the shared [[cos6]].
    */
  def ivfTopK(
      queries: DataFrame, candidates: DataFrame, k: Int,
      nCentroids: Int, nprobe: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      trainIters: Int = 0): DataFrame =
    topK(ivfScores(queries, candidates, nCentroids, nprobe, idCol, embCol,
        trainIters),
      "query_id", k, col("sim").desc, col("neighbor_id"))

  /** Each query's `nprobe` best cells — rounded cosine to the cell
    * centroid, ties to the lowest cen_id: `(query_id, q_emb, q_nrm,
    * cell)`, one row per probed cell. The centroid table broadcasts. */
  private def probeCells(queries: DataFrame, idCol: String,
      embCol: String, cells: DataFrame, nprobe: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("psim").desc, col("cen_id"))
    vecs(queries, col(idCol).as("query_id"), embCol, "q_emb", "q_nrm")
      .join(broadcast(cells.withColumn("_cend", darr(col("cen_e")))),
        lit(true))
      .select(col("query_id"), col("q_emb"), col("q_nrm"), col("cen_id"),
        cos6("q_emb", "_cend", "q_nrm", "cen_nrm").as("psim"))
      .withColumn("_r", row_number().over(w))
      .filter(col("_r") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        col("cen_id").as("cell"))
  }

  /** IVF candidate generation + exact scoring, shared by [[ivfTopK]]
    * and [[mutualNearestNeighborsIvf]]: candidates assigned to their
    * nearest cell ([[assignCells]]), each query scored against the
    * candidates of its probed cells only, self pairs excluded —
    * `(query_id, neighbor_id, sim)`. */
  private def ivfScores(queries: DataFrame, candidates: DataFrame,
      nCentroids: Int, nprobe: Int, idCol: String, embCol: String,
      trainIters: Int): DataFrame = {
    val cen = coarseCentroids(candidates, nCentroids, trainIters, idCol,
      embCol)
    val assigned = assignCells(candidates, cen, idCol, embCol)
      .select(col("id").as("neighbor_id"), darr(col("e")).as("c_emb"),
        col("nrm").as("c_nrm"), col("cell"))
    val probes = probeCells(queries, idCol, embCol, cen, nprobe)
    // same explosive-join guard as lshNearDupPairs: the probe⨝cell join's
    // inputs are small but its output is ~|queries|·nprobe·(N/nCentroids);
    // pin user-specified partitioning so AQE can't serialize the fan-out
    val np = candidates.sparkSession.sparkContext.defaultParallelism
    probes.join(assigned.repartition(np, col("cell")), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cos6("q_emb", "c_emb", "q_nrm", "c_nrm").as("sim"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space coarsely, then mark
    * as duplicates the vectors whose rounded cosine to a LOWER-id
    * vector in the SAME cell reaches `threshold` — the lowest id in
    * each semantic group survives as the representative.
    *
    * Returns one row per vector: `(idCol, cell, semdup)`.
    *
    * Scale contract: this is the whole point of SemDeDup — the O(N²)
    * pairwise comparison drops to Σ|cell|², and cells stay bounded when
    * `nCentroids` grows with N (the paper uses k ≈ √N). Cell assignment
    * is one broadcast join + map-side max_by ([[assignCells]]); the
    * within-cell self-join is an equi-join on `cell`, pinned to a
    * user-specified repartition so AQE cannot coalesce the (tiny) input
    * shuffles and serialize the quadratic join fan-out into one task —
    * the same explosive-join guard as [[lshNearDupPairs]]. Never a
    * cross product.
    */
  def semDedup(
      df: DataFrame, threshold: Double, nCentroids: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      trainIters: Int = 0): DataFrame = {
    val cen = coarseCentroids(df, nCentroids, trainIters, idCol, embCol)
    // the assignment frame feeds both self-join branches and the final
    // verdict join — persist so the centroid scoring runs once, not 3×.
    // CacheManager keys on the canonical plan, so repeat calls over the
    // SAME corpus share the entry; each distinct corpus adds one, and
    // spark.catalog.clearCache() after consuming the result releases
    // them (what Bench/Verify do between queries)
    val a = assignCells(df, cen, idCol, embCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val np = df.sparkSession.sparkContext.defaultParallelism
    val ap = a.repartition(np, col("cell"))
    // "y has a lower-id near-identical neighbor x in its cell" ⇒ y is
    // the redundant copy; distinct because several x may witness it.
    // cast to array<double> once per row per side, not per pair
    // (the dot kernel's implicit cast allocates per evaluation)
    val apd = ap.select(col("id"), col("cell"), col("nrm"),
      darr(col("e")).as("_ed"))
    val dups = apd.as("x").join(apd.as("y"),
        col("x.cell") === col("y.cell") && col("x.id") < col("y.id"))
      .filter(cos6("x._ed", "y._ed", "x.nrm", "y.nrm") >= threshold)
      .select(col("y.id").as("id")).distinct()
      .withColumn("semdup", lit(true))
    a.join(dups, Seq("id"), "left")
      .select(col("id").as(idCol), col("cell"),
        coalesce(col("semdup"), lit(false)).as("semdup"))
  }

  /** kNN label propagation (auto-labeling): classify each query vector
    * by the majority label among its `k` nearest labeled candidates
    * (exact rounded cosine), ties broken toward the smaller label.
    * Returns `(query_id, pred_label, n_votes)`.
    *
    * Built on [[bruteForceTopK]] (broadcast query side — the labeled
    * pool streams through without shuffling); the vote itself
    * aggregates the tiny |queries|·k neighbor table. For large query
    * sets swap the top-k stage for [[ivfTopK]] — the vote is the same.
    */
  def knnClassify(
      queries: DataFrame, candidates: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val labels = candidates.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("n_label"))
    val votes = bruteForceTopK(queries, candidates, k, idCol, embCol)
      .join(labels, Seq("neighbor_id"))
      .groupBy(col("query_id"), col("n_label"))
      .agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("n_label"))
    votes.withColumn("_r", row_number().over(w))
      .filter(col("_r") === 1)
      .select(col("query_id"), col("n_label").as("pred_label"),
        col("n_votes"))
  }

  /** IVF-PQ composite ANN (the FAISS-style index architecture): coarse
    * cells bound WHICH candidates are scored ([[assignCells]] — queries
    * probe their `nprobe` nearest of `nCells` cells) and product
    * quantization bounds HOW each is scored ([[pqTopK]]'s ADC — codes
    * never decompress). Returns `(query_id, neighbor_id, adist, rank)`.
    *
    * Codebooks are global, not per-cell residual (the residual
    * refinement changes constants, not the plan shape; deterministic
    * seeding keeps the whole pipeline SQL-replayable). With
    * `nprobe = nCells` this is exactly [[pqTopK]] — pinned by
    * QuantizeSpec — so recall degrades only through cell pruning, by
    * ~nprobe/nCells of the scored volume.
    *
    * Scale shape: both centroid tables broadcast; candidates carry
    * (cell, m codes); the per-query distance table broadcasts; the
    * probe join prunes the code stream BEFORE the distance sums, so
    * the aggregation touches ~nprobe/nCells of the corpus.
    */
  def ivfPqTopK(
      queries: DataFrame, candidates: DataFrame, k: Int,
      nCells: Int, nprobe: Int, dims: Int, m: Int, nCentroids: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      trainIters: Int = 0): DataFrame =
    ivfPqSearch(queries,
      ivfPqIndex(candidates, nCells, dims, m, nCentroids, idCol, embCol,
        trainIters),
      k, nprobe, idCol, embCol)

  /** The three materializable artifacts of an IVF-PQ index — the
    * build-once/search-many deployment shape: `build` writes them as
    * parquet (one subdirectory each), a search job [[IvfPqIndex.read]]s
    * them back and runs [[ivfPqSearch]] without touching the corpus
    * embeddings at all. `dims` and `m` are the geometry the codes were
    * encoded with; `write` records them in the build's manifest
    * commit. Sizes: cells = nCells rows, codebook =
    * m·nCentroids rows (both broadcast at search time), codes = one
    * (id, j, code, cell) row per (vector, subspace) — the only
    * corpus-sized artifact, m·log₂(nCentroids) bits of payload per
    * vector. q95 hash-gates the full write → read → search round-trip
    * against q87's oracle (bit-identical results by construction:
    * doubles round-trip parquet exactly).
    */
  final case class IvfPqIndex(cells: DataFrame, codebook: DataFrame,
      codes: DataFrame, dims: Int, m: Int) {
    def write(dir: String): Unit = {
      // a rebuild must not inherit a previous incarnation's
      // tombstones, counters, versioned-dir pointers — or its drift
      // baseline (a side table this write does not itself produce:
      // serving yesterday's baseline against today's codebook would
      // silently mis-calibrate the retrain trigger)
      graft.sink.IndexLayout.freshLayout(cells.sparkSession, dir,
        sideLogicals = Seq("drift_meta"))
      Parquet.writer(cells).mode("overwrite").parquet(s"$dir/cells")
      Parquet.writer(codebook).mode("overwrite").parquet(s"$dir/codebook")
      // persisted codes carry the IndexLayout generation (0 at build;
      // appends/upserts stamp later generations) — in-memory search
      // never reads it, `read` strips it after the kill floor
      graft.sink.IndexLayout.writeFlatFacts(codes, dir, "codes")
      graft.sink.IndexLayout.commitBuild(cells.sparkSession, dir,
        "dims" -> dims, "m" -> m)
    }

    /** Add new vectors WITHOUT rebuilding — FAISS `add()` semantics,
      * the nightly-ingest shape (the ANN counterpart of q77's
      * cross-corpus dedup and q98's incremental packing): cells and
      * codebooks stay FROZEN, new vectors are assigned to the existing
      * cells and encoded against the existing per-subspace centroids,
      * and only the code stream grows. Search is unchanged — it reads
      * whatever codes the index holds. Delta-sized work: two broadcast
      * joins over the new batch only; the existing corpus is never
      * touched. (Quantization error drifts as the distribution moves —
      * re-train/rebuild on your retraining cadence, not per ingest.)
      */
    def append(newVecs: DataFrame, idCol: String = "vec_id",
        embCol: String = "embedding"): IvfPqIndex =
      copy(codes = codes.unionByName(
        ivfPqCodes(cells, codebook, newVecs, dims, m, idCol, embCol)))
  }

  object IvfPqIndex {
    /** Tombstone-killed generations ([[ivfPqFamily]] deletes and
      * upserts) are filtered out of the code stream at
      * read time, so a takedown or re-embed is visible to every
      * subsequent search without touching cells/codebook (frozen, the
      * `append` contract — a deleted vector simply stops being a
      * candidate; quantizer training data is not "un-trained", the
      * same semantics FAISS `remove_ids` gives). */
    def read(spark: org.apache.spark.sql.SparkSession,
        dir: String, pinned: Option[graft.sink.IndexManifest] = None)
        : IvfPqIndex = {
      // one manifest snapshot (caller-pinned or latest) resolves
      // every artifact — a concurrent purge/compaction/retrain commit
      // can never hand this reader a mixed pre/post view; visibleFacts
      // keeps only PUBLISHED code generations (reader-atomic mutations)
      val man = pinned.getOrElse(graft.sink.IndexManifest.latest(spark, dir))
      def sub(l: String) = graft.sink.IndexLayout.dir(dir, man, l)
      val codes = graft.sink.IndexLayout.applyTombstones(
          graft.sink.IndexLayout.visibleFacts(
            Parquet.read(spark, sub("codes")), man),
          graft.sink.IndexLayout.tombstoneFloor(spark, dir, "id", man),
          "id")
        .drop("gen")
      IvfPqIndex(
        Parquet.read(spark, sub("cells")),
        Parquet.read(spark, sub("codebook")),
        codes, man.params("dims"), man.params("m"))
    }
  }

  /** The IVF-PQ family of [[graft.sink.IndexFamily]] — append,
    * upsert, delete, CDC, purge, compaction and streaming ingest of a
    * persisted [[IvfPqIndex]]. Appends and upserts are
    * [[IvfPqIndex.append]]'s FAISS-`add()` semantics without
    * rewriting the corpus-sized code stream: cells and codebook are
    * read back FROZEN, only the increment is assigned and encoded,
    * and only its code rows are appended — delta work, delta I/O. An
    * upsert is the re-embed event (a new embedding under the same
    * id); the quantization-drift caveat applies doubly there — run
    * [[ivfPqDriftStats]] on the batch and retrain
    * ([[retrainIvfPqIndex]]) past the calibrated threshold. Deletes
    * are FAISS `remove_ids`: [[IvfPqIndex.read]] filters the `id`
    * tombstones out of the code stream, cells and codebook stay
    * frozen. There is no postings tree: purge, compaction and CDC
    * work on the flat `codes` table. The geometry (`dims`, `m`) comes
    * from the index's manifest. */
  def ivfPqFamily(idCol: String = "vec_id",
      embCol: String = "embedding"): graft.sink.IndexFamily =
    graft.sink.IndexFamily("ivfpq", key = "id", idCol = idCol,
      bucketCol = None, flats = Seq("codes"), cdcTable = "codes",
      appendFacts = (path, vecs, g) =>
        appendIvfPqCodes(path, vecs, idCol, embCol, g))

  private def appendIvfPqCodes(path: String, newVecs: DataFrame,
      idCol: String, embCol: String, gen: Long): Unit = {
    val spark = newVecs.sparkSession
    val man = graft.sink.IndexManifest.latest(spark, path)
    def sub(l: String) = graft.sink.IndexLayout.dir(path, man, l)
    graft.sink.IndexLayout.appendFlatFacts(
      ivfPqCodes(Parquet.read(spark, sub("cells")),
        Parquet.read(spark, sub("codebook")), newVecs,
        man.params("dims"), man.params("m"), idCol, embCol),
      path, "codes", gen)
  }

  /** Per-batch PQ residual distortion under a FROZEN codebook — the
    * quantity a retrain decision needs WITHOUT brute-force truth: for
    * each vector, Σ over subspaces of the squared distance to its
    * nearest codebook centroid (exactly the error ADC serving eats).
    * One pass over `vecs` only (subvector explode + broadcast codebook
    * join — the [[IvfPqIndex.append]] cost shape). Returns one row
    * `(n_vecs, sum_distortion_micro, mean_distortion_micro)` in exact
    * integer micro-units (dist2 is rounded to 6 decimals, so ×10⁶ is
    * exact — replayable bit-for-bit by the SQL oracle). */
  def pqDistortionStats(vecs: DataFrame, codebook: DataFrame,
      dims: Int, m: Int, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val s = graft.Tables.rebalance(
      pqSubvectors(vecs, dims, m, idCol, embCol, "id", "sv"))
    // fused min-distance: one kernel call per (vector, subspace) row
    // — replaces the ×nCentroids fan-out + min aggregation (the same
    // rounding/ordering as the fan-out's min over DECIMAL(20,6):
    // the cast is monotone at scale 6; guide §4, round 20)
    val minD = s.join(broadcast(packCodebook(codebook)), Seq("j"))
      .select(col("id"), col("j"),
        graft.functions.Vectors.minCodeDistL2(col("sv"),
          col("cvs"), col("cvvs"))
          .cast("decimal(20,6)").as("d2"))
    minD.agg(
        countDistinct(col("id")).as("n_vecs"),
        (sum(col("d2")) * 1000000).cast("bigint")
          .as("sum_distortion_micro"))
      .select(col("n_vecs"), col("sum_distortion_micro"),
        expr("sum_distortion_micro div n_vecs")
          .as("mean_distortion_micro"))
  }

  /** Persist the TRAIN-TIME distortion baseline next to a written
    * [[IvfPqIndex]] (`path/drift_meta`, one row): the build corpus's
    * [[pqDistortionStats]] under the index's own codebook. Written
    * once at build; [[ivfPqDriftStats]] compares every append batch
    * against it. The geometry (`dims`, `m`) comes from the index's
    * manifest. */
  def writeIvfPqDriftBaseline(spark: org.apache.spark.sql.SparkSession,
      path: String, trainVecs: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding"): Unit = {
    val man = graft.sink.IndexManifest.latest(spark, path)
    val stats = pqDistortionStats(trainVecs,
      Parquet.read(spark, graft.sink.IndexLayout.dir(path, man, "codebook")),
      man.params("dims"), man.params("m"), idCol, embCol)
    // versioned rewrite like every other subtree (build beside, commit
    // by pointer): an in-place overwrite would hand a concurrent
    // ivfPqDriftStats reader a missing/partial dir, and after a
    // retrain would clobber a versioned dir still referenced by
    // retained history snapshots
    graft.sink.IndexLayout.commitVersions(spark, path, Seq(
      "drift_meta" -> ((st: String) =>
        Parquet.writer(stats.coalesce(1)).mode("overwrite").parquet(st))))
    ()
  }

  /** RETRAIN TRIGGER for frozen-geometry appends — turns q342's
    * measured recall gap into an operator that needs NO brute-force
    * truth: one pass over the APPENDED batch computes its PQ residual
    * distortion under the frozen codebook and compares it to the
    * train-time baseline stored in `path/drift_meta`. Returns one row
    * `(n_train, base_mean_micro, n_appended, appended_mean_micro,
    * distortion_ratio_ppm)` — ratio in exact integer ppm.
    *
    * Threshold rule (calibrated against q342's hash-gated recall
    * measurement on the SAME even/odd split — the q325
    * calibrate-then-gate discipline; PLANS.md round-15 table): at
    * sf0.01 the odd-half append that costs 2.5× recall@5 (417k →
    * 167k ppm, q342) measures distortion_ratio_ppm = 1,084,384
    * (q347, hash-gated) — appended vectors quantize ~8.4% worse than
    * the train corpus. Operational rule: alert at ratio ≥ 1.04M,
    * retrain at ≥ 1.08M (the measured 2.5×-recall-loss point); both
    * thresholds are distribution-relative, so they transfer across
    * corpora the way an absolute distortion cannot. The stat is cheap
    * enough to run on EVERY append (increment-sized), which is the
    * point: the expensive alternative — q342's dual-index recall
    * measurement — is the calibration run, not the nightly check. The
    * geometry (`dims`, `m`) comes from the index's manifest. */
  def ivfPqDriftStats(spark: org.apache.spark.sql.SparkSession,
      path: String, appended: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding")
      : DataFrame = {
    val man = graft.sink.IndexManifest.latest(spark, path)
    def sub(l: String) = graft.sink.IndexLayout.dir(path, man, l)
    val base = Parquet.read(spark, sub("drift_meta"))
      .select(col("n_vecs").as("n_train"),
        col("mean_distortion_micro").as("base_mean_micro"))
    pqDistortionStats(appended, Parquet.read(spark, sub("codebook")),
        man.params("dims"), man.params("m"), idCol, embCol)
      .select(col("n_vecs").as("n_appended"),
        col("mean_distortion_micro").as("appended_mean_micro"))
      .crossJoin(broadcast(base))
      .select(col("n_train"), col("base_mean_micro"),
        col("n_appended"), col("appended_mean_micro"),
        expr("(appended_mean_micro * 1000000) div base_mean_micro")
          .as("distortion_ratio_ppm"))
  }

  /** RETRAIN a persisted [[IvfPqIndex]] — the ACTION half of the
    * trigger→action loop whose decision half is [[ivfPqDriftStats]]
    * (alert/retrain thresholds calibrated in PLANS.md round 15): when
    * frozen-geometry appends have drifted past the threshold, rebuild
    * cells and codebook from the CURRENT live corpus, re-encode every
    * vector, refresh the train-time drift baseline, and swap ALL of it
    * — cells, codebook, codes, drift_meta, plus a fresh empty
    * tombstones pointer — in ONE atomic manifest commit
    * ([[graft.sink.IndexLayout.commitVersions]]). Readers see either
    * yesterday's geometry whole or today's whole, never a mix (a
    * half-swapped cells/codes pair would silently mis-rank every
    * query). Generations stay coherent: the re-encoded corpus is
    * stamped with the NEXT generation and the kill floor resets with
    * it (the retrain encodes exactly the rows the caller passes —
    * takedowns are applied by handing in the live corpus, e.g.
    * `IvfPqIndex.read(...)`-filtered source vectors).
    *
    * `corpusVecs` must be the live corpus (the index stores CODES, not
    * vectors — quantization is lossy, so a retrain needs the source
    * embeddings, same as FAISS `train()`); deterministic seeding makes
    * the result bit-identical to a fresh [[ivfPqIndex]] build over the
    * same rows (SimilaritySpec pins that). */
  def retrainIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, corpusVecs: DataFrame, nCells: Int, dims: Int,
      m: Int, nCentroids: Int, idCol: String = "vec_id",
      embCol: String = "embedding", trainIters: Int = 0): Unit = {
    val idx = ivfPqIndex(corpusVecs, nCells, dims, m, nCentroids,
      idCol, embCol, trainIters)
    val g = graft.sink.IndexManifest.latest(spark, path).gen + 1
    val drift = pqDistortionStats(corpusVecs, idx.codebook, dims, m,
      idCol, embCol)
    graft.sink.IndexLayout.commitVersions(spark, path, Seq(
        "cells" -> ((st: String) =>
          Parquet.writer(idx.cells).mode("overwrite").parquet(st)),
        "codebook" -> ((st: String) =>
          Parquet.writer(idx.codebook).mode("overwrite").parquet(st)),
        "codes" -> ((st: String) =>
          Parquet.writer(idx.codes.withColumn("gen", lit(g)))
            .mode("overwrite").parquet(st)),
        "drift_meta" -> ((st: String) =>
          Parquet.writer(drift.coalesce(1)).mode("overwrite").parquet(st))),
      // the re-encoded corpus is stamped gen = g: reserve AND publish
      // it in the same pointer commit, so the new geometry serves the
      // instant the snapshot flips — never a window where the codes
      // exist but the watermark hides them; the new geometry's dims
      // and m land in the same commit
      mm => mm.copy(gen = g, visibleGen = math.max(mm.visibleGen, g),
          params = mm.params ++ Map("dims" -> dims, "m" -> m))
        .withDir("tombstones", s"tombstones-v${mm.seq + 1}"))
  }

  /** Index-build half of [[ivfPqTopK]]: coarse cells (seeded or
    * trained), per-subspace PQ codebook, and the per-vector code stream
    * carrying its cell assignment.
    */
  def ivfPqIndex(candidates: DataFrame, nCells: Int, dims: Int, m: Int,
      nCentroids: Int, idCol: String = "vec_id",
      embCol: String = "embedding", trainIters: Int = 0): IvfPqIndex = {
    val cells = coarseCentroids(candidates, nCells, trainIters, idCol,
      embCol)
    val codebook = pqCentroids(candidates, dims, m, nCentroids,
      idCol, embCol)
    IvfPqIndex(cells, codebook,
      ivfPqCodes(cells, codebook, candidates, dims, m, idCol, embCol),
      dims, m)
  }

  /** The IVF-PQ code stream of `vecs` under a given geometry: one
    * `(id, j, code, cell)` row per (vector, subspace) — each vector's
    * nearest cell and its per-subspace PQ codes. */
  private def ivfPqCodes(cells: DataFrame, codebook: DataFrame,
      in: DataFrame, dims: Int, m: Int, idCol: String,
      embCol: String): DataFrame =
    pqAssignWith(codebook, in, dims, m, idCol, embCol)
      .join(assignCells(in, cells, idCol, embCol)
        .select(col("id"), col("cell")), Seq("id"))

  /** Search half of [[ivfPqTopK]]: probe the index's `nprobe` best
    * cells per query, broadcast the per-query ADC distance table, and
    * rank pruned candidates — the corpus embeddings are never read
    * (everything comes from the index artifacts, in-memory or
    * parquet-read).
    */
  def ivfPqSearch(queries: DataFrame, index: IvfPqIndex, k: Int,
      nprobe: Int, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val probes = probeCells(queries, idCol, embCol, index.cells, nprobe)
      .select(col("query_id"), col("cell"))
    val table = adcTable(pqSubvectors(queries, index.dims, index.m, idCol,
      embCol, "query_id", "qv"), index.codebook, "query_id", "j")
    adcTopK(index.codes
      .join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("id"))
      .join(broadcast(table), Seq("query_id", "j", "code")), k)
  }

  /** IVF-PQ with per-cell RESIDUAL encoding — the full FAISS
    * IndexIVFPQ architecture ([[ivfPqTopK]]'s documented
    * constants-not-shape simplification, completed): each candidate is
    * PQ-encoded as `v − centroid(cell(v))` rather than raw, and each
    * query builds a distance table PER PROBED CELL against the residual
    * codebook (`qr = q − centroid(cell)`), so quantization error is
    * measured around the local cell origin — sharper codes where cells
    * are tight, the reason FAISS defaults to residual encoding.
    *
    * Measured caveat (PLANS.md round 6): residual
    * encoding AMPLIFIES coarse-quantizer quality. With the default
    * deterministic lowest-id seeds it UNDERPERFORMS the global-codebook
    * [[ivfPqTopK]] (residuals from bad centroids carry more variance
    * than the raw vectors); with `trainIters` ≥ 3 it overtakes every
    * global-codebook variant. Production use of this operator should
    * train — the seeded path exists for oracle replayability.
    *
    * Same deterministic discipline as the rest of the family: the
    * codebook seeds are the residual subvectors of the `nCentroids`
    * lowest-id vectors and the ADC tail is the shared [[adcTopK]] —
    * the DuckDB oracle replays every step (q88). An exact duplicate of a query
    * vector achieves the minimal possible ADC sum in its cell, so it
    * ranks first (spec-pinned).
    *
    * Scale shape vs [[ivfPqTopK]]: identical joins; the only growth is
    * the per-query distance table — |queries|·nprobe·m·nCentroids rows
    * instead of |queries|·m·nCentroids — still broadcast-sized by
    * construction FOR BOUNDED QUERY SETS: the table and the probes
    * frame carry broadcast hints, so a caller passing a very large
    * query set would pressure the driver rather than fall back to a
    * shuffle join. Ceiling rule of thumb: table rows =
    * |queries|·nprobe·m·nCentroids at ~50 bytes/row — with the defaults
    * here (nprobe 2, m 8, nCentroids 16) a 100k-query batch is ~26M
    * rows ≈ 1.3 GB, near the practical broadcast limit; shard larger
    * query sets into batches (ANN batch lookups are embarrassingly
    * parallel across queries) rather than raising driver memory.
    */
  def ivfPqResidualTopK(
      queries: DataFrame, candidates: DataFrame, k: Int,
      nCells: Int, nprobe: Int, dims: Int, m: Int, nCentroids: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      trainIters: Int = 0,
      acknowledgeSeeded: Boolean = false): DataFrame = {
    // acknowledgeSeeded: a caller that DELIBERATELY runs the seeded
    // path (q88's catalog row — the oracle-replayable baseline the
    // trained q106 row is A/B'd against) opts out of the recall
    // warning; unacknowledged seeded production use still warns.
    if (!acknowledgeSeeded)
      seededResidualWarning(trainIters).foreach(log.warn)
    val cells = coarseCentroids(candidates, nCells, trainIters, idCol,
      embCol)
    val cellsE = cells.select(col("cen_id").as("cell"),
      darr(col("cen_e")).as("cell_e"))
    // candidate residuals: r = e − centroid(cell); (id, cell, r)
    val resid = assignCells(candidates, cells, idCol, embCol)
      .join(broadcast(cellsE), Seq("cell"))
      .select(col("id"), col("cell"),
        zip_with(darr(col("e")), col("cell_e"), (a, b) => a - b).as("r"))
    val codebook = pqCentroids(resid, dims, m, nCentroids, "id", "r")
    // code assignment carries `cell` through the subvector rows
    // (functionally dependent on id) instead of re-joining the corpus
    // against itself afterwards — one corpus-sized shuffle, not three
    val rsub = pqSubvectors(graft.Tables.rebalance(resid), dims, m,
      "id", "r", "id", "sv", carry = Seq("cell"))
    val codes = rsub.join(broadcast(packCodebook(codebook)), Seq("j"))
      .select(col("id"), col("cell"), col("j"),
        graft.functions.Vectors.bestCodeL2(col("sv"), col("cen_ids"),
          col("cvs"), col("cvvs")).as("code"))
    val probes = probeCells(queries, idCol, embCol, cells, nprobe)
    // per-(query, probed cell) residual subvectors → distance table
    val qres = probes.join(broadcast(cellsE), Seq("cell"))
      .select(col("query_id"), col("cell"),
        zip_with(darr(col("q_emb")), col("cell_e"), (a, b) => a - b)
          .as("qr"))
    val table = adcTable(pqSubvectors(qres, dims, m, "query_id", "qr",
      "query_id", "qv", carry = Seq("cell")), codebook,
      "query_id", "cell", "j")
    adcTopK(codes
      .join(broadcast(probes.select(col("query_id"), col("cell"))),
        Seq("cell"))
      .filter(col("query_id") =!= col("id"))
      .join(broadcast(table), Seq("query_id", "cell", "j", "code")), k)
  }

  /** Multi-table LSH near-dup pairs: candidates share a bucket in ANY of
    * `tables` independent hash tables (the standard recall amplification:
    * recall = 1−(1−p^m)^L), then exact (rounded) cosine ≥ threshold.
    * Candidate generation is `tables` equi-joins — never a cross product.
    */
  def lshNearDupPairs(
      df: DataFrame, threshold: Double, tables: Int, planesPerTable: Int,
      dims: Int, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    // Both the (id, e, nrm) frame and the bucket assignments are read
    // multiple times by the self-join diamond below; persisting them (one
    // small row per vector / per vector×table) means the `tables × planes`
    // dot products against the hyperplanes run once, not once per plan
    // branch. Cached entries live until spark.catalog.clearCache() or
    // session end (CacheManager keys on the canonical plan, so repeat
    // calls over one corpus reuse rather than pile up).
    val b = graft.Tables.rebalance(
      df.select(col(idCol).as("id"), col(embCol).as("e")))
      .withColumn("nrm", sqrt(norm2(col("e"))))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // The explicit fixed-width repartition on the join key is load-bearing
    // at scale: the bucket rows themselves are tiny, so AQE would coalesce
    // the self-join's input shuffles down to one partition — and the join
    // OUTPUT (quadratic in bucket size) then explodes inside a single
    // task. AQE decides from map-output sizes and cannot see explosive
    // join fan-out; pinning user-specified partitioning keeps the
    // explosion parallel (measured: 30k vectors went from a stuck
    // single-task stage to seconds). The join reuses this partitioning,
    // so no extra exchange is introduced.
    val np = df.sparkSession.sparkContext.defaultParallelism
    val bucketed = lshBuckets(b, "id", "e", tables, planesPerTable, dims)
      .repartition(np, col("t"), col("bk"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    bucketed.as("a").join(bucketed.as("b"), Seq("t", "bk"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("da"), col("b.id").as("db"))
      .distinct()
      .join(b.as("ea"), col("da") === col("ea.id"))
      .join(b.as("eb"), col("db") === col("eb.id"))
      .select(col("da"), col("db"),
        cos6("ea.e", "eb.e", "ea.nrm", "eb.nrm").as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Simplified silhouette per cell (Hruschka et al.: centroid
    * distances replace the O(n²) pairwise means — the only silhouette
    * that exists at corpus scale): for each vector, `s1` = cosine
    * micro-sim to its OWN (nearest) centroid, `s2` = to the runner-up
    * cell; under cosine distance `d = 1 − sim` the score is
    * `(b − a)/max(a, b) = (s1 − s2) / (10⁶ − s2)` — exact integer ppm
    * (assignment IS the argmax, so a ≤ b and the score is in
    * [0, 10⁶]: 0 = sits on a cell boundary, 10⁶ = coincides with its
    * centroid). The per-cell report `(cell, n_vecs, mean_sil_micro,
    * min_sil_micro)` is the cluster-quality audit for the IVF/k-means
    * family: a drifting codebook shows up as a falling mean before
    * recall visibly degrades.
    *
    * Requires ≥ 2 centroids. Shape: one broadcast-scored pass
    * (vectors × nCells rows, map-side), a per-vector top-2 from an
    * nCells-bounded collected list (documented bound: the centroid
    * frame is model-sized), one per-cell aggregation. Sims round to 6
    * decimals BEFORE the micro cast — the [[assignCells]] determinism
    * discipline; ties break to the lower cen_id, matching it.
    */
  def simplifiedSilhouette(candidates: DataFrame, cen: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding")
      : DataFrame = {
    val c = graft.Tables.rebalance(
      vecs(candidates, col(idCol).as("id"), embCol, "e", "nrm"))
    val cenD = cen.withColumn("_cend", darr(col("cen_e")))
    val sims = c.join(broadcast(cenD), lit(true))
      .select(col("id"), col("cen_id"),
        micro(cos6("e", "_cend", "nrm", "cen_nrm")).as("sim_micro"))
    val top2 = sims.groupBy(col("id"))
      .agg(slice(reverse(array_sort(collect_list(
        struct(col("sim_micro"), (-col("cen_id")).as("nid"))))), 1, 2)
        .as("t"))
      .select(col("id"),
        col("t").getItem(0).getField("sim_micro").as("s1"),
        (-col("t").getItem(0).getField("nid")).as("cell"),
        col("t").getItem(1).getField("sim_micro").as("s2"))
    top2
      .withColumn("sil_micro",
        expr("(1000000 * (s1 - s2)) div greatest(1000000 - s2, 1)"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("sil_micro")).as("ssum"),
        min(col("sil_micro")).as("min_sil_micro"))
      .select(col("cell"), col("n_vecs"),
        expr("ssum div n_vecs").as("mean_sil_micro"),
        col("min_sil_micro"))
  }
}
