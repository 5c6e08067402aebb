package graft.operators

import graft.functions.SketchAggs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Frequent-items (heavy-hitters) operator: the exact two-pass pattern
  * built on the Misra-Gries sketch
  * ([[graft.functions.MisraGriesAgg]]).
  *
  * Scale design: a direct `groupBy(key).count()` shuffles the ENTIRE
  * key universe — at 100 TB with high-cardinality keys (URLs, n-grams,
  * user agents) that shuffle dominates the job even though only a
  * handful of keys matter. The two-pass shape instead:
  *
  *  1. one Misra-Gries aggregate over the keys — partial buffers of
  *     ≤ 2·capacity entries per task, merged to ONE array of ≤ capacity
  *     candidate keys on a single reducer (bytes, not the key universe;
  *     no wide shuffle);
  *  2. exact counts for the candidates only — the candidate set
  *     broadcasts, the big side is filtered by the (semi-join) probe
  *     BEFORE the aggregation, so the count shuffle carries only rows
  *     of candidate keys.
  *
  * Exactness: MG guarantees every key with true frequency
  * > n/(capacity+1) survives pass 1, so for any threshold above that
  * bound the verified output is EXACTLY the true heavy-hitter set —
  * the sketch's approximate counts are discarded, never reported.
  * Non-integral keys are pre-hashed to 60-bit longs
  * ([[TextOps.hash60]]); a hash collision only ADDS a candidate (the
  * superset property is preserved) and exact verification groups by
  * the ORIGINAL key, so collisions cannot merge two keys' counts.
  *
  * The reference delegates all aggregation to source databases
  * (SURVEY.md §2.5); this operator is north-star territory — the
  * frequency-analysis primitive of a training-data pipeline (vocab
  * heavy hitters, hot-URL detection, boilerplate n-grams).
  */
object Freq {

  /** Exact counts for every Misra-Gries candidate key of `keyCol`
    * (columns: keyCol, `n_rows`). Filter the result at any threshold
    * > n/(capacity+1) for the exact heavy-hitter set at that threshold.
    *
    * NULL keys are excluded — the sketch cannot track null and the
    * verification join would drop it silently, so the exclusion is
    * explicit: `n` in the guarantee bound is the NON-NULL row count,
    * and a (possibly heavy) null group never appears in the output.
    * Count nulls separately (`df.filter(col.isNull).count()`) if a
    * null frequency matters.
    *
    * The keyed input is evaluated TWICE — the sketch pass and the
    * exact-verification pass. The result is lazy, so this function has
    * no release point for a cache block and persists nothing: when the
    * upstream plan is expensive, persist the input yourself and
    * unpersist it after the action.
    */
  def heavyHitterCounts(df: DataFrame, keyCol: String,
      capacity: Int = 4096): DataFrame = {
    val integral = df.schema(keyCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    val hk =
      if (integral) col(keyCol).cast("long")
      else TextOps.hash60(col(keyCol).cast("string"))
    val keyed = df.filter(col(keyCol).isNotNull)
      .select(col(keyCol), hk.as("_hk"))
    val cand = keyed
      .agg(SketchAggs.misraGries(col("_hk"), capacity).as("ks"))
      .select(explode(col("ks")).as("_hk"))
    keyed.join(broadcast(cand), "_hk")
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_rows"))
  }

  /** Per-GROUP heavy hitters — [[heavyHitterCounts]] with the
    * Misra-Gries candidate sketch keyed by `groupCols` (top terms per
    * language, top products per region): one bounded sketch per group
    * (map-side combined, ≤ capacity entries each), candidates explode
    * group-locally, and the exact verify pass joins on
    * (group, key) — so a key that is heavy in ONE group is never
    * diluted by the corpus-wide tail (the failure mode of running the
    * global sketch and filtering afterwards). Output:
    * `(groupCols…, keyCol, n_rows)` exact counts for every per-group
    * candidate; filter by a per-group threshold downstream. MG
    * guarantee per group: any key with share > 1/capacity of the
    * group's rows survives the sketch.
    */
  def heavyHitterCountsBy(df: DataFrame, groupCols: Seq[String],
      keyCol: String, capacity: Int = 4096): DataFrame = {
    require(groupCols.nonEmpty, "use heavyHitterCounts for global")
    val integral = df.schema(keyCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    val hk =
      if (integral) col(keyCol).cast("long")
      else TextOps.hash60(col(keyCol).cast("string"))
    val gc = groupCols.map(col)
    // localCheckpoint (not persist): the keyed frame feeds both the
    // sketch pass and the exact verify; blocks release when the frame
    // is unreferenced instead of leaking a CacheManager entry per call
    val keyed = df.filter(col(keyCol).isNotNull)
      .select(gc :+ col(keyCol) :+ hk.as("_hk"): _*)
      .localCheckpoint()
    val cand = keyed
      .groupBy(gc: _*)
      .agg(SketchAggs.misraGries(col("_hk"), capacity).as("ks"))
      .select(gc :+ explode(col("ks")).as("_hk"): _*)
    keyed.join(cand, groupCols :+ "_hk")
      .groupBy(gc :+ col(keyCol): _*)
      .agg(count(lit(1)).as("n_rows"))
  }

  /** Count-min sketch (Cormode & Muthukrishnan 2005) frequency
    * estimates for the exact heavy hitters of `keyCol` — the
    * streaming-sized frequency summary, verified against exact counts.
    *
    * Output: one row per key whose exact count is ≥ a 1/`minShare`
    * share of the non-null rows, with columns `(keyCol, n_rows, est_n)`
    * — `n_rows` the exact count, `est_n` the sketch estimate. CMS
    * guarantees `est_n ≥ n_rows` always (collisions only ADD), and
    * `est_n ≤ n_rows + εn` with probability 1−δ for ε = e/width,
    * δ = e^−depth.
    *
    * Scale design: the sketch is `depth·width` counters built by ONE
    * aggregation over (row index, bucket) — the map-side partial agg
    * collapses every task's contribution to ≤ depth·width cells, so
    * the shuffle carries sketch-sized data regardless of corpus size
    * (the whole point of CMS vs a key-universe `groupBy(key)`). The
    * probe side reuses [[heavyHitterCounts]] (Misra-Gries candidates +
    * exact verification — no key-universe shuffle either), and the
    * share threshold is evaluated as the pure-integer comparison
    * `n_rows · minShare ≥ total` (no division-semantics drift between
    * engines). Bucket hashing is the md5-backed [[TextOps.hash60]]
    * with per-row salts `cms<j>|`, so a SQL oracle replays the sketch
    * bit-identically.
    *
    * The depth×width sketch frame and the probe estimates are both
    * broadcast-sized; nothing in the plan grows with the key universe.
    */
  def countMinEstimates(df: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 32, minShare: Int = 64,
      capacity: Int = 4096): DataFrame = {
    require(depth >= 1 && width >= 1 && minShare >= 1)
    val keyed = df.filter(col(keyCol).isNotNull)
      .select(col(keyCol).cast("string").as("_k"))

    def buckets(k: org.apache.spark.sql.Column) =
      cmBuckets(k, depth, width)

    val sketch = cmSketch(keyed, depth, width)

    val total = keyed.agg(count(lit(1)).as("_total"))
    val hh = heavyHitterCounts(df, keyCol, capacity)
      .crossJoin(broadcast(total))
      .filter(col("n_rows") * minShare >= col("_total"))
      .select(col(keyCol), col("n_rows"))

    val probes = hh
      .select(col(keyCol), col("n_rows"),
        explode(buckets(col(keyCol).cast("string"))).as("jb"))
      .select(col(keyCol), col("n_rows"),
        col("jb.j").as("j"), col("jb.bucket").as("bucket"))
    probes.join(broadcast(sketch), Seq("j", "bucket"))
      .groupBy(col(keyCol), col("n_rows"))
      .agg(min(col("c")).as("est_n"))
  }

  /** The depth-row bucket family of a key — `cms<j>|` md5 hashing,
    * oracle-replayable (the q116 twin).
    */
  private def cmBuckets(k: org.apache.spark.sql.Column, depth: Int,
      width: Int) =
    array((0 until depth).map { j =>
      struct(lit(j).as("j"),
        pmod(TextOps.hash60(concat(lit(s"cms$j|"), k)),
          lit(width.toLong)).as("bucket"))
    }: _*)

  /** Count-min sketch frame `(j, bucket, c)` of a one-column string
    * frame `_k`. The explode keeps the hashing inside the Generate
    * (the single-task guard, PLANS.md round 1); the partial agg
    * collapses each task to ≤ depth·width cells before the shuffle.
    */
  def cmSketch(keyed: DataFrame, depth: Int, width: Int): DataFrame =
    graft.Tables.rebalance(keyed)
      .select(explode(cmBuckets(col("_k"), depth, width)).as("jb"))
      .groupBy(col("jb.j").as("j"), col("jb.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))

  /** Equi-join cardinality estimation WITHOUT running the join — the
    * count-min inner product (Cormode & Muthukrishnan 2005 §4.2, the
    * AGMS idea carried to CM): |A ⋈ B| = Σ_k f_A(k)·f_B(k) is
    * estimated by `min_j Σ_bucket cms_A[j]·cms_B[j]` — an
    * overestimate whose error shrinks with width, never an
    * underestimate. The cost-based-optimizer primitive at 100 TB:
    * each side is one map-side-combined pass collapsing to
    * depth×width cells (mergeable across partitions/batches like the
    * HLL registers), the product is a sketch-sized join — the join
    * itself never runs, no shuffle of either table against the other.
    * All arithmetic is exact BIGINT.
    *
    * Accuracy contract (measured, q145 + FreqSpec): the collision
    * error is ≈ (‖f_A‖₁·‖f_B‖₁ − true)/width, so the estimate is
    * informative only when `width ≳ ‖f_A‖₁·‖f_B‖₁ / (ε·|A⋈B|)`.
    * Skewed keys and self-joins (F₂, the blow-up diagnostic — pass
    * the same frame twice) are the sweet spot: the signal Σf² grows
    * with skew while the error term doesn't. For near-unique PK–FK
    * joins the signal is minimal (|A⋈B| = |B|) and CM needs an
    * impractical width — measured 235× over at width 64 on
    * orders⋈lineitem; use the HLL-overlap screen for that shape
    * instead.
    */
  def joinSizeEstimate(a: DataFrame, aKey: String,
      b: DataFrame, bKey: String,
      depth: Int = 4, width: Int = 64): DataFrame = {
    val sa = cmSketch(a.filter(col(aKey).isNotNull)
      .select(col(aKey).cast("string").as("_k")), depth, width)
    val sb = cmSketch(b.filter(col(bKey).isNotNull)
      .select(col(bKey).cast("string").as("_k")), depth, width)
    sa.select(col("j"), col("bucket"), col("c").as("ca"))
      .join(sb.select(col("j"), col("bucket"), col("c").as("cb")),
        Seq("j", "bucket"))
      .groupBy(col("j")).agg(sum(col("ca") * col("cb")).as("ip"))
      .agg(min(col("ip")).as("est_rows"))
  }

  /** PMI collocation mining — which adjacent word pairs co-occur far
    * more than their marginals predict (Church & Hanks 1990). The
    * phrase-discovery primitive of corpus analysis (finding "new york"
    * in 100 TB of text).
    *
    * PMI = log(c_ab·N / (c_a·c_b)) over the bigram stream (c_a = left
    * marginal, c_b = right marginal, N = total bigrams). Since log is
    * monotone, RANKING by PMI ≡ ranking by the ratio itself — so no
    * transcendental is ever evaluated: the score is the exact integer
    * `score_ppm = (c_ab·N·10⁶) div (c_a·c_b)` (the q119 integer-exact
    * lesson applied preemptively; at planetary counts the 10⁶ scaling
    * needs DECIMAL(38) headroom, a widening not a redesign).
    *
    * Scale shape: ONE corpus tokenize+zip pass to the checkpointed
    * bigram table `tf` (bigram-vocab-sized); marginals and N are sums
    * over `tf`; the scoring join shuffles on vocab-sized keys; top-k
    * via TakeOrderedAndProject (per-partition heaps).
    */
  def pmiCollocations(docs: DataFrame, textCol: String,
      minCount: Long = 5L, topK: Int = 20): DataFrame = {
    val ws = graft.operators.TextOps.words(col(textCol))
    val bg = graft.Tables.rebalance(docs.select(col(textCol)))
      .select(explode(zip_with(
        slice(ws, lit(1), greatest(size(ws) - 1, lit(0))),
        slice(ws, lit(2), greatest(size(ws) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val tf = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cab"))
      .localCheckpoint() // corpus reduces ONCE; marginals/N read this
    val ca = tf.groupBy(col("w1")).agg(sum(col("cab")).as("ca"))
    val cb = tf.groupBy(col("w2")).agg(sum(col("cab")).as("cb"))
    val n = tf.agg(sum(col("cab")).as("n"))
    tf.where(col("cab") >= minCount)
      .join(ca, Seq("w1")).join(cb, Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("cab"),
        expr("(cab * n * 1000000) div (ca * cb)").as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** AMS "tug-of-war" estimate of the second frequency moment
    * F₂ = Σ_k f_k² (Alon, Matias & Szegedy 1996) — the UNBIASED
    * counterpart of [[joinSizeEstimate]]'s self-join arm (the CM inner
    * product only overestimates; AMS errs both ways and needs no
    * width): each of `depth` rows draws a ±1 sign per key from the
    * md5 family (`ams<j>|key`, oracle-replayable), Z_j = Σ_rows s_j(k)
    * accumulates in ONE pass with NO row inflation (the depth sums are
    * separate aggregate expressions, each map-side combined), and the
    * estimate is the MEDIAN of the Z_j² (depth-sized array sorted on
    * the one-row result — variance control by medianing, the paper's
    * construction).
    *
    * F₂ is the self-join blow-up diagnostic: n_rows ≤ F₂ ≤ n_rows²,
    * equality left = all-unique keys, right = one key. Exact F₂ rides
    * along as the audit column (groupBy-sized — at 100 TB drop it and
    * keep the sketch, which is `depth` longs and merges by addition).
    * Z_j² rides DECIMAL(38,0): Z is row-count-sized and its square
    * passes 2⁶³ near 10¹⁰ rows.
    *
    * Output: one row `(n_rows, f2_exact, f2_est, ratio_ppm)`.
    */
  def amsF2Estimate(df: DataFrame, keyCol: String, depth: Int = 9)
      : DataFrame = {
    require(depth >= 1 && depth % 2 == 1, "depth must be odd")
    val keyed = df.filter(col(keyCol).isNotNull)
      .select(col(keyCol).cast("string").as("_k"))
    val signCols = (0 until depth).map { j =>
      sum(lit(1L) - lit(2L) *
        pmod(TextOps.hash60(concat(lit(s"ams$j|"), col("_k"))),
          lit(2L))).as(s"z$j")
    }
    val sums = graft.Tables.rebalance(keyed)
      .agg(count(lit(1)).as("n_rows"), signCols: _*)
    val zsq = array((0 until depth).map(j =>
      (col(s"z$j").cast("decimal(38,0)") * col(s"z$j"))
        .cast("decimal(38,0)")): _*)
    val est = sums.select(col("n_rows"),
      element_at(array_sort(zsq), (depth + 1) / 2).cast("long")
        .as("f2_est"))
    val exact = keyed.groupBy(col("_k")).agg(count(lit(1)).as("f"))
      .agg(sum(expr("CAST(f AS DECIMAL(38,0)) * f")).cast("long")
        .as("f2_exact"))
    est.crossJoin(broadcast(exact))
      .select(col("n_rows"), col("f2_exact"), col("f2_est"),
        expr("(1000000 * f2_est) div f2_exact").as("ratio_ppm"))
  }
}
