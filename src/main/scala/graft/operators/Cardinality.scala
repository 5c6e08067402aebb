package graft.operators

import graft.sink.Parquet
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed-cardinality sketching: HyperLogLog (Flajolet, Fusy,
  * Gandouet & Meunier 2007) as a PERSISTABLE, MERGEABLE register
  * frame — the distinct-count analog of the [[Curation.BloomFilter]]
  * and IVF-PQ index artifacts. Build per-batch sketches, persist them
  * (m-row parquet), merge across batches/days/corpora with a
  * register-wise max, estimate at read time: the incremental
  * distinct-count lifecycle a 100 TB ingest pipeline needs (exact
  * `countDistinct` across batches would re-shuffle the union's whole
  * key universe every day; sketch merge is register-sized).
  *
  * Spark's own `approx_count_distinct` is a black-box HLL++ whose
  * registers cannot be persisted, merged across frames, or replayed
  * by an external engine. These registers use the md5-backed
  * [[TextOps.hash60]] (low p bits → bucket, remaining bits → rank via
  * `length(bin(q))` — both exact integer ops in Spark AND ANSI SQL),
  * so a DuckDB oracle replays build, merge, and estimate
  * bit-identically, and the register sum runs in exact BIGINT
  * (`2^(R₀−r)` units — no float until the single final division).
  *
  * Scale shape: register build is one `groupBy(bucket)` whose
  * map-side partial max collapses every task to ≤ m cells (the
  * count-min shuffle argument); merge and estimate are m-row
  * frames. Nothing anywhere is key-universe-sized after the first
  * partial aggregation.
  */
object Cardinality {

  /** Sparse HLL registers `(bucket, r, p)` of `keyCol` (empty buckets
    * omitted; estimate re-adds them). `m = 2^p` buckets; standard
    * error ≈ 1.04/√m (p = 12 → ~1.6%).
    */
  def hllRegisters(df: DataFrame, keyCol: String, p: Int = 12,
      salt: String = "hll"): DataFrame = {
    require(p >= 4 && p <= 16, "p in [4, 16]")
    val m = 1L << p
    val r0 = 61 - p // rank of q = 0 (all 60 − p remaining bits zero)
    val h = TextOps.hash60(concat(lit(salt + "|"),
      col(keyCol).cast("string")))
    df.filter(col(keyCol).isNotNull)
      .select(h.as("_h"))
      .select(pmod(col("_h"), lit(m)).as("bucket"),
        expr(s"_h div $m").as("q"))
      .select(col("bucket"),
        when(col("q") === 0, lit(r0))
          .otherwise(lit(r0) - length(bin(col("q"))))
          .cast("int").as("r"))
      .groupBy(col("bucket")).agg(max(col("r")).as("r"))
      .withColumn("p", lit(p))
  }

  /** Register-wise max — the HLL merge. Both sides must carry the same
    * `p` (enforced loudly on the [[readSketch]] path; merging two
    * different-p frames here would group them into disjoint, silently
    * wrong families, so the union re-checks).
    */
  def hllMerge(a: DataFrame, b: DataFrame): DataFrame = {
    val u = a.select(col("bucket"), col("r"), col("p"))
      .unionByName(b.select(col("bucket"), col("r"), col("p")))
    u.groupBy(col("bucket"), col("p")).agg(max(col("r")).as("r"))
      .select(col("bucket"), col("r"), col("p"))
  }

  /** Persist a register frame as an m-row parquet artifact (~32 KB at
    * p = 12 — the serving shape regardless of corpus size).
    */
  def writeSketch(regs: DataFrame, path: String): Unit =
    Parquet.writer(regs).mode("overwrite").parquet(path)

  /** Read a persisted sketch, failing loudly if its `p` does not match
    * the serving configuration (the [[Curation.BloomFilter]] contract:
    * build-vs-serving drift must be inexpressible).
    */
  def readSketch(spark: SparkSession, path: String,
      expectP: Int): DataFrame = {
    val df = Parquet.read(spark, path)
    val ps = df.select(col("p")).distinct().collect().map(_.getInt(0))
    require(ps.length == 1 && ps.head == expectP,
      s"sketch p=[${ps.mkString(",")}] does not match expected p=$expectP")
    df
  }

  /** One-row estimate `(est_hll, n_zero)` from a register frame.
    * The register sum runs in exact BIGINT units of 2^(r−R₀) (max
    * Σ = m·2^R₀ = 2^61 at p = 12 — inside BIGINT); the bias-corrected
    * constant is folded to ONE double literal so the estimate is a
    * single division, bit-identical across engines. Small-range
    * correction (est ≤ 2.5 m with empty buckets → linear counting
    * m·ln(m/V)) applies on the already-rounded raw estimate, so the
    * branch decision is deterministic too.
    */
  def hllEstimate(regs: DataFrame, p: Int): DataFrame = {
    val m = 1L << p
    val r0 = 61 - p
    val alpha = 0.7213 / (1.0 + 1.079 / m.toDouble)
    // single-literal constant: α·m²·2^R₀ (oracle embeds the same text)
    val c = alpha * m.toDouble * m.toDouble * math.pow(2.0, r0)
    val agg = regs
      .agg(coalesce(sum(expr(s"shiftleft(cast(1 as bigint), $r0 - r)")),
          lit(0L)).as("s_filled"),
        count(lit(1)).as("n_filled"))
    agg
      .select(
        (col("s_filled") +
          (lit(m) - col("n_filled")) * lit(1L << r0)).as("s_total"),
        (lit(m) - col("n_filled")).as("n_zero"))
      .select(
        round(lit(c) / col("s_total").cast("double"), 2).as("est_raw"),
        col("n_zero"))
      .select(
        when(col("est_raw") <= lit(2.5 * m.toDouble) &&
            col("n_zero") > 0,
          round(lit(m.toDouble) *
            log(lit(m.toDouble) / col("n_zero")), 2))
          .otherwise(col("est_raw")).as("est_hll"),
        col("n_zero"))
  }

  /** The single-literal estimate constant, for oracle SQL authors. */
  def estimateConst(p: Int): Double = {
    val m = 1L << p
    (0.7213 / (1.0 + 1.079 / m.toDouble)) *
      m.toDouble * m.toDouble * math.pow(2.0, 61 - p)
  }

  /** Per-group HLL registers `(groupCols…, bucket, r, p)` — one
    * sketch per group from ONE aggregation (partial max collapses each
    * task to ≤ m cells PER GROUP SEEN; the grouped analog of
    * [[hllRegisters]]). The "distinct users per day/country/type"
    * primitive: exact per-group `countDistinct` shuffles every
    * (group, key) pair; this shuffles ≤ m cells per (task, group).
    */
  def hllRegistersBy(df: DataFrame, groupCols: Seq[String],
      keyCol: String, p: Int = 12, salt: String = "hll"): DataFrame = {
    require(p >= 4 && p <= 16, "p in [4, 16]")
    require(groupCols.nonEmpty)
    val m = 1L << p
    val r0 = 61 - p
    val h = TextOps.hash60(concat(lit(salt + "|"),
      col(keyCol).cast("string")))
    df.filter(col(keyCol).isNotNull)
      .select(groupCols.map(col) :+ h.as("_h"): _*)
      .select(groupCols.map(col) :+
        pmod(col("_h"), lit(m)).as("bucket") :+
        expr(s"_h div $m").as("q"): _*)
      .select(groupCols.map(col) :+ col("bucket") :+
        when(col("q") === 0, lit(r0))
          .otherwise(lit(r0) - length(bin(col("q"))))
          .cast("int").as("r"): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("r")).as("r"))
      .withColumn("p", lit(p))
  }

  /** Per-group estimates `(groupCols…, est_hll, n_zero)` from
    * [[hllRegistersBy]] output — the [[hllEstimate]] arithmetic,
    * grouped.
    */
  def hllEstimateBy(regs: DataFrame, groupCols: Seq[String],
      p: Int): DataFrame = {
    val m = 1L << p
    val r0 = 61 - p
    val c = estimateConst(p)
    regs
      .groupBy(groupCols.map(col): _*)
      .agg(coalesce(sum(expr(s"shiftleft(cast(1 as bigint), $r0 - r)")),
          lit(0L)).as("s_filled"),
        count(lit(1)).as("n_filled"))
      .select(groupCols.map(col) :+
        (col("s_filled") +
          (lit(m) - col("n_filled")) * lit(1L << r0)).as("s_total") :+
        (lit(m) - col("n_filled")).as("n_zero"): _*)
      .select(groupCols.map(col) :+
        round(lit(c) / col("s_total").cast("double"), 2).as("est_raw") :+
        col("n_zero"): _*)
      .select(groupCols.map(col) :+
        when(col("est_raw") <= lit(2.5 * m.toDouble) &&
            col("n_zero") > 0,
          round(lit(m.toDouble) *
            log(lit(m.toDouble) / col("n_zero")), 2))
          .otherwise(col("est_raw")).as("est_hll") :+
        col("n_zero"): _*)
  }

  /** Overlap estimation by sketch algebra (inclusion-exclusion):
    * `|A ∩ B| ≈ est(A) + est(B) − est(A ∪ B)`, with `est(A ∪ B)` from
    * the register-wise MERGE — no join, no shuffle of either key
    * universe. The train/eval-contamination screen at 100 TB: an
    * exact overlap is a key-universe semi-join; this is three m-row
    * estimates off sketches that may already be persisted per corpus.
    * Error is additive in the three estimates (σ ≈ 1.04/√m each), so
    * it is a SCREEN (is overlap ~0, ~10%, ~all?), not a count — pair
    * it with the exact Bloom/8-gram decontamination operators once a
    * corpus pair screens positive.
    *
    * Returns one row `(est_a, est_b, est_union, est_overlap)`;
    * `est_overlap` is clamped at 0 (inclusion-exclusion of estimates
    * can go slightly negative on disjoint sets).
    */
  def hllOverlapEstimate(a: DataFrame, aKey: String, b: DataFrame,
      bKey: String, p: Int = 12): DataFrame = {
    // each register frame feeds its own estimate AND the union merge —
    // materialize (m-row) so each corpus is scanned exactly once
    val ra = hllRegisters(a, aKey, p).localCheckpoint()
    val rb = hllRegisters(b, bKey, p).localCheckpoint()
    val ea = hllEstimate(ra, p).select(col("est_hll").as("est_a"))
    val eb = hllEstimate(rb, p).select(col("est_hll").as("est_b"))
    val eu = hllEstimate(hllMerge(ra, rb), p)
      .select(col("est_hll").as("est_union"))
    ea.crossJoin(eb).crossJoin(eu)
      .select(col("est_a"), col("est_b"), col("est_union"),
        greatest(lit(0.0),
          round(col("est_a") + col("est_b") - col("est_union"), 2))
          .as("est_overlap"))
  }

  // ---------------------------------------------------------------
  // KMV (k-minimum-values / bottom-k) sketches — the SECOND mergeable
  // distinct sketch, for what HLL registers cannot do: SET-OPERATION
  // estimates from the sketches alone (Bar-Yossef et al. 2002; Beyer
  // et al. 2007). A KMV sketch is the k smallest distinct 60-bit
  // hashes of a key set, sorted ascending; union sketches compose by
  // merge-and-truncate, and the combined sketch estimates Jaccard /
  // intersection DIRECTLY (membership of union-sketch values in both
  // input sketches — no inclusion-exclusion of noisy estimates, the
  // structural weakness of [[hllOverlapEstimate]]). All arithmetic is
  // exact integer over the md5 hash60 family, so DuckDB replays
  // build, merge, and every estimate bit-identically.
  // ---------------------------------------------------------------

  /** 2^60 — the hash60 value space, as a DECIMAL(38,0) literal
    * (BIGINT would overflow the (k−1)·2⁶⁰ estimator numerator). */
  private val hashSpace = "1152921504606846976"

  /** Per-group KMV sketch of `keyCol`: `(groupCols…, sketch)` with
    * `sketch` the sorted k smallest distinct hash60 values as an
    * array<long>. One aggregation, k-long bounded buffer per group
    * per task ([[graft.functions.BottomKDistinctLong]]) — global
    * dedup is free (equal hashes collapse in the buffer), so unlike
    * exact `countDistinct` nothing key-universe-sized ever shuffles.
    */
  def kmvSketchBy(df: DataFrame, groupCols: Seq[String],
      keyCol: String, k: Int): DataFrame = {
    require(k >= 2, "k must be >= 2")
    val h = TextOps.hash60(concat(lit("kmv|"), col(keyCol)))
    df.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.TopKAgg.smallestDistinctLong(k)(h)
        .as("sketch"))
  }

  /** The estimate SQL for a named sketch column — exact `|sketch|`
    * while unsaturated (fewer than k distinct keys seen: the sketch
    * IS the distinct hash set), else the Beyer et al. unbiased
    * estimator `(k−1)·2⁶⁰ div (h₍ₖ₎ + 1)` in exact DECIMAL(38,0)
    * integer division (HUGEINT on the oracle side). Shared between
    * the Spark plan and scaladoc'd for the oracle twin.
    */
  private def kmvEstExpr(sketchCol: String, k: Int): Column =
    when(size(col(sketchCol)) < k,
      size(col(sketchCol)).cast("bigint"))
      .otherwise(expr(
        s"(CAST(${k - 1} AS DECIMAL(38,0)) * $hashSpace) div " +
          s"(element_at($sketchCol, $k) + 1)"))

  /** Append `estCol` = distinct-count estimate of the named sketch
    * column. */
  def kmvEstimated(df: DataFrame, sketchCol: String, k: Int,
      estCol: String = "est_kmv"): DataFrame =
    df.withColumn(estCol, kmvEstExpr(sketchCol, k))

  /** Merge two KMV sketch columns: k smallest of the deduped union —
    * associative/commutative, the artifact-merge half of the
    * incremental lifecycle (persist per-batch sketches, merge across
    * days; the [[hllMerge]] analog).
    */
  def kmvMerge(a: Column, b: Column, k: Int): Column =
    slice(array_sort(array_union(a, b)), 1, k)

  /** Set-operation estimates from two named KMV sketch columns:
    * appends `est_a`, `est_b`, `est_union`, `est_jaccard_ppm`,
    * `est_intersection`. The union sketch L = merge(a, b); with
    * kc = |{v ∈ L : v ∈ a ∧ v ∈ b}|, Jaccard ≈ kc/|L| (Beyer et al.
    * 2007 §4: L is a uniform sample of the union, and membership of
    * its values in both input sketches is decidable EXACTLY below
    * their thresholds — no noisy inclusion-exclusion, the structural
    * advantage over [[hllOverlapEstimate]]); intersection ≈ Jaccard ·
    * union_est. Every step is exact integer arithmetic on the sketch
    * values.
    */
  def kmvSetOps(df: DataFrame, aCol: String, bCol: String,
      k: Int): DataFrame =
    df.withColumn("union_sketch", kmvMerge(col(aCol), col(bCol), k))
      .withColumn("_kc", size(filter(col("union_sketch"),
        v => array_contains(col(aCol), v) &&
          array_contains(col(bCol), v))).cast("bigint"))
      .withColumn("est_a", kmvEstExpr(aCol, k))
      .withColumn("est_b", kmvEstExpr(bCol, k))
      .withColumn("est_union", kmvEstExpr("union_sketch", k))
      .withColumn("est_jaccard_ppm",
        expr("(_kc * 1000000) div greatest(size(union_sketch), 1)"))
      .withColumn("est_intersection",
        // DECIMAL(38,0) headroom: ppm × a trillion-scale estimate
        // would wrap BIGINT (the q148 discipline)
        expr("(CAST(est_jaccard_ppm AS DECIMAL(38,0)) * est_union) " +
          "div 1000000"))
      .drop("_kc")
}
