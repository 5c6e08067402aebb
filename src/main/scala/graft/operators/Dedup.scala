package graft.operators

import graft.sink.Parquet
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for large-scale corpus pipelines: exact
  * (hash-groupBy), exact n-gram Jaccard (inverted-index join), MinHash
  * banding (LSH), and SimHash (hamming banding).
  *
  * Scale design:
  *  - the inverted-index Jaccard join only materializes pairs that share
  *    at least one shingle — never the O(n²) cross product;
  *  - MinHash reduces each document to a constant-size signature, and
  *    banding turns near-dup search into an equi-join on band values —
  *    the classic LSH shuffle-join shape that scales linearly;
  *  - SimHash reduces to one 32-bit integer per document; candidate pairs
  *    come from equality on 8-bit chunks (any hamming-≤6 pair shares one);
  *  - per-doc facts (shingle count, MinHash signature) are carried
  *    *through* the explode/banding instead of re-joined afterwards, so
  *    each operator is a single join + single aggregation;
  *  - one caching rule: the builders ([[shingleSet]], [[hashedShingleSet]])
  *    are pure plans and persist nothing; each operator persists the
  *    frame it shares (spillable MEMORY_AND_DISK). Spark's CacheManager
  *    keys on the canonicalized plan, so every operator over the same
  *    corpus shares one shingle computation — including the two sides of
  *    each self-join — and `spark.catalog.clearCache()` releases it;
  *  - all hash families derive from md5 ([[TextOps.hash60]]) with
  *    XOR-mixed constants so the DuckDB oracle can replay them exactly.
  */
object Dedup {

  /** XOR constants for the MinHash family, derived deterministically and
    * inlined into both engines' plans.
    */
  def minhashConstants(k: Int): IndexedSeq[Long] =
    (0 until k).map(i => TextOps.hash60Const(s"minhash:$i"))

  /** Exact dedup: one representative (min id) + duplicate count per key
    * group. Plain hash aggregation — partial aggregation map-side, one
    * shuffle on the group key.
    */
  def exactByKey(df: DataFrame, keys: Seq[String], idCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_rows"))

  /** Distinct (doc_id, s) shingle pairs — the inverted-index input.
    *
    * Distinctness is established per-document inside the
    * [[graft.functions.ShingleExplode]] Generator's kernel (doc_id is
    * unique, so per-doc distinct ≡ global distinct on (doc_id, s)) — no
    * shuffle, where explode-then-distinct would shuffle every shingle.
    * The input is rebalanced first so the shingling work spreads across
    * the cluster even when the scan is a single small file; the
    * generator plans as a `Generate` node, which cannot be pushed
    * through the repartition, so the shingling always runs in the
    * post-rebalance (parallel) stage rather than the possibly
    * single-task scan stage.
    */
  def shingleSet(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    // the native Generator emits (doc_id, s) rows straight off the
    // kernel's distinct set — measured ~30% faster than
    // explode(shingle_set(...)) at sf0.1, which packages the set into
    // an array column the explode then copies back out row by row
    graft.Tables.rebalance(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc_id"),
        graft.functions.ShingleExplode.expand(col(textCol), n).as("s"))

  /** Distinct (doc_id, h) pairs where h = 60-bit md5 hash of the
    * n-gram shingle — the 8-byte-key form of [[shingleSet]] for
    * joins/aggregations that don't need the shingle STRING. The
    * operators that share it persist this frame, so md5 runs once per
    * row and the cached frame holds longs (~4× narrower than the string
    * form); the DuckDB-oracle twin is `hash60(s)` over the same shingle
    * CTE.
    */
  def hashedShingleSet(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    shingleSet(df, idCol, textCol, n)
      .select(col("doc_id"), TextOps.hash60(col("s")).as("h"))

  /** [[hashedShingleSet]] persisted — the frame every hashed-shingle
    * operator over one corpus shares. */
  private def sharedHashedShingles(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    hashedShingleSet(df, idCol, textCol, n)
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Exact n-gram Jaccard similarity join: all pairs with J ≥ threshold.
    *
    * Only pairs sharing ≥1 shingle are generated (join on the shingle),
    * then J = |∩| / (|A|+|B|−|∩|) exactly; the per-doc size side (one row
    * per document) broadcasts. All three uses of the shingle set read the
    * shared cache — one shingle computation total. At extreme scale add a
    * document-frequency cap on shingles (drop shingles appearing in more
    * than `maxShingleDf` docs) — a standard stop-shingle optimization
    * that bounds join skew; None keeps exact semantics. With a cap, per-doc
    * sizes stay EXACT (computed from the uncapped shingle sets) and only
    * candidate generation / intersection counting is capped, so the
    * reported `jaccard` is a LOWER BOUND on the true n-gram Jaccard:
    * every returned pair truly has J ≥ its reported value, but pairs
    * whose overlap lives mostly in stop-shingles may fall below
    * `threshold` and be missed.
    */
  def jaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      maxShingleDf: Option[Int] = None): DataFrame = {
    // key the self-join and pair aggregation on the 8-byte 60-bit md5
    // hash via [[hashedShingleSet]] — a 3-5× cut in shuffle width on
    // the hottest exchange (the n-gram string is 20-60 bytes) plus
    // cheaper hashing/compare in the join itself. An md5-60bit
    // collision (≈ p²/2^61 across p distinct shingles — negligible
    // below ~10^8) inflates an intersection count deterministically;
    // the DuckDB oracle replays the same hash family, so results stay
    // engine-identical.
    val sh0 = sharedHashedShingles(df, idCol, textCol, n)
      .withColumnRenamed("h", "s")
    val sh = maxShingleDf match {
      case Some(cap) =>
        val keep = sh0.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap).select("s")
        sh0.join(keep, "s")
      case None => sh0
    }
    // sizes from the UNCAPPED sets: denominators stay exact, so the
    // capped variant under-reports J (lower bound) instead of reporting
    // the Jaccard of filtered sets (which can over- or under-report).
    // (Projection preserves row counts, so hashed sizes ≡ string sizes.)
    val sz = sh0.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val out = sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.as("sa"), col("da") === col("sa.doc_id"))
      .join(sz.as("sb"), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"), col("inter"),
        (col("inter") / (col("sa.n") + col("sb.n") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    // the pair set is tiny (near-dups are rare by definition) and is
    // consumed repeatedly downstream (clustering, curation) — persist it
    // so CacheManager shares one pair computation across identical calls
    out.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** ASYMMETRIC containment join: pairs where the SMALLER document's
    * shingles are mostly inside the larger's — `C = |A∩B| /
    * min(|A|,|B|) ≥ threshold` (Broder 1997's containment, the
    * quote/subset-detection measure). The case symmetric Jaccard
    * structurally misses: a paragraph quoted inside a 100× longer
    * document has J ≈ |A|/|B| ≈ 0.01 but C ≈ 1. Same inverted-index
    * join as [[jaccardPairs]] (only co-shingled pairs generated,
    * exact intersection counts, broadcastable size side); output
    * orients each pair as (contained, container) with exact BIGINT
    * sizes and the containment ratio of two exact integers.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      maxShingleDf: Option[Int] = None): DataFrame = {
    val sh0 = sharedHashedShingles(df, idCol, textCol, n)
    // stop-shingle hatch — the same skew escape every sibling
    // inverted-index join carries (jaccardPairs/winnowed/editDistance):
    // drop shingles present in > cap docs from CANDIDATE GENERATION
    // and intersection counting only. Sizes stay exact (uncapped), so
    // the reported containment is a LOWER BOUND: every returned pair
    // truly has C ≥ its reported value; pairs whose overlap lives
    // mostly in stop-shingles may fall below threshold and be missed.
    // None keeps exact semantics. For exactness WITH skew armor use
    // [[containmentPairsPrefix]].
    val sh = maxShingleDf match {
      case Some(cap) =>
        val keep = sh0.groupBy("h").agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap).select("h")
        sh0.join(keep, "h")
      case None => sh0
    }
    val sz = sh0.groupBy("doc_id").agg(count(lit(1)).as("n"))
    sh.as("a")
      .join(sh.as("b"), col("a.h") === col("b.h") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.as("sa"), col("da") === col("sa.doc_id"))
      .join(sz.as("sb"), col("db") === col("sb.doc_id"))
      .select(
        when(col("sa.n") <= col("sb.n"), col("da")).otherwise(col("db"))
          .as("contained"),
        when(col("sa.n") <= col("sb.n"), col("db")).otherwise(col("da"))
          .as("container"),
        col("inter"),
        least(col("sa.n"), col("sb.n")).as("n_small"),
        greatest(col("sa.n"), col("sb.n")).as("n_big"),
        (col("inter") / least(col("sa.n"), col("sb.n")))
          .as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** EXACT prefix-filtered containment join — [[containmentPairs]]
    * semantics (same output, bit-for-bit) with the inverted-index
    * skew removed, the way [[jaccardPairsPrefix]] de-skews
    * [[jaccardPairs]]. C ≥ t forces overlap ≥ ⌈t·|A|⌉ where A is the
    * SMALLER doc, so A must share a shingle within its first
    * |A| − ⌈t·|A|⌉ + 1 shingles under ANY canonical global order —
    * rarest-first here, so prefixes hold each doc's rarest shingles.
    * Containment is asymmetric: the container side admits no prefix
    * (a tiny quote can sit anywhere in a huge doc), so the join pairs
    * the contained side's PREFIX rows against the container side's
    * FULL ranked rows. Cost: Σ_s df_pfx(s)·df(s) — a corpus-wide
    * boilerplate shingle has huge df but appears in almost no
    * prefix (it ranks last within each doc), killing the df(s)² term
    * that makes the naive join quadratic. A positional filter
    * (remaining-overlap upper bound, shared canonical order) prunes
    * further; all float comparisons carry 1e-9 slack toward KEEPING,
    * so rounding can only admit an extra candidate (removed by exact
    * verification), never drop a true pair. Two extra linear
    * exchanges (df aggregation + ranking window) buy the pruning.
    */
  def containmentPairsPrefix(df: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double,
      nativePrefix: Boolean = true,
      rankedIn: Option[DataFrame] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      "threshold must be in (0, 1]")
    val t = lit(threshold)
    val eps = lit(1e-9)
    // `rankedIn`: pre-built [[rankedShingleRows]] artifact — supplies
    // the shingle set, the full ranked container side AND the
    // contained-side prefix (a filter), removing every corpus pass
    // (q105/q115 artifact discipline; DedupSpec pins ≡)
    val sh = rankedIn
      .map(_.select(col("doc_id"), col("s").as("h")))
      .getOrElse(sharedHashedShingles(df, idCol, textCol, n))
    lazy val shs = sh.withColumnRenamed("h", "s")
    // contained-side prefix: first |d| − ⌈t·|d|⌉ + 1 rarest shingles
    // (ceil slack lengthens the prefix — the safe side); the container
    // side keeps EVERY ranked position (keepFrac = None)
    val pfx = rankedIn.map(prefixOf(_, threshold))
      .getOrElse(rankedRows(shs, Some(threshold), nativePrefix))
      .withColumnRenamed("s", "h")
    val ranked = rankedIn
      .getOrElse(rankedRows(shs, None, nativePrefix))
      .withColumnRenamed("s", "h")
    // orient at candidate time: a = contained (smaller; id tiebreak on
    // equal sizes), b = container — b gets NO prefix/length filter.
    // positional filter: overlap from here ≤ 1 + min(remaining on
    // each side) must still reach ⌈t·|a|⌉.
    val smallerSide =
      col("a.n") < col("b.n") ||
      (col("a.n") === col("b.n") && col("a.doc_id") < col("b.doc_id"))
    val overlapUb = lit(1) +
      least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos"))
    val cand = pfx.as("a")
      .join(ranked.as("b"), col("a.h") === col("b.h") && smallerSide &&
        overlapUb >= t * col("a.n") - eps)
      .select(col("a.doc_id").as("ds"), col("b.doc_id").as("dl"),
        col("a.n").as("ns"), col("b.n").as("nl"))
      .distinct()
    // exact verification via sorted per-doc arrays + the native
    // merge-count kernel — join-multiplicity-identical to the
    // two-sided shingle join it replaces, with the candidate frame
    // joining document-count-sized array frames instead of fanning
    // out against the shingle stream (see jaccardPairsPrefix)
    val arr = sh.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("h"))).as("arr"))
    val inter = cand
      .join(arr.select(col("doc_id").as("ds"), col("arr").as("_as")),
        Seq("ds"))
      .join(arr.select(col("doc_id").as("dl"), col("arr").as("_al")),
        Seq("dl"))
      .select(col("ds"), col("dl"), col("ns"), col("nl"),
        graft.functions.SortedIntersect.count(col("_as"), col("_al"))
          .as("inter"))
      .filter(col("inter") > 0)
    inter
      .select(
        col("ds").as("contained"), col("dl").as("container"),
        col("inter"), col("ns").as("n_small"), col("nl").as("n_big"),
        (col("inter") / col("ns")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Per-document NOVELTY rate in corpus order — the diversity-decay
    * metric of incremental corpus building: for each doc (ordered by
    * id = ingestion order), the fraction of its distinct n-gram
    * shingles never seen in ANY earlier document. A crawl whose
    * novelty curve collapses is re-crawling itself; the metric is the
    * aggregate view of what [[jaccardPairs]] finds pairwise.
    *
    * Shape: shingle first-occurrence = one `min(doc_id)` aggregation
    * over the hashed shingle set (map-side combined, shingle-
    * vocabulary-bounded), joined back on the 8-byte hash; per-doc
    * novel/total counts are exact BIGINTs, the rate exact integer
    * ppm. No window over the corpus, no ordering shuffle — "earlier"
    * is resolved entirely by the min aggregation.
    */
  def noveltyRates(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val sh = sharedHashedShingles(df, idCol, textCol, n)
    val first = sh.groupBy(col("h")).agg(min(col("doc_id")).as("first_id"))
    sh.join(first, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_id") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        expr("(n_novel * 1000000) div n_shingles").as("novelty_ppm"))
  }

  /** Exact n-gram Jaccard join with PPJoin-style candidate pruning
    * (prefix + length + positional filtering; Xiao et al., WWW'08 —
    * public algorithm, re-expressed declaratively). Same results as
    * [[jaccardPairs]] — the filters admit every true pair, so this IS
    * exact — but candidate generation is bounded far below the
    * share-any-shingle join that [[jaccardPairs]] performs:
    *
    *  - **canonical order**: shingles are ranked within each document
    *    by ascending global document frequency (rarest first, ties by
    *    hash value) — one `groupBy(shingle)` + one window over doc_id;
    *  - **prefix filter**: two documents with J ≥ t must share a
    *    shingle within each other's first `|d| − ⌈t·|d|⌉ + 1` ranked
    *    shingles, so ONLY those prefix rows enter the self-join. The
    *    high-frequency shingles that dominate join fan-out (the reason
    *    [[jaccardPairs]] needs a `maxShingleDf` escape hatch at scale)
    *    are exactly the ones ranked OUT of the prefixes — the quadratic
    *    blow-up disappears without giving up exactness;
    *  - **length filter** (in the join condition): J ≥ t forces
    *    `min(|A|,|B|) ≥ t·max(|A|,|B|)` — wildly different-sized docs
    *    never materialize as candidate rows;
    *  - **positional filter**: a match at prefix positions (pa, pb)
    *    bounds the overlap by `1 + min(|A|−pa, |B|−pb)`, which must
    *    reach `t/(1+t)·(|A|+|B|)` — late-prefix matches are pruned in
    *    the join condition too. (Valid for the first shared prefix
    *    shingle in canonical order; a true pair's first shared shingle
    *    always passes, so pruning other occurrences never drops a pair.)
    *
    * Surviving candidates are verified exactly: intersection counted
    * with the same join-multiplicity semantics as [[jaccardPairs]]
    * (md5-60bit collisions, ≈p²/2^61, behave identically), then
    * J = |∩| / (|A|+|B|−|∩|) ≥ t. All float comparisons in the pruning
    * filters carry a 1e-9 slack toward KEEPING the candidate, so
    * floating-point rounding can only admit an extra candidate (caught
    * by verification), never drop a true pair.
    *
    * Scale story vs [[jaccardPairs]]: the inverted-index join's cost is
    * Σ_shingle df(s)², which a handful of stop-shingles turns
    * quadratic; the prefix join's cost is Σ_prefix-shingle df_p(s)²
    * where prefixes hold each document's RAREST shingles. The two extra
    * exchanges it pays (document-frequency aggregation + the ranking
    * window) are linear in corpus size.
    *
    * MEASURED regimes (PLANS.md round 4): on the
    * boilerplate shape (hot shingles shared corpus-wide, true pairs
    * only where docs genuinely overlap — the common large-corpus case)
    * this operator crosses over BELOW 5k docs and is 10× faster by 20k
    * while the uncapped join goes quadratic; the df-capped join keeps
    * <0.2% of true pairs there. On dup-HEAVY corpora (most docs are
    * near-dup family members) the candidate set ≈ the answer and the
    * per-candidate verification joins dominate — prefer MinHash-LSH
    * ([[minhashCandidates]]) or exact grouping there; no exact
    * pairwise join is the right tool when duplicates are the rule.
    */
  /** Rarest-first ranked shingle rows `(doc_id, s, pos, n)` of a
    * hashed shingle frame, optionally truncated to the PPJoin prefix —
    * ONE aggregation pass via [[graft.functions.RankedShinglesAgg]]
    * (`native = true`, the default) or the declarative
    * `row_number + count` window pair it replaces (`native = false`;
    * DedupSpec pins ≡). The native path drops the window's full
    * (doc_id, dfreq, s) exchange sort + second scan: the group-by
    * fuses into the dfreq join's exchange and sorts only within each
    * document's buffer at eval.
    */
  /** The FULL rarest-first ranked-shingle frame `(doc_id, s, pos, n)`
    * over the hashed 60-bit shingle set — the shared ARTIFACT of the
    * PPJoin family ([[jaccardPairsPrefix]] / [[containmentPairsPrefix]]
    * consume it via their `ranked` parameter; the q105/q115 build-row
    * discipline): `s` = shingle hash, `pos` = 1-based rank by
    * ascending global document frequency (ties by hash), `n` = the
    * document's distinct-shingle count. Any threshold's prefix is a
    * pure FILTER of this frame ([[prefixOf]]), so one build serves
    * every (operator, threshold) in the family. Build cost: the
    * shingle scan + one dfreq exchange + one ranked aggregation —
    * exactly what each consumer would otherwise pay privately.
    */
  def rankedShingleRows(df: DataFrame, idCol: String, textCol: String,
      n: Int, nativePrefix: Boolean = true): DataFrame =
    rankedRows(sharedHashedShingles(df, idCol, textCol, n)
      .withColumnRenamed("h", "s"), None, nativePrefix)

  /** The PPJoin prefix of a [[rankedShingleRows]] frame at `t`: the
    * first `|d| − ⌈t·|d|⌉ + 1` ranked rows of each document (ceil
    * slack toward the LONGER prefix — the safe side, identical to the
    * keepFrac arithmetic inside the build paths).
    */
  def prefixOf(ranked: DataFrame, t: Double): DataFrame =
    ranked.filter(col("pos") <=
      col("n") - ceil(lit(t) * col("n") - lit(1e-9)) + 1)

  private def rankedRows(sh: DataFrame, keepFrac: Option[Double],
      native: Boolean): DataFrame = {
    // canonical global order: ascending document frequency, ties by
    // hash value — any total order works for correctness; rarest-first
    // minimizes prefix-join fan-out (the point of the algorithm)
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("dfreq"))
    val joined = sh.join(dfreq, "s")
    if (native)
      joined.groupBy(col("doc_id"))
        .agg(graft.functions.PrefixAgg.rankedShingles(
          col("s"), col("dfreq"), keepFrac).as("px"))
        .select(col("doc_id"), col("px.n").as("n"),
          explode(col("px.items")).as("it"))
        .select(col("doc_id"), col("it.s").as("s"),
          col("it.pos").as("pos"), col("n"))
    else {
      import org.apache.spark.sql.expressions.Window
      val byDoc = Window.partitionBy("doc_id")
      val ranked = joined
        .select(col("doc_id"), col("s"),
          row_number().over(byDoc.orderBy(col("dfreq"), col("s")))
            .as("pos"),
          count(lit(1)).over(byDoc).as("n"))
      keepFrac match {
        case Some(t) => ranked.filter(col("pos") <=
          col("n") - ceil(lit(t) * col("n") - lit(1e-9)) + 1)
        case None => ranked
      }
    }
  }

  def jaccardPairsPrefix(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      nativePrefix: Boolean = true,
      ranked: Option[DataFrame] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val t = lit(threshold)
    val eps = lit(1e-9)
    // `ranked`: a pre-built [[rankedShingleRows]] artifact for the SAME
    // (df, idCol, textCol, n) — both the shingle set (its (doc_id, s)
    // projection) and the prefix (a filter) derive from it, so a
    // registered artifact removes every corpus pass from this operator
    // (values identical by construction; DedupSpec pins ≡)
    val sh = ranked.map(_.select(col("doc_id"), col("s")))
      .getOrElse(sharedHashedShingles(df, idCol, textCol, n)
        .withColumnRenamed("h", "s"))
    // prefix = first |d| − ⌈t·|d|⌉ + 1 ranked shingles (ceil slack
    // shortens the ceiling, i.e. lengthens the prefix — the safe side)
    // the prefix frame is NOT persisted: its only consumer is the
    // self-join below, whose two sides are identical plans over the
    // (cached) shingle set — an r4 A/B measured persist
    // (1.92 s), eager-checkpoint-then-unpersist (2.07 s) and no-persist
    // (2.05 s) within noise at sf0.1, and no-persist keeps the operator
    // lazy and leaks nothing into the unified pool between global
    // cache clears (ADVICE r3)
    val pfx = ranked.map(prefixOf(_, threshold))
      .getOrElse(rankedRows(sh, Some(threshold), nativePrefix))
    val overlapUb =
      lit(1) + least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos"))
    val cand = pfx.as("a")
      .join(pfx.as("b"), col("a.s") === col("b.s") &&
        col("a.doc_id") < col("b.doc_id") &&
        // length filter: min size ≥ t · max size
        col("a.n") >= t * col("b.n") - eps &&
        col("b.n") >= t * col("a.n") - eps &&
        // positional filter: best-possible overlap from here must still
        // reach the required α = t/(1+t)·(|A|+|B|) (cross-multiplied)
        overlapUb * (lit(1.0) + t) >= t * (col("a.n") + col("b.n")) - eps)
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .distinct()
    // exact verification via the sorted per-doc shingle arrays + the
    // native merge-count kernel ([[graft.functions.SortedIntersect]]):
    // bit-identical to the join-based count (multiplicity included —
    // the kernel multiplies duplicate runs), but the candidate frame
    // joins two DOCUMENT-count-sized array frames instead of fanning
    // out against the corpus-sized shingle stream — the shuffle
    // carries each doc's array once, not one row per (candidate,
    // shingle) (measured 2.6 s → sub-second on q66's 125k-candidate
    // frame at sf0.1). Array width = the doc's shingle count, the
    // same per-doc-bounded contract as a MinHash signature.
    val arr = sh.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("s"))).as("arr"))
    val inter = cand
      .join(arr.select(col("doc_id").as("da"), col("arr").as("_aa")),
        Seq("da"))
      .join(arr.select(col("doc_id").as("db"), col("arr").as("_ab")),
        Seq("db"))
      .select(col("da"), col("db"), col("na"), col("nb"),
        graft.functions.SortedIntersect.count(col("_aa"), col("_ab"))
          .as("inter"))
      .filter(col("inter") > 0)
    inter
      .select(col("da"), col("db"), col("inter"),
        (col("inter") / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Persist an INCREMENTAL-friendly shingle inverted index — the
    * q330 append discipline applied to the dedup family. Layout
    * mirrors [[Retrieval.writeTfIndex]]: `path/postings` holds the
    * distinct `(doc_id, s)` hashed-shingle rows PARTITIONED by
    * `sbucket = pmod(s, shingleBuckets)`, `path/docs` the per-doc
    * distinct-shingle counts `(doc_id, n)`; the build's manifest commit
    * carries `(n_buckets, shingle_n)`.
    *
    * Per-document FACTS only: a document's shingle set and size never
    * change when the corpus grows, so [[shingleFamily]]'s `append`
    * is a pure parquet append — nothing global (document frequency,
    * prefix ranks) is baked into the stored rows. The global rarest-first
    * rank that PPJoin prefixes need is recomputed at READ time over
    * the index's current state ([[jaccardPairsAgainstIndex]]) — two
    * narrow-column exchanges over stored longs, exactly the
    * idf/avgdl-at-read trade of the TF index. What the artifact kills
    * is the expensive half of every near-dup run: re-tokenizing,
    * re-shingling and re-hashing 100 TB of TEXT that was already
    * fingerprinted yesterday (PLANS.md round 14, "ScaleShingleIndex":
    * append O(increment) vs rebuild O(corpus)).
    */
  def writeShingleIndex(docs: DataFrame, path: String, n: Int,
      shingleBuckets: Int = 64, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    require(shingleBuckets >= 1)
    graft.sink.IndexLayout.freshLayout(docs.sparkSession, path)
    val sh = hashedShingleSet(docs.select(col(idCol), col(textCol)),
        idCol, textCol, n)
      .withColumnRenamed("h", "s")
      .localCheckpoint() // postings + docs derive from ONE shingle pass
    // writeFacts repartitions ON the bucket column before the
    // partitioned write: one file per bucket per write instead of
    // (#tasks × #buckets) tiny files — the listing cost of the latter
    // dominates every subsequent read (measured 9.2 s → sub-second
    // query overhead at sf0.01 ×32)
    // the two fact trees are independent jobs off one checkpointed
    // shingle frame — overlap them (guide §2.6; IndexLayout
    // .inParallel); the manifest commit after both is the
    // build-complete marker
    graft.sink.IndexLayout.inParallel(
      () => graft.sink.IndexLayout.writeFacts(
        sh.withColumn("sbucket",
          pmod(col("s"), lit(shingleBuckets.toLong))),
        path, "postings", "sbucket"),
      () => graft.sink.IndexLayout.writeFlatFacts(
        sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n")),
        path, "docs"))
    graft.sink.IndexLayout.commitBuild(docs.sparkSession, path,
      "n_buckets" -> shingleBuckets, "shingle_n" -> n)
  }

  /** The shingle family of [[graft.sink.IndexFamily]] — append,
    * upsert, delete, CDC, purge, compaction and streaming ingest of a
    * [[writeShingleIndex]] artifact. Mutations shingle ONLY the
    * increment (a re-crawled doc from its NEW text); yesterday's
    * corpus text is never touched. [[jaccardPairsAgainstIndex]]
    * filters tombstone-killed generations out of the postings BEFORE
    * ranking, so prefix ranks, sizes and pairs recompute as if the
    * killed facts never existed. CDC diffs the flat per-doc `docs`
    * table. */
  def shingleFamily(idCol: String = "doc_id",
      textCol: String = "text"): graft.sink.IndexFamily =
    graft.sink.IndexFamily("shingle", key = "doc_id", idCol = idCol,
      bucketCol = Some("sbucket"), flats = Seq("docs"),
      cdcTable = "docs",
      appendFacts = (path, docs, g) =>
        appendShingleFacts(path, docs, idCol, textCol, g))

  private def appendShingleFacts(path: String,
      newDocs: DataFrame, idCol: String, textCol: String,
      gen: Long): Unit = {
    val params = graft.sink.IndexManifest.latest(newDocs.sparkSession,
      path).params
    val (nBuckets, n) = (params("n_buckets"), params("shingle_n"))
    val sh = hashedShingleSet(newDocs.select(col(idCol), col(textCol)),
        idCol, textCol, n)
      .withColumnRenamed("h", "s")
      .localCheckpoint()
    graft.sink.IndexLayout.inParallel(
      () => graft.sink.IndexLayout.appendFacts(
        sh.withColumn("sbucket", pmod(col("s"), lit(nBuckets.toLong))),
        path, "postings", "sbucket", gen),
      () => graft.sink.IndexLayout.appendFlatFacts(
        sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n")),
        path, "docs", gen))
  }

  /** PPJoin-pruned exact Jaccard of a fresh INCREMENT against a
    * [[writeShingleIndex]] artifact (which already contains the
    * increment — [[shingleFamily]]'s `append` first): all pairs with
    * `J ≥ threshold` TOUCHING the increment — increment-vs-corpus and
    * increment-internal; corpus-internal pairs were yesterday's runs'
    * output and are never regenerated. Output `(da, db, inter,
    * jaccard)`, the [[jaccardPairsPrefix]] schema.
    *
    * Read-time plan: one postings scan rebuilds the global
    * rarest-first ranked rows (document frequency + per-doc rank — the
    * recompute-at-read half of the layout, over stored 2-long rows,
    * no text in sight); the increment side of the prefix join is a
    * FILTER of that frame (semi-join on `incrementIds`, broadcast —
    * a daily increment is small by definition), so candidate fan-out
    * is bounded by the increment's prefixes, not the corpus's.
    * Verification arrays are built ONLY for documents that appear in
    * some candidate pair (semi-join prune before the collect_list).
    * Pruning is lossless (the [[jaccardPairsPrefix]] argument), so the
    * result equals the exhaustive full-corpus pair set restricted to
    * increment-touching pairs — the q331 oracle.
    */
  def jaccardPairsAgainstIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, threshold: Double,
      incrementIds: DataFrame,
      pinned: Option[graft.sink.IndexManifest] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      "threshold must be in (0, 1]")
    val t = lit(threshold)
    val eps = lit(1e-9)
    val inc = incrementIds.select(col(incrementIds.columns.head)
      .cast("long").as("doc_id"))
    // tombstone-killed generations out BEFORE ranking (no broadcast
    // hint — a purge list can be any size; AQE picks the strategy
    // from actual stats). gen >= below_gen keeps upsert-refreshed
    // facts and drops their stale generations. One manifest snapshot
    // (caller-pinned or latest) resolves postings + tombstones +
    // visibility watermark together; visibleFacts keeps only
    // PUBLISHED generations (reader-atomic mutations).
    val man = pinned.getOrElse(graft.sink.IndexManifest.latest(spark, path))
    // NOTE (optimization rounds 19/20): this live posting frame
    // feeds THREE evaluations (rarest-first df aggregation, its
    // re-join, the exact-verify array build). A blanket
    // localCheckpoint was measured in round 19 and DECLINED: it
    // replaced the parquet scan with an ExistingRDD in every
    // downstream plan, blinding the PlanAuditSpec gates that prove
    // the kill floor lands before ranking and bucket pruning reaches
    // the scan. Round 20 measured the split variant too (checkpoint
    // only the RANKING derivation's copy, keep the raw parquet path
    // in the exact-verify build): q339 6.37 s → 6.43 s isolated —
    // the checkpoint materialization pass costs what the saved
    // re-scan saved — and the pinned blocks (never unpersisted on a
    // serve path that returns a live frame) accumulated across a
    // multi-query session until serve rows degraded 2-3×. DECLINED
    // as well: both evaluations keep the parquet scan.
    val sh = graft.sink.IndexLayout.applyTombstones(
        graft.sink.IndexLayout.visibleFacts(Parquet.read(spark,
            graft.sink.IndexLayout.dir(path, man, "postings")), man)
          .select(col("doc_id"), col("s"), col("gen")),
        graft.sink.IndexLayout.tombstoneFloor(spark, path, "doc_id",
          man),
        "doc_id")
      .select(col("doc_id"), col("s"))
    // global rarest-first ranks over the index's CURRENT state
    // (corpus + increments) — same values a full rebuild would rank
    val ranked = rankedRows(sh, None, native = true).localCheckpoint()
    val pfx = prefixOf(ranked, threshold)
    val pfxInc = pfx.join(broadcast(inc), Seq("doc_id"), "left_semi")
    val overlapUb =
      lit(1) + least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos"))
    val cand = pfxInc.as("a")
      .join(pfx.as("b"), col("a.s") === col("b.s") &&
        col("a.doc_id") =!= col("b.doc_id") &&
        col("a.n") >= t * col("b.n") - eps &&
        col("b.n") >= t * col("a.n") - eps &&
        overlapUb * (lit(1.0) + t) >= t * (col("a.n") + col("b.n")) - eps)
      // normalize so increment-internal pairs (generated in both
      // orders) collapse; increment-vs-corpus pairs appear once
      .select(least(col("a.doc_id"), col("b.doc_id")).as("da"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("db"),
        when(col("a.doc_id") < col("b.doc_id"), col("a.n"))
          .otherwise(col("b.n")).as("na"),
        when(col("a.doc_id") < col("b.doc_id"), col("b.n"))
          .otherwise(col("a.n")).as("nb"))
      .distinct()
    // exact verification — arrays ONLY for candidate docs
    val candDocs = cand.select(col("da").as("doc_id"))
      .union(cand.select(col("db").as("doc_id"))).distinct()
    val arr = sh.join(candDocs, Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("s"))).as("arr"))
    cand
      .join(arr.select(col("doc_id").as("da"), col("arr").as("_aa")),
        Seq("da"))
      .join(arr.select(col("doc_id").as("db"), col("arr").as("_ab")),
        Seq("db"))
      .select(col("da"), col("db"), col("na"), col("nb"),
        graft.functions.SortedIntersect.count(col("_aa"), col("_ab"))
          .as("inter"))
      .filter(col("inter") > 0)
      .select(col("da"), col("db"), col("inter"),
        (col("inter") / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash signature as one array<long> column `sig` — a single
    * [[graft.functions.MinHashAgg]] (TypedImperativeAggregate) instead
    * of k separate min columns: same partial+final merge, one tight
    * buffer update per shingle, far less generated code.
    */
  def minhashSignatureArray(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    val h = shingleSet(df, idCol, textCol, n)
      .persist(StorageLevel.MEMORY_AND_DISK)
      .withColumn("h", TextOps.hash60(col("s")))
    h.groupBy("doc_id").agg(
      graft.functions.SketchAggs.minhash(col("h"), minhashConstants(k))
        .as("sig"))
  }

  /** MinHash LSH candidate pairs: documents sharing ≥1 of `bands` bands
    * (r = k/bands rows per band), with the signature-estimated similarity
    * (fraction of equal min-hashes). `minEst` filters the candidates.
    *
    * The full signature rides through the banding explode as an array, so
    * the estimate is computed directly on each candidate pair — no
    * signature re-join after the band join.
    */
  /** Signature frame exploded into (doc_id, sig, band, bv) — the shared
    * banding step of [[minhashCandidates]] and [[minhashCrossCandidates]].
    */
  private def bandedSignatures(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    val sig = minhashSignatureArray(df, idCol, textCol, n, k)
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (b * r until b * r + r).map(j =>
          element_at(col("sig"), j + 1)): _*).as("bv"))
    }
    sig.select(col("doc_id"), col("sig"),
        explode(array(bandStructs: _*)).as("x"))
      .select(col("doc_id"), col("sig"), col("x.band"), col("x.bv"))
  }

  /** LSH index-quality calibration: every banded candidate pair's
    * signature-estimated similarity AGAINST its exact n-gram Jaccard,
    * bucketed by estimate decile — the measurement that tells you
    * whether a (k, bands) configuration's S-curve is delivering the
    * threshold you think it is, BEFORE trusting it on 100 TB.
    * Per bucket (est decile 0-10): `n_pairs`, `avg_est_ppm`,
    * `avg_true_ppm` — all exact integer arithmetic (per-pair ppm are
    * integer div of exact counts; bucket means are integer div of
    * their sums).
    *
    * Scale: candidate generation is the banded join (never
    * all-pairs); the exact-Jaccard verification joins only the
    * CANDIDATE pairs against the (cached) hashed shingle set — cost
    * proportional to candidates × doc size, the same bound as
    * [[jaccardPairsPrefix]]'s verification phase (and the same
    * sorted-array merge kernel). A banded pair that shares no shingle
    * (possible: equal minhashes need only equal RARE extremes)
    * contributes inter = 0 straight from the kernel.
    */
  def lshCalibration(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int): DataFrame = {
    val banded = bandedSignatures(df, idCol, textCol, n, k, bands)
    val m = size(filter(
      zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y), b => b))
    val cand = banded.as("a").join(banded.as("b"), Seq("band", "bv"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        m.cast("bigint").as("mm"))
      .distinct()
    val sh = sharedHashedShingles(df, idCol, textCol, n)
    // exact verification via sorted per-doc arrays + the native
    // merge-count kernel (the jaccardPairsPrefix shape — join-
    // multiplicity-identical to the two-sided shingle join it
    // replaces); the size rides the array (nn = its length), and a
    // shared-nothing banded pair gets inter = 0 straight from the
    // kernel — no left join + coalesce needed
    val arr = sh.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("h"))).as("arr"))
    cand
      .join(arr.select(col("doc_id").as("da"), col("arr").as("_aa")),
        Seq("da"))
      .join(arr.select(col("doc_id").as("db"), col("arr").as("_ab")),
        Seq("db"))
      .select(col("da"), col("db"), col("mm"),
        graft.functions.SortedIntersect.count(col("_aa"), col("_ab"))
          .as("inter"),
        size(col("_aa")).cast("bigint").as("nn_a"),
        size(col("_ab")).cast("bigint").as("nn_b"))
      .select(col("da"), col("db"),
        expr(s"(mm * 1000000) div $k").as("est_ppm"),
        expr("(inter * 1000000) div (nn_a + nn_b - inter)")
          .as("true_ppm"))
      .groupBy(expr("est_ppm div 100000").as("est_decile"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(est_ppm) div count(1)").as("avg_est_ppm"),
        expr("sum(true_ppm) div count(1)").as("avg_true_ppm"))
  }

  def minhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int, minEst: Double): DataFrame = {
    val banded = bandedSignatures(df, idCol, textCol, n, k, bands)
    // compute the estimate BEFORE the distinct: est is a function of
    // (da, db), so deduping on (da, db, est_sim) is equivalent while the
    // dedup shuffle carries 3 scalars instead of two k-element arrays
    val est = size(filter(
      zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y), b => b))
    banded.as("a").join(banded.as("b"), Seq("band", "bv"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        (est / lit(k.toDouble)).as("est_sim"))
      .distinct()
      .filter(col("est_sim") >= minEst)
  }

  /** Incremental-ingestion near-dup check: MinHash-LSH candidates
    * BETWEEN two corpora — each new-shard document against the existing
    * corpus — with the signature-estimated similarity. Returns
    * `(new_id, corpus_id, est_sim)`.
    *
    * This is the "does tonight's crawl shard duplicate the 100 TB
    * corpus" shape: both sides band with the SAME hash family, and the
    * band join replaces the corpus-wide self-join. The new shard is
    * normally orders of magnitude smaller than the corpus, so its
    * banded signatures broadcast and the corpus-side token stream
    * never shuffles for the join at all — signature aggregation
    * (partial+final over shingles) is the only corpus-wide exchange.
    */
  def minhashCrossCandidates(
      newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      n: Int, k: Int, bands: Int, minEst: Double): DataFrame = {
    val bn = bandedSignatures(newDocs, idCol, textCol, n, k, bands)
    val bc = bandedSignatures(corpus, idCol, textCol, n, k, bands)
    val est = size(filter(
      zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y), b => b))
    broadcast(bn).as("a").join(bc.as("b"), Seq("band", "bv"))
      .select(col("a.doc_id").as("new_id"),
        col("b.doc_id").as("corpus_id"),
        (est / lit(k.toDouble)).as("est_sim"))
      .distinct()
      .filter(col("est_sim") >= minEst)
  }

  /** Winnowed character-level fingerprints (Schleimer et al. 2003, the
    * MOSS scheme): one row per distinct selected k-gram hash,
    * `(doc_id, h)`. Text is normalized to lowercased space-joined
    * tokens first, so formatting differences don't break substring
    * identity. Any shared substring of ≥ w+k−1 normalized characters
    * guarantees a shared fingerprint — the substring-level dedup
    * primitive (a corpus-tractable stand-in for suffix-array exact
    * substring dedup, Lee et al. 2022).
    *
    * Map-side: the native [[graft.functions.WinnowKernelImpl]] kernel
    * runs on the (rebalanced) scan; density is ~2/(w+1) fingerprints
    * per character.
    */
  def winnowedFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    val in = graft.Tables.rebalance(
      df.select(col(idCol).as("doc_id"),
        concat_ws(" ", TextOps.words(col(textCol))).as("t")))
    in.select(col("doc_id"),
      explode(graft.functions.Winnow.fingerprints(col("t"), k, w))
        .as("h"))
  }

  /** Substring-overlap candidate pairs: documents sharing at least
    * `minShared` winnowed fingerprints — `(da, db, shared)`. The join
    * is the q25-shaped inverted index on 8-byte fingerprint keys, so
    * cost follows Σ df(h)² over fingerprint posting lists;
    * `maxFpDf` drops fingerprints seen in more than that many
    * documents (boilerplate substrings — same lower-bound semantics,
    * same escape hatch as [[jaccardPairs]]'s `maxShingleDf`).
    */
  def substringCandidates(df: DataFrame, idCol: String, textCol: String,
      k: Int = 25, w: Int = 10, minShared: Int = 2,
      maxFpDf: Option[Int] = None): DataFrame = {
    // persist the fingerprint stream like every self-joining sibling
    // here (module-header rule): the per-character md5 winnow is
    // the most expensive kernel in the file and feeds up to three
    // consumers (df cap + both join sides)
    val fp0 = winnowedFingerprints(df, idCol, textCol, k, w)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val fp = maxFpDf match {
      case Some(cap) =>
        val hot = fp0.groupBy(col("h"))
          .agg(count(lit(1)).as("df")).filter(col("df") > cap)
          .select(col("h"))
        fp0.join(broadcast(hot), Seq("h"), "left_anti")
      case None => fp0
    }
    fp.as("a").join(fp.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Persist a winnowed-FINGERPRINT inverted index — the SUBSTRING
    * granularity of the incremental-dedup story ([[writeShingleIndex]]
    * covers document n-gram Jaccard; this covers [[substringCandidates]]'
    * shared-substring detection). Fingerprints are per-document FACTS
    * (Schleimer 2003 winnowing reads only the document's own text), so
    * ingest is a pure parquet append and the expensive per-character
    * md5 winnow kernel runs over the INCREMENT only. Layout mirrors
    * the shingle index: `path/postings` `(doc_id, h)` partitioned by
    * `fbucket = pmod(h, fpBuckets)`; the build's manifest commit
    * carries `(n_buckets, k, w)`.
    */
  def writeFingerprintIndex(docs: DataFrame, path: String,
      k: Int = 25, w: Int = 10, fpBuckets: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    require(fpBuckets >= 1)
    graft.sink.IndexLayout.freshLayout(docs.sparkSession, path)
    val fp = winnowedFingerprints(docs.select(col(idCol), col(textCol)),
      idCol, textCol, k, w).localCheckpoint()
    graft.sink.IndexLayout.writeFacts(
      fp.withColumn("fbucket", pmod(col("h"), lit(fpBuckets.toLong))),
      path, "postings", "fbucket")
    graft.sink.IndexLayout.commitBuild(docs.sparkSession, path,
      "n_buckets" -> fpBuckets, "k" -> k, "w" -> w)
  }

  /** The fingerprint family of [[graft.sink.IndexFamily]] — the
    * [[shingleFamily]] lifecycle at substring granularity: mutations
    * re-winnow only the increment. The layout has no per-doc side
    * table, so CDC diffs the bucketed postings (a fingerprint-sized
    * scan, still never the text). */
  def fingerprintFamily(idCol: String = "doc_id",
      textCol: String = "text"): graft.sink.IndexFamily =
    graft.sink.IndexFamily("fingerprint", key = "doc_id", idCol = idCol,
      bucketCol = Some("fbucket"), flats = Nil, cdcTable = "postings",
      appendFacts = (path, docs, g) =>
        appendFingerprintFacts(path, docs, idCol, textCol, g))

  private def appendFingerprintFacts(path: String, newDocs: DataFrame,
      idCol: String, textCol: String, gen: Long): Unit = {
    val params = graft.sink.IndexManifest.latest(newDocs.sparkSession,
      path).params
    graft.sink.IndexLayout.appendFacts(
      winnowedFingerprints(newDocs.select(col(idCol), col(textCol)),
          idCol, textCol, params("k"), params("w"))
        .withColumn("fbucket",
          pmod(col("h"), lit(params("n_buckets").toLong))),
      path, "postings", "fbucket", gen)
  }

  /** Substring-overlap candidates of a fresh INCREMENT against a
    * [[writeFingerprintIndex]] artifact (which already contains the
    * increment): `(da, db, shared)` pairs sharing ≥ `minShared`
    * fingerprints and TOUCHING the increment — the
    * [[substringCandidates]] semantics without re-winnowing
    * yesterday's corpus. The increment side is a broadcast semi-join
    * filter of the posting stream; increment-internal pairs (joined in
    * both orders) collapse through the normalized distinct before
    * counting. `maxFpDf` drops boilerplate fingerprints by document
    * frequency over the index's CURRENT state (same lower-bound
    * semantics as the in-memory operator). Tombstones
    * ([[fingerprintFamily]]'s deletes — `path/tombstones`) are
    * anti-joined out first.
    */
  def substringCandidatesAgainstIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      minShared: Int, incrementIds: DataFrame,
      maxFpDf: Option[Int] = None,
      pinned: Option[graft.sink.IndexManifest] = None): DataFrame = {
    val inc = incrementIds.select(col(incrementIds.columns.head)
      .cast("long").as("doc_id"))
    val man = pinned.getOrElse(graft.sink.IndexManifest.latest(spark, path))
    val fp1 = graft.sink.IndexLayout.applyTombstones(
        graft.sink.IndexLayout.visibleFacts(Parquet.read(spark,
            graft.sink.IndexLayout.dir(path, man, "postings")), man)
          .select(col("doc_id"), col("h"), col("gen")),
        graft.sink.IndexLayout.tombstoneFloor(spark, path, "doc_id",
          man),
        "doc_id")
      .select(col("doc_id"), col("h"))
    val fp = maxFpDf match {
      case Some(cap) =>
        val hot = fp1.groupBy(col("h"))
          .agg(count(lit(1)).as("df")).filter(col("df") > cap)
          .select(col("h"))
        fp1.join(broadcast(hot), Seq("h"), "left_anti")
      case None => fp1
    }
    val fpInc = fp.join(broadcast(inc), Seq("doc_id"), "left_semi")
    fpInc.as("a").join(fp.as("b"),
        col("a.h") === col("b.h") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("da"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("db"),
        col("a.h").as("h"))
      .distinct() // both-in-increment pairs arrive in both orders
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** 32-bit SimHash per document over the shingle set: bit b is the sign
    * of Σ_shingles (±1 by hash bit b). One integer per document.
    */
  def simhash32(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val h = shingleSet(df, idCol, textCol, n)
      .persist(StorageLevel.MEMORY_AND_DISK)
      .withColumn("h", TextOps.hash60(col("s")))
    // one TypedImperativeAggregate buffer per doc replaces 32 codegen'd
    // sum columns (graft.functions.SimHashAgg) — identical result
    h.groupBy("doc_id").agg(
      graft.functions.SketchAggs.simhash(col("h")).as("simhash"))
  }

  /** Bit-block layout for SimHash banding: `nBlocks` contiguous blocks
    * covering `bits` bits as evenly as possible, as (shift, mask) pairs.
    * By pigeonhole, two hashes with hamming ≤ nBlocks−1 must agree on at
    * least one block — so guaranteeing hamming ≤ h needs h+1 blocks.
    */
  def simhashBlocks(bits: Int, nBlocks: Int): Seq[(Int, Long)] = {
    val base = bits / nBlocks
    val extra = bits % nBlocks
    val sizes = Seq.fill(extra)(base + 1) ++ Seq.fill(nBlocks - extra)(base)
    sizes.scanLeft(0)(_ + _).init.zip(sizes.map(s => (1L << s) - 1))
  }

  /** Connected components over an undirected pair graph — the step that
    * turns near-dup candidate PAIRS into duplicate CLUSTERS so a corpus
    * can keep one representative per cluster (transitive closure:
    * A≈B≈C is one cluster even if A,C were never paired directly).
    *
    * Iterative min-label propagation WITH pointer jumping: every node
    * starts labeled with itself; each round every node takes the min of
    * its own label, its neighbors' labels, AND its label's label
    * (cluster(cluster(id)) — the path-halving step). The jump makes
    * convergence O(log diameter) instead of O(diameter): chain-shaped
    * components (the adversarial case for plain propagation, where a
    * 300-node chain needs 299 one-hop rounds) converge in ~9 rounds.
    * Each round is two shuffle joins + an aggregation; labels are
    * `localCheckpoint`ed per round to truncate the growing lineage (the
    * standard pattern for iterative Spark algorithms).
    *
    * Adaptive small-graph path: near-dup edge sets are normally MUCH
    * smaller than the corpus (duplicates are the exception), so when
    * the edge count is at most `smallGraphEdges` the component labels
    * are computed with driver-side union-find (path compression +
    * union-by-min) and broadcast back — one join, zero iterative
    * rounds, and only the EDGES ever leave the cluster (the node set
    * stays distributed). Above the threshold the distributed loop
    * runs; the two paths produce identical labels (DedupSpec pins
    * equality on a multi-shape graph).
    *
    * @param pairs DataFrame with two id columns (da, db), one row per
    *              undirected edge; ids must be integral (both paths
    *              cast them to long, so the output schema is
    *              (id: bigint, cluster: bigint) regardless of path)
    * @param nodes all node ids (singletons get their own cluster);
    *              edges whose endpoints are not BOTH in `nodes` are
    *              discarded before either path runs, so malformed
    *              inputs cluster identically at any data volume
    * @param smallGraphEdges undirected-edge-count threshold for the
    *                        union-find fast path (0 forces the
    *                        distributed loop)
    * @return (id, cluster) where cluster = min id in the component
    */
  def connectedComponents(pairs: DataFrame, nodes: DataFrame,
      idCol: String, maxIter: Int = 25,
      smallGraphEdges: Long = 1000000L): DataFrame = {
    val nodeIds = nodes.select(col(idCol).cast("long").as("id"))
    // drop edges referencing unknown ids up front (cheap semi-joins on
    // the small edge set) and materialize once — the pair-generation
    // plan may be expensive and feeds every round's join (or the
    // one-shot collect below)
    val undirected = pairs
      .select(col("da").cast("long").as("src"),
        col("db").cast("long").as("dst"))
      .join(nodeIds.withColumnRenamed("id", "src"), Seq("src"),
        "left_semi")
      .join(nodeIds.withColumnRenamed("id", "dst"), Seq("dst"),
        "left_semi")
      .select(col("src"), col("dst")) // using-joins reorder columns
      .localCheckpoint()

    if (undirected.count() <= smallGraphEdges) {
      // union-find over the collected undirected edges (each edge once
      // — symmetrization is only needed by the distributed join): find
      // with path compression, union toward the smaller root id so the
      // final root IS the component minimum (same contract as the loop)
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent.getOrElse(c, c); parent.update(c, r); c = nxt
        }
        r
      }
      undirected.collect().foreach { row =>
        val (a, b) = (find(row.getLong(0)), find(row.getLong(1)))
        if (a != b) {
          if (a < b) parent.update(b, a) else parent.update(a, b)
        }
      }
      val labelMap = parent.keys.map(k => (k, find(k))).toSeq
      val spark = nodes.sparkSession
      import spark.implicits._
      val labels = labelMap.toDF("id_m", "cluster_m")
      return nodeIds
        .join(broadcast(labels), col("id") === col("id_m"), "left")
        .select(col("id"),
          coalesce(col("cluster_m"), col("id")).as("cluster"))
    }
    val edges = undirected
      .union(undirected.select(col("dst").as("src"), col("src").as("dst")))
    var labels = nodeIds
      .withColumn("cluster", col("id")).localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val viaNeighbors = edges
        .join(labels, edges("src") === labels("id"))
        .groupBy(col("dst").as("id2")).agg(min(col("cluster")).as("nc"))
      // pointer jumping: also adopt the label OF the current label
      // (cluster(cluster(id))). Neighbor-min alone moves a label one hop
      // per round — O(diameter) rounds, useless on chain-shaped
      // components; with the jump the distance to the component minimum
      // roughly halves per round, so convergence is O(log diameter)
      // (verified: a 300-node chain converges in 9 rounds, not 299).
      // Safe: a label is always an id inside the same component, so its
      // label is too — labels only ever decrease toward the true min.
      // The jump join is deferred to round 2: shallow components (the
      // common near-dup case, diameter 1-2) converge before paying the
      // extra labels⨝labels shuffle; deep graphs still get O(log).
      val viaJump =
        if (i == 0) None
        else Some(labels.as("l1")
          .join(labels.as("l2"), col("l1.cluster") === col("l2.id"))
          .select(col("l1.id").as("id3"), col("l2.cluster").as("jc")))
      // the change flag rides the checkpointed round output, so the
      // convergence check is a cheap scan of it, not another join
      val withNc = labels.join(viaNeighbors,
        labels("id") === viaNeighbors("id2"), "left")
      val next = viaJump.fold(withNc.select(col("id"),
          least(col("cluster"), coalesce(col("nc"), col("cluster")))
            .as("newc"),
          col("cluster").as("oldc")))(vj => withNc
        .join(vj, labels("id") === col("id3"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nc"), col("cluster")),
            coalesce(col("jc"), col("cluster"))).as("newc"),
          col("cluster").as("oldc")))
        .select(col("id"), col("newc").as("cluster"),
          (col("newc") =!= col("oldc")).as("_changed"))
        .localCheckpoint()
      converged = next.filter(col("_changed")).isEmpty
      labels = next.drop("_changed")
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "with pointer jumping that implies a component of diameter " +
          s"~2^$maxIter, so first suspect malformed edges (e.g. ids not " +
          "in `nodes`); raise maxIter only if such a graph is expected " +
          "(stopping early would silently split one real cluster)")
    labels
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming.
    * Candidates come from equality joins on maxHamming+1 bit-blocks
    * (pigeonhole: any qualifying pair shares a block — see
    * [[simhashBlocks]]) — never a cross product, and no false negatives
    * within the hamming budget.
    */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, maxHamming: Int): DataFrame = {
    val sh = simhash32(df, idCol, textCol, n)
    val chunks = simhashBlocks(32, maxHamming + 1).zipWithIndex.map {
      case ((shift, mask), j) => struct(lit(j).as("j"),
        shiftright(col("simhash"), shift).bitwiseAND(lit(mask)).as("c"))
    }
    val chunked = sh.select(col("doc_id"), col("simhash"),
        explode(array(chunks: _*)).as("x"))
      .select(col("doc_id"), col("simhash"), col("x.j"), col("x.c"))
    chunked.as("a").join(chunked.as("b"), Seq("j", "c"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("bigint")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Post-clustering canonical selection — the "keep one, not drop
    * all" resolution step a curation pipeline runs after
    * [[connectedComponents]]: from every duplicate cluster, keep the
    * member with the highest `scoreCol` (e.g. a quality score), ties
    * broken to the LOWEST id so the choice is deterministic and
    * replayable by an oracle. Standard practice after near-dup
    * clustering (Lee et al. 2022 keep-one-per-cluster); the reference
    * has no analog — its dedup is row-identity truncate-and-reload
    * (sqltask/base/table.py), not content clustering.
    *
    * Returns one row per cluster: `(cluster, kept_id, n_members,
    * best_score)`. Anti-join the input against `kept_id` to obtain the
    * drop set.
    *
    * Plan shape: one shuffle on `cluster` with a map-side partial
    * `max_by` over a (score, -id) struct — no window sort, no second
    * pass over the corpus. At 100 TB this is a plain aggregation whose
    * output cardinality is the cluster count; the struct ordering keeps
    * the tie-break inside the same partial aggregate instead of a
    * row_number window (which would sort every partition).
    *
    * @param clusters (id, cluster) from [[connectedComponents]]
    * @param scores   per-id score frame; ids absent from `scores` drop
    *                 out of the selection (inner join), so score every
    *                 node you want eligible
    */
  def keepBestPerCluster(clusters: DataFrame, scores: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    val s = scores.select(col(idCol).cast("long").as("id"),
      col(scoreCol).cast("double").as("_score"))
    clusters.join(s, Seq("id"))
      .groupBy(col("cluster"))
      .agg(
        max_by(col("id"), struct(col("_score"), -col("id")))
          .as("kept_id"),
        count(lit(1)).as("n_members"),
        max(col("_score")).as("best_score"))
  }

  /** Skew-armored [[keepBestPerCluster]]: identical result (same
    * columns, same deterministic argmax — spec-pinned equal), computed
    * as a SALTED two-level aggregation for corpora where one
    * mega-cluster (a boilerplate explosion: millions of copies of one
    * page) concentrates a single groupBy key. The plain variant's
    * map-side partial max_by already bounds memory and per-reducer
    * rows at ≤ #map-partitions per cluster; what salting additionally
    * caps is the single-reducer JOIN fan-in when `clusters` × `scores`
    * lands skewed before the aggregation. Level 1 keeps the best
    * member per (cluster, id % salts) — spreading the hot key over
    * `salts` reducers — level 2 reduces the salts-sized winner set.
    *
    * Correctness of the two-level argmax: each salt's winner is the
    * (score, −id)-max of its slice; the level-2 (best_score, −kept_id)
    * max over slice winners equals the global max because max is
    * associative and the −id tie-break composes (the lowest tied id
    * overall is the lowest among per-slice lowest tied ids).
    * `n_members` sums exactly (salts partition each cluster).
    *
    * Use when cluster-size skew is measured (e.g. [[Skew.keyStats]]),
    * not by default: two exchanges instead of one is a real cost on
    * well-distributed keys.
    */
  def keepBestPerClusterSalted(clusters: DataFrame, scores: DataFrame,
      idCol: String, scoreCol: String, salts: Int = 16): DataFrame = {
    require(salts > 0, "salts must be positive")
    val s = scores.select(col(idCol).cast("long").as("id"),
      col(scoreCol).cast("double").as("_score"))
    val l1 = clusters.join(s, Seq("id"))
      .withColumn("_salt", pmod(col("id"), lit(salts)))
      .groupBy(col("cluster"), col("_salt"))
      .agg(
        max_by(col("id"), struct(col("_score"), -col("id")))
          .as("kept_id"),
        count(lit(1)).as("n_members"),
        max(col("_score")).as("best_score"))
    l1.groupBy(col("cluster"))
      .agg(
        max_by(col("kept_id"),
          struct(col("best_score"), -col("kept_id"))).as("kept_id"),
        sum(col("n_members")).as("n_members"),
        max(col("best_score")).as("best_score"))
  }

  /** Fuzzy self-join at edit distance ≤ 1 via FastSS deletion
    * neighborhoods (Bocek, Hunt & Stiller 2007, "Fast Similarity
    * Search in Large Dictionaries") — typo-level entity matching
    * (near-identical names/ids/urls) without an all-pairs scan.
    *
    * Blocking is EXACT, not approximate: if `lev(a, b) ≤ 1` the two
    * strings share a member of each other's 1-deletion neighborhood
    * (substitution → delete the differing position from both;
    * insertion/deletion → the shorter string itself), so the
    * equi-join on variants misses nothing. It also ADMITS pairs up to
    * distance 2 (a→v→b composes two deletions), which the final
    * `levenshtein ≤ 1` verification rejects — candidates are a
    * superset, the output is exact.
    *
    * Scale shape: the explode factor is `len+1` variants per string
    * (linear, vs C(len,k) for general k — this operator is fixed at
    * k = 1, the typo case; larger radii belong to
    * [[jaccardPairsPrefix]]-style token methods). Candidates come
    * from an inverted-index equi-join on the variant — the same
    * no-cross-product rule as every dedup path here. The skew risk is
    * a hot variant (many near-identical strings sharing a deletion,
    * d² candidate work — the stop-shingle problem): `maxVariantDf`
    * drops variants above a document-frequency cap, trading recall
    * ONLY on strings with > cap 1-distance twins (document the cap
    * when used; the unset default is exact).
    *
    * Output: `(id_a, id_b, dist)` with id_a < id_b, one row per
    * distinct pair, dist ∈ {0, 1} (0 = identical strings).
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      maxVariantDf: Option[Int] = None): DataFrame = {
    val s = df.select(col(idCol).cast("long").as("id"),
        col(strCol).cast("string").as("nm"))
      .filter(col("nm").isNotNull)
    val nmLen = length(col("nm"))
    // sequence(1, 0) would generate a DESCENDING [1, 0] — guard empties
    val dels = when(nmLen >= 1,
      transform(sequence(lit(1), nmLen),
        i => concat(col("nm").substr(lit(1), i - 1),
          col("nm").substr(i + 1, nmLen))))
      .otherwise(array().cast("array<string>"))
    // explode keeps the variant derivation inside the Generate (the
    // single-task guard); per-row distinct ≡ per-(id, variant) distinct
    val vars0 = graft.Tables.rebalance(s)
      .select(col("id"), col("nm"),
        explode(array_distinct(array_union(array(col("nm")), dels)))
          .as("v"))
    val vars = maxVariantDf match {
      case Some(cap) =>
        val hot = vars0.groupBy(col("v")).agg(count(lit(1)).as("_df"))
          .filter(col("_df") > cap).select(col("v"))
        vars0.join(broadcast(hot), Seq("v"), "left_anti")
      case None => vars0
    }
    val a = vars.select(col("id").as("ida"), col("nm").as("nma"),
      col("v"))
    val b = vars.select(col("id").as("idb"), col("nm").as("nmb"),
      col("v"))
    a.join(b, Seq("v"))
      .filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb"), col("nma"), col("nmb")).distinct()
      .withColumn("dist", levenshtein(col("nma"), col("nmb")))
      .filter(col("dist") <= 1)
      .select(col("ida").as("id_a"), col("idb").as("id_b"),
        col("dist").cast("bigint").as("dist"))
  }

  /** Golden-record cluster cards — the survivorship step after
    * clustering: for every multi-member cluster, ONE canonical record
    * plus merged metadata. Canonical pick is the keep-best rule
    * (longest text, then lowest id — deterministic, the q99
    * convention); merged fields here are the curation-relevant ones
    * (member count, total chars, sorted distinct langs, majority lang
    * with lexicographic tie-break). MDM survivorship with other
    * field-level rules (most-recent, most-trusted-source) is the same
    * shape: per-cluster aggregations + one rank-1 window over the
    * CLUSTER-member frame (cluster-size-bounded partitions).
    *
    * Input: `clusters` = (id, cluster) as produced by
    * [[connectedComponents]]; `docs` supplies (idCol, langCol,
    * charsCol). Output per cluster (n_docs ≥ 2):
    * `(cluster, n_docs, canonical_id, total_chars, langs,
    * major_lang)`.
    */
  def clusterCards(clusters: DataFrame, docs: DataFrame,
      idCol: String, langCol: String, charsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val j = clusters.join(
      docs.select(col(idCol).as("id"), col(langCol).as("lang"),
        col(charsCol).as("chars")), Seq("id"))
    val agg = j.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("chars")).as("total_chars"),
        array_join(array_sort(collect_set(col("lang"))), ",")
          .as("langs"))
      .filter(col("n_docs") >= 2)
    val wCanon = Window.partitionBy(col("cluster"))
      .orderBy(col("chars").desc, col("id"))
    val canon = j.withColumn("_r", row_number().over(wCanon))
      .filter(col("_r") === 1)
      .select(col("cluster"), col("id").as("canonical_id"))
    val wLang = Window.partitionBy(col("cluster"))
      .orderBy(col("cnt").desc, col("lang"))
    val major = j.groupBy(col("cluster"), col("lang"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("_r", row_number().over(wLang))
      .filter(col("_r") === 1)
      .select(col("cluster"), col("lang").as("major_lang"))
    agg.join(canon, Seq("cluster")).join(major, Seq("cluster"))
      .select(col("cluster"), col("n_docs"), col("canonical_id"),
        col("total_chars"), col("langs"), col("major_lang"))
      .orderBy(col("cluster"))
  }

  /** Line-level exact dedup (the CCNet/C4 preprocessing step): across
    * the whole corpus, each distinct line ≥ `minChars` chars survives
    * only at its FIRST occurrence — (doc, position) lexicographic —
    * and every later copy is dropped; shorter lines (blank separators,
    * bullets) always survive. Returns one row per doc with the
    * reassembled text and removal stats:
    * `(id, n_lines, n_removed, text_dedup)`.
    *
    * Shape: one explode to (doc, pos, line), one aggregation per
    * DISTINCT eligible line (min-of-(doc,pos) struct — no corpus-wide
    * window), one shuffle join back on the line, one per-doc
    * aggregation to reassemble (collect + array_sort on the unique
    * pos — deterministic regardless of collect order). Everything
    * shuffles on line content or doc id; nothing is corpus-wide on a
    * single partition. At 100 TB the line-keyed exchanges carry the
    * corpus once each — the same linear cost as the exact-doc dedup —
    * and the keep-first rule needs no global ordering beyond the
    * per-line argmin.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
      minChars: Int = 1): DataFrame = {
    val lines = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), lit("\n"))).as(Seq("pos", "line")))
      .select(col("id"), col("pos").cast("long").as("pos"), col("line"))
    val firsts = lines.where(length(col("line")) >= minChars)
      .groupBy(col("line"))
      .agg(min(struct(col("id").as("fid"), col("pos").as("fpos")))
        .as("f"))
    val flagged = lines.join(firsts, Seq("line"), "left")
      .withColumn("keep", col("f").isNull ||
        (col("id") === col("f.fid") && col("pos") === col("f.fpos")))
    flagged.groupBy(col("id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_removed"),
        concat_ws("\n", transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("pos"), col("line"))))),
          x => x.getField("line"))).as("text_dedup"))
      .withColumnRenamed("id", idCol)
  }

  /** Deterministic full-row keep-first dedup: for each key group the
    * surviving row is the MINIMUM of struct(orderCols ++ remaining
    * payload columns) — a total order over the group, so the result is
    * partitioning-invariant (unlike `dropDuplicates`, which keeps an
    * arbitrary row when payloads differ). This is the batch twin of
    * [[graft.streaming.EventStreams.dedupWithinWatermark]]: on an
    * at-least-once transport whose re-deliveries are identical rows the
    * two agree exactly; when re-deliveries MUTATE (late enrichment,
    * clock skew) this twin picks the orderCols-first version, a
    * deterministic policy the streaming arm's arrival-order cannot
    * promise.
    *
    * One aggregation with partial (map-side) combine — no window, no
    * corpus-wide sort; the min-struct carries the payload through the
    * single key-shuffle.
    */
  def keepFirstPerKey(df: DataFrame, keys: Seq[String],
      orderCols: Seq[String]): DataFrame = {
    val payload = df.columns.filterNot(keys.contains).toSeq
    val ordFields = (orderCols ++ payload.filterNot(orderCols.contains))
    val packed = struct(ordFields.map(col): _*)
    df.groupBy(keys.map(col): _*).agg(min(packed).as("_f"))
      .select(keys.map(col) ++
        payload.map(c => col(s"_f.$c").as(c)): _*)
  }

  /** Cross-document duplicated-substring spans (the exact-substring
    * arm of training-data dedup, cf. Lee et al. 2021 "Deduplicating
    * Training Data Makes Language Models Better"): fixed-length
    * character windows sampled every `stride` positions; a window is
    * DUPLICATED if its exact text occurs in ≥ `minDocs` distinct
    * docs; per doc, duplicated windows merge into contiguous spans
    * (gaps-and-islands on character offsets) and the output reports
    * `(id, n_windows, n_dup_windows, n_dup_spans, dup_chars,
    * dup_ppm)` for every doc (zero rows for docs shorter than L).
    *
    * Scale: the window frame is rows ≈ chars/stride — the stride is
    * the documented cost knob (Lee et al. use suffix arrays on one
    * machine; the distributed shape is this stride-sampled hash join).
    * Window-text grouping and the join back are the only corpus-sized
    * exchanges; the island windows are per-doc (doc-length bounded,
    * total order on the unique sampled offsets).
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      winLen: Int = 40, stride: Int = 7, minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = df.select(col(idCol).as("id"), col(textCol).as("t"),
      length(col(textCol)).cast("long").as("len"))
    // three consumers (dup-window table, span join, per-doc totals):
    // persist the window frame (spillable) so the explode+substring
    // corpus pass runs once — the shingleSet sharing contract
    val wins = docs.where(col("len") >= winLen)
      .select(col("id"),
        explode(sequence(lit(1), (col("len") - winLen + 1).cast("int"),
          lit(stride))).as("p"))
      .join(docs.select(col("id"), col("t")), Seq("id"))
      .select(col("id"), col("p").cast("long").as("p"),
        expr(s"substring(t, p, $winLen)").as("win"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dup = wins.select(col("win"), col("id")).distinct()
      .groupBy(col("win")).agg(count(lit(1)).as("nd"))
      .where(col("nd") >= minDocs)
      .select(col("win"))
    val spans = wins.join(dup, Seq("win"))
      .select(col("id"), col("p"), (col("p") + winLen - 1).as("pe"))
    val ord = Window.partitionBy(col("id")).orderBy(col("p"))
    val flagged = spans.withColumn("pm",
        max(col("pe")).over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("isn", when(col("pm").isNull ||
        col("p") > col("pm") + 1L, 1L).otherwise(0L))
      .withColumn("island",
        sum(col("isn")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
    val islands = flagged.groupBy(col("id"), col("island"))
      .agg(count(lit(1)).as("n_w"),
        min(col("p")).as("i_s"), max(col("pe")).as("i_e"))
    val perDoc = islands.groupBy(col("id"))
      .agg(sum(col("n_w")).as("n_dup_windows"),
        count(lit(1)).as("n_dup_spans"),
        sum(col("i_e") - col("i_s") + 1L).as("dup_chars"))
    val totals = wins.groupBy(col("id"))
      .agg(count(lit(1)).as("n_windows"))
    docs.where(col("len") >= winLen).select(col("id"), col("len"))
      .join(totals, Seq("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        expr("(1000000 * coalesce(dup_chars, 0)) div len").as("dup_ppm"))
  }
}
