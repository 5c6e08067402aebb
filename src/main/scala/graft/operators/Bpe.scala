package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING — the canonical LM-pipeline
  * operation the catalog's token-counting queries (q33) only estimate.
  * Sennrich, Haddow & Birch 2016 ("Neural Machine Translation of Rare
  * Words with Subword Units"), the GPT-2/SentencePiece training core.
  *
  * Scale contract — the reason BPE training is cluster-friendly: the
  * corpus is scanned ONCE to build the word-frequency table
  * ([[wordFreq]]); every learning iteration thereafter operates on the
  * long-format symbol table of the DISTINCT vocabulary (rows ≈ Σ
  * |word| over distinct words), which is vocabulary-bounded — at
  * 100 TB of text the vocab is ~10⁷ words, so iterations cost the
  * same whether the corpus is 1 GB or 100 TB. Serving is the same
  * shape: encode the VOCAB once, then per-doc token counts are a
  * broadcast join of corpus word rows against the vocab-sized encode
  * table ([[docTokenCounts]]) — no per-document merge replay.
  *
  * Pinned semantics (the oracle replays them exactly, the q91/q101
  * Lloyd iteration-replay pattern):
  *   - pair statistics count EVERY adjacent symbol position, including
  *     overlapping runs ("aaaa" contributes 3 to (a,a)) — classic
  *     get_stats;
  *   - the merge chosen per iteration is argmax(count) with ties
  *     broken (left ASC, right ASC) — fully deterministic;
  *   - applying a merge is LEFTMOST-FIRST NON-OVERLAPPING within each
  *     word: maximal runs of consecutive match positions keep the
  *     1st, 3rd, 5th… match ("aaaa" + (a,a) → ["aa","aa"]), expressed
  *     as a gaps-and-islands window computation (no sequential scan);
  *   - all counts are exact BIGINTs — no floating point anywhere.
  *
  * The per-iteration argmax is a 1-row collect (model-sized, the Lloyd
  * pattern); each iteration's symbol table is `localCheckpoint`'d so
  * lineage stays flat across iterations.
  */
object Bpe {

  /** One corpus pass: distinct-word frequency table (word, freq). */
  def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    TextOps.wordRows(docs, textCol)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Long-format symbol table (word, freq, pos, sym); initial symbols
    * are single characters. Oracle twin: unnest(generate_series) +
    * substr.
    */
  def initialSymbols(wf: DataFrame): DataFrame =
    wf.select(col("word"), col("freq"),
        explode(sequence(lit(1), length(col("word")))).as("pos"))
      .select(col("word"), col("freq"), col("pos"),
        col("word").substr(col("pos"), lit(1)).as("sym"))

  private val byWord = Window.partitionBy("word").orderBy("pos")

  /** Adjacent-pair counts weighted by word frequency (overlapping
    * positions all count). One window (per-word lead) + one shuffle
    * (the pair aggregation, map-side combined to the pair vocabulary).
    */
  def pairCounts(syms: DataFrame): DataFrame =
    syms.withColumn("nxt", lead(col("sym"), 1).over(byWord))
      .where(col("nxt").isNotNull)
      .groupBy(col("sym").as("lhs"), col("nxt").as("rhs"))
      .agg(sum("freq").as("cnt"))

  /** Apply one merge (a,b) → a+b, leftmost-first non-overlapping:
    * islands of consecutive match positions keep odd-numbered matches;
    * the row following a kept match is consumed. Window-only — no
    * per-word sequential scan.
    */
  def mergeStep(syms: DataFrame, a: String, b: String): DataFrame = {
    val s1 = syms
      .withColumn("idx", row_number().over(byWord))
      .withColumn("nxt", lead(col("sym"), 1).over(byWord))
      .withColumn("m", col("sym") === lit(a) && col("nxt") === lit(b))
    val wIdx = Window.partitionBy("word").orderBy("idx")
    val wm = Window.partitionBy(col("word"), col("m")).orderBy("idx")
    val s2 = s1.withColumn("isl",
      when(col("m"), col("idx") - row_number().over(wm)))
    val wisl = Window.partitionBy(col("word"), col("isl")).orderBy("idx")
    val s3 = s2.withColumn("keep",
      col("m") && row_number().over(wisl) % 2 === 1)
    s3.withColumn("consumed",
        coalesce(lag(col("keep"), 1).over(wIdx), lit(false)))
      .where(!col("consumed"))
      .select(col("word"), col("freq"), col("idx").as("pos"),
        when(col("keep"), lit(a + b)).otherwise(col("sym")).as("sym"))
  }

  /** Learned-tokenizer artifact: the merge list and the post-merge
    * vocabulary symbol table.
    */
  final case class Learned(merges: DataFrame, finalSyms: DataFrame)

  /** Learn `k` merges over the corpus. merges = (merge_rank BIGINT,
    * lhs, rhs, pair_cnt BIGINT) in learning order.
    */
  def learnMerges(spark: SparkSession, docs: DataFrame, textCol: String,
      k: Int): Learned =
    learnMergesFrom(spark, wordFreq(docs, textCol), k)

  /** Learning from a prebuilt word-frequency table — the phase whose
    * cost is VOCABULARY-bounded, independent of corpus size
    * (PLANS.md round 9 measured the separation).
    */
  def learnMergesFrom(spark: SparkSession, wf: DataFrame,
      k: Int): Learned = {
    var syms = initialSymbols(wf).localCheckpoint()
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var i = 1
    var exhausted = false
    while (i <= k && !exhausted) {
      val best = pairCounts(syms)
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val r = best.head
        val (a, b) = (r.getString(0), r.getString(1))
        merges += ((i.toLong, a, b, r.getLong(2)))
        syms = mergeStep(syms, a, b).localCheckpoint()
        i += 1
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("merge_rank",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("lhs",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("rhs",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("pair_cnt",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val rows = merges.result().map { case (rk, a, b, c) =>
      org.apache.spark.sql.Row(rk, a, b, c) }
    Learned(
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema),
      syms)
  }

  /** Tokens-per-word of the encoded vocabulary (vocab-sized). */
  def vocabTokenCounts(finalSyms: DataFrame): DataFrame =
    finalSyms.groupBy("word").agg(count(lit(1)).as("n_tokens"))

  /** Per-document BPE token counts: corpus word rows × broadcast
    * vocab-encode table — the serving path (no merge replay per doc).
    */
  def docTokenCounts(docs: DataFrame, textCol: String, idCol: String,
      learned: Learned): DataFrame =
    TextOps.wordRows(docs, textCol, Seq(idCol))
      .join(broadcast(vocabTokenCounts(learned.finalSyms)), "word")
      .groupBy(idCol).agg(sum("n_tokens").as("bpe_tokens"))
}
