package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for large-scale corpus pipelines
  * (north-star extensions, BASELINE.json): tokenization, shingling,
  * cross-engine-stable hashing, language-ID heuristics, quality scoring,
  * fingerprinting.
  *
  * Everything is a Column expression (codegen'd, no UDFs) and every
  * function is chosen to be bit-identically reproducible in ANSI SQL so
  * the DuckDB oracle can replay it: hashing goes through md5 (identical
  * across engines) instead of Spark's murmur3 `hash()`.
  */
object TextOps {

  /** Lowercased whitespace tokens, empty strings dropped (split on a
    * leading/trailing space yields '' in both Spark and DuckDB).
    */
  def words(text: Column): Column =
    filter(split(lower(text), "\\s+"), w => length(w) > 0)

  /** One row per token of `textCol` (multiplicity preserved) as column
    * `word`, plus any `keep` columns — the shared tokenize-explode path
    * of the corpus queries (word frequency, TF-IDF, heavy hitters).
    *
    * The input is rebalanced first so tokenization spreads across the
    * cluster even when the scan is a single small file, and the
    * [[graft.functions.WordExplode]] Generator plans as a `Generate`
    * node that ColumnPruning cannot push back through the repartition —
    * the same single-task guard [[Dedup.shingleSet]] uses (a plain
    * `explode(words(text))` projection would be pushed through and run
    * in the scan stage).
    */
  def wordRows(df: DataFrame, textCol: String,
      keep: Seq[String] = Nil): DataFrame = {
    val in = graft.Tables.rebalance(
      df.select((keep :+ textCol).map(col): _*))
    in.select(keep.map(col) :+
      graft.functions.WordExplode.expand(col(textCol)).as("word"): _*)
  }

  /** n-word shingles as space-joined strings; fewer than n words → empty. */
  def shingles(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      transform(sequence(lit(1), size(ws) - (n - 1)),
        i => concat_ws(" ", slice(ws, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Deterministic 60-bit hash: first 15 hex chars of md5, as BIGINT.
    * Oracle twin: CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT).
    * (60 bits so XOR-derived hash families stay positive in BIGINT.)
    *
    * Evaluated by the native [[graft.functions.Hash60Kernel]] (direct
    * digest-bytes → BIGINT on a reused MessageDigest) instead of the
    * declarative `conv(substring(md5(c),1,15),16,10)` chain, which
    * paid a fresh getInstance + hex encode + substring + radix parse
    * per row — bit-identical values (Hash60KernelSpec), optimization
    * round 19.
    */
  def hash60(c: Column): Column =
    graft.functions.Hash60Kernel.hash60Col(c)

  /** JVM-side twin of [[hash60]] for deriving hash-family constants that
    * get inlined as literals into both the Spark plan and the oracle SQL.
    *
    * Also the per-row kernel of [[graft.functions.BloomKernel.probe]],
    * so it must be cheap: the first 15 hex chars of an md5 are exactly
    * the top 60 bits of the digest, i.e. (first 8 bytes as a big-endian
    * long) >>> 4 — computed directly from the digest bytes on a
    * thread-local reused MessageDigest (the [[graft.functions
    * .WinnowKernelImpl]] / ClassifierKernel discipline) instead of
    * per-call `getInstance` + per-byte "%02x".format + parseLong, which
    * profiled as the dominant cost of every Bloom probe (optimization
    * round 19). Value is bit-identical to the hex/parseLong form.
    */
  private val md5Tl = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  def hash60Const(s: String): Long = {
    val md = md5Tl.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var b = 0
    while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
    v >>> 4
  }

  /** Count of tokens (with multiplicity) that appear in a marker set —
    * the building block of the n-gram/stopword language-ID heuristic.
    */
  def markerHits(ws: Column, markers: Seq[String]): Column =
    size(filter(ws, w => w.isInCollection(markers))).cast("bigint")

  /** Composite heuristic quality score over a token array — the q31
    * formula as one reusable column, so downstream selection steps
    * (e.g. [[Dedup.keepBestPerCluster]]) score with exactly the same
    * arithmetic the audit query reports:
    * `0.5·stopword_ratio + 0.5 / (1 + |avg_word_len − 5|)`.
    *
    * Both terms are single double divisions over exact integer counts,
    * so the value is bit-identical across engines (oracle-comparable
    * without rounding). Empty token arrays yield NULL (not a 0/0 NaN,
    * which would poison any ordering it reaches) — still filter to
    * `size(ws) >= 1` when every row must carry a score.
    */
  def qualityScore(ws: Column, stopwords: Seq[String]): Column = {
    val avgWordLen = aggregate(transform(ws, w => length(w)), lit(0),
      (acc, x) => acc + x).cast("double") / size(ws)
    when(size(ws) > 0,
      (markerHits(ws, stopwords).cast("double") / size(ws)) * 0.5 +
        (lit(1.0) / (lit(1.0) + abs(avgWordLen - 5.0))) * 0.5)
  }

  /** Deterministic whole-document fingerprint: md5 of the
    * whitespace-normalized lowercase text, plus a 60-bit bucket of it.
    */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", words(text)))

  /** Reproducible split assignment: hash the key into [0, 100) and cut
    * by cumulative percentage. Unlike seeded Bernoulli sampling this is
    * a pure function of the key — stable across runs, engines, and
    * cluster sizes, which is what training-data lineage requires. Keys
    * should be *cluster* ids when near-duplicate leakage between splits
    * must be prevented.
    *
    * @param cuts (label, percent) in order; percents must sum to 100
    */
  def hashSplit(key: Column, cuts: Seq[(String, Int)]): Column = {
    require(cuts.map(_._2).sum == 100, "split percents must sum to 100")
    val bucket = pmod(hash60(key.cast("string")), lit(100L))
    val bounds = cuts.scanLeft(0) { case (acc, (_, p)) => acc + p }.tail
    cuts.zip(bounds).reverse.foldLeft(lit(null).cast("string")) {
      case (acc, ((label, _), hi)) =>
        when(bucket < hi, lit(label)).otherwise(acc)
    }
  }

  /** Flesch reading-ease per document, in exact integer micro-points
    * (score × 10⁶): `206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words)` with both ratios as truncating integer
    * divisions of micro-scaled numerators — no float exists anywhere,
    * so Spark and any replaying engine agree bit-for-bit.
    *
    * The counting rules are the standard cheap heuristics, stated so
    * they are replayable in plain SQL on any engine:
    *  - words = whitespace tokens ([[words]]);
    *  - sentences = count of `.`, `!`, `?` characters, floored at 1;
    *  - syllables = maximal vowel runs (`[aeiouy]+` in the lowercased
    *    text), the classic one-regex approximation, floored at 1.
    * Vowel runs are counted WITHOUT a per-character explode: collapse
    * each run to one char and difference the lengths (two linear
    * regexp passes per doc).
    *
    * Output: `(id, n_words, n_sentences, n_syllables, flesch_micro)`
    * — one narrow projection, no shuffle at all until the caller
    * aggregates.
    */
  def fleschReadability(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val lowered = lower(col(textCol))
    // runs = len(collapsed) − len(vowels-removed): each maximal vowel
    // run contributes exactly 1 to the first and 0 to the second
    val collapsed = length(regexp_replace(lowered, "[aeiouy]+", "V"))
    val noVowels = length(regexp_replace(lowered, "[aeiouy]", ""))
    df.select(col(idCol),
        size(words(col(textCol))).cast("long").as("n_words"),
        greatest(length(regexp_replace(col(textCol), "[^.!?]", ""))
          .cast("long"), lit(1L)).as("n_sentences"),
        greatest((collapsed - noVowels).cast("long"), lit(1L))
          .as("n_syllables"))
      .withColumn("flesch_micro",
        lit(206835000L) -
          expr("(1015000 * n_words) div greatest(n_sentences, 1)") -
          expr("(84600000 * n_syllables) div greatest(n_words, 1)"))
  }

  /** Encoding-health audit per document — the cheap map-side screen a
    * web-scale ingest runs before any tokenizer sees the text (broken
    * decode chains poison BPE merges and n-gram stats silently):
    *
    *  - `n_repl`  — U+FFFD replacement characters (a lossy decode
    *    already happened upstream);
    *  - `n_ctrl`  — C0 control characters other than tab/LF/CR
    *    (binary junk or transfer-encoding damage);
    *  - `n_moji`  — U+00C2/U+00C3 occurrences, the tell-tale lead
    *    bytes of UTF-8 text re-decoded as Latin-1 ("é" → "Ã©",
    *    NBSP → "Â "): vanishingly rare in clean western text, dense
    *    in mojibake.
    *
    * All three are length-differencing counts (`len(t) − len(strip)`),
    * two `replace`s and one character-class regex per doc — no
    * explode, no UDF, and every primitive replays bit-identically in
    * ANSI SQL. `is_clean` = all three zero. Scale: pure map-side
    * projection; at 100 TB this runs inside the ingest scan's
    * whole-stage codegen with zero exchanges.
    */
  def encodingQaFlags(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val t = col(textCol)
    val nRepl = (length(t) -
      length(regexp_replace(t, "\uFFFD", ""))).cast("long")
    val nCtrl = (length(t) - length(regexp_replace(t,
      "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", ""))).cast("long")
    val nMoji = (length(t) -
      length(regexp_replace(t, "[\\u00C2\\u00C3]", ""))).cast("long")
    df.select(col(idCol), nRepl.as("n_repl"), nCtrl.as("n_ctrl"),
        nMoji.as("n_moji"))
      .withColumn("is_clean",
        col("n_repl") === 0 && col("n_ctrl") === 0 &&
          col("n_moji") === 0)
  }
}
