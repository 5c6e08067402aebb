package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Dedup.jaccardPairsPrefix]] (PPJoin-style pruning) must be
  * indistinguishable from the unpruned inverted-index join — the filters
  * are candidate pruning, not semantics.
  */
class PPJoinSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
      (3L, "completely different words entirely here now"),
      (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (5L, "one shared trigram the quick brown then diverging text wholly"),
      (6L, "short doc only")
    ).toDF("doc_id", "text")
  }

  private def collectPairs(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e9) / 1e9)).toSeq

  test("prefix-pruned join ≡ unpruned join on the hand corpus, all thresholds") {
    for (t <- Seq(0.3, 0.5, 0.6, 0.75, 1.0)) {
      val naive = collectPairs(
        Dedup.jaccardPairs(docs, "doc_id", "text", 3, t))
      val pruned = collectPairs(
        Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 3, t))
      assert(pruned == naive, s"threshold $t")
    }
  }

  test("prefix-pruned join ≡ unpruned join on real documents at sf0.001") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val naive = collectPairs(
      Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.5))
    val pruned = collectPairs(
      Dedup.jaccardPairsPrefix(d, "doc_id", "text", 3, 0.5))
    assert(pruned.nonEmpty && pruned == naive)
  }

  test("threshold 1.0 still finds exact duplicates (prefix collapses to 1)") {
    val out = collectPairs(Dedup.jaccardPairsPrefix(
      docs, "doc_id", "text", 3, 1.0))
    assert(out.map(p => (p._1, p._2)) == Seq((1L, 4L)))
    assert(out.head._4 == 1.0)
  }

  test("agrees with brute-force Jaccard over random corpora") {
    import spark.implicits._
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val rnd = new scala.util.Random(42)
    val corpus = (1L to 40L).map { id =>
      val len = 3 + rnd.nextInt(12)
      (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    def shingles(s: String): Set[String] = {
      val ws = s.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (ws.length < 3) Set.empty
      else ws.sliding(3).map(_.mkString(" ")).toSet
    }
    val t = 0.4
    val expected = (for {
      (ia, ta) <- corpus; (ib, tb) <- corpus if ia < ib
      sa = shingles(ta); sb = shingles(tb)
      if sa.nonEmpty && sb.nonEmpty
      inter = (sa & sb).size
      j = inter.toDouble / (sa.size + sb.size - inter)
      if j >= t
    } yield (ia, ib, inter.toLong)).sorted
    val got = collectPairs(Dedup.jaccardPairsPrefix(
        corpus.toDF("doc_id", "text"), "doc_id", "text", 3, t))
      .map(p => (p._1, p._2, p._3)).sorted
    assert(got == expected)
  }
}
