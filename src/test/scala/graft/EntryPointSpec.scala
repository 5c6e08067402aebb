package graft

/** The shared entry-point plumbing ([[EntryPoint]]): the session
  * bootstrap's settings, the query selector and the warm-up directory
  * guard. */
class EntryPointSpec extends SparkSpec {

  test("bootstrap: local[cores], one shuffle partition per core, UTC, " +
      "UI off") {
    assert(EntryPoint.settings(6).toMap == Map(
      "spark.master" -> "local[6]",
      "spark.sql.shuffle.partitions" -> "6",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
    // and the live test session was built by it
    val cores = SparkSpec.cores
    assert(spark.sparkContext.master == s"local[$cores]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == cores.toString)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  private val names =
    Seq("q1_agg", "q10_range_join", "q100_bigram_logprob", "q3_lookup")

  test("selector: an entry selects its exact name or the `<entry>_` " +
      "prefix, never a longer number") {
    assert(EntryPoint.select(names, Some("q1")) == (Seq("q1_agg"), Nil))
    assert(EntryPoint.select(names, Some("q10")) ==
      (Seq("q10_range_join"), Nil))
    // exact names select as before, in catalog order
    assert(EntryPoint.select(names, Some(" q3_lookup , q1_agg")) ==
      (Seq("q1_agg", "q3_lookup"), Nil))
    // unset or blank: everything
    assert(EntryPoint.select(names, None) == (names, Nil))
    assert(EntryPoint.select(names, Some(" , ")) == (names, Nil))
  }

  test("selector: entries matching nothing are reported, not dropped") {
    assert(EntryPoint.select(names, Some("q1,q999,q1_ag,bogus")) ==
      (Seq("q1_agg"), Seq("q999", "q1_ag", "bogus")))
    // the catalog itself: q1 is q1_agg alone (q10_…/q100_… exist)
    assert(EntryPoint.selectQueries(Some("q1")) == Seq("q1_agg"))
  }

  test("warm-up directory: the sf0.001 sibling, never the timed dir") {
    assume(sys.env.get("SPARK_GRAFT_WARM_DIR").isEmpty)
    val root = tempDir("warmdir").toFile
    val sf = new java.io.File(root, "sf0.1")
    val warm = new java.io.File(root, "sf0.001")
    sf.mkdir()
    assert(EntryPoint.warmDir(sf.getPath).isEmpty) // no sibling yet
    warm.mkdir()
    assert(EntryPoint.warmDir(sf.getPath)
      .map(new java.io.File(_).getCanonicalPath)
      .contains(warm.getCanonicalPath))
    // timing the warm-up dataset itself — with or without a trailing
    // slash — runs no warm-up pass
    assert(EntryPoint.warmDir(warm.getPath).isEmpty)
    assert(EntryPoint.warmDir(warm.getPath + "/").isEmpty)
  }
}
