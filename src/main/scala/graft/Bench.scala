package graft

/** Benchmark main (driver contract): runs every catalog query on
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line with per-query wall
  * times. A warm-up pass ([[EntryPoint.warmUp]]: one scan per table,
  * every selected query on a smaller dataset, the flagship query)
  * absorbs JVM/codegen/parquet-footer startup so the timed numbers
  * measure the queries, not session bring-up.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = EntryPoint.cpus
    val spark = EntryPoint.session(cpus)
    // Optional subset for the dev loop: SPARK_GRAFT_ONLY=q104,q66 times
    // only the selected queries ([[EntryPoint.select]]). The full
    // catalog runs when it is unset.
    val picked = EntryPoint.onlyQueries
    EntryPoint.warmUp(spark, sfDir, picked)

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Evaluation action: write to the `noop` sink, NOT count(). count()
    // lets the optimizer prune every column of the final projection, so
    // map-side queries (text metrics, quantization, gates) would time an
    // empty scan instead of their actual work — q71 exposed this: its
    // tiny aggregation forced the projection and ran 50× its "map-side
    // sibling" q67, whose count()-timed number was measuring nothing.
    // The noop sink consumes every row with all output columns
    // materialized and writes nowhere — the standard Spark benchmarking
    // action. (Numbers before this change under-measured projection-only
    // queries; PLANS.md carries the r5 before/after.)
    def evaluate(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // A failing query reports the sentinel -1 (not its time-to-exception)
    // and is excluded from total/steady_total, so failures can't inflate
    // or deflate the headline; the errors map carries the message.
    def timeOnce(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { evaluate(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
      catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200)
          -1.0
      } finally {
        // queries that persist intermediates (q54 tf, q55 shingles)
        // must not leave them in the unified memory pool for later
        // queries, and a steady re-run must re-compute rather than hit
        // the cold run's cache (identical analyzed plan ⇒ cache hit).
        // Outside the timer: per-query numbers measure the query only.
        // (A forced System.gc() here was tried and measured WORSE —
        // full STW collections between queries cost more than letting
        // the collector pace itself.)
        try spark.catalog.clearCache() catch { case _: Throwable => () }
      }
    }
    val all = SparkEntry.queries
    val sorted = picked.sorted.map(n => n -> all(n))
    // Two timed passes per query. "cold" includes planning + codegen
    // (single-shot execution); "steady" is the per-query cost a
    // long-lived session pays. The HEADLINE `value` is min_total — the
    // stall-robust Σ per-query min(cold, steady): the r6 artifact
    // recorded a 4×-contaminated cold pass (multi-query host stalls on
    // a degraded box) as its headline while its own min_total sat at
    // 1/4 of it, so a single recorded run could misrepresent the
    // engine. Cold and steady totals remain as separate fields.
    val cold = sorted.map { case (n, f) => n -> timeOnce(n, f) }
    val steady = sorted.map { case (n, f) => n -> timeOnce(n, f) }
    def js(rs: Seq[(String, Double)]) =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    val errJson =
      if (errors.isEmpty) ""
      else errors.map { case (k, v) => s"\"$k\":\"$v\"" }
        .mkString(""","errors":{""", ",", "}")
    val total = cold.map(_._2).filter(_ >= 0).sum
    val steadyTotal = steady.map(_._2).filter(_ >= 0).sum
    // stall-robust companion: Σ per-query min(cold, steady). On a
    // shared box a single scheduler stall lands in ONE pass of ONE
    // query (measured: 28-126 s one-offs whose sibling pass ran
    // normally — PLANS.md round 6); the per-query min suppresses it
    // without redefining the cold headline.
    val minTotal = cold.zip(steady).map { case ((_, c), (_, s)) =>
      (c, s) match {
        case (c, s) if c >= 0 && s >= 0 => math.min(c, s)
        case (c, _) if c >= 0 => c
        case (_, s) if s >= 0 => s
        case _ => 0.0
      }
    }.sum
    // 1-minute system load average at end of run: contention evidence.
    // The r3 bench artifact showed uniform 2.5-4x inflation across
    // trivial queries that an idle re-run of the same commit didn't
    // reproduce (PLANS.md round 4) — carrying the load factor in the
    // artifact makes that diagnosis a read, not a re-measurement.
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // Verbose artifact first (full precision, cold + steady maps) for
    // humans reading the log...
    println(s"""{"metric":"total","value":$minTotal,"unit":"sec","queries":${js(cold)},"cold_total":$total,"steady_total":$steadyTotal,"steady":${js(steady)},"min_total":$minTotal$errJson,"load_avg_end":$loadAvg,"cpus":$cpus,"sf":"$sfDir"}""")
    // ...then the driver-facing line LAST and COMPACT. The driver
    // records only a ~2000-char tail of stdout: the verbose line above
    // (~4.5 KB) always had its opening brace truncated away, so every
    // BENCH_r{N}.json carried parsed:null. 3-decimal seconds (ms
    // precision — below run-to-run noise) keeps this line well under
    // the tail window. The compact `queries` map carries the PER-QUERY
    // MIN of the two passes (since r8; r7 recorded cold): the r7
    // artifact caught a host stall in q1's cold pass (8.7 s vs a <1 s
    // floor) that was unfalsifiable from the recorded artifact alone —
    // per-query floors are the numbers a regression hunt needs. Cold
    // and steady totals remain as their own fields; full-precision
    // cold/steady per-query maps stay in the verbose line.
    // NOTE on `value` semantics across rounds: r1-r6 `value` = cold
    // total; r7+ `value` = min_total. Round-over-round comparisons of
    // `value` across that boundary conflate the metric change with a
    // real speedup — compare min_total to min_total (derivable for r6
    // from its verbose cold+steady maps).
    def f3(v: Double): String = {
      val s = "%.3f".format(v)
      val t = s.reverse.dropWhile(_ == '0').reverse
      if (t.endsWith(".")) t.dropRight(1) else t
    }
    // Compact keys: the unique qNN prefix. Full names grew the line to
    // 2,118 chars at 84 queries — past the driver's ~2,000-char stdout
    // tail, the exact truncation failure the compact line exists to
    // avoid; prefixes keep it ~1.2 KB with headroom for more queries
    // (full names remain in the verbose line above).
    // collision guard: duplicate JSON keys would silently drop a
    // query's timing (json.loads keeps the last), so any prefix clash
    // falls back to full names for the colliding entries
    val prefixCounts = cold.map(_._1.takeWhile(_ != '_'))
      .groupBy(identity).view.mapValues(_.size).toMap
    def short(k: String): String = {
      val p = k.takeWhile(_ != '_')
      if (p.nonEmpty && prefixCounts.getOrElse(p, 0) == 1) p else k
    }
    def js3(rs: Seq[(String, Double)]) =
      rs.map { case (k, v) => s"\"" + short(k) + "\":" + f3(v) }
        .mkString("{", ",", "}")
    val perQueryMin = cold.zip(steady).map { case ((n, c), (_, s)) =>
      n -> ((c, s) match {
        case (c, s) if c >= 0 && s >= 0 => math.min(c, s)
        case (c, _) if c >= 0 => c
        case _ => s
      })
    }
    val compact = s"""{"metric":"total","value":${f3(minTotal)},"unit":"sec","queries":${js3(perQueryMin)},"cold_total":${f3(total)},"steady_total":${f3(steadyTotal)},"min_total":${f3(minTotal)}$errJson,"load_avg_end":${f3(loadAvg)},"cpus":$cpus,"sf":"$sfDir"}"""
    println(compact)
    // un-truncatable artifact: the r9 driver tail capture clipped even
    // the compact line once the catalog passed ~160 queries
    // (BENCH_r09 parsed:null) — persist the same line to a standalone
    // file so the machine-readable map never depends on a tail buffer
    try {
      val out = java.nio.file.Paths.get("target", "bench_last.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, compact + "\n")
      System.err.println(s"[bench] compact line also at ${out.toAbsolutePath}")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bench_last.json write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
