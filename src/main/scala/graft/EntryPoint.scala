package graft

import org.apache.spark.sql.SparkSession

/** What every runnable entry point shares — [[Bench]], [[Verify]],
  * [[examples.RunExample]], the [[tools.StageProfile]] and
  * [[tools.PlanDump]] diagnostics, and the test suites' `SparkSpec`:
  * one session bootstrap, one catalog-query selector and one warm-up.
  * A number one of them measures is therefore taken under the same
  * session settings and warm-up as the others, by construction.
  */
object EntryPoint {

  /** Local core count: `SPARK_GRAFT_CPUS`, else every available
    * processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim)
    .filter(_.nonEmpty).map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The session settings of the bootstrap on `cores` local cores:
    * one shuffle partition per core, UTC session time zone, no UI. */
  def settings(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** The one SparkSession bootstrap: [[settings]] plus WARN logging.
    * `conf` adds settings on top (the test suites' private warehouse
    * directory). Returns the running session if one exists.
    */
  def session(cores: Int = cpus,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = (settings(cores) ++ conf)
      .foldLeft(SparkSession.builder().appName("graft")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The names a comma-separated selection `spec` picks from `names`,
    * in `names` order, plus the entries that matched nothing. An entry
    * selects the name equal to it and every name starting with
    * `<entry>_`: `q1` selects `q1_agg` but never `q10_…`/`q100_…`. An
    * absent or blank spec selects every name.
    */
  def select(names: Seq[String], spec: Option[String])
      : (Seq[String], Seq[String]) = {
    val entries = spec.toSeq.flatMap(_.split(","))
      .map(_.trim).filter(_.nonEmpty).distinct
    def hit(entry: String, name: String): Boolean =
      name == entry || name.startsWith(entry + "_")
    if (entries.isEmpty) (names, Nil)
    else (names.filter(n => entries.exists(hit(_, n))),
      entries.filterNot(e => names.exists(hit(e, _))))
  }

  /** [[select]] over the catalog's query names; every entry that
    * matches no query is reported on stderr. */
  def selectQueries(spec: Option[String]): Seq[String] = {
    val (picked, unmatched) = select(SparkEntry.queries.keys.toSeq, spec)
    unmatched.foreach(e =>
      System.err.println(s"[graft] no query matches '$e'"))
    picked
  }

  /** The catalog queries `SPARK_GRAFT_ONLY` selects (all when unset). */
  def onlyQueries: Seq[String] = selectQueries(sys.env.get("SPARK_GRAFT_ONLY"))

  /** The warm-up dataset for a run on `sfDir`: `SPARK_GRAFT_WARM_DIR`,
    * else the `sf0.001` directory beside `sfDir`. None when it is not a
    * directory or is `sfDir` itself — compared by canonical path, so a
    * trailing slash cannot make the warm-up run (and cache) the timed
    * dataset.
    */
  def warmDir(sfDir: String): Option[String] = {
    val sf = new java.io.File(sfDir)
    val dir = sys.env.get("SPARK_GRAFT_WARM_DIR")
      .getOrElse(new java.io.File(sf.getAbsoluteFile.getParentFile,
        "sf0.001").getPath)
    val distinct =
      try new java.io.File(dir).getCanonicalPath != sf.getCanonicalPath
      catch { case _: Throwable => false }
    Some(dir).filter(d => distinct && new java.io.File(d).isDirectory)
  }

  /** Bench's warm-up, run before anything is timed: touch every
    * table's footer and schema in `sfDir`, run each of `names` once on
    * the [[warmDir]] dataset, then `q1_agg` once on `sfDir`. This
    * compiles each query's generated code and JITs the hot paths
    * outside the timed region, so timings measure query execution at
    * the measured scale — the steady state a long-lived session runs
    * in — not first-hit JVM compilation. The warm-up dataset is a
    * DIFFERENT directory, so no result or cache of the timed queries
    * is precomputed by it. Best-effort: a missing table or directory,
    * or a failing query, never aborts the caller.
    */
  def warmUp(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit = {
    Tables.names.foreach(t =>
      try Tables.load(spark, sfDir, t).count()
      catch { case _: Throwable => () })
    warmDir(sfDir).foreach { dir =>
      val all = SparkEntry.queries
      names.foreach { n =>
        try all(n)(spark, dir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
      // drop the warm-up dataset's persisted frames (shingle/tf/vector
      // caches keyed to its plans): they are never read again but
      // would occupy the unified memory pool during the timed region
      spark.catalog.clearCache()
    }
    try SparkEntry.queries("q1_agg")(spark, sfDir).count()
    catch { case _: Throwable => () }
  }
}
