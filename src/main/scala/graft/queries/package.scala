package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

package object queries {
  /** A harness query: (session, sfDir) → result DataFrame. */
  type QueryFn = (SparkSession, String) => DataFrame

  /** One catalog entry: name, Spark implementation, optional DuckDB oracle
    * SQL (None ⇒ driver records a weaker rows-only check).
    */
  final case class QueryDef(name: String, fn: QueryFn, oracle: Option[String])

  /** A catalog row's scratch directory, `graft_<tag>_<md5>_<pid>`
    * under `java.io.tmpdir`, deleted at JVM exit. Keyed by the sf dir
    * and the process: concurrent harness runs (Verify at one sf, Bench
    * at another, parallel drivers) must not overwrite each other's
    * files mid-read, and re-runs within one process stay idempotent
    * through overwrite mode. md5 of the canonical path, not
    * `String.hashCode`: a 32-bit hash of two distinct dirs can collide
    * and cross-clobber mid-read. */
  private[queries] def scratchDir(dir: String, tag: String): java.io.File = {
    val dirKey = try new java.io.File(dir).getCanonicalPath
      catch { case _: Throwable => dir }
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dirKey.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16) + "_" +
      java.lang.ProcessHandle.current().pid()
    val f = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_${tag}_$h")
    registerScratchCleanup(f)
    f
  }

  /** Recursive-delete `dir` at JVM exit, registered once per path — a
    * per-process scratch copy must not accumulate across bench/verify
    * runs (the per-pid tag that isolates concurrent processes would
    * otherwise leak a corpus copy per invocation). Deletion at exit,
    * not after the query: the returned frame reads the files lazily,
    * possibly multiple times (cold + steady). */
  private val scratchRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def registerScratchCleanup(dir: java.io.File): Unit =
    if (scratchRegistered.add(dir.getAbsolutePath))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles()
          if (kids != null) kids.foreach(rm)
          f.delete(): Unit
        }
        rm(dir)
      }))

  /** Exact decimal sum of a ~2-decimal double column, returned as DOUBLE.
    * Decimal accumulation is associative, so the result is independent of
    * partitioning/accumulation order — required for hash-stable comparison
    * against DuckDB (see SparkEntry scaladoc).
    */
  def dsum(c: Column): Column = sum(c.cast("decimal(12,2)")).cast("double")

  /** Same for a product of two ~2-decimal doubles (e.g. price×(1−disc)). */
  def dsum2(a: Column, b: Column): Column =
    sum(a.cast("decimal(12,2)") * b.cast("decimal(12,2)")).cast("double")

  /** Oracle-side twin of [[dsum]]. */
  def oSum(e: String): String =
    s"CAST(SUM(CAST($e AS DECIMAL(12,2))) AS DOUBLE)"
  def oSum2(a: String, b: String): String =
    s"CAST(SUM(CAST($a AS DECIMAL(12,2)) * CAST($b AS DECIMAL(12,2))) AS DOUBLE)"
}
