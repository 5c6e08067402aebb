package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = EntryPoint.session()
    new java.io.File(outDir).mkdirs()
    // local-iteration escape hatch: SPARK_GRAFT_ONLY=q1_agg,q100 dumps
    // only the selected queries (oracle_sql.json still carries all)
    val all = SparkEntry.queries
    EntryPoint.onlyQueries.foreach { name =>
      val fn = all(name)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        // drop per-query persisted intermediates (q54 tf, q55 shingles)
        // so they don't occupy memory while later queries run
        try spark.catalog.clearCache() catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // q81's oracle reads the verify-dumped parquet for its one
    // non-replayable column (raw DEFLATE size) — substitute the real
    // outDir so the SQL is self-contained for the driver's DuckDB run.
    val outAbs = new java.io.File(outDir).getCanonicalPath
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__GRAFT_VERIFY_OUT__", outAbs))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
