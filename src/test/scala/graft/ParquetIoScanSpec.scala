package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Tooling guard: the library's parquet reads and writes go through
  * [[graft.sink.Parquet]] — driver-resolved schemas, and writes whose
  * local output sets permissions without forking `chmod`. A direct
  * `spark.read.parquet(`, `read.schema(` or DataFrame `.write` under
  * `graft/sink`, `graft/operators` or `Tables.scala`, outside that
  * module, fails here with its `path:line`. JDBC writes are not
  * parquet writes, and a managed-table write (`saveAsTable`) keeps its
  * options in the catalog entry, where a later reader would need this
  * library's classes; both stay where they are. */
class ParquetIoScanSpec extends AnyFunSuite {

  private val main = SourceScan.srcRoot.resolve("main/scala/graft")
  private val module = "main/scala/graft/sink/Parquet.scala"

  private def scanned: Seq[java.nio.file.Path] =
    Seq(main.resolve("sink"), main.resolve("operators"))
      .flatMap { d =>
        val walk = java.nio.file.Files.walk(d)
        try walk.iterator().asScala.toSeq
          .filter(_.toString.endsWith(".scala"))
        finally walk.close()
      } :+ main.resolve("Tables.scala")

  private def hits(pattern: scala.util.matching.Regex): Seq[String] =
    scanned.flatMap(SourceScan.matches(_, pattern))
      .filterNot(_.startsWith(module + ":"))

  test("no spark.read.parquet( or read.schema( outside the module") {
    val found = hits("""\bread\s*\.\s*(?:parquet|schema)\(""".r)
    assert(found.isEmpty, s"${found.size} hits: ${found.mkString(", ")}")
  }

  test("no DataFrame .write outside the module, JDBC and table writes " +
      "aside") {
    // `.write` followed by a chained call (`out.write(b)` is a stream
    // write); a chain that reaches `.jdbc(` or `.saveAsTable(` within
    // the statement is a JDBC or a managed-table write
    val found = hits(
      """\.write\s*\.(?![^;{}]{0,200}?\.(?:jdbc|saveAsTable)\()""".r)
    assert(found.isEmpty, s"${found.size} hits: ${found.mkString(", ")}")
  }
}
