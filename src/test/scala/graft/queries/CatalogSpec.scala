package graft.queries

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.{SourceScan, SparkEntry}
import org.scalatest.funsuite.AnyFunSuite

/** The catalog as data, checked without running a Spark job: every row
  * name is unique, and the rows' order and oracle texts match the
  * committed golden file [[CatalogGolden.file]] (one `name md5(oracle)`
  * line per row in catalog order, `-` where a row has no oracle). A
  * refactor of the catalog's shared shapes must leave every oracle
  * byte-identical; a deliberate oracle change regenerates the file.
  */
class CatalogSpec extends AnyFunSuite {

  test("catalog names are unique (SparkEntry.queries is a Map: a duplicate drops a row)") {
    val dups = SparkEntry.catalog.groupBy(_.name).collect {
      case (n, rows) if rows.size > 1 => s"$n ×${rows.size}"
    }
    assert(dups.isEmpty, s"duplicate catalog names: ${dups.mkString(", ")}")
    assert(SparkEntry.queries.size == SparkEntry.catalog.size)
  }

  test("catalog order and oracle texts match the golden file") {
    val golden = new String(Files.readAllBytes(CatalogGolden.file), UTF_8)
      .split("\n").filter(_.nonEmpty).toSeq
    val now = CatalogGolden.lines
    val diff = golden.zipAll(now, "<none>", "<none>").zipWithIndex.collect {
      case ((g, n), i) if g != n => s"line ${i + 1}: golden `$g`, catalog `$n`"
    }
    assert(diff.isEmpty,
      s"${diff.size} line(s) differ from ${SourceScan.srcRoot.relativize(CatalogGolden.file)}" +
        s" (first: ${diff.take(5).mkString("; ")}). If the change to the " +
        s"catalog is intended, regenerate with `${CatalogGolden.command}`" +
        " and say so in the change description.")
  }
}

/** Writes the golden file of [[CatalogSpec]]:
  * `sbt "Test/runMain graft.queries.CatalogGolden"`. */
object CatalogGolden {
  val command = """sbt "Test/runMain graft.queries.CatalogGolden""""

  def file: Path = SourceScan.srcRoot.resolve("test/resources/catalog_oracles.golden")

  def lines: Seq[String] = SparkEntry.catalog.map { q =>
    val h = q.oracle.fold("-") { sql =>
      java.security.MessageDigest.getInstance("MD5").digest(sql.getBytes(UTF_8))
        .map("%02x".format(_)).mkString
    }
    s"${q.name} $h"
  }

  def main(args: Array[String]): Unit = {
    Files.write(file, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    println(s"wrote ${lines.size} rows to $file")
  }
}
