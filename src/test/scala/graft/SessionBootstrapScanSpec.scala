package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Tooling guard: every session is built by [[EntryPoint.session]], so
  * a hand-built SparkSession anywhere else under `src/` fails here. */
class SessionBootstrapScanSpec extends AnyFunSuite {

  // split so this file does not match itself
  private val needle = "SparkSession" + ".builder()"

  private def srcRoot: Path =
    Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .map(_.resolve("src"))
      .find(p => Files.isDirectory(p.resolve("main/scala/graft")))
      .getOrElse(fail("no src/main/scala/graft above the working dir"))

  test("SparkSession builder appears only in the EntryPoint bootstrap") {
    val root = srcRoot
    val hits = Files.walk(root).iterator().asScala
      .filter(Files.isRegularFile(_))
      .flatMap { f =>
        new String(Files.readAllBytes(f), ISO_8859_1).split("\n")
          .zipWithIndex
          .collect { case (line, i) if line.contains(needle) =>
            s"${root.relativize(f)}:${i + 1}" }
      }.toSeq
    assert(hits.size == 1 &&
      hits.head.startsWith("main/scala/graft/EntryPoint.scala:"),
      s"$needle outside the bootstrap: ${hits.mkString(", ")}")
  }
}
