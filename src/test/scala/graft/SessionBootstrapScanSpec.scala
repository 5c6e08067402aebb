package graft

import org.scalatest.funsuite.AnyFunSuite

/** Tooling guard: every session is built by [[EntryPoint.session]], so
  * a hand-built SparkSession anywhere else under `src/` fails here. */
class SessionBootstrapScanSpec extends AnyFunSuite {

  // split so this file does not match itself
  private val needle = "SparkSession" + ".builder()"

  test("SparkSession builder appears only in the EntryPoint bootstrap") {
    val hits = SourceScan.hits(SourceScan.srcRoot, Seq(needle))
    assert(hits.size == 1 &&
      hits.head.startsWith("main/scala/graft/EntryPoint.scala:"),
      s"$needle outside the bootstrap: ${hits.mkString(", ")}")
  }
}
