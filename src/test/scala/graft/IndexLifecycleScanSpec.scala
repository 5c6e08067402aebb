package graft

import org.scalatest.funsuite.AnyFunSuite

/** Tooling guard: the reserve → write → publish generation protocol of
  * the persisted indexes is written once, in [[graft.sink.IndexFamily]].
  * An operator or a streaming sink that reserves or publishes a
  * generation itself fails here. The catalog's crash-simulation rows
  * under `graft/queries` reserve a generation on purpose and are not
  * scanned. */
class IndexLifecycleScanSpec extends AnyFunSuite {

  // split so this file does not match itself
  private val needles = Seq("reserveGen" + "(", "publishGen" + "(")

  test("no operator or streaming code reserves or publishes an index " +
      "generation") {
    val root = SourceScan.srcRoot
    val hits = Seq("operators", "streaming").flatMap(d =>
      SourceScan.hits(root.resolve(s"main/scala/graft/$d"), needles))
    assert(hits.isEmpty,
      s"generation protocol outside graft.sink: ${hits.mkString(", ")}")
  }
}
