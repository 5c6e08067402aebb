package graft

import org.scalatest.funsuite.AnyFunSuite

/** Tooling guard: each repeated query shape of the catalog is written
  * once under `graft/queries` — one table loader, one copy of each
  * shared oracle fragment — and no row fetches another row's oracle
  * by name (a lookup that throws at object initialisation once the
  * row is renamed). A second copy fails here, with the `path:line` of
  * every copy.
  */
class CatalogShapesScanSpec extends AnyFunSuite {

  private def dir = SourceScan.srcRoot.resolve("main/scala/graft/queries")

  // (shape, needle, copies allowed)
  private val shapes = Seq(
    ("catalog lookup of another row's oracle by name", "defs.find(", 0),
    ("table loader", "def t(name", 1),
    ("BM25 top-10 rank tail", "FROM r WHERE rnk <= 10", 1),
    ("connected-components walk over the shingle-pair edges",
      "FROM walk w JOIN edges e ON w.id = e.src", 1),
    ("NULL-padded non-image tail of the media oracles",
      "SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL,", 1),
    ("daily calendar fill", "generate_series(d0, d1, INTERVAL 1 DAY)", 1))

  shapes.foreach { case (shape, needle, allowed) =>
    test(s"graft/queries holds at most $allowed copies of the $shape") {
      val hits = SourceScan.hits(dir, Seq(needle))
      assert(hits.size <= allowed,
        s"${hits.size} copies of `$needle`: ${hits.mkString(", ")}")
    }
  }
}
