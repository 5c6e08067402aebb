package graft

import org.scalatest.funsuite.AnyFunSuite

/** Tooling guard: a persisted index has one on-disk format and one
  * commit record, its manifest ([[graft.sink.IndexManifest]]), which
  * also holds the build parameters. The one-row `meta` table, its
  * driver cache, the pre-manifest generation and epoch logs and the
  * gen-less fact trees are gone; a read or write path for any of them
  * under `src/main` fails here, with the `path:line` of each. */
class IndexFormatScanSpec extends AnyFunSuite {

  private val needles = Seq("metaRow", "metaCache", "legacyGen",
    "legacyEpoch", "readOrInit", "withGen(", "ingest_meta", "/meta\")")

  needles.foreach { needle =>
    test(s"src/main holds no `$needle`") {
      val hits = SourceScan.hits(SourceScan.srcRoot.resolve("main"),
        Seq(needle))
      assert(hits.isEmpty, s"${hits.size} hits: ${hits.mkString(", ")}")
    }
  }
}
