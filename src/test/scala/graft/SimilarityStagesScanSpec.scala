package graft

import org.scalatest.funsuite.AnyFunSuite

/** Tooling guard: in `operators/Similarity.scala` every scoring and
  * selection decision of the vector-search arms is written once, as a
  * shared stage — the arms differ only in candidate generation. A
  * second copy of any of these expressions fails here, with the
  * `path:line` of every copy.
  */
class SimilarityStagesScanSpec extends AnyFunSuite {

  private def file =
    SourceScan.srcRoot.resolve("main/scala/graft/operators/Similarity.scala")

  // (decision, pattern) — patterns may span lines
  private val stages = Seq(
    "rounded-cosine division `round(dot(..) / (‖a‖·‖b‖), 6)`" ->
      """/\s*\(\s*col\([^()]*\)\s*\*\s*col\([^()]*\)\s*\)\s*,\s*6\s*\)""".r,
    "ADC distance `round(‖q‖² − 2·q·c + ‖c‖², 6)` cast to decimal(20,6)" ->
      """\*\s*2\s*\+\s*dot\(col\("cv"\),\s*col\("cv"\)\),\s*6\)\s*\.cast\("decimal\(20,6\)"\)""".r,
    "cell-probe window ordered on `psim`" ->
      """orderBy\(col\("psim"\)\.desc""".r,
    "`trainIters > 0` → trainedCentroids coarse-centroid choice" ->
      """if\s*\(trainIters\s*>\s*0\)\s*trainedCentroids\(""".r)

  stages.foreach { case (decision, pattern) =>
    test(s"Similarity writes the $decision once") {
      val hits = SourceScan.matches(file, pattern)
      assert(hits.nonEmpty, s"stage not found (pattern stale?): $pattern")
      assert(hits.size == 1, s"${hits.size} copies: ${hits.mkString(", ")}")
    }
  }
}
