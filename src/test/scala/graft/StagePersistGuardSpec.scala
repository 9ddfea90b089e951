package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Curation stages persist nothing themselves: `CurationStages.apply`
  * persists the input of every stage that reads it at composition time,
  * in one place, under the marker column that keeps the cache from
  * hijacking unrelated plans. A per-stage persist would bypass both the
  * marker and the one list of such stages.
  */
class StagePersistGuardSpec extends AnyFunSuite {

  test("CurationStages.scala persists only in apply's composition-time helper") {
    val path = Paths.get("src/main/scala/graft/jobs/CurationStages.scala")
    assert(Files.isRegularFile(path), s"run from the repo root (no $path)")
    val src = Files.readString(path)
    val at = """\.persist\(""".r.findAllMatchIn(src).map(_.start).toSeq
    assert(at.size == 1, s"${at.size} persist calls in $path, expected exactly one")
    val helper = src.indexOf("  def apply(docs: DataFrame, stage: StageSpec,")
    val body = src.indexOf("  private def compose(", helper)
    assert(helper >= 0 && body > helper, "the apply helper or compose moved")
    assert(at.head > helper && at.head < body,
      "the one persist call is not in apply's helper")
  }
}
