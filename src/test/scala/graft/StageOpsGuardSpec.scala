package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Every stage `CurationStages.compose` implements is declarable: a
  * `case "<op>"` of compose's top-level match with no `Ops` key is
  * rejected by `JobConfig.fromJson` as an unknown op, so only direct
  * Scala callers could reach it. And every `Ops` key has a case, so a
  * declaration that parses can run.
  */
class StageOpsGuardSpec extends AnyFunSuite {

  test("the ops compose implements are exactly the declarable Ops keys") {
    val path = Paths.get("src/main/scala/graft/jobs/CurationStages.scala")
    assert(Files.isRegularFile(path), s"run from the repo root (no $path)")
    val src = Files.readString(path)
    val start = src.indexOf("  private def compose(")
    assert(start >= 0, "compose moved")
    // compose's body runs to the next member at the object's indentation
    val end = """\n  (private |def |val |/\*\*)""".r
      .findFirstMatchIn(src.substring(start + 1)).map(_.start + start + 1)
      .getOrElse(src.length)
    // top-level cases sit at four spaces; nested matches are deeper
    val cased = """(?m)^    case ("[a-z0-9_]+"(?:\s*\|\s*"[a-z0-9_]+")*)\s*=>""".r
      .findAllMatchIn(src.substring(start, end))
      .flatMap(m => "\"([a-z0-9_]+)\"".r.findAllMatchIn(m.group(1)).map(_.group(1)))
      .toSet
    assert(cased.size > 20, s"found only ${cased.size} stage cases: $cased")
    val keys = graft.jobs.CurationStages.Ops.keySet
    assert((cased -- keys).isEmpty, s"stages compose implements but Ops lacks: ${cased -- keys}")
    assert((keys -- cased).isEmpty, s"Ops keys compose does not implement: ${keys -- cased}")
  }
}
