package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Process-global `@volatile` vars are measurement knobs: each one keeps a
  * second code path alive that only an A/B tool ever selects, and a tool
  * that fails mid-run leaves the knob flipped for the rest of the JVM.
  * Production code carries exactly one, a size threshold that picks
  * between two paths by corpus size.
  */
class KnobGuardSpec extends AnyFunSuite {

  test("src/main declares no process-global knob besides TextOps.BpeDriverVocabMax") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val knob = """@volatile\s+private\[graft\]\s+var\s+(\w+)""".r
    val found: Seq[(Path, String)] = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap(p => knob.findAllMatchIn(Files.readString(p)).map(m => (p, m.group(1))))
    val allowed = (Paths.get("src/main/scala/graft/queries/TextOps.scala"), "BpeDriverVocabMax")
    assert(found.contains(allowed), s"the allowed knob moved: $found")
    assert(found.filterNot(_ == allowed).isEmpty,
      s"new process-global knobs: ${found.filterNot(_ == allowed)}")
  }
}
