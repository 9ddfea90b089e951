package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Process-wide settings live in one place each. A process-global
  * `@volatile` var is a measurement knob: it keeps a second code path
  * alive that only an A/B tool ever selects, and a tool that fails mid-run
  * leaves the knob flipped for the rest of the JVM. A session is built by
  * [[Sessions.local]] or by JobRunner's spark-submit main, and library
  * code never writes a caller's session conf: a query running
  * concurrently on that session would see the write.
  */
class KnobGuardSpec extends AnyFunSuite {

  private lazy val sources: Seq[(Path, String)] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => (p, Files.readString(p)))
  }

  /** (file, matched text) of every match of `re` in `src/main`. */
  private def matches(re: String): Seq[(String, String)] = sources.flatMap {
    case (p, text) => re.r.findAllMatchIn(text).map(m => (p.getFileName.toString, m.matched))
  }

  test("src/main declares no process-global knob") {
    val knobs = matches("""@volatile\s+private\[graft\]\s+var\s+\w+""")
    assert(knobs.isEmpty, s"process-global knobs: $knobs")
  }

  test("src/main builds sessions in Sessions and JobRunner's main only") {
    val builders = matches("""SparkSession\.builder""").map(_._1)
    assert(builders.sorted == Seq("JobRunner.scala", "Sessions.scala"), s"builder sites: $builders")
  }

  test("src/main writes session conf only in Parquet.read's scoped fallback and a private clone") {
    // Parquet.read sets nanosAsLong for Spark's own inference and puts it back
    val confSets = matches("""conf\.(set|unset)\(""").map(_._1).distinct
    assert(confSets == Seq("Parquet.scala"), s"session conf writes: $confSets")
    // ClonedSession writes the conf of a session it has just cloned
    val cloneSets = matches("""setConfString\(""").map(_._1).distinct
    assert(cloneSets == Seq("ClonedSession.scala"), s"SQLConf writes: $cloneSets")
  }
}
