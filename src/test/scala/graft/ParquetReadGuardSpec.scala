package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Engine parquet reads go through [[graft.sources.Parquet]]: a read that
  * leaves the schema to Spark runs a one-task schema-inference job each
  * time it is planned. A `read` chain ending in `.parquet(` — or in
  * `.load(` with the parquet format, named or by default — is one unless
  * it declares `.schema(...)`. A load whose format is a runtime value is
  * the caller's dispatch (JobRunner sends parquet sources to the helper).
  */
class ParquetReadGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")
  private val helper = root.resolve("sources/Parquet.scala")

  /** `read` followed by zero or more `.call(args)` links, then `.parquet(`
    * or `.load(`; args may hold one level of parentheses.
    */
  private val readChain =
    """\bread((?:\s*\.\s*\w+\s*\((?:[^()]|\([^()]*\))*\))*)\s*\.\s*(parquet|load)\s*\(""".r
  private val link = """\.\s*(\w+)\s*\(((?:[^()]|\([^()]*\))*)\)""".r

  /** Source text with comments blanked, lines kept (a `//` after `:` is
    * a URI, not a comment).
    */
  private def code(src: String): String =
    """(?s)/\*.*?\*/""".r.replaceAllIn(src, m => "\n" * m.matched.count(_ == '\n'))
      .replaceAll("""(?m)(^|[^:])//.*$""", "$1")

  /** Each untyped read in `src` as `line: read…`. */
  private def untypedReads(src: String): Seq[String] = {
    val text = code(src)
    readChain.findAllMatchIn(text).filter { m =>
      val links = link.findAllMatchIn(m.group(1)).map(l => l.group(1) -> l.group(2).trim).toSeq
      val format = links.collectFirst { case ("format", f) => f }
      !links.exists(_._1 == "schema") &&
        (m.group(2) == "parquet" || format.forall(_ == "\"parquet\""))
    }.map(m => s"${text.take(m.start).count(_ == '\n') + 1}: ${m.matched.replaceAll("""\s+""", " ")}")
      .toSeq
  }

  test("the guard catches what it is meant to") {
    assert(untypedReads("""spark.read.parquet(p)""").size == 1)
    assert(untypedReads("spark.read\n  .option(\"a\", f(1))\n  .parquet(p)").size == 1)
    assert(untypedReads("""s.read.format("parquet").load(p)""").size == 1)
    assert(untypedReads("""s.read.load(p)""").size == 1)
    assert(untypedReads("""s.read.schema("a INT, b ARRAY<DOUBLE>").parquet(p)""").isEmpty)
    assert(untypedReads("""s.read.format("json").load(p)""").isEmpty)
    assert(untypedReads("""s.read.format(fmt).load(p)""").isEmpty)
    assert(untypedReads("""s.readStream.schema(t).parquet(p)""").isEmpty)
    assert(untypedReads("// spark.read.parquet(p)\n/* s.read.parquet(q) */").isEmpty)
  }

  test("no untyped parquet read in src/main/scala/graft outside the helper") {
    assert(Files.isRegularFile(helper), s"run from the repo root (no $helper)")
    val files = scala.util.Using.resource(Files.walk(root))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
    val found = files.filterNot(_ == helper).flatMap { f: Path =>
      untypedReads(Files.readString(f)).map(r => s"$f:$r")
    }
    assert(found.isEmpty, found.mkString("untyped parquet reads:\n", "\n", ""))
  }
}
