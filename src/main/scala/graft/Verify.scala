package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Runs in Bench's
  * session ([[Sessions.local]]). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing query names restrict the dump (targeted re-gates)
    val only = args.drop(2).toSet
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.isEmpty || only(name))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        // remove any STALE output from a previous dump — a leftover result
        // would make downstream compares silently pass on old code
        val dir = new java.io.File(s"$outDir/$name")
        if (dir.exists()) {
          dir.listFiles().foreach(_.delete())
          dir.delete()
        }
      }
      finally Caches.clearAll(spark) // query-scoped persists must not leak
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A query that throws must never silently vanish from the round record
    // (round-10 lesson: q41 errored and the correctness artifact just omitted
    // it). Always write errors.json — empty {} on a clean run — and summarize
    // on stdout so both the artifact and the log show the failure count.
    // A partial dump (non-empty `only`) must not clobber failures recorded
    // by a prior full run for queries it didn't re-run: merge — prior
    // entries for queries OUTSIDE `only` survive, re-run queries get their
    // fresh status (cleared if they now pass, replaced if they still fail).
    val prior: Map[String, String] =
      if (only.nonEmpty && Files.exists(Paths.get(s"$outDir/errors.json"))) {
        try {
          val node = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(Files.readString(Paths.get(s"$outDir/errors.json")))
          import scala.jdk.CollectionConverters._
          node.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
        } catch { case _: Throwable => Map.empty[String, String] }
      } else Map.empty
    val merged = (prior -- only) ++ failures
    val errJson = merged.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (failures.nonEmpty)
      println(s"[verify] FAILED ${failures.size} queries: ${failures.keys.mkString(", ")}")
    else if (merged.nonEmpty)
      println(s"[verify] this run clean; ${merged.size} prior failures carried: ${merged.keys.mkString(", ")}")
    else println(s"[verify] all queries dumped cleanly")
    spark.stop()
  }
}
