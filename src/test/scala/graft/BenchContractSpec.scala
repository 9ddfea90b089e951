package graft

/** The bench emission contract: the driver parses a bounded ~2000-char
  * stdout tail and records the LAST line. Round 7 lost its bench record
  * ("parsed": null) because the final line outgrew that window; the
  * summary is now built through one guarded function so the failure mode
  * is a loud bench error at emit time, never a silently-unparsed round.
  */
class BenchContractSpec extends SparkSpec {

  test("the compact summary fits the tail budget with realistic values") {
    val line = Bench.compactSummary(
      total = 28.424242424242, minTotal = 24.808080808080,
      nQueries = 63, nErrors = 0, runs = 3, sfDir = "/root/testdata/sf0.1")
    assert(line.length <= 512)
    // and it stays a single line (a wrapped line would split the tail parse)
    assert(!line.contains("\n"))
    assert(line.startsWith("{\"metric\":\"total\"") && line.endsWith("}"))
  }

  test("a summary that could overflow the tail window fails loudly") {
    val huge = "x" * 600
    val e = intercept[IllegalArgumentException] {
      Bench.compactSummary(1.0, 1.0, 63, 0, 3, sfDir = huge)
    }
    assert(e.getMessage.contains("stdout tail"))
  }

  test("a layout prebuild over a missing sf dir reports every failed build by name") {
    val missing = java.nio.file.Files.createTempDirectory("bench-prebuild")
      .resolve("no-such-sf").toString
    val errors = Bench.prebuildLayouts(spark, missing)
    assert(errors.map(_._1) == Seq("CorpusStatsEmbeddings", "CorpusStatsDocuments",
      "DocFingerprints", "TermStats", "SpanStats", "ChunkStats", "ShinglePostings",
      "PairGraph", "ClusterAssignment", "SplitAssignment", "IvfCentroids",
      "PqCodebooks", "BucketedEmbeddings", "BpeMerges", "BigramLm"), errors.toString)
    assert(errors.forall(_._2.nonEmpty), errors.toString)
    // the errors ride the detail line only: the summary keeps its budget
    val line = Bench.compactSummary(28.4, 24.8, nQueries = 0, nErrors = 0, runs = 3,
      sfDir = missing)
    assert(line.length <= 512)
  }

  test("the README headline stays within 25% of the artifact of record") {
    // Rounds 14 AND 15 shipped a README whose quoted closing pair
    // contradicted the driver-written BENCH.json; round 16's verbatim pin
    // over-corrected into an unsatisfiable contract — the driver rewrites
    // BENCH.json AFTER the builder's last commit, so an exact-match pin
    // can never stay green across a bench refresh. The durable contract:
    // the README quotes the builder's honestly-measured closing pair, the
    // driver's artifact governs, and the two must agree within the
    // same-box run-to-run spread. r18: the band is RELATIVE (25% of the
    // artifact ratio) — the r17 absolute ±0.10 band was ~29% slack at a
    // 0.35 ratio yet sat one warm re-run from red with the README pair
    // quoted off a different run (the r17 ADVICE finding); a relative
    // band keeps the slack meaningful if the suite ratio drifts. Skipped
    // (not failed) when the gitignored, machine-local artifacts are
    // absent.
    def read(p: String): String =
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get("BENCH.json")) &&
      java.nio.file.Files.exists(java.nio.file.Paths.get("DUCKBENCH.json")),
      "bench artifacts absent (fresh checkout) — headline band check not applicable")
    def num(src: String, key: String): Double =
      ("\"" + key + "\"\\s*:\\s*([0-9][0-9.]*)").r.findFirstMatchIn(src)
        .map(_.group(1).toDouble)
        .getOrElse(fail(s"$key missing from artifact"))
    val benchLine = read("BENCH.json").linesIterator
      .find(_.contains("min_total"))
      .getOrElse(fail("BENCH.json has no compact summary line"))
    val artifactMeanRatio = num(benchLine, "value") / num(read("DUCKBENCH.json"), "value")
    val artifactMinRatio = num(benchLine, "min_total") / num(read("DUCKBENCH.json"), "value")
    val readme = read("README.md").linesIterator.toVector
    val i = readme.indexWhere(_.contains("artifact of record"))
    assert(i >= 0, "README lost its 'artifact of record' headline")
    // the ratios may sit several lines above the 'artifact of record'
    // phrase as the paragraph grows — scan the whole surrounding block
    val para = readme.slice(math.max(0, i - 12), i + 10).mkString(" ")
    def quoted(tag: String): Double =
      ("([0-9]+\\.[0-9]+)× " + tag).r.findFirstMatchIn(para)
        .map(_.group(1).toDouble)
        .getOrElse(fail(s"README headline quotes no 'N.NN× $tag' ratio in: $para"))
    for ((tag, artifact) <- Seq("mean" -> artifactMeanRatio, "min" -> artifactMinRatio)) {
      val q = quoted(tag)
      assert(math.abs(q - artifact) <= 0.25 * artifact,
        f"README's quoted $q%.2f× $tag drifted >25%% from the artifact's " +
          f"$artifact%.2f× — re-measure a back-to-back pair and refresh the headline")
    }
  }

  test("the startup guard rejects an over-long sfDir with worst-width fields") {
    // mirrors Bench.main's fail-fast call: the widest plausible numeric
    // fields plus a just-under-budget sfDir must still fit, so the guard
    // only trips on genuinely oversized paths — and a 600-char path trips
    // it BEFORE any query would have run
    val wide = Bench.compactSummary(99999.999999999999, 99999.999999999999,
      nQueries = 9999, nErrors = 9999, runs = 333, sfDir = "/root/testdata/sf0.1")
    assert(wide.length <= 512)
  }
}
