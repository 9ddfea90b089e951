package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.jobs.JobRunner

/** The benchmark's JVM side: sets up one workload, checks its outputs in an
  * untimed pass, times it for the given seconds and writes a raw record
  * (samples, gate results and, when traced, per-layer metrics and spans)
  * for `run.py` to reduce into the final metrics line.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <runRoot>
  *             <expected.json> <out.json>
  */
object Main {

  /** One query per registry family, plus a second text query that reads
    * a derived layout; the queries workload times this panel.
    */
  val Panel: Seq[String] = Seq(
    "q3_join_revenue", "q21_ngram_jaccard",
    "q118_bigram_perplexity", "q24_asof_join", "q28_embedding_neardup",
    "q30_test_metrics", "q31_minhash_lsh", "q71_image_neardup",
    "q45_correlated_subquery", "q51_decontaminate", "q55_pii_scrub")

  val Families: Seq[(String, Seq[graft.QueryDef])] = {
    import graft.{queries => q}
    Seq("Relational" -> q.Relational.all, "TextOps" -> q.TextOps.all,
      "EventOps" -> q.EventOps.all, "VectorOps" -> q.VectorOps.all,
      "MlOps" -> q.MlOps.all, "DedupOps" -> q.DedupOps.all,
      "MultimodalOps" -> q.MultimodalOps.all, "SqlSurface" -> q.SqlSurface.all,
      "PipelineOps" -> q.PipelineOps.all, "CurationOps" -> q.CurationOps.all)
  }
  lazy val familyOf: Map[String, String] =
    Families.flatMap { case (f, ds) => ds.map(_.name -> f) }.toMap

  /** The ingest steps in JobRunner order: (name, build, layout dir). */
  def layouts(spark: SparkSession, dir: String): Seq[(String, () => Any, String)] = {
    import graft.sources._
    Seq(
      ("DocFingerprints", () => DocFingerprints(spark, dir), DocFingerprints.layoutPath(dir)),
      ("TermStats", () => TermStats(spark, dir), TermStats.layoutPath(dir)),
      ("ShinglePostings", () => ShinglePostings(spark, dir), ShinglePostings.layoutPath(dir)),
      ("BucketedEmbeddings", () => BucketedEmbeddings(spark, dir), BucketedEmbeddings.layoutPath(dir)),
      ("SpanStats", () => SpanStats(spark, dir), SpanStats.layoutPath(dir)),
      ("ChunkStats", () => ChunkStats(spark, dir), ChunkStats.layoutPath(dir)),
      ("CorpusStatsEmbeddings", () => CorpusStats.rowCount(spark, dir),
        CorpusStats.layoutPath(dir, "embeddings")),
      ("CorpusStatsDocuments", () => CorpusStats.rowCount(spark, dir, "documents"),
        CorpusStats.layoutPath(dir, "documents")),
      ("PairGraph", () => PairGraph(spark, dir), PairGraph.layoutPath(dir)),
      ("ClusterAssignment", () => ClusterAssignment(spark, dir), ClusterAssignment.layoutPath(dir)),
      ("SplitAssignment", () => SplitAssignment(spark, dir), SplitAssignment.layoutPath(dir)),
      ("IvfCentroids", () => IvfCentroids(spark, dir), IvfCentroids.layoutPath(dir)),
      ("PqCodebooks", () => PqCodebooks(spark, dir), PqCodebooks.layoutPath(dir)),
      ("BpeMerges", () => BpeMerges(spark, dir), BpeMerges.layoutPath(dir)),
      ("BigramLm", () => BigramLm.model(spark, dir), BigramLm.layoutPath(dir)))
  }

  /** The layouts `-ingest -from` refreshes by delta instead of rebuilding. */
  def refreshers(spark: SparkSession, dir: String, old: String): Seq[(String, () => Any)] = {
    import graft.sources._
    Seq(
      "DocFingerprints" -> (() => DocFingerprints.refreshed(spark, dir, old)),
      "TermStats" -> (() => TermStats.refreshed(spark, dir, old)),
      "ShinglePostings" -> (() => ShinglePostings.refreshed(spark, dir, old)),
      "BucketedEmbeddings" -> (() => BucketedEmbeddings.refreshed(spark, dir, old)),
      "ClusterAssignment" -> (() => ClusterAssignment.refreshed(spark, dir, old)),
      "BigramLm" -> (() => BigramLm.refreshed(spark, dir, old)))
  }

  /** The curate chain the lifecycle workload declares: dedup, scrub,
    * filter, resample, join, encode and pack stages of LifecycleBench's
    * chain, short enough that a run fits its time budget.
    */
  val LifecycleStages: String =
    """[
      |    {"op": "exact_dedup"},
      |    {"op": "near_dedup", "threshold": 0.5},
      |    {"op": "pii_scrub"},
      |    {"op": "quality_filter", "minScore": 0.0},
      |    {"op": "temperature_mix", "alpha": 0.5, "budgetDocs": 50000},
      |    {"op": "multimodal_join"},
      |    {"op": "pq_encode"},
      |    {"op": "pack", "tokenBudget": 256}
      |  ]""".stripMargin

  val TrainIters = 20

  def main(args: Array[String]): Unit = args match {
    case Array("record", dataDir, rootS, outPath) =>
      val run = new Run("record", 0L, 0.0, false, dataDir, Paths.get(rootS), Map.empty)
      val out = try run.recordExpected() finally run.stop()
      Files.writeString(Paths.get(outPath), out)
    case Array(workload, seedS, secondsS, traceS, dataDir, rootS, expectedPath, outPath) =>
      val run = new Run(workload, seedS.toLong, secondsS.toDouble, traceS == "1",
        dataDir, Paths.get(rootS), Gate.parseTable(Files.readString(Paths.get(expectedPath))))
      val out = try run.execute() finally run.stop()
      Files.writeString(Paths.get(outPath), out)
  }

  /** The single session conf every workload uses. */
  def session(root: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
}

final case class Op(name: String, seconds: Double, ok: Boolean)

/** CPU time of the live Java threads (driver and executor threads; the
  * JIT and GC threads are not Java threads and are not counted).
  */
object ThreadsCpu {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  def seconds(): Double =
    threads.getAllThreadIds.map(threads.getThreadCpuTime).filter(_ > 0).sum / 1e9
}

final class Run(workload: String, seed: Long, seconds: Double, traced: Boolean,
    dataDir: String, root: Path, expected: Map[String, Fingerprint]) {
  import Main._

  private val spark = session(root)
  private val cores = Runtime.getRuntime.availableProcessors()
  private val tracer = new Tracer(spark.sparkContext, traced, s"$workload-$seed")
  private val jobsStarted = new java.util.concurrent.atomic.AtomicLong
  spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobsStarted.incrementAndGet()
  })
  private val rng = new Random(seed)

  private val ops = mutable.ArrayBuffer.empty[Op]
  private val iterWalls = mutable.ArrayBuffer.empty[Double]
  private val iterCpu = mutable.ArrayBuffer.empty[Double]
  private val iterJobs = mutable.ArrayBuffer.empty[Long]
  private val mismatches = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L
  private var storedBytes = 0L
  private var inputBytes = 0L
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private var setupS = 0.0

  def stop(): Unit = spark.stop()

  private def layoutRoot: Path = Paths.get(sys.props("java.io.tmpdir"), "graft-layout")

  /** Points layout storage at a fresh directory: every build after this
    * call writes, and every lookup reads, only there.
    */
  private def freshLayoutRoot(tag: String): Path = {
    val p = Files.createDirectories(root.resolve(s"layouts-$tag"))
    sys.props("java.io.tmpdir") = p.toString
    p
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  /** One timed call; a throw counts as a failed op and no latency sample. */
  private def op(kind: String, name: String, attrs: Map[String, String] = Map.empty)(body: => Unit): Op = {
    attempted += 1
    val t0 = System.nanoTime()
    log(s"$kind $name")
    val ok = try { tracer.span(kind, name, attrs)(body); true }
    catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] $kind $name failed: $e")
        false
    }
    Op(name, (System.nanoTime() - t0) / 1e9, ok)
  }

  private def query(name: String, dir: String): Unit =
    try graft.SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
    finally graft.Caches.clearAll(spark)

  /** Untimed output check of one query against the expected table. */
  private def gateQuery(name: String, dir: String): Unit = {
    log(s"gate $name")
    attempted += 1
    val fp = try Some(Gate.fingerprint(graft.SparkEntry.queries(name)(spark, dir)))
    catch { case e: Throwable => System.err.println(s"[perfbench] gate $name failed: $e"); None }
    finally graft.Caches.clearAll(spark)
    fp match {
      case None => failed += 1; mismatches += s"$name: threw"
      case Some(f) if !expected.get(name).exists(_.matches(f)) =>
        failed += 1
        mismatches += s"$name: got ${f.toJson}, expected ${expected.get(name).map(_.toJson).getOrElse("none")}"
      case _ =>
    }
  }

  private def check(what: String)(cond: => Boolean): Unit = {
    attempted += 1
    val ok = try cond catch { case e: Throwable => System.err.println(s"[perfbench] $what: $e"); false }
    if (!ok) { failed += 1; mismatches += what }
  }

  private def prebuild(dir: String): Unit =
    layouts(spark, dir).foreach { case (name, build, _) =>
      log(s"layout $name")
      tracer.span("layout.build", name)(build())
    }

  private def tableBytes(dir: String, tables: Seq[String]): Long =
    tables.map(t => dirBytes(Paths.get(s"$dir/$t.parquet"))).sum

  private def writeConf(dir: Path, name: String, body: String): String = {
    val p = dir.resolve(name)
    Files.writeString(p, body)
    p.toString
  }

  private def jobRunner(conf: String, flags: String*): Unit =
    JobRunner.run(spark, JobRunner.parse((flags :+ "-conf" :+ conf).toArray))

  /** Loops `iteration` until the measured seconds are spent (at least once). */
  private def timed(iteration: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val j0 = jobsStarted.get()
      val w0 = System.nanoTime()
      val c0 = ThreadsCpu.seconds()
      tracer.span("iteration", s"iteration-$i")(iteration(i))
      iterWalls += (System.nanoTime() - w0) / 1e9
      iterCpu += ThreadsCpu.seconds() - c0
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      iterJobs += jobsStarted.get() - j0
      i += 1
    }
  }

  def execute(): String = {
    workload match {
      case "queries" => queries()
      case "lifecycle" => lifecycle()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (traced) {
      // workload-independent: measured once, on the queries workload
      if (workload == "queries") Kernels.measure(spark, tracer, dataDir, layer)
      collectLayer()
    }
    result()
  }

  /** The expected-output table: fingerprints of every gated query and of
    * the curated corpus, on this data. Only for regenerating the table
    * after an intended semantic change (see README.md).
    */
  def recordExpected(): String = {
    freshLayoutRoot("record")
    val qs = Panel.sorted.map { q =>
      try q -> Gate.fingerprint(graft.SparkEntry.queries(q)(spark, dataDir)).toJson
      finally graft.Caches.clearAll(spark)
    }
    val cold = refreshedLayouts(dataDir).map { case (n, fp) => s"layout_$n" -> fp().toJson }
    freshLayoutRoot("record-chain")
    val work = chain("record", record = false)
    val curated = "lifecycle_curated" ->
      Gate.fingerprint(spark.read.parquet(s"$work/curated/corpus")).toJson
    (qs ++ cold :+ curated).map { case (k, v) => s"    ${Json.str(k)}: $v" }
      .mkString("{\n  \"fingerprints\": {\n", ",\n", "\n  }\n}\n")
  }

  private def endSetup(): Unit = {
    setupS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    log("setup done")
  }

  private def log(what: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs $what")

  // ---- queries ------------------------------------------------------------

  private def queries(): Unit = {
    freshLayoutRoot("queries")
    // the gate pass also builds every layout the panel reads
    Panel.foreach(gateQuery(_, dataDir))
    storedBytes = dirBytes(layoutRoot)
    inputBytes = tableBytes(dataDir, graft.Tables.all)
    endSetup()
    timed { _ =>
      rng.shuffle(Panel).foreach { q =>
        ops += op("query", q, Map("family" -> familyOf(q)))(query(q, dataDir))
      }
    }
    if (traced) coldBuilds()
  }

  // ---- lifecycle ----------------------------------------------------------

  private val residue = math.floorMod(seed, 10L)

  /** The ML split frames: the seed's residue of `vec_id % 10` is held out. */
  private lazy val mlSplit: Path = {
    val dir = root.resolve("ml-split")
    val emb = graft.Tables(spark, dataDir, "embeddings")
    emb.filter(col("vec_id") % 10 =!= residue).write.mode("overwrite").parquet(s"$dir/train")
    emb.filter(col("vec_id") % 10 === residue).write.mode("overwrite").parquet(s"$dir/val")
    dir
  }

  private def lifecycleConfs(work: Path): (String, String) = {
    val curate = writeConf(work, "curate.json",
      s"""{"source": {"path": "$dataDir", "table": "documents", "idCol": "doc_id"},
         |"output": "$work/curated", "outputFormat": "parquet",
         |"stages": $LifecycleStages}""".stripMargin)
    val ml = writeConf(work, "ml.json",
      s"""{"source": {"path": "$mlSplit/train", "labelCol": "label"},
         |"validation": {"path": "$mlSplit/val", "labelCol": "label"},
         |"dim": 64, "lr": 1.0, "iters": $TrainIters, "validateEvery": 10,
         |"model": "$work/model", "output": "$work/ml_out", "outputFormat": "parquet"}""".stripMargin)
    (curate, ml)
  }

  /** curate → train → features → test into a fresh work dir; returns it. */
  private def chain(tag: String, record: Boolean): Path = {
    val work = Files.createDirectories(root.resolve(s"work-$tag"))
    val (curate, ml) = lifecycleConfs(work)
    val modes = Seq("curate" -> curate, "train" -> ml, "features" -> ml, "test" -> ml)
    modes.foreach { case (mode, conf) =>
      val o = op("jobrunner", mode)(jobRunner(conf, s"-$mode"))
      if (record) ops += o
    }
    storedBytes = dirBytes(layoutRoot) + dirBytes(work.resolve("curated"))
    graft.Caches.clearAll(spark)
    work
  }

  private def lifecycle(): Unit = {
    freshLayoutRoot("lifecycle")
    inputBytes = tableBytes(dataDir, Seq("documents", "embeddings"))
    // the gate pass also builds every layout the chain reads
    val work = chain("gate", record = false)
    val curated = spark.read.parquet(s"$work/curated/corpus")
    check("curated corpus has pq_code") { curated.columns.contains("pq_code") }
    check("curated corpus fingerprint") {
      expected.get("lifecycle_curated").exists(_.matches(Gate.fingerprint(curated)))
    }
    check("model snapshot non-zero") {
      graft.ml.LogisticRegression.loadWeights(spark, s"$work/model").exists(_ != 0d)
    }
    check("features written") { spark.read.parquet(s"$work/ml_out/features").count() > 0 }
    check("test result written") { Files.size(work.resolve("ml_out/test_result.json")) > 0 }
    deleteTree(work)
    endSetup()
    timed { i =>
      if (i > 0) deleteTree(root.resolve(s"work-${i - 1}"))
      chain(i.toString, record = true)
    }
    if (traced) {
      stageIsolated(root.resolve("stages"))
      refreshes()
    }
  }

  /** Each curation stage of the lifecycle chain timed alone: stage k reads
    * stage k−1's output, which is saved untimed.
    */
  private def stageIsolated(dir: Path): Unit = {
    var input = spark.read.parquet(s"$dataDir/documents.parquet")
    lifecycleStageSpecs.zipWithIndex.foreach { case (st, k) =>
      def out = graft.jobs.CurationStages(input, st, Some(s"$dataDir/embeddings.parquet"), Some(dataDir))
      log(s"stage ${st.op}")
      val t0 = System.nanoTime()
      tracer.span("stage", st.op)(out.write.format("noop").mode("overwrite").save())
      layer(s"stages.${st.op}.s") = (System.nanoTime() - t0) / 1e9
      val saved = s"$dir/stage-$k"
      out.write.mode("overwrite").parquet(saved)
      graft.Caches.clearAll(spark)
      input = spark.read.parquet(saved)
      layer(s"stages.${st.op}.rows_out") = input.count().toDouble
    }
  }

  private def lifecycleStageSpecs: Seq[graft.jobs.StageSpec] =
    graft.jobs.JobConfig.fromJson(
      s"""{"source": {"path": "$dataDir", "table": "documents", "idCol": "doc_id"},
         |"output": "unused", "stages": $LifecycleStages}""".stripMargin).stages

  // ---- layouts, traced runs only -------------------------------------------

  /** A copy of the corpus tables in its own directory: a new directory is
    * a new layout source, so nothing built for another copy is reused.
    */
  private def corpusCopy(name: String, from: String): String = {
    val d = Files.createDirectories(root.resolve(name))
    graft.Tables.all.foreach(t => Files.copy(Paths.get(s"$from/$t.parquet"), d.resolve(s"$t.parquet")))
    d.toString
  }

  /** Every ingest layout built cold, one builder call at a time, for a
    * fresh copy of the corpus.
    */
  private def coldBuilds(): Unit = {
    val dir = corpusCopy("cold", dataDir)
    prebuild(dir)
    layouts(spark, dir).foreach { case (name, _, at) =>
      layer(s"layouts.$name.bytes") = dirBytes(Paths.get(at)).toDouble
    }
  }

  /** The refresh path: `JobRunner -ingest` of a previous generation (the
    * seed holds back 10 % of documents and embeddings), then each
    * `refreshed` function for the full corpus, checked against the cold
    * build's fingerprints.
    */
  private def refreshes(): Unit = {
    val prev = Files.createDirectories(root.resolve("prev")).toString
    def held(c: String) = pmod(xxhash64(col(c), lit(seed)), lit(10L)) === 0
    graft.Tables(spark, dataDir, "documents").filter(!held("doc_id"))
      .coalesce(1).write.mode("overwrite").parquet(s"$prev/documents.parquet")
    graft.Tables(spark, dataDir, "embeddings").filter(!held("vec_id"))
      .coalesce(1).write.mode("overwrite").parquet(s"$prev/embeddings.parquet")
    graft.Tables.all.filterNot(Set("documents", "embeddings")).foreach { t =>
      Files.copy(Paths.get(s"$dataDir/$t.parquet"), Paths.get(s"$prev/$t.parquet"))
    }
    val conf = writeConf(root, "ingest-prev.json",
      s"""{"source": {"path": "$prev", "table": "documents", "idCol": "doc_id"}, "dim": 64}""")
    op("jobrunner", "ingest")(jobRunner(conf, "-ingest"))
    val full = corpusCopy("full", dataDir)
    refreshers(spark, full, prev).foreach { case (name, f) =>
      op("layout.refresh", name)(f())
    }
    refreshedLayouts(full).foreach { case (name, fp) =>
      check(s"refreshed $name equals cold build") { expected.get(s"layout_$name").exists(_.matches(fp())) }
    }
    val (cluster, bigram) = graft.perfbench.Internals.mergeTaken(spark, full, prev)
    layer("layouts.merge_taken.ClusterAssignment") = if (cluster) 1 else 0
    layer("layouts.merge_taken.BigramLm") = if (bigram) 1 else 0
  }

  /** Fingerprints of the six layouts the refresh path rewrites, read back
    * for corpus `dir`.
    */
  private def refreshedLayouts(dir: String): Seq[(String, () => Fingerprint)] = {
    import graft.sources._
    Seq(
      "DocFingerprints" -> (() => Gate.fingerprint(DocFingerprints(spark, dir))),
      "TermStats" -> (() => Gate.fingerprint(TermStats(spark, dir))),
      "ShinglePostings" -> (() => Gate.fingerprint(ShinglePostings(spark, dir))),
      "BucketedEmbeddings" -> (() => Gate.fingerprint(BucketedEmbeddings(spark, dir))),
      "ClusterAssignment" -> (() => Gate.fingerprint(ClusterAssignment(spark, dir))),
      "BigramLm" -> (() => {
        val m = BigramLm.model(spark, dir)
        Fingerprint(m._1.size, scala.util.hashing.MurmurHash3.stringHash(m.toString), 0.0, 0.0)
      }))
  }

  // ---- per-layer metrics --------------------------------------------------

  private def collectLayer(): Unit = {
    tracer.drain()
    val qs = tracer.of("query")
    val perPass = math.max(1, iterWalls.size).toDouble
    val qc = new Counts
    qs.foreach(s => qc.add(tracer.inclusive(s.id)))
    val qWall = qs.map(_.seconds).sum
    def put(k: String, v: Double): Unit = layer(k) = v
    put("queries.jobs", qc.jobs / perPass)
    put("queries.stages", qc.stages / perPass)
    put("queries.tasks", qc.tasks / perPass)
    put("queries.tasks_failed", qc.tasksFailed / perPass)
    put("queries.shuffle_read_bytes", qc.shuffleReadBytes / perPass)
    put("queries.shuffle_write_bytes", qc.shuffleWriteBytes / perPass)
    put("queries.spill_bytes", qc.spillBytes / perPass)
    put("queries.executor_run_s", qc.runMs / 1e3 / perPass)
    put("queries.sched_delay_s", qc.schedDelayMs / 1e3 / perPass)
    put("queries.gc_s", qc.gcMs / 1e3 / perPass)
    put("queries.parallel_eff", if (qWall > 0) qc.runMs / 1e3 / (qWall * cores) else 0.0)
    put("queries.task_skew", if (qs.isEmpty) 0.0 else median(qs.map(s => tracer.inclusive(s.id).skew)))
    Families.foreach { case (f, _) =>
      put(s"queries.family.${f}_s", qs.filter(_.attrs.get("family").contains(f)).map(_.seconds).sum / perPass)
    }

    Kernels.Names.foreach { k =>
      if (!layer.contains(s"kernels.$k.rows_per_s")) put(s"kernels.$k.rows_per_s", 0.0)
    }
    val builds = tracer.of("layout.build")
    val refreshes = tracer.of("layout.refresh")
    val names = layouts(spark, dataDir).map(_._1)
    names.foreach { n =>
      put(s"layouts.$n.build_s", builds.filter(_.name == n).lastOption.map(_.seconds).getOrElse(0.0))
      if (!layer.contains(s"layouts.$n.bytes")) put(s"layouts.$n.bytes", 0.0)
    }
    refreshers(spark, dataDir, dataDir).map(_._1).foreach { n =>
      put(s"layouts.$n.refresh_s", refreshes.filter(_.name == n).map(_.seconds).sum)
    }
    Seq("ClusterAssignment", "BigramLm").foreach { n =>
      if (!layer.contains(s"layouts.merge_taken.$n")) put(s"layouts.merge_taken.$n", 0.0)
    }
    put("layouts.jobs", (builds ++ refreshes).map(s => tracer.inclusive(s.id).jobs).sum.toDouble)

    // timed calls when a mode ran in the timed part, else its untimed call
    val iterations = tracer.of("iteration").map(_.id).toSet
    val runs = tracer.of("jobrunner")
    def calls(mode: String): Seq[Span] = {
      val all = runs.filter(_.name == mode)
      val timed = all.filter(s => iterations(s.parent))
      if (timed.nonEmpty) timed else all
    }
    Seq("ingest", "curate", "train", "features", "test").foreach { m =>
      put(s"jobs.${m}_s", median(calls(m).map(_.seconds)))
    }
    lifecycleStageSpecs.map(_.op).foreach { o =>
      if (!layer.contains(s"stages.$o.s")) { put(s"stages.$o.s", 0.0); put(s"stages.$o.rows_out", 0.0) }
    }
    val trains = calls("train")
    put("ml.train_jobs", trains.lastOption.map(s => tracer.inclusive(s.id).jobs.toDouble).getOrElse(0.0))
    put("ml.train_iter_s", median(trains.map(_.seconds)) / TrainIters)

    import scala.jdk.CollectionConverters._
    val mx = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    put("jvm.gc_s", mx.map(_.getCollectionTime).sum / 1e3)
    put("jvm.heap_peak_mb", java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0)
    put("jvm.jit_compile_s",
      java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3)
  }

  private def result(): String = {
    val opsJson = ops.map(o => s"""{"name":${Json.str(o.name)},"s":${o.seconds},"ok":${o.ok}}""")
      .mkString("[", ",", "]")
    val spansFile = if (traced) {
      val p = root.resolve("spans.json")
      Files.writeString(p, tracer.toJson)
      Json.str(p.toString)
    } else "null"
    Json.obj(Seq(
      "workload" -> Json.str(workload),
      "setup_s" -> Json.num(setupS),
      "ops" -> opsJson,
      "iter_walls" -> iterWalls.map(Json.num).mkString("[", ",", "]"),
      "iter_cpu" -> iterCpu.map(Json.num).mkString("[", ",", "]"),
      "iter_jobs" -> iterJobs.mkString("[", ",", "]"),
      "stored_bytes" -> storedBytes.toString,
      "input_bytes" -> inputBytes.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "mismatches" -> mismatches.map(Json.str).mkString("[", ",", "]"),
      "layer" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) }),
      "spans" -> spansFile))
  }
}
