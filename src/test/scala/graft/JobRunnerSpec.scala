package graft

import graft.jobs.{JobConfig, JobRunner, SourceSpec}
import org.apache.spark.sql.functions._

/** The declared-job lifecycle end to end FROM CONFIG ALONE — the
  * reference's `spark-submit -train -conf solver.prototxt` contract
  * (CaffeOnSpark.scala:27-84) on the Spark-native engine: a JSON document
  * names the source/columns/hyper-parameters, the CLI flags pick the mode,
  * and no Scala wiring appears anywhere in the "user" code below.
  */
class JobRunnerSpec extends SparkSpec {

  private def writeConf(json: String): String = {
    val p = java.nio.file.Files.createTempFile("job", ".json")
    java.nio.file.Files.writeString(p, json)
    p.toString
  }

  // full-chain output fingerprint, pinned on the fixed sf0.001 corpus
  // (round 13); re-pin ONLY after hand-verifying an intentional stage change
  private val PinnedChainHash = -8632220971499603254L
  private val PinnedChainCount = 415L

  test("declared train -> features -> test lifecycle from one config document") {
    val work = java.nio.file.Files.createTempDirectory("jobrun").toString
    // a labeled copy of the embeddings table is the declared source
    Tables(spark, sf, "embeddings")
      .withColumn("y", when(expr("embedding[0] + embedding[1]") > 0, 1).otherwise(0))
      .write.mode("overwrite").parquet(s"$work/train")
    // the held-out frame has ALL-ZERO features: dot(w, 0) = 0 exactly, so a
    // -test that truly reads it must report ip1 mean 0.0 / prob mean 0.5 —
    // bit-exact evidence it did not silently evaluate the training source
    Tables(spark, sf, "embeddings")
      .withColumn("embedding", expr("transform(embedding, x -> CAST(0.0 AS FLOAT))"))
      .withColumn("y", lit(0))
      .write.mode("overwrite").parquet(s"$work/val")
    val conf = writeConf(
      s"""{
         |  "source": {"path": "$work/train", "labelCol": "y"},
         |  "validation": {"path": "$work/val", "labelCol": "y"},
         |  "dim": 64, "lr": 2.0, "iters": 20, "validateEvery": 10,
         |  "model": "$work/model",
         |  "output": "$work/out",
         |  "outputFormat": "parquet"
         |}""".stripMargin)

    // -train: fits, snapshots weights, writes the validation-metric frame
    JobRunner.run(spark, JobRunner.parse(Array("-train", "-conf", conf)))
    val w = graft.ml.LogisticRegression.loadWeights(spark, s"$work/model")
    assert(w.length == 64 && w.exists(_ != 0d))
    val metrics = spark.read.parquet(s"$work/out/validation_metrics")
    assert(metrics.columns.toSeq == Seq("iteration", "accuracy", "loss"))
    assert(metrics.count() >= 2)

    // -features -test: loads the snapshot, writes both artifacts
    JobRunner.run(spark,
      JobRunner.parse(Array("-features", "-test", "-conf", conf)))
    val feats = spark.read.parquet(s"$work/out/features")
    assert(feats.columns.toSeq == Seq("SampleID", "ip1", "prob"))
    assert(feats.count() == spark.read.parquet(s"$work/train").count())
    val testJson = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$work/out/test_result.json"))
    assert(testJson.contains("\"prob\"") && testJson.contains("\"ip1\""))
    // the zero-feature held-out source, not the training source (see above)
    assert(testJson.contains("\"ip1\": [0.0]"))
    assert(testJson.contains("\"prob\": [0.5, 0.5]"))

    // CLI -model override beats the file's path
    JobRunner.run(spark, JobRunner.parse(
      Array("-train", "-conf", conf, "-model", s"$work/model2")))
    assert(graft.ml.LogisticRegression
      .loadWeights(spark, s"$work/model2").length == 64)

    // declared blob subset (the reference's -features blob-name list):
    // only the named output columns ride, SampleID always present
    JobRunner.run(spark, JobRunner.parse(
      Array("-features", "-conf", conf, "-featureBlobs", "prob",
        "-output", s"$work/out_sel")))
    val sel = spark.read.parquet(s"$work/out_sel/features")
    assert(sel.columns.toSeq == Seq("SampleID", "prob"))
    // an unknown blob name fails at parse time
    intercept[IllegalArgumentException] {
      JobRunner.parse(Array("-features", "-conf", conf, "-featureBlobs", "ip9"))
    }
  }

  test("declared multi-class lifecycle: classes=3 routes the whole chain to the softmax head") {
    val work = java.nio.file.Files.createTempDirectory("jobsm").toString
    Tables(spark, sf, "embeddings")
      .withColumn("y", expr(
        "CASE WHEN embedding[0] >= embedding[1] AND embedding[0] >= embedding[2] THEN 0 " +
          "WHEN embedding[1] >= embedding[2] THEN 1 ELSE 2 END"))
      .write.mode("overwrite").parquet(s"$work/train")
    // all-zero held-out features: every logit is exactly 0, so a -test that
    // truly evaluated it reports ip1 mean [0,0,0] / prob mean [1/3,1/3,1/3]
    Tables(spark, sf, "embeddings")
      .withColumn("embedding", expr("transform(embedding, x -> CAST(0.0 AS FLOAT))"))
      .withColumn("y", lit(0))
      .write.mode("overwrite").parquet(s"$work/val")
    val conf = writeConf(
      s"""{
         |  "source": {"path": "$work/train", "labelCol": "y"},
         |  "validation": {"path": "$work/val", "labelCol": "y"},
         |  "dim": 64, "classes": 3, "lr": 2.0, "iters": 20, "validateEvery": 10,
         |  "model": "$work/model",
         |  "output": "$work/out",
         |  "outputFormat": "parquet"
         |}""".stripMargin)
    JobRunner.run(spark, JobRunner.parse(Array("-train", "-conf", conf)))
    // the snapshot is the flattened 3x64 matrix through the same K5 writer
    val w = graft.ml.LogisticRegression.loadWeights(spark, s"$work/model")
    assert(w.length == 3 * 64 && w.exists(_ != 0d))
    JobRunner.run(spark,
      JobRunner.parse(Array("-features", "-test", "-conf", conf)))
    val feats = spark.read.parquet(s"$work/out/features")
    assert(feats.columns.toSeq == Seq("SampleID", "ip1", "prob"))
    // k-wide blobs
    val r0 = feats.head()
    assert(r0.getSeq[Float](1).length == 3 && r0.getSeq[Float](2).length == 3)
    val testJson = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$work/out/test_result.json"))
    assert(testJson.contains("\"ip1\": [0.0, 0.0, 0.0]"), testJson)
    // zero logits → uniform softmax; the mean is a float-promoted double
    // sum (not decimal-exact), so compare numerically
    val probs = testJson.linesIterator.find(_.contains("\"prob\""))
      .get.split("[\\[\\]]")(1).split(",").map(_.trim.toDouble)
    assert(probs.length == 3 && probs.forall(p => math.abs(p - 1.0 / 3) < 1e-6),
      testJson)
    // a classes=1 declaration is refused at parse time
    val bad = writeConf(
      s"""{"source": {"path": "$work/train"}, "dim": 64, "classes": 1,
         |"model": "$work/m"}""".stripMargin)
    intercept[IllegalArgumentException] {
      JobRunner.parse(Array("-train", "-conf", bad))
    }
  }

  test("declared transform block: corpus mean computed at train, applied by features (P10 normalize)") {
    val work = java.nio.file.Files.createTempDirectory("jobnorm").toString
    Tables(spark, sf, "embeddings")
      .withColumn("y", when(expr("embedding[0] + embedding[1]") > 0, 1).otherwise(0))
      .write.mode("overwrite").parquet(s"$work/train")
    val conf = writeConf(
      s"""{
         |  "source": {"path": "$work/train", "labelCol": "y"},
         |  "dim": 64, "lr": 2.0, "iters": 10,
         |  "model": "$work/model",
         |  "output": "$work/out",
         |  "outputFormat": "parquet",
         |  "transform": {"scale": 2.0, "computeMean": true}
         |}""".stripMargin)
    JobRunner.run(spark,
      JobRunner.parse(Array("-train", "-features", "-conf", conf)))
    // the mean blob persisted next to the model (compute_image_mean role)
    // and equals the corpus element-wise mean
    val mean = graft.ml.LogisticRegression.loadWeights(spark, s"$work/model.mean")
    assert(mean.length == 64)
    // features of a chosen sample = sigmoid(dot(w, (x - mean) * scale)):
    // recompute by hand with the engine's exact float arithmetic
    // (FloatVectorDot: float operands, sequential double accumulation)
    val w = graft.ml.LogisticRegression.loadWeights(spark, s"$work/model")
    val row = spark.read.parquet(s"$work/train")
      .filter(col("vec_id") === 7L).select("embedding").head()
    val x = row.getSeq[Float](0)
    val z = x.indices.foldLeft(0.0) { (acc, i) =>
      acc + w(i).toFloat.toDouble * ((x(i) - mean(i).toFloat) * 2.0f).toDouble
    }
    val p = 1.0 / (1.0 + math.exp(-z))
    val got = spark.read.parquet(s"$work/out/features")
      .filter(col("SampleID") === "7").head()
    assert(math.abs(got.getSeq[Float](1).head - z.toFloat) <= math.ulp(z.toFloat),
      s"z mismatch: got ${got.getSeq[Float](1).head}, expected $z")
    assert(math.abs(got.getSeq[Float](2).head - p.toFloat) <= math.ulp(p.toFloat))
    // a run WITHOUT the transform must differ (normalization is real)
    val confPlain = writeConf(
      s"""{
         |  "source": {"path": "$work/train", "labelCol": "y"},
         |  "dim": 64, "lr": 2.0, "iters": 10,
         |  "model": "$work/model_plain", "output": "$work/out_plain",
         |  "outputFormat": "parquet"
         |}""".stripMargin)
    JobRunner.run(spark,
      JobRunner.parse(Array("-train", "-features", "-conf", confPlain)))
    val wPlain = graft.ml.LogisticRegression.loadWeights(spark, s"$work/model_plain")
    assert(!w.sameElements(wPlain), "transform had no effect on training")
  }

  test("transform config validation: computeMean and meanValues are exclusive; scale non-zero") {
    intercept[IllegalArgumentException](JobConfig.fromJson(
      """{"source": {"path": "/x"}, "dim": 4,
        |"transform": {"computeMean": true, "meanValues": [1.0]}}""".stripMargin))
    intercept[IllegalArgumentException](JobConfig.fromJson(
      """{"source": {"path": "/x"}, "dim": 4, "transform": {"scale": 0.0}}""".stripMargin))
    intercept[IllegalArgumentException](JobConfig.fromJson(
      """{"source": {"path": "/x"}, "dim": 4, "transform": {"bogus": 1.0}}""".stripMargin))
    val t = JobConfig.fromJson(
      """{"source": {"path": "/x"}, "dim": 4,
        |"transform": {"scale": 0.5, "meanValues": [104.0, 117.0, 123.0]}}""".stripMargin)
      .transform.get
    assert(t.scale == 0.5 && t.meanValues == Seq(104.0, 117.0, 123.0) && !t.computeMean)
  }

  test("declared curation pipeline runs end-to-end from JSON alone") {
    val work = java.nio.file.Files.createTempDirectory("jobcurate").toString
    val conf = writeConf(
      s"""{
         |  "source": {"path": "$sf", "table": "documents", "idCol": "doc_id"},
         |  "output": "$work/out", "outputFormat": "parquet",
         |  "stages": [
         |    {"op": "exact_dedup"},
         |    {"op": "span_dedup", "spanTokens": 8},
         |    {"op": "near_dedup", "threshold": 0.5},
         |    {"op": "embed_near_dedup", "minDot": 0.45},
         |    {"op": "semantic_dedup", "clusters": 8, "minDot": 0.45},
         |    {"op": "decontaminate", "holdoutSource": "src19", "minShared": 2},
         |    {"op": "pii_scrub"},
         |    {"op": "quality_filter", "minScore": 0.0},
         |    {"op": "perplexity_filter", "maxPercentile": 0.75},
         |    {"op": "temperature_mix", "alpha": 0.5, "budgetDocs": 200},
         |    {"op": "assign_split", "trainPct": 80, "valPct": 10},
         |    {"op": "pack", "tokenBudget": 256}
         |  ]
         |}""".stripMargin)
    JobRunner.run(spark, JobRunner.parse(Array("-curate", "-conf", conf)))
    val corpus = spark.read.parquet(s"$work/out/corpus")
    val input = Tables(spark, sf, "documents")
    // the funnel dropped rows at dedup/decontaminate/quality/mix stages
    val n = corpus.count()
    assert(n > 0 && n < input.count(), s"corpus kept $n rows")
    // pack appended its packing columns on top of the document schema;
    // assign_split added the split column upstream of it
    assert(Seq("doc_id", "lang", "source", "n_tok", "cum_tok", "bin", "split")
      .forall(corpus.columns.contains))
    assert(corpus.select("split").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(Set("train", "val", "test")))
    // pii_scrub rewrote text: every digit run became a placeholder token
    assert(corpus.filter(col("text").rlike("[0-9]")).count() == 0)
    // decontaminate removed the held-out source entirely
    assert(corpus.filter(col("source") === "src19").count() == 0)
    // determinism: the declared pipeline is reproducible bit-for-bit
    JobRunner.run(spark, JobRunner.parse(
      Array("-curate", "-conf", conf, "-output", s"$work/out2")))
    val again = spark.read.parquet(s"$work/out2/corpus")
    assert(corpus.exceptAll(again).isEmpty && again.exceptAll(corpus).isEmpty)
  }

  test("multimodal curation join: image+text training table from JSON alone") {
    val work = java.nio.file.Files.createTempDirectory("jobmm").toString
    val conf = writeConf(
      s"""{
         |  "source": {"path": "$sf", "table": "documents", "idCol": "doc_id"},
         |  "output": "$work/out", "outputFormat": "parquet",
         |  "stages": [
         |    {"op": "exact_dedup"},
         |    {"op": "assign_split", "trainPct": 80, "valPct": 10},
         |    {"op": "multimodal_join", "broadcast": true},
         |    {"op": "chunk", "chunkTokens": 32, "stride": 24}
         |  ]
         |}""".stripMargin)
    JobRunner.run(spark, JobRunner.parse(Array("-curate", "-conf", conf)))
    val out = spark.read.parquet(s"$work/out/corpus")
    // the joined table carries text chunks AND the media-side embedding,
    // with split provenance intact on every row
    assert(Seq("doc_id", "text", "embedding", "split", "chunk_start")
      .forall(out.columns.contains), out.columns.mkString(","))
    assert(out.count() > 0)
    assert(out.filter(col("embedding").isNull).count() == 0,
      "inner join must not leave null media")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // join key semantics: each surviving doc matched its vec_id row
    val sample = out.select("doc_id", "embedding").distinct().limit(5).collect()
    sample.foreach { r =>
      val expect = emb.filter(col("vec_id") === r.getLong(0))
        .select("embedding").collect().head.getSeq[Float](0)
      assert(r.getSeq[Float](1) == expect)
    }
    // plan guard: broadcast:true pins a broadcast join (the media side is
    // declared dimension-sized); no shuffle of the corpus on the dim side
    val plan = graft.jobs.CurationStages(
      Tables(spark, sf, "documents"),
      graft.jobs.StageSpec("multimodal_join", Map(
        "embeddings" -> s"$sf/embeddings.parquet", "broadcast" -> true)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
    // how:left keeps docs without a media row
    val left = graft.jobs.CurationStages(
      Tables(spark, sf, "documents").limit(50),
      graft.jobs.StageSpec("multimodal_join", Map(
        "embeddings" -> s"$sf/embeddings.parquet", "how" -> "left")))
    assert(left.count() == 50)
  }

  test("full round-12 stage chain e2e: image/semantic dedup -> mix -> split -> chunk -> pack, output pinned") {
    // the stage interactions under regression lock: provenance columns
    // (split, bins) must ride THROUGH the dedup joins, the mix gate must
    // see post-dedup language counts, and pack must window over the
    // chunked rows — a breakage anywhere reorders/changes rows and moves
    // the pinned fingerprint
    val work = java.nio.file.Files.createTempDirectory("jobfull").toString
    val conf = writeConf(
      s"""{
         |  "source": {"path": "$sf", "table": "documents", "idCol": "doc_id"},
         |  "output": "$work/out", "outputFormat": "parquet",
         |  "stages": [
         |    {"op": "image_near_dedup", "maxHamming": 3},
         |    {"op": "semantic_dedup", "clusters": 8, "minDot": 0.25},
         |    {"op": "temperature_mix", "alpha": 0.5, "budgetDocs": 400},
         |    {"op": "assign_split", "trainPct": 80, "valPct": 10},
         |    {"op": "chunk", "chunkTokens": 32, "stride": 24},
         |    {"op": "pack", "tokenBudget": 256}
         |  ]
         |}""".stripMargin)
    JobRunner.run(spark, JobRunner.parse(Array("-curate", "-conf", conf)))
    val corpus = spark.read.parquet(s"$work/out/corpus")
    val n = corpus.count()
    assert(n > 0, "chain produced an empty corpus")
    // structural invariants of the composed chain
    assert(Seq("doc_id", "split", "chunk_start", "n_tok", "cum_tok", "bin")
      .forall(corpus.columns.contains), corpus.columns.mkString(","))
    assert(corpus.select("split").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(Set("train", "val", "test")))
    // order-insensitive content fingerprint (xor of row hashes; sum overflows
    // under ANSI mode) over every column; the count
    // and sum pin the exact output of the chain on the fixed sf0.001
    // corpus — any semantic change to any stage (or a provenance column
    // lost in a join) moves at least one of them
    val cols = corpus.columns.sorted.map(col)
    val fp = corpus.agg(
      bit_xor(xxhash64(cols: _*)).as("h"), count(lit(1)).as("n")).head()
    val (gotH, gotN) = (fp.getLong(0), fp.getLong(1))
    // determinism first: the identical declaration reproduces the corpus
    JobRunner.run(spark, JobRunner.parse(
      Array("-curate", "-conf", conf, "-output", s"$work/out2")))
    val again = spark.read.parquet(s"$work/out2/corpus")
    val fp2 = again.agg(
      bit_xor(xxhash64(again.columns.sorted.map(col): _*)).as("h"),
      count(lit(1)).as("n")).head()
    assert((fp2.getLong(0), fp2.getLong(1)) == ((gotH, gotN)),
      "declared chain is not deterministic")
    // pinned fingerprint (sf0.001 corpus is driver-fixed): recorded from
    // the round-13 run — see assertion message for re-pinning protocol
    val (pinH, pinN) = (PinnedChainHash, PinnedChainCount)
    assert((gotH, gotN) == ((pinH, pinN)),
      s"chain output moved: hash=$gotH count=$gotN (pinned $pinH/$pinN). " +
        "If a stage change is INTENTIONAL, re-pin after verifying the new " +
        "output by hand; an unintentional move is a stage-interaction bug.")
  }

  test("round-15 chain e2e: importance_resample -> multimodal_join -> pq_encode from JSON alone") {
    // the DSIR sample gates the corpus, the join attaches embeddings to
    // the survivors, and pq_encode compresses them against the persisted
    // trained codebooks — the declared form of a select-then-compress
    // curation pass. Determinism comes free (derandomized Gumbel +
    // held-fixed codebooks), so the whole chain re-runs identically.
    val work = java.nio.file.Files.createTempDirectory("jobdsir").toString
    val conf = writeConf(
      s"""{
         |  "source": {"path": "$sf", "table": "documents", "idCol": "doc_id"},
         |  "output": "$work/out", "outputFormat": "parquet",
         |  "stages": [
         |    {"op": "importance_resample", "budgetDocs": 60,
         |     "targetSources": "src1,src2,src3"},
         |    {"op": "multimodal_join"},
         |    {"op": "pq_encode"}
         |  ]
         |}""".stripMargin)
    JobRunner.run(spark, JobRunner.parse(Array("-curate", "-conf", conf)))
    val corpus = spark.read.parquet(s"$work/out/corpus")
    val n = corpus.count()
    assert(n > 0 && n <= 60, s"expected ≤60 sampled docs, got $n")
    assert(corpus.columns.contains("pq_code") &&
      !corpus.columns.contains("embedding"),
      s"pq_encode must replace the embedding: ${corpus.columns.mkString(",")}")
    assert(corpus.columns.contains("text"), "doc provenance must ride the join")
    // selection matches the registered operator's top-60 sample ∩ join
    val expected = queries.TextOps.importanceScored(Tables(spark, sf, "documents"))
      .orderBy(col("gkey").desc, col("doc_id")).limit(60)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.subsetOf(expected), "chain kept a doc outside the DSIR sample")
    // identical declaration reproduces the corpus bit-for-bit
    JobRunner.run(spark, JobRunner.parse(
      Array("-curate", "-conf", conf, "-output", s"$work/out2")))
    val again = spark.read.parquet(s"$work/out2/corpus")
    val fpOf = (df: org.apache.spark.sql.DataFrame) => df.agg(
      bit_xor(xxhash64(df.columns.sorted.map(col): _*)).as("h"),
      count(lit(1)).as("n")).head()
    assert(fpOf(corpus) == fpOf(again), "declared chain is not deterministic")
  }

  test("lifecycle job counts per mode are pinned on the perfbench chain") {
    // at this size each Spark job costs ~25-80 ms, so a redundant action —
    // a curate stage re-running its upstream chain, a schema-inference
    // read of a snapshot or a source, a separate count before the gradient
    // loop, one aggregation pass per test blob — is the cost. The chain and the ML
    // job are perfbench's lifecycle workload (perfbench/src/perfbench/
    // Main.scala), here over sf0.001 with the vec_id % 10 == 1 holdout.
    val work = java.nio.file.Files.createTempDirectory("joblife").toString
    val emb = Tables(spark, sf, "embeddings")
    emb.filter(col("vec_id") % 10 =!= 1).write.mode("overwrite").parquet(s"$work/train")
    emb.filter(col("vec_id") % 10 === 1).write.mode("overwrite").parquet(s"$work/val")
    val curate = writeConf(
      s"""{"source": {"path": "$sf", "table": "documents", "idCol": "doc_id"},
         |"output": "$work/curated", "outputFormat": "parquet",
         |"stages": [
         |  {"op": "exact_dedup"},
         |  {"op": "near_dedup", "threshold": 0.5},
         |  {"op": "pii_scrub"},
         |  {"op": "quality_filter", "minScore": 0.0},
         |  {"op": "temperature_mix", "alpha": 0.5, "budgetDocs": 50000},
         |  {"op": "multimodal_join"},
         |  {"op": "pq_encode"},
         |  {"op": "pack", "tokenBudget": 256}]}""".stripMargin)
    val ml = writeConf(
      s"""{"source": {"path": "$work/train", "labelCol": "label"},
         |"validation": {"path": "$work/val", "labelCol": "label"},
         |"dim": 64, "lr": 1.0, "iters": 20, "validateEvery": 10,
         |"model": "$work/model", "output": "$work/ml_out",
         |"outputFormat": "parquet"}""".stripMargin)
    def modeJobs(tag: String): Seq[(String, Int)] =
      Seq("curate" -> curate, "train" -> ml, "features" -> ml, "test" -> ml).map {
        case (mode, conf) => mode -> countingJobs(s"lifecycle-$tag-$mode")(
          JobRunner.run(spark, JobRunner.parse(Array(s"-$mode", "-conf", conf))))._2
      }
    // two passes build the layouts the chain reads, then load and memoize
    // them; the counted pass starts, like each perfbench iteration, from
    // an empty cache manager after an earlier chain
    for (i <- 1 to 2) { modeJobs(s"warm$i"); Caches.clearAll(spark) }
    val jobs = modeJobs("counted")
    // curate: temperature_mix's composition-time collect must not run the
    // upstream chain a second time, near_dedup builds q21's postings in
    // one job, not one per scan, and shuffles and broadcasts its per-doc
    // sizes once (the second branch reuses the exchange over the built
    // cache), and its drop set is a filter of the
    // labels (no argmin join whose broadcast-or-shuffle choice hangs on
    // stage timing); train: one job per gradient step and
    // per validation pass plus the writes, no separate count; features
    // and test: ONE job to load the weights, and test aggregates both
    // blobs in one pass; every mode: its parquet sources (curate's
    // documents and multimodal_join's embeddings, train's and validation's
    // snapshots, the features and test source) are read footer-typed, with
    // no schema-inference job
    assert(jobs == Seq("curate" -> 20, "train" -> 24, "features" -> 2, "test" -> 3),
      s"lifecycle jobs per mode moved: $jobs")
  }

  test("a curate with composition-time persists leaves the persisted-RDD set as it found it") {
    import graft.jobs.{CurationStages, StageSpec}
    import org.apache.spark.storage.StorageLevel
    // CurationStages.run releases each input it persisted — blocks AND
    // cache-manager entry — once the sink has written: a frame with
    // temperature_mix's input plan (the docs under the marker column) is
    // cached while the chain is written and uncached after
    val docs = Tables(spark, sf, "documents")
    val flowPlan = docs.withColumn("__flow", lit(true))
    var during = StorageLevel.NONE
    CurationStages.run(docs,
        Seq(StageSpec("temperature_mix", Map("budgetDocs" -> 200.0)))) { out =>
      out.write.format("noop").mode("overwrite").save()
      during = flowPlan.storageLevel
    }
    assert(during == StorageLevel.MEMORY_AND_DISK && flowPlan.storageLevel == StorageLevel.NONE)
    // and a -curate job releases exactly the RDDs it persisted
    val work = java.nio.file.Files.createTempDirectory("jobleak").toString
    val conf = writeConf(
      s"""{"source": {"path": "$sf", "table": "documents", "idCol": "doc_id"},
         |"output": "$work/out", "outputFormat": "parquet",
         |"stages": [{"op": "exact_dedup"}, {"op": "near_dedup", "threshold": 0.5},
         |  {"op": "temperature_mix", "alpha": 0.5, "budgetDocs": 200}]}""".stripMargin)
    val atStart = spark.sparkContext.getPersistentRDDs.keySet
    JobRunner.run(spark, JobRunner.parse(Array("-curate", "-conf", conf)))
    assert(spark.sparkContext.getPersistentRDDs.keySet == atStart,
      "the curate job left persisted RDDs behind")
  }

  /** Two identical `-curate` runs of `stages` over one path write the same
    * corpus, and a third over the same path with its files replaced
    * outside Spark (a Spark write would refresh cache entries over the
    * path) sees only the new files. A frame a stage persists must leave
    * the cache manager with the job: an entry left behind is returned by
    * the next run's persist of the same plan and read through the first
    * run's lineage, which holds the old file listing.
    */
  private def assertRerunReadsAfresh(tag: String, stages: String): Unit = {
    val work = java.nio.file.Files.createTempDirectory(s"jobrerun-$tag").toString
    val docs = Tables(spark, sf, "documents")
    def stage(dir: String, rows: org.apache.spark.sql.DataFrame): Unit =
      rows.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def curate(dir: String, out: String): org.apache.spark.sql.DataFrame = {
      val conf = writeConf(
        s"""{"source": {"path": "$dir", "table": "documents", "idCol": "doc_id"},
           |"output": "$out", "outputFormat": "parquet",
           |"stages": $stages}""".stripMargin)
      JobRunner.run(spark, JobRunner.parse(Array("-curate", "-conf", conf)))
      spark.read.parquet(s"$out/corpus")
    }
    stage(s"$work/a", docs)
    val first = curate(s"$work/a", s"$work/out1")
    val again = curate(s"$work/a", s"$work/out1b")
    assert(first.exceptAll(again).isEmpty && again.exceptAll(first).isEmpty,
      "two identical -curate runs wrote different corpora")
    stage(s"$work/b", docs.filter(col("doc_id") % 2 === 0))
    val (from, to) = (java.nio.file.Paths.get(s"$work/b/documents.parquet"),
      java.nio.file.Paths.get(s"$work/a/documents.parquet"))
    scala.util.Using.resource(java.nio.file.Files.walk(to))(
      _.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_)))
    scala.util.Using.resource(java.nio.file.Files.walk(from))(_.forEach { p =>
      java.nio.file.Files.copy(p, to.resolve(from.relativize(p)))
    })
    val rewritten = curate(s"$work/a", s"$work/out2")
    val fresh = curate(s"$work/b", s"$work/out3")
    assert(rewritten.count() == fresh.count() && rewritten.exceptAll(fresh).isEmpty,
      "a -curate over a rewritten source read the earlier run's cache")
  }

  test("two -curate runs with near_dedup in one session: the second reads its source afresh") {
    // q21's postings, built by Caches.persistNow
    assertRerunReadsAfresh("near", """[{"op": "near_dedup", "threshold": 0.5}]""")
  }

  test("two -curate runs with a bigram perplexity_filter: the second reads its source afresh") {
    // q118's tokenized frame, persisted by Caches.persist and built by the
    // bigram model's first collect
    assertRerunReadsAfresh("ppl2", """[{"op": "perplexity_filter", "order": 2}]""")
  }

  test("repetition_filter is a declared op: parsed from JSON and run by -curate") {
    val work = java.nio.file.Files.createTempDirectory("jobrep").toString
    val json =
      s"""{"source": {"path": "$sf", "table": "documents", "idCol": "doc_id"},
         |"output": "$work/out", "outputFormat": "parquet",
         |"stages": [{"op": "repetition_filter"}]}""".stripMargin
    assert(JobConfig.fromJson(json).stages == Seq(graft.jobs.StageSpec("repetition_filter")))
    JobRunner.run(spark, JobRunner.parse(Array("-curate", "-conf", writeConf(json))))
    val kept = spark.read.parquet(s"$work/out/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // q96's keep side: the docs its audit does not gate
    val q96kept = queries.CurationOps.q96RepetitionFilter.fn(spark, sf).collect()
      .filter(_.getBoolean(7)).map(_.getLong(0)).toSet
    assert(kept == q96kept && kept.nonEmpty)
  }

  test("bpe_annotate stage: post-BPE sequence lengths ride the declared chain (q84 parity)") {
    val work = java.nio.file.Files.createTempDirectory("jobbpe").toString
    // pass-through chain: the stage alone, so the learned tokenizer is
    // q84's (same corpus) and n_sym must match it row-for-row
    val conf = writeConf(
      s"""{
         |  "source": {"path": "$sf", "table": "documents", "idCol": "doc_id"},
         |  "output": "$work/out", "outputFormat": "parquet",
         |  "stages": [{"op": "bpe_annotate"}]
         |}""".stripMargin)
    JobRunner.run(spark, JobRunner.parse(Array("-curate", "-conf", conf)))
    val out = spark.read.parquet(s"$work/out/corpus")
    assert(out.columns.contains("n_sym"))
    val q84 = queries.TextOps.q84BpeApply.fn(spark, sf)
      .select(col("doc_id"), col("n_sym").as("ns_q84"))
    val joined = out.join(q84, "doc_id")
    assert(joined.count() == out.count())
    assert(joined.filter(col("n_sym") =!= col("ns_q84")).count() == 0,
      "stage n_sym diverged from q84 on the identical corpus")
    // after dedup, the tokenizer retrains on the CURATED frame — the
    // stage still annotates every surviving row
    val conf2 = writeConf(
      s"""{
         |  "source": {"path": "$sf", "table": "documents", "idCol": "doc_id"},
         |  "output": "$work/out2", "outputFormat": "parquet",
         |  "stages": [{"op": "exact_dedup"}, {"op": "bpe_annotate"}]
         |}""".stripMargin)
    JobRunner.run(spark, JobRunner.parse(Array("-curate", "-conf", conf2)))
    val out2 = spark.read.parquet(s"$work/out2/corpus")
    assert(out2.filter(col("n_sym") <= 0).count() == 0, "unannotated rows")
    // mergesFrom=corpus: the stage LOADS the stamped BpeMerges artifact
    // (train-once/apply-everywhere) instead of retraining on the flow, so
    // even after dedup the annotations match q84's corpus-level lengths
    val conf3 = writeConf(
      s"""{
         |  "source": {"path": "$sf", "table": "documents", "idCol": "doc_id"},
         |  "output": "$work/out3", "outputFormat": "parquet",
         |  "stages": [{"op": "exact_dedup"},
         |             {"op": "bpe_annotate", "mergesFrom": "corpus"}]
         |}""".stripMargin)
    JobRunner.run(spark, JobRunner.parse(Array("-curate", "-conf", conf3)))
    val out3 = spark.read.parquet(s"$work/out3/corpus")
    val j3 = out3.join(q84, "doc_id")
    assert(j3.count() == out3.count())
    assert(j3.filter(col("n_sym") =!= col("ns_q84")).count() == 0,
      "corpus-artifact annotations diverged from q84 on surviving rows")
  }

  test("BpeMerges artifact: stamped layout rows == inline training, q82 reads it back") {
    val inline = queries.TextOps.learnBpeMerges(spark, sf)
    val artifact = sources.BpeMerges(spark, sf)
    assert(artifact == inline, "persisted merge table diverged from the trainer")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(sources.BpeMerges.layoutPath(sf), "_SUCCESS")))
    // q82's output is the artifact verbatim
    val q82 = queries.TextOps.q82BpeMerges.fn(spark, sf).collect()
    assert(q82.length == artifact.length)
    q82.zip(artifact).foreach { case (r, (rr, pa, pb, m, c)) =>
      assert((r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4)) == ((rr, pa, pb, m, c)))
    }
  }

  test("-ingest builds every derived layout; -from refreshes the append-aware layers") {
    import java.nio.file.{Files, Paths}
    val docs = Tables(spark, sf, "documents")
    val emb = Tables(spark, sf, "embeddings")
    def corpus(tag: String, docFilter: org.apache.spark.sql.Column,
        embFilter: org.apache.spark.sql.Column): String = {
      val d = Files.createTempDirectory(s"ingest-$tag").toString
      docs.filter(docFilter).coalesce(1)
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
      emb.filter(embFilter).coalesce(1)
        .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
      d
    }
    val v1 = corpus("v1", col("doc_id") < 400, col("vec_id") < 400)
    val v2 = corpus("v2", lit(true), lit(true))
    def conf(dir: String): String = writeConf(
      s"""{"source": {"path": "$dir", "table": "documents", "idCol": "doc_id"},
         |"dim": 64}""".stripMargin)
    JobRunner.run(spark, JobRunner.parse(Array("-ingest", "-conf", conf(v1))))
    JobRunner.run(spark, JobRunner.parse(
      Array("-ingest", "-conf", conf(v2), "-from", v1)))
    for (dir <- Seq(v1, v2);
         p <- Seq(sources.ShinglePostings.layoutPath(dir),
           sources.PairGraph.layoutPath(dir),
           sources.ClusterAssignment.layoutPath(dir),
           sources.SplitAssignment.layoutPath(dir),
           sources.IvfCentroids.layoutPath(dir),
           sources.PqCodebooks.layoutPath(dir),
           sources.BucketedEmbeddings.layoutPath(dir),
           sources.SpanStats.layoutPath(dir),
           sources.ChunkStats.layoutPath(dir),
           sources.BpeMerges.layoutPath(dir)))
      assert(Files.exists(Paths.get(p, "_SUCCESS")), s"missing layout $p")
    // the refreshed corpus's split covers every v2 document
    assert(sources.SplitAssignment(spark, v2).count() ==
      spark.read.parquet(s"$v2/documents.parquet").count())
    // -from without -ingest is refused
    intercept[IllegalArgumentException] {
      JobRunner.parse(Array("-curate", "-conf", conf(v2), "-from", v1))
    }
  }

  test("quantize stage: SQ8 codes/scale match q85 row-for-row through the declared chain") {
    val work = java.nio.file.Files.createTempDirectory("jobquant").toString
    val conf = writeConf(
      s"""{
         |  "source": {"path": "$sf", "table": "documents", "idCol": "doc_id"},
         |  "output": "$work/out", "outputFormat": "parquet",
         |  "stages": [{"op": "multimodal_join", "how": "inner"},
         |             {"op": "quantize"}]
         |}""".stripMargin)
    JobRunner.run(spark, JobRunner.parse(Array("-curate", "-conf", conf)))
    val out = spark.read.parquet(s"$work/out/corpus")
    assert(!out.columns.contains("embedding") &&
      out.columns.contains("codes") && out.columns.contains("qscale"))
    // the stage's codes/scale are EXACTLY q85's audit projection values
    val q85 = queries.VectorOps.q85EmbedQuant.fn(spark, sf)
      .select(col("vec_id").as("doc_id"), col("qscale").as("qs85"),
        col("code_sum").as("cs85"))
    val j = out
      .select(col("doc_id"), col("qscale"),
        aggregate(col("codes"), lit(0L), (a, b) => a + b).as("code_sum"))
      .join(q85, "doc_id")
    assert(j.count() == out.count() && out.count() > 0)
    assert(j.filter(col("qscale") =!= col("qs85") ||
      col("code_sum") =!= col("cs85")).count() == 0,
      "stage quantization diverged from q85")
    // int8-representable by construction
    assert(out.filter(exists(col("codes"),
      c => c < -127 || c > 127)).count() == 0)
  }

  test("keyword_annotate stage: flow stats match q102 row-for-row; corpus stats score a filtered subset") {
    val work = java.nio.file.Files.createTempDirectory("jobkw").toString
    val conf = writeConf(
      s"""{
         |  "source": {"path": "$sf", "table": "documents", "idCol": "doc_id"},
         |  "output": "$work/out", "outputFormat": "parquet",
         |  "stages": [{"op": "keyword_annotate"}]
         |}""".stripMargin)
    JobRunner.run(spark, JobRunner.parse(Array("-curate", "-conf", conf)))
    val out = spark.read.parquet(s"$work/out/corpus")
    assert(out.columns.contains("keywords") && out.count() > 0)
    // the stage's keywords array is EXACTLY q102's top-3, in rank order
    val q102 = queries.TextOps.q102DocKeywords.fn(spark, sf)
      .groupBy("doc_id")
      .agg(expr("transform(array_sort(collect_list(struct(rank, keyword))), x -> x.keyword)")
        .as("kw102"))
    val j = out.select(col("doc_id"), col("keywords")).join(q102, "doc_id")
    assert(j.count() == q102.count())
    assert(j.filter(col("keywords") =!= col("kw102")).count() == 0,
      "stage keywords diverged from q102")
    // corpus stats: a chain that FILTERS first still scores against the
    // full corpus df/N — the kept docs' keywords equal their q102 rows
    val conf2 = writeConf(
      s"""{
         |  "source": {"path": "$sf", "table": "documents", "idCol": "doc_id"},
         |  "output": "$work/out2", "outputFormat": "parquet",
         |  "stages": [{"op": "stratified_sample", "default": 40},
         |             {"op": "keyword_annotate", "statsFrom": "corpus"}]
         |}""".stripMargin)
    JobRunner.run(spark, JobRunner.parse(Array("-curate", "-conf", conf2)))
    val out2 = spark.read.parquet(s"$work/out2/corpus")
    assert(out2.count() > 0 && out2.count() < out.count())
    val j2 = out2.select(col("doc_id"), col("keywords")).join(q102, "doc_id")
    assert(j2.count() == out2.filter(size(col("keywords")) > 0).count())
    assert(j2.filter(col("keywords") =!= col("kw102")).count() == 0,
      "corpus-stats keywords diverged from q102 on the kept subset")
  }

  test("curriculum_order stage: phase assignment equals q110's exact quartile bucketing") {
    val work = java.nio.file.Files.createTempDirectory("jobcurr").toString
    val conf = writeConf(
      s"""{
         |  "source": {"path": "$sf", "table": "documents", "idCol": "doc_id"},
         |  "output": "$work/out", "outputFormat": "parquet",
         |  "stages": [{"op": "curriculum_order"}]
         |}""".stripMargin)
    JobRunner.run(spark, JobRunner.parse(Array("-curate", "-conf", conf)))
    val out = spark.read.parquet(s"$work/out/corpus")
    assert(out.columns.contains("phase"))
    assert(out.count() == Tables(spark, sf, "documents").count(),
      "annotation must not drop docs")
    // per-phase doc counts equal q110's schedule exactly (same scorer,
    // same thresholds, same CASE rule)
    val got = out.filter(col("phase").isNotNull)
      .groupBy("phase").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = queries.TextOps.q110CurriculumSchedule.fn(spark, sf)
      .select("phase", "n_docs")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect, s"phase histogram diverged: $got vs $expect")
    // a chain that filters first re-derives thresholds over the FLOW —
    // the quartiles are of the annotated set, so each phase holds ~25%
    val conf2 = writeConf(
      s"""{
         |  "source": {"path": "$sf", "table": "documents", "idCol": "doc_id"},
         |  "output": "$work/out2", "outputFormat": "parquet",
         |  "stages": [{"op": "stratified_sample", "default": 40},
         |             {"op": "curriculum_order"}]
         |}""".stripMargin)
    JobRunner.run(spark, JobRunner.parse(Array("-curate", "-conf", conf2)))
    val out2 = spark.read.parquet(s"$work/out2/corpus")
    val n2 = out2.filter(col("phase").isNotNull).count()
    val perPhase = out2.filter(col("phase").isNotNull)
      .groupBy("phase").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(1))
    assert(perPhase.length == 4 &&
      perPhase.forall(n => math.abs(n - n2 / 4.0) <= n2 * 0.05 + 2),
      s"filtered-flow quartiles not ~25% each: ${perPhase.toSeq} of $n2")
  }

  test("assign_split splitFrom=corpus: ingest-time layout split preserved through curation") {
    val work = java.nio.file.Files.createTempDirectory("jobsplit").toString
    val conf = writeConf(
      s"""{
         |  "source": {"path": "$sf", "table": "documents", "idCol": "doc_id"},
         |  "output": "$work/out", "outputFormat": "parquet",
         |  "stages": [{"op": "exact_dedup"},
         |             {"op": "assign_split", "splitFrom": "corpus"}]
         |}""".stripMargin)
    JobRunner.run(spark, JobRunner.parse(Array("-curate", "-conf", conf)))
    val out = spark.read.parquet(s"$work/out/corpus")
    val layout = sources.SplitAssignment(spark, sf)
      .select(col("doc_id"), col("split").as("layout_split"))
    val j = out.join(layout, "doc_id")
    assert(j.count() == out.count(), "a surviving doc missed the layout")
    assert(j.filter(col("split") =!= col("layout_split")).count() == 0,
      "curation re-gated a doc differently from its ingest-time split")
    // non-default parameters are refused in corpus mode (the layout owns
    // its gate), and a bad splitFrom fails at parse time
    val bad = writeConf(
      s"""{
         |  "source": {"path": "$sf", "table": "documents", "idCol": "doc_id"},
         |  "output": "$work/out2", "outputFormat": "parquet",
         |  "stages": [{"op": "assign_split", "splitFrom": "corpus", "trainPct": 70}]
         |}""".stripMargin)
    intercept[IllegalArgumentException] {
      JobRunner.run(spark, JobRunner.parse(Array("-curate", "-conf", bad)))
    }
    intercept[IllegalArgumentException] {
      JobConfig.fromJson(
        s"""{"source": {"path": "$sf", "table": "documents"},
           |"output": "x", "stages": [{"op": "assign_split", "splitFrom": "nope"}]}"""
          .stripMargin)
    }
  }

  test("whiten stage: declared join+whiten chain emits a decorrelated embedding column") {
    val work = java.nio.file.Files.createTempDirectory("jobwhiten").toString
    val conf = writeConf(
      s"""{
         |  "source": {"path": "$sf", "table": "documents", "idCol": "doc_id"},
         |  "output": "$work/out", "outputFormat": "parquet",
         |  "stages": [{"op": "multimodal_join", "how": "inner"},
         |             {"op": "whiten"}]
         |}""".stripMargin)
    JobRunner.run(spark, JobRunner.parse(Array("-curate", "-conf", conf)))
    val out = spark.read.parquet(s"$work/out/corpus")
    assert(out.columns.contains("embedding") && out.count() > 0)
    val (m, c) = graft.ml.Whitening.meanAndCovariance(out)
    assert(m.forall(x => math.abs(x) < 1e-3), "whitened mean off zero")
    c.indices.foreach { i =>
      assert(math.abs(c(i)(i) - 1.0) < 1e-2, s"var[$i]=${c(i)(i)}")
      (i + 1 until c.length).foreach(j =>
        assert(math.abs(c(i)(j)) < 1e-2, s"cov[$i][$j]=${c(i)(j)}"))
    }
  }

  test("declared chain to training sequences: dedup -> split -> chunk from JSON alone") {
    val work = java.nio.file.Files.createTempDirectory("jobchunk").toString
    val conf = writeConf(
      s"""{
         |  "source": {"path": "$sf", "table": "documents", "idCol": "doc_id"},
         |  "output": "$work/out", "outputFormat": "parquet",
         |  "stages": [
         |    {"op": "span_dedup"},
         |    {"op": "assign_split", "trainPct": 80, "valPct": 10},
         |    {"op": "chunk", "chunkTokens": 32, "stride": 24}
         |  ]
         |}""".stripMargin)
    JobRunner.run(spark, JobRunner.parse(Array("-curate", "-conf", conf)))
    val seqs = spark.read.parquet(s"$work/out/corpus")
    assert(seqs.count() > Tables(spark, sf, "documents").count(),
      "chunking should multiply rows on this corpus")
    assert(Seq("doc_id", "chunk_start", "n_tok", "text", "split", "lang", "source")
      .forall(seqs.columns.contains), seqs.columns.mkString(","))
    // every chunk fits the declared window and the split rode through
    assert(seqs.filter(col("n_tok") > 32).count() == 0)
    assert(seqs.filter(!col("split").isin("train", "val", "test")).count() == 0)
    // provenance: all chunks of one doc share the doc's split
    assert(seqs.groupBy("doc_id").agg(countDistinct("split").as("ns"))
      .filter(col("ns") > 1).count() == 0)
    // Y5: the job released its stage-internal persists on exit. Suites
    // share one session and run in parallel, so a session-wide isEmpty
    // would race with other suites' caches — CachesSpec pins the scoped
    // release contract (new persists released, pre-existing survive) at
    // the mechanism level instead.
  }

  test("pipeline stages match their registered-operator semantics") {
    import graft.jobs.{CurationStages, StageSpec}
    val docs = Tables(spark, sf, "documents")
    // exact_dedup keeps exactly q20's canonical ids
    val kept = CurationStages(docs, StageSpec("exact_dedup"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val q20 = graft.queries.TextOps.q20DedupExact.fn(spark, sf)
      .select("canonical_id").collect().map(_.getLong(0)).toSet
    assert(kept == q20)
    // near_dedup at 0.5 keeps exactly q63's canonical corpus
    val nd = CurationStages(docs,
        StageSpec("near_dedup", Map("threshold" -> 0.5)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val q63 = graft.queries.DedupOps.q63CanonicalCorpus.fn(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(nd == q63)
    // quality_filter keeps exactly q56's surviving ids
    val qf = CurationStages(docs,
        StageSpec("quality_filter", Map("minScore" -> 0.0)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val q56 = graft.queries.CurationOps.q56QualityFilter.fn(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(qf == q56)
    // char_concentration_filter at the published gate keeps exactly
    // q120's unflagged set (the shared concentrationCol definition)
    val cf = CurationStages(docs,
        StageSpec("char_concentration_filter", Map.empty))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val q120keep = graft.queries.CurationOps.q120CharConcentration.fn(spark, sf)
      .filter(!col("is_flagged"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cf == q120keep && q120keep.nonEmpty)
    // stratified_sample with q49's rate table keeps exactly q49's rows
    val ss = CurationStages(docs, StageSpec("stratified_sample",
        Map("rates" -> Map("en" -> 25.0, "de" -> 60.0), "default" -> 80.0)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val q49 = graft.queries.PipelineOps.q49StratifiedSample.fn(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ss == q49)
    // perplexity_filter at p75 keeps exactly q66's head+middle buckets
    val pf = CurationStages(docs,
        StageSpec("perplexity_filter", Map("maxPercentile" -> 0.75)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val q66keep = graft.queries.TextOps.q66Perplexity.fn(spark, sf)
      .filter(col("bucket") =!= "tail")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pf == q66keep)
    // perplexity_filter order=2 gates on q118's bigram scorer: kept set =
    // docs at/below the p75 of the milli-quantized bigram score (derived
    // here independently from the raw frame), and sub-bigram docs are out
    // of the model's domain
    val pf2 = CurationStages(docs,
        StageSpec("perplexity_filter", Map("maxPercentile" -> 0.75, "order" -> 2.0)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val raw2 = graft.queries.TextOps.bigramPerplexityScored(spark, sf)
      .select(col("doc_id"),
        floor(col("nll2_raw") * lit(1000L) + lit(0.5)).cast("long").as("n3"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val thr2 = {
      val sorted = raw2.map(_._2).sorted
      // R-7 p75 on longs, floor-compare semantics of PercentileLong mirror:
      // keep at/below the interpolated threshold
      val rank = 0.75 * (sorted.length - 1)
      val lo = sorted(rank.toInt)
      val hi = sorted(math.min(rank.toInt + 1, sorted.length - 1))
      lo + (hi - lo) * (rank - rank.toInt)
    }
    val expect2 = raw2.filter(_._2 <= thr2).map(_._1).toSet
    assert(pf2 == expect2 && pf2.nonEmpty)
    assert(bad2Behavior(docs))
  }

  /** order=2 refuses a non-default vocab and an unknown order. */
  private def bad2Behavior(docs: org.apache.spark.sql.DataFrame): Boolean = {
    import graft.jobs.{CurationStages, StageSpec}
    val a = try {
      CurationStages(docs, StageSpec("perplexity_filter",
        Map("order" -> 2.0, "vocabSize" -> 8.0))); false
    } catch { case _: IllegalArgumentException => true }
    val b = try {
      CurationStages(docs, StageSpec("perplexity_filter",
        Map("order" -> 3.0))); false
    } catch { case _: IllegalArgumentException => true }
    a && b
  }

  test("embed_near_dedup clusters by embedding similarity and keeps minimum ids") {
    import graft.jobs.{CurationStages, StageSpec}
    val work = java.nio.file.Files.createTempDirectory("embdedup").toString
    // 6 docs in meaning-space: {0,1,2} share vector A, {3,4} share B,
    // 5 is C — A/B/C mutually orthogonal so no cross-group dot survives
    // the verify, while identical vectors collide in every band
    val basis = Array.tabulate(3)(g => Array.tabulate(8)(i =>
      if (i == g) 2.0f else 0.0f))
    val rows = Seq(0L -> 0, 1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1, 5L -> 2)
    import spark.implicits._
    rows.map { case (id, g) => (id, basis(g)) }.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$work/emb")
    val docs = spark.range(6).select(col("id").as("doc_id"))
    val out = CurationStages(docs, StageSpec("embed_near_dedup",
        Map("embeddings" -> s"$work/emb", "dim" -> 8.0, "minDot" -> 0.9)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(0L, 3L, 5L),
      s"each duplicate group keeps its minimum id, singletons survive: $out")
  }

  test("malformed stage declarations fail at parse time") {
    def bad(stagesJson: String): String =
      intercept[IllegalArgumentException](JobConfig.fromJson(
        s"""{"source": {"path": "/d"}, "stages": $stagesJson}""")).getMessage
    assert(bad("""[{"op": "frobnicate"}]""").contains("unknown op"))
    assert(bad("""[{"op": "near_dedup", "wat": 1}]""").contains("unknown parameters"))
    assert(bad("""[{"op": "near_dedup", "threshold": 1.5}]""").contains("threshold"))
    // a threshold below the pair relation's jaccard floor cannot be
    // honored (the relation filters at 0.06 before the stage sees it)
    assert(bad("""[{"op": "near_dedup", "threshold": 0.03}]""").contains("0.06"))
    assert(bad("""[{"op": "embed_near_dedup", "bands": 8, "bitsPerBand": 8}]""")
      .contains("63"))
    assert(bad("""[{"op": "embed_near_dedup", "dim": 0}]""").contains("dim"))
    assert(bad("""[{"op": "decontaminate"}]""").contains("holdoutSource"))
    assert(bad("""[{"op": "perplexity_filter", "maxPercentile": 1.5}]""")
      .contains("(0,1)"))
    assert(bad("""[{"op": "perplexity_filter", "vocabSize": 4096}]""")
      .contains("128"))
    assert(bad("""[{"op": "temperature_mix"}]""").contains("budgetDocs"))
    assert(bad("""[{"op": "stratified_sample", "rates": {"en": 140}}]""")
      .contains("0..100"))
    assert(bad("""[{"nop": 1}]""").contains("op"))
    // a stages job needs no dim; a model job still does
    assert(JobConfig.fromJson(
      """{"source": {"path": "/d"}, "stages": [{"op": "pii_scrub"}]}""").dim == 0)
    assert(intercept[IllegalArgumentException](JobConfig.fromJson(
      """{"source": {"path": "/d"}}""")).getMessage.contains("dim"))
    // and -curate without stages is a usage error
    val p = writeConf("""{"source": {"path": "/d"}, "stages": [{"op": "pii_scrub"}]}""")
    assert(intercept[IllegalArgumentException](
      JobRunner.parse(Array("-curate", "-conf", p))).getMessage.contains("output"))
  }

  test("config parse maps every field and applies defaults") {
    val cfg = JobConfig.fromJson(
      """{"source": {"path": "/data", "table": "embeddings", "format": "parquet"},
        |  "dim": 8, "model": "/m"}""".stripMargin)
    assert(cfg == JobConfig(
      source = SourceSpec("/data", table = "embeddings"),
      dim = 8, model = "/m"))
    assert(cfg.source.dataPath == "/data/embeddings.parquet")
    assert(SourceSpec("/data/x.parquet").dataPath == "/data/x.parquet")
  }

  test("JSON reader round-trips every config field through escapes and numbers") {
    // paths with every escape class the reader supports, plus numeric forms
    val cfg = JobConfig.fromJson(
      """{"source": {"path": "/a b\/c\\d\"e\tfég", "labelCol": "y\n"},
        |  "dim": 64, "lr": 2.5e-1, "iters": 40, "l2": 1E-4,
        |  "validateEvery": 10, "model": "/m", "outputFormat": "csv"}""".stripMargin)
    assert(cfg.source.path == "/a b/c\\d\"e\tfég")
    assert(cfg.source.labelCol == "y\n")
    assert(cfg.lr == 0.25 && cfg.l2 == 1e-4 && cfg.dim == 64)
    assert(cfg.outputFormat == "csv")
    // arrays and nested values parse (even though config ignores them via
    // unknown-key rejection, the grammar must not choke mid-document)
    val arr = jobs.Json.parse("""[1, -2.5, "x", true, null, {"k": []}]""")
    assert(arr == List(1.0, -2.5, "x", true, null, Map("k" -> Nil)))
  }

  test("malformed declarations fail at parse time, before any cluster work") {
    def bad(json: String): String =
      intercept[IllegalArgumentException](JobConfig.fromJson(json)).getMessage
    assert(bad("""{"dim": 8}""").contains("source is required"))
    assert(bad("""{"source": {"path": "/d"}}""").contains("dim"))
    assert(bad("""{"source": {"path": "/d"}, "dim": 8, "wat": 1}""").contains("wat"))
    assert(bad("""{"source": {"path": "/d", "nope": 1}, "dim": 8}""").contains("nope"))
    assert(bad("""{"source": {"path": "/d"}, "dim": 2.5}""").contains("integer"))
    assert(bad("""{"source": {"path": "/d", "format": "xml"}, "dim": 8}""")
      .contains("format"))
    assert(bad("""{"source": {"path": "/d"}, "dim": 8, "iters": -1}""")
      .contains("iters"))
    assert(bad("""{"source": {"path": "/d"}, "dim": 8,}""").contains("offset"))
    assert(bad("""{"source": {"path": "/d"}, "dim": 8} tail""").contains("trailing"))
    assert(bad("""{"a": 1, "a": 2}""").contains("duplicate"))
    // invalid hex in a \u escape reports a positioned parse error, not a
    // raw NumberFormatException (string built by concat so the SCALA lexer
    // never sees a \u sequence)
    assert(bad("{\"source\": {\"path\": \"\\" + "uZZ99\"}, \"dim\": 8}")
      .contains("escape"))
    // flag surface: mode and conf are mandatory; model must come from somewhere
    def badArgs(args: String*): String =
      intercept[IllegalArgumentException](JobRunner.parse(args.toArray)).getMessage
    assert(badArgs("-conf", "x.json").contains("-train"))
    assert(badArgs("-train").contains("-conf"))
    assert(badArgs("-train", "-conf").contains("requires a value"))
    assert(badArgs("-train", "-conf", "x.json", "-frobnicate").contains("frobnicate"))
  }
}
