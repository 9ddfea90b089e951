package graft

import graft.ml.{LogisticRegression, TrainConfig}
import org.apache.spark.sql.functions._

/** Convergence + shape tests mirroring the reference's InterleaveTest
  * (final accuracy > 0.8, loss decreasing; InterleaveTest.scala:36-57) and
  * the features/test schema checks (PythonApiTest.py:39-45), on a
  * deterministic separable target y = (e0 + e1 > 0).
  */
class MlSpec extends SparkSpec {

  private def labeled = {
    val emb = Tables(spark, sf, "embeddings")
    emb.select(col("vec_id"), col("embedding")).rdd.map { r =>
      val x = r.getSeq[Float](1).toArray
      val y = if (x(0) + x(1) > 0) 1.0 else 0.0
      (x, y)
    }
  }

  test("train converges: accuracy > 0.8, better than initial") {
    val lr = new LogisticRegression(64, TrainConfig(lr = 2.0, iters = 60))
    val data = labeled
    val w0 = new Array[Double](64)
    val (acc0, _) = lr.evaluate(data, w0)
    val w = lr.fit(data)
    val (acc, loss) = lr.evaluate(data, w)
    assert(acc > 0.8, s"accuracy $acc")
    assert(acc > acc0)
    assert(loss < 0.693) // below ln 2 = untrained loss
  }

  test("minibatch local SGD with model averaging converges") {
    val lr = new LogisticRegression(64, TrainConfig(lr = 1.0))
    val data = labeled
    val w = lr.fitLocalSgd(data, epochs = 8, batchSize = 32)
    val (acc, loss) = lr.evaluate(data, w)
    assert(acc > 0.8, s"accuracy $acc")
    assert(loss < 0.693)
  }

  test("trainWithValidation emits metric rows with increasing iteration") {
    val lr = new LogisticRegression(64, TrainConfig(lr = 2.0, iters = 30, validateEvery = 10))
    val (_, metrics) = lr.fitWithValidation(spark, labeled, labeled)
    val rows = metrics.orderBy("iteration").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getInt(0)).toSeq == Seq(10, 20, 30))
    val accs = rows.map(_.getDouble(1))
    assert(accs.last >= accs.head)
  }

  test("features emits SampleID + Array[Float] blob columns; test aggregates them") {
    val lr = new LogisticRegression(64)
    val emb = Tables(spark, sf, "embeddings")
    val w = Array.tabulate(64)(i => ((i * 37) % 21 - 10) / 10.0)
    val f = lr.features(emb, "vec_id", "embedding", w)
    assert(f.columns.toSeq == Seq("SampleID", "ip1", "prob"))
    assert(f.count() == emb.count())
    val m = lr.test(emb, "vec_id", "embedding", w)
    assert(m("prob").length == 2)
    assert(math.abs(m("prob").sum - 1.0) < 1e-6) // p and 1-p mean to 1
    // the forward pass is pure column expressions — no RDD scan node
    // (the old df.rdd.map formulation planned an ExistingRDD)
    val plan = f.queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD") && !plan.contains("Scan rdd"),
      s"features plan fell out of SQL:\n$plan")
  }

  test("Y3: round-robin epoch slices partition the data exactly, no shuffle, and train") {
    import graft.operators.Partitioning
    val data = labeled.repartition(6).persist()
    try {
      val slices = Partitioning.roundRobinEpochs(data, 3)
      assert(slices.length == 3)
      assert(slices.map(_.getNumPartitions).toSeq == Seq(2, 2, 2))
      // narrow prune dependency — no shuffle anywhere in the slice lineage
      assert(slices.forall(s =>
        !s.dependencies.exists(_.isInstanceOf[org.apache.spark.ShuffleDependency[_, _, _]])))
      // the slices cover every row exactly once
      assert(slices.map(_.count()).sum == data.count())
      val keys = slices.flatMap(_.map(_._1.take(2).toSeq).collect())
      assert(keys.length == data.count())
      // sequential warm-start training over the rounds converges like the
      // reference's interleaved epochs
      val lr = new LogisticRegression(64, TrainConfig(lr = 1.0))
      var w = new Array[Double](64)
      slices.foreach { slice => w = lr.fitLocalSgdFrom(slice, w, epochs = 3, batchSize = 32) }
      val (acc, _) = lr.evaluate(data, w)
      assert(acc > 0.8, s"accuracy $acc")
    } finally { data.unpersist(); () }
  }

  test("KMeans: Lloyd refinement does not increase within-cluster SSE") {
    import graft.ml.KMeans
    val emb = Tables(spark, sf, "embeddings")
    val warm = KMeans.lloyd(emb, "label", steps = 1)
    val refined = KMeans.lloyd(emb, "label", steps = 2)
    assert(refined.count() == emb.count())
    assert(KMeans.sse(refined) <= KMeans.sse(warm) + 1e-9)
    // the assignment reduction must not carry the embedding in its group key
    val aggNodes = refined.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.groupingExpressions.exists(_.dataType.isInstanceOf[
            org.apache.spark.sql.types.ArrayType]) => a
    }
    assert(aggNodes.isEmpty, "an aggregate groups on an array column")
  }

  test("NearestCentroid: native argmin bit-identical to the compose form, ties and offsets") {
    import org.apache.spark.sql.graft.VectorExpressions.nearest_centroid
    val rnd = new scala.util.Random(42)
    // duplicate centroid under two labels forces distance ties → smaller label
    val base = Seq.fill(8)(rnd.nextDouble() * 2 - 1)
    val codebook: Seq[(Long, Seq[Double])] =
      Seq((3L, base), (1L, base)) ++ (4L to 9L).map(l =>
        (l, Seq.fill(8)(rnd.nextDouble() * 2 - 1)))
    import spark.implicits._
    val vecs = (0 until 200).map { i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    Seq(0, 8).foreach { offset =>
      // the compose form assignWith used before the native expression
      val structs = array(codebook.map { case (l, c) =>
        struct(
          aggregate(
            zip_with(slice(col("embedding"), offset + 1, 8), lit(c.toArray),
              (x, cc) => (x.cast("double") - cc) * (x.cast("double") - cc)),
            lit(0.0), (a, b) => a + b).as("d"),
          lit(l).as("c_label"))
      }: _*)
      val diff = vecs.select(
          nearest_centroid(col("embedding"), codebook, offset).as("native"),
          array_min(structs).getField("c_label").as("compose"))
        .filter(col("native") =!= col("compose")).count()
      assert(diff == 0L, s"offset=$offset: $diff rows diverge from the compose argmin")
    }
    // tie rows really exist and picked label 1 (the smaller of the duplicate pair)
    val picked = vecs.select(nearest_centroid(col("embedding"), codebook, 0).as("c"))
      .groupBy("c").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!picked.contains(3L), s"duplicate-centroid tie must resolve to label 1: $picked")
    // dimension mismatch fails loudly instead of silently reading garbage
    val err = intercept[Exception] {
      vecs.select(nearest_centroid(col("embedding"), codebook, offset = 12)).collect()
    }
    assert(err.getMessage != null)
    // a NULL array element likewise fails loudly (getFloat would silently
    // read it as 0.0; the compose form propagates null instead)
    val withNull = Seq((0L, Seq[java.lang.Float](1f, null, 1f, 1f, 1f, 1f, 1f, 1f)))
      .toDF("vec_id", "embedding")
    val nullErr = intercept[Exception] {
      withNull.select(nearest_centroid(col("embedding"), codebook, 0)).collect()
    }
    assert(nullErr.getMessage != null)
  }

  /** 3-class separable target: argmax of the first three embedding
    * elements — same determinism discipline as the binary `labeled` set.
    */
  private def labeled3 = {
    val emb = Tables(spark, sf, "embeddings")
    emb.select(col("vec_id"), col("embedding")).rdd.map { r =>
      val x = r.getSeq[Float](1).toArray
      val y =
        if (x(0) >= x(1) && x(0) >= x(2)) 0.0
        else if (x(1) >= x(2)) 1.0 else 2.0
      (x, y)
    }
  }

  test("softmax train converges on a 3-class target, beats untrained") {
    val sm = new graft.ml.SoftmaxRegression(64, 3, TrainConfig(lr = 2.0, iters = 80))
    val data = labeled3
    val (acc0, loss0) = sm.evaluate(data, new Array[Double](3 * 64))
    val w = sm.fit(data)
    val (acc, loss) = sm.evaluate(data, w)
    assert(acc > 0.8, s"accuracy $acc")
    assert(acc > acc0 && loss < loss0)
    assert(loss < math.log(3.0)) // below ln k = untrained loss
  }

  test("softmax out-of-range label fails loudly as a config error, not an index crash") {
    val sm = new graft.ml.SoftmaxRegression(64, 3, TrainConfig(lr = 2.0, iters = 1))
    val bad = labeled3.map { case (x, y) => (x, if (y == 2.0) 7.0 else y) }
    def rootMessage(t: Throwable): String = {
      var c: Throwable = t
      while (c.getCause != null) c = c.getCause
      Option(c.getMessage).getOrElse("")
    }
    val trainErr = intercept[Exception] { sm.fit(bad) }
    assert(rootMessage(trainErr).contains("out of range [0, 3)"),
      s"train error should name the label domain: ${rootMessage(trainErr)}")
    val evalErr = intercept[Exception] { sm.evaluate(bad, new Array[Double](3 * 64)) }
    assert(rootMessage(evalErr).contains("out of range [0, 3)"),
      s"evaluate error should name the label domain: ${rootMessage(evalErr)}")
  }

  test("softmax gradient is the true loss gradient (finite-difference check)") {
    // one full-batch iteration from w=0 must step along -grad of the mean
    // cross-entropy + L2 objective; verify the implied gradient against a
    // central finite difference of an independently-computed loss on a
    // tiny deterministic set. Catches sign/indexing/normalization bugs
    // that convergence tests can absorb silently.
    val dim = 4
    val k = 3
    val data = Seq(
      (Array(0.9f, -0.2f, 0.1f, 0.4f), 0.0),
      (Array(-0.5f, 0.8f, -0.3f, 0.2f), 1.0),
      (Array(0.1f, -0.6f, 0.7f, -0.8f), 2.0),
      (Array(0.3f, 0.3f, -0.9f, 0.5f), 1.0),
      (Array(-0.7f, -0.1f, 0.2f, 0.6f), 0.0))
    val lr0 = 1.0
    val l2 = 1e-3
    val sm = new graft.ml.SoftmaxRegression(dim, k,
      TrainConfig(lr = lr0, iters = 1, l2 = l2))
    val rdd = spark.sparkContext.parallelize(data, 2)
    val w1 = sm.fit(rdd) // w1 = -lr * grad(0)  (since w0 = 0)
    // mean cross-entropy only: at w=0 the implemented step is
    // -lr*(grad_ce/n + l2*0), so the L2 term drops out of the comparison
    def loss(w: Array[Double]): Double =
      data.map { case (x, y) =>
        val z = (0 until k).map(c =>
          (0 until dim).map(i => w(c * dim + i) * x(i)).sum)
        val m = z.max
        val es = z.map(v => math.exp(v - m))
        -math.log(es(y.toInt) / es.sum)
      }.sum / data.size
    val eps = 1e-6
    (0 until k * dim).foreach { j =>
      val wp = new Array[Double](k * dim); wp(j) = eps
      val wm = new Array[Double](k * dim); wm(j) = -eps
      val g = (loss(wp) - loss(wm)) / (2 * eps)
      val gImpl = -w1(j) / lr0
      assert(math.abs(g - gImpl) < 1e-6,
        f"grad[$j]: finite-diff $g%.8f vs implemented $gImpl%.8f")
    }
  }

  test("softmax trainWithValidation emits metric rows; accuracy non-degrading") {
    val sm = new graft.ml.SoftmaxRegression(64, 3,
      TrainConfig(lr = 2.0, iters = 30, validateEvery = 10))
    val (_, metrics) = sm.fitWithValidation(spark, labeled3, labeled3)
    val rows = metrics.orderBy("iteration").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(10, 20, 30))
    val accs = rows.map(_.getDouble(1))
    assert(accs.last >= accs.head)
  }

  test("softmax features emits k-wide multi-blob columns; test aggregates them") {
    val sm = new graft.ml.SoftmaxRegression(64, 3)
    val emb = Tables(spark, sf, "embeddings")
    val w = Array.tabulate(3 * 64)(j =>
      (((j % 64) * 37 + (j / 64) * 17) % 21 - 10) / 10.0)
    val f = sm.features(emb, "vec_id", "embedding", w)
    assert(f.columns.toSeq == Seq("SampleID", "ip1", "prob"))
    val row = f.orderBy("SampleID").head()
    assert(row.getSeq[Float](1).length == 3 && row.getSeq[Float](2).length == 3)
    // probabilities form a distribution
    val p = row.getSeq[Float](2)
    assert(p.forall(x => x >= 0f && x <= 1f) && math.abs(p.sum - 1f) < 1e-5)
    val m = sm.test(emb, "vec_id", "embedding", w)
    assert(m.keySet == Set("ip1", "prob"))
    assert(m("prob").length == 3 && math.abs(m("prob").sum - 1.0) < 1e-6)
    // flattened-matrix snapshot rides the K5 parquet round-trip unchanged
    val path = java.nio.file.Files.createTempDirectory("smw").toString + "/w"
    LogisticRegression.saveWeights(spark, w, path)
    assert(LogisticRegression.loadWeights(spark, path).toSeq == w.toSeq)
  }

  test("q87 prob_n9 quantization sits safely off every flip boundary (both SFs)") {
    // exp()'s last-ulp rounding is not pinned cross-engine; the oracle
    // compares floor(p*1e9 + 0.5), which is stable iff no value lands
    // within cross-engine error (~1e-6 relative worst case here) of a
    // half-integer. Assert the corpus-wide margin, so a regenerated
    // corpus that violates it fails HERE, not as an opaque hash mismatch.
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      // recompute the raw products and their boundary distances from the
      // exact logits (z0..z2 are unquantized — the same doubles both
      // engines derive the probabilities from)
      val dists = queries.MlOps.q87SoftmaxFeatures.fn(spark, dir)
        .select(col("z0"), col("z1"), col("z2"))
        .collect().flatMap { r =>
          val z = Seq(r.getDouble(0), r.getDouble(1), r.getDouble(2))
          val m = z.max
          val es = z.map(x => math.exp(x - m))
          val den = es.reduce(_ + _)
          es.map { e =>
            val x = e / den * 1e9 + 0.5
            math.abs(x - math.round(x))
          }
        }
      val worst = dists.min
      assert(worst > 1e-4,
        f"prob_n9 margin $worst%.2e too tight at $dir — quantization at risk")
    }
  }

  test("Jacobi eigensolver: A v = lambda v on a constructed symmetric matrix") {
    import graft.ml.Whitening
    val rnd = new scala.util.Random(7)
    val d = 8
    val m = Array.tabulate(d, d)((_, _) => rnd.nextGaussian())
    // symmetrize: A = M + Mt
    val a = Array.tabulate(d, d)((i, j) => m(i)(j) + m(j)(i))
    val (vals, vecs) = Whitening.symmetricEigen(a)
    // descending order, orthonormal rows, and the eigen equation itself
    assert(vals.zip(vals.tail).forall { case (x, y) => x >= y })
    vecs.zipWithIndex.foreach { case (v, k) =>
      assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9)
      val av = (0 until d).map(i => (0 until d).map(j => a(i)(j) * v(j)).sum)
      av.zip(v).foreach { case (x, vx) =>
        assert(math.abs(x - vals(k) * vx) < 1e-7, s"eigpair $k broken")
      }
    }
  }

  test("whitening: transformed corpus has ~identity covariance (batch pipeline end-to-end)") {
    import graft.ml.Whitening
    val emb = Tables(spark, sf, "embeddings")
    val (mean, cov) = Whitening.meanAndCovariance(emb)
    assert(cov.indices.forall(i => cov(i)(i) > 0), "degenerate dimension")
    val w = Whitening.whiteningMatrix(cov)
    val white = Whitening.whiten(emb, mean, w).select(col("white").as("embedding"))
    val (wMean, wCov) = Whitening.meanAndCovariance(white)
    // mean ~0, covariance ~I — tolerances absorb the float32 output cast
    assert(wMean.forall(m => math.abs(m) < 1e-3), "whitened mean off zero")
    wCov.indices.foreach { i =>
      assert(math.abs(wCov(i)(i) - 1.0) < 1e-2, s"var[$i]=${wCov(i)(i)}")
      (i + 1 until wCov.length).foreach { j =>
        assert(math.abs(wCov(i)(j)) < 1e-2, s"cov[$i][$j]=${wCov(i)(j)}")
      }
    }
  }

  test("weight snapshot round-trips through parquet") {
    // bit-exact over a wide exponent range and a signed zero, in ONE job
    // (the declared schema skips inference; the driver orders by idx)
    val rnd = new scala.util.Random(7)
    val w = Array.tabulate(192)(i =>
      if (i == 5) -0.0 else rnd.nextGaussian() * math.pow(10, rnd.nextInt(40) - 20))
    val path = java.nio.file.Files.createTempDirectory("wts").toString + "/w"
    LogisticRegression.saveWeights(spark, w, path)
    val (back, jobs) = countingJobs("weights-load")(LogisticRegression.loadWeights(spark, path))
    val bits = (ws: Array[Double]) => ws.map(java.lang.Double.doubleToRawLongBits).toSeq
    assert(bits(back) == bits(w))
    assert(jobs == 1, s"loading a weight snapshot ran $jobs jobs")
  }
}
