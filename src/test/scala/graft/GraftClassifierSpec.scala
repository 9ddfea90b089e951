package graft

import org.apache.spark.ml.Pipeline
import org.apache.spark.sql.functions._

/** The Spark ML pipeline shim (ml.GraftClassifier): the reference's
  * MyMLPipeline example shape — deep head trained + feature-extracted,
  * output chained into a stock MLlib estimator
  * (caffe-grid/.../examples/MyMLPipeline.scala:17-43) — must run under
  * `Pipeline.fit`, and the shim's blob columns must be bit-identical to
  * the engine's own `features` surface so the two cannot drift.
  */
class GraftClassifierSpec extends SparkSpec {

  private lazy val labeled = Tables(spark, sf, "embeddings")
    .withColumn("y",
      when(expr("embedding[0] + embedding[1]") > 0, 1.0).otherwise(0.0))

  test("MyMLPipeline end-to-end: Pipeline.fit over the graft head, blobs into MLlib LR") {
    val gc = new ml.GraftClassifier()
      .setDim(64).setStepSize(2.0).setMaxIter(20)
      .setFeaturesCol("embedding").setLabelCol("y")
    val fitted = new Pipeline().setStages(Array(gc)).fit(labeled)
    val extracted = fitted.transform(labeled)

    // Transformer convention: input columns ride along, blobs appended
    assert(extracted.columns.toSeq ==
      labeled.columns.toSeq ++ Seq("ip1", "prob"))

    // MyMLPipeline's exact next move: interop columns, then a stock MLlib
    // LogisticRegression over the extracted blobs
    val lrInput = extracted
      .withColumn("Label", col("y"))
      .withColumn("Feature", functions.Interop.toMlVector(col("ip1")))
    val lr = new org.apache.spark.ml.classification.LogisticRegression()
      .setLabelCol("Label").setFeaturesCol("Feature").setMaxIter(10)
    val lrModel = lr.fit(lrInput)
    assert(lrModel.coefficients.size == 1 &&
      lrModel.coefficients.toArray.exists(_ != 0.0))
    // the deep feature is the trained logit, so downstream LR must be
    // highly separable on it — a weak bar that still catches a dead blob
    val acc = lrModel.transform(lrInput)
      .select(avg(when(col("prediction") === col("Label"), 1.0).otherwise(0.0)))
      .head().getDouble(0)
    assert(acc > 0.9, s"pipeline accuracy $acc — blob column carries no signal?")
  }

  test("binary model.transform blobs are bit-identical to LogisticRegression.features") {
    val gc = new ml.GraftClassifier()
      .setDim(64).setStepSize(2.0).setMaxIter(20)
      .setFeaturesCol("embedding").setLabelCol("y")
    val model = gc.fit(labeled)
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) -> ((r.getSeq[Float](1), r.getSeq[Float](2)))).toMap
    val viaShim = keyed(model.transform(labeled)
      .select(col("vec_id").cast("string"), col("ip1"), col("prob")).collect())
    val viaFeatures = keyed(new ml.LogisticRegression(64)
      .features(labeled, "vec_id", "embedding", model.weights)
      .select(col("SampleID"), col("ip1"), col("prob")).collect())
    assert(viaShim == viaFeatures, "shim blobs diverged from features()")
  }

  test("softmax model.transform blobs are bit-identical to SoftmaxRegression.features") {
    val tri = Tables(spark, sf, "embeddings")
      .withColumn("y", (abs(xxhash64(col("vec_id"))) % 3).cast("double"))
    val gc = new ml.GraftClassifier()
      .setDim(64).setNumClasses(3).setStepSize(1.0).setMaxIter(10)
      .setFeaturesCol("embedding").setLabelCol("y")
    val model = gc.fit(tri)
    val sm = new ml.SoftmaxRegression(64, 3, ml.TrainConfig(lr = 1.0, iters = 10))
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) -> ((r.getSeq[Float](1), r.getSeq[Float](2)))).toMap
    val viaShim = keyed(model.transform(tri)
      .select(col("vec_id").cast("string"), col("ip1"), col("prob")).collect())
    val viaFeatures = keyed(
      sm.features(tri, "vec_id", "embedding", model.weights)
        .select(col("SampleID"), col("ip1"), col("prob")).collect())
    assert(viaShim == viaFeatures)
    assert(model.weights.length == 3 * 64)
  }

  test("model save -> load round-trips: identical params, weights, and transform output") {
    val gc = new ml.GraftClassifier()
      .setDim(64).setMaxIter(5).setFeaturesCol("embedding").setLabelCol("y")
    val model = gc.fit(labeled)
    val path = java.nio.file.Files.createTempDirectory("gcm").toString + "/model"
    model.save(path)
    val (back, jobs) = countingJobs("gcm-load")(ml.GraftClassifierModel.load(spark, path))
    assert(jobs == 1, s"loading a saved model ran $jobs jobs")
    assert(back.uid == model.uid && back.weights.toSeq == model.weights.toSeq)
    assert(back.getOrDefault(back.dim) == 64 && back.getOrDefault(back.numClasses) == 2 &&
      back.getOrDefault(back.featuresCol) == "embedding" &&
      back.getOrDefault(back.labelCol) == "y")
    val a = model.transform(labeled).select("vec_id", "ip1", "prob").collect().toSeq
    val b = back.transform(labeled).select("vec_id", "ip1", "prob").collect().toSeq
    assert(a == b, "reloaded model must transform bit-identically")
  }

  test("transform's temp columns never clobber same-named input columns") {
    // the binary head's intermediate z/p columns are uid-derived; a user
    // column named __z must ride through untouched (r20 review finding)
    val gc = new ml.GraftClassifier()
      .setDim(64).setMaxIter(5).setFeaturesCol("embedding").setLabelCol("y")
    val model = gc.fit(labeled)
    val withZ = labeled.withColumn("__z", lit(42))
    val out = model.transform(withZ)
    assert(out.columns.toSeq == withZ.columns.toSeq ++ Seq("ip1", "prob"))
    assert(out.select(col("__z")).distinct().collect().map(_.getInt(0)).toSeq == Seq(42),
      "the user's __z column must survive transform unchanged")
  }

  test("schema validation fails loud: missing columns, blob-name collisions") {
    val gc = new ml.GraftClassifier().setDim(64).setLabelCol("y")
    intercept[IllegalArgumentException] {
      gc.fit(Tables(spark, sf, "embeddings")) // no label column
    }
    intercept[IllegalArgumentException] {
      gc.fit(labeled.withColumnRenamed("embedding", "vec")) // no features col
    }
    val model = gc.fit(labeled)
    intercept[IllegalArgumentException] {
      model.transform(labeled.withColumn("prob", lit(1))) // name collision
    }
  }
}
