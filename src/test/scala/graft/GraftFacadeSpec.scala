package graft

import graft.ml.TrainConfig
import org.apache.spark.sql.functions._

/** The reference-driver usage pattern end to end through the facade:
  * load source → train (with validation) → features → test → snapshot —
  * the CaffeOnSpark.scala:164-443 flow on the Spark-native engine.
  */
class GraftFacadeSpec extends SparkSpec {

  test("train -> features -> test -> save/load round trip") {
    val g = new Graft(spark, dim = 64, TrainConfig(lr = 2.0, iters = 40))
    val emb = Tables(spark, sf, "embeddings")
      .withColumn("y", when(expr("embedding[0] + embedding[1]") > 0, 1).otherwise(0))
    val w = g.train(emb, labelCol = "y")

    val f = g.features(emb, w)
    assert(f.columns.toSeq == Seq("SampleID", "ip1", "prob"))
    assert(f.count() == emb.count())

    val m = g.test(emb, w)
    assert(m.contains("ip1") && m.contains("prob"))
    assert(math.abs(m("prob").sum - 1.0) < 1e-6)

    val path = java.nio.file.Files.createTempDirectory("graftw").toString + "/w"
    g.save(w, path)
    assert(g.load(path).toSeq == w.toSeq)
  }

  test("trainWithValidation emits the reference-shaped metrics frame") {
    val g = new Graft(spark, dim = 64, TrainConfig(lr = 2.0, iters = 20, validateEvery = 10))
    val emb = Tables(spark, sf, "embeddings")
      .withColumn("y", when(expr("embedding[0] + embedding[1]") > 0, 1).otherwise(0))
    val (w, metrics) = g.trainWithValidation(emb, emb, labelCol = "y")
    assert(metrics.columns.toSeq == Seq("iteration", "accuracy", "loss"))
    assert(metrics.count() >= 2)
    assert(w.length == 64)
  }

  test("an empty training or validation source fails naming it, for both heads") {
    // the gradient step divides by the pass's row count: an empty source
    // must fail loudly instead of returning an all-NaN model (or writing
    // NaN accuracy/loss rows), and the training cache must not leak
    val emb = Tables(spark, sf, "embeddings")
      .withColumn("y", when(expr("embedding[0] + embedding[1]") > 0, 1).otherwise(0))
    val empty = emb.filter(lit(false))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for (classes <- Seq(2, 3)) {
      val g = new Graft(spark, dim = 64,
        TrainConfig(lr = 2.0, iters = 4, validateEvery = 2), numClasses = classes)
      def fails(body: => Any): String =
        intercept[IllegalArgumentException](body).getMessage
      assert(fails(g.train(empty, labelCol = "y")).contains("training source is empty"))
      assert(fails(g.trainWithValidation(empty, emb, labelCol = "y"))
        .contains("training source is empty"))
      assert(fails(g.trainWithValidation(emb, empty, labelCol = "y"))
        .contains("validation source is empty"))
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "a failed fit left its training cache behind")
  }
}
