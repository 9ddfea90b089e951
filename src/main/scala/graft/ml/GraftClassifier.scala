package graft.ml

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param.{DoubleParam, IntParam, Param, ParamMap, Params}
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, StructField, StructType}

/** Shared params of the [[GraftClassifier]] estimator and its model —
  * the standard Spark ML params/shared-trait shape so `copyValues` carries
  * the column names and head geometry from estimator to fitted model.
  */
private[ml] trait GraftClassifierParams extends Params {

  final val dim = new IntParam(this, "dim", "feature dimensionality (> 0)")
  final val numClasses = new IntParam(this, "numClasses",
    "2 = binary sigmoid head, > 2 = softmax head")
  final val stepSize = new DoubleParam(this, "stepSize", "SGD learning rate")
  final val maxIter = new IntParam(this, "maxIter", "SGD iterations")
  final val regParam = new DoubleParam(this, "regParam", "L2 strength")
  final val featuresCol = new Param[String](this, "featuresCol",
    "Array[Float] feature column")
  final val labelCol = new Param[String](this, "labelCol", "numeric label column")

  setDefault(numClasses -> 2, stepSize -> 1.0, maxIter -> 50, regParam -> 0.0,
    featuresCol -> "embedding", labelCol -> "label")

  /** Transform APPENDS the two output blobs to the input schema (the
    * ml.Transformer convention — unlike the reference's `features`, which
    * projects down to (SampleID, blobs), a pipeline stage must keep the
    * caller's columns riding so downstream stages can see them).
    */
  protected def validateAndTransformSchema(schema: StructType): StructType = {
    require(schema.fieldNames.contains($(featuresCol)),
      s"features column '${$(featuresCol)}' missing from ${schema.fieldNames.mkString(",")}")
    // fail-loud on the likeliest migration mistake: an MLlib VectorUDT
    // (or double-array) features column — the engine's head reads
    // Array[Float], and without this check the mismatch surfaces as a
    // ClassCastException inside an executor task
    schema($(featuresCol)).dataType match {
      case ArrayType(FloatType, _) => ()
      case other => throw new IllegalArgumentException(
        s"features column '${$(featuresCol)}' must be array<float>, got $other" +
          " (use graft.functions.Interop / cast from vector before this stage)")
    }
    require(!schema.fieldNames.contains("ip1") && !schema.fieldNames.contains("prob"),
      "input already has an ip1/prob column — rename it before this stage")
    StructType(schema.fields :+
      StructField("ip1", ArrayType(FloatType)) :+
      StructField("prob", ArrayType(FloatType)))
  }
}

/** `org.apache.spark.ml.Estimator` face of the engine's training head —
  * the shim that lets the reference's MyMLPipeline shape (deep-feature
  * extraction chained into an MLlib estimator,
  * caffe-grid/src/main/scala/com/yahoo/ml/caffe/examples/MyMLPipeline.scala:17-43)
  * run verbatim under `Pipeline.fit`: this stage plays the `cos.train` +
  * `cos.features` role, and the P5/P6 interop columns
  * ([[graft.functions.Interop]]) hand its output to any MLlib estimator.
  *
  * `fit` delegates to the same [[Graft]] facade the JobRunner lifecycle
  * uses (barrier-free treeAggregate SGD, M1), so a model trained through
  * the Pipeline API and one trained through a declared job are the same
  * arithmetic. Persistence stays with the engine's own parquet snapshot
  * (K5, [[LogisticRegression.saveWeights]]) rather than MLWritable —
  * MyMLPipeline itself persists only the downstream MLlib model.
  */
class GraftClassifier(override val uid: String)
    extends Estimator[GraftClassifierModel] with GraftClassifierParams {

  def this() = this(Identifiable.randomUID("graft_classifier"))

  def setDim(v: Int): this.type = set(dim, v)
  def setNumClasses(v: Int): this.type = set(numClasses, v)
  def setStepSize(v: Double): this.type = set(stepSize, v)
  def setMaxIter(v: Int): this.type = set(maxIter, v)
  def setRegParam(v: Double): this.type = set(regParam, v)
  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setLabelCol(v: String): this.type = set(labelCol, v)

  override def fit(ds: Dataset[_]): GraftClassifierModel = {
    transformSchema(ds.schema)
    val g = new graft.Graft(ds.sparkSession, $(dim),
      TrainConfig(lr = $(stepSize), iters = $(maxIter), l2 = $(regParam)),
      numClasses = $(numClasses))
    val w = g.train(ds.toDF(), $(featuresCol), $(labelCol))
    copyValues(new GraftClassifierModel(uid, w).setParent(this))
  }

  override def transformSchema(schema: StructType): StructType = {
    require(schema.fieldNames.contains($(labelCol)),
      s"label column '${$(labelCol)}' missing")
    require(schema($(labelCol)).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"label column '${$(labelCol)}' must be numeric, got ${schema($(labelCol)).dataType}")
    validateAndTransformSchema(schema)
  }

  override def copy(extra: ParamMap): GraftClassifier = defaultCopy(extra)
}

/** Fitted model: appends the forward pass's (ip1, prob) blob columns to
  * the input. The column expressions mirror [[LogisticRegression.features]]
  * / [[SoftmaxRegression.features]] — same codegen'd `float_dot` kernels,
  * weights as array literals, stable softmax — and GraftClassifierSpec
  * pins the blob values bit-identical to those methods' output, so the
  * two surfaces cannot drift apart silently.
  */
class GraftClassifierModel private[ml] (
    override val uid: String, val weights: Array[Double])
    extends Model[GraftClassifierModel] with GraftClassifierParams {

  override def transform(ds: Dataset[_]): DataFrame = {
    transformSchema(ds.schema)
    val feat = col($(featuresCol))
    if ($(numClasses) == 2) {
      require(weights.length == $(dim),
        s"weight vector is ${weights.length} doubles, expected ${$(dim)}")
      val z = org.apache.spark.sql.graft.VectorExpressions
        .float_dot(feat, lit(weights.map(_.toFloat)))
      // uid-derived temp names: a bare "__z" would CLOBBER a same-named
      // input column and then drop it, contradicting the declared
      // input-columns-ride-along output schema (r20 review finding)
      val zc = s"__${uid}_z"
      val pc = s"__${uid}_p"
      ds.toDF().withColumn(zc, z)
        .withColumn(pc, lit(1.0) / (lit(1.0) + exp(-col(zc))))
        .withColumn("ip1", array(col(zc).cast(FloatType)))
        .withColumn("prob", array(col(pc).cast(FloatType),
          (lit(1.0) - col(pc)).cast(FloatType)))
        .drop(zc, pc)
    } else {
      val k = $(numClasses)
      require(weights.length == k * $(dim),
        s"weight matrix is ${weights.length} doubles, expected $k x ${$(dim)}")
      val zs: Seq[Column] = (0 until k).map { c =>
        org.apache.spark.sql.graft.VectorExpressions.float_dot(feat,
          lit(weights.slice(c * $(dim), (c + 1) * $(dim)).map(_.toFloat)))
      }
      val mx = greatest(zs: _*)
      val es = zs.map(z => exp(z - mx))
      val denom = es.reduce(_ + _)
      ds.toDF()
        .withColumn("ip1", array(zs.map(_.cast(FloatType)): _*))
        .withColumn("prob", array(es.map(e => (e / denom).cast(FloatType)): _*))
    }
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): GraftClassifierModel =
    copyValues(new GraftClassifierModel(uid, weights), extra).setParent(parent)

  /** Persist the fitted model in the engine's snapshot posture (K5, the
    * flattened-weights parquet the JobRunner lifecycle shares) plus the
    * head geometry and column params — one 1-row parquet, readable by
    * [[GraftClassifierModel.load]]. Deliberately NOT MLWritable: the
    * reference's MyMLPipeline persists only the downstream MLlib model,
    * and the engine's one snapshot format keeps a shim-trained and a
    * job-trained model interchangeable.
    */
  def save(path: String): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    Seq((uid, weights.toSeq, $(dim), $(numClasses), $(featuresCol), $(labelCol)))
      .toDF("uid", "weights", "dim", "numClasses", "featuresCol", "labelCol")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }
}

object GraftClassifierModel {

  /** Rehydrate a model written by [[GraftClassifierModel.save]] in ONE
    * job: the read declares the schema save writes, so no inference pass.
    */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): GraftClassifierModel = {
    val r = spark.read.schema("uid STRING, weights ARRAY<DOUBLE>, dim INT, " +
      "numClasses INT, featuresCol STRING, labelCol STRING").parquet(path).head()
    val m = new GraftClassifierModel(r.getString(0), r.getSeq[Double](1).toArray)
    m.set(m.dim, r.getInt(2))
    m.set(m.numClasses, r.getInt(3))
    m.set(m.featuresCol, r.getString(4))
    m.set(m.labelCol, r.getString(5))
    m
  }
}
