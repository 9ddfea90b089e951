package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.unsafe.types.UTF8String

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions, so `spark.sql("SELECT float_dot(a, b)")`
  * and `--conf spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`
  * work on an unmodified Spark distribution (the customization-ladder rung
  * SURVEY §2.11 maps the reference's input-adapter registry onto), and
  * injects graft's planner strategies ([[GraftExtensions.strategies]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, cls, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name), new ExpressionInfo(cls, name), builder))
    }
    GraftExtensions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
  }
}

object GraftExtensions {
  /** graft's planner strategies, in planner order: injected by
    * [[GraftExtensions]], and added by [[install]] to a session built
    * without it.
    */
  val strategies: Seq[Strategy] = Seq(AsOfJoinStrategy, SmallSortStrategy, BuiltCacheScans)

  private val installed = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Adds each of [[strategies]] its planner lacks to `spark`, once per
    * session: a caller that removes one from `experimental.extraStrategies`
    * later keeps it removed. Called at a session's first footer-typed
    * parquet read and at its first as-of join.
    */
  def install(spark: SparkSession): Unit =
    if (installed.putIfAbsent(spark, true) == null) {
      val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      s.experimental.extraStrategies = s.experimental.extraStrategies ++
        strategies.filterNot(s.sessionState.planner.strategies.contains)
    }

  /** Every native expression exposed to SQL, one row per function. */
  private[graft] val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("float_dot", classOf[FloatVectorDot].getName,
      (c: Seq[Expression]) => FloatVectorDot(c(0), c(1))),
    ("float_norm", classOf[FloatVectorNorm].getName,
      (c: Seq[Expression]) => FloatVectorNorm(c.head)),
    ("simhash32", classOf[SimHash32].getName,
      (c: Seq[Expression]) => SimHash32(c.head)),
    ("rolling_hash", classOf[RollingHash].getName,
      (c: Seq[Expression]) => RollingHash(c.head)),
    ("token_hashes", classOf[TokenHashes].getName,
      (c: Seq[Expression]) => TokenHashes(c.head)),
    ("tokenize", classOf[Tokenize].getName,
      (c: Seq[Expression]) => Tokenize(c.head)),
    ("shingle_hashes", classOf[ShingleHashes].getName,
      (c: Seq[Expression]) => c match {
        case Seq(arr) => ShingleHashes(arr)
        case Seq(arr, n) =>
          // arity must be a literal; evaluated once at resolution
          ShingleHashes(arr, n.eval().asInstanceOf[Number].intValue())
        case _ => throw new IllegalArgumentException(
          "shingle_hashes(tokens[, arity])")
      }),
    ("collect_long_list_capped", classOf[CollectLongListCapped].getName,
      (c: Seq[Expression]) => c match {
        case Seq(child, cap) => CollectLongListCapped(child,
          cap.eval().asInstanceOf[Number].intValue()).toAggregateExpression()
        case _ => throw new IllegalArgumentException(
          "collect_long_list_capped(col, cap)")
      }),
    ("sum128", classOf[Sum128].getName,
      (c: Seq[Expression]) => c match {
        case Seq(e) => Sum128(e).toAggregateExpression()
        case _ => throw new IllegalArgumentException("sum128(col)")
      }),
    ("token_length_sum", classOf[TokenLengthSum].getName,
      (c: Seq[Expression]) => TokenLengthSum(c.head)),
    ("tf_counts", classOf[TfCounts].getName,
      (c: Seq[Expression]) => c match {
        case Seq(toks, words) => TfCounts(toks, words)
        case _ => throw new IllegalArgumentException("tf_counts(tokens, words)")
      }),
    ("ws_token_count", classOf[WsTokenCount].getName,
      (c: Seq[Expression]) => WsTokenCount(c.head)),
    ("class_seq", classOf[ClassSeq].getName,
      (c: Seq[Expression]) => c match {
        case Seq(toks, vocab) => ClassSeq(toks, vocab)
        case _ => throw new IllegalArgumentException("class_seq(tokens, vocab)")
      }),
    ("class_bigram_keys", classOf[ClassBigramKeys].getName,
      (c: Seq[Expression]) => c match {
        case Seq(cls, n) => ClassBigramKeys(cls,
          n.eval().asInstanceOf[Number].intValue())
        case _ => throw new IllegalArgumentException("class_bigram_keys(cls, c)")
      }),
    ("bigram_nll", classOf[BigramNll].getName,
      (c: Seq[Expression]) => c match {
        case Seq(cls, cb, cu) => BigramNll(cls, cb, cu)
        case _ => throw new IllegalArgumentException("bigram_nll(cls, cb, cu)")
      }),
    ("bpeish_token_count", classOf[BpeishTokenCount].getName,
      (c: Seq[Expression]) => BpeishTokenCount(c.head)),
    ("tokens_in_set", classOf[TokensInSet].getName,
      (c: Seq[Expression]) => c match {
        case Seq(arr, set) =>
          // the set must be a literal array of strings; evaluated once
          val vals = set.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          TokensInSet(arr, (0 until vals.numElements()).map(i => vals.getUTF8String(i).toString))
        case _ => throw new IllegalArgumentException(
          "tokens_in_set(tokens, array('a', 'b', ...))")
      }),
    ("bucket_counts", classOf[BucketCounts].getName,
      (c: Seq[Expression]) => c match {
        case Seq(keys, m) =>
          BucketCounts(keys, m.eval() match {
            case i: Int => i
            case l: Long => l.toInt
            case d: java.math.BigDecimal => d.intValueExact()
            case d: org.apache.spark.sql.types.Decimal => d.toInt
            case other => throw new IllegalArgumentException(
              s"bucket_counts: m must be an integer literal, got $other")
          })
        case _ => throw new IllegalArgumentException(
          "bucket_counts(keys, m)")
      }),
    ("bloom_hits", classOf[BloomHits].getName,
      (c: Seq[Expression]) => c match {
        case Seq(keys, bytes) =>
          // the serialized filter must be a literal; evaluated once
          BloomHits(keys, bytes.eval().asInstanceOf[Array[Byte]])
        case _ => throw new IllegalArgumentException(
          "bloom_hits(keys, filter_bytes)")
      }),
    ("dup_run_stats", classOf[DupRunStats].getName,
      (c: Seq[Expression]) => c match {
        case Seq(fps) => DupRunStats(fps)
        case _ => throw new IllegalArgumentException("dup_run_stats(fps)")
      }),
    ("char_stats", classOf[CharStats].getName,
      (c: Seq[Expression]) => CharStats(c.head)),
    ("cdc_chunks", classOf[CdcChunks].getName,
      (c: Seq[Expression]) => c match {
        // divisor must be a FOLDABLE non-null numeric literal, checked
        // before eval(): a column reference or NULL divisor previously
        // surfaced as an opaque ClassCastException/NPE from the cast
        case Seq(toks, d) if d.foldable =>
          d.eval() match {
            case n: Number => CdcChunks(toks, n.intValue())
            case _ => throw new IllegalArgumentException(
              "cdc_chunks(tokens, divisor): divisor must be a non-null numeric literal")
          }
        case _ => throw new IllegalArgumentException(
          "cdc_chunks(tokens, divisor): divisor must be a non-null numeric literal")
      }),
    ("linear_count_buckets", classOf[LinearCountBuckets].getName,
      (c: Seq[Expression]) => c match {
        case Seq(child, m) => LinearCountBuckets(child,
          m.eval().asInstanceOf[Number].intValue()).toAggregateExpression()
        case _ => throw new IllegalArgumentException(
          "linear_count_buckets(bucket, m)")
      }),
    ("percentile_long", classOf[PercentileLong].getName,
      (c: Seq[Expression]) => c match {
        case Seq(child, p) =>
          // SQL fractional literals eval to Decimal, not java.lang.Number
          val pct = p.eval() match {
            case d: org.apache.spark.sql.types.Decimal => d.toDouble
            case n: Number => n.doubleValue()
            case other => throw new IllegalArgumentException(
              s"percentile_long(col, p): non-numeric percentage $other")
          }
          PercentileLong(child, pct).toAggregateExpression()
        case _ => throw new IllegalArgumentException("percentile_long(col, p)")
      }),
    ("json_long_field", classOf[JsonLongField].getName,
      (c: Seq[Expression]) => c match {
        case Seq(s, k) =>
          // key must be a literal; evaluated once at resolution
          JsonLongField(s, k.eval().asInstanceOf[UTF8String].toString)
        case _ => throw new IllegalArgumentException("json_long_field(json, 'key')")
      }),
    ("topk_by_score", classOf[TopKByScore].getName,
      (c: Seq[Expression]) => c match {
        case Seq(score, id, k) => TopKByScore(score, id,
          k.eval().asInstanceOf[Number].intValue()).toAggregateExpression()
        case _ => throw new IllegalArgumentException(
          "topk_by_score(score, id, k)")
      }),
    ("dhash64", classOf[DHash64].getName,
      (c: Seq[Expression]) => c match {
        case Seq(data, ch, h, w) => DHash64(data, ch, h, w)
        case _ => throw new IllegalArgumentException(
          "dhash64(data, channels, height, width)")
      }),
    ("pcm_window_stats", classOf[PcmWindowStats].getName,
      (c: Seq[Expression]) => c match {
        case Seq(data, w) => PcmWindowStats(data, w)
        case _ => throw new IllegalArgumentException(
          "pcm_window_stats(data, windowSamples)")
      }),
    ("pcm_synth", classOf[PcmSynth].getName,
      (c: Seq[Expression]) => c match {
        case Seq(t, ctr, g) => PcmSynth(t, ctr, g)
        case _ => throw new IllegalArgumentException(
          "pcm_synth(text, center, gain)")
      }),
    ("vec_normalize", classOf[VecNormalize].getName,
      (c: Seq[Expression]) => c match {
        case Seq(x, meanE, scaleE) =>
          // mean and scale must be literals; evaluated once at resolution.
          // SQL numerics arrive as int/long/double/Decimal — all fold to
          // float (the transformer's working precision)
          def toF(v: Any): Float = v match {
            case d: org.apache.spark.sql.types.Decimal => d.toFloat
            case n: Number => n.floatValue()
            case other => throw new IllegalArgumentException(
              s"vec_normalize: non-numeric mean/scale element $other")
          }
          val arr = meanE.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          val et = meanE.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
          VecNormalize(x, arr.toObjectArray(et).map(toF), toF(scaleE.eval()))
        case _ => throw new IllegalArgumentException(
          "vec_normalize(x, array(mean...), scale)")
      }))
}

/** Runtime registration for sessions that already exist (extensions bind
  * only at session construction — e.g. notebooks, tests).
  */
object GraftFunctions {
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    GraftExtensions.builders.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
