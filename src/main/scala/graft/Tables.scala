package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet-first table loaders over the driver-generated testdata layout
  * (TESTDATA.md): one parquet file per table under an sf directory.
  *
  * Mirrors the reference's DataFrame source idea
  * (caffe-grid/src/main/scala/com/yahoo/ml/caffe/DataFrameSource.scala:83-88 —
  * "input DataFrame format is configurable, default parquet") without the
  * prototxt indirection: the format is parquet, the path is `dir/name.parquet`,
  * and Catalyst sees a plain relation so pushdown/pruning stay automatic.
  * Reads are footer-typed ([[graft.sources.Parquet]]): the schema Spark
  * would infer is read from one footer on the driver and declared, so a
  * load runs no schema-inference job.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Plan-fragment cache: repeated loads of the same table otherwise re-list
  // the directory and re-read parquet footers on every query — measurable
  // when a bench run plans 38 queries back to back. Keyed per session so
  // Verify/Bench/test sessions don't cross.
  private val cache = graft.sources.SessionMemo.track(
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame])(_._1)

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    cache.getOrElseUpdate((spark, dir, name), load(spark, dir, name))

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts arrives in whatever physical type the generator last used:
    // TIMESTAMP(NANOS) (which Spark 4 rejects unless read as long) or
    // TIMESTAMP(MICROS) isAdjustedToUTC=false (which Spark reads as
    // TIMESTAMP_NTZ, rejected by instant functions like unix_micros).
    // Normalize both to session-tz TIMESTAMP; the session tz is pinned to
    // UTC by every entrypoint, so the NTZ cast is instant-preserving and
    // matches DuckDB's naive-timestamp reading of the same file.
    if (name == "events") {
      val df = graft.sources.Parquet.read(spark, s"$dir/$name.parquet", nanosAsLong = true)
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      df.schema.find(_.name == "ts").map(_.dataType) match {
        // ns-as-long: rebuild µs timestamps (generator emits exact µs;
        // ns % 1000 == 0 verified, so lossless)
        case Some(LongType) =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case Some(TimestampNTZType) =>
          df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    } else graft.sources.Parquet.read(spark, s"$dir/$name.parquet")
  }
}
