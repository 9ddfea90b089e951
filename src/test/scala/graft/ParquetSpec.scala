package graft

import java.nio.file.{Files, Path}

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.Parquet

/** Footer-typed parquet reads ([[graft.sources.Parquet]]): the schema the
  * helper declares is the one `spark.read.parquet` infers — table files,
  * `nanosAsLong`, partition directories, summary files — it runs no Spark
  * job to get it, and where it hands the read to Spark the errors are
  * Spark's own.
  */
class ParquetSpec extends SparkSpec {

  private def outcome(read: => DataFrame): Either[(String, String), StructType] =
    try Right(read.schema)
    catch { case e: Exception with SparkThrowable => Left(e.getClass.getName -> e.getCondition) }

  /** The helper's schema equals Spark's inference, and it costs 0 jobs
    * where the inferring read costs at least one.
    */
  private def assertFooterTyped(path: String): Unit = {
    val (inferred, inferJobs) = countingJobs(s"parquet-infer-$path")(spark.read.parquet(path).schema)
    val (df, jobs) = countingJobs(s"parquet-footer-$path")(Parquet.read(spark, path))
    assert(Parquet.footerSchema(spark, path).isDefined, s"$path went to Spark's inference")
    assert(df.schema == inferred, s"$path: ${df.schema.treeString} vs ${inferred.treeString}")
    assert(jobs == 0 && inferJobs >= 1, s"$path: $jobs jobs footer-typed, $inferJobs inferred")
  }

  private def tmp(tag: String): Path = Files.createTempDirectory(s"parquetspec-$tag")

  test("every sf0.001 table: the footer schema is Spark's, with no job") {
    withConf("spark.sql.legacy.parquet.nanosAsLong", "false") {
      Tables.all.foreach(t => assertFooterTyped(s"$sf/$t.parquet"))
    }
  }

  test("events under nanosAsLong: the footer schema is Spark's") {
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      assertFooterTyped(s"$sf/events.parquet")
    }
  }

  test("a partitionBy directory: data columns from the footer, partition columns from the listing") {
    val dir = tmp("parts").resolve("t").toString
    spark.range(0, 40, 1, 4)
      .select(col("id"), (col("id") % 3).as("k"), (col("id") % 2 === 0).as("even"),
        concat(lit("v"), col("id").cast("string")).as("s"))
      .write.partitionBy("even", "k").parquet(dir)
    assertFooterTyped(dir)
    assert(Parquet.read(spark, dir).columns.toSeq == Seq("id", "s", "even", "k"))
  }

  test("the first data file is the first by full path, not by directory name") {
    // k=a-b/part-… sorts before k=a/part-… ('-' < '/'), though the name
    // k=a sorts before k=a-b; the two footers differ, so the pick shows
    val dir = tmp("order").resolve("t")
    spark.range(0, 3).select(col("id")).write.parquet(dir.resolve("k=a").toString)
    spark.range(0, 3).select(col("id"), lit("x").as("extra"))
      .write.parquet(dir.resolve("k=a-b").toString)
    assert(spark.read.parquet(dir.toString).columns.toSeq == Seq("id", "extra", "k"))
    assertFooterTyped(dir.toString)
  }

  test("a data column named like a partition directory goes to Spark") {
    // Spark orders and types such a column differently under a declared
    // schema, so the helper declares none
    val dir = tmp("overlap").resolve("t")
    spark.range(0, 3).select(col("id"), lit(7L).as("k")).write.parquet(dir.resolve("k=1").toString)
    assert(Parquet.footerSchema(spark, dir.toString).isEmpty)
    assert(Parquet.read(spark, dir.toString).schema == spark.read.parquet(dir.toString).schema)
  }

  test("a _common_metadata file is the footer read, as in Spark's inference") {
    val base = tmp("summary")
    val dir = base.resolve("t")
    spark.range(0, 10).select(col("id"), col("id").cast("string").as("s"))
      .write.parquet(dir.toString)
    // a footer with a different schema than the data files: whichever
    // footer a read declares shows in its schema
    val other = base.resolve("other")
    spark.range(0, 3).select(col("id"), lit(1.5).as("w")).coalesce(1).write.parquet(other.toString)
    val part = scala.util.Using.resource(Files.list(other))(
      _.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get())
    Files.copy(part, dir.resolve("_common_metadata"))
    assert(spark.read.parquet(dir.toString).columns.toSeq == Seq("id", "w"))
    assertFooterTyped(dir.toString)
  }

  test("a missing path and an empty directory fail as in Spark") {
    val missing = tmp("missing").resolve("nope").toString
    val empty = tmp("empty").toString
    for (p <- Seq(missing, empty)) {
      val spark0 = outcome(spark.read.parquet(p))
      assert(spark0.isLeft, s"$p: Spark read it")
      assert(outcome(Parquet.read(spark, p)) == spark0, p)
    }
  }

  test("mergeSchema on: the read goes to Spark, which merges every footer") {
    val dir = tmp("merge").resolve("t").toString
    spark.range(0, 4).select(col("id")).write.parquet(dir)
    spark.range(4, 8).select(col("id"), lit("x").as("extra")).write.mode("append").parquet(dir)
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(Parquet.footerSchema(spark, dir).isEmpty)
      val merged = Parquet.read(spark, dir).schema
      assert(merged == spark.read.parquet(dir).schema && merged.fieldNames.toSeq == Seq("id", "extra"))
    }
  }

  test("events reads type TIMESTAMP(NANOS) as longs and leave the session conf as it was") {
    // an events file as the generator once wrote it: ts in TIMESTAMP(NANOS)
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmp("nanos")
    val file = dir.resolve("events.parquet").toString
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val micros = Seq(1700000000000001L, 1700000060000002L)
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withConf(spark.sessionState.newHadoopConf()).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try micros.zipWithIndex.foreach { case (us, i) =>
      writer.write(groups.newGroup().append("event_id", i.toLong).append("ts", us * 1000)
        .append("user_id", 1L).append("event_type", "view").append("value", 1.0)
        .append("props", "{}"))
    } finally writer.close()

    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getAll
    assert(Parquet.read(spark, file, nanosAsLong = true).schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)
    val batch = Tables(spark, dir.toString, "events")
    val stream = graft.streaming.EventStreams.readEvents(spark, dir.toString)
    assert(spark.conf.getAll == before, s"$key: ${spark.conf.getAll.get(key)}")
    assert(batch.schema("ts").dataType == stream.schema("ts").dataType &&
      batch.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq == micros)
    // Spark's own inference (mergeSchema on) runs with the conf on, then
    // puts it back
    withConf("spark.sql.parquet.mergeSchema", "true") {
      val during = spark.conf.getAll
      assert(Parquet.read(spark, file, nanosAsLong = true).schema("ts").dataType ==
        org.apache.spark.sql.types.LongType)
      assert(spark.conf.getAll == during)
    }
  }
}
