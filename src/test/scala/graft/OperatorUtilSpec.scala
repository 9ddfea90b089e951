package graft

import graft.functions.Interop
import graft.multimodal.{MediaSample, Multimodal}
import graft.operators.Partitioning
import graft.tools.Converters
import org.apache.spark.sql.functions._

/** Coverage for the remaining SURVEY §2 utility operators: P2/P5/P6/P8/P10,
  * S3/K2/K3 seqfile + metrics sinks, Y2 fixed-size partitioning, A3 stats.
  */
class OperatorUtilSpec extends SparkSpec {
  import spark.implicits._

  test("P5/P6: label from array, ml vector conversion") {
    val df = Seq((Seq(3.5f, 1.0f), "a")).toDF("arr", "id")
    assert(df.select(Interop.labelFromArray(col("arr"))).head.getDouble(0) == 3.5)
    val v = df.select(Interop.toMlVector(col("arr")).as("v")).head
      .getAs[org.apache.spark.ml.linalg.Vector]("v")
    assert(v.toArray.toSeq == Seq(3.5, 1.0))
  }

  test("P2: optional columns defaulted, required enforced") {
    val df = Seq(("x", 1)).toDF("data", "label")
    val out = Interop.withDefaults(df, required = Seq("data", "label"),
      defaults = Map("channels" -> lit(1), "encoded" -> lit(false)))
    assert(out.columns.toSet == Set("data", "label", "channels", "encoded"))
    assert(out.head.getAs[Int]("channels") == 1)
    intercept[IllegalArgumentException] {
      Interop.withDefaults(df, required = Seq("missing"), defaults = Map.empty)
    }
  }

  test("P10: scaleTensor multiplies elementwise") {
    val df = Seq(Seq(2.0f, 4.0f)).toDF("t")
    val got = df.select(Interop.scaleTensor(col("t"), 0.5).as("s"))
      .head.getSeq[Float](0)
    assert(got == Seq(1.0f, 2.0f))
  }

  test("P8: CHW to HWC reorder round-trips pixel values") {
    // 2 channels, 2x2: CHW = [c0: 0,1,2,3][c1: 10,11,12,13]
    val chw = Array[Byte](0, 1, 2, 3, 10, 11, 12, 13)
    val hwc = Multimodal.chwToHwc(chw, channels = 2, height = 2, width = 2)
    assert(hwc.toSeq == Seq[Byte](0, 10, 1, 11, 2, 12, 3, 13))
  }

  test("P10: crop and mirror kernels") {
    val px = Array.tabulate(4 * 2)(_.toByte) // 4x2, 1 channel
    val s = MediaSample("1", "x", 1, 2, 4, encoded = false, px)
    val c = Multimodal.crop(s, x0 = 1, y0 = 0, w = 2, h = 2)
    assert(c.data.toSeq == Seq[Byte](1, 2, 5, 6))
    val m = Multimodal.mirror(s)
    assert(m.data.toSeq == Seq[Byte](3, 2, 1, 0, 7, 6, 5, 4))
  }

  test("S3/K3: sequence file round-trip") {
    val df = Seq(("s1", 7, Array[Byte](1, 2)), ("s2", 9, Array[Byte](3)))
      .toDF("SampleID", "label", "data")
    val path = java.nio.file.Files.createTempDirectory("seq").toString + "/sf"
    Converters.writeSequenceFile(df, path)
    val back = Converters.readSequenceFile(spark, path).orderBy("SampleID").collect()
    assert(back.length == 2)
    assert(back(0).getString(0) == "s1" && back(0).getInt(1) == 7)
    assert(back(0).getAs[Array[Byte]](2).toSeq == Seq[Byte](1, 2))
  }

  test("S3: all three SequenceFile key encodings read back through one scan") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("label", StringType),
      StructField("channels", IntegerType), StructField("height", IntegerType),
      StructField("width", IntegerType), StructField("encoded", BooleanType),
      StructField("data", BinaryType)))
    val rows = Seq(Row("s1", "3", 3, 4, 5, false, Array[Byte](1, 2, 3)),
      Row("s2", "7", 1, 0, 0, true, Array[Byte](9)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    for (enc <- Seq("utf8", "tuple2", "tuple6")) {
      val path = java.nio.file.Files.createTempDirectory(s"seq$enc").toString + "/sf"
      Converters.writeSequenceFileSamples(df, path, enc)
      val back = Converters.readSequenceFileSamples(spark, path).orderBy("id").collect()
      assert(back.length == 2, enc)
      assert(back(0).getString(0) == "s1" && back(0).getString(1) == "3", enc)
      assert(back(0).getAs[Array[Byte]](6).toSeq == Seq[Byte](1, 2, 3), enc)
      if (enc == "tuple6") { // dims survive only in the 6-tuple encoding
        assert(back(0).getInt(2) == 3 && back(0).getInt(3) == 4 &&
          back(0).getInt(4) == 5 && !back(0).getBoolean(5))
      } else { // pair encodings default like the reference reader
        assert(back(0).getInt(2) == 1 && back(0).getBoolean(5))
      }
    }
  }

  test("S3: reference-era Java Pair keys decode via descriptor substitution") {
    // Hand-rolled Java serialization stream for the reference's deprecated
    // Pair<String,String> key class (two Object fields first/second) — the
    // class itself is NOT on the classpath, exactly like a modern cluster
    // reading a reference-era file. Byte layout per the Java Object
    // Serialization Stream Protocol.
    import java.io.{ByteArrayOutputStream, DataOutputStream}
    def serializedPair(first: String, second: String): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeShort(0xACED); out.writeShort(5) // STREAM_MAGIC, VERSION
      out.writeByte(0x73) // TC_OBJECT
      out.writeByte(0x72) // TC_CLASSDESC
      out.writeUTF("com.yahoo.ml.dl.caffe.Pair")
      out.writeLong(0x1234567890abcdefL) // suid (ignored: descriptor swapped)
      out.writeByte(0x02) // SC_SERIALIZABLE
      out.writeShort(2) // field count
      for (name <- Seq("first", "second")) {
        out.writeByte('L'); out.writeUTF(name)
        out.writeByte(0x74); out.writeUTF("Ljava/lang/Object;") // TC_STRING sig
      }
      out.writeByte(0x78) // TC_ENDBLOCKDATA
      out.writeByte(0x70) // TC_NULL (no superclass)
      for (v <- Seq(first, second)) { out.writeByte(0x74); out.writeUTF(v) }
      out.flush(); bos.toByteArray
    }
    import org.apache.hadoop.io.BytesWritable
    val path = java.nio.file.Files.createTempDirectory("seqpair").toString + "/sf"
    spark.sparkContext.parallelize(Seq(
      (serializedPair("img_001", "7"), Array[Byte](4, 5, 6))), 1)
      .map { case (k, v) => (new BytesWritable(k), new BytesWritable(v)) }
      .saveAsSequenceFile(path)
    val back = Converters.readSequenceFileSamples(spark, path).collect()
    assert(back.length == 1)
    assert(back(0).getString(0) == "img_001" && back(0).getString(1) == "7")
    assert(back(0).getInt(2) == 1 && back(0).getBoolean(5)) // Pair defaults
    assert(back(0).getAs[Array[Byte]](6).toSeq == Seq[Byte](4, 5, 6))
  }

  test("S3: serialized keys outside the allowlist are rejected, not executed") {
    import org.apache.hadoop.io.BytesWritable
    def javaSer(o: AnyRef): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(o); oos.close(); bos.toByteArray
    }
    val gadget = new java.util.HashMap[String, String]() // stand-in for a chain head
    gadget.put("x", "y")
    val path = java.nio.file.Files.createTempDirectory("seqevil").toString + "/sf"
    spark.sparkContext.parallelize(Seq((javaSer(gadget), Array[Byte](1))), 1)
      .map { case (k, v) => (new BytesWritable(k), new BytesWritable(v)) }
      .saveAsSequenceFile(path)
    val e = intercept[Exception] {
      Converters.readSequenceFileSamples(spark, path).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(_.isInstanceOf[java.io.InvalidClassException]),
      s"expected filter rejection, got: $e")
  }

  test("K2: metrics sink writes one json line") {
    val path = java.nio.file.Files.createTempDirectory("metrics").toString + "/m"
    Converters.writeMetrics(spark, Map("accuracy" -> Seq(0.9), "loss" -> Seq(0.1, 0.2)), path)
    val lines = spark.read.text(path).collect().map(_.getString(0))
    assert(lines.length == 1)
    assert(lines.head.contains(""""accuracy": [0.9]"""))
  }

  test("Y2/A3: fixed-size repartition yields equal partitions") {
    val df = (1 to 100).toDF("n")
    val fixed = Partitioning.repartitionFixedSize(df, 10, Seq("n"))
    assert(fixed.count() == 100)
    val (mn, mx, np) = Partitioning.partitionSizeStats(fixed)
    assert(np == 10 && mn == 10 && mx == 10)
    // global order is preserved: partition p holds sorted rows [10p+1, 10p+10]
    val perPart = fixed.rdd.glom().collect()
    assert(perPart.zipWithIndex.forall { case (rows, p) =>
      rows.map(_.getInt(0)).toSeq == (p * 10 + 1 to p * 10 + 10)
    })
  }

  test("connected components: min-label fixpoint over chains, cliques, pairs") {
    import graft.operators.Components
    // components: chain 1-2-3-4, clique 10-11-12 (+13 via 12), pair 20-21
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (12L, 13L), (20L, 21L)).toDF("a", "b")
    val got = Components.connectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(got(_) == 1L))
    assert(Seq(10L, 11L, 12L, 13L).forall(got(_) == 10L))
    assert(Seq(20L, 21L).forall(got(_) == 20L))
    assert(got.size == 10)
  }

  test("canonicalize keeps min doc per near-dup cluster, untouched docs survive") {
    import graft.operators.Components
    val docs = (1L to 30L).toDF("doc_id")
    val pairs = Seq((3L, 7L), (7L, 9L), (20L, 25L)).toDF("a", "b")
    val kept = Components.canonicalize(docs, pairs)
      .collect().map(_.getLong(0)).toSet
    assert(!kept.contains(7L) && !kept.contains(9L) && !kept.contains(25L))
    assert(kept.contains(3L) && kept.contains(20L))
    assert(kept.size == 27)
    // end-to-end with a real pair relation: q31's near-dup pairs
    val realDocs = Tables(spark, sf, "documents")
    val realPairs = queries.DedupOps.q31MinhashLsh.fn(spark, sf)
      .select(col("a"), col("b"))
    val canon = Components.canonicalize(realDocs, realPairs)
    assert(canon.count() < realDocs.count())
    // no two surviving docs are a detected near-dup pair
    val survivors = canon.select(col("doc_id").as("a"))
    assert(realPairs.join(survivors, "a")
      .join(canon.select(col("doc_id").as("b")), "b").isEmpty)
    // keep-min filters on the labels' own rule (a component is labeled
    // with its minimum id): the same drop set as the argmin group joined
    // back to the labels
    val comp = Components.connectedComponents(realPairs)
    val argmin = comp.join(comp.groupBy("component").agg(min(col("id")).as("keep")), "component")
      .filter(col("id") =!= col("keep")).select("id")
    val drop = Components.dropSet(comp, None)
    assert(!drop.isEmpty && drop.exceptAll(argmin).isEmpty && argmin.exceptAll(drop).isEmpty)
  }

  test("salted join equals the plain join on skewed keys and shuffles on (key, salt)") {
    import graft.operators.Salting
    // 90% of the big side lands on one hot key
    val big = ((1 to 9000).map(_ => 1) ++ (1 to 1000).map(i => 1 + i % 50))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "payload")
    val small = (1 to 60).map(k => (k, s"dim$k")).toDF("k", "name")
    val plain = big.join(small, "k")
    val salted = Salting.saltedJoin(big, small, "k", saltN = 8)
    assert(salted.count() == plain.count())
    assert(salted.select("k", "payload", "name").except(plain).isEmpty)
    assert(plain.except(salted.select("k", "payload", "name")).isEmpty)
    // the exchange must key on the salt too, not the bare hot key
    val shuffles = salted.queryExecution.executedPlan.toString
    assert(shuffles.contains("__salt"), "salt column absent from the plan")
  }

  test("salted aggregation matches groupBy on a hot key") {
    import graft.operators.Salting
    val df = ((1 to 9000).map(_ => 1) ++ (1 to 1000).map(i => 1 + i % 50))
      .map(k => (k, k * 2L)).toDF("k", "v")
    val got = Salting.saltedAgg(df, "k", saltN = 8,
      partials = Seq(sum("v").as("s"), count(lit(1)).as("c")),
      merge = Seq(sum("s").as("total"), sum("c").as("n")))
      .orderBy("k").collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val want = df.groupBy("k")
      .agg(sum("v").as("total"), count(lit(1)).as("n"))
      .orderBy("k").collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq)
  }

  test("Y2: ragged last partition; no single-task global Sort/Window in the plan") {
    val df = (1 to 95).toDF("n")
    val fixed = Partitioning.repartitionFixedSize(df, 10, Seq("n"))
    val (mn, mx, np) = Partitioning.partitionSizeStats(fixed)
    assert(np == 10 && mn == 5 && mx == 10)
    // the sort stage must be the parallel range-exchange form, never a
    // zero-partitionBy Window (which plans a SinglePartition exchange)
    val sortedPlan = df.repartitionByRange(org.apache.spark.sql.functions.col("n"))
      .sortWithinPartitions("n").queryExecution.executedPlan.toString
    assert(!sortedPlan.contains("Window"))
    assert(!sortedPlan.toLowerCase.contains("singlepartition"))
  }
}
