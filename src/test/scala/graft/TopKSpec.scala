package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{TopK, TopKBuffer}

/** topk_by_score: the bounded per-group ranking aggregate. The contract
  * is exact equivalence with the window form (`row_number() OVER
  * (PARTITION BY g ORDER BY score DESC, id) <= k`) for unique ids, under
  * ANY partitioning — partial buffers must merge to the same selection
  * the full sort would make.
  */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  test("buffer: eviction, rank order, id tiebreak, offer-order independence") {
    val pairs = Seq(
      (3.0, 7L), (1.0, 1L), (3.0, 2L), (2.0, 9L), (5.0, 4L), (2.0, 3L), (1.0, 8L))
    // expected under (score DESC, id ASC): (5,4) (3,2) (3,7) (2,3) — k=4
    val expect = Seq((5.0, 4L), (3.0, 2L), (3.0, 7L), (2.0, 3L))
    pairs.permutations.take(100).foreach { perm =>
      val buf = new TopKBuffer(4)
      perm.foreach { case (s, i) => buf.offer(s, i) }
      val got = (0 until buf.n).map(j => (buf.scores(j), buf.ids(j)))
      assert(got == expect, s"order ${perm.mkString(",")}")
    }
  }

  test("buffer: k larger than input keeps everything, still rank-ordered") {
    val buf = new TopKBuffer(10)
    Seq((1.0, 5L), (2.0, 1L), (1.5, 3L)).foreach { case (s, i) => buf.offer(s, i) }
    assert((0 until buf.n).map(j => (buf.scores(j), buf.ids(j))) ==
      Seq((2.0, 1L), (1.5, 3L), (1.0, 5L)))
  }

  test("aggregate equals the window form on random data, any partitioning") {
    val rnd = new scala.util.Random(42)
    val rows = (0 until 5000).map { i =>
      (i % 13L, rnd.nextDouble() * 100, i.toLong) // (group, score, unique id)
    }
    val df = rows.toDF("g", "s", "id")
    val w = Window.partitionBy("g").orderBy(col("s").desc, col("id"))
    val windowForm = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 7).select("g", "s", "id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    Seq(1, 3, 16).foreach { parts =>
      val aggForm = df.repartition(parts)
        .groupBy("g").agg(TopK.topk_by_score(col("s"), col("id"), 7).as("tk"))
        .select(col("g"), explode(col("tk")).as("h"))
        .select(col("g"), col("h.score"), col("h.id"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      assert(aggForm == windowForm, s"parts=$parts")
    }
  }

  test("aggregate output is rank-ordered within each group's array") {
    val df = Seq((1L, 2.0, 10L), (1L, 9.0, 11L), (1L, 9.0, 5L), (1L, 4.0, 12L))
      .toDF("g", "s", "id")
    val arr = df.groupBy("g")
      .agg(TopK.topk_by_score(col("s"), col("id"), 3).as("tk"))
      .select("tk").head.getSeq[org.apache.spark.sql.Row](0)
    assert(arr.map(r => (r.getDouble(0), r.getLong(1))) ==
      Seq((9.0, 5L), (9.0, 11L), (4.0, 12L)))
  }

  test("NaN scores rank greatest — the same order Spark's desc sort gives") {
    val df = Seq((1L, 1.0, 1L), (1L, Double.NaN, 2L), (1L, 99.0, 3L))
      .toDF("g", "s", "id")
    val w = Window.partitionBy("g").orderBy(col("s").desc, col("id"))
    val win = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .select("id").collect().map(_.getLong(0)).toSet
    val agg = df.groupBy("g").agg(TopK.topk_by_score(col("s"), col("id"), 2).as("tk"))
      .select(explode(col("tk.id")).as("id"))
      .collect().map(_.getLong(0)).toSet
    assert(agg == win && win == Set(2L, 3L))
  }

  test("SQL registration: topk_by_score callable from SQL") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val out = spark.sql(
      "SELECT topk_by_score(s, id, 2) AS tk FROM VALUES " +
        "(1.0D, 1L), (3.0D, 2L), (2.0D, 3L) AS t(s, id)")
      .select(explode(col("tk")).as("h")).select("h.score", "h.id")
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(out == Seq((3.0, 2L), (2.0, 3L)))
  }

  test("null score or id rows are skipped, not ranked") {
    val df = Seq[(java.lang.Long, java.lang.Double, java.lang.Long)](
      (1L, 5.0, 1L), (1L, null, 2L), (1L, 7.0, null))
      .toDF("g", "s", "id")
    val got = df.groupBy("g").agg(TopK.topk_by_score(col("s"), col("id"), 3).as("tk"))
      .select(explode(col("tk.id")).as("id")).collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L))
  }
}
