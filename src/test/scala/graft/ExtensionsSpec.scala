package graft

import org.apache.spark.sql.graft.{AsOfJoinStrategy, BuiltCacheScans, GraftExtensions, GraftFunctions, SmallSortStrategy}

/** Native expressions exposed as SQL functions: runtime registration on a
  * live session, plus the SparkSessionExtensions hook for
  * `spark.sql.extensions` (bindable only at session construction, so here
  * it is exercised structurally).
  */
class ExtensionsSpec extends SparkSpec {

  test("float_dot / float_norm callable from SQL after registration") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT float_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d, " +
        "float_norm(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS n").head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 5.0)
  }

  test("float_dot agrees with the interpreted path and handles nulls") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT float_dot(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT))) AS d").head()
    assert(r.isNullAt(0))
  }

  test("GraftExtensions injects all functions at construction time") {
    // structural: the injector runs without error on a fresh extensions bag
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("GraftExtensions injects the as-of join and small-sort planner strategies") {
    val injected = Seq.newBuilder[org.apache.spark.sql.execution.SparkStrategy]
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions {
      override def injectPlannerStrategy(builder: org.apache.spark.sql.SparkSession =>
          org.apache.spark.sql.execution.SparkStrategy): Unit = injected += builder(spark)
    })
    assert(injected.result() == Seq(AsOfJoinStrategy, SmallSortStrategy, BuiltCacheScans))
    assert(injected.result() == GraftExtensions.strategies)
  }

  test("a fresh session holds each of graft's strategies once after its first parquet read") {
    val fresh = spark.newSession().asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    assert(GraftExtensions.strategies.forall(s => !fresh.sessionState.planner.strategies.contains(s)))
    graft.sources.Parquet.read(fresh, s"$sf/documents.parquet")
    graft.sources.Parquet.read(fresh, s"$sf/lineitem.parquet")
    val planner = fresh.sessionState.planner.strategies
    assert(GraftExtensions.strategies.forall(s => planner.count(_ == s) == 1),
      s"strategies: ${planner.map(_.getClass.getSimpleName)}")
  }

  test("collect_long_list_capped: exact within cap, truncates past it, skips nulls") {
    import org.apache.spark.sql.graft.AggExpressions.collect_long_list_capped
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // key 1: 5 values (within cap), key 2: 40 values (over cap=8),
    // key 3: nulls only
    val df = ((1 to 5).map(v => (1L, Some(v.toLong))) ++
      (1 to 40).map(v => (2L, Some(v.toLong))) ++
      Seq((3L, None: Option[Long])))
      .toDF("k", "v").repartition(8)
    val got = df.groupBy("k")
      .agg(sort_array(collect_long_list_capped(col("v"), 8)).as("vs"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    assert(got(1L) == (1 to 5).map(_.toLong))          // exact under cap
    assert(got(2L).length == 8)                        // bounded, not 40
    assert(got(2L).forall(v => v >= 1 && v <= 40))
    assert(got(3L).isEmpty)                            // nulls skipped
    // and callable from plain SQL through the registry
    val viaSql = spark.sql(
      "SELECT size(collect_long_list_capped(v, 3)) FROM VALUES (1L),(2L),(3L),(4L),(5L) AS t(v)"
    ).head.getInt(0)
    assert(viaSql == 3)
  }

  test("shingle_hashes callable from SQL at default and explicit arity") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT shingle_hashes(array('a', 'b', 'c', 'd')) AS bi, " +
        "shingle_hashes(array('a', 'b', 'c', 'd'), 4) AS quad").head()
    val bi = r.getSeq[Long](0)
    val quad = r.getSeq[Long](1)
    assert(bi.length == 3 && quad.length == 1)
    assert(quad.head == org.apache.spark.sql.graft.RollingHash.hash("a b c d"))
    assert(bi.head == org.apache.spark.sql.graft.RollingHash.hash("a b"))
  }

  test("sketch expressions callable from SQL: simhash32, rolling_hash, token_hashes") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT rolling_hash('abc') AS rh, " +
        "simhash32(token_hashes(array('spark', 'engine', 'spark'))) AS sh, " +
        "size(token_hashes(array('a', 'b'))) AS n").head()
    // rolling hash: fold of acc*31 + codepoint mod 1e9+7
    val expected = "abc".foldLeft(0L)((acc, ch) => (acc * 31 + ch) % 1000000007L)
    assert(r.getLong(0) == expected)
    assert(!r.isNullAt(1))
    assert(r.getInt(2) == 2)
    // and the SQL path agrees with the query-side column API
    val viaApi = Tables(spark, sf, "documents").limit(50)
      .select(org.apache.spark.sql.graft.SketchExpressions
        .rolling_hash(org.apache.spark.sql.functions.col("text")).as("h"))
    val viaSql = Tables(spark, sf, "documents").limit(50)
      .selectExpr("rolling_hash(text) AS h")
    assert(viaApi.collect().map(_.getLong(0)).toSeq ==
      viaSql.collect().map(_.getLong(0)).toSeq)
  }

  test("q118 kernels: class_seq / class_bigram_keys / bigram_nll equal their SQL-HOF forms bit-for-bit") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.TextExpressions.{bigram_nll, class_bigram_keys, class_seq}
    val C = queries.TextOps.PplVocab + 1
    val f = queries.TextOps.tokenizedNonEmpty(Tables(spark, sf, "documents"))
      .filter(col("dl") >= 2)
    val (vw, cu, _, cb) = queries.TextOps.bigramModel(Tables(spark, sf, "documents"))
    val both = f
      .withColumn("vw", typedLit(vw))
      .withColumn("cls", class_seq(col("t"), col("vw")))
      .withColumn("clsHof", expr("transform(t, w -> array_position(vw, w))"))
      .withColumn("keys", class_bigram_keys(col("cls"), C))
      .withColumn("keysHof", expr(
        s"transform(slice(cls, 2, size(cls) - 1), (b, i) -> element_at(cls, i + 1) * $C + b)"))
      .withColumn("cb", typedLit(cb))
      .withColumn("cu", typedLit(cu))
      .withColumn("total", lit(cu.sum))
      .withColumn("nll", bigram_nll(col("cls"), col("cb"), col("cu")))
      .withColumn("nllHof", expr(queries.TextOps.bigramNllExpr(C)))
    val rows = both.select("cls", "clsHof", "keys", "keysHof", "nll", "nllHof").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), "class_seq diverged from array_position")
      assert(r.getSeq[Long](2) == r.getSeq[Long](3), "class_bigram_keys diverged from the indexed transform")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(4)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(5)),
        s"bigram_nll not bit-identical to the HOF fold: ${r.getDouble(4)} vs ${r.getDouble(5)}")
    }
    // SQL registration smoke
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val q = spark.sql(
      "SELECT bigram_nll(class_bigram_keys(class_seq(array('a','b'), array('a','b')), 3), " +
        " array(0L,0L,0L,0L,0L,0L,0L,0L,0L), array(1L,1L,1L))").columns
    assert(q.nonEmpty)
    graft.Caches.clearAll(spark)
  }

  test("bigram_nll OOV-class guard: a frozen model with cu[0]=0 scores a foreign OOV doc finite, matching the HOF form") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.TextExpressions.bigram_nll
    import spark.implicits._
    // model trained on a corpus whose top-V vocab covered EVERYTHING:
    // cu = [0 (no OOV seen), 3, 2] over vocab (a, b); cb counts a→b etc.
    val C = 3
    val cu = Seq(0L, 3L, 2L)
    val cb = Seq(0L, 0L, 0L, 0L, 1L, 2L, 0L, 2L, 0L)
    // foreign doc: 'z' is OOV (class 0) — the unguarded form hit
    // cb[0*C+1]/cu[0] = 0/0 = NaN at the z→a transition
    val cls = Seq(0L, 1L, 2L) // z a b
    val viaKernel = Seq(Tuple1(cls)).toDF("cls")
      .select(bigram_nll(col("cls"), typedLit(cb), typedLit(cu)).as("nll"))
      .head().getDouble(0)
    assert(!viaKernel.isNaN && !viaKernel.isInfinite,
      s"guarded kernel must stay finite on OOV prefix, got $viaKernel")
    val viaHof = Seq((cls, cb, cu, cu.sum, cls.length.toLong))
      .toDF("cls", "cb", "cu", "total", "dl")
      .selectExpr(s"(${queries.TextOps.bigramNllExpr(C)}) AS nll")
      .head().getDouble(0)
    assert(java.lang.Double.doubleToLongBits(viaKernel) ==
      java.lang.Double.doubleToLongBits(viaHof),
      s"guarded kernel diverged from guarded HOF: $viaKernel vs $viaHof")
    // hand-computed: term(0→1) = 0.5*(cb[1]/max(cu[0],1)) + 0.5*(cu[1]/5)
    //              = 0.5*0/1 + 0.5*3/5 = 0.3
    // term(1→2) = 0.5*(cb[1*3+2]/cu[1]) + 0.5*(cu[2]/5) = 0.5*2/3 + 0.5*2/5
    val expected = -(StrictMath.log(0.5 * (0.0 / 1.0) + 0.5 * (3.0 / 5.0)) +
      StrictMath.log(0.5 * (2.0 / 3.0) + 0.5 * (2.0 / 5.0))) / 2.0
    assert(java.lang.Double.doubleToLongBits(viaKernel) ==
      java.lang.Double.doubleToLongBits(expected))
  }
}
