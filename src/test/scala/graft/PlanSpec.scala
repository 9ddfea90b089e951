package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan regression guards for the 100 TB posture (SURVEY §4): the
  * properties that make these queries scale — filter/column pushdown to the
  * parquet scan, broadcast joins for dims, TakeOrderedAndProject for top-k,
  * partial aggregation — asserted against the planned text so a refactor
  * can't silently trade them away.
  */
class PlanSpec extends SparkSpec {

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The adaptive plan AQE settled on, read after the query ran (the
    * text before the initial plan it also prints).
    */
  private def finalPlanOf(df: DataFrame): String = {
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p.take(800))
    p.take(p.indexOf("== Initial Plan =="))
  }

  test("q2: predicates and projection push down to the parquet scan") {
    val p = planOf(queries.Relational.q2FilterProject.fn(spark, sf))
    assert(p.contains("PushedFilters: ["), p.take(800))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate filter not pushed")
    // (the PushedFilters list is truncated in toString; the shipdate filter
    // proves pushdown reached the scan, DataFilters shows the quantity one)
    assert(p.contains("l_quantity#"), "quantity filter missing from scan")
    // pruned read schema: no l_discount/l_tax in the scan
    assert(!p.contains("l_discount"), "column pruning lost")
  }

  test("q3: dimension joins broadcast; no shuffle on dim side") {
    val p = planOf(queries.Relational.q3JoinRevenue.fn(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(p.contains("BroadcastExchange"))
  }

  test("q3: the final ORDER BY sorts in one partition, no range exchange; 6 jobs") {
    val p = finalPlanOf(queries.Relational.q3JoinRevenue.fn(spark, sf))
    assert(!p.contains("rangepartitioning"), p)
    assert(ledgerJobs("q3_join_revenue") == 6)
  }

  test("a sort over materialized input larger than one advisory partition keeps its range exchange") {
    import org.apache.spark.sql.functions.col
    val cached = spark.range(0, 20000, 1, 4).select((col("id") * 7919 % 20000).as("k")).persist()
    try {
      cached.count()
      def plan(): String = {
        val df = cached.orderBy("k")
        assert(df.collect().map(_.getLong(0)).toSeq == (0L until 20000L))
        finalPlanOf(df)
      }
      assert(!plan().contains("rangepartitioning"), "the built cache fits 64 MB")
      withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k") {
        assert(plan().contains("Exchange rangepartitioning"))
      }
    } finally cached.unpersist(blocking = true)
  }

  test("a sort above an explode keeps its range exchange") {
    import org.apache.spark.sql.functions.{col, explode, split}
    val docs = Tables(spark, sf, "documents")
    val words = docs.select(explode(split(col("text"), " ")).as("w")).orderBy("w")
    assert(finalPlanOf(words).contains("Exchange rangepartitioning"))
    // the same scan sorted without the explode fits one partition
    assert(!finalPlanOf(docs.select(col("text")).orderBy("text")).contains("rangepartitioning"))
  }

  test("sorts above unique-keyed lookup joins (q21, q24, q28, q31) sort in one partition") {
    Seq("q21_ngram_jaccard", "q24_asof_join", "q28_embedding_neardup", "q31_minhash_lsh")
      .foreach { name =>
        try assert(!finalPlanOf(SparkEntry.queries(name)(spark, sf)).contains("rangepartitioning"), name)
        finally Caches.clearAll(spark)
      }
  }

  test("q45: the sort above its scanned lookup join gathers through SinglePartition") {
    val p = finalPlanOf(queries.SqlSurface.q45CorrelatedSubquery.fn(spark, sf))
    assert(p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("a sort over a built cache of long strings is bounded by its measured bytes") {
    import org.apache.spark.sql.functions.{col, lit, repeat}
    val cached = spark.range(0, 2000, 1, 4)
      .select((col("id") * 7919 % 2000).as("id"), repeat(lit("x"), 2000).as("text")).persist()
    try {
      cached.count()
      // about 4 MB of text measured; 2000 rows at Spark's default row width
      // of (id, text), 36 bytes, would be 72 KB
      withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m") {
        val df = cached.orderBy("id")
        assert(df.collect().map(_.getLong(0)).toSeq == (0L until 2000L))
        assert(finalPlanOf(df).contains("Exchange rangepartitioning"))
      }
    } finally cached.unpersist(blocking = true)
  }

  /** A built 20000-row cache (id, k), ids out of order, joined to a
    * broadcast lookup table (k, v) on `k` under a 1m advisory size and
    * sorted by id. The cache measures 16 bytes a row, so the streamed bound
    * scaled to the join's width (id, k, v) is about 430 KB; the join emits
    * twice that when each lookup key appears twice, and about 4 MB when `v`
    * is a 200-character string that reaches the sort.
    */
  private def sortAboveLookupJoin(advisory: String = "1m", dupKeys: Boolean = false,
      textValues: Boolean = false, textInFilterOnly: Boolean = false): String = {
    import org.apache.spark.sql.functions.{broadcast, col, length}
    import spark.implicits._
    val streamed = spark.range(0, 20000, 1, 4).select((col("id") * 7919 % 20000).as("id"))
      .select(col("id"), (col("id") % 100).as("k")).persist()
    try {
      streamed.count()
      val keys = (0 until (if (dupKeys) 200 else 100)).map(i => (i % 100).toLong)
      val lookup =
        if (textValues) keys.map(k => (k, "v" * 200 + k)).toDF("k", "v")
        else keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
      withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory) {
        val joined = streamed.join(broadcast(lookup), "k")
        val df = (if (textInFilterOnly) joined.filter(length(col("v")) + col("id") >= 0).select("k", "id")
                  else joined).orderBy("id")
        val ids = df.collect().map(_.getLong(1)).toSeq
        assert(ids == (0L until 20000L).flatMap(i => Seq.fill(if (dupKeys) 2 else 1)(i)))
        finalPlanOf(df)
      }
    } finally streamed.unpersist(blocking = true)
  }

  test("a sort above a lookup join whose broadcast keys repeat keeps its range exchange") {
    assert(!sortAboveLookupJoin().contains("rangepartitioning"))
    assert(sortAboveLookupJoin(dupKeys = true).contains("Exchange rangepartitioning"))
  }

  test("a sort above a unique-keyed lookup join whose streamed side exceeds the advisory size keeps its range exchange") {
    assert(sortAboveLookupJoin(advisory = "100k").contains("Exchange rangepartitioning"))
  }

  test("a sort above a unique-keyed lookup join that adds string columns keeps its range exchange") {
    assert(sortAboveLookupJoin(textValues = true).contains("Exchange rangepartitioning"))
    // the same strings read by a filter and dropped before the sort
    assert(!sortAboveLookupJoin(textValues = true, textInFilterOnly = true).contains("rangepartitioning"))
  }

  test("q105: the sort over its TakeOrdered head adds no exchange; 1 job") {
    assert(ledgerJobs("q105_boilerplate_spans") == 1)
  }

  test("every registered query returns the same rows, in order, without the small sort") {
    import org.apache.spark.sql.graft.{GraftExtensions, SmallSortStrategy}
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    GraftExtensions.install(spark) // so no read below installs it again
    val strategies = session.experimental.extraStrategies
    assert(strategies.contains(SmallSortStrategy))
    def rows(name: String) =
      try SparkEntry.queries(name)(spark, sf).collect().toSeq finally Caches.clearAll(spark)
    val differ = SparkEntry.defs.map(_.name).filter { name =>
      val small = rows(name)
      session.experimental.extraStrategies = strategies.filterNot(_ == SmallSortStrategy)
      try rows(name) != small finally session.experimental.extraStrategies = strategies
    }
    assert(differ.isEmpty, s"rows differ without the small sort: $differ")
  }

  test("an exchange over a built cache runs once for the branches that read it") {
    import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.functions.{col, count, lit}
    // a groupBy self-joined over a built cache: AQE's TableCacheQueryStage
    // has no canonical form of its own, so under it each branch runs its
    // own shuffle
    org.apache.spark.sql.graft.GraftExtensions.install(spark)
    val df = spark.range(0, 400, 1, 4).withColumn("planSpecReuse", col("id") % 13)
    Caches.persistNow(df)
    try {
      val agg = df.groupBy("planSpecReuse").agg(count(lit(1)).as("n"))
      val q = agg.as("a").join(agg.as("b"), "planSpecReuse")
      assert(q.collect().length == 13)
      val shuffles = planNodes(q.queryExecution.executedPlan).collect {
        case s: ShuffleQueryStageExec => s.plan
      }
      assert(shuffles.count(_.isInstanceOf[ShuffleExchangeExec]) == 1 &&
        shuffles.count(_.isInstanceOf[ReusedExchangeExec]) == 1,
        s"shuffle stages: ${shuffles.map(_.nodeName)}")
      assert(missedReuse(q.queryExecution.executedPlan).isEmpty)
    } finally df.unpersist(blocking = true)
  }

  test("an unbuilt cache keeps its TableCacheQueryStage; read twice, it builds in one job") {
    import org.apache.spark.sql.execution.adaptive.TableCacheQueryStageExec
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graft.{BuiltCacheScanExec, GraftExtensions}
    GraftExtensions.install(spark)
    val df = spark.range(0, 300, 1, 4).withColumn("planSpecLazy", col("id") % 7)
    val before = Caches.snapshot(spark)
    try {
      val (plans, _, builds) = countingCacheBuilds("plan-spec-lazy") {
        Caches.persist(df)
        Seq.fill(2) {
          val q = df.groupBy("planSpecLazy").count()
          q.collect()
          planNodes(q.queryExecution.executedPlan)
        }
      }
      assert(builds.values.toSeq == Seq(1), s"jobs per cached RDD: $builds")
      val Seq(first, second) = plans
      // the first read plans as Spark plans it; the second finds the cache built
      assert(first.exists(_.isInstanceOf[TableCacheQueryStageExec]) &&
        !first.exists(_.isInstanceOf[BuiltCacheScanExec]), first.head.treeString)
      assert(second.exists(_.isInstanceOf[BuiltCacheScanExec]) &&
        !second.exists(_.isInstanceOf[TableCacheQueryStageExec]), second.head.treeString)
    } finally Caches.clearCreatedSince(spark, before)
  }

  test("a built cache's scan leaf publishes the scan's row count and names InMemoryTableScan") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graft.{BuiltCacheScanExec, GraftExtensions}
    GraftExtensions.install(spark)
    val df = spark.range(0, 321, 1, 3).withColumn("planSpecMetric", col("id") * 2)
    Caches.persistNow(df)
    try {
      val q = df.filter(col("planSpecMetric") % 3 =!= 1)
      assert(q.collect().length == 214)
      val leaf = planNodes(q.queryExecution.executedPlan).collectFirst {
        case b: BuiltCacheScanExec => b
      }.getOrElse(fail(q.queryExecution.executedPlan.treeString))
      // the filter runs above the scan: every cached row is read
      assert(leaf.metrics("numOutputRows").value == 321)
      assert(leaf.toString.contains("InMemoryTableScan"), leaf.toString)
    } finally df.unpersist(blocking = true)
  }

  test("q6: global top-k plans as TakeOrderedAndProject, not a full sort") {
    val p = planOf(queries.Relational.q6TopK.fn(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("q16: vocab top-k aggregates with map-side partials") {
    val p = planOf(queries.TextOps.q16VocabTopk.fn(spark, sf))
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q27: brute-force ANN is scan + broadcast + top-k (no shuffle of the corpus)") {
    val p = planOf(queries.VectorOps.q27DotTopk.fn(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle for a 1-row query")
  }

  test("q1: aggregation is partial + final (map-side combine)") {
    val p = planOf(queries.Relational.q1PricingSummary.fn(spark, sf))
    assert(p.contains("HashAggregate"))
    assert("partial".r.findFirstIn(p).isDefined, p.take(800))
  }

  test("q34: probe partition-prunes the bucketed layout — reads probed dirs only") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = queries.VectorOps.q34AnnLsh.fn(spark, sf)
    df.collect() // drive execution so the scan's driver metrics are final
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = (p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
    }).flatten
    val pruned = scans(df.queryExecution.executedPlan)
      .filter(_.partitionFilters.nonEmpty)
    assert(pruned.nonEmpty, "q34 has no scan with partition filters")
    val scan = pruned.head
    assert(scan.partitionFilters.mkString.contains("bucket"),
      scan.partitionFilters.mkString)
    // pruning is real, not decorative: the scan read strictly fewer
    // partition directories than the layout holds
    val total = graft.sources.BucketedEmbeddings(spark, sf)
      .select("bucket").distinct().count()
    val read = scan.metrics("numPartitions").value
    assert(read > 0 && read < total,
      s"pruning not effective: read $read of $total partitions")
    // and the plan stays shuffle-free with the codegen'd ranking dot
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("float_vector_dot"), "ranking must use the codegen'd dot")
  }

  test("q28/q46: near-dup verification runs on the codegen'd float dot") {
    assert(planOf(queries.VectorOps.q28EmbeddingNeardup.fn(spark, sf))
      .contains("float_vector_dot"))
    assert(planOf(queries.VectorOps.q46EmbeddingNeardupLsh.fn(spark, sf))
      .contains("float_vector_dot"))
  }

  test("q31: exact verify via the sorted-merge intersect — no shingle-level join") {
    val p = planOf(queries.DedupOps.q31MinhashLsh.fn(spark, sf))
    // r21: the allocation-free merge kernel replaced size(array_intersect)
    assert(p.contains("sorted_intersect_count"), p.take(400))
    assert(p.contains("minhash_signature"), "signatures must use the native expression")
  }

  test("q21: capped posting lists — one fp aggregation, no Window, no self-join") {
    val p = planOf(queries.TextOps.q21NgramJaccard.fn(spark, sf))
    assert(!p.contains("Window"), "the DF cap must ride the fp aggregation, not a Window")
    assert(!p.toLowerCase.contains("singlepartition"),
      "something collapsed the table into one task")
    assert(p.contains("collect_long_list_capped"),
      "posting lists must use the bounded-buffer aggregate")
  }

  test("q31: fingerprint sets build map-side — no dedup exchange, no doc groupBy") {
    // the fps relation is sort_array(array_distinct(shingle_hashes(...)))
    // straight off the scan; the only exchanges in the whole plan belong to
    // the band self-join + candidate distinct downstream
    val p = planOf(queries.DedupOps.q31MinhashLsh.fn(spark, sf))
    assert(p.contains("array_distinct"), "per-doc dedup must be the array form")
    assert(!p.contains("collect_list"),
      "fingerprint sets must not be rebuilt with a groupBy collect")
  }

  test("bucketed layout round-trips the corpus exactly (partitioning loses no rows)") {
    import org.apache.spark.sql.functions._
    val stored = graft.sources.BucketedEmbeddings(spark, sf)
    val base = Tables(spark, sf, "embeddings")
    assert(stored.count() == base.count())
    // stored buckets equal the bucket expression over the base table
    val recomputed = base.withColumn("b2", queries.VectorOps.lshBucket)
      .select(col("vec_id"), col("b2"))
    val mismatches = stored
      .select(col("vec_id"), col("bucket").cast("long").as("b1"))
      .join(recomputed, "vec_id")
      .filter(col("b1") =!= col("b2")).count()
    assert(mismatches == 0)
  }

  test("native text/sketch expressions stay inside whole-stage codegen spans") {
    // codegen'd operators print with a *(n) stage prefix — but only in
    // the FINAL adaptive plan, so execute first, then match the tree
    def fusedContains(df: DataFrame, marker: String): Boolean = {
      df.collect()
      df.queryExecution.executedPlan.toString.linesIterator
        .exists(l => l.contains(marker) && l.contains("*("))
    }
    // one CodegenFallback expression would eject the whole projection
    // from the fused stage — assert each family actually fuses
    assert(fusedContains(queries.TextOps.q15TokenStats.fn(spark, sf), "tokenize"),
      "tokenize fell out of whole-stage codegen")
    assert(fusedContains(queries.TextOps.q17Fingerprint.fn(spark, sf), "rolling_hash"),
      "rolling_hash fell out of whole-stage codegen")
    assert(fusedContains(queries.DedupOps.q32Simhash.fn(spark, sf), "simhash32"),
      "simhash32 fell out of whole-stage codegen")
    assert(fusedContains(queries.DedupOps.q31MinhashLsh.fn(spark, sf), "minhash_signature"),
      "minhash_signature fell out of whole-stage codegen")
  }

  test("q51/q52: n-gram relations dedup map-side with bounded posting buffers") {
    val p51 = planOf(queries.PipelineOps.q51Decontaminate.fn(spark, sf))
    assert(p51.contains("array_distinct") && p51.contains("collect_long_list_capped"),
      p51.take(400))
    val p52 = planOf(queries.PipelineOps.q52SourceNovelty.fn(spark, sf))
    assert(p52.contains("array_distinct"), p52.take(400))
  }

  test("q35: distinct sketch plans without Expand; q10: ONE scan via the multi-distinct Expand") {
    // q35's bitset aggregate keeps Expand out entirely (constant sketch
    // state per group)
    val p35 = planOf(queries.Relational.q35ApproxDistinct.fn(spark, sf))
    assert(!p35.contains("Expand"), p35.take(600))
    assert(p35.contains("linear_count_buckets"), p35.take(600))
    // q10 stays split: the single-scan Expand alternative was re-tried in
    // r13 and lost the interleaved A/B (OPTIMIZATION_r21.md: split 0.82 s median
    // vs expand 1.10 s at sf0.1 — expand's one wide shuffle stage
    // serializes worse on wall than four pipelined single-column jobs,
    // despite lower aggregate task time)
    val p10 = planOf(queries.Relational.q10Distinct.fn(spark, sf))
    assert(!p10.contains("Expand"), p10.take(600))
  }

  test("q25/q19/q40/q18: native scalar replacements keep CodegenFallback out") {
    // get_json_object, ArrayFilter lambdas and regexp_extract_all are
    // CodegenFallback — their native replacements must stay in the plan
    val p25 = planOf(queries.EventOps.q25JsonExtract.fn(spark, sf))
    assert(p25.contains("json_long_field") && !p25.contains("get_json_object"),
      p25.take(600))
    val p19 = planOf(queries.TextOps.q19LangId.fn(spark, sf))
    assert(p19.contains("tokens_in_set") && !p19.contains("filter(t"),
      p19.take(600))
    val p40 = planOf(queries.TextOps.q40TokenCount.fn(spark, sf))
    assert(p40.contains("ws_token_count") && p40.contains("bpeish_token_count") &&
      !p40.contains("regexp_extract_all"), p40.take(600))
    val p18 = planOf(queries.TextOps.q18TextQuality.fn(spark, sf))
    assert(p18.contains("tokens_in_set") && p18.contains("token_length_sum"),
      p18.take(600))
  }

  test("q61: CMS cell table aggregates with partials and broadcasts back") {
    val p = planOf(queries.TextOps.q61HeavyHitters.fn(spark, sf))
    // the 4x8192-cell sketch is the broadcast side of the estimate join —
    // the corpus-sized relation never shuffles onto the cell key space
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert("partial".r.findFirstIn(p).isDefined, "CMS counts must map-side combine")
    assert(p.contains("shingle_hashes"), "shingles must use the native expression")
    assert(!p.contains("CartesianProduct"))
  }

  test("q59/q60: percentile on native aggregate; centroid stats broadcast back") {
    val p59 = planOf(queries.PipelineOps.q59LengthPercentiles.fn(spark, sf))
    assert(p59.contains("percentile_long"), p59.take(600))
    assert(!p59.contains("ObjectHashAggregate") || p59.contains("percentile_long"),
      "q59 must aggregate on the primitive-state percentile")
    val p60 = planOf(queries.VectorOps.q60CentroidOutliers.fn(spark, sf))
    assert(p60.contains("BroadcastHashJoin"), "q60 centroid join must broadcast")
  }

  test("ANN assignment runs on the native argmin, not the compose form") {
    val p42 = planOf(queries.VectorOps.q42AnnIvf.fn(spark, sf))
    assert(p42.contains("nearest_centroid"), p42.take(600))
    assert(!p42.contains("array_min"), "compose-form argmin crept back")
    val p58 = planOf(queries.VectorOps.q58AnnPq.fn(spark, sf))
    assert(p58.contains("nearest_centroid"), p58.take(600))
  }

  test("q64: coarse probe gates the PQ scan; no cartesian product") {
    val p = planOf(queries.VectorOps.q64AnnIvfPq.fn(spark, sf))
    assert(p.contains("nearest_centroid"), p.take(600))
    // the nprobe-2 cell gate lands as an IN filter ahead of the PQ coding
    assert(p.contains(" IN ") || p.contains("cell#"), "probe-cell gate missing")
    assert(p.contains("TakeOrderedAndProject"), "ADC/exact top-k must not full-sort")
    assert(!p.contains("CartesianProduct"))
  }

  test("q65: bm25 is two scans + a 1-row broadcast, no token explode") {
    val p = planOf(queries.TextOps.q65Bm25.fn(spark, sf))
    assert(p.contains("tokenize"), "must tokenize with the native expression")
    assert(!p.contains("Generate"), "bm25 must not explode tokens")
    assert(!p.contains("lambdafunction"), "tf must count via codegen'd array_remove, not a HOF")
    // corpus stats come back as a broadcast 1-row join, never a shuffle join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(800))
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not full-sort")
  }

  test("q66: vocab + totals broadcast back; scoring pass never shuffles the corpus") {
    val p = planOf(queries.TextOps.q66Perplexity.fn(spark, sf))
    assert(p.contains("tokenize"), "must tokenize with the native expression")
    // all V tf counts in ONE native token pass (the previous V-pass
    // array_remove form was the scoring hot loop)
    assert(p.contains("tf_counts"), "tf must count via the fused tf_counts kernel")
    // the vocab is a TakeOrdered(V), never a full sort of the word counts
    assert(p.contains("TakeOrderedAndProject"), "top-V vocab must not full-sort")
    // one-row vocab + one-row totals come back as broadcasts
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(800))
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q67: span dedup — keyed joins only, map-side combine on the span aggregate") {
    val p = planOf(queries.DedupOps.q67SpanDedup.fn(spark, sf))
    // duplicate discovery must partially aggregate before the exchange
    // (a boilerplate span repeated billions of times collapses per partition)
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p.take(800))
    // the exchange must carry the 64-bit span fingerprint, never the span
    // string (~8× the shuffle width) — the string stays map-side only
    // (r21: fingerprints come from the fused window-composition kernel)
    assert(p.contains("shingle_hashes"), "span keys must be fingerprinted")
    assert(!p.contains("hashpartitioning(span"),
      "span STRING must not be a shuffle key")
    // removal/coverage/token joins are all keyed — never a cross product
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q69: chunking is pure map + explode — no join, no mid-plan shuffle") {
    val p = planOf(queries.PipelineOps.q69ChunkWindows.fn(spark, sf))
    assert(!p.contains("Join"), "chunking must not join anything")
    // only the output sort may exchange; nothing aggregates
    assert(!p.contains("HashAggregate"), "chunking must not aggregate")
    assert(p.contains("Generate"), "window starts must explode per row")
  }

  test("q98: source matrix consumes the pair-graph layout — no shingling at query time") {
    val p = planOf(queries.DedupOps.q98SourceDupMatrix.fn(spark, sf))
    assert(p.contains("graft-layout"),
      "pairs must come from the materialized PairGraph store")
    assert(!p.contains("shingle_hashes") && !p.contains("minhash"),
      "no shingling/banding may run at query time")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_count"), "the matrix group must map-side combine")
  }

  test("q101: dedup ROI — cluster-label layout scan, no CC and no shingling at query time") {
    // the clusters arrive as a scan of the stamped ClusterAssignment
    // layout (the cluster job ran once at ingest), so the pin is: layout
    // scan present, and the ABSENCE set — no component iteration
    // (ExistingRDD was Components' checkpointed forest), no shingling, no
    // banding, no pair generation, no cartesian in the query-time plan
    val p = planOf(queries.DedupOps.q101DedupSavings.fn(spark, sf))
    assert(p.contains("graft-layout"),
      "clusters must come from the materialized ClusterAssignment store")
    assert(!p.contains("ExistingRDD"),
      "no query-time connected-components run (its checkpoint forest leaks as ExistingRDD)")
    assert(!p.contains("shingle_hashes") && !p.contains("minhash"),
      "no shingling/banding may run at query time")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_"), "both rollups must map-side combine")
  }

  test("q62/q63: cluster + canonical corpus read the cluster-label layout, no query-time CC") {
    val p62 = planOf(queries.DedupOps.q62DedupClusters.fn(spark, sf))
    assert(p62.contains("graft-layout"),
      "q62's labels must come from the materialized ClusterAssignment store")
    assert(!p62.contains("ExistingRDD") && !p62.contains("shingle_hashes"),
      "no query-time CC or shingling in q62")
    assert(p62.contains("partial_count"), "the size rollup must map-side combine")
    val p63 = planOf(queries.DedupOps.q63CanonicalCorpus.fn(spark, sf))
    assert(p63.contains("graft-layout"),
      "q63's drop set must come from the materialized ClusterAssignment store")
    assert(!p63.contains("ExistingRDD") && !p63.contains("shingle_hashes"),
      "no query-time CC or shingling in q63")
    assert(p63.contains("LeftAnti"),
      "the corpus must anti-join the drop set, never shuffle on cluster keys")
  }

  test("q104: cluster purity — layout scan + one provenance join, no query-time CC") {
    val p = planOf(queries.DedupOps.q104ClusterPurity.fn(spark, sf))
    assert(p.contains("graft-layout"),
      "labels must come from the materialized ClusterAssignment store")
    assert(!p.contains("ExistingRDD") && !p.contains("shingle_hashes"),
      "no query-time CC or shingling")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_"), "the rollups must map-side combine")
  }

  test("q105: boilerplate spans — SpanStats layout scan + TakeOrdered head, no corpus explode") {
    val p = planOf(queries.TextOps.q105BoilerplateSpans.fn(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      "the top-20 head must be TakeOrdered, never a global sort")
    assert(p.contains("graft-layout"),
      "the span rollup must come from the ingest-stamped SpanStats store")
    assert(!p.contains("Generate"),
      "no query-time span explode — the corpus-scale work ran at ingest")
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      "a layout scan + TakeOrdered needs no hash exchange at all")
    assert(!p.contains("Join"), "the audit must not join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q105's defining computation (the SpanStats build): spread + in-row tf, one span exchange") {
    // the ingest-time build carries the plan obligations the query used
    // to: explicit-width spread before the span explode, per-doc tf
    // in-row (no (span, doc) exchange), map-side-combined rollup
    val p = planOf(queries.TextOps.spanStatsFrame(Tables(spark, sf, "documents")))
    assert("hashpartitioning\\(doc_id".r.findFirstIn(p).isDefined,
      "the explicit-width spread must precede the span explode")
    assert(p.contains("partial_"),
      "the span rollup must map-side combine before its exchange")
    // at most two hash exchanges: the explicit doc_id spread and the
    // span-level rollup — a third would be the (span, doc) tf exchange
    // the in-row pass removed. Upper bound, not exact count (r17 ADVICE).
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      "per-doc tf is in-row — only the spread and the span rollup may exchange")
    assert(!p.contains("Join"))
  }

  test("q106: PQ distortion meter — map-only arms, literal codebooks, 16-row group") {
    val p = planOf(queries.VectorOps.q106PqDistortion.fn(spark, sf))
    assert(p.contains("nearest_centroid"),
      "code assignment must be the native argmin kernel")
    assert(!p.contains("Join"),
      "the arms must be map-only — codebooks ride as literals, never a join")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_"), "the cell rollup must map-side combine")
    assert(p.contains("Generate"), "each row emits its 8 subspace cells via posexplode")
  }

  test("q108: IVF cell audit — map-only assignment, literal codebook, cell-sized group") {
    val p = planOf(queries.VectorOps.q108IvfCellAudit.fn(spark, sf))
    assert(p.contains("nearest_centroid"),
      "assignment must be the native argmin kernel")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "the codebook must ride as literals, never a join (the 1-row share total may BNLJ)")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_"), "the cell rollup must map-side combine")
  }

  test("q109: cluster density — layout + pair-graph scans, no query-time CC or shingling") {
    val p = planOf(queries.DedupOps.q109ClusterDensity.fn(spark, sf))
    assert(p.contains("graft-layout"),
      "labels and pairs must come from the materialized stores")
    assert(!p.contains("ExistingRDD") && !p.contains("shingle_hashes"),
      "no query-time CC or shingling")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_"), "the rollups must map-side combine")
  }

  test("q110: curriculum schedule — stamped model as literals, one map-only pass, 4-row group") {
    val p = planOf(queries.TextOps.q110CurriculumSchedule.fn(spark, sf))
    assert(!p.contains("percentile_long"),
      "thresholds are the ingest-stamped CurriculumThresholds artifact — " +
        "no per-query percentile derivation")
    assert(p.contains("tf_counts"), "the literal-model scorer must be in-plan")
    assert(!p.contains("Window"), "no ntile/rank window")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "model rides as literals — the scoring pass is pure map, no join")
    assert(p.contains("partial_"), "the 4-row phase group must map-side combine")
    graft.Caches.clearAll(spark)
  }

  test("q111: source dedup cost — layout drop set onto one corpus pass, no query-time CC") {
    val p = planOf(queries.DedupOps.q111SourceDedupCost.fn(spark, sf))
    assert(p.contains("graft-layout"),
      "the drop set must come from the materialized ClusterAssignment store")
    assert(!p.contains("ExistingRDD") && !p.contains("shingle_hashes"),
      "no query-time CC or shingling")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_"), "the |sources|-row rollup must map-side combine")
  }

  test("q112: retrieval agreement — both arms end in TakeOrdered, no global sort") {
    val p = planOf(queries.VectorOps.q112RetrievalAgreement.fn(spark, sf))
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2,
      "both arms must reduce via TakeOrdered before any window/join")
    assert(!p.contains("CartesianProduct"))
    graft.Caches.clearAll(spark)
  }

  test("q113: representative regret — layout labels, cluster-keyed window, no query-time CC") {
    val p = planOf(queries.DedupOps.q113RepresentativeRegret.fn(spark, sf))
    assert(p.contains("graft-layout"),
      "labels must come from the materialized ClusterAssignment store")
    assert(!p.contains("ExistingRDD") && !p.contains("shingle_hashes"),
      "no query-time CC or shingling")
    assert("hashpartitioning\\(cluster_id".r.findFirstIn(p).isDefined,
      "the argmax window must partition on the cluster id, never a global order")
    assert(!p.contains("CartesianProduct"))
  }

  test("q114: keep-best canonical — layout labels + map-only quality, anti-join, no query-time CC") {
    val p = planOf(queries.DedupOps.q114CanonicalBest.fn(spark, sf))
    assert(p.contains("graft-layout"),
      "cluster labels must come from the stamped ClusterAssignment store")
    assert(!p.contains("ExistingRDD") && !p.contains("shingle_hashes"),
      "no query-time CC or shingling")
    assert(p.contains("LeftAnti"),
      "the corpus must anti-join the drop set, never shuffle on cluster keys")
    assert(!p.contains("CartesianProduct"))
  }

  test("q115/q116: layout-audit meters — stamped-store scans, no query-time shingling, bounded groups") {
    for (q <- Seq(queries.TextOps.q115DfSpectrum,
        queries.DedupOps.q116FingerprintProfile)) {
      val p = planOf(q.fn(spark, sf))
      assert(p.contains("graft-layout"),
        s"${q.name}: the audited relation must come from its stamped layout")
      assert(!p.contains("shingle_hashes") && !p.contains("Generate"),
        s"${q.name}: no query-time shingling or explode — ingest paid it")
      assert(!p.contains("Join") && !p.contains("CartesianProduct"),
        s"${q.name}: a histogram of a layout must not join")
      assert(p.contains("partial_"),
        s"${q.name}: the bounded group must map-side combine")
    }
  }

  test("q117: vocab growth — TermStats scan vs a 1-row threshold broadcast, no corpus explode") {
    val p = planOf(queries.TextOps.q117VocabGrowth.fn(spark, sf))
    assert(p.contains("graft-layout"),
      "first-doc must come from the stamped TermStats store")
    assert(!p.contains("shingle_hashes") && !p.contains("Generate"),
      "no query-time shingling or explode — ingest paid it")
    assert(p.contains("percentile_long"),
      "quartile thresholds must be the bounded-state percentile aggregate")
    assert(p.contains("partial_"), "the 4-row group must map-side combine")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q118: bigram LM — literal model, native kernels, map-only scoring") {
    val p = planOf(queries.TextOps.q118BigramPerplexity.fn(spark, sf))
    // the model trains in bounded driver-side actions (the PqCodebooks
    // discipline — AQE does not dedup a joined-dims subtree, q103's
    // lesson: 22 jobs) and rides as literals; scoring is ONE pass over
    // the persisted tokenized frame through the codegen'd kernels (the
    // interpreted HOF fold was the measured hot spot: 1.9 → 0.79 s)
    assert(p.contains("bigram_nll") && p.contains("class_seq"),
      "scoring must run on the native kernels, not interpreted lambdas")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "the model must ride as literals — no join anywhere in the scoring plan")
    assert(!p.contains("Generate"), "scoring is per-row, never explode")
    // the model comes from the stamped BigramLm artifact, so the query
    // plan is ONE corpus scan + project — no persist, no second branch
    assert(!p.contains("InMemoryTableScan"),
      "nothing to persist — the model trained at ingest (BigramLm layout)")
    graft.Caches.clearAll(spark)
  }

  test("q119: LM disagreement — both models score in ONE pass, TakeOrdered head, no corpus join") {
    val p = planOf(queries.TextOps.q119LmDisagreement.fn(spark, sf))
    assert(p.contains("bigram_nll") && p.contains("tf_counts"),
      "both scorers must run native in the same map")
    assert(p.contains("TakeOrderedAndProject"),
      "the top-20 head must be TakeOrdered, never a global sort")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "no corpus-keyed join — the naive form joins two scored corpora on doc_id")
    assert(!p.contains("CartesianProduct"))
    graft.Caches.clearAll(spark)
  }

  test("q99: packing audit is q50's shard window + one partial-agg'd group — no join, no explode") {
    val p = planOf(queries.PipelineOps.q99PackingAudit.fn(spark, sf))
    assert(p.contains("Window"), "cum_tok must ride q50's shard-partitioned window")
    assert("hashpartitioning\\(lang".r.findFirstIn(p).isDefined,
      "the window must partition on the shard key, never a global order")
    assert(!p.contains("Join"), "the audit must not join")
    assert(!p.contains("Generate"), "nothing explodes")
    assert(p.contains("partial_"), "the shard rollup must map-side combine")
  }

  test("q100: calibration meter — banded candidates, native signatures, bounded group") {
    val p = planOf(queries.DedupOps.q100MinhashCalibration.fn(spark, sf))
    assert(p.contains("minhash_signature"), "signatures must be the native kernel")
    assert(p.contains("graft-layout") && !p.contains("shingle_hashes"),
      "fingerprint sets must come from the stamped DocFingerprints store — " +
        "no query-time shingling")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "candidates must join on (band, bh) keys, never cross")
    assert(p.contains("partial_"), "the ≤17-row bucket group must map-side combine")
  }

  test("q107: simhash calibration — native signature, cluster-before-band, keyed candidates") {
    val p = planOf(queries.DedupOps.q107SimhashCalibration.fn(spark, sf))
    assert(p.contains("simhash32"), "signatures must be the native kernel")
    assert(p.contains("collect_list"),
      "identical signatures must cluster BEFORE banding (q39's layout)")
    assert(p.contains("graft-layout") && !p.contains("shingle_hashes"),
      "fingerprint sets must come from the stamped DocFingerprints store — " +
        "no query-time shingling")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "candidates must join on (band, bh) keys, never cross")
    assert(p.contains("partial_"), "the ≤33-row hamming group must map-side combine")
  }

  test("q102: keywords — one tf pass, df from the TermStats layout, doc-keyed window") {
    val p = planOf(queries.TextOps.q102DocKeywords.fn(spark, sf))
    // r21: tf is the IN-ROW term_run_counts rollup — no (doc, w) exchange
    // exists to combine before anymore
    assert(p.contains("term_run_counts"), "tf must be the in-row rollup")
    assert(p.contains("graft-layout"),
      "df must come from the ingest-stamped TermStats store")
    // ONE corpus explode (the tf pass) — the r17 self-stats form paid a
    // second explode to re-derive df per query
    assert("Generate".r.findAllIn(p).size <= 1,
      "exactly one corpus explode — df re-derivation returned")
    // the df join is deliberately UN-HINTED so a 10⁸-bigram vocabulary
    // fails over to SMJ instead of force-collecting to the driver; the
    // scale-safety pin is the q84/q95 tree-walk below (both join sides
    // pre-aggregated or layout scans), not a physical-strategy string
    assert(!p.contains("CartesianProduct"))
    assert("hashpartitioning\\(doc_id".r.findFirstIn(p).isDefined,
      "the top-3 window must partition on doc_id")
  }

  test("q103: centroid matrix — one corpus pass, dimension-sized everything after") {
    val df = queries.VectorOps.q103LabelCentroidMatrix.fn(spark, sf)
    val p = planOf(df)
    assert(p.contains("partial_"), "the (label, idx) cells must map-side combine")
    assert(p.contains("sum128"), "cell sums must be the exact 128-bit accumulator")
    assert(!p.contains("CartesianProduct"))
    // AQE does NOT deduplicate the self-join's repeated subtree (measured
    // 3 corpus scans un-persisted), so the centroid table persists and
    // both join sides must read the InMemoryRelation — zero FileScans of
    // the corpus outside the cached build
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
    // both join sides must read the ONE InMemoryRelation (the FileScan
    // string still prints inside the cached build plan — it executes once)
    assert("InMemoryTableScan".r.findAllIn(fin).size >= 2,
      s"a join side re-derived the centroids instead of reading the cache:\n${fin.take(1500)}")
    graft.Caches.clearAll(spark)
  }

  test("q96: repetition audit is map-only — native kernel, no join, no aggregate") {
    // repetition is a per-document property: the explode → groupBy(doc,
    // gram) → re-join shape would shuffle every gram occurrence twice
    val p = planOf(queries.CurationOps.q96RepetitionFilter.fn(spark, sf))
    assert(p.contains("dup_run_stats"), "must run the native kernel")
    assert(!p.contains("Join"), "repetition stats must not join")
    assert(!p.contains("HashAggregate"), "repetition stats must not aggregate")
    assert(!p.contains("Generate"), "grams must not explode to rows")
  }

  test("q97: zipf curve — map-side combined vocab agg, top-k head, one-row broadcast denominators") {
    val p = planOf(queries.TextOps.q97BigramZipf.fn(spark, sf))
    assert(p.contains("partial_"), "bigram counting must map-side combine")
    assert(p.contains("TakeOrderedAndProject"), "the head must be a top-k, not a full sort")
    assert(!p.contains("CartesianProduct"), "denominators must broadcast")
    // the rank/cum window must consume the ≤100-row head, never the corpus:
    // no exchange is allowed between the TakeOrdered and the Window
    val pl = p.linesIterator.toSeq
    val winAt = pl.indexWhere(_.contains("Window"))
    val topAt = pl.indexWhere(_.contains("TakeOrderedAndProject"))
    assert(winAt >= 0 && topAt > winAt,
      "window must sit above the TakeOrdered head")
  }

  test("q70: split audit — capped posting lists, no cartesian, no shingle self-join") {
    val p = planOf(queries.PipelineOps.q70SplitContamination.fn(spark, sf))
    assert(p.contains("collect_long_list_capped"), "posting lists must be capped")
    assert(!p.contains("CartesianProduct"))
  }

  test("q71: image near-dup — native dhash in the scan, banded keyed join only") {
    val p = planOf(queries.MultimodalOps.q71ImageNeardup.fn(spark, sf))
    assert(p.contains("dhash64"), "hash must run as the native expression")
    // candidate generation joins on (band, band-key) — never a cross product
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // exact-dup storms collapse before banding: partial agg on the signature
    assert(p.contains("partial_"), "signature clustering must map-side combine")
  }

  test("q72: audio features are map-only — no join, no aggregate, fused scan") {
    val p = planOf(queries.MultimodalOps.q72AudioFeatures.fn(spark, sf))
    assert(!p.contains("Join"), "audio window stats must not join")
    assert(!p.contains("HashAggregate"), "audio window stats must not aggregate")
    assert(p.contains("pcm_window_stats"), "must run the native expression")
    assert(p.contains("Generate"), "windows must explode per row")
  }

  test("q73: both retrieval arms end in TakeOrderedAndProject; ranking windows see 50 rows") {
    val p = planOf(queries.VectorOps.q73HybridRrf.fn(spark, sf))
    // two top-50 arms + the final top-20 — three TakeOrderedAndProject;
    // each row_number window sits ABOVE its arm's TakeOrdered, so the
    // single-partition sort only ever ranks the 50 collected rows
    assert("TakeOrderedAndProject".r.findAllIn(p).size == 3, p.take(600))
    assert("row_number".r.findAllIn(p).size == 2)
    assert(!p.contains("Exchange rangepartitioning"),
      "a global corpus sort crept in — ranks must come from top-k arms")
  }

  test("q74: pair search joins on the cell key — codebook broadcast, no cartesian") {
    val p = planOf(queries.DedupOps.q74Semdedup.fn(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "centroid codebook must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the within-cell pair search must stay a keyed join")
    assert(p.contains("nearest_centroid"), "assignment must be the native argmin")
  }

  test("q75: one user-keyed exchange feeds windows, collapse, and the 1-row report") {
    val p = planOf(queries.EventOps.q75Funnel.fn(spark, sf))
    // the chained min(when) windows and the per-user collapse all reuse ONE
    // hashpartitioning(user_id) exchange; the only other exchange is the
    // SinglePartition gather of the 1-row report
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p.take(600))
    assert(p.contains("Exchange SinglePartition"))
    assert("partial_sum".r.findFirstIn(p).isDefined, "report must partial-agg")
  }

  test("q77: fused shingle hashing, broadcast query slice from a pushed one-doc scan, top-k bounded") {
    val df = queries.TextOps.q77LexicalKnn.fn(spark, sf)
    val p = planOf(df)
    assert(p.contains("shingle_hashes"), "bigram terms must hash natively in the scan")
    // the query's term vector derives from a doc_id-PUSHED scan of one
    // document (never a second corpus tf pass) and broadcasts into the
    // fused norm aggregation (num and n2 in ONE groupBy)
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,0)]")
      || p.contains("EqualTo(doc_id,0)"),
      "query slice must push doc_id = 0 into its scan")
    assert(p.contains("BroadcastHashJoin"), "query terms must broadcast-join the postings")
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not be a global sort")
  }

  test("q79: video shot detection is map-only — no join, no aggregate, fused frame hashing") {
    val p = planOf(queries.MultimodalOps.q79VideoShots.fn(spark, sf))
    assert(p.contains("dhash64"), "frame hashing must be the native kernel")
    assert(!p.contains("Join"), "per-video stats must not join")
    assert(!p.contains("HashAggregate"), "per-video stats are array folds, not aggregates")
  }

  test("q23: one user-keyed exchange feeds sessionize AND the session aggregate") {
    val p = planOf(queries.EventOps.q23Sessionize.fn(spark, sf))
    // hashpartitioning(user_id) satisfies the (user_id, session_idx)
    // group's ClusteredDistribution (subset partitioning), so the
    // aggregate must reuse the window's placement — a second hash
    // exchange would re-shuffle what sessionize already placed; the only
    // other exchange is the ORDER BY's range partitioning
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p.take(600))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "the session aggregate must not add its own hash exchange")
    assert("partial_count".r.findFirstIn(p).isDefined,
      "session rollup must partial-agg on the window's partitioning")
  }

  test("q80: one user-keyed exchange feeds sessionize AND the transition window") {
    val p = planOf(queries.EventOps.q80EventFlow.fn(spark, sf))
    // hashpartitioning(user_id) satisfies the (user, session) transition
    // window's clustering — a second exchange would mean the window
    // re-shuffled what sessionize already placed
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p.take(600))
    assert("partial_count".r.findFirstIn(p).isDefined, "matrix must partial-agg")
  }

  test("q92: trained-PQ search is a code scan + two TakeOrdered — no join, no doc-keyed exchange") {
    // the round-15 first-cut shape joined the re-rank set back to the
    // corpus; the shipped shape carries the embedding through the ADC
    // TakeOrdered so the exact re-rank needs no join at all (SCALE.md r15
    // measured the difference) — this pin makes that catch automatic
    val p = planOf(queries.VectorOps.q92AnnPqTrained.fn(spark, sf))
    assert("TakeOrderedAndProject".r.findAllIn(p).size == 2,
      "ADC top-100 and exact top-10 must both be TakeOrderedAndProject: " + p.take(600))
    assert(!p.contains("Join"), "PQ search must not join anything")
    assert(!p.contains("Exchange hashpartitioning"),
      "PQ search must not shuffle the corpus")
    assert(p.contains("nearest_centroid"), "encode must be the native argmin")
  }

  test("q93: the DSIR scorer is map-only — native bucket_counts + TakeOrdered, no doc-keyed exchange") {
    // the round-15 first cut re-shuffled per-doc bucket counts on doc_id
    // for an ordered collect_list fold — measured 2.7× the oracle at
    // sf0.1 (12 jobs vs 9). The shipped scorer is one bucket_counts
    // projection against the LM literal; only pass 1 (the 64-row LM,
    // collected before this plan exists) may aggregate.
    val p = planOf(queries.TextOps.q93ImportanceResample.fn(spark, sf))
    assert(p.contains("bucket_counts"), "scorer must use the native kernel")
    assert(p.contains("TakeOrderedAndProject"), "selection must be top-k, not a global sort")
    assert(!p.contains("HashAggregate"), "the scorer itself must not aggregate")
    assert(!p.contains("Join"), "the scorer must not join")
    assert(!p.contains("Exchange hashpartitioning"),
      "no doc-keyed exchange — the first-cut collect_list shape returned")
  }

  test("q84/q95/q102: the vocab join consumes PRE-AGGREGATED (group, word) pairs, never raw token occurrences") {
    // at a 10⁸-word vocabulary the symbol-table broadcast fails over to a
    // sort-merge join; pre-aggregation bounds what that SMJ would shuffle
    // at distinct (group, word) pairs instead of every token occurrence.
    // Tree-walk (not string match): every join child must put an
    // aggregate between itself and any Generate (explode) below it.
    // q102's df join rides the same rule (un-hinted since r17, so its
    // failover story is real).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: QueryStageExec => unwrap(q.plan)
      case other => other
    }
    def rawGenerateUnder(n: SparkPlan): Boolean = unwrap(n) match {
      case _: BaseAggregateExec => false // an agg below here bounds the rows
      case g: GenerateExec =>
        // r21: an explode of the IN-ROW term_run_counts/fp_run_counts
        // rollup is the aggregate, computed inside the row — its output
        // is already bounded at distinct (group, term) pairs, exactly
        // what the pre-aggregation rule exists to guarantee
        !g.generator.exists {
          case _: org.apache.spark.sql.graft.TermRunCounts => true
          case _: org.apache.spark.sql.graft.FpRunCounts => true
          case _ => false
        }
      case other => other.children.exists(rawGenerateUnder)
    }
    for (q <- Seq(queries.TextOps.q84BpeApply, queries.TextOps.q95BpeFertility,
        queries.TextOps.q102DocKeywords)) {
      val plan = unwrap(q.fn(spark, sf).queryExecution.executedPlan)
      val joins = plan.collect { case j: BaseJoinExec => j }
      assert(joins.nonEmpty, s"${q.name}: the vocab join disappeared")
      joins.foreach { j =>
        assert(!j.children.exists(rawGenerateUnder),
          s"${q.name}: a join consumes the raw exploded token stream — " +
            "pre-aggregate (group, word) → cnt first")
      }
    }
  }

  test("no registered query hides a REAL cartesian in a BroadcastNestedLoopJoin") {
    // Sites that intentionally cross-join 1-to-8-row broadcast frames:
    // q27/q53 (8 held-out query vectors), q57 (1-row mix denominator),
    // q65/q66 (1-row stats frames), q73 (both arms' 1-row stats/query
    // broadcasts). This guard keeps that list CLOSED: a refactor that
    // introduces a BNLJ/cartesian anywhere else — or grows a
    // scalar-broadcast site into a real cross join — must show up here
    // and justify itself. (r13 removal: q82's rounds run driver-side.)
    val allowed = Set("q10_distinct", "q27_dot_topk", "q53_ann_recall",
      "q57_temperature_mix", "q65_bm25", "q66_perplexity", "q73_hybrid_rrf",
      "q77_lexical_knn", // 1-row corpus count onto the vocab dimension + 1-row query norm
      "q81_split_drift", // 1-row split totals onto the 10-bucket dimension
      "q122_cdc_savings", // 1-row corpus token total onto the 8-bucket dimension
      "q97_bigram_zipf", // 1-row corpus denominators onto the 100-row head
      "q108_ivf_cell_audit", // 1-row share total onto the |cells|-row audit
      // (q110 left the list in r19: model + thresholds are the stamped
      // CurriculumThresholds artifact riding as literals — no 1-row cross)
      "q117_vocab_growth", // 1-row doc_id-quartile thresholds onto the vocab-sized layout scan
      "q119_lm_disagreement", // 1-row unigram dims onto the dual-scoring pass (bigram model is literals)
      "q112_retrieval_agreement", // 4-row k set onto the ≤50-row arm overlap
                                  // (+ q73's 1-row query-vector broadcast)
      // (q102 left the list in r18: its corpus count rides as a
      // CorpusStats literal now, so the 1-row cross is gone)
      "q103_label_centroid_matrix", // |labels|² pair join of the persisted
                                    // dimension-sized centroid table (non-equi
                                    // label_a < label_b — deliberately all pairs)
      "q89_band_recall") // the meter's DELIBERATE O(S²) exact ground truth
                         // over the fixed-modulus audit sample + 1-row
                         // count crosses — S is the bounded knob
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      val p = planOf(df)
      graft.Caches.clearAll(spark)
      if ((p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct")) &&
        !allowed.contains(name)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unexpected BNLJ/cartesian in: ${offenders.mkString(", ")}")
  }
}
