package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the CurationOps stage (q55–q57) on sf0.001.
  * The bit-exact DuckDB compare runs driver-side; these assert the
  * curation semantics hold independent of plan shape.
  */
class CurationSpec extends SparkSpec {

  test("q55: scrubbed output contains no digits and hit counts match removals") {
    val df = queries.CurationOps.q55PiiScrub.fn(spark, sf)
    val bad = df.filter(col("scrubbed").rlike("[0-9]")).count()
    assert(bad == 0, "digit runs survived scrubbing")
    // every row with a hit must differ from its source; zero-hit rows must not
    val joined = Tables(spark, sf, "events")
      .select(col("event_id"), col("props"))
      .join(df, "event_id")
    assert(joined.filter(col("n_hits") > 0 && col("scrubbed") === col("props")).count() == 0)
    assert(joined.filter(col("n_hits") === 0 && col("scrubbed") =!= col("props")).count() == 0)
  }

  test("q55: email and IPv4 rules fire before the digit-run rule") {
    import spark.implicits._
    val df = Seq(
      (1L, "x", "contact bob.smith+a@example.org now"),
      (2L, "x", "from 10.0.42.7 port 443"),
      (3L, "x", "plain 12345 here"))
      .toDF("event_id", "event_type", "props")
    df.createOrReplaceTempView("__scrub_in")
    // run the same expression chain the query uses, against a temp frame
    val out = queries.CurationOps.q55PiiScrub
      .fn(spark, sf) // build once to keep the QueryDef covered
    val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z][a-zA-Z]+"
    val ipv4 = "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+"
    val scrub = regexp_replace(regexp_replace(regexp_replace(col("props"),
      lit(email), lit("<EMAIL>")), lit(ipv4), lit("<IP>")), lit("[0-9]+"), lit("<NUM>"))
    val rows = df.select(col("event_id"), scrub.as("s")).orderBy("event_id").collect()
    assert(rows(0).getString(1) == "contact <EMAIL> now")
    assert(rows(1).getString(1) == "from <IP> port <NUM>")
    assert(rows(2).getString(1) == "plain <NUM> here")
    assert(out.columns.toSeq == Seq("event_id", "event_type", "scrubbed", "n_hits"))
  }

  test("q56: kept documents all clear the threshold and features are in range") {
    val df = queries.CurationOps.q56QualityFilter.fn(spark, sf)
    assert(df.filter(col("score") <= 0.0).count() == 0)
    assert(df.filter(col("stop_ratio") < 0 || col("stop_ratio") > 1).count() == 0)
    assert(df.filter(col("distinct_ratio") <= 0 || col("distinct_ratio") > 1).count() == 0)
    val total = Tables(spark, sf, "documents").count()
    val kept = df.count()
    assert(kept > 0 && kept < total, s"filter should be selective: $kept/$total")
  }

  test("q56: the model's weight signs re-derive from graft.ml on these features") {
    // Fit LR on the quality features with a weak supervision label
    // (above-median score = positive). The learned direction must agree in
    // sign with the shipped weights — the check that the literal model is
    // a real fit, not hand-tuning.
    val stopIn = Seq("the", "a", "an", "and", "or", "of", "to", "in")
      .map(w => s"'$w'").mkString(", ")
    val feats = Tables(spark, sf, "documents")
      .select(col("doc_id"), graft.functions.TextFunctions.tokens("text").as("t"))
      .filter(size(col("t")) > 0)
      .select(
        expr(s"size(filter(t, x -> x IN ($stopIn))) / size(t)").as("f0"),
        expr("size(array_distinct(t)) / size(t)").as("f1"),
        least(size(col("t")) / 100.0, lit(1.0)).as("f2"))
    val med = feats.select(
      (col("f0") * 3.0 + col("f1") * 2.5 + col("f2") * 1.5).as("raw"))
      .stat.approxQuantile("raw", Array(0.5), 0.0).head
    val train = feats.select(
      array(col("f0"), col("f1"), col("f2")).as("fs"),
      when(col("f0") * 3.0 + col("f1") * 2.5 + col("f2") * 1.5 > med, 1.0)
        .otherwise(0.0).as("label"))
      .rdd.map { r =>
        val fs = r.getSeq[Double](0)
        (fs.map(_.toFloat).toArray :+ 1.0f, r.getDouble(1)) // bias feature
      }
    val w = new graft.ml.LogisticRegression(4,
      graft.ml.TrainConfig(lr = 1.0, iters = 80)).fit(train)
    assert(w.take(3).forall(_ > 0), s"learned feature weights should be positive: ${w.toSeq}")
  }

  test("q57: mixing distribution sums to 1, flattens skew, keeps order") {
    val df = queries.CurationOps.q57TemperatureMix.fn(spark, sf).collect()
    val ps = df.map(r => r.getAs[Double]("mix_p"))
    assert(math.abs(ps.sum - 1.0) < 1e-12)
    val shares = df.map(r => r.getAs[Double]("share"))
    // temperature < 1 compresses: max ratio of mix_p is strictly below the
    // max ratio of raw shares (en's dominance shrinks)
    val flat = ps.max / ps.min
    val raw = shares.max / shares.min
    assert(flat < raw, s"α=0.5 must flatten: $flat !< $raw")
    assert(math.abs(flat - math.sqrt(raw)) < 1e-9) // p ∝ √share exactly
  }

  test("temperature_mix stage: sub-percent keep rates survive and track the budget") {
    import graft.jobs.{CurationStages, StageSpec}
    // α=1 makes every language's target rate budget/total = 5000/1.25M =
    // 0.4% — under the old integer-percent gate round(0.4%) = 0 and the
    // stage kept NOTHING; the per-65536 gate keeps ≈ rate·n of each
    // language, including ~20 docs of the 5000-doc minority
    val docs = spark.range(1250000L).select(col("id").as("doc_id"),
      when(col("id") < 5000, "xx").otherwise("en").as("lang"))
    val out = CurationStages(docs,
      StageSpec("temperature_mix", Map("alpha" -> 1.0, "budgetDocs" -> 5000.0)))
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = byLang.values.sum
    assert(kept > 0, "integer-percent flooring is back: the whole mix was dropped")
    assert(math.abs(kept - 5000L) < 1000L,
      s"kept $kept docs vs declared budget 5000 — gate resolution off")
    assert(byLang.getOrElse("xx", 0L) > 0L,
      "the 0.4%-rate minority language was dropped entirely")
  }

  test("q94 blocklist: verdict matches a hand check; stage drops exactly the flagged docs") {
    import graft.jobs.{CurationStages, StageSpec}
    val docs = Tables(spark, sf, "documents")
    val rows = queries.CurationOps.q94BlocklistFilter.fn(spark, sf).collect()
    assert(rows.length == docs.count())
    // hand check: kept ⇔ zero hits, and hits count token-exact occurrences
    val flagged = rows.filter(!_.getBoolean(4)).map(_.getLong(0)).toSet
    assert(flagged.nonEmpty, "the rare-term blocklist should flag some docs")
    rows.foreach { r =>
      assert(r.getBoolean(4) == (r.getLong(3) == 0L))
    }
    val handFlagged = docs.collect().filter { r =>
      val toks = r.getAs[String]("text").toLowerCase
        .split("[^a-z0-9]+").filter(_.nonEmpty)
      toks.exists(queries.CurationOps.Blocklist.contains)
    }.map(_.getAs[Long]("doc_id")).toSet
    assert(flagged == handFlagged)
    // substring safety: "dup" inside a longer token must NOT flag
    import spark.implicits._
    val sub = Seq((1L, "deduplication and duplicate are fine"), (2L, "a dup here"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val kept = CurationStages(sub, StageSpec("blocklist_filter"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L), s"token-exact matching violated: kept $kept")
    // the stage over the corpus drops exactly the flagged set
    val stageKept = CurationStages(docs, StageSpec("blocklist_filter"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(stageKept == rows.filter(_.getBoolean(4)).map(_.getLong(0)).toSet)
  }

  test("q96 repetition: stats match a brute-force check; stage drops exactly the gated docs") {
    import graft.jobs.{CurationStages, StageSpec}
    val docs = Tables(spark, sf, "documents")
    val rows = queries.CurationOps.q96RepetitionFilter.fn(spark, sf).collect()
    assert(rows.length == docs.count())
    val dropped = rows.filter(!_.getBoolean(7)).map(_.getLong(0)).toSet
    assert(dropped.nonEmpty && dropped.size < rows.length,
      s"the gate must split the corpus, dropped ${dropped.size}")
    // brute-force multiplicity stats per doc (independent of the kernel)
    val handByDoc = docs.collect().map { r =>
      val toks = r.getAs[String]("text").toLowerCase
        .split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
      def grams(n: Int) =
        if (toks.length < n) Seq.empty[String]
        else toks.sliding(n).map(_.mkString(" ")).toSeq
      val bg = grams(2); val tg = grams(3)
      val top2 = if (bg.isEmpty) 0L
        else bg.groupBy(identity).values.map(_.size).max.toLong
      val dup3 = tg.groupBy(identity).values
        .filter(_.size >= 2).map(_.size).sum.toLong
      r.getAs[Long]("doc_id") ->
        (toks.length.toLong, top2, bg.length.toLong, dup3, tg.length.toLong)
    }.toMap
    rows.foreach { r =>
      val (nt, t2, nb, d3, ntg) = handByDoc(r.getLong(0))
      assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6)) == ((nt, t2, nb, d3, ntg)), s"doc ${r.getLong(0)}")
      val expectKept = nt < queries.CurationOps.RepMinTokens ||
        (t2 * queries.CurationOps.RepTop2Den <= nb &&
          d3 * queries.CurationOps.RepDup3Den <= ntg)
      assert(r.getBoolean(7) == expectKept, s"doc ${r.getLong(0)} verdict")
    }
    // a degenerate long doc is gated; a diverse one and a SHORT one pass
    // (short docs are the length filter's job, not repetition's)
    import spark.implicits._
    val sub = Seq(
      (1L, Seq.fill(30)("spam").mkString(" ")),
      (2L, (1 to 30).map(i => s"tok$i").mkString(" ")),
      (3L, "tiny doc below the gram floor"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val kept = CurationStages(sub, StageSpec("repetition_filter"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L), s"kept $kept")
    // the stage over the corpus drops exactly the audit's gated set
    val stageKept = CurationStages(docs, StageSpec("repetition_filter"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(stageKept == rows.filter(_.getBoolean(7)).map(_.getLong(0)).toSet)
  }

  test("importance_resample stage: keeps exactly the Gumbel top-budget, rows intact") {
    import graft.jobs.{CurationStages, StageSpec}
    val docs = Tables(spark, sf, "documents")
    val out = CurationStages(docs,
      StageSpec("importance_resample", Map("budgetDocs" -> 50.0)))
    assert(out.count() == 50, "budget not honored")
    // schema passes through untouched (a selection, not a projection)
    assert(out.columns.toSeq == docs.columns.toSeq)
    // the kept set IS the top-50 by the derandomized Gumbel key
    val expected = queries.TextOps.importanceScored(docs)
      .orderBy(col("gkey").desc, col("doc_id")).limit(50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected)
    // a declared target slice changes the selection (the knob is live)
    val other = CurationStages(docs, StageSpec("importance_resample",
      Map("budgetDocs" -> 50.0, "targetSources" -> "src18,src19")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(other != got, "targetSources knob had no effect")
    // a typo'd slice fails loudly as a config error, not a silent
    // pure-smoothing LM
    val ex = intercept[IllegalArgumentException] {
      CurationStages(docs, StageSpec("importance_resample",
        Map("budgetDocs" -> 50.0, "targetSources" -> "no_such_source")))
        .count()
    }
    assert(ex.getMessage.contains("no_such_source"))
  }

  test("pq_encode stage: codes match q92's encoder, embedding replaced, nulls ride") {
    import graft.jobs.{CurationStages, StageSpec}
    val emb = Tables(spark, sf, "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val withNull = emb.unionByName(
      spark.range(1).select(lit(-1L).as("doc_id"),
        lit(null).cast("array<float>").as("embedding")))
    val out = CurationStages(withNull, StageSpec("pq_encode"),
      sourceDirDefault = Some(sf))
    assert(!out.columns.contains("embedding") && out.columns.contains("pq_code"))
    val codes = out.collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(codes(-1L).isEmpty, "null embedding must keep a null code")
    // cross-check against q92's independently-derived pq_code column
    val q92 = queries.VectorOps.q92AnnPqTrained.fn(spark, sf).collect()
    assert(q92.nonEmpty)
    q92.foreach { r =>
      val id = r.getLong(r.fieldIndex("vec_id"))
      assert(codes(id).contains(r.getLong(r.fieldIndex("pq_code"))),
        s"stage code for vec $id diverges from q92")
    }
  }

  test("span_dedup stage: rewrites duplicated spans, drops emptied docs, recomputes n_chars") {
    import graft.jobs.{CurationStages, StageSpec}
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h x y z"),   // first occurrence: kept whole
      (2L, "p q a b c d e f g h r"),   // repeat at pos 3: 8 tokens removed
      (3L, "a b c d e f g h"),         // NOTHING left after removal: row drops
      (4L, ""))                        // empty BEFORE dedup: not ours to cull
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = CurationStages(docs, StageSpec("span_dedup", Map.empty))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text"), r.getAs[Long]("n_chars")))).toMap
    assert(out.keySet == Set(1L, 2L, 4L),
      "doc emptied BY dedup drops; doc empty BEFORE dedup passes through")
    assert(out(1L) == (("a b c d e f g h x y z", 21L)))
    assert(out(2L) == (("p q r", 5L)))
    assert(out(4L) == (("", 0L)))
  }

  test("image_near_dedup stage canonicalizes exactly q71's image pair clusters") {
    import graft.jobs.{CurationStages, StageSpec}
    val docs = Tables(spark, sf, "documents")
    val pairs = queries.MultimodalOps.q71ImageNeardup.fn(spark, sf)
      .select("a", "b")
    assert(pairs.count() > 0, "corpus lost its implanted image near-dups")
    val drop = graft.operators.Components.connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(drop.nonEmpty)
    val kept = CurationStages(docs, StageSpec("image_near_dedup", Map.empty))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == all -- drop,
      "stage must keep exactly the canonical (min-id) member per image cluster")
  }

  test("semantic_dedup stage culls exactly the SemDeDup drop set for its declared knobs") {
    import graft.jobs.{CurationStages, StageSpec}
    import graft.ml.KMeans
    val docs = Tables(spark, sf, "documents")
    val kept = CurationStages(docs,
      StageSpec("semantic_dedup", Map("clusters" -> 8.0, "minDot" -> 0.25)),
      embeddingsDefault = Some(s"$sf/embeddings.parquet"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // re-derive the expected drop set through the shared q74 core with the
    // stage's own deterministic warm start (vec_id % clusters)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), lit(0).as("label"))
    val c0 = KMeans.collectCentroids(KMeans.centroids(
      emb.withColumn("__k", pmod(col("vec_id"), lit(8))), "__k"))
    val c1 = KMeans.collectCentroids(KMeans.centroids(
      KMeans.assignWith(emb, c0), "cell"))
    val drops = queries.DedupOps
      .semdedupDrops(queries.DedupOps.semdedupFrame(emb, c1), 0.25)
      .collect().map(_.getLong(0)).toSet
    assert(drops.nonEmpty && kept.nonEmpty)
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == all -- drops,
      "stage must drop exactly the higher-centroid-similarity near-dup members")
  }

  test("assign_split stage: near-dup docs share a split, rows preserved, schema additive") {
    import graft.jobs.{CurationStages, StageSpec}
    import spark.implicits._
    // docs 1 and 2 are near-identical (jaccard >> 0.5) — they MUST land in
    // the same split whatever the hash says; 3 is distinct and unconstrained
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"$base one"), (2L, s"$base two"), (3L, "totally different words here"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = CurationStages(docs, StageSpec("assign_split", Map.empty))
    assert(out.count() == 3)
    val splits = out.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(splits.values.forall(Set("train", "val", "test")))
    assert(splits(1L) == splits(2L),
      s"near-dup docs split apart: ${splits(1L)} vs ${splits(2L)} — leakage")
    assert(!out.columns.contains("__cluster") && !out.columns.contains("component"))
  }

  test("chunk stage: docs become tail-covering windows carrying provenance columns") {
    import graft.jobs.{CurationStages, StageSpec}
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")),  // 10 tokens → 3 windows @ (4,3)
      (2L, "a b"))                                      // shorter than a window → itself
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = CurationStages(docs,
      StageSpec("chunk", Map("chunkTokens" -> 4.0, "stride" -> 3.0)))
    val rows = out.select("doc_id", "chunk_start", "n_tok", "text", "lang")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // doc 1: starts 1,4,7 (stride 3, (10-4)%3==0 → no extra tail window)
    assert(rows.filter(_._1 == 1L).map(_._2).sorted.toSeq == Seq(1L, 4L, 7L))
    assert(rows.contains((1L, 7L, 4L, "w7 w8 w9 w10")))
    assert(rows.contains((2L, 1L, 2L, "a b")))
    assert(out.columns.contains("lang") && out.columns.contains("source"))
  }

  test("near_dedup canonical=best keeps the quality argmax; min stays the default") {
    import graft.jobs.{CurationStages, StageSpec}
    import spark.implicits._
    // constructed cluster {10, 20, 40}: docs 20/40 extend doc 10's token
    // stream by three tokens (bigram jaccard 9/11 ≈ 0.82 pairwise with
    // 10, 1.0 with each other — all ≥ 0.5), and the q18 length term
    // (min(n_tokens/100, 1)·0.4) makes the longer docs the quality
    // argmax; 20 and 40 tie (identical text), so keep-best's
    // (score DESC, id ASC) rule must keep 20 — the argmax at a LARGER id
    // than the min-rule's 10. Doc 30 shares no bigrams and must survive
    // under both policies.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (10L, base),
      (20L, base + " lambda mu nu"),
      (40L, base + " lambda mu nu"),
      (30L, "totally different unrelated content words only here now"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val keptMin = CurationStages(docs, StageSpec("near_dedup", Map.empty))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val keptBest = CurationStages(docs,
        StageSpec("near_dedup", Map("canonical" -> "best")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptMin == Set(10L, 30L),
      "canonical=min (the default) must keep the smallest id per cluster")
    assert(keptBest == Set(20L, 30L),
      "canonical=best must keep the q18 quality argmax, ties to the smaller id")
  }

  test("composition-time readers get their input persisted once; no other stage reads it while composed") {
    import graft.jobs.{CurationStages, StageSpec}
    // every row the stage's input scan produces ticks the accumulator: a
    // stage in the persisted set reads its input at composition (filling
    // the cache) and never again; a stage outside it reads none while
    // composed
    val reads = spark.sparkContext.longAccumulator("stage-input-reads")
    val tick = udf { (_: Long) => reads.add(1); true }
    val embPath = s"$sf/embeddings.parquet"
    val docs = Tables(spark, sf, "documents")
    val withEmb = docs.join(spark.read.parquet(embPath)
      .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
    val variants = Seq(
      StageSpec("near_dedup", Map("threshold" -> 0.5)) -> docs,
      StageSpec("image_near_dedup") -> docs,
      StageSpec("whiten") -> withEmb,
      StageSpec("importance_resample") -> docs,
      StageSpec("curriculum_order") -> docs,
      StageSpec("temperature_mix", Map("budgetDocs" -> 200.0)) -> docs,
      StageSpec("perplexity_filter", Map("order" -> 2.0)) -> docs,
      StageSpec("perplexity_filter") -> docs,
      StageSpec("assign_split") -> docs,
      StageSpec("bpe_annotate") -> docs,
      StageSpec("exact_dedup") -> docs,
      StageSpec("embed_near_dedup", Map("minDot" -> 0.45)) -> docs,
      StageSpec("semantic_dedup", Map("clusters" -> 8.0)) -> docs,
      StageSpec("assign_split", Map("splitFrom" -> "corpus")) -> docs,
      StageSpec("bpe_annotate", Map("mergesFrom" -> "corpus")) -> docs)
    assert(variants.count(v => CurationStages.readsInputAtComposition(v._1)) == 10)
    variants.foreach { case (st, raw) =>
      val input = raw.filter(tick(col("doc_id")))
      // ticks of one full scan (the filter may be inferred onto both
      // sides of the embeddings join, ticking a row twice)
      reads.reset()
      input.write.format("noop").mode("overwrite").save()
      val onePass = reads.value
      reads.reset()
      val out = CurationStages(input, st, Some(embPath), Some(sf))
      val atComposition = reads.value
      out.write.format("noop").mode("overwrite").save()
      val total = reads.value
      Caches.clearAll(spark)
      val what = s"${st.op} ${st.params}: $atComposition rows read while " +
        s"composed, $total in all, $onePass per full scan"
      if (CurationStages.readsInputAtComposition(st))
        assert(onePass > 0 && atComposition == onePass && total == onePass, what)
      else assert(atComposition == 0, what)
    }
  }

  test("a near_dedup chain builds each cache it reads in one job") {
    import graft.jobs.{CurationStages, StageSpec}
    val docs = Tables(spark, sf, "documents")
    val before = Caches.snapshot(spark)
    val (_, _, builds) = try countingCacheBuilds("near-dedup-cache-builds") {
      CurationStages.run(docs, Seq(StageSpec("near_dedup", Map("threshold" -> 0.5)))) {
        _.write.format("noop").mode("overwrite").save()
      }
    } finally Caches.clearCreatedSince(spark, before)
    assert(builds.nonEmpty && builds.values.forall(_ == 1), s"jobs per cached RDD: $builds")
  }
}
