package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Dev tool (not in the driver contract): the scale-regression canary.
  *
  * Everything the suite proves is proven at sf0.01/sf0.1; the 100 TB
  * claims otherwise rest on plan shape + SCALE.md reasoning. This tool
  * makes the claim falsifiable one decade up: it synthesizes a
  * STATISTICALLY SIMILAR corpus `mult`× the size of sf0.1 (same 31-word
  * vocabulary sampled at the corpus's own unigram weights, same per-doc
  * length distribution, same lang/source marginals; embeddings drawn as
  * unit-normalized same-label mixtures so the label-cluster geometry
  * survives without minting artificial near-dup storms), runs the
  * shape-sensitive queries at both scales, and prints
  *
  *   - cold (first-touch: includes the ingest-layout builds) and warm
  *     (min of 2 repeats) wall seconds per query,
  *   - the top candidate-volume plan nodes (Join/Generate/Expand
  *     numOutputRows — the SCALE.md "Measured candidate slope" receipt)
  *     at each scale,
  *   - the warm-time and candidate-row RATIOS, the numbers SCALE.md
  *     records: ~linear ⇒ ratio ≈ mult (minus the per-job fixed floor,
  *     which dominates sub-second rows); a quadratic leak shows up as
  *     ratio ≈ mult² on rows first, wall time second.
  *
  * Fresh random draws (NOT replicated text) matter: copying the corpus
  * 10× would make every doc a 10-way exact-dup cluster and measure the
  * dedup family against a pathological input, not a grown one. The
  * generator is fully seeded per (source row, replica) — byte-identical
  * corpus across runs, no Date/Random-without-seed anywhere.
  *
  * The session is Bench's ([[graft.Sessions]]): the core count comes from
  * SPARK_GRAFT_CPUS, else the machine's core count.
  * Run the residual-wall queries at 32 and at 8 cores (ABBA order across
  * invocations cancels box heat drift) and compare the warm walls: ≈ 4
  * for a compute-bound row with enough parallelism, ≈ 1 names a serial
  * bottleneck (SCALE.md §"Round 22: core-count scaling receipts"):
  *
  *   SPARK_GRAFT_CPUS=8 runMain graft.tools.ScaleCanary 10 \
  *     q107_simhash_calibration q53_ann_recall q21_ngram_jaccard \
  *     q74_semdedup q39_simhash_neardup
  *
  * Usage: runMain graft.tools.ScaleCanary [mult] [queryName...]
  */
object ScaleCanary {

  private val Targets = Seq(
    "q21_ngram_jaccard", "q31_minhash_lsh", "q39_simhash_neardup",
    "q46_embedding_neardup_lsh", "q51_decontaminate", "q53_ann_recall",
    "q62_dedup_clusters", "q65_bm25", "q67_span_dedup", "q74_semdedup",
    "q77_lexical_knn", "q93_importance_resample",
    "q100_minhash_calibration", "q102_doc_keywords",
    "q107_simhash_calibration", "q110_curriculum_schedule",
    "q118_bigram_perplexity", "q120_char_concentration", "q121_cdc_chunks",
    "q122_cdc_savings")

  private val Base = "/root/testdata/sf0.1"

  def main(args: Array[String]): Unit = {
    val mult = args.headOption.flatMap(_.toIntOption).getOrElse(10)
    val names = args.drop(if (args.headOption.exists(_.toIntOption.isDefined)) 1 else 0)
    val targets = if (names.nonEmpty) Targets.filter(names.contains) else Targets
    val spark = graft.Sessions.local()

    val canaryDir = ensureCorpus(spark, mult)
    println(s"== cpus=${graft.Sessions.cpus}")

    def walk(p: SparkPlan): Seq[SparkPlan] = (p.collect {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case imts: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        imts +: walk(imts.relation.cachedPlan)
      case b: org.apache.spark.sql.graft.BuiltCacheScanExec =>
        b +: walk(b.scan.relation.cachedPlan)
      case n => Seq(n)
    }).flatten

    final case class Meas(cold: Double, warm: Double, out: Long,
        topRows: Seq[(String, Long)])
    def measure(dir: String, name: String): Meas = {
      // execute the FULL physical plan (all columns, same shape) without
      // collecting to the driver: on this iid synthetic corpus the true
      // near-dup pair count is Θ(N²) by semantics (q39 emits 16k pairs
      // from 500 docs), so a 10× corpus's output alone would blow
      // maxResultSize through no fault of the plan
      def once(): (Double, Long, DataFrame) = {
        // time from CONSTRUCTION, not just execution: queries whose fn
        // does bounded driver-side assembly (q53's collected arms) pay
        // their real cost before the final plan exists, and timing only
        // the tail plan would report a fake sub-centisecond row
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val n = df.queryExecution.toRdd.count()
        val t = (System.nanoTime() - t0) / 1e9
        (t, n, df)
      }
      val (cold, out, _) = once()
      graft.Caches.clearAll(spark)
      val (w1, _, _) = once()
      graft.Caches.clearAll(spark)
      val (w2, _, df2) = once()
      val rows = walk(df2.queryExecution.executedPlan)
        .flatMap(n => n.metrics.get("numOutputRows").map(m => (n.nodeName, m.value)))
        .filter { case (nn, _) =>
          nn.contains("Join") || nn.contains("Generate") || nn.contains("Expand") }
        .sortBy(-_._2).take(4)
      graft.Caches.clearAll(spark)
      Meas(cold, math.min(w1, w2), out, rows)
    }

    for (dir <- Seq(Base, canaryDir)) {
      val d = graft.Tables(spark, dir, "documents").count()
      val e = graft.Tables(spark, dir, "embeddings").count()
      println(s"== corpus @ $dir: documents=$d embeddings=$e")
    }

    val results = for (name <- targets) yield {
      val b = measure(Base, name)
      val c = measure(canaryDir, name)
      println(f"== $name%-26s base cold=${b.cold}%6.2fs warm=${b.warm}%6.2fs out=${b.out}%d | x$mult cold=${c.cold}%6.2fs warm=${c.warm}%6.2fs out=${c.out}%d | warm ratio=${c.warm / b.warm}%5.2f out ratio=${if (b.out > 0) c.out.toDouble / b.out else -1.0}%7.2f")
      b.topRows.zipAll(c.topRows, ("-", 0L), ("-", 0L)).foreach {
        case ((bn, bv), (cn, cv)) =>
          val ratio = if (bv > 0) f"${cv.toDouble / bv}%8.2f" else "     n/a"
          println(f"     rows $bv%12d -> $cv%12d  ($ratio x)  $bn / $cn")
      }
      (name, b, c)
    }

    println("\n== slope summary (warm wall ratio vs ~linear expectation ~" + mult + "x minus job floor)")
    results.foreach { case (name, b, c) =>
      println(f"   $name%-26s ${c.warm / b.warm}%5.2fx   (base ${b.warm}%5.2fs -> ${c.warm}%5.2fs)")
    }
    spark.stop()
  }

  /** Build (once; stamped by _SUCCESS) the mult× synthetic corpus. */
  private def ensureCorpus(spark: SparkSession, mult: Int): String = {
    val out = s"${sys.props("java.io.tmpdir")}/graft-canary-x$mult"
    if (Files.exists(Paths.get(s"$out/_CANARY_SUCCESS"))) return out
    import spark.implicits._

    // ---- documents: corpus-weighted unigram redraws -----------------------
    val baseDocs = graft.Tables(spark, Base, "documents")
      .select("doc_id", "text", "lang", "source")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    val unigram = baseDocs.iterator.flatMap(_._2.split(' ')).toSeq
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
    val words = unigram.map(_._1).toArray
    val cum = unigram.map(_._2).scanLeft(0L)(_ + _).tail.toArray
    val total = cum.last
    def draw(rnd: scala.util.Random): String = {
      val t = rnd.nextLong(total)
      var lo = 0; var hi = cum.length - 1
      while (lo < hi) { val mid = (lo + hi) / 2; if (cum(mid) <= t) lo = mid + 1 else hi = mid }
      words(lo)
    }
    val nDocs = baseDocs.length.toLong
    val replicas = for {
      k <- (1 until mult).iterator
      (id, text, lang, source) <- baseDocs.iterator
    } yield {
      val rnd = new scala.util.Random(id * 1000003L + k)
      val len = text.count(_ == ' ') + 1
      val t = Array.fill(len)(draw(rnd)).mkString(" ")
      (k * nDocs + id, t, lang, source, t.length.toLong)
    }
    val docsAll = baseDocs.iterator
      .map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) } ++ replicas
    spark.createDataFrame(docsAll.toSeq)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")

    // ---- embeddings: unit-norm same-label mixtures ------------------------
    val baseEmb = graft.Tables(spark, Base, "embeddings")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
      .sortBy(_._1)
    val byLabel = baseEmb.groupBy(_._3)
    val nVec = baseEmb.length.toLong
    val embReplicas = for {
      k <- (1 until mult).iterator
      (id, v, label) <- baseEmb.iterator
    } yield {
      val rnd = new scala.util.Random(id * 2000003L + k)
      val peers = byLabel(label)
      val w = peers(rnd.nextInt(peers.length))._2
      val a = 0.25f + 0.5f * rnd.nextFloat()
      val mixed = Array.tabulate(v.length)(i =>
        a * v(i) + (1 - a) * w(i) + 0.1f * rnd.nextGaussian().toFloat)
      val norm = math.sqrt(mixed.iterator.map(x => x.toDouble * x).sum).toFloat
      (k * nVec + id, mixed.map(_ / norm).toSeq, label)
    }
    val embAll = baseEmb.iterator.map { case (id, v, l) => (id, v.toSeq, l) } ++ embReplicas
    spark.createDataFrame(embAll.toSeq).toDF("vec_id", "embedding", "label")
      .select($"vec_id", $"embedding".cast("array<float>"), $"label".cast("int"))
      .repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    Files.createFile(Paths.get(s"$out/_CANARY_SUCCESS"))
    out
  }
}
