package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Skew drill for the pair-producing operators (VERDICT r11 task 6): a
  * deliberately hostile corpus — ONE span / ONE 4-gram shared by every
  * document, the "boilerplate storm" profile of web data at 100 TB — and
  * runtime assertions that the designed bound (map-side combine for q67,
  * the DfCap posting-list cap for q51/q70) actually held in the executed
  * plan's own metrics, not just in the plan text. Measured numbers land in
  * SCALE.md's skew table.
  */
class SkewSpec extends SparkSpec {

  private def walk(p: SparkPlan): Seq[SparkPlan] = (p.collect {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case n => Seq(n)
  }).flatten

  // matches HashAggregate AND ObjectHashAggregate (struct-min / collect
  // aggregates plan as the latter)
  private def metric(p: SparkPlan, node: String): Seq[Long] =
    walk(p).filter(_.nodeName.contains(node))
      .flatMap(_.metrics.get("numOutputRows").map(_.value))

  test("q67 hot span: map-side combine bounds the dup-discovery shuffle") {
    import spark.implicits._
    val n = 2000
    // every doc is the SAME 50 distinct tokens → every 8-token span occurs
    // in all 2000 docs: 43 distinct spans × 2000 occurrences = 86k
    // occurrence rows, the hot-key storm profile
    val text = (0 until 50).map(i => s"t$i").mkString(" ")
    val docs = (0L until n.toLong).map(i => (i, text)).toDF("doc_id", "text")
    val out = graft.queries.DedupOps.spanDeduped(docs, 8)
    val rows = out.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("kept_text")).toMap
    // keep-first semantics under total duplication: doc 0 owns every
    // span's first occurrence and survives whole; every other doc empties
    assert(rows(0L) == text)
    assert((1L until n.toLong).forall(i => rows(i) == ""))
    // the executed dup-discovery aggregate collapsed the 86k occurrence
    // rows to per-partition partials BEFORE the exchange: BOTH its nodes
    // (partial and final — ObjectHashAggregate, struct-min keep key)
    // emitted <= distinctSpans × partitions rows (43 × 4 = 172), two
    // orders of magnitude under the occurrence count — that collapse IS
    // the skew bound (a 10⁹-occurrence span still ships one row per
    // partition)
    val occurrences = 43L * n
    val aggs = metric(out.queryExecution.executedPlan, "Aggregate")
    assert(aggs.nonEmpty)
    val collapsed = aggs.filter(a => a > 0 && a <= 43L * 4)
    assert(collapsed.size >= 2,
      s"dup-discovery partial did not collapse the hot span: $aggs")
    assert(collapsed.min * 100 <= occurrences)
  }

  test("q51/q70 hot gram: the DfCap posting-list cap drops the boilerplate storm") {
    import spark.implicits._
    val n = 1000
    // every doc opens with the SAME 4 tokens (one hot 4-gram in all 1000
    // docs); each test doc i additionally shares one PRIVATE 4-gram with
    // exactly train doc i+n/2 → the true overlap relation is n/2 pairs
    val docs = (0L until n.toLong).map { i =>
      val pair = i % (n / 2)
      (i, s"hot1 hot2 hot3 hot4 filler$i pa$pair pb$pair pc$pair pd$pair")
    }.toDF("doc_id", "text")
    val out = graft.queries.PipelineOps.bipartiteOverlap(docs,
      isTest = col("doc_id") < (n / 2), isTrain = col("doc_id") >= (n / 2))
    // collect THIS df (not a projection of it) so the probed plan executed
    val pairs = out.collect().map(r => (r.getAs[Long]("test_id"),
      r.getAs[Long]("train_id"), r.getAs[Long]("shared")))
    // the hot gram (df 1000 >> DfCap 50) is DROPPED by the cap filter: it
    // contributes zero pairs, so the output is exactly the n/2 private
    // links — not the n²/4 = 250 000 pairs an uncapped expansion would
    // hand the shuffle
    assert(pairs.length == n / 2, s"got ${pairs.length} pairs")
    assert(pairs.forall { case (t, tr, shared) => tr == t + n / 2 && shared == 1L })
    // and the executed pair expansion generated exactly those rows, plus
    // one n_test marker per test doc per capped gram (5 each: the hot
    // gram is dropped) — the cap bounded the quadratic term at runtime,
    // not just in review
    val gens = metric(out.queryExecution.executedPlan, "Generate")
    assert(gens.count(_ == n / 2 + 5 * (n / 2)) >= 1,
      s"pair-expansion Generate rows unexpected: $gens")
    assert(gens.forall(_ <= 16L * n),
      s"some expansion outgrew the linear bound: $gens")
  }

  test("q74 hot cell: identical-embedding collapse keeps the pair join sub-quadratic") {
    import spark.implicits._
    val n = 2000
    val dim = 16
    // 1990 exact copies of one vector + 10 mutually-orthogonal distinct
    // vectors, ALL forced into ONE cell (a single zero centroid) — the
    // exact-dup storm profile. Uncollapsed, the within-cell pair join
    // would emit ~C(2000,2) ≈ 2M rows; collapsed it pairs 11
    // representatives (55 rows).
    def basis(j: Int): Array[Float] = {
      val a = Array.fill(dim)(0.0f); a(j) = 1.0f; a
    }
    val emb = ((0 until n - 10).map(i => (i.toLong, basis(0))) ++
      (0 until 10).map(j => ((n - 10 + j).toLong, basis(j + 1))))
      .toDF("vec_id", "embedding")
      .withColumn("label", lit(0))
    val c1: Seq[(Long, Seq[Double])] = Seq((0L, Seq.fill(dim)(0.0)))
    val drops = graft.queries.DedupOps.semdedupDrops(
      graft.queries.DedupOps.semdedupFrame(emb, c1), 0.25)
    val dropped = drops.collect().map(_.getLong(0)).toSet
    // semantics under the storm: the pairwise rule keeps the min-id copy
    // (self-dot 1 > tau, cdots all equal) and every orthogonal vector
    assert(dropped == (1L until (n - 10).toLong).toSet,
      s"expected exactly the non-canonical copies dropped; got ${dropped.size} drops")
    // the executed joins stayed collapsed: every join node's output is
    // O(n), nowhere near the ~2M uncollapsed pair volume
    val joins = metric(drops.queryExecution.executedPlan, "Join")
    assert(joins.nonEmpty)
    assert(joins.forall(_ <= 3L * n),
      s"a join emitted beyond the collapsed bound: $joins")
  }
}
