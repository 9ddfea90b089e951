package graft

import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Per-operator smoke + semantic checks on sf0.001. The DuckDB hash-match
  * gate runs driver-side; these assert plan-independent invariants so
  * `sbt test` catches breakage without the oracle.
  */
class QuerySpec extends SparkSpec {

  test("every registered query has a unique name and runs") {
    // The ledger (plans/jobs_sf0.001.json) holds each query's Spark jobs
    // for a noop write after a warm one, under a job group. Any difference
    // fails, in either direction: a change that lowers a count updates the
    // ledger with it. Each run writes its counts to target/, so the ledger
    // is refreshed by copying that file over it.
    // Each query's executed plans are also checked for a missed reuse
    // (SparkSpec.missedReuse): two runs of one exchange over one cache.
    val names = SparkEntry.defs.map(_.name)
    assert(names.distinct.size == names.size)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (ran, missed) = try names.map { name =>
      plans.clear()
      val n = ledgerJobs(name) // drains the listener bus
      val pairs = plans.asScala.toSeq.flatMap(missedReuse)
      (name -> n, pairs.map { case (a, _) => s"$name: ${a.simpleString(5)}" })
    }.unzip finally spark.listenerManager.unregister(listener)
    assert(missed.flatten.isEmpty, missed.flatten.mkString(
      "exchanges run twice over one cache, equal and not reused:\n", "\n", ""))
    JobLedger.write(java.nio.file.Paths.get("target/jobs_sf0.001.json"), ran)
    val ledger = JobLedger.read(JobLedger.path).toMap
    val diff = ran.collect {
      case (name, n) if !ledger.get(name).contains(n) =>
        s"$name: ledger ${ledger.get(name).fold("-")(_.toString)}, ran $n"
    } ++ ledger.keys.filterNot(names.contains).map(n => s"$n: in the ledger, not registered")
    assert(diff.isEmpty, diff.mkString(
      s"job counts differ from ${JobLedger.path} (total ${ran.map(_._2).sum}, " +
        s"ledger ${ledger.values.sum}):\n", "\n", ""))
  }

  test("q100 and q107 oracles sample against the 5,000-doc target") {
    // the SQL is interpolated while DedupOps initializes; q100's text comes
    // before CalibSigTarget's definition, so the target must be a constant
    Seq("q100_minhash_calibration", "q107_simhash_calibration").foreach { q =>
      assert(SparkEntry.oracleFor(q).contains("+ 4999) // 5000"), q)
    }
  }

  test("oracle map only references registered queries") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("no oracle-checked query outputs DECIMAL or DATE columns (dtype gate rule)") {
    // the driver hashes pandas dtypes: DECIMAL loads as object vs DuckDB's
    // float64, DATE as object(date) vs datetime64 — either is an automatic
    // hash mismatch even with equal values (see QueryDef's contract)
    val offenders = SparkEntry.defs.filter(_.oracle.isDefined).flatMap { d =>
      d.fn(spark, sf).schema.fields.collect {
        case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] =>
          s"${d.name}.${f.name}: ${f.dataType.simpleString}"
        case f if f.dataType == org.apache.spark.sql.types.DateType =>
          s"${d.name}.${f.name}: date"
      }
    }
    assert(offenders.isEmpty, s"driver-gate-hostile output dtypes: $offenders")
  }

  test("no oracle-checked query outputs complex-typed columns (pandas hash gate rule)") {
    // the driver gate loads both engines' results into pandas and
    // sort_values/hashes every column; an ArrayType cell arrives as an
    // ndarray, which pandas cannot factorize (unhashable) — the whole
    // query ERRs regardless of value equality (q87's round-14 failure
    // mode; q26 explodes its vector for exactly this reason). Map and
    // Struct cells fail the same way. Complex-typed results belong on
    // the un-gated API surfaces (Graft.features, streaming sinks).
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val offenders = SparkEntry.defs.filter(_.oracle.isDefined).flatMap { d =>
      d.fn(spark, sf).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] =>
          s"${d.name}.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(offenders.isEmpty, s"complex-typed oracle-checked outputs: $offenders")
  }

  test("cents() floor(v*100+0.5) equals round(v*100) on every money value (no-tie invariant)") {
    // cents() uses floor(x+0.5) in pure double codegen while the DuckDB
    // oracle keeps round(); they agree only while no money double lands on
    // an exact .5 tie after *100. Pin that invariant against the actual
    // generated value domains so a datagen change cannot silently introduce
    // cross-engine off-by-one-cent drift.
    val domains = Seq(
      ("lineitem", Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
      ("orders", Seq("o_totalprice")),
      ("events", Seq("value")))
    domains.foreach { case (table, cols) =>
      val df = Tables(spark, sf, table)
      cols.foreach { c =>
        val mismatches = df.filter(
          floor(col(c) * 100 + lit(0.5)) =!= round(col(c) * 100)).count()
        assert(mismatches == 0L, s"$table.$c: $mismatches rows where floor(v*100+0.5) != round(v*100)")
      }
    }
  }

  test("q35 linear-counting estimates sit far from the floor(x+0.5) rounding boundary") {
    // q35's estimate −m·ln(1−filled/m) is the one place a transcendental
    // feeds a cross-engine integer projection. JVM Math.log and DuckDB's
    // libm ln may differ by ≤1 ulp (~1e-11 absolute here); assert the
    // actual filled values observed at the test SF keep the estimate at
    // least 1e-6 from the nearest half-integer, so an ulp can never flip
    // the floor.
    val m = (1L << 20).toDouble
    val p = 2147483647L
    def bucket(k: String) = {
      val x = s"((($k % $p) * 1103515245 + ($k div $p) * 12345) % $p)"
      expr(s"($x * $x % $p * 69069) % $p % ${1L << 20}")
    }
    val filled = Tables(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(bucket("l_partkey")).as("fp"),
        countDistinct(bucket("l_orderkey")).as("fo"))
      .collect()
      .flatMap(r => Seq(r.getLong(1), r.getLong(2)))
    assert(filled.nonEmpty && filled.forall(f => f > 0 && f < m * 0.5),
      s"linear counting out of its accurate load range: ${filled.toSeq}")
    filled.foreach { f =>
      val x = -m * math.log(1.0 - f / m)
      // floor(x+0.5) flips where x+0.5 crosses an integer
      val dist = math.abs(x + 0.5 - math.rint(x + 0.5))
      assert(dist > 1e-6, s"filled=$f: estimate $x within $dist of a floor boundary")
    }
  }

  test("query-scoped persists do not leak: cache is empty after a run + clearAll") {
    // q21 and q31 persist their shingle relations; the runner contract is
    // Caches.clearAll after each materialization
    queries.TextOps.q21NgramJaccard.fn(spark, sf).write.format("noop").mode("overwrite").save()
    queries.DedupOps.q31MinhashLsh.fn(spark, sf).write.format("noop").mode("overwrite").save()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty) // persists were real
    Caches.clearAll(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q1 pricing summary: group count and total row conservation") {
    val df = queries.Relational.q1PricingSummary.fn(spark, sf)
    val total = df.agg(sum("count_order")).head.getLong(0)
    val li = Tables(spark, sf, "lineitem")
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp")).count()
    assert(total == li)
  }

  test("q7 window rank: at most 3 rows per customer, rn in 1..3") {
    val df = queries.Relational.q7WindowRank.fn(spark, sf)
    val bad = df.groupBy("o_custkey").count().filter(col("count") > 3).count()
    assert(bad == 0)
    assert(df.agg(max("rn")).head.getInt(0) <= 3)
  }

  test("q20 exact dedup conserves documents") {
    val df = queries.TextOps.q20DedupExact.fn(spark, sf)
    val docs = Tables(spark, sf, "documents").count()
    assert(df.agg(sum("n_copies")).head.getLong(0) == docs)
  }

  test("q23 sessionize: session bounds ordered, events conserved") {
    val df = queries.EventOps.q23Sessionize.fn(spark, sf)
    assert(df.filter(col("session_start") > col("session_end")).count() == 0)
    val events = Tables(spark, sf, "events").count()
    assert(df.agg(sum("n_events")).head.getLong(0) == events)
  }

  test("q24 as-of join: picked order is at or before the event ts") {
    val df = queries.EventOps.q24AsofJoin.fn(spark, sf)
    assert(df.filter(col("o_orderdate") > col("ts")).count() == 0)
    assert(df.count() <= Tables(spark, sf, "events").count())
  }

  test("q27 top-k dot: monotonically non-increasing") {
    val rows = queries.VectorOps.q27DotTopk.fn(spark, sf).collect()
    val dots = rows.map(r => r.getDouble(r.fieldIndex("dot")))
    assert(dots.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    assert(rows.length == 20)
  }

  test("q64 ivf+pq: results come only from probed cells, re-ranked by exact dot") {
    val emb = Tables(spark, sf, "embeddings")
    val (_, c1) = sources.IvfCentroids(spark, sf)
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head.getSeq[Float](0)
    val probed = ml.KMeans.probeCellsLocal(qv, c1, nprobe = 2).toSet
    val rows = queries.VectorOps.q64AnnIvfPq.fn(spark, sf).collect()
    assert(rows.length == 10)
    // the coarse gate is real: every survivor sits in a probed cell
    rows.foreach { r =>
      assert(probed(r.getLong(r.fieldIndex("cell"))),
        s"vec ${r.getLong(0)} in unprobed cell ${r.get(r.fieldIndex("cell"))}")
    }
    // final order is the exact re-rank, not the ADC order
    val dots = rows.map(r => r.getDouble(r.fieldIndex("dot")))
    assert(dots.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    // the 4-bit PQ code packs 8 sub-codes: all within [0, 2^32)
    rows.foreach { r =>
      val code = r.getLong(r.fieldIndex("pq_code"))
      assert(code >= 0L && code < (1L << 32), s"pq_code $code out of 8×4-bit range")
    }
  }

  test("q65 bm25: every score sits far from the nano-quantization flip boundary") {
    // same discipline as q35: the idf ln is the one transcendental; an ulp
    // of cross-engine skew (~1e-14 absolute on the summed score, ~1e-5
    // after the ×1e9) must not flip floor(score·1e9 + 0.5). Assert every
    // doc's scaled score keeps 1e-4 from the nearest integer boundary.
    val raw = queries.TextOps.bm25Raw(spark, sf)
      .select(col("score_raw")).collect().map(_.getDouble(0))
    assert(raw.nonEmpty)
    raw.foreach { s =>
      val x = s * 1e9 + 0.5
      val dist = math.abs(x - math.rint(x))
      assert(dist > 1e-4 || s == 0.0,
        s"score $s: scaled value within $dist of a floor boundary")
    }
    // and the published ranking is total-ordered: quantized desc, doc_id asc
    val rows = queries.TextOps.q65Bm25.fn(spark, sf).collect()
    val keys = rows.map(r => (r.getLong(r.fieldIndex("score_n9")), r.getLong(0)))
    assert(keys.sameElements(keys.sortBy { case (sc, id) => (-sc, id) }))
  }

  test("q66 perplexity: scores sit far from BOTH quantization flip boundaries") {
    // nll_raw's only transcendental is ln (V+1 terms); cross-engine skew is
    // ulp-scale (~1e-14 raw). The published nll_n6 AND the bucketing key
    // nll_n3 each floor(x·scale + 0.5) — assert every doc keeps RAW-space
    // margin > 1e-12 (≈100× worst-case skew) from the nearest boundary at
    // both scales. (×1e9 was rejected by this very criterion: a measured
    // doc sat 6.9e-15 from its boundary — see q66's scaladoc.)
    val raw = queries.TextOps.perplexityScored(Tables(spark, sf, "documents"))
      .select(col("nll_raw")).collect().map(_.getDouble(0))
    assert(raw.nonEmpty)
    for (scale <- Seq(1e6, 1e3); s <- raw) {
      val x = s * scale + 0.5
      val dist = math.abs(x - math.rint(x)) / scale
      assert(dist > 1e-12, s"nll $s: ×$scale within $dist (raw) of a floor boundary")
    }
    // bucketing is monotone in the published score: sorted by nll_n6 the
    // bucket sequence is head… middle… tail… (n3 is monotone in n6, and the
    // margin above rules out an n6-tie straddling an n3 flip)
    val rows = queries.TextOps.q66Perplexity.fn(spark, sf).collect()
    val byScore = rows.sortBy(r => (r.getLong(r.fieldIndex("nll_n6")), r.getLong(0)))
    val seq = byScore.map(_.getString(byScore.head.fieldIndex("bucket")))
    val rank = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
    assert(seq.forall(rank.contains))
    assert(seq.sliding(2).forall {
      case Array(a, b) => rank(a) <= rank(b); case _ => true },
      "bucket must be monotone in the published score")
    // p25/p75 split: head and tail each ≲ a quarter, all three populated
    val counts = seq.groupBy(identity).view.mapValues(_.length).toMap
    assert(counts.keySet == Set("head", "middle", "tail"), counts.toString)
    assert(counts("head") <= rows.length / 2 && counts("tail") <= rows.length / 2)
  }

  test("q118 bigram perplexity: scores sit far from the quantization flip boundary") {
    // q66's margin discipline at the bigram order: the only
    // transcendental is ln (one per position), cross-engine skew is
    // ulp-scale; every doc must keep raw-space margin > 1e-12 from the
    // ×1e6 floor boundary, and the interpolation must keep every score
    // finite (P > 0 by construction — an observed class has cu ≥ 1)
    val raw = queries.TextOps.bigramPerplexityScored(spark, sf)
      .select(col("nll2_raw")).collect().map(_.getDouble(0))
    assert(raw.nonEmpty)
    raw.foreach { v =>
      assert(!v.isNaN && !v.isInfinite, s"non-finite bigram nll $v")
      val x = v * 1e6 + 0.5
      val dist = math.abs(x - math.rint(x)) / 1e6
      assert(dist > 1e-12, s"nll2 $v: within $dist (raw) of a floor boundary")
    }
    graft.Caches.clearAll(spark)
  }

  test("q93 DSIR: flip margins, estimator discriminates, sampling up-weights target") {
    // margin discipline (q66's): logw and the Gumbel key are ln-derived,
    // cross-engine skew is ulp-scale; every doc must keep raw-space
    // margin > 1e-12 from the ×1e6 floor boundary on BOTH published scores
    val raw = queries.TextOps.importanceScored(Tables(spark, sf, "documents"))
      .select(col("logw"), col("gkey"), col("source")).collect()
    assert(raw.nonEmpty)
    for (r <- raw; v <- Seq(r.getDouble(0), r.getDouble(1))) {
      val x = v * 1e6 + 0.5
      val dist = math.abs(x - math.rint(x)) / 1e6
      assert(dist > 1e-12, s"score $v within $dist (raw) of a flip boundary")
    }
    // the importance estimator discriminates: docs FROM the target slice
    // score higher on average than the rest (sf0.001 measures +0.37 vs
    // −0.49; a broken feature hash or inverted ratio flips the sign)
    val (tgt, rest) = raw.partition(r =>
      queries.TextOps.DsirTargets.contains(r.getString(2)))
    def meanLogw(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getDouble(0)).sum / rs.length
    assert(meanLogw(tgt) > meanLogw(rest) + 0.2,
      s"target mean ${meanLogw(tgt)} vs rest ${meanLogw(rest)}")
    // Gumbel top-100 up-weights target-like docs: selected target share
    // must beat the corpus base rate (15% → measured 34%)
    val sel = queries.TextOps.q93ImportanceResample.fn(spark, sf).collect()
    assert(sel.length == 100)
    val selTgt = sel.count(r =>
      queries.TextOps.DsirTargets.contains(r.getString(1))).toDouble / sel.length
    val baseTgt = tgt.length.toDouble / raw.length
    assert(selTgt > baseTgt * 1.5,
      s"selected target share $selTgt vs base rate $baseTgt")
  }

  test("q95 fertility: merges only compress (n_sym ≤ n_char, strict in aggregate)") {
    val rows = queries.TextOps.q95BpeFertility.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nTok, nSym, nChar) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nSym >= nTok, "every word is at least one symbol")
      assert(nSym <= nChar, s"BPE grew symbols beyond characters: $nSym > $nChar")
      assert(r.getDouble(4) >= 1.0 && r.getDouble(5) >= 1.0)
    }
    // the learned merges actually fire somewhere (strictly fewer symbols
    // than characters corpus-wide)
    assert(rows.map(_.getLong(2)).sum < rows.map(_.getLong(3)).sum,
      "no merge fired anywhere — the artifact is not being applied")
  }

  test("q67 span dedup: keep-first semantics, coverage removal, short docs untouched") {
    import spark.implicits._
    // doc 1 holds the FIRST occurrence of the 8-token span (kept whole);
    // doc 2 repeats it at pos 3 (those 8 tokens drop, rest survive);
    // doc 3 is shorter than a span (untouched);
    // doc 4 repeats a span WITHIN itself (second occurrence drops).
    val docs = Seq(
      (1L, "a b c d e f g h x y z"),
      (2L, "p q a b c d e f g h r"),
      (3L, "u v w"),
      (4L, "m n o p q r s t m n o p q r s t"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("q67").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = queries.DedupOps.q67SpanDedup.fn(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((11L, 0L, "a b c d e f g h x y z")))
    assert(out(2L) == ((11L, 8L, "p q r")))
    assert(out(3L) == ((3L, 0L, "u v w")))
    assert(out(4L) == ((16L, 8L, "m n o p q r s t")))
  }

  test("q100 calibration: empty-fingerprint docs are dropped, no zero denominator") {
    import spark.implicits._
    // docs 10/11: a true near-dup pair (the meter must still see it);
    // docs 20/21: zero and one token — no word-bigram shingle exists, so
    // the fingerprint set is EMPTY. Before the guard, two empty-set docs
    // shared every minhash band (signature over nothing), banded together,
    // and j_n9's union denominator (szsum − inter = 0) divided by zero
    // under ANSI; DuckDB's unnest path never even produces such docs — a
    // cross-engine divergence on degenerate input. The guard filters
    // size(fps) > 0 before signature/banding.
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "the quick brown fox jumps over the lazy dog again and often"),
      (20L, ""),
      (21L, "solo"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("q100empty").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = queries.DedupOps.q100MinhashCalibration.fn(spark, dir).collect()
    // the near-dup pair survives as the only candidate; nothing threw
    assert(rows.map(_.getLong(1)).sum == 1L,
      "exactly the true near-dup candidate pair must be metered")
    graft.Caches.clearAll(spark)
  }

  test("q106/q108/q109/q110 meter invariants: Lloyd monotonicity, share/partition conservation, density bounds") {
    // q106: one Lloyd refinement from the sliced warm start cannot
    // increase a subspace's total distortion (assignment + re-center +
    // re-assignment each non-increasing); quantization adds ≤ 0.5 per
    // vector per arm, so pqt ≤ pq + n_vecs in nano units
    val d = queries.VectorOps.q106PqDistortion.fn(spark, sf).collect()
      .groupBy(_.getLong(1)).map { case (sub, rows) =>
        val byArm = rows.map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
        (sub, byArm("pq"), byArm("pqt"))
      }
    assert(d.nonEmpty)
    d.foreach { case (sub, (nPq, sPq), (nPqt, sPqt)) =>
      assert(nPq == nPqt, s"sub $sub arm coverage differs")
      assert(sPqt <= sPq + nPq,
        s"sub $sub: trained codebook RAISED distortion ($sPqt > $sPq) — Lloyd broke")
    }
    // q108: shares are floor(n·1e9/total) so they sum into (1e9 − |cells|, 1e9];
    // the counts partition the corpus exactly
    val cells = queries.VectorOps.q108IvfCellAudit.fn(spark, sf).collect()
    val shareSum = cells.map(_.getLong(2)).sum
    assert(shareSum <= 1000000000L && shareSum > 1000000000L - cells.length,
      s"cell shares do not conserve: $shareSum over ${cells.length} cells")
    assert(cells.map(_.getLong(1)).sum == Tables(spark, sf, "embeddings").count())
    // q109: a cluster's direct edges never exceed its clique bound, the
    // spanning-tree floor holds (≥ sz−1 edges per cluster ⇒ per bucket
    // n_edges ≥ n_clusters·(sz−1)), and every bucket is size ≥ 2
    val dens = queries.DedupOps.q109ClusterDensity.fn(spark, sf).collect()
    assert(dens.nonEmpty)
    dens.foreach { r =>
      val (sz, ncl, ne, np, d9) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(sz >= 2 && ne <= np && d9 <= 1000000000L,
        s"density bucket $sz violates clique bound")
      assert(ne >= ncl * (sz - 1), s"bucket $sz under the spanning-tree floor")
    }
    // q110: the four phases partition the scored (non-empty) corpus and
    // are ordered by difficulty span
    val ph = queries.TextOps.q110CurriculumSchedule.fn(spark, sf).collect()
    assert(ph.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    val scoredDocs = queries.TextOps.q66Perplexity.fn(spark, sf).count()
    assert(ph.map(_.getLong(1)).sum == scoredDocs,
      "curriculum phases do not partition the scored corpus")
    ph.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(4) <= b.getLong(4),
        "phase min difficulty must be non-decreasing")
    }
    graft.Caches.clearAll(spark)
  }

  test("q69 chunking: every token covered, windows at most 64 tokens, overlap contract") {
    val chunks = queries.PipelineOps.q69ChunkWindows.fn(spark, sf).collect()
    val docLens = Tables(spark, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chunks.forall(_.getLong(2) <= 64))
    val byDoc = chunks.groupBy(_.getLong(0))
    assert(byDoc.keySet == docLens.keySet, "every doc emits at least one chunk")
    byDoc.foreach { case (d, cs) =>
      // tail coverage: the furthest window end reaches the document's end
      val covered = cs.map(r => r.getLong(1) + r.getLong(2) - 1).max
      assert(covered == docLens(d), s"doc $d covered to $covered of ${docLens(d)}")
      // starts ascend and no window is contained in a neighbor
      val starts = cs.map(_.getLong(1)).sorted
      assert(starts.head == 1L && starts.distinct.length == starts.length)
    }
  }

  test("q70 split contamination: no reported pair is a strong near-dup (q68 guarantee)") {
    val audited = queries.PipelineOps.q70SplitContamination.fn(spark, sf)
      .select("test_id", "train_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the cluster-keyed split puts every jaccard>=0.5 pair in ONE split, so
    // the audit can only ever surface weaker overlaps
    val strong = sources.PairGraph(spark, sf)
      .filter(col("jaccard") >= 0.5).select("a", "b").collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0)))).toSet
    assert(audited.intersect(strong).isEmpty,
      "a strong near-dup pair straddled the split — q68's invariant broken")
  }

  test("q73 hybrid RRF: scores recompute from ranks, dense arm consistent with q27") {
    val rows = queries.VectorOps.q73HybridRrf.fn(spark, sf).collect()
    assert(rows.length == 20)
    // rrf non-increasing with doc_id tiebreak, and every score recomputes
    // EXACTLY from its two ranks (same association order as the plan)
    val scores = rows.map(_.getDouble(3))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      val (l, d) = (r.getLong(1), r.getLong(2))
      assert((l == -1L || (l >= 1L && l <= 50L)) && (d == -1L || (d >= 1L && d <= 50L)))
      assert(l != -1L || d != -1L, "a fused row must come from at least one list")
      val want = (if (l == -1L) 0.0 else 1.0 / (60 + l)) +
        (if (d == -1L) 0.0 else 1.0 / (60 + d))
      assert(r.getDouble(3) == want, s"doc ${r.getLong(0)} rrf drifted from its ranks")
    }
    // the dense arm must agree with q27's exact top-k ordering: q27's i-th
    // result (same corpus, same query vector) carries dense_rank i+1
    val q27Top = queries.VectorOps.q27DotTopk.fn(spark, sf)
      .select("vec_id").collect().map(_.getLong(0))
    val denseRank = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    q27Top.zipWithIndex.foreach { case (id, i) =>
      denseRank.get(id).foreach { dr =>
        assert(dr == i + 1L, s"vec $id: q73 dense_rank $dr vs q27 position ${i + 1}")
      }
    }
  }

  test("q74 semdedup: no two kept same-cell vectors over the threshold, drops witnessed") {
    val tau = 0.25
    val out = queries.DedupOps.q74Semdedup.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(4))).toSeq
    val emb = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val byCell = out.groupBy(_._2)
    assert(out.exists(!_._3) && out.exists(_._3), "both kept and dropped expected")
    byCell.values.foreach { cell =>
      val kept = cell.filter(_._3).map(_._1)
      // the operator's guarantee: the kept set is threshold-separated
      for (a <- kept; b <- kept if a < b)
        assert(dot(emb(a), emb(b)) <= tau, s"kept pair ($a,$b) over threshold")
      // soundness: every dropped vector had a real same-cell near-dup
      cell.filter(!_._3).map(_._1).foreach { d =>
        assert(cell.exists(o => o._1 != d && dot(emb(d), emb(o._1)) > tau),
          s"vec $d dropped without a same-cell witness")
      }
    }
  }

  test("q75 funnel: strict step order and 24h windows on a constructed timeline") {
    import spark.implicits._
    val t0 = 1700000000000000L // epoch micros
    def ts(us: Long) = new java.sql.Timestamp((t0 + us) / 1000)
    val H = 3600L * 1000000
    val ev = Seq(
      // user 1: full conversion inside both windows
      (1L, "signup", 0L), (1L, "click", 1 * H), (1L, "purchase", 2 * H),
      // user 2: click misses the 24h window
      (2L, "signup", 0L), (2L, "click", 25 * H),
      // user 3: click only BEFORE signup — strict ordering rejects it
      (3L, "click", -1 * H), (3L, "signup", 0L),
      // user 4: clicks in-window, purchase outside the click's window
      (4L, "signup", 0L), (4L, "click", 2 * H), (4L, "purchase", 2 * H + 25 * H),
      // user 5: no signup at all — outside the funnel entirely
      (5L, "click", 0L), (5L, "purchase", 1 * H),
      // user 6: both steps exactly ON the 24h boundary (<= includes them)
      (6L, "signup", 0L), (6L, "click", 24 * H), (6L, "purchase", 48 * H))
      .zipWithIndex.map { case ((u, et, off), i) =>
        (i.toLong, ts(off), u, et, 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("q75").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = queries.EventOps.q75Funnel.fn(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((5L, 3L, 2L)))
    assert(r.getDouble(3) == 3.0 / 5 && r.getDouble(4) == 2.0 / 3)
  }

  test("q77 lexical kNN: an exact duplicate ranks first at cosine ~1 on a constructed corpus") {
    import spark.implicits._
    // 36 filler docs with unique vocabularies keep every real term under
    // the max_df 10% rule (df·10 ≤ N needs N ≥ 10·df); doc 90 duplicates
    // the query doc 0, doc 91 half-overlaps, doc 92 is disjoint
    val filler = (1 to 36).map(i => (i.toLong, s"w${i}a w${i}b w${i}c w${i}a w${i}b"))
    val docs = (filler ++ Seq(
      (0L, "alpha beta gamma delta alpha beta"),
      (90L, "alpha beta gamma delta alpha beta"),
      (91L, "alpha beta zzz yyy xxx www"),
      (92L, "qqq rrr sss ttt uuu vvv")))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("q77").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = queries.TextOps.q77LexicalKnn.fn(spark, dir).collect()
    assert(out.nonEmpty)
    val top = out.head
    assert(top.getLong(0) == 90L, s"exact duplicate must rank first: ${out.toSeq}")
    assert(math.abs(top.getDouble(2) - 1.0) < 1e-12)
    // the half-overlap doc appears, the disjoint doc cannot (posting join)
    val ids = out.map(_.getLong(0)).toSet
    assert(ids.contains(91L) && !ids.contains(92L),
      s"posting-list candidates wrong: $ids")
    // cosines non-increasing, all in (0, 1 + ulp]
    val cs = out.map(_.getDouble(2))
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    assert(cs.forall(c => c > 0.0 && c <= 1.0 + 1e-12))
  }

  test("q78 funnel latency: exact R-7 percentiles on a constructed latency set") {
    import spark.implicits._
    val t0 = 1700000000000000L
    def ts(us: Long) = new java.sql.Timestamp((t0 + us) / 1000)
    val M = 60L * 1000000
    // four converting users with signup→click latencies 10/20/30/40 min;
    // one user converts through purchase 5 min after the click
    val ev = (1 to 4).flatMap { u =>
      Seq((u.toLong, "signup", 0L), (u.toLong, "click", u * 10 * M)) ++
        (if (u == 1) Seq((u.toLong, "purchase", u * 10 * M + 5 * M)) else Nil)
    }.zipWithIndex.map { case ((u, et, off), i) =>
      (i.toLong, ts(off), u, et, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("q78").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = queries.EventOps.q78FunnelLatency.fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    // R-7 on [10,20,30,40] min: rank p·(n−1) → p25 = 17.5, p50 = 25, p75 = 32.5
    assert(got.toSeq == Seq(
      ("click_to_purchase", 1L, 5.0 * M, 5.0 * M, 5.0 * M),
      ("signup_to_click", 4L, 17.5 * M, 25.0 * M, 32.5 * M)), got.toSeq.toString)
  }

  test("q83 datasheet: cube margins are consistent sums of the full matrix") {
    val rows = queries.PipelineOps.q83Datasheet.fn(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    def add(a: (Long, Long, Long), b: (Long, Long, Long)) =
      (a._1 + b._1, a._2 + b._2, a._3 + b._3)
    val matrix = rows.filter { case ((s, l), _) => s != "(all)" && l != "(all)" }
    assert(matrix.nonEmpty)
    // every margin and the grand total must equal the matrix's sums
    val total = matrix.values.reduce(add)
    assert(rows(("(all)", "(all)")) == total)
    matrix.keys.map(_._1).toSeq.distinct.foreach { s =>
      assert(rows((s, "(all)")) ==
        matrix.filter(_._1._1 == s).values.reduce(add), s"source $s margin")
    }
    matrix.keys.map(_._2).toSeq.distinct.foreach { l =>
      assert(rows(("(all)", l)) ==
        matrix.filter(_._1._2 == l).values.reduce(add), s"lang $l margin")
    }
    // and the corpus totals are the real ones
    val docs = Tables(spark, sf, "documents")
    assert(total._1 == docs.count())
    assert(total._2 == docs.agg(sum(col("n_chars"))).head.getLong(0))
  }

  test("q82 BPE merges: composition, count ties, and greedy overlap on a constructed corpus") {
    import spark.implicits._
    // hand-derived 6-round trace:
    //  r0 (a,b):6 → ab      r1 (c,d):4 → cd
    //  r2 tie at 3 between (ab,ab) and (a,a) — pa order picks (a,a) → aa,
    //     and "aaaa" pairs GREEDILY: ".a..a..a..a." → ".aa..aa."
    //  r3 (ab,ab):3 → abab (a merge of a prior merge — composition)
    //  r4 tie at 2 between (cd,cd) and (e,f) — pa order picks (cd,cd)
    //  r5 (e,f):2 → ef
    val docs = Seq((1L, "abab abab abab cdcd cdcd efef gh ij aaaa"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("q82").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = queries.TextOps.q82BpeMerges.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (0L, "a", "b", "ab", 6L),
      (1L, "c", "d", "cd", 4L),
      (2L, "a", "a", "aa", 3L),
      (3L, "ab", "ab", "abab", 3L),
      (4L, "cd", "cd", "cdcd", 2L),
      (5L, "e", "f", "ef", 2L)), got.toSeq.toString)
    // the distributed fallback (vocab above the driver bound) must trace
    // the SAME merges as the driver rounds, on the constructed corpus AND
    // the real documents table. Its round-loop settings (AQE off, one
    // shuffle partition) reach its own jobs, while the caller's session
    // reads its own conf during and after the loop.
    def callerConf = (spark.conf.get("spark.sql.adaptive.enabled"),
      spark.conf.get("spark.sql.shuffle.partitions"))
    val before = callerConf
    Seq(dir, sf).zipWithIndex.foreach { case (d, i) =>
      val corpus = Tables(spark, d, "documents")
      val driver = queries.TextOps.learnBpeMergesFrom(corpus)
      val group = s"bpe-distributed-$i"
      val loopConfs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (e.properties.getProperty("spark.jobGroup.id") == group)
            loopConfs.add((e.properties.getProperty("spark.sql.adaptive.enabled"),
              e.properties.getProperty("spark.sql.shuffle.partitions")))
      }
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()
      @volatile var looping = true
      val watcher = new Thread(() => while (looping) { seen.add(callerConf); Thread.sleep(1) })
      spark.sparkContext.addSparkListener(listener)
      watcher.start()
      // countingJobs drains the listener bus: the listener has seen every job
      val (distributed, _) =
        try countingJobs(group)(queries.TextOps.learnBpeMergesFrom(corpus, driverVocabMax = 0))
        finally {
          looping = false
          watcher.join()
          spark.sparkContext.removeSparkListener(listener)
        }
      assert(distributed == driver, s"distributed fallback diverged from driver rounds on $d")
      assert(seen.asScala.toSet == Set(before), s"the caller's conf changed during the loop: $seen")
      assert(loopConfs.asScala.count(_ == (("false", "1"))) >= queries.TextOps.BpeRounds,
        s"the round loop's jobs ran without its settings: $loopConfs")
    }
    assert(callerConf == before)
    // q84 applies those merges: hand-traced post-merge symbol counts on
    // the same corpus. Tokens: abab×3 (→ 1 sym via ab,abab), cdcd×2
    // (→ 1 via cd,cdcd), efef (→ 2 via ef), gh (2), ij (2), aaaa
    // (→ 2 via aa greedy pairing) ⇒ n_tok 9, n_sym 3+2+2+2+2+2 = 13
    val enc = queries.TextOps.q84BpeApply.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(enc.toSeq == Seq((1L, 9L, 13L)), enc.toSeq.toString)
  }

  test("q81 split drift: PSI contributions non-negative, counts conserve, margins clear") {
    val rows = queries.PipelineOps.q81SplitDrift.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == (0L to 9L), "all 10 fixed buckets present")
    // each (p−q)·ln(p/q) term is ≥ 0 by construction
    assert(rows.forall(_._4 >= 0L), rows.mkString(","))
    // counts conserve against the split relation itself
    val sp = queries.DedupOps.q68LeakageSafeSplit.fn(spark, sf)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(_._2).sum == sp("train") && rows.map(_._3).sum == sp("test"))
    // flip-margin (the q65 discipline): recompute each contribution with
    // the same association order and pin its nano-quantization distance
    val totT = rows.map(_._2).sum + 10.0
    val totE = rows.map(_._3).sum + 10.0
    rows.foreach { case (bkt, nt, ne, n9) =>
      val p = (nt + 1).toDouble / totT
      val q = (ne + 1).toDouble / totE
      val raw = (p - q) * math.log(p / q)
      val x = raw * 1e9 + 0.5
      assert(math.floor(x).toLong == n9, s"bucket $bkt recompute mismatch")
      val frac = x - math.floor(x)
      assert(frac > 1e-3 && frac < 1 - 1e-3,
        s"bucket $bkt contribution sits $frac from a flip boundary")
    }
  }

  test("q80 event flow: transitions never cross a session boundary, shares sum to 1") {
    import spark.implicits._
    val t0 = 1700000000000000L
    def ts(min: Long) = new java.sql.Timestamp((t0 + min * 60000000L) / 1000)
    // user 1: view→click, then a 31-min gap (session break) before
    // purchase — the click→purchase transition MUST NOT be counted;
    // user 2: one two-event session
    val ev = Seq(
      (1L, ts(0), 1L, "view"), (2L, ts(5), 1L, "click"), (3L, ts(36), 1L, "purchase"),
      (4L, ts(0), 2L, "view"), (5L, ts(10), 2L, "view"))
      .map { case (e, t, u, et) => (e, t, u, et, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("q80").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = queries.EventOps.q80EventFlow.fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(("view", "click", 1L, 0.5), ("view", "view", 1L, 0.5)),
      got.toSeq.toString)
    // on the real corpus: per-from shares sum to exactly 1 (longs over longs)
    val shares = queries.EventOps.q80EventFlow.fn(spark, sf).collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(r => (r.getLong(2), r.getDouble(3))))
    shares.foreach { case (from, rows) =>
      val tot = rows.map(_._1).sum.toDouble
      val sum = rows.map { case (n, sh) => assert(sh == n / tot); sh }.sum
      assert(math.abs(sum - 1.0) < 1e-12, s"$from shares sum to $sum")
    }
  }

  test("q79 video shots: repeated frames make one shot, the cut lands at the content change") {
    import spark.implicits._
    // frame A: constant bytes → flat gradient → dHash 0; frame B: ascending
    // rows → every horizontal gradient bit set → dHash all-ones. Hamming
    // A↔A = 0 (same shot), A↔B = 64 (a cut).
    val fA = "a" * 96
    val fB = "abcdefghijkl" * 8
    val docs = Seq(
      (1L, fA + fA + fA + fB + fB),            // AAABB → 1 cut, 5 frames
      (2L, fA * 4),                            // one static shot, 0 cuts
      (3L, fA + fB + fA + fB),                 // ABAB → 3 cuts
      (4L, fA + fB + ("z" * 50)),              // partial tail frame ignored
      (5L, fA))                                // single frame → excluded
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("q79").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = queries.MultimodalOps.q79VideoShots.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out == Map(
      1L -> ((5L, 1L, 64L)),
      2L -> ((4L, 0L, 0L)),
      3L -> ((4L, 3L, 64L)),
      4L -> ((2L, 1L, 64L))), out.toString)
  }

  test("q76 retention: cohort by first-seen day, offsets clipped to 0..7, distinct users") {
    import spark.implicits._
    val day = 86400L * 1000000
    def ts(d: Long, us: Long) = new java.sql.Timestamp((d * day + us) / 1000)
    val ev = Seq(
      // user 1: cohort day 10; two same-day events on day 11 dedup to one;
      // day 20 is offset 10 — clipped
      (1L, ts(10, 0)), (1L, ts(11, 5)), (1L, ts(11, 99)), (1L, ts(13, 0)), (1L, ts(20, 0)),
      // user 2: cohort day 10, day-0 only
      (2L, ts(10, 7)),
      // user 3: cohort day 12; day 19 is offset 7 (boundary, kept), 20 clipped
      (3L, ts(12, 0)), (3L, ts(19, 0)), (3L, ts(20, 0)))
      .zipWithIndex.map { case ((u, t), i) => (i.toLong, t, u, "view", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("q76").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = queries.EventOps.q76Retention.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((10L, 0L, 2L), (10L, 1L, 1L), (10L, 3L, 1L),
      (12L, 0L, 1L), (12L, 7L, 1L)))
  }

  test("q68 leakage-safe split: one split per cluster, all docs covered, all splits hit") {
    val rows = queries.DedupOps.q68LeakageSafeSplit.fn(spark, sf).collect()
    assert(rows.length == Tables(spark, sf, "documents").count())
    // the invariant the operator exists for: a cluster never straddles splits
    val byCluster = rows.groupBy(_.getLong(1)).view.mapValues(_.map(_.getString(2)).distinct)
    assert(byCluster.values.forall(_.length == 1),
      "near-dup cluster assigned to more than one split — leakage")
    val bySplit = rows.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(bySplit.keySet == Set("train", "val", "test"), bySplit.toString)
    assert(bySplit("train") > bySplit("val") && bySplit("train") > bySplit("test"))
  }

  test("q85 int8 quantization: half-step error bound, hand-recomputed row, checksum consistency") {
    val rows = queries.VectorOps.q85EmbedQuant.fn(spark, sf).collect()
    assert(rows.length == Tables(spark, sf, "embeddings").count())
    rows.foreach { r =>
      val scale = r.getDouble(1); val mse = r.getDouble(3)
      // |x/scale − round(x/scale)| ≤ 0.5 ⇒ per-element err ≤ (scale/2)²
      assert(mse >= 0 && mse <= (scale / 2) * (scale / 2) + 1e-18,
        s"vec ${r.getLong(0)}: mse $mse breaks the half-step bound for scale $scale")
    }
    // hand recompute vector 7 with the engine's exact arithmetic
    val x = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") === 7L).select("embedding").head().getSeq[Float](0)
    val mx = x.map(v => math.abs(v.toDouble)).max
    val scale = mx / 127
    val codes = x.map(v => math.floor(v.toDouble / scale + 0.5).toLong)
    val mse = x.zip(codes).map { case (v, c) =>
      val d = v.toDouble - c.toDouble * scale; d * d }.sum / x.length
    val got = rows.find(_.getLong(0) == 7L).get
    assert(got.getDouble(1) == scale && got.getLong(2) == codes.sum)
    assert(got.getDouble(3) == mse, s"mse ${got.getDouble(3)} != $mse")
    // code range: int8-representable by construction of the max-based scale
    assert(codes.forall(c => c >= -127 && c <= 127))
  }

  test("q86 quantization audit: verdict flips are rare and bounded, pair set matches the band relation") {
    val r = queries.VectorOps.q86QuantAudit.fn(spark, sf).head()
    val (nPairs, nFlipped, maxErr) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    assert(nPairs > 0)
    // the audit's whole point: int8 must preserve dedup verdicts almost
    // everywhere — deterministic at fixed SF (sf0.001 measures ~0.1%)
    assert(nFlipped.toDouble / nPairs < 0.01,
      s"$nFlipped/$nPairs verdicts flip under SQ8 — quantization too coarse")
    assert(maxErr > 0 && maxErr < 0.01, s"max dot error $maxErr out of expected band")
    // the pair universe is EXACTLY q46's banded candidate relation
    val expectPairs = queries.VectorOps.q46EmbeddingNeardupLsh.fn(spark, sf)
      .count() // q46 keeps only dot > tau pairs...
    assert(nPairs >= expectPairs, "audit must cover at least the surviving near-dup pairs")
  }

  test("q91 split budget: the three splits exactly partition the corpus totals") {
    val rows = queries.PipelineOps.q91SplitBudget.fn(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSet == Set("train", "val", "test"))
    val docs = Tables(spark, sf, "documents")
    assert(rows.map(_.getLong(1)).sum == docs.count())
    assert(rows.map(_.getLong(2)).sum ==
      docs.agg(sum("n_chars")).head().getLong(0))
    // the 80/10/10 gate's realized shares (hash-gate noise allowed)
    val byName = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = byName.values.sum.toDouble
    assert(byName("train") / n > 0.7 && byName("val") / n < 0.2)
  }

  test("q89 band-recall meter: counts cohere, recall floor holds at the floor geometry") {
    val r = queries.VectorOps.q89BandRecall.fn(spark, sf).head()
    val (nSample, nTrue, nCaught, recall, nCand, candFrac) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5))
    assert(nSample > 0 && nTrue > 0)
    // caught pairs are the intersection: bounded by both sides
    assert(nCaught <= nTrue && nCaught <= nCand)
    assert(recall == nCaught.toDouble / nTrue)
    assert(candFrac > 0 && candFrac < 1, s"selectivity $candFrac out of band")
    // the floor (4x4) geometry's documented operating point on this
    // weak-similarity corpus: ~44% recall examining ~25% of pairs —
    // floors leave headroom but catch a silent recall collapse
    assert(recall >= 0.3, s"recall $recall collapsed at the floor geometry")
    assert(candFrac <= 0.35, s"candidate fraction $candFrac — blocking stopped selecting")
  }

  test("q53 recall floors: pq mean ≥ 0.4, ivf mean ≥ 0.3 (refactors can't trade recall for speed)") {
    val rows = queries.VectorOps.q53AnnRecall.fn(spark, sf).collect()
    def meanRecall(m: String): Double = {
      val rs = rows.filter(_.getString(0) == m)
      assert(rs.nonEmpty, s"no rows for method $m")
      rs.map(_.getDouble(3)).sum / rs.length
    }
    // deterministic at fixed SF — sf0.001 measures pq 0.65, ivf 0.3125
    // (sf0.1: pq 0.43–0.63, ivf 0.33–0.45). The pq floor leaves wide
    // margin; the ivf floor pins within 0.0125 of today's value, which is
    // the point: an ANN geometry change that buys speed with recall must
    // show up here, not in a silently lower meter row.
    assert(meanRecall("pq") >= 0.4, s"pq recall ${meanRecall("pq")}")
    assert(meanRecall("ivf") >= 0.3, s"ivf recall ${meanRecall("ivf")}")
    // the trained-codebook arm must keep the retraining payoff: at the
    // identical 100-row read budget, pqt ≥ pq (sf0.001: 0.6875 vs 0.65;
    // sf0.01: 0.70 vs 0.625) — a PqCodebooks refactor that silently
    // degrades the refinement shows up here
    assert(meanRecall("pqt") >= meanRecall("pq"),
      s"pqt ${meanRecall("pqt")} fell below pq ${meanRecall("pq")}")
    val readFrac = (m: String) => {
      val rs = rows.filter(_.getString(0) == m)
      rs.map(_.getDouble(4)).sum / rs.length
    }
    assert(readFrac("pqt") == readFrac("pq"),
      "pqt/pq read budgets diverged — the comparison is no longer like-for-like")
  }

  test("q53 rows and job count match the recording from when its three assemblies agreed") {
    // Recorded when the window twin, the per-arm Future assembly and the
    // fused tagged-union assembly still coexisted and returned identical
    // rows; only the fused assembly remains. The aggregate ≡ row_number
    // selection equivalence stays pinned in TopKSpec.
    val want = Seq[(String, Long, Long, Double, Double)](
      ("ivf", 0L, 3L, 0.3D, 0.20121951219512196D), ("ivf", 1L, 1L, 0.1D, 0.19308943089430894D),
      ("ivf", 2L, 5L, 0.5D, 0.20121951219512196D), ("ivf", 3L, 2L, 0.2D, 0.20934959349593496D),
      ("ivf", 4L, 3L, 0.3D, 0.2073170731707317D), ("ivf", 5L, 2L, 0.2D, 0.20121951219512196D),
      ("ivf", 6L, 5L, 0.5D, 0.21747967479674796D), ("ivf", 7L, 4L, 0.4D, 0.18089430894308944D),
      ("lsh", 0L, 6L, 0.6D, 0.3008130081300813D), ("lsh", 1L, 6L, 0.6D, 0.241869918699187D),
      ("lsh", 2L, 4L, 0.4D, 0.2621951219512195D), ("lsh", 3L, 3L, 0.3D, 0.23780487804878048D),
      ("lsh", 4L, 6L, 0.6D, 0.2784552845528455D), ("lsh", 5L, 5L, 0.5D, 0.23373983739837398D),
      ("lsh", 6L, 3L, 0.3D, 0.23983739837398374D), ("lsh", 7L, 1L, 0.1D, 0.241869918699187D),
      ("lsh12", 0L, 4L, 0.4D, 0.11178861788617886D), ("lsh12", 1L, 1L, 0.1D, 0.08739837398373984D),
      ("lsh12", 2L, 3L, 0.3D, 0.07317073170731707D), ("lsh12", 3L, 3L, 0.3D, 0.08333333333333333D),
      ("lsh12", 4L, 0L, 0.0D, 0.034552845528455285D), ("lsh12", 5L, 1L, 0.1D, 0.07113821138211382D),
      ("lsh12", 6L, 1L, 0.1D, 0.07113821138211382D), ("lsh12", 7L, 0L, 0.0D, 0.06910569105691057D),
      ("pq", 0L, 7L, 0.7D, 0.2032520325203252D), ("pq", 1L, 4L, 0.4D, 0.2032520325203252D),
      ("pq", 2L, 4L, 0.4D, 0.2032520325203252D), ("pq", 3L, 5L, 0.5D, 0.2032520325203252D),
      ("pq", 4L, 7L, 0.7D, 0.2032520325203252D), ("pq", 5L, 10L, 1.0D, 0.2032520325203252D),
      ("pq", 6L, 9L, 0.9D, 0.2032520325203252D), ("pq", 7L, 6L, 0.6D, 0.2032520325203252D),
      ("pqt", 0L, 10L, 1.0D, 0.2032520325203252D), ("pqt", 1L, 6L, 0.6D, 0.2032520325203252D),
      ("pqt", 2L, 6L, 0.6D, 0.2032520325203252D), ("pqt", 3L, 5L, 0.5D, 0.2032520325203252D),
      ("pqt", 4L, 6L, 0.6D, 0.2032520325203252D), ("pqt", 5L, 7L, 0.7D, 0.2032520325203252D),
      ("pqt", 6L, 9L, 0.9D, 0.2032520325203252D), ("pqt", 7L, 6L, 0.6D, 0.2032520325203252D))
    def run(): Seq[(String, Long, Long, Double, Double)] =
      try queries.VectorOps.q53AnnRecall.fn(spark, sf).collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      finally Caches.clearAll(spark)
    assert(run() == want)
    // 15 jobs: the query-row collect, the two concurrent arm actions and
    // their AQE stage jobs, and the final collect. The re-rank action's
    // thread inherits the caller's job group, so the group sees every job.
    val (_, jobs) = countingJobs("q53-jobs")(run())
    assert(jobs == 15, s"q53 ran $jobs jobs")
  }

  test("q53 over a corpus with no query vectors returns no rows, like the oracle") {
    // every table of sf0.001, with the RecallQueries (vec_id < 8) query
    // rows removed from embeddings: the exact arm then has no groups
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("q53-noqueries").toString
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents").foreach { t =>
      Files.copy(Paths.get(sf, s"$t.parquet"), Paths.get(dir, s"$t.parquet"))
    }
    // one parquet FILE (not a Spark output directory), so DuckDB and
    // tools/selfcheck.py read the same dir unchanged
    spark.read.parquet(s"$sf/embeddings.parquet").filter(col("vec_id") >= 8)
      .coalesce(1).write.parquet(s"$dir/_emb")
    val part = new java.io.File(s"$dir/_emb").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(dir, "embeddings.parquet"))
    try assert(queries.VectorOps.q53AnnRecall.fn(spark, dir).collect().isEmpty)
    finally Caches.clearAll(spark)
  }

  test("shared intermediates are built by one job each; q21, q31 and q71 job counts") {
    // the queries whose plan reads a persisted frame more than once: with
    // the cache built up front (Caches.persistNow) no scan of it submits
    // a job of its own
    val shared = Seq("q21_ngram_jaccard", "q31_minhash_lsh", "q39_simhash_neardup",
      "q66_perplexity", "q71_image_neardup", "q103_label_centroid_matrix",
      "q107_simhash_calibration", "q119_lm_disagreement")
    val jobs = shared.map { name =>
      val (_, n, builds) = countingCacheBuilds(s"shared-cache-$name")(runQuery(name))
      assert(builds.nonEmpty && builds.values.forall(_ == 1),
        s"$name: jobs per cached RDD $builds")
      name -> n
    }.toMap
    assert(Seq("q21_ngram_jaccard", "q31_minhash_lsh", "q71_image_neardup").map(jobs) ==
      Seq(7, 5, 6), s"job counts moved: $jobs")
  }
}

/** The committed per-query job-count ledger: a JSON object of query name
  * to jobs, one entry per line in registry order.
  */
object JobLedger {
  val path: java.nio.file.Path = java.nio.file.Paths.get("plans/jobs_sf0.001.json")

  def read(p: java.nio.file.Path): Seq[(String, Int)] =
    "\"([^\"]+)\":\\s*(\\d+)".r.findAllMatchIn(java.nio.file.Files.readString(p))
      .map(m => m.group(1) -> m.group(2).toInt).toSeq

  def write(p: java.nio.file.Path, counts: Seq[(String, Int)]): Unit = {
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p,
      counts.map { case (n, j) => s"  \"$n\": $j" }.mkString("{\n", ",\n", "\n}\n"))
  }
}
