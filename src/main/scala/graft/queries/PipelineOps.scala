package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over the `documents` table — the
  * corpus-curation stages between raw ingest and a training run that the
  * reference's image/caption pipelines imply but never spell out
  * (reference analogue: the sampling/partitioning machinery around
  * CaffeOnSpark.scala:284-302's epoch scheduling): deterministic
  * stratified sampling, sequence packing for a token budget, and
  * train/test decontamination.
  *
  * All three keep the engine's determinism rules (QueryDef header): hash
  * routes shared with the oracle, integer window sums, int/int division
  * only between identical longs.
  */
object PipelineOps {

  private val toks = tokens("text")
  private val ToksSql = TokensSql("text")

  /** Q49 — deterministic stratified sampling: per-language keep rates
    * applied by consistent hash of the document id (NOT rand() — re-runs,
    * retries, and both engines select the identical subset). The hash is
    * the engine's rolling hash over the id's decimal digits, mod 100 —
    * map-only, no shuffle, so it scales as a pure scan; the sampled corpus
    * is reproducible from the rate table alone.
    *
    * The rate table downsamples the over-represented language ('en' holds
    * ~45% of the corpus) and keeps the tail: en 25%, de 60%, others 80% —
    * the standard rebalancing move before pretraining.
    */
  val q49StratifiedSample: QueryDef = QueryDef.sql(
    "q49_stratified_sample",
    s"""SELECT doc_id, lang, source, bucket
       |FROM (
       |  SELECT doc_id, lang, source,
       |    ${FingerprintSql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
       |  FROM documents)
       |WHERE bucket < CASE lang WHEN 'en' THEN 25 WHEN 'de' THEN 60 ELSE 80 END
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        (fingerprint("CAST(doc_id AS STRING)") % 100).as("bucket"))
      .filter(col("bucket") <
        when(col("lang") === "en", 25).when(col("lang") === "de", 60).otherwise(80))
      .orderBy("doc_id")
  }

  /** Q50 — sequence packing: assign documents to fixed token-budget bins
    * (budget 256) by running token count, the greedy streaming packer that
    * turns a document stream into training sequences. Packing is
    * order-sequential by construction, so the window partitions on the
    * shard key (lang, source) — each shard packs independently and in
    * parallel, and at 100 TB the shard key is what bounds a partition to
    * executor memory (a single global ordering would serialize the scan).
    * Integer window sums are exact under any execution.
    */
  val q50SequencePacking: QueryDef = QueryDef.sql(
    "q50_sequence_packing",
    s"""SELECT doc_id, lang, source, n_tok, cum_tok, (cum_tok - n_tok) // 256 AS bin
       |FROM (
       |  SELECT doc_id, lang, source, n_tok,
       |    CAST(sum(n_tok) OVER (PARTITION BY lang, source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
       |  FROM (SELECT doc_id, lang, source, len($ToksSql) AS n_tok FROM documents))
       |ORDER BY lang, source, doc_id""".stripMargin) { (s, dir) =>
    packed(Tables(s, dir, "documents"), tokenBudget = 256)
      .select("doc_id", "lang", "source", "n_tok", "cum_tok", "bin")
      .orderBy("lang", "source", "doc_id")
  }

  /** The q50 packer over any documents-shaped frame, with the token budget
    * as a parameter — shared by the registered query (budget 256) and the
    * curation pipeline's pack stage. Keeps the caller's columns and adds
    * n_tok / cum_tok / bin. A chunked flow (the chunk stage's output)
    * carries several rows per doc_id, so chunk_start completes the
    * running-sum order: by doc_id alone, the sum over one doc's chunks
    * would follow whatever row order the plan delivers.
    */
  private[graft] def packed(docs: org.apache.spark.sql.DataFrame,
      tokenBudget: Int): org.apache.spark.sql.DataFrame = {
    val order = ("doc_id" +: Seq("chunk_start").filter(docs.columns.contains)).map(col)
    val w = Window.partitionBy("lang", "source").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("n_tok", size(toks).cast("long"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .withColumn("bin", expr(s"(cum_tok - n_tok) div $tokenBudget"))
  }

  /** Document frequency cap for q51 contamination n-grams — same rationale
    * as q21's shingle cap: an n-gram present in k docs yields k² candidate
    * pairs, and corpus-common n-grams carry no contamination signal.
    */
  private val DfCap = 50

  /** Q51 — train/test decontamination: which held-out documents (source
    * 'src19') share ≥2 distinct word-4-grams with which training documents
    * (every other source)? The canonical pre-training leakage check,
    * n-gram-overlap flavored.
    *
    * Plan shape is q21's capped POSTING LISTS, bipartite: one shuffle
    * groups distinct (doc, 4-gram-hash) pairs by hash into per-gram
    * (test-docs, train-docs) lists; lists over the DF cap drop; pair
    * expansion is test×train inside each bounded list — never a raw
    * fp-keyed self-join, so a hot n-gram cannot emit quadratic pairs at
    * 100 TB. The 4-gram hashes come from the fused native expression (no
    * n-gram strings materialize); the oracle reaches identical integers
    * through the window-cap + join formulation.
    */
  val q51Decontaminate: QueryDef = QueryDef.sql(
    "q51_decontaminate",
    s"""WITH g0 AS (
       |  SELECT DISTINCT doc_id, source, ${FingerprintSql("s")} AS fp
       |  FROM (SELECT doc_id, source, ${WordNgramsOverT(4)} AS gs
       |        FROM (SELECT doc_id, source, $ToksSql AS t FROM documents)) x,
       |       unnest(x.gs) AS u(s)),
       |g AS (
       |  SELECT doc_id, source, fp FROM (
       |    SELECT g0.*, count(*) OVER (PARTITION BY fp) AS df FROM g0)
       |  WHERE df <= $DfCap),
       |tst AS (SELECT doc_id, fp FROM g WHERE source = 'src19'),
       |trn AS (SELECT doc_id, fp FROM g WHERE source <> 'src19'),
       |sizes AS (SELECT doc_id, count(*) AS n FROM tst GROUP BY doc_id)
       |SELECT test_id, train_id, shared, s.n AS n_test, shared / s.n AS overlap
       |FROM (SELECT tst.doc_id AS test_id, trn.doc_id AS train_id,
       |        count(*) AS shared
       |      FROM tst JOIN trn USING (fp)
       |      GROUP BY 1, 2) p
       |JOIN sizes s ON s.doc_id = test_id
       |WHERE shared >= 2
       |ORDER BY test_id, train_id""".stripMargin) { (s, dir) =>
    contaminationOverlap(Tables(s, dir, "documents"), holdout = "src19")
      .filter(col("shared") >= 2)
      .orderBy("test_id", "train_id")
  }

  /** The q51 contamination relation (test_id, train_id, shared, n_test,
    * overlap; shared ≥ 1) over any documents-shaped frame, the held-out
    * source as a parameter — the ONE implementation shared by the
    * registered query (holdout 'src19', shared ≥ 2) and the curation
    * pipeline's decontaminate stage.
    */
  private[graft] def contaminationOverlap(docs: org.apache.spark.sql.DataFrame,
      holdout: String): org.apache.spark.sql.DataFrame =
    bipartiteOverlap(docs,
      col("source") === holdout, col("source") =!= holdout)

  /** The capped bipartite 4-gram overlap relation over ANY two-sided doc
    * partition (test side, train side — rows matching neither predicate do
    * not enter the posting lists or the df cap). Shared by q51 (holdout
    * source vs rest) and q70 (test split vs train split).
    */
  private[graft] def bipartiteOverlap(docs: org.apache.spark.sql.DataFrame,
      isTest: org.apache.spark.sql.Column,
      isTrain: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    // array_distinct before the explode = the (doc, fp) DISTINCT done
    // map-side inside each row — no dedup exchange. The explicit-width
    // doc_id spread BEFORE the gram explode pins parallelism on the
    // compute-bound hash/explode stage (a small single-file corpus scans
    // as one partition and AQE's size-based coalescing would keep the
    // whole chain there — the q67/q86 lesson); at real scale the scan is
    // already wide and this exchange is noise.
    val par = docs.sparkSession.sessionState.conf.numShufflePartitions
    val grams = docs.filter(isTest || isTrain)
      .repartition(par, col("doc_id"))
      .select(col("doc_id"), isTest.as("__t"), explode(array_distinct(
        org.apache.spark.sql.graft.TextExpressions.ngram_hashes(toks, 4))).as("fp"))
    // bounded buffers (see q21): each list caps at DfCap+1, and any group
    // whose true total exceeds the cap still surfaces > DfCap elements
    // across the two lists, so the sum filter drops it exactly as before
    val clc = org.apache.spark.sql.graft.AggExpressions.collect_long_list_capped _
    val postings = grams
      .groupBy("fp")
      .agg(
        sort_array(clc(when(col("__t"), col("doc_id")), DfCap + 1))
          .as("tests"),
        sort_array(clc(when(!col("__t"), col("doc_id")), DfCap + 1))
          .as("trains"))
      .filter(size(col("tests")) + size(col("trains")) <= DfCap)
      .filter(size(col("tests")) > 0)
    // one chain, no join: each test doc of a list emits a null-train
    // marker beside its pairs, so the (test, train) count carries each test
    // doc's gram total n_test too, and a test-keyed window hands it to the
    // pairs. Joining a pair branch to a size branch instead makes the job
    // count depend on which branch's stage finishes first (AQE switches the
    // join to broadcast, or drops an empty side, at different points).
    postings
      .select(explode(expr(
        "flatten(transform(tests, a -> concat(" +
          "array(named_struct('test_id', a, 'train_id', CAST(NULL AS BIGINT))), " +
          "transform(trains, b -> named_struct('test_id', a, 'train_id', b)))))"))
        .as("p"))
      .groupBy(col("p.test_id").as("test_id"), col("p.train_id").as("train_id"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("n_test", max(when(col("train_id").isNull, col("shared")))
        .over(Window.partitionBy("test_id")))
      .filter(col("train_id").isNotNull)
      .withColumn("overlap", col("shared") / col("n_test"))
      .select("test_id", "train_id", "shared", "n_test", "overlap")
  }

  /** Q52 — marginal novelty per source: treat sources as arriving in
    * ordinal order (src0, src1, …) and measure, for each, the fraction of
    * its distinct word-4-grams first seen there — the curation metric for
    * "what does adding this source actually contribute" (the complement of
    * q51's leakage view over the same fingerprint space).
    *
    * Plan: distinct (source, gram-hash) pairs, a window min(ordinal) keyed
    * on the hash (one fp-keyed shuffle, same key the gram relation already
    * groups by), then a per-source count/count_if reduction. Every stage
    * is keyed on either the 64-bit hash or the source — nothing carries
    * text past the first projection, so the shuffle volume is rows × 8
    * bytes at any corpus size.
    */
  val q52SourceNovelty: QueryDef = QueryDef.sql(
    "q52_source_novelty",
    s"""WITH g AS (
       |  SELECT DISTINCT source, CAST(substring(source, 4) AS BIGINT) AS ord,
       |    ${FingerprintSql("s")} AS fp
       |  FROM (SELECT source, ${WordNgramsOverT(4)} AS gs
       |        FROM (SELECT source, $ToksSql AS t FROM documents)) x,
       |       unnest(x.gs) AS u(s)),
       |f AS (SELECT source, ord, fp, min(ord) OVER (PARTITION BY fp) AS ford
       |      FROM g)
       |SELECT source, ord, count(*) AS total_grams,
       |  CAST(sum(CASE WHEN ford = ord THEN 1 ELSE 0 END) AS BIGINT) AS novel_grams,
       |  CAST(sum(CASE WHEN ford = ord THEN 1 ELSE 0 END) AS BIGINT) / count(*) AS novelty
       |FROM f
       |GROUP BY source, ord
       |ORDER BY ord""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("fp")
    // here the DISTINCT is cross-document (same fp from two docs of one
    // source must collapse), so the exchange stays — but array_distinct
    // first shrinks what enters it to per-doc-unique rows. The explicit
    // doc_id spread before the gram explode is the q51 parallelism pin.
    val docs0 = Tables(s, dir, "documents")
    val grams = docs0
      .repartition(docs0.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_id"))
      .select(col("source"),
        expr("CAST(substring(source, 4) AS BIGINT)").as("ord"),
        explode(array_distinct(org.apache.spark.sql.graft.TextExpressions
          .ngram_hashes(toks, 4))).as("fp"))
      .distinct()
    grams
      .withColumn("ford", min(col("ord")).over(w))
      .groupBy("source", "ord")
      .agg(count(lit(1)).as("total_grams"),
        sum(when(col("ford") === col("ord"), 1L).otherwise(0L)).as("novel_grams"))
      .withColumn("novelty", col("novel_grams") / col("total_grams"))
      .orderBy("ord")
  }

  /** Q54 — tokenizer vocab coverage: build the top-1000 vocabulary from
    * the corpus itself (count-desc, word tie-break — deterministic), then
    * measure per-language what fraction of running tokens it covers —
    * the OOV-rate readiness metric computed before committing to a
    * tokenizer.
    *
    * Plan shape: the vocab is a DERIVED dimension — top-k via
    * TakeOrdered, then broadcast to a map-side left join against the
    * token stream (the corpus never shuffles on the word); only the tiny
    * per-language rollup exchanges. At 100 TB the vocab build is the
    * classic two-level word count and everything after it is map-side.
    */
  val q54VocabCoverage: QueryDef = QueryDef.sql(
    "q54_vocab_coverage",
    s"""WITH tok AS (SELECT doc_id, lang, unnest($ToksSql) AS word FROM documents),
       |vocab AS (
       |  SELECT word FROM (
       |    SELECT word, count(*) AS n FROM tok GROUP BY word
       |    ORDER BY n DESC, word LIMIT 1000)),
       |m AS (SELECT t.lang, CASE WHEN v.word IS NOT NULL THEN 1 ELSE 0 END AS hit
       |      FROM tok t LEFT JOIN vocab v ON t.word = v.word)
       |SELECT lang, count(*) AS n_tokens,
       |  CAST(sum(hit) AS BIGINT) AS in_vocab,
       |  1.0 - CAST(sum(hit) AS BIGINT) / count(*) AS oov_rate
       |FROM m
       |GROUP BY lang
       |ORDER BY lang""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.functions.broadcast
    val tok = Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"), explode(toks).as("word"))
    val vocab = tok.groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(1000)
      .select(col("word"), lit(true).as("hit0"))
    tok.join(broadcast(vocab), Seq("word"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("hit0"), 1L).otherwise(0L)).as("in_vocab"))
      .withColumn("oov_rate", lit(1.0) - col("in_vocab") / col("n_tokens"))
      .orderBy("lang")
  }

  /** Q59 — per-source document-length quartiles: the curation dashboard
    * for length-distribution drift (a source whose p25 collapses or p75
    * explodes changed its extraction or got polluted). Exact percentiles
    * on the native [[org.apache.spark.sql.graft.PercentileLong]] —
    * primitive long→count state, O(distinct lengths) per source.
    *
    * Cross-engine exactness: 0.25/0.5/0.75 are deliberate — the R-7 rank
    * p·(n−1) then has an exactly-representable dyadic fraction, so BOTH
    * interpolation forms ((1−f)·a + f·b and a + (b−a)·f) evaluate exactly
    * on integer lengths and the engines agree bit-for-bit at any n.
    * Arbitrary percentages (0.9) would put a rounding ulp between the
    * engines' algebraically-equal formulas.
    */
  val q59LengthPercentiles: QueryDef = QueryDef.sql(
    "q59_length_percentiles",
    """SELECT source,
      |  quantile_cont(n_chars, 0.25) AS p25_chars,
      |  quantile_cont(n_chars, 0.5) AS p50_chars,
      |  quantile_cont(n_chars, 0.75) AS p75_chars,
      |  CAST(min(n_chars) AS BIGINT) AS min_chars,
      |  CAST(max(n_chars) AS BIGINT) AS max_chars,
      |  count(*) AS n_docs
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.graft.PercentileLong.percentile_long
    Tables(s, dir, "documents")
      .groupBy(col("source"))
      .agg(
        percentile_long(col("n_chars"), 0.25).as("p25_chars"),
        percentile_long(col("n_chars"), 0.5).as("p50_chars"),
        percentile_long(col("n_chars"), 0.75).as("p75_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        count(lit(1)).as("n_docs"))
      .orderBy("source")
  }

  /** Q69 — sliding-window chunking (64-token windows, stride 48): the
    * make-training-sequences / RAG-indexing step that turns documents into
    * fixed-size overlapping windows. The start set is `1, 1+48, …` while a
    * full window fits, plus one tail window pinned at `n−63` when the last
    * stride leaves uncovered tokens — so EVERY token lands in ≥1 chunk and
    * no emitted window is contained in another (QuerySpec pins coverage).
    * Documents shorter than a window emit themselves as one chunk.
    *
    * Plan shape: pure map + explode — per-row integer window arithmetic,
    * no shuffle except the output sort. Linear in corpus tokens at any
    * scale; chunk ids are the start positions (deterministic, no ordinal
    * machinery).
    */
  /** q69's core, shared with the declarative `chunk` curation stage: every
    * document becomes tail-covering sliding windows of `chunkTokens` tokens
    * at `stride`; returns (doc_id, chunk_start, n_tokens, chunk_text).
    */
  private[graft] def chunked(docs: org.apache.spark.sql.DataFrame,
      chunkTokens: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    val C = chunkTokens; val S = stride
    require(C > 0 && S > 0 && S <= C, s"chunk: need 0 < stride $S <= size $C")
    val t = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("n", size(col("w")).cast("long"))
    // full-window starts 1, 1+S, … (Spark sequence INCLUDES the stop where
    // DuckDB range excludes it: sequence stop n−(C−1) ≡ range stop n−(C−2))
    val fullStarts = sequence(lit(1L), col("n") - lit(C - 1L), lit(S.toLong))
    val starts = when(col("n") < C, array(lit(1L)))
      .otherwise(when((col("n") - C) % S === 0, fullStarts)
        .otherwise(concat(fullStarts, array(col("n") - lit(C - 1L)))))
    t.select(col("doc_id"), col("w"), explode(starts).as("i"))
      .select(col("doc_id"), col("i").as("chunk_start"),
        size(slice(col("w"), col("i").cast("int"), lit(C))).cast("long").as("n_tokens"),
        concat_ws(" ", slice(col("w"), col("i").cast("int"), lit(C))).as("chunk_text"))
  }

  val q69ChunkWindows: QueryDef = {
    val C = 64; val S = 48
    QueryDef.sql(
      "q69_chunk_windows",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
         |  len(string_split(text, ' ')) AS n FROM documents),
         |s AS (
         |  SELECT doc_id, w, n,
         |    CASE WHEN n < $C THEN [1]
         |         WHEN ((n - $C) % $S) = 0 THEN range(1, n - ${C - 2}, $S)
         |         ELSE list_append(range(1, n - ${C - 2}, $S), n - ${C - 1}) END AS ss
         |  FROM t),
         |c AS (SELECT doc_id, w, unnest(ss) AS i FROM s)
         |SELECT doc_id, i AS chunk_start,
         |  CAST(len(w[i:i+${C - 1}]) AS BIGINT) AS n_tokens,
         |  list_aggregate(w[i:i+${C - 1}], 'string_agg', ' ') AS chunk_text
         |FROM c ORDER BY doc_id, chunk_start""".stripMargin) { (s, dir) =>
      chunked(Tables(s, dir, "documents"), C, S).orderBy("doc_id", "chunk_start")
    }
  }

  /** Q70 — split-contamination audit: AFTER q68 assigns leakage-safe
    * splits, measure the residual 4-gram overlap between the test and
    * train splits (val is out of scope on both sides). The cluster-keyed
    * split guarantees no strong near-dup (jaccard ≥ 0.5) straddles the
    * boundary; this audit is the CHECK that quantifies what weaker overlap
    * remains — the report a pipeline publishes next to its split. Same
    * capped posting-list discipline as q51 (df computed over the two
    * audited splits), same shared ≥ 2 bar.
    *
    * Scale shape: q68's split machinery (capped pair graph + pointer-jumped
    * CC + map-only hash gate) feeding q51's bipartite overlap (bounded
    * lists, no self-join). Nothing all-pairs; the audit costs one extra
    * pass over the corpus beyond the split itself.
    */
  val q70SplitContamination: QueryDef = QueryDef.sql(
    "q70_split_contamination",
    s"""WITH RECURSIVE pairsq AS (
       |${TextOps.q21NgramJaccard.oracle.get}
       |),
       |strong AS (SELECT a, b FROM pairsq WHERE jaccard >= 0.5),
       |e AS (SELECT a AS x, b AS y FROM strong UNION SELECT b AS x, a AS y FROM strong),
       |reach AS (
       |  SELECT x, y FROM e
       |  UNION
       |  SELECT r.x, e2.y FROM reach r JOIN e e2 ON r.y = e2.x),
       |lbl AS (
       |  SELECT x AS doc_id, least(x, min(y)) AS cluster_id FROM reach GROUP BY x),
       |sp AS (
       |  SELECT doc_id,
       |    CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT d.doc_id,
       |          ${FingerprintSql("'s' || CAST(coalesce(l.cluster_id, d.doc_id) AS VARCHAR)")} % 100 AS h
       |        FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id)),
       |g0 AS (
       |  SELECT DISTINCT d.doc_id, sp.split, ${FingerprintSql("s")} AS fp
       |  FROM (SELECT doc_id, ${WordNgramsOverT(4)} AS gs
       |        FROM (SELECT doc_id, $ToksSql AS t FROM documents)) d
       |  JOIN sp ON d.doc_id = sp.doc_id, unnest(d.gs) AS u(s)
       |  WHERE sp.split <> 'val'),
       |g AS (
       |  SELECT doc_id, split, fp FROM (
       |    SELECT g0.*, count(*) OVER (PARTITION BY fp) AS df FROM g0)
       |  WHERE df <= $DfCap),
       |tst AS (SELECT doc_id, fp FROM g WHERE split = 'test'),
       |trn AS (SELECT doc_id, fp FROM g WHERE split = 'train'),
       |sizes AS (SELECT doc_id, count(*) AS n FROM tst GROUP BY doc_id)
       |SELECT test_id, train_id, shared, s.n AS n_test, shared / s.n AS overlap
       |FROM (SELECT tst.doc_id AS test_id, trn.doc_id AS train_id,
       |        count(*) AS shared
       |      FROM tst JOIN trn USING (fp)
       |      GROUP BY 1, 2) p
       |JOIN sizes s ON s.doc_id = test_id
       |WHERE shared >= 2
       |ORDER BY test_id, train_id""".stripMargin) { (s, dir) =>
    // the split comes from the persisted SplitAssignment layout (assigned
    // once per corpus at ingest — the audit never re-runs the CC machinery)
    val withSplit = Tables(s, dir, "documents")
      .join(graft.sources.SplitAssignment(s, dir).select("doc_id", "split"),
        Seq("doc_id"))
    bipartiteOverlap(withSplit,
        col("split") === "test", col("split") === "train")
      .filter(col("shared") >= 2)
      .orderBy("test_id", "train_id")
  }

  /** Q81 — split drift audit (Population Stability Index): the
    * DISTRIBUTIONAL complement to q70's overlap audit. After the
    * cluster-keyed split (q68), train and test should be samples of the
    * same corpus — this measures whether they are, as the PSI between
    * their document-length distributions over 10 fixed-width buckets
    * (200-char buckets, top-capped; fixed edges keep every count an
    * exact long — no quantile estimation in the denominator of an audit).
    * Per-bucket add-one smoothing makes the PSI total over empty buckets.
    * The |PSI| < 0.1 "no shift" convention applies to the sum of the
    * per-bucket contributions reported here.
    *
    * Scale shape: q68's split machinery feeding one (split, bucket)
    * count aggregate — 20 partial cells; the bucket dimension (10 rows)
    * and the 1-row totals broadcast. Beyond the split itself the audit
    * is one corpus pass.
    *
    * Determinism: counts are exact longs; p/q are long-derived doubles
    * through mirrored association; ln's 1-ulp cross-engine skew is
    * absorbed by nano-quantizing each contribution (q65's discipline —
    * QuerySpec pins every contribution's distance from the flip
    * boundary).
    */
  val q81SplitDrift: QueryDef = QueryDef.sql(
    "q81_split_drift",
    s"""WITH sp AS (
       |${graft.queries.DedupOps.q68LeakageSafeSplit.oracle.get}
       |),
       |b AS (
       |  SELECT sp.split, least(d.n_chars // 200, 9) AS bucket
       |  FROM sp JOIN documents d USING (doc_id)
       |  WHERE sp.split IN ('train', 'test')),
       |c AS (
       |  SELECT bucket,
       |    CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       |    CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
       |  FROM b GROUP BY bucket),
       |g AS (SELECT r AS bucket FROM unnest(range(0, 10)) AS t(r)),
       |c2 AS (
       |  SELECT g.bucket, coalesce(c.n_train, 0) AS n_train,
       |    coalesce(c.n_test, 0) AS n_test
       |  FROM g LEFT JOIN c ON g.bucket = c.bucket),
       |t AS (SELECT CAST(sum(n_train) AS BIGINT) AS tot_train,
       |             CAST(sum(n_test) AS BIGINT) AS tot_test FROM c2)
       |SELECT bucket, n_train, n_test,
       |  CAST(floor((
       |    (CAST(n_train + 1 AS DOUBLE) / (tot_train + 10) -
       |     CAST(n_test + 1 AS DOUBLE) / (tot_test + 10)) *
       |    ln((CAST(n_train + 1 AS DOUBLE) / (tot_train + 10)) /
       |       (CAST(n_test + 1 AS DOUBLE) / (tot_test + 10)))
       |  ) * 1000000000 + 0.5) AS BIGINT) AS psi_n9
       |FROM c2, t
       |ORDER BY bucket""".stripMargin) { (s, dir) =>
    val sp = graft.sources.SplitAssignment(s, dir)
      .select(col("doc_id"), col("split"))
      .filter(col("split").isin("train", "test"))
    val b = sp
      .join(Tables(s, dir, "documents").select(col("doc_id"), col("n_chars")), "doc_id")
      .select(col("split"), least(expr("n_chars div 200"), lit(9L)).as("bucket"))
    val c = b.groupBy(col("bucket"))
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
    val g = s.range(0, 10).select(col("id").as("bucket"))
    val c2 = g.join(c, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("n_train"), lit(0L)).as("n_train"),
        coalesce(col("n_test"), lit(0L)).as("n_test"))
    val t = c2.agg(sum(col("n_train")).as("tot_train"), sum(col("n_test")).as("tot_test"))
    val p = (col("n_train") + 1).cast("double") / (col("tot_train") + 10)
    val q = (col("n_test") + 1).cast("double") / (col("tot_test") + 10)
    c2.crossJoin(broadcast(t))
      .select(col("bucket"), col("n_train"), col("n_test"),
        floor(((p - q) * log(p / q)) * lit(1000000000L) + lit(0.5))
          .cast("long").as("psi_n9"))
      .orderBy("bucket")
  }

  /** Q83 — the dataset datasheet: doc/char/token totals at every
    * (source × lang) granularity via CUBE — the "what's in this corpus"
    * report card every curated dataset ships with (per-source rows, per-
    * language rows, the full matrix, and the corpus total in one pass).
    * Rolled-up keys surface as '(all)' (the columns are never null in
    * data, so the sentinel is unambiguous).
    *
    * Plan shape: CUBE's Expand multiplies each row by the 4 grouping
    * sets BEFORE the aggregate, but partial aggregation collapses to
    * |sources|×|langs| cells per set per partition — the shuffle carries
    * ≤ 4·|matrix| partials regardless of corpus size. Token counts are
    * the native ws_token_count (exact ints, codegen'd).
    */
  val q83Datasheet: QueryDef = QueryDef.sql(
    "q83_datasheet",
    """SELECT coalesce(source, '(all)') AS source, coalesce(lang, '(all)') AS lang,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(sum(len(list_filter(string_split_regex(text, ' +'), x -> x <> ''))) AS BIGINT) AS total_ws_tokens
      |FROM documents
      |GROUP BY CUBE (source, lang)
      |ORDER BY source, lang""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .cube(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(org.apache.spark.sql.graft.TextExpressions.ws_token_count(col("text"))
          .cast("long")).as("total_ws_tokens"))
      .select(coalesce(col("source"), lit("(all)")).as("source"),
        coalesce(col("lang"), lit("(all)")).as("lang"),
        col("n_docs"), col("total_chars"), col("total_ws_tokens"))
      .orderBy("source", "lang")
  }

  /** Q91 — the split token budget: per train/val/test split, document,
    * character and whitespace-token totals — the number every training
    * run is planned against ("how many training tokens do I have"), and
    * the q83 datasheet sliced along the q68 split instead of source×lang.
    * Reads the persisted SplitAssignment layout (the ingest-time
    * assignment all split consumers share) and makes one counting pass:
    * 3 output rows, exact longs, partial aggregation all the way.
    */
  val q91SplitBudget: QueryDef = QueryDef.sql(
    "q91_split_budget",
    s"""WITH sp AS (
       |${graft.queries.DedupOps.q68LeakageSafeSplit.oracle.get}
       |)
       |SELECT sp.split, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
       |  CAST(sum(len(list_filter(string_split_regex(d.text, ' +'), x -> x <> ''))) AS BIGINT)
       |    AS total_ws_tokens
       |FROM sp JOIN documents d USING (doc_id)
       |GROUP BY sp.split
       |ORDER BY sp.split""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .join(graft.sources.SplitAssignment(s, dir).select("doc_id", "split"),
        Seq("doc_id"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(org.apache.spark.sql.graft.TextExpressions.ws_token_count(col("text"))
          .cast("long")).as("total_ws_tokens"))
      .orderBy("split")
  }

  /** Q99 — packing-efficiency audit: the per-shard readout of q50's
    * greedy packer. Per (lang, source): docs, total tokens, bins consumed
    * (contiguous packing fills all but the last bin, so bins =
    * ⌈total/budget⌉ and the only empty space is the TAIL waste), and —
    * the number training actually cares about — how many documents
    * STRADDLE a bin boundary (their start bin ≠ end bin): each straddler
    * is a training sequence carrying a document split, the
    * fragmentation/truncation cost of budget-256 packing on this shard's
    * length distribution. All columns are exact integers off q50's own
    * window, so the audit can never disagree with the packer it audits.
    *
    * Plan shape at 100 TB: the same shard-partitioned window as q50
    * (each (lang, source) shard packs independently — that partitioning
    * is what bounds a window partition to executor memory), then a
    * |shards|-bounded groupBy with map-side partials. One corpus pass.
    */
  val q99PackingAudit: QueryDef = QueryDef.sql(
    "q99_packing_audit",
    s"""WITH p AS (
       |  SELECT doc_id, lang, source, n_tok,
       |    CAST(sum(n_tok) OVER (PARTITION BY lang, source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
       |  FROM (SELECT doc_id, lang, source, len($ToksSql) AS n_tok FROM documents))
       |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS total_tok,
       |  CAST((sum(n_tok) + 255) // 256 AS BIGINT) AS n_bins,
       |  CAST(256 * ((sum(n_tok) + 255) // 256) - sum(n_tok) AS BIGINT)
       |    AS tail_waste,
       |  CAST(sum(CASE WHEN n_tok > 0
       |    AND (cum_tok - n_tok) // 256 <> (cum_tok - 1) // 256
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_straddle
       |FROM p
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    packed(Tables(s, dir, "documents"), tokenBudget = 256)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tok"),
        sum(when(col("n_tok") > 0 &&
          expr("(cum_tok - n_tok) div 256") =!= expr("(cum_tok - 1) div 256"),
          1L).otherwise(0L)).as("n_straddle"))
      // integer div, never Column `/` (double division loses exactness
      // past 2^53 — the 100 TB token totals live there)
      .withColumn("n_bins", expr("(total_tok + 255) div 256"))
      .withColumn("tail_waste", expr("n_bins * 256 - total_tok"))
      .select(col("lang"), col("source"), col("n_docs"), col("total_tok"),
        col("n_bins"), col("tail_waste"), col("n_straddle"))
      .orderBy("lang", "source")
  }

  val all: Seq[QueryDef] = Seq(
    q49StratifiedSample, q50SequencePacking, q51Decontaminate, q52SourceNovelty,
    q54VocabCoverage, q59LengthPercentiles, q69ChunkWindows, q70SplitContamination,
    q81SplitDrift, q83Datasheet, q91SplitBudget, q99PackingAudit)
}
