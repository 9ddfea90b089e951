package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table (SURVEY §2.7 string/
  * text functions + the LLM-pipeline additions: token counting, quality
  * scoring, language-ID heuristic, document fingerprinting, vocab build).
  *
  * All plans are scan→project→(optional explode/agg) — map-side-heavy, no
  * driver materialization, shuffles only on small aggregate keys, so they
  * scale linearly with document count.
  */
object TextOps {

  private val toks = tokens("text")
  private val ToksSql = TokensSql("text")

  /** Q15 — tokenizer + per-doc token stats (SURVEY T1, reference
    * tools/Conversions.scala:22-29). Pure map: no shuffle except final sort.
    */
  val q15TokenStats: QueryDef = QueryDef.sql(
    "q15_token_stats",
    s"""SELECT doc_id, len(t) AS n_tokens, t[1] AS first_token, t[-1] AS last_token, n_chars
       |FROM (SELECT doc_id, n_chars, $ToksSql AS t FROM documents)
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"), toks.as("t"))
      .select(col("doc_id"), size(col("t")).as("n_tokens"),
        element_at(col("t"), 1).as("first_token"),
        element_at(col("t"), -1).as("last_token"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Q16 — vocabulary build: global word frequency top-k (SURVEY T2/W1,
    * reference tools/Vocab.scala:28-43 `sortBy(-count).take(k)`).
    * explode→hash-agg with map-side partials→TakeOrderedAndProject; the
    * full word-count table never leaves the executors.
    */
  val q16VocabTopk: QueryDef = QueryDef.sql(
    "q16_vocab_topk",
    s"""SELECT word, count(*) AS n
       |FROM (SELECT unnest($ToksSql) AS word FROM documents)
       |GROUP BY word
       |ORDER BY n DESC, word
       |LIMIT 50""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .select(explode(toks).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(50)
  }

  /** Q17 — document fingerprint: polynomial rolling hash over every char
    * (LLM-pipeline fingerprinting; SURVEY §7.2 step 7). Map-only.
    */
  val q17Fingerprint: QueryDef = QueryDef.sql(
    "q17_fingerprint",
    s"""SELECT doc_id, ${FingerprintSql("text")} AS fp
       |FROM documents
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .select(col("doc_id"), fingerprint("text").as("fp"))
      .orderBy("doc_id")
  }

  /** Q18 — text quality scoring: token stats, punctuation ratio, stopword
    * ratio, composite score. Ratios divide already-identical ints/doubles so
    * the doubles are bit-exact cross-engine. Map-only.
    */
  /** q18's quality projection over a documents-shaped frame — the ONE
    * scorer shared by q18 and q113's representative-regret audit (and
    * the quality_filter stage's ancestor). All counters native one-pass;
    * the composite score is deterministic double arithmetic, bit-exact
    * cross-engine (q18's hash compare proves it).
    */
  private[graft] def textQualityFrame(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in")
    docs
      .select(col("doc_id"), col("text"), tokens("text").as("t"))
      .select(
        col("doc_id"),
        size(col("t")).as("n_tokens"),
        org.apache.spark.sql.graft.TextExpressions
          .tokens_in_set(col("t"), stop).as("n_stop"),
        org.apache.spark.sql.graft.TextExpressions
          .token_length_sum(col("t")).as("len_sum"),
        (length(col("text")) - length(regexp_replace(lower(col("text")), "[a-z0-9 ]", ""))).as("n_punct"),
        length(col("text")).as("n_chars"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_stop"), col("n_punct"),
        when(col("n_tokens") === 0, 0.0).otherwise(col("len_sum") / col("n_tokens")).as("avg_token_len"),
        when(col("n_tokens") === 0, 0.0).otherwise(col("n_stop") / col("n_tokens")).as("stop_ratio"),
        (col("n_punct") / col("n_chars")).as("punct_ratio"),
        (when(col("n_tokens") === 0, 0.0).otherwise(col("n_stop") / col("n_tokens")) * 0.3
          + (lit(1.0) - col("n_punct") / col("n_chars")) * 0.3
          + least(col("n_tokens") / 100.0, lit(1.0)) * 0.4).as("quality_score"))
  }

  /** The q18 quality-score SQL over `documents` as a CTE body (doc_id,
    * quality_score) — q113's oracle reuses the exact formula.
    */
  private[graft] val QualityScoreSql: String = {
    val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in")
    val stopIn = stop.map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id,
       |  CASE WHEN n_tokens = 0 THEN 0.0 ELSE n_stop / n_tokens END * 0.3
       |    + (1.0 - n_punct / n_chars) * 0.3
       |    + least(n_tokens / 100.0, 1.0) * 0.4 AS quality_score
       |FROM (
       |  SELECT doc_id, len(t) AS n_tokens,
       |    len(list_filter(t, x -> x IN ($stopIn))) AS n_stop,
       |    length(text) - length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS n_punct,
       |    length(text) AS n_chars
       |  FROM (SELECT doc_id, text, $ToksSql AS t FROM documents))""".stripMargin
  }

  val q18TextQuality: QueryDef = {
    val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in")
    val stopIn = stop.map(w => s"'$w'").mkString(", ")
    QueryDef.sql(
      "q18_text_quality",
      s"""SELECT doc_id, n_tokens, n_stop, n_punct,
         |  CASE WHEN n_tokens = 0 THEN 0.0 ELSE len_sum / n_tokens END AS avg_token_len,
         |  CASE WHEN n_tokens = 0 THEN 0.0 ELSE n_stop / n_tokens END AS stop_ratio,
         |  n_punct / n_chars AS punct_ratio,
         |  CASE WHEN n_tokens = 0 THEN 0.0 ELSE n_stop / n_tokens END * 0.3
         |    + (1.0 - n_punct / n_chars) * 0.3
         |    + least(n_tokens / 100.0, 1.0) * 0.4 AS quality_score
         |FROM (
         |  SELECT doc_id, len(t) AS n_tokens,
         |    len(list_filter(t, x -> x IN ($stopIn))) AS n_stop,
         |    list_reduce(list_prepend(0, [len(x)::BIGINT for x in t]), (a,b) -> a+b) AS len_sum,
         |    length(text) - length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS n_punct,
         |    length(text) AS n_chars
         |  FROM (SELECT doc_id, text, $ToksSql AS t FROM documents))
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      textQualityFrame(Tables(s, dir, "documents")).orderBy("doc_id")
    }
  }

  /** Q19 — language-ID heuristic: marker-word hit counts per language with a
    * deterministic argmax (LLM-pipeline language-ID; an n-gram refinement
    * lives in the Scala API). Map-only.
    */
  val q19LangId: QueryDef = {
    val markers = Seq(
      "en" -> Seq("the", "a", "of", "and"),
      "de" -> Seq("der", "die", "und", "ist"),
      "es" -> Seq("el", "la", "los", "que"),
      "fr" -> Seq("le", "les", "et", "est"))
    def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")
    val hitsSqls = markers.map { case (l, ws) =>
      s"len(list_filter(t, x -> x IN (${inList(ws)}))) AS ${l}_hits" }
    // native one-pass set-membership counts: the filter-lambda form ran
    // four CodegenFallback HOFs per row (see TokensInSet)
    val hitsSpark = markers.map { case (l, ws) =>
      org.apache.spark.sql.graft.TextExpressions
        .tokens_in_set(col("t"), ws).as(s"${l}_hits") }
    val caseSql =
      """CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
        |     WHEN de_hits >= es_hits AND de_hits >= fr_hits AND de_hits > 0 THEN 'de'
        |     WHEN es_hits >= fr_hits AND es_hits > 0 THEN 'es'
        |     WHEN fr_hits > 0 THEN 'fr'
        |     ELSE 'unknown' END""".stripMargin
    QueryDef.sql(
      "q19_langid",
      s"""SELECT doc_id, lang AS actual, en_hits, de_hits, es_hits, fr_hits,
         |  $caseSql AS predicted
         |FROM (SELECT doc_id, lang, ${hitsSqls.mkString(",\n    ")}
         |      FROM (SELECT doc_id, lang, $ToksSql AS t FROM documents))
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .select(Seq(col("doc_id"), col("lang"), toks.as("t")): _*)
        .select(Seq(col("doc_id"), col("lang")) ++ hitsSpark: _*)
        .select(col("doc_id"), col("lang").as("actual"),
          col("en_hits"), col("de_hits"), col("es_hits"), col("fr_hits"),
          expr(caseSql).as("predicted"))
        .orderBy("doc_id")
    }
  }

  /** Q20 — exact deduplication: group identical texts by content hash, keep
    * min doc_id as canonical (LLM-pipeline exact dedup). Shuffle key is the
    * md5, so 100 TB dedup shards evenly; md5 is identical across engines.
    */
  val q20DedupExact: QueryDef = QueryDef.sql(
    "q20_dedup_exact",
    """SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
      |  count(*) AS n_copies
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY canonical_id""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy("canonical_id")
  }

  /** Document-frequency cap for q21 shingles: a shingle present in k docs
    * generates k·(k−1)/2 candidate pairs, so one stopword-like shingle in
    * 1% of a 100 TB corpus would emit ~10^14 pairs on its own. Shingles
    * above the cap carry no near-dup signal (they're corpus-common) and are
    * dropped from BOTH the intersection and the set sizes — mirrored in the
    * oracle SQL so the query stays bit-exact.
    */
  private[graft] val DfCap = 50

  /** The q21 pair-relation floor: candidate pairs below this jaccard are
    * not near-dups at any threshold the suite uses and are dropped at
    * the source. Named (rather than inlined) because the derived-layout
    * chain ([[graft.sources.PairGraph]] → clusters) folds it into its
    * structural version stamps — changing it must re-stamp the layouts.
    */
  private[graft] val PairJaccardFloor = 0.06

  /** Q21 — n-gram Jaccard near-dup pairs: word-bigram shingles, inverted-
    * index self-join, |∩|/|∪| over exact ints (LLM-pipeline n-gram dedup).
    * Scale notes: the shingle join is the textbook inverted-index plan —
    * shuffle keyed on shingle; the document-frequency cap bounds per-key
    * fan-out at ≤ DfCap docs (≤ DfCap² pairs per shingle), which is what
    * makes the plan survive shingle-key skew at 100×. MinHash/LSH (q31) is
    * the sublinear path for 100 TB; this is the exact verifier used inside
    * its buckets.
    */
  val q21NgramJaccard: QueryDef = QueryDef.sql(
    "q21_ngram_jaccard",
    s"""WITH sh0 AS (
       |  SELECT DISTINCT doc_id, ${FingerprintSql("s")} AS fp
       |  FROM (SELECT doc_id, ${graft.functions.TextFunctions.WordBigramsOverT} AS bg
       |        FROM (SELECT doc_id, $ToksSql AS t FROM documents)) x, unnest(x.bg) AS u(s)),
       |sh AS (
       |  SELECT doc_id, fp FROM (
       |    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM sh0)
       |  WHERE df <= $DfCap),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
       |SELECT a, b, inter, sa.n AS na, sb.n AS nb,
       |  inter / (sa.n + sb.n - inter) AS jaccard
       |FROM (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
       |      FROM sh x JOIN sh y ON x.fp = y.fp AND x.doc_id < y.doc_id
       |      GROUP BY x.doc_id, y.doc_id) p
       |JOIN sizes sa ON sa.doc_id = a
       |JOIN sizes sb ON sb.doc_id = b
       |WHERE inter / (sa.n + sb.n - inter) >= 0.06
       |ORDER BY a, b""".stripMargin) { (s, dir) =>
    ngramJaccardPairs(Tables(s, dir, "documents")).orderBy("a", "b")
  }

  /** The q21 pair relation (a, b, inter, na, nb, jaccard ≥ 0.06) over any
    * documents-shaped frame (doc_id, text) — the ONE implementation shared
    * by the registered query and the declarative curation pipeline's
    * near-dedup stage ([[graft.jobs.CurationStages]]), which filters it to
    * its own threshold.
    */
  private[graft] def ngramJaccardPairs(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // Shingles are keyed by their 64-bit rolling hash, not the string —
    // long keys move ~4× fewer bytes than 15-char strings and hash/compare
    // faster; the same hash runs in the oracle so any collision is
    // deterministic and identical on both sides.
    //
    // Plan: capped POSTING LISTS, not a self-join. One shuffle groups the
    // exploded shingles by fp into per-shingle doc lists; lists over the
    // DF cap drop (no near-dup signal, and the cap is what makes this
    // formulation safe — uncapped posting lists were 3× WORSE than the
    // self-join here because one hot shingle serialized a giant list);
    // pair expansion then happens inside each ≤DfCap-sized list, so the
    // expensive stage is map-side over bounded work. The oracle reaches
    // the identical integer results through the window-cap + self-join
    // formulation — q21's outputs are int counts and int-ratio doubles,
    // so plan shape is free.
    pairsFromPostings(postingsFrame(docs).filter(size(col("ds")) <= DfCap))
  }

  /** The capped posting-list relation (fp, ds) over a documents-shaped
    * frame — q21's intermediate, exposed because it is ALSO the
    * incrementally-refreshable layout ([[graft.sources.ShinglePostings]]):
    * appending docs to a corpus only ever APPENDS members to lists, so a
    * refresh merges delta members instead of re-shingling the old corpus.
    * Lists here are capped at DfCap+1: a size-(DfCap+1) row is the
    * "dropped, membership no longer tracked" marker (df can only grow, so
    * a dropped shingle never returns), sizes ≤ DfCap carry EXACT sorted
    * membership.
    */
  private[graft] def postingsFrame(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    postingsFromFps(docs
      // explicit-width doc_id spread before the shingle explode: pins
      // parallelism on the hash/explode stage when the corpus scans as
      // one partition (the q67/q51 lesson); noise at real scan widths
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_id"))
      // fused ShingleHashes: bigram fingerprints straight from the token
      // array — no bigram strings allocated, one char pass per document.
      // array_distinct here is the (doc, fp) DISTINCT done map-side
      // inside each row — no dedup exchange
      .select(col("doc_id"), array_distinct(
        org.apache.spark.sql.graft.TextExpressions.shingle_hashes(toks)).as("fps")))

  /** The posting-list inversion over an already-fingerprinted
    * (doc_id, fps) frame — the shared tail of [[postingsFrame]] (live
    * shingling) and the [[graft.sources.ShinglePostings]] build over the
    * stamped [[graft.sources.DocFingerprints]] layout (shingling paid
    * once per corpus, at ingest).
    */
  private[graft] def postingsFromFps(fps: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val sh = fps.select(col("doc_id"), explode(col("fps")).as("fp"))
    // capped posting lists feed BOTH the pair expansion and the per-doc
    // set sizes (df=1 shingles count toward sizes, hence the cap-only
    // filter at the consumer and the ≥2 filter only where pairs are made).
    // collect_long_list_capped bounds every aggregation buffer to
    // DfCap+1 longs: groups within the cap collect exactly; a mega-hot
    // shingle surfaces DfCap+1 elements (never its full group) and the
    // size filter drops it as before — no multi-GB buffer at 100 TB skew.
    // Marker rows normalize to the canonical sentinel (markerList): the
    // capped aggregate's DfCap+1 members are an ARBITRARY subset, so
    // leaving them in place invites a future consumer to read meaningless
    // membership — and makes refresh-vs-rebuild equality content-exact
    // instead of size-only (ShinglePostings contract).
    sh.groupBy("fp")
      .agg(sort_array(org.apache.spark.sql.graft.AggExpressions
        .collect_long_list_capped(col("doc_id"), DfCap + 1)).as("ds"))
      .withColumn("ds",
        when(size(col("ds")) > DfCap, markerList).otherwise(col("ds")))
  }

  /** The canonical "dropped, membership untracked" marker: DfCap+1 copies
    * of −1 (doc_ids are non-negative, so the sentinel can never be read as
    * real membership). SIZE is the whole contract — consumers detect
    * markers via `size(ds) > DfCap` and must never read marker elements.
    */
  private[graft] def markerList: org.apache.spark.sql.Column =
    array_repeat(lit(-1L), DfCap + 1)

  /** q21's jaccard relation from an already-capped postings frame (every
    * `ds` ≤ DfCap, exact membership): pair expansion inside each bounded
    * list, sizes from the same frame, exact-int jaccard.
    */
  private[graft] def pairsFromPostings(capped: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val postings = graft.Caches.persistNow(capped)
    val pairs = postings
      .filter(size(col("ds")) >= 2)
      .select(explode(expr(
        // all ordered pairs (a, b), a < b, within one posting list
        "flatten(transform(ds, (a, i) -> transform(slice(ds, i + 2, size(ds)), b -> named_struct('a', a, 'b', b))))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val sizes = postings
      .select(explode(col("ds")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    pairs
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n", "na"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n", "nb"), "b")
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= PairJaccardFloor)
      .select("a", "b", "inter", "na", "nb", "jaccard")
  }

  /** Q40 — token counting for training-data budgeting: whitespace tokens vs
    * a BPE-ish segmentation (letter runs / digit runs / single symbols —
    * the pre-tokenizer shape of byte-pair encoders). Map-only; regexp counts
    * use RE2-compatible patterns that Java regex interprets identically.
    */
  val q40TokenCount: QueryDef = QueryDef.sql(
    "q40_token_count",
    """SELECT doc_id,
      |  len(list_filter(string_split_regex(text, '[ ]+'), x -> x <> '')) AS ws_tokens,
      |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpeish_tokens,
      |  n_chars
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // native scans: the split+filter form ran a regex split plus a
    // CodegenFallback lambda; the regexp_extract_all form materialized
    // every match string just to count them (see WsTokenCount /
    // BpeishTokenCount — property-tested equal)
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        org.apache.spark.sql.graft.TextExpressions
          .ws_token_count(col("text")).as("ws_tokens"),
        org.apache.spark.sql.graft.TextExpressions
          .bpeish_token_count(col("text")).as("bpeish_tokens"),
        col("n_chars"))
      .orderBy("doc_id")
  }

  /** Q47 — within-document repetition scoring (LLM-pipeline quality
    * filter, the "repetitious document" signal: machine-generated or
    * boilerplate text shows a low distinct-token ratio and a dominant top
    * token). Explode → two-level aggregation keyed on (doc_id, tok) then
    * doc_id — map-side partials keep the shuffle O(distinct tokens); the
    * ratios are exact-int divisions so doubles match bit-for-bit.
    */
  val q47Repetition: QueryDef = QueryDef.sql(
    "q47_repetition",
    s"""SELECT doc_id, n_tokens, n_distinct,
       |  CAST(n_distinct AS BIGINT) / n_tokens AS distinct_ratio,
       |  CAST(top_cnt AS BIGINT) / n_tokens AS top_token_frac
       |FROM (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       |    count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_cnt
       |  FROM (
       |    SELECT doc_id, tok, count(*) AS c
       |    FROM (SELECT doc_id, unnest($ToksSql) AS tok FROM documents)
       |    GROUP BY doc_id, tok)
       |  GROUP BY doc_id)
       |WHERE n_tokens > 0
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // MAP-ONLY (r21): repetition is a per-document property — the native
    // token_stats pass computes [n, k, top] inside the row, each value
    // exactly its two-level-aggregate twin (sum/count/max over
    // explode → groupBy(doc, tok)); the previous shape paid two
    // doc-keyed exchanges for numbers that never crossed documents
    Tables(s, dir, "documents")
      .select(col("doc_id"), org.apache.spark.sql.graft
        .TextExpressions.token_stats(toks).as("ts"))
      .select(col("doc_id"),
        element_at(col("ts"), 1).as("n_tokens"),
        element_at(col("ts"), 2).as("n_distinct"),
        element_at(col("ts"), 3).as("top_cnt"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (col("n_distinct") / col("n_tokens")).as("distinct_ratio"),
        (col("top_cnt") / col("n_tokens")).as("top_token_frac"))
      .orderBy("doc_id")
  }

  /** Q48 — corpus source-mix table (LLM-pipeline: the per-source weights a
    * data recipe is built from). Tight group key, map-side partials; the
    * char sums wrap AS BIGINT on the oracle side (HUGEINT dtype rule).
    */
  val q48SourceMix: QueryDef = QueryDef.sql(
    "q48_source_mix",
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(sum(n_chars) AS BIGINT) / count(*) AS avg_chars,
      |  count(DISTINCT lang) AS n_langs,
      |  min(doc_id) AS first_doc
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_chars")) / count(lit(1))).as("avg_chars"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("source")
  }

  /** CMS geometry: 4 hash rows × 8192 buckets; pairwise-independent-style
    * affine hashes over the shingle fingerprint, constants small enough
    * that fp·A never overflows a long (fp < 10^9+7, A < 2^31).
    */
  // package-visible: the streaming twin (DocumentStreams.heavyHitterCells)
  // maintains the SAME cell table as keyed state, so its readout is
  // comparable cell-for-cell with this query's
  private[graft] val CmsA = Seq(1103515245L, 69069L, 1664525L, 22695477L)
  private[graft] val CmsB = Seq(12345L, 362437L, 1013904223L, 1L)
  private[graft] val CmsP = 1000000007L
  private[graft] val CmsW = 8192
  private val HotT = 30 // heavy-hitter threshold on the CMS estimate

  /** Q61 — boilerplate n-gram heavy hitters via a count-min sketch: the
    * frequency-sketch complement of q21 (which CAPS hot shingles out of
    * its join, df ≤ 50 — q61 is the operator that FINDS them; at sf0.1
    * boilerplate bigrams reach df 338). Per-doc-distinct bigram shingles
    * feed a 4×8192 counter table; a shingle's estimate is the MIN of its
    * four row counters (classic CMS — always ≥ the true count); shingles
    * whose estimate clears the threshold emit with the exact document
    * frequency alongside (the overestimate readout).
    *
    * Scale shape: the sketch aggregation groups into AT MOST 4·8192 = 32k
    * cells regardless of corpus size — map-side partials shrink the
    * shuffle to the cell table, which then BROADCASTS back (a count-min
    * sketch is a fixed-width mergeable aggregate; at 100 TB the same 32k
    * cells, just bigger counts). The exact-df arm keyed by shingle exists
    * for the verify/meter readout — a production pipeline keeps only the
    * sketch + a candidate stream, which is precisely what it is for.
    * Determinism: counts and estimates are exact integers from identical
    * affine bucket arithmetic, so both engines derive the same survivor
    * set and (est DESC, fp) order.
    */
  val q61HeavyHitters: QueryDef = {
    def BucketSql(fpExpr: String, rExpr: String): String =
      s"((($fpExpr) * [${CmsA.mkString(", ")}][$rExpr+1] + " +
        s"[${CmsB.mkString(", ")}][$rExpr+1]) % $CmsP) % $CmsW"
    QueryDef.sql(
      "q61_heavy_hitters",
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, ${FingerprintSql("s")} AS fp
         |  FROM (SELECT doc_id, ${graft.functions.TextFunctions.WordBigramsOverT} AS bg
         |        FROM (SELECT doc_id, $ToksSql AS t FROM documents)) x, unnest(x.bg) AS u(s)),
         |cms AS (
         |  SELECT r, ${BucketSql("fp", "r")} AS b, count(*) AS c
         |  FROM sh, unnest([0, 1, 2, 3]) AS t(r)
         |  GROUP BY r, b),
         |df AS (SELECT fp, count(*) AS df FROM sh GROUP BY fp)
         |SELECT fp, est, df FROM (
         |  SELECT df.fp, min(cms.c) AS est, min(df.df) AS df
         |  FROM df CROSS JOIN unnest([0, 1, 2, 3]) AS t(r)
         |  JOIN cms ON cms.r = t.r AND cms.b = ${BucketSql("df.fp", "t.r")}
         |  GROUP BY df.fp)
         |WHERE est >= $HotT
         |ORDER BY est DESC, fp
         |LIMIT 50""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      def bucket(fp: org.apache.spark.sql.Column, r: Int) =
        (fp * CmsA(r) + CmsB(r)) % CmsP % CmsW
      def rbCol = explode(array((0 until 4).map(r =>
        struct(lit(r).as("pr"), bucket(col("fp"), r).as("pb"))): _*)).as("rb")
      val sh = docs.select(col("doc_id"), explode(array_distinct(
        org.apache.spark.sql.graft.TextExpressions.shingle_hashes(toks))).as("fp"))
      val cms = sh.select(rbCol)
        .groupBy(col("rb.pr").as("r"), col("rb.pb").as("b"))
        .agg(count(lit(1)).as("c"))
      val dft = sh.groupBy("fp").agg(count(lit(1)).as("df"))
      dft.select(col("fp"), col("df"), rbCol)
        .join(broadcast(cms),
          col("rb.pr") === col("r") && col("rb.pb") === col("b"))
        .groupBy(col("fp"))
        .agg(min(col("c")).as("est"), min(col("df")).as("df"))
        .filter(col("est") >= HotT)
        .select("fp", "est", "df")
        .orderBy(col("est").desc, col("fp"))
        .limit(50)
    }
  }

  /** Q65 — BM25 ranked retrieval (Robertson/Sparck-Jones; the Okapi
    * formula with the +1 idf smoothing Lucene uses). The keyword-search
    * complement to the embedding ANN family: a curation pipeline runs
    * exactly this to pull contamination suspects, build hard-negative
    * pairs, and audit what a training mix contains for a topic — at
    * 100 TB it is the cheap first-stage retriever in front of q27/q34's
    * vector rankers.
    *
    * Shape: one token-list scan computes per-doc tf for the fixed query
    * terms plus doc length (map-only, native tokenize + HOF filter —
    * no explode, no per-token shuffle); a single 1-row corpus-stats
    * aggregate (N, Σdl, per-term df — partial-agged longs) broadcasts
    * back; scoring is a pure per-row expression; TakeOrderedAndProject
    * keeps the top 10. Two scans, one 1-row shuffle, no joins wider than
    * the broadcast stats row — linear at any corpus size.
    *
    * Determinism: tf/df/dl/N are exact longs from the shared tokenize
    * twins; every double descends from those longs through literally
    * identical expression trees (same association order both engines);
    * the one transcendental (idf's ln) may skew ≤1 ulp cross-engine, so
    * the score ships NANO-QUANTIZED — floor(score·1e9 + 0.5) as BIGINT —
    * and QuerySpec pins every doc's score ≥1e-6 from the nearest flip
    * boundary (the q35 discipline). Ranking orders on the quantized
    * score with a doc_id tiebreak: a total order over identical integers.
    */
  private[graft] val Bm25Terms = Seq("spark", "window", "hash", "vector")

  /** Raw (unquantized) BM25 frame: doc_id, n_tokens, per-term tf, and the
    * double `score_raw` — exposed so QuerySpec can measure every doc's
    * distance from the nano-quantization flip boundary. */
  private[graft] def bm25Raw(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Column
    val Terms = Bm25Terms
    def tfc(t: String) = s"tf_$t"
    def dfc(t: String) = s"df_$t"
    // tf as size(t) − size(array_remove(t, term)): ArrayRemove is a
    // codegen'd expression where the filter() HOF is CodegenFallback —
    // same exact long count, but the scan stays in whole-stage codegen
    val f = Tables(s, dir, "documents")
      .select(col("doc_id"), toks.as("t"))
      .select(Seq(col("doc_id"), size(col("t")).cast("long").as("dl")) ++
        Terms.map(t =>
          (size(col("t")) - size(array_remove(col("t"), lit(t))))
            .cast("long").as(tfc(t))): _*)
    val statCols = Seq(count(lit(1)).as("n"), sum(col("dl")).as("sumdl")) ++
      Terms.map(t => sum(when(col(tfc(t)) > 0, 1L).otherwise(0L)).as(dfc(t)))
    val stats = f.agg(statCols.head, statCols.tail: _*)
    def score(t: String): Column =
      log((col("n") - col(dfc(t)) + lit(0.5)) / (col(dfc(t)) + lit(0.5)) + lit(1.0)) *
        (col(tfc(t)).cast("double") * (lit(1.2) + lit(1.0))) /
        (col(tfc(t)).cast("double") + lit(1.2) *
          (lit(0.25) + lit(0.75) * col("dl").cast("double") /
            (col("sumdl").cast("double") / col("n"))))
    f.crossJoin(broadcast(stats))
      .select(Seq(col("doc_id"), col("dl").as("n_tokens")) ++
        Terms.map(t => col(tfc(t))) :+
        Terms.map(score).reduce(_ + _).as("score_raw"): _*)
  }

  /** The q65 oracle's `f`/`s` CTE pair (per-doc tf/dl, 1-row corpus stats),
    * shared verbatim with q73's lexical arm so the two oracles can never
    * drift apart numerically.
    */
  private[graft] val Bm25FsCtesSql: String = {
    val tfSqls = Bm25Terms.map(t =>
      s"len(list_filter(t, x -> x = '$t')) AS tf_$t").mkString(",\n  |    ")
    val dfSqls = Bm25Terms.map(t =>
      s"sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS df_$t").mkString(", ")
    s"""f AS (
       #  SELECT doc_id, len(t) AS dl,
       #    $tfSqls
       #  FROM (SELECT doc_id, $ToksSql AS t FROM documents)),
       #s AS (SELECT count(*) AS n, sum(dl) AS sumdl, $dfSqls FROM f)"""
      .stripMargin('#').stripMargin
  }

  /** The q65 oracle's nano-quantized BM25 score expression (valid in any
    * `FROM f, s` context), shared with q73. Per-term association order is
    * mirrored EXACTLY by [[bm25Raw]]'s Spark column expression
    * (idf * (tf * (k1+1)) / (tf + k1 * (b-mix))).
    */
  private[graft] val Bm25ScoreN9Sql: String = {
    def scoreSql(t: String) =
      s"""ln((s.n - s.df_$t + 0.5) / (s.df_$t + 0.5) + 1.0) *
         #      (CAST(f.tf_$t AS DOUBLE) * (1.2 + 1.0)) /
         #      (CAST(f.tf_$t AS DOUBLE) + 1.2 *
         #        (0.25 + 0.75 * CAST(f.dl AS DOUBLE) / (CAST(s.sumdl AS DOUBLE) / s.n)))"""
        .stripMargin('#')
    s"CAST(floor((${Bm25Terms.map(scoreSql).mkString(" +\n    ")}) * 1000000000 + 0.5) AS BIGINT)"
  }

  val q65Bm25: QueryDef = {
    val Terms = Bm25Terms
    def tfc(t: String) = s"tf_$t"
    QueryDef.sql(
      "q65_bm25",
      s"""WITH $Bm25FsCtesSql
         |SELECT doc_id, dl AS n_tokens,
         |  ${Terms.map(t => s"f.${tfc(t)}").mkString(", ")},
         |  $Bm25ScoreN9Sql AS score_n9
         |FROM f, s
         |ORDER BY score_n9 DESC, doc_id
         |LIMIT 10""".stripMargin) { (s, dir) =>
      bm25Raw(s, dir)
        .select(Seq(col("doc_id"), col("n_tokens")) ++
          Terms.map(t => col(tfc(t))) :+
          floor(col("score_raw") * lit(1000000000L) + lit(0.5))
            .cast("long").as("score_n9"): _*)
        .orderBy(col("score_n9").desc, col("doc_id"))
        .limit(10)
    }
  }

  /** Q77 — sparse lexical cosine kNN over an inverted index ("related
    * documents"): the query is document 0's own term vector, candidates
    * come from POSTING-LIST joins (only docs sharing an indexed term are
    * ever touched), and ranking is exact tf-cosine over the indexed
    * vocabulary. The retrieval complement to q65 (whose query terms are
    * fixed) and q27 (dense): here the query vocabulary is data-derived
    * and the index is the classic IR inverted file.
    *
    * Terms are word-BIGRAM fingerprints (q21's fused `shingle_hashes` —
    * 8-byte keys, no bigram strings allocated), because this corpus's
    * unigram vocabulary is ~31 words each present in ~78% of documents:
    * unigrams carry no discrimination here, bigrams do. The index drops
    * terms in more than 10% of the corpus (the classic max_df stopword
    * rule) — the idf role AND the posting-list skew bound in one
    * mechanism, and FRACTIONAL so it holds at any scale factor.
    *
    * Scale shape: tf build is one (doc, term) aggregation; the max_df
    * rule bounds every posting list to N/10 (production tightens the
    * fraction — same plan); the query's term vector is ONE document's
    * capped vocabulary, collected driver-side (the q42 query-vector
    * discipline) and fused into the norm aggregation as a map literal —
    * num and n² compute in a single groupBy(doc) pass, `num > 0`
    * reproducing the posting-join semantics exactly; the corpus count
    * joins the VOCABULARY dimension as a 1-row broadcast. Two corpus
    * passes total, no dense scan, no pair stage.
    *
    * Determinism: tf/df/N/norms are exact longs (the max_df rule plays
    * idf's down-weighting role, so NO transcendental enters the score);
    * cosine = num / (√n2_d · √n2_q) over identical longs — IEEE sqrt is
    * correctly rounded, so the doubles are bit-identical cross-engine
    * with no quantization needed.
    *
    * Bench-shape notes (r13): the query-term slice derives from a
    * doc_id-pushed one-document scan broadcast against the shared df
    * subtree (the prior shape collected it out of the full corpus tf — a
    * second tf+df pass as its own job; 1.9 → 1.4 s at sf0.1). Measured
    * and rejected: finer AQE coalescing (minPartitionSize 64k / advisory
    * 256k) to parallelize the small post-shuffle stages runs 2.7 s vs
    * 1.4 s at defaults — task/stage overhead beats parallelism at MB-scale
    * shuffles; the 1-task coalesced stages are the right call here, and
    * at 100 TB the same advisory sizing yields wide stages naturally.
    */
  val q77LexicalKnn: QueryDef = QueryDef.sql(
    "q77_lexical_knn",
    s"""WITH tf AS (
       |  SELECT doc_id, fp AS term, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, ${FingerprintSql("s")} AS fp
       |        FROM (SELECT doc_id, ${graft.functions.TextFunctions.WordBigramsOverT} AS bg
       |              FROM (SELECT doc_id, $ToksSql AS t FROM documents)) x, unnest(x.bg) AS u(s))
       |  GROUP BY doc_id, fp),
       |df AS (SELECT term FROM tf GROUP BY term
       |       HAVING count(*) * 10 <= (SELECT count(*) FROM documents)),
       |kept AS (SELECT tf.* FROM tf JOIN df USING (term)),
       |nrm AS (SELECT doc_id, CAST(sum(tf*tf) AS BIGINT) AS n2 FROM kept GROUP BY doc_id),
       |q AS (SELECT term, tf AS qtf FROM kept WHERE doc_id = 0),
       |num AS (
       |  SELECT k.doc_id, CAST(sum(k.tf * q.qtf) AS BIGINT) AS num
       |  FROM kept k JOIN q USING (term) WHERE k.doc_id <> 0 GROUP BY k.doc_id),
       |qn AS (SELECT n2 AS qn2 FROM nrm WHERE doc_id = 0)
       |SELECT n.doc_id, n.num,
       |  CAST(n.num AS DOUBLE) / (sqrt(CAST(m.n2 AS DOUBLE)) * sqrt(CAST(q2.qn2 AS DOUBLE))) AS cosine
       |FROM num n JOIN nrm m USING (doc_id), qn q2
       |ORDER BY cosine DESC, doc_id
       |LIMIT 10""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    // per-doc tf IN-ROW (r21, native fp_run_counts — the multiset
    // identity with explode → groupBy(doc_id, term) → count): removes
    // the (doc_id, term) exchange, the widest shuffle this query paid
    val tf = docs
      .select(col("doc_id"), explode(org.apache.spark.sql.graft
        .TextExpressions.fp_run_counts(org.apache.spark.sql.graft
          .TextExpressions.shingle_hashes(toks))).as("kv"))
      .select(col("doc_id"), col("kv.fp").as("term"), col("kv.c").as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val dfKept = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 10 <= col("n_docs"))
      .select("term")
    val kept = tf.join(dfKept, "term")
    // the query is ONE document's capped vocabulary — a BROADCAST
    // dimension derived inside the same execution: doc 0's tf rebuilds
    // from a doc_id-pushed scan of ONE document (not the corpus tf — the
    // round-12 shape collected the query slice out of the full corpus
    // relation, paying a second tf+df corpus pass as a separate job
    // before the main pass could even plan), gated by the SAME dfKept
    // subtree the main pass uses (identical aggregation → ReuseExchange
    // dedupes the df build). The posting probe fuses into the norm
    // aggregation via a broadcast left join, so corpus work is ONE
    // groupBy(doc) pass computing num and n² together; `num > 0` IS the
    // posting-join semantics (tf and qtf positive) — identical to the
    // oracle's join.
    val qSide = docs.filter(col("doc_id") === 0)
      .select(col("doc_id"), explode(org.apache.spark.sql.graft
        .TextExpressions.fp_run_counts(org.apache.spark.sql.graft
          .TextExpressions.shingle_hashes(toks))).as("kv"))
      .select(col("kv.fp").as("term"), col("kv.c").as("tf"))
      .join(dfKept, "term")
      .select(col("term"), col("tf").as("qtf"))
    val agg = kept.join(broadcast(qSide), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("tf")).as("n2"),
        sum(col("tf") * coalesce(col("qtf"), lit(0L))).as("num"))
    // query norm DIRECTLY from the query-side frame (r21): qn² = Σ qtf²
    // over doc 0's kept terms — exactly agg's n2 row for doc 0 (qSide IS
    // that doc's kept tf vector), but as a qSide-sized subtree. The
    // previous `agg.filter(doc_id = 0)` physically re-derived the ENTIRE
    // corpus tf+df+join+agg pipeline for one scalar
    // (plans/r21/q77_lexical_knn_before.txt duplicates nodes 1–55 as
    // 56–110, including two more df builds). A persist of `agg` was
    // measured FIRST and lost (17 → 14 jobs but 1.39 → 1.76 s min
    // isolated — the materialization barrier beats recompute at this
    // size, the standing q67/q82 lesson); deriving the scalar from the
    // small side removes the duplication without any barrier.
    val qn = qSide.agg(sum(col("qtf") * col("qtf")).as("qn2"))
    agg.filter(col("doc_id") =!= 0 && col("num") > 0)
      .crossJoin(broadcast(qn))
      .select(col("doc_id"), col("num"),
        (col("num").cast("double") /
          (sqrt(col("n2").cast("double")) * sqrt(col("qn2").cast("double"))))
          .as("cosine"))
      .orderBy(col("cosine").desc, col("doc_id"))
      .limit(10)
  }

  /** q66's vocabulary size: the unigram LM keeps the top-V corpus tokens
    * plus ONE out-of-vocabulary bucket. V bounds the per-row work (V
    * codegen'd array passes per document) and the score expression's term
    * count; the OOV bucket absorbs the tail so the LM is total over any
    * token stream.
    */
  private[graft] val PplVocab = 16

  /** Unigram-LM perplexity scores (CCNet-style quality signal) over any
    * documents-shaped frame — the ONE implementation shared by q66 and
    * the declarative `perplexity_filter` curation stage.
    *
    * The LM is trained on the scored corpus itself: top-V tokens by
    * frequency (ties broken by word — deterministic), every other token
    * folded into one OOV bucket. Per doc the score is the average
    * negative log-likelihood −(Σᵥ tfᵥ·ln(cᵥ/total) + oov·ln(c_oov/total))
    * / dl — low = fluent/common (head), high = rare/garbled (tail).
    *
    * Plan shape at 100 TB: the vocab is a DERIVED dimension (q54's
    * pattern) — two-level word count into TakeOrdered(V), collapsed to a
    * ONE-ROW frame of parallel (word, count) arrays; corpus totals are a
    * one-row sum. Both broadcast back, so scoring is a single map-side
    * pass: V codegen'd `array_remove` count-scans per row, a fixed-order
    * double fold, no shuffle of the corpus at any point.
    *
    * Determinism: tf/dl/cᵥ/total are exact longs; the score descends from
    * them through a fixed left-associated term sum mirrored exactly in
    * the oracle (q65's discipline — ln is the one transcendental). The
    * published score is MICRO-quantized (×1e6), not nano: a measured sweep
    * found a doc 6.9e-15 (raw units) from a ×1e9 flip boundary — the same
    * order as the ~1e-14 ulp-scale cross-engine skew — while ×1e6's worst
    * margin is 6.3e-11, thousands of times the skew. QuerySpec pins every
    * doc's raw-space distance from both flip boundaries (×1e6 and the
    * bucketing key's ×1e3) above 1e-12.
    */
  /** The tokenized non-empty projection every LM branch starts from. */
  private[graft] def tokenizedNonEmpty(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), toks.as("t"))
      .withColumn("dl", size(col("t")).cast("long"))
      .filter(col("dl") > 0)

  /** The 1-row LM dimension frame (vw, vc, total) over a tokenized
    * frame — batch broadcasts it; the stream twin collects it into
    * frozen literals. ONE derivation either way.
    */
  private[graft] def pplDimsFrom(f: org.apache.spark.sql.DataFrame,
      V: Int): org.apache.spark.sql.DataFrame = {
    val vocabTop = f.select(explode(col("t")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word")).limit(V)
    // ONE row of parallel arrays in (c DESC, word) order — sort_array on
    // the (-c, word) struct makes the order independent of collect order
    val vrow = vocabTop
      .agg(sort_array(collect_list(
        struct((-col("c")).as("nc"), col("word"), col("c")))).as("v"))
      .select(expr("transform(v, x -> x.word)").as("vw"),
        expr("transform(v, x -> x.c)").as("vc"))
    // coalesce: a corpus with NO dl>=2 docs sums to null, and the model
    // readers (bigramModelFrom's getLong) must see an exact 0-total
    // empty model, not a crash (the BigramLm empty-vocab rebuild path)
    val stats = f.agg(coalesce(sum(col("dl")), lit(0L)).as("total"))
    // ONE one-row dimension frame (vw, vc, total): fusing the vocab and
    // corpus-total aggregates into a single broadcast halves the broadcast
    // job count — both subtrees read the same `f`, so the fused plan
    // costs the same two partial aggregates, one fewer job/exchange.
    vrow.crossJoin(stats)
  }

  private[graft] def perplexityScored(docs: org.apache.spark.sql.DataFrame,
      vocabSize: Int = PplVocab): org.apache.spark.sql.DataFrame = {
    val V = vocabSize
    // Tokenized corpus feeds three branches (vocab count, total, scoring)
    // — a real reuse point (Y5): without the persist every branch re-runs
    // tokenize over the raw corpus, and built up front (Caches.persistNow)
    // the branches' scans submit no job each. Scope = one query run; the
    // runner's Caches.clearAll releases it.
    val f = graft.Caches.persistNow(tokenizedNonEmpty(docs))
    nllScore(f.crossJoin(broadcast(pplDimsFrom(f, V))), V)
  }

  /** The LM scoring tail shared by [[perplexityScored]] (dims joined as
    * a 1-row broadcast) and the streaming curriculum twin
    * ([[graft.streaming.DocumentStreams.curriculumFlags]], dims riding
    * as frozen literals): a frame with (doc_id, t, dl, vw, vc, total)
    * in, (doc_id, n_tokens, oov, nll_raw) out. ONE implementation of
    * the fixed-order double fold, so streamed scores are bit-identical
    * to batch by construction.
    */
  private[graft] def nllScore(frame: org.apache.spark.sql.DataFrame,
      V: Int, extra: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    // ONE token-array pass computes all V counts (native tf_counts): the
    // previous form ran V array_remove scans — V allocations per row —
    // and was the scoring pass's hot loop. Values are identical exact
    // longs, so the oracle keeps its V list_filter formulation. `extra`
    // names pre-computed per-doc columns to carry through (q119 rides
    // its bigram score alongside so the two models score in ONE pass).
    val withTf = frame
      .withColumn("tfs", org.apache.spark.sql.graft.TextExpressions
        .tf_counts(col("t"), col("vw")))
      .select(Seq(col("doc_id"), col("dl"), col("vc"), col("total")) ++
        extra.map(col) ++
        (1 to V).map(i => element_at(col("tfs"), i).as(s"tf_$i")): _*)
    val tfSum = (1 to V).map(i => col(s"tf_$i")).reduce(_ + _)
    val vcSum = (1 to V).map(i => element_at(col("vc"), i)).reduce(_ + _)
    val totalD = col("total").cast("double")
    val terms = (1 to V).map(i =>
      col(s"tf_$i").cast("double") *
        log(element_at(col("vc"), i).cast("double") / totalD))
    // greatest(.., 1): a vocab that covers the whole corpus would make the
    // OOV mass 0 and 0·ln(0) NaN; clamping is exact-int and mirrored
    val oovTerm = (col("dl") - tfSum).cast("double") *
      log(greatest(col("total") - vcSum, lit(1L)).cast("double") / totalD)
    val nllRaw = (-(terms.reduce(_ + _) + oovTerm)) / col("dl").cast("double")
    withTf.select(Seq(col("doc_id"), col("dl").as("n_tokens"),
      (col("dl") - tfSum).as("oov"), nllRaw.as("nll_raw")) ++ extra.map(col): _*)
  }

  /** Q66 — unigram-LM perplexity scoring + head/middle/tail bucketing
    * (the CCNet move: train a cheap LM on the corpus, score every
    * document's average negative log-likelihood, split the corpus at the
    * 25th/75th perplexity percentiles; "keep head+middle" is the classic
    * quality filter, and the tail is where garbled extractions live).
    *
    * Bucketing stays scale-clean: NO global-sort ntile — the thresholds
    * are exact p25/p75 over the MILLI-quantized score (bounded-cardinality
    * [[org.apache.spark.sql.graft.PercentileLong]] state: scores span a
    * few units, so ~10⁴ distinct cells at any corpus size), computed in a
    * one-row aggregate and broadcast back. Dyadic percentages are exact
    * cross-engine (q59's rule); the bucket compare runs on exact ints.
    */
  /** q66's oracle scoring chain (f → vc0 → v → s → tf → sc → sc2), shared
    * with q110's curriculum planner — the SQL twin of
    * [[perplexityScored]] plus the two quantizations.
    */
  private def PplScoredCtes(V: Int): String = {
    val tfSqls = (1 to V).map(i =>
      s"len(list_filter(t, x -> x = vw[$i])) AS tf_$i").mkString(",\n       |    ")
    val tfSumSql = (1 to V).map(i => s"tf_$i").mkString(" + ")
    val vcSumSql = (1 to V).map(i => s"vcn[$i]").mkString(" + ")
    val termSqls = (1 to V).map(i =>
      s"CAST(tf_$i AS DOUBLE) * ln(CAST(vcn[$i] AS DOUBLE) / CAST(total AS DOUBLE))")
    val oovTermSql = s"CAST(dl - ($tfSumSql) AS DOUBLE) * " +
      s"ln(CAST(greatest(total - ($vcSumSql), 1) AS DOUBLE) / CAST(total AS DOUBLE))"
    s"""f AS (
       |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS dl
       |  FROM (SELECT doc_id, $ToksSql AS t FROM documents)
       |  WHERE len(t) > 0),
       |vc0 AS (
       |  SELECT word, count(*) AS c
       |  FROM (SELECT unnest(t) AS word FROM f)
       |  GROUP BY word ORDER BY c DESC, word LIMIT $V),
       |v AS (SELECT list(word ORDER BY c DESC, word) AS vw,
       |             list(c ORDER BY c DESC, word) AS vcn FROM vc0),
       |s AS (SELECT CAST(sum(dl) AS BIGINT) AS total FROM f),
       |tf AS (
       |  SELECT doc_id, dl, vcn, total,
       |    $tfSqls
       |  FROM f, v, s),
       |sc AS (
       |  SELECT doc_id, dl, dl - ($tfSumSql) AS oov,
       |    (-(${termSqls.mkString(" +\n       |      ")} +
       |      $oovTermSql)) / CAST(dl AS DOUBLE) AS nll_raw
       |  FROM tf),
       |sc2 AS (
       |  SELECT doc_id, dl AS n_tokens, oov,
       |    CAST(floor(nll_raw * 1000000 + 0.5) AS BIGINT) AS nll_n6,
       |    CAST(floor(nll_raw * 1000 + 0.5) AS BIGINT) AS nll_n3
       |  FROM sc)""".stripMargin
  }

  val q66Perplexity: QueryDef = {
    val V = PplVocab
    QueryDef.sql(
      "q66_perplexity",
      s"""WITH ${PplScoredCtes(V)},
         |thr AS (SELECT quantile_cont(nll_n3, 0.25) AS p25,
         |               quantile_cont(nll_n3, 0.75) AS p75 FROM sc2)
         |SELECT doc_id, n_tokens, oov, nll_n6,
         |  CASE WHEN nll_n3 <= p25 THEN 'head'
         |       WHEN nll_n3 <= p75 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM sc2, thr
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.graft.PercentileLong.percentile_long
      // scored is read twice — by the broadcast threshold aggregate and by
      // the final projection — and its lineage is the whole scoring
      // pipeline (tokenize + vocab shuffle + V array passes). The 5-column
      // result (score-quantized longs, corpus-row cardinality) is built
      // once up front (Caches.persistNow: an unbuilt cache would cost one
      // job per read); released by the runner's Caches.clearAll.
      val scored = graft.Caches.persistNow(perplexityScored(Tables(s, dir, "documents"), V)
        .select(col("doc_id"), col("n_tokens"), col("oov"),
          floor(col("nll_raw") * lit(1000000L) + lit(0.5)).cast("long").as("nll_n6"),
          floor(col("nll_raw") * lit(1000L) + lit(0.5)).cast("long").as("nll_n3")))
      val thr = scored.agg(
        percentile_long(col("nll_n3"), 0.25).as("p25"),
        percentile_long(col("nll_n3"), 0.75).as("p75"))
      scored.crossJoin(broadcast(thr))
        .select(col("doc_id"), col("n_tokens"), col("oov"), col("nll_n6"),
          when(col("nll_n3") <= col("p25"), "head")
            .when(col("nll_n3") <= col("p75"), "middle")
            .otherwise("tail").as("bucket"))
        .orderBy("doc_id")
    }
  }

  /** Q118 — interpolated BIGRAM-LM perplexity: q66's CCNet move one
    * n-gram order up. The corpus trains a class-bigram model over the
    * top-V unigram vocabulary (every other token folds to ONE OOV
    * class — the classic class-based backstop that keeps the table at
    * (V+1)², corpus-independent), and each document scores its average
    * −ln P(w_i | w_{i−1}) under the Jelinek-Mercer interpolation
    * P = λ·P_bigram + (1−λ)·P_unigram with λ = 0.5 (binary-exact, so
    * the interpolation weight adds no cross-engine ulp). A unigram LM
    * calls repeated boilerplate fluent; the bigram model is where
    * word-ORDER pathologies (shuffled text, keyword stuffing, template
    * splices) surface — the standard reason production pipelines score
    * with n-gram KenLMs rather than unigram tables.
    *
    * Determinism (q66's discipline throughout): classes are exact
    * integer positions (array_position / list_position, OOV = 0), the
    * count table is exact longs densified over the full (V+1)² domain,
    * every position's term is the SAME parenthesization of int-derived
    * doubles, and the per-doc fold is the same left-to-right
    * list-reduce in both engines; ln is the one transcendental (q65/q66
    * precedent). Interpolation keeps every P > 0: an observed class b
    * has cu[b] ≥ 1, so the unigram leg never vanishes, and an OOV
    * prefix only occurs when the OOV class count ≥ 1. Docs with fewer
    * than 2 tokens have no bigram and are out of the model's domain
    * (filtered identically on both sides).
    *
    * Plan shape at 100 TB: the class table is (V+1)² longs — a 1-row
    * broadcast like q66's dims — trained in ONE extra corpus pass
    * (adjacent-pair explode, map-side combined, key domain ≤ (V+1)²);
    * scoring is a single map-side pass per doc (one transform + fold,
    * no shuffle). Everything vocabulary-sized rides broadcasts; nothing
    * corpus-scale shuffles.
    */
  /** q118's oracle scoring chain, prefixable so q119 can compose it with
    * [[PplScoredCtes]] (which owns the unprefixed f/vc0/v/s names) in one
    * WITH block. Ends at `${p}sc2` = (doc_id, n_tokens, nll2_n6).
    */
  private def BigramScoredCtes(p: String): String = {
    val V = PplVocab
    val C = V + 1
    s"""${p}f AS (
       |  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS dl
       |  FROM (SELECT doc_id, $ToksSql AS t FROM documents)
       |  WHERE len(t) >= 2),
       |${p}vc0 AS (
       |  SELECT word, count(*) AS c
       |  FROM (SELECT unnest(t) AS word FROM ${p}f)
       |  GROUP BY word ORDER BY c DESC, word LIMIT $V),
       |${p}v AS (SELECT list(word ORDER BY c DESC, word) AS vw,
       |             list(c ORDER BY c DESC, word) AS vcn FROM ${p}vc0),
       |${p}s AS (SELECT CAST(sum(dl) AS BIGINT) AS total FROM ${p}f),
       |${p}cls AS (
       |  SELECT doc_id, dl,
       |    [coalesce(list_position(vw, w), 0) for w in t] AS cls
       |  FROM ${p}f, ${p}v),
       |${p}bp AS (
       |  SELECT unnest([cls[i-1] * $C + cls[i]
       |                 for i in range(2, len(cls)+1)]) AS k
       |  FROM ${p}cls),
       |${p}kc AS (SELECT k, CAST(count(*) AS BIGINT) AS cnt FROM ${p}bp GROUP BY k),
       |${p}dense AS (
       |  SELECT r.range AS k, coalesce(${p}kc.cnt, CAST(0 AS BIGINT)) AS cnt
       |  FROM range(0, ${C * C}) r LEFT JOIN ${p}kc ON ${p}kc.k = r.range),
       |${p}cbt AS (SELECT list(cnt ORDER BY k) AS cb FROM ${p}dense),
       |${p}cut AS (
       |  SELECT list_prepend(
       |      total - list_reduce(list_prepend(CAST(0 AS BIGINT), vcn), (a, b) -> a + b),
       |      vcn) AS cu, total
       |  FROM ${p}v, ${p}s),
       |${p}sc AS (
       |  SELECT doc_id, dl,
       |    -list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      [ln(CAST(0.5 AS DOUBLE) * (CAST(cb[cls[i-1] * $C + cls[i] + 1] AS DOUBLE)
       |            / CAST(greatest(cu[cls[i-1] + 1], CAST(1 AS BIGINT)) AS DOUBLE))
       |        + CAST(0.5 AS DOUBLE) * (CAST(greatest(cu[cls[i] + 1], CAST(1 AS BIGINT)) AS DOUBLE)
       |            / CAST(total AS DOUBLE)))
       |       for i in range(2, len(cls)+1)]),
       |      (a, b) -> a + b) / CAST(dl - 1 AS DOUBLE) AS nll2_raw
       |  FROM ${p}cls, ${p}cbt, ${p}cut),
       |${p}sc2 AS (
       |  SELECT doc_id, CAST(dl AS BIGINT) AS n_tokens,
       |    CAST(floor(nll2_raw * 1000000 + 0.5) AS BIGINT) AS nll2_n6
       |  FROM ${p}sc)""".stripMargin
  }

  val q118BigramPerplexity: QueryDef = QueryDef.sql(
    "q118_bigram_perplexity",
    s"""WITH ${BigramScoredCtes("")}
       |SELECT doc_id, n_tokens, nll2_n6
       |FROM sc2
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    bigramPerplexityScored(s, dir)
      .select(col("doc_id"), col("dl").as("n_tokens"),
        floor(col("nll2_raw") * lit(1000000L) + lit(0.5)).cast("long").as("nll2_n6"))
      .orderBy("doc_id")
  }

  /** Q119 — LM disagreement audit: the top-20 documents by word-order
    * penalty, delta = bigram nll − unigram nll (both micro-quantized, so
    * the delta is an EXACT integer — no new float compare anywhere). A
    * doc both models dislike is junk either way; a doc the unigram model
    * calls fluent but the bigram model rejects is the ORDER-pathology
    * signature — shuffled text, keyword stuffing, template splices — and
    * this table names the worst offenders, the review queue that decides
    * between `perplexity_filter order=1` and `order=2` (exactly as q113
    * prices min-vs-best and q112 prices fusion). Negative deltas read
    * the other way: context makes the doc MORE predictable than its
    * word-bag suggests (coherent prose).
    *
    * Plan shape at 100 TB: ONE corpus pass — the unigram dims ride the
    * q66 broadcast, the bigram model rides the stamped BigramLm literals,
    * and both scores compute in the same map ([[nllScore]]'s `extra`
    * pass-through carries the bigram column) — then TakeOrdered(20).
    * No corpus-keyed join (the naive form joins two scored corpora on
    * doc_id; the oracle does exactly that, measured again). Unigram
    * scores are q66's EXACTLY: the model trains on the dl ≥ 1 corpus,
    * scoring restricts to the dl ≥ 2 docs the bigram model can see.
    */
  val q119LmDisagreement: QueryDef = {
    val V = PplVocab
    QueryDef.sql(
      "q119_lm_disagreement",
      s"""WITH ${PplScoredCtes(V)},
         |${BigramScoredCtes("b")},
         |j AS (
         |  SELECT b.doc_id, b.n_tokens, u.nll_n6, b.nll2_n6,
         |    b.nll2_n6 - u.nll_n6 AS delta_n6
         |  FROM bsc2 b JOIN sc2 u ON u.doc_id = b.doc_id)
         |SELECT CAST(row_number() OVER (ORDER BY delta_n6 DESC, doc_id) AS BIGINT)
         |    AS rank,
         |  doc_id, n_tokens, nll_n6, nll2_n6, delta_n6
         |FROM j
         |ORDER BY delta_n6 DESC, doc_id
         |LIMIT 20""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.graft.TextExpressions.{bigram_nll, class_seq}
      val f1 = graft.Caches.persistNow(tokenizedNonEmpty(Tables(s, dir, "documents")))
      val dims = pplDimsFrom(f1, V)
      val (vw2, cu2, _, cb2) = graft.sources.BigramLm.model(s, dir)
      val both = nllScore(
        f1.filter(col("dl") >= 2)
          .withColumn("nll2_raw",
            bigram_nll(class_seq(col("t"), typedLit(vw2)), typedLit(cb2),
              typedLit(cu2)))
          .crossJoin(broadcast(dims)),
        V, extra = Seq("nll2_raw"))
      val quant = both.select(col("doc_id"), col("n_tokens"),
        floor(col("nll_raw") * lit(1000000L) + lit(0.5)).cast("long").as("nll_n6"),
        floor(col("nll2_raw") * lit(1000000L) + lit(0.5)).cast("long").as("nll2_n6"))
        .withColumn("delta_n6", col("nll2_n6") - col("nll_n6"))
      quant
        .orderBy(col("delta_n6").desc, col("doc_id")).limit(20)
        .withColumn("rank", row_number()
          .over(Window.orderBy(col("delta_n6").desc, col("doc_id"))).cast("long"))
        .select("rank", "doc_id", "n_tokens", "nll_n6", "nll2_n6", "delta_n6")
        .orderBy("rank")
    }
  }

  /** q118's raw-score frame (doc_id, dl, nll2_raw) — the pre-quantization
    * scorer, exposed so QuerySpec can pin the flip-boundary margins the
    * published ×1e6 quantization relies on (q66's discipline). The model
    * comes from the ingest-stamped [[graft.sources.BigramLm]] artifact
    * (r18 close: re-training per query was the remaining per-query
    * corpus cost — the BpeMerges posture applies), so the query is ONE
    * map-only scoring pass; values are identical to inline training by
    * the layout's bit-exact storage (BigramLmSpec).
    */
  private[graft] def bigramPerplexityScored(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val (vw, cu, _, cb) = graft.sources.BigramLm.model(s, dir)
    import org.apache.spark.sql.graft.TextExpressions.{bigram_nll, class_seq}
    Tables(s, dir, "documents")
      .select(col("doc_id"), toks.as("t"))
      .withColumn("dl", size(col("t")).cast("long"))
      .filter(col("dl") >= 2)
      .select(col("doc_id"), col("dl"),
        bigram_nll(class_seq(col("t"), typedLit(vw)), typedLit(cb), typedLit(cu))
          .as("nll2_raw"))
  }

  /** The q118 scoring fold as a SQL higher-order expression — since the
    * native `bigram_nll` kernel took over the hot path (both batch and
    * stream), this string is the REFERENCE FORMULATION the kernel is
    * property-pinned bit-identical to (ExtensionsSpec), mirroring the
    * DuckDB oracle's comprehension form. Expects columns cls, cb, cu,
    * total, dl.
    */
  private[graft] def bigramNllExpr(C: Int): String =
    s"""-aggregate(
       |  transform(slice(cls, 2, size(cls) - 1), (b, i) ->
       |    ln(CAST(0.5 AS DOUBLE) * (CAST(element_at(cb, CAST(element_at(cls, i + 1) * $C + b + 1 AS INT)) AS DOUBLE)
       |          / CAST(greatest(element_at(cu, CAST(element_at(cls, i + 1) + 1 AS INT)), 1L) AS DOUBLE))
       |      + CAST(0.5 AS DOUBLE) * (CAST(greatest(element_at(cu, CAST(b + 1 AS INT)), 1L) AS DOUBLE)
       |          / CAST(total AS DOUBLE)))),
       |  CAST(0.0 AS DOUBLE), (a, x) -> a + x) / CAST(dl - 1 AS DOUBLE)""".stripMargin

  /** The trained bigram model COLLECTED: (vw, cu, total, cb) — V words,
    * V+1 class counts (OOV first), the corpus total, and the dense
    * (V+1)² bigram table. Driver-sized BY DESIGN ((V+1)² + 2(V+1)
    * values — the PqCodebooks precedent: a model artifact must fit the
    * plan). TWO bounded actions train it: the dims head, then the pair
    * count against the LITERAL vocab (collecting dims first keeps the
    * vocab subtree out of the pair job — the joined form re-executed it,
    * q103's AQE-no-subtree-dedup lesson); the dense fill is a
    * map-lookup transform over the (V+1)² domain, no range join. ONE
    * derivation for batch q118, the order=2 stage, and the stream twin.
    */
  private[graft] def bigramModel(docs: org.apache.spark.sql.DataFrame)
      : (Seq[String], Seq[Long], Long, Seq[Long]) = {
    val f = tokenizedNonEmpty(docs)
      .filter(col("dl") >= 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try bigramModelFrom(f) finally f.unpersist(blocking = false)
  }

  /** [[bigramModel]] over an already-persisted tokenized dl≥2 frame —
    * the batch scorer passes its own persisted frame so the model build
    * and the scoring pass share ONE corpus read. V is a parameter so the
    * broadcast-form equivalence spec can exercise a larger vocabulary
    * (the literal-ceiling rule on [[bigramPerplexityScoredFrame]]).
    */
  private[graft] def bigramModelFrom(f: org.apache.spark.sql.DataFrame,
      V: Int = PplVocab): (Seq[String], Seq[Long], Long, Seq[Long]) = {
    val C = V + 1
    val dims = pplDimsFrom(f, V).head()
    val (vw, vc, total) =
      (dims.getSeq[String](0), dims.getSeq[Long](1), dims.getLong(2))
    // class-bigram counts — ONE adjacent-pair corpus pass (native
    // class_seq + class_bigram_keys kernels, codegen'd), map-side
    // combined, ≤ (V+1)² keys in the exchange — densified in-row
    val cb = f
      .select(explode(org.apache.spark.sql.graft.TextExpressions
        .class_bigram_keys(org.apache.spark.sql.graft.TextExpressions
          .class_seq(col("t"), typedLit(vw)), C)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("cnt"))
      .agg(expr("map_from_entries(collect_list(struct(k, cnt)))").as("m"))
      .select(expr(
        s"transform(sequence(0, ${C * C - 1}), i -> coalesce(element_at(m, CAST(i AS BIGINT)), 0L))")
        .as("cb"))
      .head().getSeq[Long](0)
    (vw, (total - vc.sum) +: vc, total, cb)
  }

  /** The q118 scorer over any documents-shaped frame — shared with the
    * `perplexity_filter order=2` stage (ONE implementation). The model
    * rides as LITERALS, not broadcast-joined 1-row frames: AQE does not
    * deduplicate the dims subtree across the count and scoring branches
    * (the q103 lesson — measured 22 jobs with the joined form vs ~10
    * with literals), and the scoring pass becomes pure map with no join
    * anywhere. Identical doubles either way (literal vs broadcast-column
    * arithmetic is the same codegen — the curriculumFlags equivalence
    * already pins the pattern).
    *
    * LITERAL CEILING (the q103 lesson in reverse): the dense table is
    * (V+1)² longs riding inside the serialized plan of every task. At
    * the fixed V=16 that is 289 longs (~2 KB) — free. The rule of thumb
    * is ~1M entries (V ≈ 1000, ~8 MB of plan): above it the per-task
    * plan shipping and driver planning costs dominate and the model must
    * ride as a BROADCAST 1-row frame instead —
    * [[bigramScoredBroadcast]] is that form, bit-identical by the shared
    * kernel (BigramLmSpec pins literal ≡ broadcast at V=24), at the cost
    * of one broadcast exchange in the plan.
    */
  private[graft] def bigramPerplexityScoredFrame(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // one persisted tokenized frame feeds the vocab action, the pair
    // pass, and the scoring pass (q66's reuse discipline — released by
    // the runner's Caches.clearAll, or a -curate job's clearCreatedSince);
    // the model's first collect builds it
    val f = graft.Caches.persist(tokenizedNonEmpty(docs).filter(col("dl") >= 2))
    // the model collects driver-side ([[bigramModel]]'s two bounded
    // actions — the PqCodebooks discipline) and rides as literals; the
    // scoring pass is then a PURE MAP over the persisted frame through
    // the native codegen'd kernels (the interpreted HOF fold was the
    // measured hot spot: transform/aggregate lambdas evaluate outside
    // whole-stage codegen at ~1 µs/position)
    val (vw, cu, _, cb) = bigramModelFrom(f)
    import org.apache.spark.sql.graft.TextExpressions.{bigram_nll, class_seq}
    f
      .select(col("doc_id"), col("dl"),
        bigram_nll(class_seq(col("t"), typedLit(vw)), typedLit(cb), typedLit(cu))
          .as("nll2_raw"))
  }

  /** The q118 scorer with the model riding as a BROADCAST 1-row frame —
    * the form [[bigramPerplexityScoredFrame]]'s literal path must switch
    * to above its documented V ceiling ((V+1)² ≳ 1M entries): the dense
    * table crosses the cluster once as a broadcast variable instead of
    * re-shipping inside every task's serialized plan. Same collected
    * model, same native kernels on COLUMNS instead of literals — the
    * scores are bit-identical (BigramLmSpec pins it at V=64), which is
    * what makes the switch a pure plan decision.
    */
  private[graft] def bigramScoredBroadcast(docs: org.apache.spark.sql.DataFrame,
      V: Int = PplVocab): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graft.TextExpressions.{bigram_nll, class_seq}
    val spark = docs.sparkSession
    import spark.implicits._
    val f = graft.Caches.persist(tokenizedNonEmpty(docs).filter(col("dl") >= 2))
    val (vw, cu, _, cb) = bigramModelFrom(f, V)
    val model = Seq((vw, cu, cb)).toDF("__vw", "__cu", "__cb")
    f.crossJoin(broadcast(model))
      .select(col("doc_id"), col("dl"),
        bigram_nll(class_seq(col("t"), col("__vw")), col("__cb"), col("__cu"))
          .as("nll2_raw"))
  }

  /** q82's merge-round count. Each round is one aggregate over the
    * word-count table; 6 rounds keeps the unrolled oracle readable while
    * exercising the full mechanism (real trainers run 10⁴–10⁵ rounds of
    * the same step).
    */
  private[graft] val BpeRounds = 6

  /** Q82 — BPE merge learning (Sennrich et al. 2016) as unrolled
    * dataflow: the tokenizer-induction step of an LLM pipeline, learning
    * the first K byte-pair merges from the corpus. One corpus pass builds
    * the word-frequency table; every round after that operates in
    * VOCABULARY space — count weighted adjacent symbol pairs, take the
    * argmax pair ((count DESC, pair ASC) — a deterministic total order),
    * apply the merge, repeat. That is exactly how production BPE trainers
    * run (the corpus reduces to word counts once; rounds iterate over the
    * vocab table), so the plan's scale story is the real one: corpus cost
    * is a single token count, each round an aggregate over |vocab| rows
    * with a 1-row argmax broadcast back.
    *
    * Words travel as delimiter-wrapped symbol strings (".s p a r k." with
    * every symbol in its own dots — tokens are strictly [a-z0-9], so '.'
    * can never collide): `replace(s, '.a..b.', '.ab.')` then applies a
    * merge left-to-right WITHOUT consuming neighbours' delimiters, which
    * reproduces BPE's greedy non-overlapping pairing exactly ("a a a a" →
    * "aa aa", "a a a" → "aa a") — both engines' replace() scan the source
    * left-to-right past each match. Everything is integer counts and
    * ASCII strings: no floats anywhere, bit-exact by construction.
    *
    * Degenerate corpora with fewer than K distinct pairs would empty an
    * argmax round (LIMIT 1 over nothing collapses the chain) — the specs
    * construct corpora with pair depth ≥ K, and any real corpus has it.
    */
  /** The q82/q84 oracle CTE chain: wf (word counts), w0 (delimiter-wrapped
    * symbols) and K merge rounds — w$K is the fully-merged word table,
    * m0..m$K-1 the per-round argmaxes.
    */
  private def bpeOracleCtes(K: Int): String = {
    val roundCtes = (0 until K).map { r =>
      s"""p$r AS (
         #  SELECT pa, pb, CAST(sum(n) AS BIGINT) AS cnt FROM (
         #    SELECT n, sy[i] AS pa, sy[i+1] AS pb FROM (
         #      SELECT n, string_split(trim(s, '.'), '..') AS sy FROM w$r) x,
         #      unnest(range(1, len(sy))) AS t(i))
         #  GROUP BY pa, pb),
         #m$r AS (SELECT pa, pb, cnt FROM p$r ORDER BY cnt DESC, pa, pb LIMIT 1),
         #w${r + 1} AS (
         #  SELECT word, n,
         #    replace(s, '.' || m.pa || '..' || m.pb || '.',
         #                '.' || m.pa || m.pb || '.') AS s
         #  FROM w$r, m$r m)"""
        .stripMargin('#')
    }.mkString(",\n")
    s"""wf AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT unnest($ToksSql) AS word FROM documents)
       |  GROUP BY word),
       |w0 AS (
       |  SELECT word, n,
       |    '.' || array_to_string(regexp_extract_all(word, '.'), '..') || '.' AS s
       |  FROM wf),
       |$roundCtes""".stripMargin
  }

  val q82BpeMerges: QueryDef = {
    val K = BpeRounds
    val unionSql = (0 until K).map(r =>
      s"SELECT $r AS r, pa, pb, cnt FROM m$r").mkString("\n  UNION ALL ")
    QueryDef.sql(
      "q82_bpe_merges",
      s"""WITH ${bpeOracleCtes(K)}
         |SELECT CAST(r AS BIGINT) AS r, pa AS left_sym, pb AS right_sym,
         |  pa || pb AS merged, cnt
         |FROM ($unionSql)
         |ORDER BY r""".stripMargin) { (s, dir) =>
      // q82 IS the training run: the first execution learns the merges
      // and writes the stamped BpeMerges artifact; re-runs read it
      val merges = graft.sources.BpeMerges(s, dir)
      s.createDataFrame(merges)
        .toDF("r", "left_sym", "right_sym", "merged", "cnt")
        .coalesce(1)
    }
  }

  /** The BPE trainer core shared by q82 (emits the merge table) and q84
    * (applies it): learns [[BpeRounds]] merges, driver rounds under the
    * [[BpeDriverVocabMax]] vocab bound, distributed fallback above it.
    * Returns (round, left, right, merged, count) in round order.
    */
  private[graft] def learnBpeMerges(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(Long, String, String, String, Long)] =
    learnBpeMergesFrom(Tables(s, dir, "documents"))

  /** word → post-merge symbol count for a given merge table: the
    * vocabulary-sized map-only derivation q84 and the declarative
    * `bpe_annotate` stage share (literal replaces over the
    * delimiter-wrapped symbol form — the trainer's exact greedy
    * semantics).
    */
  private[graft] def bpeSymCounts(docs: org.apache.spark.sql.DataFrame,
      merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    var wsym = docs.select(explode(toks).as("word")).distinct()
      .withColumn("s", concat(lit("."),
        array_join(expr("regexp_extract_all(word, '.', 0)"), ".."), lit(".")))
    merges.foreach { case (pa, pb) =>
      wsym = wsym.withColumn("s",
        replace(col("s"), lit(s".$pa..$pb."), lit(s".$pa$pb.")))
    }
    wsym.select(col("word"),
      size(split(trim(col("s"), "."), "\\.\\.")).cast("long").as("n_sym"))
  }

  /** Frame-generic trainer entry: the declarative `bpe_annotate` stage
    * learns from whatever (curated) corpus it is handed, not a table dir.
    */
  private[graft] def learnBpeMergesFrom(docs: org.apache.spark.sql.DataFrame,
      driverVocabMax: Int = BpeDriverVocabMax): Seq[(Long, String, String, String, Long)] = {
      val K = BpeRounds
      val wf = docs
        .select(explode(toks).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
      // Production BPE trainers (Sennrich's learn_bpe, HF tokenizers) make
      // ONE distributed pass — corpus → word-frequency table — and run the
      // merge rounds in memory over that table: rounds are vocabulary-
      // space, and even a 10⁶-word count table is a few dozen MB. The
      // collect is bounded by driverVocabMax (limit pushed into the
      // collect, so an over-threshold vocab ships threshold+1 rows, not
      // the table); above it the distributed round loop below runs
      // instead — same math, argmax-per-round jobs.
      val wfRows = wf.limit(driverVocabMax + 1).collect()
      if (wfRows.length <= driverVocabMax) {
        // exact counts: the limit sits above the completed aggregation
        var words: Array[(Array[String], Long)] =
          wfRows.map(r => (r.getString(0).map(_.toString).toArray, r.getLong(1)))
        for (r <- 0 until K) {
          val counts = scala.collection.mutable.HashMap
            .empty[(String, String), Long].withDefaultValue(0L)
          words.foreach { case (sy, n) =>
            var i = 0
            while (i < sy.length - 1) { counts((sy(i), sy(i + 1))) += n; i += 1 }
          }
          // argmax under the SQL total order (cnt DESC, pa ASC, pb ASC);
          // symbols are [a-z0-9] ASCII, so String ordering == UTF8 binary
          val ((pa, pb), cnt) = counts.minBy { case ((a, b), c) => (-c, a, b) }
          merges += ((r.toLong, pa, pb, pa + pb, cnt))
          // greedy left-to-right non-overlapping pairing — exactly the
          // delimiter-wrapped replace() semantics of the SQL form (both
          // engines' replace scans the source past each match without
          // rescanning replaced output): match → emit merged, skip 2
          words = words.map { case (sy, n) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < sy.length) {
              if (i + 1 < sy.length && sy(i) == pa && sy(i + 1) == pb) {
                out += pa + pb; i += 2
              } else { out += sy(i); i += 1 }
            }
            (out.toArray, n)
          }
        }
      } else distributedBpeRounds(wf, merges)
      merges.toSeq
  }

  /** Q84 — BPE tokenizer APPLICATION: encode the corpus with the merge
    * table q82 learns — the trainer→tokenizer handoff every LLM pipeline
    * runs after induction. Per document: the pre-BPE token count and the
    * post-merge symbol count (the sequence length the model actually
    * sees; their ratio is the tokenizer's compression on this corpus).
    *
    * Plan shape: the VOCABULARY maps word → post-merge symbol count by
    * applying the K learned merges (literal patterns from
    * [[learnBpeMerges]]) to the delimiter-wrapped form — a vocab-sized
    * map-only derivation off the distinct-word aggregate; the corpus pass
    * explodes tokens and PRE-AGGREGATES to (doc, word) → cnt (map-side
    * partial combine bounds the exchange at distinct pairs, never token
    * occurrences) before joining that vocab dimension on `word` (a KEYED
    * join — vocab is unbounded at 100 TB, so no broadcast assumption: if
    * a 10⁸-word vocabulary fails over the broadcast threshold, the SMJ
    * shuffles the deduplicated pair table, not the raw token stream),
    * then one groupBy(doc) re-weighting by cnt. Same greedy left-to-right
    * merge semantics as the trainer (delimiter-wrapped replace, see q82);
    * counts are exact longs — bit-exact cross-engine.
    */
  val q84BpeApply: QueryDef = {
    val K = BpeRounds
    QueryDef.sql(
      "q84_bpe_apply",
      s"""WITH ${bpeOracleCtes(K)},
         |wsym AS (
         |  SELECT word,
         |    CAST(len(string_split(trim(s, '.'), '..')) AS BIGINT) AS n_sym
         |  FROM w$K),
         |d AS (SELECT doc_id, unnest($ToksSql) AS word FROM documents)
         |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         |  CAST(sum(w.n_sym) AS BIGINT) AS n_sym
         |FROM d JOIN wsym w USING (word)
         |GROUP BY d.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      // train-once/apply-everywhere: the merge table comes from the
      // persisted BpeMerges artifact (learned inline only when absent),
      // so the application pass pays vocabulary-join cost, not training
      val merges = graft.sources.BpeMerges(s, dir)
      val docs = Tables(s, dir, "documents")
      val symCount = bpeSymCounts(docs,
        merges.map { case (_, pa, pb, _, _) => (pa, pb) })
      // per-doc word counts IN-ROW (r21, term_run_counts — the q102/q47
      // rule): the (doc_id, word) exchange carried a per-document
      // statistic; the vocabulary-sized symCount join is the only
      // exchange-worthy step left before the doc rollup
      docs.select(col("doc_id"), explode(org.apache.spark.sql.graft
          .TextExpressions.term_run_counts(toks)).as("kv"))
        .select(col("doc_id"), col("kv.term").as("word"), col("kv.c").as("cnt"))
        .join(symCount, "word")
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_tok"),
          sum(col("n_sym") * col("cnt")).as("n_sym"))
        .orderBy("doc_id")
    }
  }

  /** q82 distributed fallback (vocab above [[BpeDriverVocabMax]]): the word
    * table persists — it is the only corpus-scale relation and every round
    * reads it — and each round's 1-row argmax comes to the driver (bounded:
    * K rows, the merge table a trainer keeps anyway), applied as a LITERAL
    * replace so no broadcast-exchange job and no m_r lineage in later
    * rounds. Symbols are strictly [a-z0-9], safe to embed in expression
    * text. Appends the K merge rows to `merges`.
    */
  private def distributedBpeRounds(wf: org.apache.spark.sql.DataFrame,
      merges: scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)])
      : Unit = {
    val K = BpeRounds
    // Round-loop engine settings, on a clone of the caller's session (the
    // caller's own conf is never written, so a query running concurrently
    // on it — q53's re-rank thread, a JobRunner mode — keeps its settings):
    // - AQE off: each round is a vocab-space micro-query (31-row input
    //   at bench SF) where AQE's per-stage materialization futures add a
    //   job boundary per shuffle — measured as a third of q82's wall
    //   with zero replanning benefit (no skew, nothing to coalesce).
    // - shuffle partitions sized to the VOCAB aggregate, not the corpus:
    //   every shuffle in scope reduces to ≤|vocab| rows after map-side
    //   partials (wf's reduce side included), so corpus-width reduce
    //   fan-out only buys empty-task overhead. A production trainer
    //   sizes its round-loop shuffles to the vocab table the same way.
    val words = org.apache.spark.sql.graft.ClonedSession.withSettings(wf,
      "spark.sql.adaptive.enabled" -> "false", "spark.sql.shuffle.partitions" -> "1")
    var w = words.withColumn("s",
        concat(lit("."), array_join(expr("regexp_extract_all(word, '.', 0)"), ".."),
          lit(".")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // queue of superseded checkpoints: w_{r-1}'s blocks are read when
    // the LAZY checkpoint of w_r materializes inside round r+1's argmax
    // job, so w_{r-1} is safe to release only after that job — two
    // rounds behind the head
    val oldW = scala.collection.mutable.Queue.empty[org.apache.spark.sql.DataFrame]
    for (r <- 0 until K) {
      val pairs = w
        .withColumn("sy", split(trim(col("s"), "."), "\\.\\."))
        .select(col("n"), explode(expr(
          "zip_with(slice(sy, 1, size(sy)-1), slice(sy, 2, size(sy)-1), " +
            "(a, b) -> named_struct('pa', a, 'pb', b))")).as("p"))
        .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .agg(sum(col("n")).as("cnt"))
      val m = pairs.orderBy(col("cnt").desc, col("pa"), col("pb")).limit(1)
        .collect().head
      val (pa, pb, cnt) = (m.getString(0), m.getString(1), m.getLong(2))
      merges += ((r.toLong, pa, pb, pa + pb, cnt))
      // the merge patterns ride as lit() references, NOT interpolated
      // SQL text: every round's plan then has the same SHAPE and the
      // same generated Java (literals live in the references array), so
      // whole-stage codegen compiles once for all K rounds instead of
      // per round — the per-round Janino compile was most of the gap
      // between stage time and wall time
      w = w.withColumn("s", replace(col("s"),
        lit(s".$pa..$pb."), lit(s".$pa$pb.")))
      // re-materialize the symbol table every round, keeping plan depth
      // (and recompute on a lost partition) bounded the way a production
      // trainer's checkpoint does at 10⁴+ rounds, and every round's plan
      // identical — the codegen-reuse prerequisite. Superseded tables
      // unpersist one round later (their successor's materialization
      // read them).
      if (r + 1 < K) {
        // LAZY localCheckpoint (not persist): persist leaves the full
        // lineage in the logical plan, so analysis/optimization and
        // CacheManager sameResult lookups grow with the round index —
        // measured as the dominant per-round cost once the corpus pass
        // was cached. Checkpointing truncates the plan to a LogicalRDD:
        // every round analyzes/plans the SAME constant-depth tree
        // (q62's pointer-jumping discipline). Lazy, so the NEXT round's
        // argmax job materializes it — no dedicated checkpoint job per
        // round; superseded tables release two rounds behind.
        val next = w.localCheckpoint(eager = false)
        oldW.enqueue(next)
        if (oldW.size > 2) oldW.dequeue().unpersist(blocking = false)
        w = next
      }
    }
  }

  /** q82 driver-rounds bound: when the word-frequency table has at most
    * this many rows it collects and the merge rounds run in memory — the
    * production trainer shape (Sennrich's learn_bpe / HF tokenizers train
    * over the counts table in a single process after the corpus
    * reduction); 200k words ≈ a few dozen MB of driver heap. Above the
    * bound the distributed argmax-per-round loop runs instead.
    */
  private[graft] final val BpeDriverVocabMax = 200000

  /** Q93 — DSIR importance resampling (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): select pretraining
    * documents whose hashed-n-gram distribution looks like a TARGET
    * corpus. The published recipe, step for step:
    *
    *   1. features: word-bigram shingles hashed into B=64 buckets (the
    *      paper's "hashed n-gram" space; bigrams per the repo-wide rule —
    *      the synthetic corpus's unigram DF is ~78%, so unigram features
    *      are vacuous). Counts keep multiplicity: a doc's bucket counts
    *      ARE its bag-of-ngrams vector.
    *   2. two bucket unigram-LMs, Laplace-smoothed: p̂(b) = (cnt_b + 1) /
    *      (total + B), one over the target slice (sources src1–src3, the
    *      declared reference subset), one over the full raw corpus.
    *   3. per-doc log importance weight: logw = Σ_b cnt_doc[b] ·
    *      (ln p̂_t(b) − ln p̂_c(b)) — summed in bucket order (ordered
    *      fold) so both engines add the same doubles in the same order.
    *   4. sampling WITHOUT replacement ∝ exp(logw) via Gumbel top-k
    *      (the paper's sampler), derandomized cross-engine: the Gumbel
    *      noise g = −ln(−ln(u)) draws u from the doc's own rolling-hash
    *      fingerprint, u = (fp(doc_id)+1)/(P+2) ∈ (0,1) — deterministic,
    *      identical in both engines, and independent of logw.
    *
    * Docs with no bigram (<2 tokens) carry no evidence and are excluded
    * (no feature rows). Published scores are micro-quantized (q66's
    * discipline — ln is the one transcendental; margins spec-pinned).
    *
    * Plan shape at 100 TB: pass 1 trains the LM (per-(doc, bucket)
    * counts map-side-combined into 64 cells + a one-row total, collected
    * as 64 doubles — model-sized driver state like a centroid table);
    * pass 2 SCORES map-only — per-row `bucket_counts` (one native pass
    * over the fingerprint array) zip_with-folded against the LM literal,
    * then TakeOrderedAndProject(budget). No doc-scale shuffle anywhere;
    * nothing is quadratic. (The round-15 first cut folded a grouped
    * (doc, bucket) relation instead — one extra doc-keyed shuffle,
    * measured 2.7× the oracle at sf0.1; the map-only form is 1.8× with
    * 9 jobs, and is literally the streaming flagger's scorer.)
    */
  private[graft] val DsirBuckets = 64
  private[graft] val DsirTargets = Seq("src1", "src2", "src3")

  val q93ImportanceResample: QueryDef = {
    val B = DsirBuckets
    val targetsIn = DsirTargets.map(s => s"'$s'").mkString(", ")
    // u's denominator: P+2 keeps u in (0,1) for fp ∈ [0, P)
    val UDen = 1000000009L
    QueryDef.sql(
      "q93_importance_resample",
      s"""WITH bg AS (
         |  SELECT doc_id, source, ${FingerprintSql("s")} % $B AS bucket
         |  FROM (SELECT doc_id, source, $WordBigramsOverT AS b
         |        FROM (SELECT doc_id, source, $ToksSql AS t FROM documents)) x,
         |    unnest(x.b) AS u(s)),
         |dbc AS (
         |  SELECT doc_id, source, bucket, count(*) AS cnt
         |  FROM bg GROUP BY doc_id, source, bucket),
         |cs AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS cc FROM dbc GROUP BY bucket),
         |ts AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS ct FROM dbc
         |       WHERE source IN ($targetsIn) GROUP BY bucket),
         |tot AS (SELECT
         |  (SELECT CAST(sum(cnt) AS BIGINT) FROM dbc) AS tc,
         |  (SELECT CAST(sum(cnt) AS BIGINT) FROM dbc WHERE source IN ($targetsIn)) AS tt),
         |lr AS (
         |  SELECT c.bucket,
         |    ln(CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE) / CAST(tot.tt + $B AS DOUBLE)) -
         |    ln(CAST(c.cc + 1 AS DOUBLE) / CAST(tot.tc + $B AS DOUBLE)) AS lr
         |  FROM cs c LEFT JOIN ts t ON c.bucket = t.bucket, tot),
         |dw AS (
         |  SELECT d.doc_id, min(d.source) AS source,
         |    CAST(sum(d.cnt) AS BIGINT) AS n_bigrams,
         |    list_reduce(list_prepend(0.0,
         |      list(CAST(d.cnt AS DOUBLE) * l.lr ORDER BY d.bucket)),
         |      (a, b) -> a + b) AS logw
         |  FROM dbc d JOIN lr l ON d.bucket = l.bucket
         |  GROUP BY d.doc_id),
         |g AS (
         |  SELECT doc_id, source, n_bigrams, logw,
         |    logw - ln(-ln(
         |      CAST(${FingerprintSql("CAST(doc_id AS VARCHAR)")} + 1 AS DOUBLE)
         |        / CAST($UDen AS DOUBLE))) AS k
         |  FROM dw)
         |SELECT doc_id, source, n_bigrams,
         |  CAST(floor(logw * 1000000 + 0.5) AS BIGINT) AS logw_n6,
         |  CAST(floor(k * 1000000 + 0.5) AS BIGINT) AS key_n6
         |FROM g
         |ORDER BY key_n6 DESC, doc_id
         |LIMIT 100""".stripMargin) { (s, dir) =>
      importanceScored(Tables(s, dir, "documents"))
        .select(col("doc_id"), col("source"), col("n_bigrams"),
          floor(col("logw") * 1000000 + lit(0.5)).cast("long").as("logw_n6"),
          floor(col("gkey") * 1000000 + lit(0.5)).cast("long").as("key_n6"))
        .orderBy(col("key_n6").desc, col("doc_id"))
        .limit(100)
    }
  }

  /** q93's raw score frame — (doc_id, source, n_bigrams, logw, gkey)
    * before quantization/selection, factored out so the margin spec can
    * pin every doc's distance from the ×1e6 flip boundaries (q66's
    * discipline).
    */
  /** One corpus pass → per-(doc, source, bucket) bigram-bucket counts —
    * ≤[[DsirBuckets]] rows per doc by construction.
    */
  private def dsirBucketCounts(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    // per-doc bucket counts IN-ROW (r21): the same native `bucket_counts`
    // pass the scorer already uses (one array walk, key % B inside the
    // kernel), exploded to the present buckets — bit-identical rows to
    // the explode → groupBy(doc_id, source, bucket) form, without its
    // doc-keyed exchange (per-doc statistic, q102/q77's rule)
    docs
      .select(col("doc_id"), col("source"),
        posexplode(org.apache.spark.sql.graft.SketchExpressions.bucket_counts(
          org.apache.spark.sql.graft.TextExpressions.shingle_hashes(toks),
          DsirBuckets)).as(Seq("bucket0", "cnt")))
      .filter(col("cnt") > 0)
      .select(col("doc_id"), col("source"),
        col("bucket0").cast("long").as("bucket"), col("cnt"))

  /** The B-row Laplace-smoothed log-ratio dimension from a bucket-count
    * frame: lr(b) = ln p̂_target(b) − ln p̂_corpus(b). Total over ALL B
    * buckets (a spine fills never-seen ones with the pure-smoothing
    * value) so a consumer scoring UNSEEN documents — the streaming
    * flagger — has a ratio for every bucket; batch scoring never reads
    * the spine rows (a doc only carries buckets it has).
    */
  private[graft] def dsirLogRatiosFrom(dbc: org.apache.spark.sql.DataFrame,
      targets: Seq[String]): org.apache.spark.sql.DataFrame = {
    val B = DsirBuckets
    val isTarget = col("source").isin(targets: _*)
    val spine = dbc.sparkSession.range(B).select(col("id").as("bucket"))
    // ONE pass over the counts computes both LMs' numerators; the totals
    // re-aggregate the resulting B-row frame (trivial), not the corpus
    val cs = dbc.groupBy("bucket").agg(sum("cnt").as("cc"),
      sum(when(isTarget, col("cnt")).otherwise(lit(0L))).as("ct"))
    val tot = cs.agg(sum("cc").as("tc"), sum("ct").as("tt"))
    spine.join(cs, Seq("bucket"), "left")
      .crossJoin(tot)
      .select(col("bucket"),
        (log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
          (col("tt") + B).cast("double")) -
          log((coalesce(col("cc"), lit(0L)) + 1).cast("double") /
            (col("tc") + B).cast("double"))).as("lr"),
        // rides along so the collecting caller can validate the declared
        // target slice without a second aggregate job (never published)
        coalesce(col("tt"), lit(0L)).as("tt"))
  }

  /** The corpus-trained DSIR log-ratio table collected for broadcast-style
    * consumption (streaming flaggers): lr indexed by bucket 0..B−1.
    */
  private[graft] def dsirLogRatioArray(docs: org.apache.spark.sql.DataFrame,
      targets: Seq[String] = DsirTargets): Array[Double] = {
    val rows = dsirLogRatiosFrom(dsirBucketCounts(docs), targets)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // a typo'd slice would otherwise train a silently-meaningless LM of
    // pure smoothing mass — fail as a config error, like the softmax
    // label-domain check
    require(rows.isEmpty || rows.head._3 > 0L,
      s"DSIR target slice matched no documents: sources ${targets.mkString(",")}")
    val arr = Array.ofDim[Double](DsirBuckets)
    rows.foreach { case (b, v, _) => arr(b.toInt) = v }
    arr
  }

  /** The per-row DSIR log-weight column over a fingerprint array against
    * the driver-collected LM: counts via the one-pass native
    * `bucket_counts`, fold via zip_with in bucket index order. Zero-count
    * buckets contribute `0·lr = ±0.0`, and `x + (±0.0) ≡ x` under IEEE
    * addition, so the 64-term fold is BIT-IDENTICAL to the oracle's
    * present-buckets-only ordered fold — the equality the streaming spec
    * pins. Shared by batch q93 and the streaming flagger (ONE scorer).
    */
  private[graft] def dsirLogwCol(fps: org.apache.spark.sql.Column,
      lrArr: Array[Double]): org.apache.spark.sql.Column =
    aggregate(
      zip_with(
        org.apache.spark.sql.graft.SketchExpressions
          .bucket_counts(fps, DsirBuckets),
        lit(lrArr), (c, l) => c.cast("double") * l),
      lit(0.0), (acc, x) => acc + x)

  private[graft] def importanceScored(docs: org.apache.spark.sql.DataFrame,
      targets: Seq[String] = DsirTargets): org.apache.spark.sql.DataFrame = {
    // pass 1 (the LM): bucket counts → 64 log-ratios collected to the
    // driver (model-sized, like a centroid table). Pass 2 (the scorer):
    // MAP-ONLY — per-row bucket counts against the LM literal; no
    // doc-scale shuffle anywhere (the round-15 first cut re-shuffled the
    // counts on doc_id for an ordered collect_list fold — measured 2.7×
    // the oracle at sf0.1; this form is the streaming flagger's shape).
    val lrArr = dsirLogRatioArray(docs, targets)
    val fps = org.apache.spark.sql.graft.TextExpressions.shingle_hashes(toks)
    // derandomized Gumbel key from the doc's own fingerprint
    val u = (fingerprint("cast(doc_id as string)") + 1).cast("double") /
      lit(1000000009L).cast("double")
    docs.select(col("doc_id"), col("source"), fps.as("fps"))
      .filter(size(col("fps")) > 0) // no bigram → no evidence (oracle parity)
      .select(col("doc_id"), col("source"),
        size(col("fps")).cast("long").as("n_bigrams"),
        dsirLogwCol(col("fps"), lrArr).as("logw"))
      .withColumn("gkey", col("logw") - log(-log(u)))
  }

  /** Q95 — tokenizer fertility by source: characters-per-BPE-symbol and
    * symbols-per-word under the corpus-trained merge table (q82/q84's
    * `BpeMerges` artifact). Fertility is the standard tokenizer-fit
    * diagnostic a curation pipeline reads before fixing a mixture: a
    * source whose text fragments into many symbols per word pays more
    * sequence length per character of content (out-of-domain spelling,
    * encoding noise), and the per-source table is what a temperature/
    * budget decision consumes. All counts are exact longs; the two
    * ratios divide already-identical longs — bit-exact cross-engine.
    *
    * Plan shape: the token stream pre-aggregates to (source, word) → cnt
    * — map-side partial combine bounds the exchange at |sources × vocab|
    * rows regardless of corpus size — and THAT vocab-scale table joins
    * the vocabulary-sized symbol table (distinct words × merge
    * applications) on `word`: two vocab-sized relations meet, token
    * occurrences never shuffle even when a 10⁸-word vocabulary makes the
    * broadcast fail over to a sort-merge join. One final partial-agg'd
    * groupBy(source) re-weights by cnt.
    */
  val q95BpeFertility: QueryDef = {
    val K = BpeRounds
    QueryDef.sql(
      "q95_bpe_fertility",
      s"""WITH ${bpeOracleCtes(K)},
         |wsym AS (
         |  SELECT word,
         |    CAST(len(string_split(trim(s, '.'), '..')) AS BIGINT) AS n_sym,
         |    CAST(len(word) AS BIGINT) AS n_char
         |  FROM w$K),
         |d AS (SELECT doc_id, source, unnest($ToksSql) AS word FROM documents)
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_tok,
         |  CAST(sum(w.n_sym) AS BIGINT) AS n_sym,
         |  CAST(sum(w.n_char) AS BIGINT) AS n_char,
         |  CAST(sum(w.n_char) AS BIGINT) / CAST(sum(w.n_sym) AS BIGINT) AS chars_per_sym,
         |  CAST(sum(w.n_sym) AS BIGINT) / CAST(count(*) AS BIGINT) AS syms_per_tok
         |FROM d JOIN wsym w USING (word)
         |GROUP BY d.source
         |ORDER BY d.source""".stripMargin) { (s, dir) =>
      val merges = graft.sources.BpeMerges(s, dir)
      val docs = Tables(s, dir, "documents")
      val symCount = bpeSymCounts(docs,
        merges.map { case (_, pa, pb, _, _) => (pa, pb) })
        .withColumn("n_char", length(col("word")).cast("long"))
      docs.select(col("source"), explode(toks).as("word"))
        .groupBy(col("source"), col("word"))
        .agg(count(lit(1)).as("cnt"))
        .join(symCount, "word")
        .groupBy(col("source"))
        .agg(sum(col("cnt")).as("n_tok"),
          sum(col("n_sym") * col("cnt")).as("n_sym"),
          sum(col("n_char") * col("cnt")).as("n_char"))
        .withColumn("chars_per_sym", col("n_char") / col("n_sym"))
        .withColumn("syms_per_tok", col("n_sym") / col("n_tok"))
        .orderBy("source")
    }
  }

  /** Q97 — bigram Zipf/coverage curve: the rank-frequency head of the
    * word-BIGRAM vocabulary with cumulative occurrence coverage and the
    * corpus denominators (total occurrences, distinct bigrams). This is
    * the corpus-stats readout that sizes tokenizer/vocab budgets: "how
    * many terms cover X% of the token stream" read directly off cum_cnt
    * vs total, and the rank-frequency slope eyeballed for Zipf fit.
    * Bigram terms, not unigrams, per the corpus's term-statistics
    * discipline (q77's note: the synthetic unigram vocab is ~31 words at
    * ~78% DF — unigram curves are vacuous); the output carries exact
    * COUNTS only, never a log or a float division, so the compare is
    * bit-trivial.
    *
    * Plan shape at 100 TB: one explode into a groupBy(bigram) with
    * map-side partial aggregation — the shuffle is bounded by DISTINCT
    * bigrams (vocab², not corpus); the head is TakeOrderedAndProject;
    * the denominators reduce to ONE row broadcast back; the
    * rank/cumulative window runs on the 100-row head only (same bounded
    * -window precedent as text/Vocab).
    */
  val q97BigramZipf: QueryDef = QueryDef.sql(
    "q97_bigram_zipf",
    s"""WITH b AS (
       |  SELECT s AS w
       |  FROM (SELECT $WordBigramsOverT AS bg
       |        FROM (SELECT $ToksSql AS t FROM documents)) x,
       |       unnest(bg) AS u(s)),
       |c AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY w),
       |d AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
       |             CAST(count(*) AS BIGINT) AS n_distinct FROM c),
       |top AS (
       |  SELECT w, cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rank
       |  FROM c ORDER BY cnt DESC, w LIMIT 100)
       |SELECT rank, w AS bigram, cnt,
       |  CAST(sum(cnt) OVER (ORDER BY rank) AS BIGINT) AS cum_cnt,
       |  total, n_distinct
       |FROM top, d
       |ORDER BY rank""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val cnt = Tables(s, dir, "documents")
      .select(explode(wordBigrams(toks)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val denom = cnt.agg(sum(col("cnt")).as("total"),
      count(lit(1)).as("n_distinct"))
    val byFreq = Window.orderBy(col("cnt").desc, col("w"))
    cnt
      .orderBy(col("cnt").desc, col("w")).limit(100)
      .withColumn("rank", row_number().over(byFreq))
      .withColumn("cum_cnt", sum(col("cnt")).over(
        Window.orderBy(col("rank"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(denom))
      .select(col("rank"), col("w").as("bigram"), col("cnt"),
        col("cum_cnt"), col("total"), col("n_distinct"))
      .orderBy("rank")
  }

  /** Q102 — per-document keyword extraction: each document's top-3
    * word-bigram terms by tf × inverse-document-frequency — the
    * doc-level topical fingerprint a pipeline uses for topic routing,
    * diversity sampling, and cluster labeling. The idf factor is the
    * LINEAR ratio `(N·10⁶) div df` rather than the textbook log(N/df):
    * same ranking monotonicity in (tf, N/df), but integer-exact — no
    * transcendental ever enters the cross-engine compare (log's last ulp
    * differs between engines; a production build swaps in log-idf
    * without touching the plan shape — no longer just a claim:
    * KeywordIdfSwapSpec pins the identical plan-node sequence for the
    * `logIdf` variant of [[keywordRankedLayout]]). Ties break on the
    * term string, so top-3 is deterministic.
    *
    * Plan shape at 100 TB: the token stream reduces map-side to
    * (doc, term) → tf (distinct-pair-bounded exchange, the q84/q95
    * discipline) — the query's ONE corpus pass; df comes from the
    * ingest-stamped [[graft.sources.TermStats]] layout (vocab-sized
    * scan, built once when the corpus lands — r17's self-stats form
    * re-derived it by exploding the corpus a second time per query) and
    * joins UN-HINTED — autoBroadcastJoinThreshold/AQE broadcast it at
    * this scale, and at a 10⁸–10⁹-distinct-bigram vocabulary the join
    * fails over to SMJ between pair-level and vocab-level relations,
    * never raw occurrences (an explicit broadcast hint would instead
    * force-collect the vocab to the driver — the q84/q95 rule,
    * tree-walk-pinned in PlanSpec); the corpus count rides as a literal
    * from [[graft.sources.CorpusStats]]; the top-3 window partitions on
    * doc_id — per-partition state is each doc's distinct terms, bounded
    * by doc length.
    *
    * OVERFLOW BOUND (q90's discipline): score_n6 = tf · ((n_docs·10⁶)
    * div df) is exact while tf·n_docs/df < 2⁶³/10⁶ ≈ 9.2·10¹², and ANSI
    * mode fails loudly (never corrupts) past it. A df=1 term only
    * reaches the bound when tf·n_docs ≳ 9.2·10¹² — e.g. a 10¹⁰-doc
    * corpus with a tf ≥ 10³ hapax bigram, which a real pipeline's DF
    * floor (df ≥ 2 kills hapaxes) or tf cap removes first. Past the
    * bound, drop the 10⁶ quantization factor toward 10³ (ranking
    * monotonicity is unaffected) or escalate the product to
    * decimal(38,0) — both are one-line changes at this site; the
    * plan-time width selection q90 does from CorpusStats.N applies
    * verbatim if the corpus ever declares those magnitudes.
    */
  val q102DocKeywords: QueryDef = QueryDef.sql(
    "q102_doc_keywords",
    s"""WITH tf AS (
       |  SELECT doc_id, s AS w, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, $WordBigramsOverT AS bg
       |        FROM (SELECT doc_id, $ToksSql AS t FROM documents)) x,
       |       unnest(bg) AS u(s)
       |  GROUP BY 1, 2),
       |df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.w, tf.tf, df.df,
       |    tf.tf * ((n.n_docs * 1000000) // df.df) AS score_n6,
       |    row_number() OVER (PARTITION BY tf.doc_id
       |      ORDER BY tf.tf * ((n.n_docs * 1000000) // df.df) DESC, tf.w)
       |      AS rank
       |  FROM tf JOIN df ON tf.w = df.w, n)
       |SELECT doc_id, CAST(rank AS BIGINT) AS rank, w AS keyword, tf, df,
       |  CAST(score_n6 AS BIGINT) AS score_n6
       |FROM scored
       |WHERE rank <= 3
       |ORDER BY doc_id, rank""".stripMargin) { (s, dir) =>
    // the df/N statistics come from the ingest-stamped layouts (TermStats
    // + CorpusStats) rather than a second explode of the corpus — the r17
    // "layout one layer down" task: the full corpus's self-stats are
    // EXACTLY the layout's contents, so the oracle (which derives df from
    // tf) is unchanged while Spark pays ONE corpus pass instead of two
    keywordRankedLayout(Tables(s, dir, "documents"),
      graft.sources.TermStats(s, dir),
      graft.sources.CorpusStats.rowCount(s, dir, "documents"), topK = 3)
      .select(col("doc_id"), col("rank"), col("w").as("keyword"),
        col("tf"), col("df"), col("score_n6"))
      .orderBy("doc_id", "rank")
  }

  /** The per-doc (doc_id, w, tf) word-bigram term-frequency relation —
    * the one corpus pass every keyword form pays. Explicit-width spread
    * BEFORE the bigram explode (q105's lever): the corpus scan is one
    * small split at bench SF and the explode is the heaviest per-row
    * work (measured: q102 2.74 → 1.60 s with the spread).
    */
  private[graft] def tfFrame(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), col("text"))
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_id"))
      // per-doc tf IN-ROW (r21, native term_run_counts — bit-identical
      // rows to explode → groupBy(doc_id, w) → count by the multiset
      // identity): tf is a per-document statistic, so the (doc_id, w)
      // exchange the groupBy form paid was pure overhead — and dropping
      // it leaves this frame hash-partitioned by doc_id from the spread,
      // which is exactly the clustering the keyword rank window needs
      // (one fewer exchange there too).
      .select(col("doc_id"), explode(org.apache.spark.sql.graft
        .TextExpressions.term_run_counts(wordBigrams(tokens("text")))).as("kv"))
      .select(col("doc_id"), col("kv.term").as("w"), col("kv.c").as("tf"))

  /** The word-bigram document-frequency relation (w, df) over a
    * documents-shaped frame — distinct (doc, term) pairs counted per
    * term. The defining computation of the [[graft.sources.TermStats]]
    * layout, and the frozen-stats df of [[keywordRanked]] /
    * [[graft.streaming.DocumentStreams.keywordFlags]] (same values, the
    * stream collects them into a literal map).
    */
  private[graft] def termDfFrame(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), col("text"))
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_id"))
      .select(col("doc_id"),
        explode(array_distinct(wordBigrams(tokens("text")))).as("w"))
      // first_doc (min containing doc id) rides the same aggregate for
      // free — q117's vocabulary-growth axis, merged exactly on refresh
      // (min is append-safe in both directions)
      .groupBy("w").agg(count(lit(1)).as("df"),
        min(col("doc_id")).as("first_doc"))

  /** The shared scoring/ranking tail of every keyword form: score each
    * (doc, term) by tf × linear idf, keep rank ≤ topK. `scoreCol` must
    * be the exact integer score expression (the forms differ only in
    * where n_docs lives — a joined 1-row frame vs a literal).
    */
  private def keywordRankTail(joined: org.apache.spark.sql.DataFrame,
      scoreCol: org.apache.spark.sql.Column, topK: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy(scoreCol.desc, col("w"))
    joined
      .withColumn("score_n6", scoreCol)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
  }

  /** The keyword scorer's mid-pipeline forms, shared with the
    * `keyword_annotate` curation stage (ONE scoring rule, three stats
    * sources): each doc's word-bigram terms ranked by tf × linear idf,
    * rows with rank ≤ topK kept. With `statsDocs = None` the df/N
    * statistics come from `docs` itself — the self-stats form a curation
    * flow uses mid-chain (no stamped layout exists for an intermediate
    * doc set); with `Some(corpus)` they come from the corpus frame — the
    * frozen-stats form whose streamed twin is
    * [[graft.streaming.DocumentStreams.keywordFlags]] (terms absent from
    * the stats relation score df = 1, the same unseen-term rule). A
    * corpus WITH a stamped dir uses [[keywordRankedLayout]] instead —
    * q102's form since r18 (the self-stats df derivation re-read the tf
    * relation, a second full explode of the corpus per query).
    */
  private[graft] def keywordRanked(docs: org.apache.spark.sql.DataFrame,
      statsDocs: Option[org.apache.spark.sql.DataFrame],
      topK: Int): org.apache.spark.sql.DataFrame = {
    val tf = tfFrame(docs)
    val (df, n) = statsDocs match {
      case None =>
        // self-stats: df reduces the tf relation AGAIN to the vocab-sized
        // table — the mid-pipeline form (no stamped layout to read when
        // the doc set is a curation flow's intermediate)
        (tf.groupBy("w").agg(count(lit(1)).as("df")),
          docs.agg(count(lit(1)).as("n_docs")))
      case Some(sd) =>
        (termDfFrame(sd).select("w", "df"), sd.agg(count(lit(1)).as("n_docs")))
    }
    // un-hinted: AQE broadcasts the vocab-sized df side here and fails
    // over to SMJ when the vocabulary outgrows the threshold (see q102
    // scaladoc). Frozen-stats form: LEFT join + df=1 default so a term
    // unseen in the stats corpus still scores (keywordFlags' rule).
    val joined = statsDocs match {
      case None => tf.join(df, "w").crossJoin(broadcast(n))
      case Some(_) => tf.join(df, Seq("w"), "left")
        .withColumn("df", coalesce(col("df"), lit(1L)))
        .crossJoin(broadcast(n))
    }
    keywordRankTail(joined, col("tf") * expr("(n_docs * 1000000) div df"), topK)
  }

  /** The ingest-stamped form: df from the [[graft.sources.TermStats]]
    * layout, N as a literal from [[graft.sources.CorpusStats]] — ONE
    * corpus pass (the tf explode), everything else layout-sized. The
    * left join + df=1 default is the frozen-stats unseen-term rule; for
    * a flow that IS the stats corpus (q102) the default never fires, so
    * self-stats and layout-stats results are identical by construction.
    * Un-hinted like the other forms: AQE broadcasts the vocab-sized
    * layout scan and fails over to SMJ past the threshold.
    */
  private[graft] def keywordRankedLayout(docs: org.apache.spark.sql.DataFrame,
      dfLayout: org.apache.spark.sql.DataFrame, nDocs: Long,
      topK: Int, logIdf: Boolean = false): org.apache.spark.sql.DataFrame = {
    val joined = tfFrame(docs).join(dfLayout.select("w", "df"), Seq("w"), "left")
      .withColumn("df", coalesce(col("df"), lit(1L)))
    // logIdf = the textbook tf·ln(N/df) scorer the q102 scaladoc says
    // "swaps in without touching the plan shape" — KeywordIdfSwapSpec
    // makes that claim a check (identical plan-node sequence; the linear
    // form stays the registered default because its integers are
    // cross-engine exact while ln's last ulp is not)
    val score =
      if (logIdf) col("tf").cast("double") * log(lit(nDocs.toDouble) / col("df"))
      else col("tf") * expr(s"(${nDocs}L * 1000000L) div df")
    keywordRankTail(joined, score, topK)
  }

  /** Q105 — boilerplate span mining: the top-20 repeated 8-token spans by
    * total occurrence count (ties on the span string), with the
    * distinct-document reach of each. q67 REMOVES duplicated spans; this
    * NAMES them — the audit a curation owner reads before enabling span
    * dedup (navigation chrome and license banners look like high-reach
    * low-occ-per-doc spans; template loops are the converse), and the
    * q101-style ROI readout for the span family: n_occ − 1 of each span's
    * occurrences are what ExactSubstr would strip.
    *
    * Plan shape at 100 TB: the corpus-scale work — a span relation
    * LINEAR in corpus tokens (one window per token position), rolled up
    * under the q84/q95 two-level discipline with the n_occ ≥ 2 gate
    * dropping the unique-span long tail — runs ONCE at ingest into the
    * stamped [[graft.sources.SpanStats]] layout ([[spanStatsFrame]] is
    * the defining computation); the query is a vocab-sized layout scan
    * whose head is TakeOrderedAndProject, never a global sort. At
    * hostile span cardinality the exact build's vocab-level exchange is
    * the ingest cost; the sketch fallback is q61's count-min (same
    * top-k contract, bounded memory), which is why both exist.
    */
  val q105BoilerplateSpans: QueryDef = QueryDef.sql(
    "q105_boilerplate_spans",
    s"""WITH sp AS (
       |  SELECT doc_id, s AS span
       |  FROM (SELECT doc_id, ${WordNgramsOverT(8)} AS gs
       |        FROM (SELECT doc_id, $ToksSql AS t FROM documents)) x,
       |       unnest(x.gs) AS u(s)),
       |dtf AS (SELECT span, doc_id, CAST(count(*) AS BIGINT) AS occ
       |        FROM sp GROUP BY 1, 2),
       |agg AS (SELECT span, CAST(sum(occ) AS BIGINT) AS n_occ,
       |          CAST(count(*) AS BIGINT) AS n_docs
       |        FROM dtf GROUP BY 1)
       |SELECT CAST(row_number() OVER (ORDER BY n_occ DESC, span) AS BIGINT) AS rank,
       |  span, n_occ, n_docs
       |FROM agg
       |WHERE n_occ >= 2
       |ORDER BY n_occ DESC, span
       |LIMIT 20""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    // the span rollup comes from the ingest-stamped SpanStats layout
    // (r18, the TermStats discipline applied to the span family): the
    // whole corpus-scale explode+rollup ran once at ingest, the query is
    // a vocab-sized scan + TakeOrdered head. The oracle recomputes from
    // scratch (q101's discipline).
    graft.sources.SpanStats(s, dir)
      .orderBy(col("n_occ").desc, col("span")).limit(20)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n_occ").desc, col("span")))
          .cast("long"))
      .select("rank", "span", "n_occ", "n_docs")
      .orderBy("rank")
  }

  /** Q121 — content-defined chunking + chunk-level dedup: each document's
    * tokens are cut into variable-size chunks AT every token whose q17
    * rolling hash ≡ 0 (mod 8) — expected chunk ≈ 8 tokens — and the
    * report is the top-20 chunks repeated across the corpus (rank, chunk,
    * n_tokens, n_occ, n_docs). The cut rule is the storage-dedup CDC
    * property q69's fixed windows lack: an insertion shifts every
    * downstream fixed window, but hash-cut boundaries RE-SYNCHRONIZE at
    * the next cut token, so unchanged regions re-produce byte-identical
    * chunks and chunk-hash dedup still finds them. No minimum-length
    * floor (real CDC systems add one): single-token chunks — tokens that
    * are themselves cut points — are honest chunks here and dominate the
    * top ranks on a high-collision corpus; the scaladoc'd extension is a
    * min/max window like restic/LBFS, which changes only the kernel.
    *
    * Plan shape at 100 TB: the corpus-scale chunking — the native
    * codegen'd [[org.apache.spark.sql.graft.ExprKernels.cdcChunks]] (one
    * rolling hash per token, map-only), per-(chunk, doc) counts in-row
    * ([[graft.functions.TextFunctions.runLengthExplode]]), chunk-level
    * rollup the only exchange — runs ONCE at ingest into the stamped
    * [[graft.sources.ChunkStats]] layout ([[cdcChunkStats]] is the
    * defining computation); the query is a layout scan whose head is
    * TakeOrderedAndProject — exactly q105's scale posture with
    * content-defined keys. The oracle reconstructs the chunks
    * relationally (position unnest → boundary prefix-sum window →
    * string_agg) from the same hash fold.
    */
  val q121CdcChunks: QueryDef = QueryDef.sql(
    "q121_cdc_chunks",
    s"""WITH tk AS (
       |  SELECT doc_id, ts[u.i] AS tok, CAST(u.i AS BIGINT) AS pos
       |  FROM (SELECT doc_id, $ToksSql AS ts FROM documents) x,
       |       unnest(range(1, len(x.ts) + 1)) AS u(i)),
       |b AS (
       |  SELECT doc_id, tok, pos,
       |    CASE WHEN (${FingerprintSql("tok")}) % 8 = 0 THEN 1 ELSE 0 END AS isb
       |  FROM tk),
       |cid AS (
       |  SELECT doc_id, tok, pos,
       |    COALESCE(sum(isb) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
       |  FROM b),
       |chunks AS (
       |  SELECT doc_id, chunk_id, string_agg(tok, ' ' ORDER BY pos) AS chunk
       |  FROM cid GROUP BY 1, 2),
       |agg AS (
       |  SELECT chunk, CAST(count(*) AS BIGINT) AS n_occ,
       |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
       |  FROM chunks GROUP BY 1)
       |SELECT CAST(row_number() OVER (ORDER BY n_occ DESC, chunk) AS BIGINT) AS rank,
       |  chunk, CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tokens,
       |  n_occ, n_docs
       |FROM agg
       |WHERE n_occ >= 2
       |ORDER BY n_occ DESC, chunk
       |LIMIT 20""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    // the chunk rollup comes from the ingest-stamped ChunkStats layout
    // (the SpanStats posture): the corpus-scale chunking ran once at
    // ingest, the query is a layout scan + TakeOrdered head. The oracle
    // recomputes from scratch (q101's discipline).
    graft.sources.ChunkStats(s, dir)
      .orderBy(col("n_occ").desc, col("chunk")).limit(20)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n_occ").desc, col("chunk")))
          .cast("long"))
      .select(col("rank"), col("chunk"),
        size(split(col("chunk"), " ")).cast("long").as("n_tokens"),
        col("n_occ"), col("n_docs"))
      .orderBy("rank")
  }

  /** Q122 — chunk-dedup ROI: what chunk-level (CDC) dedup would save,
    * priced in tokens — q101's price-the-choice discipline applied to
    * the q121 family. Per chunk-length bucket (1..7 tokens, 8 = the ≥8
    * tail): repeated-chunk count, total occurrences, and the removable
    * token mass Σ(n_occ − 1)·len — every occurrence past the first is
    * what chunk-store dedup strips — plus each bucket's share of the
    * whole corpus's tokens. The readout a curation owner uses to decide
    * whether CDC dedup pays on this corpus and at which min-chunk-length
    * floor (the single-token bucket is high-occurrence noise; the long
    * tail is real boilerplate).
    *
    * Determinism: counts and token masses are exact BIGINTs; the share
    * divides two identical longs as doubles. Scale: the stats relation
    * is q121's (chunk rollup the only exchange); the corpus token total
    * is ONE map-side aggregate broadcast back (q102's N pattern) — two
    * linear passes, nothing pairwise.
    */
  val q122CdcSavings: QueryDef = QueryDef.sql(
    "q122_cdc_savings",
    s"""WITH tk AS (
       |  SELECT doc_id, ts[u.i] AS tok, CAST(u.i AS BIGINT) AS pos
       |  FROM (SELECT doc_id, $ToksSql AS ts FROM documents) x,
       |       unnest(range(1, len(x.ts) + 1)) AS u(i)),
       |b AS (
       |  SELECT doc_id, tok, pos,
       |    CASE WHEN (${FingerprintSql("tok")}) % 8 = 0 THEN 1 ELSE 0 END AS isb
       |  FROM tk),
       |cid AS (
       |  SELECT doc_id, tok, pos,
       |    COALESCE(sum(isb) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
       |  FROM b),
       |chunks AS (
       |  SELECT doc_id, chunk_id, string_agg(tok, ' ' ORDER BY pos) AS chunk,
       |    CAST(count(*) AS BIGINT) AS n_toks
       |  FROM cid GROUP BY 1, 2),
       |agg AS (
       |  SELECT chunk, min(n_toks) AS n_toks, CAST(count(*) AS BIGINT) AS n_occ
       |  FROM chunks GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(len($ToksSql)) AS BIGINT) AS total_tokens
       |  FROM documents)
       |SELECT CAST(least(n_toks, 8) AS BIGINT) AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(n_occ) AS BIGINT) AS n_occ,
       |  CAST(sum((n_occ - 1) * n_toks) AS BIGINT) AS removable_tokens,
       |  total_tokens,
       |  CAST(CAST(sum((n_occ - 1) * n_toks) AS BIGINT) AS DOUBLE)
       |    / CAST(total_tokens AS DOUBLE) AS removable_share
       |FROM agg, tot
       |WHERE n_occ >= 2
       |GROUP BY 1, total_tokens
       |ORDER BY 1""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val totalDf = docs.select(sum(size(toks)).cast("long").as("total_tokens"))
    graft.sources.ChunkStats(s, dir)
      .withColumn("n_toks", size(split(col("chunk"), " ")).cast("long"))
      .withColumn("bucket", least(col("n_toks"), lit(8L)))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_occ")).cast("long").as("n_occ"),
        sum((col("n_occ") - 1) * col("n_toks")).cast("long")
          .as("removable_tokens"))
      .crossJoin(broadcast(totalDf))
      .withColumn("removable_share",
        col("removable_tokens").cast("double") /
          col("total_tokens").cast("double"))
      .select("bucket", "n_chunks", "n_occ", "removable_tokens",
        "total_tokens", "removable_share")
      .orderBy("bucket")
  }

  /** The repeated-CDC-chunk statistics relation (chunk, n_occ, n_docs),
    * n_occ ≥ 2 — q121's rollup and the corpus side of the
    * `boilerplateChunkFlags` stream twin's Bloom index (SpanStats'
    * ≥2-gate rationale applies: unique chunks are the storage majority
    * and carry no repetition signal). Chunking is the native cdc_chunks
    * kernel; per-(chunk, doc) counts stay in-row (runLengthExplode), the
    * chunk-level rollup is the only exchange.
    */
  private[graft] def cdcChunkStats(docs: org.apache.spark.sql.DataFrame,
      divisor: Int = 8): org.apache.spark.sql.DataFrame = {
    val spread = docs
      .select(col("doc_id"), col("text"))
      // q105's explicit-width spread: the chunk explode is the heaviest
      // per-row work and must not serialize on one scan split
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_id"))
    graft.functions.TextFunctions.runLengthExplode(
        spread,
        org.apache.spark.sql.graft.TextExpressions.cdc_chunks(toks, divisor),
        "chunk")
      .groupBy(col("p.chunk").as("chunk"))
      .agg(sum(col("p.occ")).cast("long").as("n_occ"),
        count(lit(1)).as("n_docs"))
      .filter(col("n_occ") >= 2)
  }

  /** The repeated-span statistics relation (span, n_occ, n_docs), n_occ
    * ≥ 2 — q105's rollup and the defining computation of the
    * [[graft.sources.SpanStats]] layout. The ≥2 gate is part of the
    * relation's IDENTITY (not a consumer filter): unique spans are the
    * overwhelming storage majority and carry no boilerplate signal, so
    * the layout stores only the repeated tail — which is also why this
    * layout refreshes by REBUILD, not delta merge (a span at n_occ=1 in
    * the old corpus was dropped, so a delta occurrence that lifts it to
    * 2 is invisible to a merge; the append path for span stats at
    * hostile cardinality is the count-min sketch family, q61).
    */
  private[graft] def spanStatsFrame(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spread = docs
      .select(col("doc_id"), col("text"))
      // explicit-width spread BEFORE the span explode (the q67/q51/q90
      // parallelism pin): the corpus scan is one small split at bench SF,
      // and the 8-token window explode is the build's heaviest per-row
      // work — one scan partition must not serialize it (measured: the
      // fused single-task stage ran 2.4 s of a 3.0 s wall)
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_id"))
    // per-doc tf WITHIN the row (runLengthExplode): the (span, doc) level
    // never shuffles — each doc emits its DISTINCT spans with counts, and
    // the only exchange is the span-level rollup (measured vs the
    // explode→groupBy(span,doc) form: 1.04 → 0.93 s warm at sf0.1; the
    // spread above was the big lever, 3.0 → 1.04 s)
    graft.functions.TextFunctions.runLengthExplode(
        spread, graft.functions.TextFunctions.wordNgrams(tokens("text"), 8), "span")
      .groupBy(col("p.span").as("span"))
      .agg(sum(col("p.occ")).cast("long").as("n_occ"),
        count(lit(1)).as("n_docs"))
      .filter(col("n_occ") >= 2)
  }

  /** The curriculum model: the q66 unigram-LM dimensions PLUS the exact
    * dyadic quartile thresholds of the milli-quantized corpus score —
    * everything a curriculum phase assignment needs, collected once
    * (driver-sized by construction: V strings, V+1 longs, 3 doubles).
    * ONE derivation for the stamped [[graft.sources.CurriculumThresholds]]
    * artifact (q110's source), the `curriculum_order` stage (trained on
    * its FLOWING frame — stage semantics), and the stream twin.
    */
  private[graft] final case class CurriculumModel(vw: Seq[String],
      vc: Seq[Long], total: Long, p25: Double, p50: Double, p75: Double)

  private[graft] def curriculumModel(docs: org.apache.spark.sql.DataFrame,
      V: Int = PplVocab): CurriculumModel = {
    import org.apache.spark.sql.graft.PercentileLong.percentile_long
    // one persisted tokenize pass feeds the dims action and the
    // threshold action (the bigramModelFrom discipline)
    val f = tokenizedNonEmpty(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dims = pplDimsFrom(f, V).head()
      val (vw, vc, total) =
        (dims.getSeq[String](0), dims.getSeq[Long](1), dims.getLong(2))
      // thresholds over the LITERAL-model scores — identical doubles to
      // the broadcast-column form (same codegen; the curriculumFlags
      // equivalence pin), so the stored thresholds equal what the
      // pre-artifact inline derivation produced
      val thr = nllScore(
          f.withColumn("vw", typedLit(vw)).withColumn("vc", typedLit(vc))
            .withColumn("total", lit(total)), V)
        .select(floor(col("nll_raw") * lit(1000L) + lit(0.5)).cast("long")
          .as("nll_n3"))
        .agg(percentile_long(col("nll_n3"), 0.25).as("p25"),
          percentile_long(col("nll_n3"), 0.5).as("p50"),
          percentile_long(col("nll_n3"), 0.75).as("p75"))
        .head()
      CurriculumModel(vw, vc, total,
        thr.getDouble(0), thr.getDouble(1), thr.getDouble(2))
    } finally f.unpersist(blocking = false)
  }

  /** The curriculum scorer tail — ONE implementation of (n_tokens,
    * nll_n6, phase) against a frozen [[CurriculumModel]], shared by
    * batch q110, the `curriculum_order` stage, and the stream twin
    * ([[graft.streaming.DocumentStreams.curriculumFlags]]): MAP-ONLY
    * (model and thresholds ride as literals — no join, no shuffle), the
    * batch scorer's exact fixed-order fold via [[nllScore]]. The long
    * score coerces to double against the interpolated thresholds exactly
    * as the pre-artifact column-to-column compare did. Zero-token docs
    * produce no row (unscorable is not phase 0).
    */
  private[graft] def curriculumScoredFrame(frame: org.apache.spark.sql.DataFrame,
      m: CurriculumModel, V: Int = PplVocab): org.apache.spark.sql.DataFrame = {
    val scored = nllScore(
      tokenizedNonEmpty(frame)
        .withColumn("vw", typedLit(m.vw))
        .withColumn("vc", typedLit(m.vc))
        .withColumn("total", lit(m.total)), V)
    val n3 = floor(col("nll_raw") * lit(1000L) + lit(0.5)).cast("long")
    scored.select(col("doc_id"), col("n_tokens"),
      floor(col("nll_raw") * lit(1000000L) + lit(0.5)).cast("long").as("nll_n6"),
      when(n3 <= m.p25, 0L).when(n3 <= m.p50, 1L).when(n3 <= m.p75, 2L)
        .otherwise(3L).as("phase"))
  }

  /** Q110 — curriculum schedule: the corpus split into four exact
    * difficulty quartiles of q66's LM score (easy → hard), with each
    * phase's document count, token budget, and difficulty span — the
    * plan a curriculum-ordered training run consumes (Bengio et al.
    * 2009's easy-first schedule; in LLM data work the same table drives
    * "anneal on the head, sample the tail" recipes). Per phase:
    * n_docs, n_tokens, exact sum of the micro-quantized score (the
    * reader's one division yields mean difficulty), min/max score.
    *
    * Scale shape: q66's bucketing discipline extended to quartiles — NO
    * global sort/ntile anywhere, and since r19 NO per-query training
    * either: the LM dims and the exact p25/p50/p75 thresholds are the
    * ingest-stamped [[graft.sources.CurriculumThresholds]] artifact (the
    * BigramLm posture), so the query is ONE map-only scoring pass over
    * the corpus (model as literals) into a 4-row map-side-combined
    * group — 15 jobs before, ≲5 after, values bit-identical (the
    * artifact stores exactly what inline training produced;
    * CurriculumThresholdsSpec pins it).
    */
  val q110CurriculumSchedule: QueryDef = {
    val V = PplVocab
    QueryDef.sql(
      "q110_curriculum_schedule",
      s"""WITH ${PplScoredCtes(V)},
         |thr AS (SELECT quantile_cont(nll_n3, 0.25) AS p25,
         |               quantile_cont(nll_n3, 0.5) AS p50,
         |               quantile_cont(nll_n3, 0.75) AS p75 FROM sc2),
         |ph AS (
         |  SELECT CASE WHEN nll_n3 <= p25 THEN 0
         |              WHEN nll_n3 <= p50 THEN 1
         |              WHEN nll_n3 <= p75 THEN 2
         |              ELSE 3 END AS phase,
         |    n_tokens, nll_n6
         |  FROM sc2, thr)
         |SELECT CAST(phase AS BIGINT) AS phase,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(nll_n6) AS BIGINT) AS sum_nll_n6,
         |  CAST(min(nll_n6) AS BIGINT) AS min_nll_n6,
         |  CAST(max(nll_n6) AS BIGINT) AS max_nll_n6
         |FROM ph
         |GROUP BY 1
         |ORDER BY 1""".stripMargin) { (s, dir) =>
      val m = graft.sources.CurriculumThresholds.model(s, dir)
      curriculumScoredFrame(Tables(s, dir, "documents"), m, V)
        .groupBy("phase")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("n_tokens"),
          sum(col("nll_n6")).cast("long").as("sum_nll_n6"),
          min(col("nll_n6")).as("min_nll_n6"),
          max(col("nll_n6")).as("max_nll_n6"))
        .orderBy("phase")
    }
  }

  /** Q115 — term document-frequency spectrum: for every df level, how
    * many distinct word-bigram terms sit at it — the vocabulary-shape
    * readout of the [[graft.sources.TermStats]] layout (its first
    * independent audit: q102 consumes df per term; this views the whole
    * distribution). Two decisions read off this table: where the DF CAP
    * should sit (the spectrum shows exactly how many terms a cap at any
    * level marks corpus-common — the q21 DfCap is a point on this
    * curve), and whether idf carries signal on this corpus at all (a
    * spectrum concentrated at high df — the synthetic corpus's unigram
    * pathology — says term weighting needs a rarer term family, which
    * is WHY the suite works in bigrams; see the verify-skill note).
    *
    * Plan shape at 100 TB: a vocab-sized layout scan into a ≤|distinct
    * df values|-row map-side-combined group — nothing corpus-scale at
    * query time (ingest paid the one explode). The oracle recomputes df
    * from the corpus (q101's discipline).
    */
  val q115DfSpectrum: QueryDef = QueryDef.sql(
    "q115_df_spectrum",
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, s AS w
       |  FROM (SELECT doc_id, $WordBigramsOverT AS bg
       |        FROM (SELECT doc_id, $ToksSql AS t FROM documents)) x,
       |       unnest(x.bg) AS u(s)),
       |d AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY w)
       |SELECT df, CAST(count(*) AS BIGINT) AS n_terms
       |FROM d
       |GROUP BY df
       |ORDER BY df""".stripMargin) { (s, dir) =>
    graft.sources.TermStats(s, dir)
      .groupBy("df").agg(count(lit(1)).as("n_terms"))
      .orderBy("df")
  }

  /** Q117 — vocabulary growth curve (the Heaps-law readout): the corpus
    * split into four EXACT doc_id quartiles (ingest order), with the
    * number of word-bigram terms FIRST seen in each quartile and the
    * cumulative vocabulary — the saturation curve a tokenizer/BPE sizing
    * decision and an ingest owner read together: a flattening curve says
    * more data adds tokens, not words (vocab budget can freeze); a
    * still-linear tail says the corpus keeps importing novel vocabulary
    * — or junk, which is q52's per-source novelty readout localized in
    * TIME instead of source. Exact: each term's first containing doc is
    * the min doc id (stored in [[graft.sources.TermStats]] since tf2 —
    * min-merged exactly on refresh), quartile thresholds are dyadic
    * percentiles over doc_id (the q110 rule: p25/p50/p75 interpolate
    * identically cross-engine), the counts are integers.
    *
    * Plan shape at 100 TB: a vocab-sized layout scan bucketed against a
    * 1-row broadcast threshold frame (the corpus contributes only its
    * doc_id percentile aggregate), one 4-row map-side-combined group,
    * and a 4-row cumulative window. The oracle recomputes first-doc
    * from the corpus (q101's discipline).
    */
  val q117VocabGrowth: QueryDef = QueryDef.sql(
    "q117_vocab_growth",
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, s AS w
       |  FROM (SELECT doc_id, $WordBigramsOverT AS bg
       |        FROM (SELECT doc_id, $ToksSql AS t FROM documents)) x,
       |       unnest(x.bg) AS u(s)),
       |fd AS (SELECT w, CAST(min(doc_id) AS BIGINT) AS first_doc FROM sh GROUP BY w),
       |thr AS (SELECT quantile_cont(doc_id, 0.25) AS p25,
       |               quantile_cont(doc_id, 0.5) AS p50,
       |               quantile_cont(doc_id, 0.75) AS p75 FROM documents),
       |ph AS (
       |  SELECT CASE WHEN first_doc <= p25 THEN 0
       |              WHEN first_doc <= p50 THEN 1
       |              WHEN first_doc <= p75 THEN 2
       |              ELSE 3 END AS quartile
       |  FROM fd, thr)
       |SELECT CAST(quartile AS BIGINT) AS quartile,
       |  CAST(count(*) AS BIGINT) AS n_new_terms,
       |  CAST(sum(count(*)) OVER (ORDER BY quartile) AS BIGINT) AS cum_terms
       |FROM ph
       |GROUP BY quartile
       |ORDER BY quartile""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graft.PercentileLong.percentile_long
    val thr = Tables(s, dir, "documents").agg(
      percentile_long(col("doc_id"), 0.25).as("p25"),
      percentile_long(col("doc_id"), 0.5).as("p50"),
      percentile_long(col("doc_id"), 0.75).as("p75"))
    graft.sources.TermStats(s, dir)
      .select("first_doc")
      .crossJoin(broadcast(thr))
      .select(when(col("first_doc") <= col("p25"), 0L)
        .when(col("first_doc") <= col("p50"), 1L)
        .when(col("first_doc") <= col("p75"), 2L)
        .otherwise(3L).as("quartile"))
      .groupBy("quartile").agg(count(lit(1)).as("n_new_terms"))
      .withColumn("cum_terms", sum(col("n_new_terms")).over(
        Window.orderBy("quartile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("quartile")
  }

  val all: Seq[QueryDef] = Seq(
    q15TokenStats, q16VocabTopk, q17Fingerprint, q18TextQuality, q19LangId,
    q20DedupExact, q21NgramJaccard, q40TokenCount, q47Repetition, q48SourceMix,
    q61HeavyHitters, q65Bm25, q66Perplexity, q77LexicalKnn, q82BpeMerges,
    q84BpeApply, q93ImportanceResample, q95BpeFertility, q97BigramZipf,
    q102DocKeywords, q105BoilerplateSpans, q110CurriculumSchedule,
    q115DfSpectrum, q117VocabGrowth, q118BigramPerplexity,
    q119LmDisagreement, q121CdcChunks, q122CdcSavings)
}
