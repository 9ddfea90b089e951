package graft.jobs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The declarative curation pipeline — the `stages: [...]` job form that
  * gives the LLM-data operators the same config-as-schema surface the
  * train/features/test lifecycle got in round 8 (reference analogue: the
  * prototxt declares the WHOLE dataflow, not just the solver —
  * caffe-grid/.../CaffeOnSpark.scala:27-84 wires source → transform →
  * sinks from the declaration alone). A 100 TB curation run declares
  * exactly this chain:
  *
  * {{{
  * { "source": {"path": "/data", "table": "documents"},
  *   "output": "/out", "outputFormat": "parquet",
  *   "stages": [
  *     {"op": "exact_dedup"},
  *     {"op": "near_dedup", "threshold": 0.5},
  *     {"op": "decontaminate", "holdoutSource": "src19", "minShared": 2},
  *     {"op": "pii_scrub"},
  *     {"op": "quality_filter", "minScore": 0.0},
  *     {"op": "temperature_mix", "alpha": 0.5, "budgetDocs": 300},
  *     {"op": "pack", "tokenBudget": 256} ] }
  * }}}
  *
  * Each stage is a transform over the flowing documents frame and reuses
  * the REGISTERED operator machinery (one implementation, oracle-checked
  * where registered): exact_dedup = q20's canonical-per-content-hash;
  * span_dedup = q67's ExactSubstr duplicated-span removal (text rewrite);
  * near_dedup = q21 pairs → q62/q63 pointer-jumped components →
  * canonicalize; embed_near_dedup = q46's banded sign-LSH candidates +
  * exact-dot verify → the same components/canonicalize (duplication in
  * meaning-space); decontaminate = q51's capped bipartite posting lists;
  * pii_scrub = q55's fused native RegexScrub; quality_filter = q56's
  * published linear model; char_concentration_filter = q120's Simpson
  * concentration gibberish gate (kept set = the unflagged set, shared
  * concentrationCol definition); perplexity_filter = q66's corpus-trained
  * unigram-LM scorer, keeping docs at or below a declared perplexity
  * percentile; curriculum_order = q110's exact difficulty-quartile
  * bucketing written as a per-doc `phase` column (the schedule a
  * curriculum-ordered run consumes); stratified_sample = q49's consistent-hash
  * gates; importance_resample = q93's DSIR selection (hashed-bigram
  * importance weights vs a declared target slice, derandomized Gumbel
  * top-budget sampling); temperature_mix = q57's share^α weights applied as per-language
  * consistent-hash keep rates; assign_split = q68's cluster-keyed
  * leakage-safe train/val/test gate; chunk = q69's tail-covering sliding
  * windows (terminal: documents → training sequences); pack = q50's
  * shard-keyed window packer; multimodal_join = reference J1's
  * image×caption equi-join (media side joined onto the flowing corpus by
  * id, provenance columns riding through); whiten = ml.Whitening's PCA
  * decorrelation over the joined embedding column (q90's second-moment
  * pass + driver eigensolve + map-only rotation); quantize = q85's SQ8
  * scalar quantization persisting (codes, qscale) in the embedding
  * column's place — the storage tier q86 audits; pq_encode = q92's
  * trained-codebook PQ packing the vector into one 32-bit pq_code
  * against the persisted per-corpus sub-codebooks; image_near_dedup = q71's
  * dHash-banded pairs → the same components/canonicalize (duplication in
  * pixel-space); semantic_dedup = q74's SemDeDup (k-means cells →
  * within-cell pair dots → drop the higher-centroid-similarity member —
  * duplication in embedding-space, the paraphrase complement to
  * near_dedup's token-space pass); blocklist_filter = q94's C4-style
  * word filter (drop docs hitting a declared term blocklist,
  * token-exact); repetition_filter = q96's Gopher repetition rules (drop
  * docs dominated by repeated n-grams — q96's keep side).
  *
  * Scale notes: every stage keeps its source operator's plan shape —
  * map-only where the operator is map-only (scrub, filters, sampling),
  * capped/banded where it joins (dedup, decontaminate), dimension-sized
  * driver state (temperature_mix collects |languages| counts, nothing
  * else). No stage collects document rows.
  *
  * The composition-time rule: a chain is composed lazily and written
  * once, but some stages must run a Spark action on their input while
  * they are composed (a collected LM or count table, eager
  * connected-components rounds — [[readsInputAtComposition]] lists them).
  * Such an action runs every upstream stage, and without a cache the
  * final write runs them all again. So [[apply]] persists those stages'
  * input once (MEMORY_AND_DISK) and the stage reads only the cached flow;
  * no stage persists its input itself. The persisted frame carries an
  * added marker column, dropped from the stage's output: the cache
  * manager substitutes an InMemoryRelation into any later plan whose
  * canonicalized subtree matches the persisted one, and an identity
  * projection canonicalizes away, so persisting a (possibly bare-scan)
  * flow directly would hijack every other query over the same table for
  * the session's lifetime, erasing pushed filters and join-size estimates
  * (observed flipping q77's broadcast join to a sort-merge join). A
  * schema change cannot canonicalize away. [[run]] unpersists the inputs
  * its chain persisted once the chain is written; a caller of [[apply]]
  * releases them itself.
  */
object CurationStages {

  /** Ops and their accepted parameter keys — parse-time validation
    * surface (JobConfig rejects unknown ops/params before cluster work).
    */
  val Ops: Map[String, Set[String]] = Map(
    "exact_dedup" -> Set.empty,
    "span_dedup" -> Set("spanTokens"),
    "near_dedup" -> Set("threshold", "canonical"),
    "embed_near_dedup" -> Set("embeddings", "idCol", "embeddingCol", "dim",
      "bands", "bitsPerBand", "minDot"),
    "image_near_dedup" -> Set("maxHamming"),
    "semantic_dedup" -> Set("embeddings", "idCol", "embeddingCol",
      "clusters", "minDot"),
    "multimodal_join" -> Set("embeddings", "idCol", "embeddingCol", "how",
      "broadcast"),
    "whiten" -> Set("embeddingCol"),
    "quantize" -> Set("embeddingCol"),
    "pq_encode" -> Set("embeddingCol"),
    "decontaminate" -> Set("holdoutSource", "minShared"),
    "blocklist_filter" -> Set("terms"),
    "repetition_filter" -> Set.empty,
    "pii_scrub" -> Set.empty,
    "quality_filter" -> Set("minScore"),
    "char_concentration_filter" -> Set("maxConcentration"),
    "perplexity_filter" -> Set("maxPercentile", "vocabSize", "order"),
    "stratified_sample" -> Set("rates", "default"),
    "importance_resample" -> Set("budgetDocs", "targetSources"),
    "temperature_mix" -> Set("alpha", "budgetDocs"),
    "assign_split" -> Set("trainPct", "valPct", "threshold", "splitFrom"),
    "chunk" -> Set("chunkTokens", "stride"),
    "pack" -> Set("tokenBudget"),
    "bpe_annotate" -> Set("mergesFrom"),
    "keyword_annotate" -> Set("topK", "statsFrom"),
    "curriculum_order" -> Set("vocabSize"))

  /** The n-gram pair relation's jaccard floor
    * ([[graft.queries.TextOps.ngramJaccardPairs]] filters at 0.06 before
    * any threshold the stage declares): a near_dedup threshold below it
    * cannot be honored, so JobConfig refuses one at parse time instead of
    * silently clamping.
    */
  val NearDedupFloor = 0.06

  /** Whether `stage` runs a Spark action on its input while the chain is
    * being composed (see the object scaladoc's composition-time rule):
    * near_dedup and image_near_dedup (their connected-components rounds
    * run eagerly over pairs derived from the flow), whiten (mean and
    * covariance passes), importance_resample and curriculum_order (their
    * LMs collect), temperature_mix (per-language counts collect),
    * perplexity_filter (order 1 builds the unigram scorer's tokenized
    * corpus up front — [[graft.Caches.persistNow]]; order 2 collects the
    * bigram scorer's driver-side table), assign_split with
    * `splitFrom: flow` (components again) and bpe_annotate with
    * `mergesFrom: flow` (the merge table learns on the driver). embed_near_dedup and semantic_dedup also run actions at
    * composition, but over the embeddings table only — never over the
    * flow — so they are not in the set. CurationSpec pins the set against
    * measured composition-time reads.
    */
  private[graft] def readsInputAtComposition(stage: StageSpec): Boolean =
    stage.op match {
      case "near_dedup" | "image_near_dedup" | "whiten" |
          "importance_resample" | "curriculum_order" | "temperature_mix" |
          "perplexity_filter" => true
      case "assign_split" => stage.strOr("splitFrom", "flow") == "flow"
      case "bpe_annotate" => stage.strOr("mergesFrom", "flow") == "flow"
      case _ => false
    }

  /** Marker column under a composition-time persist (object scaladoc). */
  private val FlowMarker = "__flow"

  /** One stage over `docs`. A stage in the composition-time set gets its
    * input persisted here; the caller releases it (`Caches.clearAll`, or
    * [[run]], which releases what its chain persisted).
    */
  def apply(docs: DataFrame, stage: StageSpec,
      embeddingsDefault: Option[String] = None,
      sourceDirDefault: Option[String] = None): DataFrame =
    tracked(docs, stage, embeddingsDefault, sourceDirDefault, _ => ())

  /** [[apply]], handing each frame it persists to `persisted`. */
  private def tracked(docs: DataFrame, stage: StageSpec,
      embeddingsDefault: Option[String], sourceDirDefault: Option[String],
      persisted: DataFrame => Unit): DataFrame =
    if (readsInputAtComposition(stage)) {
      val flow = docs.withColumn(FlowMarker, lit(true))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      persisted(flow)
      compose(flow, stage, embeddingsDefault, sourceDirDefault).drop(FlowMarker)
    } else compose(docs, stage, embeddingsDefault, sourceDirDefault)

  private def compose(docs: DataFrame, stage: StageSpec,
      embeddingsDefault: Option[String],
      sourceDirDefault: Option[String]): DataFrame = stage.op match {

    // q20 semantics: one canonical (minimum) doc_id per exact text
    case "exact_dedup" =>
      val keep = docs
        .groupBy(md5(col("text").cast("binary")).as("__h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      docs.join(keep, Seq("doc_id"), "left_semi")

    // q67's ExactSubstr: duplicated k-token spans keep their first
    // occurrence, every other occurrence's tokens are REMOVED and the
    // text is rewritten (not a row filter — the sub-document dedup the
    // Lee et al. 2021 pipeline runs before doc-level near-dedup). Docs
    // whose text is entirely duplicated spans drop; n_chars follows the
    // rewritten text.
    case "span_dedup" =>
      val k = stage.int("spanTokens", 8)
      val cleaned = graft.queries.DedupOps.spanDeduped(docs, k)
        .select(col("doc_id"), col("kept_text"), col("n_dropped"))
      // drop only docs the dedup actually emptied (tokens removed down to
      // nothing) — a doc whose text was empty to begin with (n_dropped=0)
      // is not ExactSubstr's to cull and passes through unchanged
      docs.drop("text").join(cleaned, Seq("doc_id"))
        .filter(length(col("kept_text")) > 0 || col("n_dropped") === 0L)
        .withColumn("text", col("kept_text")).drop("kept_text", "n_dropped")
        .withColumn("n_chars", length(col("text")).cast("long"))

    // q21 pairs thresholded, q62's components, q63's canonicalize — the
    // corpus never shuffles on cluster keys (anti-join against the drop
    // set, see DedupOps.q63CanonicalCorpus). canonical selects the keep
    // policy: 'min' (default — provenance-stable ids) or 'best' (q113's
    // quality-argmax rule, the lever the q113 regret meter prices; pays
    // canonical-id re-keying on refresh, which is why it is a declared
    // choice, not the default)
    case "near_dedup" =>
      val threshold = stage.dbl("threshold", 0.5)
      val pairs = graft.queries.TextOps.ngramJaccardPairs(docs)
        .filter(col("jaccard") >= threshold)
        .select("a", "b")
      val keepScores = stage.strOr("canonical", "min") match {
        case "min" => None
        case "best" => Some(graft.queries.TextOps.textQualityFrame(docs)
          .select(col("doc_id").as("id"), col("quality_score").as("score")))
        case other => throw new IllegalArgumentException(
          s"near_dedup: canonical must be 'min' or 'best', got '$other'")
      }
      graft.operators.Components.canonicalize(docs, pairs,
        keepScores = keepScores)

    // the EMBEDDING near-dup route (q46's banded sign-LSH candidates +
    // exact-dot verify, q62's components, q63's canonicalize): for corpora
    // where duplication lives in meaning-space, not shingle-space. The
    // band geometry is the scale knob (operators/Banding scaladoc:
    // bitsPerBand ~ log2(N/bucket) keeps candidates linear) — when not
    // declared, bitsPerBand derives from the embedding count by that rule
    // (the q28/q46/q86 default since round 14), so the stage is
    // sub-quadratic out of the box; declare it only to pin an operating
    // point. Docs without an embedding row are kept.
    case "embed_near_dedup" =>
      val embPath = stage.params.get("embeddings").map(_.asInstanceOf[String])
        .orElse(embeddingsDefault)
        .getOrElse(throw new IllegalArgumentException(
          "embed_near_dedup: no 'embeddings' path declared and the job " +
            "source is not a table directory to default from"))
      val idCol = stage.strOr("idCol", "vec_id")
      val embCol = stage.strOr("embeddingCol", "embedding")
      val dim = stage.int("dim", 64)
      val bands = stage.int("bands", 4)
      val minDot = stage.dbl("minDot", 0.25)
      val emb = graft.sources.Parquet.read(docs.sparkSession, embPath)
        .select(col(idCol).as("vec_id"), col(embCol).as("embedding"))
      // derived bits respect the 63-bit long budget for any declared band
      // count (JobConfig validates declared geometry; derived geometry
      // self-caps)
      val bits =
        if (stage.params.contains("bitsPerBand")) stage.int("bitsPerBand", 4)
        else math.min(graft.queries.VectorOps.derivedBandBits(emb.count()),
          63 / bands)
      val cand = graft.operators.Banding
        .bandedCandidates(emb, "vec_id", "embedding", dim, bands, bits)
      // exact verify BEFORE clustering: candidates are hash collisions,
      // edges are verified similarity (same discipline as q31/q39/q46)
      val pairs = cand
        .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("ea")), "id_a")
        .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("eb")), "id_b")
        .filter(org.apache.spark.sql.graft.VectorExpressions
          .float_dot(col("ea"), col("eb")) > minDot)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      graft.operators.Components.canonicalize(docs, pairs)

    // The IMAGE near-dup route (q71's dHash banding + Hamming verify,
    // q62's components, q63's canonicalize): for corpora whose duplication
    // lives in pixel-space — re-encoded/re-scaled copies of the same
    // image, the logo/banner storms of web data. Radius is declared
    // because the 4×16-bit banding is EXACT only to Hamming 3 (pigeonhole);
    // beyond that recall decays and the config should say so.
    case "image_near_dedup" =>
      val maxHamming = stage.int("maxHamming", 3)
      val pairs = graft.queries.MultimodalOps
        .dhashNearDupPairs(graft.queries.MultimodalOps.dhashSignatures(docs))
        .filter(col("hamming") <= maxHamming)
        .select("a", "b")
      graft.operators.Components.canonicalize(docs, pairs)

    // q74's SemDeDup (Abbas et al. 2023) as a declared stage: cluster the
    // doc-embedding space with k-means (deterministic vec_id%k warm start,
    // one Lloyd refinement — the KMeans discipline), find near-dup pairs
    // ONLY within cells, drop the higher-centroid-similarity member, and
    // cull the corresponding documents (doc_id ≡ vec_id, the doc-embedding
    // convention). The meaning-space dedup pass that catches paraphrase
    // redundancy after exact_dedup/near_dedup have taken the token-space
    // copies. `clusters` is the IVF sizing knob; when not declared it
    // derives as k ∝ corpus/cell_target (IvfCentroids.scaleK — the
    // q74 default since round 14) so per-cell pair work stays bounded.
    case "semantic_dedup" =>
      val embPath = stage.params.get("embeddings").map(_.asInstanceOf[String])
        .orElse(embeddingsDefault)
        .getOrElse(throw new IllegalArgumentException(
          "semantic_dedup: no 'embeddings' path declared and the job " +
            "source is not a table directory to default from"))
      val idCol = stage.strOr("idCol", "vec_id")
      val embCol = stage.strOr("embeddingCol", "embedding")
      val tau = stage.dbl("minDot", 0.25)
      import graft.ml.KMeans
      val emb = graft.sources.Parquet.read(docs.sparkSession, embPath)
        .select(col(idCol).as("vec_id"), col(embCol).as("embedding"),
          lit(0).as("label"))
      // `clusters` pins an operating point; the default SIZES the codebook
      // by the IVF rule (k ∝ N/cell_target — IvfCentroids.scaleK), which
      // is what keeps the within-cell pair stage ~linear as corpora grow
      val k =
        if (stage.params.contains("clusters")) stage.int("clusters", 16)
        else graft.sources.IvfCentroids.scaleK(emb.count()).toInt
      // semdedupDrops' identical-embedding collapse is pairwise-equivalent
      // only when duplicated vectors clear the self-dot gate (its scaladoc
      // invariant: self-dot > tau). The declarative stage accepts arbitrary
      // user-declared embedding tables with no normalization guarantee, so
      // enforce the q60 corpus invariant up front — near-unit norms — with
      // one map-only projected pass; failing loudly beats silently
      // diverging from the pairwise rule on a cross-group centroid-dot tie.
      val offNorm = emb.filter(abs(org.apache.spark.sql.graft.VectorExpressions
          .float_dot(col("embedding"), col("embedding")) - 1.0d) > 0.01d).count()
      if (offNorm > 0) throw new IllegalArgumentException(
        s"semantic_dedup: $offNorm embeddings are not unit-normalized " +
          "(|x|² off 1 by > 0.01) — normalize them before this stage " +
          "(the dedup rule's identical-vector collapse requires it)")
      val c0 = KMeans.collectCentroids(KMeans.centroids(
        emb.withColumn("__k", pmod(col("vec_id"), lit(k))), "__k"))
      val c1 = KMeans.collectCentroids(KMeans.centroids(
        KMeans.assignWith(emb, c0), "cell"))
      val drops = graft.queries.DedupOps
        .semdedupDrops(graft.queries.DedupOps.semdedupFrame(emb, c1), tau)
        .select(col("vec_id").as("doc_id"))
      docs.join(drops, Seq("doc_id"), "left_anti")

    // Reference J1 (tools/Conversions.scala:78-83): the image×caption
    // equi-join on image_id that assembles one multimodal training row.
    // The media side here is the embeddings table (vec_id-keyed — the
    // caption-embedding frame of Conversions.scala:197-203); every doc
    // provenance column already flowing (split, cluster_id, ...) rides
    // through the join, so a chain can dedup → split → multimodal_join →
    // chunk and emit an image+text table with full lineage.
    // Scale: `broadcast: true` declares the media side dimension-sized
    // (a curated caption set) and pins a broadcast join; the default
    // keeps the corpus-scale doc_id-keyed hash join — both sides shuffle
    // once on the id, no wide columns before the join.
    case "multimodal_join" =>
      val embPath = stage.params.get("embeddings").map(_.asInstanceOf[String])
        .orElse(embeddingsDefault)
        .getOrElse(throw new IllegalArgumentException(
          "multimodal_join: no 'embeddings' path declared and the job " +
            "source is not a table directory to default from"))
      val idCol = stage.strOr("idCol", "vec_id")
      val embCol = stage.strOr("embeddingCol", "embedding")
      val how = stage.strOr("how", "inner")
      val media = graft.sources.Parquet.read(docs.sparkSession, embPath)
        .select(col(idCol).as("doc_id"), col(embCol).as("embedding"))
      docs.join(if (stage.bool("broadcast", false)) broadcast(media) else media,
        Seq("doc_id"), how)

    // PCA whitening of the flowing frame's embedding column (typically
    // after multimodal_join): two corpus passes (exact mean + q90's
    // second-moment aggregate), the d×d eigensolve on the driver, then a
    // map-only rotated projection — the decorrelation step that makes
    // downstream rotation-sensitive quantization (PQ/SQ8) and
    // semantic_dedup's cosine geometry behave. REPLACES the column in
    // place (float32), schema otherwise untouched; rows without an
    // embedding are left null as they arrived.
    case "whiten" =>
      val embCol = stage.strOr("embeddingCol", "embedding")
      require(docs.columns.contains(embCol),
        s"whiten: no '$embCol' column on the flow — join embeddings first " +
          "(multimodal_join) or declare embeddingCol")
      import graft.ml.Whitening
      val present = docs.filter(col(embCol).isNotNull)
      val (mean, cov) = Whitening.meanAndCovariance(present, embCol)
      val w = Whitening.whiteningMatrix(cov)
      val whitened = Whitening.whiten(docs.filter(col(embCol).isNotNull),
          mean, w, embCol, "__white")
        .withColumn(embCol, col("__white")).drop("__white")
      docs.filter(col(embCol).isNull).unionByName(whitened)

    // q85's SQ8 scalar quantization as a declared stage (typically after
    // whiten — rotation first, then coding): the embedding column is
    // REPLACED by (codes: int8-representable longs, qscale: the
    // per-vector symmetric scale) — the storage form a quantized lake
    // tier persists; q86 is the rollout audit that gates pointing dedup
    // at it. Map-only; rows without an embedding keep null codes/scale.
    case "quantize" =>
      val embCol = stage.strOr("embeddingCol", "embedding")
      require(docs.columns.contains(embCol),
        s"quantize: no '$embCol' column on the flow — join embeddings " +
          "first (multimodal_join) or declare embeddingCol")
      def xd(c: Column) = c.cast("double")
      val mx = array_max(transform(col(embCol), x => abs(xd(x))))
      docs
        .withColumn("__mx", mx)
        .withColumn("qscale", col("__mx") / lit(127))
        .withColumn("codes",
          when(col(embCol).isNull, lit(null))
            .when(col("__mx") === 0.0, transform(col(embCol), _ => lit(0L)))
            .otherwise(transform(col(embCol),
              x => floor(xd(x) / col("qscale") + lit(0.5)).cast("long"))))
        .drop(embCol, "__mx")

    // q92's trained-codebook PQ encoding as a declared stage — the
    // compression tier's ingest map (quantize's PQ sibling: SQ8 keeps
    // one code PER DIMENSION; PQ packs the whole vector into one 32-bit
    // code against the corpus-trained sub-codebooks, the 30× read
    // reduction the ANN tier scans). Codebooks come from the persisted
    // per-corpus PqCodebooks layout (trained at -ingest and HELD FIXED
    // across appends — encoding against anything else would silently
    // re-shape every stored code), so the stage requires a table-dir
    // source. The embedding column is REPLACED by pq_code; rows without
    // an embedding keep a null code.
    case "pq_encode" =>
      val embCol = stage.strOr("embeddingCol", "embedding")
      require(docs.columns.contains(embCol),
        s"pq_encode: no '$embCol' column on the flow — join embeddings " +
          "first (multimodal_join) or declare embeddingCol")
      val srcDir = sourceDirDefault.getOrElse(
        throw new IllegalArgumentException(
          "pq_encode: the job source is not a table directory — the stage " +
            "encodes against the corpus's persisted PqCodebooks layout"))
      val pqCode = graft.sources.PqCodebooks.pqCodeCol(
        graft.sources.PqCodebooks(docs.sparkSession, srcDir), col(embCol))
      docs.withColumn("pq_code",
        when(col(embCol).isNull, lit(null)).otherwise(pqCode).cast("long"))
        .drop(embCol)

    // q51 shape: drop the held-out source itself AND every training
    // document sharing >= minShared distinct 4-grams with it
    case "decontaminate" =>
      val holdout = stage.str("holdoutSource")
      val minShared = stage.int("minShared", 2)
      val contaminated = graft.queries.PipelineOps
        .contaminationOverlap(docs, holdout)
        .filter(col("shared") >= minShared)
        .select(col("train_id").as("doc_id"))
        .distinct()
      docs.filter(col("source") =!= holdout)
        .join(contaminated, Seq("doc_id"), "left_anti")

    // q94's C4-style word filter: drop any doc whose tokens hit the
    // declared blocklist (token-level exact matching — the one-pass
    // native tokens_in_set kernel; map-only)
    case "blocklist_filter" =>
      val terms = stage.params.get("terms").map(_.asInstanceOf[String]
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(graft.queries.CurationOps.Blocklist)
      docs.filter(org.apache.spark.sql.graft.TextExpressions
        .tokens_in_set(graft.functions.TextFunctions.tokens("text"), terms) === 0)

    // q96's Gopher repetition rules: drop docs dominated by repeated
    // n-grams (top-2-gram / duplicate-3-gram token fractions over the
    // shared thresholds — one definition with the audit query and the
    // stream twin; map-only via the native dup_run_stats kernel)
    case "repetition_filter" =>
      val (_, _, _, _, kept) = graft.queries.CurationOps
        .repetitionColumns(col("__t"))
      docs
        .withColumn("__t", graft.functions.TextFunctions.tokens("text"))
        .filter(kept)
        .drop("__t")

    // q55's fused rule table over the text column (map-only)
    case "pii_scrub" =>
      docs.withColumn("text",
        org.apache.spark.sql.graft.RegexScrub
          .regex_scrub(col("text"), graft.queries.CurationOps.PiiRules)("scrubbed"))

    // q120's character-distribution gate, as a filter: drop docs whose
    // Simpson collision concentration exceeds the bar (default the
    // published 5/64 gate — the kept set is exactly q120's unflagged set
    // via the shared concentrationCol definition). Map-only through the
    // native char_stats kernel; empty docs have no distribution and drop
    // (quality_filter's token-less contract, one character down).
    case "char_concentration_filter" =>
      val maxConc = stage.dbl("maxConcentration",
        graft.queries.CurationOps.CharConcGate)
      docs
        .filter(length(col("text")) > 0)
        .withColumn("__cs", org.apache.spark.sql.graft.TextExpressions
          .char_stats(col("text")))
        .filter(!(graft.queries.CurationOps.concentrationCol(col("__cs")) >
          maxConc))
        .drop("__cs")

    // q56's published linear model; keeps rows whose logit clears the bar
    case "quality_filter" =>
      val minScore = stage.dbl("minScore", 0.0)
      val (_, _, _, score) = graft.queries.CurationOps.qualityColumns(col("t"))
      docs
        .withColumn("t", graft.functions.TextFunctions.tokens("text"))
        .filter(size(col("t")) > 0 && score > minScore)
        .drop("t")

    // q66's unigram-LM perplexity scorer, as a filter: drop the
    // high-perplexity tail above the declared percentile (the CCNet
    // "keep head+middle" move — the tail is where garbled extractions
    // live). The LM is trained on the FLOWING frame itself, so the stage
    // composes: run it after dedup and the model isn't biased by
    // duplicated text. Plan shape = q66's (vocab + totals broadcast back,
    // map-side scoring, one-row percentile threshold broadcast) plus a
    // semi join on doc_id. Token-less docs have no likelihood and drop
    // (same contract as quality_filter). Percentile exactness is
    // engine-stable at dyadic values (q59's rule) — others still work,
    // they just aren't oracle-grade reproducible cross-engine.
    case "perplexity_filter" =>
      import org.apache.spark.sql.graft.PercentileLong.percentile_long
      val p = stage.dbl("maxPercentile", 0.75)
      val vocab = stage.int("vocabSize", graft.queries.TextOps.PplVocab)
      // order selects the LM: 1 = q66's unigram scorer (default), 2 =
      // q118's interpolated class-bigram scorer — the order-sensitive
      // gate that also drops shuffled/stuffed text a unigram model calls
      // fluent. Note the domain difference is the models', not the
      // stage's: the bigram scorer only scores docs with ≥ 2 tokens, so
      // under order=2 sub-bigram docs never enter the threshold pool and
      // are dropped (they carry no order signal to keep them on).
      val scored = (stage.int("order", 1) match {
        case 1 => graft.queries.TextOps.perplexityScored(docs, vocab)
          .select(col("doc_id"), col("nll_raw"))
        case 2 =>
          require(vocab == graft.queries.TextOps.PplVocab,
            "perplexity_filter: order=2 uses the fixed-vocab bigram scorer")
          graft.queries.TextOps.bigramPerplexityScoredFrame(docs)
            .select(col("doc_id"), col("nll2_raw").as("nll_raw"))
        case other => throw new IllegalArgumentException(
          s"perplexity_filter: order must be 1 or 2, got $other")
      }).select(col("doc_id"),
        floor(col("nll_raw") * lit(1000L) + lit(0.5)).cast("long").as("nll_n3"))
      val thr = scored.agg(percentile_long(col("nll_n3"), p).as("thr"))
      val keep = scored.crossJoin(broadcast(thr))
        .filter(col("nll_n3") <= col("thr")).select("doc_id")
      docs.join(keep, Seq("doc_id"), "left_semi")

    // q110's curriculum schedule as an ANNOTATION stage: each doc gains
    // its exact difficulty-quartile phase (0 easy → 3 hard) of the
    // corpus-trained LM score — q110 is the audit table a curation owner
    // reads, this writes the phase column a curriculum-ordered training
    // run actually consumes (the decision-lever twin every other
    // decision-driving audit already has: q66→perplexity_filter,
    // q94→blocklist_filter, q96→repetition_filter…). ONE scorer
    // (perplexityScored) and ONE bucketing rule (exact p25/p50/p75 over
    // the milli-quantized score, PercentileLong bounded state, broadcast
    // back — no global sort, q110's exact shape). Docs the scorer cannot
    // score (no tokens) carry a null phase — unscorable is not phase 0.
    case "curriculum_order" =>
      val vocab = stage.int("vocabSize", graft.queries.TextOps.PplVocab)
      // the ONE derivation + scorer tail shared with q110 and the stream
      // twin (TextOps.curriculumModel / curriculumScoredFrame) — trained
      // on the FLOWING frame (stage semantics: the curriculum is over
      // what survived upstream curation, not the raw corpus). The model
      // collects at composition time, so the flow arrives persisted.
      val m = graft.queries.TextOps.curriculumModel(docs, vocab)
      val phases = graft.queries.TextOps.curriculumScoredFrame(docs, m, vocab)
        .select("doc_id", "phase")
      docs.join(phases, Seq("doc_id"), "left")

    // q49's consistent-hash gate with a declared per-language rate table
    case "stratified_sample" =>
      val default = stage.int("default", 80)
      val rates = stage.ratesMap
      docs.filter(hashBucket < rateFor(rates, default))

    // q93's DSIR selection over the FLOWING frame: hashed-bigram
    // importance weights against the declared target slice, Gumbel
    // top-budget sampling without replacement (derandomized — the noise
    // draws from each doc's own fingerprint, so the stage is replayable).
    // Selection is TakeOrderedAndProject(budget) + a left-semi join back:
    // no document rows ever reach the driver. budgetDocs is an absolute
    // sample size — at 100 TB the budget is the training-token contract,
    // not a fraction, which is why the knob mirrors temperature_mix's.
    case "importance_resample" =>
      val budget = stage.int("budgetDocs", 100)
      val targets = stage.strOr("targetSources",
        graft.queries.TextOps.DsirTargets.mkString(","))
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      // reads the flow three times — the LM-training collect inside
      // importanceScored (at composition time, so the flow arrives
      // persisted), the scored right side of the semi join, and the left
      // side
      val keep = graft.queries.TextOps.importanceScored(docs, targets)
        .orderBy(col("gkey").desc, col("doc_id"))
        .limit(budget)
        .select("doc_id")
      docs.join(keep, Seq("doc_id"), "left_semi")

    // q57's share^alpha mixing weights, applied as per-language keep
    // RATES through the same consistent hash — map-only (an exact
    // per-language top-N would serialize each language through one
    // window partition at 100 TB; rate gating keeps the scan parallel
    // and the expected kept count equal to the declared budget)
    case "temperature_mix" =>
      val alpha = stage.dbl("alpha", 0.5)
      val budget = stage.int("budgetDocs")
      // |languages| rows of driver state, like q57's centroid-free scalars
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val wsum = counts.toSeq.sortBy(_._1).map { case (_, n) =>
        math.pow(n.toDouble, alpha) }.sum
      // gate per 65536, not per cent: an integer-percent gate floors any
      // language whose target rate is under 0.5% to ZERO (dropping it from
      // the mix entirely) and mis-tracks the declared budget by up to
      // ±0.5% of each language's size; at 1/65536 grain the smallest
      // nonzero share is ~0.0015% and the expected kept total tracks the
      // budget to the same resolution
      val keepRate = counts.map { case (l, n) =>
        val target = math.pow(n.toDouble, alpha) / wsum * budget
        l -> math.min(MixGrain, math.round(target / n * MixGrain))
      }
      docs.filter(hashGate(MixGrain) <
        keepRate.foldLeft(lit(0L): Column) { case (acc, (l, rate)) =>
          when(col("lang") === l, lit(rate)).otherwise(acc) })

    // q68's leakage-safe split over the FLOWING frame: near-dup clusters
    // are computed on what survived the upstream stages (pairs from the
    // same q21 machinery near_dedup uses), and the 80/10/10 gate hashes
    // the salted CLUSTER id, so near-duplicates that both survived can
    // never straddle train and test. Schema-additive (adds `split`);
    // row-preserving. `splitFrom: "corpus"` instead JOINS the persisted
    // SplitAssignment layout of the job's source table (ingest-time
    // assignment preserved through curation — the production default
    // when the corpus-level split is the contract; requires default
    // trainPct/valPct/threshold, which are the layout's own), while the
    // flow mode re-derives clusters on the surviving frame.
    case "assign_split" =>
      val trainPct = stage.int("trainPct", 80)
      val valPct = stage.int("valPct", 10)
      require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
        s"assign_split: trainPct=$trainPct valPct=$valPct must fit in 100")
      stage.strOr("splitFrom", "flow") match {
        case "corpus" =>
          val dir = sourceDirDefault.getOrElse(throw new IllegalArgumentException(
            "assign_split: splitFrom=corpus needs a table-dir job source " +
              "to locate the corpus split layout"))
          require(trainPct == 80 && valPct == 10 &&
            stage.dbl("threshold", 0.5) == 0.5,
            "assign_split: splitFrom=corpus serves the layout's own " +
              "80/10/10 @ threshold 0.5 gate — declare flow mode to " +
              "re-derive with other parameters")
          docs.join(
            graft.sources.SplitAssignment(docs.sparkSession, dir)
              .select("doc_id", "split"),
            Seq("doc_id"), "left")
            // a doc absent from the layout (source mutated mid-chain)
            // fails loudly downstream as a null split rather than
            // silently re-gating under different cluster ids
        case "flow" =>
          val pairs = graft.queries.TextOps.ngramJaccardPairs(docs)
            .filter(col("jaccard") >= stage.dbl("threshold", 0.5))
            .select("a", "b")
          val cc = graft.operators.Components.connectedComponents(pairs)
            .select(col("id").as("doc_id"), col("component"))
          val h = graft.functions.TextFunctions
            .fingerprint("concat('s', CAST(__cluster AS STRING))") % 100
          docs.join(cc, Seq("doc_id"), "left")
            .withColumn("__cluster", coalesce(col("component"), col("doc_id")))
            .withColumn("split",
              when(h < trainPct, "train")
                .when(h < trainPct + valPct, "val").otherwise("test"))
            .drop("component", "__cluster")
        case other => throw new IllegalArgumentException(
          s"assign_split: splitFrom must be 'flow' or 'corpus', got '$other'")
      }

    // q69's tail-covering sliding windows — a TERMINAL stage like pack:
    // the flow changes granularity from documents to training sequences
    // (chunk rows carry provenance via doc_id + chunk_start and inherit
    // the doc's non-text columns, e.g. a split assigned upstream)
    case "chunk" =>
      val chunkTokens = stage.int("chunkTokens", 64)
      val stride = stage.int("stride", chunkTokens * 3 / 4)
      val chunks = graft.queries.PipelineOps.chunked(docs, chunkTokens, stride)
        .withColumnRenamed("chunk_text", "text")
        .withColumnRenamed("n_tokens", "n_tok")
      chunks.join(docs.drop("text", "n_chars"), Seq("doc_id"))

    // q50's shard-keyed greedy packer
    case "pack" =>
      graft.queries.PipelineOps.packed(docs, stage.int("tokenBudget", 256))

    // q84's tokenizer application as a declared stage: learn the BPE
    // merge table FROM THE CURATED FRAME itself (a pipeline's tokenizer
    // is induced on the corpus it ships, post-dedup/filter) and annotate
    // every document with its post-BPE sequence length `n_sym` — the
    // budget downstream chunk/pack consumers actually spend in MODEL
    // tokens, where n_tok-style whitespace counts only approximate it.
    // Vocab-sized map-only derivation + one corpus join on word
    // (q84's plan shape); rows without tokens annotate 0. Default:
    // learn from the FLOWING frame (a shipped tokenizer is induced on
    // the curated corpus). `mergesFrom: "corpus"` instead LOADS the
    // stamped BpeMerges artifact of the job's source table — the
    // train-once/apply-everywhere handoff, for chains that annotate
    // many derived corpora with ONE production tokenizer.
    case "bpe_annotate" =>
      val s = docs.sparkSession
      val merges = (stage.strOr("mergesFrom", "flow") match {
        case "corpus" =>
          val dir = sourceDirDefault.getOrElse(throw new IllegalArgumentException(
            "bpe_annotate: mergesFrom=corpus needs a table-dir job source " +
              "to locate the corpus artifact"))
          graft.sources.BpeMerges(s, dir)
        case "flow" => graft.queries.TextOps.learnBpeMergesFrom(docs)
        case other => throw new IllegalArgumentException(
          s"bpe_annotate: mergesFrom must be 'flow' or 'corpus', got '$other'")
      }).map { case (_, pa, pb, _, _) => (pa, pb) }
      val sym = graft.queries.TextOps.bpeSymCounts(docs, merges)
      val perDoc = docs
        .select(col("doc_id"),
          explode(graft.functions.TextFunctions.tokens("text")).as("word"))
        .join(sym, "word")
        .groupBy("doc_id").agg(sum("n_sym").as("n_sym"))
      docs.join(perDoc, Seq("doc_id"), "left")
        .withColumn("n_sym", coalesce(col("n_sym"), lit(0L)))

    // q102's keyword extraction as an annotation stage: each doc gains a
    // `keywords` array (its top-k bigram terms in rank order). statsFrom
    // selects where df/N come from — 'flow' scores against the CURRENT
    // (possibly already-curated) doc set, q102's self-stats form;
    // 'corpus' scores against the job's source table, the frozen-stats
    // form whose streamed twin is DocumentStreams.keywordFlags (so a
    // chain can annotate a filtered subset with corpus-comparable
    // scores). ONE scorer (TextOps.keywordRanked) serves q102, this
    // stage, and the stream twin.
    case "keyword_annotate" =>
      val k = stage.int("topK", 3)
      // statsFrom=corpus reads the ingest-stamped TermStats/CorpusStats
      // layouts (r18) instead of re-exploding the source table per job —
      // same frozen-stats values (termDfFrame is the one defining
      // computation), the unseen-term df=1 rule unchanged
      val kws = stage.strOr("statsFrom", "flow") match {
        case "flow" => graft.queries.TextOps.keywordRanked(docs, None, k)
        case "corpus" =>
          val dir = sourceDirDefault.getOrElse(throw new IllegalArgumentException(
            "keyword_annotate: statsFrom=corpus needs a table-dir job source " +
              "to locate the corpus"))
          graft.queries.TextOps.keywordRankedLayout(docs,
            graft.sources.TermStats(docs.sparkSession, dir),
            graft.sources.CorpusStats.rowCount(docs.sparkSession, dir, "documents"), k)
        case other => throw new IllegalArgumentException(
          s"keyword_annotate: statsFrom must be 'flow' or 'corpus', got '$other'")
      }
      val kwAgg = kws
        .groupBy("doc_id")
        .agg(expr("transform(array_sort(collect_list(struct(rank, w))), x -> x.w)")
          .as("keywords"))
      docs.join(kwAgg, Seq("doc_id"), "left")
        .withColumn("keywords",
          coalesce(col("keywords"), array().cast("array<string>")))

    case other =>
      throw new IllegalArgumentException(s"unknown curation stage op '$other'")
  }

  /** temperature_mix keep-rate resolution: rates are expressed per 65536,
    * giving sub-basis-point grain so sub-percent languages survive.
    */
  private val MixGrain = 65536L

  /** The deterministic sampling gate: the engine's rolling hash of the
    * decimal doc id, mod `grain` — identical on re-runs and across engines.
    * stratified_sample keeps the declared-integer-percent contract
    * (grain 100); temperature_mix computes its own rates and uses
    * [[MixGrain]].
    */
  private def hashGate(grain: Long): Column =
    graft.functions.TextFunctions.fingerprint("CAST(doc_id AS STRING)") % grain

  private def hashBucket: Column = hashGate(100L)

  private def rateFor(rates: Map[String, Long], default: Int): Column =
    rates.foldLeft(lit(default.toLong): Column) { case (acc, (l, pct)) =>
      when(col("lang") === l, lit(pct)).otherwise(acc)
    }

  /** Compose the declared chain over `docs`, hand the composed frame to
    * `sink` (the chain's one write), then release every input the chain
    * persisted under the composition-time rule — blocks AND cache-manager
    * entry, even when a stage or the sink fails. Unpersisting only the
    * blocks would leave the entry behind, and an identical chain composed
    * later in the session would be planned over it: no cache, and a
    * lineage that can run through connected-components checkpoints
    * released with the first job.
    */
  def run(docs: DataFrame, stages: Seq[StageSpec],
      embeddingsDefault: Option[String] = None,
      sourceDirDefault: Option[String] = None)(sink: DataFrame => Unit): Unit = {
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try sink(stages.foldLeft(docs) { (df, st) =>
      tracked(df, st, embeddingsDefault, sourceDirDefault, persisted += _)
    })
    finally persisted.foreach(_.unpersist(blocking = true))
  }
}
