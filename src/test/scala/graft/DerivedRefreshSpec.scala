package graft

import org.apache.spark.sql.functions._

/** Append-only refresh of the derived layouts: a 100 TB lake ingests
  * deltas, and the refresh path must produce EXACTLY the layout a full
  * rebuild of the grown corpus would — including the df-cap crossings an
  * append can cause in the shingle postings. These specs construct a
  * v1 corpus, an append delta engineered to cross the cap, and pin
  * refresh ≡ rebuild at each layer (postings, pair graph, bucketed
  * embeddings, IVF delta assignment).
  */
class DerivedRefreshSpec extends SparkSpec {

  import spark.implicits._

  private val cap = queries.TextOps.DfCap // 50

  /** v1: 150 docs. Docs 0..39 share the bigram "hot zz" (df 40 ≤ cap —
    * kept in v1). Docs 100..101 are near-dups of each other. The rest are
    * unique filler. Delta: docs 1000..1019 ALSO carry "hot zz" → its df
    * becomes 60 > cap in v2 (a crossing), plus two fresh near-dups.
    */
  private def docRow(id: Long, text: String) = (id, text)

  private lazy val v1Docs: Seq[(Long, String)] = {
    val hot = (0L until 40L).map(i =>
      docRow(i, s"hot zz carrier $i filler${i}a filler${i}b filler${i}c"))
    val nd = Seq(
      docRow(100L, "the quick brown fox jumps over the lazy dog again and again"),
      docRow(101L, "the quick brown fox jumps over the lazy dog again and often"))
    val filler = (200L until 308L).map(i =>
      docRow(i, s"unique${i}a unique${i}b unique${i}c unique${i}d unique${i}e"))
    hot ++ nd ++ filler
  }

  private lazy val deltaDocs: Seq[(Long, String)] = {
    val hot = (1000L until 1020L).map(i =>
      docRow(i, s"hot zz carrier $i dfill${i}a dfill${i}b dfill${i}c"))
    val nd = Seq(
      docRow(2000L, "pack my box with five dozen liquor jugs for the winter trip"),
      docRow(2001L, "pack my box with five dozen liquor jugs for the winter haul"))
    hot ++ nd
  }

  private def writeCorpus(rows: Seq[(Long, String)], tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"refresh-$tag").toString
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private lazy val v1Dir = writeCorpus(v1Docs, "v1")
  private lazy val v2Dir = writeCorpus(v1Docs ++ deltaDocs, "v2")

  private def keyedLists(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("postings refresh == full rebuild: kept lists exact, crossings become markers") {
    val rebuilt = queries.TextOps
      .postingsFrame(Tables(spark, v2Dir, "documents"))
    val refreshed = sources.ShinglePostings.refreshFrom(
      sources.ShinglePostings(spark, v1Dir),
      Tables(spark, v2Dir, "documents")
        .join(Tables(spark, v1Dir, "documents").select("doc_id"),
          Seq("doc_id"), "left_anti"))
    val rb = keyedLists(rebuilt)
    val rf = keyedLists(refreshed)
    assert(rb.keySet == rf.keySet, "shingle universes diverged")
    // kept lists (≤ cap) must match exactly; markers must agree AS markers
    // (their stored subset is explicitly untracked)
    var keptChecked = 0
    var markers = 0
    rb.foreach { case (fp, dsRebuild) =>
      val dsRefresh = rf(fp)
      if (dsRebuild.length > cap || dsRefresh.length > cap) {
        assert(dsRebuild.length > cap && dsRefresh.length > cap,
          s"fp=$fp kept/dropped disagreement: ${dsRebuild.length} vs ${dsRefresh.length}")
        markers += 1
      } else {
        assert(dsRebuild == dsRefresh, s"fp=$fp kept membership diverged")
        keptChecked += 1
      }
    }
    assert(keptChecked > 100, s"too few kept lists exercised: $keptChecked")
    // the constructed crossing actually happened: "hot zz" is a marker in
    // v2 but was kept (df 40) in v1
    assert(markers >= 1, "no cap crossing exercised — the hard case is untested")
    val v1Markers = keyedLists(sources.ShinglePostings(spark, v1Dir))
      .count(_._2.length > cap)
    assert(v1Markers == 0, "v1 should have no markers (df 40 design)")
  }

  test("pair graph from refreshed postings == pair graph rebuilt from scratch") {
    val rebuilt = queries.TextOps
      .ngramJaccardPairs(Tables(spark, v2Dir, "documents"))
      .orderBy("a", "b").collect()
    val viaRefresh = queries.TextOps.pairsFromPostings(
        sources.ShinglePostings.refreshFrom(
          sources.ShinglePostings(spark, v1Dir),
          Tables(spark, v2Dir, "documents")
            .join(Tables(spark, v1Dir, "documents").select("doc_id"),
              Seq("doc_id"), "left_anti"))
          .filter(size(col("ds")) <= cap))
      .orderBy("a", "b").collect()
    assert(rebuilt.length == viaRefresh.length && rebuilt.length >= 2,
      s"pair counts diverged: ${rebuilt.length} vs ${viaRefresh.length}")
    rebuilt.zip(viaRefresh).foreach { case (x, y) => assert(x == y) }
    // both near-dup pairs (old and delta) are present
    val keys = rebuilt.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys.contains((100L, 101L)) && keys.contains((2000L, 2001L)))
  }

  test("refreshed() lands the stamped layout a rebuild would have") {
    val viaRefresh = sources.ShinglePostings.refreshed(spark, v2Dir, v1Dir)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      sources.ShinglePostings.layoutPath(v2Dir), "_SUCCESS")))
    // the layout now serves ALL consumers: reading via the normal path
    // returns the refreshed rows (same stamped dir, no rebuild)
    val viaApply = sources.ShinglePostings(spark, v2Dir)
    assert(keyedLists(viaApply) == keyedLists(viaRefresh))
  }

  test("refreshed() merges the delta instead of rebuilding the grown corpus") {
    // corpora of their own: no other case has built their layouts
    val v1 = writeCorpus(v1Docs, "merge-v1")
    val v2 = writeCorpus(v1Docs ++ deltaDocs, "merge-v2")
    val v2Scratch = writeCorpus(v1Docs ++ deltaDocs, "merge-v2s")
    sources.ShinglePostings(spark, v1) // the previous generation's layout exists
    val viaRefresh = keyedLists(sources.ShinglePostings.refreshed(spark, v2, v1))
    // a rebuild inverts the grown corpus's fingerprint layout, building it
    // first; the merge shingles only the delta. (Job counts cannot tell
    // the two apart at this scale: the append-only probe runs jobs of its
    // own, so the merge runs more jobs than the rebuild.)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      sources.DocFingerprints.layoutPath(v2), "_SUCCESS")), "the refresh rebuilt")
    assert(viaRefresh == keyedLists(sources.ShinglePostings(spark, v2Scratch)))
  }

  test("randomized appends: refresh == rebuild across seeded corpus/split draws") {
    // a SMALL vocabulary forces heavy shingle sharing, so random draws
    // land df values all around the cap — markers, crossings, kept lists
    // and delta-only shingles all occur without construction. Seeded:
    // deterministic across runs.
    val vocab = Vector("red", "blue", "ash", "oak")
    val rnd = new scala.util.Random(421)
    (1 to 3).foreach { draw =>
      // sized so common bigrams' df straddles the cap (16 possible
      // bigrams, ~60% presence per doc, 110–170 docs → df ≈ 65–100)
      val n = 110 + rnd.nextInt(60)
      val rows = (0L until n.toLong).map { id =>
        val len = 8 + rnd.nextInt(10)
        (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val cutIdx = (n * (0.6 + 0.3 * rnd.nextDouble())).toInt
      val a = writeCorpus(rows.take(cutIdx), s"rnd$draw-v1")
      val b = writeCorpus(rows, s"rnd$draw-v2")
      val rebuilt = keyedLists(queries.TextOps
        .postingsFrame(Tables(spark, b, "documents")))
      val refreshed = keyedLists(sources.ShinglePostings.refreshFrom(
        sources.ShinglePostings(spark, a),
        Tables(spark, b, "documents")
          .join(Tables(spark, a, "documents").select("doc_id"),
            Seq("doc_id"), "left_anti")))
      assert(rebuilt.keySet == refreshed.keySet, s"draw $draw: universes diverged")
      var markers = 0
      rebuilt.foreach { case (fp, rb) =>
        val rf = refreshed(fp)
        if (rb.length > cap || rf.length > cap) {
          assert(rb.length > cap && rf.length > cap,
            s"draw $draw fp=$fp kept/dropped disagreement")
          markers += 1
        } else assert(rb == rf, s"draw $draw fp=$fp membership diverged")
      }
      assert(markers > 0, s"draw $draw produced no markers — vocab too wide to drill the cap")
    }
  }

  test("refresh flows to the cluster layout: ClusterAssignment over refreshed postings == from-scratch") {
    // the cluster labels of an appended corpus, derived through refreshed
    // postings → PairGraph → ClusterAssignment, must equal labels
    // recomputed layout-free from the grown corpus (the layout path IS
    // what is under test)
    sources.ShinglePostings.refreshed(spark, v2Dir, v1Dir)
    val viaChain = sources.ClusterAssignment(spark, v2Dir)
      .orderBy("doc_id").collect()
    val pairsAll = queries.TextOps
      .ngramJaccardPairs(Tables(spark, v2Dir, "documents"))
    val full = operators.Components
      .connectedComponents(pairsAll.select("a", "b"))
      .select(col("id").as("doc_id"), col("component").as("cluster_full"))
    val strong = operators.Components
      .connectedComponents(pairsAll
        .filter(col("jaccard") >= sources.ClusterAssignment.StrongJaccard)
        .select("a", "b"))
      .select(col("id").as("doc_id"), col("component").as("cluster_strong"))
    val scratch = full.join(strong, Seq("doc_id"), "left")
      .orderBy("doc_id").collect()
    assert(viaChain.length == scratch.length && viaChain.length > 0)
    viaChain.zip(scratch).foreach { case (a, b) => assert(a == b) }
    // the appended near-dup pair landed in one strong cluster
    val strongOf = viaChain.map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(strongOf(2000L) == strongOf(2001L) && strongOf(2000L) >= 0L,
      "appended near-dups did not share a strong cluster")
  }

  test("refresh flows through the layout chain: SplitAssignment over refreshed postings == from-scratch") {
    // ShinglePostings.refreshed landed v2's stamped postings (previous
    // test); PairGraph and SplitAssignment build on top of that SAME
    // stamped dir — so the whole consumer chain of an appended corpus
    // derives from the delta merge, and must equal a from-scratch
    // computation of the split
    sources.ShinglePostings.refreshed(spark, v2Dir, v1Dir)
    val viaChain = sources.SplitAssignment(spark, v2Dir)
      .orderBy("doc_id").collect()
    // genuinely layout-free reference: the q68 semantics recomputed
    // directly from the corpus (ngramJaccardPairs, not PairGraph — the
    // layout path IS what is under test)
    val docs = Tables(spark, v2Dir, "documents")
    val pairs = queries.TextOps.ngramJaccardPairs(docs)
      .filter(col("jaccard") >= 0.5).select("a", "b")
    val cc = operators.Components.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("component"))
    val h = functions.TextFunctions
      .fingerprint("concat('s', CAST(cluster_id AS STRING))") % 100
    val scratch = docs.select("doc_id").join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
      .withColumn("split",
        when(h < 80, "train").when(h < 90, "val").otherwise("test"))
      .orderBy("doc_id").collect()
    assert(viaChain.length == scratch.length && viaChain.length ==
      (v1Docs.length + deltaDocs.length))
    viaChain.zip(scratch).foreach { case (a, b) => assert(a == b) }
    // the delta near-dup pair (2000, 2001) is leakage-safe: one split
    val sp = viaChain.map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(sp(2000L) == sp(2001L), "appended near-dups straddled the split")
  }

  test("doc-fingerprint refresh == rebuild: disjoint union is the whole merge") {
    val rebuilt = sources.DocFingerprints
      .fpsFrame(Tables(spark, v2Dir, "documents"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val refreshed = sources.DocFingerprints.refreshFrom(
        sources.DocFingerprints(spark, v1Dir),
        Tables(spark, v2Dir, "documents")
          .join(Tables(spark, v1Dir, "documents").select("doc_id"),
            Seq("doc_id"), "left_anti"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(rebuilt == refreshed && rebuilt.size == v1Docs.length + deltaDocs.length,
      "per-doc fingerprint sets diverged between refresh and rebuild")
  }

  test("term-df refresh == rebuild: df sums, first_doc min-merges") {
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val rebuilt = keyed(queries.TextOps
      .termDfFrame(Tables(spark, v2Dir, "documents")))
    val refreshed = keyed(sources.TermStats.refreshFrom(
      sources.TermStats(spark, v1Dir),
      Tables(spark, v2Dir, "documents")
        .join(Tables(spark, v1Dir, "documents").select("doc_id"),
          Seq("doc_id"), "left_anti")))
    assert(rebuilt == refreshed && rebuilt.nonEmpty,
      "term (df, first_doc) diverged between refresh and rebuild")
    // the constructed hot term actually exercises both merge paths:
    // "hot zz" has df 40 in v1 and 60 in v2, first seen in doc 0
    assert(rebuilt("hot zz") == ((60L, 0L)))
  }

  test("postings built by inverting DocFingerprints == postings shingled live") {
    // the ShinglePostings cold build inverts the stamped fingerprint
    // layout (one shingle pass per corpus); the result must be
    // content-identical to shingling the corpus directly — kept lists
    // exact, markers as markers
    val live = keyedLists(queries.TextOps
      .postingsFrame(Tables(spark, v2Dir, "documents")))
    val inverted = keyedLists(queries.TextOps
      .postingsFromFps(sources.DocFingerprints(spark, v2Dir)))
    assert(live == inverted,
      "inverting the fingerprint layout diverged from live shingling " +
        "(marker normalization should make the capped collect order-insensitive)")
  }

  test("cluster label merge: an edge-append-only delta merges labels exactly (and says so)") {
    // m1: one near-dup pair + unique fillers; delta: a fresh near-dup
    // pair AND a doc joining the OLD cluster — pure edge adds, no shared
    // bigram anywhere near the cap, so the merge path must run and its
    // labels must equal the from-scratch computation (old cluster keeps
    // its min label after absorbing the new member; contracted CC sees
    // only the delta)
    val m1 = Seq(
      docRow(100L, "the quick brown fox jumps over the lazy dog again and again"),
      docRow(101L, "the quick brown fox jumps over the lazy dog again and often")) ++
      (200L until 240L).map(i =>
        docRow(i, s"merge${i}a merge${i}b merge${i}c merge${i}d merge${i}e"))
    val mdelta = Seq(
      docRow(2000L, "pack my box with five dozen liquor jugs for the winter trip"),
      docRow(2001L, "pack my box with five dozen liquor jugs for the winter haul"),
      docRow(2100L, "the quick brown fox jumps over the lazy dog again and anew"))
    val a = writeCorpus(m1, "m1")
    val b = writeCorpus(m1 ++ mdelta, "m2")
    val (df, mergedPath) = sources.ClusterAssignment.refreshFrame(spark, b, a)
    assert(mergedPath, "append added edges only — the label-merge path must run")
    val got = df.orderBy("doc_id").collect().toSeq
    val expect = sources.ClusterAssignment.inlineFrame(spark, b)
      .orderBy("doc_id").collect().toSeq
    assert(got == expect, "merged labels diverged from the from-scratch CC")
    // the old cluster absorbed 2100 under its original min label
    val full = got.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full(2100L) == 100L && full(101L) == 100L && full(2000L) == 2000L)
  }

  test("cluster refresh falls back to full CC when the append vanishes edges (cap crossing)") {
    // v1→v2's "hot zz"/"zz carrier" bigrams cross the DF cap, which
    // REMOVES the old hot-doc edges from the full graph — a label merge
    // cannot split components, so the guard must route to the rebuild
    sources.ShinglePostings.refreshed(spark, v2Dir, v1Dir)
    val (df, mergedPath) = sources.ClusterAssignment.refreshFrame(spark, v2Dir, v1Dir)
    assert(!mergedPath,
      "cap crossing removed old edges — the merge path would serve wrong labels")
    val got = df.orderBy("doc_id").collect().toSeq
    val expect = sources.ClusterAssignment.inlineFrame(spark, v2Dir)
      .orderBy("doc_id").collect().toSeq
    assert(got == expect)
  }

  test("a dropped old doc fails the append-only probe and routes refreshed() to a full rebuild") {
    // "new" corpus that VIOLATES the append-only contract: doc 100 is
    // gone, doc 3000 is added. The left-anti delta cannot see the drop,
    // so an unguarded merge would keep doc 100's ghost rows (overcounted
    // df, stale fingerprints) under a valid stamp — the r18 ADVICE
    // finding. The probe must catch it and serve rebuild-exact layouts.
    val badDocs = v1Docs.filterNot(_._1 == 100L) :+
      docRow(3000L, "entirely fresh appended text with new tokens only")
    val bad = writeCorpus(badDocs, "dropped")
    assert(sources.DerivedLayout.appendOnly(spark, v2Dir, v1Dir, "documents", "doc_id", Seq("text")),
      "true append must pass the probe")
    assert(!sources.DerivedLayout.appendOnly(spark, bad, v1Dir, "documents", "doc_id", Seq("text")),
      "a dropped doc must fail the probe")

    def keyedDf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val tsGot = keyedDf(sources.TermStats.refreshed(spark, bad, v1Dir))
    val tsExpect = keyedDf(queries.TextOps.termDfFrame(Tables(spark, bad, "documents")))
    assert(tsGot == tsExpect,
      "TermStats.refreshed must rebuild (no ghost df) when the corpus dropped a doc")

    val fpGot = sources.DocFingerprints.refreshed(spark, bad, v1Dir)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val fpExpect = sources.DocFingerprints.fpsFrame(Tables(spark, bad, "documents"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fpGot == fpExpect && !fpGot.contains(100L),
      "DocFingerprints.refreshed must rebuild (no ghost doc) when the corpus dropped a doc")

    val pGot = keyedLists(sources.ShinglePostings.refreshed(spark, bad, v1Dir))
    val pExpect = keyedLists(queries.TextOps
      .postingsFrame(Tables(spark, bad, "documents")))
    assert(pGot.keySet == pExpect.keySet,
      "ShinglePostings.refreshed must rebuild when the corpus dropped a doc")
    pExpect.foreach { case (fp, ds) =>
      if (ds.length <= cap) assert(pGot(fp) == ds)
      else assert(pGot(fp).length > cap)
    }
  }

  test("an in-place REWRITE fails the probe; an unrelated-column edit does not") {
    // Same doc_id universe as v1 plus one append, but doc 100's TEXT is
    // rewritten in place. A key-only probe passes this corpus, the
    // left-anti delta excludes doc 100, and the merge keeps the OLD
    // text's fingerprints/df under a valid stamp — the r19 ADVICE
    // finding. The (key, xxhash64(text)) probe must fail it.
    val rewritten = v1Docs.map {
      case (100L, _) => docRow(100L, "completely rewritten body with disjoint tokens xqz")
      case other => other
    } :+ docRow(3001L, "an appended doc riding along with the rewrite")
    val rw = writeCorpus(rewritten, "rewrite")
    assert(!sources.DerivedLayout.appendOnly(spark, rw, v1Dir, "documents", "doc_id", Seq("text")),
      "a rewritten doc must fail the content probe")

    // ... and refreshed() must therefore serve rebuild-exact layouts:
    // the OLD text's tokens ("again"/"often" bigram partners) are gone.
    def keyedTs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val tsGot = keyedTs(sources.TermStats.refreshed(spark, rw, v1Dir).select("w", "df"))
    val tsExpect = keyedTs(queries.TextOps.termDfFrame(Tables(spark, rw, "documents"))
      .select("w", "df"))
    assert(tsGot == tsExpect,
      "TermStats.refreshed must rebuild (no stale df from the old text) on a rewrite")

    val fpGot = sources.DocFingerprints.refreshed(spark, rw, v1Dir)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val fpExpect = sources.DocFingerprints.fpsFrame(Tables(spark, rw, "documents"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fpGot == fpExpect,
      "DocFingerprints.refreshed must rebuild (fresh fingerprints for doc 100) on a rewrite")

    // An edit to a column the layouts do NOT derive from (lang) must
    // still pass the probe — contentCols scopes the signature to the
    // derivation inputs, so metadata churn never forces a rebuild.
    def writeWithLang(rows: Seq[(Long, String, String)], tag: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"refresh-$tag").toString
      rows.toDF("doc_id", "text", "lang").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    val base = v1Docs.take(20).map { case (id, t) => (id, t, "en") }
    val langEdit = base.map { case (id, t, _) => (id, t, "de") } :+
      ((5000L, "appended doc after a metadata-only edit", "en"))
    val l1 = writeWithLang(base, "lang1")
    val l2 = writeWithLang(langEdit, "lang2")
    assert(sources.DerivedLayout.appendOnly(spark, l2, l1, "documents", "doc_id", Seq("text")),
      "a non-content column edit must NOT fail the text-scoped probe")
  }

  test("a duplicate-key append fails the probe (the left-anti delta would drop the row)") {
    // New corpus keeps EVERY old row unchanged and appends a second row
    // wearing an existing doc_id with different text. The survival
    // anti-join passes (all old (key, sig) pairs survive), but every
    // delta merge's left-anti excludes the appended row while a rebuild
    // counts it — the r20 review finding; the count leg must catch it.
    val dup = v1Docs :+ docRow(100L, "a second body wearing an existing id")
    val dupDir = writeCorpus(dup, "dupkey")
    assert(!sources.DerivedLayout.appendOnly(spark, dupDir, v1Dir, "documents", "doc_id", Seq("text")),
      "a duplicate-key append must fail the probe")
    // ... and the same for an exact duplicate (same id, same text): the
    // rebuild double-counts it, so the merge must not claim exactness
    val dupExact = v1Docs :+ v1Docs.find(_._1 == 100L).get
    val dupExactDir = writeCorpus(dupExact, "dupexact")
    assert(!sources.DerivedLayout.appendOnly(spark, dupExactDir, v1Dir, "documents", "doc_id", Seq("text")),
      "an exact-duplicate append must fail the probe")
    // TermStats.refreshed must therefore rebuild and include the new body
    def keyedTs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val tsGot = keyedTs(sources.TermStats.refreshed(spark, dupDir, v1Dir).select("w", "df"))
    val tsExpect = keyedTs(queries.TextOps
      .termDfFrame(Tables(spark, dupDir, "documents")).select("w", "df"))
    assert(tsGot == tsExpect,
      "TermStats.refreshed must rebuild (count the duplicate-keyed row) on a dup-key append")
  }

  test("the append-only probe is one aggregate action; an old row keyed null fails it") {
    val (ok, jobs) = countingJobs("append-only-probe")(
      sources.DerivedLayout.appendOnly(spark, v2Dir, v1Dir, "documents", "doc_id", Seq("text")))
    assert(ok, "true append must pass the probe")
    assert(jobs == 3, s"the probe ran $jobs jobs")
    // a null key matches nothing, so every delta merge's left-anti would
    // keep the surviving row a second time
    def withNull(rows: Seq[(Option[Long], String)], tag: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"refresh-$tag").toString
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    val old = Seq((Some(1L), "a b c"), (None, "d e f"))
    val n1 = withNull(old, "null1")
    val n2 = withNull(old :+ ((Some(2L), "g h i")), "null2")
    assert(!sources.DerivedLayout.appendOnly(spark, n2, n1, "documents", "doc_id", Seq("text")),
      "an old row keyed null must fail the probe")
  }

  test("BigramLm merge declines when the old vocabulary is UNDER-FULL and the delta adds a word") {
    // 5 distinct old words (< V=16): a rebuild's top-V has room, so ANY
    // new delta word enters the rebuilt vocabulary — the outsider
    // boundary (which argues about displacement, not empty slots) is
    // insufficient and the merge must bail (r20 review finding).
    val words = (1 to 5).map(i => f"u$i%02d")
    val text = words.zipWithIndex
      .flatMap { case (w, i) => Seq.fill(25 - 3 * i)(w) }.mkString(" ")
    val u1 = writeCorpus(Seq(docRow(0L, text), docRow(1L, text)), "blmU1")
    // the delta repeats the old text AND adds a brand-new rare word pair
    val u2 = writeCorpus(Seq(docRow(0L, text), docRow(1L, text),
      docRow(100L, text + " zebra zebra")), "blmU2")
    val ((vw, cu, cb), merged) = sources.BigramLm.refreshFrame(spark, u2, u1)
    assert(!merged, "an under-full vocab + new delta word must route to rebuild")
    val (evw, ecu, _, ecb) = queries.TextOps
      .bigramModel(Tables(spark, u2, "documents"))
    assert(vw == evw && cu == ecu && cb == ecb)
    assert(vw.contains("zebra"), "the rebuild must admit the new word (room in top-V)")
    // control: the same under-full vocab with a delta of ONLY old words
    // is provably vocab-preserving — the merge path must still run
    val u3 = writeCorpus(Seq(docRow(0L, text), docRow(1L, text),
      docRow(100L, text)), "blmU3")
    val ((vw3, cu3, cb3), merged3) = sources.BigramLm.refreshFrame(spark, u3, u1)
    assert(merged3, "an under-full vocab with no new words must still merge")
    val (evw3, ecu3, _, ecb3) = queries.TextOps
      .bigramModel(Tables(spark, u3, "documents"))
    assert(vw3 == evw3 && cu3 == ecu3 && cb3 == ecb3)
  }

  test("BigramLm refresh with an empty old vocabulary rebuilds instead of crashing") {
    // Every old doc has dl < 2 (single tokens are dropped by the dl>=2
    // filter), so the stored vocabulary is EMPTY; mergeable's boundary
    // condition (vcOld.min) would throw UnsupportedOperationException
    // instead of taking the documented rebuild fallback (r19 ADVICE).
    val e1 = writeCorpus(Seq(docRow(0L, "solo"), docRow(1L, "word")), "blmE1")
    val e2 = writeCorpus(Seq(docRow(0L, "solo"), docRow(1L, "word"),
      docRow(100L, "a real multi token document arrives later")), "blmE2")
    val ((vw, cu, cb), merged) = sources.BigramLm.refreshFrame(spark, e2, e1)
    assert(!merged, "an empty old vocabulary must route to rebuild, not merge")
    val (evw, ecu, _, ecb) = queries.TextOps
      .bigramModel(Tables(spark, e2, "documents"))
    assert(vw == evw && cu == ecu && cb == ecb)
  }

  test("bucketed embeddings refresh == rebuild (delta pays the plane dots, rows identical)") {
    // v1 = first 400 embeddings, v2 = all: construct append-only dirs
    val emb = Tables(spark, sf, "embeddings")
    val e1 = java.nio.file.Files.createTempDirectory("refresh-e1").toString
    val e2 = java.nio.file.Files.createTempDirectory("refresh-e2").toString
    emb.filter(col("vec_id") < 400).coalesce(1)
      .write.mode("overwrite").parquet(s"$e1/embeddings.parquet")
    emb.coalesce(1).write.mode("overwrite").parquet(s"$e2/embeddings.parquet")
    val refreshed = sources.BucketedEmbeddings.refreshed(spark, e2, e1)
      .select(col("vec_id"), col("bucket").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // rebuild comparison: recompute buckets directly from the source
    val expect = Tables(spark, e2, "embeddings")
      .select(col("vec_id"), queries.VectorOps.lshBucket.as("bucket"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(refreshed == expect)
    assert(refreshed.size == emb.count())
  }

  test("BigramLm delta merge: an order-preserving append merges by addition (and says so)") {
    // strictly-decreasing word counts: w01 ×25 … w20 ×6 in one doc —
    // top-16 counts 25..10, outsiders 9..6, so after doubling (delta =
    // the same text under new ids) the boundary condition
    // min(vc)+outMax = 10+9 < 20 = min(mergedVc) holds and the order is
    // unchanged — the merge path MUST run and equal a full rebuild
    val words = (1 to 20).map(i => f"w$i%02d")
    val text = words.zipWithIndex
      .flatMap { case (w, i) => Seq.fill(25 - i)(w) }.mkString(" ")
    val b1 = writeCorpus(Seq(docRow(0L, text), docRow(1L, text)), "blm1")
    val b2 = writeCorpus(
      Seq(docRow(0L, text), docRow(1L, text), docRow(100L, text)), "blm2")
    val ((vw, cu, cb), merged) = sources.BigramLm.refreshFrame(spark, b2, b1)
    assert(merged, "order-preserving append must take the delta-merge path")
    val (evw, ecu, _, ecb) = queries.TextOps
      .bigramModel(Tables(spark, b2, "documents"))
    assert(vw == evw, "merged vocab diverged from rebuild")
    assert(cu == ecu, "merged class counts diverged from rebuild")
    assert(cb == ecb, "merged bigram table diverged from rebuild")
    // and the stamped layout serves the merged model through model()
    val viaLayout = sources.BigramLm.refreshed(spark, b2, b1)
    assert(viaLayout == sources.BigramLm.model(spark, b2))
  }

  test("BigramLm delta merge falls back to rebuild when the append reorders the vocabulary") {
    val words = (1 to 20).map(i => f"w$i%02d")
    val text = words.zipWithIndex
      .flatMap { case (w, i) => Seq.fill(25 - i)(w) }.mkString(" ")
    // the delta floods a formerly-rare word past the whole top-16
    val flood = Seq.fill(200)("w20").mkString(" ")
    val c1 = writeCorpus(Seq(docRow(0L, text), docRow(1L, text)), "blm3")
    val c2 = writeCorpus(
      Seq(docRow(0L, text), docRow(1L, text), docRow(100L, flood)), "blm4")
    val ((vw, cu, cb), merged) = sources.BigramLm.refreshFrame(spark, c2, c1)
    assert(!merged, "a vocabulary-reordering append must rebuild")
    val (evw, ecu, _, ecb) = queries.TextOps
      .bigramModel(Tables(spark, c2, "documents"))
    assert(vw == evw && cu == ecu && cb == ecb)
    assert(vw.head == "w20", "the flooded word must now lead the vocabulary")
  }

  test("BigramLm refresh probes append-only and rebuilds on a dropped doc") {
    val words = (1 to 20).map(i => f"w$i%02d")
    val text = words.zipWithIndex
      .flatMap { case (w, i) => Seq.fill(25 - i)(w) }.mkString(" ")
    val d1 = writeCorpus(Seq(docRow(0L, text), docRow(1L, text)), "blm5")
    val d2 = writeCorpus(Seq(docRow(0L, text), docRow(100L, text)), "blm6")
    val ((vw, cu, cb), merged) = sources.BigramLm.refreshFrame(spark, d2, d1)
    assert(!merged, "a dropped doc must fail the append-only probe")
    val (evw, ecu, _, ecb) = queries.TextOps
      .bigramModel(Tables(spark, d2, "documents"))
    assert(vw == evw && cu == ecu && cb == ecb)
  }

  test("IVF delta assignment: held codebook, assignments equal the map-only rule") {
    val emb = Tables(spark, sf, "embeddings")
    val delta = emb.filter(col("vec_id") >= 450)
    val got = sources.IvfCentroids.assignDelta(spark, sf, delta)
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val (_, c1) = sources.IvfCentroids(spark, sf)
    val expect = graft.ml.KMeans.assignWith(delta, c1)
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expect && got.size == delta.count())
  }
}
