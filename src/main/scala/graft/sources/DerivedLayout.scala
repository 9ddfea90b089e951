package graft.sources

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Content-addressed derived-dataset layouts: a dataset computed once from a
  * source table and persisted as parquet under the JVM temp root, keyed by
  * the source file's size+mtime fingerprint so a regenerated source (new
  * round, new seed) invalidates the layout instead of silently serving stale
  * data. This is the machinery behind [[BucketedEmbeddings]] (the ANN
  * bucket-partitioned store) and [[PairGraph]] (the materialized near-dup
  * pair relation) — one implementation of the stamp / atomic-build / reap
  * discipline, two layouts.
  *
  * Concurrency: two JVMs sharing the tmp root (forked tests + bench) can
  * race to build the same layout. Each builds into a process-unique
  * `.tmp-` dir and atomically renames into place; the loser of the rename
  * discards its build and reads the winner's. A half-written target is
  * never readable.
  *
  * Reference analogue: LmdbRDD's store-for-the-access-pattern role
  * (caffe-grid/src/main/scala/com/yahoo/ml/caffe/LmdbRDD.scala:36-95) —
  * data laid out once, in the shape its consumers probe it in.
  */
object DerivedLayout {

  // Keyed on the layout path, not the raw source dir: the path encodes the
  // source fingerprint, so a regenerated source at the same dir gets a fresh
  // cache entry along with its fresh layout. Tracked by SessionMemo for
  // stamp-supersession and session-close eviction.
  private val cache = SessionMemo.track(
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame])(_._1)

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Deterministic per-source location, named
    * `<version>-<kind>-<sourceKey>-<stampKey>`: `sourceKey` hashes the
    * source dir alone (so all layouts of one source are identifiable
    * siblings for pruning), `stampKey` hashes each source file's
    * size+mtime. `version` must change whenever the build logic changes —
    * stale directories from older code must never serve a read.
    */
  def layoutPath(kind: String, version: String, dir: String,
      sourceFiles: Seq[String]): String = {
    val stamp = sourceFiles.map { f =>
      val src = Paths.get(f)
      if (Files.exists(src)) s"${Files.size(src)}-${Files.getLastModifiedTime(src).toMillis}"
      else "absent"
    }.mkString(";")
    s"${sys.props("java.io.tmpdir")}/graft-layout/$version-$kind-${md5(dir).take(16)}-${md5(stamp).take(16)}"
  }

  /** The layout at `target`, building it first if absent: `build` writes
    * parquet into the supplied temp path, which is then atomically renamed
    * into place. Cached per session so repeated loads skip the footer read.
    */
  def apply(spark: SparkSession, target: String)(build: String => Unit): DataFrame =
    SessionMemo.cachedStamped(cache, spark, target)(
      synchronized { getOrBuild(spark, target, build) })

  /** The append-only precondition every delta-merge refresh assumes,
    * PROBED instead of trusted (the [[ClusterAssignment]] exactness-guard
    * discipline): true iff every old-table row survives into the new
    * table with its derivation-input content UNCHANGED. Both failure
    * modes break the disjoint-delta algebra — a dropped key leaves ghost
    * rows, and an in-place REWRITE (same key, changed content) passes a
    * key-only probe while the left-anti delta excludes it, silently
    * keeping the old content's derived rows (stale fingerprints,
    * overcounted df) under a valid stamp (the r19 ADVICE finding) — so
    * the probe matches (key, xxhash64(contentCols)) pairs and callers
    * fall back to a full rebuild when it returns false. `contentCols`
    * must list exactly the columns the layout derives from (`text` for
    * the document layouts, `embedding` for the bucketed vectors): an
    * edit to an unrelated column then correctly does NOT force a
    * rebuild. Exact up to a 2^-64 per-row xxhash64 collision.
    *
    * Survival alone still passes a DUPLICATE-KEY append (a new row
    * reusing an old key while the old row also survives): every delta
    * merge's left-anti would silently drop that row even though a rebuild
    * counts it, so the new rows carrying an old key must also number
    * exactly the old rows — under the per-table unique-key invariant,
    * exactly "old rows survive and nothing else wears their keys" (r20
    * review finding).
    * Cost: one aggregate action over both generations' (key, sig) rows,
    * tagged by generation: a key-grouped aggregate finds per key the old
    * signatures missing from the new rows and both row counts, and a
    * global one sums them. It shuffles only (key, sig) pairs — the content
    * columns are read once per side to hash — far below the
    * explode/shuffle cost of any rebuild it guards.
    */
  private[graft] def appendOnly(spark: SparkSession, newDir: String,
      oldDir: String, table: String, key: String,
      contentCols: Seq[String]): Boolean = {
    import org.apache.spark.sql.functions.{array_except, coalesce, col, collect_set, count_if, lit, size, sum, when, xxhash64}
    def tagged(dir: String, old: Boolean) = graft.Tables(spark, dir, table)
      .select(col(key), xxhash64(contentCols.map(col): _*).as("sig"), lit(old).as("old"))
    val perKey = tagged(oldDir, old = true).unionByName(tagged(newDir, old = false))
      .groupBy(key)
      .agg(
        size(array_except(collect_set(when(col("old"), col("sig"))),
          collect_set(when(!col("old"), col("sig"))))).as("missing"),
        count_if(col("old")).as("olds"),
        count_if(!col("old")).as("news"))
    // an old row keyed null matches nothing: it counts as missing
    val totals = perKey.agg(
      coalesce(sum(when(col(key).isNull, col("olds")).otherwise(col("missing"))), lit(0L)),
      coalesce(sum("olds"), lit(0L)),
      coalesce(sum(when(col("olds") > 0, col("news"))), lit(0L))).head()
    totals.getLong(0) == 0 && totals.getLong(2) == totals.getLong(1)
  }

  private def getOrBuild(spark: SparkSession, target: String,
      build: String => Unit): DataFrame = {
    val targetPath = Paths.get(target)
    if (!Files.exists(targetPath.resolve("_SUCCESS"))) {
      val tmp = Paths.get(
        s"$target.tmp-${ProcessHandle.current().pid()}-${System.nanoTime()}")
      build(tmp.toString)
      try Files.move(tmp, targetPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: java.nio.file.FileSystemException =>
          // another JVM won the race: use its completed layout
          if (Files.exists(targetPath.resolve("_SUCCESS"))) deleteRecursively(tmp)
          else throw e
      }
      pruneStaleSiblings(targetPath)
    }
    Parquet.read(spark, target)
  }

  /** Remove older layouts of the SAME source (different stamp) and any
    * leftover `.tmp-` build dirs for it — without this, every source
    * regeneration mints a new fingerprinted directory and the tmp root
    * grows without bound across rounds.
    */
  private def pruneStaleSiblings(target: java.nio.file.Path): Unit = {
    val name = target.getFileName.toString
    // "<version>-<kind>-<sourceKey>-" — everything up to the stamp key
    val sourcePrefix = name.take(name.lastIndexOf('-') + 1)
    val parent = target.getParent
    if (parent != null && Files.isDirectory(parent)) {
      val stream = Files.list(parent)
      try stream.forEach { p =>
        val n = p.getFileName.toString
        // a `.tmp-` dir may be another JVM's IN-PROGRESS build of this same
        // layout (it lost or hasn't reached the rename yet) — only reap a
        // build of THIS source (prefix match; never another source's live
        // build) and only once clearly abandoned: a long parquet write
        // touches files inside `_temporary`, leaving the top-level dir's
        // mtime at build start, so staleness is judged on the NEWEST mtime
        // anywhere in the subtree. The walk races with the other JVM's
        // writes/deletes: Files.list streams throw UncheckedIOException
        // (not IOException) when an entry vanishes mid-walk, so the guard
        // is NonFatal — any failure to probe means "not stale".
        val isStaleTmp = n.startsWith(sourcePrefix) && n.contains(".tmp-") &&
          (try System.currentTimeMillis() - newestMtime(p) > 30 * 60 * 1000L
           catch { case NonFatal(_) => false })
        val isOldStamp = !n.contains(".tmp-") && n != name && n.startsWith(sourcePrefix)
        if (isStaleTmp || isOldStamp)
          try deleteRecursively(p)
          catch { case NonFatal(_) => () } // another JVM may still hold it
      } finally stream.close()
    }
  }

  /** Most recent modification time of any entry in the subtree rooted at
    * `p` — the liveness signal for an in-progress distributed write.
    */
  private def newestMtime(p: java.nio.file.Path): Long = {
    var newest = Files.getLastModifiedTime(p).toMillis
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val stream = Files.list(p)
      try stream.forEach(c => newest = math.max(newest, newestMtime(c)))
      finally stream.close()
    }
    newest
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val stream = Files.list(p)
      try stream.forEach(deleteRecursively)
      finally stream.close()
    }
    Files.deleteIfExists(p)
  }
}
