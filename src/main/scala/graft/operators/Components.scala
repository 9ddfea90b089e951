package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Connected components over a pair relation — the step between near-dup
  * PAIRS (q21/q31/q39/q46 output) and a deduplicated corpus: pairs form
  * clusters, each cluster keeps one canonical document. q62 exposes it
  * oracle-checked against a recursive transitive-closure CTE.
  *
  * Algorithm: min-label propagation WITH pointer jumping (path halving).
  * Every node starts labeled with itself; each round (a) takes the min
  * label across the symmetrized edge set, then (b) relabels through the
  * label's own label — lbl' = lbl(lbl) — so chain length halves per round
  * and convergence needs O(log diameter) rounds, not O(diameter). That
  * matters beyond adversarial inputs: a low-jaccard near-dup graph is NOT
  * all tight cliques — measured at sf0.01/threshold 0.06 the q21 pair
  * graph carries long similarity chains that plain propagation walks for
  * tens of rounds. The round budget is fail-loud: silently returning
  * unconverged labels (the pre-round-8 behavior at maxIter) is a wrong
  * clustering, not a slow one.
  *
  * Plan shape (GraphX's layout, Gonzalez et al., OSDI 2014): the adjacency
  * is partitioned ONCE. The non-null edges are symmetrized, hash-partitioned
  * by node id over the session's shuffle width, and each partition becomes
  * one CSR [[Block]] — sorted distinct node ids, offsets, deduplicated
  * neighbours — persisted for the run. Vertex state is one label array per
  * partition, aligned index-for-index with its block, so a round combines
  * state and adjacency with `zipPartitions` and the edges never shuffle
  * again. A round is ONE Spark job of four stages: labels travel to
  * neighbours (`reduceByKey(min)`, combined map-side); the pointer jump
  * asks each candidate label's owning partition for that label's own label
  * and gets the answer back by binary search in the owning block; the
  * changed count — the round's only action — also materializes the round's
  * lazy `localCheckpoint`, which cuts the lineage so round k's plan does
  * not carry rounds 1..k-1. A 120-node chain runs 7 rounds in 7 jobs
  * (ConnectedComponentsSpec pins jobs ≤ rounds + 1).
  *
  * Why not DataFrames: the same round written as joins and aggregates
  * (through round 22) is correct, but under AQE every exchange and
  * broadcast becomes its own stage job — ~9 jobs per round, 64 for the
  * 7 rounds of a 120-node chain — and every join re-shuffles the edge set
  * it already partitioned last round. SCALE.md
  * §"Connected components: aligned blocks vs the DataFrame loop" has the
  * interleaved A/B and the round-growth table.
  *
  * Determinism: min() over labels is order-independent — the fixpoint
  * (every node labeled with its component's minimum id) is the same
  * regardless of execution order, so downstream canonical choices are
  * stable.
  */
object Components {

  private val Integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)

  /** One partition's slice of the symmetrized adjacency in CSR form: the
    * neighbours of `ids(i)` are `nbrs(offsets(i) until offsets(i + 1))`.
    */
  private final case class Block(ids: Array[Long], offsets: Array[Int],
      nbrs: Array[Long]) {
    def indexOf(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
  }

  /** One partition's labels, aligned with its block's `ids` (the ids ride
    * along so the final labels outlive the unpersisted blocks), plus how
    * many of them the round that produced them moved.
    */
  private final case class Labels(ids: Array[Long], labels: Array[Long],
      changed: Long)

  /** Components of the undirected graph given by `edges` (cols `a`, `b`,
    * integral node ids). Edges with a null endpoint are ignored. Returns
    * (id, component) where component = min node id reachable.
    */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 50): DataFrame =
    connectedComponentsInstrumented(edges, maxRounds)._1

  /** Instrumented twin for specs and scale measurements: the same single
    * implementation, also returning per-round (changedCount, wallMillis)
    * so rounds-to-converge vs graph scale is measurable instead of
    * asserted — the O(log diameter) claim is a SCALE.md row.
    */
  private[graft] def connectedComponentsInstrumented(edges: DataFrame,
      maxRounds: Int = 50): (DataFrame, Seq[(Long, Long)]) = {
    val spark = edges.sparkSession
    val a = edges.schema("a")
    val b = edges.schema("b")
    require(Seq(a, b).forall(f => Integral.contains(f.dataType)),
      s"connectedComponents needs integral node ids, got ${a.dataType}/${b.dataType}")
    // the (id, component) schema the DataFrame formulation produced: both
    // columns come from the union of `a` and `b`
    val idType = Seq(a.dataType, b.dataType).maxBy(_.defaultSize)
    val nullable = a.nullable || b.nullable
    val part = new HashPartitioner(spark.sessionState.conf.numShufflePartitions)
    val pairs = edges
      .select(col("a").cast(LongType), col("b").cast(LongType))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .queryExecution.toRdd
      .flatMap { r =>
        val (x, y) = (r.getLong(0), r.getLong(1))
        Iterator((x, y), (y, x))
      }
    val blocks = pairs.partitionBy(part)
      .mapPartitions(it => Iterator(buildBlock(it)), preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels: RDD[Labels] =
      blocks.mapPartitions(_.map(bl => Labels(bl.ids, bl.ids, 0L)))
    val roundStats = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var converged = false
    try {
      var changed = 1L
      var rounds = 0
      while (changed > 0) {
        rounds += 1
        val roundStart = System.nanoTime()
        require(rounds <= maxRounds,
          s"connectedComponents did not converge in $maxRounds rounds")
        val prev = labels
        labels = round(blocks, prev, part)
        labels.localCheckpoint()
        changed = labels.map(_.changed).fold(0L)(_ + _)
        prev.unpersist(blocking = false) // the checkpoint cut the lineage to it
        roundStats += ((changed, (System.nanoTime() - roundStart) / 1000000L))
      }
      converged = true
    } finally {
      blocks.unpersist(blocking = false)
      if (!converged) labels.unpersist(blocking = false)
    }

    val rows = labels.flatMap(l =>
      l.ids.indices.iterator.map(i => Row(l.ids(i), l.labels(i))))
    val out = spark.createDataFrame(rows, StructType(Seq(
      StructField("id", LongType, nullable),
      StructField("component", LongType, nullable))))
    val typed =
      if (idType == LongType) out
      else out.select(col("id").cast(idType).as("id"),
        col("component").cast(idType).as("component"))
    (typed, roundStats.toSeq)
  }

  /** One round — min over neighbour labels, then the pointer jump — as a
    * lazy RDD whose single action is the caller's changed count.
    */
  private def round(blocks: RDD[Block], labels: RDD[Labels],
      part: HashPartitioner): RDD[Labels] = {
    // every node sends its label to each neighbour; graphs are symmetric,
    // so the minimum a node receives is the min over its neighbours
    val nmin = blocks.zipPartitions(labels) { (bs, ls) =>
      val bl = bs.next(); val l = ls.next()
      bl.ids.indices.iterator.flatMap { i =>
        val lab = l.labels(i)
        (bl.offsets(i) until bl.offsets(i + 1)).iterator.map(j => (bl.nbrs(j), lab))
      }
    }.reduceByKey(part, math.min(_, _))
    // hop = min(own label, neighbour minimum); the edges are symmetric, so
    // every message lands on a node of the receiving block. Each stage
    // below recomputes hop from the shuffle output it reads rather than
    // persisting it, so a round caches nothing but its checkpoint.
    val hop = blocks.zipPartitions(labels, nmin) { (bs, ls, ms) =>
      val bl = bs.next()
      val h = ls.next().labels.clone()
      ms.foreach { case (u, m) =>
        val i = bl.indexOf(u)
        if (m < h(i)) h(i) = m
      }
      Iterator((bl, h))
    }
    // pointer jump, ask: each partition asks once per distinct candidate
    // label c (not its own node's id) for hop(c), keyed to c's owner
    val asks = hop.mapPartitionsWithIndex { (p, it) =>
      val (bl, h) = it.next()
      candidates(bl, h).iterator.map(c => (c, p))
    }.partitionBy(part)
    // answer: the owner looks c up in its block; keyed by the asking
    // partition index p, which HashPartitioner sends to partition p
    val answers = hop.zipPartitions(asks) { (hs, as) =>
      val (bl, h) = hs.next()
      as.map { case (c, p) => (p, (c, h(bl.indexOf(c)))) }
    }.partitionBy(part)
    hop.zipPartitions(labels, answers) { (hs, ls, as) =>
      val (bl, h) = hs.next()
      val old = ls.next().labels
      val cs = candidates(bl, h)
      val hc = new Array[Long](cs.length)
      as.foreach { case (_, (c, v)) => hc(java.util.Arrays.binarySearch(cs, c)) = v }
      var changed = 0L
      val next = Array.tabulate(h.length) { i =>
        val c = h(i)
        val v =
          if (c == bl.ids(i)) c
          else math.min(c, hc(java.util.Arrays.binarySearch(cs, c)))
        if (v != old(i)) changed += 1
        v
      }
      Iterator(Labels(bl.ids, next, changed))
    }
  }

  /** The sorted distinct labels in `h` that are not their own node's id —
    * the pointer jump's questions for one partition.
    */
  private def candidates(bl: Block, h: Array[Long]): Array[Long] =
    sortedDistinct(h.indices.iterator.filter(i => h(i) != bl.ids(i)).map(h).toArray)

  /** Sorts `xs` in place and returns its distinct values. */
  private def sortedDistinct(xs: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(xs)
    var n = 0
    var i = 0
    while (i < xs.length) {
      if (n == 0 || xs(i) != xs(n - 1)) { xs(n) = xs(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(xs, n)
  }

  /** CSR block of one partition's (src, dst) pairs: counting sort by src
    * into `ids` order, then each neighbour run sorted and deduplicated.
    */
  private def buildBlock(pairs: Iterator[(Long, Long)]): Block = {
    val src = Array.newBuilder[Long]
    val dst = Array.newBuilder[Long]
    pairs.foreach { case (x, y) => src += x; dst += y }
    val s = src.result()
    val d = dst.result()
    val uniq = sortedDistinct(s.clone())
    val start = new Array[Int](uniq.length + 1)
    val slot = s.map(x => java.util.Arrays.binarySearch(uniq, x))
    slot.foreach(k => start(k + 1) += 1)
    for (k <- uniq.indices) start(k + 1) += start(k)
    val cursor = start.clone()
    val nbrs = new Array[Long](s.length)
    for (e <- s.indices) { nbrs(cursor(slot(e))) = d(e); cursor(slot(e)) += 1 }
    val offsets = new Array[Int](uniq.length + 1)
    var w = 0
    for (k <- uniq.indices) {
      java.util.Arrays.sort(nbrs, start(k), start(k + 1))
      offsets(k) = w
      for (j <- start(k) until start(k + 1))
        if (w == offsets(k) || nbrs(j) != nbrs(w - 1)) { nbrs(w) = nbrs(j); w += 1 }
    }
    offsets(uniq.length) = w
    Block(uniq, offsets, java.util.Arrays.copyOf(nbrs, w))
  }

  /** Canonicalize a document set against a near-dup pair relation:
    * documents in no pair keep themselves; each cluster keeps ONE member
    * chosen by the keep policy — its minimum id (`keepScores = None`,
    * provenance-stable: the canonical id never changes as a cluster
    * grows), or the score argmax with ties to the smaller id
    * (`keepScores = Some(frame)` with columns (id, score) — q113's
    * keep-best rule; q113 is the meter that prices the choice, this is
    * the lever it justifies). A keep-best caller must supply a score for
    * every clustered id (near_dedup scores the flowing docs themselves,
    * so the frame is total by construction); an id missing from the
    * score frame would silently survive. Returns the surviving rows of
    * `docs`.
    */
  def canonicalize(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id",
      keepScores: Option[DataFrame] = None): DataFrame = {
    val drop = dropSet(connectedComponents(pairs), keepScores)
    docs.join(drop.select(col("id").as(idCol)), Seq(idCol), "left_anti")
  }

  /** The non-canonical member set of a labeled (id, component) relation
    * under a keep policy — shared by [[canonicalize]] (live components)
    * and the layout-consuming queries (stamped ClusterAssignment labels,
    * q63/q114). keep-min keeps the member whose id IS the label (labels
    * are the component's minimum id, see [[connectedComponents]]): a
    * filter, not an argmin group joined back to the labels, whose two
    * shuffles made AQE's broadcast-or-shuffle choice for the caller's
    * anti join hang on which stage finished first; keep-best is a
    * row_number window over the labeled slice (tiny: docs-in-pairs rows,
    * never corpus-keyed — q113's plan shape).
    */
  private[graft] def dropSet(comp: DataFrame,
      keepScores: Option[DataFrame]): DataFrame = keepScores match {
    case None =>
      comp.filter(col("id") =!= col("component")).select(col("id"))
    case Some(sc) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("component")
        .orderBy(col("score").desc, col("id"))
      comp.join(sc, "id")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") > 1)
        .select(col("id"))
  }
}
