package graft

import graft.operators.Components

/** connectedComponents: min-label fixpoint over pair graphs — the cluster
  * layer of the dedup pipeline (q62 wires it over the q21 pair set; this
  * spec pins the operator on constructed graphs where the answer is
  * obvious, including the long-chain shape whose diameter the pointer
  * jump exists for — plain propagation at the old maxIter=20 silently
  * returned a WRONG clustering on chains longer than 20).
  */
class ConnectedComponentsSpec extends SparkSpec {

  private def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Components.connectedComponents(pairs.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("chains, cliques, and disjoint components get their minimum id") {
    val got = cc(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),         // chain
      (10L, 11L),                           // pair
      (20L, 21L), (21L, 22L), (20L, 22L)))  // triangle
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("a 120-node chain converges within the pointer-jump round budget") {
    // plain propagation would need ~120 rounds and trip maxRounds; path
    // halving needs ~log2(120) — the default budget of 50 must be ample
    val chain = (100L until 219L).map(i => (i, i + 1))
    val got = cc(chain)
    assert(got.size == 120)
    assert(got.values.forall(_ == 100L))
  }

  test("reversed and duplicated edges change nothing") {
    val got = cc(Seq((5L, 3L), (3L, 5L), (5L, 3L), (3L, 9L)))
    assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L))
  }

  test("one Spark job per round: the changed count is the round's only action") {
    // the count also materializes the round's lazy localCheckpoint, and
    // the adjacency blocks build inside round 1's job — so a run costs
    // its rounds and nothing else (the DataFrame loop this replaced took
    // ~9 AQE stage-jobs per round on the same chain)
    import spark.implicits._
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    val (rounds, jobs) = countingJobs("cc-rounds")(
      Components.connectedComponentsInstrumented(chain)._2.length)
    assert(jobs > 0)
    assert(jobs <= rounds + 1, s"$jobs jobs for $rounds rounds")
    // and the round count itself is the log-diameter invariant, directly:
    // a 65-node chain needs ~log2(64) pointer-jump rounds + 1 stable round
    assert(rounds <= 8, s"expected <= 8 rounds on a 65-node chain, got $rounds")
  }

  test("an exhausted round budget fails loudly and leaks no persisted RDD") {
    import spark.implicits._
    val chain = (100L until 219L).map(i => (i, i + 1)).toDF("a", "b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalArgumentException] {
      Components.connectedComponents(chain, maxRounds = 2)
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }

  /** Driver-side union-find: the component minimum of every node that
    * appears in a non-null edge.
    */
  private def unionFind(edges: Seq[(Option[Long], Option[Long])]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((Some(a), Some(b)) <- edges) {
      val (ra, rb) = (find(a), find(b))
      // the smaller root wins, so every root is its set's minimum
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  test("labels equal a driver-side union-find on random graphs with messy edges") {
    import spark.implicits._
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val n = 40 + rnd.nextInt(200)
      def node(): Option[Long] =
        if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(n).toLong)
      val base = Seq.fill(n * 3 / 4)((node(), node()))
      // duplicates, reversals and self-loops of edges already drawn
      val edges = base ++ base.take(10) ++ base.takeRight(10).map(_.swap) ++
        base.take(5).map { case (a, _) => (a, a) }
      val expected = unionFind(edges).toSeq.sorted
      val got = Components.connectedComponents(
          rnd.shuffle(edges).map { case (a, b) =>
            (a.map(Long.box).orNull, b.map(Long.box).orNull)
          }.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
      assert(got == expected, s"seed $seed")
    }
  }

  test("degenerate inputs: an empty edge frame and a single edge") {
    import spark.implicits._
    val (empty, stats) = Components.connectedComponentsInstrumented(
      Seq.empty[(Long, Long)].toDF("a", "b"))
    assert(empty.collect().isEmpty)
    assert(stats.map(_._1) == Seq(0L), s"one round, nothing changed: $stats")
    assert(cc(Seq((7L, 3L))) == Map(3L -> 3L, 7L -> 3L))
  }
}
