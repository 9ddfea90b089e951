package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core relational operators (SURVEY §2.4 joins, §2.5 aggregations, §2.6
  * windows/sorts/limits/set-ops, §2.3 projections/filters), re-expressed as
  * declarative DataFrame plans so Catalyst supplies pushdown, pruning, join
  * strategy and whole-stage codegen (SURVEY §4).
  *
  * Numeric parity with the DuckDB oracle: all money/rate arithmetic is exact
  * integer-cents (see the helper block), projected to DOUBLE only in the
  * final column; divisions happen only between already-bit-identical
  * doubles/longs. Every query is totally ordered by a unique key so row
  * order matches too.
  */
object Relational {

  // --- exact money arithmetic on integer cents ------------------------------
  // The money/rate columns are 2-decimal doubles; `round(v*100)` recovers the
  // integer cents EXACTLY in both engines (v*100 lands within 1e-9 of the
  // integer, and no value sits on a rounding tie), after which every product
  // and sum is integer arithmetic — order-independent and codegen-fast. The
  // previous formulation cast each value to DECIMAL per row, which in Spark
  // routes through per-value string formatting (~3x the whole aggregation's
  // cost, measured). Sums accumulate as DECIMAL(38,0) FROM LONGS (no string
  // path, overflow-safe to 1e38 where a raw BIGINT sum of cents-products
  // would overflow near 1e19 at extreme scale); the final projection divides
  // the correctly-rounded double by the exact power of ten.
  // floor(x+0.5) == round-half-up here because every money value lands
  // within 1e-9 of its cent integer (never on a tie), and floor stays in
  // pure double/long codegen where round() allocates a BigDecimal per value
  // (~0.4 s of q1's runtime at sf0.1, measured).
  private def cents(c: Column): Column = floor(c * 100 + lit(0.5))
  private def Cents(c: String) = s"CAST(round($c * 100) AS BIGINT)"
  /** Exact sum of a cents-valued long expression, projected to DOUBLE.
    * The sum is the native 128-bit Sum128 aggregate — two-long carry
    * arithmetic inside whole-stage codegen, overflow-safe to 10^38 where a
    * raw BIGINT sum of cents-products would overflow near 10^19 at extreme
    * scale, with none of the per-row Decimal allocation of a DECIMAL(38,0)
    * sum. DuckDB mirrors with sum(BIGINT)→HUGEINT routed through VARCHAR
    * (its direct HUGEINT→DOUBLE double-rounds above 2^53, like decimals).
    */
  private def centsSum(c: Column, tens: Long): Column =
    (org.apache.spark.sql.graft.SumExpressions.sum128(c)
      .cast(DoubleType) / lit(tens.toDouble))
  private def CentsSum(x: String, tens: Long) =
    s"(CAST(CAST(sum($x) AS VARCHAR) AS DOUBLE) / $tens.0)"
  /** price·(1−disc) in integer ten-thousandths: cents × (100 − hundredths). */
  private def discPriceCents(price: Column, disc: Column): Column =
    cents(price) * (lit(100L) - cents(disc))
  private def DiscPriceCents(p: String, d: String) =
    s"(${Cents(p)} * (100 - ${Cents(d)}))"

  /** Q1 — pricing summary (TPC-H Q1 shape). Reference analogue: the
    * grouped-mean metric aggregation of CaffeOnSpark.test
    * (caffe-grid/src/main/scala/com/yahoo/ml/caffe/CaffeOnSpark.scala:396-418)
    * + word-count style hash agg (tools/Vocab.scala:31).
    * Scale notes: partial (map-side) aggregation on 6 tight group keys; the
    * shuffle moves only |groups| rows per partition. Filter + column pruning
    * reach the parquet scan. All money arithmetic is exact integer cents
    * (see header) — the projected doubles equal the exact-decimal
    * formulation's bit for bit, at ~1/3 the aggregation cost.
    */
  val q1PricingSummary: QueryDef = QueryDef.sql(
    "q1_pricing_summary",
    s"""SELECT l_returnflag, l_linestatus,
       |  ${CentsSum(Cents("l_quantity"), 100)} AS sum_qty,
       |  ${CentsSum(Cents("l_extendedprice"), 100)} AS sum_base_price,
       |  ${CentsSum(DiscPriceCents("l_extendedprice", "l_discount"), 10000)} AS sum_disc_price,
       |  ${CentsSum(s"${DiscPriceCents("l_extendedprice", "l_discount")} * (100 + ${Cents("l_tax")})", 1000000)} AS sum_charge,
       |  ${CentsSum(Cents("l_discount"), 100)} AS sum_disc,
       |  count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
    Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2000-12-01 00:00:00").cast(TimestampType))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        centsSum(cents(col("l_quantity")), 100).as("sum_qty"),
        centsSum(cents(col("l_extendedprice")), 100).as("sum_base_price"),
        centsSum(discPriceCents(col("l_extendedprice"), col("l_discount")), 10000).as("sum_disc_price"),
        centsSum(discPriceCents(col("l_extendedprice"), col("l_discount")) *
          (lit(100L) + cents(col("l_tax"))), 1000000).as("sum_charge"),
        centsSum(cents(col("l_discount")), 100).as("sum_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Q2 — filter + projection (SURVEY P1/P3: selectExpr projection
    * ImageDataFrame.scala:40-45, null/predicate filters LMDB.scala:36).
    * Raw column passthrough — no arithmetic, so doubles are bit-exact.
    * Scale notes: predicate + projection push to the scan (PushedFilters /
    * ReadSchema); no shuffle except the final order.
    */
  val q2FilterProject: QueryDef = QueryDef.sql(
    "q2_filter_project",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  AND l_quantity < 5
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast(TimestampType) &&
        col("l_shipdate") < lit("1996-04-01 00:00:00").cast(TimestampType) &&
        col("l_quantity") < 5)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Q3 — multiway equi-join + grouped revenue (SURVEY J1: the image×caption
    * pair-RDD hash join, tools/Conversions.scala:78-83, done declaratively).
    * Scale notes: nation/region/customer are small dims → explicit broadcast;
    * only the lineitem⋈orders join shuffles, on the join key. AQE can further
    * coalesce post-shuffle partitions.
    */
  val q3JoinRevenue: QueryDef = QueryDef.sql(
    "q3_join_revenue",
    s"""SELECT n_name,
       |  ${CentsSum(DiscPriceCents("l_extendedprice", "l_discount"), 10000)} AS revenue,
       |  count(*) AS n_items
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |GROUP BY n_name
       |ORDER BY n_name""".stripMargin) { (s, dir) =>
    val li = Tables(s, dir, "lineitem")
    val o = Tables(s, dir, "orders")
    val c = Tables(s, dir, "customer")
    val n = Tables(s, dir, "nation")
    val r = Tables(s, dir, "region")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r.filter(col("r_name") === "ASIA")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(
        centsSum(discPriceCents(col("l_extendedprice"), col("l_discount")), 10000).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))
  }

  /** Q4 — left-semi join (EXISTS). Spark `left_semi` keeps the probe-side row
    * once regardless of match multiplicity — no fan-out, no dedup pass.
    */
  val q4SemiJoin: QueryDef = QueryDef.sql(
    "q4_semi_join",
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE c_mktsegment = 'BUILDING'
      |  AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |              AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val c = Tables(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = Tables(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("2000-01-01 00:00:00").cast(TimestampType))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Q5 — left-anti join (NOT EXISTS): orders with no lineitems (a real,
    * populated anti set in this data — customers all have orders, so the
    * customer variant would be a vacuous check).
    */
  val q5AntiJoin: QueryDef = QueryDef.sql(
    "q5_anti_join",
    """SELECT o_orderkey, o_custkey, o_orderstatus
      |FROM orders
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val o = Tables(s, dir, "orders")
    val li = Tables(s, dir, "lineitem")
    o.join(li, col("o_orderkey") === col("l_orderkey"), "left_anti")
      .select("o_orderkey", "o_custkey", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  /** Q6 — global top-k (SURVEY W1: vocab `sortBy(-count).take(k)`,
    * tools/Vocab.scala:31-36). Spark plans TakeOrderedAndProject — per
    * partition top-k then a driver-side merge of k·P rows, never a full sort.
    */
  val q6TopK: QueryDef = QueryDef.sql(
    "q6_topk",
    """SELECT p_partkey, p_name, p_retailprice
      |FROM part
      |ORDER BY p_retailprice DESC, p_partkey
      |LIMIT 25""".stripMargin) { (s, dir) =>
    Tables(s, dir, "part")
      .select("p_partkey", "p_name", "p_retailprice")
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
      .limit(25)
  }

  /** Q7 — ranking window (SURVEY W2: zipWithIndex ranking,
    * CaffeOnSpark.scala:366, as a proper analytic window): top-3 orders per
    * customer. Scale notes: one shuffle on o_custkey; rank predicate applied
    * before any further join would be.
    */
  val q7WindowRank: QueryDef = QueryDef.sql(
    "q7_window_rank",
    """SELECT * FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables(s, dir, "orders")
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Q8 — running-sum window: per-supplier cumulative shipped quantity.
    * Integer cents inside the running sum so every prefix is exact in both
    * engines.
    */
  val q8WindowRunning: QueryDef = QueryDef.sql(
    "q8_window_running",
    s"""SELECT l_suppkey, l_orderkey, l_linenumber,
       |  (CAST(sum(${Cents("l_quantity")}) OVER (
       |    PARTITION BY l_suppkey
       |    ORDER BY l_shipdate, l_orderkey, l_linenumber
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0) AS running_qty
       |FROM lineitem
       |WHERE l_suppkey <= 10
       |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir, "lineitem")
      .filter(col("l_suppkey") <= 10)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        // running cents stay < 2^53, so the direct double cast is exact in
        // both engines (no VARCHAR route needed per prefix)
        (sum(cents(col("l_quantity"))).over(w).cast(DoubleType) / 100.0).as("running_qty"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
  }

  /** Q9 — set ops (SURVEY W3 union multiplexing, minus the locality pinning):
    * order keys that exist in `orders` but never ship a lineitem — a
    * populated EXCEPT at every scale factor (nation-key variants are vacuous
    * here: suppliers cover all nations). Integer-only → exact.
    */
  val q9SetOps: QueryDef = QueryDef.sql(
    "q9_set_ops",
    """SELECT k FROM (
      |  SELECT DISTINCT o_orderkey AS k FROM orders
      |  EXCEPT
      |  SELECT DISTINCT l_orderkey AS k FROM lineitem) t
      |ORDER BY k""".stripMargin) { (s, dir) =>
    // EXCEPT evaluated as ONE tagged-union aggregate: distinct+distinct+
    // anti-join costs two dedup shuffles and a join; tagging each side and
    // keeping keys whose max tag is 0 is a single shuffle on k with
    // map-side partials, and the same set algebra (a key's max tag is 0
    // iff it appears in orders and never in lineitem)
    val o = Tables(s, dir, "orders").select(col("o_orderkey").as("k"), lit(0).as("t"))
    val li = Tables(s, dir, "lineitem").select(col("l_orderkey").as("k"), lit(1).as("t"))
    o.unionAll(li)
      .groupBy("k").agg(max(col("t")).as("mt"))
      .filter(col("mt") === 0)
      .select("k")
      .orderBy("k")
  }

  /** Q10 — distinct aggregates (SURVEY §2.5 note: absent in reference, free in
    * Spark). Single-row, integer-only.
    *
    * Shape: one single-distinct aggregation per key column, crossJoined
    * (each is a 1-row global agg). Spark plans N distincts in one
    * aggregate via Expand — N row copies into ONE shuffle whose volume is
    * the union of all per-column distinct keys. Split, each aggregation
    * map-side-dedups its own column and shuffles only that column's
    * partial distincts; the extra scans are column-pruned parquet reads,
    * and scans are the cheap currency at 100 TB — shuffles are not.
    * Re-measured r13 (interleaved 5-rep A/B, OPTIMIZATION_r21.md): split 0.82 s
    * median vs expand 1.10 s — the r12 call stands. (Expand shows LOWER
    * aggregate task time, 1.2 vs 2.4 s, but its single wide shuffle
    * stage serializes worse than four small pipelined jobs on wall —
    * wall is what the suite pays.)
    */
  val q10Distinct: QueryDef = QueryDef.sql(
    "q10_distinct",
    """SELECT count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps,
      |  count(DISTINCT l_orderkey) AS n_orders,
      |  count(*) AS n_rows
      |FROM lineitem""".stripMargin) { (s, dir) =>
    val li = Tables(s, dir, "lineitem")
    li.agg(countDistinct(col("l_partkey")).as("n_parts"))
      .crossJoin(li.agg(countDistinct(col("l_suppkey")).as("n_supps")))
      .crossJoin(li.agg(countDistinct(col("l_orderkey")).as("n_orders")))
      .crossJoin(li.agg(count(lit(1)).as("n_rows")))
  }

  /** Q11 — group-size min/max (SURVEY A3: partition-size min/max
    * CaffeOnSpark.scala:187-199, re-keyed on data instead of partition id so
    * it is deterministic). Two-level aggregation, both with map-side partials.
    */
  val q11GroupStats: QueryDef = QueryDef.sql(
    "q11_group_stats",
    """SELECT min(c) AS min_group, max(c) AS max_group, count(*) AS n_groups
      |FROM (SELECT l_orderkey, count(*) AS c FROM lineitem GROUP BY l_orderkey) t""".stripMargin) { (s, dir) =>
    Tables(s, dir, "lineitem")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("c"))
      .agg(min(col("c")).as("min_group"), max(col("c")).as("max_group"),
        count(lit(1)).as("n_groups"))
  }

  /** Q12 — rollup (grouping-set aggregate; free via Catalyst Expand).
    * NULLS FIRST ordering matches Spark's asc default.
    */
  val q12Rollup: QueryDef = QueryDef.sql(
    "q12_rollup",
    s"""SELECT l_returnflag, l_linestatus,
       |  ${CentsSum(Cents("l_quantity"), 100)} AS sum_qty,
       |  count(*) AS n
       |FROM lineitem
       |GROUP BY ROLLUP (l_returnflag, l_linestatus)
       |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
    Tables(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(centsSum(cents(col("l_quantity")), 100).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
  }

  /** Q13 — scalar filtered aggregate (TPC-H Q6 shape): revenue-delta probe.
    * The whole plan is scan→filter→partial agg→single-row exchange; filters
    * push to parquet row groups.
    */
  val q13ScalarAgg: QueryDef = QueryDef.sql(
    "q13_scalar_agg",
    s"""SELECT ${CentsSum(s"(${Cents("l_extendedprice")} * ${Cents("l_discount")})", 10000)} AS revenue_delta,
       |  count(*) AS n
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
       |  AND l_discount >= 0.05 AND l_discount <= 0.07
       |  AND l_quantity < 24""".stripMargin) { (s, dir) =>
    Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast(TimestampType) &&
        col("l_shipdate") < lit("1998-01-01 00:00:00").cast(TimestampType) &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(
        centsSum(cents(col("l_extendedprice")) * cents(col("l_discount")), 10000).as("revenue_delta"),
        count(lit(1)).as("n"))
  }

  /** Q14 — correlated-style having: customers whose order count exceeds a
    * threshold, with their total spend. Join + two aggs.
    */
  val q14Having: QueryDef = QueryDef.sql(
    "q14_having",
    s"""SELECT o_custkey, count(*) AS n_orders,
       |  ${CentsSum(Cents("o_totalprice"), 100)} AS total_spend
       |FROM orders
       |GROUP BY o_custkey
       |HAVING count(*) >= 15
       |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
    Tables(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        centsSum(cents(col("o_totalprice")), 100).as("total_spend"))
      .filter(col("n_orders") >= 15)
      .orderBy(col("o_custkey"))
  }

  /** Q35 — approximate distinct counts via a DETERMINISTIC sketch: linear
    * counting (Whang et al., TODS 1990) over m = 2^20 buckets. The bucket
    * hash is pure BIGINT arithmetic evaluated identically by Spark and
    * DuckDB — so unlike HLL++ (whose register layout is engine-private,
    * the earlier rows-only formulation) the estimate is cross-engine exact
    * and oracle-checkable. An md5-based bucket was tried first and was the
    * single most expensive expression in the suite (~1.3 s of string/hash
    * per pass at sf0.1); the integer form is plain codegen.
    *
    * Hash shape: multiply-fold, SQUARE, multiply — all mod p = 2^31−1, so
    * every intermediate stays < 2^63 for any BIGINT key (no overflow in
    * either engine). The squaring is the load-bearing step: a purely
    * multiplicative (linear) hash is a stride orbit mod p — low-discrepancy
    * by the three-distance theorem, i.e. FEWER collisions than random,
    * which made linear counting overestimate by the collision correction
    * (+5.7% measured on sequential keys). Squaring breaks the stride
    * structure; measured estimator error vs a seeded random hash:
    * ±0.3% vs ±0.1% at n = 20k..500k, m = 2^20 — birthday-calibrated,
    * which is what the estimator assumes.
    * estimate = floor(−m·ln(1 − filled/m) + 0.5); the estimates sit far
    * from rounding ties (distance to the nearest ½ is checked in
    * QuerySpec, so a 1-ulp ln() difference cannot flip the floor).
    *
    * Scale: sketch state is capped at m bucket ids per group no matter the
    * input size — the bounded-state replacement for count(DISTINCT) whose
    * shuffle grows with the key cardinality. Load factor at the design
    * point (~1e5 distinct per group) is 0.1; m must grow before n/m nears
    * 1 (ln saturates). The exact counterpart is q10; the one-pass HLL
    * sketches stay available as native expressions (SketchExpressions).
    */
  val q35ApproxDistinct: QueryDef = {
    val m = 1L << 20
    val p = 2147483647L // 2^31 − 1 (prime); x·x ≤ (p−1)^2 < 2^63
    // the square is written x*x textually: ** / power() return DOUBLE in
    // DuckDB, which would round above 2^53
    def BucketSql(k: String, idiv: String) = {
      val x = s"((($k % $p) * 1103515245 + ($k $idiv $p) * 12345) % $p)"
      s"($x * $x % $p * 69069) % $p % $m"
    }
    def Sketch(k: String) =
      s"CAST(floor(-$m.0 * ln(1 - count(DISTINCT ${BucketSql(k, "//")}) / $m.0) + 0.5) AS BIGINT)"
    QueryDef.sql(
      "q35_approx_distinct",
      s"""SELECT l_returnflag,
         |  ${Sketch("l_partkey")} AS approx_parts,
         |  ${Sketch("l_orderkey")} AS approx_orders,
         |  count(*) AS n
         |FROM lineitem
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      // `div` = truncating integer division, == DuckDB's `//` floor
      // division on the (non-negative) key domain; all arithmetic stays in
      // BIGINT with every intermediate < 2^63
      def bucket(k: String) = expr(BucketSql(k, "div"))
      def est(filled: Column) =
        floor(lit(-m.toDouble) * log(lit(1.0) - filled.cast(DoubleType) / m.toDouble) + 0.5)
          .cast(LongType)
      // filled-bucket counts via the native bitset aggregate: same values
      // as count(DISTINCT bucket) — the oracle keeps that formulation —
      // but partial state is the m-bit bitset, not the distinct key set
      // (no Expand, shuffle carries m/8 bytes per group-partition)
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          org.apache.spark.sql.graft.LinearCount
            .linear_count_buckets(bucket("l_partkey"), m.toInt).as("fp"),
          org.apache.spark.sql.graft.LinearCount
            .linear_count_buckets(bucket("l_orderkey"), m.toInt).as("fo"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          est(col("fp")).as("approx_parts"),
          est(col("fo")).as("approx_orders"),
          col("n"))
        .orderBy("l_returnflag")
    }
  }

  val all: Seq[QueryDef] = Seq(
    q1PricingSummary, q2FilterProject, q3JoinRevenue, q4SemiJoin, q5AntiJoin,
    q6TopK, q7WindowRank, q8WindowRunning, q9SetOps, q10Distinct,
    q11GroupStats, q12Rollup, q13ScalarAgg, q14Having, q35ApproxDistinct)
}
