package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface over the events schema.
  *
  * The reference has no stream processing (SURVEY §2.10 — its queues are
  * intra-JVM pipelining); this module is the rebuild's extension capability:
  * the same event-time operators as queries.EventOps, expressed as
  * incremental plans with watermarks so they run identically over a bounded
  * directory (tests) or an unbounded source (production).
  *
  * State-store sizing at scale: both aggregations key state by
  * (window/session × group) — state is O(active windows), evicted by the
  * watermark, never O(events).
  */
object EventStreams {

  /** The events schema as a stream source expects it: ts arrives as raw
    * nanos (parquet TIMESTAMP(NANOS) read via nanosAsLong) and is rebuilt
    * to a microsecond timestamp, mirroring graft.Tables.
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Open a streaming view of an events parquet path. `maxFilesPerTrigger`
    * bounds each micro-batch to that many source files (modification-time
    * order) — the lever the specs use to drive MULTI-batch runs with late
    * arrivals instead of one batch swallowing everything.
    */
  def readEvents(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // A streaming reader needs a declared schema, but the events generator
    // has shipped two physical ts encodings over time: TIMESTAMP(NANOS)
    // (surfaces as long via nanosAsLong) and TIMESTAMP(MICROS) ntz. Probe
    // the actual footer with a footer-typed batch read — driver-side,
    // metadata only, no Spark job — and declare + normalize accordingly,
    // mirroring graft.Tables.
    // The probe throws on a directory with no files yet (a streaming
    // source may legitimately start EMPTY and fill later): fall back to
    // the raw LongType declaration the pre-probe reader used.
    val physicalTs = scala.util.Try(
        graft.sources.Parquet.read(spark, path, nanosAsLong = true).schema)
      .toOption.flatMap(_.find(_.name == "ts").map(_.dataType))
      .getOrElse(LongType)
    val schema = StructType(rawSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = physicalTs) else f))
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val df = reader.parquet(path)
    physicalTs match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Stream-stream enrichment join — the streaming form of q24's as-of
    * (SURVEY §2.10): each left event joins the right-stream rows for the
    * same user whose event time lies in `[l.ts − horizon, l.ts]`.
    *
    * Both sides carry watermarks and the join condition bounds event time
    * in both directions, which is exactly what lets Spark EVICT state: a
    * right row leaves the state store once the watermark passes
    * `r.ts + horizon`, a left row once it passes `l.ts` — state is
    * O(events inside the horizon window), never O(stream). The late bound
    * is eviction, not an input filter (measured in StreamingSpec): a late
    * row still joins whatever state eviction has not yet reclaimed —
    * cleanup runs at each batch's END — and a row later than that emits
    * nothing. Results are append-mode deterministic for a fixed batching.
    *
    * As-of semantics note: the batch q24 reduces the same bounded candidate
    * set to the latest-at-or-before row (top-1 per event). An unwindowed
    * per-event top-1 cannot emit in append mode downstream of a
    * stream-stream join, so the streaming operator ships the HORIZON
    * CANDIDATES — the batch reconciliation (or an update-mode consumer)
    * applies the final top-1, the same split every streaming as-of
    * deployment makes.
    */
  def enrichAsOf(left: DataFrame, right: DataFrame, horizon: String = "1 day",
      watermark: String = "2 hours"): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    l.join(r,
        expr("l.user_id = r.user_id") &&
          col("r.ts") <= col("l.ts") &&
          col("r.ts") >= col("l.ts") - expr(s"INTERVAL $horizon"))
      .select(col("l.event_id").as("event_id"), col("l.ts").as("ts"),
        col("l.user_id").as("user_id"), col("l.event_type").as("event_type"),
        col("r.event_id").as("ref_id"), col("r.ts").as("ref_ts"),
        col("r.value").as("ref_value"))
  }

  /** Streaming twin of q22_events_hourly: tumbling event-time window with a
    * watermark bounding state and late data.
    */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("bucket"), col("event_type"), col("n"), col("sum_value"))

  /** Windowed approximate distinct users per event type — the streaming
    * twin of q35's linear-counting sketch. The native
    * [[org.apache.spark.sql.graft.LinearCountBuckets]] aggregate is the
    * state: m/8 bytes per (window × type) in the state store, OR-merged
    * incrementally — the point of a sketch in a stream, where exact
    * count(DISTINCT) is unsupported precisely because its state is
    * unbounded. Same quadratic bucket hash and estimator as q35.
    */
  def approxDistinctUsers(events: DataFrame, m: Int = 1 << 16,
      watermark: String = "2 hours"): DataFrame = {
    val p = 2147483647L
    val x = s"(((user_id % $p) * 1103515245 + (user_id div $p) * 12345) % $p)"
    // x may be negative for a negative user_id (SQL % keeps the dividend's
    // sign) but x*x is non-negative and < 2^62, so every later step stays
    // non-negative; the final pmod makes that contract explicit rather
    // than relying on the squaring (LinearCountBuckets.update REQUIRES a
    // non-negative bucket and would abort the whole streaming query)
    val bucket = expr(s"pmod(($x * $x % $p * 69069) % $p, $m)")
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(org.apache.spark.sql.graft.LinearCount
        .linear_count_buckets(bucket, m).as("filled"))
      .select(col("w.start").as("bucket"), col("event_type"),
        floor(lit(-m.toDouble) * log(lit(1.0) - col("filled").cast("double") / m) + 0.5)
          .cast("long").as("approx_users"))
  }

  /** Streaming twin of q23_sessionize: native session_window with a 30-min
    * gap — Spark merges/evicts session state under the watermark.
    */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("s"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("s.start").as("session_start"),
        col("s.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Streaming exact dedup — the streaming twin of the batch dedup family
    * (q20): drop events whose `event_id` was already seen within the
    * watermark horizon. State is O(ids inside the watermark), evicted as
    * event time advances — the bounded-state form of `dropDuplicates` that
    * a 100 TB ingest needs (an unbounded exact dedup would accrete state
    * forever; beyond the horizon the batch job reconciles).
    */
  def dedupEvents(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Typed event row for the custom-state operators. */
  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Custom keyed state: running accumulation since the last alert, plus the
    * largest event time seen for this key — the idle clock that anchors the
    * eviction horizon (watermark must pass maxEventMs + delay, not merely
    * advance once).
    */
  final case class SpendState(accum: Double, nSinceAlert: Long, maxEventMs: Long)

  /** Parse the simple `"<n> <unit>"` duration form accepted by
    * `withWatermark` into milliseconds (units: millisecond/second/minute/
    * hour/day, singular or plural).
    */
  private[streaming] def durationMs(s: String): Long = {
    val pat = """(\d+)\s*(millisecond|second|minute|hour|day)s?""".r
    s.trim.toLowerCase match {
      case pat(n, unit) =>
        val scale = unit match {
          case "millisecond" => 1L
          case "second"      => 1000L
          case "minute"      => 60L * 1000
          case "hour"        => 3600L * 1000
          case "day"         => 24L * 3600 * 1000
        }
        n.toLong * scale
      case _ => throw new IllegalArgumentException(s"cannot parse duration: $s")
    }
  }

  /** Emitted when a user's accumulated value crosses the threshold. */
  final case class SpendAlert(user_id: Long, alert_ts: java.sql.Timestamp,
      accum: Double, n_events: Long)

  /** Custom-state operator (`flatMapGroupsWithState`): per-user cumulative
    * spend with ALERT-AND-RESET semantics — the moment a user's running
    * total crosses `threshold`, emit an alert carrying the accumulated sum
    * and event count, then reset the accumulator. Neither `session_window`
    * nor a windowed agg can express the data-dependent reset; this is the
    * arbitrary-keyed-state rung of the streaming ladder.
    *
    * State is O(active users) × O(1) per user, evicted by the event-time
    * timeout once a user has been idle for the full watermark delay — the
    * timeout anchors to the user's OWN latest event time plus the delay, so
    * a sub-threshold accumulator survives micro-batches that happen to carry
    * no events for that user (eviction depends only on event time, never on
    * micro-batch boundaries). Events are processed in ts order within each
    * micro-batch so replays are deterministic.
    */
  def spendAlerts(events: DataFrame, threshold: Double,
      watermark: String = "2 hours"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val delayMs = durationMs(watermark)
    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[SpendState]): Iterator[SpendAlert] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        var st = state.getOption.getOrElse(SpendState(0.0, 0L, Long.MinValue))
        val alerts = scala.collection.mutable.ArrayBuffer.empty[SpendAlert]
        rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
          st = SpendState(st.accum + e.value, st.nSinceAlert + 1,
            math.max(st.maxEventMs, e.ts.getTime))
          if (st.accum >= threshold) {
            alerts += SpendAlert(userId, e.ts, st.accum, st.nSinceAlert)
            st = SpendState(0.0, 0L, st.maxEventMs)
          }
        }
        state.update(st)
        // Evict when the watermark passes this user's idle horizon; the
        // max() keeps the timestamp legal (must exceed the current
        // watermark) even for keys fed only late data.
        state.setTimeoutTimestamp(
          math.max(st.maxEventMs + delayMs, state.getCurrentWatermarkMs() + 1))
        alerts.iterator
      }
    }
    events
      .withWatermark("ts", watermark)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
      .toDF()
  }

  final case class FunnelEvent(ts: java.sql.Timestamp, tsUs: Long, user_id: Long,
      event_type: String)
  /** Per-user funnel state: the earliest signup (µs, -1 = none), the click
    * and purchase candidates still RELEVANT to any possible final chain
    * (see [[funnelStages]] pruning proof), the user's max event time (idle
    * eviction anchor) and a monotone revision counter.
    */
  final case class FunnelState(signupUs: Long, clicks: List[Long],
      purchases: List[Long], maxEventUs: Long, rev: Long)
  final case class FunnelUpdate(user_id: Long, rev: Long, t1_us: Long,
      t2_us: Long, t3_us: Long)

  /** Streaming twin of q75's funnel chain (signup → click → purchase, each
    * step within `stepWindow`): per-user keyed state re-emits the user's
    * current (t1, t2, t3) — µs since epoch, -1 = step not reached — with a
    * monotone `rev`; the max-rev row per user converges to exactly batch
    * [[graft.queries.EventOps.funnelStages]] (StreamingSpec pins the
    * equality on the real corpus).
    *
    * Out-of-order correctness is the point: a late-arriving earlier signup
    * LOWERS t1, which can validate clicks the previous chain rejected — so
    * the state must keep candidate clicks/purchases, not just the current
    * chain. State stays bounded by the same argument that evicts it:
    * the watermark. A kept click `c` is relevant iff some final t1 < c can
    * still appear; since t1 only decreases via signups newer than the
    * watermark, `c ≤ signup` candidates die once `c ≤ watermark`, and
    * `c > signup + stepWindow` can never validate (t1 only decreases).
    * Purchases prune on the doubled horizon (t3 ≤ t1 + 2·stepWindow).
    * State per user is O(events inside the funnel horizon) — the
    * enrichAsOf class — and once the watermark passes signup +
    * 2·stepWindow (chain provably final; for signup-less users, after
    * `watermark` of idleness) it COLLAPSES to an O(1) finalized tombstone
    * rather than evicting: full removal would let a post-horizon event
    * rebuild the user from scratch, restarting rev (shadowing the
    * finalized chain under the max-rev consumer contract) and re-basing
    * t1 on a later signup — the re-admission divergence retentionDays'
    * scaladoc documents. The tombstone keeps (signupUs, final t2/t3 as
    * the only candidates, rev), so post-horizon activity re-emits the
    * identical final chain at monotonically higher rev.
    */
  def funnelStages(events: DataFrame, stepWindow: String = "24 hours",
      watermark: String = "48 hours"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val dUs = durationMs(stepWindow) * 1000L
    val delayMs = durationMs(watermark)
    def chain(st: FunnelState): (Long, Long, Long) = {
      val t1 = st.signupUs
      if (t1 < 0) (-1L, -1L, -1L)
      else {
        val t2 = st.clicks.filter(c => c > t1 && c <= t1 + dUs)
          .minOption.getOrElse(-1L)
        val t3 = if (t2 < 0) -1L
        else st.purchases.filter(p => p > t2 && p <= t2 + dUs)
          .minOption.getOrElse(-1L)
        (t1, t2, t3)
      }
    }
    def update(uid: Long, rows: Iterator[FunnelEvent],
        state: GroupState[FunnelState]): Iterator[FunnelUpdate] = {
      if (state.hasTimedOut) {
        // NOT state.remove(): a removed user re-admitted by any later
        // event would rebuild from scratch — rev restarting at 1 (tying
        // with or shadowed by the finalized emission under the documented
        // max-rev consumer contract) and a second signup would restart the
        // chain at the LATER signup, diverging from batch funnelStages.
        // Instead the state collapses to an O(1) finalized tombstone: the
        // final chain's t2/t3 as singleton candidate lists — chain()
        // re-derives exactly (t1, t2, t3) from them — plus signupUs and
        // the monotone rev. Post-horizon events flow through the normal
        // path: t1 can't decrease (new ts > watermark ≥ signup), new
        // candidates can't qualify (> t1 + 2·stepWindow) and are pruned,
        // so re-emissions carry the SAME final chain at higher rev.
        // No further timeout: the tombstone is permanent O(1) per user,
        // the same bound retentionDays documents for never evicting.
        state.getOption.foreach { st =>
          val (_, t2, t3) = chain(st)
          state.update(FunnelState(st.signupUs,
            if (t2 >= 0) List(t2) else Nil,
            if (t3 >= 0) List(t3) else Nil,
            st.maxEventUs, st.rev))
        }
        Iterator.empty
      } else {
        var st = state.getOption
          .getOrElse(FunnelState(-1L, Nil, Nil, Long.MinValue, 0L))
        rows.foreach { e =>
          st = e.event_type match {
            case "signup" =>
              val m = if (st.signupUs < 0) e.tsUs else math.min(st.signupUs, e.tsUs)
              st.copy(signupUs = m, maxEventUs = math.max(st.maxEventUs, e.tsUs))
            case "click" =>
              st.copy(clicks = e.tsUs :: st.clicks,
                maxEventUs = math.max(st.maxEventUs, e.tsUs))
            case "purchase" =>
              st.copy(purchases = e.tsUs :: st.purchases,
                maxEventUs = math.max(st.maxEventUs, e.tsUs))
            case _ => st.copy(maxEventUs = math.max(st.maxEventUs, e.tsUs))
          }
        }
        // prune to the relevance windows (scaladoc proof): kept candidates
        // are deduped and sorted so state is canonical per content
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        val m = st.signupUs
        def keep(horizon: Long)(c: Long): Boolean =
          if (m >= 0) (c > m && c <= m + horizon) || (c <= m && c > wmUs)
          else c > wmUs
        st = st.copy(
          clicks = st.clicks.filter(keep(dUs)).distinct.sorted,
          purchases = st.purchases.filter(keep(2 * dUs)).distinct.sorted,
          rev = st.rev + 1)
        state.update(st)
        val horizonMs =
          if (m >= 0) (m + 2 * dUs) / 1000L + delayMs
          else st.maxEventUs / 1000L + delayMs
        state.setTimeoutTimestamp(
          math.max(horizonMs, state.getCurrentWatermarkMs() + 1))
        val (t1, t2, t3) = chain(st)
        Iterator.single(FunnelUpdate(uid, st.rev, t1, t2, t3))
      }
    }
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), expr("unix_micros(ts)").as("tsUs"),
        col("user_id"), col("event_type"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
      .toDF()
  }

  final case class FlowEvent(ts: java.sql.Timestamp, tsUs: Long, event_id: Long,
      user_id: Long, event_type: String)
  /** Buffer entries are (tsUs, event_id, type) sorted by (ts, event_id) —
    * the SAME total order as batch q80's lead window, so same-timestamp
    * ties adjacency-chain identically.
    */
  final case class FlowState(buffer: List[(Long, Long, String)], maxEventUs: Long)
  final case class FlowEmit(user_id: Long, from_type: String, to_type: String,
      to_us: Long)

  /** Streaming twin of q80's within-session transitions, APPEND-ONLY with
    * event-time finalization: a transition (e1 → e2) is emitted exactly
    * once, when the watermark passes e2 — at that point no event can ever
    * insert between them (any new row has ts > watermark ≥ e2.ts, and
    * older rows are watermark-dropped), so the pair's adjacency is final.
    * Until then events wait in a per-user buffer sorted by (ts, type);
    * out-of-order arrivals above the watermark slot into their true
    * position and change which pairs become adjacent — no retro-correction
    * needed because nothing unfinalized was emitted.
    *
    * State per user is O(events inside the watermark horizon) and drains
    * continuously: everything older than the watermark leaves the buffer
    * as it finalizes (the oldest unfinalized event is kept as the left
    * endpoint of the next pair). `watermark` must be ≥ `gap` so an
    * idle-evicted user's next event is PROVABLY outside the session gap
    * (the dropped cross-eviction pair would have failed the gap test in
    * batch too). StreamingSpec pins that the emitted multiset equals
    * batch q80's transitions restricted to the finalized prefix.
    */
  def transitionFlow(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = durationMs(gap) * 1000L
    val delayMs = durationMs(watermark)
    require(delayMs * 1000L >= gapUs,
      "transitionFlow: watermark delay must cover the session gap")
    def drain(buf: List[(Long, Long, String)], upToUs: Long,
        uid: Long): (List[(Long, Long, String)], List[FlowEmit]) = {
      val out = scala.collection.mutable.ListBuffer.empty[FlowEmit]
      var b = buf
      // finalize while the SECOND event is at or below the horizon: the
      // head then has no possible future neighbor on its right side.
      // STRICTLY below the horizon: the engine's late-data filter drops
      // rows with ts < watermark, so an event with ts EXACTLY equal to
      // the watermark can still arrive — and with a smaller event_id it
      // sorts between the head and a just-emitted second event, changing
      // the adjacency. A pair is final only once its second event is
      // strictly under the watermark.
      while (b.size >= 2 && b(1)._1 < upToUs) {
        val (t1, _, ty1) = b.head
        val (t2, _, ty2) = b(1)
        if (t2 - t1 <= gapUs) out += FlowEmit(uid, ty1, ty2, t2)
        b = b.tail
      }
      (b, out.toList)
    }
    def update(uid: Long, rows: Iterator[FlowEvent],
        state: GroupState[FlowState]): Iterator[FlowEmit] = {
      if (state.hasTimedOut) {
        // every buffered event is below the watermark: finalize the rest
        val st = state.getOption.getOrElse(FlowState(Nil, Long.MinValue))
        val (_, out) = drain(st.buffer, Long.MaxValue, uid)
        state.remove()
        out.iterator
      } else {
        val prev = state.getOption.getOrElse(FlowState(Nil, Long.MinValue))
        val incoming = rows.map(e => (e.tsUs, e.event_id, e.event_type)).toList
        val maxUs = (prev.maxEventUs :: incoming.map(_._1)).max
        val merged = (prev.buffer ++ incoming).sorted
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        val (kept, out) = drain(merged, wmUs, uid)
        state.update(FlowState(kept, maxUs))
        state.setTimeoutTimestamp(
          math.max(maxUs / 1000L + delayMs, state.getCurrentWatermarkMs() + 1))
        out.iterator
      }
    }
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), expr("unix_micros(ts)").as("tsUs"),
        col("event_id"), col("user_id"), col("event_type"))
      .as[FlowEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
      .toDF()
  }

  final case class RetEvent(ts: java.sql.Timestamp, day: Long, user_id: Long)
  final case class RetState(cohort: Long, days: List[Long], rev: Long)
  final case class RetUpdate(user_id: Long, rev: Long, cohort_day: Long,
      day_offset: Long)

  /** Streaming twin of q76's retention input: per-user keyed state tracks
    * the first-seen epoch day (the cohort) and the distinct active days
    * inside the offset horizon, re-emitting the user's CURRENT
    * (cohort_day, day_offset) set with a monotone `rev` — the max-rev rows
    * per user aggregate to exactly batch q76 (StreamingSpec pins it). A
    * late-arriving EARLIER event lowers the cohort and shifts every
    * offset, which is why the state keeps the day set, not the emitted
    * offsets.
    *
    * State is O(users) × ≤(maxOffset+1) longs and deliberately has NO
    * eviction: first-seen is a permanent user dimension — evicting and
    * re-admitting a user would restart their cohort and diverge from
    * batch (whereas keeping it, days beyond cohort+maxOffset are clipped
    * identically by both). The kept day list is bounded by construction:
    * days outside [cohort, cohort+maxOffset] prune on every update.
    */
  def retentionDays(events: DataFrame, maxOffset: Int = 7,
      watermark: String = "48 hours"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    def update(uid: Long, rows: Iterator[RetEvent],
        state: GroupState[RetState]): Iterator[RetUpdate] = {
      val newDays = rows.map(_.day).toList
      if (newDays.isEmpty) Iterator.empty
      else {
        val prev = state.getOption.getOrElse(RetState(Long.MaxValue, Nil, 0L))
        val cohort = math.min(prev.cohort, newDays.min)
        val days = (prev.days ++ newDays)
          .filter(d => d >= cohort && d <= cohort + maxOffset)
          .distinct.sorted
        val st = RetState(cohort, days, prev.rev + 1)
        state.update(st)
        days.iterator.map(d => RetUpdate(uid, st.rev, cohort, d - cohort))
      }
    }
    events
      .withWatermark("ts", watermark)
      // floor division (batch q76's rule): `div` truncates toward zero and
      // diverges from the floor bucket by one on negative-epoch timestamps
      .select(col("ts"), expr(
        "(unix_micros(ts) - pmod(unix_micros(ts), 86400000000)) div 86400000000")
        .as("day"),
        col("user_id"))
      .as[RetEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
      .toDF()
  }

  /** Run a bounded stream to completion into an in-memory table and return
    * the result (test/bench harness; `availableNow` processes the whole
    * directory then stops).
    */
  def runToMemory(df: DataFrame, name: String, outputMode: String = "append"): DataFrame = {
    val q = df.writeStream
      .format("memory").queryName(name)
      .outputMode(outputMode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    df.sparkSession.table(name)
  }
}
