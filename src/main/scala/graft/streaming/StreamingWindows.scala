package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout,
  ListState, MapState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig,
  ValueState}

/** Structured Streaming twins of the reference pipeline (SURVEY.md §2 W1,
  * §7 step 4; `tweet-streamer/src/main/scala/main.scala:41-55`).
  *
  * The reference used legacy DStreams: processing-time 10 s/5 s sliding
  * windows, full recompute per slide, no watermark, no state store. The
  * rebuild is event-time Structured Streaming: incremental stateful
  * aggregation, watermark-driven state eviction, replayable sources.
  *
  * All transforms are source-agnostic (they take a streaming-or-batch
  * DataFrame), so the same code is exercised three ways:
  *   - `MemoryStream` in tests (multi-batch incremental semantics),
  *   - file-replay over the driver's events.parquet,
  *   - the identical call on a *batch* frame, which must equal the batch
  *     oracle-checked `graft.operators.TimeWindows.slidingCounts` — that
  *     equivalence is asserted in StreamingSpec.
  *
  * Scale: stateful agg state is (window × key) rows in the state store —
  * bounded by the watermark horizon; keys hash-partition across executors.
  * The reference's "recompute the union of the last 2 batches" cost model
  * disappears — each event is folded into state exactly once.
  */
object StreamingWindows {

  /** Sliding per-key counts — the reference's `reduceByKeyAndWindow`
    * (`main.scala:47`), event-time, incremental. Late data beyond
    * `watermark` is dropped (the reference would silently miscount it). */
  def slidingCounts(events: DataFrame,
                    winSec: Long = 3600L,
                    slideSec: Long = 1800L,
                    watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), s"$winSec seconds", s"$slideSec seconds").as("w"),
               col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("w.start")).as("win_start"),
              col("event_type"), col("cnt"))

  /** The reference's full pipeline on a text stream: filter lang, split on
    * single space, keep '#'-prefixed tokens (exact `main.scala:42-47`
    * semantics incl. bare "#"), count per sliding window. */
  def hashtagCounts(docs: DataFrame,
                    winSec: Long = 3600L,
                    slideSec: Long = 1800L,
                    watermark: String = "1 hour"): DataFrame =
    docs
      .filter(col("lang") === "en")
      .select(col("ts"), explode(split(col("text"), " ")).as("tag"))
      .filter(col("tag").startsWith("#"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), s"$winSec seconds", s"$slideSec seconds").as("w"),
               col("tag"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("w.start")).as("win_start"), col("tag"), col("cnt"))

  /** File-replay source over the driver's events parquet — the rebuild's
    * stand-in for the Twitter receiver (S1): replayable, backpressured via
    * `maxFilesPerTrigger`, no receivers. `ts` is normalized to TimestampType
    * via `graft.Tables.normalizeTs` — the same three-encoding pin (nanos-long
    * / NTZ-micros / already-timestamp) as the batch loader, so watermarks
    * (which reject TimestampNTZType) survive driver-side data regeneration. */
  def eventsFileStream(s: SparkSession, dir: String): DataFrame = {
    val schema = graft.Tables.table(s, dir, "events").schema
    // the driver ships single-file tables; the file stream source wants a
    // directory → stream the parent dir, glob-filtered to this table
    val raw = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    graft.Tables.normalizeTs(raw)
  }

  /** Processing-time twin of the reference's windows: the reference's
    * `reduceByKeyAndWindow` counts by WALL-CLOCK arrival, batch-aligned
    * (`main.scala:27,47`) — not by event time. This closes that last
    * semantic delta (SURVEY §7 risk list): each record is stamped at
    * ingestion with `current_timestamp()` (evaluated per micro-batch =
    * processing time) and windowed on that stamp. Inherently
    * non-deterministic across runs — correct by CONSTRUCTION here, spec
    * asserts structural invariants (each event in exactly window/slide
    * windows, slide-aligned starts, stamps near now) rather than golden
    * values; the event-time queries remain the oracle-checked path. */
  def processingTimeCounts(events: DataFrame,
                           winSec: Long = 10L,
                           slideSec: Long = 5L): DataFrame =
    events
      .withColumn("proc_ts", current_timestamp())
      .groupBy(window(col("proc_ts"), s"$winSec seconds", s"$slideSec seconds").as("w"),
               col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("w.start")).as("win_start"),
              col("event_type"), col("cnt"))

  // ------------------------------------------------------------ Kafka source
  /** Wire schema of an event on a Kafka topic: one JSON object per record
    * value, `ts` as epoch MICROSECONDS (integer — no timezone/format
    * ambiguity across producers; mirrors the parquet nanos→micros
    * conversion in `graft.Tables.events`). */
  val eventsWireSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
  }

  /** Fully-specified source config for the events topic: explicit offsets
    * (replayable from `earliest` like the file source), per-trigger
    * backpressure, and no silent data loss. Kept as data so specs can
    * assert completeness without a broker. */
  def kafkaSourceOptions(bootstrap: String, topic: String,
                         startingOffsets: String = "earliest",
                         maxOffsetsPerTrigger: Long = 100000L): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "subscribe" -> topic,
    "startingOffsets" -> startingOffsets,
    "maxOffsetsPerTrigger" -> maxOffsetsPerTrigger.toString,
    "failOnDataLoss" -> "true")

  /** Decode Kafka-shaped rows (binary `value`, per-record `timestamp`) into
    * the events schema. Malformed JSON yields null columns (from_json
    * PERMISSIVE) rather than killing the query — a poison-pill record on a
    * production topic must never wedge the pipeline; undecodable records
    * are dropped at this boundary (a real deployment would also count or
    * dead-letter them). Source-agnostic: specs feed it a MemoryStream of
    * Kafka-shaped rows, the real path feeds it `format("kafka")`. */
  def decodeKafkaEvents(kafka: DataFrame): DataFrame =
    kafka
      .select(from_json(col("value").cast("string"), eventsWireSchema).as("e"))
      .select(col("e.event_id").as("event_id"),
              timestamp_micros(col("e.ts")).as("ts"),
              col("e.user_id").as("user_id"),
              col("e.event_type").as("event_type"),
              col("e.value").as("value"),
              col("e.props").as("props"))
      .filter(col("event_id").isNotNull && col("ts").isNotNull)

  /** The completed `BASELINE.json` "Twitter/Kafka source" approach: events
    * stream in from a Kafka topic instead of the file replay — same
    * downstream operators (`slidingCounts` etc.). Requires the
    * spark-sql-kafka connector on the classpath at deploy time (standard in
    * any Spark distribution with Kafka; absent in this sandbox, where
    * `load()` would fail to resolve the source — the decode and config
    * surfaces are spec-tested against a MemoryStream stand-in instead). */
  def kafkaEvents(s: SparkSession, bootstrap: String, topic: String,
                  startingOffsets: String = "earliest"): DataFrame =
    decodeKafkaEvents(
      s.readStream.format("kafka")
        .options(kafkaSourceOptions(bootstrap, topic, startingOffsets))
        .load())

  /** Stream-stream inner join: clicks ⋈ purchases by the same user within
    * [0, maxGapSec] — both sides watermarked so the join state (buffered
    * rows awaiting matches) is evicted once the watermark passes the range
    * bound. Unbounded-state stream joins are the classic production OOM;
    * the time-range predicate is what makes state finite, and Spark derives
    * the eviction policy from it automatically. */
  def streamStreamJoin(clicks: DataFrame, purchases: DataFrame,
                       maxGapSec: Long = 300L,
                       watermark: String = "10 minutes",
                       joinType: String = "inner"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
              col("ts").as("purchase_ts"))
    // "left_outer" is the attribution variant: clicks with NO purchase in
    // the window surface as (click, null) — but only once the WATERMARK
    // proves no match can still arrive; until then the click stays in
    // state. Same bounded state as inner (range bound drives eviction);
    // the outer row is emitted at eviction instead of dropped.
    c.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $maxGapSec SECONDS"),
      joinType)
      .select(col("click_id"), col("purchase_id"), col("user_id"),
              unix_timestamp(col("purchase_ts")).minus(unix_timestamp(col("click_ts")))
                .as("gap_sec"))
  }

  /** Stream-STATIC join: decontaminate documents at ingest against a
    * static benchmark shingle set — the streaming twin of
    * `graft.operators.QualityFilters.decontaminate`, and the join mode the
    * other streaming ops don't cover (static side is read once per
    * micro-batch plan, needs no watermark, and broadcasts like any
    * dimension). Shingling is per-row (`array_distinct` over a transform —
    * stateless, no distinct-shuffle on the stream side); the per-doc
    * overlap aggregate is the only stateful op. A pipeline would run this
    * in update mode and route flagged ids to a quarantine sink. */
  def streamingDecontaminate(docs: DataFrame, benchShingles: DataFrame,
                             threshold: Double = 0.5): DataFrame = {
    val sh = graft.operators.Dedup.shingleArrays(docs)
      .select(col("doc_id"), explode(col("sh")).as("s"))
    sh.join(broadcast(benchShingles.withColumn("hit", lit(1))), Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), count(col("hit")).as("n_hit"))
      .withColumn("overlap", col("n_hit").cast("double") / col("n_sh").cast("double"))
      .filter(col("overlap") >= threshold)
  }

  /** Streaming exact dedup: drop events whose key was already seen within
    * the watermark horizon — the streaming twin of `Dedup.exactDedup`.
    * State is one entry per key, evicted when the watermark passes it, so
    * state size tracks the horizon, not the stream's history. This is the
    * ingest-side dedup a 100 TB pipeline runs before anything else (at-
    * least-once sources ⇒ duplicate deliveries). */
  def streamingDedup(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  // ----------------------------------------------------- custom state (FMG)
  case class SessEvent(user_id: Long, ts: java.sql.Timestamp)
  case class SessState(start: Long, end: Long, n: Long)
  case class SessionOut(user_id: Long, sess_start: Long, sess_end: Long, n_events: Long)

  /** Streaming sessionization with explicit state — the
    * `flatMapGroupsWithState` path for semantics the built-in windows can't
    * express (gap-based sessions emitted on inactivity timeout). State per
    * user is O(1); timeouts evict idle users, so state size tracks active
    * users, not history. The batch twin is
    * `graft.operators.TimeWindows.sessionize`. */
  def sessionize(events: org.apache.spark.sql.Dataset[SessEvent],
                 gapSec: Long = 1800L,
                 timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)
      : DataFrame = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](OutputMode.Append, timeout) {
        case (uid, evs, state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(st => SessionOut(uid, st.start, st.end, st.n))
            state.remove()
            out.iterator
          } else {
            val secs = evs.map(_.ts.getTime / 1000L).toSeq.sorted
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            secs.foreach { t =>
              cur match {
                case Some(st) if t - st.end <= gapSec =>
                  // min/max merge: a late-but-in-watermark event that sorts
                  // before the open session's bounds must widen them, never
                  // shrink end backwards
                  cur = Some(SessState(math.min(st.start, t),
                    math.max(st.end, t), st.n + 1))
                case Some(st) =>
                  closed ::= SessionOut(uid, st.start, st.end, st.n)
                  cur = Some(SessState(t, t, 1))
                case None =>
                  cur = Some(SessState(t, t, 1))
              }
            }
            cur.foreach(state.update)
            if (timeout == GroupStateTimeout.ProcessingTimeTimeout)
              state.setTimeoutDuration(s"$gapSec seconds")
            closed.reverseIterator
          }
      }
      .toDF()
  }

  // ------------------------------------- transformWithState (Spark 4 API)
  /** Gap-session processor for [[sessionizeTws]] — the Spark 4
    * `transformWithState` successor of the `flatMapGroupsWithState`
    * sessionizer above, with the state surface the old API lacked made
    * explicit: named typed state (`ValueState` in the state store's own
    * column family, RocksDB-backed), per-key EVENT-TIME timers (fire off
    * the watermark, not wall clock — deterministic under replay, which a
    * `ProcessingTimeTimeout` never is), and optional per-state TTL.
    * State per user is O(1); a single re-armed timer per key closes idle
    * sessions, so state tracks ACTIVE users only. */
  class SessionProcessor(gapSec: Long)
      extends StatefulProcessor[Long, SessEvent, SessionOut] {
    @transient private var sess: ValueState[SessState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[SessState](
        "sess", Encoders.product[SessState], TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[SessEvent],
                                 tv: TimerValues): Iterator[SessionOut] = {
      val secs = rows.map(_.ts.getTime / 1000L).toSeq.sorted
      var closed = List.empty[SessionOut]
      var cur = if (sess.exists()) Some(sess.get()) else None
      secs.foreach { t =>
        cur match {
          case Some(st) if t - st.end <= gapSec =>
            cur = Some(SessState(math.min(st.start, t),
              math.max(st.end, t), st.n + 1))
          case Some(st) =>
            closed ::= SessionOut(uid, st.start, st.end, st.n)
            cur = Some(SessState(t, t, 1))
          case None =>
            cur = Some(SessState(t, t, 1))
        }
      }
      cur.foreach { st =>
        sess.update(st)
        // one live timer per key: re-arm at the open session's idle bound
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer((st.end + gapSec) * 1000L)
      }
      closed.reverseIterator
    }

    override def handleExpiredTimer(uid: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[SessionOut] = {
      // watermark passed end+gap with no new events → the session is closed
      val out =
        if (sess.exists()) {
          val st = sess.get()
          sess.clear()
          Iterator.single(SessionOut(uid, st.start, st.end, st.n))
        } else Iterator.empty
      out
    }
  }

  /** Streaming sessionization on the Spark 4 `transformWithState` API —
    * the engine's [[sessionize]] twin on the new arbitrary-state operator
    * (requires the RocksDB state store provider: named column families).
    * Event-time timers close idle sessions exactly when the WATERMARK
    * passes `end + gap`, so emission is replay-deterministic; the batch
    * twin remains `graft.operators.TimeWindows.sessionize` (oracle-
    * checked), and the spec asserts this path's in-batch splits and
    * timer-driven closes against it. */
  def sessionizeTws(events: org.apache.spark.sql.Dataset[SessEvent],
                    gapSec: Long = 1800L,
                    watermark: String = "10 minutes"): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapSec),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  // -------------------------------------- transformWithState + MapState
  case class TypedEvent(user_id: Long, event_type: String)
  case class TypeCount(user_id: Long, event_type: String, cnt: Long)

  /** Running per-(user, event-type) counts in a `MapState` — the state
    * primitive [[SessionProcessor]]'s single `ValueState` cannot express:
    * a per-key DICTIONARY (sub-keyed state) the store indexes directly,
    * so one event type's update never deserializes the others (a
    * ValueState[Map] would rewrite the whole map per event — the
    * difference between O(1) and O(types) state IO per update at scale).
    * Emits the new running total for exactly the (user, type) pairs
    * touched in the batch → OutputMode.Update semantics. */
  class RunningTypeCounts extends StatefulProcessor[Long, TypedEvent, TypeCount] {
    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[TypedEvent],
                                 tv: TimerValues): Iterator[TypeCount] = {
      val batch = rows.foldLeft(Map.empty[String, Long]) { (m, e) =>
        m.updated(e.event_type, m.getOrElse(e.event_type, 0L) + 1L)
      }
      batch.toSeq.sortBy(_._1).map { case (et, n) =>
        val next = (if (counts.containsKey(et)) counts.getValue(et) else 0L) + n
        counts.updateValue(et, next)
        TypeCount(uid, et, next)
      }.iterator
    }
  }

  /** Streaming running counts per (user, event type) via [[RunningTypeCounts]].
    * No timers, no watermark: pure accumulating state, the streaming twin
    * of `groupBy(user_id, event_type).count()` — which is exactly what the
    * spec equates it to after replaying the same rows. */
  def runningTypeCounts(events: org.apache.spark.sql.Dataset[TypedEvent]): DataFrame = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningTypeCounts,
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  // ------------------------------------- transformWithState + ListState
  case class SeqEvent(user_id: Long, event_type: String, ts: java.sql.Timestamp)
  case class SeqHit(user_id: Long, end_sec: Long)

  /** Consecutive-sequence detector on a `ListState` sliding buffer — the
    * third state primitive (ValueState: sessionizer, MapState: running
    * counts, ListState: here). Per user the store holds ONLY the last
    * `pattern.length - 1` event types — the minimal suffix that can
    * complete the pattern with future events — appended/truncated per
    * batch, so state is O(pattern) per key forever, independent of
    * stream length. Emits one row per completed consecutive match; the
    * streaming twin of the batch funnel's strictest form (exact
    * adjacency rather than eventual order). */
  class SequenceDetector(pattern: Seq[String])
      extends StatefulProcessor[Long, SeqEvent, SeqHit] {
    @transient private var buf: ListState[String] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[String]("buf", Encoders.STRING, TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[SeqEvent],
                                 tv: TimerValues): Iterator[SeqHit] = {
      val sorted = rows.toSeq.sortBy(_.ts.getTime)
      var window = buf.get().toList
      val hits = scala.collection.mutable.ArrayBuffer.empty[SeqHit]
      sorted.foreach { e =>
        window = (window :+ e.event_type).takeRight(pattern.length)
        if (window == pattern.toList)
          hits += SeqHit(uid, e.ts.getTime / 1000L)
      }
      buf.clear()
      val keep = window.takeRight(pattern.length - 1)
      if (keep.nonEmpty) buf.put(keep.toArray)
      hits.iterator
    }
  }

  /** Streaming consecutive click→view→purchase detection via
    * [[SequenceDetector]]; matches continue across micro-batch
    * boundaries through the persisted suffix buffer. */
  def detectSequences(events: org.apache.spark.sql.Dataset[SeqEvent],
                      pattern: Seq[String] = Seq("click", "view", "purchase")): DataFrame = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new SequenceDetector(pattern),
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  // ----------------------------------- transformWithState streaming as-of
  case class AsOfEv(user_id: Long, ts: java.sql.Timestamp,
                    event_type: String, event_id: Long)
  case class AsOfBuf(sec: Long, is_click: Boolean, event_id: Long)
  case class AsOfClick(sec: Long, event_id: Long)
  case class AsOfHit(user_id: Long, purchase_id: Long, click_id: Long,
                     gap_sec: Long)

  /** Streaming twin of the as-of join (batch forms:
    * `TimeWindows.asofJoin` window trick and the custom
    * `graft.plans.AsOfJoinExec` operator): each purchase matches the
    * latest click with `click.sec <= purchase.sec` for the same user.
    *
    * As-of is order-sensitive, so the processor cannot match on arrival:
    * an out-of-order click still inside the watermark could be the true
    * latest-preceding click of an already-seen purchase. Instead it
    * BUFFERS events in a `ListState` and finalizes them only when the
    * WATERMARK passes their event time (an event-time timer re-armed at
    * the newest buffered time) — at that point no earlier event can
    * arrive, so matching in event-time order is exact and
    * replay-deterministic. Tie policy matches the batch twins:
    * same-second clicks match (non-strict `<=`), largest `event_id` wins
    * among equal timestamps.
    *
    * State per user: the buffer holds only events above the watermark
    * horizon (bounded by out-of-orderness, evicted on every flush) plus
    * one O(1) `AsOfClick` — the latest finalized click, which carries
    * as-of continuity ACROSS flushes (a purchase arriving an hour later
    * still sees it). `continuityTtl` caps that continuity in EVENT time —
    * the pandas `merge_asof(tolerance=...)` shape: a purchase matches only
    * a click at most `continuityTtl` older, and once the watermark passes
    * a click's usefulness the value is CLEARED, so churned-away users hold
    * no state forever. Event-time expiry is deliberate: Spark's native
    * state TTL (`TTLConfig`) is processing-time based and rejected outright
    * in `TimeMode.EventTime` (STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_
    * ASSIGN_TTL) — and a wall-clock TTL would make replay/restart
    * nondeterministic, which the hash-compared twins cannot tolerate. The
    * default `None` keeps exact unbounded continuity. The event BUFFER is
    * never TTL'd: it is already bounded by the watermark and expiring it
    * early would drop in-flight events, not just history. */
  class AsOfProcessor(continuityTtl: Option[java.time.Duration] = None)
      extends StatefulProcessor[Long, AsOfEv, AsOfHit] {
    @transient private var buf: ListState[AsOfBuf] = _
    @transient private var lastClick: ValueState[AsOfClick] = _
    private val ttlSec: Option[Long] = continuityTtl.map { d =>
      // whole seconds only: the processor matches at second granularity, so
      // a sub-second TTL would be silently coarsened to 1 s — reject it
      // loudly instead of diverging from the caller's requested bound
      require(d.toSeconds >= 1, s"continuityTtl must be >= 1 second " +
        s"(the processor matches at second granularity), got $d")
      d.toSeconds
    }

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[AsOfBuf](
        "buf", Encoders.product[AsOfBuf], TTLConfig.NONE)
      lastClick = getHandle.getValueState[AsOfClick](
        "lastClick", Encoders.product[AsOfClick], TTLConfig.NONE)
    }

    /** One live timer per key, at the newest buffered event time (never at
      * or below the current watermark — such a timer could never fire). */
    private def armTimer(atMs: Long, tv: TimerValues): Unit = {
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(math.max(atMs, tv.getCurrentWatermarkInMs() + 1))
    }

    override def handleInputRows(uid: Long, rows: Iterator[AsOfEv],
                                 tv: TimerValues): Iterator[AsOfHit] = {
      var maxMs = Long.MinValue
      rows.foreach { e =>
        val isClick = e.event_type == "click"
        if (isClick || e.event_type == "purchase") {
          buf.appendValue(AsOfBuf(e.ts.getTime / 1000L, isClick, e.event_id))
          maxMs = math.max(maxMs, e.ts.getTime)
        }
      }
      if (maxMs != Long.MinValue) armTimer(maxMs, tv)
      Iterator.empty
    }

    override def handleExpiredTimer(uid: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[AsOfHit] = {
      // a second s is CLOSED only when the whole of [s, s+1) is below the
      // watermark, i.e. s < floor(wm/1000). With `<=`, a mid-second
      // watermark (wm = 70_500 → horizon 70) would finalize sec-70 events
      // while a same-second click at 70_900 ms is still admissible — it
      // would arrive after its purchase was flushed and mis-match.
      val horizon = tv.getCurrentWatermarkInMs() / 1000L
      val (ready, pending) = buf.get().toList.partition(_.sec < horizon)
      val out = scala.collection.mutable.ArrayBuffer.empty[AsOfHit]
      var lc = if (lastClick.exists()) Some(lastClick.get()) else None
      // event-time order with the batch tie policy: clicks sort before
      // purchases at the same second, event_id breaks remaining ties
      ready.sortBy(e => (e.sec, !e.is_click, e.event_id)).foreach { e =>
        if (e.is_click) lc = Some(AsOfClick(e.sec, e.event_id))
        else lc.foreach { c =>
          // event-time tolerance: beyond-TTL purchases un-match (gap is
          // non-negative — the event-time sort guarantees c.sec <= e.sec)
          if (ttlSec.forall(e.sec - c.sec <= _))
            out += AsOfHit(uid, e.event_id, c.event_id, e.sec - c.sec)
        }
      }
      lc match {
        // a click the watermark has already outlived by the TTL can never
        // match any future purchase (its sec is >= horizon) — clear it so
        // the per-user continuity state is bounded under churn
        case Some(c) if ttlSec.exists(horizon - c.sec > _) => lastClick.clear()
        case Some(c)                                       => lastClick.update(c)
        case None                                          =>
      }
      buf.clear()
      if (pending.nonEmpty) {
        buf.put(pending.toArray)
        armTimer(pending.map(_.sec).max * 1000L, tv)
      } else if (ttlSec.isDefined && lastClick.exists()) {
        // nothing buffered, but a live continuity value: arm a cleanup
        // timer at its expiry so the state clears when the watermark
        // passes it even if this user never sends another event — without
        // this, a churned-away user would hold the value forever and the
        // TTL would only bound MATCHING, not state size
        armTimer((lastClick.get().sec + ttlSec.get) * 1000L + 1000L, tv)
      }
      out.iterator
    }
  }

  /** Streaming as-of via [[AsOfProcessor]] — buffer-until-watermark, then
    * exact event-time-ordered matching; late events beyond the watermark
    * are dropped by the operator (the batch twins would have seen them —
    * that is the streaming trade, made explicit by the watermark).
    * `continuityTtl` bounds the per-user latest-click continuity state in
    * event time — see [[AsOfProcessor]] for the exactness trade and why
    * it is not Spark's processing-time `TTLConfig`. */
  def asofTws(events: org.apache.spark.sql.Dataset[AsOfEv],
              watermark: String = "10 minutes",
              continuityTtl: Option[java.time.Duration] = None): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new AsOfProcessor(continuityTtl),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  case class AsOfPend(sec: Long, event_id: Long)

  /** Streaming NEAREST as-of (the batch `nearest = true` direction of
    * `graft.plans.AsOfJoinExec`, tolerance-bounded).
    *
    * Nearest REQUIRES a tolerance in streaming: the match may be a click
    * that has not arrived yet, and without a bound a purchase would have
    * to wait forever for a possibly-nearer future click. With a bound the
    * decision point is exact: purchase at second `s` is decidable once the
    * watermark closes every second ≤ `s + tol` — no admissible click can
    * change the answer after that.
    *
    * State per user, all watermark-bounded:
    *   - the raw event buffer (same role as [[AsOfProcessor]]'s: exact
    *     event-time ordering for out-of-order arrivals),
    *   - finalized-but-undecided purchases (those with `s + tol` still
    *     above the horizon),
    *   - a sliding window of finalized clicks, retained only while
    *     `c.sec ≥ horizon − 2·tol`: every undecided or future purchase has
    *     `s ≥ horizon − tol`, and its backward window reaches `s − tol` —
    *     older clicks can never be candidates again. A cleanup timer clears
    *     the window for churned-away users, so the TTL bounds STATE, not
    *     just matching.
    *
    * Pick rule is the batch operator's exactly: backward candidate = latest
    * click ≤ s within tol (largest id on ties), forward = earliest click
    * > s within tol (smallest id on ties), smaller absolute gap wins, equal
    * gaps resolve backward; `gap_sec` is signed (`s − c.sec`, negative =
    * forward match) like the batch `asof_join_nearest` projection. */
  class NearestAsOfProcessor(tolerance: java.time.Duration)
      extends StatefulProcessor[Long, AsOfEv, AsOfHit] {
    private val tolSec: Long = {
      // same second-granularity contract as AsOfProcessor.ttlSec: a
      // sub-second tolerance (e.g. Duration.ofMillis(500)) would silently
      // coarsen to 1 s — fail loudly instead
      require(tolerance.toSeconds >= 1, s"nearest as-of tolerance must be " +
        s">= 1 second (the processor matches at second granularity), got $tolerance")
      tolerance.toSeconds
    }
    @transient private var buf: ListState[AsOfBuf] = _
    @transient private var clicks: ListState[AsOfClick] = _
    @transient private var pend: ListState[AsOfPend] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[AsOfBuf](
        "buf", Encoders.product[AsOfBuf], TTLConfig.NONE)
      clicks = getHandle.getListState[AsOfClick](
        "clicks", Encoders.product[AsOfClick], TTLConfig.NONE)
      pend = getHandle.getListState[AsOfPend](
        "pend", Encoders.product[AsOfPend], TTLConfig.NONE)
    }

    private def armTimer(atMs: Long, tv: TimerValues): Unit = {
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(math.max(atMs, tv.getCurrentWatermarkInMs() + 1))
    }

    /** Earliest future instant at which new work becomes decidable: a
      * buffered event finalizes at `(sec+1)s`, a pending purchase decides
      * at `(sec+tol+1)s`, and with nothing else alive the click window
      * fully evicts at `(newest + 2·tol + 1)s`. */
    private def rearm(bufNow: Seq[AsOfBuf], pendNow: Seq[AsOfPend],
                      clicksNow: Seq[AsOfClick], tv: TimerValues): Unit = {
      val needs =
        bufNow.map(e => (e.sec + 1) * 1000L) ++
        pendNow.map(p => (p.sec + tolSec + 1) * 1000L) ++
        (if (bufNow.isEmpty && pendNow.isEmpty && clicksNow.nonEmpty)
           Seq((clicksNow.map(_.sec).max + 2 * tolSec + 1) * 1000L)
         else Nil)
      if (needs.nonEmpty) armTimer(needs.min, tv)
    }

    override def handleInputRows(uid: Long, rows: Iterator[AsOfEv],
                                 tv: TimerValues): Iterator[AsOfHit] = {
      var any = false
      rows.foreach { e =>
        val isClick = e.event_type == "click"
        if (isClick || e.event_type == "purchase") {
          buf.appendValue(AsOfBuf(e.ts.getTime / 1000L, isClick, e.event_id))
          any = true
        }
      }
      if (any)
        rearm(buf.get().toSeq, pend.get().toSeq, clicks.get().toSeq, tv)
      Iterator.empty
    }

    override def handleExpiredTimer(uid: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[AsOfHit] = {
      // strict-< horizon: a second is closed only when ALL of it is below
      // the watermark (same mid-second guard as AsOfProcessor)
      val horizon = tv.getCurrentWatermarkInMs() / 1000L
      val (ready, stay) = buf.get().toList.partition(_.sec < horizon)
      val readySorted = ready.sortBy(e => (e.sec, !e.is_click, e.event_id))
      val clickList = (clicks.get().toList ++
        readySorted.filter(_.is_click).map(e => AsOfClick(e.sec, e.event_id)))
        .sortBy(c => (c.sec, c.event_id))
      val pendList = pend.get().toList ++
        readySorted.filterNot(_.is_click).map(e => AsOfPend(e.sec, e.event_id))
      val (decidable, waiting) = pendList.partition(_.sec + tolSec < horizon)

      val out = decidable.sortBy(p => (p.sec, p.event_id)).flatMap { p =>
        val back = clickList.filter(c => c.sec <= p.sec && p.sec - c.sec <= tolSec)
          .sortBy(c => (c.sec, c.event_id)).lastOption
        val fwd = clickList.filter(c => c.sec > p.sec && c.sec - p.sec <= tolSec)
          .sortBy(c => (c.sec, c.event_id)).headOption
        val chosen = (back, fwd) match {
          case (Some(b), Some(f)) =>
            if (p.sec - b.sec <= f.sec - p.sec) Some(b) else Some(f)
          case (b, f) => b.orElse(f)
        }
        chosen.map(c => AsOfHit(uid, p.event_id, c.event_id, p.sec - c.sec))
      }

      // sliding click window: undecided and future purchases reach back at
      // most to horizon − 2·tol (see class doc) — older clicks evict
      val keepClicks = clickList.filter(_.sec >= horizon - 2 * tolSec)
      buf.clear(); if (stay.nonEmpty) buf.put(stay.toArray)
      clicks.clear(); if (keepClicks.nonEmpty) clicks.put(keepClicks.toArray)
      pend.clear(); if (waiting.nonEmpty) pend.put(waiting.toArray)
      rearm(stay, waiting, keepClicks, tv)
      out.iterator
    }
  }

  /** Streaming nearest as-of via [[NearestAsOfProcessor]] — the
    * tolerance-bounded `merge_asof(direction='nearest')` twin. Late events
    * beyond the watermark are dropped, as in [[asofTws]]. */
  def asofNearestTws(events: org.apache.spark.sql.Dataset[AsOfEv],
                     tolerance: java.time.Duration,
                     watermark: String = "10 minutes"): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new NearestAsOfProcessor(tolerance),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }
}
