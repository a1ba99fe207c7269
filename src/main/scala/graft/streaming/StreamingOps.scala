package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}

import StreamGate.{Drained, Leg, Sink, Staging}

/** Event as it arrives on the stream (the Observability event families
  * collapse to this shape for the harness — SURVEY.md §1.2).
  */
case class SEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                  event_type: String, value: Double)

case class SessionAssign(event_id: Long, user_id: Long,
                         ts: java.sql.Timestamp, session_id: Long)

/** Bounded-instance assembler state: running instance counter + whether
  * the latest instance is still open.
  */
case class InstanceState(counter: Long, open: Boolean)

case class InstanceAssign(event_id: Long, user_id: Long,
                          ts: java.sql.Timestamp, event_type: String,
                          instance_id: Long)

/** Out-of-sequence detector state: previous event type + time per key,
  * plus the running session counter (same numbering as the batch
  * `withSessionId`: 1-based cumulative new-session count per user).
  */
case class SeqState(lastType: String, lastMicros: Long, sessionId: Long)

case class SeqAlert(event_id: Long, user_id: Long, ts: java.sql.Timestamp,
                    session_id: Long, prev_type: String,
                    event_type: String)

/** One within-session adjacent transition, the lineage-mining unit. */
case class Transition(user_id: Long, src: String, dst: String)

/** An event scoped to one journey's membership (the per-journey
  * replicated stream of the multi-journey detector).
  */
case class JEvent(journey_id: String, event_id: Long,
                  ts: java.sql.Timestamp, user_id: Long,
                  event_type: String)

case class JSeqAlert(journey_id: String, event_id: Long, user_id: Long,
                     ts: java.sql.Timestamp, session_id: Long,
                     prev_type: String, event_type: String)

/** An event scoped to one journey's membership, carrying the payload
  * count the END_PAYLOAD instance condition inspects.
  */
case class JIEvent(journey_id: String, event_id: Long,
                   ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, k: Option[Long])

/** Per-event instance assignment of the fused multi-journey assembler:
  * `is_end` marks the event that CLOSED its instance (per the journey's
  * own end condition), so the summary tail derives `completed` /
  * `payload_ct` without a second source scan.
  */
case class JInstAssign(journey_id: String, event_id: Long, user_id: Long,
                       ts: java.sql.Timestamp, event_type: String,
                       instance_id: Long, is_end: Boolean, k: Option[Long])

/** Structured Streaming variants of the event-analytics operators
  * (SURVEY.md M5, §2.C R12): the reference's backend is a Kafka-fed
  * streaming system whose demo backdates events up to 55 hours
  * (reference observability_demo.py:5-28), so the watermark default here
  * is 55 hours — late data inside that horizon still lands in its
  * event-time window; beyond it, state can be reclaimed.
  *
  * Scale notes: every stateful op keys by user/pipeline (state partitioned
  * by key); the stateless rule filter has no state at all. These are the
  * same logical ops as graft.events.EventOps — the batch/streaming pair is
  * the point: one semantic, two execution modes.
  */
object StreamingOps {

  val DefaultWatermark = "55 hours"

  /** Full microsecond epoch of a Timestamp. `getTime` alone is
    * MILLISECOND-truncated — the event data carries sub-millisecond
    * precision, and the batch sessionizer (and the DuckDB oracle behind
    * stream_sessions_bounded) compare gaps in exact micros, so the
    * stream side must too or a gap within 1 ms of the threshold
    * sessionizes differently per path.
    */
  private def micros(ts: java.sql.Timestamp): Long =
    ts.getTime / 1000 * 1000000L + ts.getNanos / 1000

  /** R5 streaming metric rule — stateless filter, no watermark needed. */
  def metricRuleAlerts(ev: DataFrame, eventType: String,
                       threshold: Double): DataFrame =
    ev.filter(col("event_type") === eventType && col("value") > threshold)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        lit(s"$eventType.value gt $threshold").as("rule"),
        lit("CALL_WEBHOOK").as("action"))

  /** R8 streaming volume: per-type tumbling event-time windows with the
    * 55 h late-data horizon. Late events inside the watermark update their
    * original window; beyond it they are dropped.
    */
  def windowedVolume(ev: DataFrame, watermarkDelay: String = DefaultWatermark,
                     windowLength: String = "1 day"): DataFrame =
    ev.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"))

  /** R2 streaming schedule lateness: the expected-start slots (cron
    * expanded driver-side — schedules are tiny control-plane data) arrive
    * as a STATIC frame broadcast into every micro-batch. A stream-static
    * join is stateless and needs no watermark, so each start event later
    * than its day's expected slot + margin emits a LATE_START alert
    * immediately (reference schedule `{cron, margin: 600}`,
    * demo_helper.py:653-660; LATE_START rules :1899).
    * `slots` columns: (day DATE, expected_start TIMESTAMP).
    */
  def lateStartAlerts(ev: DataFrame, slots: DataFrame, startType: String,
                      marginSeconds: Long): DataFrame =
    ev.filter(col("event_type") === startType)
      .withColumn("day", to_date(col("ts")))
      .join(broadcast(slots), Seq("day"))
      .filter(unix_micros(col("ts")) - unix_micros(col("expected_start")) >
        marginSeconds * 1000000L)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("expected_start"), lit("LATE_START").as("alert"))

  /** Streaming profile: running per-column statistics over the stream —
    * the profiling core (M1) under Structured Streaming. All statistics
    * are algebraic or sketch-based (counts, min/max, decimal sums, HLL
    * distincts), so they fold per micro-batch in update mode with no
    * extra state; this is the streaming analog of
    * Profiler.profile(exactDistinct = false)'s one-scan shape.
    */
  def streamingProfile(df: DataFrame, columns: Seq[String]): DataFrame = {
    val aggs = columns.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}_value_ct"),
        count(when(col(c).isNull, 1)).as(s"${c}_null_ct"),
        approx_count_distinct(col(c)).as(s"${c}_distinct_ct"),
        min(col(c)).cast("string").as(s"${c}_min"),
        max(col(c)).cast("string").as(s"${c}_max"))
    }
    df.groupBy().agg(count(lit(1)).as("record_ct"), aggs: _*)
  }

  /** Streaming exact dedup for document/event streams: drop rows whose
    * normalized-content hash was already seen, with state bounded by the
    * watermark (`dropDuplicatesWithinWatermark` evicts hashes older than
    * the horizon — unbounded dedup state is the classic streaming leak at
    * 100 TB/day). The batch twin is graft.text.Dedup.exact; both key on
    * the same md5(normalize(text)), so a document admitted by the stream
    * is exactly one the batch pass would have kept.
    */
  def dedupStream(docs: DataFrame, textCol: String, tsCol: String,
                  watermarkDelay: String = DefaultWatermark): DataFrame =
    docs.withColumn("content_hash",
        md5(graft.text.Dedup.normalize(col(textCol))))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming curation stage: the stateless filters of the batch
    * curation funnel (language identifiable, quality score ≥ minScore)
    * applied to a document stream, then watermark-bounded exact dedup —
    * ingest-time corpus hygiene. The filters are pure column expressions
    * shared with [[graft.text.Curation]], so batch and streaming agree
    * row-for-row; only the dedup step carries state, bounded by the
    * watermark exactly like [[dedupStream]].
    */
  def curateStream(docs: DataFrame, textCol: String, tsCol: String,
                   minScore: Double, watermarkDelay: String =
                     DefaultWatermark): DataFrame =
    dedupStream(
      docs.filter(graft.text.TextOps
          .predictedLang(graft.text.TextOps.words(col(textCol))) =!= "und")
        .filter(graft.text.TextOps.qualityScore(col(textCol)) >= minScore),
      textCol, tsCol, watermarkDelay)

  /** R9 streaming liveness: running max event time per agent. */
  def liveness(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_seen"), count(lit(1)).as("n_events"))

  /** R1/R3 streaming sessionization via flatMapGroupsWithState: per-key
    * state carries (current session id, last event time); events in each
    * micro-batch are processed in event-time order and extend or cut the
    * session at the inactivity gap. Works identically on a batch Dataset
    * (Spark runs the same function) — StreamingSpec asserts the streaming
    * result equals the batch window implementation.
    */
  def assignSessions(events: Dataset[SEvent], gapSeconds: Long)
      : Dataset[SessionAssign] =
    // ONE sessionization core: this is the v1-envelope configuration of
    // [[assignSessionsVersioned]] — a second copy of the load-bearing
    // cut loop (sort key, gap comparison, sid/last bookkeeping) is
    // exactly the class of divergence the micros() scaladoc documents.
    // Every gate's checkpoint is a per-run temp dir, so the state-type
    // change (SessionState → VersionedSessionState) is invisible.
    assignSessionsVersioned(events, gapSeconds, stateVersion = 1)

  /** STATE SCHEMA EVOLUTION posture (r10 verdict #3 — SURVEY §7 M5
    * names it the hard part of the streaming tier): the sessionizer
    * with its keyed state wrapped in a VERSIONED ENVELOPE. The state
    * type Spark's encoder sees — [[VersionedSessionState]] (version +
    * opaque payload) — NEVER changes across application upgrades, which
    * is exactly how production flatMapGroupsWithState deployments
    * survive state-shape changes: Spark's state-store schema check
    * pins the encoder schema across restarts, so the evolving part must
    * live INSIDE a stable envelope, versioned and upgraded app-side.
    * (transformWithState's Avro evolution is the Spark-4 native answer;
    * the envelope is the posture that works for the
    * flatMapGroupsWithState family.)
    *
    * Payload layouts: v1 = "sid:lastMicros" (the r7 SessionState
    * fields); v2 adds a session error counter — "sid:lastMicros:nErr",
    * decoded from a v1 payload with the DEFAULT nErr = 0 (add-a-field-
    * with-default, the first thing a production upgrade hits). A v2
    * function resuming on a checkpoint full of v1 state rows upgrades
    * each key on first touch — `upgrades` counts them so the gate can
    * REQUIRE the cross-version path actually ran (a vacuous pass where
    * no state crossed the boundary would gate nothing).
    */
  case class VersionedSessionState(version: Int, payload: String)

  private[streaming] def decodeSessState(s: VersionedSessionState)
      : (Long, Long, Long) = {
    val p = s.payload.split(':')
    s.version match {
      case 1 => (p(0).toLong, p(1).toLong, 0L) // new field: default
      case 2 => (p(0).toLong, p(1).toLong, p(2).toLong)
      case v => throw new IllegalStateException(
        s"unknown session-state version $v — refusing to guess a layout")
    }
  }

  private[streaming] def encodeSessState(version: Int, sid: Long,
                                         last: Long, nErr: Long)
      : VersionedSessionState =
    VersionedSessionState(version,
      if (version == 1) s"$sid:$last" else s"$sid:$last:$nErr")

  /** [[assignSessions]] with versioned-envelope state. `stateVersion`
    * is the version this run WRITES; any older version read back is
    * upgraded in place (new field defaulted). Session semantics are
    * identical to assignSessions at both versions — the v2 error
    * counter rides along (reset per session, bumped per error event) to
    * make the upgraded field live state, while the OUTPUT stays the
    * v1 shape so one batch oracle gates both sides of the upgrade.
    */
  def assignSessionsVersioned(events: Dataset[SEvent], gapSeconds: Long,
                              stateVersion: Int,
                              upgrades: Option[
                                org.apache.spark.util.LongAccumulator] =
                                None): Dataset[SessionAssign] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[SEvent],
         state: GroupState[VersionedSessionState]) =>
          val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var (sid, last, nErr) = state.getOption
            .map { s =>
              if (s.version < stateVersion) upgrades.foreach(_.add(1L))
              decodeSessState(s)
            }
            .getOrElse((0L, Long.MinValue, 0L))
          val out = sorted.map { e =>
            val m = micros(e.ts)
            if (last == Long.MinValue || m - last > gapSeconds * 1000000L) {
              sid += 1
              nErr = 0
            }
            if (e.event_type == "error") nErr += 1
            last = m
            SessionAssign(e.event_id, user, e.ts, sid)
          }
          if (sorted.nonEmpty)
            state.update(encodeSessState(stateVersion, sid, last, nErr))
          out.iterator
      }
  }

  /** R3 streaming journey-instance assembly, START/END-bounded: per-key
    * state is (instance counter, open?). A start event always begins a
    * new instance (a start while one is open supersedes it — the batch
    * cumsum does the same: later rows take the higher start count), an
    * end event closes the open instance inclusively, and events outside
    * any open instance are dropped. StreamingSpec asserts agreement with
    * the batch EventOps.journeyInstancesBounded on the same events.
    */
  def assignBoundedInstances(events: Dataset[SEvent], startType: String,
                             endType: String): Dataset[InstanceAssign] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[SEvent],
         state: GroupState[InstanceState]) =>
          val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var st = state.getOption.getOrElse(InstanceState(0L, false))
          val out = Seq.newBuilder[InstanceAssign]
          sorted.foreach { e =>
            if (e.event_type == startType) {
              st = InstanceState(st.counter + 1, open = true)
              out += InstanceAssign(e.event_id, user, e.ts, e.event_type,
                st.counter)
            } else if (st.open) {
              out += InstanceAssign(e.event_id, user, e.ts, e.event_type,
                st.counter)
              if (e.event_type == endType)
                st = st.copy(open = false)
            } // else: between instances — not part of any journey run
          }
          if (sorted.nonEmpty) state.update(st)
          out.result().iterator
      }
  }

  /** R4 streaming out-of-sequence detection: per-key state carries the
    * previous event type (reset at the session gap); a transition
    * prev → cur is an alert when (cur, prev) is in the DAG's strict
    * transitive closure, i.e. the journey ran backwards. The closure is
    * tiny control-plane data shipped inside the function closure.
    */
  def detectOutOfSequence(events: Dataset[SEvent], gapSeconds: Long,
                          dagClosure: Set[(String, String)])
      : Dataset[SeqAlert] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[SEvent], state: GroupState[SeqState]) =>
          val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var prev = state.getOption.orNull
          val out = Seq.newBuilder[SeqAlert]
          sorted.foreach { e =>
            val m = micros(e.ts)
            val inSession =
              prev != null && m - prev.lastMicros <= gapSeconds * 1000000L
            val sid = if (inSession) prev.sessionId
                      else (if (prev == null) 0L else prev.sessionId) + 1L
            if (inSession && dagClosure((e.event_type, prev.lastType)))
              out += SeqAlert(e.event_id, user, e.ts, sid, prev.lastType,
                e.event_type)
            prev = SeqState(e.event_type, m, sid)
          }
          if (sorted.nonEmpty) state.update(prev)
          out.result().iterator
      }
  }

  /** R4 for SEVERAL journeys on the STREAM — the keyed-state twin of
    * the batch `EventOps.outOfSequenceMulti`: the journey dimension
    * rides the GROUP KEY (journey_id, user_id), so one
    * flatMapGroupsWithState pass evaluates every registered journey's
    * scoped stream simultaneously; per-key state stays one (type,
    * micros, session counter) triple and the per-journey closures ship
    * as control-plane data inside the function closure. The upstream
    * membership join replicates each event only into the journeys that
    * contain its type — exactly the batch operator's broadcast member
    * join, in streaming form.
    */
  def detectOutOfSequenceMulti(events: Dataset[JEvent], gapSeconds: Long,
                               closures: Map[String,
                                 Set[(String, String)]])
      : Dataset[JSeqAlert] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(e => (e.journey_id, e.user_id))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (key: (String, Long), it: Iterator[JEvent],
         state: GroupState[SeqState]) =>
          val (journey, user) = key
          val closure = closures.getOrElse(journey, Set.empty)
          val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var prev = state.getOption.orNull
          val out = Seq.newBuilder[JSeqAlert]
          sorted.foreach { e =>
            val m = micros(e.ts)
            val inSession =
              prev != null && m - prev.lastMicros <= gapSeconds * 1000000L
            val sid = if (inSession) prev.sessionId
                      else (if (prev == null) 0L else prev.sessionId) + 1L
            if (inSession && closure((e.event_type, prev.lastType)))
              out += JSeqAlert(journey, e.event_id, user, e.ts, sid,
                prev.lastType, e.event_type)
            prev = SeqState(e.event_type, m, sid)
          }
          if (sorted.nonEmpty) state.update(prev)
          out.result().iterator
      }
  }

  /** R3 for SEVERAL journeys on the STREAM — the keyed-state twin of
    * the batch `EventOps.journeyInstancesMulti`: the journey dimension
    * rides the GROUP KEY (journey_id, user_id), one
    * flatMapGroupsWithState pass runs every registered journey's
    * instance conditions simultaneously, and the per-journey conditions
    * (start type, optional end type, payload requirement) ship as
    * control-plane data inside the function closure. Per-key state is
    * one (counter, open) pair regardless of journey count. The three
    * reference instance-condition actions are one state machine:
    * a START always opens a fresh instance; with no end condition every
    * scoped event belongs to the current counter (instance 0 before the
    * first start); with one, events outside an open instance are
    * dropped and the matching end (payload-carrying when required)
    * closes inclusively.
    */
  def assignInstancesMulti(events: Dataset[JIEvent],
                           conds: Map[String,
                             (String, Option[String], Boolean)])
      : Dataset[JInstAssign] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(e => (e.journey_id, e.user_id))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (key: (String, Long), it: Iterator[JIEvent],
         state: GroupState[InstanceState]) =>
          val (journey, user) = key
          val (startType, endType, payloadReq) = conds(journey)
          val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var st = state.getOption.getOrElse(InstanceState(0L, false))
          val out = Seq.newBuilder[JInstAssign]
          sorted.foreach { e =>
            def emit(isEnd: Boolean): Unit =
              out += JInstAssign(journey, e.event_id, user, e.ts,
                e.event_type, st.counter, isEnd, e.k)
            if (e.event_type == startType) {
              st = InstanceState(st.counter + 1, open = true)
              emit(isEnd = false)
            } else if (endType.isEmpty) {
              emit(isEnd = false) // START-cut: instance 0 included
            } else if (st.open) {
              val isEnd = endType.contains(e.event_type) &&
                (!payloadReq || e.k.nonEmpty)
              emit(isEnd)
              if (isEnd) st = st.copy(open = false)
            } // else: between instances — not part of any journey run
          }
          if (sorted.nonEmpty) state.update(st)
          out.result().iterator
      }
  }

  /** Bounded END-TO-END run of the streaming fused multi-journey
    * instance assembler, summarized to the batch
    * `EventOps.journeyInstancesMulti` shape and gated by the same
    * per-journey oracle union as `ev_journeys_multi`. The upstream
    * membership join replicates each event only into the journeys that
    * contain its type (broadcast, stream-static); the per-journey
    * nullable columns (`completed`/`payload_ct`/`n_payloads`) are
    * derived in the tail from the same broadcast condition dimension.
    */
  def journeysMultiBounded(sfDir: String,
                           journeys: Seq[graft.events.EventOps
                             .JourneySpec]): StreamGate = {
    val conds = journeys.map(j =>
      j.journeyId -> ((j.startType, j.endType, j.payloadRequired))).toMap
    StreamGate("journeys_multi_bounded", events(sfDir),
      (s, drop) => {
        import s.implicits._
        val memberDf = journeys
          .flatMap(j => j.members.map(j.journeyId -> _))
          .toDF("journey_id", "event_type")
        assignInstancesMulti(
          eventStream(s, drop)
            .join(broadcast(memberDf), "event_type")
            .select(col("journey_id"), col("event_id"), col("ts"),
              col("user_id"), col("event_type"),
              get_json_object(col("props"), "$.k").cast("long").as("k"))
            .as[JIEvent],
          conds).toDF()
      },
      d => {
        val s = d.session
        import s.implicits._
        val condDim = journeys.map(j => (j.journeyId, j.endType.orNull,
            j.payloadRequired, j.payloadType.orNull))
          .toDF("j_id", "end_type", "payload_req", "payload_type")
        d.rows
          .join(broadcast(condDim), col("journey_id") === col("j_id"))
          .groupBy(col("journey_id"), col("user_id"), col("instance_id"))
          .agg(
            min(col("ts")).as("instance_start"),
            max(col("ts")).as("instance_end"),
            count(lit(1)).as("n_events"),
            first(col("end_type")).as("__et"),
            first(col("payload_req")).as("__pr"),
            (max(when(col("is_end"), 1).otherwise(0)) === 1).as("__cmax"),
            max(when(col("is_end"), col("k"))).as("__pct"),
            count(when(col("event_type") === col("payload_type"), 1))
              .as("__npay"))
          .select(col("journey_id"), col("user_id"), col("instance_id"),
            col("instance_start"), col("instance_end"), col("n_events"),
            when(col("__et").isNotNull, col("__cmax")).as("completed"),
            when(col("__pr"), col("__pct")).as("payload_ct"),
            when(col("__et").isNull, col("__npay")).as("n_payloads"))
          .orderBy("journey_id", "user_id", "instance_id")
      })
  }

  /** Bounded END-TO-END run of the streaming multi-journey detector,
    * shaped to (and gated by) the same oracle as the batch
    * `ev_oos_multi`.
    */
  def oosMultiAlertsBounded(sfDir: String, gapSeconds: Long,
                            journeys: Seq[(String,
                              Seq[graft.events.Dag.Edge])]): StreamGate = {
    val closures = journeys.map { case (j, es) =>
      j -> graft.events.Dag
        .closureLocal(graft.events.Dag.orderedPairs(es)).toSet
    }.toMap
    StreamGate("oos_multi_bounded", events(sfDir),
      (s, drop) => {
        import s.implicits._
        val memberDf = journeys
          .flatMap { case (j, es) => graft.events.Dag.members(es).map(j -> _) }
          .toDF("journey_id", "event_type")
        detectOutOfSequenceMulti(
          eventStream(s, drop)
            .join(broadcast(memberDf), "event_type")
            .select(col("journey_id"), col("event_id"), col("ts"),
              col("user_id"), col("event_type")).as[JEvent],
          gapSeconds, closures).toDF()
      },
      d => d.rows
        .select(col("journey_id"), col("user_id"), col("session_id"),
          col("event_id"), col("ts"), col("prev_type"),
          col("event_type"), lit("OUT_OF_SEQUENCE").as("alert_type"))
        .orderBy("journey_id", "event_id"))
  }

  /** Streaming lineage mining, stage 1: emit EVERY within-session
    * adjacent transition (the out-of-sequence detector's state walk
    * WITHOUT the closure filter — same SeqState, same session
    * numbering). The downstream pair aggregation collapses these to
    * the ≤|types|² mined-edge rows, so the unbounded part of the
    * pipeline is append-only per-event output, and per-key state stays
    * one (type, micros, counter) triple.
    */
  def emitTransitions(events: Dataset[SEvent], gapSeconds: Long)
      : Dataset[Transition] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[SEvent], state: GroupState[SeqState]) =>
          val sorted = it.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var prev = state.getOption.orNull
          val out = Seq.newBuilder[Transition]
          sorted.foreach { e =>
            val m = micros(e.ts)
            val inSession =
              prev != null && m - prev.lastMicros <= gapSeconds * 1000000L
            val sid = if (inSession) prev.sessionId
                      else (if (prev == null) 0L else prev.sessionId) + 1L
            if (inSession) out += Transition(user, prev.lastType,
              e.event_type)
            prev = SeqState(e.event_type, m, sid)
          }
          if (sorted.nonEmpty) state.update(prev)
          out.result().iterator
      }
  }

  /** Deliver a streaming alert/result DataFrame to an external API in
    * fixed-size chunks: foreachBatch per micro-batch, then the batched
    * per-partition sink (the reference posts 100 outcomes per request —
    * demo_helper.py:803-816). Returns the started query.
    */
  def deliverBatched(alerts: DataFrame, batchSize: Int,
                     checkpoint: String)
                    (send: Seq[org.apache.spark.sql.Row] => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    alerts.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Sources.foreachBatched(batch, batchSize)(send)
      }
      .start()

  /** IDEMPOTENT chunked delivery — the replay story [[deliverBatched]]
    * lacks. Structured Streaming's foreachBatch contract is at-least-
    * once: a query that dies between delivering a batch and writing the
    * commit log REPLAYS that batchId on restart, and without protection
    * every chunk of the failed batch reaches the API twice. Two layers
    * close the gap:
    *
    *  1. every chunk carries a deterministic idempotency key
    *     (batchId, partitionId, chunkIndex) —
    *     [[graft.sources.Sources.foreachBatchedKeyed]] — so ANY re-send
    *     (task retry, epoch replay across driver restarts) is
    *     recognizable at the receiving API, which dedupes on the key
    *     exactly as the reference's retried POSTs rely on
    *     (dk-installer.py:1273-1281);
    *  2. a driver-side committed-batch ledger skips batchIds this
    *     driver already delivered IN FULL — the common same-driver
    *     replay (restart on the same checkpoint after a clean stop)
    *     never even re-sends. The ledger is marked AFTER delivery
    *     returns: a mid-batch failure leaves the id uncommitted, the
    *     replay re-delivers under the same keys, and layer 1 absorbs
    *     it. In production the ledger's durable form is the sink
    *     system's own record of processed batch ids (e.g. a delivery
    *     log table MERGEd in the same transaction).
    *
    * StreamingSpec forces a replay by deleting the checkpoint's last
    * commit-log entry and restarting: with the ledger no chunk is
    * re-sent; with keys alone the replayed chunks arrive under already-
    * seen keys (never as silent duplicates).
    */
  def deliverBatchedIdempotent(alerts: DataFrame, batchSize: Int,
                               checkpoint: String,
                               committed: java.util.Set[java.lang.Long] =
                                 java.util.concurrent.ConcurrentHashMap
                                   .newKeySet[java.lang.Long]())
      (send: (graft.sources.Sources.ChunkKey, Seq[Row]) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    alerts.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(idempotentDelivery(batchSize, committed)(send))
      .start()

  /** The foreachBatch body of [[deliverBatchedIdempotent]]: keyed chunks,
    * skipping batch ids `committed` already holds, and marking an id
    * only after its delivery returned.
    */
  def idempotentDelivery(batchSize: Int,
                         committed: java.util.Set[java.lang.Long])
      (send: (graft.sources.Sources.ChunkKey, Seq[Row]) => Unit)
      : (DataFrame, Long) => Unit =
    (batch, id) =>
      if (!committed.contains(id)) {
        graft.sources.Sources.foreachBatchedKeyed(batch, batchSize, id)(send)
        committed.add(id)
      }

  /** Read a drop-folder of event parquet files as a stream (one file per
    * trigger) — the smoke path for wiring the ops above to a real file
    * source without Kafka in the container. `dir` must be a directory;
    * new files appearing in it become micro-batches.
    *
    * The stream schema is DERIVED from the footer of the files already
    * present (one batch footer read at build time, no data scan) and
    * contract-checked against the events table declaration, then
    * timestamp-normalized by the same observed-type-keyed logic as the
    * batch reader (`Tables.normalize`). Round 6 hardcoded the old
    * INT64-nanos layout here; when the testdata regenerated to
    * TIMESTAMP(MICROS) the stream silently shrank every timestamp
    * 1000× while batch adapted — a schema drift must now fail loudly
    * instead (Tables.assertContract), the reference's analog of
    * SHA-pinning its downloads (dk-installer.py:1301-1305).
    */
  def eventStream(spark: SparkSession, dir: String): DataFrame = {
    val observed = spark.read.parquet(dir).schema
    graft.Tables.assertContract(observed, "events", dir)
    val raw = spark.readStream
      .schema(observed)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir")
    graft.Tables.normalize(raw, "events")
  }

  /** Scale-adaptive shuffle/state partition count for a stream gate: a
    * stateful micro-batch commits one state store per shuffle partition
    * (a delta file + commit marker each), and every foreachBatch delta
    * write emits one parquet part per non-empty partition, so the fixed
    * cost of a TRIGGER grows with the partition count while its data is
    * corpus-bytes / nSlices. Inheriting the batch setting (= core count
    * in the bench) made every gate pay 32 state-store commits per
    * trigger to aggregate a few thousand rows. Measured at sf0.1 on 32
    * CPUs (configs interleaved per rep, min of 3; the probe is in git
    * history): 32 → 8 partitions took stream_volume_restart 12.1 → 6.4 s,
    * stream_late_update 10.8 → 6.3 s, stream_liveness_availablenow
    * 10.5 → 6.6 s, stream_sessions_restart_rocksdb 7.4 → 3.7 s (each
    * RocksDB store instance owns a native DB); 4 bought little more and
    * slowed the gates whose per-batch COMPUTE wants task parallelism
    * (stream_profile_restart 5.25 → 5.72 s), so the floor is 8.
    *
    * The count is derived from the SOURCE BYTES the gate replays (~32 MiB
    * of input per partition, floored at 8 and capped by the session's
    * parallelism), so it grows with the corpus instead of being a
    * local-mode constant. Results are partition-count-invariant by
    * construction: every stateful op here is keyed, sums are exact
    * decimals or longs, HLL register merges commute, and every gate's
    * summary re-sorts.
    */
  private[graft] def streamGateParts(spark: SparkSession,
                                     srcBytes: Long): Int = {
    val target = 32L << 20
    val par = spark.sparkContext.defaultParallelism.toLong
    val floor = par.min(8L).max(1L) // never exceed the core count
    ((srcBytes + target - 1) / target).max(floor).min(par.max(floor)).toInt
  }

  /** The `.parquet` files of a Spark-written directory in name order, or
    * the path itself when it is a file.
    */
  private[graft] def parquetParts(path: String): Seq[Path] = {
    val p = Paths.get(path)
    if (!Files.isDirectory(p)) Seq(p)
    else {
      val ls = Files.list(p)
      try ls.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        .sortBy(_.getFileName.toString)
      finally ls.close()
    }
  }

  /** Memoized TIME-SLICED rewrite of a source table, shared across the
    * stream gates: the restarted, AvailableNow and update-mode gates
    * each need the source re-written as `nSlices` disjoint, name-ordered
    * event-time ranges (repartitionByRange on (ts, event_id), the layout
    * a real drop-folder ingestion produces), and ~10 stream gates per
    * sweep would otherwise each pay their own identical rewrite. Keyed
    * by the source's CONTENT (max part mtime + total bytes + part count
    * — a directory's own mtime does not change on an in-place part
    * rewrite) plus nSlices; a lost race costs one redundant
    * deterministic rewrite. Staged dirs are deleted by a JVM shutdown
    * hook (run/test are forked JVMs, so teardown lands at sweep end).
    */
  // ACCESS-ORDERED (true LRU), so under churn the hottest corpus is the
  // last evicted. All access synchronized on the map — staging is a
  // multi-second Spark job, the lock guards microseconds of map ops.
  private val stagedCache = new java.util.LinkedHashMap[
    (String, Long, Long, Int, Int), Path](
    16, 0.75f, /*accessOrder=*/ true)

  // DEFERRED eviction deletion: a victim's directory is queued here at
  // eviction time and deleted only when the NEXT staging completes — a
  // lazy DataFrame handed out just before the eviction gets a full
  // staging's worth of wall-clock to be consumed before its files
  // vanish.
  private val pendingEvict =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]

  private[streaming] def rmTreeQuiet(p: Path): Unit = {
    import scala.util.control.NonFatal
    try {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(f => Files.deleteIfExists(f))
      finally walk.close()
    } catch { case NonFatal(_) => () }
  }

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      stagedCache.synchronized {
        stagedCache.values().forEach(rmTreeQuiet(_))
      }
      pendingEvict.forEach(rmTreeQuiet(_))
    }))
  }

  private[graft] def stagedTimeSliced(spark: SparkSession,
                                      srcParquet: String,
                                      nSlices: Int): String = {
    val parts = parquetParts(srcParquet)
    val key = (srcParquet,
      parts.map(Files.getLastModifiedTime(_).toMillis).maxOption
        .getOrElse(0L),
      parts.map(Files.size).sum, parts.size, nSlices)
    // EXISTENCE check on cache hit: the staged dir can be deleted out
    // from under a cached entry (a SIGTERM runs the shutdown hook while
    // queries still execute; the LRU evict + deferred reap is the same
    // hazard under churn). A hit whose directory no longer holds a
    // parquet leaf is dropped and re-staged, so any single registered
    // query is re-runnable standalone no matter what reaped its staging.
    def alive(p: Path): Boolean =
      Files.isDirectory(p) && parquetParts(p.toString).nonEmpty
    // the alive() listing runs OUTSIDE the map lock — it touches disk;
    // the lock guards microseconds of map ops only. A dead hit is
    // dropped under a re-check (only if the key still maps to the SAME
    // path — a concurrent re-stager may have replaced it) and whatever
    // remains of the partially-reaped directory is queued for
    // reclamation like any eviction victim.
    val cached = stagedCache.synchronized(Option(stagedCache.get(key)))
    val liveHit = cached.filter(alive)
    if (cached.isDefined && liveHit.isEmpty) {
      val dead = cached.get
      stagedCache.synchronized {
        if (stagedCache.get(key) eq dead) {
          stagedCache.remove(key)
          pendingEvict.add(dead)
        }
      }
    }
    liveHit.getOrElse {
      // a NEW staging is starting: reap victims evicted during earlier
      // calls (deferred deletion — see pendingEvict)
      var victim = pendingEvict.poll()
      while (victim != null) { rmTreeQuiet(victim); victim = pendingEvict.poll() }
      val dir = Files.createTempDirectory("graft-timeslice")
      spark.read.parquet(srcParquet)
        .repartitionByRange(nSlices, col("ts"), col("event_id"))
        .sortWithinPartitions("ts", "event_id")
        .write.mode("overwrite").parquet(dir.toString)
      stagedCache.synchronized {
        Option(stagedCache.get(key)).filter(alive) match {
          case Some(prev) => rmTreeQuiet(dir); prev // lost race
          case None =>
            // Bound the cache like the 64-entry range/artifact caches —
            // but a staged entry owns a FULL time-sliced table copy on
            // temp disk, so eviction must also reclaim the directory.
            // Evict ONE entry, the LRU eldest, and only QUEUE the
            // deletion; the files go when the next staging completes.
            while (stagedCache.size >= 64) {
              val it = stagedCache.entrySet().iterator()
              if (it.hasNext) {
                pendingEvict.add(it.next().getValue); it.remove()
              }
            }
            stagedCache.put(key, dir)
            dir
        }
      }
    }.toString
  }

  private def events(sfDir: String): String = s"$sfDir/events.parquet"

  private def sevents(s: SparkSession, drop: String): Dataset[SEvent] =
    eventStream(s, drop).as(Encoders.product[SEvent])

  /** Per-(user, session) span and size: the batch sessionization shape. */
  private def sessionRollup(sink: DataFrame): DataFrame =
    sink.groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_id")

  /** Run 1 drains the first `stopAfter` of `nSlices` time slices and
    * stops; run 2 resumes the SAME checkpoint over the rest, optionally
    * as an upgraded application (`after`).
    */
  private def restartLegs(nSlices: Int, stopAfter: Int,
                          after: Option[(SparkSession, String) =>
                            DataFrame] = None): Seq[Leg] = {
    require(stopAfter > 0 && stopAfter < nSlices,
      s"restart boundary must be strictly inside the replay: " +
        s"stopAfter=$stopAfter nSlices=$nSlices")
    Seq(Leg.Drain(stopAfter), Leg.Drain(build = after))
  }

  /** Bounded END-TO-END run of the streaming sessionizer: the events
    * table replayed through the real file source and the stateful
    * flatMapGroupsWithState sessionizer into a memory sink, summarized
    * as a batch frame. A multi-file source replays one file per trigger
    * in part-file NAME order (the runner stamps increasing mtimes,
    * because the file source sorts by mtime). Per-key order across
    * batches then holds when the writer made part files either per-key
    * disjoint (the sf1 scale layout: disjoint user_id ranges — any file
    * order is correct) or time-sliced in name order (StreamCurve's
    * repartitionByRange(ts) layout), the same property a real ingestion
    * pipeline provides by dropping files as time passes.
    */
  def sessionSummariesBounded(sfDir: String, gapSeconds: Long): StreamGate =
    StreamGate("sessions_bounded", events(sfDir),
      (s, drop) => assignSessions(sevents(s, drop), gapSeconds).toDF(),
      d => sessionRollup(d.rows))

  /** Bounded END-TO-END run of the streaming journey-instance assembler
    * (R3 via the stream path), summarized to the same shape as the
    * batch `EventOps.journeyInstancesBounded` rollup so the
    * `ev_journeys_bounded` oracle gates this query too. The per-event
    * assignment stream carries event_type so `completed` (did an END
    * land in the instance) is derivable without a second source scan.
    */
  def journeySummariesBounded(sfDir: String, startType: String,
                              endType: String): StreamGate =
    StreamGate("journeys_bounded", events(sfDir),
      (s, drop) => assignBoundedInstances(sevents(s, drop), startType,
        endType).toDF(),
      d => d.rows
        .groupBy(col("user_id"), col("instance_id"))
        .agg(min(col("ts")).as("instance_start"),
          max(col("ts")).as("instance_end"),
          count(lit(1)).as("n_events"),
          (max(when(col("event_type") === endType, 1).otherwise(0)) === 1)
            .as("completed"))
        .orderBy("user_id", "instance_id"))

  /** Bounded END-TO-END run of the chunked-delivery sink: the metric-
    * alert stream is delivered through [[idempotentDelivery]] in chunks
    * of `batchSize` (the reference posts 100 outcomes per request —
    * demo_helper.py:803-816), chunk sizes are gathered on a collection
    * accumulator (executor-safe; only SIZES cross to the driver, never
    * rows), and the per-micro-batch chunk statistics come back as a
    * batch frame — making the 100-per-post contract driver-visible and
    * SQL-oracle-checkable. The production path chunks per partition;
    * the CONTRACT under test is the deterministic ceil(n/batchSize)
    * split the oracle computes, which needs one partition per
    * micro-batch, so the alert stream is coalesced (chunk keys still
    * carry the real partition id).
    */
  def deliveryChunksBounded(sfDir: String, eventType: String,
                            threshold: Double, batchSize: Int): StreamGate = {
    val sent = new CollectionAccumulator[(Long, Int, Int, Int)]
    StreamGate("chunks_bounded", events(sfDir),
      (s, drop) => {
        if (!sent.isRegistered) s.sparkContext.register(sent, "graft-chunks")
        metricRuleAlerts(eventStream(s, drop), eventType, threshold)
          .coalesce(1)
      },
      d => {
        val s = d.session
        import s.implicits._
        sent.value.asScala.toSeq
          .groupBy(_._1).toSeq.sortBy(_._1).zipWithIndex
          .map { case ((_, chunks), pos) =>
            val sizes = chunks.map(_._4)
            // idempotence invariant: no (batchId, partition, chunk) key
            // may be delivered twice — 0 on every row, and the oracle
            // hard-codes 0, so ANY duplicate delivery hash-fails the gate
            val dupKeys = chunks.groupBy(c => (c._2, c._3))
              .count(_._2.size > 1).toLong
            (pos.toLong, sizes.map(_.toLong).sum, sizes.size.toLong,
              sizes.count(_ == batchSize).toLong, sizes.min.toLong,
              dupKeys)
          }
          .toDF("batch_pos", "n_rows", "n_chunks", "n_full_chunks",
            "min_chunk", "n_dup_keys").orderBy("batch_pos")
      },
      sink = Sink.ForeachBatch(idempotentDelivery(batchSize,
        java.util.concurrent.ConcurrentHashMap.newKeySet[java.lang.Long]()) {
        (key, g) =>
          sent.add((key.batchId, key.partitionId, key.chunkIndex, g.size))
      }))
  }

  /** Bounded END-TO-END run of the streaming R2 lateness check: the
    * STREAM maintains the running per-(user, day) first-event time — a
    * streaming aggregation in complete mode, the heavy distributed pass
    * — and the summary joins the (control-plane-sized) per-day minima
    * against the broadcast cron slots with exactly the batch scoring
    * (`EventOps.lateStartsFromActual`), so the `ev_late_starts` oracle
    * gates this query too. Complete mode, not append: an aggregation's
    * rows FINALIZE only when the watermark passes them, which never
    * happens for the trailing day of a bounded replay.
    *
    * Scale note (all three complete-mode gates below): complete mode
    * re-emits the WHOLE aggregate per trigger, so its sink cost is
    * O(state) per micro-batch — acceptable exactly when the state is
    * control-plane-sized, which these three are by construction. The
    * UNBOUNDED production posture — the identical aggregations in
    * UPDATE mode with a watermark so closed days EVICT — is gated by
    * the `stream_*_update` queries ([[lateStartSummariesUpdate]] /
    * [[volumeSummariesUpdate]] / [[livenessSummariesUpdate]]).
    */
  def lateStartSummariesBounded(sfDir: String, cron: String,
                                marginSeconds: Long): StreamGate =
    StreamGate("late_bounded", events(sfDir),
      (s, drop) => eventStream(s, drop)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(min(col("ts")).as("actual_start")),
      d => graft.events.EventOps.lateStartsFromActual(d.rows, cron,
        marginSeconds, d.session),
      mode = OutputMode.Complete)

  /** Bounded END-TO-END run of the streaming R8 volume monitor: the
    * stream maintains per-(type, day) tumbling-window counts
    * ([[windowedVolume]], complete mode); the z-scoring over the
    * daily-count frame is the shared batch tail
    * (`EventOps.volumeAnomaliesFromDaily`), so the `ev_volume_anomalies`
    * oracle gates this query too.
    */
  def volumeSummariesBounded(sfDir: String): StreamGate =
    StreamGate("volume_bounded", events(sfDir),
      (s, drop) => windowedVolume(eventStream(s, drop)),
      d => graft.events.EventOps.volumeAnomaliesFromDaily(
        d.rows.select(col("event_type"),
          to_date(col("window_start")).as("day"), col("n"))),
      mode = OutputMode.Complete)

  /** Bounded END-TO-END run of the streaming R9 liveness monitor: the
    * stream maintains the running (last_seen, n_events) per agent key
    * ([[liveness]], complete mode); the staleness flag is the shared
    * batch tail (`EventOps.livenessFromAgg`), so the `ev_liveness`
    * oracle gates this query too.
    */
  def livenessSummariesBounded(sfDir: String): StreamGate =
    StreamGate("liveness_bounded", events(sfDir),
      (s, drop) => liveness(eventStream(s, drop)),
      d => graft.events.EventOps.livenessFromAgg(d.rows),
      mode = OutputMode.Complete)

  /** Bounded END-TO-END run of the streaming out-of-sequence detector
    * (R4 via the stream path). The alert stream carries the same
    * session numbering as the batch `withSessionId`, so the output is
    * shaped to (and gated by) the `ev_out_of_sequence` oracle.
    */
  def oosAlertsBounded(sfDir: String, gapSeconds: Long,
                       dagClosure: Set[(String, String)]): StreamGate =
    StreamGate("oos_bounded", events(sfDir),
      (s, drop) => detectOutOfSequence(sevents(s, drop), gapSeconds,
        dagClosure).toDF(),
      d => d.rows
        .select(col("user_id"), col("session_id"), col("event_id"),
          col("ts"), col("prev_type"), col("event_type"),
          lit("OUT_OF_SEQUENCE").as("alert_type"))
        .orderBy("event_id"))

  /** Instance-alert rules over the STREAMING detectors: the detector →
    * alert → rule → templated-action loop (`ev_rule_instance_alerts`)
    * run via the stream path, as two gates by the nature of the two
    * alert families:
    *
    *  - OUT_OF_SEQUENCE (event-level): [[detectOutOfSequence]]'s keyed
    *    state machine emits the alert stream, and
    *    [[graft.events.EventOps.instanceAlertActions]] — a stateless
    *    narrow pass — compiles the fixture rules IN-STREAM: every
    *    micro-batch's alerts leave the trigger as finished templated
    *    actions, the real continuous-deployment shape.
    *  - FAILED_RUN (run-level): "the session's FINAL event is an
    *    error" is only decidable when the session is complete, so the
    *    gate streams the sessionizer's assignments and applies the
    *    shared batch tail ([[graft.events.EventOps
    *    .failedRunAlertsFromSess]]) post-drain, joining event types
    *    back from the static table (the stream-static pattern; the
    *    assignment stream carries only ids + session numbers).
    *
    * Both gates' actions union under the SAME generated-from-fixture
    * oracle as the batch query — rule matching, template rendering,
    * and session numbering must all agree across the batch/stream
    * boundary for the hash to hold.
    */
  def instanceAlertsBounded(spark: SparkSession, sfDir: String,
                            gapSeconds: Long,
                            dagClosure: Set[(String, String)],
                            rules: Seq[
                              graft.events.EventOps.InstanceAlertRule])
      : DataFrame = {
    val E = graft.events.EventOps
    val oosActions = StreamGate("rule_alerts_oos", events(sfDir),
      (s, drop) => E.instanceAlertActions(
        detectOutOfSequence(sevents(s, drop), gapSeconds, dagClosure).toDF()
          .select(lit("OUT_OF_SEQUENCE").as("alert_type"),
            col("user_id"), col("session_id"), col("event_id"),
            col("event_type"), col("prev_type")),
        rules, ordered = false),
      _.rows).run(spark)
    val failedActions = StreamGate("rule_alerts_failed_run", events(sfDir),
      (s, drop) => assignSessions(sevents(s, drop), gapSeconds).toDF(),
      d => {
        val types = graft.Tables.load(d.session, sfDir, "events")
          .select(col("event_id"), col("event_type"))
        val failed = E.failedRunAlertsFromSess(d.rows.join(types,
            "event_id"))
          .select(lit("FAILED_RUN").as("alert_type"), col("user_id"),
            col("session_id"), lit(null).cast("long").as("event_id"),
            lit(null).cast("string").as("event_type"),
            lit(null).cast("string").as("prev_type"))
        E.instanceAlertActions(failed, rules, ordered = false)
      }).run(spark)
    oosActions.unionByName(failedActions)
      .orderBy(col("rule_id"), col("user_id"), col("session_id"),
        coalesce(col("event_id"), lit(-1L)))
  }

  /** Bounded END-TO-END run of the STREAMING INCREMENTAL PROFILER: each
    * micro-batch is profiled on its own (`Profiler.profileMergeable` —
    * base passes only, distributed), and the per-batch profiles (one
    * control-plane row per column) fold into the running corpus profile
    * with `Profiler.mergeProfiles` inside foreachBatch. This is the
    * reference's scheduled re-profiling (profiling run per table group,
    * demo_helper.py:971-989) turned continuous — per batch the engine
    * aggregates ONLY the new rows; driver state is the profile itself,
    * ~50 statistics × n_columns however large the corpus grows. Gated
    * by the same full-table DuckDB oracle restricted to the mergeable
    * fields, so a hash match proves the whole fold equals a
    * from-scratch profile of the corpus.
    */
  def profileSummariesBounded(sfDir: String,
                              withSketch: Boolean = false): StreamGate = {
    val P = graft.profile.Profiler
    // driver state IS the profile: collected rows, rebuilt as a literal
    // frame each fold — no cached blocks per micro-batch, and the merge
    // input is a LocalRelation, not a growing plan
    var acc: Option[(Seq[Row], StructType)] = None
    StreamGate("profile_bounded", events(sfDir),
      (s, drop) => eventStream(s, drop),
      d => {
        val keep = if (withSketch) P.MergeableFields :+ "distinct_sketch"
                   else P.MergeableFields
        val (rows, schema) =
          acc.getOrElse(sys.error("no micro-batch arrived"))
        d.session.createDataFrame(rows.asJava, schema)
          .select(keep.map(col): _*)
          .orderBy("column_name")
      },
      sink = Sink.ForeachBatch { (batch, _) =>
        val bp = P.profileMergeable(batch, "events", withSketch)
        val merged = acc.fold(bp) { case (rows, schema) =>
          P.mergeProfiles(
            batch.sparkSession.createDataFrame(rows.asJava, schema), bp)
        }
        acc = Some((merged.collect().toSeq, merged.schema))
      })
  }

  /** R1 sessionization drained under Trigger.AvailableNow with an
    * injected mid-drain failure + recovery: run 1 commits the batches
    * before `failAtBatch` and dies inside the sink; run 2 must skip the
    * committed prefix, reprocess the failed batch exactly once, drain
    * the rest and terminate. Delivery is the storage-backed
    * [[ParquetMergeSink]], so a replayed batch overwrites its own
    * batchId-keyed delta and the driver holds O(1) data rows. Gated by
    * the same oracle as `stream_sessions_bounded`.
    */
  def sessionSummariesAvailableNow(sfDir: String, gapSeconds: Long,
                                   nSlices: Int = 4,
                                   failAtBatch: Long = 2L): StreamGate =
    StreamGate("sessions_availablenow", events(sfDir),
      (s, drop) => assignSessions(sevents(s, drop), gapSeconds).toDF(),
      d => sessionRollup(d.rows),
      staging = Staging.TimeSliced(nSlices),
      legs = Seq(Leg.FailAt(failAtBatch), Leg.Drain()),
      sink = Sink.Merge())

  /** R9 liveness monitor (stateful update-mode aggregation) through the
    * same injected failure + recovery, delivered to the keyed MERGE
    * sink — a replayed batch must overwrite its own delta, never append
    * twice. Gated by the `ev_liveness` oracle via the shared batch tail.
    */
  def livenessSummariesAvailableNow(sfDir: String, nSlices: Int = 4,
                                    failAtBatch: Long = 2L): StreamGate =
    StreamGate("liveness_availablenow", events(sfDir),
      (s, drop) => liveness(eventStream(s, drop)),
      d => graft.events.EventOps.livenessFromAgg(d.rows),
      staging = Staging.TimeSliced(nSlices),
      legs = Seq(Leg.FailAt(failAtBatch), Leg.Drain()),
      mode = OutputMode.Update,
      sink = Sink.Merge(Seq("user_id")))

  /** R1 sessionization through a mid-replay restart (CHECKPOINT
    * RECOVERY, the contract a continuous deployment exercises weekly):
    * the flatMapGroupsWithState sessionizer stops after `stopAfter` of
    * `nSlices` time slices and a new query resumes the SAME checkpoint —
    * the per-key (session id, last event time) state MUST come back
    * from the state store, or every session spanning the restart
    * boundary splits/renumbers, and files the source log committed must
    * be skipped. Batches land in the append-mode [[ParquetMergeSink]]
    * as batchId-keyed deltas (a replayed batch OVERWRITES its previous
    * delivery). Gated by the same oracle as `stream_sessions_bounded`.
    */
  def sessionSummariesRestart(sfDir: String, gapSeconds: Long,
                              nSlices: Int = 4,
                              stopAfter: Int = 2): StreamGate =
    StreamGate("sessions_restart", events(sfDir),
      (s, drop) => assignSessions(sevents(s, drop), gapSeconds).toDF(),
      d => sessionRollup(d.rows),
      staging = Staging.TimeSliced(nSlices),
      legs = restartLegs(nSlices, stopAfter),
      sink = Sink.Merge())

  /** STATE SCHEMA EVOLUTION gate: the sessionizer stopped mid-drain and
    * resumed by an UPGRADED application — run 1 writes version-1 state
    * ("sid:last"), run 2's function writes version-2 state (added
    * error-counter field) and must decode every version-1 row it finds
    * with the new field DEFAULTED. Output must still hash-match the
    * batch sessionization oracle, and the gate REQUIRES the
    * cross-version decode actually ran — with state for every active
    * user at the boundary, a zero upgrade count means the harness, not
    * the operator, broke.
    */
  def sessionSummariesEvolve(sfDir: String, gapSeconds: Long,
                             nSlices: Int = 4,
                             stopAfter: Int = 2): StreamGate = {
    val upgrades = new LongAccumulator
    StreamGate("sessions_evolve", events(sfDir),
      (s, drop) => assignSessionsVersioned(sevents(s, drop), gapSeconds,
        stateVersion = 1).toDF(),
      d => {
        require(upgrades.value > 0L,
          "state-evolution gate: no v1→v2 state upgrade ever ran — the " +
            "restart boundary carried no state and the gate would be " +
            "vacuous")
        sessionRollup(d.rows)
      },
      staging = Staging.TimeSliced(nSlices),
      legs = restartLegs(nSlices, stopAfter, after = Some { (s, drop) =>
        if (!upgrades.isRegistered)
          s.sparkContext.register(upgrades, "state_upgrades")
        assignSessionsVersioned(sevents(s, drop), gapSeconds,
          stateVersion = 2, Some(upgrades)).toDF()
      }),
      sink = Sink.Merge())
  }

  /** R8 volume through a mid-replay restart, in UPDATE mode: the
    * windowed-count aggregation buffers and the watermark must both
    * recover from the checkpoint, and the latest-wins fold absorbs any
    * replayed batch idempotently. Gated by the same oracle as
    * `ev_volume_anomalies`.
    */
  def volumeSummariesRestart(sfDir: String, nSlices: Int = 4,
                             stopAfter: Int = 2): StreamGate =
    StreamGate("volume_restart", events(sfDir),
      (s, drop) => windowedVolume(eventStream(s, drop)),
      d => graft.events.EventOps.volumeAnomaliesFromDaily(
        d.rows.select(col("event_type"),
          to_date(col("window_start")).as("day"), col("n"))),
      staging = Staging.TimeSliced(nSlices),
      legs = restartLegs(nSlices, stopAfter),
      mode = OutputMode.Update,
      sink = Sink.Merge(Seq("window_start", "event_type")))

  /** The incremental profiler through a mid-replay restart — the
    * restart story [[profileSummariesBounded]]'s driver fold lacks: the
    * running merged profile lives OUTSIDE the checkpoint, so a
    * restarted query would skip the already-committed files while a
    * naive fold restarts empty. The restart-safe shape keys the fold BY
    * BATCH ID: each micro-batch's per-batch profile lands in the sink
    * under its batchId — a replayed batch re-profiles and OVERWRITES
    * idempotently — and the final profile merges the per-batch profiles
    * in batchId order. Gated by the SAME full-table oracle as
    * `stream_profile_bounded`.
    */
  def profileSummariesRestart(sfDir: String, nSlices: Int = 4,
                              stopAfter: Int = 2): StreamGate = {
    val P = graft.profile.Profiler
    StreamGate("profile_restart", events(sfDir),
      (s, drop) => eventStream(s, drop),
      d => {
        val perBatch = d.rows
        val ids = perBatch.select(col("__batch")).distinct()
          .collect().map(_.getLong(0)).sorted
        ids.map(i => perBatch.filter(col("__batch") === i).drop("__batch"))
          .reduce(P.mergeProfiles)
          .select(P.MergeableFields.map(col): _*)
          .orderBy("column_name")
      },
      staging = Staging.TimeSliced(nSlices),
      legs = restartLegs(nSlices, stopAfter),
      sink = Sink.Merge(mapBatch = (b, id) =>
        P.profileMergeable(b, "events").withColumn("__batch", lit(id))))
  }

  /** UPDATE-MODE production posture of a streaming monitor. The bounded
    * gates run the monitor aggregations in COMPLETE mode, which
    * re-emits the whole aggregate per trigger; a continuous deployment
    * runs the identical aggregation in update mode — each trigger emits
    * ONLY the keys that changed, folded latest-wins per `keys` in the
    * [[ParquetMergeSink]] — and a watermark lets the state store evict
    * windows the event-time horizon has passed. With `sentinelAdvance`
    * the gate proves the eviction: after the corpus drains,
    * [[StreamGate.Leg.SentinelAdvance]] moves the watermark past it, and
    * the summary REQUIRES the state-store row count to end below its
    * peak, so the driver gate itself fails if eviction regresses.
    *
    * WATERMARKED aggregations assume the drop folder receives files in
    * (approximate) EVENT-TIME order. A layout whose part files each span
    * the full time range (the sf1 scale layout) would put most rows
    * behind the already-advanced GLOBAL watermark from the second
    * trigger on, so the source is always staged as a time-sliced
    * rewrite with one slice per source part file.
    */
  private def updateGate(name: String, sfDir: String, keys: Seq[String],
                         build: (SparkSession, String) => DataFrame,
                         summary: Drained => DataFrame,
                         sentinelAdvance: Boolean): StreamGate =
    StreamGate(name, events(sfDir), build,
      d => {
        if (sentinelAdvance)
          require(d.finalStateRows < d.peakStateRows,
            s"closed windows must evict: peak=${d.peakStateRows} " +
              s"final=${d.finalStateRows}")
        summary(d)
      },
      staging = Staging.TimeSliced(parquetParts(events(sfDir)).size.max(1)),
      legs = Leg.Drain() +:
        (if (sentinelAdvance) Seq(Leg.SentinelAdvance) else Nil),
      mode = OutputMode.Update,
      sink = Sink.Merge(keys))

  /** Production-mode R2 lateness: the per-(user, day) first-event
    * aggregation as an update-mode windowed aggregate with the 55 h
    * watermark, folded and scored by the SAME tail as the batch
    * operator — gated by the `ev_late_starts` oracle — and required to
    * EVICT closed days. The 1-day tumbling window is the streaming form
    * of the batch `to_date(ts)` group key: UTC day boundaries,
    * `day = to_date(window.start)`.
    */
  def lateStartSummariesUpdate(sfDir: String, cron: String,
                               marginSeconds: Long,
                               watermarkDelay: String = DefaultWatermark)
      : StreamGate =
    updateGate("late_update", sfDir, Seq("user_id", "day"),
      (s, drop) => eventStream(s, drop)
        .withWatermark("ts", watermarkDelay)
        .groupBy(col("user_id"), window(col("ts"), "1 day"))
        .agg(min(col("ts")).as("actual_start"))
        .select(col("user_id"), to_date(col("window.start")).as("day"),
          col("actual_start")),
      d => graft.events.EventOps.lateStartsFromActual(
        d.rows.filter(col("user_id") >= 0), cron, marginSeconds, d.session),
      sentinelAdvance = true)

  /** Production-mode R8 volume: [[windowedVolume]] (already watermarked)
    * in update mode, folded latest-wins per (window, type), z-scored by
    * the shared batch tail — gated by the `ev_volume_anomalies` oracle —
    * with closed windows required to evict.
    */
  def volumeSummariesUpdate(sfDir: String,
                            watermarkDelay: String = DefaultWatermark)
      : StreamGate =
    updateGate("volume_update", sfDir, Seq("window_start", "event_type"),
      (s, drop) => windowedVolume(eventStream(s, drop), watermarkDelay),
      d => graft.events.EventOps.volumeAnomaliesFromDaily(
        d.rows.filter(col("event_type") =!= "__sentinel__")
          .select(col("event_type"), to_date(col("window_start")).as("day"),
            col("n"))),
      sentinelAdvance = true)

  /** Production-mode R9 liveness: the running per-agent (last_seen,
    * n_events) aggregate in update mode — each trigger emits only the
    * agents that were seen, not the whole roster. No watermark and no
    * eviction REQUIREMENT: liveness state is one row per agent by
    * construction (evicting an agent would forget its last heartbeat),
    * so the scale contract is state == roster size, asserted in
    * StreamingSpec. Gated by the `ev_liveness` oracle.
    */
  def livenessSummariesUpdate(sfDir: String): StreamGate =
    updateGate("liveness_update", sfDir, Seq("user_id"),
      (s, drop) => liveness(eventStream(s, drop)),
      d => graft.events.EventOps.livenessFromAgg(d.rows),
      sentinelAdvance = false)

  /** Streaming lineage mining run end-to-end: the real events file
    * replayed through [[emitTransitions]], the sink's transition rows
    * aggregated + classified by the SAME tail as the batch miner
    * (`EventOps.mineTransitions`) — gated by the same DuckDB oracle as
    * `ev_dag_mine`. In a continuous deployment the tail would run as a
    * complete-mode aggregation over the transition stream (state =
    * ≤|types|² pair counts); the bounded harness materializes the
    * append stream first so the replay stays deterministic.
    */
  def dagMineBounded(sfDir: String, gapSeconds: Long, minSupport: Long,
                     direct: Seq[(String, String)],
                     closure: Seq[(String, String)]): StreamGate =
    StreamGate("dag_mine_bounded", events(sfDir),
      (s, drop) => emitTransitions(sevents(s, drop), gapSeconds).toDF(),
      d => graft.events.EventOps.mineTransitions(d.rows, minSupport,
        graft.events.Dag.edgeDf(d.session, direct),
        graft.events.Dag.edgeDf(d.session, closure)))
}
