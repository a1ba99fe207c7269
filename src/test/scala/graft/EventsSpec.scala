package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.events.{Dag, EventOps}

class EventsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** (event_id, ts, user_id, event_type, value, props) fixture: user 1 has
    * two sessions split by a 2 h gap, the second ending in an error; user 2
    * has one session with a backwards funnel transition (click → view).
    */
  private lazy val fixture = Seq(
    (1L, ts("2024-01-01 10:00:00"), 1L, "signup", 1.0, """{"k": 1}"""),
    (2L, ts("2024-01-01 10:10:00"), 1L, "view", 2.0, """{"k": 2}"""),
    (3L, ts("2024-01-01 13:00:00"), 1L, "purchase", 50.0, """{"k": 3}"""),
    (4L, ts("2024-01-01 13:05:00"), 1L, "error", 0.0, """{"k": 4}"""),
    (5L, ts("2024-01-01 09:00:00"), 2L, "signup", 1.0, """{"k": 5}"""),
    (6L, ts("2024-01-01 09:10:00"), 2L, "click", 3.0, """{"k": 6}"""),
    (7L, ts("2024-01-01 09:20:00"), 2L, "view", 4.0, """{"k": 7}"""),
  ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("sessionization cuts at the inactivity gap") {
    val sess = EventOps.sessionSummary(fixture, gapSeconds = 3600).collect()
    val byKey = sess.map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(byKey.keySet == Set((1L, 1L), (1L, 2L), (2L, 1L)))
    assert(byKey((1L, 1L)).getAs[Long]("n_events") == 2)
    assert(byKey((1L, 2L)).getAs[Long]("n_errors") == 1)
    assert(byKey((1L, 2L)).getAs[Double]("total_value") == 50.0)
  }

  test("failed-run alerts fire only for sessions ending in an error") {
    val alerts = EventOps.failedRunAlerts(fixture, 3600).collect()
    assert(alerts.length == 1)
    assert(alerts.head.getAs[Long]("user_id") == 1L)
    assert(alerts.head.getAs[Long]("session_id") == 2L)
    assert(alerts.head.getAs[String]("message") ==
      "Run 2 for user 1 failed")
  }

  test("journey instances cut at the START-condition component") {
    val inst = EventOps.journeyInstances(fixture, "signup").collect()
    val u1 = inst.filter(_.getLong(0) == 1L)
    assert(u1.map(_.getLong(1)).toSeq == Seq(1L))
    assert(u1.head.getAs[Long]("n_payloads") == 1L)
  }

  test("DAG closure and out-of-sequence detection") {
    val closure = Dag.closure(Dag.edgeDf(spark, Dag.FunnelEdges))
    val pairs = closure.collect()
      .map(r => r.getString(0) -> r.getString(1)).toSet
    assert(pairs == Set(
      "signup" -> "view", "signup" -> "click", "signup" -> "purchase",
      "view" -> "click", "view" -> "purchase", "click" -> "purchase"))
    // the driver-side closure agrees with the distributed one
    assert(Dag.closureLocal(Dag.FunnelEdges).toSet == pairs)
    val oos = EventOps.outOfSequence(fixture, 3600, closure).collect()
    // user 2's click → view runs backwards along the funnel
    assert(oos.length == 1)
    assert(oos.head.getAs[Long]("event_id") == 7L)
    assert(oos.head.getAs[String]("prev_type") == "click")
    assert(oos.head.getAs[String]("event_type") == "view")
  }

  test("half-open journey edges grant membership without ordering") {
    // journey: view → click ordered; error a {left}-only member;
    // signup NOT a member (reference demo_helper.py:264-271)
    val j = Seq(Dag.Edge(Some("view"), Some("click")),
      Dag.Edge(Some("error"), None))
    assert(Dag.members(j) == Seq("click", "error", "view"))
    assert(Dag.orderedPairs(j) == Seq(("view", "click")))
    val closure = Dag.edgeDf(spark, Dag.closureLocal(Dag.orderedPairs(j)))
    def evs(rows: (Long, String)*) = {
      import org.apache.spark.sql.functions.expr
      rows.zipWithIndex.map { case ((u, t), i) =>
        (i.toLong + 1, u, t, 0.0, "{}",
          java.sql.Timestamp.valueOf(f"2024-01-01 10:${i}%02d:00"))
      }.toDF("event_id", "user_id", "event_type", "value", "props", "ts")
        .withColumn("ts", expr("ts"))
    }
    def flagged(df: org.apache.spark.sql.DataFrame) =
      EventOps.outOfSequenceScoped(df, 3600, closure, Dag.members(j))
        .collect().map(_.getAs[Long]("event_id")).toSeq
    // (a) non-member signup between click and view is INVISIBLE to the
    //     journey: click → view is still adjacent and flags
    assert(flagged(evs((1L, "click"), (1L, "signup"), (1L, "view")))
      == Seq(3L))
    // (b) the unordered member error IS part of the journey stream: it
    //     breaks click/view adjacency, so nothing flags...
    assert(flagged(evs((1L, "click"), (1L, "error"), (1L, "view")))
      == Seq.empty)
    // (c) ...and an unordered member itself NEVER raises the alert,
    //     wherever it sits relative to ordered components
    assert(flagged(evs((1L, "view"), (1L, "click"), (1L, "error")))
      == Seq.empty)
    // (d) non-members are invisible to INSTANCE BOUNDARIES too: click
    //     then view 90 min later are separate sessions (gap 3600 s) even
    //     though non-member signups tick every 30 min in between — the
    //     backwards transition must NOT flag across the boundary
    val chatter = Seq(
      (1L, 1L, "click", "2024-01-01 10:00:00"),
      (2L, 1L, "signup", "2024-01-01 10:30:00"),
      (3L, 1L, "signup", "2024-01-01 11:00:00"),
      (4L, 1L, "view", "2024-01-01 11:30:00"))
      .map { case (e, u, t, s) =>
        (e, u, t, 0.0, "{}", java.sql.Timestamp.valueOf(s))
      }.toDF("event_id", "user_id", "event_type", "value", "props", "ts")
    assert(flagged(chatter) == Seq.empty)
  }

  test("schedule lateness flags starts beyond cron + margin") {
    val late = EventOps.lateStarts(fixture, "0 6 * * *", 600, spark)
      .collect().map(r => r.getAs[Long]("user_id") -> r).toMap
    // user 1 first event 10:00 vs expected 06:00 → 240 min late
    assert(late(1L).getAs[Boolean]("late_start"))
    assert(late(1L).getAs[Double]("minutes_late") == 240.0)
    assert(late(2L).getAs[Double]("minutes_late") == 180.0)
  }

  test("minutes late/over round like DuckDB's round(x, 4): on the " +
      "binary double, not on its shortest decimal rendering") {
    // 9 245 499 000 µs / 6e7 = 154.09165 in decimal, 154.09164999… as a
    // double: DuckDB gives 154.0916, Spark's round(_, 4) 154.0917
    val x = lit(9245499000L) / lit(6.0e7)
    val r = spark.range(1).select(EventOps.round4(x), round(x, 4)).head()
    assert(r.getDouble(0) == 154.0916)
    assert(r.getDouble(1) == 154.0917, "the tie this rounding exists for")
    // the same µs gap end to end, 06:00 slot → 08:34:05.499 start
    val ev = Seq((1L, ts("2024-01-01 08:34:05.499"), 1L, "signup", 1.0,
      "{}")).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    def one(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(c).as[Double].collect().toSeq
    assert(one(EventOps.lateStarts(ev, "0 6 * * *", 600, spark),
      "minutes_late") == Seq(154.0916))
    assert(one(EventOps.lateStartsCron(ev, "0 6 * * *", 600, 3600, spark),
      "minutes_late") == Seq(154.0916))
    assert(one(EventOps.lateEndsCron(ev, "0 6 * * *", 0, 600, 3600, spark),
      "minutes_over") == Seq(154.0916))
  }

  test("cron lateness matches each run start to the nearest slot, " +
      "across midnight") {
    // user 3 starts a run at 01:00 — with an 18:00-only cron the governing
    // slot is YESTERDAY 18:00 (the daily to_date equi-join can't see it)
    val ev = fixture.unionByName(Seq(
      (8L, ts("2024-01-02 01:00:00"), 3L, "signup", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val out = EventOps.lateStartsCron(ev, "0 18 * * *", 600, 3600, spark)
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("session_id")) -> r).toMap
    assert(out((3L, 1L)).getAs[Timestamp]("expected_start") ==
      ts("2024-01-01 18:00:00"))
    assert(out((3L, 1L)).getAs[Double]("minutes_late") == 420.0)
    // user 1 session 2 starts 13:00 Jan 1 → governing slot Dec 31 18:00
    assert(out((1L, 2L)).getAs[Timestamp]("expected_start") ==
      ts("2023-12-31 18:00:00"))
    // sub-daily cron: 4-hourly slots pick the 08:00 slot for a 10:00 start
    val sub = EventOps.lateStartsCron(fixture, "0 */4 * * *", 600, 3600,
      spark).collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("session_id")) -> r).toMap
    assert(sub((1L, 1L)).getAs[Timestamp]("expected_start") ==
      ts("2024-01-01 08:00:00"))
    assert(sub((1L, 1L)).getAs[Double]("minutes_late") == 120.0)
    assert(sub((1L, 1L)).getAs[Boolean]("late_start"))
    assert(sub((2L, 1L)).getAs[Timestamp]("expected_start") ==
      ts("2024-01-01 08:00:00"))
  }

  test("metric rule, rollup worst-status, liveness, props aggregation") {
    val alerts = EventOps.metricRuleAlerts(fixture, "purchase", 40.0)
    assert(alerts.count() == 1)
    val roll = EventOps.userRollup(fixture).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(roll(1L).getAs[String]("worst_status") == "FAILED")
    assert(roll(2L).getAs[String]("worst_status") == "WARNING") // no purchase
    assert(roll(1L).getAs[Double]("purchase_value") == 50.0)
    val live = EventOps.heartbeatLiveness(fixture).collect()
    assert(live.forall(!_.getAs[Boolean]("stale"))) // span < 1 day
    val props = EventOps.propsAggregate(fixture).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(props("signup").getAs[Long]("sum_k") == 6L) // 1 + 5
  }

  test("volume anomaly z-scores need a full 7-day prior window") {
    // 9 days of stable volume then a spike
    val rows = (0 until 9).flatMap { d =>
      val n = if (d == 8) 40 else 10
      (0 until n).map(i => (d * 1000L + i,
        ts(f"2024-02-0${d + 1}%d 12:00:00"), 1L, "view", 1.0, "{}"))
    }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value",
      "props")
    val va = EventOps.volumeAnomalies(df).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString -> r).toMap
    assert(va("2024-02-03").isNullAt(va("2024-02-03").fieldIndex("z")))
    // day 9 spike: prior 7 days all 10 → sd 0 → z null; day 8? prior full
    val spike = va("2024-02-09")
    assert(spike.getAs[Long]("n") == 40)
    assert(spike.getAs[Long]("prior_days") == 7)
    // constant prior counts → zero variance → z undefined (null), honest
    assert(spike.isNullAt(spike.fieldIndex("z")))
  }

  test("as-of join attaches the latest preceding right row per key") {
    val starts = fixture.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"))
    val joined = EventOps.asOfJoin(fixture, starts, "user_id", "ts",
      "run_start").collect()
      .map(r => r.getAs[Long]("event_id") ->
        r.getAs[Timestamp]("run_start")).toMap
    // every user-1 event attributes to the 10:00 signup (self included)
    assert(joined(1L) == ts("2024-01-01 10:00:00"))
    assert(joined(4L) == ts("2024-01-01 10:00:00"))
    assert(joined(6L) == ts("2024-01-01 09:00:00")) // user 2's signup
    assert(joined.size == fixture.count()) // no event precedes its signup
  }

  test("bounded journey instances close at END and exclude strays") {
    val inst = EventOps.journeyInstancesBounded(fixture, "signup",
      "purchase").collect()
    val u1 = inst.filter(_.getLong(0) == 1L)
    // user 1: signup(10:00) … purchase(13:00) closes the instance; the
    // 13:05 error is outside any instance
    assert(u1.length == 1)
    assert(u1.head.getAs[Long]("n_events") == 3)
    assert(u1.head.getAs[Boolean]("completed"))
    // user 2 never purchases → open (incomplete) instance
    val u2 = inst.filter(_.getLong(0) == 2L)
    assert(u2.length == 1 && !u2.head.getAs[Boolean]("completed"))
  }

  test("a stray END between instances does not offset later instances") {
    // signup, purchase (closes 1), purchase (STRAY), signup, view:
    // instance 2 must still be emitted — a stray end is a no-op, matching
    // the streaming state machine
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 9L, "signup", 1.0, "{}"),
      (2L, ts("2024-01-01 10:10:00"), 9L, "purchase", 2.0, "{}"),
      (3L, ts("2024-01-01 10:20:00"), 9L, "purchase", 3.0, "{}"),
      (4L, ts("2024-01-01 10:30:00"), 9L, "signup", 4.0, "{}"),
      (5L, ts("2024-01-01 10:40:00"), 9L, "view", 5.0, "{}"),
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val inst = EventOps.journeyInstancesBounded(ev, "signup", "purchase")
      .collect().map(r => r.getAs[Long]("instance_id") ->
        (r.getAs[Long]("n_events"), r.getAs[Boolean]("completed"))).toMap
    assert(inst == Map(1L -> (2L, true), 2L -> (2L, false)))
  }

  test("END_PAYLOAD instances close only on payload-carrying end events") {
    // user 4: purchase WITHOUT a payload must not close the instance; the
    // later purchase WITH props.k=7 closes it and reports payload_ct=7
    val ev = fixture.unionByName(Seq(
      (10L, ts("2024-01-03 09:00:00"), 4L, "signup", 1.0, "{}"),
      (11L, ts("2024-01-03 09:10:00"), 4L, "purchase", 5.0, "{}"),
      (12L, ts("2024-01-03 09:20:00"), 4L, "purchase", 9.0, """{"k": 7}"""),
      (13L, ts("2024-01-03 09:30:00"), 4L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val inst = EventOps.journeyInstancesEndPayload(ev, "signup", "purchase")
      .collect().filter(_.getAs[Long]("user_id") == 4L)
    assert(inst.length == 1)
    val i = inst.head
    assert(i.getAs[Long]("n_events") == 3) // signup + both purchases
    assert(i.getAs[Boolean]("completed"))
    assert(i.getAs[Long]("payload_ct") == 7L)
    // the 09:30 view is outside the closed instance
    assert(i.getAs[Timestamp]("instance_end") == ts("2024-01-03 09:20:00"))
  }

  test("rule engine: one scan fires value, props, and match rules") {
    val rules = Seq(
      EventOps.AlertRule("big_buy", "purchase", "value", "gt", 40.0,
        "CALL_WEBHOOK"),
      EventOps.AlertRule("hot_k", "click", "props.k", "ge", 6.0,
        "SEND_EMAIL"),
      EventOps.AlertRule("err", "error", "value", "match", 0.0,
        "SEND_EMAIL"),
    )
    val alerts = EventOps.ruleAlerts(fixture, rules).collect()
    val fired = alerts.map(r => (r.getAs[String]("rule_id"),
      r.getAs[Long]("event_id"))).toSet
    assert(fired == Set(("big_buy", 3L), ("hot_k", 6L), ("err", 4L)))
    val buy = alerts.find(_.getAs[String]("rule_id") == "big_buy").get
    assert(buy.getAs[Double]("measured") == 50.0)
    assert(buy.getAs[String]("message") == "rule big_buy fired for user 1")
    assert(buy.getAs[String]("action") == "CALL_WEBHOOK")
  }

  test("rule payload templates substitute columns and props fields") {
    val rules = Seq(
      EventOps.AlertRule("big_buy", "purchase", "value", "gt", 40.0,
        "CALL_WEBHOOK",
        template = "user={user_id} type={event_type} k={props.k}!"),
      // {props.missing} is absent from every event → renders empty
      EventOps.AlertRule("err", "error", "value", "match", 0.0,
        "SEND_EMAIL", template = "m=[{props.missing}] id={event_id}"),
    )
    val alerts = EventOps.ruleAlerts(fixture, rules).collect()
      .map(r => r.getAs[String]("rule_id") -> r.getAs[String]("message"))
      .toMap
    assert(alerts("big_buy") == "user=1 type=purchase k=3!")
    assert(alerts("err") == "m=[] id=4")
  }

  test("late ends flag runs that overrun their slot's allowed duration") {
    // 4-hourly slots, 60 min allowed, 10 min margin.
    // user 1 session 1 (10:00→10:10, slot 08:00): deadline 09:00 → 70 min
    //   over, late. Session 2 (13:00→13:05, slot 12:00): deadline 13:00 →
    //   5 min over, within margin → NOT late.
    // user 2 (09:00→09:20, slot 08:00): 20 min over → late.
    val out = EventOps.lateEndsCron(fixture, "0 */4 * * *",
        allowedRunSeconds = 3600, marginSeconds = 600, gapSeconds = 3600,
        spark).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"))
        -> r).toMap
    val u1s1 = out((1L, 1L))
    assert(u1s1.getAs[Timestamp]("expected_end") == ts("2024-01-01 09:00:00"))
    assert(u1s1.getAs[Boolean]("late_end"))
    assert(u1s1.getAs[Double]("minutes_over") == 70.0)
    val u1s2 = out((1L, 2L))
    assert(u1s2.getAs[Timestamp]("expected_end") == ts("2024-01-01 13:00:00"))
    assert(!u1s2.getAs[Boolean]("late_end"))
    assert(u1s2.getAs[Double]("minutes_over") == 5.0)
    assert(out((2L, 1L)).getAs[Boolean]("late_end"))
    assert(out((2L, 1L)).getAs[Double]("minutes_over") == 20.0)
  }

  test("missed runs are uncovered (user, slot) pairs inside the " +
    "observed range") {
    // events span 09:00..13:05 -> only the 12:00 slot is in range.
    // user 1's second session starts 13:00 and covers 12:00; user 2
    // never starts a run at/after 12:00 -> (2, 12:00) is missed.
    val out = EventOps.missedRuns(fixture, "0 */4 * * *",
        gapSeconds = 3600, spark).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)))
    assert(out.toSeq == Seq((2L, ts("2024-01-01 12:00:00"))))
  }

  test("duration baseline flags runs above the user's own p95") {
    // user 1: 600 s and 300 s runs -> p95 = 585 s, only the 600 s run is
    // slow; user 2's single run IS its own baseline -> never slow
    val out = EventOps.durationBaseline(fixture, gapSeconds = 3600)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out((1L, 1L)) == ((600.0, 585.0, true)))
    assert(out((1L, 2L)) == ((300.0, 585.0, false)))
    assert(out((2L, 1L)) == ((1200.0, 1200.0, false)))
  }

  test("tz-aware lateness expands the schedule on the zone's wall clock") {
    // 06:00 Asia/Kolkata = 00:30 UTC: a 09:00 UTC run start is 8.5 h late
    // vs the IST slot (a UTC-expanded 06:00 slot would say 3 h)
    val out = EventOps.lateStartsCron(fixture, "0 6 * * *", 600, 3600,
        spark, java.time.ZoneId.of("Asia/Kolkata")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"))
        -> r).toMap
    assert(out((2L, 1L)).getAs[Timestamp]("expected_start") ==
      ts("2024-01-01 00:30:00"))
    assert(out((2L, 1L)).getAs[Double]("minutes_late") == 510.0)
  }

  test("lineage mining classifies every mined edge against the declared DAG") {
    val direct = Dag.edgeDf(spark, Dag.FunnelEdges)
    val clos = Dag.edgeDf(spark, Dag.closureLocal(Dag.FunnelEdges))
    // gap 3600: u1 {signup→view}, {purchase→error}; u2 {signup→click→view}
    val mined = EventOps.mineDag(fixture, 3600, 1, direct, clos).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(mined == Map(
      ("signup", "view") -> ((1L, 1L, "declared")),
      ("signup", "click") -> ((1L, 1L, "transitive")),
      ("click", "view") -> ((1L, 1L, "backwards")),
      ("purchase", "error") -> ((1L, 1L, "undeclared"))))
    // support threshold prunes the aggregated edges, not the stream
    assert(EventOps.mineDag(fixture, 3600, 2, direct, clos).isEmpty)
  }

  test("multi-journey OOS: one fused pass equals the per-journey " +
      "scoped operator for every registered journey") {
    val ev = graft.Tables.load(spark, SparkTestSession.sf, "events")
    val multi = EventOps.outOfSequenceMulti(ev, 1800, Dag.MultiJourneys,
      spark).collect()
      .groupBy(_.getString(0))
      .map { case (j, rows) => j -> rows.map(r =>
        (r.getLong(1), r.getLong(2), r.getLong(3))).toSet }
    Dag.MultiJourneys.foreach { case (jid, edges) =>
      val single = EventOps.outOfSequenceScoped(ev, 1800,
          Dag.edgeDf(spark, Dag.closureLocal(Dag.orderedPairs(edges))),
          Dag.members(edges)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(multi.getOrElse(jid, Set.empty) == single,
        s"journey $jid diverged")
    }
    // different memberships must really produce different scoping
    assert(multi.values.toSet.size > 1)
  }

  test("multi-journey INSTANCES: one fused pass equals the per-journey " +
      "single operator on member-scoped events, for every condition kind") {
    import org.apache.spark.sql.functions.col
    val ev = graft.Tables.load(spark, SparkTestSession.sf, "events")
    val specs = graft.queries.EventQueries.MultiJourneySpecs
    val fused = EventOps.journeyInstancesMulti(ev, specs, spark)
    val byJourney = fused.collect().groupBy(_.getString(0))
      .map { case (j, rows) => j -> rows.map(r =>
        (r.getLong(1), r.getLong(2), r.getTimestamp(3), r.getTimestamp(4),
          r.getLong(5))).toSet }
    specs.foreach { j =>
      val scoped = ev.filter(col("event_type").isin(j.members: _*))
      val single = (j.endType match {
        case None => EventOps.journeyInstances(scoped, j.startType)
        case Some(e) if j.payloadRequired =>
          EventOps.journeyInstancesEndPayload(scoped, j.startType, e)
        case Some(e) =>
          EventOps.journeyInstancesBounded(scoped, j.startType, e)
      }).collect().map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2), r.getTimestamp(3), r.getLong(4))).toSet
      assert(byJourney.getOrElse(j.journeyId, Set.empty) == single,
        s"journey ${j.journeyId} diverged")
    }
    // the nullable per-kind columns: completed only for bounded ends,
    // payload_ct only when the end requires a payload, n_payloads only
    // for START-cut journeys
    val rows = fused.collect()
    def nulls(j: String, f: String) =
      rows.filter(_.getString(0) == j).forall(_.isNullAt(
        fused.schema.fieldIndex(f)))
    assert(nulls("funnel", "completed") && nulls("funnel", "payload_ct"))
    assert(nulls("checkout", "payload_ct") && nulls("checkout",
      "n_payloads"))
    assert(nulls("payment", "n_payloads"))
    assert(rows.filter(_.getString(0) == "payment")
      .exists(!_.isNullAt(fused.schema.fieldIndex("payload_ct"))))
    // scale fence: ONE hash exchange however many journeys — the window
    // partitioning (journey_id, user_id) already satisfies the final
    // (journey_id, user_id, instance_id) aggregation
    // (string-counted: AQE nests materialized exchanges inside query
    // stages the TreeNode collect does not descend into)
    val plan = EventOps.journeyInstancesMulti(ev, specs, spark)
      .queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1, s"expected one hash exchange, got $hashEx in:\n" +
      plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
  }

  test("cron queries share ONE memoized range scan; passing the raw " +
      "event range is result-identical to the per-query pre-scan") {
    val dir = SparkTestSession.sf
    val ev = graft.Tables.load(spark, dir, "events")
    // day-equivalence claim of lateStartsFromActual's `range` param:
    // raw (min ts, max ts) vs the actual_start range it would compute
    val raw = EventOps.eventRange(ev)
    val a = EventOps.lateStarts(ev, "0 6 * * *", 600, spark).collect()
    val b = EventOps.lateStarts(ev, "0 6 * * *", 600, spark,
      Some(raw)).collect()
    assert(a.toSeq == b.toSeq)
    val c = EventOps.lateStartsCron(ev, "0 */4 * * *", 600, 1800,
      spark).collect()
    val d = EventOps.lateStartsCron(ev, "0 */4 * * *", 600, 1800, spark,
      range = Some(raw)).collect()
    assert(c.toSeq == d.toSeq)
    // the memo: first call may scan; the second must run ZERO Spark jobs
    // (scoped by job group so parallel suites can't pollute the count)
    graft.queries.EventQueries.evRange(spark, dir) // warm
    val sc = spark.sparkContext
    sc.setJobGroup("evrange-memo-test", "memo re-check", false)
    try {
      val again = graft.queries.EventQueries.evRange(spark, dir)
      assert(sc.statusTracker.getJobIdsForGroup("evrange-memo-test").isEmpty,
        "memoized range must not re-scan events")
      assert(again.value == raw)
    } finally sc.clearJobGroup()
  }
}
