package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{SEvent, StreamGate, StreamingOps}

/** MemoryStream-driven gate for the streaming operators — the driver's
  * DuckDB oracle cannot run streaming queries, so these specs ARE the
  * correctness check (watermark horizon per the reference demo's 55 h
  * backdating).
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def ts(s: String) = Timestamp.valueOf(s)
  private def tmpCheckpoint() =
    java.nio.file.Files.createTempDirectory("ckpt").toString

  private val RocksDb = Some(StreamGate.RocksDbProvider)

  private def sig(df: org.apache.spark.sql.DataFrame) =
    df.agg(count(lit(1)), sum(xxhash64(df.columns.toSeq.map(col): _*)
      .cast(org.apache.spark.sql.types.DecimalType(38, 0))))
      .collect()(0)

  /** Run `g`, keeping what its summary was handed. */
  private def runDrained(g: StreamGate)
      : (org.apache.spark.sql.DataFrame, StreamGate.Drained) = {
    var drained: StreamGate.Drained = null
    val out = g.copy(summary = d => { drained = d; g.summary(d) }).run(spark)
    (out, drained)
  }

  test("stateless metric rule fires per micro-batch") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[SEvent]
    val q = StreamingOps.metricRuleAlerts(in.toDF(), "purchase", 40.0)
      .writeStream.format("memory").queryName("alerts")
      .option("checkpointLocation", tmpCheckpoint()).start()
    try {
      in.addData(
        SEvent(1, ts("2024-01-01 10:00:00"), 1, "purchase", 99.0),
        SEvent(2, ts("2024-01-01 10:01:00"), 1, "purchase", 10.0),
        SEvent(3, ts("2024-01-01 10:02:00"), 2, "view", 99.0))
      q.processAllAvailable()
      val rows = spark.table("alerts").collect()
      assert(rows.map(_.getAs[Long]("event_id")).toSet == Set(1L))
      assert(rows.head.getAs[String]("rule") == "purchase.value gt 40.0")
    } finally q.stop()
  }

  test("streaming dedup drops repeated content across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val docs = in.toDF().toDF("doc_id", "ts", "text")
    val q = StreamingOps.dedupStream(docs, "text", "ts")
      .writeStream.format("memory").queryName("sdedup")
      .option("checkpointLocation", tmpCheckpoint()).start()
    try {
      in.addData(
        (1L, ts("2024-01-01 10:00:00"), "Hello  World"),
        (2L, ts("2024-01-01 10:01:00"), "unique one"))
      q.processAllAvailable()
      // same normalized content (case/whitespace) in a LATER micro-batch
      in.addData(
        (3L, ts("2024-01-01 10:05:00"), "hello world"),
        (4L, ts("2024-01-01 10:06:00"), "unique two"))
      q.processAllAvailable()
      val kept = spark.table("sdedup").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(kept == Set(1L, 2L, 4L)) // doc 3 deduped against doc 1
    } finally q.stop()
  }

  test("streaming curation filters language/quality then dedups") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val docs = in.toDF().toDF("doc_id", "ts", "text")
    val healthy = "the cat sat on a mat and the dog lay on the rug " +
      "while a bird flew over the quiet house in the warm morning sun " +
      "and the children played in the garden with a red ball for hours"
    val q = StreamingOps.curateStream(docs, "text", "ts", minScore = 0.45)
      .writeStream.format("memory").queryName("scurate")
      .option("checkpointLocation", tmpCheckpoint()).start()
    try {
      in.addData(
        (1L, ts("2024-01-01 10:00:00"), healthy),
        (2L, ts("2024-01-01 10:01:00"), "zz qq ww rr tt"), // lang drop
        (3L, ts("2024-01-01 10:02:00"), "the the the the the")) // quality
      q.processAllAvailable()
      in.addData( // exact dup of doc 1 in a later micro-batch
        (4L, ts("2024-01-01 10:05:00"), "  " + healthy.replace(" ", "  ")))
      q.processAllAvailable()
      val kept = spark.table("scurate").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(kept == Set(1L))
    } finally q.stop()
  }

  test("streaming profile folds statistics across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[SEvent]
    val q = StreamingOps.streamingProfile(in.toDF(),
        Seq("event_type", "value"))
      .writeStream.format("memory").queryName("sprof").outputMode("update")
      .option("checkpointLocation", tmpCheckpoint()).start()
    try {
      in.addData(
        SEvent(1, ts("2024-01-01 10:00:00"), 1, "view", 5.0),
        SEvent(2, ts("2024-01-01 10:01:00"), 1, "click", 7.0))
      q.processAllAvailable()
      in.addData(SEvent(3, ts("2024-01-01 10:02:00"), 2, "view", 2.0))
      q.processAllAvailable()
      val r = spark.table("sprof").orderBy(col("record_ct").desc)
        .collect().head
      assert(r.getAs[Long]("record_ct") == 3)
      assert(r.getAs[Long]("event_type_distinct_ct") == 2)
      assert(r.getAs[String]("value_min").toDouble == 2.0)
      assert(r.getAs[String]("value_max").toDouble == 7.0)
    } finally q.stop()
  }

  test("the batch rule engine runs unchanged on a stream") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[SEvent]
    // same compiled-rule operator as the batch path (EventOps.ruleAlerts
    // minus props, which SEvent doesn't carry) — stateless, so Structured
    // Streaming accepts it in append mode with no watermark
    val rules = Seq(graft.events.EventOps.AlertRule(
      "big_buy", "purchase", "value", "gt", 40.0, "CALL_WEBHOOK"))
    val q = graft.events.EventOps.ruleAlerts(
        in.toDF().withColumn("props",
          org.apache.spark.sql.functions.lit("{}")), rules,
        ordered = false)
      .writeStream.format("memory").queryName("rule_alerts")
      .option("checkpointLocation", tmpCheckpoint()).start()
    try {
      in.addData(
        SEvent(1, ts("2024-01-01 10:00:00"), 1, "purchase", 99.0),
        SEvent(2, ts("2024-01-01 10:01:00"), 1, "purchase", 10.0))
      q.processAllAvailable()
      val rows = spark.table("rule_alerts").collect()
      assert(rows.map(_.getAs[Long]("event_id")).toSet == Set(1L))
      assert(rows.head.getAs[String]("rule_id") == "big_buy")
    } finally q.stop()
  }

  test("stream-static join flags late starts against cron slots") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // expected start 09:00 each day (driver-expanded cron), margin 600 s
    val slots = Seq(
      (java.sql.Date.valueOf("2024-01-01"), ts("2024-01-01 09:00:00")),
      (java.sql.Date.valueOf("2024-01-02"), ts("2024-01-02 09:00:00")),
    ).toDF("day", "expected_start")
    val in = MemoryStream[SEvent]
    val q = StreamingOps.lateStartAlerts(in.toDF(), slots, "start", 600)
      .writeStream.format("memory").queryName("late")
      .option("checkpointLocation", tmpCheckpoint()).start()
    try {
      in.addData(
        SEvent(1, ts("2024-01-01 09:05:00"), 1, "start", 0), // within margin
        SEvent(2, ts("2024-01-02 09:30:00"), 1, "start", 0), // 30 min late
        SEvent(3, ts("2024-01-02 09:40:00"), 2, "task", 0))  // not a start
      q.processAllAvailable()
      val rows = spark.table("late").collect()
      assert(rows.map(_.getAs[Long]("event_id")).toSet == Set(2L))
      assert(rows.head.getAs[String]("alert") == "LATE_START")
    } finally q.stop()
  }

  test("watermarked windows absorb 55h-late events and drop older ones") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[SEvent]
    val q = StreamingOps.windowedVolume(in.toDF(), "55 hours", "1 day")
      .writeStream.format("memory").queryName("vol").outputMode("update")
      .option("checkpointLocation", tmpCheckpoint()).start()
    try {
      // three on-time events on day 10 → watermark = day10 12:00 − 55 h
      in.addData(
        SEvent(1, ts("2024-01-10 12:00:00"), 1, "view", 0),
        SEvent(2, ts("2024-01-10 12:05:00"), 1, "view", 0),
        SEvent(3, ts("2024-01-10 12:10:00"), 1, "view", 0))
      q.processAllAvailable()
      // 26 h late (inside the 55 h horizon) → still counted in day 9
      in.addData(SEvent(4, ts("2024-01-09 10:00:00"), 1, "view", 0))
      q.processAllAvailable()
      // ~80 h late (outside) → dropped
      in.addData(SEvent(5, ts("2024-01-07 01:00:00"), 1, "view", 0))
      q.processAllAvailable()
      val counts = spark.table("vol").collect()
        .groupBy(_.getAs[Timestamp]("window_start").toString)
        .view.mapValues(_.map(_.getAs[Long]("n")).max).toMap
      assert(counts("2024-01-10 00:00:00.0") == 3)
      assert(counts("2024-01-09 00:00:00.0") == 1) // late-but-inside landed
      assert(!counts.contains("2024-01-07 00:00:00.0")) // too late: dropped
    } finally q.stop()
  }

  test("liveness tracks the running max event time per agent") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[SEvent]
    val q = StreamingOps.liveness(in.toDF())
      .writeStream.format("memory").queryName("live").outputMode("complete")
      .option("checkpointLocation", tmpCheckpoint()).start()
    try {
      in.addData(SEvent(1, ts("2024-01-01 10:00:00"), 1, "hb", 0))
      q.processAllAvailable()
      in.addData(SEvent(2, ts("2024-01-01 11:00:00"), 1, "hb", 0),
        SEvent(3, ts("2024-01-01 09:00:00"), 2, "hb", 0))
      q.processAllAvailable()
      val rows = spark.table("live").collect()
        .map(r => r.getAs[Long]("user_id") ->
          r.getAs[Timestamp]("last_seen").toString).toMap
      assert(rows(1L) == "2024-01-01 11:00:00.0")
      assert(rows(2L) == "2024-01-01 09:00:00.0")
    } finally q.stop()
  }

  test("stateful sessionization carries session state across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[SEvent]
    val q = StreamingOps.assignSessions(in.toDS(), gapSeconds = 3600)
      .writeStream.format("memory").queryName("sess")
      .option("checkpointLocation", tmpCheckpoint()).start()
    try {
      in.addData(
        SEvent(1, ts("2024-01-01 10:00:00"), 1, "signup", 0),
        SEvent(2, ts("2024-01-01 10:10:00"), 1, "view", 0))
      q.processAllAvailable()
      // batch 2: 10:30 continues session 1; 13:00 opens session 2
      in.addData(
        SEvent(3, ts("2024-01-01 10:30:00"), 1, "click", 0),
        SEvent(4, ts("2024-01-01 13:00:00"), 1, "purchase", 0))
      q.processAllAvailable()
      val sess = spark.table("sess").collect()
        .map(r => r.getAs[Long]("event_id") ->
          r.getAs[Long]("session_id")).toMap
      assert(sess == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
    } finally q.stop()
  }

  test("streaming out-of-sequence alerts across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val closure = graft.events.Dag.closureLocal(
      graft.events.Dag.FunnelEdges).toSet
    val in = MemoryStream[SEvent]
    val q = StreamingOps.detectOutOfSequence(in.toDS(), 3600, closure)
      .writeStream.format("memory").queryName("oos")
      .option("checkpointLocation", tmpCheckpoint()).start()
    try {
      in.addData(SEvent(1, ts("2024-01-01 10:00:00"), 1, "click", 0))
      q.processAllAvailable()
      // view after click within the session → backwards along the funnel,
      // and the prior state crossed the batch boundary
      in.addData(SEvent(2, ts("2024-01-01 10:10:00"), 1, "view", 0),
        SEvent(3, ts("2024-01-01 10:20:00"), 1, "purchase", 0))
      q.processAllAvailable()
      val alerts = spark.table("oos").collect()
      assert(alerts.map(_.getAs[Long]("event_id")).toSeq == Seq(2L))
      assert(alerts.head.getAs[String]("prev_type") == "click")
    } finally q.stop()
  }

  test("streaming sessionizer agrees with the batch window implementation") {
    import spark.implicits._
    val events = Seq(
      SEvent(1, ts("2024-01-01 10:00:00"), 1, "signup", 1.0),
      SEvent(2, ts("2024-01-01 10:10:00"), 1, "view", 2.0),
      SEvent(3, ts("2024-01-01 13:00:00"), 1, "purchase", 50.0),
      SEvent(4, ts("2024-01-01 09:00:00"), 2, "signup", 1.0),
      SEvent(5, ts("2024-01-01 09:10:00"), 2, "click", 3.0))
    // same flatMapGroupsWithState function, batch execution
    val viaState = StreamingOps.assignSessions(events.toDS(), 3600)
      .collect().map(r => r.event_id -> r.session_id).toMap
    val viaWindow = graft.events.EventOps.withSessionId(
        events.toDF().withColumn("props", lit("{}")), 3600)
      .collect().map(r => r.getAs[Long]("event_id") ->
        r.getAs[Long]("session_id")).toMap
    assert(viaState == viaWindow)
  }

  test("streaming sessionizer honors sub-millisecond gaps like the batch " +
      "path") {
    import spark.implicits._
    // the event data is microsecond-grained: a gap of 1800.0005 s must
    // cut a session (strict > 1800 s) on BOTH paths — getTime alone is
    // millisecond-truncated and would merge it
    val events = Seq(
      SEvent(1, ts("2024-01-01 10:00:00"), 1, "signup", 1.0),
      SEvent(2, java.sql.Timestamp.valueOf("2024-01-01 10:30:00.000500"),
        1, "view", 2.0))
    val viaState = StreamingOps.assignSessions(events.toDS(), 1800)
      .collect().map(r => r.event_id -> r.session_id).toMap
    val viaWindow = graft.events.EventOps.withSessionId(
        events.toDF().withColumn("props", lit("{}")), 1800)
      .collect().map(r => r.getAs[Long]("event_id") ->
        r.getAs[Long]("session_id")).toMap
    assert(viaState == viaWindow)
    assert(viaState(1L) != viaState(2L)) // the micro-gap DID cut
  }

  test("bounded multi-file replay triggers in name order and matches " +
      "batch sessionization") {
    import spark.implicits._
    // regression for the mtime-staging defect found by StreamCurve: the
    // file source orders files by MODIFICATION time, and Files.copy
    // staging left near-identical mtimes, so a time-sliced multi-file
    // drop replayed in arbitrary order — per-key state advanced past
    // later-arriving earlier events and the session count varied run to
    // run. The gate runner now stamps strictly increasing mtimes in
    // name order; with a repartitionByRange(ts) layout (users span
    // every file) the streamed summary must equal the batch one.
    val baseMs = ts("2024-01-01 10:00:00").getTime
    val rows = (0 until 90).map { i =>
      // 3 users interleaved through 90 minutes, one event per minute per
      // rotation; every 7th minute skips ahead 45 min to cut sessions
      val skew = (i / 7) * 45L * 60000L
      (i.toLong, (baseMs + i * 60000L + skew) * 1000000L,
        (i % 3).toLong, "view", 1.0, "{}")
    }
    val dir = java.nio.file.Files
      .createTempDirectory("graft-multifile").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .repartitionByRange(4, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val streamed = StreamingOps
      .sessionSummariesBounded(dir, gapSeconds = 1200).run(spark)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
        r.getAs[Timestamp]("session_start"),
        r.getAs[Timestamp]("session_end"),
        r.getAs[Long]("n_events"))).toSet
    val batchEvents = rows.map { case (id, tns, u, et, v, _) =>
      SEvent(id, new Timestamp(tns / 1000000L), u, et, v) }
    val batch = StreamingOps.assignSessions(batchEvents.toDS(), 1200)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
        r.getAs[Timestamp]("session_start"),
        r.getAs[Timestamp]("session_end"),
        r.getAs[Long]("n_events"))).toSet
    assert(streamed == batch)
    assert(streamed.size > 3) // the skips really cut multiple sessions
  }

  test("streaming bounded instances agree with the batch cumsum " +
      "implementation across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val events = Seq(
      SEvent(1, ts("2024-01-01 10:00:00"), 1, "signup", 1.0),
      SEvent(2, ts("2024-01-01 10:10:00"), 1, "view", 2.0),
      SEvent(3, ts("2024-01-01 10:20:00"), 1, "purchase", 50.0), // closes 1
      SEvent(4, ts("2024-01-01 10:30:00"), 1, "view", 0.0), // between: drop
      SEvent(8, ts("2024-01-01 10:35:00"), 1, "purchase", 0.0), // STRAY end
      SEvent(5, ts("2024-01-01 10:40:00"), 1, "signup", 1.0), // opens 2
      SEvent(6, ts("2024-01-01 10:50:00"), 1, "signup", 1.0), // supersedes
      SEvent(7, ts("2024-01-01 09:00:00"), 2, "view", 3.0)) // never opened
    val in = MemoryStream[SEvent]
    val q = StreamingOps.assignBoundedInstances(in.toDS(), "signup",
        "purchase")
      .writeStream.format("memory").queryName("sinst")
      .option("checkpointLocation", tmpCheckpoint()).start()
    try {
      val (b1, b2) = events.splitAt(4) // state must carry across batches
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("sinst").collect()
        .map(r => r.getAs[Long]("event_id") ->
          r.getAs[Long]("instance_id")).toMap
      val batch = graft.events.EventOps.journeyInstancesBounded(
          events.toDF().withColumn("props", lit("{}")), "signup",
          "purchase").collect()
        .map(r => (r.getAs[Long]("user_id"),
          r.getAs[Long]("instance_id")) -> r.getAs[Long]("n_events")).toMap
      // same membership: count streamed assignments per (user, instance)
      val streamedCounts = spark.table("sinst").collect()
        .groupBy(r => (r.getAs[Long]("user_id"),
          r.getAs[Long]("instance_id")))
        .view.mapValues(_.length.toLong).toMap
      assert(streamedCounts == batch)
      assert(!streamed.contains(4L)) // between-instance event dropped
      assert(!streamed.contains(8L)) // stray end: no-op on BOTH paths
      assert(!streamed.contains(7L)) // key with no start: nothing emitted
      assert(streamed(6L) == 3L) // start-on-open superseded into #3
    } finally q.stop()
  }

  test("streaming alerts deliver to an external sink in bounded chunks") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[SEvent]
    val chunks = spark.sparkContext.collectionAccumulator[Int]("chunks")
    val alerts = StreamingOps.metricRuleAlerts(in.toDF(), "purchase", 40.0)
    val q = StreamingOps.deliverBatched(alerts, batchSize = 2,
      tmpCheckpoint())(g => chunks.add(g.size))
    try {
      in.addData((1 to 5).map(i =>
        SEvent(i.toLong, ts(f"2024-01-01 10:0$i%d:00"), 1, "purchase",
          50.0 + i)): _*)
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val sizes = chunks.value.asScala.map(_.toInt)
      assert(sizes.sum == 5)
      assert(sizes.forall(_ <= 2))
    } finally q.stop()
  }

  test("bounded file stream wires the real events table end-to-end") {
    // stage the single-file table into a drop-folder (file streams read
    // directories)
    val dropDir = java.nio.file.Files.createTempDirectory("evdrop")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${SparkTestSession.sf}/events.parquet"),
      dropDir.resolve("events-000.parquet"))
    val stream = StreamingOps.eventStream(spark, dropDir.toString)
    assert(stream.isStreaming)
    val q = StreamingOps.windowedVolume(stream)
      .writeStream.format("memory").queryName("filevol")
      .outputMode("update")
      .option("checkpointLocation", tmpCheckpoint()).start()
    try {
      q.processAllAvailable()
      val total = spark.table("filevol")
        .groupBy("window_start", "event_type").agg(max("n").as("n"))
        .agg(sum("n")).collect()(0).getLong(0)
      assert(total == 1000L) // every sf0.001 event lands in a window
    } finally q.stop()
  }

  test("file-stream timestamps carry the REAL table's units: streamed " +
      "sessions equal batch sessions on the driver layout") {
    // regression for the round-6 correctness failure: eventStream
    // hardcoded the old INT64-nanos layout (ts BIGINT + div 1000), so
    // when the testdata regenerated to TIMESTAMP(MICROS) every streamed
    // timestamp shrank 1000× and sessionization collapsed to one
    // session per user — while the count-only assertions stayed green.
    // This test is unit-SENSITIVE: it compares the streamed session
    // summary against the batch reader's (Tables.load adapts to the
    // observed type), so any unit drift between the two paths fails.
    val streamed = StreamingOps
      .sessionSummariesBounded(SparkTestSession.sf, 1800).run(spark)
      .agg(count(lit(1)).as("n"), sum(col("n_events")).as("ev"),
        max(col("session_id")).as("maxsess"))
      .collect()(0)
    val batch = StreamingOps.assignSessions(
        graft.Tables.load(spark, SparkTestSession.sf, "events")
          .select("event_id", "ts", "user_id", "event_type", "value")
          .as[SEvent](org.apache.spark.sql.Encoders.product[SEvent]),
        1800)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"))
      .agg(count(lit(1)).as("n"), sum(col("n_events")).as("ev"),
        max(col("session_id")).as("maxsess"))
      .collect()(0)
    assert(streamed == batch)
    // one-session-per-user is exactly the failure mode; prove gaps cut
    assert(streamed.getAs[Long]("maxsess") > 1L)
  }

  test("bounded streaming journeys and out-of-sequence agree with their " +
      "batch implementations on the real table") {
    val streamedJ = StreamingOps
      .journeySummariesBounded(SparkTestSession.sf, "signup", "purchase")
      .run(spark)
      .agg(count(lit(1)), sum(col("n_events")),
        sum(when(col("completed"), 1).otherwise(0))).collect()(0)
    val batchJ = graft.events.EventOps.journeyInstancesBounded(
        graft.Tables.load(spark, SparkTestSession.sf, "events"),
        "signup", "purchase")
      .agg(count(lit(1)), sum(col("n_events")),
        sum(when(col("completed"), 1).otherwise(0))).collect()(0)
    assert(streamedJ == batchJ)
    val closure = graft.events.Dag.closureLocal(
      graft.events.Dag.FunnelEdges)
    val streamedO = StreamingOps
      .oosAlertsBounded(SparkTestSession.sf, 1800, closure.toSet)
      .run(spark)
      .agg(count(lit(1)), sum(col("event_id")), max(col("session_id")))
      .collect()(0)
    val batchO = graft.events.EventOps.outOfSequence(
        graft.Tables.load(spark, SparkTestSession.sf, "events"), 1800,
        graft.events.Dag.edgeDf(spark, closure))
      .agg(count(lit(1)), sum(col("event_id")), max(col("session_id")))
      .collect()(0)
    assert(streamedO == batchO)
    assert(streamedO.getAs[Long](0) > 0L) // alerts actually fired
  }

  test("bounded streaming lineage mining equals the batch miner row for " +
      "row on the real table") {
    val direct = graft.events.Dag.FunnelEdges
    val closure = graft.events.Dag.closureLocal(direct)
    // minSupport=1: the sf0.001 fixture's ~6 events/user leave every
    // pair under the production threshold — the spec gates stream/batch
    // AGREEMENT, not the threshold (EventsSpec covers pruning)
    val streamed = StreamingOps
      .dagMineBounded(SparkTestSession.sf, 1800, 1, direct, closure)
      .run(spark)
      .collect().toSeq
    val batch = graft.events.EventOps.mineDag(
        graft.Tables.load(spark, SparkTestSession.sf, "events"), 1800, 1,
        graft.events.Dag.edgeDf(spark, direct),
        graft.events.Dag.edgeDf(spark, closure))
      .collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("bounded complete-mode streaming aggregates (lateness, volume, " +
      "liveness) agree with their batch implementations on the real table") {
    // each pair shares the scoring tail by construction; what this
    // proves is the STREAMING aggregation state (running min / windowed
    // count / running max under the file source) matches the batch scan
    val ev = graft.Tables.load(spark, SparkTestSession.sf, "events")
    val sLate = StreamingOps.lateStartSummariesBounded(
      SparkTestSession.sf, "0 6 * * *", 600).run(spark)
    val bLate = graft.events.EventOps.lateStarts(ev, "0 6 * * *", 600,
      spark)
    assert(sig(sLate) == sig(bLate))
    val sVol = StreamingOps.volumeSummariesBounded(SparkTestSession.sf)
      .run(spark)
    val bVol = graft.events.EventOps.volumeAnomalies(ev)
    assert(sig(sVol) == sig(bVol))
    val sLive = StreamingOps.livenessSummariesBounded(SparkTestSession.sf)
      .run(spark)
    val bLive = graft.events.EventOps.heartbeatLiveness(ev)
    assert(sig(sLive) == sig(bLive))
    assert(sLate.count() > 0 && sVol.count() > 0 && sLive.count() > 0)
  }

  test("streaming incremental profiler folds multi-batch profiles to " +
      "the exact full-corpus profile on the mergeable fields") {
    // stage the real events table as FOUR part-files so the bounded
    // replay runs four micro-batches: the foreachBatch fold must be
    // exactly associative (decimal sums, extrema, re-derived avg) — any
    // drift from the from-scratch batch profile is a hash mismatch here
    // before it would be one in the driver gate
    val ev = graft.Tables.load(spark, SparkTestSession.sf, "events")
    val staged = java.nio.file.Files.createTempDirectory("evprof")
    try {
      ev.repartition(4).write.mode("overwrite")
        .parquet(s"$staged/events.parquet")
      val stream = StreamingOps.profileSummariesBounded(staged.toString)
        .run(spark)
      val batch = graft.profile.Profiler
        .profileMergeable(ev, "events")
        .orderBy("column_name")
      val (s, b) = (stream.collect(), batch.collect())
      assert(s.length == b.length && s.length > 0)
      s.zip(b).foreach { case (x, y) => assert(x == y, s"$x vs $y") }
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(staged)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  test("streaming HLL cardinality sketches union across batches within " +
      "the sketch error contract") {
    // DataSketches HLL unions are NOT register-identical to a one-shot
    // sketch (sparse→dense promotion and union target type differ —
    // measured 1007 vs 1009 on 1k distincts), so the contract is the
    // error bound, not bit equality: the k-batch fold must land within
    // ~1% of the one-shot estimate and within the documented
    // max(2, 10%) bound of the exact distinct count
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.load(spark, SparkTestSession.sf, "events")
    val staged = java.nio.file.Files.createTempDirectory("evsk")
    try {
      ev.repartition(4).write.mode("overwrite")
        .parquet(s"$staged/events.parquet")
      val folded = StreamingOps
        .profileSummariesBounded(staged.toString, withSketch = true)
        .run(spark)
        .select(col("column_name"),
          hll_sketch_estimate(col("distinct_sketch")).as("est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val oneShot = graft.profile.Profiler
        .profileMergeable(ev, "events", withSketch = true)
        .select(col("column_name"),
          hll_sketch_estimate(col("distinct_sketch")).as("est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      folded.foreach { case (c, est) =>
        val one = oneShot(c).toDouble
        assert(math.abs(est - one) <= math.max(2.0, 0.01 * one),
          s"$c: folded $est vs one-shot $one")
      }
      val exact = graft.profile.Profiler.profile(ev, "events")
        .select(col("column_name"), col("distinct_ct"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      folded.foreach { case (c, est) =>
        val e = exact(c).toDouble
        assert(math.abs(est - e) <= math.max(2.0, 0.1 * e),
          s"$c: sketch $est vs exact $e")
      }
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(staged)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  test("update-mode monitors match their batch twins AND evict closed " +
      "state once the watermark passes it") {
    val ev = graft.Tables.load(spark, SparkTestSession.sf, "events")
    // R2 lateness: update-mode windowed min + watermark
    val (late, lateSt) = runDrained(StreamingOps.lateStartSummariesUpdate(
      SparkTestSession.sf, "0 6 * * *", 600))
    assert(sig(late) ==
      sig(graft.events.EventOps.lateStarts(ev, "0 6 * * *", 600, spark)))
    // the (user, day) state grew to the full history during replay, then
    // the sentinel advanced the watermark past every real day — closed
    // days must have LEFT the state store
    assert(lateSt.peakStateRows > 0)
    assert(lateSt.finalStateRows < lateSt.peakStateRows,
      s"peak=${lateSt.peakStateRows} final=${lateSt.finalStateRows}")
    // R8 volume: update-mode windowed count + watermark
    val (vol, volSt) =
      runDrained(StreamingOps.volumeSummariesUpdate(SparkTestSession.sf))
    assert(sig(vol) == sig(graft.events.EventOps.volumeAnomalies(ev)))
    assert(volSt.finalStateRows < volSt.peakStateRows,
      s"peak=${volSt.peakStateRows} final=${volSt.finalStateRows}")
    // R9 liveness: update mode, NO watermark — state is one row per
    // agent by design (evicting would forget last heartbeats); the
    // scale contract is state == roster size, not eviction
    val (live, liveSt) =
      runDrained(StreamingOps.livenessSummariesUpdate(SparkTestSession.sf))
    assert(sig(live) ==
      sig(graft.events.EventOps.heartbeatLiveness(ev)))
    val roster = ev.select("user_id").distinct().count()
    assert(liveSt.finalStateRows == roster,
      s"state=${liveSt.finalStateRows} roster=$roster")
  }

  test("update-mode staging is layout-independent: full-time-range " +
      "replica part files cannot ride the global watermark") {
    // Regression for the sf1-layout defect a scale check caught (the
    // check is in git history): when every part file spans the FULL
    // time range (disjoint by key, not by time), a straight
    // file-per-trigger replay puts
    // most of files 2..n behind the already-advanced GLOBAL watermark
    // and the update-mode aggregation silently drops them —
    // per-key-disjoint files excuse per-key state, never a global
    // watermark. The update gates must therefore re-slice their input by
    // event time regardless of the incoming layout. Spec-scale fence:
    // rewrite the real events table hash-partitioned by user (3 full-
    // range replicas) and require the update-mode monitor to still
    // equal its batch twin.
    val ev = graft.Tables.load(spark, SparkTestSession.sf, "events")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-replica-layout")
    try {
      ev.repartition(3, col("user_id"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val nFiles = {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files
          .list(java.nio.file.Paths.get(s"$dir/events.parquet"))
        try walk.iterator().asScala
          .count(_.getFileName.toString.endsWith(".parquet"))
        finally walk.close()
      }
      assert(nFiles == 3, s"layout must be multi-file, got $nFiles")
      val (late, st) = runDrained(StreamingOps.lateStartSummariesUpdate(
        dir.toString, "0 6 * * *", 600))
      assert(sig(late) ==
        sig(graft.events.EventOps.lateStarts(ev, "0 6 * * *", 600, spark)))
      assert(st.finalStateRows < st.peakStateRows)
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  test("streaming multi-journey OOS equals the batch fused pass on the " +
      "real table") {
    val ev = graft.Tables.load(spark, SparkTestSession.sf, "events")
    val streamed = StreamingOps.oosMultiAlertsBounded(
      SparkTestSession.sf, 1800, graft.events.Dag.MultiJourneys).run(spark)
    val batch = graft.events.EventOps.outOfSequenceMulti(ev, 1800,
      graft.events.Dag.MultiJourneys, spark)
    assert(sig(streamed) == sig(batch))
    assert(streamed.count() > 0)
  }

  test("checkpoint recovery: a stream killed mid-replay and restarted " +
      "from its checkpoint converges to the uninterrupted answer") {
    // sessions: flatMapGroupsWithState state (session id + last event
    // time per user) must reload from the state store — a session
    // spanning the restart boundary renumbers if it doesn't
    val resumed = StreamingOps.sessionSummariesRestart(
      SparkTestSession.sf, 1800, nSlices = 4, stopAfter = 2).run(spark)
    val uninterrupted = StreamingOps.sessionSummariesBounded(
      SparkTestSession.sf, 1800).run(spark)
    assert(sig(resumed) == sig(uninterrupted))
    assert(resumed.count() > 0)
    // volume (update mode): windowed aggregation buffers + watermark
    // recover; the latest-wins fold absorbs any replayed batch
    val vResumed = StreamingOps.volumeSummariesRestart(
      SparkTestSession.sf, nSlices = 4, stopAfter = 2).run(spark)
    val ev = graft.Tables.load(spark, SparkTestSession.sf, "events")
    assert(sig(vResumed) == sig(graft.events.EventOps.volumeAnomalies(ev)))
    // incremental profiler: the batchId-keyed fold through the restart
    // equals the uninterrupted fold (no batch lost or double-counted)
    val pResumed = StreamingOps.profileSummariesRestart(
      SparkTestSession.sf, nSlices = 4, stopAfter = 2).run(spark)
    val pBounded = StreamingOps.profileSummariesBounded(
      SparkTestSession.sf).run(spark)
    assert(sig(pResumed) == sig(pBounded))
  }

  test("RocksDB state store: the stateful gates produce bit-identical " +
      "results under the spillable provider, and the conf is restored") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getAll
    // sessionization through a restart, state held by RocksDB: must
    // equal the default-provider uninterrupted run bit for bit
    val (rocks, st) = runDrained(StreamingOps.sessionSummariesRestart(
      SparkTestSession.sf, 1800, nSlices = 4, stopAfter = 2)
      .copy(provider = RocksDb))
    assert(st.session.conf.get(key) == StreamGate.RocksDbProvider)
    val uninterrupted = StreamingOps.sessionSummariesBounded(
      SparkTestSession.sf, 1800).run(spark)
    assert(sig(rocks) == sig(uninterrupted))
    assert(rocks.count() > 0)
    assert(spark.conf.getAll == before,
      "a gate's provider must not reach the caller's session")
    // journeys (the second stateful family) under RocksDB
    val jRocks = StreamingOps.journeySummariesBounded(SparkTestSession.sf,
      "signup", "purchase").copy(provider = RocksDb).run(spark)
    val jDefault = StreamingOps.journeySummariesBounded(SparkTestSession.sf,
      "signup", "purchase").run(spark)
    assert(sig(jRocks) == sig(jDefault))
  }

  test("a gate whose state-store provider class does not exist fails " +
      "loudly instead of falling back") {
    val e = intercept[Exception](StreamingOps.sessionSummariesBounded(
      SparkTestSession.sf, 1800)
      .copy(provider = Some("graft.NoSuchStateStoreProvider")).run(spark))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage)
        .contains("NoSuchStateStoreProvider")), e)
  }

  test("two gates with different providers run at once from one " +
      "session: each gives its sequential result on its own session, " +
      "and the caller's conf is unchanged") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    def gates = Seq(
      StreamingOps.sessionSummariesRestart(SparkTestSession.sf, 1800),
      StreamingOps.sessionSummariesRestart(SparkTestSession.sf, 1800)
        .copy(provider = RocksDb))
    val sequential = gates.map(g => sig(g.run(spark)))
    val before = spark.conf.getAll
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val runs = Await.result(Future.sequence(gates.map(g => Future {
      val t0 = System.nanoTime()
      val (out, st) = runDrained(g)
      (sig(out), st.session.conf.getOption(key), t0, System.nanoTime())
    })), 10.minutes)
    assert(runs.map(_._1) == sequential)
    assert(runs.map(_._3).max < runs.map(_._4).min, "the gates overlapped")
    assert(!runs(0)._2.contains(StreamGate.RocksDbProvider))
    assert(runs(1)._2.contains(StreamGate.RocksDbProvider))
    assert(spark.conf.getAll == before)
  }

  test("a gate that does not drain within the pass timeout throws, " +
      "naming the gate, and leaves none of its queries running") {
    val caller = spark.newSession()
    caller.conf.set("spark.graft.passTimeoutSec", "2")
    var gateSession: org.apache.spark.sql.SparkSession = null
    val sleepy = StreamGate("sleepy_sink",
      s"${SparkTestSession.sf}/events.parquet",
      (s, drop) => { gateSession = s; StreamingOps.eventStream(s, drop) },
      _.rows, sink = StreamGate.Sink.ForeachBatch((_, _) =>
        Thread.sleep(120000)))
    val t0 = System.nanoTime()
    val e = intercept[java.util.concurrent.TimeoutException](
      sleepy.run(caller))
    val took = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.contains("sleepy_sink"))
    assert(took < 60, s"the gate took $took s to give up")
    assert(gateSession.streams.active.isEmpty)
  }

  test("Trigger.AvailableNow: the catch-up drain terminates on its own, " +
      "and a mid-drain death resumes from the checkpoint to the " +
      "uninterrupted answer") {
    // sessions, append path: run 1 commits batches 0-1, dies at 2; the
    // recovery AvailableNow run must skip the committed prefix, replay
    // batch 2 exactly once, drain 3, and TERMINATE
    val failed = StreamingOps.sessionSummariesAvailableNow(
      SparkTestSession.sf, 1800, nSlices = 4, failAtBatch = 2L).run(spark)
    // the append path delivers through the storage-backed sink — the
    // probe proves every delivered row lives on disk as a batchId-keyed
    // delta (one per drained slice), i.e. the driver materializes no
    // delivered rows
    var sinkParts = -1
    var sinkRows = -1L
    val g = StreamingOps.sessionSummariesAvailableNow(SparkTestSession.sf,
      1800, nSlices = 4).copy(legs = Seq(StreamGate.Leg.Drain()))
    val clean = g.copy(summary = d => {
      sinkParts = d.sinkParts
      sinkRows = d.rows.count()
      g.summary(d)
    }).run(spark)
    assert(sinkParts >= 4,
      s"expected one storage delta per drained slice, saw $sinkParts")
    val evRows = spark.read
      .parquet(s"${SparkTestSession.sf}/events.parquet").count()
    assert(sinkRows == evRows,
      s"storage sink must hold every delivered row: $sinkRows vs $evRows")
    assert(sig(failed) == sig(clean))
    val bounded = StreamingOps.sessionSummariesBounded(
      SparkTestSession.sf, 1800).run(spark)
    assert(sig(failed) == sig(bounded))
    assert(failed.count() > 0)
    // liveness, update path through the storage-backed MERGE sink: the
    // replayed batch overwrites its own delta, so the recovered drain
    // equals the batch twin
    val lFailed = StreamingOps.livenessSummariesAvailableNow(
      SparkTestSession.sf, nSlices = 4, failAtBatch = 2L).run(spark)
    val lBatch = graft.queries.EventQueries.queries("ev_liveness")(
      spark, SparkTestSession.sf)
    assert(sig(lFailed) == sig(lBatch))
  }

  test("idempotent chunked delivery survives a forced epoch replay: the " +
      "ledger re-sends nothing; keys make any re-send recognizable") {
    import spark.implicits._
    import java.nio.file.Files
    val work = Files.createTempDirectory("graft-replay")
    val drop = Files.createDirectories(work.resolve("drop"))
    val ckpt = work.resolve("ckpt").toString
    // two single-part files → two micro-batches (ts in the tsns layout)
    val baseNs = ts("2024-01-01 10:00:00").getTime * 1000000L
    (0 to 1).foreach { i =>
      val rows = (0 until 5).map { j =>
        val k = i * 5 + j
        (k.toLong, baseNs + k * 60000000000L, 1L, "purchase", 50.0 + k,
          "{}")
      }
      val tmp = work.resolve(s"slice$i")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value",
        "props").coalesce(1).write.parquet(tmp.toString)
      import scala.jdk.CollectionConverters._
      val part = Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      val staged = Files.copy(part, drop.resolve(f"s$i%02d.parquet"))
      Files.setLastModifiedTime(staged,
        java.nio.file.attribute.FileTime.fromMillis(1500000000000L +
          i * 1000L))
    }
    val sent = spark.sparkContext
      .collectionAccumulator[(Long, Int, Int)]("sent-keys")
    def runDelivery(ledger: java.util.Set[java.lang.Long]): Unit = {
      val alerts = StreamingOps.metricRuleAlerts(
        StreamingOps.eventStream(spark, drop.toString), "purchase", 40.0)
      val q = StreamingOps.deliverBatchedIdempotent(alerts.coalesce(1),
        batchSize = 2, ckpt, ledger) { (key, g) =>
        sent.add((key.batchId, key.partitionId, key.chunkIndex))
      }
      try q.processAllAvailable()
      finally { q.stop(); q.awaitTermination() }
    }
    def counts = {
      import scala.jdk.CollectionConverters._
      sent.value.asScala.toSeq.groupBy(identity).map { case (k, v) =>
        k -> v.size }
    }
    def forceReplay(): Unit = {
      import scala.jdk.CollectionConverters._
      // delete the newest commit-log entry: the engine now believes the
      // last batch was delivered to the sink but never committed — the
      // exact crash window that causes epoch replay in production
      val dir = work.resolve("ckpt").resolve("commits")
      val commits = Files.list(dir).iterator().asScala.toSeq
        .filter(_.getFileName.toString.forall(_.isDigit))
      val victim = commits.maxBy(_.getFileName.toString.toLong)
      Files.delete(victim)
      // the checksum sibling too — a stale .crc makes the re-written
      // commit file fail its read back
      Files.deleteIfExists(dir.resolve(s".${victim.getFileName}.crc"))
    }
    val ledger = java.util.concurrent.ConcurrentHashMap
      .newKeySet[java.lang.Long]()
    runDelivery(ledger)
    val afterRun1 = counts
    assert(afterRun1.values.forall(_ == 1) && afterRun1.size == 6,
      s"5 rows/batch at chunk 2 = 3 chunks x 2 batches: $afterRun1")
    // replay with the SAME ledger (same-driver restart): nothing re-sent
    forceReplay()
    runDelivery(ledger)
    assert(counts == afterRun1, "ledger must skip the replayed batch")
    // replay with a FRESH ledger (new driver): the replayed batch's
    // chunks go out again but ONLY under already-seen keys — the API
    // dedupes on the key; nothing arrives as a silent new chunk
    forceReplay()
    runDelivery(java.util.concurrent.ConcurrentHashMap
      .newKeySet[java.lang.Long]())
    val afterRun3 = counts
    assert(afterRun3.keySet == afterRun1.keySet, "no unrecognizable keys")
    val (replayed, untouched) = afterRun3.partition(_._1._1 == 1L)
    assert(replayed.nonEmpty && replayed.values.forall(_ == 2))
    assert(untouched.values.forall(_ == 1))
  }

  test("stateful exactly-once through the crash window: a forced epoch " +
      "replay reloads the PRE-BATCH state version and reproduces the " +
      "batch byte-for-byte") {
    import spark.implicits._
    import java.nio.file.Files
    // clean stop/restart (the stream_*_restart gates) proves state
    // recovery at a COMMITTED boundary; this forces the harder window —
    // the engine believes the last batch's sink output may or may not
    // have landed, must reload the state store version from BEFORE that
    // batch, and must re-emit identical rows (which the batchId-keyed
    // fold then overwrites idempotently)
    val work = Files.createTempDirectory("graft-state-replay")
    val drop = Files.createDirectories(work.resolve("drop"))
    val ckpt = work.resolve("ckpt").toString
    val baseNs = ts("2024-01-01 10:00:00").getTime * 1000000L
    // two slices; user 1's session SPANS the slice boundary, so a state
    // rewind that loses (or double-advances) the carried session state
    // renumbers rows of batch 1
    (0 to 1).foreach { i =>
      val rows = (0 until 6).map { j =>
        val k = i * 6 + j
        (k.toLong, baseNs + k * 60000000000L, 1L, "view", 1.0, "{}")
      }
      val tmp = work.resolve(s"slice$i")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value",
        "props").coalesce(1).write.parquet(tmp.toString)
      import scala.jdk.CollectionConverters._
      val part = Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      val staged = Files.copy(part, drop.resolve(f"s$i%02d.parquet"))
      Files.setLastModifiedTime(staged,
        java.nio.file.attribute.FileTime.fromMillis(1500000000000L +
          i * 1000L))
    }
    val batches = scala.collection.mutable.SortedMap
      .empty[Long, Seq[(Long, Long)]] // batchId -> (event_id, session)
    var deliveries = 0
    def run(): Unit = {
      val q = StreamingOps.assignSessions(
          StreamingOps.eventStream(spark, drop.toString).as[SEvent],
          gapSeconds = 1800).toDF()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          deliveries += 1
          batches(id) = b.collect().map(r =>
            (r.getAs[Long]("event_id"), r.getAs[Long]("session_id"))).toSeq
        }
        .start()
      try q.processAllAvailable()
      finally { q.stop(); q.awaitTermination() }
    }
    run()
    val firstPass = batches.toMap
    val deliveriesBefore = deliveries
    // forced crash window: drop the newest commit-log entry (+ crc)
    locally {
      import scala.jdk.CollectionConverters._
      val dir = work.resolve("ckpt").resolve("commits")
      val commits = Files.list(dir).iterator().asScala.toSeq
        .filter(_.getFileName.toString.forall(_.isDigit))
      val victim = commits.maxBy(_.getFileName.toString.toLong)
      Files.delete(victim)
      Files.deleteIfExists(dir.resolve(s".${victim.getFileName}.crc"))
    }
    run()
    // the replay really happened...
    assert(deliveries > deliveriesBefore, "batch 1 must have re-run")
    // ...and reproduced byte-identical output: same batches, same rows,
    // same session numbering across the slice-spanning session
    assert(batches.toMap == firstPass)
    // and the final numbering equals the batch operator (sessions carry
    // across the boundary: 12 one-minute events = one session)
    val all = batches.values.flatten.toSeq.sortBy(_._1)
    assert(all.map(_._1) == (0L until 12L))
    assert(all.map(_._2).distinct == Seq(1L),
      s"one spanning session expected: $all")
  }

  test("streaming ingest dedup equals the batch incremental classifier " +
    "row for row") {
    val stream = graft.queries.TextQueries
      .neardupStreamBounded(spark, SparkTestSession.sf)
      .collect().map(_.toSeq).toSeq
    val batch = graft.queries.TextQueries.dedupIncremental(
        spark, SparkTestSession.sf)
      .collect().map(_.toSeq).toSeq
    assert(batch.nonEmpty)
    assert(batch.exists(_.last != "new")) // non-vacuous: dup classes fire
    assert(stream == batch)
  }

  test("fused ingest front door agrees with the incremental classifier: " +
    "every admitted doc is 'new' and every corpus-dup decision matches") {
    val decisions = graft.queries.TextQueries
      .ingestStreamBounded(spark, SparkTestSession.sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val incr = graft.queries.TextQueries
      .dedupIncremental(spark, SparkTestSession.sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(decisions.keySet == incr.keySet) // same ingest population
    assert(decisions.valuesIterator.toSet.size >= 2) // non-vacuous
    decisions.foreach { case (id, d) =>
      if (d == "admit") assert(incr(id) == "new",
        s"doc $id admitted but incremental says ${incr(id)}")
      // The classifier's dups can be MASKED only by an earlier stage
      // (hygiene precedes dedup; exact precedes near, and a
      // within-stream dup — invisible to the classifier — is exact).
      if (incr(id) == "exact_dup")
        assert(Set("lang", "quality", "exact_dup")(d),
          s"doc $id is a corpus exact dup but decision is $d")
      if (incr(id) == "near_dup")
        assert(Set("lang", "quality", "exact_dup", "near_dup")(d),
          s"doc $id is a corpus near dup but decision is $d")
    }
  }

  test("eventStream fails LOUDLY on a schema-contract violation") {
    import spark.implicits._
    val dropDir = java.nio.file.Files.createTempDirectory("evdrop-bad")
    // ts as STRING violates the declared events contract: this must be
    // a loud build-time error, never a silently mis-read stream
    Seq((1L, "2024-01-01 10:00:00", 1L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(dropDir.toString)
    val e = intercept[IllegalStateException] {
      StreamingOps.eventStream(spark, dropDir.toString)
    }
    assert(e.getMessage.contains("schema contract"))
    assert(e.getMessage.contains("ts"))
  }

  test("time-sliced staging is memoized per (source content, nSlices): " +
      "a second gate on the same corpus stages ZERO Spark jobs, and a " +
      "content rewrite invalidates the entry") {
    import java.nio.file.Files
    val work = Files.createTempDirectory("graft-stagecache")
    val src = work.resolve("events.parquet").toString
    val ev = graft.Tables.load(spark, SparkTestSession.sf, "events")
    ev.limit(2000).write.mode("overwrite").parquet(src)
    val first = StreamingOps.stagedTimeSliced(spark, src, 3)
    val sc = spark.sparkContext
    sc.setJobGroup("stage-memo-test", "memo re-check", false)
    val second = try {
      val d = StreamingOps.stagedTimeSliced(spark, src, 3)
      assert(sc.statusTracker.getJobIdsForGroup("stage-memo-test").isEmpty,
        "memoized staging must not re-run the rewrite")
      d
    } finally sc.clearJobGroup()
    assert(second == first, "same content+nSlices must share one dir")
    // different slice count = different replay cadence -> its own entry
    assert(StreamingOps.stagedTimeSliced(spark, src, 2) != first)
    // in-place rewrite of the source (same file count, same dir mtime
    // hazard the content key exists for) must invalidate
    Thread.sleep(1100) // mtime granularity
    ev.limit(2500).write.mode("overwrite").parquet(src)
    assert(StreamingOps.stagedTimeSliced(spark, src, 3) != first,
      "content rewrite must not serve the stale staged dir")
  }

  test("a staged dir deleted out from under the cache is RE-STAGED on " +
      "the next call, and the gate built on it still runs (r12 verdict " +
      "#5: the bench SIGTERM reaped staging under live solo probes)") {
    import java.nio.file.Files
    val work = Files.createTempDirectory("graft-restage")
    val src = work.resolve("events.parquet").toString
    graft.Tables.load(spark, SparkTestSession.sf, "events")
      .limit(2000).write.mode("overwrite").parquet(src)
    val srcRows = spark.read.parquet(src).count()
    val first = StreamingOps.stagedTimeSliced(spark, src, 3)
    // simulate the shutdown-hook / LRU-evict reap: the dir vanishes but
    // the cache entry survives
    def rmTree(p: java.nio.file.Path): Unit = {
      val walk = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse
          .foreach(f => Files.deleteIfExists(f))
      } finally walk.close()
    }
    rmTree(java.nio.file.Paths.get(first))
    val second = StreamingOps.stagedTimeSliced(spark, src, 3)
    assert(Files.isDirectory(java.nio.file.Paths.get(second)),
      "re-staged dir must exist")
    val n = spark.read.parquet(second).count()
    assert(n == srcRows,
      s"re-staged corpus must be complete, got $n of $srcRows rows")
  }

}
