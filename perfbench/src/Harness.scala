package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Sessions, Tables}
import graft.events.{ControlPlane, EventOps}
import graft.profile.{ProfileOracle, Profiler}
import graft.quality._
import graft.queries.{EventQueries, SimQueries, TextQueries}
import graft.sim.Similarity
import graft.sources.JdbcSink
import graft.streaming.{ParquetMergeSink, SEvent, StreamingOps}
import graft.text.Curation

/** Minimal JSON rendering for the harness's reports. */
object J {
  final case class Raw(s: String)
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def v(x: Any): String = x match {
    case null | None => "null"
    case Some(y) => v(y)
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, y) => str(k.toString) + ":" + v(y) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(v).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(v).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String = v(kv.toMap)

  /** A collected row as a JSON object. Timestamps are epoch microseconds
    * (exact and zone-free), dates ISO strings, decimals numbers.
    */
  def row(r: Row): String =
    r.schema.fieldNames.zipWithIndex.map { case (n, i) =>
      str(n) + ":" + value(r.get(i))
    }.mkString("{", ",", "}")

  private def value(x: Any): String = x match {
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case d: java.sql.Date => str(d.toLocalDate.toString)
    case d: java.time.LocalDate => str(d.toString)
    case d: java.math.BigDecimal => d.toPlainString
    case f: Float => v(f.toDouble)
    case n: Short => n.toString
    case n: Byte => n.toString
    case r: Row => row(r)
    case xs: scala.collection.Seq[_] => xs.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, y) => str(k.toString) + ":" + value(y) }
        .mkString("{", ",", "}")
    case other => v(other)
  }
}

/** One attempt of one pass: the calls it made, what each returned, and
  * the oracle checks `run.py` runs on those outputs.
  */
final class PassCtx(val id: Int, val outDir: Path) {
  val ops = ArrayBuffer.empty[Map[String, Any]]
  /** Work deferred until the pass clock has stopped: writing outputs,
    * reading back stores. */
  val untimed = ArrayBuffer.empty[() => Unit]
  var start, end = 0.0
  var error: Option[String] = None
}

/** Drives one workload in this JVM. Every call into the engine goes
  * through [[call]], which times it from outside (the call itself, then
  * `executedPlan`, then the `collect` drain) inside a [[Trace]] span.
  * Outputs and the oracle SQL to check them against are written after
  * each pass, with the pass clock stopped; `run.py` checks them
  * and answers over stdin before the next pass starts.
  */
final class Bench(spark0: SparkSession, val dataDir: Path, val runDir: Path,
                  val seconds: Double, val planned: Int) {
  var spark: SparkSession = spark0
  var measured = 0.0
  private var nextPass = 0
  val passReports = ArrayBuffer.empty[String]
  /** Workload-specific report sections. */
  val extra = ArrayBuffer.empty[(String, Any)]
  private val in = new BufferedReader(new InputStreamReader(System.in, UTF_8))

  def say(tag: String, payload: String): Unit = {
    System.out.println(s"@@$tag $payload")
    System.out.flush()
  }

  def within: Boolean = measured < seconds

  private def save(ctx: PassCtx, name: String, rows: Array[Row]): String = {
    val p = ctx.outDir.resolve(s"$name.jsonl")
    ctx.untimed += (() => Files.write(p,
      rows.map(J.row).toSeq.asJava, UTF_8): Unit)
    p.toString
  }

  /** Run one engine call inside a span and record it in the pass, with
    * its checks, or with the error it threw. */
  private def record[T](ctx: PassCtx, layer: String, name: String)(
      body: Span => (T, Seq[Map[String, Any]])): T = {
    val t0 = Trace.now()
    try Trace.span(layer, name, ctx.id) { s =>
      val (r, checks) = body(s)
      ctx.ops += Map("name" -> name, "layer" -> layer, "start" -> t0,
        "end" -> Trace.now(), "checks" -> checks)
      r
    } catch {
      case e: Exception =>
        ctx.ops += Map("name" -> name, "layer" -> layer, "start" -> t0,
          "end" -> Trace.now(), "error" -> e.toString, "checks" -> Nil)
        throw e
    }
  }

  /** Time one engine call returning frames (the call, then
    * `executedPlan`, then the `collect` drain) and queue the outputs with
    * their checks (`check(i, outputPath)` per frame). Returns the frames.
    */
  def call(ctx: PassCtx, layer: String, name: String)(
      f: => Seq[DataFrame])(check: (Int, String) => Map[String, Any])
      : Seq[DataFrame] = record(ctx, layer, name) { s =>
    val a = System.nanoTime()
    val dfs = f
    val b = System.nanoTime()
    dfs.foreach(_.queryExecution.executedPlan)
    val c = System.nanoTime()
    val rows = dfs.map(_.collect())
    val d = System.nanoTime()
    s.buildS = Trace.secs(b - a); s.planS = Trace.secs(c - b)
    s.execS = Trace.secs(d - c)
    (dfs, rows.zipWithIndex.map { case (r, i) =>
      check(i, save(ctx, if (rows.size == 1) name else s"$name-$i", r))
    })
  }

  def call1(ctx: PassCtx, layer: String, name: String)(f: => DataFrame)(
      check: String => Map[String, Any]): DataFrame =
    call(ctx, layer, name)(Seq(f))((_, p) => check(p)).head

  /** Time one engine call that returns no frame. */
  def callUnit[T](ctx: PassCtx, layer: String, name: String)(f: => T)(
      checks: T => Seq[Map[String, Any]]): T = record(ctx, layer, name) { s =>
    val a = System.nanoTime()
    val r = f
    s.buildS = Trace.secs(System.nanoTime() - a)
    (r, checks(r))
  }

  /** Run one pass; if its checks fail, run it once more on a fresh
    * session of the same context (what a user would do: the cross-call
    * plan cache is keyed by session). Both attempts are reported.
    */
  def pass(kind: String, views: Map[String, Seq[String]])(
      body: PassCtx => Unit): Boolean = {
    val id = nextPass
    nextPass += 1
    var attempt = 1
    var ok = false
    while (attempt <= 2 && !ok) {
      val out = runDir.resolve(f"out/p$id%03d-a$attempt")
      Files.createDirectories(out)
      val ctx = new PassCtx(id, out)
      ctx.start = Trace.now()
      Trace.span("bench", s"pass:$kind", id) { _ =>
        try body(ctx)
        catch { case e: Exception => ctx.error = Some(e.toString) }
      }
      ctx.end = Trace.now()
      measured += ctx.end - ctx.start
      ctx.untimed.foreach(_())
      val manifest = out.resolve("manifest.json")
      val report = J.obj("id" -> id, "kind" -> kind, "attempt" -> attempt,
        "start" -> ctx.start, "end" -> ctx.end, "planned" -> planned,
        "error" -> ctx.error, "views" -> views,
        "ops" -> ctx.ops.map(o => J.Raw(J.v(o))))
      Files.write(manifest, report.getBytes(UTF_8))
      passReports += manifest.toString
      say("CHECK", manifest.toString)
      val reply = Option(in.readLine()).getOrElse("FAIL eof")
      ok = reply.startsWith("OK")
      if (!ok && attempt == 1) spark = spark.newSession()
      attempt += 1
    }
    ok
  }

  /** Write `src` over `dst` in one rename, as a table rewrite in place. */
  def copyInPlace(src: Path, dst: Path, mtimeMs: Option[Long] = None): Unit = {
    Files.createDirectories(dst.getParent)
    val tmp = dst.resolveSibling("." + dst.getFileName + ".tmp")
    Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
    mtimeMs.foreach(t => Files.setLastModifiedTime(tmp,
      java.nio.file.attribute.FileTime.fromMillis(t)))
    Files.move(tmp, dst, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  def rowsCheck(out: String, sql: String, extra: (String, Any)*)
      : Map[String, Any] =
    Map("kind" -> "rows", "out" -> out, "sql" -> sql) ++ extra
}

object Workloads {
  private def snapDirs(data: Path): Seq[Path] =
    Files.list(data).iterator().asScala
      .filter(_.getFileName.toString.startsWith("snap-")).toSeq.sortBy(_.toString)

  // ---- testgen_quickstart ------------------------------------------------

  val TestgenTables = Quickstart.Config.map(_.table)
  val TestgenOps = 5

  def testgen(b: Bench): Unit = {
    val live = b.runDir.resolve("live")
    val snaps = snapDirs(b.dataDir)
    val derby = b.runDir.resolve("derby/outcomes").toString
    val url = s"jdbc:derby:$derby;create=true"
    def load(t: String) = Tables.load(b.spark, live.toString, t)
    def install(snap: Path): Map[String, Seq[String]] =
      TestgenTables.map { t =>
        b.copyInPlace(snap.resolve(s"$t.parquet"), live.resolve(s"$t.parquet"))
        t -> Seq(snap.resolve(s"$t.parquet").toString)
      }.toMap
    def quickstartPass(ctx: PassCtx): Unit = {
      val cfg = Quickstart.Config
      val profs = b.call(ctx, "profile", "quickstart_profile")(
        Profiler.profileMany(cfg.map(t => (load(t.table)
          .select(t.cols.map(c => col(c.column)): _*), t.table)))) {
        (i, out) => b.rowsCheck(out, ProfileOracle.sql(cfg(i).table),
          "ignore" -> Seq("ordinal"),
          "only_columns" -> cfg(i).cols.map(_.column))
      }
      val defs = b.callUnit(ctx, "quality", "quickstart_generate")(
        cfg.zip(profs).map { case (t, p) =>
          Quickstart.generateDefs(load(t.table), p, t) }) { ds =>
        cfg.zip(ds).map { case (t, d) =>
          Map("kind" -> "equal", "what" -> s"generated test types ${t.table}",
            "got" -> d.map(x => s"${x.column}/${x.testType}").sorted,
            "want" -> Quickstart.expectedTypes(t).toSeq
              .map { case (c, ty) => s"$c/$ty" }.sorted)
        }
      }
      val outcomes = b.call(ctx, "quality", "quickstart_evaluate")(
        TestEvaluator.runMany(cfg.zip(defs).map { case (t, d) =>
          (load(t.table), d) })) { (i, out) =>
        b.rowsCheck(out, TestEvaluator.oracleSql(cfg(i).table, defs(i)))
      }
      var packed: DataFrame = null
      b.call1(ctx, "quality", "quickstart_export") {
        packed = OutcomeExport.pack(outcomes.reduce(_ unionByName _),
          Quickstart.SuiteName, component = Quickstart.Component)
        OutcomeExport.statusRollup(packed)
      }(b.rowsCheck(_, Quickstart.oracleSql))
      val readback = ctx.outDir.resolve("derby_outcomes.jsonl")
      b.callUnit(ctx, "sources", "export_jdbc_upsert")(
        JdbcSink.upsert(OutcomeExport.unpack(packed).drop("chunk"), url,
          "outcomes", Seq("table_name", "column_name", "name"))) { _ =>
        ctx.untimed += (() => dumpJdbc(url, readback))
        val want = cfg.zip(defs).map { case (t, d) =>
          TestEvaluator.oracleSql(t.table, d) }
        Seq(Map("kind" -> "derby", "out" -> readback.toString,
          "sql" -> want.map(s => s"SELECT * FROM ($s)")
            .mkString(" UNION ALL ")))
      }
    }
    var views = install(snaps.head)
    b.pass("cold", views)(quickstartPass)
    var k = 0
    do {
      b.pass("rerun", views)(quickstartPass)
      k += 1
      views = install(snaps(k % snaps.size))
      b.pass("refresh", views)(quickstartPass)
    } while (b.within)
    JdbcSink.shutdownDerbyQuiet(derby)
  }

  /** Read the export table back over plain JDBC, as the store's reader. */
  private def dumpJdbc(url: String, out: Path): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT table_name, column_name, name, status, metric_value, " +
          "max_threshold FROM outcomes")
      val lines = ArrayBuffer.empty[String]
      while (rs.next()) {
        val mv = rs.getDouble(5)
        val mvOpt = if (rs.wasNull()) None else Some(mv)
        lines += J.obj("table_name" -> rs.getString(1),
          "column_name" -> rs.getString(2), "test_type" -> rs.getString(3),
          "status" -> rs.getString(4), "measure" -> mvOpt,
          "threshold" -> rs.getDouble(6))
      }
      Files.write(out, lines.asJava, UTF_8)
    } finally conn.close()
  }

  // ---- obs_stream_monitor --------------------------------------------------

  val ObsOps = 8
  /** Open-loop ingest: slices per phase and their rate (slices per
    * second), close to what one trigger per slice sustains on 4 cores
    * (~1 s a trigger), so a slower trigger shows as a growing lag. */
  val PhaseSlices = 8
  val IngestRate = 0.8
  val BurstSlices = 6
  val CompactEvery = 8

  def obs(b: Bench): Unit = {
    val spark = b.spark
    import spark.implicits._
    val slices = Files.list(b.dataDir.resolve("slices")).iterator().asScala
      .toSeq.sortBy(_.toString)
    val perSlice = spark.read.parquet(slices.head.toString).count()
    val drop = b.runDir.resolve("drop")
    val ck = b.runDir.resolve("checkpoint")
    Files.createDirectories(drop)
    val n = slices.size
    val due, dropped, committed = Array.fill(n)(Double.NaN)
    var lastMtime = 0L
    /** Land one slice. The file source takes files oldest first, so each
      * slice gets a later modification time than the one before, also
      * when a burst lands several in the same millisecond. */
    def dropSlice(i: Int): Unit = {
      lastMtime = math.max(System.currentTimeMillis(), lastMtime + 1)
      b.copyInPlace(slices(i), drop.resolve(slices(i).getFileName),
        Some(lastMtime))
      dropped(i) = Trace.now()
    }
    val sink = new ParquetMergeSink(spark,
      b.runDir.resolve("sink_events").toString, Seq("event_id"),
      compactEvery = 0, nBuckets = 4, maxDeltas = Int.MaxValue,
      sparseDeltas = true)
    val triggers = ArrayBuffer.empty[String]
    val profiles = ArrayBuffer.empty[Map[String, Any]]
    val profCols = Seq("event_id", "user_id", "event_type", "value")
    val sliceIndex = slices.zipWithIndex
      .map { case (p, i) => p.getFileName.toString -> i }.toMap
    val logEntry = "\"path\":\"[^\"]*/([^/\"]+)\".*\"batchId\":(\\d+)".r.unanchored
    /** The slices a micro-batch read, from the file source's own log in
      * the query checkpoint (the batch frame does not expose its files).
      */
    def sliceIds(id: Long): Seq[Int] = {
      val dir = ck.resolve("sources/0")
      val f = Seq(dir.resolve(id.toString), dir.resolve(s"$id.compact"))
        .find(Files.exists(_))
      f.toSeq.flatMap(p => Files.readAllLines(p, UTF_8).asScala).collect {
        case logEntry(name, bid) if bid.toLong == id && sliceIndex.contains(name) =>
          sliceIndex(name)
      }
    }
    /** One trigger's delivery: the sessionizer's assignments joined back
      * to the micro-batch's events, merged into the keyed sink (compacted
      * every [[CompactEvery]] batches), then the batch's profile. */
    def onBatch(assigned: DataFrame, id: Long): Unit = {
      val sp = Trace.open("streaming", "trigger", -1)
      Trace.tagThread(spark, sp)
      try {
        val ids = sliceIds(id)
        val events = Tables.normalize(spark.read.parquet(
          ids.map(i => drop.resolve(slices(i).getFileName).toString): _*),
          "events")
        val rows = events.join(
          assigned.select("event_id", "session_id"), "event_id")
        val t0 = Trace.now()
        sink.merge(rows, id)
        val t1 = Trace.now()
        if (id > 0 && id % CompactEvery == 0) sink.compact(id)
        val t2 = Trace.now()
        val prof = StreamingOps.streamingProfile(events, profCols).collect()
        val t3 = Trace.now()
        ids.foreach(i => committed(i) = t3)
        val written = if (Trace.enabled)
          dirBytes(b.runDir.resolve("sink_events")) else 0L
        triggers += J.obj("batch" -> id, "slices" -> ids,
          "merge_s" -> (t1 - t0), "compact_s" -> (t2 - t1),
          "profile_s" -> (t3 - t2), "sink_bytes" -> written)
        profiles += Map("slices" -> ids,
          "rows" -> prof.map(r => J.Raw(J.row(r))).toSeq)
      } finally {
        Trace.tagThread(spark, null)
        Trace.close(sp)
      }
    }
    // the file source infers its schema from the first slice
    dropSlice(0)
    due(0) = dropped(0)
    val query = StreamingOps.assignSessions(
        StreamingOps.eventStream(spark, drop.toString)
          .select("event_id", "ts", "user_id", "event_type", "value").as[SEvent],
        EventQueries.GapSeconds).toDF()
      .writeStream
      .option("checkpointLocation", ck.toString)
      .foreachBatch(onBatch _)
      .start()
    def waitCommitted(upto: Int, deadline: Double): Boolean = {
      while ((0 until upto).exists(i => committed(i).isNaN) &&
             Trace.now() < deadline && query.isActive) Thread.sleep(2)
      (0 until upto).forall(i => !committed(i).isNaN)
    }
    val phases = ArrayBuffer.empty[String]
    var next = 1
    var valid = true
    /** Open loop: a generator thread drops each slice when it is due,
      * whatever the stream is doing; the phase ends when every dropped
      * slice is committed. A rate of 0 drops the whole phase at once. */
    def ingest(kind: String, count: Int, rate: Double): Unit = {
      val from = next
      val start = Trace.now() + 0.01
      (0 until count).foreach { j =>
        due(from + j) = if (rate > 0) start + j / rate else start
      }
      val gen = new Thread(() => (0 until count).foreach { j =>
        val wait = due(from + j) - Trace.now()
        if (wait > 0) Thread.sleep((wait * 1000).toLong,
          ((wait * 1e9) % 1e6).toInt)
        dropSlice(from + j)
      }, "slice-generator")
      gen.start()
      gen.join()
      val scheduleEnd = Trace.now()
      val backlog = (from until from + count).count(i => committed(i).isNaN)
      val ok = waitCommitted(from + count, scheduleEnd + 60)
      val end = Trace.now()
      b.measured += end - start
      val late = (from until from + count).map(i => dropped(i) - due(i))
      // the generator is behind its own schedule if a drop came more
      // than half a slot late
      val behind = rate > 0 && late.max > 0.5 / rate
      if (behind || !ok) valid = false
      phases += J.obj("kind" -> kind, "from" -> from, "count" -> count,
        "rate" -> rate, "start" -> start, "schedule_end" -> scheduleEnd,
        "end" -> end, "backlog_at_schedule_end" -> backlog,
        "generator_late_max_s" -> late.max,
        "fell_behind" -> behind, "drained" -> ok, "events" -> count * perSlice)
      next += count
    }
    val live = b.runDir.resolve("live")
    val snaps = snapDirs(b.dataDir)
    var corpus = Map.empty[String, Seq[String]]
    /** Replace the curated corpus in place, as its pipeline would. */
    def refreshCorpus(k: Int): Unit = {
      val snap = snaps(k % snaps.size)
      corpus = Seq("documents", "embeddings").map { t =>
        b.copyInPlace(snap.resolve(s"$t.parquet"), live.resolve(s"$t.parquet"))
        t -> Seq(snap.resolve(s"$t.parquet").toString)
      }.toMap
    }
    def views: Map[String, Seq[String]] =
      corpus + ("events" -> (0 until next).map(i => slices(i).toString))
    def monitorPass(ctx: PassCtx): Unit = {
      val s = b.spark
      val merged = sink.read()
      val ev = merged.drop("session_id")
      b.call1(ctx, "streaming", "sink_sessions")(
        merged.groupBy("user_id", "session_id")
          .agg(min("ts").as("session_start"), max("ts").as("session_end"),
            count(lit(1)).as("n_events")))(
        b.rowsCheck(_, EventQueries.streamSessionsBoundedSql))
      val mon = Seq[(String, String, () => DataFrame)](
        ("session_summary", "ev_sessions",
          () => EventOps.sessionSummary(ev, EventQueries.GapSeconds)),
        ("rule_alerts", "ev_rule_engine",
          () => EventOps.ruleAlerts(ev, ControlPlane.rules(s, "engine"))),
        ("volume_anomalies", "ev_volume_anomalies",
          () => EventOps.volumeAnomalies(ev)),
        ("late_starts_cron", "ev_late_starts_hourly",
          () => EventOps.lateStartsCron(ev, EventQueries.SubDailyCron,
            EventQueries.MarginSeconds, EventQueries.GapSeconds, s)),
        ("heartbeat_liveness", "ev_liveness",
          () => EventOps.heartbeatLiveness(ev)))
      mon.foreach { case (name, oracle, f) =>
        b.call1(ctx, "events", name)(f())(
          b.rowsCheck(_, EventQueries.oracles(oracle)))
      }
      curation(b, ctx, live)
    }
    try {
      waitCommitted(1, Trace.now() + 120)
      refreshCorpus(0)
      ingest("ingest", PhaseSlices, IngestRate)
      b.pass("cold", views)(monitorPass)
      b.pass("rerun", views)(monitorPass)
      var k = 1
      refreshCorpus(k)
      ingest("burst", BurstSlices, 0.0)
      b.pass("refresh", views)(monitorPass)
      while (b.within && next + PhaseSlices <= n) {
        k += 1
        refreshCorpus(k)
        ingest("ingest", PhaseSlices, IngestRate)
        b.pass("refresh", views)(monitorPass)
      }
    } finally query.stop()
    b.extra += "stream" -> J.Raw(J.obj("valid" -> valid,
      "phases" -> phases.map(J.Raw), "triggers" -> triggers.map(J.Raw),
      "slices" -> (0 until next).map(i => J.Raw(J.obj("due" -> due(i),
        "dropped" -> dropped(i), "committed" -> committed(i))))))
    val profOut = b.runDir.resolve("stream_profiles.jsonl")
    Files.write(profOut, profiles.map(p => J.v(p)).asJava, UTF_8)
    b.extra += "stream_profiles" -> profOut.toString
    b.extra += "slice_files" -> slices.map(_.toString)
  }

  private def dirBytes(p: Path): Long = {
    val w = Files.walk(p)
    try w.iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
    finally w.close()
  }

  // ---- the curated corpus ---------------------------------------------------

  val KnnQueries = 25

  /** The LLM-corpus monitors: LSH semantic dedup confirmed lexically
    * and IVF k-NN, with the parameters of the registered queries. */
  def curation(b: Bench, ctx: PassCtx, live: Path): Unit = {
    val s = b.spark
    val T = TextQueries
    def docs = Tables.load(s, live.toString, "documents")
    def embs = Tables.load(s, live.toString, "embeddings")
    b.call1(ctx, "text", "semantic_dedup_pairs_ann") {
      val e = embs
      Curation.semanticDedupPairsAnn(docs, e, minCos = T.AnnProdTau,
        shingleN = T.ShingleN, minJaccard = T.MinJaccard,
        dim = SimQueries.Dim, bands = T.AnnProdBands,
        planesPerBand = T.AnnProdPlanesPerBand, seed = T.AnnSeed,
        maxBucket = T.annProdCap(e.count()))
    }(b.rowsCheck(_, T.oracles("semantic_dedup_ann_prod")))
    b.call1(ctx, "sim", "knn_ivf") {
      val e = embs
      Similarity.knnIvf(e, e.filter(col("vec_id") < KnnQueries), "vec_id",
        "embedding", SimQueries.K, SimQueries.NList, SimQueries.NProbe)
    } { out =>
      Map("kind" -> "knn", "out" -> out, "k" -> SimQueries.K,
        "queries" -> KnnQueries)
    }
  }
}

object Harness {
  private def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    Sessions.local(cores, cores)
  }

  /** Usage:
    *   Harness <workload> <dataDir> <runDir> <seconds> <trace 0|1>
    * Protocol on stdout: `@@READY <epoch µs>`, then per pass
    * `@@CHECK <manifest>` answered by one stdin line (`OK` or `FAIL ..`),
    * then `@@DONE <report>`.
    */
  def main(args: Array[String]): Unit = {
    val Array(workload, data, run, secs, trace) = args
    val spark = session()
    val ready = nowUs()
    Trace.enabled = trace == "1"
    if (Trace.enabled) Trace.install(spark)
    val runDir = Paths.get(run)
    val planned = workload match {
      case "testgen_quickstart" => Workloads.TestgenOps
      case "obs_stream_monitor" => Workloads.ObsOps
    }
    val b = new Bench(spark, Paths.get(data), runDir, secs.toDouble, planned)
    b.say("READY", ready.toString)
    workload match {
      case "testgen_quickstart" => Workloads.testgen(b)
      case "obs_stream_monitor" => Workloads.obs(b)
    }
    System.gc(); System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    val spans = if (!Trace.enabled) Nil else Trace.all.map { s =>
      J.Raw(J.obj("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "pass" -> s.pass,
        "start" -> Trace.secs(s.startNs - Trace.t0),
        "end" -> Trace.secs(s.endNs - Trace.t0), "build_s" -> s.buildS,
        "plan_s" -> s.planS, "exec_s" -> s.execS, "error" -> s.error,
        "jobs" -> s.jobs, "tasks" -> s.tasks,
        "task_s" -> Trace.secs(s.taskNs), "shuffle_bytes" -> s.shuffleBytes,
        "spill_bytes" -> s.spillBytes, "jit_s" -> s.jitMs / 1e3,
        "gc_s" -> s.gcMs / 1e3, "codegen_compiles" -> s.codegenN,
        "codegen_s" -> s.codegenMs / 1e3))
    }
    val report = runDir.resolve("report.json")
    Files.write(report, J.obj("workload" -> workload, "ready_us" -> ready,
      "passes" -> b.passReports, "live_heap_mb" -> heap / 1048576.0,
      "measured_s" -> b.measured, "trace_hook_s" -> Trace.secs(Trace.hookNs.sum),
      "stream_triggers" -> Trace.streamTriggers.map(m => J.Raw(J.v(m))),
      "spans" -> spans, "extra" -> b.extra.toMap.map { case (k, v) => k -> v })
      .getBytes(UTF_8))
    b.say("DONE", report.toString)
    spark.stop()
  }
}
