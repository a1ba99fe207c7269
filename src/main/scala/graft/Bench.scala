package graft
import org.apache.spark.sql.SparkSession

/** Headline benchmark: every registered query timed SPARK_GRAFT_REPS
  * times (default 5) in a per-rep randomized order (seeded by the rep
  * index — deterministic across runs), reporting the per-query MEDIAN.
  * Randomized order + median de-noises the 32-way-parallel local JVM:
  * a query's number no longer depends on which heavy neighbor ran just
  * before it, and one GC pause cannot shift a timing. `spread` (max −
  * min across reps) is emitted per query so run-to-run variance is
  * visible in the artifact instead of needing a re-run to detect.
  *
  * Each query drains into the `noop` sink, NOT `.count()`: counting
  * lets Catalyst prune computed payloads above the final aggregates
  * (the profile queries benched 2 s by count but cost 20 s+ fully
  * evaluated — the pruning hid a JIT pathology for four rounds), while
  * the noop write evaluates every output column with zero sink cost.
  * Totals are therefore honest but NOT comparable with the r1–r4
  * artifacts' count-mode numbers.
  *
  * BUDGET-AWARE protocol (r12 verdict #1): the r12 driver run blew its
  * wall-clock budget — the harness SIGTERM killed the JVM mid-solo-
  * probes and the round shipped `rc: 124, parsed: null`, i.e. NO
  * official bench number at all. The artifact the driver gate reads is
  * worth more than any individual sample, so the bench now (a) tracks a
  * wall-clock budget (SPARK_GRAFT_BENCH_BUDGET_SEC, default 2250 s,
  * measured from JVM start) and SHEDS work, never the summary: rep 1
  * always covers every query (the coverage floor), later reps are
  * skipped whole if the previous rep's cost no longer fits, heavy
  * multi-drain gates get at most HeavyReps samples (their cost is
  * harness-dominated and their medians were stable across 5 reps for
  * three rounds), and solo probes are ranked by sweep spread and spent
  * worst-first until the budget says stop — partial solo coverage is
  * NOTED in the artifact (`solo_skipped`) instead of running open-
  * ended; and (b) registers a shutdown hook that flushes the summary
  * line + detail file from whatever samples exist if the JVM is torn
  * down early (`"partial":true`), so even a SIGTERM leaves a parsed
  * artifact rather than a log tail.
  *
  * CONTENDED-RUN self-diagnosis (r13 verdict #1 — the r13 official run
  * finished rep 1 at ~4× idle cost under end-of-round contention, shed
  * reps 2–5 whole, and published single samples as medians with an
  * empty solo section because every one-rep spread is 0.000): (a) a
  * one-rep artifact now carries `"medians_are_single_samples":true`;
  * (b) when the budget stops fitting the next rep, BREADTH is shed
  * before DEPTH — heavy gates drop to their one booked sample
  * (`"heavy_shed_to_1_rep":true`) so the light majority still gets ≥2
  * reps; (c) if only one rep completed anyway, solo candidates are
  * ranked by absolute deviation vs the committed prior-round medians
  * ([[priorMedians]], worst 20) instead of the spread signal that no
  * longer exists, so the samples most likely to mislead a round-over-
  * round compare get adjudicated first.
  */
object Bench {
  // ---- shared state the shutdown hook may read mid-run -------------------
  // all mutations and the hook's reads synchronize on `lock`; the flush
  // itself is once-only (emitted CAS) so the normal end-of-main emit and
  // a concurrent hook cannot double-print
  private val lock = new Object
  private val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
    .withDefaultValue(Vector.empty)
  private val errors = scala.collection.mutable.Map.empty[String, String]
  private val soloNote = scala.collection.mutable.Map.empty[String, String]
  private val soloSkipped = scala.collection.mutable.ListBuffer.empty[String]
  private val emitted = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile private var repsDone = 0
  @volatile private var repsPlanned = 0
  @volatile private var heavyShed = false
  @volatile private var sfDirNote = ""
  @volatile private var detailPathNote = "BENCH_FULL.json"

  private def median(v: Vector[Double]): Double = {
    val s = v.sorted; s(s.size / 2)
  }
  private def r3(v: Double): String = f"$v%.3f"

  /** Committed prior-round per-query medians (r13 verdict #1b): the
    * fallback solo-ranking signal when only one rep completed and every
    * in-sweep spread is 0.000. Flat regex parse of the artifact's
    * "queries" object — bench-emitted flat JSON, no nesting inside it;
    * an unreadable/absent file degrades to an empty map (no fallback
    * candidates, same as before this existed).
    */
  private def priorMedians(): Map[String, Double] = {
    val path = sys.env.getOrElse("SPARK_GRAFT_PRIOR_MED",
      "BENCH_sf01_med.json")
    try {
      val txt = java.nio.file.Files.readString(
        java.nio.file.Paths.get(path))
      val qStart = txt.indexOf("\"queries\":{")
      if (qStart < 0) Map.empty
      else {
        val body = txt.substring(qStart + 11, txt.indexOf('}', qStart))
        """"([^"]+)":([-0-9.eE+]+)""".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    } catch { case _: Throwable => Map.empty }
  }
  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Build + write the detail file and print the stdout contract line.
    * Idempotent (first caller wins): called at the end of main, and by
    * the shutdown hook when main never got there. Reads only plain maps
    * and files — safe on a stopped SparkContext.
    */
  private def emitSummary(partial: Boolean): Unit = {
    if (!emitted.compareAndSet(false, true)) return
    lock.synchronized {
      val med = times.toSeq.filter(_._2.nonEmpty).sortBy(_._1)
        .map { case (n, v) => n -> median(v) }
      val total = med.map(_._2).sum
      val errs = errors.toSeq.sortBy(_._1)
        .map { case (k, v) => jstr(k) + ":" + jstr(v) }
        .mkString("{", ",", "}")
      val fullQs = med.map { case (k, v) => jstr(k) + ":" + r3(v) }
        .mkString("{", ",", "}")
      val fullSpread = med.map { case (n, _) =>
        val v = times(n); jstr(n) + ":" + r3(v.max - v.min)
      }.mkString("{", ",", "}")
      val soloJson = soloNote.toSeq.sortBy(_._1)
        .map { case (k, v) => jstr(k) + ":" + v }
        .mkString("{", ",", "}")
      val skippedJson = soloSkipped.sorted.map(jstr).mkString("[", ",", "]")
      val partialNote = if (partial) ""","partial":true""" else ""
      // r13 verdict #1a: with one completed rep every "median" is a
      // single (possibly contended) sample — say so IN the artifact so
      // a reader can't mistake samples for medians
      val singleNote = if (repsDone <= 1)
        ""","medians_are_single_samples":true""" else ""
      val shedNote = if (heavyShed) ""","heavy_shed_to_1_rep":true""" else ""
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(detailPathNote),
        s"""{"metric":"total","value":$total,"unit":"sec","queries":$fullQs,"spread":$fullSpread,"solo":$soloJson,"solo_skipped":$skippedJson,"errors":$errs,"reps":$repsPlanned,"reps_done":$repsDone$partialNote$singleNote$shedNote,"sf":"$sfDirNote"}""")
      catch { case _: Throwable => () }
      // stdout line: the COMPLETE per-query map (~5 KB at 195 queries).
      // The r5/r6 "blown window" was a symptom of the real bug — sbt's
      // forked-run logger prefixed the line with "[info] ", so the
      // driver's line-oriented json.loads never matched and only a
      // truncated tail was ever inspected (parsed: null in rounds 10-14;
      // see git history for their BENCH_r*.json wrappers). With
      // `run / outputStrategy := StdoutOutput` (build.sbt)
      // the line reaches stdout unprefixed and the driver parses the
      // full map; BENCH_FULL.json stays as the detail fallback (spread,
      // solo notes).
      println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$fullQs,"n_queries":${med.size},"detail":"$detailPathNote","errors":$errs,"reps":$repsPlanned,"reps_done":$repsDone$partialNote$singleNote$shedNote,"sf":"$sfDirNote"}""")
      System.out.flush()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
    require(reps >= 1, s"SPARK_GRAFT_REPS must be >= 1, got $reps")
    // wall-clock budget, measured from JVM start (the forked JVM is what
    // the harness `timeout` ultimately reaps; sbt's own startup ran
    // before this JVM existed and is budgeted by the default's slack).
    // Default 2250 s: the r11 run PASSED the harness at 2,557 s end-to-
    // end and r12 died somewhere past that, so 2250 s of JVM time plus
    // ~100-200 s of sbt startup/teardown stays on the passing side with
    // real headroom.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC",
      "2250").toDouble
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    // leave a flush margin: summary write + spark.stop + sbt teardown
    val workDeadlineMs = jvmStartMs + ((budgetSec - 90.0) * 1000).toLong
    def remainingSec: Double =
      (workDeadlineMs - System.currentTimeMillis()) / 1000.0
    sfDirNote = sfDir
    detailPathNote = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "BENCH_FULL.json")
    repsPlanned = reps
    // the SIGTERM backstop: if the harness reaps the JVM before main
    // emits, flush whatever samples exist as a partial-but-PARSED
    // artifact (r12 shipped rc=124/parsed:null — the one outcome this
    // hook makes impossible as long as the hook gets to run)
    Runtime.getRuntime.addShutdownHook(new Thread(() => emitSummary(true)))
    val spark = Sessions.local(cpus, cpus)
    spark.sparkContext.setLogLevel("WARN")
    // absorb JVM/codegen/parquet-footer warmup outside the timings (the r1
    // numbers charged ~6 s of session startup to whichever query ran first)
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    val only = args.toSet // optional: bench just these queries
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    // a query that throws must not book its elapsed time as a normal
    // median — the artifact marks it so a crashed/empty query can never
    // masquerade as a fast one (review: the sf1 stream queries ran on
    // zero rows for four rounds and nothing in the JSON said so)
    def runOne(name: String,
               fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Option[Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        lock.synchronized {
          errors(name) = s"${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).linesIterator.take(1)
              .mkString.filter(_ >= ' ').take(120)
        }
        None
      }
    }
    // HEAVY-query rep reduction (r12 verdict #1): the multi-drain
    // composite stream gates cost 7-11 s each and their cost is harness-
    // dominated (checkpoint replay, two full drains) — their medians
    // were stable to <10% across 5 reps for three straight rounds, so
    // reps beyond HeavyReps buy no precision. A query whose rep-1 time
    // exceeds HeavyCutoffSec is sampled in only the first HeavyReps
    // reps; at r12's profile this sheds ~230 s of sweep time.
    val HeavyCutoffSec = 4.0
    val HeavyReps = 3
    var rep = 1
    var continueReps = true
    while (rep <= reps && continueReps) {
      // only successful reps book time: a fast-crashing rep would
      // otherwise contribute a misleadingly small median while the
      // failure hides in the errors map
      val order = new scala.util.Random(rep).shuffle(names)
      order.foreach { case (name, fn) =>
        val heavy = lock.synchronized(
          times(name).headOption.exists(_ > HeavyCutoffSec))
        if (rep == 1 || (!heavy) ||
            (!heavyShed && rep <= HeavyReps))
          runOne(name, fn).foreach { t =>
            lock.synchronized { times(name) = times(name) :+ t }
          }
      }
      repsDone = rep
      // rep 1 is the coverage floor and always runs to completion.
      // After it, shed BREADTH before DEPTH (r13 verdict #1c): when the
      // projected cost of the next rep no longer fits, first drop the
      // heavy gates to their 1 booked sample — two reps of everything
      // light buys far more median than one contended sample of
      // everything twice — and only when even the light rep doesn't fit
      // stop whole. Projections use each query's own fastest booked
      // sample (an optimistic floor, hence the 1.15 margins).
      if (rep < reps) {
        val (lightEst, heavyEst) = lock.synchronized {
          val booked = names.flatMap { case (n, _) =>
            val v = times(n); if (v.isEmpty) None else Some(n -> v.min)
          }
          (booked.collect { case (_, t) if t <= HeavyCutoffSec => t }.sum,
            booked.collect { case (_, t) if t > HeavyCutoffSec => t }.sum)
        }
        val nextHeavy =
          if (!heavyShed && rep + 1 <= HeavyReps) heavyEst else 0.0
        if (remainingSec < lightEst * 1.15) continueReps = false
        else if (remainingSec < (lightEst + nextHeavy) * 1.15)
          heavyShed = true
      }
      rep += 1
    }
    // SOLO-PROBE protocol (r9 verdict #3, widened r10 verdict #5): a
    // rep that lands right after a heavy neighbor inherits its GC/page
    // -cache debris and the in-sweep spread can reach many SECONDS —
    // r9's "stream_volume_update regressed 1.49×" had spread 5.7 s at
    // sf0.1 and 66 s at sf1, unadjudicable; r10's dq_autogen_lineitem
    // "1.29× creep" showed in-sweep spread 2.9 s with no code change.
    // ANY query whose in-sweep spread exceeds SoloSpreadCap (not just
    // the stream family — the r10 name filter left non-stream outliers
    // unadjudicable) is re-measured with SoloReps back-to-back solo
    // reps after a GC pause, and the solo medians REPLACE the
    // contaminated samples; the detail JSON keeps both (`solo` map) so
    // a regression call can always see which number is load-bearing.
    // the cap scales with the query's own median: an ABSOLUTE 1.5 s cap
    // applied at sf1 (median runtimes 3–60 s) trips on ~5% jitter of a
    // 30 s query, tripling its sweep cost and silently switching its
    // published number from sweep-context to post-GC solo — a protocol
    // change masquerading as a perf delta in round-over-round compares.
    // 20% of median keeps the trigger meaning "contaminated", not "big".
    val SoloSpreadCap = 1.5
    val SoloReps = 3
    // candidate ranking signal (r13 verdict #1b): with ≥2 reps, the
    // in-sweep spread says where adjudication is needed; with ONE rep
    // every spread is 0.000 and the r13 artifact silently enrolled
    // nobody — the fallback signal is deviation vs the committed
    // prior-round medians already on disk, worst absolute delta first,
    // capped at the 20 largest (the single contended samples most
    // likely to mislead a round-over-round compare).
    val candidates: Seq[((String,
        (SparkSession, String) => org.apache.spark.sql.DataFrame,
        Vector[Double]), String)] =
      if (repsDone >= 2) {
        // RANKED by sweep spread, worst first (r12 verdict #1): the
        // budget is spent where adjudication needs it most, and when it
        // runs out the un-probed tail is listed in `solo_skipped`
        // instead of the whole artifact dying open-ended
        names.flatMap { case (name, fn) =>
          val v = lock.synchronized(times(name))
          if (v.nonEmpty &&
              v.max - v.min > math.max(SoloSpreadCap, 0.2 * median(v)))
            Some((name, fn, v))
          else None
        }.sortBy { case (_, _, v) => -(v.max - v.min) }
          .map(c => (c, ""))
      } else if (reps >= 2 && sfDir == "/root/testdata/sf0.1") {
        // fallback fires only when MORE reps were planned than ran and
        // the prior medians are comparable (the committed file is the
        // controlled sf0.1 sweep) — a deliberate reps=1 smoke at
        // another SF must stay cheap
        val prior = priorMedians()
        names.flatMap { case (name, fn) =>
          val v = lock.synchronized(times(name))
          prior.get(name).collect {
            case p if v.nonEmpty => ((name, fn, v), math.abs(v.head - p), p)
          }
        }.sortBy(-_._2).take(20).map { case (c, _, p) =>
          (c, s""""prior_median":${r3(p)},""")
        }
      } else Seq.empty
    candidates.foreach { case ((name, fn, v), extraNote) =>
        // probe cost estimate: SoloReps runs at the sweep median plus GC
        // slack; a probe that does not fit is skipped, not started —
        // half a probe adjudicates nothing
        val est = SoloReps * median(v) + 3.0
        if (remainingSec < est) {
          lock.synchronized { soloSkipped += name }
        } else {
          System.gc()
          // accumulate EVERY solo failure (overwriting kept only the
          // last one, and the replace path reduced it to a bare boolean
          // — an OOM vs a checkpoint collision was unadjudicable without
          // a re-run, contradicting the protocol's purpose)
          val soloErrs = scala.collection.mutable.ListBuffer.empty[String]
          val solo = (1 to SoloReps).flatMap { _ =>
            val t0 = System.nanoTime()
            try {
              fn(spark, sfDir).write.format("noop").mode("overwrite").save()
              Some((System.nanoTime() - t0) / 1e9)
            } catch { case e: Throwable =>
              soloErrs += s"${e.getClass.getSimpleName}: " +
                String.valueOf(e.getMessage).linesIterator.take(1)
                  .mkString.filter(_ >= ' ').take(110)
              None
            }
          }.toVector
          // replace only with a defensible sample (≥2 clean solo reps),
          // and between the two defensible samples publish the LOWER
          // MEDIAN. Rationale (r13, superseding r11's lower-variance
          // rule): timing noise on this box is strictly ADDITIVE — GC
          // debris, page-cache pressure, an aged JVM only ever make a
          // query measure SLOWER — so the smaller median is always the
          // one closer to the query's true cost, whatever its spread.
          // Both past pathologies fall out correctly: r11's 70.4 s solo
          // over a 9.3 s sweep median (hot-machine solo, inflated the
          // suite-total headline 37%) keeps the sweep; r13's 49.1 s
          // tight-but-slow solo over a 24.7 s sweep (late-sweep JVM
          // state — a fresh-JVM probe reproduced the sweep number
          // exactly) also keeps the sweep; and a sweep median that the
          // solo beats (pipeline_quickstart 37.1 s sweep vs 23.2 s solo
          // at sf1, solo spread higher) publishes the solo the old rule
          // wrongly rejected. Fewer than 2 clean solo reps → keep the
          // sweep numbers and say so in the detail JSON.
          // A solo failure lands in the shared errors map ONLY on the
          // keep-sweep path: when ≥2 clean solo reps replaced the samples
          // the published median is real, and an errors entry alongside it
          // would read downstream (mk_skew, adjudication) as a crashed
          // query contradicting its own number — the flake is recorded in
          // the solo note instead (r10 advice).
          lock.synchronized {
            if (solo.size >= 2) {
              val flaked = if (soloErrs.isEmpty) ""
                else s""","solo_flake":${jstr(soloErrs.mkString(" | "))}"""
              val replaced = median(solo) < median(v)
              soloNote(name) = s"""{$extraNote"sweep_median":${r3(median(v))},""" +
                s""""sweep_spread":${r3(v.max - v.min)},""" +
                s""""solo_median":${r3(median(solo))},""" +
                s""""solo_spread":${r3(solo.max - solo.min)},""" +
                s""""published":"${if (replaced) "solo" else "sweep"}"$flaked}"""
              if (replaced) times(name) = solo
            } else {
              if (soloErrs.nonEmpty)
                errors(name) = "solo: " + soloErrs.mkString(" | ").take(230)
              soloNote(name) = s"""{$extraNote"sweep_median":${r3(median(v))},""" +
                s""""sweep_spread":${r3(v.max - v.min)},""" +
                s""""solo_failed":true}"""
            }
          }
        }
    }
    emitSummary(false)
    spark.stop()
  }
}
