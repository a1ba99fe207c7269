package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException,
  StreamingQueryProgress, Trigger}

/** One bounded stream gate: a finite replay of `source` through a real
  * file-source stream, drained leg by leg over one checkpoint, then
  * summarized as a batch frame. The registered `stream_*` queries gate
  * these summaries against the same DuckDB oracles as their batch twins.
  *
  * A gate value describes ONE run: constructors return a fresh value,
  * and state a sink or summary keeps (a driver-side fold, an
  * accumulator) belongs to that run.
  *
  * @param name     names the gate in errors
  * @param source   parquet file or Spark-written directory to replay
  * @param build    the stream over the drop folder, built on the gate
  *                 session it is handed
  * @param summary  the batch tail over the drained sink
  * @param staging  how `source` becomes drop-folder files
  * @param legs     the query runs over the gate's one checkpoint
  * @param mode     the output mode of every leg
  * @param sink     where each leg's micro-batches land
  * @param provider state-store provider class for this gate only
  */
final case class StreamGate(
    name: String,
    source: String,
    build: (SparkSession, String) => DataFrame,
    summary: StreamGate.Drained => DataFrame,
    staging: StreamGate.Staging = StreamGate.Staging.Whole,
    legs: Seq[StreamGate.Leg] = Seq(StreamGate.Leg.Drain()),
    mode: OutputMode = OutputMode.Append,
    sink: StreamGate.Sink = StreamGate.Sink.Memory,
    provider: Option[String] = None) {
  def run(spark: SparkSession): DataFrame = StreamGate.run(spark, this)
}

object StreamGate {

  sealed trait Staging
  object Staging {
    /** The source's parquet files as they are, in name order. */
    case object Whole extends Staging
    /** The source rewritten as `n` disjoint event-time slices
      * ([[StreamingOps.stagedTimeSliced]]), the layout a drop-folder
      * ingestion produces. Watermarked and restarted gates need it.
      */
    final case class TimeSliced(n: Int) extends Staging
  }

  sealed trait Leg
  object Leg {
    /** Stage files until the first `slices` of them are in the drop
      * folder (all by default), and run one query until it has drained
      * what is there. `build` replaces the gate's build for this leg:
      * an upgraded application resuming the checkpoint.
      */
    final case class Drain(slices: Int = Int.MaxValue,
                           build: Option[(SparkSession, String) =>
                             DataFrame] = None) extends Leg
    /** Stage every file, then die inside the sink at `batch`, after the
      * earlier batches committed. The runner requires the failure to
      * fire, so a recovery leg after it cannot pass vacuously.
      */
    final case class FailAt(batch: Long) extends Leg
    /** Stage two sentinel events (`user_id = -1`, `event_type =
      * "__sentinel__"`, 120 and 121 days past the staged corpus) and
      * drain them: the first moves the watermark past every real
      * window, the second batch runs under it, so closed state evicts.
      */
    case object SentinelAdvance extends Leg
  }

  sealed trait Sink
  object Sink {
    /** A memory table; holds one row per output row on the driver. */
    case object Memory extends Sink
    /** A [[ParquetMergeSink]]: latest-wins per `keys`, append when
      * `keys` is empty. `mapBatch` reshapes each batch before it lands.
      */
    final case class Merge(keys: Seq[String] = Nil,
                           mapBatch: (DataFrame, Long) => DataFrame =
                             (b, _) => b) extends Sink
    /** The caller's own foreachBatch; the summary reads what it kept. */
    final case class ForeachBatch(f: (DataFrame, Long) => Unit)
        extends Sink
  }

  /** What a drained gate hands its summary: the gate session, the sink's
    * rows (empty for [[Sink.ForeachBatch]]), the largest and the last
    * state-store row count over all legs, and how many base/delta
    * directories a merge sink holds (0 for the other sinks).
    */
  final case class Drained(session: SparkSession, rows: DataFrame,
                           peakStateRows: Long, finalStateRows: Long,
                           sinkParts: Int)

  /** The spillable RocksDB state store: at 100 TB keyed session/journey
    * state is the first thing that outgrows executor heap. The `*_rocksdb`
    * gates run with it and must hash-match the default-provider oracles,
    * so the operators are proven PROVIDER-AGNOSTIC.
    */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val MemoryTable = "graft_gate"
  private val InjectedMsg = "injected mid-drain failure at batch "

  /** Run `g` on its own `spark.newSession()`: it shares the SparkContext
    * and has its own SQLConf, so the gate's settings never reach the
    * caller's session or a gate running beside it. The gate session
    * starts from the caller's runtime settings, then sets:
    *
    *  - `spark.sql.shuffle.partitions` from the staged bytes
    *    ([[StreamingOps.streamGateParts]]); the state partitioning is
    *    pinned into the checkpoint by the first leg;
    *  - checkpoint checksum files off: Spark writes a companion checksum
    *    for every checkpoint file, against corruption in long-lived
    *    checkpoints, but every checkpoint here is a temp dir this runner
    *    deletes. Measured at sf0.1 (min of 3 interleaved; the A/B probe
    *    is in git history): stream_late_update 7.6 → 5.7 s, most gates
    *    4-8% faster;
    *  - the gate's state-store provider, if it names one. There is no
    *    fallback: a provider class that does not load fails the gate.
    *
    * Each leg is one `Trigger.AvailableNow` query run to termination;
    * with the file source's `maxFilesPerTrigger = 1` that drains one
    * staged file per micro-batch. All legs together wait at most
    * `ConcurrentPasses.passTimeout` of the caller's session; past it the
    * running query is stopped and the gate throws. The summary is
    * materialized before the runner deletes its one temp dir (drop
    * folder, checkpoint, sink). The returned frame belongs to the gate
    * session and combines with the caller's frames.
    */
  def run(spark: SparkSession, g: StreamGate): DataFrame = {
    val timeout = graft.operators.ConcurrentPasses.passTimeout(spark)
    val deadline = System.nanoTime() + timeout.toNanos
    require(g.sink != Sink.Memory || g.legs.size == 1,
      s"gate ${g.name}: a memory sink holds one leg's rows")
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (s.conf.isModifiable(k) && !s.conf.getOption(k).contains(v))
        s.conf.set(k, v)
    }
    val tmp = Files.createTempDirectory("graft-gate")
    val drop = Files.createDirectory(tmp.resolve("drop"))
    val ckpt = tmp.resolve("ckpt").toString
    try {
      val files = StreamingOps.parquetParts(g.staging match {
        case Staging.Whole => g.source
        case Staging.TimeSliced(n) =>
          StreamingOps.stagedTimeSliced(s, g.source, n)
      })
      s.conf.set("spark.sql.shuffle.partitions", StreamingOps
        .streamGateParts(s, files.map(Files.size(_)).sum).toString)
      s.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled",
        "false")
      g.provider.foreach(s.conf.set(ProviderKey, _))
      val merge = g.sink match {
        case Sink.Merge(keys, _) =>
          // monitor-shaped deltas: sparse writes, byte-gated compaction
          Some(new ParquetMergeSink(s, tmp.resolve("sink").toString, keys,
            compactMinBytes = 1L << 20, sparseDeltas = true))
        case _ => None
      }
      // FileStreamSource orders files by modification time, and copies
      // get near-identical mtimes: stamp them 1 s apart in drop order
      var dropped = 0
      def stage(fs: Seq[Path]): Unit = fs.foreach { f =>
        Files.setLastModifiedTime(
          Files.copy(f, drop.resolve(f"staged-$dropped%05d.parquet")),
          java.nio.file.attribute.FileTime
            .fromMillis(1500000000000L + dropped * 1000L))
        dropped += 1
      }
      // until the sentinel leg, everything dropped is a source file
      def stageSource(upTo: Int): Unit = stage(files.slice(dropped, upTo))
      val progress = Seq.newBuilder[StreamingQueryProgress]
      def drain(build: (SparkSession, String) => DataFrame,
                failAt: Option[Long]): Unit = {
        val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
        def deliver(b: DataFrame, id: Long)(f: => Unit): Unit = {
          if (failAt.contains(id)) {
            fired.set(true)
            throw new RuntimeException(InjectedMsg + id)
          }
          f
        }
        val w = build(s, drop.toString).writeStream
          .outputMode(g.mode)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
        val q = (g.sink match {
          case Sink.Memory => w.format("memory").queryName(MemoryTable)
          case Sink.Merge(_, mapBatch) =>
            w.foreachBatch { (b: DataFrame, id: Long) =>
              deliver(b, id)(merge.get.merge(mapBatch(b, id), id))
            }
          case Sink.ForeachBatch(f) =>
            w.foreachBatch { (b: DataFrame, id: Long) =>
              deliver(b, id)(f(b, id))
            }
        }).start()
        try {
          val left = (deadline - System.nanoTime()) / 1000000L
          if (!q.awaitTermination(left.max(1L)))
            throw new java.util.concurrent.TimeoutException(
              s"stream gate ${g.name} did not drain within $timeout")
        } catch {
          // only the injected death is expected; anything else is the
          // gate's own failure
          case e: StreamingQueryException if failAt.nonEmpty &&
              e.getCause != null && String.valueOf(e.getCause.getMessage)
                .startsWith(InjectedMsg) =>
        } finally {
          if (q.isActive) q.stop()
          progress ++= q.recentProgress
        }
        failAt.foreach(f => require(fired.get,
          s"gate ${g.name}: failure at batch $f never fired, so the " +
            "recovery leg would test nothing"))
      }
      g.legs.foreach {
        case Leg.Drain(n, b) =>
          stageSource(n)
          drain(b.getOrElse(g.build), None)
        case Leg.FailAt(b) =>
          stageSource(Int.MaxValue)
          drain(g.build, Some(b))
        case Leg.SentinelAdvance =>
          stageSource(Int.MaxValue)
          // cloned from a staged row, so the file schema matches exactly
          val raw = s.read.parquet(drop.toString)
          val mx = raw.agg(max(col("ts")).as("__mx"))
          stage((0 to 1).map { i =>
            val out = tmp.resolve(s"sentinel-$i").toString
            raw.limit(1).drop("ts").crossJoin(mx)
              .withColumn("ts",
                col("__mx") + expr(s"INTERVAL ${120 + i} DAYS"))
              .withColumn("user_id", lit(-1L))
              .withColumn("event_type", lit("__sentinel__"))
              .select(raw.columns.toSeq.map(col): _*)
              .coalesce(1).write.parquet(out)
            StreamingOps.parquetParts(out).head
          })
          drain(g.build, None)
      }
      val state = progress.result().filter(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numRowsTotal).sum)
      val rows = g.sink match {
        case Sink.Memory => s.table(MemoryTable)
        case Sink.Merge(keys, _) =>
          if (keys.isEmpty) merge.get.readAll() else merge.get.read()
        case Sink.ForeachBatch(_) => s.emptyDataFrame
      }
      g.summary(Drained(s, rows, state.maxOption.getOrElse(0L),
          state.lastOption.getOrElse(0L), merge.fold(0)(_.partCount)))
        .localCheckpoint(true)
    } finally {
      // the memory table's rows would live as long as the returned frame
      if (g.sink == Sink.Memory) s.catalog.dropTempView(MemoryTable)
      StreamingOps.rmTreeQuiet(tmp)
    }
  }
}
