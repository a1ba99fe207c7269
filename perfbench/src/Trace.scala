package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer (or a pass / phase that encloses calls).
  * Counters are deltas over the span's interval; Spark job counters are
  * attributed at job start (see `Trace.mainSpan`).
  */
final class Span(val id: Int, val parent: Int, val layer: String,
                 val name: String, val pass: Int) {
  var startNs, endNs = 0L
  var buildS, planS, execS = 0.0
  var error: Option[String] = None
  @volatile var jobs, tasks, taskNs = 0L
  @volatile var shuffleBytes, spillBytes = 0L
  var jitMs, gcMs, codegenN = 0L
  var codegenMs = 0.0
  private[perfbench] var snap: Array[Double] = Array.empty
}

/** In-memory span recorder plus the listeners that attribute Spark,
  * streaming, codegen, JIT and GC work to spans. With tracing off only
  * the timings the end-to-end metrics need are kept, and no listener is
  * registered.
  */
object Trace {
  @volatile var enabled = false
  val t0: Long = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  /** The span a job counts against unless its thread carries a
    * `perfbench.span` tag (stream threads do, see [[tagThread]]): batch
    * calls run one at a time on the main thread, so its innermost open
    * span owns every job started meanwhile, also from helper threads.
    */
  @volatile private var mainSpan: Span = null
  private val stageOwner = new ConcurrentHashMap[Int, Span]
  /** Time spent inside the tracing hooks themselves. */
  val hookNs = new java.util.concurrent.atomic.LongAdder

  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala

  def secs(ns: Long): Double = ns / 1e9
  def now(): Double = secs(System.nanoTime() - t0)

  private def counters(): Array[Double] = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    Array(jit.getTotalCompilationTime.toDouble,
      gcs.map(_.getCollectionTime).sum.toDouble,
      h.getCount.toDouble, h.getSnapshot.getValues.map(_.toDouble).sum)
  }

  def open(layer: String, name: String, pass: Int): Span = {
    val h0 = System.nanoTime()
    val parent = stack.get.headOption.map(_.id).getOrElse(-1)
    val s = spans.synchronized {
      val sp = new Span(spans.size, parent, layer, name, pass)
      spans += sp
      sp
    }
    if (enabled) s.snap = counters()
    stack.set(s :: stack.get)
    if (Thread.currentThread().getName == "main") mainSpan = s
    hookNs.add(System.nanoTime() - h0)
    s.startNs = System.nanoTime()
    s
  }

  def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    val h0 = System.nanoTime()
    if (enabled) {
      val c = counters()
      s.jitMs = (c(0) - s.snap(0)).toLong
      s.gcMs = (c(1) - s.snap(1)).toLong
      s.codegenN = (c(2) - s.snap(2)).toLong
      s.codegenMs = c(3) - s.snap(3)
    }
    val rest = stack.get.drop(1)
    stack.set(rest)
    if (Thread.currentThread().getName == "main")
      mainSpan = rest.headOption.orNull
    hookNs.add(System.nanoTime() - h0)
  }

  def span[T](layer: String, name: String, pass: Int)(f: Span => T): T = {
    val s = open(layer, name, pass)
    try f(s)
    catch { case e: Throwable => s.error = Some(e.toString); throw e }
    finally close(s)
  }

  val streamTriggers = ArrayBuffer.empty[Map[String, Double]]

  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val h0 = System.nanoTime()
        val s = Option(e.properties)
          .flatMap(p => Option(p.getProperty("perfbench.span")))
          .flatMap(id => spans.synchronized(spans.lift(id.toInt)))
          .getOrElse(mainSpan)
        if (s != null) {
          s.jobs += 1
          e.stageIds.foreach(id => stageOwner.put(id, s))
        }
        hookNs.add(System.nanoTime() - h0)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val h0 = System.nanoTime()
        val s = stageOwner.get(e.stageId)
        val m = e.taskMetrics
        if (s != null && m != null) {
          s.tasks += 1
          s.taskNs += m.executorRunTime * 1000000L
          s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        hookNs.add(System.nanoTime() - h0)
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble / 1e3 }
          val ops = p.stateOperators
          streamTriggers.synchronized {
            streamTriggers += (d.toMap ++ Map(
              "state_commit" -> ops.map(_.commitTimeMs).sum / 1e3,
              "state_rows" -> ops.map(_.numRowsTotal).sum.toDouble))
          }
        }
      }
    })
  }

  /** Stream threads tag their jobs so the listener can find the span. */
  def tagThread(spark: org.apache.spark.sql.SparkSession, s: Span): Unit =
    spark.sparkContext.setLocalProperty("perfbench.span",
      if (s == null) null else s.id.toString)

  def all: Seq[Span] = spans.synchronized(spans.toSeq)
}
