package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval: a call into a layer, or a whole op.
  *
  * Spark work is attributed to the innermost span open on the submitting
  * thread: the span id rides in a SparkContext local property, which Spark
  * copies into the threads it starts (stream execution, broadcast and
  * subquery pools), so jobs run on those threads land in the span that
  * caused them. Counts are this span's own; [[Tracer.inclusive]] adds the
  * descendants'.
  */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int, val startMs: Long) {
  @volatile var endMs: Long = -1L
  val counts = new ConcurrentHashMap[String, Double]()
  /** [start, end) wall intervals (ms) of the Spark jobs attributed here. */
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  def add(key: String, v: Double): Unit = counts.merge(key, v, (a: Double, b: Double) => a + b)
  def count(key: String): Double = counts.getOrDefault(key, 0.0)
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** In-memory span recorder plus the listeners that count Spark work per
  * span. Spans are written out once, by [[write]], when the run ends.
  * A disabled tracer runs each body bare and registers no listener.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val ids = new AtomicInteger(0)
  private val spans = ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private var sc: SparkContext = _

  /** Register the listeners on `spark` (no-op when disabled). */
  def attach(spark: SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Run `body` inside a span named `name` belonging to op `op`. */
  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val prev = sc.getLocalProperty(Key)
      val s = open(name, Option(prev).map(_.toInt).getOrElse(-1), op)
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        sc.setLocalProperty(Key, prev)
      }
    }

  /** Add `v` to counter `key` of the innermost span open on this thread. */
  def count(key: String, v: Double): Unit =
    if (enabled) Option(sc.getLocalProperty(Key)).map(_.toInt).flatMap(i => Option(byId.get(i)))
      .foreach(_.add(key, v))

  /** Wait until every listener event posted so far has been counted. */
  def drain(): Unit = if (enabled) org.apache.spark.graftbench.Bus.drain(sc)

  private[graftbench] def open(name: String, parent: Int, op: Int): Span = synchronized {
    val s = new Span(ids.getAndIncrement(), name, parent, op, System.currentTimeMillis())
    spans += s
    byId.put(s.id, s)
    s
  }

  def all: Seq[Span] = synchronized(spans.toVector)

  /** Spans of `name` in op `op`. */
  def named(name: String, op: Int): Seq[Span] = all.filter(s => s.name == name && s.op == op)

  /** `key` summed over `s` and all its descendants. */
  def inclusive(s: Span, key: String): Double = subtree(s).map(_.count(key)).sum

  /** Wall seconds of `s` during which no Spark job of its subtree ran. */
  def driverGapS(s: Span): Double = {
    val iv = subtree(s).flatMap(_.jobIntervals.asScala)
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    for ((a, b) <- iv) {
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, (s.endMs - s.startMs - covered) / 1000.0)
  }

  private def subtree(s: Span): Seq[Span] = {
    val kids = all.groupBy(_.parent)
    def go(x: Span): Seq[Span] = x +: kids.getOrElse(x.id, Nil).flatMap(go)
    go(s)
  }

  /** Write every span with its counts as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      val c = s.counts.asScala.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"counts":{$c}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Key))).flatMap(i => Option(byId.get(i.toInt)))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = spanOf(e.properties).foreach { s =>
      s.add("jobs", 1)
      // stages are named after the API call that submitted the job
      // ("localCheckpoint at X.scala:N"); the AQE stage jobs inside a
      // checkpointed plan carry other names, so this counts one job per
      // materialization (an empty frame's checkpoint runs no stage)
      if (e.stageInfos.exists(_.name.toLowerCase.contains("checkpoint"))) s.add("checkpoint_jobs", 1)
      jobSpan.put(e.jobId, s)
      jobStart.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { s =>
        s.jobIntervals.add((jobStart.remove(e.jobId).longValue, e.time))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach { s =>
        s.add("stages", 1)
        stageSpan.put(e.stageInfo.stageId, s)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.remove(e.stageInfo.stageId)).foreach { s =>
        val m = e.stageInfo.taskMetrics
        s.add("tasks", e.stageInfo.numTasks)
        if (m != null) {
          s.add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          s.add("executor_cpu_s", m.executorCpuTime / 1e9)
          s.add("output_rows", m.outputMetrics.recordsWritten.toDouble)
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      if (d.containsKey("triggerExecution") && d.containsKey("addBatch")) {
        val overhead = (d.get("triggerExecution") - d.get("addBatch")) / 1000.0
        // progress events carry no local properties; the op span open on
        // the client thread is the one that started this query
        lastOpSpan.foreach(_.add("trigger_overhead_s", overhead))
      }
    }
  }

  @volatile private var lastOpSpan: Option[Span] = None

  /** Run one op under a top-level span named "op"; streaming progress
    * events delivered before the op's span is drained land in it.
    */
  def op[T](op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val r = span("op", op) {
        lastOpSpan = Option(byId.get(sc.getLocalProperty(Key).toInt))
        body
      }
      drain()
      lastOpSpan = None
      r
    }
}

object Tracer {
  val Key = "graftbench.span"
}
