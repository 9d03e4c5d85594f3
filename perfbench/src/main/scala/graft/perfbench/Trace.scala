package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call. `parent` is 0 for an operation's root span; spans of
  * one operation share `opId`. `phase` is the run phase the call belongs
  * to: `setup`, `loop` or `probe`. */
final case class Span(id: Long, name: String, parent: Long, opId: Long, phase: String,
                      startNs: Long, var endNs: Long = 0L) {
  def durMs: Double = (endNs - startNs) / 1e6
}

/** Counts the listener attributes to one span (or, under id 0, to jobs
  * started outside any span while tracing is on). */
final class SpanCounts {
  val jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill,
      resultBytes = new AtomicLong
}

/**
 * The traced run's recorder. Spans are kept in memory around every public
 * call the benchmark makes and written out at the end. While tracing is
 * on, every Spark job started inside a span carries the span id as a
 * local property, so the listener's job, stage and task counts land on
 * that span. Tracing is switched only between operations, after the
 * listener bus has drained, so no event of an untraced operation is
 * counted.
 */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private var curOp = 0L
  @volatile private var on = false
  /** The phase new spans are tagged with. */
  var phase = "setup"

  // written by the listener-bus thread, read by the client after a drain
  val counts = new ConcurrentHashMap[Long, SpanCounts]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  val stageSkew = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  val planMs = new AtomicLong
  private var codegen0 = 0L
  var codegenCompiles = 0L

  private def countsOf(id: Long): SpanCounts = counts.computeIfAbsent(id, _ => new SpanCounts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
        .map(_.toLong).getOrElse(0L)
      countsOf(id).jobs.incrementAndGet()
      e.stageIds.foreach(s => stageSpan.put(s, id))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      val sid = e.stageInfo.stageId
      countsOf(stageSpan.getOrDefault(sid, 0L)).stages.incrementAndGet()
      Option(stageTaskMs.remove(sid)).filter(_.size >= 2).foreach { ds =>
        val med = Stats.median(ds.map(_.toDouble).toSeq)
        if (med > 0) stageSkew.add(ds.max / med)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      val c = countsOf(stageSpan.getOrDefault(e.stageId, 0L))
      c.tasks.incrementAndGet()
      stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer[Long]()) +=
        e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        c.runMs.addAndGet(m.executorRunTime)
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.resultBytes.addAndGet(m.resultSize)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Switch tracing on or off between operations. */
  def set(enable: Boolean): Unit = {
    PerfbenchAccess.drainListeners(sc)
    if (enable && !on) codegen0 = PerfbenchAccess.codegenCompiles
    if (!enable && on) codegenCompiles += PerfbenchAccess.codegenCompiles - codegen0
    on = enable
  }

  /** Forget listener counts (the setup's), keeping its spans. */
  def resetCounts(): Unit = {
    counts.clear(); stageSkew.clear(); planMs.set(0); codegenCompiles = 0
  }

  def detach(): Unit = {
    set(false)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Run `body` as a span; its jobs are tagged with the span id. */
  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      if (stack.isEmpty) curOp += 1
      val s = Span(nextId, name, stack.headOption.map(_.id).getOrElse(0L), curOp, phase,
        System.nanoTime())
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Span duration minus the part of it its child spans cover. */
  def selfMs: Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((tot, end), (a, b)) =>
          val a1 = math.max(a, end)
          (if (b > a1) tot + (b - a1) else tot, math.max(end, b))
        }._1
      s.id -> ((s.endNs - s.startNs) - covered) / 1e6
    }.toMap
  }

  /** Listener counts summed over every traced span and untagged job. */
  def total: SpanCounts = {
    val t = new SpanCounts
    counts.values.asScala.foreach { c =>
      t.jobs.addAndGet(c.jobs.get); t.stages.addAndGet(c.stages.get)
      t.tasks.addAndGet(c.tasks.get); t.runMs.addAndGet(c.runMs.get)
      t.cpuNs.addAndGet(c.cpuNs.get); t.gcMs.addAndGet(c.gcMs.get)
      t.shuffleRead.addAndGet(c.shuffleRead.get); t.shuffleWrite.addAndGet(c.shuffleWrite.get)
      t.spill.addAndGet(c.spill.get); t.resultBytes.addAndGet(c.resultBytes.get)
    }
    t
  }

  /** Median duration of the spans called `name` in `phase`, or 0 when
    * none ran. */
  def medianMs(name: String, phase: String): Double = {
    val ds = spans.filter(s => s.name == name && s.phase == phase && s.endNs > 0)
      .map(_.durMs).toSeq
    if (ds.isEmpty) 0.0 else Stats.median(ds)
  }

  /** One JSON object per span, with its self time and listener counts. */
  def write(path: java.nio.file.Path): Unit = {
    val self = selfMs
    val lines = spans.map { s =>
      val c = Option(counts.get(s.id)).getOrElse(new SpanCounts)
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.opId},""" +
        s""""phase":"${s.phase}",""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":${self(s.id)}%.3f,""" +
        s""""jobs":${c.jobs.get},"stages":${c.stages.get},"tasks":${c.tasks.get},""" +
        s""""run_ms":${c.runMs.get},"shuffle_read_bytes":${c.shuffleRead.get},""" +
        s""""shuffle_write_bytes":${c.shuffleWrite.get}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  final val Prop = "perfbench.span"
}
