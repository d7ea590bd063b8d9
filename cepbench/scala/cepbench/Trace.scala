package cepbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a named call of the benchmark into a layer. Spans of
  * one pass share `pass`; `parent` is the enclosing span's id (0 = none). */
final case class Span(id: Int, parent: Int, pass: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What Spark reported for the work done inside one span. */
final class SpanWork {
  var jobs = 0
  var tasks = 0
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var codegenNs = 0L
  /** Post-shuffle task run times, per stage. */
  val postShuffleTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** Max over post-shuffle stages of (slowest task / median task). */
  def taskSkew: Double = {
    val per = postShuffleTaskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }
    if (per.isEmpty) 1.0 else per.max
  }
}

/** Spans and per-span Spark numbers for the traced run. While disabled,
  * `span` only runs its body and no listener is registered, so untraced
  * passes record nothing. */
final class Trace(spark: SparkSession) {
  private var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val work = new ConcurrentHashMap[Int, SpanWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private var nextId = 1
  private var stack: List[Int] = Nil
  @volatile private var current = 0
  var pass = 0

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).map(_.getProperty(Trace.Prop)).flatMap(Option(_))
        .map(_.toInt).getOrElse(0)
      if (id > 0) {
        workOf(id).synchronized(workOf(id).jobs += 1)
        e.stageIds.foreach(s => stageSpan.put(s, id))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.getOrDefault(e.stageId, 0)
      if (id > 0 && e.taskMetrics != null) {
        val w = workOf(id)
        val m = e.taskMetrics
        w.synchronized {
          w.tasks += 1
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          if (m.shuffleReadMetrics.totalBlocksFetched > 0)
            w.postShuffleTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
              m.executorRunTime
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val id = current
      if (id > 0) {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        val w = workOf(id)
        w.synchronized {
          w.analysisMs += ms("analysis")
          w.optimizationMs += ms("optimization")
          w.planningMs += ms("planning")
        }
      }
    }
  }

  private def workOf(id: Int): SpanWork = work.computeIfAbsent(id, _ => new SpanWork)

  def isEnabled: Boolean = enabled

  def enable(): Unit = if (!enabled) {
    enabled = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def disable(): Unit = if (enabled) {
    enabled = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Run `body` as span `name`. Traced: Spark jobs it starts are tagged with
    * the span, and the listener bus is drained before the span closes so
    * every task and query event lands on it. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(Trace.Prop)
      sc.setLocalProperty(Trace.Prop, id.toString)
      stack = id :: stack
      current = id
      val cg0 = WholeStageCodegenExec.codeGenTime
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        org.apache.spark.cepbench.Bus.drain(sc)
        workOf(id).codegenNs = WholeStageCodegenExec.codeGenTime - cg0
        stack = stack.tail
        current = stack.headOption.getOrElse(0)
        sc.setLocalProperty(Trace.Prop, prevProp)
        spans += Span(id, parent, pass, name, t0, t1)
      }
    }

  def recorded: Seq[Span] = spans.toSeq
  def workFor(s: Span): SpanWork = workOf(s.id)
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "pass" -> s.pass, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}

object Trace {
  val Prop = "cepbench.span"

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0
}
