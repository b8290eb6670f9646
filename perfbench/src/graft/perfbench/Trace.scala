package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters cheap enough to stay on in the untraced run: jobs started and
  * bytes/records that write tasks report (the lake's data files). */
final class Meter extends SparkListener {
  val jobs = new AtomicLong
  val bytesWritten = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) bytesWritten.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
}

/** One timed call into a layer. `parent` is 0 for a top-level span. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Engine work attributed to one span through its job group. */
final class SpanWork {
  val taskNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val inputBytes = new AtomicLong
  val inputRecords = new AtomicLong
  val outputBytes = new AtomicLong
  val outputRecords = new AtomicLong
  val jobs = new AtomicLong
}

/** Span recorder for the traced run.
  *
  * Spans nest per thread. Entering a span tags the thread's Spark jobs with
  * the job group `pb-<span id>`; as a [[SparkListener]] the tracer maps each
  * job's stages back to that span and sums task time, GC, shuffle and IO per
  * span. As a [[QueryExecutionListener]] it reads plan SQL metrics: the rows
  * out of the LSH candidate-pair aggregate. Spans stay in memory until
  * [[spansJson]] writes them out at exit. */
final class Tracer(val run: String) extends SparkListener with QueryExecutionListener {
  private val ids = new AtomicInteger
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  private val done = mutable.ArrayBuffer[Span]()
  private val work = new ConcurrentHashMap[Int, SpanWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageTasks = new ConcurrentHashMap[Int, java.util.Vector[java.lang.Long]]()
  val candidatePairs = new AtomicLong

  private val GroupKey = "spark.jobGroup.id"
  private val GroupKeys = Seq(GroupKey, "spark.job.description", "spark.job.interruptOnCancel")

  def span[T](sc: SparkContext, name: String)(body: => T): T = {
    val parent = stack.get.headOption.map(_.id).getOrElse(0)
    val open = Span(ids.incrementAndGet(), name, parent, run, System.nanoTime(), 0L)
    work.put(open.id, new SpanWork)
    val saved = GroupKeys.map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(s"pb-${open.id}", name)
    stack.set(open :: stack.get)
    try body
    finally {
      stack.set(stack.get.tail)
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      val closed = open.copy(endNs = System.nanoTime())
      done.synchronized(done += closed)
    }
  }

  def spans: Seq[Span] = done.synchronized(done.toList).sortBy(_.startNs)
  def workOf(s: Span): SpanWork = work.get(s.id)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey))).filter(_.startsWith("pb-")).foreach { group =>
      val id = group.stripPrefix("pb-").toInt
      e.stageIds.foreach(s => stageSpan.put(s, id))
      Option(work.get(id)).foreach(_.jobs.incrementAndGet())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val id = stageSpan.get(e.stageId)
    val w = work.get(id)
    val m = e.taskMetrics
    if (w != null && m != null) {
      w.taskNs.addAndGet(m.executorRunTime * 1000000L)
      w.gcMs.addAndGet(m.jvmGCTime)
      w.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      w.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      w.inputRecords.addAndGet(m.inputMetrics.recordsRead)
      w.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      w.outputRecords.addAndGet(m.outputMetrics.recordsWritten)
      stageTasks.computeIfAbsent(e.stageId, _ => new java.util.Vector[java.lang.Long]())
        .add(m.executorRunTime)
    }
  }

  /** Per layer: task-time-weighted mean over its stages of max/median task
    * time (1.0 = no skew). */
  def taskSkew(layer: String): Double = {
    val spanLayer = spans.map(s => s.id -> s.layer).toMap
    var weighted = 0.0
    var total = 0.0
    stageTasks.asScala.foreach { case (stage, ts) =>
      if (spanLayer.get(stageSpan.get(stage)).contains(layer)) {
        val times = ts.asScala.map(_.longValue.toDouble).toIndexedSeq.sorted
        val med = times(times.size / 2)
        val sum = times.sum
        if (med > 0) { weighted += sum * (times.last / med); total += sum }
      }
    }
    if (total > 0) weighted / total else 0.0
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    // distinct (doc_a, doc_b) candidates of the MinHash band join: the final
    // (smallest) of the partial/final aggregate pair
    val counts = Tracer.nodes(qe.executedPlan).collect {
      case a: BaseAggregateExec if a.aggregateExpressions.isEmpty &&
          a.groupingExpressions.map(_.name) == Seq("doc_a", "doc_b") =>
        a.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }
    if (counts.nonEmpty) candidatePairs.addAndGet(counts.min)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def spansJson: String = spans.map { s =>
    val w = workOf(s)
    s"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${w.jobs.get},""" +
      s""""task_ns":${w.taskNs.get},"gc_ms":${w.gcMs.get},"shuffle_bytes":${w.shuffleBytes.get},""" +
      s""""input_bytes":${w.inputBytes.get},"output_bytes":${w.outputBytes.get}}"""
  }.mkString("\n")
}

object Tracer {
  /** Every node of an executed plan, through AQE stages and reused exchanges. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
