package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program, and the engine
  * counters of the work done inside them.
  *
  * A span has a name, a start, an end and a parent; all spans of a run
  * share the run id. Untraced runs pass `enabled = false`: spans then only
  * run their body. Traced runs install a SparkListener and a
  * QueryExecutionListener and attribute each job (with its tasks) and
  * each executed plan to the innermost span open when it started; GC
  * time is sampled from the JVM's collectors at span edges. Everything
  * stays in memory until [[counters]] is read at the end of the run. */
final class Trace(spark: SparkSession, val runId: String, val enabled: Boolean) {
  import Trace._

  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobStat]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  // (start ms, exchanges) of each successfully executed plan
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, new JobStat(e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
      j.foreach { s =>
        s.synchronized {
          s.tasks += 1
          val m = e.taskMetrics
          if (m != null) {
            s.cpuNs += m.executorCpuTime
            s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            s.spill += m.diskBytesSpilled
          }
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String,
        qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
      plans.add((System.currentTimeMillis() - ns / 1000000L,
        Trace.exchanges(qe.executedPlan)))
    override def onFailure(f: String,
        qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Runs `body` inside a span named `name`; returns its result. */
  def span[T](name: String, attrs: (String, Any)*)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis(), System.nanoTime(), gcMs())
      s.attrs ++= attrs
      spans += s
      open = s :: open
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.gcEndMs = gcMs()
        open = open.tail
      }
    }

  /** Per-span engine counters, by span id. Call once, at the end. */
  def counters(): Map[Int, Map[String, Double]] = {
    if (!enabled) return Map.empty
    ListenerBusDrain(spark.sparkContext)
    val closed = spans.filter(_.endMs >= 0).toSeq
    // innermost span that was open at time t
    def owner(t: Long): Option[Span] =
      closed.filter(s => s.startMs <= t && t <= s.endMs)
        .sortBy(s => -s.startNs).headOption
    val acc = mutable.Map[Int, mutable.Map[String, Double]]()
    def add(id: Int, k: String, v: Double): Unit = {
      val m = acc.getOrElseUpdate(id, mutable.Map[String, Double]().withDefaultValue(0.0))
      m(k) += v
    }
    val jobList = jobs.asScala.values.toSeq
    jobList.foreach { j =>
      owner(j.startMs).foreach { s =>
        add(s.id, "jobs", 1)
        add(s.id, "tasks", j.tasks.toDouble)
        add(s.id, "executor_cpu_s", j.cpuNs / 1e9)
        add(s.id, "shuffle_write_bytes", j.shuffleWrite.toDouble)
        add(s.id, "spill_bytes", j.spill.toDouble)
      }
    }
    plans.asScala.foreach { case (t, ex) =>
      owner(t).foreach(s => add(s.id, "exchanges", ex.toDouble)) }
    closed.foreach { s =>
      add(s.id, "gc_s", (s.gcEndMs - s.gcStartMs) / 1e3)
      // wall time inside the span with no Spark job running
      val busy = Trace.unionMs(jobList.filter(_.endMs >= 0)
        .map(j => (j.startMs.max(s.startMs), j.endMs.min(s.endMs)))
        .filter { case (a, b) => b > a })
      add(s.id, "driver_only_s", ((s.endMs - s.startMs - busy).max(0L)) / 1e3)
    }
    acc.map { case (k, v) => k -> v.toMap }.toMap
  }

  def allSpans: Seq[Span] = spans.toSeq
}

object Trace {
  final case class Span(id: Int, name: String, parent: Int,
      startMs: Long, startNs: Long, gcStartMs: Long) {
    var endMs: Long = -1L
    var endNs: Long = -1L
    var gcEndMs: Long = 0L
    val attrs = mutable.LinkedHashMap[String, Any]()
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Engine counters of one job, accumulated from its task-end events. */
  final class JobStat(val startMs: Long) {
    @volatile var endMs: Long = -1L
    var tasks = 0L
    var cpuNs = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }


  /** Planned Exchange nodes of an executed plan, looking inside adaptive
    * query stages and subqueries; a reused exchange is not counted again. */
  def exchanges(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case _: ReusedExchangeExec => 0
    case p =>
      (if (p.isInstanceOf[Exchange]) 1 else 0) +
        p.children.map(exchanges).sum + p.subqueries.map(exchanges).sum
  }

  /** Length of the union of [a, b) intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}
