package stackbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.FileSourceScanExec

/** Per-scope Spark counters, keyed by the job group the benchmark sets
  * around each call into a layer. */
final class Counts {
  val jobs, tasks, failedTasks, shuffleRead, shuffleWrite, spill, gcMs, cpuNs = new AtomicLong
  /** per job: submission to first task launch, ms */
  val schedWaitMs = new ConcurrentLinkedQueue[Long]
}

/** The traced run's recorder: a SparkListener for jobs, tasks, shuffle,
  * spill, GC and CPU per job group, and spans (name, start, end, parent)
  * at each layer boundary. Both stay in memory until the run ends. */
final class Tracer(sc: SparkContext) extends SparkListener {
  val t0: Long = System.nanoTime()
  private val scopes = TrieMap.empty[String, Counts]
  private val stageScope = TrieMap.empty[Int, String]
  private val stageJob = TrieMap.empty[Int, Int]
  private val jobSubmit = TrieMap.empty[Int, Long]
  private val jobStarted = TrieMap.empty[Int, Boolean]
  private val spans = new ConcurrentLinkedQueue[(Long, String, Long, Long, Long)]
  private val ids = new AtomicLong

  sc.addSparkListener(this)

  def counts(scope: String): Counts = scopes.getOrElseUpdate(scope, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val scope = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    counts(scope).jobs.incrementAndGet()
    jobSubmit(e.jobId) = e.time
    e.stageIds.foreach { s => stageScope(s) = scope; stageJob(s) = e.jobId }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    stageJob.get(e.stageId).foreach { job =>
      if (jobStarted.putIfAbsent(job, true).isEmpty)
        stageScope.get(e.stageId).foreach(s =>
          counts(s).schedWaitMs.add(e.taskInfo.launchTime - jobSubmit.getOrElse(job, e.taskInfo.launchTime)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counts(stageScope.getOrElse(e.stageId, "none"))
    c.tasks.incrementAndGet()
    if (!e.taskInfo.successful) c.failedTasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.cpuNs.addAndGet(m.executorCpuTime)
    }
  }

  /** the innermost open span of each thread, 0 for none */
  private val current = ThreadLocal.withInitial[Long](() => 0L)

  /** Runs `body` as a span whose parent is the thread's open span. */
  def span[T](name: String)(body: => T): T = {
    val (id, parent) = (ids.incrementAndGet(), current.get)
    val s = System.nanoTime()
    current.set(id)
    try body
    finally {
      current.set(parent)
      spans.add((id, name, parent, s - t0, System.nanoTime() - t0))
    }
  }

  /** Spans, then the counts of every job group, as JSON lines; written
    * once when the run ends. */
  def json: Seq[String] = spans.asScala.toSeq.sortBy(_._4).map { case (id, n, p, s, e) =>
    f"""{"id": $id, "name": "$n", "parent": $p, "start_ms": ${s / 1e6}%.3f, "end_ms": ${e / 1e6}%.3f}"""
  } ++ scopes.toSeq.sortBy(_._1).map { case (g, c) =>
    s"""{"group": "$g", "jobs": ${c.jobs}, "tasks": ${c.tasks}, "failed_tasks": ${c.failedTasks}, """ +
      s""""shuffle_read_bytes": ${c.shuffleRead}, "shuffle_write_bytes": ${c.shuffleWrite}, """ +
      s""""spill_bytes": ${c.spill}, "gc_ms": ${c.gcMs}, "cpu_ns": ${c.cpuNs}}"""
  }
}

/** Scan statistics of an executed plan, AQE stages and subqueries included. */
object PlanScan extends AdaptiveSparkPlanHelper {
  /** (files read, rows output by the scans) */
  def scanned(plan: SparkPlan): (Long, Long) = {
    val scans = collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.metrics
      case s: BatchScanExec => s.metrics
    }
    def m(ms: Map[String, org.apache.spark.sql.execution.metric.SQLMetric], k: String) =
      ms.get(k).map(_.value).getOrElse(0L)
    (scans.map(m(_, "numFiles")).sum, scans.map(m(_, "numOutputRows")).sum)
  }
}
