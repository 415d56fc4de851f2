package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor-side totals of one bucket (an operation or a span), summed over
  * its tasks, plus the candidate rows its executed plans produced. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var cpuNs, runMs, gcMs, fetchWaitMs = 0L
  var shuffleReadB, shuffleWriteB, spillB = 0L
  var candRows = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; cpuNs += o.cpuNs; runMs += o.runMs
    gcMs += o.gcMs; fetchWaitMs += o.fetchWaitMs
    shuffleReadB += o.shuffleReadB; shuffleWriteB += o.shuffleWriteB
    spillB += o.spillB; candRows += o.candRows
  }
  def cpuS: Double = cpuNs / 1e9
  /** task time not spent on the CPU: I/O, locks, scheduling inside a task */
  def taskWaitS: Double = math.max(0.0, runMs / 1e3 - cpuS)
  def shuffleMb: Double = (shuffleReadB + shuffleWriteB) / 1048576.0
}

object Counters {
  def sum(cs: Iterable[Counters]): Counters = {
    val t = new Counters; cs.foreach(t.add); t
  }
}

/** Observes Spark from outside the library: a `SparkListener` for task
  * metrics and a `QueryExecutionListener` for the executed plans' SQL
  * metrics.  Work is attributed to the bucket named by the job's local
  * property [[Probe.BucketKey]], which the harness sets around each call. */
final class Probe(spark: SparkSession) extends SparkListener {
  private val stageBucket = mutable.Map.empty[Int, String]
  private val buckets = mutable.Map.empty[String, Counters]
  @volatile private var pendingCand = 0L

  private def bucket(name: String): Counters =
    buckets.getOrElseUpdate(if (name == null) "-" else name, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val b = Option(e.properties).map(_.getProperty(Probe.BucketKey)).orNull
    bucket(b).jobs += 1
    e.stageIds.foreach(s => stageBucket(s) = b)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val b = Option(e.properties).map(_.getProperty(Probe.BucketKey))
      .orElse(stageBucket.get(e.stageInfo.stageId)).orNull
    stageBucket(e.stageInfo.stageId) = b
    bucket(b).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = bucket(stageBucket.getOrElse(e.stageId, null))
    c.tasks += 1
    if (e.taskInfo != null && !e.taskInfo.successful) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime; c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  private val planListener = new QueryExecutionListener {
    private val helper = new AdaptiveSparkPlanHelper {}
    def onSuccess(funcName: String,
                  qe: org.apache.spark.sql.execution.QueryExecution,
                  durationNs: Long): Unit = {
      var rows = 0L
      helper.foreach(qe.executedPlan) {
        case p @ (_: BaseJoinExec | _: GenerateExec) => rows += outRows(p)
        case _ =>
      }
      pendingCand += rows
    }
    def onFailure(funcName: String,
                  qe: org.apache.spark.sql.execution.QueryExecution,
                  exception: Exception): Unit = ()
  }

  private def outRows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  spark.sparkContext.addSparkListener(this)

  /** Plan metrics are read only in traced runs: walking every executed
    * plan is part of what the trace costs. */
  def watchPlans(): Unit = spark.listenerManager.register(planListener)

  /** Blocks until every posted event has reached the listeners. */
  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Drains, then returns and clears the per-bucket totals.  Candidate
    * rows seen since the last call are credited to `candBucket`. */
  def take(candBucket: String = null): Map[String, Counters] = {
    drain()
    synchronized {
      if (candBucket != null) bucket(candBucket).candRows += pendingCand
      pendingCand = 0L
      val out = buckets.toMap
      buckets.clear()
      out
    }
  }
}

object Probe {
  val BucketKey = "perfbench.bucket"

  def driverGcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap still in use after a full collection, in MiB: what a pass
    * leaves live (caches, broadcasts, plan state). */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
