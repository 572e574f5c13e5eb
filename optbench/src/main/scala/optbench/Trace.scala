package optbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.optbench.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Job and task counters kept by a listener the benchmark registers. */
final class JobListener extends SparkListener {
  private val open = scala.collection.mutable.Map.empty[Int, Long]
  private val done = ArrayBuffer.empty[(Long, Long)]
  private var jobs = 0L
  private var taskCpuNs = 0L
  private var taskRunMs = 0L
  private var shuffleWriteBytes = 0L
  private var recordsRead = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    open(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(s => done += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      taskCpuNs += m.executorCpuTime
      taskRunMs += m.executorRunTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      recordsRead += m.inputMetrics.recordsRead
    }
  }

  def snapshot: Counters = synchronized {
    Counters(jobs, taskCpuNs, taskRunMs, shuffleWriteBytes, recordsRead,
             done.length)
  }

  /** Wall time covered by the jobs that ended after `from`, with
    * overlapping (concurrent) jobs counted once. */
  def jobSecondsSince(from: Int): Double = synchronized {
    val spans = done.drop(from).sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    spans.foreach { case (s, e) =>
      if (e > end) {
        covered += e - math.max(s, end)
        end = e
      }
    }
    covered / 1e3
  }
}

final case class Counters(jobs: Long, taskCpuNs: Long, taskRunMs: Long,
                          shuffleWriteBytes: Long, recordsRead: Long,
                          jobsDone: Int)

/** What one public call cost, as seen by the listener. */
final case class CallStats(wallS: Double, jobs: Long, jobS: Double,
                           taskS: Double, taskCpuS: Double,
                           shuffleWriteMb: Double, recordsRead: Long) {
  /** Wall time of the call not covered by any Spark job. */
  def driverS: Double = math.max(0.0, wallS - jobS)
}

/** Times public calls from outside the library: drains the listener
  * bus around each call so that every job the call ran is counted. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val listener = new JobListener
  sc.addSparkListener(listener)

  def call[T](body: => T): (T, CallStats) = {
    ListenerDrain(sc)
    val a = listener.snapshot
    val t0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - t0) / 1e9
    ListenerDrain(sc)
    val b = listener.snapshot
    (out, CallStats(wall, b.jobs - a.jobs,
                    listener.jobSecondsSince(a.jobsDone),
                    (b.taskRunMs - a.taskRunMs) / 1e3,
                    (b.taskCpuNs - a.taskCpuNs) / 1e9,
                    (b.shuffleWriteBytes - a.shuffleWriteBytes) / 1048576.0,
                    b.recordsRead - a.recordsRead))
  }
}

/** JVM counters read over JMX. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean
    .getTotalCompilationTime
  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime
    case _                                           => 0L
  }
}

/** Executed-plan fingerprint of a DataFrame. */
object Plans {
  def physical(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p                        => p
  }

  /** Operators that run outside whole-stage code generation. */
  def nonCodegenOps(p: SparkPlan): Int = p match {
    case w: WholeStageCodegenExec => insideCodegen(w.child)
    case other => 1 + other.children.map(nonCodegenOps).sum
  }

  private def insideCodegen(p: SparkPlan): Int = p match {
    case i: InputAdapter => i.children.map(nonCodegenOps).sum
    case other           => other.children.map(insideCodegen).sum
  }

  /** Operator names in pre-order, codegen stages marked with `*`. */
  def fingerprint(p: SparkPlan): String = p.collect {
    case w: WholeStageCodegenExec => s"*${w.codegenStageId}"
    case _: InputAdapter          => "|"
    case n                        => n.nodeName
  }.mkString(" ")
}
