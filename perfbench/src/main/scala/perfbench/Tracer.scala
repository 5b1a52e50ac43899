package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, EqualNullSafe, EqualTo}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.JsonDSL._

/** Per-call spans for a traced run. A benchmark-owned SparkListener
  * collects job intervals and task metrics, and a QueryExecutionListener
  * reads each executed plan; after every call the listener bus is
  * drained and everything it delivered since the previous call is
  * booked to that call's span. Spans stay in memory and go out with
  * the run's results. */
final class Tracer {
  private final class Acc {
    var jobs = 0L
    val jobIntervals = ArrayBuffer[(Long, Long)]()
    var taskRunMs, taskCpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
    var scanRows, scanBytes, fallbacks, pairCandidates = 0L
  }
  private val lock = new Object
  private var acc = new Acc
  private val jobStarts = scala.collection.mutable.Map[Int, Long]()
  private var sc: SparkContext = _

  def install(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
        jobStarts(e.jobId) = e.time
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
        acc.jobs += 1
        acc.jobIntervals += ((jobStarts.remove(e.jobId).getOrElse(e.time), e.time))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) lock.synchronized {
          acc.taskRunMs += m.executorRunTime
          acc.taskCpuNs += m.executorCpuTime
          acc.gcMs += m.jvmGCTime
          acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          acc.scanRows += m.inputMetrics.recordsRead
          acc.scanBytes += m.inputMetrics.bytesRead
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val plan = nodes(qe.executedPlan)
        val fb = plan.flatMap(_.expressions).map(_.collect { case f: CodegenFallback => f }.size).sum
        val pc = plan.collect { case j: BaseJoinExec if isCandidateJoin(j) =>
          j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        }.sum
        lock.synchronized { acc.fallbacks += fb; acc.pairCandidates += pc }
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
  }

  /** Every physical node of an executed plan, through adaptive wrappers,
    * query stages and subqueries (a reused exchange is counted once). */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _: ReusedExchangeExec => Nil
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** A candidate-pair join: its condition orders or thresholds rows
    * against each other (`a.id < b.id`, `cos >= tau`), as the
    * self-joins of the dedup and similarity operators do. */
  private def isCandidateJoin(j: BaseJoinExec): Boolean =
    j.condition.exists(_.exists {
      case _: EqualTo | _: EqualNullSafe => false
      case _: BinaryComparison => true
      case _ => false
    })

  /** Union length (ms) of the job intervals, clipped to [s, e]. */
  private def busyMs(intervals: Seq[(Long, Long)], s: Long, e: Long): Long = {
    var covered = 0L
    var reach = s
    intervals.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }

  /** Close the span of one call: drain the bus, book what arrived. */
  def endCall(pass: String, kind: String, startMs: Long, endMs: Long): JObject = {
    PerfbenchBus.drain(sc)
    lock.synchronized {
      val a = acc
      acc = new Acc
      val wallMs = math.max(endMs - startMs, 0L)
      val busy = busyMs(a.jobIntervals.toSeq, startMs, endMs)
      ("name" -> kind) ~ ("parent" -> pass) ~ ("start_ms" -> startMs) ~ ("end_ms" -> endMs) ~
        ("jobs" -> a.jobs) ~ ("plan_s" -> (wallMs - busy) / 1000.0) ~
        ("task_run_s" -> a.taskRunMs / 1000.0) ~ ("task_cpu_s" -> a.taskCpuNs / 1e9) ~
        ("gc_s" -> a.gcMs / 1000.0) ~
        ("shuffle_write_mb" -> a.shuffleWrite / 1e6) ~ ("shuffle_read_mb" -> a.shuffleRead / 1e6) ~
        ("spill_mb" -> a.spill / 1e6) ~ ("scan_rows" -> a.scanRows) ~
        ("scan_bytes" -> a.scanBytes) ~ ("codegen_fallbacks" -> a.fallbacks) ~
        ("pair_candidates" -> a.pairCandidates)
    }
  }

  def summary(): JObject = {
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    "heap_peak_mb" -> heapPeak / 1e6
  }
}
