package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-run recorder. Registers Spark's public listeners (scheduler,
  * query execution, streaming) and keeps every event in memory as a flat
  * record; [[write]] dumps them as JSON lines at the end of the run. The
  * Python side attributes events to operations by their timestamps (one
  * closed-loop client, so operation windows never overlap) and computes
  * the per-layer metrics and span self times.
  */
final class Trace(spark: SparkSession) {
  private val events = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobsStarted = new AtomicInteger()
  private val jobsEnded = new AtomicInteger()
  @volatile private var lastEventNs = System.nanoTime()

  private def add(e: Map[String, Any]): Unit = {
    events.add(e)
    lastEventNs = System.nanoTime()
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def exchanges(p: SparkPlan): Int = collectWithSubqueries(p) {
      case _: ShuffleExchangeLike => 1
      case _: BroadcastExchangeLike => 1
    }.size
  }

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted.incrementAndGet()
      add(Map("ev" -> "job_start", "job" -> e.jobId, "t" -> e.time,
        "stages" -> e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobsEnded.incrementAndGet()
      add(Map("ev" -> "job_end", "job" -> e.jobId, "t" -> e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      add(Map("ev" -> "stage", "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
        "tasks" -> s.numTasks, "submit" -> s.submissionTime.getOrElse(-1L),
        "done" -> s.completionTime.getOrElse(-1L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val base = Map[String, Any]("ev" -> "task", "stage" -> e.stageId,
        "launch" -> i.launchTime, "finish" -> i.finishTime, "dur" -> i.duration)
      val m = e.taskMetrics
      add(if (m == null) base else base ++ Map(
        "run" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc" -> m.jvmGCTime,
        "sh_read" -> (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead),
        "fetch_wait" -> m.shuffleReadMetrics.fetchWaitTime,
        "sh_write" -> m.shuffleWriteMetrics.bytesWritten,
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "in_bytes" -> m.inputMetrics.bytesRead,
        "in_rows" -> m.inputMetrics.recordsRead,
        "out_rows" -> m.outputMetrics.recordsWritten,
        "peak_mem" -> m.peakExecutionMemory))
    }
  }

  private val sql = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)
    private def record(funcName: String, qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) =>
        k -> Map("start" -> p.startTimeMs, "end" -> p.endTimeMs)
      }
      val exchanges = scala.util.Try(Plans.exchanges(qe.executedPlan)).getOrElse(0)
      add(Map("ev" -> "sql", "func" -> funcName, "t" -> System.currentTimeMillis(),
        "phases" -> phases, "exchanges" -> exchanges))
    }
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      add(Map("ev" -> "stream", "name" -> p.name, "batch" -> p.batchId,
        "t" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "duration" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(sql)
    spark.streams.addListener(streaming)
  }

  /** The listener bus is asynchronous: wait until every started job has
    * reported its end and no event arrived for a quiet period.
    */
  def drain(timeoutMs: Long = 15000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (System.nanoTime() < deadline &&
      (jobsEnded.get < jobsStarted.get || System.nanoTime() - lastEventNs < 300000000L))
      Thread.sleep(50)
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(sql)
    spark.streams.removeListener(streaming)
  }

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try events.asScala.foreach { e => w.write(Main.json.writeValueAsString(e)); w.newLine() }
    finally w.close()
  }
}
