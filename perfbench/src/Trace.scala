package graft.perfbench

import scala.collection.mutable
import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SqlEnd
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.IncrementalExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer recorder for traced runs, built only from stock listeners:
  * a `SparkListener` (jobs, stages, task metrics, and the SQL-execution
  * end of streaming micro-batches), a `QueryExecutionListener` (Catalyst
  * phase times from `qe.tracker.phases`) and a `StreamingQueryListener`
  * (per-trigger `durationMs`). Nothing in the engine is changed or
  * wrapped.
  *
  * Work is attributed to a *segment*: the caller opens one with [[begin]]
  * around each measured call and closes it with [[end]], which waits for
  * the listener bus to drain so every event of the segment has arrived.
  * Inside a segment, jobs of a streaming query are further split by
  * micro-batch (the `streaming.sql.batchId` job property, or the batch id
  * of the `IncrementalExecution`), so one segment can hold many
  * operations. Install before any streaming query starts: a stream runs
  * in a cloned session, which copies the listeners registered so far. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val lock = new Object
  private var current = mutable.Map.empty[Long, Acc]
  private val stageBatch = mutable.Map.empty[Int, Long]
  private val jobBatch = mutable.Map.empty[Int, Long]
  private val jobStartMs = mutable.Map.empty[Int, Long]

  private def acc(batch: Long): Acc = current.getOrElseUpdate(batch, new Acc)
  private def batchOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(NoBatch)

  private def addPhases(qe: QueryExecution): Unit = {
    val a = acc(qe match {
      case ie: IncrementalExecution => ie.currentBatchId
      case _ => NoBatch
    })
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    a.analysisMs += ms("analysis")
    a.optimizationMs += ms("optimization")
    a.planningMs += ms("planning")
  }

  private val sparkListener = new SparkListener {
    // micro-batches: see SqlEnd; named executions come through qeListener
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        SqlEnd.microBatch(end).foreach(ie => lock.synchronized(addPhases(ie)))
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val b = batchOf(e.properties)
      jobBatch(e.jobId) = b
      jobStartMs(e.jobId) = e.time
      e.stageIds.foreach(stageBatch(_) = b)
      acc(b).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      val b = jobBatch.remove(e.jobId).getOrElse(NoBatch)
      jobStartMs.remove(e.jobId).foreach(s => acc(b).jobSpans += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      acc(stageBatch.getOrElse(e.stageInfo.stageId, NoBatch)).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val a = acc(stageBatch.getOrElse(e.stageId, NoBatch))
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.input += m.inputMetrics.bytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lock.synchronized(addPhases(qe))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        val p = e.progress
        val a = acc(p.batchId)
        val d = p.durationMs
        def ms(k: String) = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        a.progress = Some(Progress(ms("triggerExecution"), ms("latestOffset"),
          ms("queryPlanning"), ms("addBatch"), ms("walCommit"), ms("commitOffsets")))
      }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Open a segment: everything posted until [[end]] is attributed to it. */
  def begin(): Unit = {
    BusDrain(spark.sparkContext)
    lock.synchronized { current = mutable.Map.empty }
  }

  /** Close the segment; returns its work per micro-batch id
    * ([[NoBatch]] for work outside any streaming batch). */
  def end(): Map[Long, Acc] = {
    BusDrain(spark.sparkContext)
    lock.synchronized {
      val out = current.toMap
      current = mutable.Map.empty
      out
    }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Trace {
  val NoBatch: Long = -1L

  final case class Progress(triggerMs: Long, latestOffsetMs: Long, planningMs: Long,
                            addBatchMs: Long, walCommitMs: Long, commitOffsetsMs: Long)

  /** Work recorded for one segment or one micro-batch. */
  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, input, spill = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    var progress: Option[Progress] = None

    def +=(o: Acc): Acc = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
      input += o.input; spill += o.spill
      analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
      planningMs += o.planningMs
      jobSpans ++= o.jobSpans
      this
    }

    /** Wall time covered by at least one job (overlapping jobs count once). */
    def jobUnionMs: Long = {
      var total, end = 0L
      var start = Long.MinValue
      jobSpans.sortBy(_._1).foreach { case (s, e) =>
        if (start == Long.MinValue || s > end) {
          if (start != Long.MinValue) total += end - start
          start = s; end = e
        } else end = math.max(end, e)
      }
      if (start != Long.MinValue) total += end - start
      total
    }

    /** The Catalyst and Spark-execution layer metrics of an operation
      * whose wall time was `wallMs`. */
    def layers(wallMs: Double): Map[String, Double] = Map(
      "catalyst.analysis_ms" -> analysisMs.toDouble,
      "catalyst.optimization_ms" -> optimizationMs.toDouble,
      "catalyst.planning_ms" -> planningMs.toDouble,
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.job_wall_ms" -> jobSpans.map(s => s._2 - s._1).sum.toDouble,
      "spark.executor_run_ms" -> runMs.toDouble,
      "spark.executor_cpu_ms" -> cpuNs / 1e6,
      "spark.gc_ms" -> gcMs.toDouble,
      "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
      "spark.input_bytes" -> input.toDouble,
      "spark.spill_bytes" -> spill.toDouble,
      "spark.outside_jobs_ms" -> math.max(0.0, wallMs - jobUnionMs))
  }

  def merged(accs: Iterable[Acc]): Acc = accs.foldLeft(new Acc)(_ += _)
}
