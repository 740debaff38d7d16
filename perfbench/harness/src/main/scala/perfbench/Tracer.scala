package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records the traced run's spans and counters through Spark's public
  * listener APIs: jobs and stages (linked to a query by the job group
  * the benchmark sets), task metrics summed per stage, planning phases
  * of each executed query, RDD blocks held, and streaming batches.
  * Everything is kept in [[Harness.Events]] and written at the end. */
final class Tracer(spark: SparkSession, ev: Harness.Events) {
  private val sc = spark.sparkContext

  /** Task metrics summed per stage attempt. */
  private final class StageSums {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var schedDelayMs = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
    var fetchWaitMs = 0L; var spill = 0L; var input = 0L; var output = 0L
  }
  private val sums = new ConcurrentHashMap[(Int, Int), StageSums]()

  // RDD blocks currently held, and the peak over the traced phase
  private val blocks = new ConcurrentHashMap[String, Long]()
  @volatile private var blockBytes = 0L
  @volatile private var peakBlocks = 0
  @volatile private var peakBytes = 0L

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .orNull

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      ev.emit("job", "id" -> e.jobId, "t0" -> e.time.toDouble,
        "group" -> group(e.properties), "stages" -> e.stageIds)

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      ev.emit("job_end", "id" -> e.jobId, "t1" -> e.time.toDouble,
        "ok" -> (e.jobResult == JobSucceeded))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val s = sums.computeIfAbsent((e.stageId, e.stageAttemptId),
          _ => new StageSums)
        val info = e.taskInfo
        val delay = info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime
        s.synchronized {
          s.tasks += 1
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.schedDelayMs += math.max(0L, delay)
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          s.spill += m.diskBytesSpilled
          s.input += m.inputMetrics.bytesRead
          s.output += m.outputMetrics.bytesWritten
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val s = Option(sums.remove((i.stageId, i.attemptNumber())))
        .getOrElse(new StageSums)
      ev.emit("stage", "id" -> i.stageId, "attempt" -> i.attemptNumber(),
        "t0" -> i.submissionTime.map(_.toDouble),
        "t1" -> i.completionTime.map(_.toDouble),
        "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ms" -> s.cpuNs / 1e6,
        "gc_ms" -> s.gcMs, "task_delay_ms" -> s.schedDelayMs,
        "shuffle_write" -> s.shuffleWrite, "shuffle_read" -> s.shuffleRead,
        "fetch_wait_ms" -> s.fetchWaitMs, "spill" -> s.spill,
        "input" -> s.input, "output" -> s.output)
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) blocks.synchronized {
        val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
        val bytes = info.memSize + info.diskSize
        val old = Option(blocks.remove(key)).getOrElse(0L)
        if (info.storageLevel.isValid && bytes > 0) blocks.put(key, bytes)
        blockBytes += (if (blocks.containsKey(key)) bytes else 0L) - old
        peakBlocks = math.max(peakBlocks, blocks.size)
        peakBytes = math.max(peakBytes, blockBytes)
      }
    }
  }

  /** Planning phases of every executed query. A result write carries
    * its output path; with the time planning ended, that names the
    * query and stream it belongs to. */
  private val plans = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      try {
        val ph = qe.tracker.phases
        def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble)
          .getOrElse(0.0)
        val path = qe.logical.collectFirst {
          case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString
        }
        ev.emit("plan", "func" -> func, "path" -> path,
          "t" -> ph.values.map(_.endTimeMs).maxOption.map(_.toDouble),
          "analysis_ms" -> ms("analysis"),
          "optimization_ms" -> ms("optimization"),
          "planning_ms" -> ms("planning"))
      } catch { case NonFatal(_) => () }

    override def onFailure(func: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      ev.emit("stream_start", "id" -> e.id.toString, "t" -> ev.now())

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      ev.emit("stream_batch", "id" -> e.progress.id.toString,
        "batch" -> e.progress.batchId, "ms" -> e.progress.batchDuration,
        "t" -> ev.now())

    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      ev.emit("stream_end", "id" -> e.id.toString, "t" -> ev.now())
  }

  def attach(): Unit = {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
  }

  /** Waits until every event posted so far has reached the listeners
    * (a marker job's end arrives after them on the same queue), then
    * records the block peaks and detaches. */
  def detach(): Unit = {
    val marker = "perfbench/marker"
    @volatile var markerJob = -1
    @volatile var seen = false
    val fence = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (group(e.properties) == marker) markerJob = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) seen = true
    }
    sc.addSparkListener(fence)
    sc.setJobGroup(marker, marker, interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!seen && System.nanoTime() < deadline) Thread.sleep(10)
    ev.emit("blocks", "peak_blocks" -> peakBlocks, "peak_bytes" -> peakBytes)
    sc.removeSparkListener(fence)
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(streams)
  }
}
