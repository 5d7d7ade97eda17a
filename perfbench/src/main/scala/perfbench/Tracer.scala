package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory recorder for the traced run.
  *
  * Observes the engine from outside only: spans the harness opens around
  * its calls into the public entry points, Spark's public
  * `SparkListener` (jobs, stages, tasks) and `StreamingQueryListener`
  * (micro-batch progress). Nothing is written until the run ends; the
  * raw records are dumped as JSON and `perfbench/metrics.py` assembles
  * the span tree and the per-layer figures.
  *
  * Span levels: 1 workload, 2 item (a query or a scenario rung),
  * 3 build/plan/write or one micro-batch, 4 a micro-batch phase or a
  * Spark job, 5 a stage.
  */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobs = new ConcurrentHashMap[Int, Map[String, Any]]()
  private val jobOfStage = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val taskTimes = new ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[Long]]()
  private val failedTasks = new ConcurrentHashMap[(Int, Int), AtomicLong]()
  private val batches = new ConcurrentLinkedQueue[Map[String, Any]]()
  @volatile private var current: Long = 0L
  @volatile private var on = false
  /** The trace id of the item being run: spans and events inherit it. */
  @volatile var trace: String = ""

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val p = Option(e.properties)
      e.stageIds.foreach(s => jobOfStage.put(s, e.jobId))
      jobs.put(e.jobId, Map(
        "job" -> e.jobId, "start_ms" -> e.time, "trace" -> trace,
        // the result stage is named after the job's call site
        "call_site" -> p.flatMap(x => Option(x.getProperty("callSite.short")))
          .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse(""),
        "parent" -> p.flatMap(x => Option(x.getProperty(Tracer.SpanKey)))
          .map(_.toLong).getOrElse(current)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        jobs.put(e.jobId, j ++ Map("end_ms" -> e.time,
          "ok" -> (e.jobResult == JobSucceeded)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      val k = (e.stageId, e.stageAttemptId)
      taskTimes.computeIfAbsent(k, _ => new ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)
      if (!e.taskInfo.successful)
        failedTasks.computeIfAbsent(k, _ => new AtomicLong()).incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      val s = e.stageInfo
      val k = (s.stageId, s.attemptNumber())
      val times = Option(taskTimes.remove(k)).map(_.asScala.toVector.sorted)
        .getOrElse(Vector.empty)
      val m = s.taskMetrics
      val busy = if (m == null) 0L else m.executorRunTime
      stages.add(Map(
        "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
        "job" -> Option(jobOfStage.get(s.stageId)).getOrElse(-1),
        "name" -> s.name,
        "start_ms" -> s.submissionTime.getOrElse(0L),
        "end_ms" -> s.completionTime.getOrElse(0L),
        "tasks" -> s.numTasks,
        "task_max_ms" -> times.lastOption.getOrElse(0L),
        "task_median_ms" -> (if (times.isEmpty) 0L else times(times.length / 2)),
        "busy_ms" -> busy,
        "failed_tasks" -> Option(failedTasks.remove(k)).map(_.get).getOrElse(0L),
        "input_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
        "input_rows" -> (if (m == null) 0L else m.inputMetrics.recordsRead),
        "output_bytes" -> (if (m == null) 0L else m.outputMetrics.bytesWritten),
        "output_rows" -> (if (m == null) 0L else m.outputMetrics.recordsWritten),
        "shuffle_read_bytes" -> (if (m == null) 0L else
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
        "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (on) {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val ops = p.stateOperators.toSeq
      batches.add(Map(
        "query" -> p.runId.toString, "batch" -> p.batchId, "trace" -> trace,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "duration_ms" -> d, "rows" -> p.numInputRows, "parent" -> current,
        "state_rows_total" -> ops.map(_.numRowsTotal).sum,
        "state_rows_updated" -> ops.map(_.numRowsUpdated).sum,
        "state_rows_removed" -> ops.map(_.numRowsRemoved).sum,
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
        "state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "state_instances" -> ops.map(_.numStateStoreInstances.toLong).sum))
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def detach(spark: SparkSession): Unit = {
    on = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  /** Runs `body` inside a span. While it runs, jobs the calling thread
    * submits carry the span's id (a Spark local property), so the
    * profile can hang them under it.
    */
  def span[T](spark: SparkSession, name: String, level: Int,
              attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    val id = ids.incrementAndGet()
    val (parent, prevProp) = (current, spark.sparkContext.getLocalProperty(Tracer.SpanKey))
    current = id
    spark.sparkContext.setLocalProperty(Tracer.SpanKey, id.toString)
    val start = System.currentTimeMillis()
    try body finally {
      spans.add(Map("id" -> id, "name" -> name, "level" -> level,
        "parent" -> parent, "start_ms" -> start, "trace" -> trace,
        "end_ms" -> System.currentTimeMillis()) ++ attrs)
      current = parent
      spark.sparkContext.setLocalProperty(Tracer.SpanKey, prevProp)
    }
  }

  /** Every raw record, for the profile writer. */
  def dump(): Map[String, Any] = Map(
    "spans" -> spans.asScala.toSeq,
    "jobs" -> jobs.values.asScala.toSeq.sortBy(_("job").asInstanceOf[Int]),
    "stages" -> stages.asScala.toSeq,
    "batches" -> batches.asScala.toSeq)
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Total GC time and the heap in use right after the last collection. */
  def jvm(): Map[String, Any] = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val afterGc = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    Map("gc_ms" -> gcMs, "heap_after_gc_bytes" -> afterGc)
  }
}
