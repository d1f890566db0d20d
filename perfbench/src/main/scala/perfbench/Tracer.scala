package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instrument. It records spans around the harness's own
  * calls into each module, and folds Spark's public listener events
  * (SparkListener, QueryExecutionListener, StreamingQueryListener) into
  * the spans they fall inside. Nothing is installed inside the engine:
  * the untraced run never constructs a Tracer.
  *
  * Attribution is by time. Operations run one after another on the
  * harness thread, so a job belongs to the operation whose span holds
  * the job's start, and an SQL execution to the one holding its start.
  * Scan and write counts are the driver-side SQL metrics of each
  * execution's plan. Planning times come from QueryExecutionListener,
  * whose callbacks carry no execution id; each is placed at the midpoint
  * of the execution it reports (callback time minus half its duration). */
final class Tracer(spark: SparkSession) {

  final case class Span(layer: String, name: String, startMs: Long, endMs: Long)

  private final class Job(val start: Long, val execId: Long) {
    var end: Long = -1L
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }

  /** One SQL execution: its start, whether it writes, and the
    * accumulator ids of its scan/write metrics. */
  private final case class Exec(start: Long, write: Boolean, scanFilesIds: Set[Long],
                                outFilesIds: Set[Long], outBytesIds: Set[Long])

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execs = mutable.Map.empty[Long, Exec]
  /** Driver-side SQL metric values by accumulator id (unique per context). */
  private val accums = mutable.Map.empty[Long, Long]
  /** (midpoint ms, planning ms) of each QueryExecutionListener callback. */
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption).getOrElse(-1L)
      jobs(e.jobId) = new Job(e.time, exec)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid) if m != null) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val e = withPlan(Exec(s.time, write = false, Set.empty, Set.empty, Set.empty),
          s.sparkPlanInfo)
        Tracer.this.synchronized { execs(s.executionId) = e }
      // adaptive re-planning makes new plan nodes with new metric ids
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        Tracer.this.synchronized {
          execs.get(u.executionId).foreach(e => execs(u.executionId) = withPlan(e, u.sparkPlanInfo))
        }
      case u: SparkListenerDriverAccumUpdates =>
        Tracer.this.synchronized {
          u.accumUpdates.foreach { case (id, v) => accums(id) = accums.getOrElse(id, 0L) + v }
        }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum
      val mid = System.currentTimeMillis() - durationNs / 2000000L
      Tracer.this.synchronized { plans += ((mid, planMs)) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def planNodes(p: SparkPlanInfo): Seq[SparkPlanInfo] =
    p +: p.children.flatMap(planNodes)

  /** `e` with the scan/write metric ids of `plan` added. */
  private def withPlan(e: Exec, plan: SparkPlanInfo): Exec = {
    val nodes = planNodes(plan)
    def ids(metric: String) =
      nodes.flatMap(_.metrics).filter(_.name == metric).map(_.accumulatorId).toSet
    val outFiles = ids("number of written files")
    Exec(e.start,
      write = e.write || outFiles.nonEmpty || nodes.exists(_.nodeName.contains("InsertInto")),
      e.scanFilesIds ++ ids("number of files read"), e.outFilesIds ++ outFiles,
      e.outBytesIds ++ ids("written output"))
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Time `body` as a span of `layer`. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val t0 = System.currentTimeMillis()
    try body finally synchronized { spans += Span(layer, name, t0, System.currentTimeMillis()) }
  }

  def spansOf(layer: String): Seq[Span] = synchronized { spans.filter(_.layer == layer).toSeq }

  def progressEvents: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    synchronized { progress.map(_.progress).toSeq }

  /** Listener delivery is asynchronous: wait until the event counts stop
    * changing (and at least `minMs`) before summarizing. */
  def settle(minMs: Long = 300L): Unit = {
    def size = synchronized {
      jobs.size + execs.size + plans.size + progress.size + jobs.values.count(_.end >= 0)
    }
    var prev = -1
    Thread.sleep(minMs)
    var cur = size
    while (cur != prev) { Thread.sleep(150); prev = cur; cur = size }
  }

  /** Union length of intervals clipped to [lo, hi]. */
  private def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The Spark-engine and module-boundary metrics of a set of operation
    * windows, averaged per operation. Names follow the layer that does
    * the work: spark.* is the engine beneath every module, sources.* the
    * scans, sinks.* the writes. */
  def perOp(ops: Seq[(Long, Long)]): Seq[M] = synchronized {
    val n = math.max(1, ops.size).toDouble
    val perOpJobs = ops.map { case (s, e) =>
      (s, e, jobs.values.filter(j => j.start >= s && j.start <= e).toSeq)
    }
    val opJobs = perOpJobs.flatMap(_._3)
    def within(t: Long) = ops.exists { case (s, e) => t >= s && t <= e }
    val opExecs = execs.values.filter(e => within(e.start)).toSeq
    val planMs = plans.collect { case (t, ms) if within(t) => ms }.sum
    val writeRunMs = opJobs.filter(j => execs.get(j.execId).exists(_.write)).map(_.runMs).sum
    val driverOnly = perOpJobs.map { case (s, e, js) =>
      (e - s) - unionMs(js.map(j => (j.start, if (j.end >= 0) j.end else e)), s, e)
    }.sum
    def sum(f: Job => Long): Double = opJobs.map(f).sum.toDouble / n
    def acc(ids: Exec => Set[Long]): Double =
      opExecs.flatMap(e => ids(e).toSeq).map(accums.getOrElse(_, 0L)).sum.toDouble / n
    Seq(
      ("spark.jobs_per_op", opJobs.size / n, "count"),
      ("spark.stages_per_op", sum(_.stages), "count"),
      ("spark.tasks_per_op", sum(_.tasks), "count"),
      ("spark.executor_run_ms_per_op", sum(_.runMs), "ms"),
      ("spark.executor_cpu_ms_per_op", sum(_.cpuNs) / 1e6, "ms"),
      ("spark.gc_ms_per_op", sum(_.gcMs), "ms"),
      ("spark.shuffle_read_bytes_per_op", sum(_.shuffleRead), "bytes"),
      ("spark.shuffle_write_bytes_per_op", sum(_.shuffleWrite), "bytes"),
      ("spark.spill_bytes_per_op", sum(_.spill), "bytes"),
      ("spark.driver_only_ms_per_op", driverOnly / n, "ms"),
      ("spark.sql_execs_per_op", opExecs.size / n, "count"),
      ("spark.plan_ms_per_op", planMs / n, "ms"),
      ("sources.input_bytes_per_op", sum(_.inputBytes), "bytes"),
      ("sources.input_files_per_op", acc(_.scanFilesIds), "count"),
      ("sinks.write_exec_ms_per_op", writeRunMs / n, "ms"),
      ("sinks.output_files_per_op", acc(_.outFilesIds), "count"),
      ("sinks.output_bytes_per_op", acc(_.outBytesIds), "bytes"))
      .map { case (name, v, unit) => M(name, v, unit) }
  }
}

object Tracer {
  /** The names [[Tracer.perOp]] returns, in order. */
  val perOpNames: Seq[String] = Seq(
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.executor_run_ms_per_op", "spark.executor_cpu_ms_per_op",
    "spark.gc_ms_per_op", "spark.shuffle_read_bytes_per_op",
    "spark.shuffle_write_bytes_per_op", "spark.spill_bytes_per_op",
    "spark.driver_only_ms_per_op", "spark.sql_execs_per_op",
    "spark.plan_ms_per_op", "sources.input_bytes_per_op",
    "sources.input_files_per_op", "sinks.write_exec_ms_per_op",
    "sinks.output_files_per_op", "sinks.output_bytes_per_op")

  private def regularFiles[T](dir: String)(f: java.util.stream.Stream[Path] => T, empty: T): T = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) empty
    else {
      val s = Files.walk(p)
      try f(s.filter(Files.isRegularFile(_))) finally s.close()
    }
  }

  /** Files (not directories) under `dir`, recursively; 0 when absent. */
  def filesUnder(dir: String): Long = regularFiles(dir)(_.count(), 0L)

  /** Bytes of the files under `dir`, recursively; 0 when absent. */
  def bytesUnder(dir: String): Double =
    regularFiles(dir)(_.mapToLong(Files.size(_)).sum().toDouble, 0.0)
}
