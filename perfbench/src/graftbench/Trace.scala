package graftbench

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed region of a run. Spark work inside it is attributed through
  * the job group the span sets (`groups` also collects the run ids of the
  * streaming queries started inside it, whose micro-batch threads carry
  * their own job group). */
final class Span(val name: String, val pass: Int, val kind: String,
                 val family: String, val startMs: Long) {
  var endMs: Long = startMs
  var seconds: Double = 0.0
  val groups: mutable.ArrayBuffer[String] = mutable.ArrayBuffer(name)
  val counts: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)

  def toJson: Map[String, Any] = Map("name" -> name,
    "parent" -> name.split('/').init.mkString("/"), "pass" -> pass,
    "kind" -> kind, "family" -> family, "seconds" -> seconds,
    "start_ms" -> startMs, "end_ms" -> endMs, "counts" -> counts.toMap)
}

/** Work done by the jobs of one job group, from task-end metrics, and by
  * its file scans, from the scan nodes' SQL metrics. */
final class JobWork {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, outputBytes = 0L
  var scanBytes, scanRows = 0L
  var outputFiles = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Public-listener tracer, registered only in a traced run: a
  * SparkListener for jobs, stages, task metrics and the file-scan nodes'
  * SQL metrics, and a StreamingQueryListener for micro-batch `durationMs`. */
final class Trace(spark: SparkSession) {
  private val sentinel = "graftbench-sentinel"
  private val ScanBytes = "size of files read"
  private val ScanRows = "number of output rows"

  private object jobs extends SparkListener {
    val stageGroup = mutable.Map.empty[Int, String]
    val jobGroup = mutable.Map.empty[Int, (String, Long)]
    val work = mutable.Map.empty[String, JobWork]
    var sentinelDone = false
    private def of(g: String) = work.getOrElseUpdate(g, new JobWork)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("-")
      e.stageIds.foreach(stageGroup.getOrElseUpdate(_, g))
      jobGroup(e.jobId) = (g, e.time)
      of(g).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobGroup.remove(e.jobId).foreach { case (g, t0) =>
        of(g).intervals += ((t0, e.time))
        if (g == sentinel) sentinelDone = true
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stageGroup.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) stageGroup.get(e.stageId).foreach { g =>
        val w = of(g)
        w.tasks += 1
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.outputBytes += m.outputMetrics.bytesWritten
        if (m.outputMetrics.bytesWritten > 0) w.outputFiles += 1
      }
      if (e.taskInfo != null) e.taskInfo.accumulables.foreach { a =>
        if (a.name.contains(ScanRows)) a.update.foreach(u => accum(a.id) += u.toString.toLong)
      }
    }

    // File scans run under a SQL execution id (Dataset actions, streaming
    // micro-batches): the execution's plan names its scan nodes' metric
    // accumulators ("size of files read" is a driver metric, "number of
    // output rows" a task one); the sums are resolved per job group in
    // drain. The timed query runs through `toRdd`, with no execution id;
    // PlanStats reads its scan nodes' metrics from its plan instead.
    val execGroup = mutable.Map.empty[Long, String]
    val scanAccum = mutable.Map.empty[Long, (Long, String)] // accum id -> (execution, metric)
    val accum = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    private def scans(exec: Long, p: SparkPlanInfo): Unit = {
      val names = p.metrics.map(_.name).toSet
      if (names(ScanBytes)) p.metrics.filter(m => m.name == ScanBytes || m.name == ScanRows)
        .foreach(m => scanAccum(m.accumulatorId) = (exec, m.name))
      p.children.foreach(scans(exec, _))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        execGroup(s.executionId) = s.jobGroupId.getOrElse("-")
        scans(s.executionId, s.sparkPlanInfo)
      }
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        synchronized(scans(u.executionId, u.sparkPlanInfo))
      case d: SparkListenerDriverAccumUpdates => synchronized {
        d.accumUpdates.foreach { case (id, v) => accum(id) += v }
      }
      case _ =>
    }
    def resolveScans(): Unit = synchronized {
      scanAccum.foreach { case (id, (exec, name)) =>
        val w = of(execGroup.getOrElse(exec, "-"))
        if (name == ScanBytes) w.scanBytes += accum(id) else w.scanRows += accum(id)
      }
    }
  }

  private object streams extends StreamingQueryListener {
    val progress = new ConcurrentHashMap[UUID, Vector[StreamingQueryProgress]]()
    val terminated = ConcurrentHashMap.newKeySet[UUID]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.merge(e.progress.runId, Vector(e.progress), _ ++ _)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.add(e.runId)
  }

  spark.sparkContext.addSparkListener(jobs)
  spark.streams.addListener(streams)

  /** Block until both listeners have seen every event posted so far: a
    * sentinel job's end arrives behind all earlier job events, and every
    * started stream's termination behind its progress events. */
  def drain(runIds: Iterable[String]): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(sentinel, sentinel, interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val ids = runIds.map(UUID.fromString).toSet
    val deadline = System.currentTimeMillis() + 15000
    while ((!jobs.synchronized(jobs.sentinelDone) ||
            !ids.forall(streams.terminated.contains)) &&
           System.currentTimeMillis() < deadline) Thread.sleep(20)
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(streams)
    jobs.resolveScans()
  }

  def work(group: String): Option[JobWork] = jobs.synchronized(jobs.work.get(group))

  def progress(runId: String): Seq[StreamingQueryProgress] =
    Option(streams.progress.get(UUID.fromString(runId))).getOrElse(Vector.empty)
}

/** Operator counts and file-scan metrics of a final (adaptive) physical
  * plan, read after the plan has run. */
object PlanStats extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): Map[String, Double] = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    def n(f: SparkPlan => Boolean) = nodes.count(f).toDouble
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    def metric(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value.toDouble).sum
    Map(
      "plan.exchanges" -> n(_.isInstanceOf[ShuffleExchangeLike]),
      "plan.broadcast_joins" -> n(_.isInstanceOf[BroadcastHashJoinExec]),
      "plan.sort_merge_joins" -> n(_.isInstanceOf[SortMergeJoinExec]),
      "Tables.file_scans" -> n(p => p.isInstanceOf[FileSourceScanExec] ||
                                    p.isInstanceOf[BatchScanExec]),
      "Tables.scan_bytes" -> metric("filesSize"),
      "Tables.scan_rows" -> metric("numOutputRows"),
      // cross-check of the scans' "size of files read": the on-disk size of
      // the files their relations list
      "Tables.scan_disk_mb" -> scans.map { f =>
        f.relation.location.inputFiles.map { p =>
          new java.io.File(new org.apache.hadoop.fs.Path(p).toUri.getPath).length
        }.sum
      }.sum / (1024.0 * 1024.0))
  }

  /** Analysis / optimization / planning seconds from the query's
    * QueryPlanningTracker. */
  def phases(df: org.apache.spark.sql.DataFrame): Map[String, Double] = {
    val ph = df.queryExecution.tracker.phases
    Seq("analysis", "optimization", "planning").map { p =>
      s"plan.${p}_s" -> ph.get(p).map(_.durationMs / 1000.0).getOrElse(0.0)
    }.toMap
  }

  /** Union length (ms) of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var end = lo
    var sum = 0L
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { sum += b - math.max(a, end); end = b }
      }
    sum
  }

  def durations(p: StreamingQueryProgress): Map[String, Double] =
    p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue / 1000.0 }.toMap
}
