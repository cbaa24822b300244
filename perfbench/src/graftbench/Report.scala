package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Small numeric and process helpers. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** p90, or -1 when fewer than ten samples lie beyond it. */
  def p90(xs: Seq[Double]): Double = if (xs.size < 100) -1.0 else quantile(xs, 0.9)

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) -1.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def procKb(file: String, key: String): Double =
    try {
      val src = scala.io.Source.fromFile(file)
      try src.getLines().find(_.startsWith(key + ":"))
        .map(_.split("\\s+")(1).toDouble).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Peak resident set of this JVM (VmHWM). */
  def vmHwmMb(): Double = procKb("/proc/self/status", "VmHWM") / 1024.0
  def memTotalMb(): Double = procKb("/proc/meminfo", "MemTotal") / 1024.0

  /** (steal, total) CPU ticks from /proc/stat: the share of time the
    * hypervisor gave this box's CPUs to someone else. */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
        (f(7), f.sum)
      } finally src.close()
    } catch { case _: Throwable => (0L, 0L) }

  def dirMb(path: String): Double = {
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
      else f.length()
    size(new File(path)) / (1024.0 * 1024.0)
  }

  /** JIT and GC time and the peak heap over the whole JVM lifetime. */
  def jvm(): Map[String, Double] = Map(
    "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
    "jvm.gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3,
    "jvm.heap_peak_mb" -> ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0))
}

/** Per-layer metrics of a traced run, from its spans and the listeners.
  * Scope: per warm pass (mean over the measured passes 2..n), except names that say
  * `cold` (pass 1), `Merge.build_s` (artifact builds, pass 1) and the
  * Sessions / jvm figures (set-up / whole run). */
object Layers {
  def apply(t: Trace, rec: Recorder, o: Outcome, cores: Int): Map[String, Double] = {
    val warm = rec.spans.filter(s => s.pass > 1 && s.pass <= o.passWall.size).toSeq
    val cold = rec.spans.filter(_.pass == 1).toSeq
    val nWarm = math.max(1, o.passWall.size - 1).toDouble
    val work = (ss: Seq[Span]) => ss.flatMap(_.groups).flatMap(t.work)
    def perWarm(x: Double) = x / nWarm
    def sumW(f: JobWork => Double, ss: Seq[Span] = warm) = perWarm(work(ss).map(f).sum)
    def cnt(k: String, ss: Seq[Span] = warm) = perWarm(ss.map(_.counts(k)).sum)
    val mb = 1024.0 * 1024.0

    val ops = Workloads.Families.flatMap { f =>
      Seq(s"ops.$f.cold_s" -> cold.filter(_.family == f).map(_.seconds).sum,
          s"ops.$f.warm_s" -> perWarm(warm.filter(_.family == f).map(_.seconds).sum))
    }
    val construct = warm.filter(_.kind == "construct")
    val warmWall = o.passWall.drop(1).sum
    val outside = o.passMs.drop(1).map { case (lo, hi) =>
      val inPass = rec.spans.filter(s => s.startMs >= lo && s.endMs <= hi).toSeq
      (hi - lo) - PlanStats.covered(work(inPass).flatMap(_.intervals).toSeq, lo, hi)
    }.sum / 1e3
    val taskRun = sumW(_.runMs / 1e3)
    val input = sumW(_.scanBytes.toDouble) + cnt("Tables.scan_bytes")
    val written = sumW(_.outputBytes.toDouble)
    val landed = o.details.get("landed_bytes").map(_.toString.toDouble / o.passWall.size)
    val sinks = warm.filter(_.kind == "sink")
    val progress = sinks.flatMap(s => s.groups.drop(1).flatMap(t.progress))
    def dur(k: String) = perWarm(progress.map(p => PlanStats.durations(p).getOrElse(k, 0.0)).sum)
    val layers = ops ++ Seq(
      "ops.construct_s" -> perWarm(construct.map(_.seconds).sum),
      "ops.construct_jobs" -> sumW(_.jobs.toDouble, construct),
      "plan.analysis_s" -> cnt("plan.analysis_s"),
      "plan.optimization_s" -> cnt("plan.optimization_s"),
      "plan.planning_s" -> cnt("plan.planning_s"),
      "plan.exchanges" -> cnt("plan.exchanges"),
      "plan.broadcast_joins" -> cnt("plan.broadcast_joins"),
      "plan.sort_merge_joins" -> cnt("plan.sort_merge_joins"),
      "exec.s" -> perWarm(warm.filter(_.kind == "exec").map(_.seconds).sum),
      "exec.jobs" -> sumW(_.jobs.toDouble),
      "exec.stages" -> sumW(_.stages.toDouble),
      "exec.tasks" -> sumW(_.tasks.toDouble),
      "exec.task_run_s" -> taskRun,
      "exec.task_cpu_s" -> sumW(_.cpuNs / 1e9),
      "exec.task_gc_s" -> sumW(_.gcMs / 1e3),
      "exec.outside_jobs_s" -> perWarm(outside),
      "exec.core_util" -> (if (warmWall > 0) taskRun * nWarm / (warmWall * cores) else 0.0),
      "exec.shuffle_write_mb" -> sumW(_.shuffleWrite / mb),
      "exec.shuffle_read_mb" -> sumW(_.shuffleRead / mb),
      "exec.spill_mb" -> sumW(_.spill / mb),
      "Tables.input_mb" -> input / mb,
      "Tables.input_rows" -> (sumW(_.scanRows.toDouble) + cnt("Tables.scan_rows")),
      "Tables.file_scans" -> cnt("Tables.file_scans"),
      // the timed queries' share of input_mb, beside the on-disk size of
      // the files their scans list (a cross-check of the scan metric)
      "Tables.timed_scan_mb" -> cnt("Tables.scan_bytes") / mb,
      "Tables.scan_disk_mb" -> cnt("Tables.scan_disk_mb"),
      "Merge.build_s" -> o.buildColdS,
      "Merge.written_mb" -> written / mb,
      "Merge.files" -> sumW(_.outputFiles.toDouble),
      "Merge.write_amp" -> {
        val base = landed.getOrElse(input)
        if (base > 0) written / base else 0.0
      },
      "Merge.compact_s" -> perWarm(warm.filter(_.kind == "compact").map(_.seconds).sum),
      "Streams.start_s" -> (perWarm(sinks.map(_.seconds).sum) - dur("triggerExecution")),
      "Streams.trigger_s" -> dur("triggerExecution"),
      "Streams.add_batch_s" -> dur("addBatch"),
      "Streams.get_batch_s" -> dur("getBatch"),
      "Streams.query_planning_s" -> dur("queryPlanning"),
      "Streams.wal_commit_s" -> dur("walCommit"),
      "Streams.commit_offsets_s" -> dur("commitOffsets"),
      "Streams.rows_in" -> perWarm(progress.map(_.numInputRows.toDouble).sum))
    layers.toMap
  }

  /** Self time per span kind, per warm pass: the part of the spans'
    * wall time covered by their Spark jobs, the driver-side rest, and the
    * loop time outside every span (pass bookkeeping, output checks). */
  def self(t: Trace, rec: Recorder, o: Outcome): Map[String, Double] = {
    val warm = rec.spans.filter(s => s.pass > 1 && s.pass <= o.passWall.size).toSeq
    val nWarm = math.max(1, o.passWall.size - 1).toDouble
    val kinds = warm.groupBy(_.kind).toSeq.sortBy(_._1).flatMap { case (k, ss) =>
      val jobs = ss.map { s =>
        val ivs = s.groups.flatMap(t.work).flatMap(_.intervals).toSeq
        PlanStats.covered(ivs, s.startMs, s.endMs) / 1e3
      }.sum
      Seq(s"$k.jobs_s" -> jobs / nWarm, s"$k.driver_s" -> (ss.map(_.seconds).sum - jobs) / nWarm)
    }
    (kinds :+ ("loop.outside_spans_s" ->
      (o.passWall.drop(1).sum - warm.map(_.seconds).sum) / nWarm)).toMap
  }
}

/** Minimal JSON writer for the run document (no dependency). */
object Json {
  def obj(kv: (String, Any)*): String = value(kv.toMap)

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
