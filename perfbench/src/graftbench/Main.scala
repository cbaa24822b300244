package graftbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Sessions, SparkEntry, Tables}
import graft.streaming.Streams

/** One benchmark run in one JVM: set up `local[cores]` once (setup_s runs
  * from process launch to the first timed operation), then drive one
  * workload in a closed loop with one client thread for `--seconds`, check
  * every output, and write the run's metrics as JSON. Launched by `perfbench/run.py`, which
  * builds the classes and the inputs first. */
object Main {

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = kv.get(k)
    def workload: String = apply("workload")
    def seed: Long = apply("seed").toLong
    def seconds: Double = apply("seconds").toDouble
    def traced: Boolean = get("trace").contains("1")
    def cores: Int = apply("cores").toInt
  }

  def parse(argv: Array[String]): Args =
    Args(argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code =
      try {
        if (a.get("verify").isDefined) // provenance of expected.tsv
          graft.Verify.main(Array(a("verify"), a("verify-out"), a("queries")))
        else run(a)
        0
      }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  val now: () => Long = () => System.nanoTime()
  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def run(a: Args): Unit = {
    val w = Workloads.byName(a.workload)
    val data = a("data")
    // set-up: from process launch (stamped by run.py) to the first timed operation
    val launchMs = a.get("t0").map(_.toLong).getOrElse(System.currentTimeMillis())
    val spark = Sessions.local(a.cores.toString, "graft-perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.currentTimeMillis()
    w.warmup(spark, data)
    val t2 = System.currentTimeMillis()
    val (startS, warmupS) = ((t1 - launchMs) / 1e3, (t2 - t1) / 1e3)
    System.err.println(s"[perfbench] set-up: session $startS s, warm-up $warmupS s")
    val loadStart = graft.Bench.loadavg()
    val ticks0 = Stats.cpuTicks()
    val trace = if (a.traced) Some(new Trace(spark)) else None
    val rec = new Recorder(spark)
    val outcome = w.run(spark, a, rec)
    trace.foreach(_.drain(rec.spans.flatMap(_.groups.drop(1))))
    val loadEnd = graft.Bench.loadavg()
    val ticks1 = Stats.cpuTicks()

    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> (startS + warmupS),
      "cold_pass_s" -> outcome.passWall.head,
      "warm_pass_s" -> Stats.median(outcome.passWall.tail),
      "op_p50_s" -> Stats.median(outcome.warmOps),
      "warehouse_mb" -> outcome.storedMb)
    val layers: Map[String, Double] = trace.map { t =>
      Layers(t, rec, outcome, a.cores) ++ Map(
        "Sessions.start_s" -> startS,
        "Sessions.warmup_s" -> warmupS,
        "jvm.peak_rss_mb" -> Stats.vmHwmMb()) ++ Stats.jvm()
    }.getOrElse(Map.empty)
    val selfTimes = trace.map(Layers.self(_, rec, outcome)).getOrElse(Map.empty)
    spark.stop()

    val stamp = Map[String, Any](
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cores" -> a.cores,
      "mem_total_mb" -> Stats.memTotalMb(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "commit" -> a.get("commit").getOrElse("unknown"),
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
      "cpu_steal_frac" ->
        (ticks1._1 - ticks0._1).toDouble / math.max(1L, ticks1._2 - ticks0._2),
      "probe_cpu_s" -> graft.Bench.probeMin(() => graft.Bench.cpuProbeSec()),
      "probe_codec_s" -> graft.Bench.probeMin(() => graft.Bench.codecProbeSec(), 3))
    val attempted = outcome.attempted
    val failed = outcome.failures.size
    outcome.failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    val doc = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "traced" -> a.traced,
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "failures" -> outcome.failures,
      "end_to_end" -> e2e.toMap, "per_layer" -> layers, "layer_self_s" -> selfTimes,
      "details" -> (outcome.details ++ Map(
        "pass_wall_s" -> outcome.passWall,
        "failed_frac" -> failed.toDouble / math.max(1, attempted))),
      "stamp" -> stamp,
      "spans" -> (if (a.traced) rec.spans.map(_.toJson) else Seq.empty))
    Files.writeString(Paths.get(a("out")), doc)
    outcome.record.foreach { rows =>
      Files.writeString(Paths.get(a("record")), rows.mkString("", "\n", "\n"))
    }
  }
}

/** What a workload's timed loop produced, over its measured passes
  * ([[Workload.Passes]]): their wall times and spans, and `warmOps`, the
  * per-operation latencies of measured passes after the first. */
final case class Outcome(passWall: Seq[Double], passMs: Seq[(Long, Long)],
                         warmOps: Seq[Double], storedMb: Double,
                         buildColdS: Double, attempted: Int,
                         failures: Seq[String], details: Map[String, Any],
                         record: Option[Seq[String]] = None)

/** Span bookkeeping for every run (cheap); the trace reads it back. */
final class Recorder(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]

  def span[T](name: String, pass: Int, kind: String, family: String = "")
             (body: Span => T): T = {
    val sc = spark.sparkContext
    val s = new Span(name, pass, kind, family, System.currentTimeMillis())
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body(s) finally {
      s.seconds = (System.nanoTime() - t0) / 1e9
      s.endMs = System.currentTimeMillis()
      sc.clearJobGroup()
      spans += s
    }
  }
}

/** A named workload: its untimed warm-up reads and its timed loop. */
trait Workload {
  /** Untimed warm-up reads: one small aggregation over the fact table and
    * one over the events (JIT of the scan/agg/shuffle path). */
  def warmup(spark: SparkSession, data: String): Unit = {
    Tables.lineitem(spark, data).limit(20000).groupBy("l_returnflag").count().collect()
    Tables.events(spark, data).limit(20000).groupBy("event_type").count().collect()
  }
  def run(spark: SparkSession, a: Main.Args, rec: Recorder): Outcome

  /** The measured passes: the cold pass and four warm ones. They run even
    * when `--seconds` is already spent, so every run measures the same
    * work. Passes after them run only while `--seconds` is not spent; they
    * are checked but enter no metric, since an ingest pass grows the sink
    * and costs more than the one before. */
  val Passes = 5
  def measured(pass: Int): Boolean = pass <= Passes
}

object Workloads {
  /** The suite panel: one query from every operator family (the module
    * `queries` maps), mixing scans, joins and artifact-served queries
    * whose first touch builds an artifact: q99 through etl.Manifest, q86
    * through etl.Merge.materialize. */
  val SuitePanel: Seq[String] = Seq(
    "q01_pricing_summary", "q10_record_parse", "q99_keyword_search",
    "q86_ivf_indexed", "q26_tumbling_hourly", "q28_rollup",
    "q55_frontier_pages", "q116_fuzzy_join", "q56_media_resize")

  def byName(n: String): Workload = n match {
    case "suite-sf0.1" => new QueryWorkload(SuitePanel)
    case "ingest-sf0.1" => new IngestWorkload
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private lazy val modules = {
    import graft.operators._
    Seq("Relational" -> Relational.queries, "Extraction" -> Extraction.queries,
        "Documents" -> Documents.queries, "Similarity" -> Similarity.queries,
        "Events" -> Events.queries, "Analytics" -> Analytics.queries,
        "Ingest" -> Ingest.queries, "Linkage" -> Linkage.queries,
        "Media" -> graft.multimodal.Media.queries)
  }

  /** Operator family of every registered query, from the module maps. */
  lazy val family: Map[String, String] =
    modules.flatMap { case (f, qs) => qs.map(_._1 -> f) }.toMap
  lazy val Families: Seq[String] = modules.map(_._1)

  /** Expected outputs: `workload \t query \t rows \t hash|- \t schema`;
    * hash `-` marks a query checked on rows and schema only. */
  def expected(path: String, workload: String): Map[String, (Long, String, String)] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .map(_.split("\t", -1)).filter(f => f.length == 5 && f(0) == workload)
      .map(f => f(1) -> ((f(2).toLong, f(3), f(4)))).toMap
}

/** suite-sf0.1: passes over a fixed query panel, each in a seed-shuffled
  * order. Pass 1 runs against the run's fresh warehouse
  * (the cold pass, where artifacts build); later passes are warm. Every
  * query's rows and content hash come out of its one timed execution. */
final class QueryWorkload(panel: Seq[String]) extends Workload {
  override def warmup(spark: SparkSession, data: String): Unit = {
    super.warmup(spark, data)
    spark.read.format("graft.sources.FrontierSource")
      .option("mode", "letters").load().count()
  }

  def run(spark: SparkSession, a: Main.Args, rec: Recorder): Outcome = {
    val data = a("data")
    val registry = SparkEntry.queries
    val recording = a.get("record").isDefined
    val expect =
      if (recording) Map.empty[String, (Long, String, String)]
      else Workloads.expected(a("expect"), a.workload)
    val seen = mutable.LinkedHashMap.empty[String, Set[(Long, String, String)]]
    val failures = mutable.ArrayBuffer.empty[String]
    val passWall = mutable.ArrayBuffer.empty[Double]
    val passMs = mutable.ArrayBuffer.empty[(Long, Long)]
    val warmOps = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.LinkedHashMap.empty[String, Vector[Double]]
    var attempted = 0
    var stored = 0.0
    var buildCold = 0.0
    val t0 = Main.now()
    graft.etl.Merge.drainBuildSec()
    var pass = 0
    while (pass < Passes || Main.secs(t0, Main.now()) < a.seconds) {
      pass += 1
      val order = new Random(a.seed * 1000003L + pass).shuffle(panel)
      val p0 = Main.now()
      val m0 = System.currentTimeMillis()
      order.foreach { q =>
        val fam = Workloads.family.getOrElse(q, "-")
        attempted += 1
        val q0 = Main.now()
        try {
          val df = rec.span(s"p$pass/$q/construct", pass, "construct", fam) { _ =>
            registry(q)(spark, data)
          }
          val d = rec.span(s"p$pass/$q/exec", pass, "exec", fam) { s =>
            val r = Digest.of(df)
            if (a.traced) {
              s.counts ++= PlanStats.phases(df)
              s.counts ++= PlanStats(df.queryExecution.executedPlan)
            }
            r
          }
          val dt = Main.secs(q0, Main.now())
          if (pass > 1 && measured(pass)) warmOps += dt
          perQuery(q) = perQuery.getOrElse(q, Vector.empty) :+ dt
          seen(q) = seen.getOrElse(q, Set.empty) + ((d.rows, d.hex, d.schema))
          if (!recording) expect.get(q) match {
            case None => failures += s"$q: no expected output recorded"
            case Some((rows, hash, schema)) =>
              if (rows != d.rows || schema != d.schema || (hash != "-" && hash != d.hex))
                failures += s"$q pass $pass: got rows=${d.rows} hash=${d.hex}, " +
                  s"expected rows=$rows hash=$hash"
          }
        } catch { case e: Throwable =>
          failures += s"$q pass $pass: ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
      }
      passWall += Main.secs(p0, Main.now())
      passMs += ((m0, System.currentTimeMillis()))
      System.err.println(f"[perfbench] pass $pass: ${passWall.last}%.3f s")
      if (pass == 1) {
        buildCold = graft.etl.Merge.drainBuildSec()
        stored = Stats.dirMb(Sessions.warehouseDir)
      }
    }
    val record = if (!recording) None else Some(seen.toSeq.map { case (q, obs) =>
      val (rows, hash, schema) = obs.head
      val stable = obs.size == 1
      Seq(a.workload, q, rows, if (stable) hash else "-", schema).mkString("\t")
    })
    Outcome(passWall.take(Passes).toSeq, passMs.take(Passes).toSeq, warmOps.toSeq,
      stored, buildCold,
      attempted, failures.toSeq,
      Map("passes" -> pass, "warm_op_samples" -> warmOps.size,
          "op_p90_s" -> Stats.p90(warmOps.toSeq),
          "query_s" -> perQuery.map { case (q, v) => q -> v }.toMap),
      record)
  }
}

/** ingest-sf0.1: land one seeded batch file per cycle, run the
  * first-wins merge sink and the grid-maintenance sink on it (each an
  * AvailableNow run against its checkpoint), probe both sinks, and every
  * [[K]] cycles compact the grid ledger. A pass is [[K]] cycles. */
final class IngestWorkload extends Workload {
  val K = 2

  def run(spark: SparkSession, a: Main.Args, rec: Recorder): Outcome = {
    val batchesDir = new File(a("batches"))
    val batches = batchesDir.listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    // cumulative distinct event ids after each batch, from the generator
    val distinctAfter = scala.io.Source.fromFile(new File(batchesDir, "manifest.tsv"))
      .getLines().drop(1).map(_.split("\t")(2).toLong).toVector
    val work = new File(a("work")).getAbsoluteFile
    val landing = new File(work, "landing")
    landing.mkdirs()
    val sink = s"$work/sink/events"
    val state = s"$work/grid"
    val failures = mutable.ArrayBuffer.empty[String]
    val passWall = mutable.ArrayBuffer.empty[Double]
    val passMs = mutable.ArrayBuffer.empty[(Long, Long)]
    val warmOps = mutable.ArrayBuffer.empty[Double]
    val sinkS = mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    val probes = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    var landedBytes = 0L
    var attempted = 0
    var stored = 0.0

    def sinkCall(name: String, pass: Int)(start: => org.apache.spark.sql.streaming.StreamingQuery): Unit =
      rec.span(name, pass, "sink") { s =>
        val q = start
        s.groups += q.runId.toString
        q.awaitTermination()
        q.exception.foreach(e => throw e)
        s.counts("rows_in") += q.recentProgress.map(_.numInputRows).sum.toDouble
      }

    val t0 = Main.now()
    var cycle = 0
    var pass = 0
    while ((pass < Passes || Main.secs(t0, Main.now()) < a.seconds) &&
           cycle + K <= batches.size) {
      pass += 1
      val p0 = Main.now()
      val m0 = System.currentTimeMillis()
      (0 until K).foreach { _ =>
        val b = batches(cycle)
        attempted += 1
        try {
          val src = new File(batchesDir, b).toPath
          val tmp = new File(landing, s".$b").toPath
          Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
          Files.move(tmp, new File(landing, b).toPath, StandardCopyOption.ATOMIC_MOVE)
          if (measured(pass)) landedBytes += Files.size(src)
          val c0 = Main.now()
          sinkCall(s"p$pass/c$cycle/merge_sink", pass) {
            Streams.mergeSink(Streams.readEvents(spark, landing.toString),
              "event_id", sink, s"$work/ckpt/merge")
          }
          val c1 = Main.now()
          sinkCall(s"p$pass/c$cycle/grid_sink", pass) {
            Streams.gridMaintSink(Streams.readEvents(spark, landing.toString),
              state, s"$work/ckpt/grid")
          }
          val c2 = Main.now()
          sinkS("merge") :+= Main.secs(c0, c1)
          sinkS("grid") :+= Main.secs(c1, c2)
          if (pass > 1 && measured(pass)) warmOps += Main.secs(c0, c2)
          val n = rec.span(s"p$pass/c$cycle/probe", pass, "probe") { _ =>
            val n = spark.read.parquet(sink).count()
            Streams.gridState(spark, state).count()
            n
          }
          probes += rec.spans.last.seconds
          rows = n
          if (n != distinctAfter(cycle))
            failures += s"cycle $cycle: merge sink holds $n rows, expected ${distinctAfter(cycle)}"
        } catch { case e: Throwable =>
          failures += s"cycle $cycle: ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
        cycle += 1
      }
      rec.span(s"p$pass/compact", pass, "compact") { _ =>
        Streams.compactGridLedger(spark, state)
      }
      passWall += Main.secs(p0, Main.now())
      passMs += ((m0, System.currentTimeMillis()))
      System.err.println(f"[perfbench] pass $pass: ${passWall.last}%.3f s, $cycle cycles")
      if (pass == 1) stored = Seq(s"$work/sink", state, s"$work/ckpt").map(Stats.dirMb).sum
    }
    val wall = Main.secs(t0, Main.now())

    // output checks, untimed
    val landedRows = spark.read.schema(Tables.eventsSchema).parquet(landing.toString)
    val landed = landedRows.dropDuplicates("event_id")
    def check(name: String)(ok: => Boolean): Unit = {
      attempted += 1
      try if (!ok) failures += s"check $name failed"
      catch { case e: Throwable => failures += s"check $name: ${e.getMessage}" }
    }
    def same(x: DataFrame, y: DataFrame): Boolean =
      x.count() == y.count() && x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
    def grid(events: DataFrame): DataFrame =
      graft.operators.Events.resampleGrid(events.select(col("user_id"),
        col("event_id"), unix_micros(col("ts")).as("us"),
        floor(col("value") * 100.0 + lit(0.5)).cast("long").as("v")))
    check("merge sink == distinct landed event ids") {
      same(spark.read.parquet(sink).select("event_id"), landed.select("event_id"))
    }
    // the grid ledger sums per-batch counts, so it is checked against the
    // one-shot grid over exactly the rows landed (re-sent copies included)
    check("gridState == resampleGrid(landed rows)") {
      same(Streams.gridState(spark, state), grid(landedRows))
    }
    val resentCells = Streams.gridState(spark, state)
      .exceptAll(grid(landed)).count()
    check("replay on a fresh checkpoint leaves the merge sink unchanged") {
      val before = Digest.of(spark.read.parquet(sink))
      val q = Streams.mergeSink(
        Streams.readEvents(spark, landing.toString, maxFilesPerTrigger = 1 << 20),
        "event_id", sink, s"$work/ckpt/replay")
      q.awaitTermination()
      q.exception.isEmpty && Digest.of(spark.read.parquet(sink)) == before
    }
    Outcome(passWall.take(Passes).toSeq, passMs.take(Passes).toSeq, warmOps.toSeq,
      stored, 0.0,
      attempted, failures.toSeq,
      Map("passes" -> pass, "cycles" -> cycle, "rows_committed" -> rows,
          "landed_bytes" -> landedBytes, "warm_op_samples" -> warmOps.size,
          "ingest_rows_per_s" -> rows / wall,
          "grid_cells_counting_resent_rows" -> resentCells,
          "read_p50_s" -> Stats.median(probes.toSeq),
          "merge_sink_p50_s" -> Stats.median(sinkS("merge")),
          "grid_sink_p50_s" -> Stats.median(sinkS("grid")),
          "op_p90_s" -> Stats.p90(warmOps.toSeq)))
  }
}
