package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness. One JVM run measures one workload:
  *
  *   - `catalog`: a closed loop with one client over the query catalog,
  *     in two parts. `dashboard` is the historical store → query →
  *     aggregates side, over a warm session (tables preloaded and the
  *     declared layouts built in set-up). `corpus` is the
  *     LLM-data-pipeline side, over a cold session; table loads and model
  *     caches fill inside the ops, as a batch job pays them.
  *   - `live_ingest`: the real-time path, see [[LiveIngest]].
  *
  * Arguments: `--workload W --seed N --seconds S --trace 0|1 --data DIR
  * --bench DIR --work DIR`.
  *
  * The last stdout line is the result object; the line before it is the
  * run record (box health, samples, failures by name). */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, bench: String, work: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(kv.getOrElse("workload", ""), kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1",
      need("data"), need("bench"), need("work"))
  }

  val cpus: Int = Runtime.getRuntime.availableProcessors()

  def newSession(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", math.max(8, math.min(32, cpus)).toString)
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val catalog = graft.SparkEntry.queries
    val map = QueryMap.load(s"${a.bench}/queries.tsv", catalog.keySet)
    val r = a.workload match {
      case "catalog" => QueryWorkload.run(a, map)
      case "live_ingest" => LiveIngest.run(a)
      case w => throw new IllegalArgumentException(
        s"unknown workload '$w' (catalog, live_ingest)")
    }
    // how long the JVM ran before the result, set-up and checks included
    val uptime = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    println(Json.obj(Seq("record" -> (r.record + ("jvm_uptime_s" -> uptime)))))
    println(r.resultLine)
    SparkSession.getActiveSession.foreach(_.stop())
  }
}

/** A run's outcome: the result line (the last stdout line) plus the record. */
final case class RunResult(correct: Boolean, attempted: Int, failed: Int,
    metrics: Seq[(String, Double, String)], record: Map[String, Any]) {
  def resultLine: String = Json.obj(Seq(
    "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
    "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, v, u) =>
      n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u))) }))))
}

/** Box health, process CPU and peak RSS, shared by every workload. */
object Box {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean

  def cpuSeconds(): Double = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => throw new IllegalStateException("process CPU time is not available")
  }

  /** CPU time the hypervisor gave to others while this machine's CPUs
    * wanted to run (the `steal` column of /proc/stat), summed over CPUs. */
  def stealSeconds(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
      .split("\\s+")(8).toDouble / 100.0

  def loadavg(): Seq[Double] =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
      .split("\\s+").take(3).map(_.toDouble).toSeq

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
      .split("\n").find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("VmHWM missing from /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** The fixed-work calibration probe of graft.Bench: a 2M-row codegen'd
    * sum. Equal readings before, mid and after mean an uncontended box. */
  def calibrate(spark: SparkSession): Double = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    try {
      sc.setJobGroup(s"${OpProbe.Own}calibration", "calibration probe")
      spark.range(2000000).selectExpr("sum(id * 2)").collect()
    } finally sc.clearJobGroup()
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `statistics.quantiles` inclusive
    * method), so p50 of an even sample is the mean of the middle pair. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** A traced interval. Spans of one op share `op`; `parent` names the
  * enclosing span (empty for a root). Times are ns since the run start. */
final case class Span(op: String, name: String, parent: String, startNs: Long, endNs: Long)

final class Tracer(val enabled: Boolean) {
  val origin: Long = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  def now(): Long = System.nanoTime() - origin
  def add(op: String, name: String, parent: String, start: Long, end: Long): Unit =
    if (enabled) spans.synchronized(spans += Span(op, name, parent, start, end))
  def write(path: String): Unit = if (enabled) {
    val rows = spans.synchronized(spans.toList).map { s =>
      Json.obj(Seq("op" -> s.op, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), rows.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** Minimal JSON writer for the run output. */
object Json {
  final case class Raw(s: String)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
      d.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** Per-layer aggregation shared by the traced query and live runs. */
object LayerMetrics {
  val Quantities: Seq[(String, String)] = Seq("build_s" -> "s", "plan_s" -> "s",
    "exec_s" -> "s", "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "task_run_s" -> "s", "shuffle_mb" -> "MB", "spill_mb" -> "MB")

  final case class OpSample(layer: String, buildS: Double, planS: Double,
      execS: Double, counts: OpCounts)

  /** Every `<layer>.<quantity>` metric, summed over the samples' ops;
    * layers the run did not exercise report 0. */
  def grid(samples: Seq[OpSample]): Seq[(String, Double, String)] =
    for {
      layer <- QueryMap.Layers
      (q, unit) <- Quantities
    } yield {
      val ss = samples.filter(_.layer == layer)
      val v = q match {
        case "build_s" => ss.map(_.buildS).sum
        case "plan_s" => ss.map(_.planS).sum
        case "exec_s" => ss.map(_.execS).sum
        case "jobs" => ss.map(_.counts.jobsStarted.toDouble).sum
        case "stages" => ss.map(_.counts.stages.toDouble).sum
        case "tasks" => ss.map(_.counts.tasks.toDouble).sum
        case "task_run_s" => ss.map(_.counts.taskRunMs / 1e3).sum
        case "shuffle_mb" => ss.map(_.counts.shuffleBytes / 1048576.0).sum
        case "spill_mb" => ss.map(_.counts.spillBytes / 1048576.0).sum
      }
      (s"$layer.$q", v, unit)
    }

  /** Time to analyse every fixture table in a session that has not loaded
    * them yet (graft.Tables caches per session). */
  def tablesLoadSeconds(spark: SparkSession, data: String): Double = {
    val fresh = spark.newSession()
    val t0 = System.nanoTime()
    graft.Tables.all.foreach(t => graft.Tables.load(fresh, data, t))
    (System.nanoTime() - t0) / 1e9
  }

  def streaming(progress: Seq[BatchProgress]): Seq[(String, Double, String)] = {
    def med(f: BatchProgress => Long): Double =
      if (progress.isEmpty) 0.0 else Box.median(progress.map(p => f(p) / 1e3))
    Seq(
      ("streaming.add_batch_s", med(_.addBatchMs), "s"),
      ("streaming.query_planning_s", med(_.planningMs), "s"),
      ("streaming.wal_commit_s", med(_.walCommitMs), "s"),
      ("streaming.state_rows",
        if (progress.isEmpty) 0.0 else progress.map(_.stateRows.toDouble).max, "count"))
  }
}

object Setup {
  /** Build the run's session `rounds` times (stopping all but the last)
    * and return it with the median set-up time. `warm` runs inside the
    * timed set-up, on each new session. */
  def repeated(a: Main.Args, rounds: Int)(warm: SparkSession => Unit)
      : (SparkSession, Double, Seq[Double]) = {
    val times = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until rounds) {
      val t0 = System.nanoTime()
      spark = Main.newSession(a)
      warm(spark)
      times += (System.nanoTime() - t0) / 1e9
      if (i < rounds - 1) spark.stop()
    }
    (spark, Box.median(times.toSeq), times.toSeq)
  }

  /** JIT, codegen and Parquet-reader warm-up, as graft.Bench does before
    * its loop. */
  def engineWarmup(spark: SparkSession, data: String): Unit = {
    spark.range(200000).selectExpr("sum(id * 2)").collect()
    spark.read.parquet(s"$data/region.parquet").join(
      spark.read.parquet(s"$data/nation.parquet"),
      org.apache.spark.sql.functions.expr("r_regionkey = n_regionkey")).count()
  }

  /** The warm session of the `dashboard` part: every table loaded and
    * scanned once, and the layouts graft.Bench declares as amortised set-up
    * built for the selected ops that use them. */
  def preload(spark: SparkSession, data: String, ops: Set[String]): Unit = {
    graft.Tables.all.foreach(t => graft.Tables.load(spark, data, t).count())
    if (ops.contains("q_dpp_date")) graft.sources.Sources.partitionedEventsDir(spark, data)
    if (ops.contains("q_bucket_join")) graft.sources.Sources.bucketedTables(spark, data)
  }
}

/** The closed-loop `catalog` workload. A run makes [[WarmupPasses]]
  * untimed passes and [[TimedPasses]] timed passes over one fixed op
  * list, all in the same seeded order. The list holds, for each part of
  * the map, the median-cost query of every layer (more as `--seconds`
  * grows). The warm-up pass keeps most of the JIT compilation of the ops'
  * code out of the timed passes: the first pass of a JVM took about one
  * and a half times as long as the second. Every pass is checked.
  *
  * An op's time is the best of its timed runs: a burst of load from
  * outside the process (another guest's CPU steal, a neighbour's I/O)
  * rarely hits the same op in every pass, while a slower engine slows
  * them all. Since the order is the same in every pass, each run of an op
  * sees the same session state. `dashboard` ops share the warm session;
  * the `corpus` ops of each pass run in a fresh `newSession()` of the same
  * context, so table loads and the engine's per-session model and layout
  * caches are filled inside that pass's ops again. */
object QueryWorkload {
  val SetupRounds = 3
  val WarmupPasses = 1
  val TimedPasses = 3
  val DrainTimeoutMs = 60000L

  final case class OpRecord(name: String, part: String, pass: Int, seconds: Double,
      cpu: Double, ok: Boolean, error: String)

  def run(a: Main.Args, map: Seq[QueryEntry]): RunResult = {
    val passes = WarmupPasses + TimedPasses
    val perPart = a.seconds / passes / QueryMap.Parts.size
    val ops = QueryMap.Parts.flatMap(QueryMap.select(map, _, perPart))
    val warmOps = ops.filter(_.part == "dashboard").map(_.name).toSet
    val (spark, setupS, setupAll) = Setup.repeated(a, SetupRounds) { s =>
      Setup.engineWarmup(s, a.data)
      Setup.preload(s, a.data, warmOps)
    }
    val probe = new OpProbe
    val streams = new StreamProbe
    if (a.trace) {
      spark.sparkContext.addSparkListener(probe)
      spark.streams.addListener(streams)
    }
    val tracer = new Tracer(a.trace)
    val catalog = graft.SparkEntry.queries
    val order = new scala.util.Random(a.seed).shuffle(ops)

    val loadBefore = Box.loadavg()
    val calBefore = Box.calibrate(spark)
    val runs = ArrayBuffer.empty[(OpRecord, LayerMetrics.OpSample)]
    /** Pass `p` over the ops (below [[WarmupPasses]], a warm-up); returns
      * its wall seconds. */
    def runPass(p: Int): Double = {
      // a collection between passes, outside the timing, so that no pass
      // inherits the last one's garbage
      System.gc()
      val cold = spark.newSession()
      val w0 = System.nanoTime()
      order.zipWithIndex.foreach { case (e, i) =>
        val session = if (warmOps(e.name)) spark else cold
        val opId = f"p$p-$i%03d-${e.name}"
        runs += runOp(session, a, catalog(e.name), e, p, opId, probe, tracer)
      }
      (System.nanoTime() - w0) / 1e9
    }
    val warmWalls = (0 until WarmupPasses).map(runPass)
    val calMid = Box.calibrate(spark)
    val steal0 = Box.stealSeconds()
    val passWalls = (WarmupPasses until passes).map(runPass)
    val steal = Box.stealSeconds() - steal0
    val calAfter = Box.calibrate(spark)
    val loadAfter = Box.loadavg()
    val rss = Box.peakRssMb()

    val records = runs.map(_._1).toSeq
    // each op's best timed run, and that run's layer sample
    val timed = runs.filter(_._1.pass >= WarmupPasses).groupBy(_._1.name).toSeq.sortBy(_._1)
    val best = timed.map { case (_, rs) => rs.minBy(_._1.seconds) }
    val times = best.map(_._1.seconds)
    val wall = times.sum
    val cpu = timed.map(_._2.map(_._1.cpu).min).sum
    val failures = records.filterNot(_.ok).map(r => s"pass ${r.pass}: ${r.error}")
    // The median op time stays in the record only: it sits in a cluster
    // of sub-second ops, and its ten-seed spread reached the largest bound
    // a metric may have.
    val metrics =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", wall, "s"),
        ("op_p90_s", Box.quantile(times, 0.9), "s"),
        ("cpu_s", cpu, "s"),
        ("peak_rss_mb", rss, "MB"))
      else LayerMetrics.grid(best.map(_._2)) ++ Seq(
        ("tables.load_s", LayerMetrics.tablesLoadSeconds(spark, a.data), "s")) ++
        LayerMetrics.streaming(streams.all) ++ LiveIngest.idleMetrics
    tracer.write(s"${a.work}/trace-${a.workload}-seed${a.seed}.json")
    val record = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "seconds" -> a.seconds, "cpus" -> Main.cpus, "ops" -> ops.size,
      "warmup_passes" -> WarmupPasses, "timed_passes" -> TimedPasses,
      "op_p50_s" -> Box.quantile(times, 0.5),
      "samples_beyond_p90" -> (times.size - math.ceil(0.9 * times.size).toInt),
      "wall_s" -> wall,
      "part_wall_s" -> QueryMap.Parts.map(pt =>
        pt -> best.filter(_._1.part == pt).map(_._1.seconds).sum).toMap,
      "pass_wall_s" -> passWalls, "warmup_wall_s" -> warmWalls, "steal_s" -> steal,
      "layers" -> ops.map(_.layer).distinct,
      "setup_rounds_s" -> setupAll,
      "error_rate" -> failures.size.toDouble / records.size,
      "failures" -> failures,
      "calibration_s" -> Map("before" -> calBefore, "mid" -> calMid, "after" -> calAfter),
      "loadavg" -> Map("before" -> loadBefore, "after" -> loadAfter),
      "timed_op_s" -> best.map(b => b._1.name -> b._1.seconds).toMap,
      "op_s" -> records.map(r => Map("name" -> r.name, "pass" -> r.pass,
        "s" -> r.seconds, "cpu_s" -> r.cpu, "ok" -> r.ok)))
    RunResult(failures.isEmpty, records.size, failures.size, metrics, record)
  }

  /** One op: build the DataFrame, run the timed `.count()`, check the row
    * count. Traced, it splits build / plan / exec and drains the listener.
    * A failure is recorded by name, never as a negative time. */
  private def runOp(spark: SparkSession, a: Main.Args,
      fn: (SparkSession, String) => DataFrame, e: QueryEntry, pass: Int,
      opId: String, probe: OpProbe, tracer: Tracer): (OpRecord, LayerMetrics.OpSample) = {
    val sc = spark.sparkContext
    var build, plan, exec = 0.0
    val c0 = Box.cpuSeconds()
    val t0 = System.nanoTime()
    val s0 = tracer.now()
    val outcome: Either[String, Long] =
      try {
        probe.current = opId
        sc.setJobGroup(opId, e.name)
        if (!a.trace) Right(fn(spark, a.data).count())
        else {
          val b0 = tracer.now()
          val df = fn(spark, a.data)
          val b1 = tracer.now()
          val agg = df.groupBy().count()
          agg.queryExecution.executedPlan
          val b2 = tracer.now()
          val n = agg.collect()(0).getLong(0)
          val b3 = tracer.now()
          build = (b1 - b0) / 1e9; plan = (b2 - b1) / 1e9; exec = (b3 - b2) / 1e9
          tracer.add(opId, "build", "op", b0, b1)
          tracer.add(opId, "plan", "op", b1, b2)
          tracer.add(opId, "exec", "op", b2, b3)
          probe.drain(spark, opId, DrainTimeoutMs).map(Left(_)).getOrElse(Right(n))
        }
      } catch {
        case NonFatal(err) => Left(s"${e.name}: ${err.getClass.getSimpleName}: " +
          String.valueOf(err.getMessage).linesIterator.take(1).mkString)
      } finally {
        sc.clearJobGroup()
        probe.current = null
      }
    val dt = (System.nanoTime() - t0) / 1e9
    val cpu = Box.cpuSeconds() - c0
    tracer.add(opId, "op", "", s0, tracer.now())
    val checked = outcome.flatMap { n =>
      if (n == e.expectedRows) Right(n)
      else Left(s"${e.name}: expected ${e.expectedRows} rows, got $n")
    }
    (OpRecord(e.name, e.part, pass, dt, cpu, checked.isRight, checked.left.getOrElse("")),
      LayerMetrics.OpSample(e.layer, build, plan, exec, probe.counts(opId)))
  }
}
