package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder.getOrCreate()
    // Fixed-work calibration probe (2M-row codegen'd sum). Run BEFORE,
    // MIDWAY and AFTER the measured loop: on an idle box all three land
    // within noise of each other, so a contended box shows up ON THE
    // FACE of the bench artifact instead of silently inflating query
    // times (r4's driver artifact reported 664 s for a workload that
    // re-measures at ~118 s idle — the probe makes that distinguishable
    // from a real regression).
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(2000000).selectExpr("sum(id * 2)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    def loadavg(): String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString("[", ",", "]")
      catch { case scala.util.control.NonFatal(_) => "[]" }
    // Wall-vs-CPU skew: a starved box shows wall >> cpu/cores. Process
    // CPU time via the JDK OS MXBean (public java.lang.management API).
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def cpuNanos(): Long = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }
    // Untimed warmup: JIT/codegen + parquet reader init, so the first
    // measured query doesn't absorb ~4s of one-time session cost.
    // (The first calibrate() doubles as the range-sum part of it.)
    calibrate()
    spark.read.parquet(s"$sfDir/region.parquet").join(
      spark.read.parquet(s"$sfDir/nation.parquet"),
      org.apache.spark.sql.functions.expr("r_regionkey = n_regionkey"))
      .count()
    // Streaming-engine warmup (~2.5-3 s one-time: state store, offset/commit
    // log, streaming listeners): a tiny stateful drain through the same
    // StreamingPipeline.drain the streaming queries use, so the first
    // MEASURED streaming query pays only its own micro-batch cost — the
    // same rationale as the batch warmup above (measured: 5.7 s -> ~2 s
    // for q_stream_windowed once init is off its back).
    streaming.StreamingPipeline.drain(spark, "complete")(
      streaming.StreamingPipeline.syntheticStream(spark, 100, 100)
        .groupBy("event_type").count()).count()
    // Optional comma-separated name filter for single-query profiling
    // inside the warmed bench session (SPARK_GRAFT_ONLY=q_a,q_b).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // One-time date-partitioned events layout for q_dpp_date: build it
    // here so the measured query times the DPP join, not the ~2s fixture
    // rewrite (VERDICT r6). Cached per (session, sfDir) inside Sources.
    // Skipped when a SPARK_GRAFT_ONLY filter excludes q_dpp_date — a
    // single-query profile shouldn't pay an unrelated layout rewrite.
    if (only.forall(_.contains("q_dpp_date")))
      sources.Sources.partitionedEventsDir(spark, sfDir)
    // Same treatment for the persisted IVF index: the measured
    // q_knn_ivf_disk should time the probe, not the one-time build.
    if (only.forall(_.contains("q_knn_ivf_disk")))
      vector.Similarity.ivfIndexDir(spark, sfDir)
    // Same treatment for the bucketed table pair (r16): q_bucket_join
    // exists to demonstrate the exchange-free bucketed SMJ; the
    // session-cached bucketBy write is the amortized layout cost (the
    // q_dpp_date precedent), so build it here and let the measured
    // entry time the join. Declared in OPTIMIZATION_r16.md.
    if (only.forall(_.contains("q_bucket_join")))
      sources.Sources.bucketedTables(spark, sfDir)
    val loadBefore = loadavg()
    val calBefore = calibrate()
    // A failed query records a NEGATIVE elapsed time (and lands in the
    // `errors` list) so a crash is never mistaken for a measurement.
    val plan = SparkEntry.registry.sortBy(_.name)
      .filter(q => only.forall(_.contains(q.name)))
    var calMid = -1.0
    val midpoint = plan.size / 2
    var totalCpu = 0.0
    val results = plan.zipWithIndex.map { case (Query(name, fn, _, _), i) =>
      if (i == midpoint && plan.size > 1) calMid = calibrate()
      val c0 = cpuNanos()
      val t0 = System.nanoTime()
      // NonFatal: a query-level analysis/runtime failure records as a
      // negative time + errors entry; an OutOfMemoryError/LinkageError
      // must CRASH the bench — timings from a JVM that has already
      // OOM'd are garbage and must not masquerade as a measurement.
      val ok = try { fn(spark, sfDir).count(); true }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      totalCpu += (cpuNanos() - c0) / 1e9
      (name, if (ok) dt else -dt, ok)
    }
    val calAfter = calibrate()
    val loadAfter = loadavg()
    // millisecond precision keeps the per-query map line compact enough
    // for the driver's bounded tail capture (ADVICE r5: the full-precision
    // line overflowed it and the structured record was lost)
    def ms(v: Double): String = java.lang.String.format(
      java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, false) => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map { case (_, v, _) => math.abs(v) }.sum
    // calibration: the same fixed 2M-row probe before/midway/after the
    // loop — roughly-equal values certify an uncontended measurement;
    // loadavg + cpu_sec (process CPU over the measured loop) make
    // external contention visible as wall >> cpu evidence.
    val health = s""""calibration":{"before":$calBefore,"mid":$calMid,"after":$calAfter},"loadavg":{"before":$loadBefore,"after":$loadAfter},"cpu_sec":$totalCpu"""
    // Self-describing artifact phase (VERDICT r11 item 7): mid-round
    // builder runs and the committed end-of-round record carry different
    // schemas' worth of trust — stamp which one this is so round-over-
    // round diffs never mistake a mid-round probe for a final number.
    val phase = sys.env.getOrElse("SPARK_GRAFT_BENCH_PHASE", "midround")
    val stamp = java.time.Instant.now().toString
    val full = s"""{"metric":"total","value":$total,"unit":"sec","phase":"$phase","run_at":"$stamp","queries":$qs,"errors":$errs,$health,"sf":"$sfDir"}"""
    println(full)
    // Short self-contained FINAL line: tail-capture of the output always
    // retains the headline total even if the per-query map line is long.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_errors":${results.count(!_._3)},$health,"sf":"$sfDir"}""")
    // Self-defending artifact (r10 VERDICT item 4): the driver's bounded
    // tail capture truncates the per-query map, so ALSO write the full
    // record to a repo file — the per-query timings survive the round
    // regardless of stdout handling. Best-effort: an unwritable path
    // must not fail the bench itself.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full.json")
    // NonFatal only (ADVICE r11): an OutOfMemoryError/LinkageError here
    // must propagate, not be logged as a failed file write.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outFile), full + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
  }
}
