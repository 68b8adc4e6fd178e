package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.{BinnedRangeFallback, IntervalJoin}

/** Real-stats proof of the broadcast-ceiling auto-flip (VERDICT r12
  * item 5): RangeJoinSpec certifies the binned fallback by FORCING it
  * (`forceBinned` / the conf knob); this gate instead builds an
  * interval DIMENSION whose parquet files genuinely exceed the default
  * 256 MB ceiling by Catalyst's own LogicalRelation estimate, so the
  * `overCeiling(build)` branch fires on real statistics — the path a
  * 100×-grown dimension takes in production, with no knob touched.
  *
  * For each of the three interval-join forms it then pins:
  *   1. the DEFAULT-ceiling plan contains NO custom broadcast exec
  *      (the binned shuffle plan was chosen automatically), and
  *   2. a ceiling-raised construction of the SAME query plans the
  *      custom broadcast exec, and
  *   3. the two plans' outputs are row-identical as multisets
  *      (exceptAll both directions), i.e. the auto-flip is invisible
  *      to results.
  *
  * The dimension: `n = k·2048` disjoint [id·1000, id·1000+999] bands,
  * each carrying a 1024-hex-char unique payload (8 distinct sha2-512
  * digests — unique text, so the columnar compression cannot shrink
  * the file under the ceiling). At k = 256 that is ~524k rows /
  * ~300 MB of parquet — dimension-shaped data that is genuinely too
  * big to build a driver index from by the default policy. Probes:
  * 1M points (range form), 1M [x, x+1500] intervals incl. a reversed
  * tail (overlap form), and the point probe with a mod-7 key (keyed
  * form).
  *
  * Run: SPARK_GRAFT_BENCH_PHASE=... sbt "Test/runMain graft.RangeCeilingGate 256"
  * Artifact: <outDir>/range_ceiling.json; exit 1 on any mismatch. */
object RangeCeilingGate {
  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(256)
    val outDir = if (args.length > 1) args(1)
      else s"/tmp/graft_range_ceiling_$k"
    val spark = Session.builder
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    val n = k.toLong * 2048L
    val dimPath = s"$outDir/range_dim.parquet"
    val marker = Paths.get(s"$outDir/_built")
    val spec = s"n=$n v1"
    if (!Files.exists(marker) || Files.readString(marker).trim != spec) {
      // 8 distinct sha2-512 hex digests = 1024 unique chars per row:
      // high-entropy relative to parquet's LZ/dictionary codecs, so
      // bytes-on-disk track rows honestly
      val payload = concat((0 until 8).map(j =>
        sha2(concat(col("id").cast("string"), lit(s"#$j")), 512)): _*)
      spark.range(n).select(
          col("id").as("band_id"),
          (col("id") * 1000L).as("lo"),
          (col("id") * 1000L + 999L).as("hi"),
          payload.as("payload"))
        .repartition(32)
        .write.mode("overwrite").parquet(dimPath)
      Files.writeString(marker, spec)
      println(s"CEILING-GATE built dim n=$n")
    } else println(s"CEILING-GATE reusing dim at $dimPath ($spec)")

    val dim = spark.read.parquet(dimPath)
    val estBytes = dim.queryExecution.optimizedPlan.stats.sizeInBytes
    val ceiling = BinnedRangeFallback.DefaultCeilingBytes
    println(s"CEILING-GATE build estimate=$estBytes bytes, " +
      s"ceiling=$ceiling, over=${estBytes > BigInt(ceiling)}")
    require(estBytes > BigInt(ceiling),
      s"fixture too small: estimate $estBytes <= ceiling $ceiling — " +
        "raise k or the payload width")
    require(BinnedRangeFallback.overCeiling(dim),
      "overCeiling(dim) is false on real stats — routing under test " +
        "would keep the broadcast plan")

    val domain = n * 1000L
    val nProbes = 1000000L
    // probe points spread over the band domain, co-prime stride
    val points = spark.range(nProbes)
      .select((col("id") * 4999L % lit(domain)).as("x"))
    // interval probes: [x, x+1500] spans 1-2 bands; every 97th probe
    // is REVERSED (s > e) — the overlap taxonomy the r12 review bit on
    val intervals = spark.range(nProbes).select(
      when(col("id") % 97 === 0, col("id") * 4999L % lit(domain) + 1500L)
        .otherwise(col("id") * 4999L % lit(domain)).as("s"),
      when(col("id") % 97 === 0, col("id") * 4999L % lit(domain))
        .otherwise(col("id") * 4999L % lit(domain) + 1500L).as("e"))
    val keyedPoints = points.withColumn("kx",
      pmod(col("x") / 977L, lit(7L)).cast("long").cast("string"))
    val keyedDim = dim.withColumn("kcol",
      pmod(col("band_id"), lit(7L)).cast("string"))

    def withCeiling[T](bytes: Long)(body: => T): T = {
      val conf = spark.conf
      val old = conf.getOption(BinnedRangeFallback.CeilingConf)
      conf.set(BinnedRangeFallback.CeilingConf, bytes.toString)
      try body finally old match {
        case Some(v) => conf.set(BinnedRangeFallback.CeilingConf, v)
        case None => conf.unset(BinnedRangeFallback.CeilingConf)
      }
    }
    // string match, not tree exists(): AdaptiveSparkPlanExec does not
    // expose its current physical plan as children, so a tree
    // traversal is blind to anything under the AQE root
    def hasCustomExec(df: DataFrame): Boolean =
      df.queryExecution.executedPlan.toString
        .contains("BroadcastIntervalJoin")

    val cases = Seq[(String, () => DataFrame)](
      "range" -> (() => IntervalJoin.join(
        points, dim, "x", "x", "lo", "hi")
        .select(col("x"), col("r_band_id"), col("r_payload"))),
      "overlap" -> (() => IntervalJoin.join(
        intervals, dim, "s", "e", "lo", "hi")
        .select(col("s"), col("e"), col("r_band_id"), col("r_payload"))),
      "keyed" -> (() => IntervalJoin.join(
        keyedPoints, keyedDim, "x", "x", "lo", "hi", Some("kx" -> "kcol"))
        .select(col("x"), col("kx"), col("r_band_id"), col("r_payload"))))

    val results = cases.map { case (name, mk) =>
      val t0 = System.nanoTime()
      val auto = mk()           // default ceiling: must auto-flip
      val autoIsBinned = !hasCustomExec(auto)
      // raised ceiling: same query must plan the custom broadcast exec
      val (bcast, bcastIsCustom) = withCeiling(8L * 1024 * 1024 * 1024) {
        val b = mk()
        (b, hasCustomExec(b))
      }
      val nAuto = auto.count()
      val diff = auto.exceptAll(bcast).count() + bcast.exceptAll(auto).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"CEILING-GATE $name: auto_binned=$autoIsBinned " +
        f"bcast_custom=$bcastIsCustom rows=$nAuto diff=$diff sec=$sec%.1f " +
        (if (autoIsBinned && bcastIsCustom && diff == 0 && nAuto > 0)
          "PASS" else "FAIL"))
      (name, autoIsBinned, bcastIsCustom, nAuto, diff, sec)
    }
    val json = results.map { case (nm, ab, bc, rows, diff, sec) =>
      f""""$nm":{"auto_binned":$ab,"bcast_custom":$bc,"rows":$rows,""" +
        f""""diff":$diff,"sec":$sec%.1f}"""
    }.mkString(
      s"""{"k":$k,"n_dim":$n,"est_bytes":$estBytes,"ceiling":$ceiling,""",
      ",", "}")
    Files.writeString(Paths.get(s"$outDir/range_ceiling.json"), json)
    val bad = results.count(r => !(r._2 && r._3 && r._5 == 0 && r._4 > 0))
    println(s"CEILING-GATE done: ${results.size - bad}/${results.size} " +
      s"pass -> $outDir/range_ceiling.json")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
