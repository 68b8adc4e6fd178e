package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

/** 64×-scale ORACLED correctness gate (builder tool, the ScalingProbe
  * companion — r10 VERDICT item 1).
  *
  * SCALING.md measures *time* on the k×-scaled corpora; every HASH
  * certification previously topped out at sf0.1 (~17 MB). This tool
  * closes that gap: it materializes a consistent k×-scaled COPY of the
  * fixture tables as parquet (id-shifted per copy, all foreign keys
  * shifted together so referential integrity holds; document text
  * salted per word so each copy is genuinely new content with the
  * fixture's own near-dup structure — the ScaledFixtures conventions),
  * then runs the most scale-sensitive catalog queries against the
  * scaled directory and dumps Verify-shaped results + oracle_sql.json,
  * so `tools/check_oracle.py <out>/tables <out>` replays the DRIVER'S
  * OWN gate (DuckDB, schema+rows+exact cells) at 64× scale — 38M-row
  * lineitem, 6.4M-row events, 320k-doc corpus at the default base.
  *
  * Run:  sbt "Test/runMain graft.ScaledGate 64"
  * then: python3 tools/check_oracle.py /tmp/graft_scaled_gate_64/tables \
  *         /tmp/graft_scaled_gate_64
  * Args: [k] [outDir] [comma-joined query subset | ALL | INVARIANTS |
  *       GRAPH-INVARIANTS] [pairSlices (INVARIANTS mode only)]
  * Base fixtures come from SPARK_GRAFT_SF_DIR (default sf0.1).
  *
  * The default list covers the families whose PLANS differ most from a
  * naive quadratic/global form (dedup, PPJoin at both thresholds, the
  * CC fixpoint family, trained kmeans/IVF, sampling/waterfill,
  * decontamination, BFS) plus three high-volume relational anchors.
  * `q_label_prop_full` is the UNCAPPED LPA variant (partCap = ∞): the
  * catalog's capped default would degenerate to the copy-0 subgraph at
  * k×, so the gate swaps in the parameterization whose graph actually
  * grows with the corpus — its oracle comes from the same SQL
  * generator with the same parameter. `q_semdedup` is oracle-bounded
  * (the DuckDB side is quadratic within label clusters, which grow
  * k×), so it belongs to a smaller-k run: include it explicitly, e.g.
  * `sbt "Test/runMain graft.ScaledGate 8 /tmp/gate8 q_semdedup"`.
  */
object ScaledGate {
  /** Per-table key columns that shift by copy·idShift (all foreign
    * keys move together; region/nation stay — shared dimensions). */
  val keyCols: Map[String, Seq[String]] = Map(
    "region" -> Nil,
    "nation" -> Nil,
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  val defaultQueries: Seq[String] = Seq(
    // high-volume relational anchors (38M-row lineitem at k=64)
    "q1_pricing_summary", "q_join_priority", "q_sessionize",
    // dedup family
    "q_dedup_exact", "q_dedup_digest", "q_minhash_neutral",
    "q_dedup_incremental", "q_containment", "q_substring_dedup",
    "q_sorted_neighborhood", "q_jaccard_prefix", "q_jaccard_prefix_hi",
    // CC fixpoint family (recursive-CTE oracles)
    "q_dedup_clusters", "q_cluster_canonical", "q_dedup_weights",
    "q_split_leakage",
    // curation / selection
    "q_decontaminate", "q_waterfill", "q_weighted_sample",
    // vector training / serving
    "q_kmeans", "q_knn_ivf_trained",
    // over-ceiling binned fallback plans (the path a 100x build takes)
    "q_range_bands_binned", "q_scd2_lookup_binned", "q_overlap_join_binned",
    // iterative graph
    "q_bfs_hops", "q_label_prop_full")

  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(64)
    val outDir = if (args.length > 1) args(1)
      else s"/tmp/graft_scaled_gate_$k"
    // "ALL" sweeps the entire catalog — the blanket-certification mode
    // (pair with a modest k: the curated default list is the deep-k
    // path, this is the breadth path). "INVARIANTS" runs the in-engine
    // CC-fixpoint invariant gate (CcInvariants) instead of the DuckDB
    // replay — the certification path for k where the oracle cannot
    // follow the recursive CTE (VERDICT r11 item 4; 256× = >78 GB
    // oracle spill). Only the documents table is built in that mode.
    val invariantMode = args.length > 2 && args(2) == "INVARIANTS"
    // GRAPH-INVARIANTS: the same in-engine certification recipe for the
    // fixed-round graph family (GraphInvariants) — pagerank/LPA by
    // independent dual computation, BFS by output properties that pin
    // the answer. partCap lifts to MaxValue (the q_label_prop_full
    // rationale: the catalog cap would degenerate to the copy-0
    // subgraph) and BFS seeds per copy via seedModulo = the id shift.
    // "GRAPH" accepted as an alias (r14 ADVICE: the documented short
    // form used to fall through to the query-subset path and die on a
    // nonexistent query key).
    val graphMode = args.length > 2 &&
      (args(2) == "GRAPH-INVARIANTS" || args(2) == "GRAPH")
    val only: Seq[String] = if (args.length > 2) {
      if (args(2) == "ALL") SparkEntry.queries.keys.toSeq.sorted
      else if (invariantMode || graphMode) Seq.empty
      else args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    } else defaultQueries
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    // Shuffle-partition count scales with k (r13): partition sizing is
    // the one deploy-time knob that MUST track the corpus. At k=1024
    // a 32-partition shuffle of the exploded shingle index gives each
    // task a ~64M-row sort whose spill-MERGE phase opens every spill
    // file at once — UnsafeSorterSpillReader allocates 2×1 MB of
    // read-ahead buffers per open file, and ~50 files × 32 concurrent
    // tasks is ~3 GB of transient buffers before any row moves: that
    // allocation (not the data) is what killed the default 8 GiB heap
    // (SCALING.md "CC family on the default heap"). k×4 partitions
    // keeps per-task sort volume roughly flat in k, while AQE (on by
    // default) coalesces small post-shuffle stages back down, so
    // low-k gates keep their plans and cost.
    val shuffleParts = math.min(2048, math.max(32, k * 4))
    // Slots-per-heap sizing for the deep graph gate (r14): at 1024×
    // the checker's wide joins hit UNABLE_TO_ACQUIRE_MEMORY in a
    // shuffle sorter — AQE materializes independent exchange branches
    // concurrently, and 32 task slots sharing the default heap's
    // ~4.8 GB execution region leave ~150 MB/slot, so a contended task
    // can fail to acquire even its first page (local mode has no task
    // retry to absorb it). The gate certifies the DEFAULT heap, so it
    // trades SLOTS instead of heap — 12 cores on 8 GiB ≈ 0.67 GB of
    // heap per core, the memory-per-core arithmetic a real cluster
    // does when sizing executors for graph workloads. Execution also
    // keeps the default unified fraction 0.6 — raising it to 0.7 was
    // tried and OOM'd the USER region instead (codegen row buffers,
    // SMJ group arrays and shuffle-fetch buffers are untracked heap;
    // shrinking (1 − fraction) from ~3.1 GB to ~2.3 GB moved the
    // failure from the tracked sorter to a raw heap OOM at 16 slots) —
    // and lowers only the storage IMMUNE floor to 0.3: every
    // corpus-scale pin in the gate is MEMORY_AND_DISK_SER, so storage
    // evicting to disk is the designed behavior, not a loss.
    val deepGraph = graphMode && k >= 512
    // SPARK_GRAFT_GATE_SLOTS overrides the deep-graph slot clamp for
    // the slots-vs-heap trade's OTHER point: 32 slots need ≥22 GiB by
    // the 0.67 GB/core rule, i.e. pair it with SPARK_DRIVER_MEM=24g —
    // the default certifies the default heap and stays at 12. The
    // override applies ONLY to the deep-graph mode it documents
    // (ADVICE r15: a lingering exported value would otherwise silently
    // change the certified slot count of INVARIANTS / query-subset
    // runs too); when it applies, the choice is echoed in the log.
    val slotOverride = sys.env.get("SPARK_GRAFT_GATE_SLOTS").map(_.toInt)
    val slots =
      if (deepGraph) slotOverride.getOrElse(12)
      else {
        slotOverride.foreach(s => println(
          s"GATE note: SPARK_GRAFT_GATE_SLOTS=$s ignored " +
            "(applies to deep GRAPH-INVARIANTS mode only); slots=32"))
        32
      }
    if (deepGraph && slotOverride.isDefined)
      println(s"GATE deep-graph slots=${slots} " +
        "(SPARK_GRAFT_GATE_SLOTS override)")
    val spark = Session.builder
      .master(s"local[$slots]")
      .config("spark.memory.storageFraction",
        if (deepGraph) "0.3" else "0.5")
      .config("spark.sql.shuffle.partitions", shuffleParts.toString)
      // Per-task memory sizing for a 32-slot single JVM (r13): AQE
      // coalesces every shuffle back to its 64 MB advisory target, so
      // raising shuffle.partitions alone cannot shrink a task's sort
      // below ~64 MB compressed (~3-6× that raw) — while local[32] on
      // the default heap gives each slot only heap×0.6/32 ≈ 50-150 MB
      // of execution memory. The resulting 10+ spill files per sort
      // are then MERGED with 2×1 MB read-ahead buffers per open file
      // (G1-humongous allocations), and 32 concurrent tasks × 2 SMJ
      // sorts × 10 files × 2 MB ≈ 1.3 GB of transient buffers — the
      // allocation that actually killed the 1024× run on the default
      // heap (SCALING.md). A 16 MB advisory target (fewer spills per
      // task) + read-ahead off (1 buffer per open spill file instead
      // of 2; the 1 MB buffer size itself is Spark's enforced minimum)
      // sizes tasks to the slot quota — the same arithmetic a real
      // cluster does per executor core.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.unsafe.sorter.spill.read.ahead.enabled", "false")
      // Disk sizing for the single-box gate (r14): the 1024× GRAPH
      // gate's first attempt consumed ~69 GB of transient disk in
      // ~20 min (the box had ~77 GB free at that run's start — the
      // same figure GraphInvariants.scala and SCALING.md carry) and
      // had to be killed before finishing. Two defaults are wrong for an
      // iterative checker that pins corpus-scale frames: (1) serialized
      // storage blocks (the MEMORY_AND_DISK_SER localCheckpoints of the
      // 1.1B-row packed-long edge relation) are written UNCOMPRESSED —
      // spark.rdd.compress is false by default; LZ4 shrinks monotone
      // packed-long rows several-fold for a few % CPU. (2) Shuffle
      // files from each finished check job are only deleted when the
      // driver GC collects their ShuffleDependency and the
      // ContextCleaner's periodic fallback GC fires every 30 MINUTES by
      // default — an 18-check gate accumulates every intermediate
      // shuffle for half an hour on a box that fills in 20 minutes.
      // 1-minute periodic GC bounds the debris window to roughly one
      // gate phase (a 1024× edge-scale job writes ~10 GB/min, so a
      // 5-minute window still accumulated ~50 GB); on a real cluster
      // the same two knobs size executor local disks.
      .config("spark.rdd.compress", "true")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()

    // ---- build the scaled tables once per (base, k) ----
    val tablesDir = s"$outDir/tables"
    val marker = Paths.get(
      if (invariantMode) s"$tablesDir/_built_docs"
      else if (graphMode) s"$tablesDir/_built_lineitem"
      else s"$tablesDir/_built")
    // v2: events written as a time-ordered arrival sequence
    val spec = s"base=$base k=$k v2"
    val toBuild = if (invariantMode) Seq("documents")
      else if (graphMode) Seq("lineitem") else Tables.all
    if (!Files.exists(marker) || Files.readString(marker).trim != spec) {
      toBuild.foreach { t =>
        val raw = Tables.raw(spark, base, t)
        val scaled = t match {
          case "region" | "nation" => raw
          case "documents" => ScaledFixtures.saltedDocs(raw, k)
          case other => ScaledFixtures.scaled(raw, k, keyCols(other))
        }
        // events feed FILE-STREAM queries with 10-minute watermarks
        // (q_stream_sessions et al., maxFilesPerTrigger=1): the part
        // files must form a time-ordered arrival sequence like real
        // ingestion (and like the single-file driver fixture), or the
        // watermark correctly drops the "late" rows a time-shuffled
        // k-copy union produces — the blanket 8× gate caught exactly
        // that (q_stream_sessions 191k vs 764k rows). Range-partition
        // by event time so path order == time order.
        val ordered = if (t == "events")
          scaled.repartitionByRange(32, col(scaled.columns
            .find(c => c == "ts" || c == "event_ts").getOrElse("ts")))
        else scaled
        ordered.write.mode("overwrite").parquet(s"$tablesDir/$t.parquet")
        if (t == "events") {
          // FileStreamSource consumes oldest-mtime-first and task
          // finish order is random, so stamp an ascending mtime
          // staircase in path order (path order == range order after
          // repartitionByRange) — deterministic arrival sequence
          // under either file-ordering convention
          val dir = new java.io.File(s"$tablesDir/$t.parquet")
          val parts = dir.listFiles()
            .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
          val t0 = System.currentTimeMillis() - parts.length * 2000L
          parts.zipWithIndex.foreach { case (f, i) =>
            f.setLastModified(t0 + i * 2000L) }
        }
        println(s"GATE built $t x$k")
      }
      Files.writeString(marker, spec)
    } else println(s"GATE reusing tables at $tablesDir ($spec)")

    if (graphMode) {
      val li = Tables.load(spark, tablesDir, "lineitem")
      val t0 = System.nanoTime()
      // checkpointEvery = 1: the deep-iteration production shape (each
      // round a separate job so superseded edge-scale shuffles free
      // between rounds) — at 1024× the unrolled single-job form needs
      // more transient disk than the box has (see the session confs
      // above); OperatorSpec pins checkpointed == unrolled.
      val results = GraphInvariants.check(li,
        partCap = Long.MaxValue, seedCap = 3,
        seedModulo = ScaledFixtures.idShift, iters = 3,
        checkpointEvery = 1)
      val sec = (System.nanoTime() - t0) / 1e9
      results.foreach { case (name, v) =>
        println(s"GATE INVARIANT $name violations=$v " +
          (if (v == 0) "PASS" else "FAIL"))
      }
      val json = results
        .map { case (n, v) => s""""$n":$v""" }
        .mkString(s"""{"k":$k,"n_lineitem":${li.count()},"sec":$sec,""",
          ",", "}")
      Files.writeString(Paths.get(s"$outDir/graph_invariants.json"), json)
      val bad = results.count(_._2 != 0)
      println(f"GATE GRAPH-INVARIANTS done: ${results.size - bad}/" +
        f"${results.size} pass in $sec%.1f s -> " +
        s"$outDir/graph_invariants.json")
      spark.stop()
      if (bad > 0) sys.exit(1)
      return
    }
    if (invariantMode) {
      // ---- CC-fixpoint invariant gate (no oracle at this k) ----
      val docs = Tables.load(spark, tablesDir, "documents")
      val t0 = System.nanoTime()
      // Pair-join slicing (r14 VERDICT item 1): past ~2048× the ONE-JOB
      // pair join's live shuffle+spill (~80 B/candidate × the Σ C(df,2)
      // count the cost model prices — ~400 GB at 4096×) outruns this
      // box's ~77 GB of free disk, so the gate runs the pair stream as
      // K sequential disjoint hash-slices (transient disk ~1/K, output
      // row-identical — DedupSpec). Optional 4th arg overrides; the
      // default keeps low-k gates on the one-job plan they certify.
      // 0 = auto-K: the gate exercises the mechanical choice (probe +
      // statfs + the published formula) exactly where a deployment
      // would — past ~2048× where the one-job plan outruns box disk
      val pairSlices = if (args.length > 3) args(3).toInt
        else if (k >= 2048) 0 else 1
      if (pairSlices > 1) println(s"GATE pair-join slices=$pairSlices")
      // shared label cache = the catalog's production shape (one
      // fixpoint for clusters/weights/splits, not three)
      val results = CcInvariants.check(docs,
        cacheKey = Some(s"$tablesDir/documents"), pairSlices = pairSlices)
      val sec = (System.nanoTime() - t0) / 1e9
      results.foreach { case (name, v) =>
        println(s"GATE INVARIANT $name violations=$v " +
          (if (v == 0) "PASS" else "FAIL"))
      }
      val json = results
        .map { case (n, v) => s""""$n":$v""" }
        .mkString(s"""{"k":$k,"n_docs":${docs.count()},"sec":$sec,""", ",",
          "}")
      Files.writeString(Paths.get(s"$outDir/invariants.json"), json)
      val bad = results.count(_._2 != 0)
      println(f"GATE INVARIANTS done: ${results.size - bad}/${results.size} " +
        f"pass in $sec%.1f s -> $outDir/invariants.json")
      spark.stop()
      if (bad > 0) sys.exit(1)
      return
    }
    // same fixture-drift canary as Verify — a vintage change must fail
    // loudly here, not as opaque analysis errors
    Tables.checkContract(spark, tablesDir)
      .foreach(d => System.err.println(s"GATE SCHEMA DRIFT: $d"))

    // ---- gate-only query/oracle variant ----
    val labelPropFull = Query("q_label_prop_full",
      (s, dir) => operators.Graph.labelPropagation(
        Tables.load(s, dir, "lineitem"), partCap = Long.MaxValue),
      Some(operators.Graph.labelPropagationOracleSql(partCap = Long.MaxValue)))
    val byName = Query.list(SparkEntry.registry :+ labelPropFull: _*)
      .map(q => q.name -> q).toMap
    val failed = Verify.dump(spark, tablesDir, outDir, only.map(byName))
    println(s"GATE done: python3 tools/check_oracle.py $tablesDir $outDir")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
