package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Published cost model for the (r13) posting-list-free pair join
  * (VERDICT r13 item 2): the re-plan fixed the MEMORY failure mode,
  * not the inherent Σ df² candidate superlinearity — so a 100 TB
  * deployment needs the candidate-volume curve and the effect of its
  * two levers (maxDf for [[graft.dedup.Dedup.jaccardPairs]], the
  * Jaccard threshold for the PPJoin prefix index) as MEASUREMENTS, not
  * assertions.
  *
  * Two probes per configuration:
  *
  *  1. **Analytic candidate volume** — the self-equi-join on the
  *     shingle hash emits exactly Σ_h C(df_h, 2) pair rows over
  *     surviving shingles (2 ≤ df ≤ maxDf). One df-histogram aggregate
  *     computes the whole maxDf curve in a single corpus pass WITHOUT
  *     running any join — this is the number a capacity planner scales
  *     by corpus growth (df_h grows ~linearly in duplicated content,
  *     so the Σ df² term is the quadratic-in-duplication frontier).
  *  2. **Measured run** — jaccardPairs at that maxDf with a task-end
  *     listener summing disk/memory spill, shuffle write and peak task
  *     memory: the evidence that the candidate stream flows through
  *     bounded row-at-a-time spill (the r13 fix) rather than per-group
  *     objects, at any volume the analytic curve predicts.
  *
  * Run (tables pre-built by ScaledGate):
  *   sbt "Test/runMain graft.PairCostProbe \
  *     /tmp/gate_cc256_2g/tables/documents.parquet cc256 250,1000,4000 \
  *     0.6,0.8 32"
  * args: docsPath label [maxDfCsv] [prefixThresholdCsv] [cores]
  * (maxDfCsv "-" skips the measured jaccardPairs runs, keeping the
  * analytic curve; prefixThresholdCsv "-" skips the prefix probes.)
  */
object PairCostProbe {
  def main(args: Array[String]): Unit = {
    val docsPath = args(0)
    val label = if (args.length > 1) args(1) else "docs"
    val maxDfs: Seq[Int] =
      if (args.length > 2 && args(2) != "-")
        args(2).split(",").map(_.trim.toInt).toSeq
      else Seq(250, 1000, 4000)
    val runJoins = args.length <= 2 || args(2) != "-"
    val thresholds: Seq[Double] =
      if (args.length > 3 && args(3) != "-")
        args(3).split(",").map(_.trim.toDouble).toSeq
      else Seq.empty
    val cores = if (args.length > 4) args(4) else "32"
    val spark = Session.builder
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", "1024")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .getOrCreate()

    val spillD = new java.util.concurrent.atomic.AtomicLong
    val spillM = new java.util.concurrent.atomic.AtomicLong
    val shufW = new java.util.concurrent.atomic.AtomicLong
    val peak = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) {
          spillD.addAndGet(t.taskMetrics.diskBytesSpilled)
          spillM.addAndGet(t.taskMetrics.memoryBytesSpilled)
          shufW.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
          peak.accumulateAndGet(t.taskMetrics.peakExecutionMemory, math.max)
        }
    })
    def measured[T](body: => T): (T, Double, Long, Long, Long, Long) = {
      // listener events drain async; settle before zeroing (the public
      // waiter: a no-op job forces a barrier, then a short sleep lets
      // the bus drain — metric attribution here feeds a cost TABLE,
      // not an assertion, so ±one straggler task is acceptable)
      spark.sparkContext.parallelize(1 to 1).count()
      Thread.sleep(500)
      spillD.set(0); spillM.set(0); shufW.set(0); peak.set(0)
      val t0 = System.nanoTime()
      val r = body
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      (r, dt, spillD.get, spillM.get, shufW.get, peak.get)
    }

    val docs = spark.read.parquet(docsPath)
    val nDocs = docs.count()
    println(s"PAIRCOST label=$label docs=$nDocs path=$docsPath")

    // ---- 1. analytic Σ C(df,2) curve: one corpus pass, every maxDf ----
    val mutual = mutable.LinkedHashMap[Int, (Long, Long)]()
    val hist = docs
      .select(col("doc_id"),
        explode(graft.dedup.Dedup.shingles(col("text"), 3)).as("s"))
      .select(xxhash64(col("s")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
    val aggExprs = maxDfs.flatMap { m =>
      Seq(
        sum(when(col("df") <= m,
          expr("df * (df - 1) div 2"))).as(s"cand_$m"),
        count(when(col("df") <= m, 1)).as(s"survivors_$m"))
    } :+ count(lit(1)).as("shingles_df_ge2")
    val row = hist.agg(aggExprs.head, aggExprs.tail: _*).head()
    val totalSh = row.getAs[Long]("shingles_df_ge2")
    // df tail shape: WHY the maxDf lever does / does not bite on this
    // corpus (salted copies have disjoint vocabularies, so df is
    // bounded by within-copy duplication; a real web corpus has hot
    // shingles the cap exists for)
    val tail = hist.agg(max(col("df")).as("df_max"),
      expr("percentile_approx(df, 0.99)").as("df_p99"),
      expr("percentile_approx(df, 0.999)").as("df_p999")).head()
    println(s"PAIRCOST-DFTAIL label=$label df_max=${tail.get(0)} " +
      s"df_p99=${tail.get(1)} df_p999=${tail.get(2)}")
    maxDfs.foreach { m =>
      val cand = row.getAs[Long](s"cand_$m")
      val surv = row.getAs[Long](s"survivors_$m")
      mutual(m) = (cand, surv)
      println(s"PAIRCOST-ANALYTIC label=$label maxDf=$m " +
        s"shingles_df_ge2=$totalSh survivors=$surv cand_pairs=$cand")
    }

    // ---- 2. measured jaccardPairs at each maxDf ----
    if (runJoins) maxDfs.foreach { m =>
      val (out, dt, sd, sm, sw, pk) = measured {
        graft.dedup.Dedup.jaccardPairs(docs, maxDf = m)
          .select(col("doc_a"), col("doc_b")).count()
      }
      val (cand, _) = mutual(m)
      println(f"PAIRCOST-RUN label=$label maxDf=$m cand_pairs=$cand " +
        f"out_pairs=$out sec=$dt%.1f spill_disk_mb=${sd / 1e6}%.0f " +
        f"spill_mem_mb=${sm / 1e6}%.0f shuffle_write_mb=${sw / 1e6}%.0f " +
        f"peak_task_mb=${pk / 1e6}%.0f")
    }

    // ---- 3. PPJoin prefix-index candidates vs threshold ----
    thresholds.foreach { t =>
      val (cand, dt, sd, _, sw, pk) = measured {
        graft.dedup.Dedup.jaccardPrefixCandidateCount(docs, threshold = t)
      }
      println(f"PREFIXCOST label=$label t=$t cand_pairs=$cand sec=$dt%.1f " +
        f"spill_disk_mb=${sd / 1e6}%.0f shuffle_write_mb=${sw / 1e6}%.0f " +
        f"peak_task_mb=${pk / 1e6}%.0f")
    }
    spark.stop()
  }
}
