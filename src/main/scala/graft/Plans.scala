package graft

import java.nio.file.{Files, Paths}

/** Generates PLANS.md: formatted physical plans of representative queries,
  * annotated with the scale property each plan demonstrates. Regenerate
  * with: sbt "runMain graft.Plans /root/testdata/sf0.01 PLANS.md" */
object Plans {
  val picks: Seq[(String, String)] = Seq(
    "q_hist_range" -> ("range filter reaches the parquet scan as " +
      "PushedFilters (row-group skipping at 100 TB)"),
    "q1_pricing_summary" -> ("partial (map-side) aggregation before one " +
      "shuffle; scan reads only the 6 needed columns"),
    "q_regional_revenue" -> ("dimension chain joins are all " +
      "BroadcastHashJoin — the fact table never shuffles for enrichment"),
    "q_topk_orders" -> "global top-k plans as TakeOrderedAndProject, not a full sort",
    "q_semi_join" -> "EXISTS plans as a broadcast left-semi join",
    "q_jaccard_pairs" -> ("inverted-index near-dup: one explode pass, " +
      "hash-partitioned posting lists, pair counts via hash aggregate"),
    "q_knn_brute" -> ("query vectors broadcast against one corpus scan; " +
      "per-query top-k via window over the hash-partitioned candidates"),
    "q_salted_agg" -> "two-phase salted aggregation (hot keys spread over salt partitions)",
    "q_topk_custom" -> ("custom TopKPerGroup physical operator: clustering " +
      "exchange then bounded per-group heaps — no Window, no full Sort"),
    "q_theta_hist" -> ("pair-free inequality join: broadcast threshold " +
      "array + idx histogram instead of materializing N*M matched pairs"),
    "q_bloom_join" -> ("the InjectRuntimeFilter shape: filter built " +
      "in-engine by a BloomFilterAggregate scalar subquery, probe side " +
      "pre-filtered by codegen'd might_contain before its shuffle — no " +
      "driver-built filter, no binary plan literal"),
    "q_top_ngrams" -> ("corpus frequency table shuffles (xxhash64, count) " +
      "pairs, never ngram strings; winners recovered via broadcast " +
      "semi-join; AQE reuses the counts exchange at runtime"),
    "q_json_extract" -> ("props JSON parsed EXACTLY once per row " +
      "(single from_json in one project, no per-row filter to duplicate)"),
    "q_interval_join" -> ("keyed point-in-interval join (IntervalJoin): " +
      "views probe their user's purchases broadcast as lo-sorted " +
      "[purchase_ts, purchase_ts + 1 h] groups — BroadcastIntervalJoin, " +
      "never BroadcastNestedLoop; past the size ceiling the same call " +
      "plans the binned equi-join"),
    "q_tfidf" -> ("tf/df/N joins all broadcast (df table is " +
      "dimension-sized after aggregation); per-doc top-k via one " +
      "doc-keyed window"),
    "q_asof_custom" -> ("custom AsOfJoinExec: both sides clustered on the " +
      "key + sorted (key, ts, id), then one streaming merge pass per " +
      "partition with O(1) state — no Window, no per-key buffering"),
    "q_zorder" -> ("codegen'd Morton zvalue inside the project span; " +
      "orderBy+limit is TakeOrderedAndProject (layout key computed " +
      "scan-side, never a global sort)"),
    "q_synth_source" -> ("custom DSv2 scan: id-range filter pushed INTO " +
      "generation (range=[25000,75000) in the scan node), pruned " +
      "ReadSchema, sliced partitions"),
    "q_pagerank" -> ("3 fixed-point rounds as ONE declarative plan over " +
      "an edge list pinned once (an eager localCheckpoint): every " +
      "edges/deg reference reads the pin, lineitem is scanned once"),
    "q_minhash_neutral" -> ("one native signature kernel per document " +
      "(shingle, md5, 16 lanes, min) feeds an elementwise-min hash " +
      "aggregate; banded candidates join on the signature slice itself"),
    "q_zorder_range" -> ("2-D box query over the z-order layout key: a " +
      "sargable zval BETWEEN corner-codes range + exact box residual — " +
      "all inside one codegen'd scan-filter span"),
    "q_local_supplier" -> ("TPC-H Q5's customer↔supplier nation CYCLE " +
      "evaluated inside broadcast probes — the fact table shuffles once " +
      "(orders key), never for the cycle predicate"),
    "q_bitmap_distinct" -> ("exact distinct via 32-bit bitmap words: " +
      "bit_or and popcount-sum are both map-side-combining monoids, so " +
      "|users|/32 words shuffle instead of |events| ids"),
    "q_bfs_hops" -> ("3 linear BFS rounds over packed long node ids and " +
      "a pair list pinned once: each round is one join of the step " +
      "relation (edges plus zero-weight self-loops) with the previous " +
      "round's distances and one min-agg"),
    "q_pipeline_e2e" -> ("quality gate → lang filter → dedup → sample " +
      "fused into one plan: filters reach the scan, dedup is one " +
      "digest-grain aggregate + semi join, sample is a stateless " +
      "hash predicate"),
    "q_dpp_date" -> ("date-partitioned fact joined to a runtime-filtered " +
      "broadcast dim: the scan carries a dynamicpruningexpression " +
      "PartitionFilter — only the dim's surviving date directories are " +
      "listed and read"),
    "q_bucket_join" -> ("both sides pre-bucketed+sorted on the join key: " +
      "the SortMergeJoin consumes the scans' own bucket partitioning — " +
      "ZERO Exchange before the join; the only shuffle is the post-join " +
      "aggregation's"),
    "q_hilbert_range" -> ("2-D box over the Hilbert layout key: driver-" +
      "side quadtree decomposition to sargable d-range BETWEENs + exact " +
      "residual, all inside the scan-filter codegen span"),
    "q_bpe_tokens" -> ("BPE merge table applied by a codegen'd expression " +
      "over DISTINCT words (vocab-sized), token counts joined back to " +
      "the corpus word stream"),
    "q_embed_cov" -> ("distributed PCA precursor: dim-pair outer-product " +
      "accumulation as a partial-agg'd d²-group aggregate over " +
      "narrow exploded rows — linear in the corpus, d is a model " +
      "constant"),
    "q_jaccard_prefix" -> ("PPJoin verification by per-doc SORTED hash " +
      "arrays: the lossless length filter prunes on narrow int rows " +
      "before any array ships, then candidates join two array-carrying " +
      "rows and the codegen'd sorted_intersect_count two-pointer merge " +
      "(no per-row hash set) counts the overlap — no candidate × " +
      "per-shingle row blowup"),
    "q_pca_project" -> ("corpus statistics via ONE GramMoments buffer " +
      "per partition (no self-join, no N·d shuffle), then one " +
      "projection pass: 64 components broadcast, decimal-quantized " +
      "product sums partial-agg'd back to vec grain"),
    "q_rand_proj" -> ("training-free JL compression: all 16 output dims " +
      "are per-row sequential folds inside one project span — a single " +
      "scan, ZERO exchanges in the data path (sort is the oracle order)"),
    "q_pmi" -> ("collocation mining at bigram grain: pair counting is " +
      "one hash-agg shuffle, min-support filters BEFORE the vocab-grain " +
      "unigram joins, 1-row token total broadcast — nothing corpus-" +
      "quadratic"),
    "q_lr_quality" -> ("classifier scoring pass with learned literal " +
      "weights: one scan, features + rational sigmoid fused into the " +
      "project span (training rounds are separate fixed-width " +
      "aggregate jobs of the same shape)"),
    "q_join_card" -> ("exact join cardinality WITHOUT the join: two " +
      "key-grain count aggregations meet in a key-grain join; the wide " +
      "fact-fact shuffle never appears in the plan"),
    "q_mean_pairwise" -> ("Gram-identity mean pairwise dot: the N^2 " +
      "pair join is absent - one dim-grain aggregate (64 keys) + one " +
      "per-row fold aggregate, combined by broadcast of 1-row relations"),
    "q_budget_select" -> ("token-budget greedy WITHOUT a global window: " +
      "per-doc cumulative sums run in bucket-PARTITIONED windows, " +
      "offset by broadcast bucket running totals — the only " +
      "whole-corpus ordering lives at the ≤1001-bucket grain"),
    "q_semdedup" -> ("SemDeDup pair join keyed on (cluster, sub-block): " +
      "the block id is a hash expression (no cluster-sized sort or " +
      "window), so hot clusters split into capped shuffle-parallel " +
      "groups and the pair explosion stays linear in the corpus"),
    "q_domain_assign" -> ("corpus routed against broadcast exact-mean " +
      "centroid profiles: one scan, cosine + argmax window at vec " +
      "grain — the only shuffle builds the |labels|-row centroid " +
      "table"),
    "q_range_bands" -> ("custom BroadcastIntervalJoinExec, point probe: " +
      "interval dim broadcast (the exchange is visible below the " +
      "exec), fact side probes by binary search + running-max-hi " +
      "walk — the plan a " +
      "naive BETWEEN join would render as BroadcastNestedLoopJoin"),
    "q_kmeans" -> ("multi-round Lloyd trainer, final-round inertia " +
      "plan: assignment is a MAP-ONLY array_min fold over the literal " +
      "centroid block (no cross join, no per-vector window), so the " +
      "only shuffles are the (cluster, pos) re-mean partial-sum and " +
      "the k-row inertia aggregate — per-round state crosses the " +
      "driver as ≤640 doubles"),
    "q_knn_ivf_trained" -> ("IVF probe over the TRAINED quantizer: the " +
      "final Lloyd assignment (map-only, literal centroids) feeds a " +
      "broadcast probe join at list grain — train rounds are separate " +
      "fixed-width jobs of the q_kmeans shape, the serve plan itself " +
      "is one scan + one broadcast join + per-query top-k window"),
    "q_overlap_join" -> ("custom BroadcastIntervalJoinExec, interval " +
      "probe: BOTH overlap inequalities reference both sides, so no " +
      "equi-key rewrite exists and the native plan is " +
      "BroadcastNestedLoopJoin — here " +
      "the window dim broadcasts and each session probes the " +
      "lo-sorted index in O(log W + matches)"),
    "q_scd2_lookup" -> ("LEFT OUTER keyed range lookup: key equality + " +
      "validity-range containment in ONE probe with misses surviving " +
      "null-padded (the SCD2 contract) — no BroadcastHashJoin, no " +
      "post-join filter re-dropping outer rows"),
    "q_asof_forward" -> ("FORWARD as-of through the same AsOfJoinExec " +
      "merge (right iterator HEAD is the candidate, zero held state): " +
      "co-partitioned exchanges + per-partition sorts, no Window, no " +
      "BNLJ — identical plan shape to the backward direction"),
    "q_weighted_sample" -> ("A-ES weighted sampling-without-replacement " +
      "through TopKPerGroup: per-partition bounded heaps then one " +
      "k-rows-per-group merge — no corpus-wide sort, no unpartitioned " +
      "window anywhere in the plan"),
    "q_label_prop" -> ("synchronous LPA (node-grain result collected " +
      "like q_kmeans, so the visible plan is the local relation): per " +
      "round the executed job is a shuffle join on the 8-byte node key " +
      "+ two hash aggregates — the argmax is a map-side " +
      "min(struct(-cnt,lbl)) fold, not a window"),
    "q_source_overlap" -> ("mergeable source signatures: ONE map-side-" +
      "combining hash aggregate at source grain (elementwise-min " +
      "sketch), S-row broadcast self-join for the pair matrix"),
    "q_hard_negatives" -> ("hard-negative mining: queries broadcast " +
      "against ONE corpus scan with the label inequality folded into " +
      "the join condition (mismatched pairs never materialize), " +
      "per-query top-k window"),
    "q_fuzzy_jw" -> ("Jaro-Winkler fuzzy join: sorted-neighborhood " +
      "blocking (window partitioned by block), candidates scored by " +
      "the codegen'd jaro_winkler expression inside WholeStageCodegen " +
      "- no UDF, no all-pairs"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = Session.builder.getOrCreate()
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan evidence (generated by graft.Plans)\n\n")
    sb.append(s"Source: `$sfDir`. Each plan is the `AdaptiveSparkPlan` as\n")
    sb.append("initially planned; AQE may re-optimize stages at runtime.\n")
    picks.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n*$why*\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString.take(4000))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
