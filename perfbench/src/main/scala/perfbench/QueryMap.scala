package perfbench

import scala.io.Source

/** One row of `queries.tsv`: a catalog query, the part of the `catalog`
  * workload and the layer it belongs to, its reference cost (seconds,
  * used only to pick how many queries fit a run) and its expected row
  * count on the benchmark data. Excluded queries carry a reason instead. */
final case class QueryEntry(name: String, part: String, layer: String,
    refSeconds: Double, expectedRows: Long, note: String)

object QueryMap {
  /** The parts of the `catalog` workload: `dashboard` queries run on a
    * warm session, `corpus` queries on a cold one. */
  val Parts: Seq[String] = Seq("dashboard", "corpus")
  val Layers: Seq[String] = Seq("events", "relational", "extended",
    "sql_surface", "skew", "sources", "pipeline", "graph", "dedup",
    "similarity", "text", "multimodal", "streaming")

  /** Parse the map and check it against the catalog: every catalog query
    * must appear exactly once, and every row must name a catalog query, a
    * known part (or `excluded`) and a known layer. */
  def load(path: String, catalog: Set[String]): Seq[QueryEntry] = {
    val src = Source.fromFile(path, "UTF-8")
    val rows = try src.getLines().toList finally src.close()
    val entries = rows.drop(1).filter(_.trim.nonEmpty).map { line =>
      val f = line.split("\t", -1)
      require(f.length == 6, s"$path: expected 6 tab-separated fields: $line")
      QueryEntry(f(0), f(1), f(2), f(3).toDouble, f(4).toLong, f(5))
    }
    val problems = Seq.newBuilder[String]
    entries.groupBy(_.name).collect { case (n, es) if es.size > 1 =>
      problems += s"listed ${es.size} times: $n" }
    val listed = entries.map(_.name).toSet
    (catalog -- listed).toSeq.sorted.foreach(n => problems += s"unassigned query: $n")
    (listed -- catalog).toSeq.sorted.foreach(n => problems += s"unknown query: $n")
    entries.foreach { e =>
      if (e.part == "excluded") {
        if (e.note.trim.isEmpty) problems += s"excluded without a reason: ${e.name}"
      } else {
        if (!Parts.contains(e.part))
          problems += s"unknown part '${e.part}': ${e.name}"
        if (!Layers.contains(e.layer)) problems += s"unknown layer '${e.layer}': ${e.name}"
      }
    }
    val p = problems.result()
    if (p.nonEmpty)
      throw new IllegalStateException(s"query map $path does not match the catalog:\n  " +
        p.mkString("\n  "))
    entries
  }

  /** Queries that share a per-session model cache: whichever of them runs
    * first in a session trains the model the others reuse, so their times
    * depend on the order. A pass holds at most one of each group. */
  val SharedCaches: Seq[Set[String]] = Seq(
    Set("q_lr_learnable", "q_calibration"),
    Set("q_kmeans", "q_knn_ivf_trained", "q_ann_recall_ivf"))

  /** The part's ops for a pass of `seconds`, stratified by layer and by
    * cost, so that the pass follows the part's cost distribution
    * rather than its cheapest end. Of `n` picks, each layer gets one and
    * the rest are shared out in proportion to the layers' query counts; a
    * layer with `k` picks takes, from its queries sorted by reference
    * cost, the middle query of each of `k` equal-count strata (the
    * nearest free one when that query shares a model cache with a query
    * already picked). The pass is the largest `n` whose summed reference
    * cost fits in `seconds`, and never less than one query per layer.
    * Depends only on the map and `seconds`, never on the seed or measured
    * times. */
  def select(entries: Seq[QueryEntry], part: String, seconds: Double): Seq[QueryEntry] = {
    val byLayer = entries.filter(_.part == part).groupBy(_.layer).toSeq
      .sortBy(_._1).map { case (l, es) => l -> es.sortBy(e => (e.refSeconds, e.name)).toIndexedSeq }
    val total = byLayer.map(_._2.size).sum
    def picks(n: Int): Seq[QueryEntry] = {
      val share = byLayer.map { case (l, es) => l -> (n - byLayer.size).toDouble * es.size / total }
      val base = share.map { case (l, x) => l -> (1 + x.toInt) }.toMap
      val extra = share.sortBy { case (l, x) => (-(x - x.toInt), l) }
        .take(math.max(0, n - base.values.sum)).map(_._1).toSet
      val chosen = scala.collection.mutable.LinkedHashSet.empty[QueryEntry]
      def clashes(e: QueryEntry): Boolean = chosen.contains(e) ||
        SharedCaches.exists(g => g(e.name) && chosen.exists(c => g(c.name)))
      for ((l, es) <- byLayer) {
        val k = math.min(es.size, base(l) + (if (extra(l)) 1 else 0))
        for (j <- 0 until k) {
          val mid = ((j + 0.5) * es.size / k).toInt
          val near = (0 until es.size).flatMap(d => Seq(mid + d, mid - d)).distinct
            .filter(i => i >= 0 && i < es.size)
          near.map(es).find(e => !clashes(e)).foreach(chosen += _)
        }
      }
      chosen.toSeq
    }
    val sizes = byLayer.size to total
    val fitting = sizes.map(picks).filter(_.map(_.refSeconds).sum <= seconds)
    fitting.lastOption.getOrElse(picks(byLayer.size))
  }
}
