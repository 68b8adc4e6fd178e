package graft

import org.apache.spark.sql.functions._

/** Scratch profiler over the SCALED probe corpus — times named ops in
  * the order given, each against a fresh persisted k× per-word-salted
  * documents table, so a single curve point can be measured in
  * ISOLATION (ScalingProbe runs the whole family back-to-back, and a
  * heavy predecessor's shuffle spill / GC pressure can bleed into the
  * next measurement — seen r9 on jaccard_prefix_hi at 64×).
  *
  * sbt "Test/runMain graft.ProfileScaled 64 jaccard_prefix_hi"
  */
object ProfileScaled {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val k = args.headOption.map(_.toInt).getOrElse(8)
    val spark = Session.builder.getOrCreate()
    spark.range(2000000).selectExpr("sum(id * 2)").collect()
    val ops: Map[String, org.apache.spark.sql.DataFrame => Long] = Map(
      "jaccard_prefix" ->
        (d => graft.dedup.Dedup.jaccardPrefixPairs(d).count()),
      "jaccard_prefix_hi" ->
        (d => graft.dedup.Dedup.jaccardPrefixPairs(d, threshold = 0.8)
          .count()),
      "prefix_cand04" ->
        (d => ScalingProbe.jaccardPrefixCandidateCount(d)),
      "prefix_cand08" ->
        (d => ScalingProbe
          .jaccardPrefixCandidateCount(d, threshold = 0.8)),
      "cluster_canonical" ->
        (d => operators.Pipeline.clusterCanonical(d).count()),
      "substring_dedup" ->
        (d => graft.dedup.Dedup.substringDedup(d).count()),
      "char_entropy" ->
        (d => graft.text.TextAnalysis.charEntropy(d).count()))
    val docs = Tables.load(spark, sfDir, "documents")
    args.drop(1).foreach { op =>
      // untimed 1× warmup pass first — same methodology as
      // ScalingProbe's k=0 pass, so the timed number measures data,
      // not first-compile codegen, and the two tools' numbers compare
      locally {
        val w = ScaledFixtures.saltedDocs(docs, 1).persist()
        w.count(); ops(op)(w); w.unpersist()
      }
      val d = ScaledFixtures.saltedDocs(docs, k).persist()
      d.count()
      val t0 = System.nanoTime()
      val rows = ops(op)(d)
      println(f"PROFILE op=$op scale=$k rows=$rows " +
        f"sec=${(System.nanoTime() - t0) / 1e9}%.2f")
      d.unpersist()
    }
    spark.stop()
  }
}
