package graft

/** Probe: community structure of labelPropagation across posting caps
  * (documents the random-projection density argument in the scaladoc).
  * Not a test — run via Test/runMain graft.ProfileLpa. */
object ProfileLpa {
  def main(args: Array[String]): Unit = {
    val spark = Session.builder.getOrCreate()
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); spp <- Seq(2, 3, 5)) {
      val li = Tables.load(spark, s"/root/testdata/$sf", "lineitem")
      val out = operators.Graph.labelPropagation(li, suppPerPart = spp)
        .collect()
      val comm = out.groupBy(_.getLong(1)).map(_._2.length).toSeq
        .sorted.reverse
      println(s"PROBE $sf spp=$spp nodes=${out.length} " +
        s"communities=${comm.length} sizes=${comm.take(6).mkString(",")}")
    }
    spark.stop()
  }
}
