package graft

/** Plan inspector: prints the formatted physical plan for the named
  * queries (all headline-worthy ones by default) so partition/pushdown/
  * broadcast decisions can be reviewed per round.
  *
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q03_group_multi", "q10_join_agg", "q24_join_copart",
        "q18_topn", "d02_minhash_neardup", "s01_knn_brute", "t03_lang_id")
    val spark = Cluster.open(nodes = 4, appName = "graft-explain", shufflePartitions = 4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
