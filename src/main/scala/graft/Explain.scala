package graft

/** Plan-inspection tool: prints the formatted physical plan of selected
  * queries so pushdown / broadcast / codegen properties can be audited.
  * Usage: runMain graft.Explain [sfDir] [query ...]  (default: key set) */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("q1_agg", "q2_join_agg", "q3_topk", "dedup_embed_cosine",
               "sim_topk_brute", "dedup_minhash_lsh")
    val spark = graft.util.LocalSession("4", "ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
