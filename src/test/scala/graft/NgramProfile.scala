package graft

import org.apache.spark.sql.functions._

/** One-off stage profile for dedup_ngram_jaccard at the rehearsal's sf1
  * scale (`sbt "Test/runMain graft.NgramProfile"`). Prints the
  * candidate-stage / full-query wall split so constant-factor work aims
  * at the right stage. Requires target/sf1 from a prior ScaleRehearsal
  * run. */
object NgramProfile {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.util.LocalSession(cpus)
    val dir = args.headOption.getOrElse("target/sf1")
    spark.conf.set("spark.graft.dedup.ngram.maxDf", "200")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[ngram-profile] $label%-20s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val nCand = time("candidates") {
      graft.operators.Dedup.ngramCandidates(spark, dir).count()
    }
    spark.catalog.clearCache(); System.gc()
    // survivor count of the length pre-filter, arrays never attached
    import spark.implicits._
    val cand = time("cand (cached run)") {
      graft.operators.Dedup.ngramCandidates(spark, dir).localCheckpoint()
    }
    val sizes = time("gram sizes (skinny)") {
      spark.read.parquet(s"$dir/documents.parquet")
        .filter(length($"text") >= 5)
        .select($"doc_id",
          size(call_function("graft_char_grams", $"text", lit(5))).cast("long").as("n_g"))
        .localCheckpoint()
    }
    val nSurv = time("length filter") {
      cand.join(broadcast(sizes).as("a"), $"doc_a" === $"a.doc_id")
        .join(broadcast(sizes).as("b"), $"doc_b" === $"b.doc_id")
        .filter(least($"a.n_g", $"b.n_g") >= lit(0.7) * greatest($"a.n_g", $"b.n_g"))
        .count()
    }
    spark.catalog.clearCache(); System.gc()
    val nFull = time("full query") {
      graft.operators.Dedup.ngramJaccard(spark, dir).count()
    }
    System.err.println(s"[ngram-profile] candidates=$nCand survivors=$nSurv pairs=$nFull")
    spark.stop()
  }
}
