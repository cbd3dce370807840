package graft

import org.apache.spark.sql.functions._

/** One-off stage profile for dedup_jaccard_prefix
  * (`sbt "Test/runMain graft.JaccardProfile [sfDir]"`). Splits the wall
  * into prefix build / candidate generation / verify so constant-factor
  * work aims at the right stage. */
object JaccardProfile {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.util.LocalSession(cpus)
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    import spark.implicits._
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[jp-profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id",
        expr("array_sort(array_distinct(transform(" +
             "filter(split(text, ' '), x -> length(x) > 0), " +
             "x -> cast(conv(substring(md5(x), 1, 15), 16, 10) as bigint))))")
          .as("w_set"))
      .filter(size($"w_set") >= 1)
      .withColumn("n_w", size($"w_set").cast("long"))

    val toks = d.select($"doc_id", $"n_w", explode($"w_set").as("w"))
    val byTok = org.apache.spark.sql.expressions.Window.partitionBy($"w")
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")
      .orderBy($"df", $"w")
    val prefixes = time("prefix build (ckpt)") {
      toks
        .withColumn("df", count(lit(1)).over(byTok))
        .withColumn("rk", row_number().over(byDoc))
        .filter($"rk" <= expr("n_w - (n_w * 4 + 4) div 5 + 1"))
        .select($"doc_id", $"n_w", $"w", $"rk")
        .localCheckpoint()
    }
    println(s"prefix rows: ${prefixes.count()}")

    val raw = prefixes.as("pa").join(prefixes.as("pb"),
      $"pa.w" === $"pb.w" && $"pa.doc_id" < $"pb.doc_id" &&
      lit(5) * least($"pa.n_w", $"pb.n_w") >=
        lit(4) * greatest($"pa.n_w", $"pb.n_w") &&
      lit(9) * (lit(1) + least($"pa.n_w" - $"pa.rk",
                               $"pb.n_w" - $"pb.rk")) >=
        lit(4) * ($"pa.n_w" + $"pb.n_w"))
      .select($"pa.doc_id".as("doc_a"), $"pb.doc_id".as("doc_b"))
    val nRaw = time("raw instance count")(raw.count())
    println(s"raw instances: $nRaw")

    val cand = time("distinct + ckpt")(raw.distinct().localCheckpoint())
    println(s"candidates: ${cand.count()}")

    val candIds = cand.select($"doc_a".as("doc_id"))
      .union(cand.select($"doc_b")).distinct()
    val candSets = time("cand sets (ckpt)") {
      d.join(broadcast(candIds), Seq("doc_id"), "left_semi")
        .select($"doc_id", $"w_set", $"n_w")
        .localCheckpoint()
    }
    println(s"cand docs: ${candSets.count()}")

    val n = time("verify + filter") {
      cand
        .join(broadcast(candSets).as("ca"), $"doc_a" === $"ca.doc_id")
        .join(broadcast(candSets).as("cb"), $"doc_b" === $"cb.doc_id")
        .select($"doc_a", $"doc_b",
          call_function("graft_sorted_inter", $"ca.w_set", $"cb.w_set")
            .cast("long").as("n_inter"),
          ($"ca.n_w" + $"cb.n_w").as("n_sum"))
        .filter(lit(9) * $"n_inter" >= lit(4) * $"n_sum")
        .count()
    }
    println(s"final pairs: $n")
    spark.stop()
  }
}
