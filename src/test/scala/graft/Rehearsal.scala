package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** What the scale rehearsals ([[ScaleRehearsal]], [[Sf10Rehearsal]],
  * [[OpsRehearsal]]) share: how they time and print a `SparkEntry`
  * query, and the replica generator behind the sf1 and sf10 corpora. */
object Rehearsal {

  def fmt(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)

  /** One `SparkEntry` query over `dir`, consumed by count(): (wall
    * seconds, rows). Its cached and checkpointed intermediates are
    * released afterwards, so the next measurement starts clean. */
  def timeOne(spark: SparkSession)(name: String, dir: String): (Double, Long) = {
    val t0 = System.nanoTime()
    val n = SparkEntry.queries(name)(spark, dir).count()
    val sec = (System.nanoTime() - t0) / 1e9
    graft.operators.Dedup.unpersistIntermediates(spark)
    spark.catalog.clearCache()
    (sec, n)
  }

  /** Writes `replicas`× copies of `src`'s documents and embeddings under
    * `out`, `files` parquet files each. Fully deterministic (hash-derived
    * decisions only, no RNG):
    *  - documents: replica 0 and ~30% of the others keep their text
    *    byte-identical (exact-dup mass), the rest append a replica token
    *    (near-dup mass);
    *  - embeddings: replicas add ±0.025/dim hash noise and renormalize
    *    (cos ≈ 0.98 near-dups, preserving cluster structure).
    * Replica ids are strided by max(id)+1, NOT count(): a sparse or
    * offset id space would make count-based strides collide across
    * replicas and corrupt the corpus with duplicate ids. */
  def replicate(s: SparkSession, src: String, out: String,
                replicas: Int, files: Int): Unit = {
    import s.implicits._
    val reps = broadcast(s.range(replicas).withColumnRenamed("id", "replica"))

    val docs = s.read.parquet(s"$src/documents.parquet")
    val nDocs = docs.agg(max($"doc_id")).head().getLong(0) + 1L
    docs.crossJoin(reps)
      .withColumn("keep",
        $"replica" === 0 ||
          pmod(hash(concat($"doc_id", lit(":"), $"replica")), lit(10)) < 3)
      .withColumn("text",
        when($"keep", $"text")
          .otherwise(concat($"text", lit(" rep"), $"replica")))
      .withColumn("doc_id", $"doc_id" + $"replica" * nDocs)
      .withColumn("n_chars", length($"text").cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .repartition(files)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = s.read.parquet(s"$src/embeddings.parquet")
    val nVecs = emb.agg(max($"vec_id")).head().getLong(0) + 1L
    emb.crossJoin(reps)
      .withColumn("vec_id", $"vec_id" + $"replica" * nVecs)
      .withColumn("embedding",
        when($"replica" === 0, $"embedding").otherwise(
          transform($"embedding", (v, i) =>
            v + (pmod(hash(concat($"vec_id", lit(":"), i)), lit(1001)) - 500)
              .cast("float") / 20000f)))
      .withColumn("nrm",
        sqrt(aggregate($"embedding", lit(0.0d), (a, v) => a + v.cast("double") * v)))
      .withColumn("embedding", transform($"embedding", v => (v / $"nrm").cast("float")))
      .select("vec_id", "embedding", "label")
      .repartition(files)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }
}
