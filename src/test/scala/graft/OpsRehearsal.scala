package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Rehearsal.fmt

/** Growth-law rehearsal for the round-7 graph/string operators
  * (`graph_lpa`, `graph_kcore`, `dedup_edit_join`): 10× the bench corpus
  * along each operator's OWN scaling axis and record wall ratios +
  * output volumes, the same discipline as [[ScaleRehearsal]].
  *
  *  - lineitem ×10 with BOTH keys offset per replica → 10 disjoint
  *    copies of the co-purchase graph: nodes, edges and every per-round
  *    exchange grow 10×, support distribution unchanged (offsetting
  *    only orders would instead multiply SUPPORT on a fixed graph —
  *    no growth at all).
  *  - customer ×10 with CONTIGUOUS extended ids: replica r adds
  *    r·1,000,000, so names differ from their base twin in exactly one
  *    digit — every base id becomes a C(10,2)-pair near-dup cluster.
  *    That is the dup-heavy production shape on purpose: the edit
  *    join's claim is cost ∝ OUTPUT (Σ signature-df²), so the honest
  *    rehearsal grows the output superlinearly and the wall must track
  *    pairs, not |names|².
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.OpsRehearsal"
  * Output: one JSON line + target/ops_rehearsal.json
  */
object OpsRehearsal {

  private val Sf01 = "/root/testdata/sf0.1"

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.util.LocalSession(cpus)
    val timeOne = Rehearsal.timeOne(spark) _

    val x10 = graft.util.Fs.scratchDir(spark, "opsx10").toString
    ensureX10(spark, x10)

    timeOne("graph_kcore", "/root/testdata/sf0.01") // JIT warm-up

    val rows = Seq("graph_lpa", "graph_kcore", "dedup_edit_join").map { name =>
      val (s01, n01) = timeOne(name, Sf01)
      val (s10, n10) = timeOne(name, x10)
      val ratio = if (s01 > 0) s10 / s01 else -1.0
      System.err.println(f"[ops-rehearsal] $name%-16s sf0.1 ${fmt(s01)}s " +
        f"($n01 rows)  x10 ${fmt(s10)}s ($n10 rows)  wall x${fmt(ratio)} " +
        f"rows x${fmt(n10.toDouble / math.max(1, n01))}")
      s""""$name":{"sf01_sec":${fmt(s01)},"sf01_rows":$n01,""" +
        s""""x10_sec":${fmt(s10)},"x10_rows":$n10,"wall_ratio":${fmt(ratio)}}"""
    }

    val json = rows.mkString("{\"metric\":\"ops_rehearsal_x10\",", ",", "}")
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/ops_rehearsal.json"), json)
    spark.stop()
  }

  private def ensureX10(s: SparkSession, dir: String): Unit = {
    // versioned marker (the ScaleRehearsal convention): bump the suffix
    // whenever the construction below changes, or a stale cached corpus
    // would silently feed the recorded growth ratios
    val ok = java.nio.file.Paths.get(dir, "_REHEARSAL_OK_V1")
    if (java.nio.file.Files.exists(ok)) return
    val reps = broadcast(s.range(10).select(col("id").as("rep")))

    s.read.parquet(s"$Sf01/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
      .crossJoin(reps)
      .select((col("l_orderkey") + col("rep") * 1000000000L).as("l_orderkey"),
              (col("l_partkey") + col("rep") * 10000000L).as("l_partkey"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    s.read.parquet(s"$Sf01/customer.parquet")
      .select(col("c_custkey")).crossJoin(reps)
      .select((col("c_custkey") + col("rep") * 1000000L).as("c_custkey"))
      .select(col("c_custkey"),
        format_string("Customer#%09d", col("c_custkey")).as("c_name"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")

    java.nio.file.Files.createFile(ok)
  }
}
