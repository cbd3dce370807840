package graft

/** AQE skew-join handling: a hot join key concentrates one shuffle
  * partition; adaptive execution must split it (skew=true in the final
  * plan) rather than serializing the stage on one reducer — the runtime
  * answer to skew at 100 TB (complementing the manual salting in q19). */
class SkewJoinSpec extends SparkSuite {

  private val tuned = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.shuffle.partitions" -> "8")

  test("hot key triggers AQE skew split; result stays correct") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    withConf(tuned: _*) {
    // 300k rows, 80% on key 0 → one hot shuffle partition
    val left = spark.range(300000)
      .select((when($"id" % 5 =!= 0, lit(0L)).otherwise($"id" % 100)).as("k"),
              $"id".as("payload"))
    val right = spark.range(100).select($"id".as("k"), ($"id" * 2).as("v"))
    val joined = left.join(right, "k")
    // execute THIS physical plan (count() would build a different one and
    // leave joined's AdaptiveSparkPlan un-finalized)
    val qe = joined.queryExecution
    assert(qe.toRdd.count() == 300000L)
    val plan = qe.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"expected AQE to mark the skewed join:\n${plan.take(2000)}")
    // correctness under the split: 80% hot (id%5!=0) + ids divisible by
    // 100 (which all satisfy id%5==0 and map to key 0) = 243000
    val hot = joined.filter($"k" === 0).count()
    assert(hot == 243000L)
    }
  }
}
