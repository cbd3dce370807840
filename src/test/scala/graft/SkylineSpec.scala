package graft

import graft.queries.Relational

/** The distributed skyline's decomposition claim —
  * skyline(A ∪ B) = skyline(skyline(A) ∪ skyline(B)) — checked against
  * a naive dominance filter, including the tie cases the sweep must get
  * right: duplicate (price, size) points (ALL survive), equal-price
  * groups (only the group max survives), and equal sizes across price
  * groups (strictly-cheaper same-size dominates). */
class SkylineSpec extends SparkSuite {

  private def naive(rows: Seq[(Long, Double, Int)]): Set[(Long, Double, Int)] =
    rows.filter { case (_, p, s) =>
      !rows.exists { case (_, p2, s2) =>
        p2 <= p && s2 >= s && (p2 < p || s2 > s)
      }
    }.toSet

  private def run(rows: Seq[(Long, Double, Int)]): Set[(Long, Double, Int)] = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sky")
    try {
      rows.toDF("p_partkey", "p_retailprice", "p_size")
        .write.mode("overwrite").parquet(s"$dir/part.parquet")
      Relational.q36Skyline(spark, dir.toString).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("ties: duplicates survive, within-group and cross-group dominance hold") {
    val rows = Seq(
      (1L, 10.0, 5), (2L, 10.0, 5),  // duplicate frontier point: both stay
      (3L, 10.0, 4),                 // same price, smaller size: dominated
      (4L, 12.0, 5),                 // pricier, same size as (1): dominated
      (5L, 12.0, 7),                 // pricier but larger: survives
      (6L, 9.0, 1),                  // cheapest: survives
      (7L, 15.0, 7))                 // same size as (5), pricier: dominated
    val expect = Set((1L, 10.0, 5), (2L, 10.0, 5), (5L, 12.0, 7), (6L, 9.0, 1))
    assert(naive(rows) == expect) // the spec's own filter agrees first
    assert(run(rows) == expect)
  }

  test("random corpora: distributed sweep equals naive dominance") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      // few distinct values force heavy tie/duplicate traffic
      val rows = (1 to 400).map(i =>
        (i.toLong, (rnd.nextInt(20) + 1).toDouble, rnd.nextInt(10)))
      assert(run(rows) == naive(rows), s"trial $trial")
    }
  }

  test("sf0.001 part table: matches naive dominance") {
    import spark.implicits._
    val rows = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
      .selectExpr("cast(p_partkey as long)", "cast(p_retailprice as double)",
        "cast(p_size as int)")
      .as[(Long, Double, Int)].collect().toSeq
    val got = Relational.q36Skyline(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
    assert(got == naive(rows))
    assert(got.nonEmpty)
  }
}
