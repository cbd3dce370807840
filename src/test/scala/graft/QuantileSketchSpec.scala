package graft

import graft.functions.{QuantileBuild, QuantileSketch, QuantileUnion}

/** The published Greenwald-Khanna guarantee, asserted on the UNIONED
  * sketch (the path q35 ships): for target quantile q, the estimate's
  * TRUE rank lies within ±ε·n of q·n. Rows-only entries carry their
  * guarantees in specs — the q33/q34 SketchBoundsSpec convention. */
class QuantileSketchSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("unioned per-shard partials honor the eps*n rank bound at p50/p90/p99") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val values = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_extendedprice").cast("double")).as[Double].collect().sorted
    val n = values.length
    assert(n > 1000, "fixture must be non-trivial")

    val build = udaf(QuantileBuild)
    val union = udaf(QuantileUnion)
    val merged = spark.read.parquet(s"$sf/lineitem.parquet")
      .select((col("l_orderkey") % 16).as("shard"),
        col("l_extendedprice").cast("double").as("v"))
      .groupBy(col("shard")).agg(build(col("v")).as("sk"))
      .agg(union(col("sk")).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val qs = QuantileSketch.deser(merged)
    assert(qs.count == n, s"summary count ${qs.count} != $n rows")

    val eps = QuantileSketch.Epsilon
    Seq(0.5, 0.9, 0.99).foreach { q =>
      val est = qs.query(q).get
      // true rank of the estimate: how many values are <= it
      val rank = values.count(_ <= est)
      val lo = (q - eps) * n - 1
      val hi = (q + eps) * n + 1
      assert(rank >= lo && rank <= hi,
        s"p$q estimate $est has rank $rank outside [$lo, $hi] (n=$n)")
    }
  }

  test("union is associativity-insensitive within the bound and empty partials are identity") {
    // two different merge orders of the same partials must both honor
    // the bound (GK merge is not bit-identical across orders — the
    // GUARANTEE is what survives, which is exactly why the entry is
    // rows-only rather than oracle-gated)
    val xs = (1 to 5000).map(_.toDouble)
    val parts = xs.grouped(1000).map { chunk =>
      QuantileSketch.ser(chunk.foldLeft(QuantileBuild.zero)(QuantileBuild.reduce))
    }.toSeq
    def boundOk(sk: Array[Byte]): Unit = {
      val s = QuantileSketch.deser(sk)
      assert(s.count == 5000)
      Seq(0.5, 0.9).foreach { q =>
        val est = s.query(q).get
        val rank = xs.count(_ <= est)
        assert(math.abs(rank - q * 5000) <= QuantileSketch.Epsilon * 5000 + 1,
          s"p$q rank $rank vs ${q * 5000}")
      }
    }
    boundOk(parts.reduceLeft(QuantileUnion.merge))
    boundOk(parts.reduceRight(QuantileUnion.merge))
    // empty partial (the UDAF zero) is the union identity
    val one = parts.head
    assert(QuantileUnion.merge(Array.emptyByteArray, one).sameElements(one))
    assert(QuantileUnion.merge(one, Array.emptyByteArray).sameElements(one))
  }
}
