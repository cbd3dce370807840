package graft

import org.apache.spark.sql.functions._
import graft.operators.Maintenance

/** Z-order layout: the oracle pins the zone-map values; this pins the
  * CLAIM — a Z-ordered file layout prunes on BOTH dimensions where a
  * linear sort prunes on one — by writing real parquet twice and
  * counting which files a range predicate could skip from their
  * actual per-file min/max envelopes. */
class ZorderSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"
  // 64 files → 6 z-bits per split → 3 bits (1/8 envelope) per dimension;
  // at 16 files each envelope still covers 1/4 of each key range and the
  // equi-depth boundary blur drowns the signal
  private val NFiles = 64

  /** Per-file (min,max) envelope of `key` for every parquet file under
    * `path` — the stats a scan's file-skipping consults. */
  private def envelopes(path: String, key: String): Seq[(Long, Long)] = {
    import spark.implicits._
    spark.read.parquet(path)
      .groupBy(input_file_name())
      .agg(min(col(key)).as("lo"), max(col(key)).as("hi"))
      .select($"lo".cast("long"), $"hi".cast("long"))
      .as[(Long, Long)].collect().toSeq
  }

  private def overlapping(env: Seq[(Long, Long)], lo: Long, hi: Long): Int =
    env.count { case (l, h) => h >= lo && l <= hi }

  test("z-order layout prunes both key dimensions; linear only its sort key") {
    import spark.implicits._
    val zPath = "target/zorder_spec/z"
    val linPath = "target/zorder_spec/linear"
    Maintenance.zorderWrite(spark, sf, zPath, NFiles)
    spark.read.parquet(s"$sf/lineitem.parquet")
      .repartitionByRange(NFiles, $"l_orderkey")
      .sortWithinPartitions($"l_orderkey")
      .write.mode("overwrite").parquet(linPath)

    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val (okLo, okHi) = {
      val r = li.agg(min($"l_orderkey"), max($"l_orderkey")).head()
      (r.getLong(0), r.getLong(1))
    }
    val (pkLo, pkHi) = {
      val r = li.agg(min($"l_partkey"), max($"l_partkey")).head()
      (r.getLong(0), r.getLong(1))
    }
    // a 1/16-wide range predicate on each dimension, centered
    def probe(lo: Long, hi: Long): (Long, Long) = {
      val w = (hi - lo) / NFiles
      val mid = lo + (hi - lo) / 2
      (mid - w / 2, mid + w / 2)
    }
    val (okA, okB) = probe(okLo, okHi)
    val (pkA, pkB) = probe(pkLo, pkHi)

    val zOk  = overlapping(envelopes(zPath, "l_orderkey"), okA, okB)
    val zPk  = overlapping(envelopes(zPath, "l_partkey"), pkA, pkB)
    val lOk  = overlapping(envelopes(linPath, "l_orderkey"), okA, okB)
    val lPk  = overlapping(envelopes(linPath, "l_partkey"), pkA, pkB)

    // linear: near-perfect on the sort key, useless on the other
    assert(lOk <= 6, s"linear layout should prune l_orderkey hard, read $lOk/$NFiles")
    assert(lPk >= NFiles - 2, s"linear layout cannot prune l_partkey, read $lPk/$NFiles")
    // z-order: BOTH dimensions prune meaningfully — each file's envelope
    // covers ~1/8 of each key range (+ equi-depth boundary blur), so a
    // narrow probe should touch well under half the files on EITHER key
    assert(zPk <= (NFiles * 3) / 8,
      s"z-order should skip most files on l_partkey, read $zPk/$NFiles")
    assert(zOk <= (NFiles * 3) / 8,
      s"z-order should skip most files on l_orderkey, read $zOk/$NFiles")
  }

  test("zone map: cells tile the code space and envelopes nest inside key ranges") {
    val rows = Maintenance.zorderMap(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 64)
    val total = rows.map(_.getAs[Long]("n_rows")).sum
    val liCount = spark.read.parquet(s"$sf/lineitem.parquet").count()
    assert(total == liCount)
    rows.foreach { r =>
      val c = r.getAs[Long]("zcell")
      assert(c >= 0 && c < 64)
      assert(r.getAs[Long]("min_ok") <= r.getAs[Long]("max_ok"))
      assert(r.getAs[Long]("min_pk") <= r.getAs[Long]("max_pk"))
    }
  }
}
