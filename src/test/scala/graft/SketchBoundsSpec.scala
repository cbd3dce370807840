package graft

import org.apache.spark.sql.functions._
import graft.queries.Relational

/** Turns the rows-only `q20_sketches` entry into a CHECKED contract:
  * the approximate answers must sit within the published error bounds of
  * their exact twins (which ARE oracle-gated, via q11/q18).
  *
  *  - `approx_count_distinct` is HyperLogLog++ with default relative
  *    standard deviation 0.05; a 3σ band (15% relative error) holds with
  *    probability ≈ 0.997, and on this DETERMINISTIC dataset the observed
  *    error is fixed — the assertion can never flake, only catch a
  *    regression in the sketch plumbing.
  *  - `percentile_approx(…, accuracy = 1000)` (Greenwald–Khanna style
  *    KLL in Spark) guarantees RANK error ≤ 1/accuracy: the returned
  *    value must lie between the exact quantiles at ranks 0.5 ± 1/1000.
  */
class SketchBoundsSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("q20 approx sketches sit within published error bounds of exact twins") {
    import spark.implicits._
    val rows = Relational.q20Sketches(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val approx = r.getAs[Long]("approx_parts").toDouble
      val exact = r.getAs[Long]("exact_parts").toDouble
      val relErr = math.abs(approx - exact) / exact
      info(f"HLL flag=${r.getAs[String]("l_returnflag")}: approx=$approx%.0f exact=$exact%.0f relErr=$relErr%.4f")
      assert(relErr <= 0.15, // 3 × default rsd 0.05
        s"HLL estimate $approx vs exact $exact: relative error $relErr exceeds 3σ bound 0.15")
    }
    // rank-error bound for the approximate median, per return flag
    val eps = 1.0 / 1000 // percentile_approx accuracy used by q20
    val exactBounds = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy($"l_returnflag")
      .agg(
        expr(s"percentile(l_quantity, ${0.5 - eps})").as("lo"),
        expr(s"percentile(l_quantity, ${0.5 + eps})").as("hi"))
      .collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Double]("lo"), r.getAs[Double]("hi"))).toMap
    rows.foreach { r =>
      val flag = r.getAs[String]("l_returnflag")
      val p50 = r.getAs[Double]("approx_p50")
      val (lo, hi) = exactBounds(flag)
      assert(p50 >= lo && p50 <= hi,
        s"approx p50 $p50 for flag=$flag outside exact rank band [$lo, $hi]")
    }
  }

  test("q33 merged HLL sketches estimate within bounds of the exact distinct count") {
    import spark.implicits._
    val merged = Relational.q33SketchUnion(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_days"), r.getAs[Long]("approx_users"))).toMap
    assert(merged.nonEmpty)
    // exact distinct users per event type, computed independently
    val exact = spark.read.parquet(s"$sf/events.parquet")
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("exact_users"))
      .collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("exact_users")).toMap
    assert(merged.keySet == exact.keySet)
    merged.foreach { case (et, (nDays, approx)) =>
      assert(nDays > 1, s"merge must actually union multiple daily partials (got $nDays)")
      val ex = exact(et).toDouble
      val relErr = math.abs(approx - ex) / ex
      info(f"HLL-union $et: days=$nDays approx=$approx exact=${exact(et)} relErr=$relErr%.4f")
      // default lgConfigK=12 → rse ≈ 1.04/√2¹² ≈ 0.016; 3σ ≈ 0.05
      assert(relErr <= 0.05,
        s"merged HLL estimate $approx vs exact $ex: relative error $relErr exceeds 3σ bound")
    }
  }

  test("q34 merged CMS obeys its published bounds and merges losslessly") {
    import spark.implicits._
    val rows = Relational.q34CmsHeavyHitters(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the merge must actually union multiple per-source partials
    assert(docs.select($"source").distinct().count() > 1)
    val words = docs
      .select(explode(split($"text", " ")).as("word"))
      .filter(length($"word") > 0)
    val totalN = words.count()
    val eps = 0.001 // q34's count_min_sketch relative-error parameter
    rows.foreach { r =>
      val (w, n, est) =
        (r.getAs[String]("word"), r.getAs[Long]("n"), r.getAs[Long]("est_n"))
      // CMS guarantee #1: counters only ever overcount
      assert(est >= n, s"CMS must never underestimate: '$w' est=$est < exact=$n")
      // CMS guarantee #2: overcount ≤ eps·N with confidence 0.99 — fixed
      // seed + deterministic data ⇒ the observed error never flakes
      assert(est <= n + eps * totalN,
        s"CMS estimate $est for '$w' (exact $n) exceeds the eps·N=${eps * totalN} bound")
    }
    // lossless merge: estimates from the per-source partial union must
    // EQUAL a single corpus-wide sketch built with the same geometry —
    // counters sum elementwise, addition commutes
    val global = words
      .agg(count_min_sketch($"word", lit(0.001), lit(0.99), lit(42)).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(global))
    rows.foreach { r =>
      assert(cms.estimateCount(r.getAs[String]("word")) == r.getAs[Long]("est_n"),
        s"merged-partials estimate diverged from the single-pass sketch for '${r.getAs[String]("word")}'")
    }
  }
}
