package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Pins event-time watermark semantics (SURVEY §2.5 ST2/ST5): windowed
  * aggregation in APPEND mode emits a window only after the watermark
  * passes its end, and data arriving later than the watermark allows is
  * DROPPED — never silently merged into an already-emitted window. The
  * reference has no ordering guarantees at all (each S3 event is an
  * independent Lambda); this pins the stronger contract our streaming
  * surface offers in its place. */
class WatermarkSpec extends SparkSuite {

  test("append-mode window closes on watermark; late data is dropped") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    val q = in.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"), sum($"v").as("s"))
      .select($"w.start".cast("long").as("w_start"), $"n", $"s")
      .writeStream.outputMode("append").format("memory")
      .queryName("wm_test").start()
    try {
      // batch 1: two events in the [0,5) window — nothing emits (append
      // mode holds windows open until the watermark passes their end)
      in.addData((ts(1), 10L), (ts(3), 5L))
      q.processAllAvailable()
      assert(spark.table("wm_test").count() == 0)
      // batch 2: an event at t=30 advances the watermark to 20 → the
      // [0,5) window is final and emits with BOTH batch-1 events
      in.addData((ts(30), 1L))
      q.processAllAvailable()
      val closed = spark.table("wm_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(closed.toSeq == Seq((0L, 2L, 15L)))
      // batch 3: a LATE event for the emitted window (t=2 < watermark 20)
      // must be dropped — the emitted result never changes
      in.addData((ts(2), 100L))
      q.processAllAvailable()
      val after = spark.table("wm_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(after.toSeq == Seq((0L, 2L, 15L)),
        "late data must not reopen or re-emit a finalized window")
    } finally q.stop()
  }

  test("stream_quantiles withholds exactly the windows past the final watermark") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val got = graft.queries.StreamQueries.streamQuantiles(spark, sf)
      .select($"win_start").as[Long].collect().toSet
    // batch hourly buckets + the closed-form cutoff the oracle uses
    val e = graft.queries.Relational.eventsNs(spark, sf)
      .selectExpr("ts_ns div 3600000000000 as hb", "ts_ns").cache()
    val all = e.select($"hb" * 3600).as[Long].distinct().collect().toSet
    val wmMs = e.agg(max($"ts_ns" / 1000000)).as[Double].head().toLong - 3600000L
    e.unpersist()
    val expected = all.filter(ws => (ws + 3600) * 1000 <= wmMs)
    assert(got == expected, "append emission must equal the watermark cutoff set")
    assert(got.size < all.size, "the tail window(s) must be withheld, not emitted")
  }

  test("dropDuplicatesWithinWatermark bounds state: key evicted after watermark passes") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val q = in.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
      .select($"k", $"ts".cast("long").as("t"))
      .writeStream.outputMode("append").format("memory")
      .queryName("wm_dedup_test").start()
    try {
      // batch 1: key "a" at t=1 emits once; its duplicate in the same
      // batch is suppressed by the state store
      in.addData((ts(1), "a"), (ts(1), "a"))
      q.processAllAvailable()
      assert(spark.table("wm_dedup_test").count() == 1)
      // batch 2: duplicate of "a" while the watermark (still below t=1)
      // hasn't evicted it → suppressed. "b" is new → emits.
      in.addData((ts(5), "a"), (ts(5), "b"))
      q.processAllAvailable()
      assert(spark.table("wm_dedup_test").count() == 2)
      // batch 3: t=60 advances the watermark far past "a"'s entry →
      // its state is EVICTED (this is the bounded-state guarantee)
      in.addData((ts(60), "c"))
      q.processAllAvailable()
      // batch 4: "a" re-arrives AFTER eviction → treated as new and
      // re-emitted. Unbounded dropDuplicates would still suppress it;
      // within-watermark dedup trades exactly this for bounded state.
      in.addData((ts(61), "a"))
      q.processAllAvailable()
      val ks = spark.table("wm_dedup_test").collect().map(_.getString(0)).sorted
      assert(ks.toSeq == Seq("a", "a", "b", "c"),
        "a key must re-emit once the watermark evicts its dedup state")
    } finally q.stop()
  }
}
