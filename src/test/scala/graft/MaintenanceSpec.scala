package graft

import org.apache.spark.sql.functions._
import graft.operators.{Curation, Maintenance}
import graft.queries.Relational

/** The round's maintenance/analytics additions: CDC latest-wins merge,
  * the ordered-step funnel, and the octave-weighted reservoir sample.
  * The DuckDB oracle pins exact values; these pin the SEMANTIC branches
  * (each merge action reachable, delete-of-absent a no-op, funnel step
  * ordering strict, weighting actually biases the sample) and the
  * determinism contracts that must survive refactors. */
class MaintenanceSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("cdc_merge: every action reachable; deletes drop; delete-of-absent is a no-op") {
    val rows = Maintenance.cdcMerge(spark, sf).collect()
    val byAction = rows.groupBy(_.getAs[String]("action"))
      .view.mapValues(_.length).toMap
    assert(byAction.keySet == Set("keep", "update", "insert"))
    assert(byAction.values.forall(_ > 0))
    // no key appears twice (latest-wins resolved to one op per key)
    val keys = rows.map(_.getAs[Long]("key"))
    assert(keys.distinct.length == keys.length)
    // kept rows carry no qty (no changelog touched them)
    assert(rows.filter(_.getAs[String]("action") == "keep")
      .forall(_.isNullAt(3)))
    // inserts are exactly changelog-only keys (key % 4 == 0 side)
    assert(rows.filter(_.getAs[String]("action") == "insert")
      .forall(_.getAs[Long]("key") % 4 == 0))
    // deletes really fire: some base keys must be absent from the output
    import spark.implicits._
    val baseKeys = spark.read.parquet(s"$sf/orders.parquet")
      .filter($"o_orderkey" % 4 =!= 0)
      .select($"o_orderkey").as[Long].collect().toSet
    assert((baseKeys -- keys.toSet).nonEmpty)
  }

  test("cdc_merge: re-run is bit-deterministic despite duplicate seq values") {
    val a = Maintenance.cdcMerge(spark, sf).collect().toSeq
    val b = Maintenance.cdcMerge(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("events_funnel: steps are strictly ordered and within the horizon") {
    val rows = Relational.eventsFunnel(spark, sf).collect()
    assert(rows.nonEmpty)
    val horizon = 7L * 24 * 3600 * 1000000000L
    rows.foreach { r =>
      val v = Option(r.getAs[java.lang.Long]("view_ns")).map(_.toLong)
      val c = Option(r.getAs[java.lang.Long]("click_ns")).map(_.toLong)
      val p = Option(r.getAs[java.lang.Long]("purchase_ns")).map(_.toLong)
      val step = r.getAs[Long]("funnel_step")
      // a later step implies all earlier ones, strictly increasing
      (v, c, p) match {
        case (Some(vv), Some(cc), Some(pp)) =>
          assert(vv < cc && cc < pp && pp - vv >= 0)
        case (Some(vv), Some(cc), None) => assert(vv < cc)
        case (None, Some(_), _) | (None, _, Some(_)) | (Some(_), None, Some(_)) =>
          fail(s"gap in funnel chain: $r")
        case _ => ()
      }
      c.foreach(cc => assert(cc - v.get <= horizon))
      p.foreach(pp => assert(pp - v.get <= horizon))
      assert(step == Seq(v, c, p).count(_.isDefined))
    }
  }

  test("corpus_sample_weighted: length-weighting overrepresents long docs") {
    import spark.implicits._
    val sample = Curation.sampleWeighted(spark, sf)
    val sampleMean = sample.agg(avg($"n_chars")).as[Double].head()
    val corpusMean = spark.read.parquet(s"$sf/documents.parquet")
      .agg(avg($"n_chars")).as[Double].head()
    // E-S with w ∝ length pulls the sampled mean above the corpus mean;
    // octave quantization keeps the pull, just coarser
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean ≤ corpus mean $corpusMean")
    // exactly top-20 per stratum, ranks contiguous from 1
    val perLang = sample.groupBy($"lang").agg(count(lit(1)).as("n"),
      max($"rk").as("mx"), min($"rk").as("mn")).collect()
    perLang.foreach { r =>
      assert(r.getAs[Long]("n") == r.getAs[Long]("mx"))
      assert(r.getAs[Long]("mn") == 1L)
    }
  }

  test("corpus_sample_weighted: selection is invariant under repartitioning") {
    val a = Curation.sampleWeighted(spark, sf).collect().toSeq
    val b = Curation.sampleWeighted(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("octave/sqrt-chain helpers: clamped octave and exact sqrt towers") {
    import spark.implicits._
    val df = Seq(1L, 31L, 32L, 63L, 64L, 255L, 4095L, 4096L, 100000L)
      .toDF("n")
      .selectExpr(s"n", s"${Curation.octaveSql("n")} AS k")
    val got = df.collect().map(r => r.getAs[Long]("n") -> r.getAs[Int]("k")).toMap
    assert(got(1L) == 5 && got(31L) == 5)      // clamp low
    assert(got(32L) == 5 && got(63L) == 5)
    assert(got(64L) == 6 && got(255L) == 7)
    assert(got(4095L) == 11 && got(4096L) == 12)
    assert(got(100000L) == 12)                 // clamp high
    // the sqrt tower really is u^(1/2^k)
    val key = Seq((0.25, 5)).toDF("u", "k")
      .selectExpr(Curation.sqrtChainSql("k", "u") + " AS s")
      .collect().head.getDouble(0)
    assert(math.abs(key - math.pow(0.25, 1.0 / 32)) < 1e-15)
  }

  test("cdc_scd2: is_current=1 slice IS the cdc_merge snapshot") {
    // the two operators share the changelog derivation and the per-key
    // total order, so the SCD2 current slice must equal latest-wins,
    // key for key and value for value — the invariant that makes the
    // history table a strict superset of the snapshot
    val snapshot = Maintenance.cdcMerge(spark, sf).collect()
      .map(r => r.getAs[Long]("key") ->
        ((r.getAs[String]("action"),
          r.getAs[Double]("price"),
          Option(r.get(3)).map(_.asInstanceOf[Double]))))
      .toMap
    val current = Maintenance.cdcScd2(spark, sf).collect()
      .filter(_.getAs[Long]("is_current") == 1L)
    assert(current.length == snapshot.size)
    current.foreach { r =>
      val key = r.getAs[Long]("key")
      val (action, price, qty) = snapshot(key)
      assert(r.getAs[Double]("price") == price, s"price mismatch key=$key")
      val scdQty = Option(r.get(4)).map(_.asInstanceOf[Double])
      assert(scdQty == qty, s"qty mismatch key=$key")
      // current base rows (op I) are exactly the snapshot's untouched
      // keeps (ver 0 alone doesn't identify them: a changelog-only key
      // starts its dense history at ver 0 too)
      val isBase = r.getAs[String]("op") == "I"
      assert(isBase == (action == "keep"), s"action mismatch key=$key")
    }
  }

  test("cdc_scd2: intervals chain gaplessly and D-terminated keys have no current row") {
    val rows = Maintenance.cdcScd2(spark, sf).collect()
      .groupBy(_.getAs[Long]("key"))
    var sawDeleted = false
    rows.foreach { case (key, hist) =>
      val byVer = hist.sortBy(_.getAs[Long]("ver"))
      // each non-final version's valid_to points at a LATER version
      // (not necessarily ver+1: a consumed D tombstone leaves a hole)
      byVer.foreach { r =>
        Option(r.get(5)).map(_.asInstanceOf[Long]).foreach { to =>
          assert(to > r.getAs[Long]("ver"), s"interval inverted key=$key")
        }
      }
      // at most one current row per key; zero means history ended in D
      val nCurrent = byVer.count(_.getAs[Long]("is_current") == 1L)
      assert(nCurrent <= 1, s"two current rows key=$key")
      if (nCurrent == 0) sawDeleted = true
      else assert(byVer.last.getAs[Long]("is_current") == 1L)
    }
    assert(sawDeleted, "fixture must exercise the D-terminated branch")
  }

  test("events_gapfill: grid complete per user, fill carries last observed value") {
    val rows = Maintenance.eventsGapfill(spark, sf).collect()
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    assert(byUser.nonEmpty)
    var sawGap = false
    byUser.foreach { case (u, rs) =>
      val starts = rs.map(_.getAs[Long]("win_start")).sorted
      // hourly grid with no holes between the user's first and last hour
      assert(starts.zip(starts.tail).forall { case (a, b) => b - a == 3600 },
        s"grid hole for user $u")
      // first and last grid rows are observed by construction (span ends)
      val sorted = rs.sortBy(_.getAs[Long]("win_start"))
      assert(sorted.head.getAs[Long]("observed") == 1L)
      assert(sorted.last.getAs[Long]("observed") == 1L)
      // forward fill: every unobserved row repeats the nearest earlier
      // observed value; observed rows carry their own value
      var lastVal: Option[Double] = None
      sorted.foreach { r =>
        val v = Option(r.get(2)).map(_.asInstanceOf[Double])
        if (r.getAs[Long]("observed") == 1L) lastVal = v
        else {
          sawGap = true
          assert(v == lastVal, s"fill mismatch user=$u ts=${r.get(1)}")
        }
      }
    }
    assert(sawGap, "fixture must contain at least one empty hour")
  }

  test("table_profile: stats agree with direct per-column computation") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val got = Maintenance.tableProfile(spark, sf).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    assert(got.keySet == Set("doc_id", "text", "lang", "source", "n_chars"))
    for (c <- got.keySet) {
      val vcol = docs.select(col(c).cast("string").as("v"))
      val nNulls = vcol.filter($"v".isNull).count()
      val nDistinct = vcol.filter($"v".isNotNull).distinct().count()
      val r = got(c)
      assert(r.getAs[Long]("n_nulls") == nNulls, s"nulls $c")
      assert(r.getAs[Long]("n_distinct") == nDistinct, s"distinct $c")
      // the mode really is the max-frequency value (ties -> smallest)
      val freq = vcol.filter($"v".isNotNull).groupBy($"v").count()
        .orderBy($"count".desc, $"v").limit(1).collect().head
      assert(r.getAs[String]("top_value") == freq.getAs[String]("v"), s"mode $c")
      assert(r.getAs[Long]("top_count") == freq.getAs[Long]("count"), s"mode n $c")
    }
    // doc_id is a key: distinct == rows, so the profiler proves keyness
    assert(got("doc_id").getAs[Long]("n_distinct") == docs.count())
  }

  test("mv_incremental: the refresh plan scans the base exactly once (the delta)") {
    val df = Maintenance.mvIncremental(spark, sf)
    // the day-1 state is checkpointed at build time, so the refresh's
    // executed plan must contain ONE lineitem file scan (the delta
    // branch) — a second would mean the incremental path silently
    // degenerated to a full recompute
    val plan = df.queryExecution.executedPlan.toString
    val scans = "(?i)FileScan parquet".r.findAllIn(plan).size +
      "Scan parquet".r.findAllIn(plan).size
    assert(scans >= 1, s"no parquet scan found in:\n$plan")
    assert(plan.split("lineitem.parquet").length - 1 <= 1,
      s"refresh must not rescan the base:\n$plan")
    // and the view itself is complete: groups cover the full flag set
    val rows = df.collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSet
      .contains(("R", "F")))
    assert(rows.forall(_.getAs[Long]("n_rows") > 0))
  }

  test("tableDiff: classification matches the snapshot construction exactly") {
    val rows = Maintenance.tableDiff(spark, sf).collect()
    assert(rows.nonEmpty)
    // the derived versions make class membership a pure key property:
    // added ⇔ key ≡ 4 (mod 5), removed ⇔ key ≡ 0 (mod 5),
    // updated ⇔ key in both and ≡ 0 (mod 3); nothing else may appear
    rows.foreach { r =>
      val k = r.getLong(0)
      val cls = r.getString(1)
      val expect =
        if (k % 5 == 4) "added"
        else if (k % 5 == 0) "removed"
        else if (k % 3 == 0) "updated"
        else fail(s"unchanged key $k leaked into the diff")
      assert(cls == expect, s"key $k classed $cls, expected $expect")
      cls match {
        case "added"   => assert(r.isNullAt(2) && !r.isNullAt(3))
        case "removed" => assert(!r.isNullAt(2) && r.isNullAt(3))
        case "updated" =>
          assert(r.getDouble(3) == r.getDouble(2) + 1.0) // the exact bump
      }
    }
    // and the diff covers EVERY key the construction perturbs
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .selectExpr("o_orderkey").collect().map(_.getLong(0))
    val expected = o.count(k =>
      k % 5 == 4 || k % 5 == 0 || k % 3 == 0)
    assert(rows.length == expected)
  }
}
