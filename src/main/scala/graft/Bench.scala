package graft
object Bench {

  /** Per-query instability detector. A query's recorded min is only
    * trustworthy when the run actually SETTLED onto it: the median of
    * the last three passes must sit within 25% of the overall min.
    * Warm-up descent (JIT/codegen) naturally ends with a settled tail,
    * so it does not flag; a query still descending at its last pass
    * (floor never reached) or spiked by box load near the end (tail
    * above the min) does. The r4 artifact's [4.12, 5.25, 10.49] —
    * an increasing profile whose "min" was the cold first pass — is
    * exactly what this catches. */
  private def suspect(ts: Seq[Double]): Option[String] = {
    if (ts.size < 2) return None
    // never let the cold first pass into the tail window
    val tail = ts.drop(1).takeRight(3).sorted
    val tailMedian = tail(tail.size / 2)
    // the 200 ms grace keeps sub-second queries from flagging on task
    //-scheduling jitter that is absolute, not proportional
    if (tailMedian > 1.25 * ts.min + 0.2) Some("tail-median-gt-1.25x-min")
    else None
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.util.LocalSession(cpus)
    // warm-up: load codegen/parquet/shuffle machinery once so the first
    // measured query doesn't absorb JVM start-up cost
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    // min of N passes per query: JIT/GC noise on a shared box dwarfs real
    // deltas; the min approximates steady-state executor behavior. All
    // pass times are emitted alongside the min so a loaded box shows up
    // as per-query SPREAD instead of masquerading as a code regression.
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    // optional comma-separated subset for local iteration on one operator
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // optional semicolon-separated conf overrides (k=v;k=v) for A/B runs
    // of engine dials without a code edit (e.g. the catalog-reuse arm)
    sys.env.get("SPARK_GRAFT_BENCH_CONF").foreach(_.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => spark.conf.set(k.trim, v.trim)
        case other => if (other.mkString.trim.nonEmpty)
          System.err.println(s"[bench] skipping malformed conf segment: '$kv'")
      }
    })
    // Output-emitting entries whose deliverable IS a wide string column:
    // under the count() consumer Catalyst prunes the very re-assembly a
    // real pipeline pays (measured: dedup_substring_scrub 0.40 s counted
    // vs 5.95 s materialized at sf1). These route through a noop-format
    // write instead — every column is computed and serialized, no disk
    // cost — so the recorded number is the number a consumer pays.
    val materializedNames: Set[String] =
      Set("dedup_substring_scrub", "text_scrub", "text_normalize")
    def time(name: String,
             fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        if (materializedNames(name)) df.write.format("noop").mode("overwrite").save()
        else df.count()
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case _: Throwable => None // failures report as -1, never as a time
      } finally {
        spark.catalog.clearCache() // per-query caches must not leak across passes
        // localCheckpoint blocks (components rounds, minhash/ngram
        // candidate leaves) live OUTSIDE the CacheManager and are
        // STRONGLY tracked by Dedup.trackCheckpoint — GC alone cannot
        // reclaim them. Release them explicitly (safe here: the query's
        // count() above has fully consumed the result), then collect so
        // each pass starts from the same heap state the query would see
        // in its own JVM (deferred block garbage was stalling UNRELATED
        // queries mid-suite: dedup_simhash_pairs ran [2.5, 6.2, 1.5]
        // in-suite but a clean warm-up descent in isolation).
        graft.operators.Dedup.unpersistIntermediates(spark)
        System.gc()
      }
    }
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(
          s"[bench] WARNING: SPARK_GRAFT_BENCH_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.contains(name))
    }
    if (selected.isEmpty)
      System.err.println("[bench] WARNING: zero queries selected — total will be 0")
    // Adaptive warm-up: JIT-heavy queries (minhash, corpus_clean) are
    // still descending after the default pass count, so their recorded
    // "min" is a warm-up sample, not the floor — r5 recorded 2.91 s for
    // dedup_minhash_lsh at n=3 against a documented 1.94 s isolated
    // floor, ~40% phantom noise in round-over-round comparisons. Keep
    // measuring while the LATEST pass still improves on the prior floor
    // by >10%, capped at max(passes, 6) total passes per query.
    val passCap = math.max(passes, 6)
    // extend an existing sample while the latest pass still improves on
    // the prior floor by >10% — the adaptive warm-up descent
    def descend(name: String, initial: IndexedSeq[Double], startAttempts: Int): IndexedSeq[Double] = {
      var ts = initial
      // cap counts ATTEMPTS, not successes: a pass that starts failing
      // mid-descent returns None and leaves ts unchanged — counting
      // ts.size alone would spin on the failing query forever
      var attempts = startAttempts
      while (ts.size >= 2 && attempts < passCap &&
             ts.last <= 0.9 * ts.dropRight(1).min) {
        attempts += 1
        ts = ts ++ time(name, selected(name))
      }
      ts
    }
    def measure(name: String): IndexedSeq[Double] =
      descend(name, (1 to passes).flatMap(_ => time(name, selected(name))), passes)
    // INTERLEAVED epochs, not back-to-back passes: epoch 1 of every
    // query, then epoch 2 of every query, … A transient contention
    // window (cron tick, page-cache churn) then inflates ONE pass of
    // many queries instead of ALL passes of the two queries it happened
    // to straddle — the min survives, and cross-run per-query floors
    // become comparable. This is the protocol fix behind the r7 finding
    // that identical code moved individual queries ±20-40% between runs:
    // consecutive passes share the contention window; interleaved ones
    // do not.
    val order = selected.keys.toSeq.sorted
    var results: Map[String, IndexedSeq[Double]] =
      order.map(_ -> IndexedSeq.empty[Double]).toMap
    for (_ <- 1 to passes; name <- order)
      time(name, selected(name)).foreach { t =>
        results += name -> (results(name) :+ t)
      }
    // per-query adaptive descent AFTER the epochs, so extension passes
    // don't skew epoch spacing
    for (name <- order)
      results += name -> descend(name, results(name), passes)
    // Self-defense against box load (three contaminated official
    // artifacts in a row motivated this): re-run every SUSPECT query —
    // per suspect(): tail-median above 1.25× the min plus a 200 ms
    // absolute grace — once at the end, appending up to `passes` extra
    // passes.
    // By then the original contention window has usually moved on, so
    // the rerun floors replace contaminated mins instead of shipping
    // them as "the" number.
    val rerun = results.collect {
      case (name, ts) if suspect(ts).isDefined => name -> suspect(ts).get
    }
    rerun.keys.foreach { name =>
      // the rerun uses the same adaptive descent so a contaminated run is
      // replaced by a floor, not by another possibly-still-warming sample
      results += name -> (results(name) ++ measure(name))
    }
    // whatever is STILL suspect after the rerun is reported, not hidden
    val flagged = results.collect {
      case (name, ts) if suspect(ts).isDefined => name -> suspect(ts).get
    }
    // Locale.ROOT: the default-locale f-interpolator would print a
    // decimal COMMA on e.g. de_DE JVMs, corrupting the JSON line
    def fmt(d: Double) = "%.6f".formatLocal(java.util.Locale.ROOT, d)
    def jstr(s: String) = "\"" + s + "\""
    val mins = results.map { case (k, ts) =>
      k -> (if (ts.isEmpty) -1.0 else ts.min)
    }
    val qs = mins.map { case (k, v) => jstr(k) + ":" + fmt(v) }
      .mkString("{", ",", "}")
    val allPasses = results.map { case (k, ts) =>
      jstr(k) + ":" + ts.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // per-query spread (max−min over this process's passes): the
    // cross-run comparability contract — a round-over-round delta
    // smaller than BOTH rounds' recorded spreads is box noise by
    // definition and must not be graded as a regression
    val spreadQ = results.map { case (k, ts) =>
      k -> (if (ts.isEmpty) -1.0 else ts.max - ts.min)
    }
    val spreadQJson = spreadQ.map { case (k, v) => jstr(k) + ":" + fmt(v) }
      .mkString("{", ",", "}")
    val materializedJson = materializedNames.intersect(selected.keySet)
      .toSeq.sorted.map(jstr).mkString("[", ",", "]")
    val flaggedJson = flagged.map { case (k, why) => jstr(k) + ":" + jstr(why) }
      .mkString("{", ",", "}")
    // spread = max-min across passes, summed: the box-noise indicator —
    // large spread with unchanged mins means a loaded machine, not a
    // regression
    val spread = results.values.collect {
      case ts if ts.nonEmpty => ts.max - ts.min
    }.sum
    val total = if (mins.nonEmpty) mins.values.sum else 0.0
    // Steady spread looks only at each query's LAST-3-pass tail: pass 1
    // pays Catalyst planning + codegen, and early warm passes can still
    // be descending JIT warm-up even on an idle box — neither is load.
    // A box that is actually contended cannot produce an agreeing tail,
    // so tail disagreement summed across queries is the honest load
    // signal. With a single pass there is no sample — contribute 0
    // (can't assess ≠ contaminated).
    val steadySpread = results.values.map { ts =>
      val tail = ts.drop(1).takeRight(3) // cold pass 1 never counts
      if (tail.size >= 2) tail.max - tail.min else 0.0
    }.sum
    // validity stamp: a loaded box shows as warm-pass spread; when that
    // is a material fraction of the summed mins the numbers are
    // contamination, not measurement — consumers must treat valid:false
    // runs as void. The denominator sums only SUCCESSFUL query mins: the
    // -1 failure sentinels in `mins` are a per-query signal, not box
    // load, and must not distort the ratio. The 0.15 cut is deliberate:
    // the r4 artifact shipped steady_spread/total ≈ 0.30 stamped valid,
    // and its four worst mins were 1.5-3× their idle floors.
    val okTotal = mins.values.filter(_ >= 0).sum
    // the same 200 ms absolute grace suspect() applies per query: on a
    // dedicated SUB-SECOND-total process the proportional cut reads the
    // tail of the JIT warm-up descent as load (r12 adjudication: every
    // q10-only process stamped invalid at floors its 8-process agreement
    // and the old-code control proved honest). On a full-suite total
    // (~260 s) the grace is noise-level and changes nothing.
    val valid = okTotal > 0.0 && steadySpread <= 0.15 * okTotal + 0.2 &&
      flagged.isEmpty
    val json = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":$passes,"spread":${fmt(spread)},"steady_spread":${fmt(steadySpread)},"valid":$valid,"flagged":$flaggedJson,"reran":${rerun.keys.toSeq.sorted.map(jstr).mkString("[", ",", "]")},"queries":$qs,"passes":$allPasses,"spread_q":$spreadQJson,"materialized":$materializedJson,"sf":"$sfDir"}"""
    println(json)
    // VERDICT r16 measurement-trust item: the full line above (~26 KB with
    // the per-query `passes`/`spread_q` arrays) overflows the driver's
    // stdout-tail capture, so PERF per_query came back empty two rounds
    // running. Emit a SECOND, mins-only compact line LAST (same metric /
    // value / unit / queries / sf contract, ~5 KB) so a tail-bounded
    // capture still sees one complete parseable object. The full line and
    // the file artifact below keep every pass sample — nothing is dropped.
    def fmt3(d: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    val qsCompact = mins.map { case (k, v) => jstr(k) + ":" + fmt3(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt3(total)},"unit":"sec","n":$passes,"valid":$valid,"queries":$qsCompact,"sf":"$sfDir"}""")
    // also land the artifact on disk: the stdout line has been lost to
    // log-tail truncation before; the file copy always parses standalone.
    // Path is overridable (SPARK_GRAFT_BENCH_OUT) and otherwise resolved
    // against the working directory — no baked-in checkout location.
    val outPath = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .map(java.nio.file.Paths.get(_).toAbsolutePath)
      .getOrElse(java.nio.file.Paths.get("target", "bench.json").toAbsolutePath)
    java.nio.file.Files.createDirectories(outPath.getParent)
    java.nio.file.Files.write(outPath,
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
