package graft.queries

import graft.functions.GraftFunctions.dot
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Streaming-semantics queries (SURVEY.md §2.5): the event-per-object
  * ingest as a checkpointed Structured Streaming run over a scratch copy
  * of the reference fixtures. Deterministic → rows-only driver check. */
object StreamQueries {

  /** Drain-and-release for the finite streaming queries: materialize the
    * (small, already-driver-resident — memory sinks hold every emitted
    * row in the driver anyway) result, then drop the sink temp view and
    * delete the scratch input copies, so repeated invocations (bench
    * passes, long sessions) accumulate neither driver tables nor disk
    * copies. The schema is captured from the result itself — never
    * hand-maintained. */
  private def materializeAndRelease(
      s: SparkSession, result: DataFrame,
      dropView: Option[String], deleteDirs: Seq[java.nio.file.Path]): DataFrame = {
    val schema = result.schema
    val rows = result.collect().toSeq
    dropView.foreach(s.catalog.dropTempView(_))
    deleteDirs.foreach(graft.util.Fs.deleteRecursively)
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.asJava, schema)
  }


  /** Run `f` with `spark.sql.shuffle.partitions` temporarily lowered to
    * `spark.graft.stream.shufflePartitions` (default 8): every stateful
    * streaming operator creates one state-store partition per shuffle
    * partition PER MICRO-BATCH, so the finite drains here were paying
    * 32-way task fan-out times the batch count on kilobyte-scale state.
    * The session value is snapshotted at stream start, so scoping the
    * override around construction+drain is sufficient and the batch
    * session setting is restored afterwards (these finite-drain helpers
    * run serially — Bench and Verify invoke one query at a time). */
  private def withStreamPartitions[A](s: SparkSession)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, s.conf.get("spark.graft.stream.shufflePartitions", "8"))
    try f finally s.conf.set(key, prev)
  }

  /** Stage a scratch copy of one testdata parquet under target/dicomq and
    * mint a unique memory-sink view name — the shared preamble of every
    * finite readStream query. Returns (inputDir, viewName); pass both back
    * through [[materializeAndRelease]]. */
  private def stageInput(s: SparkSession, dir: String, file: String, prefix: String): (java.nio.file.Path, String) = {
    val base = graft.util.Fs.scratchDir(s, "dicomq")
    val in = java.nio.file.Files.createTempDirectory(base, prefix).toAbsolutePath
    val src = java.nio.file.Paths.get(s"$dir/$file")
    // the driver's testdata tables are single files, but Spark-written
    // tables (e.g. the sf1 rehearsal corpus) are DIRECTORIES of part
    // files — a plain copy would stage an empty dir and the stream
    // would silently drain zero rows. Part files go DIRECTLY under the
    // staged dir: the file stream source lists the dir it is given and
    // does not recurse into a nested `<table>.parquet/` level.
    if (java.nio.file.Files.isDirectory(src)) {
      // recurse: a PARTITIONED Spark table nests part files under
      // date=.../ levels — flatten every data file directly into the
      // staged dir (names uniquified with a depth-order counter so
      // same-named parts from different partitions can't collide)
      val walk = java.nio.file.Files.walk(src)
      var staged = 0
      try {
        val it = walk.iterator()
        while (it.hasNext) {
          val p = it.next()
          if (java.nio.file.Files.isRegularFile(p) &&
              !p.getFileName.toString.startsWith("_") &&
              !p.getFileName.toString.startsWith(".")) {
            java.nio.file.Files.copy(p, in.resolve(f"$staged%05d_" + p.getFileName.toString))
            staged += 1
          }
        }
      } finally walk.close() // Files.walk leaks directory fds otherwise
      require(staged > 0,
        s"stageInput: no data files found under $src — the stream would silently drain zero rows")
    } else java.nio.file.Files.copy(src, in.resolve(file))
    val name = s"stream_${prefix}_" + java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
    (in, name)
  }

  /** Drain an AvailableNow binaryFile stream of (2 loose + 1 zip) fixture
    * objects through the SAME extraction as the batch path; return
    * per-source-object image counts read back from the partitioned sink. */
  def streamIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = graft.util.Fs.scratchDir(s, "dicomq")
    val out = java.nio.file.Files.createTempDirectory(base, "stream").toAbsolutePath.toString
    val in = s"$out/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    Seq("example-0", "example-6", "example.zip").foreach { f =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"${DicomQueries.Fixtures}/$f"),
        java.nio.file.Paths.get(s"$in/$f"))
    }
    val q = graft.streaming.DicomStream.start(
      s, in, s"$out/data", s"$out/errors", s"$out/ckpt")
    q.awaitTermination()
    materializeAndRelease(s,
      s.read.parquet(s"$out/data")
        .groupBy(element_at(split($"source_s3_key", "/"), -1).as("source_key"))
        .agg(count(lit(1)).as("n_images"))
        .orderBy($"source_key"),
      dropView = None,
      deleteDirs = Seq(java.nio.file.Paths.get(out)))
  }

  /** STREAMING DICOM→CORPUS FUNNEL — the live twin of
    * [[graft.queries.DicomQueries.corpusFunnel]], closing the end-to-end
    * story in the deployment shape the reference actually runs (one
    * event per arriving object): every fixture object drains through
    * [[graft.streaming.DicomStream]] at `maxFilesPerTrigger=1` (route →
    * expand → parse → flatten per micro-batch, a checkpointed source
    * log that never re-lists a committed object, an at-least-once
    * partitioned parquet sink that appends a replayed batch twice — the
    * gated ingest path unchanged), then the curation funnel runs over
    * the SINK relation via [[graft.queries.DicomQueries.funnelFromRaw]] —
    * the same normalize/exact-dedup/near-dup/quality expressions, stage
    * for stage. Per-batch
    * schemas differ (each object observes its own key set), so the sink
    * read merges schemas — the union-of-observed-keys semantics the
    * batch extraction computes in one pass; values are per-row
    * deterministic either way, so streamed ≡ batch row-for-row
    * (pinned in DicomPipelineSpec). At scale: extraction cost is the
    * ingest stream's own (per-object narrow work), the funnel adds the
    * one dedup exchange — the exact batch-funnel plan over yesterday's
    * standing sink instead of a re-extraction. */
  def streamCorpusFunnel(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    val base = java.nio.file.Files.createTempDirectory(
      graft.util.Fs.scratchDir(s, "dicomq"), "sfunnel").toAbsolutePath
    try {
      val in = base.resolve("in")
      java.nio.file.Files.createDirectories(in)
      import scala.jdk.CollectionConverters._
      val src = java.nio.file.Paths.get(DicomQueries.Fixtures)
      val ls = java.nio.file.Files.list(src)
      try ls.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .foreach(p => java.nio.file.Files.copy(p, in.resolve(p.getFileName)))
      finally ls.close()
      val q = graft.streaming.DicomStream.start(
        s, in.toString, s"$base/data", s"$base/errors", s"$base/ckpt",
        maxFilesPerTrigger = Some(1))
      q.awaitTermination()
      val sunk = s.read.option("mergeSchema", "true").parquet(s"$base/data")
      materializeAndRelease(s, DicomQueries.funnelFromRaw(s, sunk),
        dropView = None, deleteDirs = Seq.empty)
    } finally graft.util.Fs.deleteRecursively(base)
  }

  /** STREAMED DAY-2 FUNNEL DELTA — the live twin of
    * [[graft.queries.DicomQueries.corpusFunnelDelta]], completing the
    * batch/stream symmetry for the day-2 composition: ONLY the delta
    * manifest's objects (the hash-new subset + the changed object)
    * drain through the checkpointed per-object ingest stream
    * (`maxFilesPerTrigger=1` — each arriving object is its own
    * micro-batch, the reference's event-per-object shape), the standing
    * corpus stays a batch relation (yesterday's sink stand-in), and the
    * SAME incremental funnel runs over the merged-schema sink via
    * [[graft.queries.DicomQueries.funnelDeltaFromRaw]] — hash semi-join
    * vs standing hashes, incrementalPairs near-dup, per-row quality,
    * stage for stage the batch twin's expressions. Streamed ≡ batch
    * delta row for row (DicomPipelineSpec). At scale this IS the
    * deployment: objects arrive as events, extraction amortizes into
    * the ingest stream, and each morning's funnel job reads the
    * standing sink's hash/band relations plus only the new micro-batch
    * dirs. */
  def streamCorpusFunnelDelta(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    val base = java.nio.file.Files.createTempDirectory(
      graft.util.Fs.scratchDir(s, "dicomq"), "sfdelta").toAbsolutePath
    try {
      val in = base.resolve("in")
      java.nio.file.Files.createDirectories(in)
      val (standingManifest, deltaManifest) = DicomQueries.dayTwoManifests(s)
      // the delta manifest is fixture-sized (a handful of rows) — the
      // driver stages those objects into the stream source, exactly the
      // event notifications a deployment would receive
      deltaManifest.select("path").collect().foreach { r =>
        val p = java.nio.file.Paths.get(new java.net.URI(r.getString(0)))
        java.nio.file.Files.copy(p, in.resolve(p.getFileName))
      }
      val q = graft.streaming.DicomStream.start(
        s, in.toString, s"$base/data", s"$base/errors", s"$base/ckpt",
        maxFilesPerTrigger = Some(1))
      q.awaitTermination()
      val standingRaw = graft.pipeline.DicomPipeline.toDataFrame(s,
        graft.pipeline.DicomPipeline.extractFromManifest(
          s, standingManifest, "ref-bucket", "ref-region").rows)
      val sunk = s.read.option("mergeSchema", "true").parquet(s"$base/data")
      materializeAndRelease(s,
        DicomQueries.funnelDeltaFromRaw(s, standingRaw, sunk),
        dropView = None, deleteDirs = Seq.empty)
    } finally graft.util.Fs.deleteRecursively(base)
  }

  /** The streaming twin of `Relational.eventsNs`: whatever physical
    * `ts` the driver's generator wrote — epoch-ns long (TIMESTAMP(NANOS)
    * under `nanosAsLong`), TIMESTAMP (µs), or TIMESTAMP_NTZ (µs, naive;
    * the current generation) — restore the exact epoch-ns bigint `ts`
    * every streaming query below is written against. The NTZ cast to
    * TIMESTAMP is exact under the UTC session timezone all entry points
    * pin; integer arithmetic only, bit-identical to DuckDB epoch_ns. */
  private def withTsNs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df
      case TimestampNTZType =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case _ => df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
    }
  }

  /** Event-time tumbling aggregation as a STREAMING query: the events
    * table drained through `readStream` (AvailableNow) into a complete-
    * mode in-memory sink. Must produce exactly the batch `q14` result —
    * and shares its DuckDB oracle, so the streaming engine itself is
    * correctness-gated. Exact integer ns bucket math as in q14. */
  def streamEventsWindow(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    import s.implicits._
    val (in, name) = stageInput(s, dir, "events.parquet", "win")
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    val q = withTsNs(s.readStream.schema(schema).parquet(in.toString))
      .groupBy((expr("ts div 300000000000") * 300).as("bucket"), $"event_type")
      .agg(count(lit(1)).as("n_events"), round(sum($"value"), 2).as("sum_value"))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    materializeAndRelease(s,
      s.table(name).orderBy($"bucket", $"event_type"),
      dropView = Some(name), deleteDirs = Seq(in))
  }

  /** One changelog op for the streaming CDC operator. */
  case class CdcOp(key: Long, seq: Long, op: String, price: Double,
                   qty: Double)

  /** STREAMING CDC LATEST-WINS (mapGroupsWithState): the online twin of
    * [[graft.operators.Maintenance.cdcMerge]] — the changelog arrives
    * as a stream, per-key state holds the current winning op (ONE row
    * per key, the provable minimum for latest-wins), and the drained
    * state folds into the base snapshot batch-side. The comparator is
    * the exact total order the batch merge ranks by (max seq; ties →
    * minimal (op, price, qty)), applied as a running fold — a property
    * the batch path gets from row_number and the stream gets for free
    * because the fold is ASSOCIATIVE AND COMMUTATIVE in arrival order:
    * any interleaving of micro-batches lands on the same winner, which
    * is what lets this entry share cdc_merge's DuckDB oracle verbatim.
    * State is bounded by live keys (a production deployment would add
    * TTL eviction for retired keys, the [[streamNearDupTtl]] pattern). */
  def streamCdcLatest(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    import s.implicits._
    val (in, name) = stageInput(s, dir, "lineitem.parquet", "cdc")
    val schema = s.read.parquet(s"$dir/lineitem.parquet").schema

    // the winning op under cdc_merge's total order: larger seq wins;
    // equal seq → LEXICALLY SMALLER (op, price, qty) wins (that is the
    // row the batch rn=1 picks under seq DESC, op ASC, price ASC, qty ASC)
    val tieOrd: Ordering[(String, Double, Double)] =
      Ordering.Tuple3(Ordering.String, Ordering.Double.TotalOrdering,
        Ordering.Double.TotalOrdering)
    def better(a: CdcOp, b: CdcOp): CdcOp =
      if (a.seq > b.seq) a
      else if (a.seq < b.seq) b
      else if (tieOrd.compare((a.op, a.price, a.qty),
                              (b.op, b.price, b.qty)) <= 0) a
      else b

    def update(key: Long, ops: Iterator[CdcOp],
               state: GroupState[CdcOp]): CdcOp = {
      val st = (state.getOption.iterator ++ ops).reduce(better)
      state.update(st)
      st
    }

    val q = s.readStream.schema(schema).parquet(in.toString)
      .select($"l_orderkey".as("key"),
        $"l_linenumber".cast("long").as("seq"),
        when($"l_returnflag" === "R", "D").otherwise("U").as("op"),
        (floor($"l_extendedprice" * (lit(1.0) - $"l_discount") * 100
           + 0.5).cast("double") / 100).as("price"),
        $"l_quantity".as("qty"))
      .as[CdcOp]
      .groupByKey(_.key)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // final winner per key = best emission under the same total order
    // (the carried state only ever "improves", so this equals the last
    // emission — selected deterministically, not by sink row order)
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"key")
      .orderBy($"seq".desc, $"op", $"price", $"qty")
    val latest = s.table(name)
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"key", $"op", $"price".as("new_price"), $"qty".as("new_qty"))

    val base = s.read.parquet(s"$dir/orders.parquet")
      .filter($"o_orderkey" % 4 =!= 0)
      .select($"o_orderkey".as("key"),
              $"o_orderstatus".as("base_status"),
              round($"o_totalprice", 2).as("base_price"))
    materializeAndRelease(s,
      base.join(latest, Seq("key"), "full_outer")
        .filter($"op".isNull || $"op" === "U")
        .select(
          $"key",
          when($"op".isNull, "keep")
            .when($"base_status".isNull, "insert")
            .otherwise("update").as("action"),
          when($"op".isNull, $"base_price").otherwise($"new_price")
            .as("price"),
          when($"op".isNull, lit(null).cast("double")).otherwise($"new_qty")
            .as("qty"))
        .orderBy($"key"),
      dropView = Some(name), deleteDirs = Seq(in))
  }

  /** Per-user event shape for the stateful operator (ts is epoch-ns long
    * under nanosAsLong). */
  case class UserEvent(event_id: Long, ts: Long, user_id: Long)
  /** Carried group state: sessions seen so far + last event timestamp. */
  case class SessionState(nSessions: Long, nEvents: Long, lastTs: Long)
  case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  /** CUSTOM STATEFUL STREAMING (flatMapGroupsWithState): per-user
    * sessionization with a 30-minute gap rule, state carried across
    * micro-batches. Drained with AvailableNow, the final emission must
    * equal the BATCH q15 result — so the custom-state path shares q15's
    * DuckDB oracle. Events are sorted (ts, event_id) inside the group,
    * exactly the batch window's ordering. */
  def streamSessionize(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    import s.implicits._
    val (in, name) = stageInput(s, dir, "events.parquet", "sess")
    val schema = s.read.parquet(s"$dir/events.parquet").schema

    def update(uid: Long, events: Iterator[UserEvent],
               state: GroupState[SessionState]): Iterator[UserSessions] = {
      val sorted = events.toSeq.sortBy(e => (e.ts, e.event_id))
      var st = state.getOption.getOrElse(SessionState(0L, 0L, Long.MinValue))
      sorted.foreach { e =>
        val newSession = st.lastTs == Long.MinValue || e.ts - st.lastTs > 1800000000000L
        st = SessionState(st.nSessions + (if (newSession) 1 else 0), st.nEvents + 1, e.ts)
      }
      state.update(st)
      Iterator.single(UserSessions(uid, st.nSessions, st.nEvents))
    }

    val q = withTsNs(s.readStream.schema(schema).parquet(in.toString))
      .select($"event_id", $"ts", $"user_id").as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // update-mode memory sink: keep each user's LAST emission (= final state)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id")
      .orderBy($"n_events".desc)
    materializeAndRelease(s,
      s.table(name)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"n_sessions", $"n_events")
        .orderBy($"user_id"),
      dropView = Some(name), deleteDirs = Seq(in))
  }

  /** STREAMING DEDUPLICATION (`dropDuplicates` state store): the
    * documents table drained through `readStream`, emitting each content
    * digest the first time it is seen. The final digest SET is
    * order-independent, so the streamed result must equal batch
    * `SELECT DISTINCT md5(text)` — the oracle gates the streaming
    * dedup state machinery itself. (Unbounded keys here because the
    * drain is finite; a production stream would add a watermark +
    * `dropDuplicatesWithinWatermark` to bound state.) */
  /** BOUNDED-STATE STREAMING DEDUPLICATION (`withWatermark` +
    * `dropDuplicatesWithinWatermark`): the production shape for an
    * infinite stream — dedup state for a key is EVICTED once the
    * event-time watermark passes it, so the state store is bounded by
    * the key arrival rate × watermark horizon instead of growing with
    * the full key universe (the unbounded [[streamDedup]] would OOM a
    * 100 TB stream). Keys here are (user_id, event_type) with event
    * time derived from the ns-long `ts`.
    *
    * Oracle parity: the finite AvailableNow drain processes the single
    * staged parquet file as one micro-batch, during which the watermark
    * is still at its initial floor — no key is evicted mid-drain, so
    * the emitted set equals batch `SELECT DISTINCT user_id, event_type`
    * and the entry shares a DuckDB oracle. The eviction semantics
    * themselves (duplicate re-admitted after the watermark passes its
    * first occurrence) are pinned across micro-batches in WatermarkSpec. */
  def streamDedupWatermarked(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    import s.implicits._
    val (in, name) = stageInput(s, dir, "events.parquet", "wmdedup")
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    val q = withTsNs(s.readStream.schema(schema).parquet(in.toString))
      .select($"user_id", $"event_type",
        timestamp_micros(expr("ts div 1000")).as("event_time"))
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select($"user_id", $"event_type")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    materializeAndRelease(s,
      s.table(name).orderBy($"user_id", $"event_type"),
      dropView = Some(name), deleteDirs = Seq(in))
  }

  /** STREAM–STREAM INTERVAL JOIN: errors and clicks arrive as two
    * independent streams; each error joins the same-user clicks landing
    * in its strictly-preceding 10 minutes. Both sides carry event-time
    * watermarks, and the join condition bounds click_time relative to
    * err_time — together these let Spark EVICT buffered rows once the
    * watermark passes their join horizon, so join state is bounded by
    * (arrival rate × window + watermark delay), not the stream prefix:
    * the production shape for correlating two infinite streams.
    *
    * Oracle parity: the finite AvailableNow drain buffers/joins exactly
    * the batch inner-join matches (no row's horizon expires mid-drain),
    * so counting matches per error equals the batch/DuckDB inner range
    * join. Event times are µs-grain (`ts div 1000`) — the same grain the
    * oracle sees (q25/q28 precedent). The per-error rollup happens on
    * the drained (driver-local) matches; the streaming engine owns the
    * join itself. */
  /** The watermarked (errors, clicks) sides and the 10-minute interval
    * condition shared by the INNER and LEFT OUTER stream–stream joins —
    * one builder so the twins (and their paired oracles' CTEs) can
    * never drift on the interval, the delay, or the timestamp grain. */
  private def errorClickSides(s: SparkSession, in: java.nio.file.Path)
      : (DataFrame, DataFrame, org.apache.spark.sql.Column) = {
    import s.implicits._
    val schema = s.read.parquet(in.toString).schema
    def side(): DataFrame = withTsNs(s.readStream.schema(schema).parquet(in.toString))
    val errors = side()
      .filter($"event_type" === "error")
      .select($"event_id", $"user_id",
        timestamp_micros(expr("ts div 1000")).as("err_time"))
      .withWatermark("err_time", "1 hour")
    val clicks = side()
      .filter($"event_type" === "click")
      .select($"user_id".as("c_user"),
        timestamp_micros(expr("ts div 1000")).as("click_time"))
      .withWatermark("click_time", "1 hour")
    val cond = $"user_id" === $"c_user" &&
      $"click_time" >= $"err_time" - expr("INTERVAL 10 MINUTES") &&
      $"click_time" < $"err_time"
    (errors, clicks, cond)
  }

  def streamStreamJoin(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    import s.implicits._
    val (in, name) = stageInput(s, dir, "events.parquet", "ssjoin")
    val (errors, clicks, cond) = errorClickSides(s, in)
    val q = errors
      .join(clicks, cond)
      .select($"event_id")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    materializeAndRelease(s,
      s.table(name)
        .groupBy($"event_id")
        .agg(count(lit(1)).as("n_prior_clicks"))
        .orderBy($"event_id"),
      dropView = Some(name), deleteDirs = Seq(in))
  }

  /** WATERMARKED LEFT OUTER STREAM–STREAM JOIN — the state-CLOSURE
    * semantics the inner join never exercises: matched error→click
    * pairs emit as they join, but an UNMATCHED error row emits (with
    * nulls) only when the global watermark proves no qualifying click
    * can still arrive — i.e. watermark ≥ err_time, since any future
    * click has event time ≥ watermark and the condition needs
    * click_time < err_time. The AvailableNow drain's trailing no-data
    * micro-batch advances the watermark to min(max err, max click) − 1h
    * and flushes exactly the closable unmatched rows.
    *
    * That emission rule is a CLOSED FORM the DuckDB oracle states
    * verbatim (matches ∪ unmatched-below-watermark), the
    * `stream_quantiles` discipline: the gate hash-fails if Spark leaks
    * an unclosed row or withholds a closable one. Output folds to
    * (event_id, n_prior_clicks) with n = 0 for the null-emitted rows —
    * precisely the rows the INNER twin (`stream_stream_join`) omits. */
  def streamStreamOuter(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    import s.implicits._
    val (in, name) = stageInput(s, dir, "events.parquet", "ssouter")
    val (errors, clicks, cond) = errorClickSides(s, in)
    val q = errors
      .join(clicks, cond, "left_outer")
      .select($"event_id", $"c_user")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    materializeAndRelease(s,
      s.table(name)
        .groupBy($"event_id")
        .agg(count($"c_user").as("n_prior_clicks"))
        .orderBy($"event_id"),
      dropView = Some(name), deleteDirs = Seq(in))
  }

  /** STREAM–STATIC ENRICHMENT JOIN: the event stream joined to the
    * (batch) customer dimension — the canonical streaming-enrichment
    * shape. The static side is broadcast into every micro-batch, so the
    * stream never shuffles and no join state accrues (nothing to evict —
    * the dim is re-resolved per batch, which is also how dim updates
    * become visible mid-stream). Per-batch enriched rows aggregate by
    * market segment in complete mode; the finite drain must equal the
    * batch join + rollup, which is the DuckDB oracle. */
  def streamStaticJoin(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    import s.implicits._
    val (in, name) = stageInput(s, dir, "events.parquet", "enrich")
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    val dim = broadcast(
      s.read.parquet(s"$dir/customer.parquet")
        .select($"c_custkey", $"c_mktsegment"))
    val q = s.readStream.schema(schema).parquet(in.toString)
      .filter($"event_type" === "purchase")
      .join(dim, $"user_id" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_purchases"),
        round(sum($"value"), 2).as("sum_value"))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    materializeAndRelease(s,
      s.table(name).orderBy($"c_mktsegment"),
      dropView = Some(name), deleteDirs = Seq(in))
  }

  def streamDedup(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    import s.implicits._
    val (in, name) = stageInput(s, dir, "documents.parquet", "dedup")
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    val q = s.readStream.schema(schema).parquet(in.toString)
      .select(md5($"text").as("text_hash"))
      .dropDuplicates("text_hash")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    materializeAndRelease(s,
      s.table(name).orderBy($"text_hash"),
      dropView = Some(name), deleteDirs = Seq(in))
  }

  case class BandRow(doc_id: Long, band: Int, band_hash: String)
  case class BandRowTs(doc_id: Long, band: Int, band_hash: String,
                       event_time: java.sql.Timestamp)
  case class NearDupHit(doc_id: Long, near_dup_of: Long)

  /** MinHash band columns over the `h0`/`h1` per-shingle md5 arrays —
    * shared by the NoTimeout and TTL drains so their signatures stay
    * bit-identical (and identical to the batch operators' oracle). */
  private def nearDupBandCols: Seq[org.apache.spark.sql.Column] = {
    def mh(p: Int): String =
      s"array_min(transform(h${p / 4}, h -> substring(h, ${p % 4 * 8 + 1}, 8)))"
    (0 to 3).map { b =>
      struct(lit(b).as("band"),
        md5(concat(lit(s"${2 * b}:"), expr(mh(2 * b)),
                   lit(s"|${2 * b + 1}:"), expr(mh(2 * b + 1)))).as("band_hash"))
    }
  }

  /** Tokenize → 3-shingle → per-shingle md5s, the shared front of both
    * near-dup drains; keeps `passthrough` columns alongside `doc_id`. */
  private def nearDupBands(stream: DataFrame,
                           passthrough: Seq[String]): DataFrame = {
    val s = stream.sparkSession
    import s.implicits._
    val keep = col("doc_id") +: passthrough.map(col)
    stream
      .select(keep :+
        expr("filter(split(text, ' '), x -> length(x) > 0)").as("tk"): _*)
      .filter(size($"tk") >= 3)
      .withColumn("sh", expr(
        "transform(sequence(0, size(tk) - 3), i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))"))
      .withColumn("h0", expr("transform(sh, x -> md5(concat('0|', x)))"))
      .withColumn("h1", expr("transform(sh, x -> md5(concat('1|', x)))"))
      .select(keep :+ explode(array(nearDupBandCols: _*)).as("bb"): _*)
      .select(keep ++ Seq($"bb.band".as("band"), $"bb.band_hash".as("band_hash")): _*)
  }

  /** STREAMING NEAR-DUP FILTER: MinHash-LSH dedup of a document stream
    * against everything already ingested — the online twin of
    * `dedup_minhash_lsh` / `dedup_incremental`.
    *
    * The per-doc signature is computed SCALAR-WISE (HOFs over the token
    * array — no streaming aggregation, so the stateful op below is the
    * query's only stateful operator; chaining agg→state is illegal in
    * Structured Streaming). The hash family is bit-identical to the
    * batch `bandsOf`: min over `substring(md5((p/4)|shingle),
    * (p%4)*8+1, 8)` — so the DuckDB oracle is the SAME band SQL as the
    * batch operators.
    *
    * State: ONE long (the owning doc_id) per live (band, band_hash)
    * bucket — the store is bucket-count-sized, independent of document
    * sizes. First owner wins; every later doc sharing a bucket emits
    * (doc_id, owner), and the drain folds the per-band hits to
    * min(owner) per doc. Within a micro-batch groups process id-sorted,
    * so a single-batch drain (the driver gate's shape) equals the batch
    * answer "min lower id sharing any bucket" exactly — hash-checked by
    * the oracle. ACROSS batches the semantics are deliberately
    * first-SEEN (a later-arriving lower id becomes the new owner but
    * reports nothing — it is new content vs what was already accepted);
    * NearDupStreamSpec pins that divergence as intended. Production
    * shape: the state runs on the ROCKSDB provider (disk-backed, not
    * executor heap — see [[withRocksDbState]]), so unbounded bucket
    * growth degrades to local-disk size, not OOM; corpora that must
    * bound state absolutely add a bucket TTL
    * (`GroupStateTimeout.ProcessingTimeTimeout`) exactly like the
    * watermarked exact dedup; the finite drain here keeps NoTimeout. */
  def streamNearDup(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    val (in, name) = stageInput(s, dir, "documents.parquet", "neardup")
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    nearDupDrain(s, s.readStream.schema(schema).parquet(in.toString),
      name, deleteDirs = Seq(in))
  }

  /** State-operator footprint of the LAST [[nearDupDrain]] on this JVM:
    * (state rows = live buckets, state bytes as the provider reports
    * them). Written after every drain for the scale rehearsal and
    * NearDupStreamSpec — a query-progress side-channel, never consumed
    * by query results. */
  @volatile private[graft] var lastNearDupState: Option[(Long, Long)] = None

  /** Run `f` with the RocksDB state store provider active for any
    * stream STARTED inside (the provider class is snapshotted per
    * query at start). The near-dup filter's state is one long per live
    * (band, band_hash) bucket — bucket-count-sized, which still grows
    * with corpus size forever, so production runs need state that
    * SPILLS: RocksDB keeps the working set on local disk with an
    * in-heap block cache, where the default HDFSBackedStateStoreProvider
    * pins every version of every partition's map in executor heap. */
  private[graft] def withRocksDbState[A](s: SparkSession)(f: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  /** The bands→bucket-state→drain core of [[streamNearDup]], taking any
    * streaming documents frame — exposed so NearDupStreamSpec can drive
    * it with a multi-file `maxFilesPerTrigger=1` source and pin the
    * cross-batch first-seen semantics. Runs on RocksDB state
    * ([[withRocksDbState]]). */
  /** The bands→bucket-state pipeline of [[nearDupDrain]] as an UNSUNK
    * Dataset — split out so NearDupRestartSpec can attach its own
    * checkpointed foreachBatch sink and drive stop → restart (the
    * memory sink the drain uses cannot recover from a checkpoint). */
  private[graft] def nearDupHits(s: SparkSession,
      stream: DataFrame): org.apache.spark.sql.Dataset[NearDupHit] = {
    import s.implicits._
    def update(key: (Int, String), rows: Iterator[BandRow],
               state: GroupState[Long]): Iterator[NearDupHit] = {
      val ids = rows.map(_.doc_id).toSeq.sorted
      var owner = state.getOption.getOrElse(Long.MaxValue)
      val out = Seq.newBuilder[NearDupHit]
      ids.foreach { id =>
        if (id < owner) owner = id
        else if (id > owner) out += NearDupHit(id, owner)
      }
      state.update(owner)
      out.result().iterator
    }
    nearDupBands(stream, passthrough = Nil)
      .as[BandRow]
      .groupByKey(r => (r.band, r.band_hash))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  private[graft] def nearDupDrain(s: SparkSession, stream: DataFrame,
      name: String, deleteDirs: Seq[java.nio.file.Path]): DataFrame =
    drainNearDupHits(s, nearDupHits(s, stream), name, deleteDirs)

  /** Sink-and-fold tail shared by [[nearDupDrain]] and
    * [[streamNearDupIndexed]]: drain `hits` through a memory sink under
    * the RocksDB provider, fold min(owner) per doc. */
  private def drainNearDupHits(s: SparkSession,
      hits: org.apache.spark.sql.Dataset[NearDupHit],
      name: String, deleteDirs: Seq[java.nio.file.Path]): DataFrame = withRocksDbState(s) {
    import s.implicits._
    val q = hits
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // record the state-operator footprint (rows = live buckets) before
    // the query object goes away — the rehearsal's state-growth evidence
    lastNearDupState = Option(q.lastProgress)
      .flatMap(p => p.stateOperators.headOption)
      .map(op => (op.numRowsTotal, op.memoryUsedBytes))
    materializeAndRelease(s,
      s.table(name)
        .groupBy($"doc_id")
        .agg(min($"near_dup_of").as("near_dup_of"))
        .orderBy($"doc_id"),
      dropView = Some(name), deleteDirs = deleteDirs)
  }

  /** DAY-2 STREAMING NEAR-DUP — the streaming filter WARM-STARTED from
    * the persisted day-1 index: the same `writeIndex` artifact the
    * batch day-2 path (`dedup_incremental_idx`) reads becomes the
    * INITIAL STATE of the streaming bucket store, so a continuously-
    * ingesting day 2 dedups against yesterday's full corpus without
    * replaying one historical document through the stream.
    *
    * Day-1 ownership is FROZEN (encoded as `-(owner+1)` in the state
    * long): accepted-corpus content is canonical, so a stream doc
    * sharing a bucket with ANY day-1 doc reports that bucket's day-1
    * min owner even when the stream doc's id is lower — the semantics a
    * takedown-free production filter wants ("is this new content
    * already in the corpus"), and deliberately distinguishable from
    * plain min-wins (the sf0.01 gate corpus contains such a row, so the
    * oracle hash itself pins the frozen rule; IndexedNearDupStreamSpec
    * pins it on crafted data too). Buckets absent from the index behave
    * exactly like [[streamNearDup]]: first-seen min-wins among stream
    * docs.
    *
    * Scale shape: initial state is the index's BAND relation folded to
    * one long per bucket (min day-1 owner) — the warm-start costs index
    * bytes once, runs through the state store's own load path (no
    * corpus re-shingling, no historical replay), and lives on RocksDB
    * (disk-backed) exactly like the cold filter's state. The `sets`
    * half of the artifact is untouched — band-collision semantics need
    * no Jaccard verify, matching [[streamNearDup]]. */
  def streamNearDupIndexed(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    import s.implicits._
    val all = s.read.parquet(s"$dir/documents.parquet")
    val isBatch = pmod(col("doc_id"), lit(10)) === lit(7)
    val base = graft.util.Fs.scratchDir(s, "dicomq")
    val root = java.nio.file.Files.createTempDirectory(base, "neardupidx").toAbsolutePath
    val idx = root.resolve("index").toString
    val in = root.resolve("stream").toString
    // day-1: the SAME persisted artifact the batch incremental path reads
    graft.operators.Dedup.writeIndex(s, all.filter(!isBatch), idx)
    all.filter(isBatch).coalesce(1).write.parquet(in)
    val name = "stream_neardupidx_" + java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
    val hits = nearDupHitsIndexed(s,
      s.readStream.schema(all.schema).parquet(in), s"$idx/bands")
    drainNearDupHits(s, hits, name, deleteDirs = Seq(root))
  }

  /** The warm-started bands→bucket-state pipeline of
    * [[streamNearDupIndexed]], exposed unsunk for
    * IndexedNearDupStreamSpec. `indexBandsPath` is the `bands` relation
    * of a [[graft.operators.Dedup.writeIndex]] artifact. */
  private[graft] def nearDupHitsIndexed(s: SparkSession, stream: DataFrame,
      indexBandsPath: String): org.apache.spark.sql.Dataset[NearDupHit] = {
    import s.implicits._
    def update(key: (Int, String), rows: Iterator[BandRow],
               state: GroupState[Long]): Iterator[NearDupHit] = {
      val ids = rows.map(_.doc_id).toSeq.sorted
      val st = state.getOption
      if (st.exists(_ < 0)) {
        // day-1 bucket: ownership frozen — every stream arrival is a hit
        val owner = -st.get - 1
        ids.iterator.map(NearDupHit(_, owner))
      } else {
        var owner = st.getOrElse(Long.MaxValue)
        val out = Seq.newBuilder[NearDupHit]
        ids.foreach { id =>
          if (id < owner) owner = id
          else if (id > owner) out += NearDupHit(id, owner)
        }
        state.update(owner)
        out.result().iterator
      }
    }
    // per-bucket day-1 min owner, frozen-encoded as -(owner+1) so the
    // update fn can tell warm-started buckets (< 0) from stream-created
    // ones (≥ 0) inside one Long state slot
    val init = s.read.parquet(indexBandsPath)
      .groupBy($"band", $"band_hash").agg(min($"doc_id").as("owner"))
      .select($"band".cast("int").as("_1"), $"band_hash".as("_2"),
        (lit(0L) - $"owner" - 1).as("_3"))
      .as[(Int, String, Long)]
      .groupByKey(t => (t._1, t._2))
      .mapValues(_._3)
    nearDupBands(stream, passthrough = Nil)
      .as[BandRow]
      .groupByKey(r => (r.band, r.band_hash))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout, init)(update)
  }

  /** TTL near-dup filter: [[streamNearDup]] with an ABSOLUTE state
    * bound — each bucket expires `horizon` of EVENT TIME after its
    * newest member, so live state is rate × horizon buckets, the same
    * guarantee `stream_dedup_watermarked` gives exact dedup. Event time
    * here is synthesized deterministically from doc_id (epoch +
    * doc_id seconds) and the horizon is derived as corpus-span + 48 h,
    * so the finite driver drain never expires anything at ANY scale
    * factor → shares the NoTimeout query's oracle verbatim.
    * Re-admission is the semantic
    * price and is pinned in NearDupStreamSpec: after a bucket expires,
    * the next arrival becomes the new owner and reports NOTHING — old
    * content has aged out of "what was already accepted". */
  def streamNearDupTtl(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    val (in, name) = stageInput(s, dir, "documents.parquet", "neardupttl")
    val batchRead = s.read.parquet(s"$dir/documents.parquet")
    // the gate's oracle-equality contract requires that NOTHING expires
    // mid-drain, so the horizon is DERIVED from the corpus's synthetic
    // event-time span (doc_id seconds) plus 48 h of slack — a fixed
    // horizon would silently start expiring (and hash-diverging) the
    // moment a larger corpus's span crossed it
    val spanMs = 1000L * batchRead
      .agg(coalesce(max(col("doc_id")), lit(0L))).head().getLong(0)
    nearDupDrainTtl(s,
      s.readStream.schema(batchRead.schema).parquet(in.toString)
        .withColumn("event_time",
          timestamp_seconds(lit(1700000000L) + col("doc_id"))),
      name, horizonMs = spanMs + 48L * 3600 * 1000, deleteDirs = Seq(in))
  }

  /** TTL near-dup with expiry PROVABLY FIRING mid-drain — the
    * oracle-gated hardening of [[streamNearDupTtl]] (whose gate horizon
    * deliberately outlives the corpus). The corpus replays as 4
    * doc_id-range micro-batches (event time = epoch + doc_id seconds,
    * so range order IS event-time order) with horizon = ONE batch width
    * — buckets idle for ≥ 2 batches expire once the watermark passes,
    * and their next arrival re-admits silently as the new owner.
    *
    * Why 4 and not "8 files drained 2 per trigger": the oracle's closed
    * form encodes the watermark-checkpoint GEOMETRY, and coalescing
    * file batches changes it — a bucket whose consecutive members sit
    * exactly 3 narrow ranges apart expires under 8 checkpoints but
    * would never see an intermediate merged batch, turning a silent
    * re-admission into a reported near-dup. So the RANGE WIDTH is the
    * dial (query and oracle move together), not the files-per-trigger.
    *
    * Those semantics have a CLOSED FORM the DuckDB oracle states with
    * window functions: a bucket member opens a new epoch iff
    * `batch(cur) − batch(prev) ≥ 2` (a dataless batch existed for the
    * timeout to fire in — a key with data never times out) AND
    * `P(batch(cur) − 1) ≥ prev + 2·horizon` where `P(b)` = max event
    * time before batch `b` (the watermark is `P − horizon` and the
    * timeout fires at `prev + horizon`, so the two horizons compound);
    * every non-opening member reports its epoch's opener. The Spark
    * side computes NOTHING from that formula — it runs the real
    * EventTimeTimeout state machine; the driver hash-compares the two. */
  def streamNearDupTtlExpiry(s: SparkSession, dir: String): DataFrame = {
    // this drain pays per-micro-batch per-partition state-store commits
    // 8 times over — with RocksDB that is 8 × partitions store
    // opens/commits for a few thousand tiny state rows. Run the state
    // on FEWER partitions than the stream default (hash partitioning of
    // keys cannot change per-key outputs, so the gate hash is
    // invariant); serial-only conf mutation like withStreamPartitions.
    val key = "spark.sql.shuffle.partitions"
    val ckKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prev = s.conf.get(key)
    val prevCk = s.conf.getOption(ckKey)
    s.conf.set(key, s.conf.get("spark.graft.stream.ttlExpiryPartitions", "2"))
    // 8 micro-batches × per-partition commits: full-snapshot RocksDB
    // checkpoints dominate; changelog checkpointing writes the delta
    s.conf.set(ckKey, "true")
    try streamNearDupTtlExpiryBody(s, dir)
    finally {
      s.conf.set(key, prev)
      prevCk match {
        case Some(v) => s.conf.set(ckKey, v)
        case None    => s.conf.unset(ckKey)
      }
    }
  }

  private def streamNearDupTtlExpiryBody(s: SparkSession, dir: String): DataFrame = {
    val batchRead = s.read.parquet(s"$dir/documents.parquet")
    val maxId = batchRead.agg(coalesce(max(col("doc_id")), lit(0L))).head().getLong(0)
    // 8 range batches: the count is load-bearing twice over — the
    // oracle's closed form encodes the same watermark-checkpoint
    // geometry, and at the 500-doc gate corpus a coarser split (4
    // tried in r8) makes every bucket's members land within ~1 batch
    // of each other, so expiry NEVER fires and the gate goes vacuous
    // (NearDupStreamSpec pins non-vacuity). Machinery cost is paid
    // per micro-batch, so the trim lever is per-batch cost, not count.
    val nBatches = 8
    val w = (maxId + nBatches) / nBatches // = ceil((maxId+1)/nBatches)
    val base = graft.util.Fs.scratchDir(s, "dicomq")
    val in = java.nio.file.Files.createTempDirectory(base, "neardupexp").toAbsolutePath
    // stage all 8 range files in ONE write job (a dynamic-partitioned
    // write keyed on the range index — repartition on the key first so
    // each range lands as exactly one part file) instead of 8 separate
    // filter+coalesce jobs: same files, 1/8th the job-scheduling
    // machinery. The 8-micro-batch DRAIN is untouched — merging ranges
    // into fewer micro-batches is NOT hash-preserving (a bucket whose
    // consecutive members sit exactly 3 ranges apart expires under 8
    // batches but would never see an intermediate merged batch, turning
    // a silent re-admission into a reported near-dup).
    val tmp = java.nio.file.Files.createTempDirectory(base, "neardupexpb")
    try {
      batchRead.withColumn("b", expr(s"doc_id div $w"))
        .repartition(nBatches, col("b"))
        .write.partitionBy("b").parquet(tmp.resolve("out").toString)
      (0 until nBatches).foreach { i =>
        val bDir = tmp.resolve("out").resolve(s"b=$i")
        // dense doc_ids make every range non-empty; a missing range dir
        // would silently drop a dataless micro-batch (and its timeout
        // checkpoint) — fail loudly instead
        require(java.nio.file.Files.isDirectory(bDir),
          s"range $i of $nBatches produced no file — doc_id space not dense?")
        val part = java.nio.file.Files.list(bDir)
          .filter(_.toString.endsWith(".parquet")).findFirst().get()
        val dest = in.resolve(f"part-$i%04d.parquet")
        java.nio.file.Files.copy(part, dest)
        // explicit strictly-increasing mtimes: the file source orders
        // by modification time, and sub-ms writes could otherwise tie
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      }
    } finally graft.util.Fs.deleteRecursively(tmp)
    val name = "stream_neardupexp_" + java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
    val stream = s.readStream.schema(batchRead.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(in.toString)
      .withColumn("event_time",
        timestamp_seconds(lit(1700000000L) + col("doc_id")))
    nearDupDrainTtl(s, stream, name, horizonMs = w * 1000L, deleteDirs = Seq(in))
  }

  /** The TTL drain core ([[streamNearDupTtl]]), exposed for the
    * re-admission spec. `stream` must carry doc_id, text, and an
    * `event_time` timestamp; the watermark delay doubles as the bucket
    * horizon. Runs on RocksDB state like the NoTimeout drain. */
  private[graft] def nearDupDrainTtl(s: SparkSession, stream: DataFrame,
      name: String, horizonMs: Long,
      deleteDirs: Seq[java.nio.file.Path]): DataFrame = withRocksDbState(s) {
    import s.implicits._
    def update(key: (Int, String), rows: Iterator[BandRowTs],
               state: GroupState[Long]): Iterator[NearDupHit] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val rs = rows.toSeq
        val ids = rs.map(_.doc_id).sorted
        var owner = state.getOption.getOrElse(Long.MaxValue)
        val out = Seq.newBuilder[NearDupHit]
        ids.foreach { id =>
          if (id < owner) owner = id
          else if (id > owner) out += NearDupHit(id, owner)
        }
        state.update(owner)
        // the bucket lives `horizon` past its newest member's event time
        state.setTimeoutTimestamp(rs.map(_.event_time.getTime).max + horizonMs)
        out.result().iterator
      }
    }
    // one staged file per trigger = ONE input partition per micro-batch,
    // which would run the whole minhash-banding expression single-
    // threaded; fan the raw docs out first (tiny rows — the exchange is
    // kilobytes) so the md5 work uses the cores. Round-robin keeps the
    // spread even; per-key semantics are partition-invariant.
    val q0 = nearDupBands(
        stream.repartition(8)
          .withWatermark("event_time", s"${horizonMs / 1000} seconds"),
        passthrough = Seq("event_time"))
      .as[BandRowTs]
      .groupByKey(r => (r.band, r.band_hash))
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(update)
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
    // a finite memory-sink drain has no durability story to protect —
    // its checkpoint (offset/commit WAL fsyncs + RocksDB uploads, paid
    // once per micro-batch × 9 batches) can live on tmpfs when the box
    // has one. Real deployments point checkpointLocation at durable
    // storage; this is harness plumbing, not operator semantics.
    val shm = java.nio.file.Paths.get("/dev/shm")
    val ckDir =
      if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
        Some(java.nio.file.Files.createTempDirectory(shm, "graft-ttl-ck"))
      else None
    val q = ckDir.fold(q0)(d => q0.option("checkpointLocation", d.toString)).start()
    try q.awaitTermination()
    finally ckDir.foreach(graft.util.Fs.deleteRecursively)
    lastNearDupState = Option(q.lastProgress)
      .flatMap(p => p.stateOperators.headOption)
      .map(op => (op.numRowsTotal, op.memoryUsedBytes))
    materializeAndRelease(s,
      s.table(name)
        .groupBy($"doc_id")
        .agg(min($"near_dup_of").as("near_dup_of"))
        .orderBy($"doc_id"),
      dropView = Some(name), deleteDirs = deleteDirs)
  }

  /** BUILT-IN SESSION WINDOWS: the engine-native twin of
    * [[streamSessionize]] — the same per-user 30-minute-gap
    * sessionization, but through Spark's `session_window` aggregation
    * (dynamic-gap merging window state) instead of hand-rolled
    * flatMapGroupsWithState — so the engine's merging-window state
    * machinery is itself hash-gated.
    *
    * Boundary subtleties the gap and the oracle encode:
    * `session_window` ends are half-open (an event at exactly
    * lastEvent + gap opens a NEW session) while the q15 rule extends a
    * session on an exact-gap tie — the 30 min + 1 µs gap makes the
    * built-in window extend on equality too. And the engine computes on
    * µs event times (Spark's finest timestamp grain), so this entry's
    * oracle compares µs-TRUNCATED gaps (`epoch_us`): on a sub-µs ts
    * generation q15's ns-grain SQL would call a 1800000000500 ns pair a
    * new session where the µs engine merges it. On µs-grain data the
    * numbers equal q15's. */
  def streamSessionWindow(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    import s.implicits._
    val (in, name) = stageInput(s, dir, "events.parquet", "sesswin")
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    val q = withTsNs(s.readStream.schema(schema).parquet(in.toString))
      .select($"user_id", timestamp_micros(expr("ts div 1000")).as("event_time"))
      .groupBy(session_window($"event_time", "1800000001 microseconds"), $"user_id")
      .agg(count(lit(1)).as("n_ev"))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    materializeAndRelease(s,
      s.table(name)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_sessions"), sum($"n_ev").as("n_events"))
        .orderBy($"user_id"),
      dropView = Some(name), deleteDirs = Seq(in))
  }

  /** One token routed to its word-shard (shard = hash(word) mod S, so a
    * word's counts NEVER split across shards). */
  case class TokenRow(shard: Int, word: String)
  /** Per-shard carried state: the Misra-Gries summary + a monotone
    * processed-token counter identifying the LAST emission at drain. */
  final class ShardHHState(var mg: graft.functions.MGState,
                           var nSeen: Long) extends Serializable
  case class ShardHHEmit(shard: Int, n_seen: Long, words: Array[String],
                         counts: Array[Long], err: Long)

  /** STREAMING HEAVY HITTERS: the bounded-state online twin of the
    * batch `text_heavy_hitters`. Tokens route to word-shards
    * (shard = hash(word) mod S — a word's count never splits), and each
    * shard carries ONE Misra-Gries summary as flatMapGroupsWithState
    * state: live state is S × O(m) counters regardless of how much
    * stream has passed, the bound that makes corpus-scale online top-k
    * possible at all. At drain the final per-shard summaries union
    * (shards partition the vocabulary — no cross-shard merge) into the
    * global top-20.
    *
    * Exactness contract: counts are EXACT while no shard ever trims
    * (per-shard distinct words ≤ m — the fixture's vocabulary is far
    * under it, so this finite drain shares the batch query's DuckDB
    * oracle verbatim); a vocabulary overflowing m degrades to the
    * documented Misra-Gries lower bounds with a per-shard err, the
    * guarantee MisraGriesSpec pins on the shared core. */
  /** The stateful CORE of [[streamHeavyHitters]], exposed so the
    * restart spec can drive it against an explicit checkpoint: shard
    * the streamed documents' tokens and carry one Misra-Gries summary
    * per shard, emitting the shard's summary each micro-batch. */
  def hhSummaries(s: SparkSession, docStream: DataFrame,
                  m: Int, shards: Int): org.apache.spark.sql.Dataset[ShardHHEmit] = {
    import s.implicits._
    val agg = new graft.functions.MisraGries(m)

    def update(shard: Int, rows: Iterator[TokenRow],
               state: GroupState[ShardHHState]): Iterator[ShardHHEmit] = {
      val st = state.getOption.getOrElse(new ShardHHState(agg.zero, 0L))
      // feed the batch's tokens in m-sized chunks: live memory stays
      // O(m) (the summary plus one chunk) — materializing the whole
      // shard-batch token stream first would be O(batch), the exact
      // unbounded growth the per-shard summary exists to prevent
      rows.grouped(m).foreach { chunk =>
        val tokens = chunk.iterator.map(_.word).toArray
        st.mg = agg.reduce(st.mg, tokens)
        st.nSeen += tokens.length
      }
      state.update(st)
      val sm = agg.finish(st.mg)
      Iterator.single(ShardHHEmit(shard, st.nSeen, sm.words, sm.counts, sm.err))
    }

    implicit val stateEnc: org.apache.spark.sql.Encoder[ShardHHState] =
      org.apache.spark.sql.Encoders.kryo[ShardHHState]
    docStream
      .select(explode(expr(
        "filter(split(lower(text), ' '), x -> length(x) > 0)")).as("word"))
      .select(pmod(xxhash64($"word"), lit(shards)).cast("int").as("shard"), $"word")
      .as[TokenRow]
      .groupByKey(_.shard)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  def streamHeavyHitters(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    import s.implicits._
    val m = s.conf.get("spark.graft.stream.hh.m", "4096").toInt
    val shards = s.conf.get("spark.graft.stream.hh.shards", "8").toInt
    val (in, name) = stageInput(s, dir, "documents.parquet", "hh")
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    val q = hhSummaries(s, s.readStream.schema(schema).parquet(in.toString),
        m, shards)
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // update-mode memory sink: keep each shard's LAST emission (final
    // state), union the disjoint summaries, global exact top-20
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"n_seen".desc)
    materializeAndRelease(s,
      s.table(name)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select(explode(arrays_zip($"words", $"counts")).as("wc"))
        .select($"wc.words".as("word"), $"wc.counts".as("n"))
        .orderBy($"n".desc, $"word")
        .limit(20),
      dropView = Some(name), deleteDirs = Seq(in))
  }

  /** STREAMING WINDOWED PERCENTILES, append mode: exact p50/p95/p99 of
    * `value` per 1-hour event-time window, emitted only when the 1-hour
    * watermark closes the window — the APPEND-MODE window lifecycle
    * (accumulate → watermark passes end → emit once → evict state),
    * which no other gated query exercises (the window twins run
    * complete-mode; the TTL twins gate state expiry, not window
    * emission).
    *
    * The append contract is itself oracle-gated: a drained stream emits
    * exactly the windows whose end ≤ final watermark = max event time
    * − delay (ms grain — Spark tracks watermarks in milliseconds), and
    * the DuckDB oracle reproduces that cutoff in closed form from the
    * same data, so a wrong emission boundary (a tail window leaking, an
    * off-by-one at the cutoff) hash-fails the gate.
    *
    * State per live window is its value list — rate × horizon bounded,
    * evicted at emission (this is the exact-percentile tier; the
    * sketch-bounded tier is q35's mergeable GK partials). Percentile
    * selection is pure indexing into the sorted list (idx = ⌊q·(n−1)⌋,
    * the lower order statistic) — no float arithmetic beyond one
    * multiply both engines round identically, and the values themselves
    * pass through untouched bit-for-bit. */
  def streamQuantiles(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    import s.implicits._
    val (in, name) = stageInput(s, dir, "events.parquet", "quant")
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    val q = withTsNs(s.readStream.schema(schema).parquet(in.toString))
      .select(timestamp_micros(expr("ts div 1000")).as("event_time"), $"value")
      .withWatermark("event_time", "1 hour")
      .groupBy(window($"event_time", "1 hour"))
      .agg(sort_array(collect_list($"value")).as("vals"))
      .select(
        expr("unix_micros(window.start) div 1000000").as("win_start"),
        $"vals")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def pick(qf: Double) =
      expr(s"vals[cast(floor($qf * (size(vals) - 1)) as int)]")
    materializeAndRelease(s,
      s.table(name)
        .select($"win_start", size($"vals").cast("long").as("n"),
          pick(0.5).as("p50"), pick(0.95).as("p95"), pick(0.99).as("p99"))
        .orderBy($"win_start"),
      dropView = Some(name), deleteDirs = Seq(in))
  }

  case class SigRow(id: Long, nm: String, sig: String)
  case class EditDupHit(doc_id: Long, dup_of: Long)

  /** Exact unit-cost Levenshtein — the same DP Spark's `levenshtein`
    * and DuckDB's compute, rewritten here because the state-update
    * function runs as plain Scala on the executor. */
  private[graft] def lev(a: String, b: String): Int = {
    val prev = new Array[Int](b.length + 1)
    val cur = new Array[Int](b.length + 1)
    var j = 0
    while (j <= b.length) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      j = 1
      while (j <= b.length) {
        val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), sub)
        j += 1
      }
      Array.copy(cur, 0, prev, 0, b.length + 1)
      i += 1
    }
    prev(b.length)
  }

  /** STREAMING EDIT-DISTANCE DEDUP FILTER — the online twin of
    * [[graft.operators.Dedup.editJoin]], with the same state discipline
    * as [[streamNearDup]]: one owner per live SIGNATURE (symmetric-
    * delete: the name plus its one-char deletions), first owner wins.
    * Each later arrival sharing a signature is checked against that
    * owner with the EXACT Levenshtein DP (the state holds the owner's
    * name — 2 strings per live signature) and reports (id, owner) only
    * within distance 1; the drain folds hits to min(owner) per id.
    *
    * The operator's contract is deliberately the ONLINE one — "checked
    * against each signature's first owner", not "against every prior
    * name" (which would need unbounded per-signature state) — and that
    * contract has a closed form the DuckDB oracle states verbatim:
    * owner(sig) = min id carrying sig; dup_of(id) = min over shared
    * sigs of owner within distance ≤ 1. In a single AvailableNow batch
    * each signature group processes id-sorted, so the drain equals that
    * SQL exactly; a signature owned by a COLLIDING non-match (shared
    * sig, distance 2 — e.g. transposed neighbors) hides later true
    * matches behind it in BOTH spellings, which is the documented
    * online-approximation gap vs the batch join. State keys are the
    * signature STRINGS (not hashes): collisions would merge buckets and
    * silently diverge from the string-keyed oracle. */
  def streamEditDup(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    val (in, name) = stageInput(s, dir, "customer.parquet", "editdup")
    val schema = s.read.parquet(s"$dir/customer.parquet").schema
    editDupDrain(s, s.readStream.schema(schema).parquet(in.toString),
      name, deleteDirs = Seq(in))
  }

  /** The signatures→owner-state pipeline of [[editDupDrain]] as an
    * UNSUNK Dataset — split out so EditDupRestartSpec can attach its own
    * checkpointed foreachBatch sink and drive stop → restart (the
    * memory sink the drain uses cannot recover from a checkpoint). */
  private[graft] def editDupHits(s: SparkSession,
      stream: DataFrame): org.apache.spark.sql.Dataset[EditDupHit] = {
    import s.implicits._
    def update(key: String, rows: Iterator[SigRow],
               state: GroupState[(Long, String)]): Iterator[EditDupHit] = {
      val arr = rows.toSeq.sortBy(_.id)
      var (ownerId, ownerNm) = state.getOption.getOrElse((Long.MaxValue, ""))
      val out = Seq.newBuilder[EditDupHit]
      arr.foreach { r =>
        if (r.id < ownerId) { ownerId = r.id; ownerNm = r.nm }
        else if (r.id > ownerId && lev(r.nm, ownerNm) <= 1)
          out += EditDupHit(r.id, ownerId)
      }
      state.update((ownerId, ownerNm))
      out.result().iterator
    }
    stream
      .select($"c_custkey".as("id"), $"c_name".as("nm"),
        explode(expr(graft.operators.Dedup.deletionSigExpr("c_name")))
          .as("sig"))
      .as[SigRow]
      .groupByKey(_.sig)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  /** The signatures→owner-state→drain core of [[streamEditDup]], taking
    * any streaming customer frame — exposed so EditDupStreamSpec can
    * drive it one file per trigger and pin the cross-batch first-seen
    * semantics. */
  private[graft] def editDupDrain(s: SparkSession, stream: DataFrame,
      name: String, deleteDirs: Seq[java.nio.file.Path]): DataFrame = {
    import s.implicits._
    val q = withRocksDbState(s) {
      editDupHits(s, stream)
        .writeStream
        .outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    materializeAndRelease(s,
      s.table(name)
        .groupBy($"doc_id")
        .agg(min($"dup_of").as("dup_of"))
        .orderBy($"doc_id"),
      dropView = Some(name), deleteDirs = deleteDirs)
  }

  case class SigRowTs(id: Long, nm: String, sig: String,
                      event_time: java.sql.Timestamp)

  /** TTL twin of [[streamEditDup]] — the r7 PLANS note made the honest
    * caveat that the NoTimeout filter's KEY COUNT grows with distinct
    * signatures forever; this variant expires a signature's owner
    * `horizon` of event time after its newest carrier, bounding total
    * state at rate × horizon signatures — the same absolute guarantee
    * the near-dup family's TTL twin gives. Event time is synthesized
    * from c_custkey (epoch + key seconds) and the gate horizon is
    * derived as corpus-span + 48 h, so the finite drain never expires
    * anything and the query SHARES `stream_editdup_filter`'s oracle
    * verbatim; the expiry semantics themselves (re-admission as new
    * owner, no report) are pinned on crafted batches in
    * EditDupStreamSpec's TTL test. */
  def streamEditDupTtl(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    val (in, name) = stageInput(s, dir, "customer.parquet", "editdupttl")
    val batchRead = s.read.parquet(s"$dir/customer.parquet")
    val spanMs = 1000L * batchRead
      .agg(coalesce(max(col("c_custkey")), lit(0L))).head().getLong(0)
    val stream = s.readStream.schema(batchRead.schema).parquet(in.toString)
      .withColumn("event_time",
        timestamp_seconds(lit(1700000000L) + col("c_custkey")))
    editDupDrainTtl(s, stream, name,
      horizonMs = spanMs + 48L * 3600 * 1000, deleteDirs = Seq(in))
  }

  /** The TTL drain core behind [[streamEditDupTtl]], exposed for the
    * re-admission spec. `stream` must carry c_custkey, c_name, and an
    * `event_time` timestamp; the watermark delay doubles as the owner
    * horizon. RocksDB state like every stateful drain here. */
  private[graft] def editDupDrainTtl(s: SparkSession, stream: DataFrame,
      name: String, horizonMs: Long,
      deleteDirs: Seq[java.nio.file.Path]): DataFrame = withRocksDbState(s) {
    import s.implicits._
    def update(key: String, rows: Iterator[SigRowTs],
               state: GroupState[(Long, String)]): Iterator[EditDupHit] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val arr = rows.toSeq.sortBy(_.id)
        var (ownerId, ownerNm) = state.getOption.getOrElse((Long.MaxValue, ""))
        val out = Seq.newBuilder[EditDupHit]
        arr.foreach { r =>
          if (r.id < ownerId) { ownerId = r.id; ownerNm = r.nm }
          else if (r.id > ownerId && lev(r.nm, ownerNm) <= 1)
            out += EditDupHit(r.id, ownerId)
        }
        state.update((ownerId, ownerNm))
        state.setTimeoutTimestamp(arr.map(_.event_time.getTime).max + horizonMs)
        out.result().iterator
      }
    }
    val q = stream
      .withWatermark("event_time", s"${horizonMs / 1000} seconds")
      .select($"c_custkey".as("id"), $"c_name".as("nm"),
        explode(expr(graft.operators.Dedup.deletionSigExpr("c_name"))).as("sig"),
        $"event_time")
      .as[SigRowTs]
      .groupByKey(_.sig)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(update)
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    materializeAndRelease(s,
      s.table(name)
        .groupBy($"doc_id")
        .agg(min($"dup_of").as("dup_of"))
        .orderBy($"doc_id"),
      dropView = Some(name), deleteDirs = deleteDirs)
  }

  /** STREAMING CORPUS CURATION — the ingest-side quality/langid gate: a
    * training-data pipeline ingests continuously, and the first
    * curation stages (C4-style quality thresholds + stopword language
    * ID) are pure per-document functions, so their streaming form is a
    * STATELESS append stage — no state store, no watermark, every
    * micro-batch filters and emits independently, which is exactly why
    * it composes in front of the stateful streaming dedup family (the
    * gate drops garbage before it ever becomes dedup state). The
    * expressions are the batch operators' own
    * ([[graft.operators.TextAnalysis.quality]] thresholds,
    * [[graft.operators.TextAnalysis.langid]] argmax — same rounding,
    * same tie order), so batch and stream cannot drift and the DuckDB
    * oracle is the plain batch SQL: a doc survives iff n_tokens ≥ 10,
    * mean_tok_len ∈ [2, 15], punct_ratio ≤ 0.2, and the language
    * argmax is `en`. */
  /** The gate stage itself — pure per-document column ops over a (batch
    * or streaming) documents frame; keeps `text` alongside the metrics
    * so downstream pipeline stages (NB scoring, shingle dedup) can
    * consume the survivors directly. */
  private[graft] def qualityGated(stream: DataFrame): DataFrame = {
    val s = stream.sparkSession
    import s.implicits._
    def hits(words: Seq[String]) = {
      val list = words.map(w => s"'$w'").mkString(", ")
      expr(s"cast(size(filter(tk, x -> x in ($list))) as bigint)")
    }
    stream
      .select($"doc_id", $"text",
        expr("filter(split(lower(text), ' '), x -> length(x) > 0)").as("tk"))
      .select($"doc_id", $"text",
        size($"tk").cast("long").as("n_tokens"),
        round(expr("aggregate(tk, cast(0 as double), (s, x) -> s + length(x)) / size(tk)"), 4)
          .as("mean_tok_len"),
        round(size(regexp_extract_all($"text", lit("[.!?,;:]"), lit(0))).cast("double") /
          length($"text"), 4).as("punct_ratio"),
        hits(Seq("the", "and", "of", "to", "in", "a", "is")).as("n_en"),
        hits(Seq("el", "la", "de", "que", "y", "en", "un")).as("n_es"),
        hits(Seq("der", "die", "und", "ist", "das", "nicht", "ein")).as("n_de"))
      .withColumn("pred_lang",
        when($"n_en" + $"n_es" + $"n_de" === 0, "und")
          .when($"n_en" >= $"n_es" && $"n_en" >= $"n_de", "en")
          .when($"n_es" >= $"n_de", "es")
          .otherwise("de"))
      .filter($"n_tokens" >= 10 && $"mean_tok_len" >= 2.0 && $"mean_tok_len" <= 15.0 &&
        $"punct_ratio" <= 0.2 && $"pred_lang" === "en")
  }

  def streamCorpusQualityGate(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    import s.implicits._
    val (in, name) = stageInput(s, dir, "documents.parquet", "corpusgate")
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    val q = qualityGated(s.readStream.schema(schema).parquet(in.toString))
      .select($"doc_id", $"n_tokens", $"mean_tok_len", $"punct_ratio", $"pred_lang")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    materializeAndRelease(s, s.table(name).orderBy($"doc_id"),
      dropView = Some(name), deleteDirs = Seq(in))
  }

  /** STREAMING MODEL-BASED SCORING — the "train offline, score online"
    * half of the quality-classifier tier: the Naive-Bayes model is the
    * per-process PERSISTED artifact ([[graft.operators.Curation.nbModelPath]],
    * trained once by the batch pipeline and capped at 4096 weights —
    * the fastText-style quantize-and-ship contract), and the stream
    * scores each arriving document STATELESSLY via the shared scorer
    * definition ([[graft.operators.Curation.nbScoreBatch]], stateless
    * column ops so it applies unchanged to the stream): the capped weight table
    * rides into every task as a literal map (driver read bounded by the
    * cap, never the vocabulary), and the per-document log-odds is a
    * per-ROW array fold Σ wq[token] + prior — exact integer arithmetic,
    * no state store, no shuffle, so the scorer adds zero streaming
    * state regardless of corpus growth.
    *
    * The oracle RETRAINS from the corpus and replays the cap, so the
    * hash gates persisted-model ≡ in-query-model and the stream's fold
    * ≡ the batch join-and-sum: a token absent from the capped model
    * contributes exactly 0, and a document with no model token scores
    * exactly the prior. */
  def streamCorpusNbScore(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    import s.implicits._
    val model = graft.operators.Curation.nbModelPath(s, dir)
    val (in, name) = stageInput(s, dir, "documents.parquet", "nbscore")
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    val src = s.readStream.schema(schema).parquet(in.toString)
    val q = graft.operators.Curation.nbScoreBatch(s, src, model)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    materializeAndRelease(s, s.table(name).orderBy($"doc_id"),
      dropView = Some(name), deleteDirs = Seq(in))
  }

  /** CONTINUOUS MODEL MAINTENANCE — the streaming twin of
    * `corpus_nb_day2`: documents ARRIVE over many micro-batches
    * (maxFilesPerTrigger = 1 over an 8-file staging of the corpus), and
    * each batch's foreachBatch sink lands its training counts in the
    * persisted additive artifact under a batchId-keyed partition
    * ([[graft.operators.Curation.writeNbCountsBatch]] — overwrite of
    * `batch=<id>`, so an at-least-once REPLAY of a micro-batch after a
    * checkpointed restart rewrites the same location instead of
    * double-counting); after the drain the capped model derives from
    * the merged counts and scores every document. Because NB's
    * sufficient statistics are sums, the micro-batch BOUNDARIES are
    * invisible to the final model — this entry shares
    * `stream_corpus_nb_score`'s full-retrain oracle VERBATIM, so one
    * hash now gates FOUR execution models of one training definition:
    * in-query train+score, persisted-model stream scoring, batch
    * count-append (day-2), and this continuous count-accrual. Per-batch
    * cost is the batch tokenize + a vocab-sized count write; the model
    * refresh reads counts bytes — the shape of a quality model that
    * keeps learning on a 100 TB continuous ingest without ever
    * retraining from the corpus. */
  def streamCorpusNbRefresh(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory(
      graft.util.Fs.scratchDir(s, "nbmodel"), "stream").toAbsolutePath
    try {
      val docsDf = s.read.parquet(s"$dir/documents.parquet")
      // day-0 baseline: all-zero counts, additive-neutral — also what
      // makes an EMPTY corpus well-defined (zero arrival files → zero
      // micro-batches → without this the derive would find no artifact)
      graft.operators.Curation.writeNbCountsBatch(
        s, docsDf.limit(0), s"$base/counts", batchId = -1L)
      // 8 arrival files so counts genuinely accrue across micro-batches
      docsDf.repartition(8).write.mode("overwrite").parquet(s"$base/arrivals")
      val src = s.readStream.schema(docsDf.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/arrivals")
      // batchId-keyed OVERWRITE sink: a replayed micro-batch (the
      // at-least-once case under a checkpointed restart) rewrites its
      // own batch=<id> location instead of appending duplicate counts
      val q = src.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.operators.Curation.writeNbCountsBatch(
            s, batch, s"$base/counts", batchId)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.operators.Curation.deriveNbModel(s, s"$base/counts", s"$base/model")
      // materialize before the finally-delete of the model artifact
      // (driver-bounded: one integer score row per document)
      materializeAndRelease(s,
        graft.operators.Curation.nbScoreBatch(s, docsDf, s"$base/model")
          .orderBy($"doc_id"),
        dropView = None, deleteDirs = Seq.empty)
    } finally graft.util.Fs.deleteRecursively(base)
  }

  /** STREAMING TEXT-INDEX MAINTENANCE — the search-index twin of
    * [[streamCorpusNbRefresh]]: documents ARRIVE over many
    * micro-batches (maxFilesPerTrigger = 1 over an 8-file staging of
    * the corpus), and each batch's foreachBatch sink lands ITS OWN
    * posting + doc-length files as a batchId-keyed index directory
    * ([[graft.operators.TextAnalysis.writePositionalIndexOf]] in
    * overwrite mode at `idx/b<batchId>` — idempotent under
    * at-least-once replay, the same contract as the NB count sink).
    * Because posting rows are per-(word, doc) and a document's rows are
    * wholly contained in its arrival batch, DISJOINT doc_ids ⇒ disjoint
    * posting rows (the `text_search_day2` invariant): the union of the
    * per-batch file sets reads exactly like one index, and micro-batch
    * BOUNDARIES are invisible to the probe. The post-drain phrase probe
    * shares [[graft.operators.TextAnalysis.search]]'s full-corpus
    * oracle VERBATIM — stream-maintained ≡ built-from-scratch. Per
    * batch cost is the batch tokenize + its own file writes; the probe
    * reads query-term postings behind the pushed word-IN filter — the
    * shape that keeps a live 100 TB ingest's search index current
    * without ever re-indexing the corpus. */
  def streamTextIndexRefresh(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    val base = java.nio.file.Files.createTempDirectory(
      graft.util.Fs.scratchDir(s, "textidx"), "stream").toAbsolutePath
    try {
      val parts = streamTextIndexDirs(s, dir, base)
      materializeAndRelease(s,
        graft.operators.TextAnalysis.searchViaIndexPaths(
          s, parts, Seq("agg", "join")),
        dropView = None, deleteDirs = Seq.empty)
    } finally graft.util.Fs.deleteRecursively(base)
  }

  /** The arrival half shared by [[streamTextIndexRefresh]] and
    * [[streamTextIndexCompact]]: stage the corpus as 8 arrival files,
    * stream them one per micro-batch into batchId-keyed posting dirs at
    * `base/idx/b<id>` (plus the day-0 empty baseline), and return the
    * accumulated posting-dir paths sorted for a deterministic union. */
  private def streamTextIndexDirs(s: SparkSession, dir: String,
      base: java.nio.file.Path): Seq[String] = {
    val docsDf = s.read.parquet(s"$dir/documents.parquet")
    // day-0 baseline: an empty posting dir keeps the post-drain probe
    // well-defined when zero arrival files mean zero micro-batches
    graft.operators.TextAnalysis.writePositionalIndexOf(
      s, docsDf.limit(0), s"$base/idx/b-1")
    docsDf.repartition(8).write.mode("overwrite").parquet(s"$base/arrivals")
    val src = s.readStream.schema(docsDf.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/arrivals")
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.TextAnalysis.writePositionalIndexOf(
          s, batch, s"$base/idx/b$batchId")
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the union reads every batch's posting files (the deterministic
    // b<batchId> names dedup replays by construction)
    import scala.jdk.CollectionConverters._
    val ls = java.nio.file.Files.list(base.resolve("idx"))
    try ls.iterator().asScala.map(_.toString)
      .filterNot(_.endsWith("_doclen")).toSeq.sorted finally ls.close()
  }

  /** STREAMED-INDEX COMPACTION — composes the takedown/compaction job
    * into the streamed text-index lifecycle, closing its one open
    * 100 TB posture gap: a live ingest accrues one posting dir PER
    * MICRO-BATCH forever, so the probe's listing/footer cost grows with
    * batch count, not data. Documents arrive exactly as in
    * [[streamTextIndexRefresh]] (batchId-keyed `idx/b<id>` dirs,
    * idempotent under replay), then the scheduled maintenance pass runs
    * the existing oracle-gated union takedown
    * ([[graft.operators.TextAnalysis.compactPositionalIndex]]: one
    * broadcast anti-join over the accumulated dirs, retiring the
    * ≡ 5 mod 17 slice — the `dedup_index_compact` convention) and
    * rewrites postings + doc-length sidecar as ONE file set in the
    * probe-optimal layout. The phrase probe answers from the compacted
    * set alone and shares `text_search_compact`'s survivor-universe
    * oracle VERBATIM — one hash certifies that folding N batch dirs +
    * a takedown into a single relation loses no surviving posting and
    * retires every takedown doc. Cost is index bytes (never a corpus
    * re-tokenize), and the post-compaction probe is back to
    * batch-count-independent: the cadence knob a production deployment
    * tunes against the accrual curve ScaleRehearsal measures. */
  def streamTextIndexCompact(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory(
      graft.util.Fs.scratchDir(s, "textidx"), "streamc").toAbsolutePath
    try {
      val parts = streamTextIndexDirs(s, dir, base)
      val retired = s.read.parquet(s"$dir/documents.parquet")
        .filter(pmod($"doc_id", lit(17)) === lit(5)).select($"doc_id")
      graft.operators.TextAnalysis.compactPositionalIndex(
        s, parts, retired, s"$base/compacted")
      materializeAndRelease(s,
        graft.operators.TextAnalysis.searchViaIndexPaths(
          s, Seq(s"$base/compacted"), Seq("agg", "join")),
        dropView = None, deleteDirs = Seq.empty)
    } finally graft.util.Fs.deleteRecursively(base)
  }

  /** STREAMING ANN-INDEX MAINTENANCE — the PQ twin of
    * [[streamTextIndexRefresh]], closing the index-family symmetry
    * (dedup: `stream_neardup_indexed`; text: `stream_text_index_refresh`;
    * vectors: this): day-0 trains and persists ONLY the frozen codebook
    * sidecar ([[graft.operators.Similarity.writePqCodebooks]] — the
    * production contract where codebooks retrain on a schedule, never
    * per batch), then vectors ARRIVE over 8 micro-batches and each
    * batch's foreachBatch sink encodes against the frozen sidecar and
    * lands ITS OWN codes at a batchId-keyed partition of the
    * cluster-partitioned code relation (overwrite of `codes/batch=<id>`
    * — idempotent under at-least-once replay, the family's shared
    * contract). Per-batch cost is one narrow encode pass + the batch's
    * 8-byte-code files; no batch ever reads existing codes or vectors.
    *
    * The post-drain probe runs at PROBE-ALL + RERANK-ALL dials, where
    * the index answer is definitionally the exact brute top-10 (the
    * degenerate identity SimilarityRecallSpec pins for the PQ tier) —
    * so the entry shares `sim_topk_brute`'s oracle VERBATIM and one
    * hash gates the whole streamed lifecycle: codebook persistence,
    * per-batch encode, batch-keyed layout, union read, ADC shortlist,
    * exact rerank. Production dials then trade recall for cost without
    * touching any of the gated machinery. */
  def streamPqIndexRefresh(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    val base = java.nio.file.Files.createTempDirectory(
      graft.util.Fs.scratchDir(s, "pqidx"), "stream").toAbsolutePath
    try {
      streamPqCodes(s, dir, base)
      materializeAndRelease(s,
        graft.operators.Similarity.pqTopkFromIndex(
          s, dir, s"$base/idx", nprobe = 1000, rerank = 1000000),
        dropView = None, deleteDirs = Seq.empty)
    } finally graft.util.Fs.deleteRecursively(base)
  }

  /** Shared arrival stage of [[streamPqIndexRefresh]] /
    * [[streamPqIndexCompact]]: day-0 codebook sidecar at `base/idx`,
    * then 8 micro-batches of vectors encoded against the frozen sidecar
    * into batchId-keyed `codes/batch=<id>` partitions (idempotent
    * overwrite under at-least-once replay). */
  private def streamPqCodes(s: SparkSession, dir: String,
      base: java.nio.file.Path): Unit = {
    graft.operators.Similarity.writePqCodebooks(s, dir, s"$base/idx")
    // load the frozen day-0 sidecar ONCE for the whole drain: every
    // micro-batch encodes against the same immutable coordinate system,
    // so a per-batch parquet read + collect of the identical model was
    // pure fixed cost (a restarted drain in a fresh process still reads
    // the persisted artifact here, at stream start)
    val model = graft.operators.Similarity.readPqModel(s, s"$base/idx")
    val embDf = s.read.parquet(s"$dir/embeddings.parquet")
    embDf.repartition(8).write.mode("overwrite").parquet(s"$base/arrivals")
    val src = s.readStream.schema(embDf.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/arrivals")
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Similarity.writePqCodesBatchWith(
          s, model, s"$base/idx", batch, batchId)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** STREAMED PQ-INDEX COMPACTION — the vector twin of
    * [[streamTextIndexCompact]], closing the same 100 TB posture gap on
    * the ANN side: the streamed code relation accrues one
    * `codes/batch=<id>` partition per micro-batch forever, so the
    * probe's partition-discovery/footer cost grows with BATCH COUNT,
    * not data. Vectors arrive exactly as in [[streamPqIndexRefresh]]
    * (frozen day-0 codebooks, batchId-keyed encode), then the scheduled
    * maintenance pass runs the existing day-2 compaction
    * ([[graft.operators.Similarity.compactPqIndex]]) VERBATIM over the
    * accrued batch-keyed relation: one broadcast anti-join against the
    * takedown slice (vec_id ≡ 5 mod 17 — the `dedup_index_compact`
    * convention), rewritten WITHOUT the batch dimension in the
    * probe-optimal cluster-partitioned layout; the codebook sidecar is
    * copied untouched (deletions change WHICH codes exist, never the
    * coordinate system). Cost is index bytes — 8-byte codes per row,
    * the corpus vectors are never re-read — and the post-compaction
    * probe is back to batch-count-independent cluster pruning.
    *
    * Gated like the refresh twin: at PROBE-ALL + RERANK-ALL dials the
    * compacted index's answer is definitionally the exact brute top-10
    * over the SURVIVORS, so one brute-over-survivors hash certifies the
    * whole streamed lifecycle (codebook persistence, per-batch encode,
    * batch-keyed accrual, anti-join retirement, layout rewrite, ADC +
    * rerank). Stream-accrued + compacted ≡ batch-built + compacted is
    * additionally pinned in StreamIndexCompactSpec. */
  def streamPqIndexCompact(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory(
      graft.util.Fs.scratchDir(s, "pqidx"), "streamc").toAbsolutePath
    try {
      streamPqCodes(s, dir, base)
      val retired = s.read.parquet(s"$dir/embeddings.parquet")
        .filter(pmod($"vec_id", lit(17)) === lit(5)).select($"vec_id")
      graft.operators.Similarity.compactPqIndex(
        s, s"$base/idx", retired, s"$base/compacted")
      materializeAndRelease(s,
        graft.operators.Similarity.pqTopkFromIndex(
          s, dir, s"$base/compacted", nprobe = 1000, rerank = 1000000),
        dropView = None, deleteDirs = Seq.empty)
    } finally graft.util.Fs.deleteRecursively(base)
  }

  case class PipeBandRow(doc_id: Long, score_q: Long, band: Int, band_hash: String)
  case class PipeOwn(doc_id: Long, score_q: Long, owner: Long)

  /** END-TO-END STREAMING CURATION PIPELINE — the three curation tiers
    * COMPOSED in one continuous query, the shape a training-data ingest
    * actually runs: (1) the stateless C4-style quality/langid gate
    * ([[qualityGated]] — the batch thresholds verbatim), (2) stateless
    * model-based scoring through the PERSISTED capped NB artifact
    * ([[graft.operators.Curation.nbScoreBatch]]; survivors keep
    * `score_q > 0` — docs the trained model places in the target
    * class), (3) the stateful MinHash bucket store over what's LEFT —
    * same hash family and state geometry as [[streamNearDup]] (one long
    * per live (band, band_hash) bucket, RocksDB-backed), but emitting
    * every doc's CURRENT OWNER so the drain can fold the KEPT set
    * (docs owning all their buckets) instead of only the dup hits.
    *
    * The composition IS the scale argument: both stateless tiers run
    * before the stateful one, so the bucket store holds state only for
    * documents that survived the funnel — upstream filters bound
    * downstream state, the property that keeps a 100 TB continuous
    * ingest's dedup store proportional to ACCEPTED content, not
    * arrival volume. No stage re-reads the corpus: the model is the
    * persisted capped artifact (O(cap) per task), the gate is pure
    * projection, and the only shuffle is the stateful op's bucket
    * exchange.
    *
    * Single-batch drain semantics (id-sorted per bucket) give the
    * closed-form oracle: kept = gated ∧ score_q > 0 ∧ no smaller
    * SURVIVOR shares any band bucket — the oracle replays gate + NB
    * train/cap/score + bands over survivors in one SQL chain, so one
    * hash gates all three stages AND their composition order. */
  /** The gate→score→ownership core of [[streamCorpusPipeline]] as an
    * UNSUNK Dataset over any streaming documents frame — split out so
    * PipelineRestartSpec can attach its own checkpointed foreachBatch
    * sink and drive stop → restart (the memory sink the drain uses
    * cannot recover from a checkpoint), mirroring [[nearDupHits]]. */
  private[graft] def pipelineOwned(s: SparkSession, stream: DataFrame,
      model: String): org.apache.spark.sql.Dataset[PipeOwn] = {
    import s.implicits._
    def update(key: (Int, String), rows: Iterator[PipeBandRow],
               state: GroupState[Long]): Iterator[PipeOwn] = {
      val rs = rows.toSeq.sortBy(_.doc_id)
      var owner = state.getOption.getOrElse(Long.MaxValue)
      val out = rs.map { r =>
        if (r.doc_id < owner) owner = r.doc_id
        PipeOwn(r.doc_id, r.score_q, owner)
      }
      state.update(owner)
      out.iterator
    }
    val gated = qualityGated(stream).select($"doc_id", $"text")
    val scored = graft.operators.Curation
      .nbScoreBatch(s, gated, model, keep = Seq("text"))
      .filter($"pred" === 1)
    nearDupBands(scored, passthrough = Seq("score_q"))
      .as[PipeBandRow]
      .groupByKey(r => (r.band, r.band_hash))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  def streamCorpusPipeline(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    import s.implicits._
    val model = graft.operators.Curation.nbModelPath(s, dir)
    val (in, name) = stageInput(s, dir, "documents.parquet", "corpuspipe")
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    val owned = pipelineOwned(s, s.readStream.schema(schema).parquet(in.toString), model)
    withRocksDbState(s) {
      val q = owned.writeStream
        .outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      lastNearDupState = Option(q.lastProgress)
        .flatMap(p => p.stateOperators.headOption)
        .map(op => (op.numRowsTotal, op.memoryUsedBytes))
      materializeAndRelease(s,
        s.table(name)
          .groupBy($"doc_id")
          .agg(max($"score_q").as("score_q"), min($"owner").as("owner"))
          .filter($"owner" === $"doc_id")
          .select($"doc_id", $"score_q")
          .orderBy($"doc_id"),
        dropView = Some(name), deleteDirs = Seq(in))
    }
  }

  case class VecBucketRow(vec_id: Long, t: Int, bucket: Int,
                          embedding: Array[Float], nrm: Double)
  case class VecOwner(id: Long, emb: Array[Float], nrm: Double)

  /** STREAMING EMBEDDING NEAR-DUP — the vector-stream member of the
    * online dedup family (text minhash: [[streamNearDup]]; entity
    * edit-distance: [[streamEditDup]]; this: embeddings). Each vector
    * lands in `tables` hyperplane-LSH buckets (the SAME md5-derived
    * plane family as `sim_ann_lsh` / `dedup_embed_lsh`, computed
    * scalar-wise so the bucket state op is the only stateful operator);
    * per live (table, bucket) the state holds ONE owner (id + unit
    * data: vector and norm), and an arrival reports the owner iff
    * exact cosine ≥ τ (0.3, the semantic-dedup default) — the
    * owner-CHECK contract of the edit-dup filter, which is what keeps
    * LSH's ~1/2^bits random collisions out of the output (the oracle
    * hash proves the verify gate: collision-only semantics would emit
    * ~4× the corpus).
    *
    * State is ABSOLUTELY bounded by the geometry, not the corpus:
    * ≤ tables × 2^bits keys (256 at the defaults) × one vector each —
    * the streaming dedup family's only member with a corpus-independent
    * state bound, because the key space itself is finite. Cross-batch
    * semantics are first-seen like the text filter (a later lower id
    * takes ownership silently); single-batch id-sorted processing makes
    * the owner the bucket min, which is the closed form the DuckDB
    * oracle states. */
  def streamEmbedNearDup(s: SparkSession, dir: String): DataFrame = withStreamPartitions(s) {
    val (in, name) = stageInput(s, dir, "embeddings.parquet", "embneardup")
    val schema = s.read.parquet(s"$dir/embeddings.parquet").schema
    embedNearDupDrain(s,
      s.readStream.schema(schema).parquet(in.toString),
      name, deleteDirs = Seq(in))
  }

  /** The buckets→owner-state core of [[streamEmbedNearDup]], exposed
    * unsunk-adjacent for EmbedNearDupStreamSpec (multi-batch sources,
    * state-bound assertions). τ = 0.3; rounding (HALF_UP to 4) matches
    * both engines' `round(x, 4)`. */
  private[graft] def embedNearDupDrain(s: SparkSession, stream: DataFrame,
      name: String, deleteDirs: Seq[java.nio.file.Path]): DataFrame = withRocksDbState(s) {
    import s.implicits._
    val tau = BigDecimal(0.3)
    def cos(a: VecOwner, v: VecBucketRow): BigDecimal = {
      var d = 0.0
      var i = 0
      while (i < v.embedding.length) { d += v.embedding(i).toDouble * a.emb(i); i += 1 }
      BigDecimal(d / (v.nrm * a.nrm)).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    }
    def update(key: (Int, Int), rows: Iterator[VecBucketRow],
               state: GroupState[VecOwner]): Iterator[NearDupHit] = {
      val arr = rows.toSeq.sortBy(_.vec_id)
      var owner = state.getOption.orNull
      val out = Seq.newBuilder[NearDupHit]
      arr.foreach { r =>
        if (owner == null || r.vec_id < owner.id)
          owner = VecOwner(r.vec_id, r.embedding, r.nrm)
        else if (r.vec_id > owner.id && cos(owner, r) >= tau)
          out += NearDupHit(r.vec_id, owner.id)
      }
      state.update(owner)
      out.result().iterator
    }
    val q = stream
      .select(col("vec_id"), col("embedding"),
        sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
      // zero-norm vectors have no direction to compare — drop them before
      // bucketing (the same defense unitVecs applies); without this,
      // cos() divides by 0 → NaN and BigDecimal(NaN) would crash the
      // whole streaming query instead of ignoring one degenerate vector
      .filter(col("nrm") > 0)
      .withColumn("buckets", graft.operators.Similarity.bucketsCol(4, 6))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        posexplode(col("buckets")).as(Seq("t", "bucket")))
      .select(col("vec_id"), col("t"), col("bucket"), col("embedding"), col("nrm"))
      .as[VecBucketRow]
      .groupByKey(r => (r.t, r.bucket))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    lastNearDupState = Option(q.lastProgress)
      .flatMap(p => p.stateOperators.headOption)
      .map(op => (op.numRowsTotal, op.memoryUsedBytes))
    materializeAndRelease(s,
      s.table(name)
        .groupBy($"doc_id")
        .agg(min($"near_dup_of").as("near_dup_of"))
        .select($"doc_id".as("vec_id"), $"near_dup_of")
        .orderBy($"vec_id"),
      dropView = Some(name), deleteDirs = deleteDirs)
  }
}
