package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import graft.pipeline.{Catalog, DicomPipeline}

/** The DICOM ingest-to-query benchmark.
  *
  *   --workload ingest_loose|ingest_archives --seed N
  *   --seconds S --trace 0|1 --work DIR --traces DIR
  *
  * Drives the program's public entry points — `DicomPipeline.run`, then
  * `Catalog.registerTable`, then Spark SQL on the registered table — on
  * a corpus generated from the seed. A run sets up, ingests the corpus
  * into a fresh location again and again, then runs the query mix from
  * one closed-loop client on the last table. Every operation is checked
  * against the generator's ground truth. It prints one metric per line
  * and, last, one JSON result line. `--trace 0` reports the end-to-end
  * metrics; `--trace 1` is a separate traced run that reports the
  * per-layer ones and writes its spans as JSON to the traces directory. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path,
                        traces: Path)

  val Workloads = Seq("ingest_loose", "ingest_archives")

  /** Corpus sizes, chosen so one ingest takes a few seconds at local[4]. */
  val LooseShape = Corpus.Shape(looseImages = 600, loosePixelBytes = 2048, days = 30,
    sidecars = 4, archives = 0, membersPerArchive = 0, memberPixelBytes = 0,
    oversized = 0, oversizedBytes = 0)
  val ArchiveShape = Corpus.Shape(looseImages = 0, loosePixelBytes = 2048, days = 30,
    sidecars = 2, archives = 32, membersPerArchive = 10, memberPixelBytes = 512 * 1024,
    oversized = 2, oversizedBytes = 10500000)
  /** A small mixed corpus every set-up ingests once to warm the JVM. */
  val WarmShape = Corpus.Shape(looseImages = 20, loosePixelBytes = 2048, days = 2,
    sidecars = 1, archives = 2, membersPerArchive = 2, memberPixelBytes = 16 * 1024,
    oversized = 0, oversizedBytes = 0)

  val SetupRounds = 3
  val WarmIngests = 2
  val MinReps = 3
  /** Share of `--seconds` spent on ingests; the rest runs the query mix. */
  val IngestShare = 0.6
  val cores: Int = Runtime.getRuntime.availableProcessors()

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false; case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
      },
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("traces")).toAbsolutePath)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of ${Workloads.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toVector.reverse.foreach(Files.delete) finally w.close()
    }

  /** One ingest into a fresh location: `DicomPipeline.run` then
    * `Catalog.registerTable`; returns its wall time. The errors table is
    * registered afterwards, outside the timing, so the query mix can read it. */
  def ingest(spark: SparkSession, input: Path, out: Path, tracer: Option[Tracer]): Double = {
    def span[A](name: String)(f: => A): A = tracer.fold(f)(_.span(name)(f))
    val data = out.resolve("data").toString
    val errors = out.resolve("errors").toString
    val t0 = now()
    span("bench.ingest") {
      span("pipeline.run")(DicomPipeline.run(spark, input.toString, data, Some(errors)))
      span("catalog.register")(Catalog.registerTable(spark, data))
    }
    val t = secs(t0)
    spark.sql(s"DROP TABLE IF EXISTS ${Corpus.ErrorsTable}")
    spark.sql(s"CREATE TABLE ${Corpus.ErrorsTable} USING PARQUET LOCATION '$errors'")
    t
  }

  /** Between ingests, outside the timing: drop the RDDs an ingest left
    * persisted (`DicomPipeline.run` does not unpersist its intermediate)
    * and collect, so each ingest starts from the same heap state. */
  def settle(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Largest heap in use right after a collection (the live data), over
    * the collections between construction and `close`. */
  final class LiveHeapPeak(gcs: Seq[java.lang.management.GarbageCollectorMXBean]) {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.{NotificationEmitter, NotificationListener}
    private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    private val listener: NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        peak.accumulateAndGet(after, (a: Long, b: Long) => math.max(a, b))
      }
    private val emitters = gcs.collect { case e: NotificationEmitter => e }
    emitters.foreach(_.addNotificationListener(listener, null, null))
    def close(): Unit = emitters.foreach(_.removeNotificationListener(listener))
    def peakBytes: Long = peak.get
  }

  /** Parquet files and their bytes under `dir`. */
  def parquetFiles(dir: Path): (Int, Long) = {
    val fs = Layers.objects(dir).filter(_.toString.endsWith(".parquet"))
    (fs.size, fs.map(Files.size).sum)
  }

  /** Tally of operations attempted and failed, with the reasons. */
  final class Ops {
    var attempted = 0
    val failures = ArrayBuffer.empty[String]
    def check(what: String)(problems: => Seq[String]): Unit = {
      attempted += 1
      val ps = try problems catch { case e: Throwable => Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      if (ps.nonEmpty) failures += s"$what: ${ps.mkString("; ")}"
    }
  }

  /** One query's latency, result size, and (when traced) executed plan. */
  final case class QueryRun(ms: Double, rows: Int, plan: Option[SparkPlan])

  /** Run one query and gate its answer. When traced, planning and
    * execution are separate spans. */
  def query(spark: SparkSession, q: Corpus.QueryCase, ops: Ops, tracer: Option[Tracer]): QueryRun = {
    var rows: Seq[org.apache.spark.sql.Row] = Nil
    var plan: Option[SparkPlan] = None
    val t0 = now()
    ops.check(s"query ${q.kind}") {
      rows = tracer match {
        case None => spark.sql(q.sql).collect().toSeq
        case Some(t) => t.span("bench.query") {
          val df = t.span("query.plan") { val d = spark.sql(q.sql); d.queryExecution.executedPlan; d }
          val r = t.span("query.exec")(df.collect().toSeq)
          plan = Some(df.queryExecution.executedPlan)
          r
        }
      }
      val got = Gate.canonical(rows)
      if (got == q.answer) Nil
      else Seq(s"${q.sql} returned ${got.take(5).mkString(",")} (${got.size} rows), " +
        s"want ${q.answer.take(5).mkString(",")} (${q.answer.size} rows)")
    }
    QueryRun((now() - t0) / 1e6, rows.size, plan)
  }

  /** Scan nodes of an executed plan, through adaptive and stage wrappers. */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  // ---------------------------------------------------------------------------

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work)
    val code =
      try run(args)
      finally Seq("corpora", "out").foreach(d => delete(args.work.resolve(d)))
    sys.exit(code)
  }

  def run(args: Args): Int = {
    val work = args.work
    val corpora = work.resolve("corpora")
    val outs = work.resolve("out")
    delete(outs)
    val ops = new Ops
    val metrics = ArrayBuffer.empty[(String, Double, String)]
    def metric(name: String, v: Double, unit: String): Unit = metrics += ((name, v, unit))

    // corpora first: generation is not set-up
    val tGen = now()
    val warmTruth = Corpus.generate(corpora.resolve("warm"), WarmShape, args.seed ^ 0x5eedL, cores)
    val shape = if (args.workload == "ingest_archives") ArchiveShape else LooseShape
    val corpus = corpora.resolve("main")
    val input = corpus.resolve("objects")
    val truth = Corpus.generate(corpus, shape, args.seed, cores)
    val queries = Corpus.queries(truth, shape.days, args.seed, 1000)
    Corpus.writeTruth(corpus, truth, queries)
    val genS = secs(tGen)

    val recorder = new Recorder
    val tracer = new Tracer(s"${args.workload}-${args.seed}-${System.currentTimeMillis()}")
    def traced(on: Boolean) = if (on) Some(tracer) else None
    var rep = 0
    def freshOut(): Path = { rep += 1; delete(outs); outs.resolve(s"rep-$rep") }

    // set-up, several times: session start plus one warm-up ingest
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (0 until (if (args.trace) 1 else SetupRounds)).foreach { _ =>
      if (spark != null) stop(spark)
      val t0 = now()
      spark = session(work)
      ingest(spark, corpora.resolve("warm").resolve("objects"), freshOut(), None)
      ops.check("warm-up ingest")(Gate.reconcile(warmTruth, Gate.observe(spark)))
      setups += secs(t0)
    }

    /** Run `f` with the listener attached; events are drained before it detaches. */
    def recording[A](on: Boolean)(f: => A): A =
      if (!on) f
      else {
        spark.sparkContext.addSparkListener(recorder)
        try f
        finally {
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(recorder)
        }
      }

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val liveHeap = new LiveHeapPeak(gcBeans.toSeq)

    // single-threaded pass through graft.ingest and graft.dicom (traced runs)
    val layerPass =
      if (!args.trace) None
      else {
        Layers.pass(input, new Tracer("warm-up")) // JIT warm-up, discarded
        Some(tracer.span("bench.layer_pass")(Layers.pass(input, tracer)))
      }

    // measurement: ingest rounds, then the query mix on the last table;
    // a phase ends when its next round would overrun its deadline. A
    // traced run alternates untraced and traced rounds.
    // untimed ingests of the corpus first: the first ingests of a fresh
    // JVM keep getting faster (JIT), and that is not what is measured
    (0 until WarmIngests).foreach { n =>
      ingest(spark, input, freshOut(), None)
      ops.check(s"warm-up ingest $n of the corpus")(Gate.reconcile(truth, Gate.observe(spark)))
      settle(spark)
    }
    val ingestDeadline = now() + (args.seconds * IngestShare * 1e9).toLong
    def rounds(deadline: Long, min: Int)(round: Int => Unit): Unit = {
      val took = ArrayBuffer.empty[Double]
      while (took.size < min || now() + Stats.median(took.toSeq).toLong <= deadline) {
        val r0 = now()
        round(took.size)
        took += (now() - r0).toDouble
      }
    }

    val ingestTimes = ArrayBuffer.empty[Double] // untraced
    val tracedIngestTimes = ArrayBuffer.empty[Double]
    val pipelineReps = ArrayBuffer.empty[Map[String, Double]]
    var lastOut: Path = null
    rounds(ingestDeadline, if (args.trace) 4 else MinReps) { n =>
      val withTrace = args.trace && n % 2 == 1
      val out = freshOut()
      val t = recording(withTrace)(ingest(spark, input, out, traced(withTrace)))
      if (withTrace) {
        tracedIngestTimes += t
        pipelineReps += pipelineMetrics(tracer, recorder, out)
      } else ingestTimes += t
      ops.check(s"ingest $n")(Gate.reconcile(truth, Gate.observe(spark)))
      lastOut = out
      settle(spark)
    }

    val latencies = ArrayBuffer.empty[Double] // untraced
    val tracedLatencies = ArrayBuffer.empty[Double]
    val queryStats = ArrayBuffer.empty[Map[String, Double]]
    var qi = 0
    def nextQuery(): Corpus.QueryCase = { val q = queries(qi % queries.size); qi += 1; q }
    // two untimed passes over the query kinds warm the new table's read path
    (0 until 14).foreach(_ => query(spark, nextQuery(), ops, None))
    val queryDeadline = now() + (args.seconds * (1 - IngestShare) * 1e9).toLong
    rounds(queryDeadline, if (args.trace) 14 else 7) { n =>
      val withTrace = args.trace && n % 2 == 1
      val r = recording(withTrace)(query(spark, nextQuery(), ops, traced(withTrace)))
      if (withTrace) {
        tracedLatencies += r.ms
        queryStats += queryMetrics(tracer, recorder, r)
      } else latencies += r.ms
    }

    liveHeap.close()
    val heapPeakMb = liveHeap.peakBytes / (1024.0 * 1024.0)
    val gcS = (gcBeans.map(_.getCollectionTime).sum - gc0) / 1e3

    if (!args.trace) {
      val ingestS = Stats.median(ingestTimes.toSeq)
      val (files, bytes) = parquetFiles(lastOut.resolve("data"))
      val n = latencies.size
      val p90 = Stats.reportable(n, 0.9)
      metric("setup_s", Stats.median(setups.toSeq), "s")
      metric("ingest_s", ingestS, "s")
      metric("objects_per_s", truth.objects / ingestS, "1/s")
      metric("images_per_s", truth.images.size / ingestS, "1/s")
      metric("out_files", files, "count")
      metric("out_bytes_per_image", bytes.toDouble / truth.images.size, "B")
      metric("query_p50_ms", Stats.percentile(latencies.toSeq, 0.5), "ms")
      metric("query_p90_ms", Stats.percentile(latencies.toSeq, p90), "ms")
      def list(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString(", ")
      println(s"# ingest_s: median of ${ingestTimes.size} ingests [${list(ingestTimes.toSeq)}] s; " +
        s"setup_s: median of ${setups.size} set-ups [${list(setups.toSeq)}] s")
      println(f"# query latency: $n samples; query_p90_ms is the p${p90 * 100}%.0f " +
        "(the highest percentile with at least ten samples above it, at most p90)")
      println(f"# bench.gen_s $genS%.3f s (corpus generation, not part of setup_s)")
    } else {
      val p = layerPass.get
      def med(xs: Seq[Map[String, Double]], k: String) =
        if (xs.isEmpty) 0.0 else Stats.median(xs.map(_.getOrElse(k, 0.0)))
      Seq("list_s", "extract_s", "task_skew", "cpu_util", "tasks", "finalize_s", "reread_s",
          "shuffle_write_mb", "spill_mb", "write_s", "errors_write_s", "register_s",
          "out_partitions", "jobs", "task_cpu_s", "input_mb", "unattributed_s")
        .foreach(k => metric(s"pipeline.$k", med(pipelineReps.toSeq, k), unitOf(k)))
      val mb = 1024.0 * 1024.0
      metric("ingest.expand_s", p.expandS, "s")
      metric("ingest.read_mb", p.readBytes / mb, "MB")
      metric("ingest.expanded_mb", p.expandedBytes / mb, "MB")
      metric("ingest.members", p.members, "count")
      metric("ingest.members_dropped", truth.archiveMembers - p.archiveMembers, "count")
      metric("ingest.useful_byte_ratio", truth.headerBytes.toDouble / p.readBytes, "ratio")
      metric("dicom.parse_s", p.parseS, "s")
      metric("dicom.elements", p.elements, "count")
      metric("dicom.images", p.images, "count")
      metric("dicom.parse_us_per_image", p.parseS * 1e6 / math.max(1, p.images), "us")
      metric("dicom.flatten_s", p.flattenS, "s")
      metric("dicom.values", p.values, "count")
      metric("dicom.flatten_us_per_image", p.flattenS * 1e6 / math.max(1, p.images), "us")
      metric("ingest.route_errors", p.routeErrors, "count")
      metric("ingest.expand_errors", p.expandErrors, "count")
      metric("dicom.parse_errors", p.parseErrors, "count")
      metric("dicom.transform_errors", p.transformErrors, "count")
      ops.check("single-threaded pass errors by stage") {
        val got = Map("route" -> p.routeErrors, "expand" -> p.expandErrors,
          "parse" -> p.parseErrors, "transform" -> p.transformErrors)
        if (got == truth.errorsByStage) Nil else Seq(s"errors by stage $got != ${truth.errorsByStage}")
      }
      Seq("plan_ms" -> "ms", "exec_ms" -> "ms", "files_read" -> "count", "partitions_read" -> "count",
          "scan_mb" -> "MB", "rows_scanned_per_row" -> "ratio", "tasks" -> "count")
        .foreach { case (k, u) => metric(s"query.$k", med(queryStats.toSeq, k), u) }
      metric("jvm.heap_peak_mb", heapPeakMb, "MB")
      metric("jvm.gc_s", gcS, "s")
      metric("trace.overhead_frac", Stats.median(tracedIngestTimes.toSeq) / Stats.median(ingestTimes.toSeq) - 1, "ratio")
      metric("bench.gen_s", genS, "s")
      val tracePath = args.traces.resolve(s"${tracer.runId}.json")
      tracer.write(tracePath, recorder)
      println(s"# trace written to $tracePath")
    }
    stop(spark)

    ops.failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    metrics.foreach { case (n, v, u) => println(f"$n%-30s $v%.6f $u") }
    println(f"# failed_frac ${ops.failures.size.toDouble / ops.attempted}%.6f " +
      s"(${ops.failures.size} of ${ops.attempted} operations)")
    println(Json.obj(
      "correct" -> ops.failures.isEmpty,
      "attempted" -> ops.attempted,
      "failed" -> ops.failures.size,
      "metrics" -> Json.raw(metrics.toSeq.map { case (n, v, u) => n -> Json.raw("value" -> v, "unit" -> u) }: _*)))
    0
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB"
    else if (k == "task_skew" || k == "cpu_util") "ratio" else "count"

  /** Per-layer numbers of the last traced `DicomPipeline.run`, by phase.
    * The write phases run inside `run`, so they are told apart by each
    * job's call site: the key-union job is `toDataFrame`'s (its map
    * stages are the extraction, the rest is finalize); before the data
    * write, an `isEmpty` re-reads the persisted intermediate; after it,
    * the next `isEmpty` starts the errors write. */
  def pipelineMetrics(tracer: Tracer, rec: Recorder, out: Path): Map[String, Double] = {
    val run = tracer.named("pipeline.run").last
    val register = tracer.named("catalog.register").last
    val js = rec.jobsIn(run.startMs, run.endMs)
    var wrote = false; var errorsPhase = false
    val phased = js.map { j =>
      val op = j.name.takeWhile(_ != ' ')
      val phase =
        if (j.details.contains("toDataFrame")) "keyunion"
        else if (!wrote) { if (op == "isEmpty") "reread" else { wrote = true; "write" } }
        else if (errorsPhase || op == "isEmpty") { errorsPhase = true; "errors_write" }
        else "write"
      j -> phase
    }
    def wall(j: rec.Job) = math.max(0L, j.endMs - j.startMs) / 1e3
    def sumPhase(p: String) = phased.collect { case (j, `p`) => wall(j) }.sum
    val keyUnion = phased.collectFirst { case (j, "keyunion") => j }
    val extractStages = keyUnion.toSeq.flatMap(j => j.stages.filter(_ != j.stages.max)).toSet
    val stageRecs = rec.stagesOf(keyUnion.toSeq).filter(s => extractStages(s.id))
    val extractS = keyUnion.map(j =>
      (stageRecs.map(_.completedMs).foldLeft(j.startMs)(math.max) - j.startMs) / 1e3).getOrElse(0.0)
    val extractTasks = rec.tasksOf(extractStages)
    val allTasks = rec.tasksOf(js.flatMap(_.stages).toSet)
    val runS = tracer.seconds(run)
    val listS = js.headOption.map(j => math.max(0L, j.startMs - run.startMs) / 1e3).getOrElse(runS)
    val jobsS = js.map(wall).sum
    val runTimes = extractTasks.map(_.runMs.toDouble)
    val partitions = Option(out.resolve("data").toFile.listFiles()).toSeq.flatten
      .count(_.getName.startsWith("study_date="))
    val mb = 1024.0 * 1024.0
    Map(
      "list_s" -> listS,
      "extract_s" -> extractS,
      "task_skew" -> (if (runTimes.isEmpty) 0.0 else runTimes.max / math.max(1.0, Stats.median(runTimes))),
      "cpu_util" -> (if (extractS <= 0) 0.0 else extractTasks.map(_.cpuNs).sum / 1e9 / (extractS * cores)),
      "tasks" -> extractTasks.size.toDouble,
      "finalize_s" -> keyUnion.map(wall).map(_ - extractS).getOrElse(0.0),
      "reread_s" -> sumPhase("reread"),
      "shuffle_write_mb" -> allTasks.map(_.shuffleWrite).sum / mb,
      "spill_mb" -> allTasks.map(_.spill).sum / mb,
      "write_s" -> sumPhase("write"),
      "errors_write_s" -> sumPhase("errors_write"),
      "register_s" -> tracer.seconds(register),
      "out_partitions" -> partitions.toDouble,
      "jobs" -> js.size.toDouble,
      "task_cpu_s" -> allTasks.map(_.cpuNs).sum / 1e9,
      "input_mb" -> allTasks.map(_.inBytes).sum / mb,
      "unattributed_s" -> math.max(0.0, runS - listS - jobsS))
  }

  /** Per-layer numbers of the last traced query. */
  def queryMetrics(tracer: Tracer, rec: Recorder, run: QueryRun): Map[String, Double] = {
    val plan = tracer.named("query.plan").last
    val exec = tracer.named("query.exec").last
    val ss = run.plan.toSeq.flatMap(scans)
    def m(k: String) = ss.flatMap(_.metrics.get(k)).map(_.value).sum.toDouble
    val js = rec.jobsIn(plan.startMs, exec.endMs)
    val resultRows = math.max(1, run.rows)
    Map(
      "plan_ms" -> tracer.seconds(plan) * 1e3,
      "exec_ms" -> tracer.seconds(exec) * 1e3,
      "files_read" -> m("numFiles"),
      "partitions_read" -> m("numPartitions"),
      "scan_mb" -> m("filesSize") / (1024.0 * 1024.0),
      "rows_scanned_per_row" -> m("numOutputRows") / resultRows,
      "tasks" -> rec.tasksOf(js.flatMap(_.stages).toSet).size.toDouble)
  }
}
