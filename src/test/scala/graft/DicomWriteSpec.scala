package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.pipeline.DicomPipeline

/** The job's two writes cost per byte written, not per process forked or
  * per scan task:
  *  - the data and errors writes go through `ForkFreeLocalFileSystem`,
  *    so a run forks fewer processes than it writes Parquet files, with
  *    the permission bits a stock Hadoop write sets;
  *  - one single-stage summary pass finalizes the batch: its keys, its
  *    rows per study date and whether any object errored;
  *  - the data write is spread over the session's cores with one file
  *    per study date, and a date holding more than one core's share of
  *    the rows is split over several;
  *  - the errors write runs only when the summary saw an error, and is
  *    rebalanced into one file for a handful of rows however many scan
  *    partitions they came from. */
class DicomWriteSpec extends SparkSuite {

  private def tmp(): Path =
    Files.createTempDirectory(Paths.get("target"), "dicomwrite").toAbsolutePath

  private def dcm(i: Int, dates: Int, extra: Seq[Array[Byte]] = Nil): Array[Byte] =
    dcmOn(i, i % dates, extra)

  /** Object `i`, dated `day` days after 2024-01-01. */
  private def dcmOn(i: Int, day: Int, extra: Seq[Array[Byte]] = Nil): Array[Byte] =
    DicomWriter.file(Seq(
      DicomWriter.strElement(0x0008, 0x0020, "DA",
        java.time.LocalDate.of(2024, 1, 1).plusDays(day).toString.replace("-", "")),
      DicomWriter.strElement(0x0008, 0x0060, "CS", "CT"),
      DicomWriter.strElement(0x0020, 0x000d, "UI", s"1.2.3.$i"),
      DicomWriter.strElement(0x0020, 0x0013, "IS", i.toString)) ++ extra)

  private def under(root: Path): Seq[Path] = {
    val w = Files.walk(root)
    try w.iterator().asScala.filter(_ != root).toVector finally w.close()
  }

  private def parquetFiles(root: Path): Int =
    under(root).count(_.toString.endsWith(".parquet"))

  /** The distinct permission strings of the files and of the directories
    * under `root`. */
  private def modes(root: Path): (Set[String], Set[String]) = {
    val (dirs, files) = under(root).partition(Files.isDirectory(_))
    def of(ps: Seq[Path]) =
      ps.map(p => PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).toSet
    (of(files), of(dirs))
  }

  /** Parquet files per `study_date=` directory under `data`. */
  private def filesPerDate(data: Path): Map[String, Int] =
    under(data).filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("study_date="))
      .map(d => d.getFileName.toString.stripPrefix("study_date=") -> parquetFiles(d)).toMap

  /** The jobs `body` runs, in order, each as its stages' (id, task count)
    * sorted by id — a job's last stage is its result stage. A marker job
    * run afterwards drains the asynchronous listener bus. */
  private def jobsDuring(body: => Unit): Seq[Seq[(Int, Int)]] = {
    val marker = "dicomwrite-marker"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Seq[(Int, Int)])]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.job.description") == marker))
          drained.countDown()
        else jobs.add(j.jobId -> j.stageInfos.map(s => s.stageId -> s.numTasks).sortBy(_._1))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS), "the listener bus did not drain")
    } finally sc.removeSparkListener(l)
    jobs.asScala.toSeq.sortBy(_._1).map(_._2)
  }

  /** Writes `n` objects under `dir/in`, object `i` dated by `day(i)`. */
  private def corpus(dir: Path, n: Int)(day: Int => Int): Path = {
    val in = dir.resolve("in")
    Files.createDirectories(in)
    (0 until n).foreach(i => Files.write(in.resolve(f"obj-$i%04d.dcm"), dcmOn(i, day(i))))
    in
  }

  /** Processes (and threads) forked on this machine since boot. */
  private def forks(): Long =
    Files.readAllLines(Paths.get("/proc/stat")).asScala
      .collectFirst { case l if l.startsWith("processes ") => l.split(' ')(1).toLong }.get

  test("a run forks fewer processes than it writes Parquet files, with stock permission bits") {
    assume(Files.isReadable(Paths.get("/proc/stat")), "needs /proc/stat")
    val dir = tmp()
    try {
      val in = dir.resolve("in")
      Files.createDirectories(in)
      (0 until 200).foreach(i => Files.write(in.resolve(f"obj-$i%04d.dcm"), dcm(i, dates = 100)))
      Files.write(in.resolve("bad.dcm"), "not a DICOM object".getBytes("UTF-8"))
      def run(out: Path) =
        DicomPipeline.run(spark, in.toString, out.resolve("data").toString,
          Some(out.resolve("errors").toString))
      run(dir.resolve("warm"))
      val out = dir.resolve("out")
      val before = forks()
      run(out)
      val spawned = forks() - before
      val files = parquetFiles(out)
      val forked = s"$spawned processes forked for $files Parquet files"
      info(forked)
      assert(spawned < files, forked)
      assert(parquetFiles(out.resolve("errors")) == 1)

      import spark.implicits._
      val stock = dir.resolve("stock")
      Seq((1, "a"), (2, "b")).toDF("n", "p").write.partitionBy("p").parquet(stock.toString)
      val (stockFiles, stockDirs) = modes(stock)
      assert(stockFiles.nonEmpty && stockDirs.nonEmpty)
      assert(modes(out) == ((stockFiles, stockDirs)))
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("a clean batch creates no errors directory") {
    val dir = tmp()
    try {
      val in = dir.resolve("in")
      Files.createDirectories(in)
      (0 until 2).foreach(i => Files.write(in.resolve(s"obj-$i.dcm"), dcm(i, dates = 2)))
      DicomPipeline.run(spark, in.toString, dir.resolve("data").toString,
        Some(dir.resolve("errors").toString))
      assert(spark.read.parquet(dir.resolve("data").toString).count() == 2)
      assert(!Files.exists(dir.resolve("errors")))
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("errors from three scan partitions land as three rows in one errors file") {
    val dir = tmp()
    try {
      val in = dir.resolve("in")
      Files.createDirectories(in)
      // Spark packs the scan largest-first, so object sizes place the
      // three failures: the parse failure is the largest object, the
      // route failure sits between two size classes of valid objects,
      // the expand failure is the smallest
      val comment = DicomWriter.strElement(0x0020, 0x4000, "LT", "x" * 200)
      (0 until 500).foreach { i =>
        Files.write(in.resolve(f"obj-$i%04d.dcm"),
          dcm(i, dates = 12, if (i < 250) Seq(comment) else Nil))
      }
      val (small, large) = (dcm(499, 12).length, dcm(0, 12, Seq(comment)).length)
      Files.write(in.resolve("bad-parse.dcm"), Array.fill[Byte](large + 1000)('x'))
      Files.write(in.resolve("bad-route.rar"), Array.fill[Byte]((small + large) / 2)(1))
      Files.write(in.resolve("bad-expand.zip"), "not a zip at all".getBytes("UTF-8"))
      import org.apache.spark.sql.functions.{col, spark_partition_id}
      val scan = spark.read.format("binaryFile").load(in.toString)
        .select(col("path"), spark_partition_id().as("part"))
      val failing = scan.filter(col("path").contains("/bad-")).collect().map(_.getInt(1))
      assert(scan.rdd.getNumPartitions > 8 && failing.distinct.length == 3,
        s"the failures share scan partitions: ${failing.mkString(",")}")

      val errors = dir.resolve("errors")
      DicomPipeline.run(spark, in.toString, dir.resolve("data").toString, Some(errors.toString))
      val rows = spark.read.parquet(errors.toString).collect()
        .map(r => (Paths.get(r.getAs[String]("source_s3_key")).getFileName.toString,
          r.getAs[String]("stage"))).sorted.toSeq
      assert(rows == Seq(("bad-expand.zip", "expand"), ("bad-parse.dcm", "parse"),
        ("bad-route.rar", "route")))
      assert(parquetFiles(errors) == 1)
      assert(spark.read.parquet(dir.resolve("data").toString).count() == 500)
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("a failing data write fails the run, releases the intermediate and writes no errors") {
    val dir = tmp()
    try {
      val in = dir.resolve("in")
      Files.createDirectories(in)
      (0 until 4).foreach(i => Files.write(in.resolve(s"obj-$i.dcm"), dcm(i, dates = 2)))
      Files.write(in.resolve("bad.dcm"), "not a DICOM object".getBytes("UTF-8"))
      // the data sink is a regular file: its write cannot create a directory
      val data = Files.write(dir.resolve("data"), "a file".getBytes("UTF-8"))
      def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val before = persisted
      intercept[Exception] {
        DicomPipeline.run(spark, in.toString, data.toString, Some(dir.resolve("errors").toString))
      }
      assert((persisted -- before).isEmpty, "the failed run left its intermediate persisted")
      assert(new String(Files.readAllBytes(data), "UTF-8") == "a file")
      // the errors write follows a successful data write only, so a retried
      // batch does not append its error rows twice
      assert(!Files.exists(dir.resolve("errors")))
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("the data write spreads 30 dates over the session's cores, one file per date") {
    val dir = tmp()
    try {
      val in = corpus(dir, 600)(_ % 30)
      val data = dir.resolve("data")
      val jobs = jobsDuring(DicomPipeline.run(spark, in.toString, data.toString))
      val writeTasks = jobs.last.last._2
      info(s"the data write's result stage ran $writeTasks tasks")
      assert(writeTasks > 1 && writeTasks <= spark.sparkContext.defaultParallelism)
      val perDate = filesPerDate(data)
      assert(perDate.size == 30 && perDate.values.forall(_ == 1), perDate.toString)
      assert(spark.read.parquet(data.toString).count() == 600)
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("a date holding half the batch is split over several files, every other date is one") {
    val dir = tmp()
    try {
      // objects 0..299 share day 0; the other 300 spread over days 1..29
      val in = corpus(dir, 600)(i => if (i < 300) 0 else 1 + i % 29)
      val data = dir.resolve("data")
      DicomPipeline.run(spark, in.toString, data.toString)
      val perDate = filesPerDate(data)
      assert(perDate.size == 30, perDate.toString)
      assert(perDate("2024-01-01") >= 2, perDate.toString)
      assert((perDate - "2024-01-01").values.forall(_ == 1), perDate.toString)
      val rows = spark.read.parquet(data.toString)
      assert(rows.count() == 600)
      assert(rows.filter("study_date = DATE'2024-01-01'").count() == 300)
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("the key union is one single-stage job, and a run plans no more jobs than the shuffled union did") {
    val dir = tmp()
    try {
      val in = corpus(dir, 600)(_ % 30)
      Files.write(in.resolve("bad.dcm"), "not a DICOM object".getBytes("UTF-8"))
      val jobs = jobsDuring(DicomPipeline.run(spark, in.toString,
        dir.resolve("data").toString, Some(dir.resolve("errors").toString)))
      info(s"${jobs.size} jobs: ${jobs.map(_.size).mkString(", ")} stages")
      assert(jobs.head.size == 1, s"the key-union job ran ${jobs.head.size} stages")
      // a distinct over the keys, a rebalanced data write and a rebalanced
      // errors write planned 5 jobs on this batch
      assert(jobs.size <= 5)
      assert(spark.read.parquet(dir.resolve("errors").toString).count() == 1)
    } finally graft.util.Fs.deleteRecursively(dir)
  }
}
