package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._
import graft.pipeline.DicomPipeline

/** The job's two writes cost per byte written, not per process forked or
  * per scan task:
  *  - the data and errors writes go through `ForkFreeLocalFileSystem`,
  *    so a run forks fewer processes than it writes Parquet files, with
  *    the permission bits a stock Hadoop write sets;
  *  - the errors write runs only when the key union saw an error, and is
  *    rebalanced into one file for a handful of rows however many scan
  *    partitions they came from. */
class DicomWriteSpec extends SparkSuite {

  private def tmp(): Path =
    Files.createTempDirectory(Paths.get("target"), "dicomwrite").toAbsolutePath

  private def dcm(i: Int, dates: Int, extra: Seq[Array[Byte]] = Nil): Array[Byte] =
    DicomWriter.file(Seq(
      DicomWriter.strElement(0x0008, 0x0020, "DA",
        java.time.LocalDate.of(2024, 1, 1).plusDays(i % dates).toString.replace("-", "")),
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
}
