package graft

import java.nio.file.{Files, Path, Paths}
import graft.pipeline.{Catalog, DicomPipeline}

/** Registration reads metadata only: `registerTable` states the table's
  * schema from one footer and adds its partitions from one listing of
  * the root, so it runs no Spark job, and registers what Spark's own
  * schema inference and partition discovery register over the same
  * location. */
class CatalogSpec extends SparkSuite {

  private def tmp(): Path =
    Files.createTempDirectory(Paths.get("target"), "catalog").toAbsolutePath

  private def str(g: Int, e: Int, vr: String, v: String) = DicomWriter.strElement(g, e, vr, v)

  /** `n` objects over `dates` study dates, written by the pipeline under
    * `dir/data`: strings, dates, PN and PN-list structs, multi-valued
    * arrays and an SQ map. */
  private def table(dir: Path, n: Int, dates: Int): String = {
    val in = Files.createDirectories(dir.resolve("in"))
    (0 until n).foreach { i =>
      Files.write(in.resolve(f"obj-$i%03d.dcm"), DicomWriter.file(Seq(
        str(0x0008, 0x0008, "CS", "ORIGINAL\\PRIMARY"),
        str(0x0008, 0x0020, "DA",
          java.time.LocalDate.of(2024, 1, 1).plusDays(i % dates).toString.replace("-", "")),
        str(0x0008, 0x0060, "CS", if (i % 2 == 0) "CT" else "MR"),
        DicomWriter.sqElement(0x0008, 0x1110, Seq(
          str(0x0008, 0x1150, "UI", "1.2.840.1") ++ str(0x0008, 0x1155, "UI", s"1.2.3.$i"))),
        str(0x0010, 0x0010, "PN", s"Doe^Jane$i"),
        str(0x0010, 0x1001, "PN", "Roe^Ann\\Poe^Bob"),
        str(0x0018, 0x1200, "DA", "20240101\\20230615"),
        str(0x0020, 0x000d, "UI", s"1.2.3.$i"))))
    }
    val data = dir.resolve("data").toString
    DicomPipeline.run(spark, in.toString, data)
    data
  }

  /** What the inferring `CREATE TABLE` and `MSCK REPAIR TABLE` register
    * over `loc`: Spark's own schema inference and partition discovery. */
  private def inferred(loc: String, name: String): String = {
    spark.sql("CREATE DATABASE IF NOT EXISTS catalog_db")
    spark.sql(s"DROP TABLE IF EXISTS catalog_db.$name")
    spark.sql(s"CREATE TABLE catalog_db.$name USING PARQUET LOCATION '$loc'")
    spark.sql(s"MSCK REPAIR TABLE catalog_db.$name")
    s"catalog_db.$name"
  }

  private def partitionsOf(t: String): Seq[String] =
    spark.sql(s"SHOW PARTITIONS $t").collect().map(_.getString(0)).toSeq

  private def rowsOf(t: String): Seq[String] =
    spark.table(t).collect().map(_.toString).sorted.toSeq

  test("registerTable over 30 dates runs no Spark job and registers what Spark infers") {
    val dir = tmp()
    try {
      val loc = table(dir, 60, dates = 30)
      val jobs = jobsDuring(Catalog.registerTable(spark, loc, "catalog_db", "registered"))
      assert(jobs.isEmpty, s"registration ran ${jobs.size} Spark jobs")
      val (got, want) = ("catalog_db.registered", inferred(loc, "reference"))
      assert(spark.table(got).schema == spark.table(want).schema)
      assert(partitionsOf(got).size == 30)
      assert(partitionsOf(got) == partitionsOf(want))
      assert(rowsOf(got).size == 60)
      assert(rowsOf(got) == rowsOf(want))
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("hidden entries under the root are never partitions") {
    val dir = tmp()
    try {
      val loc = Paths.get(table(dir, 6, dates = 3))
      // a job's `_temporary` tree, a dot-directory, a `_SUCCESS` marker and
      // a compaction's staging sibling, which carries a partition's name
      val job = Files.createDirectories(loc.resolve("_temporary/0/study_date=2024-02-01"))
      Files.write(job.resolve("part-0.parquet"), Array[Byte](1))
      Files.createDirectories(loc.resolve(".x"))
      Files.write(loc.resolve("_SUCCESS"), Array.emptyByteArray)
      val staged = Files.createDirectories(loc.resolve(".study_date=2024-01-09"))
      val part = loc.resolve("study_date=2024-01-01")
      Files.list(part).filter(_.toString.endsWith(".parquet")).forEach(f =>
        Files.copy(f, staged.resolve(f.getFileName)))
      Catalog.registerTable(spark, loc.toString, "catalog_db", "hidden")
      val want = inferred(loc.toString, "hidden_reference")
      assert(partitionsOf("catalog_db.hidden") ==
        Seq("study_date=2024-01-01", "study_date=2024-01-02", "study_date=2024-01-03"))
      assert(partitionsOf("catalog_db.hidden") == partitionsOf(want))
      assert(rowsOf("catalog_db.hidden") == rowsOf(want))
    } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("a location without partitions fails, naming it") {
    val dir = tmp()
    try {
      val loc = Files.createDirectories(dir.resolve("empty"))
      Files.write(loc.resolve("_SUCCESS"), Array.emptyByteArray)
      Files.createDirectories(loc.resolve("_temporary/0"))
      val registered = intercept[IllegalArgumentException](
        Catalog.registerTable(spark, loc.toString, "catalog_db", "empty"))
      assert(registered.getMessage.contains(loc.toString), registered.getMessage)
      val crawled = intercept[IllegalArgumentException](
        Catalog.crawl(spark, loc.toString, "catalog_db", "empty"))
      assert(crawled.getMessage.contains(loc.toString), crawled.getMessage)
    } finally graft.util.Fs.deleteRecursively(dir)
  }
}
