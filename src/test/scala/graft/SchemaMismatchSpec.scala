package graft

import java.nio.file.{Files, Path, Paths}

/** Pins the reference's two documented schema-mismatch failure modes as
  * ERRORS (SURVEY §1.4) — they must fail loudly, not coerce silently:
  *
  *  - "GroupColumnIO cannot be cast to PrimitiveColumnIO"
  *    (/root/reference/README.md:149-151): an SQ-typed column the table
  *    declares as array<string> shows up in one parquet file as a plain
  *    ''-string. Athena fails the split; our engine must fail the read.
  *
  *  - "HIVE_PARTITION_SCHEMA_MISMATCH" (/root/reference/README.md:180-199):
  *    the table schema evolved but an existing partition still carries an
  *    incompatible type. Athena fails the query until the stale partitions
  *    are deleted and re-crawled; our engine fails the scan, and the same
  *    delete-partition + re-crawl remedy restores service.
  */
class SchemaMismatchSpec extends SparkSuite {

  /** Copy every part-*.parquet under `from` into `to` (unique names), so
    * two independently-written schemas land in one directory — the layout
    * both failure modes need. */
  private def mergeParts(to: Path, from: Path*): Unit = {
    Files.createDirectories(to)
    from.zipWithIndex.foreach { case (src, i) =>
      val it = Files.walk(src).iterator()
      var n = 0
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.matches("part-.*\\.parquet")) {
          Files.copy(p, to.resolve(s"f${i}_$n.parquet")); n += 1
        }
      }
    }
  }

  private def rootCauses(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => e.getClass.getName + ": " + String.valueOf(e.getMessage))
      .toSeq

  test("SQ column written as ''-string fails the typed read (GroupColumnIO analog)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-sq-mismatch")
    // good file: SQ-typed column as the declared array<string>
    Seq(Tuple1(Seq("F", "A")))
      .toDF("patient_orientation").coalesce(1)
      .write.mode("overwrite").parquet(base.resolve("good").toString)
    // cleaned file: the same column "replaced with ''" (README.md:151)
    Seq(Tuple1(""))
      .toDF("patient_orientation").coalesce(1)
      .write.mode("overwrite").parquet(base.resolve("bad").toString)
    val table = base.resolve("table")
    mergeParts(table, base.resolve("good"), base.resolve("bad"))
    val typed = spark.read
      .schema("patient_orientation array<string>")
      .parquet(table.toString)
    val err = intercept[Exception](typed.collect())
    val chain = rootCauses(err).mkString("\n")
    assert(chain.toLowerCase.contains("parquet") || chain.contains("patient_orientation"),
      s"expected a parquet column-type error, got:\n$chain")
    // the mismatch must NOT silently coerce: a permissive schema-merge
    // read fails too (string vs array<string> are not combinable)
    val merge = intercept[Exception] {
      spark.read.option("mergeSchema", "true").parquet(table.toString).collect()
    }
    assert(rootCauses(merge).mkString.contains("merge"))
  }

  test("stale partition with incompatible type fails the table scan until re-crawled (HIVE_PARTITION_SCHEMA_MISMATCH analog)") {
    import spark.implicits._
    val loc = Files.createTempDirectory("graft-part-mismatch")
    // original layout: image_comments is a string
    Seq(("CT", "ok")).toDF("modality", "image_comments").coalesce(1)
      .write.parquet(loc.resolve("study_date=2020-01-01").toString)
    graft.pipeline.Catalog.registerTable(spark, loc.toString,
      db = "mismatch_db", table = "dicom_metadata")
    // schema change lands in a NEW partition: same column, now a bigint
    Seq(("MR", 42L)).toDF("modality", "image_comments").coalesce(1)
      .write.parquet(loc.resolve("study_date=2020-01-02").toString)
    spark.sql("MSCK REPAIR TABLE mismatch_db.dicom_metadata")
    // the mismatch surfaces as a read error, never a silent coercion
    val err = intercept[Exception] {
      spark.table("mismatch_db.dicom_metadata")
        .select("image_comments").collect()
    }
    val chain = rootCauses(err).mkString("\n").toLowerCase
    assert(chain.contains("parquet") || chain.contains("image_comments"),
      s"expected a partition-schema mismatch error, got:\n$chain")
    // the reference's remedy — drop the stale partition, re-crawl —
    // restores service (README.md:184-199)
    graft.util.Fs.deleteRecursively(loc.resolve("study_date=2020-01-01"))
    graft.pipeline.Catalog.crawl(spark, loc.toString,
      db = "mismatch_db", table = "dicom_metadata")
    assert(spark.table("mismatch_db.dicom_metadata")
      .select("image_comments").collect().map(_.getLong(0)).toSeq == Seq(42L))
  }
}
