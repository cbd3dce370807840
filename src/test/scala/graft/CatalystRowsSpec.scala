package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.{col, struct, to_json}
import graft.dicom.VrConvert
import graft.pipeline.DicomPipeline
import graft.pipeline.DicomPipeline.ImageRow

/** The batch frames are built from Catalyst rows by one converter
  * (`DicomPipeline.toCatalyst`). The external-`Row` path they replaced
  * is kept here as the oracle: every `DicomValue` variant must read the
  * same through `to_json` (which keeps map-entry order), except a date
  * in the 1582 calendar gap, which the old `java.sql.Date` path moved
  * ten days (COMPAT.md). */
class CatalystRowsSpec extends SparkSuite {

  private def str(g: Int, e: Int, vr: String, v: String) = DicomWriter.strElement(g, e, vr, v)

  /** Objects covering every value variant:
    *  - a: PN, a PN list, a DA list, multi-valued CS, a 6-key SQ (the
    *    HashMap path) and a 2-key SQ (the small-map path);
    *  - b: no StudyDate (the imputed 1979-01-01) and an SQ with an empty
    *    item (`DNull`);
    *  - c: StudyDate 1500-01-01; d: StudyDate 1582-10-10, in the gap. */
  private def corpus(dir: Path): Unit = {
    Files.write(dir.resolve("a.dcm"), DicomWriter.file(Seq(
      str(0x0008, 0x0008, "CS", "ORIGINAL\\PRIMARY\\AXIAL"),
      str(0x0008, 0x0020, "DA", "20240105"),
      str(0x0008, 0x0060, "CS", "CT"),
      DicomWriter.sqElement(0x0008, 0x1032, Seq(Seq(
        str(0x0008, 0x0100, "SH", "P123"), str(0x0008, 0x0102, "SH", "LOCAL"),
        str(0x0008, 0x0103, "SH", "1.0"), str(0x0008, 0x0104, "LO", "CT head"),
        str(0x0008, 0x0105, "CS", "DCMR"), str(0x0008, 0x010f, "CS", "CID1")).reduce(_ ++ _))),
      DicomWriter.sqElement(0x0008, 0x1110, Seq(
        str(0x0008, 0x1150, "UI", "1.2.840.1") ++ str(0x0008, 0x1155, "UI", "1.2.3.4"))),
      str(0x0010, 0x0010, "PN", "Doe^Jane^Mary^Dr^Jr=Ideo=Phon"),
      str(0x0010, 0x1001, "PN", "Roe^Ann\\Poe^Bob"),
      str(0x0018, 0x1200, "DA", "20240101\\20230615"))))
    Files.write(dir.resolve("b.dcm"), DicomWriter.file(Seq(
      str(0x0008, 0x0060, "CS", "MR"),
      DicomWriter.sqElement(0x0008, 0x1110, Seq(Array.emptyByteArray)),
      str(0x0010, 0x0010, "PN", "Roe^Rick"))))
    Files.write(dir.resolve("c.dcm"), DicomWriter.file(Seq(
      str(0x0008, 0x0020, "DA", "15000101"), str(0x0008, 0x0060, "CS", "OT"))))
    Files.write(dir.resolve("d.dcm"), DicomWriter.file(Seq(
      str(0x0008, 0x0020, "DA", "15821010"), str(0x0008, 0x0060, "CS", "OT"))))
  }

  private def oracle(rows: RDD[ImageRow], columns: Seq[String]): DataFrame = {
    val keywords = rows.flatMap(_.values.collect {
      case (k, v) if v != VrConvert.DNull => k
    }).distinct().collect().sorted.toIndexedSeq
    val schema = DicomPipeline.schemaFor(keywords)
    assert(schema.fieldNames.toSeq == columns)
    spark.createDataFrame(rows.map(ir =>
      Row.fromSeq(keywords.map(kw => ir.values.get(kw).map(CatalystRowsSpec.toExternal).orNull))), schema)
  }

  /** (file name, column) → the column's value as JSON. */
  private def cells(df: DataFrame): Map[(String, String), String] = {
    val cols = df.columns.toSeq
    df.select(cols.map(c => to_json(struct(col(c))).as(c)) :+ col("source_s3_key").as("key"): _*)
      .collect().flatMap { r =>
        val file = Paths.get(r.getAs[String]("key")).getFileName.toString
        cols.map(c => (file, c) -> r.getAs[String](c))
      }.toMap
  }

  private def withCorpus(f: Path => Unit): Unit = {
    val dir = Files.createTempDirectory(Paths.get("target"), "catalystrows").toAbsolutePath
    try { corpus(dir); f(dir) } finally graft.util.Fs.deleteRecursively(dir)
  }

  test("toDataFrame equals the Row-path oracle on every variant, except the calendar-gap date") {
    withCorpus { dir =>
      val ex = DicomPipeline.extract(spark, dir.toString, "bkt", "reg")
      assert(ex.errors.isEmpty())
      val df = DicomPipeline.toDataFrame(spark, ex)
      val (now, old) = (cells(df), cells(oracle(ex.rows, df.columns.toSeq)))
      assert(now.size == 4 * df.columns.length)
      val gap = ("d.dcm", "study_date")
      assert(now(gap) == """{"study_date":"1582-10-10"}""")
      assert(old(gap) == """{"study_date":"1582-10-20"}""")
      assert(now - gap == old - gap)

      // the variants really are there
      assert(now(("a.dcm", "other_patient_names")).contains(""""family_name":"Poe""""))
      assert(now(("a.dcm", "date_of_last_calibration")) ==
        """{"date_of_last_calibration":["2024-01-01","2023-06-15"]}""")
      assert(now(("a.dcm", "image_type")).contains("""["ORIGINAL","PRIMARY","AXIAL"]"""))
      assert(now(("a.dcm", "procedure_code_sequence")).contains(""""ContextIdentifier":"CID1""""))
      assert(now(("b.dcm", "referenced_study_sequence")) == "{}")
      assert(now(("b.dcm", "study_date")) == """{"study_date":"1979-01-01"}""")
      assert(now(("c.dcm", "study_date")) == """{"study_date":"1500-01-01"}""")
    }
  }

  test("the format(\"dicom\") source reads the values toDataFrame builds") {
    withCorpus { dir =>
      val ex = DicomPipeline.extract(spark, dir.toString, "dicom-source", "local")
      val df = DicomPipeline.toDataFrame(spark, ex)
      val source = spark.read.format("dicom").load(dir.toString)
      assert(source.columns.toSeq == df.columns.toSeq)
      assert(cells(source) == cells(df))
    }
  }

  test("the format(\"dicom\") source reads PN subfields, as toDataFrame builds them") {
    withCorpus { dir =>
      val ex = DicomPipeline.extract(spark, dir.toString, "dicom-source", "local")
      val df = DicomPipeline.toDataFrame(spark, ex)
      val source = spark.read.format("dicom").load(dir.toString)
      // nested schema pruning hands the scan builder pruned structs
      val cols = Seq("source_s3_key", "patient_name.given_name", "patient_name.family_name",
        "patient_name.ideographic", "other_patient_names.given_name")
      def subfields(d: DataFrame) = d.select(cols.map(col): _*).collect().toSet
      val expected = subfields(df)
      assert(expected.exists(r => r.getString(1) == "Jane" && r.getString(2) == "Doe" &&
        r.getString(3) == "Ideo" && r.getSeq[String](4) == Seq("Ann", "Bob")))
      assert(subfields(source) == expected)
      assert(source.where(col("patient_name.given_name") === "Rick")
        .select("patient_name.family_name").collect().map(_.getString(0)).toSeq == Seq("Roe"))
    }
  }

  test("a user schema that disagrees with the dictionary fails at planning") {
    withCorpus { dir =>
      import org.apache.spark.sql.types._
      val wrong = StructType(Seq(StructField("study_date", StringType)))
      val e = intercept[IllegalArgumentException] {
        spark.read.format("dicom").schema(wrong).load(dir.toString).collect()
      }
      assert(e.getMessage.contains("study_date is date"))
    }
  }

  test("the errors frame has the product encoder's schema") {
    assert(DicomPipeline.ErrorSchema == Encoders.product[DicomPipeline.DicomError].schema)
  }
}

object CatalystRowsSpec {
  /** The replaced path: external values through the row encoder. */
  def toExternal(v: VrConvert.DicomValue): Any = v match {
    case VrConvert.DStr(s)             => s
    case VrConvert.DStrList(xs)        => xs
    case VrConvert.DDate(d)            => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d))
    case VrConvert.DDateList(xs)       => xs.map(d => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d)))
    case VrConvert.DPersonName(c)      => Row.fromSeq(c)
    case VrConvert.DPersonNameList(xs) => xs.map(Row.fromSeq)
    case VrConvert.DMap(m)             => m
    case VrConvert.DNull               => null
  }
}
