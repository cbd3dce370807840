package graft

import org.apache.spark.sql.types.DateType
import graft.pipeline.DicomPipeline

/** Correctness pin for the wide-schema path [[WideSchemaRehearsal]]
  * measures: hundreds of distinct PS3.6 tags must become columns with
  * dictionary-driven types, values must survive the full
  * parse→flatten→finalize trip, and the crawler merge must union two
  * batches' disjoint-ish schemas losslessly. */
class WideSchemaSpec extends SparkSuite {

  test("500+ distinct dictionary tags become typed columns; crawl merges batches") {
    val width = 520
    val pool = WideSchemaRehearsal.candidates(width)
    assert(pool.size == width, "dictionary pool smaller than expected")
    // the pool really spans groups (study, patient, acquisition, beyond)
    assert(pool.map(_._1).distinct.size >= 10, "candidate tags collapsed into few groups")
    val dir = java.nio.file.Files.createTempDirectory("graft-wide")
    val out = dir.resolve("out")
    try {
      val in = java.nio.file.Files.createDirectory(dir.resolve("in"))
      (0 until 80).foreach { i =>
        java.nio.file.Files.write(in.resolve(f"obj-$i%03d.dcm"),
          WideSchemaRehearsal.wideDcm(pool, i, perObj = 60))
      }
      val ex = DicomPipeline.extract(spark, in.toString, "wide", "local")
      val df = DicomPipeline.toDataFrame(spark, ex)
      assert(ex.errors.isEmpty(), "wide fixtures must parse clean")
      assert(df.count() == 80)
      // every pool keyword that any object carried is a column, snake_cased
      val cols = df.columns.toSet
      val expected = (0 until 80)
        .flatMap { i =>
          val start = (i * 37) % width
          (0 until 60).map(j => pool((start + j) % width)._3.keyword)
        }.toSet.map(graft.dicom.Tags.snakeCase)
      assert(expected.size > 500, s"fixtures only exercised ${expected.size} tags")
      val missing = expected -- cols
      assert(missing.isEmpty, s"${missing.size} observed tags never became columns: ${missing.take(5)}")
      // dictionary-driven typing survives width: DA→date, PN→struct
      val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
      val daCol = pool.collectFirst { case (_, _, t) if t.vr == "DA" =>
        graft.dicom.Tags.snakeCase(t.keyword) }.get
      assert(byName(daCol) == DateType, s"$daCol not DateType")
      pool.collectFirst { case (_, _, t) if t.vr == "PN" =>
        graft.dicom.Tags.snakeCase(t.keyword) }.foreach { pn =>
        if (byName.contains(pn))
          assert(byName(pn) == DicomPipeline.pnStruct, s"$pn lost the PN struct")
      }
      // crawl merge: two half-pools write different schemas into one table
      val inA = java.nio.file.Files.createDirectory(dir.resolve("inA"))
      val inB = java.nio.file.Files.createDirectory(dir.resolve("inB"))
      (0 until 30).foreach { i =>
        java.nio.file.Files.write(inA.resolve(f"a-$i%03d.dcm"),
          WideSchemaRehearsal.wideDcm(pool.take(width / 2), i, perObj = 40))
        java.nio.file.Files.write(inB.resolve(f"b-$i%03d.dcm"),
          WideSchemaRehearsal.wideDcm(pool.drop(width / 2), i, perObj = 40))
      }
      DicomPipeline.run(spark, inA.toString, out.toString, None, "wide", "local")
      DicomPipeline.run(spark, inB.toString, out.toString, None, "wide", "local")
      val merged = graft.pipeline.Catalog.crawl(
        spark, out.toString, "dicom_db", "wide_spec")
      try {
        assert(spark.table("dicom_db.wide_spec").count() == 60)
        // the union of both batch schemas: comfortably wider than either
        // batch alone (each tops out at perObj+lineage+partition ≈ 46)
        assert(merged.columns.length > 200,
          s"merge collapsed: ${merged.columns.length} cols")
      } finally spark.sql("DROP TABLE IF EXISTS dicom_db.wide_spec")
    } finally graft.util.Fs.deleteRecursively(dir)
  }
}
