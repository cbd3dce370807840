package graft

import graft.pipeline.{Catalog, DicomPipeline}

/** End-to-end pipeline over the reference fixture set: extraction counts,
  * schema shape, error channel (DLQ analog), partitioned write + pruned
  * SQL read, crawler merge. */
class DicomPipelineSpec extends SparkSuite {

  private val fixtures = graft.queries.DicomQueries.Fixtures

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "dicomspec").toAbsolutePath.toString

  private lazy val extracted = DicomPipeline.extract(spark, fixtures, "bkt", "reg")
  private lazy val df = DicomPipeline.toDataFrame(spark, extracted)

  test("extraction yields 10 images (2 loose + 2/zip + 2/tar + 2/tgz + 2/tbz2)") {
    assert(df.count() == 10)
  }

  test("error channel: exactly the DICOMDIR fixture fails (README DLQ test)") {
    val errs = extracted.errors.collect()
    assert(errs.length == 1)
    assert(errs.head.source_s3_key.endsWith("DICOMDIR"))
    assert(errs.head.stage == "parse")
  }

  test("schema: snake_case columns, typed partition col, empty cols absent") {
    val cols = df.columns.toSet
    assert(cols.contains("study_date"))
    assert(cols.contains("modality"))
    assert(cols.contains("sopinstance_uid"))
    assert(cols.contains("source_s3_archive_path"))
    // empty-on-every-image elements never become columns (drop-all-null)
    assert(!cols.contains("accession_number"))
    assert(!cols.contains("patient_orientation"))
    import org.apache.spark.sql.types._
    assert(df.schema("study_date").dataType == DateType)
    assert(df.schema("image_type").dataType == ArrayType(StringType))
    assert(df.schema("patient_name").dataType == DicomPipeline.pnStruct)
    assert(df.schema("rows").dataType == StringType) // US→string quirk
  }

  test("partitioned write + catalog + pruned SQL read (E3 path)") {
    val out = tmp()
    val (_, errDf) = DicomPipeline.run(spark, fixtures, s"$out/data",
      errorPath = Some(s"$out/errors"), bucket = "bkt", region = "reg")
    assert(errDf.count() == 1)
    Catalog.registerTable(spark, s"$out/data", "dicom_db", "dicom_metadata")
    val total = spark.sql("SELECT count(*) c FROM dicom_db.dicom_metadata").head.getLong(0)
    assert(total == 10)
    // partition pruning: filter on study_date must hit only matching dirs
    val dates = spark.sql(
      "SELECT study_date, count(*) n FROM dicom_db.dicom_metadata GROUP BY 1").collect()
    assert(dates.map(_.getLong(1)).sum == 10)
    val one = dates.head.getDate(0).toString
    val pruned = spark.sql(
      s"SELECT * FROM dicom_db.dicom_metadata WHERE study_date = DATE '$one'")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() == dates.head.getLong(1))
    // physical scan must carry the partition filter
    assert(plan.contains("PartitionFilters") || pruned.count() < total)
  }

  test("dicom_partitioned_sql: standing-catalog reuse ≡ fresh-table-per-call, repeat call stable") {
    // the standing entry clears + fully re-extracts the data but keeps
    // the registration; the reference re-DDLs a fresh table over a fresh
    // directory — both must produce identical rows, and a SECOND
    // standing call (registration now standing) must reproduce them again
    val standing = graft.queries.DicomQueries.partitionedSql(spark, "")
      .collect().map(_.toString)
    val again = graft.queries.DicomQueries.partitionedSql(spark, "")
      .collect().map(_.toString)
    val out = tmp()
    DicomPipeline.run(spark, fixtures, s"$out/data", Some(s"$out/errors"),
      "ref-bucket", "ref-region")
    Catalog.registerTable(spark, s"$out/data", "dicom_db", "dicom_metadata_fresh")
    val fresh = spark.sql(
      """SELECT date_format(study_date, 'yyyy-MM-dd') AS study_date,
        |       count(*) AS n_images,
        |       count(DISTINCT sopinstance_uid) AS n_instances
        |FROM dicom_db.dicom_metadata_fresh
        |GROUP BY study_date ORDER BY study_date""".stripMargin)
      .collect().map(_.toString)
    assert(standing.nonEmpty && standing.sameElements(fresh),
      "standing-catalog path drifted from the fresh-table path")
    assert(again.sameElements(fresh), "second standing call drifted")
  }

  test("crawler merges divergent per-batch schemas") {
    val out = tmp()
    // batch 1: loose files only; batch 2: the zip (different column sets
    // possible; at minimum merge must union without error)
    DicomPipeline.run(spark, s"$fixtures/example-0", s"$out/data")
    DicomPipeline.run(spark, s"$fixtures/example.zip", s"$out/data")
    val merged = Catalog.crawl(spark, s"$out/data", table = "dicom_merged")
    assert(merged.count() == 3)
    assert(spark.sql("SELECT count(*) FROM dicom_db.dicom_merged").head.getLong(0) == 3)
  }

  test("crawl registers the merged schema: a column only the later-dated batch has is in the table") {
    val out = tmp()
    def batch(name: String, elements: Array[Byte]*): String = {
      val dir = java.nio.file.Paths.get(out, name)
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(dir.resolve(s"$name.dcm"), DicomWriter.file(elements))
      dir.toString
    }
    // the narrower batch lands on the earlier date, so a one-footer
    // sample of the table root sees the schema without patient_sex
    val early = batch("early",
      DicomWriter.strElement(0x0008, 0x0020, "DA", "20240101"),
      DicomWriter.strElement(0x0008, 0x0060, "CS", "CT"))
    val late = batch("late",
      DicomWriter.strElement(0x0008, 0x0020, "DA", "20240301"),
      DicomWriter.strElement(0x0008, 0x0060, "CS", "MR"),
      DicomWriter.strElement(0x0010, 0x0040, "CS", "F"))
    DicomPipeline.run(spark, early, s"$out/data")
    DicomPipeline.run(spark, late, s"$out/data")
    val crawled = Catalog.crawl(spark, s"$out/data", table = "dicom_crawled")
    assert(crawled.columns.contains("patient_sex"))
    assert(spark.table("dicom_db.dicom_crawled").columns.contains("patient_sex"),
      "the registered table lost the column only the later batch carries")
    val sexes = spark.sql(
      "SELECT study_date, patient_sex FROM dicom_db.dicom_crawled ORDER BY study_date")
      .collect().map(r => (r.getDate(0).toString, r.getString(1))).toSeq
    assert(sexes == Seq(("2024-01-01", null), ("2024-03-01", "F")))
  }

  test("a batch whose every object fails or is ignored writes no data and one error row") {
    val out = tmp()
    val in = java.nio.file.Paths.get(out, "in")
    java.nio.file.Files.createDirectories(in)
    java.nio.file.Files.write(in.resolve("bad.dcm"), "not a DICOM object".getBytes("UTF-8"))
    java.nio.file.Files.write(in.resolve("sidecar.json"), "{}".getBytes("UTF-8"))
    val (data, _) = DicomPipeline.run(spark, in.toString, s"$out/data", Some(s"$out/errors"))
    assert(data.columns.isEmpty)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(out, "data")))
    val errors = spark.read.parquet(s"$out/errors").collect()
    assert(errors.map(r => (r.getAs[String]("source_s3_key").endsWith("bad.dcm"),
      r.getAs[String]("stage"))).toSeq == Seq((true, "parse")))
  }

  test("an object whose file VR disagrees with the dictionary is a transform error, not a failed batch") {
    val out = tmp()
    val in = java.nio.file.Paths.get(out, "in")
    java.nio.file.Files.createDirectories(in)
    def obj(name: String, elements: Array[Byte]*): Unit =
      java.nio.file.Files.write(in.resolve(name), DicomWriter.file(elements))
    obj("good.dcm", DicomWriter.strElement(0x0008, 0x0020, "DA", "20240301"),
      DicomWriter.strElement(0x0008, 0x0060, "CS", "CT"),
      DicomWriter.strElement(0x0010, 0x0010, "PN", "Doe^Jane"))
    // PatientName (dictionary PN) and StudyDate (dictionary DA) as LO
    obj("name-lo.dcm", DicomWriter.strElement(0x0008, 0x0060, "CS", "CT"),
      DicomWriter.strElement(0x0010, 0x0010, "LO", "Doe^John"))
    obj("date-lo.dcm", DicomWriter.strElement(0x0008, 0x0020, "LO", "20240302"),
      DicomWriter.strElement(0x0008, 0x0060, "CS", "MR"))
    obj("date-un.dcm", DicomWriter.element(0x0008, 0x0020, "UN", "20240303".getBytes("UTF-8")),
      DicomWriter.strElement(0x0008, 0x0060, "CS", "MR"))
    // a drifted value inside an SQ item is stringified like any other
    obj("sq-item.dcm", DicomWriter.strElement(0x0008, 0x0020, "DA", "20240304"),
      DicomWriter.sqElement(0x0008, 0x1110, Seq(
        DicomWriter.strElement(0x0008, 0x0020, "LO", "20240304"))))
    DicomPipeline.run(spark, in.toString, s"$out/data", Some(s"$out/errors"))
    val data = spark.read.parquet(s"$out/data")
    def name(key: String) = java.nio.file.Paths.get(key).getFileName.toString
    assert(data.select("source_s3_key").collect().map(r => name(r.getString(0))).sorted.toSeq ==
      Seq("good.dcm", "sq-item.dcm"))
    assert(data.filter("patient_name.family_name = 'Doe'").count() == 1)
    val errors = spark.read.parquet(s"$out/errors").collect()
      .map(r => (name(r.getAs[String]("source_s3_key")), r.getAs[String]("stage"),
        r.getAs[String]("error"))).sortBy(_._1).toSeq
    assert(errors.map(e => (e._1, e._2)) ==
      Seq(("date-lo.dcm", "transform"), ("date-un.dcm", "transform"), ("name-lo.dcm", "transform")))
    assert(errors.forall(_._3.startsWith("VrDriftException: ")), errors.mkString("; "))

    // a source read of the drifted columns skips them; failOnError surfaces them
    val read = spark.read.format("dicom").load(in.toString)
      .select("source_s3_key", "patient_name", "study_date").collect()
    assert(read.map(r => name(r.getString(0))).sorted.toSeq == Seq("good.dcm", "sq-item.dcm"))
    val strict = spark.read.format("dicom").option("failOnError", "true").load(in.toString)
    val e = intercept[Exception] { strict.collect() }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: chain(t.getCause)
    assert(chain(e).exists(_.contains("transform: VrDriftException")))
  }

  test("per-object trigger isolation (maxFilesPerTrigger=1, S1 parity)") {
    val out = tmp()
    val in = s"$out/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    Seq("example-0", "example-6", "example.zip").foreach { f =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$fixtures/$f"),
        java.nio.file.Paths.get(s"$in/$f"))
    }
    val q = graft.streaming.DicomStream.start(
      spark, in, s"$out/data", s"$out/errors", s"$out/ckpt",
      maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    // three per-object micro-batches, same total as one batch
    assert(spark.read.parquet(s"$out/data").count() == 4)
    assert(q.recentProgress.count(_.numInputRows > 0) == 3)
  }

  test("run and a streaming drain leave no persisted RDDs behind") {
    val out = tmp()
    val in = java.nio.file.Paths.get(out, "in")
    java.nio.file.Files.createDirectories(in)
    (0 until 2).foreach { i =>
      java.nio.file.Files.write(in.resolve(s"obj-$i.dcm"), DicomWriter.file(Seq(
        DicomWriter.strElement(0x0008, 0x0020, "DA", "20240301"),
        DicomWriter.strElement(0x0008, 0x0060, "CS", "CT"))))
    }
    // compared with the set before: other suites share this SparkContext
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    DicomPipeline.run(spark, in.toString, s"$out/data", Some(s"$out/errors"))
    assert(spark.read.parquet(s"$out/data").count() == 2)
    assert((persisted -- before).isEmpty, "run left its intermediate persisted")
    val q = graft.streaming.DicomStream.start(
      spark, in.toString, s"$out/stream", s"$out/stream-errors", s"$out/ckpt",
      maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    assert(spark.read.parquet(s"$out/stream").count() == 2)
    assert((persisted -- before).isEmpty, "micro-batches left their intermediates persisted")
  }

  test("the extraction queries that never write leave no persisted RDDs behind") {
    // only DicomPipeline.write persists an extraction, and it releases it
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    assert(graft.queries.DicomQueries.extractFlat(spark, "").count() == 10)
    assert(graft.queries.DicomQueries.errors(spark, "").count() == 1)
    assert((persisted -- before).isEmpty, "extractFlat or errors left an extraction persisted")
  }

  test("incompatible per-batch schemas FAIL the crawl (SURVEY §1.4 error semantics)") {
    val out = tmp()
    import spark.implicits._
    // batch 1 writes a column as string; batch 2 writes it as a map —
    // the documented GroupColumnIO/HIVE_PARTITION_SCHEMA_MISMATCH class
    // of failure must surface as an error, not a silent coercion
    Seq(("a", "s")).toDF("k", "clash").write.parquet(s"$out/data/p1")
    Seq(("b", Map("x" -> "y"))).toDF("k", "clash").write.parquet(s"$out/data/p2")
    intercept[org.apache.spark.SparkException] {
      spark.read.option("mergeSchema", "true").parquet(s"$out/data/p1", s"$out/data/p2")
        .collect()
    }
  }

  test("streaming ingest: exactly-once across restarts") {
    val out = tmp()
    val in = s"$out/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    Seq("example-0", "example.zip").foreach { f =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$fixtures/$f"),
        java.nio.file.Paths.get(s"$in/$f"))
    }
    val q1 = graft.streaming.DicomStream.start(
      spark, in, s"$out/data", s"$out/errors", s"$out/ckpt")
    q1.awaitTermination()
    assert(spark.read.parquet(s"$out/data").count() == 3)
    // restart with no new files: checkpoint prevents reprocessing
    val q2 = graft.streaming.DicomStream.start(
      spark, in, s"$out/data", s"$out/errors", s"$out/ckpt")
    q2.awaitTermination()
    assert(spark.read.parquet(s"$out/data").count() == 3)
    // new file arrives → only it is processed
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$fixtures/example-6"),
      java.nio.file.Paths.get(s"$in/example-6"))
    val q3 = graft.streaming.DicomStream.start(
      spark, in, s"$out/data", s"$out/errors", s"$out/ckpt")
    q3.awaitTermination()
    assert(spark.read.parquet(s"$out/data").count() == 4)
  }

  test("small-file compaction: many files collapse, data survives, swap is whole") {
    import spark.implicits._
    val part = s"${tmp()}/study_date=1999-01-01"
    // the reference's weakness: one file per invocation → write 20 tiny files
    (1 to 20).foreach { i =>
      Seq((i.toLong, s"sop-$i")).toDF("idx", "sop")
        .coalesce(1).write.mode("append").parquet(part)
    }
    val beforeRows = spark.read.parquet(part).orderBy($"idx").collect().toSeq
    // the fork-free rewrite sets the bits the stock Hadoop writes above set
    def modes() = {
      import scala.jdk.CollectionConverters._
      def mode(p: java.nio.file.Path) = java.nio.file.attribute.PosixFilePermissions
        .toString(java.nio.file.Files.getPosixFilePermissions(p))
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(part))
      val files = try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toVector
        finally s.close()
      (files.map(mode).toSet, mode(java.nio.file.Paths.get(part)))
    }
    val stockModes = modes()
    val (nBefore, nAfter) = Catalog.compactPartition(spark, part)
    assert(nBefore >= 20 && nAfter < nBefore)
    assert(nAfter == 1) // 20 tiny files fit one 128 MB target file
    val afterRows = spark.read.parquet(part).orderBy($"idx").collect().toSeq
    assert(afterRows == beforeRows)
    assert(stockModes._1.size == 1 && modes() == stockModes)
    // staging/backup dirs are hidden siblings and must be gone afterward
    val parent = java.nio.file.Paths.get(part).getParent
    val base = java.nio.file.Paths.get(part).getFileName.toString
    assert(!java.nio.file.Files.exists(parent.resolve(s".$base.compact-stage")))
    assert(!java.nio.file.Files.exists(parent.resolve(s".$base.compact-old")))
    // a table-root read mid-compaction can never see staging dirs as
    // partitions: simulate the stage-present window and read the root
    java.nio.file.Files.createDirectories(parent.resolve(s".$base.compact-stage"))
    assert(spark.read.parquet(parent.toString).count() == afterRows.size)
    graft.util.Fs.deleteRecursively(parent.resolve(s".$base.compact-stage"))
  }

  test("ANALYZE feeds the CBO: catalog stats present after analyze") {
    import spark.implicits._
    val loc = tmp()
    Seq(("CT", 1L), ("MR", 2L)).toDF("modality", "n").coalesce(1)
      .write.parquet(s"$loc/study_date=2001-01-01")
    Catalog.registerTable(spark, loc, db = "stats_db", table = "t")
    Catalog.analyze(spark, db = "stats_db", table = "t")
    val stats = spark.sql("DESCRIBE TABLE EXTENDED stats_db.t modality")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(stats.get("distinct_count").exists(_ != "NULL"),
      s"column NDV must be collected, got $stats")
    val tblMeta = spark.sql("DESCRIBE TABLE EXTENDED stats_db.t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(tblMeta.get("Statistics").exists(_.contains("2 rows")),
      s"table rowCount must be in catalog statistics, got ${tblMeta.get("Statistics")}")
  }

  test("dicom→corpus funnel: deterministic, one row per image, stage law holds") {
    import spark.implicits._
    val a = graft.queries.DicomQueries.corpusFunnel(spark, "")
      .collect()
    val b = graft.queries.DicomQueries.corpusFunnel(spark, "")
      .collect()
    assert(a.length == 10, "funnel must account for every extracted image")
    assert(a.map(_.toString).sameElements(b.map(_.toString)),
      "composition is not deterministic")
    // stage-composition law: curated ⇔ survived exact dedup AND
    // near-dup removal AND the quality gate
    val rows = graft.queries.DicomQueries.corpusFunnel(spark, "")
      .select("norm_md5", "is_dup", "is_neardup", "quality_keep", "curated")
      .collect()
    rows.foreach { r =>
      val (dup, nd, keep, cur) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(cur == (if (dup == 0 && nd == 0 && keep == 1) 1L else 0L),
        s"curated flag violates the stage law: dup=$dup nd=$nd keep=$keep cur=$cur")
      // stage order: only exact-dedup SURVIVORS reach the near-dup stage
      assert(!(dup == 1 && nd == 1),
        "a doc dropped at exact dedup must never carry a near-dup flag")
    }
    // exact-dedup rule: per norm_md5, exactly one survivor (is_dup=0)
    rows.groupBy(_.getString(0)).foreach { case (h, g) =>
      assert(g.count(_.getLong(1) == 0L) == 1,
        s"hash $h must have exactly one canonical doc")
    }
    // the near-dup stage must actually fire on the fixture corpus
    // (same-series images share most metadata tokens) — a vacuous
    // stage would gate nothing
    assert(rows.exists(_.getLong(2) == 1L),
      "near-dup stage is vacuous on the fixture corpus")
  }

  test("day-2 funnel delta == arrival-ordered full recompute restricted to delta docs") {
    // two implementations of one law: the incremental entry (hash
    // semi-join vs the standing relation + incrementalPairs batch-vs-
    // index near-dup) must reproduce the full funnelOf recompute with
    // arrival precedence, row for row over the delta docs
    val inc = graft.queries.DicomQueries.corpusFunnelDelta(spark, "")
      .collect().map(_.toString)
    val re = graft.queries.DicomQueries.funnelDayTwoRecompute(spark)
      .collect().map(_.toString)
    assert(inc.nonEmpty, "delta funnel returned nothing — spec vacuous")
    assert(inc.sameElements(re),
      s"incremental delta funnel diverges from the arrival-ordered recompute:\n" +
        s"inc=${inc.mkString("; ")}\nre =${re.mkString("; ")}")
    // the changed object re-extracts but its unchanged docs must dedup
    // away against the standing copies of themselves (is_dup=1), never
    // emit as curated delta rows
    val changed = graft.queries.DicomQueries.corpusFunnelDelta(spark, "")
      .filter("source_key = 'example-0'").collect()
    assert(changed.nonEmpty, "the drifted-length object must re-extract")
    changed.foreach { r =>
      assert(r.getAs[Long]("is_dup") == 1L,
        s"re-extracted unchanged doc must exact-dup against the standing sink: $r")
      assert(r.getAs[Long]("curated") == 0L)
    }
  }

  test("persisted-standing day-2 funnel == recomputing delta funnel, row for row") {
    // VERDICT r13 #1: the production-economics twin reads yesterday's
    // PERSISTED hash relation + band/set index instead of re-deriving
    // the standing relations — both are deterministic functions of the
    // standing corpus, so the funnel output must be identical. Run it
    // twice: the first call builds the per-process standing artifacts
    // (the day-1 job), the second exercises the steady-state morning
    // job against the already-persisted relations — both must match.
    val batch = graft.queries.DicomQueries.corpusFunnelDelta(spark, "")
      .collect().map(_.toString)
    val viaIdxCold = graft.queries.DicomQueries.corpusFunnelDeltaIdx(spark, "")
      .collect().map(_.toString)
    val viaIdxWarm = graft.queries.DicomQueries.corpusFunnelDeltaIdx(spark, "")
      .collect().map(_.toString)
    assert(viaIdxCold.nonEmpty, "persisted-standing delta funnel returned nothing — spec vacuous")
    assert(viaIdxCold.sameElements(batch),
      s"persisted-standing delta funnel diverges from the recomputing twin:\n" +
        s"idx=${viaIdxCold.mkString("; ")}\nbatch=${batch.mkString("; ")}")
    assert(viaIdxWarm.sameElements(batch),
      "steady-state (reused-artifact) run diverges from the recomputing twin")
    // the law must hold for the dup story too: the changed object's
    // unchanged docs exact-dup away against the PERSISTED hash relation
    val changed = graft.queries.DicomQueries.corpusFunnelDeltaIdx(spark, "")
      .filter("source_key = 'example-0'").collect()
    assert(changed.nonEmpty && changed.forall(_.getAs[Long]("is_dup") == 1L),
      "re-extracted unchanged docs must exact-dup against the persisted hashes")
  }

  test("streamed day-2 funnel delta == batch delta funnel, row for row") {
    // only the delta objects flow through the checkpointed per-object
    // stream; the standing side stays batch — the merged sink must
    // reconstruct the batch delta extraction's relation exactly, so the
    // shared incremental funnel emits identical attrition rows
    val streamed = graft.queries.StreamQueries.streamCorpusFunnelDelta(spark, "")
      .collect().map(_.toString)
    val batch = graft.queries.DicomQueries.corpusFunnelDelta(spark, "")
      .collect().map(_.toString)
    assert(streamed.nonEmpty, "streamed delta funnel returned nothing — spec vacuous")
    assert(streamed.sameElements(batch),
      "streamed delta funnel diverges from the batch delta funnel")
  }

  test("streamed dicom→corpus funnel == batch funnel, row for row") {
    // per-object micro-batches write per-batch observed-key schemas; the
    // merged sink read must reconstruct exactly the batch extraction's
    // union-of-observed-keys relation, so the funnel output is identical
    val streamed = graft.queries.StreamQueries.streamCorpusFunnel(spark, "")
      .collect().map(_.toString)
    val batch = graft.queries.DicomQueries.corpusFunnel(spark, "")
      .collect().map(_.toString)
    assert(streamed.nonEmpty, "streamed funnel returned nothing — spec vacuous")
    assert(streamed.sameElements(batch),
      "streamed funnel diverges from the batch funnel")
  }

  test("standing hash relation writes range-partitioned, never a single-task coalesce") {
    // VERDICT r14 #1: the relation is corpus-cardinality — its write
    // layout must mirror Dedup.writeIndex's sets relation (range
    // exchange on the key, parallel writers over disjoint hash ranges),
    // not the old coalesce(1) single-task funnel
    import spark.implicits._
    val keyed = Seq("a1", "b2", "c3", "d4").toDF("norm_md5")
    val rel = graft.queries.DicomQueries.standingHashRelation(keyed)
    val plan = rel.queryExecution.optimizedPlan.toString
    assert(plan.toLowerCase.contains("repartitionbyexpression [norm_md5"),
      s"standing hash relation must range-partition on norm_md5:\n$plan")
    assert(!plan.contains("Repartition 1") && !plan.toLowerCase.contains("coalesce"),
      s"standing hash relation must never collapse to one write task:\n$plan")
    // the exchange is a RANGE partitioning (disjoint sorted files for
    // the day-2 single-key probes), not a hash shuffle
    val physical = rel.queryExecution.executedPlan.toString
    assert(physical.contains("rangepartitioning(norm_md5"),
      s"expected a range exchange on norm_md5 in:\n$physical")
  }

  test("durable funnelIdxDir: day-1 builds, a day-2 'run' reuses the artifacts unchanged") {
    // VERDICT r14 #5: with spark.graft.dicom.funnelIdxDir set, the
    // morning job reads a DURABLE artifact location written by
    // yesterday's run — reuse is keyed on the marker's content/version
    // fingerprint (never on pid or mere existence), the dir is not
    // swept at exit, and the entry's output is unchanged.
    val durable = tmp()
    try withConf("spark.graft.dicom.funnelIdxDir" -> durable) {
      val batch = graft.queries.DicomQueries.corpusFunnelDelta(spark, "")
        .collect().map(_.toString)
      // "run 1" (yesterday): builds hashes + ndidx + fingerprint marker
      val day1 = graft.queries.DicomQueries.corpusFunnelDeltaIdx(spark, "")
        .collect().map(_.toString)
      val marker = java.nio.file.Paths.get(durable, "_standing_built")
      assert(java.nio.file.Files.exists(marker), "day-1 run must write the marker")
      val fp = new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
      assert(fp.startsWith("v"), s"marker must carry a format-version fingerprint, got '$fp'")
      val mtimes = Seq("hashes", "ndidx/bands", "ndidx/sets").map { d =>
        java.nio.file.Files.getLastModifiedTime(
          java.nio.file.Paths.get(durable, d)).toMillis
      }
      // "run 2" (this morning): same standing corpus → same fingerprint
      // → the artifacts are read, not rebuilt
      Thread.sleep(20)
      val day2 = graft.queries.DicomQueries.corpusFunnelDeltaIdx(spark, "")
        .collect().map(_.toString)
      val mtimes2 = Seq("hashes", "ndidx/bands", "ndidx/sets").map { d =>
        java.nio.file.Files.getLastModifiedTime(
          java.nio.file.Paths.get(durable, d)).toMillis
      }
      assert(mtimes == mtimes2, "day-2 run must NOT rebuild the durable artifacts")
      assert(day1.nonEmpty && day1.sameElements(batch) && day2.sameElements(batch),
        "durable-dir runs must match the recomputing twin row for row")
      // a stale/foreign marker (wrong version or corpus fingerprint)
      // forces a rebuild instead of resurrecting old artifacts
      java.nio.file.Files.write(marker, "v0:999:123".getBytes("UTF-8"))
      val day3 = graft.queries.DicomQueries.corpusFunnelDeltaIdx(spark, "")
        .collect().map(_.toString)
      assert(day3.sameElements(batch))
      assert(new String(java.nio.file.Files.readAllBytes(marker), "UTF-8") == fp,
        "a fingerprint mismatch must rebuild and restamp the marker")
    } finally graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(durable))
  }
}
