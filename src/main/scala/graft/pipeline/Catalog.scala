package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog registration + schema-evolution "crawler" analog.
  *
  * The reference registers `dicom_db.dicom_metadata` in Glue
  * (`deploy/serverless.yml:509-536`), exposes new partitions via
  * `MSCK REPAIR TABLE` (README.md:104-106), and evolves the schema with a
  * Glue crawler configured `CombineCompatibleSchemas`
  * (`deploy/serverless.yml:466-479`). Spark-native equivalents:
  * external parquet table + `MSCK REPAIR`, and a footer-merge
  * re-registration pass.
  */
object Catalog {

  /** Register the partitioned output as an external table and discover
    * its partitions (`MSCK REPAIR TABLE` is native Spark SQL). The schema
    * comes from one sampled footer; [[crawl]] merges them all. */
  def registerTable(spark: SparkSession, location: String,
                    db: String = "dicom_db", table: String = "dicom_metadata"): Unit =
    register(spark, location, db, table, mergeSchema = false)

  /** Crawler analog: merge all parquet footers under `location`
    * (CombineCompatibleSchemas) and re-register the table with the
    * evolved schema. Returns the registered table. */
  def crawl(spark: SparkSession, location: String,
            db: String = "dicom_db", table: String = "dicom_metadata"): DataFrame = {
    register(spark, location, db, table, mergeSchema = true)
    spark.table(s"$db.$table")
  }

  private def register(spark: SparkSession, location: String,
                       db: String, table: String, mergeSchema: Boolean): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"DROP TABLE IF EXISTS $db.$table")
    // Spark 4 requires an explicit column list to state PARTITIONED BY;
    // omitting the clause lets partitioning be inferred from the Hive
    // layout (study_date=... directories).
    val options = if (mergeSchema) "OPTIONS (mergeSchema 'true') " else ""
    spark.sql(
      s"""CREATE TABLE $db.$table
         |USING PARQUET
         |${options}LOCATION '$location'""".stripMargin)
    spark.sql(s"MSCK REPAIR TABLE $db.$table")
  }

  /** Small-file compaction for one Hive partition directory — the
    * remedy for the reference's documented per-invocation-file growth
    * (one parquet file per Lambda call; COMPAT.md "Small-files output").
    * Rewrites the partition into ceil(bytes / targetFileBytes) files via
    * stage-and-swap. Contract, stated honestly:
    *  - staging and backup dirs are dot-prefixed SIBLINGS, which Spark's
    *    file index treats as hidden — a concurrent table-root read never
    *    picks them up as extra partitions;
    *  - the swap itself is two renames, so a reader hitting the
    *    partition in that instant can see a missing directory — run on
    *    cold partitions or within a maintenance window;
    *  - a crashed run self-heals: the next invocation restores the
    *    backup if the partition dir is missing and clears stale
    *    staging/backup dirs before starting.
    * Returns (filesBefore, filesAfter). */
  def compactPartition(spark: SparkSession, partitionDir: String,
                       targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    import java.nio.file.{Files, Paths}
    val dir = Paths.get(partitionDir)
    val base = dir.getFileName.toString
    val staged = dir.getParent.resolve(s".$base.compact-stage")
    val old = dir.getParent.resolve(s".$base.compact-old")
    // self-heal a run that crashed between the two renames
    if (!Files.exists(dir) && Files.exists(old)) Files.move(old, dir)
    graft.util.Fs.deleteRecursively(staged)
    graft.util.Fs.deleteRecursively(old)
    def parquetFiles(): List[java.nio.file.Path] = {
      val s = Files.list(dir)
      try {
        val it = s.iterator()
        var fs = List.empty[java.nio.file.Path]
        while (it.hasNext) { val p = it.next(); if (p.toString.endsWith(".parquet")) fs ::= p }
        fs
      } finally s.close()
    }
    val before = parquetFiles()
    val bytes = before.map(Files.size).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    spark.read.parquet(partitionDir)
      .repartition(nFiles)
      .write.options(graft.util.ForkFreeLocalFileSystem.WriteOptions)
      .mode("overwrite").parquet(staged.toString)
    Files.move(dir, old)
    Files.move(staged, dir)
    graft.util.Fs.deleteRecursively(old)
    (before.size, parquetFiles().size)
  }

  /** Collect table + column statistics for Catalyst's cost-based
    * optimizer (join reorder, broadcast decisions need rowCount/size;
    * column min/max/ndv feed filter selectivity). The Glue-crawler
    * world gets this implicitly; Spark needs the ANALYZE. */
  def analyze(spark: SparkSession, db: String = "dicom_db",
              table: String = "dicom_metadata"): Unit = {
    spark.sql(s"ANALYZE TABLE $db.$table COMPUTE STATISTICS")
    spark.sql(s"ANALYZE TABLE $db.$table COMPUTE STATISTICS FOR ALL COLUMNS")
  }
}
