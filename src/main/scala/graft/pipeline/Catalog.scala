package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import graft.dicom.Flatten

/** Catalog registration + schema-evolution "crawler" analog.
  *
  * The reference's write step registers its own partitions: awswrangler
  * calls Glue `BatchCreatePartition` (`deploy/serverless.yml:391-397`);
  * the reference README's partition repair (README.md:104-106) and a
  * Glue crawler configured `CombineCompatibleSchemas`
  * (`deploy/serverless.yml:466-479`) are the manual fallbacks.
  * Spark-native equivalents: an external parquet table created with its
  * schema and partition column stated, its partitions added from one
  * listing of the table root — registration reads metadata only and
  * runs no Spark job — and a footer-merge re-registration pass.
  */
object Catalog {

  /** Register the partitioned output as an external table with all its
    * `study_date=` partitions. The schema is the footer of the first
    * visible file under the earliest date, read on the driver (no Spark
    * job); [[crawl]] merges them all. */
  def registerTable(spark: SparkSession, location: String,
                    db: String = "dicom_db", table: String = "dicom_metadata"): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val parts = partitions(conf, location)
    val first = parts.iterator.flatMap(p => visible(p.getFileSystem(conf), p)).find(_.isFile)
      .getOrElse(throw new IllegalArgumentException(s"no data files under $location"))
    register(spark, location, footerSchema(spark, first.getPath), parts, db, table)
  }

  /** Crawler analog: merge all parquet footers under `location`
    * (CombineCompatibleSchemas) and re-register the table with the
    * evolved schema. Returns the registered table. */
  def crawl(spark: SparkSession, location: String,
            db: String = "dicom_db", table: String = "dicom_metadata"): DataFrame = {
    val parts = partitions(spark.sparkContext.hadoopConfiguration, location)
    val merged = spark.read.option("mergeSchema", "true").parquet(location).schema
    register(spark, location, merged, parts, db, table)
    spark.table(s"$db.$table")
  }

  /** (Re)create `db.table` over `location` with `schema`'s columns and a
    * DATE `study_date` partition column, then add `parts` in one
    * statement. Stating the schema and the partition column keeps
    * `CREATE TABLE` from listing or reading the files. */
  private def register(spark: SparkSession, location: String, schema: StructType,
                       parts: Seq[Path], db: String, table: String): Unit = {
    val col = Flatten.PartitionColSnake
    val columns = StructType(schema.filterNot(_.name.equalsIgnoreCase(col)))
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"DROP TABLE IF EXISTS $db.$table")
    spark.sql(
      s"""CREATE TABLE $db.$table (${columns.toDDL}, $col DATE)
         |USING PARQUET PARTITIONED BY ($col)
         |LOCATION '$location'""".stripMargin)
    val specs = parts.map { p =>
      val value = ExternalCatalogUtils.unescapePathName(p.getName.stripPrefix(s"$col="))
      s"PARTITION ($col = '$value')"
    }
    spark.sql(s"ALTER TABLE $db.$table ADD IF NOT EXISTS ${specs.mkString(" ")}")
  }

  /** The visible `study_date=` directories directly under `location`, in
    * date order, from one driver listing; hidden entries
    * ([[DicomPipeline.hiddenName]]: `_temporary`, `.staging`, `_SUCCESS`)
    * are never partitions. A location without one fails, naming it. */
  private def partitions(conf: Configuration, location: String): Seq[Path] = {
    val root = new Path(location)
    val parts = visible(root.getFileSystem(conf), root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"${Flatten.PartitionColSnake}="))
      .map(_.getPath)
    require(parts.nonEmpty, s"no ${Flatten.PartitionColSnake}= partitions under $location")
    parts
  }

  /** `dir`'s visible entries, by name. */
  private def visible(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filterNot(st => DicomPipeline.hiddenName(st.getPath.getName))
      .sortBy(_.getPath.getName)

  /** The row schema of one parquet file, from its footer alone, read the
    * way Spark's own inference reads a footer: the Spark row-metadata
    * key (`org.apache.spark.sql.parquet.row.metadata`) when the file
    * carries it, else the schema converted from its parquet types. */
  private def footerSchema(spark: SparkSession, file: Path): StructType = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    try ParquetFileFormat.readSchemaFromFooter(new Footer(file, reader.getFooter),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    finally reader.close()
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
