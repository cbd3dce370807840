package graft.sources

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.dicom.{Flatten, Tags, VrConvert}
import graft.pipeline.DicomPipeline

/** DataSource V2: `spark.read.format("dicom").load(dir)`.
  *
  * The ergonomic face of the engine (SURVEY.md §7.3 "optional
  * DataSource V2 FileFormat"): the batch pipeline's recursive,
  * hidden-pruned listing (the paths a `binaryFile` scan would skip are
  * invisible) and its per-object reader
  * ([[graft.pipeline.DicomPipeline.processObject]] over the stored
  * object: 10 MB range for loose `.dcm`, archives streamed member by
  * member), schema inferred from a bounded file sample (the first
  * [[DicomSourceUtil.InferSampleFiles]] productive files by path — never
  * a full corpus parse; `.schema(...)` gives an exact schema), input
  * partitions size-packed under the session's
  * `spark.sql.files.maxPartitionBytes`, and REQUIRED-COLUMN PUSHDOWN: a
  * `SELECT modality FROM ...` only *converts* the requested tags (the
  * binary scan still walks element headers — bounded by the
  * stop-at-pixel-data rule — but skips value conversion and row
  * materialization for unreferenced columns; see
  * [[graft.dicom.Flatten.flatten]]'s `keep`).
  *
  * Read options:
  *  - `failOnError` (default false): unparsable objects are skipped,
  *    matching a read-surface's permissive mode (the ETL pipeline keeps
  *    its error side-channel semantics);
  *  - `paths` (JSON array): multi-path loads.
  */
class DicomDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "dicom"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DicomSourceUtil.inferSchema(
      DicomSourceUtil.pathsOf(options.get("path"), options.get("paths")),
      DicomSourceUtil.sessionConf())

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new DicomTable(schema,
      DicomSourceUtil.pathsOf(properties.get("path"), properties.get("paths")))
}

/** Minimal serializable Hadoop-Configuration carrier (the Spark-internal
  * SerializableConfiguration is private[spark]). */
class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

object DicomSourceUtil {

  /** Resolve the load path(s): Spark passes a single path as `path` and
    * multiple paths as a JSON-array string under `paths`. */
  def pathsOf(path: String, paths: String): Seq[String] = {
    val multi: Seq[String] = Option(paths).toSeq.flatMap { j =>
      val t = j.trim
      if (t.startsWith("["))
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readValue(t, classOf[Array[String]]).toSeq
      else Seq(t)
    }
    val all = (Option(path).toSeq ++ multi).distinct
    if (all.isEmpty)
      throw new IllegalArgumentException("dicom source requires a path")
    all
  }

  /** The active session's Hadoop configuration (driver side). */
  def sessionConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** Pack files into partitions by cumulative size (FilePartition-style
    * bin packing): one-task-per-file melts the scheduler at millions of
    * objects; one giant task starves parallelism. Files are sorted
    * largest-first and greedily assigned under `maxBytes` (with at least
    * one file per partition), so a file larger than `maxBytes` runs
    * alone. Each placed file also charges `openCost`, exactly as Spark's
    * `FilePartition.getFilePartitions` does. */
  def packPartitions(files: Seq[(String, Long)], maxBytes: Long,
                     openCost: Long = 0L): Seq[Seq[String]] = {
    val out = Vector.newBuilder[Seq[String]]
    var current = Vector.empty[String]
    var bytes = 0L
    files.sortBy(-_._2).foreach { case (f, len) =>
      val cost = math.max(len, 1L) // empty files still cost a slot
      if (current.nonEmpty && bytes + cost > maxBytes) {
        out += current; current = Vector.empty; bytes = 0L
      }
      current :+= f; bytes += cost + openCost
    }
    if (current.nonEmpty) out += current
    out.result()
  }

  /** Rows of one source object (empty for ignored/failing objects).
    * `keep` = required-keyword set for pruned conversion (None = all). */
  def rowsOf(path: String, conf: Configuration, failOnError: Boolean,
             keep: Option[Set[String]] = None): Seq[Map[String, VrConvert.DicomValue]] =
    DicomPipeline.processObject("dicom-source", "local", path,
      DicomPipeline.fsOpener(path, conf), keep) match {
      case Right(rs) => rs.map(_.values)
      case Left(e) =>
        if (failOnError) throw new RuntimeException(s"${e.stage}: ${e.error}")
        else Nil
    }

  /** Productive-file bound of schema inference. */
  val InferSampleFiles = 64

  /** Schema inference: union of observed keywords, laid out exactly as
    * the ETL table lays them out ([[DicomPipeline.schemaFor]]).
    *
    * Scale design: the driver NEVER parses the whole corpus. It infers
    * from a bounded sample — the first `sampleFiles` productive files by
    * path order, so the result is deterministic. A user schema
    * (`.schema(...)`) skips inference entirely: it is the way to an
    * exact schema over a corpus whose columns the sample may miss, and
    * the recommended path for repeated reads. */
  def inferSchema(paths: Seq[String], conf: Configuration,
                  sampleFiles: Int = InferSampleFiles): StructType = {
    // the pipeline's own walk: the source reads exactly what the job reads
    val files = paths.flatMap(DicomPipeline.walkFiles(conf, _)).map(_._1)
    // The bound counts PRODUCTIVE files (≥1 row): a corpus whose first
    // N paths are non-DICOM clutter (READMEs, empty DICOMDIRs) must
    // not infer an empty schema. A hard cap on files *examined* keeps
    // the driver bounded even if nothing parses.
    val want = math.max(1, sampleFiles)
    val examineCap = math.max(want * 16, 512)
    val keys = scala.collection.mutable.Set.empty[String]
    var productive = 0
    var examined = 0
    val it = files.sorted.iterator
    while (productive < want && examined < examineCap && it.hasNext) {
      val rs = rowsOf(it.next(), conf, failOnError = false)
      examined += 1
      if (rs.nonEmpty) productive += 1
      rs.foreach(_.foreach { case (k, v) =>
        if (v != VrConvert.DNull) keys += k
      })
    }
    DicomPipeline.schemaFor(keys.toSeq)
  }

  /** snake_case column name → original keyword (inverse of the sanitize
    * rename, resolved against the static dictionary + lineage names). */
  def keywordFor(col: String): String = {
    val lineage = Seq(Flatten.LineageBucket, Flatten.LineageRegion,
      Flatten.LineageKey, Flatten.LineageArchivePath)
    lineage.find(l => Tags.snakeCase(l) == col)
      .orElse(Tags.byKeyword.keys.find(k => Tags.snakeCase(k) == col))
      .getOrElse(Tags.camelCase(col))
  }

  /** Every column must have the type the dictionary gives its keyword
    * ([[DicomPipeline.sparkTypeFor]]): the rows carry values of that
    * type and nothing converts them, so a user schema that disagrees
    * fails at planning, not in a task. */
  def checkTypes(schema: StructType): Unit = schema.fields.foreach { f =>
    val expected = DicomPipeline.sparkTypeFor(keywordFor(f.name))
    if (!DataType.equalsStructurally(f.dataType, expected, ignoreNullability = true))
      throw new IllegalArgumentException(
        s"dicom column ${f.name} is ${expected.simpleString}, not ${f.dataType.simpleString}")
  }
}

class DicomTable(schema: StructType, paths: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"dicom:${paths.mkString(",")}"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DicomScanBuilder(schema, paths, options.getBoolean("failOnError", false))
}

class DicomScanBuilder(full: StructType, paths: Seq[String], failOnError: Boolean)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  // Top-level pruning only: with nested schema pruning Spark passes a
  // pruned struct (`patient_name: struct<family_name>`), but the rows
  // carry whole values, so each required column keeps its full type and
  // Spark extracts the subfield above the scan.
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(requiredSchema.fieldNames.map(full(_)))
  override def build(): Scan = {
    DicomSourceUtil.checkTypes(full)
    new DicomScan(required, paths, failOnError)
  }
}

case class DicomInputPartition(files: Seq[String]) extends InputPartition

class DicomScan(required: StructType, paths: Seq[String], failOnError: Boolean)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"DicomScan(path=${paths.mkString(",")}, columns=[${required.fieldNames.mkString(",")}])"
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = DicomSourceUtil.sessionConf()
    val files = paths.flatMap(DicomPipeline.walkFiles(conf, _))
    DicomSourceUtil.packPartitions(files,
      SparkSession.active.sessionState.conf.filesMaxPartitionBytes)
      .map(DicomInputPartition.apply).toArray
  }
  // one broadcast of the configuration, not a copy inside every task
  override def createReaderFactory(): PartitionReaderFactory =
    new DicomReaderFactory(required, failOnError,
      SparkSession.active.sparkContext.broadcast(
        new SerializableHadoopConf(DicomSourceUtil.sessionConf())))
}

class DicomReaderFactory(required: StructType, failOnError: Boolean,
                         conf: Broadcast[SerializableHadoopConf])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new DicomPartitionReader(p.asInstanceOf[DicomInputPartition].files,
      required, failOnError, conf.value.value)
}

class DicomPartitionReader(files: Seq[String], required: StructType,
                           failOnError: Boolean, conf: Configuration)
    extends PartitionReader[InternalRow] {

  // source keywords in output order
  private val keywords: Array[String] =
    required.fieldNames.map(DicomSourceUtil.keywordFor)

  // pruned conversion: only the required keywords are VR-converted
  private val keep: Set[String] = keywords.toSet

  private lazy val iter: Iterator[InternalRow] =
    files.iterator.flatMap { file =>
      DicomSourceUtil.rowsOf(file, conf, failOnError, Some(keep))
        .iterator.map(DicomPipeline.internalRow(keywords, _))
    }

  private var current: InternalRow = _
  override def next(): Boolean = { if (iter.hasNext) { current = iter.next(); true } else false }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
