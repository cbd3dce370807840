package graft.pipeline

import java.io.InputStream
import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{DataFrame, GraftFrames, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String
import graft.dicom.{DicomParser, Flatten, Tags, VrConvert}
import graft.ingest.Archives
import graft.sources.{DicomSourceUtil, SerializableHadoopConf}
import graft.util.ForkFreeLocalFileSystem

/** The end-to-end metadata-extraction job (SURVEY.md §3 E1/E2 collapsed
  * into one Spark job):
  *
  *   list (path, length) → pack tasks → per task: open each stored object
  *     → route ∘ expand ∘ parse ∘ flatten
  *     → observed-schema finalize → snake_case rename
  *     → write.partitionBy(study_date) snappy parquet
  *   + error side-channel (the DLQ analog, SURVEY §2.1 S10).
  *
  * Failure granularity matches the reference: ANY entry failing fails the
  * whole source object (one Lambda invocation = one object = one DLQ
  * message); a failed object contributes zero rows and one error record.
  *
  * Scale design:
  *  - the driver plans on metadata only (a (path, length) listing or
  *    manifest); each task opens its objects itself and runs the
  *    parse/flatten in executors — at 100 TB this is the linear,
  *    embarrassingly-parallel stage;
  *  - the only driver interaction is ONE single-stage summary pass
  *    ([[BatchSummary]]): the OBSERVED KEY SET (bounded by the static
  *    tag dictionary, ~130 keywords — a few KB — never row data) builds
  *    the batch schema, mirroring the reference's per-batch
  *    drop-all-null dynamic schema (`src/app.py:39-41`); the rows per
  *    study date plan the write; an error flag gates the errors write;
  *  - the per-object outcomes are persisted (MEMORY_AND_DISK_SER) so the
  *    summary pass and the row materialization don't re-read storage;
  *  - the partitioned write uses Hive-style `study_date=` layout →
  *    partition-pruned reads for free (Catalyst
  *    `PruneFileSourcePartitions`), one file per date unless a date holds
  *    more than one core's share of the batch, which is split over cores.
  */
object DicomPipeline {

  /** DLQ-analog error record (stage ∈ route|expand|parse|transform). */
  final case class DicomError(source_s3_key: String, stage: String, error: String)

  /** Parsed image: lineage + keyword-keyed typed values. */
  final case class ImageRow(values: Map[String, VrConvert.DicomValue])
    extends Serializable

  /** One source object's result: its images, or its one error. */
  type Outcome = Either[DicomError, Seq[ImageRow]]

  /** Per-object outcomes of an extraction, split into the row and error
    * channels. [[write]] persists `outcomes` if they are not yet, and
    * releases them. */
  final case class Extracted(outcomes: RDD[Outcome]) {
    lazy val rows: RDD[ImageRow] =
      outcomes.flatMap { case Right(rs) => rs; case Left(_) => Nil }
    lazy val errors: RDD[DicomError] =
      outcomes.flatMap { case Left(e) => Some(e); case Right(_) => None }
  }

  /** Process ONE source object end-to-end (pure; runs on executors):
    * [[Archives.members]] routes it by extension and visits its members,
    * each parsed and flattened as soon as its bytes are read. Every
    * reader opens the stored object through [[fsOpener]] — [[extract]],
    * [[extractFromManifest]] and streaming micro-batches via
    * [[readObjects]], and the `format("dicom")` source per file — so what
    * is computed never depends on which entry point ran.
    *
    * The first failing member fails the whole object: ONE error record,
    * tagged with its DLQ stage, and no partial rows. A member whose
    * top-level value does not fit its column type (the file's VR
    * disagrees with the dictionary's, [[VrDriftException]]) fails at the
    * `transform` stage. `keep` restricts value conversion to the
    * named keywords (V2 column pruning); `None` = full conversion. */
  def processObject(bucket: String, region: String, key: String,
                    open: () => InputStream,
                    keep: Option[Set[String]] = None): Outcome =
    try {
      val rows = Vector.newBuilder[ImageRow]
      Archives.members(key, open) { (name, bytes) =>
        val values = Flatten.flatten(DicomParser.parse(bytes), bucket, region, key, name, keep)
        values.foreach { case (kw, v) =>
          val dt = sparkTypeFor(kw)
          if (!fits(v, dt)) throw new VrDriftException(kw, v, dt)
        }
        rows += ImageRow(values)
      }
      Right(rows.result())
    } catch {
      case e: DicomParser.InvalidDicomException =>
        Left(DicomError(key, "parse", e.getMessage))
      case e: Archives.UnsupportedExtensionException =>
        Left(DicomError(key, "route", e.getMessage))
      case e: Archives.InvalidArchiveException =>
        Left(DicomError(key, "expand", e.getMessage))
      case scala.util.control.NonFatal(e) =>
        Left(DicomError(key, "transform", s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }

  /** Opener for a stored object (Hadoop filesystem path). */
  def fsOpener(path: String, conf: Configuration): () => InputStream = () => {
    val p = new Path(path)
    p.getFileSystem(conf).open(p)
  }

  /** The one per-object reader: each task opens the stored objects of
    * its partition ([[fsOpener]]) and runs [[processObject]] on them.
    * [[extract]], [[extractFromManifest]] and each streaming micro-batch
    * read through it. The Hadoop configuration ships as ONE broadcast,
    * fetched once per executor; captured in the closure, it would be
    * serialized into every task. */
  private def readObjects(paths: RDD[String], bucket: String, region: String): RDD[Outcome] = {
    val sc = paths.sparkContext
    val conf = sc.broadcast(new SerializableHadoopConf(sc.hadoopConfiguration))
    paths.map(p => processObject(bucket, region, p, fsOpener(p, conf.value.value)))
  }

  /** Spark's hidden-name rule (`HadoopFSUtils.shouldFilterOutPathName`
    * plus the file index's data-path check): `_`-prefixed without `=`,
    * `.`-prefixed, or an in-flight `._COPYING_` upload. A `_key=value`
    * partition directory stays visible. */
  private[graft] def hiddenName(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** One fork-free driver walk over `inputPath` — [[extract]],
    * [[manifestOf]] and the `format("dicom")` source all list through it:
    * every visible file as (path, length), pruned by [[hiddenName]] at
    * every discovered level, so it lists what a `binaryFile` scan of the
    * same path lists (the explicitly named root is always accepted —
    * Spark applies its path filter to discovered children, not to the
    * path you name). A missing path fails, naming it.
    *
    * listStatusIterator, NOT listFiles(recursive): the located variant
    * materializes a LocatedFileStatus per file, which on the local
    * filesystem loads permissions by FORKING `ls -ld` per file — the
    * 9.5k-object extraction rehearsal measured 37 s of driver time in
    * that walk (~4 ms/fork) against ~1 s for the plain status walk.
    * Only isFile/getLen are needed here, and they never fork. */
  private[graft] def walkFiles(conf: Configuration, inputPath: String): Seq[(String, Long)] = {
    val p = new Path(inputPath)
    val fs = p.getFileSystem(conf)
    val files = Seq.newBuilder[(String, Long)]
    def walk(st: org.apache.hadoop.fs.FileStatus, isRoot: Boolean): Unit =
      if (!isRoot && hiddenName(st.getPath.getName)) ()
      else if (st.isDirectory) {
        val it = fs.listStatusIterator(st.getPath)
        while (it.hasNext) walk(it.next(), isRoot = false)
      } else files += ((st.getPath.toString, st.getLen))
    walk(fs.getFileStatus(p), isRoot = true)
    files.result()
  }

  /** List `inputPath` and run the extraction. `bucket`/`region` are
    * lineage constants (the storage coordinates of `inputPath`).
    *
    * The driver plans on metadata alone and every task reads storage
    * directly ([[readObjects]]): the (path, length) list of the one
    * [[walkFiles]] walk is packed largest-first under the split size a
    * `binaryFile` scan of the same files would use
    * (`FilePartition.maxSplitBytes`, each file costing its length plus
    * `spark.sql.files.openCostInBytes`), so the task count matches
    * Spark's file-source planning. Size routing (reference S11,
    * `src/app.py:118-181`) falls out of the packing: an object larger
    * than the split size runs alone in its task, and no object is ever
    * held whole — a loose `.dcm` reads at most its 10 MB range, archives
    * stream member by member. Zero-length objects (the reference's empty
    * `DICOMDIR` failure fixture) are packed like any other and reach
    * the errors channel. The per-object outcomes are persisted
    * (MEMORY_AND_DISK_SER) so the key scan and the row materialization
    * don't re-read storage; [[write]] releases them. */
  def extract(spark: SparkSession, inputPath: String,
              bucket: String = "local", region: String = "local"): Extracted = {
    val files = walkFiles(spark.sparkContext.hadoopConfiguration, inputPath)
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val splitBytes = FilePartition.maxSplitBytes(spark, files.map(_._2 + openCost).sum)
    val tasks = DicomSourceUtil.packPartitions(files, splitBytes, openCost)
    val paths = spark.sparkContext.parallelize(tasks, math.max(1, tasks.size)).flatMap(identity)
    Extracted(readObjects(paths, bucket, region).persist(StorageLevel.MEMORY_AND_DISK_SER))
  }

  /** Local/HDFS convenience builder for [[extractFromManifest]]: the same
    * fork-free, hidden-pruned walk the listed route uses, materialized as
    * a (path, length) DataFrame. For production 10M+-object corpora the
    * manifest should come from an INVENTORY instead (e.g. an S3 Inventory
    * parquet table, the analog of the reference's per-object S3 event
    * stream, `src/app.py:97-108`) — the whole point of the manifest entry
    * is that the driver never walks the store at all. */
  def manifestOf(spark: SparkSession, inputPath: String): DataFrame = {
    val files = walkFiles(spark.sparkContext.hadoopConfiguration, inputPath)
    spark.createDataFrame(files).toDF("path", "length")
  }

  /** DAY-2 MANIFEST DIFF — the ingestion twin of the dedup day-2 index:
    * given yesterday's PROCESSED-OBJECT LOG (path, length — length is
    * the local-FS stand-in for an etag/version: a changed object changes
    * it) and today's manifest, return the manifest subset that is NEW or
    * CHANGED. Feed the result to [[extractFromManifest]] and a 10M-object
    * corpus with a 10k-object delta pays extraction for 10k objects, not
    * 10M — the reference's event-driven model gets this incrementality
    * per-object for free (`/root/reference/src/app.py:97-108`); this is
    * the batch equivalent.
    *
    * Scale shape: ONE left-anti equi-join between two metadata relations
    * (rows are a path string + a long — a 10M-row manifest is ~1 GB
    * shuffled, or broadcast when the processed log fits); no content is
    * touched. Deletions (in the log, gone from the manifest) are
    * day-2 catalog maintenance, not extraction work — `cdc_merge` /
    * SCD2 territory, out of scope here on purpose. */
  def manifestDelta(manifest: DataFrame, processed: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val m = manifest.select(
      col("path").cast("string").as("path"),
      col("length").cast("long").as("length"))
    val p = processed.select(
      col("path").cast("string").as("path"),
      col("length").cast("long").as("length"))
    m.join(p, Seq("path", "length"), "left_anti")
  }

  /** Manifest-driven twin of [[extract]] — the 10M+-object batch entry
    * point. Task layout comes from the manifest's `length` column and
    * every object is read INSIDE tasks ([[readObjects]]), so the driver
    * performs ZERO filesystem listing or metadata calls: its only
    * per-corpus state is the manifest DataFrame (itself typically a
    * parquet scan). This removes the driver-listing ceiling the directory
    * entry point inherits from walking the store.
    *
    * Parity with [[extract]]: the same reader and the same
    * [[hiddenName]] rule, applied SEGMENT-WISE to manifest rows (an
    * inventoried `_temporary/part.dcm` leftover stays invisible exactly
    * as the directory walk would hide it — inventories are produced by
    * listing stores wholesale, so Spark-job detritus WILL appear in
    * them; a corpus deliberately rooted under a dot-directory must be
    * inventoried with paths relative to that root). Nothing is
    * persisted here; [[write]] persists the outcomes for its passes.
    * ManifestSpec pins rows+errors equality against [[extract]] on the
    * same corpus.
    *
    * Partitioning: objects up to `spark.sql.files.maxPartitionBytes`
    * pack many-per-task, task count sized by manifest byte totals (≈ that
    * many bytes per task — Spark's own file-packing economics, computed
    * from the manifest instead of a listing); larger objects run one per
    * task; zero-length objects keep the manifest's own partitions. */
  def extractFromManifest(spark: SparkSession, manifest: DataFrame,
                          bucket: String = "local", region: String = "local"): Extracted = {
    // named imports: functions.bucket would shadow the lineage parameter
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum, udf}
    val invisible = udf((p: String) => p == null || p.split('/').exists(hiddenName))
    val m = manifest
      .select(col("path").cast("string").as("path"), col("length").cast("long").as("length"))
      .filter(!invisible(col("path")))
    val bytesPerTask = math.max(1L,
      spark.sessionState.conf.filesMaxPartitionBytes)
    val small = m.filter(col("length") > 0 && col("length") <= bytesPerTask)
    // two scalar aggregates are the ONLY driver-side materialization —
    // they size the task layout, never enumerate objects
    val st = small.agg(count(lit(1)), coalesce(sum(col("length")), lit(0L))).head()
    val (nSmall, smallBytes) = (st.getLong(0), st.getLong(1))
    val smallParts = math.max(1, math.min(nSmall,
      math.max(spark.sparkContext.defaultParallelism.toLong,
        1L + smallBytes / bytesPerTask)).toInt)
    def paths(df: DataFrame): RDD[String] = df.select("path").rdd.map(_.getString(0))
    val large = m.filter(col("length") > bytesPerTask)
    val nLarge = math.min(large.count(), 1L << 20).toInt
    val all = paths(small).repartition(smallParts) ++
      paths(m.filter(col("length") === 0)) ++
      (if (nLarge == 0) spark.sparkContext.emptyRDD[String]
       else paths(large).repartition(nLarge))
    Extracted(readObjects(all, bucket, region))
  }

  /** [[extract]] over a DataFrame whose first column holds object paths —
    * the streaming foreachBatch's entry (the `binaryFile` stream's `path`
    * column: the stream discovers objects, the reader opens them).
    * Persisted like [[extract]]'s. */
  def extractFromPaths(paths: DataFrame, bucket: String, region: String): Extracted =
    Extracted(readObjects(paths.rdd.map(_.getString(0)), bucket, region)
      .persist(StorageLevel.MEMORY_AND_DISK_SER))

  /** The PN struct type (7 string fields, `tags.py:56-65` order). */
  val pnStruct: StructType = StructType(Seq(
    "FamilyName", "GivenName", "Ideographic", "MiddleName",
    "NamePrefix", "NameSuffix", "Phonetic")
    .map(f => StructField(Tags.snakeCase(f), StringType)))

  /** Spark type of a column, decided by the static dictionary VR + max VM
    * (SURVEY §1.3 table). Lineage columns are plain strings. */
  def sparkTypeFor(keyword: String): DataType =
    dictionaryTypes.getOrElse(keyword, StringType) // lineage keys: absent

  private lazy val dictionaryTypes: Map[String, DataType] =
    Tags.byKeyword.map { case (kw, info) =>
      kw -> ((info.vr, info.vmMax > 1) match {
        case ("DA", false) => DateType
        case ("DA", true)  => ArrayType(DateType)
        case ("PN", false) => pnStruct
        case ("PN", true)  => ArrayType(pnStruct)
        case ("SQ", _)     => MapType(StringType, StringType)
        case (_, true)     => ArrayType(StringType)
        case (_, false)    => StringType
      })
    }

  /** A top-level value whose shape (decided by the file's VR) does not
    * fit its column type (decided by the dictionary's VR), e.g. a
    * `StudyDate` written as `LO`: the object goes to the errors channel
    * instead of failing the batch when its row is built. */
  final class VrDriftException(keyword: String, v: VrConvert.DicomValue, dt: DataType)
    extends RuntimeException(
      s"$keyword holds a ${v.getClass.getSimpleName}, its column is ${dt.simpleString}")

  /** Whether [[toCatalyst]]'s output for `v` is a value of type `dt`. */
  private def fits(v: VrConvert.DicomValue, dt: DataType): Boolean = (v, dt) match {
    case (VrConvert.DNull, _)                                   => true
    case (VrConvert.DStr(_), StringType)                        => true
    case (VrConvert.DStrList(_), ArrayType(StringType, _))      => true
    case (VrConvert.DDate(_), DateType)                         => true
    case (VrConvert.DDateList(_), ArrayType(DateType, _))       => true
    case (VrConvert.DPersonName(_), _: StructType)              => true
    case (VrConvert.DPersonNameList(_), ArrayType(_: StructType, _)) => true
    case (VrConvert.DMap(_), _: MapType)                        => true
    case _                                                      => false
  }

  /** The one DicomValue → Catalyst converter: the ETL's rows, every
    * [[toDataFrame]] and the `format("dicom")` source build their values
    * here. The value's shape decides the representation; [[processObject]]
    * has already checked that it fits the column. Map entries keep the
    * `DMap`'s own order. */
  def toCatalyst(v: VrConvert.DicomValue): Any = v match {
    case VrConvert.DStr(s)             => UTF8String.fromString(s)
    case VrConvert.DStrList(xs)        => new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])
    case VrConvert.DDate(d)            => d.toInt
    case VrConvert.DDateList(xs)       => new GenericArrayData(xs.map(_.toInt).toArray[Any])
    case VrConvert.DPersonName(c)      => personName(c)
    case VrConvert.DPersonNameList(xs) => new GenericArrayData(xs.map(personName).toArray[Any])
    case VrConvert.DMap(m) =>
      val (ks, vs) = m.toArray.unzip
      ArrayBasedMapData(ks.map(UTF8String.fromString).toArray[Any],
        vs.map(UTF8String.fromString).toArray[Any])
    case VrConvert.DNull               => null
  }

  private def personName(c: Seq[String]): InternalRow =
    new GenericInternalRow(c.map(UTF8String.fromString).toArray[Any])

  /** One image's row over `keywords`, in that order (null where absent). */
  def internalRow(keywords: Array[String],
                  values: Map[String, VrConvert.DicomValue]): InternalRow =
    new GenericInternalRow(keywords.map(kw => values.get(kw).map(toCatalyst).orNull))

  /** The columns of a set of observed keywords, in keyword order:
    * snake_case-renamed (wrangler `sanitize_columns=True` analog) and
    * typed from the static dictionary. The ETL table and the
    * `format("dicom")` source both build their schema here, so they
    * agree on column order. */
  def schemaFor(keywords: Seq[String]): StructType =
    StructType(keywords.sorted.map(kw =>
      StructField(Tags.snakeCase(kw), sparkTypeFor(kw), nullable = true)))

  /** Finalize the batch DataFrame: union of observed NON-NULL keys →
    * columns (this IS the reference's per-batch drop-all-null,
    * `src/app.py:41` — a keyword only becomes a column if some row holds
    * a value), laid out by [[schemaFor]]. The keys come from the one
    * [[BatchSummary]] pass. */
  def toDataFrame(spark: SparkSession, rows: RDD[ImageRow]): DataFrame =
    framed(spark, rows, rows.aggregate(new BatchSummary)(_ addRow _, _ merge _))

  /** What one pass over a batch tells its finalize step: the observed
    * non-null keywords (the columns), the rows per study date, as epoch
    * days (the data write's layout), and the extraction partitions that
    * hold an error with the errors' UTF-8 bytes (the errors write's
    * input and size). Its size is bounded by the dictionary, the date
    * count and the partition count, never by rows, so each task of the
    * single-stage `RDD.aggregate` returns one to the driver. Mutable:
    * `aggregate` gives each task its own copy of the empty summary. */
  private final class BatchSummary extends Serializable {
    val keys = scala.collection.mutable.HashSet.empty[String]
    val dates = scala.collection.mutable.HashMap.empty[Long, Long]
    val errorParts = scala.collection.mutable.HashSet.empty[Int]
    var errorBytes = 0L

    def addRow(ir: ImageRow): BatchSummary = {
      ir.values.foreach { case (k, v) => if (v != VrConvert.DNull) keys += k }
      ir.values.get(Flatten.PartitionColCamel)
        .collect { case VrConvert.DDate(d) => d }
        .foreach(d => dates(d) = dates.getOrElse(d, 0L) + 1)
      this
    }

    /** Runs in the task that reads the outcome's partition. */
    def addOutcome(o: Outcome): BatchSummary = {
      o.fold(addError, _.foreach(addRow))
      this
    }

    private def addError(e: DicomError): Unit = {
      errorParts += TaskContext.getPartitionId()
      errorBytes += Seq(e.source_s3_key, e.stage, e.error)
        .map(s => if (s == null) 0 else s.getBytes(StandardCharsets.UTF_8).length).sum
    }

    def merge(other: BatchSummary): BatchSummary = {
      keys ++= other.keys
      other.dates.foreach { case (d, c) => dates(d) = dates.getOrElse(d, 0L) + c }
      errorParts ++= other.errorParts
      errorBytes += other.errorBytes
      this
    }
  }

  /** [[toDataFrame]] of an extraction's rows, with the summary its one
    * job gathered over the outcomes. The name keeps `toDataFrame` in the
    * job's call site, which is how perfbench's per-layer split tells the
    * key-union job apart. The frame reads the rows in at most one task
    * per core: its only reader is the planned write's shuffle, whose map
    * side then pays each task's overhead once per core, not once per
    * extraction task (a 0.1 s cut in the benchmark's 600-object ingest). */
  private def toDataFrameSummarized(spark: SparkSession,
                                    ex: Extracted): (DataFrame, BatchSummary) = {
    val summary = ex.outcomes.aggregate(new BatchSummary)(_ addOutcome _, _ merge _)
    (framed(spark, ex.rows.coalesce(spark.sparkContext.defaultParallelism), summary), summary)
  }

  /** The rows as Catalyst rows laid out by [[schemaFor]]: no row
    * encoder, so no task generates a serializer for the ~60 columns. */
  private def framed(spark: SparkSession, rows: RDD[ImageRow],
                     summary: BatchSummary): DataFrame = {
    val keywords = summary.keys.toArray.sorted
    GraftFrames.fromInternal(spark,
      rows.map(ir => internalRow(keywords, ir.values)), schemaFor(keywords.toIndexedSeq))
  }

  /** Schema of the errors channel: `Encoders.product[DicomError]`'s. */
  val ErrorSchema: StructType = StructType(
    Seq("source_s3_key", "stage", "error").map(StructField(_, StringType)))

  /** The errors channel as a DataFrame of [[ErrorSchema]] — the errors
    * sink and the `errors` query both read it here. */
  def errorsFrame(spark: SparkSession, errors: RDD[DicomError]): DataFrame =
    GraftFrames.fromInternal(spark, errors.map { e =>
      InternalRow(UTF8String.fromString(e.source_s3_key),
        UTF8String.fromString(e.stage), UTF8String.fromString(e.error))
    }, ErrorSchema)

  /** Full job: extract → finalize → partitioned snappy write (+ errors
    * parquet). Returns (data, errors) as written. */
  def run(spark: SparkSession, inputPath: String, outPath: String,
          errorPath: Option[String] = None,
          bucket: String = "local", region: String = "local"): (DataFrame, DataFrame) =
    write(spark, extract(spark, inputPath, bucket, region), outPath, errorPath)

  /** Finalize one extraction, append it to `outPath` partitioned by
    * study date (snappy), append its errors to `errorPath`, then release
    * the persisted intermediate — shared by [[run]] and each streaming
    * micro-batch. Returns (data, errors) as written; both are lazy, so
    * using them afterwards re-extracts.
    *
    * The outcomes are persisted for the write's passes if the
    * extraction did not persist them ([[extractFromManifest]]), so each
    * object is read once. Neither write runs an emptiness job: every row
    * carries the four lineage strings and a study date, so a batch has
    * columns exactly when it has rows, and the summary pass records the
    * partitions that hold errors. The data write is laid out by
    * [[planned]]. The errors write reads only the partitions holding
    * errors, narrowed to one task per advisory partition size
    * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`) of error bytes:
    * one job, no shuffle, and one file for a handful of rows. Both write
    * through [[ForkFreeLocalFileSystem]]. The errors write runs only
    * after the data write has succeeded, so a batch whose data write
    * fails appends no error rows and a retry does not repeat them. */
  def write(spark: SparkSession, ex: Extracted, outPath: String,
            errorPath: Option[String]): (DataFrame, DataFrame) =
    try {
      if (ex.outcomes.getStorageLevel == StorageLevel.NONE)
        ex.outcomes.persist(StorageLevel.MEMORY_AND_DISK_SER)
      val (df, summary) = toDataFrameSummarized(spark, ex)
      if (df.columns.nonEmpty)
        planned(df, summary, spark.sparkContext.defaultParallelism)
          .write.options(ForkFreeLocalFileSystem.WriteOptions)
          .mode("append")
          .partitionBy(Flatten.PartitionColSnake)
          .option("compression", "snappy")
          .parquet(outPath)
      if (summary.errorParts.nonEmpty) errorPath.foreach { p =>
        val advisory = spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
        val tasks = math.min(summary.errorParts.size,
          math.max(1L, (summary.errorBytes + advisory - 1) / advisory)).toInt
        val held = PartitionPruningRDD.create(ex.errors, summary.errorParts.toSet)
        errorsFrame(spark, held.coalesce(tasks))
          .write.options(ForkFreeLocalFileSystem.WriteOptions)
          .mode("append").parquet(p)
      }
      (df, errorsFrame(spark, ex.errors))
    } finally ex.outcomes.unpersist(blocking = false)

  /** The data write's layout, planned from the summary: every task
    * writes one file per date it holds, so rows are placed by date.
    * Unplaced, every scan task writes a file per date it happens to hold
    * (the 9.5k-object rehearsal wrote 5,251 files for 9,500 rows); a
    * rebalance hint leaves the task count to AQE, which sizes it by
    * shuffle bytes and so writes a whole small batch in ONE task.
    *
    * Each core's share is `ceil(rows / cores)` rows. A date holding `c`
    * rows is cut into `ceil(c / share)` pieces by a hash of each image's
    * object key and archive path, and its pieces go to consecutive
    * partitions from the date's hash, over `min(Σ pieces, cores)`
    * partitions — so a date within its share is one file, and one holding
    * most of the batch (the imputed 1979-01-01 default of a header-poor
    * corpus) is written by several cores. Fewer than `cores` dates
    * exceed a share, which bounds the `CASE` that gives each its pieces.
    * The plan is a function of the rows alone, so a recomputed task
    * places its rows where the lost one did. */
  private def planned(df: DataFrame, summary: BatchSummary, cores: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod, when}
    val share = math.max(1L, (summary.dates.values.sum + cores - 1) / cores)
    val pieces = summary.dates.map { case (d, c) => d -> ((c + share - 1) / share).toInt }
    val parts = math.max(1, math.min(pieces.values.sum, cores))
    val date = col(Flatten.PartitionColSnake)
    val piecesOfDate = pieces.filter(_._2 > 1).foldLeft(lit(1)) { case (rest, (d, p)) =>
      when(date === lit(java.time.LocalDate.ofEpochDay(d)), p).otherwise(rest)
    }
    val piece = pmod(hash(col(Tags.snakeCase(Flatten.LineageKey)),
      col(Tags.snakeCase(Flatten.LineageArchivePath))), piecesOfDate)
    df.repartitionById(parts,
      pmod(hash(date).cast(LongType) + piece, lit(parts.toLong)).cast(IntegerType))
  }
}
