package graft.pipeline

import java.io.{ByteArrayInputStream, InputStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftFrames, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String
import graft.dicom.{DicomParser, Flatten, Tags, VrConvert}
import graft.ingest.Archives
import graft.util.ForkFreeLocalFileSystem

/** The end-to-end metadata-extraction job (SURVEY.md §3 E1/E2 collapsed
  * into one Spark job):
  *
  *   binaryFile scan → flatMap(route ∘ expand ∘ parse ∘ flatten)
  *     → observed-schema finalize → snake_case rename
  *     → write.partitionBy(study_date) snappy parquet
  *   + error side-channel (the DLQ analog, SURVEY §2.1 S10).
  *
  * Failure granularity matches the reference: ANY entry failing fails the
  * whole source object (one Lambda invocation = one object = one DLQ
  * message); a failed object contributes zero rows and one error record.
  *
  * Scale design:
  *  - the parse/flatten runs entirely in executors (one task per file
  *    slice of the binaryFile scan — at 100 TB this is the linear,
  *    embarrassingly-parallel stage);
  *  - the only driver interaction is collecting the OBSERVED KEY SET
  *    (bounded by the static tag dictionary, ~130 keywords — a few KB —
  *    never row data) to build the batch schema, mirroring the
  *    reference's per-batch drop-all-null dynamic schema
  *    (`src/app.py:39-41`);
  *  - the parsed intermediate is persisted (MEMORY_AND_DISK_SER) so the
  *    key-scan and the row materialization don't re-parse binaries;
  *  - the partitioned write uses Hive-style `study_date=` layout →
  *    partition-pruned reads for free (Catalyst
  *    `PruneFileSourcePartitions`).
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
    * channels. [[write]] releases `outcomes` when it is persisted. */
  final case class Extracted(outcomes: RDD[Outcome]) {
    lazy val rows: RDD[ImageRow] =
      outcomes.flatMap { case Right(rs) => rs; case Left(_) => Nil }
    lazy val errors: RDD[DicomError] =
      outcomes.flatMap { case Left(e) => Some(e); case Right(_) => None }
  }

  /** Process ONE source object end-to-end (pure; runs on executors):
    * [[Archives.members]] routes it by extension and visits its members,
    * each parsed and flattened as soon as its bytes are read. Every route
    * calls this with its own opener — the packed scan wraps the bytes it
    * already holds, the oversized and manifest routes and the
    * `format("dicom")` source open the stored object ([[fsOpener]]) — so
    * what is computed never depends on where it ran.
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

  /** One fork-free driver walk over `inputPath` — the listed route,
    * [[manifestOf]] and the `format("dicom")` source all list through it:
    * every visible file as (path, length), hidden-pruned exactly like
    * Spark's InMemoryFileIndex
    * (`_`/`.` prefixes invisible at ANY discovered level; the explicitly
    * named root is always accepted — Spark applies its path filter to
    * discovered children, not to the path you name).
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
    if (!fs.exists(p)) Nil
    else {
      val files = Seq.newBuilder[(String, Long)]
      def hidden(name: String): Boolean =
        name.startsWith("_") || name.startsWith(".")
      def walk(st: org.apache.hadoop.fs.FileStatus, isRoot: Boolean): Unit =
        if (!isRoot && hidden(st.getPath.getName)) ()
        else if (st.isDirectory) {
          val it = fs.listStatusIterator(st.getPath)
          while (it.hasNext) walk(it.next(), isRoot = false)
        } else files += ((st.getPath.toString, st.getLen))
      walk(fs.getFileStatus(p), isRoot = true)
      files.result()
    }
  }

  /** Zero-length files never produce scan splits (Spark file-source
    * planning skips them), yet the reference's canonical failure fixture
    * is an EMPTY `DICOMDIR` whose error record we must emit
    * (README.md:116). One driver walk, two route lists: the empties and
    * the OVERSIZED files (> maxInline bytes) for the S11 streamed route
    * — an oversized `_temporary` leftover must not produce rows the
    * packed route would never have produced (shared hidden rule). */
  private def listRoutes(spark: SparkSession, inputPath: String,
                         maxInline: Long): (Seq[String], Seq[String]) = {
    val files = walkFiles(spark.sparkContext.hadoopConfiguration, inputPath)
    (files.collect { case (p, 0L) => p },
     files.collect { case (p, len) if len > maxInline => p })
  }

  /** Size threshold above which an object leaves the packed scan for the
    * dedicated streamed route. Default mirrors the reference's 500 MB
    * Lambda/Batch split (`src/app.py:25,118`) — with the difference that
    * OUR override actually works (the reference reads the env var as a
    * string and the `>` comparison with an int raises, so only its
    * default path ever runs; COMPAT.md). */
  private def maxInlineBytes(spark: SparkSession): Long =
    spark.conf.get("spark.graft.route.maxInlineBytes",
      (500L * 1024 * 1024).toString).toLong

  /** Read binaries and run the extraction flatMap. `bucket`/`region` are
    * lineage constants (the storage coordinates of `inputPath`).
    *
    * SIZE ROUTER (reference S11, `src/app.py:118-181`, as a scan
    * strategy): objects ≤ maxInline ride the packed `binaryFile` scan
    * (many small objects per task — the "Lambda" economics); objects
    * above it are EXCLUDED from the scan by a pushed `length` filter
    * (BinaryFileFormat skips their content entirely) and take a
    * dedicated one-object-per-task streamed route instead (the
    * "Batch" economics: isolated compute, bounded memory) that opens
    * the stored object. Both routes run [[processObject]], so WHAT is
    * computed never depends on WHERE it ran; SizeRouterSpec pins
    * route-invariance. The per-object outcomes are persisted
    * (MEMORY_AND_DISK_SER) so the key scan and the row materialization
    * don't re-read binaries; [[write]] releases them. */
  def extract(spark: SparkSession, inputPath: String,
              bucket: String = "local", region: String = "local"): Extracted = {
    val maxInline = maxInlineBytes(spark)
    // recursiveFileLookup keeps the scan consistent with listRoutes'
    // recursive walk (nested dirs yield rows AND their empties error)
    val bin = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(inputPath)
      .filter(org.apache.spark.sql.functions.col("length") <= maxInline)
      .select("path", "content")
    val packed = scanned(bin, bucket, region)
    val (empties, larges) = listRoutes(spark, inputPath, maxInline)
    val outcomes =
      if (empties.isEmpty && larges.isEmpty) packed
      else {
        val conf = new graft.sources.SerializableHadoopConf(
          spark.sparkContext.hadoopConfiguration)
        // one task per oversized object: a 50 GB archive never shares its
        // task (or its memory budget) with a thousand small objects
        val paths = spark.sparkContext.parallelize(empties, math.max(1, empties.size min 32)) ++
          spark.sparkContext.parallelize(larges, math.max(1, larges.size))
        packed ++ paths.map(p => processObject(bucket, region, p, fsOpener(p, conf.value)))
      }
    Extracted(outcomes.persist(StorageLevel.MEMORY_AND_DISK_SER))
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
    * point. Routing decisions (empty / packed / oversized) come from the
    * manifest's `length` column, and small-object content is read INSIDE
    * tasks, so the driver performs ZERO filesystem listing or metadata
    * calls: its only per-corpus state is the manifest DataFrame (itself
    * typically a parquet scan). This removes the InMemoryFileIndex
    * driver-listing ceiling the directory entry point inherits from
    * Spark's file sources.
    *
    * Route parity with [[extract]]: every object goes through
    * [[processObject]], reading the stored object through [[fsOpener]]
    * (a loose `.dcm` reads at most the 10 MB range, archives stream
    * member by member; nothing is persisted), and the hidden rule
    * applies SEGMENT-WISE to manifest rows (an inventoried
    * `_temporary/part.dcm` leftover stays invisible exactly as the packed
    * scan's recursive walk would hide it — inventories are produced by
    * listing stores wholesale, so Spark-job detritus WILL appear in
    * them; a corpus deliberately rooted under a dot-directory must be
    * inventoried with paths relative to that root). ManifestSpec pins
    * rows+errors equality against the listed route on the same corpus.
    *
    * Partitioning: small objects pack many-per-task, task count sized by
    * manifest byte totals (≈ `spark.sql.files.maxPartitionBytes` per
    * task — the same economics as Spark's own file packing, computed
    * from the manifest instead of a listing); oversized objects keep the
    * S11 one-object-per-task isolation. */
  def extractFromManifest(spark: SparkSession, manifest: DataFrame,
                          bucket: String = "local", region: String = "local"): Extracted = {
    // named imports: functions.bucket would shadow the lineage parameter
    import org.apache.spark.sql.functions.{coalesce, col, count, exists, lit, split, sum}
    val maxInline = maxInlineBytes(spark)
    val hiddenSegment = exists(split(col("path"), "/"),
      s => s.startsWith("_") || s.startsWith("."))
    val m = manifest
      .select(col("path").cast("string").as("path"), col("length").cast("long").as("length"))
      .filter(!hiddenSegment)
    val small = m.filter(col("length") > 0 && col("length") <= maxInline)
    // two scalar aggregates are the ONLY driver-side materialization —
    // they size the task layout, never enumerate objects
    val st = small.agg(count(lit(1)), coalesce(sum(col("length")), lit(0L))).head()
    val (nSmall, smallBytes) = (st.getLong(0), st.getLong(1))
    val bytesPerTask = math.max(1L,
      spark.sessionState.conf.filesMaxPartitionBytes)
    val smallParts = math.max(1, math.min(nSmall,
      math.max(spark.sparkContext.defaultParallelism.toLong,
        1L + smallBytes / bytesPerTask)).toInt)
    def paths(df: DataFrame): RDD[String] = df.select("path").rdd.map(_.getString(0))
    val large = m.filter(col("length") > maxInline)
    val nLarge = math.min(large.count(), 1L << 20).toInt
    val all = paths(small).repartition(smallParts) ++
      paths(m.filter(col("length") === 0)) ++
      (if (nLarge == 0) spark.sparkContext.emptyRDD[String]
       else paths(large).repartition(nLarge))
    val conf = new graft.sources.SerializableHadoopConf(
      spark.sparkContext.hadoopConfiguration)
    Extracted(all.map(p => processObject(bucket, region, p, fsOpener(p, conf.value))))
  }

  /** The packed-scan route over a (path, content) DataFrame: many small
    * objects per task, each read from the bytes the scan already holds. */
  private def scanned(bin: DataFrame, bucket: String, region: String): RDD[Outcome] =
    bin.rdd.map { r =>
      val content = r.getAs[Array[Byte]](1)
      processObject(bucket, region, r.getString(0), () => new ByteArrayInputStream(content))
    }

  /** [[extract]] over an already-loaded (path, content) DataFrame — the
    * streaming foreachBatch's entry. Persisted like [[extract]]'s. */
  def extractFromBinary(bin: DataFrame, bucket: String, region: String): Extracted =
    Extracted(scanned(bin, bucket, region).persist(StorageLevel.MEMORY_AND_DISK_SER))

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
    * a value), laid out by [[schemaFor]]. */
  def toDataFrame(spark: SparkSession, rows: RDD[ImageRow]): DataFrame =
    framed(spark, rows, rows.flatMap(observedKeys).distinct().collect())

  private def observedKeys(ir: ImageRow): Iterable[String] =
    ir.values.collect { case (k, v) if v != VrConvert.DNull => k }

  /** Marks an errored object in the key union: no keyword or lineage key
    * is empty ([[Flatten.flatten]] skips empty keywords). */
  private val ErroredKey = ""

  /** [[toDataFrame]] of an extraction's rows whose one key-union job also
    * tells whether any object errored: each error contributes
    * [[ErroredKey]] before the `distinct`, so the errors write needs no
    * emptiness job of its own. */
  private def toDataFrameFlaggingErrors(spark: SparkSession,
                                        ex: Extracted): (DataFrame, Boolean) = {
    val keys = ex.outcomes.flatMap {
      case Right(rs) => rs.flatMap(observedKeys)
      case Left(_) => Seq(ErroredKey)
    }.distinct().collect()
    (framed(spark, ex.rows, keys.filter(_ != ErroredKey)), keys.contains(ErroredKey))
  }

  /** The rows as Catalyst rows laid out by [[schemaFor]]: no row
    * encoder, so no task generates a serializer for the ~60 columns. */
  private def framed(spark: SparkSession, rows: RDD[ImageRow],
                     observed: Array[String]): DataFrame = {
    val keywords = observed.sorted
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
    * Neither write runs an emptiness job: every row carries the four
    * lineage strings and a study date, so a batch has columns exactly
    * when it has rows, and the key union flags errored objects. Both
    * write through [[ForkFreeLocalFileSystem]]. The errors write runs
    * only after the data write has succeeded, so a batch whose data write
    * fails appends no error rows and a retry does not repeat them. */
  def write(spark: SparkSession, ex: Extracted, outPath: String,
            errorPath: Option[String]): (DataFrame, DataFrame) =
    try {
      val (df, errored) = toDataFrameFlaggingErrors(spark, ex)
      if (df.columns.nonEmpty) {
        // REBALANCE on the partition column first: without it every scan
        // task writes one file per date it happens to hold — the 9.5k-object
        // rehearsal produced 5,251 files for 9,500 rows (measured); with it,
        // one file per date. The AQE rebalance also SPLITS a skewed date
        // across tasks instead of funneling it into one, which a plain
        // repartition(col) would not. SMALL batches skip the shuffle: with
        // few write tasks the worst case is tasks × dates files — already
        // bounded — and the extra exchange doubled the fixture-scale write
        // (0.71 → 1.42 s measured idle-to-idle). The frame's rows map
        // the extraction's rows one to one, so it has their partitions.
        val writeTasks = ex.rows.getNumPartitions
        val arranged =
          if (writeTasks <= 8) df
          else df.hint("rebalance",
            org.apache.spark.sql.functions.col(Flatten.PartitionColSnake))
        arranged.write.options(ForkFreeLocalFileSystem.WriteOptions)
          .mode("append")
          .partitionBy(Flatten.PartitionColSnake)
          .option("compression", "snappy")
          .parquet(outPath)
      }
      val errDf = errorsFrame(spark, ex.errors)
      // REBALANCE lets AQE size the errors write by bytes: one task (one
      // file) for a handful of rows, more at scale — not one task per
      // scan partition
      if (errored) errorPath.foreach { p =>
        errDf.hint("rebalance").write.options(ForkFreeLocalFileSystem.WriteOptions)
          .mode("append").parquet(p)
      }
      (df, errDf)
    } finally ex.outcomes.unpersist(blocking = false)
}
