package graft.table

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.ParquetProperties.WriterVersion
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.{LocalOutputFile, OutputFile, PositionOutputStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.types._

import graft.core._
import graft.meta._

/** What a write task needs to write parquet files under `dir` and describe
  * each one as a [[DataFile]]; built on the driver, shipped in the task.
  *
  * @param schemaJson  catalyst schema of the written rows, field ids in
  *                    the field metadata
  * @param colInfo     (dotted path, field id, type repr) of the leaves
  *                    that get column statistics
  * @param partNames   partition directory names (`_p_<field>`) and
  * @param partTypes   the partition fields' result type reprs: the
  *                    partition tuple is read back from the file's path
  * @param options     parquet-mr writer keys and `compression`
  * @param maxRecords  rows per file before rolling to a new one; 0 = no cap
  * @param uuidCols    uuid columns stored as FIXED_LEN_BYTE_ARRAY(16)
  * @param hadoopConf  session Hadoop conf entries for a non-local `dir`;
  *                    null when `dir` is on the local file system
  * @param writeId     shared by the names of all files of one write, so
  *                    the paths in a manifest compress well */
final case class FileWriteSpec(
    dir: String,
    schemaJson: String,
    colInfo: Seq[(String, Int, String)],
    modes: Map[Int, String],
    partNames: Seq[String],
    partTypes: Seq[String],
    options: Map[String, String],
    maxRecords: Long,
    uuidCols: Set[String],
    hadoopConf: Array[(String, String)],
    writeId: String)

/** The one parquet writer of data and delete files (ref: pyiceberg
  * io/pyarrow.py:2718 write_file, which builds each DataFile from its own
  * writer's footer, :2526). Runs inside a task: files get their final
  * names at open, and closing one yields its [[DataFile]] from the
  * writer's footer — no commit protocol, no listing, no second job that
  * reopens footers. Only files named in a successful task's result are
  * ever committed; a failed attempt's files are orphans.
  *
  * A file opens lazily on its first row, so a task without rows writes
  * nothing. Rows of one partition directory share a file until
  * `maxRecords` or a change of directory rolls it. Local directories open
  * through java.nio (no Hadoop FileSystem, so no `.crc` siblings and no
  * forked `chmod`); other schemes open through Hadoop. */
final class DataFileWriter(spec: FileWriteSpec, prefix: String) {
  import DataFileWriter._

  private val schema = DataType.fromJson(spec.schemaJson).asInstanceOf[StructType]
  private lazy val conf: Configuration = {
    val c = if (spec.hadoopConf == null) new Configuration(false) else Io.confFrom(spec.hadoopConf)
    ParquetWriteSupport.setSchema(schema, c)
    c.set("spark.sql.parquet.writeLegacyFormat", "false")
    c.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    c.set("spark.sql.parquet.fieldId.write.enabled", "true")
    c.set("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
    c.set("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
    c.set("spark.sql.parquet.variant.annotateLogicalType.enabled", "false")
    c.set("spark.sql.session.timeZone", "UTC")
    // codec keys (zstd level, …) reach the codecs through the conf
    spec.options.foreach { case (k, v) => c.set(k, v) }
    c
  }
  private val codec = spec.options("compression").toLowerCase match {
    case "none" => CompressionCodecName.UNCOMPRESSED
    case name => CompressionCodecName.fromConf(name)
  }

  private var cur: ParquetWriter[InternalRow] = _
  private var curOut: SizedOutputFile = _
  private var curPath: String = _
  private var curDir: String = _
  private var curCount = 0L
  private val opened = ArrayBuffer[String]()
  private val closed = ArrayBuffer[DataFile]()

  /** Write `row` into the partition directory `partDir` (relative to
    * `spec.dir`, "" for none); `row` holds exactly the schema's columns. */
  def write(partDir: String, row: InternalRow): Unit = {
    if (cur == null || partDir != curDir ||
        (spec.maxRecords > 0 && curCount >= spec.maxRecords)) roll(partDir)
    cur.write(row)
    curCount += 1
  }

  /** Open a file in `partDir` before any row: an empty file still
    * carries the schema. */
  def open(partDir: String): Unit = roll(partDir)

  /** Close the open file; every file this writer wrote, described. */
  def close(): Seq[DataFile] = {
    finish()
    closed.toSeq
  }

  /** Failed task: close quietly and delete what this writer wrote. */
  def abort(): Unit = {
    try { if (cur != null) cur.close() } catch { case _: Exception => () }
    cur = null
    opened.foreach(p => try Io.delete(p) catch { case _: Exception => () })
  }

  private def roll(partDir: String): Unit = {
    finish()
    val dir = if (partDir.isEmpty) spec.dir else s"${spec.dir}/$partDir"
    // `prefix` is unique per writer within a write
    curPath = s"$dir/$prefix-${spec.writeId}-${opened.size}.parquet"
    curOut = new SizedOutputFile(
      if (spec.hadoopConf == null) {
        val p = java.nio.file.Paths.get(PathUtil.canon(curPath))
        java.nio.file.Files.createDirectories(p.getParent)
        new LocalOutputFile(p)
      } else HadoopOutputFile.fromPath(new Path(curPath), conf))
    opened += curPath
    val support: WriteSupport[InternalRow] =
      if (spec.uuidCols.isEmpty) new ParquetWriteSupport
      else new graft.spark.GraftUuidFixed16WriteSupport(spec.uuidCols)
    val b = new RowWriterBuilder(curOut, support)
      .withConf(conf)
      .withWriteMode(ParquetFileWriter.Mode.CREATE)
      .withCompressionCodec(codec)
    spec.options.foreach { case (k, v) => configure(b, k, v) }
    cur = b.build()
    curDir = partDir
    curCount = 0L
  }

  private def finish(): Unit = if (cur != null) {
    cur.close()
    val footer = asStored(cur.getFooter)
    cur = null
    closed += StatsHarvester.footerToDataFile(curPath, curOut.length, footer,
      StatsHarvester.parsePartition(curPath, spec.dir, spec.partNames, spec.partTypes),
      spec.colInfo, spec.modes)
  }

  /** The footer as a reader decodes it from the file: the writer's
    * in-memory statistics go through the same thrift conversion (stats
    * over 4 KB dropped, `parquet.statistics.truncate.length` applied), so
    * the DataFile equals one harvested from the file afterwards. */
  private def asStored(footer: ParquetMetadata): ParquetMetadata = {
    val c = new ParquetMetadataConverter(spec.options
      .get(ParquetOutputFormat.STATISTICS_TRUNCATE_LENGTH).map(_.toInt).getOrElse(Int.MaxValue))
    c.fromParquetMetadata(c.toParquetMetadata(ParquetFileWriter.CURRENT_VERSION, footer))
  }
}

object DataFileWriter {

  /** The spec for files of `statsSchema`'s table written from rows of
    * `rowSchema` under `dir`. */
  def spec(spark: SparkSession, dir: String, rowSchema: StructType, statsSchema: Schema,
      partSpec: PartitionSpec = PartitionSpec.Unpartitioned,
      modes: Map[Int, String] = Map.empty,
      options: Map[String, String] = Map.empty,
      maxRecords: Long = 0L,
      uuidCols: Set[String] = Set.empty): FileWriteSpec = {
    // locality from the RESOLVED filesystem: a scheme-less path resolves
    // against fs.defaultFS, which on a cluster is not the driver's disk;
    // getUri.getScheme, not getScheme: RawLocalFileSystem lacks the latter
    val local = new Path(dir).getFileSystem(Io.confFor(dir)).getUri.getScheme == "file"
    // the session's parquet codec and the parquet-mr keys of its Hadoop
    // conf (`spark.hadoop.parquet.*`) apply to every write, as under
    // Spark's own writer; `options` (table properties) win
    val session = spark.sessionState.newHadoopConf().iterator().asScala
      .map(e => e.getKey -> e.getValue).filter(_._1.startsWith("parquet.")).toMap +
      ("compression" -> spark.conf.get("spark.sql.parquet.compression.codec", "snappy"))
    FileWriteSpec(dir, rowSchema.json, statsSchema.leafColInfo, modes,
      partSpec.fields.map(pf => WriteFiles.SyntheticPrefix + pf.name),
      partSpec.partitionType(statsSchema).map(_.fieldType.repr),
      session ++ options, maxRecords, uuidCols,
      if (local) null else Io.confEntries(spark), java.util.UUID.randomUUID().toString)
  }

  /** Write `df`'s rows in one job: each task writes its rows and returns
    * its files. When `spec` names partition fields, `df` carries their
    * values as that many TRAILING columns (after the written schema's),
    * with each task's rows grouped by them. */
  def write(df: DataFrame, spec: FileWriteSpec, prefix: String = "part"): Seq[DataFile] = {
    val rowTypes = df.schema.fields.map(_.dataType)
    val partTypes = spec.partTypes.map(StatsHarvester.parseType)
    inTasks(df, spec, prefix) { (writer, rows) =>
      val nPart = partTypes.size
      if (nPart == 0) rows.foreach(writer.write("", _))
      else {
        val nData = rowTypes.length - nPart
        def refs(range: Range) = range.map(i => BoundReference(i, rowTypes(i), nullable = true))
        val data = UnsafeProjection.create(refs(0 until nData))
        val key = UnsafeProjection.create(refs(nData until rowTypes.length))
        var lastKey: UnsafeRow = null
        var dir = ""
        rows.foreach { row =>
          val k = key(row)
          if (lastKey == null || k != lastKey) {
            lastKey = k.copy()
            dir = partitionDir(spec.partNames,
              partTypes.indices.map(i => lastKey.get(i, rowTypes(nData + i))), partTypes)
          }
          writer.write(dir, data(row))
        }
      }
    }
  }

  /** Write position-delete rows (`file_path`, `pos`), sorted by both
    * within each task, as one file per target data file: with FULL
    * `file_path` bounds, each file then applies to its target alone. */
  def writePerTarget(df: DataFrame, spec: FileWriteSpec): Seq[DataFile] =
    inTasks(df, spec, "del") { (writer, rows) =>
      var target: org.apache.spark.unsafe.types.UTF8String = null
      rows.foreach { row =>
        if (target == null || row.getUTF8String(0) != target) {
          target = row.getUTF8String(0).clone()
          writer.open("")
        }
        writer.write("", row)
      }
    }

  /** One job: each task hands its rows to its own writer and returns
    * the files it wrote. */
  private def inTasks(df: DataFrame, spec: FileWriteSpec, prefix: String)(
      body: (DataFileWriter, Iterator[InternalRow]) => Unit): Seq[DataFile] =
    org.apache.spark.sql.GraftBridge.internalRowRDD(df).mapPartitions { rows =>
      val task = org.apache.spark.TaskContext.get()
      val writer = new DataFileWriter(spec,
        f"$prefix-${task.partitionId()}%05d-${task.taskAttemptId()}")
      try {
        body(writer, rows)
        writer.close().iterator
      } catch {
        case e: Throwable => writer.abort(); throw e
      }
    }.collect().toSeq

  /** `t` with every field, element and value optional — the layout
    * Spark's own parquet writer gives data files. */
  def asNullable(t: StructType): StructType = nullable(t).asInstanceOf[StructType]

  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** `name=value/…` directory for a partition tuple (Spark-internal or
    * iceberg-internal values of the fields' result types); every byte
    * outside `[A-Za-z0-9._-]` is %XX-escaped, which
    * [[StatsHarvester.parsePartition]] reverses. */
  def partitionDir(names: Seq[String], values: Seq[Any], types: Seq[IceType]): String =
    names.indices.map(i =>
      s"${escape(names(i))}=${escape(partitionString(values(i), types(i)))}").mkString("/")

  /** String form of one partition value, as Conversions.fromPartitionString
    * parses it back. */
  def partitionString(v: Any, t: IceType): String = v match {
    case null => "__HIVE_DEFAULT_PARTITION__"
    case d: Decimal => d.toJavaBigDecimal.toPlainString
    case d: java.math.BigDecimal => d.toPlainString
    case b: Array[Byte] => new String(b, java.nio.charset.StandardCharsets.UTF_8)
    case _ => t match {
      case IDate => java.time.LocalDate.ofEpochDay(v.asInstanceOf[Number].longValue()).toString
      case ITimestamp | ITimestamptz =>
        Transforms.microsToLocalDateTime(v.asInstanceOf[Number].longValue()).toString
      case _ => v.toString
    }
  }

  private def escape(s: String): String = {
    val b = new StringBuilder
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { by =>
      val c = by.toChar
      val safe = by >= 0 && (c.isLetterOrDigit || c == '.' || c == '_' || c == '-')
      if (safe) b += c else b ++= f"%%${by & 0xff}%02X"
    }
    b.toString
  }

  private final class RowWriterBuilder(file: OutputFile, support: WriteSupport[InternalRow])
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override protected def self(): RowWriterBuilder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      support
  }

  /** One parquet-mr writer key (`key` or `key#column`) onto the builder,
    * read the way ParquetOutputFormat reads it from a job conf; keys the
    * builder has no setter for act through the Configuration. */
  private def configure(b: RowWriterBuilder, key: String, v: String): Unit = {
    import ParquetOutputFormat._
    val (name, column) = key.indexOf('#') match {
      case -1 => (key, None)
      case i => (key.take(i), Some(key.drop(i + 1)))
    }
    (name, column) match {
      case (BLOCK_SIZE, None) => b.withRowGroupSize(v.toLong)
      case (PAGE_SIZE, None) => b.withPageSize(v.toInt)
      case (DICTIONARY_PAGE_SIZE, None) => b.withDictionaryPageSize(v.toInt)
      case (ENABLE_DICTIONARY, None) => b.withDictionaryEncoding(v.toBoolean)
      case (ENABLE_DICTIONARY, Some(c)) => b.withDictionaryEncoding(c, v.toBoolean)
      case (WRITER_VERSION, None) => b.withWriterVersion(WriterVersion.fromString(v))
      case (VALIDATION, None) => b.withValidation(v.toBoolean)
      case (MAX_PADDING_BYTES, None) => b.withMaxPaddingSize(v.toInt)
      case (MIN_ROW_COUNT_FOR_PAGE_SIZE_CHECK, None) => b.withMinRowCountForPageSizeCheck(v.toInt)
      case (MAX_ROW_COUNT_FOR_PAGE_SIZE_CHECK, None) => b.withMaxRowCountForPageSizeCheck(v.toInt)
      case (BLOCK_ROW_COUNT_LIMIT, None) => b.withRowGroupRowCountLimit(v.toInt)
      case (PAGE_ROW_COUNT_LIMIT, None) => b.withPageRowCountLimit(v.toInt)
      case (COLUMN_INDEX_TRUNCATE_LENGTH, None) => b.withColumnIndexTruncateLength(v.toInt)
      case (STATISTICS_TRUNCATE_LENGTH, None) => b.withStatisticsTruncateLength(v.toInt)
      case (PAGE_WRITE_CHECKSUM_ENABLED, None) => b.withPageWriteChecksumEnabled(v.toBoolean)
      case (STATISTICS_ENABLED, None) => b.withStatisticsEnabled(v.toBoolean)
      case (STATISTICS_ENABLED, Some(c)) => b.withStatisticsEnabled(c, v.toBoolean)
      case (SIZE_STATISTICS_ENABLED, None) => b.withSizeStatisticsEnabled(v.toBoolean)
      case (SIZE_STATISTICS_ENABLED, Some(c)) => b.withSizeStatisticsEnabled(c, v.toBoolean)
      case (BLOOM_FILTER_MAX_BYTES, None) => b.withMaxBloomFilterBytes(v.toInt)
      case (BLOOM_FILTER_ENABLED, None) => b.withBloomFilterEnabled(v.toBoolean)
      case (BLOOM_FILTER_ENABLED, Some(c)) => b.withBloomFilterEnabled(c, v.toBoolean)
      case (BLOOM_FILTER_FPP, Some(c)) => b.withBloomFilterFPP(c, v.toDouble)
      case (BLOOM_FILTER_EXPECTED_NDV, Some(c)) => b.withBloomFilterNDV(c, v.toLong)
      case (BLOOM_FILTER_CANDIDATES_NUMBER, Some(c)) => b.withBloomFilterCandidateNumber(c, v.toInt)
      case (ADAPTIVE_BLOOM_FILTER_ENABLED, None) => b.withAdaptiveBloomFilterEnabled(v.toBoolean)
      case _ =>
    }
  }

  /** Remembers the stream's final position: the file's size, with no
    * stat of the written file. */
  private final class SizedOutputFile(inner: OutputFile) extends OutputFile {
    var length = -1L
    override def create(blockSize: Long): PositionOutputStream = sized(inner.create(blockSize))
    override def createOrOverwrite(blockSize: Long): PositionOutputStream =
      sized(inner.createOrOverwrite(blockSize))
    override def supportsBlockSize(): Boolean = inner.supportsBlockSize()
    override def defaultBlockSize(): Long = inner.defaultBlockSize()
    override def getPath: String = inner.getPath
    private def sized(out: PositionOutputStream) = new PositionOutputStream {
      override def getPos: Long = out.getPos
      override def write(b: Int): Unit = out.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
      override def flush(): Unit = out.flush()
      override def close(): Unit = { length = out.getPos; out.close() }
    }
  }
}
