package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.meta._

/** Data-file writing (ref: pyiceberg/io/pyarrow.py:2718 write_file, :2526
  * data_file_statistics_from_parquet_metadata, :3053 _determine_partitions).
  *
  * Fan-out is a Spark shuffle: partition-transform columns are computed as
  * synthetic columns and the rows are repartitioned and sorted by them, so
  * one task writes each partition's files — the Arrow group-by loop of the
  * reference becomes a distributed repartition. Identity source columns
  * stay in the data files (Iceberg layout: partition values are metadata,
  * data files carry all columns); the synthetic columns only shape the
  * `_p_name=value/` directory layout and are reparsed into partition
  * tuples.
  *
  * Parquet files are written by [[DataFileWriter]] inside the write tasks,
  * which return each file's DataFile built from its writer's footer: the
  * write is ONE Spark job after the input's own stages, with no commit
  * protocol and no second job reopening footers.
  */
/** Data-location layout (ref: table/locations.py:103 Simple /
  * :115 ObjectStoreLocationProvider). Object-storage mode injects binary
  * entropy directories ahead of the commit dir so S3-style stores spread
  * requests across key prefixes instead of throttling one hot prefix.
  * Deviation from the reference: entropy is per COMMIT (a commit's files
  * share one directory), not per file —
  * same prefix fan-out across commits, cheaper listing within one. */
object Locations {
  val HashBits = 20
  val DirLen = 4
  val DirDepth = 3

  def entropyDirs(name: String): String = {
    val h = Transforms.hashString(name) & ((1 << HashBits) - 1)
    val bits = String.format("%" + HashBits + "s", Integer.toBinaryString(h))
      .replace(' ', '0')
    val total = DirLen * DirDepth
    val dirs = (0 until total by DirLen).map(i => bits.substring(i, i + DirLen))
    (dirs :+ bits.substring(total)).mkString("/")
  }

  /** Stage directory for one commit's data files. The data root honors
    * `write.data.path` (ref: locations.py WRITE_DATA_PATH — object-store
    * layouts point data at a different bucket/prefix than the table
    * location). */
  def stageDir(location: String, commitUuid: String, props: Map[String, String]): String = {
    val dataRoot = props.getOrElse("write.data.path", s"$location/data")
    if (props.get("write.object-storage.enabled").contains("true"))
      s"$dataRoot/${entropyDirs(commitUuid)}/$commitUuid"
    else s"$dataRoot/$commitUuid"
  }
}

object WriteFiles {

  val SyntheticPrefix = "_p_"

  /** Run `body` with session confs set, restoring prior values after — the
    * library must not leak parquet conf changes into a shared session.
    * Only valid around EAGER actions: a lazy DataFrame captures confs at
    * execution time, which would be after the restore (this is why the
    * scan-side fieldId.read confs stay sticky — the returned DataFrame
    * outlives any scope we could put here).
    *
    * Concurrency: the set-restore window is visible to other threads on
    * the same session. The ORC write therefore uses a cloned session
    * (see `writeOrc`) — misread write confs corrupt files durably. The
    * remaining users scope READ confs (fieldId.read) whose worst foreign
    * effect is a transiently id-aware parquet read. */
  def withScopedConfs[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Align an input DataFrame to the table schema: select columns by name
    * (case-sensitive), cast to the declared types (ref:
    * _check_schema_compatible io/pyarrow.py:2846 — here we cast instead of
    * reject when safely promotable). */
  def align(df: DataFrame, schema: Schema): DataFrame = {
    // v3 `unknown` columns are all-null by definition and never stored in
    // data files (scans fill NULL) — drop them from the physical write,
    // but refuse to silently discard a REAL typed column under that name
    schema.fields.filter(_.fieldType == IUnknown).foreach { f =>
      df.schema.fields.find(_.name == f.name).foreach { src =>
        require(src.dataType == org.apache.spark.sql.types.NullType,
          s"Column '${f.name}' has Iceberg type unknown (all-null) but the input " +
            s"carries ${src.dataType.simpleString} values; cast to null or drop it")
      }
    }
    val cols = schema.fields.filterNot(_.fieldType == IUnknown).map { f =>
      val src = df.schema.fields.find(_.name == f.name).getOrElse(
        throw new IllegalArgumentException(
          s"Input is missing table column '${f.name}'; input has ${df.schema.fieldNames.mkString(", ")}"))
      val target = f.fieldType.toSpark
      val base = if (src.dataType == target) col(f.name) else col(f.name).cast(target)
      // uuid columns store the CANONICAL lowercase form: predicates bind
      // uuid literals lowercased (Expressions.scala Binder), and metadata
      // bounds canonicalize through Conversions — an uppercase stored
      // string would pass pruning yet miss the row filter (the reference's
      // fixed[16] layout is canonical by construction, io/pyarrow.py:2145)
      val c = f.fieldType match {
        case IUUID => lower(base)
        case _ => base
      }
      c.as(f.name, SchemaConv.toSparkField(f).metadata)
    }
    df.select(cols: _*)
  }

  /** Rough encoded bytes per row from the schema — drives the
    * target-file-size → max-records conversion. Variable-width fields are
    * guesses (string 24 B, binary 32 B); a factor-of-few error moves file
    * sizes by the same factor, which is fine for a splitting BOUND. */
  private[graft] def estimatedRowBytes(schema: Schema): Long = {
    def width(t: IceType): Long = t match {
      case IBoolean => 1
      case IInt | IFloat | IDate => 4
      case ILong | IDouble | ITime | ITimestamp | ITimestamptz => 8
      case IDecimal(_, _) => 16
      case IString => 24
      case IUUID => 36
      case IBinary => 32
      case IFixed(l) => l.toLong
      case IUnknown => 0 // never stored
      case IGeometry(_) | IGeography(_, _) => 64 // WKB blobs
      case ITimestampNs | ITimestamptzNs => 8
      case IStruct(fs) => fs.map(f => width(f.fieldType)).sum
      case IList(_, el, _) => 4 * width(el) // guess: few elements
      case IMap(_, k, _, v, _) => 4 * (width(k) + width(v))
    }
    schema.fields.map(f => width(f.fieldType)).sum
  }

  /** Per-leaf metrics mode from table properties (ref: io/pyarrow.py:2305
    * match_metrics_mode; `write.metadata.metrics.default` +
    * `write.metadata.metrics.column.<dotted.path>`): none | counts |
    * truncate(N) | full. */
  /** Iceberg `write.parquet.*` table properties → per-write parquet
    * writer options (parquet-mr keys, which [[DataFileWriter]] sets on its
    * writer builder and Configuration). The
    * reference DECLARES these properties but warns "not implemented"
    * (io/pyarrow.py:2922 _get_parquet_writer_kwargs warns on row-group
    * size and bloom filter keys) — here they do work. Bloom filters are
    * the 100-TB point-lookup lever: an equality predicate on a
    * high-cardinality key (`id = X`) prunes row groups whose bloom says
    * "definitely absent" without decoding a page. */
  private[graft] def parquetWriterOptions(props: Map[String, String]): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    props.get("write.parquet.compression-codec")
      .foreach(c => b += "compression" -> c)
    props.get("write.parquet.compression-level")
      .foreach { l =>
        // parquet-mr keys are per-codec; set the ones Spark ships
        b += "parquet.compression.codec.zstd.level" -> l
        b += "parquet.compression.codec.gzip.level" -> l
      }
    props.get("write.parquet.row-group-size-bytes")
      .foreach(v => b += "parquet.block.size" -> v)
    props.get("write.parquet.page-size-bytes")
      .foreach(v => b += "parquet.page.size" -> v)
    props.get("write.parquet.dict-size-bytes")
      .foreach(v => b += "parquet.dictionary.page.size" -> v)
    props.get("write.parquet.bloom-filter-max-bytes")
      .foreach(v => b += "parquet.bloom.filter.max.bytes" -> v)
    val BloomCol = "write.parquet.bloom-filter-enabled.column.(.+)".r
    val FppCol = "write.parquet.bloom-filter-fpp.column.(.+)".r
    // generic escape hatch for any parquet-mr writer key (e.g.
    // parquet.enable.dictionary#col — parquet-mr DROPS a bloom filter
    // when the chunk ends fully dictionary-encoded, since the dictionary
    // already answers exact membership; disable the dictionary on a
    // bloom column to force the filter for foreign readers)
    val Passthrough = "write.parquet.option.(.+)".r
    props.foreach {
      case (BloomCol(c), v) => b += s"parquet.bloom.filter.enabled#$c" -> v
      case (FppCol(c), v) => b += s"parquet.bloom.filter.fpp#$c" -> v
      case (Passthrough(k), v) => b += k -> v
      case _ =>
    }
    b.result()
  }

  def metricsModes(schema: Schema, props: Map[String, String]): Map[Int, String] = {
    val default = props.getOrElse("write.metadata.metrics.default",
      s"truncate(${StatsHarvester.BoundTruncateLength})")
    schema.leafColInfo.map { case (path, id, _) =>
      val mode = props.getOrElse(s"write.metadata.metrics.column.$path", default)
      StatsHarvester.parseMode(mode) // fail fast on the driver, not mid-write
      id -> mode
    }.toMap
  }

  /** Write `df` as data files for the table, returning DataFiles with
    * stats. Files land under `<location>/data/<commitUuid>/` so a commit's
    * files are exactly one directory listing (no global listing). */
  /** `rebalance`: AQE-size the output files of a CHURN-SHAPED write (DML
    * rewrites, upsert replacements, MV landings, CDC applies). Those
    * frames arrive partitioned by whatever their joins/caches left behind
    * — at sf-scale that is `spark.sql.shuffle.partitions` near-empty
    * slices, i.e. up to one tiny file PER SLICE per commit, and every
    * later scan/retire/changelog pays per-file overhead on all of them.
    * A REBALANCE hint before the write lets AQE coalesce (or split) to
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` — one file for a
    * small churn batch, properly sized files for a large one. The cost is
    * one churn-sized shuffle (never corpus-sized: every caller's input is
    * bounded by the affected rows). Plain appends keep `false`: their
    * input partitioning is the scan's, and an extra full-data shuffle at
    * 100 TB is exactly what guide §2.4 says to remove. Only the
    * unpartitioned branch consults this — the partitioned fan-out already
    * repartitions by partition value. */
  def write(spark: SparkSession, location: String, schema: Schema, spec: PartitionSpec,
      df: DataFrame, commitUuid: String,
      sortOrder: Option[SortOrder] = None,
      props: Map[String, String] = Map.empty,
      rebalance: Boolean = false): Seq[DataFile] = {
    // ns timestamps are READ-ONLY (the reference itself requires an
    // explicit 'downcast-ns-timestamp-to-us-on-write' opt-in and Spark has
    // no ns type to round-trip losslessly) — fail typed before staging
    if (UuidCompat.hasNs(schema))
      throw new UnsupportedOperationException(
        "Cannot write to a table with timestamp_ns/timestamptz_ns columns: " +
          "nanosecond timestamps are read-only in this engine (scans downcast ns to us)")
    val stageDir = Locations.stageDir(location, commitUuid, props)
    val aligned = align(df, schema)

    // the table's sort order applies within each written file — tighter
    // min/max stats and better row-group pruning (the reference leaves
    // files unsorted, io/pyarrow.py:2769; this is our improvement)
    def sortCols: Seq[Column] = sortOrder.filter(_.fields.nonEmpty) match {
      case Some(so) =>
        so.fields.map { f =>
          val field = schema.byId(f.sourceId)
          // sort keys may be transforms (bucket/truncate/day/…) of the
          // source column — evaluate the transform as a Spark Column so
          // codegen orders rows by the TRANSFORMED value (ref sorting.py:136)
          val key = f.transform.column(col(field.name), field.fieldType)
          (f.direction, f.nullOrder) match {
            case ("desc", "nulls-first") => key.desc_nulls_first
            case ("desc", _) => key.desc_nulls_last
            case (_, "nulls-last") => key.asc_nulls_last
            case _ => key.asc_nulls_first
          }
        }
      case None => Nil
    }

    val orderId = sortOrder.filter(_.fields.nonEmpty).map(_.orderId)

    // file-size bound (ref: TableProperties write.target-file-size-bytes,
    // default 512 MB): one partition's rows land in ONE task, so without a
    // per-file record cap a hot partition writes one arbitrarily large
    // file at 100 TB. The cap is row-count based; rows are derived
    // from a schema-width estimate (strings/binary guessed) — approximate
    // by design. `write.spark.max-records-per-file` overrides exactly.
    val targetBytes = props.get("write.target-file-size-bytes").map(_.toLong)
      .getOrElse(512L * 1024 * 1024)
    val maxRecords = props.get("write.spark.max-records-per-file").map(_.toLong)
      .getOrElse {
        val rowBytes = math.max(8, estimatedRowBytes(schema))
        math.max(1000L, targetBytes / rowBytes)
      }

    // `write.format.default` (ref: TableProperties WRITE_FILE_FORMAT
    // :181): data files write as parquet (default, DataFileWriter) or ORC
    // (Spark's native writer, stats harvested from the ORC footers). The
    // reference only WRITES parquet; ORC write is our extension atop its
    // ORC read path (io/pyarrow.py:1119).
    val format = props.getOrElse("write.format.default", "parquet").toLowerCase
    require(format == "parquet" || format == "orc",
      s"Unsupported write.format.default: $format (parquet | orc)")

    val shaped: DataFrame =
      if (spec.isUnpartitioned) {
        // rebalance only pays when the input actually arrives as many
        // near-empty slices (cache/join-shaped churn: shuffle.partitions
        // slices). File-shaped inputs (a handful of scan splits — the
        // CDC-apply/upsert image case) would eat a pure-overhead shuffle:
        // an alternating A/B measured +12–15% process-cpu on ice_cdc_apply
        // and ice_upsert with an unconditional hint. The planned output
        // partitioning is known without running jobs; unknown (0) skips —
        // conservative, same as the old path.
        val manySlices = rebalance && (try {
          aligned.queryExecution.executedPlan.outputPartitioning.numPartitions >=
            math.max(8, spark.sparkContext.defaultParallelism / 2)
        } catch { case _: Throwable => false })
        val input = if (manySlices) aligned.hint("rebalance") else aligned
        if (sortCols.isEmpty) input else input.sortWithinPartitions(sortCols: _*)
      } else {
        // synthetic transform columns, appended after the data columns:
        // they route each row to its `_p_name=value/` directory
        val partCols = spec.fields.map { pf =>
          val src = schema.byId(pf.sourceId)
          pf.transform.column(col(src.name), src.fieldType).as(SyntheticPrefix + pf.name)
        }
        val withParts = aligned.select((aligned.columns.map(col) ++ partCols): _*)
        // co-locate each partition in one task (one file per partition
        // value). The task count is EXPLICIT: with a bare repartition(cols)
        // AQE coalesces the small shuffle into one task and serializes every
        // per-partition writer open/close behind it — measured 22s vs 16s on
        // a 2.5k-partition fan-out. 4 slices per core: per-task cost is
        // dominated by serial writer open/close, so finer slicing evens out
        // partition-count skew between tasks (measured 8.3s → 5.9s on the
        // same fan-out)
        val writeTasks = 4 * math.max(spark.sparkContext.defaultParallelism,
          spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
        // skew escape hatch: `write.fanout.salt-buckets` = k spreads each
        // partition over k tasks (deterministic row-hash salt in the
        // SHUFFLE keys only — the directory layout is unchanged, a salted
        // partition just gets up to k files written in parallel). Without
        // it a hot partition serializes through one task no matter the
        // cluster size.
        val saltBuckets = props.get("write.fanout.salt-buckets").map(_.toInt).getOrElse(1)
        val saltCol = SyntheticPrefix + "salt"
        val salted = if (saltBuckets > 1)
          withParts.withColumn(saltCol,
            pmod(hash(aligned.columns.map(col): _*), lit(saltBuckets)))
        else withParts
        val partKeys = spec.fields.map(pf => col(SyntheticPrefix + pf.name))
        val repartKeys = partKeys ++ (if (saltBuckets > 1) Seq(col(saltCol)) else Nil)
        // rows sorted by (partition, table sort order) within each task:
        // one file open at a time, and files honor the sortOrderId they
        // are stamped with
        salted.repartition(writeTasks, repartKeys: _*).drop(saltCol)
          .sortWithinPartitions((partKeys ++ sortCols): _*)
      }

    val written =
      if (format == "orc") writeOrc(spark, shaped, stageDir, schema, spec, maxRecords, props)
      else {
        // write.uuid.fixed16=true: uuid columns in the spec's physical
        // layout (FLBA(16) + UUID annotation, like the reference's writer —
        // io/pyarrow.py:2145+). The canonical string becomes 16 raw bytes
        // (unhex of the dashless hex form; codegen'd builtins, no UDF)
        // AFTER partition values and sort keys were computed from it.
        val uuidCols =
          if (!props.get("write.uuid.fixed16").contains("true")) Set.empty[String]
          else schema.fields.filter(_.fieldType == IUUID).map(_.name).toSet
        val rows = uuidCols.foldLeft(shaped)((d, n) =>
          d.withColumn(n, unhex(regexp_replace(col(n), "-", ""))))
        // every column optional, as Spark's own parquet writer stores them
        val rowSchema = DataFileWriter.asNullable(StructType(aligned.schema.fields.map(f =>
          if (uuidCols(f.name)) f.copy(dataType = BinaryType) else f)))
        DataFileWriter.write(rows, DataFileWriter.spec(spark, stageDir, rowSchema, schema, spec,
          metricsModes(schema, props), parquetWriterOptions(props), maxRecords, uuidCols))
      }
    written.map(f => orderId.map(id => f.copy(sortOrderId = Some(id))).getOrElse(f))
  }

  /** ORC data files through Spark's native ORC writer, on a CLONED
    * session: concurrent operations on the shared session never observe
    * the write confs (ADVICE r5). Spark's v1 committer keeps a failed
    * attempt's output under `_temporary`, out of [[harvestOrc]]'s listing. */
  private def writeOrc(spark: SparkSession, shaped: DataFrame, stageDir: String,
      schema: Schema, spec: PartitionSpec, maxRecords: Long,
      props: Map[String, String]): Seq[DataFile] = {
    require(!schema.fields.exists(_.fieldType == IUUID),
      "ORC write does not support uuid columns; use parquet")
    // Spark's ORC writer has no TIMESTAMP_INSTANT output, so iceberg
    // `timestamptz` can't be encoded spec-conformantly — refuse typed.
    // Plain `timestamp` (ntz) IS writable: ORC's plain timestamp type,
    // produced by casting to LTZ under the UTC write session (the
    // int64 fallback Spark uses for NTZ is unreadable by foreign
    // clients).
    def hasTz(t: IceType): Boolean = t match {
      case ITimestamptz => true
      case IStruct(fs) => fs.exists(f => hasTz(f.fieldType))
      case IList(_, el, _) => hasTz(el)
      case IMap(_, k, _, v, _) => hasTz(k) || hasTz(v)
      case _ => false
    }
    require(!schema.fields.exists(f => hasTz(f.fieldType)),
      "ORC write does not support timestamptz columns " +
        "(Spark's ORC writer cannot emit TIMESTAMP_INSTANT); use parquet")
    // only TOP-LEVEL ntz columns get the LTZ cast below; a nested ntz
    // would silently take Spark's int64 fallback — refuse it typed
    def nestedNtz(t: IceType): Boolean = t match {
      case IStruct(fs) => fs.exists(f => nestedNtz(f.fieldType) || f.fieldType == ITimestamp)
      case IList(_, el, _) => nestedNtz(el) || el == ITimestamp
      case IMap(_, k, _, v, _) =>
        nestedNtz(k) || nestedNtz(v) || k == ITimestamp || v == ITimestamp
      case _ => false
    }
    require(!schema.fields.exists(f => nestedNtz(f.fieldType)),
      "ORC write does not support NESTED timestamp columns; use parquet")
    val ws = org.apache.spark.sql.GraftBridge.cloneSession(spark)
    ws.conf.set("spark.sql.files.maxRecordsPerFile", maxRecords.toString)
    ws.conf.set("spark.sql.session.timeZone", "UTC")
    // ntz columns cast to LTZ: under the UTC session this emits ORC's
    // plain `timestamp` — the spec's encoding for iceberg ntz — instead
    // of Spark's foreign-unreadable int64 fallback
    val d = schema.fields.filter(_.fieldType == ITimestamp).foldLeft(shaped)((dd, f) =>
      dd.withColumn(f.name, col(f.name).cast(TimestampType)))
    val partBy = spec.fields.map(pf => SyntheticPrefix + pf.name)
    val w = org.apache.spark.sql.GraftBridge.onSession(ws, d).write.mode("overwrite")
    (if (partBy.isEmpty) w else w.partitionBy(partBy: _*))
      .option("compression", props.getOrElse("write.orc.compression-codec", "zstd"))
      .orc(stageDir)
    harvestOrc(spark, stageDir, schema, spec, metricsModes(schema, props))
  }

  /** Footer stats of the ORC files under `stageDir`, as a distributed job
    * via [[OrcStats]] (name-resolved — Spark's ORC writer emits no
    * iceberg.id attributes), partition tuples parsed from the fan-out
    * directory layout. */
  def harvestOrc(spark: SparkSession, stageDir: String, schema: Schema,
      spec: PartitionSpec, modes: Map[Int, String] = Map.empty): Seq[DataFile] = {
    val files = listBySuffix(stageDir, ".orc")
    if (files.isEmpty) return Nil
    val colInfo: Seq[(String, Int, String)] = schema.leafColInfo
    val stage = stageDir
    val partFieldNames = spec.fields.map(pf => SyntheticPrefix + pf.name)
    val partTypes = spec.partitionType(schema).map(_.fieldType.repr)
    val confEntries = graft.meta.Io.confEntries(spark)
    val slices = math.max(1,
      math.min(files.size, 4 * spark.sparkContext.defaultParallelism))
    spark.sparkContext.parallelize(files, slices).mapPartitions { paths =>
      lazy val conf = graft.meta.Io.confFrom(confEntries)
      paths.map { p =>
        OrcStats.fileToDataFile(p, colInfo, conf, modes).copy(
          partition = StatsHarvester.parsePartition(p, stage, partFieldNames, partTypes))
      }
    }.collect().toSeq
  }

  /** Recursively list files ending in `suffix` under `dir`.
    *
    * Local paths go through java.nio: Hadoop's RawLocalFileSystem builds
    * each FileStatus by FORKING `ls` to load permissions (~30ms/file), so
    * a recursive listing over thousands of partition directories takes
    * minutes. Remote schemes (s3/hdfs) keep the Hadoop listing, whose
    * native LIST calls are fine at scale. */
  def listBySuffix(dir: String, suffix: String): Seq[String] = {
    // locality from the RESOLVED filesystem, not string sniffing: a
    // scheme-less path resolves against fs.defaultFS, which on a cluster
    // is hdfs/s3 — walking the driver's local disk there would silently
    // commit zero files
    // getUri.getScheme, not getScheme: RawLocalFileSystem (which our
    // benchmark sessions install for file://) doesn't implement getScheme
    val fs = new Path(dir).getFileSystem(graft.meta.Io.confFor(dir))
    if (fs.getUri.getScheme == "file") {
      val root = java.nio.file.Paths.get(PathUtil.canon(dir))
      if (!java.nio.file.Files.isDirectory(root)) return Nil
      val s = java.nio.file.Files.walk(root)
      try {
        val b = Seq.newBuilder[String]
        s.forEach(p => if (p.toString.endsWith(suffix)) b += p.toString)
        b.result()
      } finally s.close()
    } else {
      val it = fs.listFiles(new Path(dir), true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(suffix)) b += PathUtil.canon(f.getPath.toString)
      }
      b.result()
    }
  }

}

/** Executor-side footer reading (kept free of Spark session state). */
object StatsHarvester extends Serializable {

  /** Shared read options backed by an EMPTY parquet configuration:
    * `ParquetFileReader.open(input)` builds a fresh Hadoop Configuration
    * per call (XML resource parse, ~6ms), which dominated footer harvest
    * over thousands of small files. Footer decoding needs none of it. */
  private lazy val plainReadOptions: org.apache.parquet.ParquetReadOptions =
    org.apache.parquet.ParquetReadOptions.builder(
      new org.apache.parquet.conf.PlainParquetConfiguration()).build()

  /** Default metrics mode: truncate(16) like the reference
    * (ref: io/pyarrow.py:2305 metrics modes; utils/truncate.py:19). */
  val BoundTruncateLength = 16

  /** Truncate a LOWER bound: plain prefix — always ≤ the true minimum. */
  def truncateLower(s: String, len: Int = BoundTruncateLength): String =
    if (s.codePointCount(0, s.length) <= len) s
    else s.substring(0, s.offsetByCodePoints(0, len))

  /** Truncate an UPPER bound: prefix with the last code point incremented,
    * so the result stays ≥ the true maximum (ref: utils/truncate.py:19
    * truncate_upper_bound_text_string). Returns None when no code point
    * can be incremented (all at max) — bound is then dropped. */
  def truncateUpper(s: String, len: Int = BoundTruncateLength): Option[String] = {
    if (s.codePointCount(0, s.length) <= len) return Some(s)
    val prefix = s.substring(0, s.offsetByCodePoints(0, len))
    val cps = prefix.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0) {
      if (cps(i) != Character.MAX_CODE_POINT) {
        cps(i) += 1
        return Some(new String(cps, 0, i + 1))
      }
      i -= 1
    }
    None
  }

  private[graft] def parseType(repr: String): IceType = repr match {
    case "boolean" => IBoolean
    case "int" => IInt
    case "long" => ILong
    case "float" => IFloat
    case "double" => IDouble
    case "date" => IDate
    case "time" => ITime
    case "timestamp" => ITimestamp
    case "timestamptz" => ITimestamptz
    case "string" => IString
    case "uuid" => IUUID
    case "binary" => IBinary
    case other =>
      val dec = """decimal\((\d+), (\d+)\)""".r
      val fix = """fixed\[(\d+)\]""".r
      other match {
        case dec(p, s) => IDecimal(p.toInt, s.toInt)
        case fix(l) => IFixed(l.toInt)
        // v3 tail types: CRS/algorithm are irrelevant to stat decoding —
        // decodeStat has no geometry case, so bounds are (correctly)
        // skipped: spec geometry bounds are bounding boxes, not byte
        // min/max, and a wrong IString fallback would store STRING bounds
        // the manifest writer then cannot serialize for the real type
        case "unknown" => IUnknown
        case g if g.startsWith("geometry") => IGeometry()
        case g if g.startsWith("geography") => IGeography()
        case _ => IString
      }
  }

  /** Parsed metrics mode: what to keep per column. */
  private[table] final case class ModeSpec(counts: Boolean, bounds: Boolean,
      trunc: Option[Int])

  private val TruncRe = """truncate\((\d+)\)""".r

  /** Unrecognized modes and truncate lengths < 1 are ERRORS, matching the
    * reference's match_metrics_mode (io/pyarrow.py:2336) — a typo must not
    * silently fall back to default stats behavior. */
  private[table] def parseMode(s: String): ModeSpec = s.trim.toLowerCase match {
    case "none" => ModeSpec(counts = false, bounds = false, None)
    case "counts" => ModeSpec(counts = true, bounds = false, None)
    case "full" => ModeSpec(counts = true, bounds = true, None)
    case other => other match {
      case TruncRe(n) if n.toInt >= 1 => ModeSpec(counts = true, bounds = true, Some(n.toInt))
      case TruncRe(n) => throw new IllegalArgumentException(
        s"Truncation length must be >= 1: truncate($n)")
      case _ => throw new IllegalArgumentException(s"Unsupported metrics mode: $s")
    }
  }

  /** DataFile of a parquet file on storage: its footer read back, the
    * partition tuple parsed from its path under `stageDir` (add_files
    * passes no partition fields and infers the tuple from the bounds). */
  def fileToDataFile(path: String, stageDir: String, colInfo: Seq[(String, Int, String)],
      partFieldNames: Seq[String], partTypes: Seq[String],
      conf: Configuration = new Configuration(),
      modes: Map[Int, String] = Map.empty): DataFile = {
    // local files bypass the Hadoop FS layer entirely (pure NIO input);
    // remote URIs keep HadoopInputFile
    val isLocal = !path.contains(":") || path.startsWith("file:")
    val (size, input) = if (isLocal) {
      val np = java.nio.file.Paths.get(PathUtil.canon(path))
      (java.nio.file.Files.size(np),
        new org.apache.parquet.io.LocalInputFile(np): org.apache.parquet.io.InputFile)
    } else {
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      (fs.getFileStatus(p).getLen,
        HadoopInputFile.fromPath(p, conf): org.apache.parquet.io.InputFile)
    }
    val reader = ParquetFileReader.open(input, plainReadOptions)
    try footerToDataFile(path, size, reader.getFooter,
      parsePartition(path, stageDir, partFieldNames, partTypes), colInfo, modes)
    finally reader.close()
  }

  /** DataFile of the parquet file at `path` from its footer: record
    * count, split offsets and per-leaf counts, sizes and bounds under
    * each column's metrics mode (ref: io/pyarrow.py:2526
    * data_file_statistics_from_parquet_metadata). */
  def footerToDataFile(path: String, size: Long, footer: ParquetMetadata,
      partition: Seq[Any], colInfo: Seq[(String, Int, String)],
      modes: Map[Int, String]): DataFile = {
    val blocks = footer.getBlocks
    var rows = 0L
    val valueCounts = scala.collection.mutable.Map[Int, Long]()
    val nullCounts = scala.collection.mutable.Map[Int, Long]()
    val colSizes = scala.collection.mutable.Map[Int, Long]()
    val lowers = scala.collection.mutable.Map[Int, Any]()
    val uppers = scala.collection.mutable.Map[Int, Any]()
    val byName = colInfo.map(c => c._1 -> c).toMap
    val modeById: Map[Int, ModeSpec] = colInfo.map { case (_, id, _) =>
      id -> modes.get(id).map(parseMode)
        .getOrElse(ModeSpec(counts = true, bounds = true, Some(BoundTruncateLength)))
    }.toMap
    val it = blocks.iterator()
    while (it.hasNext) {
      val block = it.next()
      rows += block.getRowCount
      val cit = block.getColumns.iterator()
      while (cit.hasNext) {
        val cc = cit.next()
        // full dotted path: nested leaves match their own field id
        val pathName = cc.getPath.toArray.mkString(".")
        byName.get(pathName).foreach { case (_, id, trepr) =>
          val t = parseType(trepr)
          val mode = modeById(id)
          colSizes(id) = colSizes.getOrElse(id, 0L) + cc.getTotalSize
          if (mode.counts) {
            valueCounts(id) = valueCounts.getOrElse(id, 0L) + cc.getValueCount
          }
          val st = cc.getStatistics
          if (mode.counts && st != null && !st.isEmpty) {
            nullCounts(id) = nullCounts.getOrElse(id, 0L) + st.getNumNulls
            if (mode.bounds && st.hasNonNullValue) {
              val mn = decodeStat(st.genericGetMin, cc.getPrimitiveType.getPrimitiveTypeName, t)
              val mx = decodeStat(st.genericGetMax, cc.getPrimitiveType.getPrimitiveTypeName, t)
              (mn, mx) match {
                case (Some(a), Some(b)) =>
                  lowers(id) = lowers.get(id).map(cur =>
                    if (Literals.compare(t, a, cur) < 0) a else cur).getOrElse(a)
                  uppers(id) = uppers.get(id).map(cur =>
                    if (Literals.compare(t, b, cur) > 0) b else cur).getOrElse(b)
                case _ =>
              }
            }
          }
        }
      }
    }
    // bound truncation for strings (metrics mode truncate(N), default 16):
    // keeps manifests small at scale while staying valid for pruning;
    // `full` mode keeps whole bounds. uuid is exempt: bounds serialize as
    // 16-byte vectors (Conversions.toBytes needs the whole canonical
    // string) and there is nothing to save by truncating
    colInfo.foreach { case (_, id, trepr) =>
      val trunc = modeById(id).trunc
      if (trepr == "string" && trunc.isDefined) {
        val n = trunc.get
        lowers.get(id).foreach(v => lowers(id) = truncateLower(v.toString, n))
        uppers.get(id).foreach { v =>
          truncateUpper(v.toString, n) match {
            case Some(u) => uppers(id) = u
            case None => uppers.remove(id)
          }
        }
      }
    }
    // row-group start offsets (spec: split_offsets, ascending) — what
    // lets the scan split a large file into sub-file read tasks
    val splitOffsets = {
      val b = Seq.newBuilder[Long]
      val bit = blocks.iterator()
      while (bit.hasNext) b += bit.next().getStartingPos
      b.result()
    }
    DataFile(
      content = FileContent.Data,
      filePath = PathUtil.canon(path),
      fileFormat = "PARQUET",
      partition = partition,
      recordCount = rows,
      fileSizeInBytes = size,
      valueCounts = valueCounts.toMap,
      nullValueCounts = nullCounts.toMap,
      lowerBounds = lowers.toMap,
      upperBounds = uppers.toMap,
      columnSizes = colSizes.toMap,
      splitOffsets = splitOffsets)
  }

  /** Decode a parquet footer min/max into the Iceberg internal value. */
  private def decodeStat(v: Any, prim: PrimitiveTypeName, t: IceType): Option[Any] =
    (v, t) match {
      case (null, _) => None
      case (i: Integer, IInt | IDate) => Some(i.intValue())
      case (i: Integer, ILong) => Some(i.longValue())
      case (l: java.lang.Long, ILong | ITimestamp | ITimestamptz | ITime) => Some(l.longValue())
      case (l: java.lang.Long, IInt) => Some(l.intValue())
      case (f: java.lang.Float, IFloat) => Some(f.floatValue())
      case (d: java.lang.Double, IDouble) => Some(d.doubleValue())
      case (b: java.lang.Boolean, IBoolean) => Some(b.booleanValue())
      case (bin: Binary, IString) => Some(bin.toStringUsingUTF8)
      case (bin: Binary, IUUID) =>
        // fixed[16] (other engines) decodes as a uuid vector; our own files
        // store canonical strings
        val b = bin.getBytes
        Some(if (b.length == 16) Conversions.fromBytes(IUUID, b) else bin.toStringUsingUTF8)
      case (bin: Binary, IBinary | IFixed(_)) => Some(bin.getBytes)
      case (bin: Binary, IDecimal(_, s)) =>
        Some(new java.math.BigDecimal(new java.math.BigInteger(bin.getBytes), s))
      case (i: Integer, IDecimal(_, s)) =>
        Some(java.math.BigDecimal.valueOf(i.longValue(), s))
      case (l: java.lang.Long, IDecimal(_, s)) =>
        Some(java.math.BigDecimal.valueOf(l.longValue(), s))
      case _ => None
    }

  /** `.../_p_a=v1/_p_b=v2/file.parquet` → partition tuple in internal repr. */
  def parsePartition(path: String, stageDir: String, partFieldNames: Seq[String],
      partTypes: Seq[String]): Seq[Any] = {
    if (partFieldNames.isEmpty) return Nil
    val rel = path.stripPrefix("file:").stripPrefix(stageDir.stripPrefix("file:")).stripPrefix("/")
    // %XX-only decode — java.net.URLDecoder would ALSO turn a literal '+'
    // into a space (it implements form encoding, not path escaping), and
    // Spark's escapePathName (ORC directories) leaves '+' literal
    def isHex(c: Char) = (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') ||
      (c >= 'A' && c <= 'F')
    def unescape(s: String): String = {
      if (!s.contains('%')) return s
      val out = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '%' && i + 2 < s.length &&
            isHex(s.charAt(i + 1)) && isHex(s.charAt(i + 2))) {
          // consecutive %XX runs decode as ONE UTF-8 byte sequence so
          // multi-byte characters reassemble correctly
          val buf = new java.io.ByteArrayOutputStream
          while (i + 2 < s.length && s.charAt(i) == '%' &&
              isHex(s.charAt(i + 1)) && isHex(s.charAt(i + 2))) {
            buf.write(Integer.parseInt(s.substring(i + 1, i + 3), 16)); i += 3
          }
          out ++= new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
        } else { out += s.charAt(i); i += 1 }
      }
      out.toString
    }
    val kvs: Map[String, String] = rel.split("/").iterator
      .filter(_.contains("=")).map { seg =>
        val i = seg.indexOf('=')
        unescape(seg.substring(0, i)) -> unescape(seg.substring(i + 1))
      }.toMap
    partFieldNames.zip(partTypes).map { case (n, trepr) =>
      kvs.get(n) match {
        case Some(s) => Conversions.fromPartitionString(parseType(trepr), s)
        case None => null
      }
    }
  }
}
