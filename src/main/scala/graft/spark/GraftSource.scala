package graft.spark

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table => SparkTable, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.{HadoopCatalog, RestCatalog, SqlCatalog}
import graft.core._
import graft.meta.MetadataJson
import graft.table.IceTable

/** DataSourceV2 connector (SURVEY §7 step 10 / §4 DSv2 artifacts):
  *
  * ```
  * spark.read.format("graft")
  *   .option("warehouse", "/wh").option("table", "events")
  *   .option("snapshot-id", "123")          // or as-of-timestamp / branch / tag
  *   .option("catalog", "jdbc:derby:...")   // route through SqlCatalog
  *   .option("catalog", "http://host:port")  // route through RestCatalog
  *   .load()
  * ```
  *
  * Filters pushed by Catalyst are translated back into engine predicates,
  * so MANIFEST/partition/stats pruning re-runs per SQL query (unlike the
  * temp-view face, whose file list is fixed at registration). Column
  * pruning flows into the reader's parquet projection by FIELD-ID (rename
  * safe). Spark additionally re-applies every filter on the returned rows,
  * so partially-translatable predicates stay correct.
  *
  * Deletes — parquet position-delete files, v3 deletion vectors, AND
  * equality deletes — are resolved and applied in the reader
  * (executor-side: sorted row-index skip for positions, hash-set key probe
  * for equality); pushed limits stop each partition early.
  *
  * Time travel resolves exactly like the library scan (Scan.scala:42-53;
  * ref table/__init__.py:2015 TableScan.snapshot, :2040 use_ref):
  * `snapshot-id` pins an id, `as-of-timestamp` (epoch millis) resolves the
  * latest snapshot at or before the instant, `branch`/`tag` resolve a
  * named ref. A pinned scan reads with the SNAPSHOT's schema (rename/drop
  * evolution shows the schema as of that snapshot). A `catalog` option
  * holding a JDBC URL routes table resolution through [[SqlCatalog]] (the
  * reference's default shared catalog) instead of [[HadoopCatalog]].
  */
class GraftSource extends TableProvider with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft"

  private[spark] def load(options: CaseInsensitiveStringMap): (IceTable, Option[Long]) = {
    val wh = options.get("warehouse")
    val name = options.get("table")
    require(name != null, "option 'table' is required")
    // the session is only used driver-side for planning
    val spark = org.apache.spark.sql.SparkSession.active
    val table = Option(options.get("catalog")) match {
      case Some(http) if http.startsWith("http://") || http.startsWith("https://") =>
        // REST service: warehouse comes from its config handshake; the
        // token/credential options flow through like the plugin's
        new RestCatalog(http, spark,
          Seq("warehouse", "token", "credential", "scan-planning-mode")
            .flatMap(k => Option(options.get(k)).map(k -> _)).toMap)
          .loadTable(name)
      case Some(jdbc) =>
        require(wh != null, "option 'warehouse' is required")
        new SqlCatalog(jdbc, wh, spark).loadTable(name)
      case None =>
        require(wh != null, "option 'warehouse' is required")
        new HadoopCatalog(wh, spark).loadTable(name)
    }
    (table, resolveSnapshot(table, options))
  }

  /** At most one of snapshot-id / as-of-timestamp / branch / tag. */
  private def resolveSnapshot(table: IceTable,
      options: CaseInsensitiveStringMap): Option[Long] = {
    val picks = Seq(
      Option(options.get("snapshot-id")).map(_.toLong),
      Option(options.get("as-of-timestamp")).map { ms =>
        table.metadata.snapshotAsOf(ms.toLong).getOrElse(throw new IllegalArgumentException(
          s"No snapshot as of $ms")).snapshotId
      },
      (Option(options.get("branch")) orElse Option(options.get("tag"))).map { ref =>
        table.metadata.snapshotByName(ref).getOrElse(throw new IllegalArgumentException(
          s"No ref $ref")).snapshotId
      }).flatten
    require(picks.size <= 1,
      "at most one of snapshot-id / as-of-timestamp / branch / tag may be set")
    picks.headOption
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (table, snapshotId) = load(options)
    GraftSparkTable.schemaOf(table, snapshotId).toSpark
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): SparkTable = {
    val options = new CaseInsensitiveStringMap(properties)
    val (table, snapshotId) = load(options)
    // row-identity CDC as a batch read: `cdc-range-from` (exclusive
    // snapshot id; 0/absent = table start → everything as inserts) /
    // `cdc-range-to` (inclusive; defaults to current) — the batch
    // options face of TableChanges.lineageDiff (file-pruned, v3 only)
    val cdcFrom = Option(options.get("cdc-range-from")).map(_.toLong)
    val cdcTo = Option(options.get("cdc-range-to")).map(_.toLong)
    if (cdcFrom.nonEmpty || cdcTo.nonEmpty) {
      require(snapshotId.isEmpty,
        "cdc-range options and time-travel options are mutually exclusive")
      val to = cdcTo.orElse(table.metadata.currentSnapshotId).getOrElse(
        throw new IllegalArgumentException("cdc-range on an empty table"))
      return new GraftMetadataTable(s"${table.name}.cdc",
        graft.streaming.TableChanges.lineageDiff(table, cdcFrom, to))
    }
    changesRange(table, options) match {
      case Some((from, to)) =>
        require(snapshotId.isEmpty,
          "change-range options and time-travel options are mutually exclusive")
        new GraftMetadataTable(s"${table.name}.changes",
          if (from == to) table.spark.createDataFrame(
            table.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            table.schema.toSpark)
          else table.incrementalAppendScan(from, to))
      case None => new GraftSparkTable(table, snapshotId)
    }
  }

  /** Change-feed read: `change-range-from` (exclusive snapshot id;
    * defaults to the table's FIRST ancestor when only `-to` is set) /
    * `change-range-to` (inclusive; defaults to current) — the options
    * face of IncrementalAppendScan (ref table/__init__.py:2372), matching
    * the streaming source's offset semantics. */
  private def changesRange(table: IceTable,
      options: CaseInsensitiveStringMap): Option[(Long, Long)] = {
    val from = Option(options.get("change-range-from")).map(_.toLong)
    val to = Option(options.get("change-range-to")).map(_.toLong)
    if (from.isEmpty && to.isEmpty) return None
    val cur = to.orElse(table.metadata.currentSnapshotId).getOrElse(
      throw new IllegalArgumentException("change-range on an empty table"))
    // default start = 0 = TABLE START (from is EXCLUSIVE): the first
    // ancestor's id would silently drop the first snapshot's rows —
    // matching the streaming source's initial-offset semantics and the
    // `t.changes` face
    val start = from.getOrElse(0L)
    Some((start, cur))
  }

  override def supportsExternalMetadata(): Boolean = false
}

object GraftSparkTable {
  /** Schema as of the pinned snapshot; current schema when unpinned (so
    * schema evolution is visible without a new data commit) — mirrors
    * IceScan.scanSchema. */
  def schemaOf(table: IceTable, snapshotId: Option[Long]): Schema =
    snapshotId.flatMap(id => table.metadata.snapshotById(id)
        .map(s => table.metadata.schemaById(s.schemaId)))
      .getOrElse(table.schema)

  /** Metadata columns: canon path of the file each row came from, and
    * the row's position in that file — the row-lineage handles the SQL
    * row-level operations group by (_file) and the merge-on-read delta
    * operations identify rows by (_file, _pos). */
  val FileColumn = "_file"
  val PosColumn = "_pos"
  /** v3 row lineage metadata columns (spec §Row Lineage): advertised only
    * on format-version ≥ 3 tables; served inherited (first_row_id +
    * position) or from the MATERIALIZED reserved columns of rewritten
    * files, whichever is non-null — `IceScan.toDFWithLineage` reads the
    * same columns of the same reader. */
  val RowIdColumn: String = graft.core.RowLineage.RowIdName
  val LastUpdatedColumn: String = graft.core.RowLineage.LastUpdatedName

  def metadataColumnsOf(table: IceTable)
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftSparkTable.FileColumn
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.StringType
        override def isNullable: Boolean = false
        override def comment(): String = "Path of the file the row belongs to"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftSparkTable.PosColumn
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
        override def comment(): String = "Row position in the file"
      }) ++ (if (table.metadata.formatVersion < 3) Nil else Seq(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftSparkTable.RowIdColumn
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "v3 row lineage: unique id assigned when the row was first added"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = GraftSparkTable.LastUpdatedColumn
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
        override def comment(): String =
          "v3 row lineage: sequence number of the commit that last updated the row"
      }))
}

/** Read-only face of one [[PlannedRead]]: the table-API scans
  * (`IceScan.toDF*`) and the library's internal reads of planned tasks
  * run as a DSv2 relation over it, so [[GraftScan]] is the only code that
  * turns planned tasks into rows. Spark's V2ScanRelationPushDown prunes
  * its columns and pushes filters and limits into the scan as for any
  * catalog table; metadata columns are [[GraftSparkTable]]'s. It is a
  * FileTable only so that `Dataset.inputFiles` names the planned data
  * files — Spark asks a DSv2 table for them through FileTable's index;
  * the index is built from the planned paths and sizes, nothing is
  * listed. */
class GraftPlannedTable(table: IceTable, read: PlannedRead)
    extends org.apache.spark.sql.execution.datasources.v2.FileTable(table.spark,
      CaseInsensitiveStringMap.empty(), Nil, Some(read.schema.toSpark))
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = table.name
  override lazy val schema: StructType = read.schema.toSpark
  override lazy val fileIndex: org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex =
    new PlannedFileIndex(table.spark, read.tasks.map(_.file))
  override def partitioning(): Array[Transform] = Array.empty
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(table, None, options, planned = Some(read))
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    throw new UnsupportedOperationException(s"${table.name}: a planned read is read-only")
  override def inferSchema(files: Seq[org.apache.hadoop.fs.FileStatus]): Option[StructType] =
    Some(schema)
  override def formatName: String = "graft"
  override def fallbackFileFormat
      : Class[_ <: org.apache.spark.sql.execution.datasources.FileFormat] =
    classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat]
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    GraftSparkTable.metadataColumnsOf(table)
}

/** The planned data files as a file index: statuses come from the
  * manifests (path, size), so building it touches no file system. */
private[spark] final class PlannedFileIndex(spark: org.apache.spark.sql.SparkSession,
    files: Seq[graft.meta.DataFile])
    extends org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex(
      spark, Map.empty, None) {
  private lazy val statuses: Seq[(Path, org.apache.hadoop.fs.FileStatus)] = files.map { f =>
    val p = new Path(f.filePath)
    val q = p.getFileSystem(hadoopConf).makeQualified(p)
    q -> new org.apache.hadoop.fs.FileStatus(f.fileSizeInBytes, false, 1, 0L, 0L, q)
  }
  override lazy val leafFiles
      : scala.collection.mutable.LinkedHashMap[Path, org.apache.hadoop.fs.FileStatus] =
    scala.collection.mutable.LinkedHashMap(statuses: _*)
  override def leafDirToChildrenFiles: Map[Path, Array[org.apache.hadoop.fs.FileStatus]] =
    Map.empty
  override def partitionSpec(): org.apache.spark.sql.execution.datasources.PartitionSpec =
    org.apache.spark.sql.execution.datasources.PartitionSpec.emptySpec
  override def rootPaths: Seq[Path] = statuses.map(_._1)
  override def refresh(): Unit = ()
}

/** `branch` routes every write (INSERT/overwrite/DELETE) to that branch's
  * ref — the SQL face of write-audit-publish (`cat.db.t.branch_audit`,
  * the branch_/tag_ table-name suffixes of the Iceberg Spark runtime);
  * reads are pinned at the branch head via `snapshotId`. */
class GraftSparkTable(table: IceTable, snapshotId: Option[Long] = None,
    branch: Option[String] = None)
    extends SparkTable with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String = table.name
  /** Branch tables report the table's CURRENT schema (Iceberg semantics:
    * one schema across refs; id-based projection maps it onto the branch
    * head's files) — only a pure time-travel pin reports the snapshot's
    * own schema. */
  private val schemaPin: Option[Long] = if (branch.isDefined) None else snapshotId
  override def schema(): StructType = GraftSparkTable.schemaOf(table, schemaPin).toSpark
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(table, snapshotId, options, schemaAtOrNull = schemaPin)

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(snapshotId.isEmpty || branch.isDefined,
      "Cannot write to a time-travel (pinned-snapshot) table")
    new GraftWriteBuilder(table, info, branch.orElse(Some("main")))
  }

  /** `DELETE FROM … WHERE` — only when the whole predicate translates
    * EXACTLY (a weakened predicate would delete extra rows); Spark falls
    * back to an error otherwise (no row-level-operation rewrite here). */
  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    (snapshotId.isEmpty || branch.isDefined) &&
      filters.forall(f => GraftFilters.toExprExact(f).isDefined)

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    val expr = filters.flatMap(GraftFilters.toExprExact)
      .foldLeft(AlwaysTrue: Expr)(And(_, _))
    table.refresh()
    // honor the table's delete mode even for fully-pushable predicates:
    // merge-on-read writes position deletes for partially-matched files
    // (whole-file matches drop metadata-only in both modes); CoW — the
    // default — rewrites partially-matched files instead. Branch targets
    // always take the CoW path: MoR delete files would apply by sequence
    // number to the whole table, not one branch lineage.
    val mor = branch.isEmpty &&
      table.metadata.properties.get("write.delete.mode").contains("merge-on-read") &&
      table.metadata.formatVersion >= 2
    val norm = GraftFilters.normalizeLiterals(expr)
    if (mor && table.metadata.formatVersion >= 3)
      // v3 forbids new position-delete files: MoR deletes are DVs
      table.deleteAsDeletionVector(norm)
    else if (mor) table.deletePositional(norm)
    else table.delete(norm, branch.orElse(Some("main")))
  }

  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    GraftSparkTable.metadataColumnsOf(table)

  /** SQL `UPDATE` / `MERGE INTO` / rewritten `DELETE` (ref upsert,
    * table/__init__.py:800). The mode follows the Iceberg table
    * properties `write.update.mode` / `write.delete.mode` /
    * `write.merge.mode`:
    *  - `copy-on-write` (default): Spark rewrites the command into a
    *    ReplaceData over the operation's scan; the write swaps scanned
    *    files for rewritten ones.
    *  - `merge-on-read` (v2 tables): a DELTA operation — matched rows
    *    become POSITION DELETES written per task, inserts become data
    *    files, ONE snapshot commits both. An UPDATE of 0.1% of rows
    *    writes kilobytes of deletes instead of rewriting gigabytes of
    *    data files. (v3 tables fall back to copy-on-write: new position
    *    deletes are forbidden there and SQL-facing DV merge is not
    *    wired; the library face has deleteAsDeletionVector.) */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(snapshotId.isEmpty || branch.isDefined,
      "Cannot modify a time-travel (pinned-snapshot) table")
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    val prop = info.command match {
      case Command.DELETE => "write.delete.mode"
      case Command.UPDATE => "write.update.mode"
      case _ => "write.merge.mode"
    }
    // branch targets take CoW regardless of mode: MoR delete files apply
    // by sequence number table-wide, not per branch lineage. On v3 the
    // delta path writes DELETION VECTORS (the spec forbids new
    // position-delete files there); on v2 it writes position-delete
    // parquet.
    val mor = branch.isEmpty &&
      table.metadata.properties.get(prop).contains("merge-on-read") &&
      table.metadata.formatVersion >= 2
    () =>
      if (mor) new GraftDeltaOperation(table, info.command)
      else new GraftRowLevelOperation(table, info.command, branch.orElse(Some("main")))
  }
}

/** Copy-on-write row-level operation: the scan selects affected GROUPS
  * (files) via manifest pruning on the command's condition — returning
  * ALL rows of selected files, per the group-based contract — narrowed
  * further at runtime by the `_file IN (matched)` group filter; the write
  * stages the replacement rows executor-side and commits ONE overwrite
  * snapshot that drops the scanned files and adds the staged ones
  * (delta/merge-on-read SQL writes are a possible future extension —
  * SupportsDelta — the library face already writes MoR deletes). */
class GraftRowLevelOperation(table: IceTable,
    private[spark] val cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    branch: Option[String] = Some("main"))
    extends org.apache.spark.sql.connector.write.RowLevelOperation {
  import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}

  /** Set when Spark builds the operation's scan; read by the write's
    * commit to learn the copy-on-write replacement group. */
  @volatile private[spark] var configuredScan: GraftScan = _

  /** Data columns the command's SET clause assigns, stamped by
    * [[AssignedColumnsRule]] during optimization of the ReplaceData plan
    * (UPDATE only); `None` → the lineage diff compares every column. */
  @volatile private[spark] var assignedDataColumns: Option[Seq[String]] = None

  /** True when [[AssignedColumnsRule]] rewrote the plan to stamp
    * `_last_updated_sequence_number = null` for content-changed rows at
    * WRITE time — the commit then skips the read-back diff entirely and
    * the staged files qualify for direct commit. */
  @volatile private[spark] var lineageStampedInPlan: Boolean = false

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // the operation's groups come from the TARGET BRANCH's head state
    val pin = branch.filter(_ != "main")
      .flatMap(b => table.metadata.refs.get(b).map(_.snapshotId))
    new GraftScanBuilder(table, pin, options, onScanBuilt = configuredScan = _,
      schemaAtOrNull = None, wholeFiles = true)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new GraftReplaceDataWrite(table, GraftRowLevelOperation.this, info.schema(), branch)
    }

  /** `_file` feeds the runtime group filter; on v3 tables the row-lineage
    * columns ride along too, so the ReplaceData write can MATERIALIZE
    * them into the rewritten files (spec §Row Lineage: a row moved to a
    * different data file keeps its row_id) — without this, every SQL
    * UPDATE/DELETE/MERGE renumbered all rows of the touched groups. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val base = Seq(GraftSparkTable.FileColumn)
    val cols = if (table.metadata.formatVersion >= 3)
      base ++ graft.core.RowLineage.fields.map(_.name) else base
    cols.map(org.apache.spark.sql.connector.expressions.Expressions.column).toArray
  }

  override def description(): String = s"GraftRowLevelOperation[$cmd, copy-on-write]"
}

/** The ReplaceData write of a row-level operation: staged parquet files
  * per task (same writers as the dynamic-overwrite path), then ONE
  * commit that atomically drops every file the operation's scan planned
  * (post runtime group filtering) and adds the staged replacements
  * through the library's fan-out write — with the command's condition as
  * the commit's conflict filter, so a concurrent writer into the same
  * key range forces a retry-time re-validation. */
/** Serializable recipe for routing a written row to its partition
  * directory executor-side: for each partition field, the SOURCE column's
  * position in the staged row, its iceberg type, the transform, and the
  * transform's result type — enough to compute `_p_name=value/` exactly
  * as [[graft.table.WriteFiles]]'s fan-out layout does, so the writer
  * parses the partition tuple back from the path. */
private[spark] final case class PartitionRouterSpec(
    fields: Seq[(String, Int, String, String, String)]) extends Serializable {

  /** (pos, srcType, transform) per field — parsed once per
    * (de)serialized instance, not per row. */
  @transient private lazy val compiled: Array[(Int, IceType, graft.core.Transform)] =
    fields.map { case (_, pos, srcRepr, transformStr, _) =>
      (pos, graft.table.StatsHarvester.parseType(srcRepr),
        graft.core.Transform.parse(transformStr))
    }.toArray
  @transient private lazy val names = fields.map(_._1)
  @transient private lazy val resTypes =
    fields.map(f => graft.table.StatsHarvester.parseType(f._5))

  /** Directory suffix (no leading slash) for the row, e.g.
    * `_p_day=2021-03-01/_p_bucket=7`. */
  def dirOf(row: InternalRow): String = {
    val values = compiled.map { case (pos, srcType, transform) =>
      val src: Any =
        if (row.isNullAt(pos)) null
        else srcType match {
          case IInt | IDate => row.getInt(pos)
          case ILong | ITimestamp | ITimestamptz | ITime => row.getLong(pos)
          case IString => row.getUTF8String(pos).toString
          case IBoolean => row.getBoolean(pos)
          case IFloat => row.getFloat(pos)
          case IDouble => row.getDouble(pos)
          case IDecimal(p, s) => row.getDecimal(pos, p, s).toJavaBigDecimal
          case other => throw new IllegalArgumentException(
            s"Unroutable partition source type $other")
        }
      transform.apply(src, srcType)
    }
    graft.table.DataFileWriter.partitionDir(names, values.toSeq, resTypes)
  }
}

/** Shared machinery for committing staged per-task parquet AS final data
  * files (skipping the read-back + second write the rewrite paths pay). */
private[spark] object StagedDirect {

  /** Router recipe for the table's partition spec over a staged row
    * whose DATA columns follow `rowSchema` order; None when any field is
    * nested, non-routable, or name-mismatched (caller falls back to the
    * rewrite path). */
  def routerSpec(table: IceTable, rowSchema: StructType): Option[PartitionRouterSpec] = {
    val spec = table.spec
    if (spec.fields.isEmpty) return None
    val posByName = rowSchema.fieldNames.zipWithIndex.toMap
    val fields = spec.fields.map { pf =>
      val src = table.schema.byId.getOrElse(pf.sourceId, return None)
      val pos = posByName.getOrElse(src.name, return None)
      val routable = src.fieldType match {
        case IInt | ILong | IDate | ITime | ITimestamp | ITimestamptz |
             IString | IBoolean | IFloat | IDouble | IDecimal(_, _) => true
        case _ => false
      }
      if (!routable) return None
      pf.transform match {
        case UnknownTransform(_) => return None
        case _ => ()
      }
      // dir component names carry the synthetic prefix, matching the
      // fan-out write layout that parsePartition reads back
      (graft.table.WriteFiles.SyntheticPrefix + pf.name, pos,
        src.fieldType.repr, pf.transform.name,
        pf.transform.resultType(src.fieldType).repr)
    }
    Some(PartitionRouterSpec(fields))
  }

  /** A single iceberg transform over a named column as a V2 expression
    * (same mapping the SPJ read side uses); None for void/unknown. */
  private def v2ExprFor(t: graft.core.Transform, name: String)
      : Option[org.apache.spark.sql.connector.expressions.Expression] = {
    import org.apache.spark.sql.connector.expressions.{Expressions => Xs}
    t match {
      case IdentityTransform => Some(Xs.identity(name))
      case BucketTransform(n) => Some(Xs.bucket(n, name))
      case TruncateTransform(w) =>
        Some(Xs.apply("truncate", Xs.literal(w), Xs.column(name)))
      case YearTransform => Some(Xs.years(name))
      case MonthTransform => Some(Xs.months(name))
      case DayTransform => Some(Xs.days(name))
      case HourTransform => Some(Xs.hours(name))
      case _ => None
    }
  }

  /** The spec's transforms as V2 expressions, for the write's required
    * clustering; None when any transform has no V2 form. */
  def v2Clustering(table: IceTable)
      : Option[Array[org.apache.spark.sql.connector.expressions.Expression]] = {
    val schema = table.schema
    val exprs = table.spec.fields.map { pf =>
      val src = schema.byId.getOrElse(pf.sourceId, return None)
      v2ExprFor(pf.transform, src.name).getOrElse(return None)
    }
    Some(exprs.toArray)
  }

  /** The table's default sort order as V2 sort expressions — a write
    * that requires this ordering produces within-task-sorted rows,
    * exactly what WriteFiles' sortWithinPartitions yields, so staged
    * files qualify for the declared sortOrderId. None when a field has
    * no V2 form; Some(empty) when the table is unsorted. */
  def v2SortOrdering(table: IceTable)
      : Option[Array[org.apache.spark.sql.connector.expressions.SortOrder]] = {
    import org.apache.spark.sql.connector.expressions.{Expressions => Xs, NullOrdering, SortDirection}
    val schema = table.schema
    table.sortOrderOpt match {
      case None => Some(Array.empty)
      case Some(order) =>
        val fields = order.fields.map { sf =>
          val src = schema.byId.getOrElse(sf.sourceId, return None)
          val expr = v2ExprFor(sf.transform, src.name).getOrElse(return None)
          val dir = if (sf.direction.equalsIgnoreCase("desc")) SortDirection.DESCENDING
            else SortDirection.ASCENDING
          val nulls = if (sf.nullOrder.equalsIgnoreCase("nulls-last")) NullOrdering.NULLS_LAST
            else NullOrdering.NULLS_FIRST
          Xs.sort(expr, dir, nulls)
        }
        Some(fields.toArray)
    }
  }

  /** The staged write schema with each column's field id attached from
    * the TABLE schema when types structurally agree (write schemas from
    * Spark carry no ids; positions match the table schema, ids are
    * matched by NAME), so staged parquet carries ids like every
    * library-written file; lineage columns take their reserved ids via
    * RowLineage.augment. */
  def idStampedSchema(table: IceTable, rowSchema: StructType,
      lineage: Boolean): StructType = {
    val idSchema =
      (if (lineage) graft.core.RowLineage.augment(table.schema) else table.schema).toSpark
    val byName = idSchema.fields.map(f => f.name -> f).toMap
    val data = rowSchema.fields.map { sf =>
      byName.get(sf.name)
        .filter(t => org.apache.spark.sql.types.DataType
          .equalsStructurally(t.dataType, sf.dataType, ignoreNullability = true))
        .getOrElse(sf)
    }
    if (!lineage) StructType(data)
    else StructType(data ++ graft.core.RowLineage.fields.map(f => byName(f.name)))
  }

  /** Staged files can be final data files only when they'd be
    * byte-equivalent to the second write's output: unpartitioned (or, if
    * `partitionedOk`, partition-routed staging), unsorted (or, if
    * `sortedOk`, ordering-required staging), parquet format, every
    * column id-stamped, and EVERY table column present in the staging
    * schema — a narrower frame (a streaming sink missing one column)
    * id-stamps fine but would commit files that read back as nulls where
    * the rewrite path's alignment select fails loudly. */
  def capable(table: IceTable, stagingSchema: StructType,
      partitionedOk: Boolean = false, sortedOk: Boolean = false): Boolean =
    (table.spec.fields.isEmpty || partitionedOk) &&
      (table.sortOrderOpt.isEmpty || sortedOk) &&
      table.metadata.properties
        .getOrElse("write.format.default", "parquet").equalsIgnoreCase("parquet") &&
      stagingSchema.fields.forall(_.metadata.contains(graft.core.SchemaConv.ParquetFieldIdKey)) && {
        val staged = stagingSchema.fieldNames.toSet
        table.schema.fields.forall(f => staged.contains(f.name))
      }

  /** Record cap per staged file on the DIRECT path, honoring
    * `write.target-file-size-bytes` / `write.spark.max-records-per-file`
    * like WriteFiles does — direct-committed files are final data files
    * and must not grow to whatever one task happened to scan. 0 =
    * unlimited (rewrite-bound staging keeps one file per task). */
  def maxRecordsFor(table: IceTable): Long = {
    val props = table.metadata.properties
    props.get("write.spark.max-records-per-file").map(_.toLong).getOrElse {
      val target = props.get("write.target-file-size-bytes").map(_.toLong)
        .getOrElse(512L * 1024 * 1024)
      math.max(1000L,
        target / math.max(8L, graft.table.WriteFiles.estimatedRowBytes(table.schema)))
    }
  }

  /** Direct-capable stages land under the DATA root (id-bearing read
    * path; uncommitted files are invisible and abort deletes them);
    * rewrite-bound stages keep the staging/ prefix. */
  def stageDir(table: IceTable, kind: String, direct: Boolean): String =
    if (direct)
      graft.table.Locations.stageDir(table.location,
        s"$kind-${java.util.UUID.randomUUID()}", table.metadata.properties)
    else s"${table.location}/staging/$kind-${java.util.UUID.randomUUID()}"

  /** What each task of a staged write needs to write its files and
    * describe them: table-schema stats (plus the lineage columns when
    * staged), the table's metrics modes and `write.parquet.*` options,
    * and partition tuples read back from routed `_p_` directories. */
  def fileSpec(table: IceTable, dir: String, stagingSchema: StructType,
      lineage: Boolean, maxRecords: Long): graft.table.FileWriteSpec = {
    val statsSchema =
      if (lineage) graft.core.RowLineage.augment(table.schema) else table.schema
    val props = table.metadata.properties
    graft.table.DataFileWriter.spec(table.spark, dir, stagingSchema, statsSchema, table.spec,
      graft.table.WriteFiles.metricsModes(statsSchema, props),
      graft.table.WriteFiles.parquetWriterOptions(props), maxRecords)
  }

  /** Staged files committed as data files: sorted tables reached this
    * path through a required ordering, so the files honor the declared
    * order and carry its id. */
  def asData(table: IceTable, files: Seq[graft.meta.DataFile]): Seq[graft.meta.DataFile] =
    table.sortOrderOpt.map(_.orderId) match {
      case Some(id) => files.map(_.copy(sortOrderId = Some(id)))
      case None => files
    }
}

class GraftReplaceDataWrite(table: IceTable, op: GraftRowLevelOperation,
    rowSchema: StructType, branch: Option[String] = Some("main"))
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.BatchWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.write._

  /** On v3, the operation requires `_row_id`/`_last_updated_sequence_number`
    * as metadata attributes; Spark delivers them per-row through the
    * two-arg DataWriter.write, and the staged files carry them as extra
    * trailing columns so the rewritten data files MATERIALIZE lineage
    * (spec §Row Lineage rewrite rule). Rows without metadata (MERGE
    * inserts) stage nulls and inherit fresh ids from the new file's
    * first_row_id + position. */
  private val lineage = table.metadata.formatVersion >= 3

  /** Staged schema, id-stamped from the table schema (see
    * [[StagedDirect.idStampedSchema]]). */
  private val stagingSchema: StructType =
    StagedDirect.idStampedSchema(table, rowSchema, lineage)

  /** Direct commit: when the staged files would be byte-equivalent to
    * what the second write produces, they ARE the data files — the
    * rewrite path's full read-back + re-write (2× the write I/O of every
    * CoW row-level op, the dominant cost at scale) is skipped and the
    * commit takes the DataFiles the write tasks built. Capability here
    * (unsorted; parquet; every column id-stamped; PARTITIONED tables
    * qualify when every transform routes executor-side AND has a V2
    * clustering form — the write then REQUIRES clustering+ordering by
    * the partition expressions so each task streams through partition
    * directories with one open writer); whether the COMMAND allows it
    * (no lineage-diff rewrite pending) is decided in commit(). Capable
    * staged files land under the DATA root so the id-bearing vectorized
    * read path serves them; an abort deletes them, making the files
    * logically nonexistent either way. */
  private val partRouter: Option[PartitionRouterSpec] =
    StagedDirect.routerSpec(table, rowSchema)
  private val clustering
      : Option[Array[org.apache.spark.sql.connector.expressions.Expression]] =
    StagedDirect.v2Clustering(table)
  private val sortOrdering
      : Option[Array[org.apache.spark.sql.connector.expressions.SortOrder]] =
    StagedDirect.v2SortOrdering(table)
  private val directCapable: Boolean = StagedDirect.capable(table, stagingSchema,
    partitionedOk = partRouter.isDefined && clustering.isDefined,
    sortedOk = sortOrdering.isDefined)

  private val stagingDir = StagedDirect.stageDir(table, "cow", directCapable)

  override def toBatch: BatchWrite = this

  /** Partitioned direct commits request clustering + ordering by the
    * partition transforms (resolved through the table's FunctionCatalog,
    * same machinery as the SPJ read side): each task then receives its
    * rows grouped by partition and the routed staging writer keeps one
    * file open at a time. Everything else leaves the distribution
    * unspecified — the rewrite path re-shuffles in WriteFiles anyway. */
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    if (directCapable && table.spec.fields.nonEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.clustered(clustering.get)
    else org.apache.spark.sql.connector.distributions.Distributions.unspecified()

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (!directCapable) Array.empty
    else {
      // partition columns first (rollover boundaries), then the table's
      // sort order — the same within-task shape WriteFiles produces
      val part =
        if (table.spec.fields.isEmpty) Array
          .empty[org.apache.spark.sql.connector.expressions.SortOrder]
        else clustering.get.map(e =>
          org.apache.spark.sql.connector.expressions.Expressions.sort(e,
            org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      part ++ sortOrdering.getOrElse(Array.empty)
    }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftStagingWriterFactory(
      StagedDirect.fileSpec(table, stagingDir, stagingSchema, lineage,
        maxRecords = if (directCapable) StagedDirect.maxRecordsFor(table) else 0L),
      // metadata row layout follows requiredMetadataAttributes order:
      // (_file, _row_id, _last_updated_sequence_number)
      lineageMetaIdx = if (lineage) Array(1, 2) else Array.empty,
      router = if (directCapable) partRouter.orNull else null)

  /** Set when the staged files were committed AS data files — cleanup
    * must then leave the staging directory alone (it is live data). */
  @volatile private var committedDirect = false

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    val staged = StagedFilesMessage.files(messages)
    val files = staged.map(_.filePath)
    try {
      val scan = op.configuredScan
      require(scan != null, "row-level operation committed without a configured scan")
      val tasks = scan.plannedTasks()
      val removed = tasks.map(_.file.filePath).toSet
      if (removed.nonEmpty || files.nonEmpty) {
        // the scan planned against the pre-command snapshot this handle
        // still holds; conflict validation replays from there (main falls
        // back to current-snapshot-id for refs-less metadata)
        val base = table.metadata.refs.get(branch.getOrElse("main")).map(_.snapshotId)
          .orElse(if (branch.forall(_ == "main")) table.metadata.currentSnapshotId else None)
        // UPDATE/MERGE can only change assigned columns
        // (AssignedColumnsRule stamps them during optimization;
        // unrecognized plan shapes leave None = full width)
        val dataCols = table.schema.fields.map(_.name)
        val diffColsOpt: Option[Seq[String]] =
          op.assignedDataColumns.map(a => dataCols.filter(a.toSet).toSeq)
        // diff-free: no lineage rewrite pending (v2; DELETE passes
        // metadata through untouched; provably assignment-free MERGE;
        // or the optimizer STAMPED the seq update into the plan — the
        // staged files already carry null seq for content-changed rows)
        val diffFree = !lineage || op.cmd == Command.DELETE ||
          diffColsOpt.contains(Nil) || op.lineageStampedInPlan || files.isEmpty
        // diff-free commands on a direct-capable stage: the staged files
        // ARE the data files — commit the tasks' descriptors; no second
        // write, no read-back
        if (directCapable && diffFree) {
          val added = StagedDirect.asData(table, staged)
          table.refresh()
          table.replaceFilesPreStaged(removed, added,
            conflictFilter = Some(GraftFilters.normalizeLiterals(scan.planExpr)),
            baseSnapshotId = base, toBranch = branch)
          committedDirect = files.nonEmpty
          return
        }
        val replacement =
          if (files.isEmpty)
            table.spark.createDataFrame(
              table.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stagingSchema)
          else table.spark.read.schema(stagingSchema).parquet(files.toIndexedSeq: _*)
        // align by POSITION (the rewrite emits table-schema rows)
        val named0 = replacement.toDF(table.schema.fields.map(_.name) ++
          (if (lineage) graft.core.RowLineage.fields.map(_.name) else Nil): _*)
        // spec §Row Lineage: an UPDATED row keeps its _row_id but its
        // _last_updated_sequence_number becomes the new commit's. Spark's
        // group-based rewrite passes the ORIGINAL metadata through for
        // updated rows without marking them, so updated rows are detected
        // by CONTENT diff against the pre-command files (one extra read of
        // the rewritten groups only): changed content → seq = null
        // (inherits the commit's sequence number). DELETE only carries
        // rows, so it skips the diff. The diff is pruned to the
        // SET-assigned columns — on a wide table this is the difference
        // between re-reading two columns and re-reading a hundred.
        val named = if (diffFree) named0
          else {
            import org.apache.spark.sql.functions.{col, lit, when}
            val diffCols = diffColsOpt.getOrElse(dataCols.toSeq)
            val idName = graft.core.RowLineage.RowIdName
            val seqName = graft.core.RowLineage.LastUpdatedName
            // shrink the diff's BUILD side to rows that can have changed:
            // only rows matching the command's condition are rewritten
            // with new content, and the scan's pushed filter is always a
            // weaker-or-equal conjunct subset of that condition — so
            // filtering the original read by it keeps a SUPERSET of the
            // changed rows (extra rows compare equal → keep their seq).
            // A selective UPDATE then BROADCASTS a small original side
            // instead of shuffling both full scans into the join.
            val matchedOnly = try ToColumn(
              graft.core.Binder.bind(table.schema, scan.planExpr)) catch {
              case _: Exception => lit(true) // unpushable shape: full diff
            }
            val orig = table.lineageScanForTasks(tasks)
              .filter(matchedOnly)
              .select((col(idName).as("__oid") +:
                diffCols.map(c => col(c).as(s"__o_$c"))): _*)
            val unchanged = diffCols.map(c => col(c) <=> col(s"__o_$c"))
              .reduceOption(_ && _).getOrElse(lit(true))
            named0.join(orig, named0(idName) === orig("__oid"), "left")
              .withColumn(seqName,
                when(col("__oid").isNull || unchanged, col(seqName))
                  .otherwise(lit(null).cast("long")))
              .drop("__oid").drop(diffCols.map(c => s"__o_$c"): _*)
          }
        table.refresh()
        table.replaceFiles(removed, named,
          conflictFilter = Some(GraftFilters.normalizeLiterals(scan.planExpr)),
          baseSnapshotId = base, toBranch = branch,
          lineageMaterialized = lineage)
      }
    } finally if (!committedDirect) cleanup()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = cleanup()

  private def cleanup(): Unit =
    try graft.meta.Io.delete(stagingDir, recursive = true) catch { case _: Exception => () }
}

/** MERGE-ON-READ row-level operation (SupportsDelta, selected by the
  * `write.<command>.mode = merge-on-read` table properties on v2
  * tables): Spark identifies each affected row by (_file, _pos) — the
  * rowId this operation declares — and streams per-row delete / insert
  * calls to the delta writers. Matched rows become POSITION-DELETE files
  * (spec §Position Delete Files, same layout deletePositional writes),
  * inserts become staged data rows routed through the fan-out write, and
  * ONE snapshot commits both — an UPDATE of 0.1% of rows writes
  * kilobytes of deletes instead of rewriting gigabytes of data files.
  * Updates arrive as delete + reinsert (representUpdateAsDeleteAndInsert),
  * so the data files written are ordinary appends. */
class GraftDeltaOperation(table: IceTable,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta {
  import org.apache.spark.sql.connector.write.{DeltaWriteBuilder, LogicalWriteInfo}

  @volatile private[spark] var configuredScan: GraftScan = _

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(table, None, options, onScanBuilt = configuredScan = _)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new GraftDeltaWrite(table, GraftDeltaOperation.this, info.schema())
    }

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions.column(GraftSparkTable.FileColumn),
      org.apache.spark.sql.connector.expressions.Expressions.column(GraftSparkTable.PosColumn))

  /** v3: UPDATE-as-delete-and-insert must keep the row's `_row_id` on the
    * reinserted row (spec §Row Lineage update rule) — the lineage columns
    * ride as metadata so the delta writer can materialize the id with a
    * null seq (inherits the updating commit's sequence number). */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (table.metadata.formatVersion < 3) Array.empty
    else graft.core.RowLineage.fields.map(f =>
      org.apache.spark.sql.connector.expressions.Expressions.column(f.name)).toArray

  // false so Spark calls update(meta, id, row) — the writer itself turns
  // it into delete + reinsert, and on v3 the metadata hook is what lets
  // the reinserted row KEEP its _row_id (a split delete/insert pair would
  // hand insert() no metadata and renumber the row)
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def description(): String = s"GraftRowLevelOperation[$cmd, merge-on-read]"
}

final case class DeltaStagedMessage(data: Seq[graft.meta.DataFile],
    deletes: Seq[graft.meta.DataFile])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

/** The WriteDelta of a merge-on-read operation: each task stages at most
  * one data-row parquet (inserts/reinserts) and one sorted position-delete
  * parquet (deleted row ids); commit routes staged inserts through the
  * library fan-out write and registers the delete files in place — ONE
  * "overwrite" (or pure "delete") snapshot carrying both, with the
  * command's condition as the conflict filter. */
class GraftDeltaWrite(table: IceTable, op: GraftDeltaOperation, rowSchema: StructType)
    extends org.apache.spark.sql.connector.write.DeltaWrite
    with org.apache.spark.sql.connector.write.DeltaBatchWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.write._

  // delete files are written IN PLACE under data/ (the commit registers
  // these exact paths, like deletePositional's stage), so a failed commit
  // leaves only orphans for GC, never dangling references. On v3 they are
  // TEMPORARY (converted into deletion vectors at commit, then removed).
  private val deleteDir = s"${table.location}/data/del-${java.util.UUID.randomUUID()}"

  /** v3: staged data carries the reserved lineage columns (update
    * reinserts keep their `_row_id`, inserts stage nulls). */
  private val lineage = table.metadata.formatVersion >= 3
  private val stagingSchema: StructType =
    StagedDirect.idStampedSchema(table, rowSchema, lineage)

  /** Delta insert files are plain appends — when the stage is
    * direct-capable they commit as-is (the tasks' DataFiles, no second
    * write). Unlike the CoW path there is no diff condition: delta
    * lineage values are written correctly by the writer itself.
    * PARTITIONED tables qualify like the CoW write does: the write
    * requires clustering+ordering by the partition transforms (the
    * shuffle moves only the operation's matched/insert rows — churn,
    * not corpus) and the staging writer routes rows into `_p_` dirs. */
  private val partRouter: Option[PartitionRouterSpec] =
    StagedDirect.routerSpec(table, rowSchema)
  private val clustering
      : Option[Array[org.apache.spark.sql.connector.expressions.Expression]] =
    StagedDirect.v2Clustering(table)
  private val sortOrdering
      : Option[Array[org.apache.spark.sql.connector.expressions.SortOrder]] =
    StagedDirect.v2SortOrdering(table)
  private val directCapable: Boolean = StagedDirect.capable(table, stagingSchema,
    partitionedOk = partRouter.isDefined && clustering.isDefined,
    sortedOk = sortOrdering.isDefined)
  private val stagingDataDir = StagedDirect.stageDir(table, "delta", directCapable)
  @volatile private var committedDirect = false

  override def toBatch: DeltaBatchWrite = this

  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    if (directCapable && table.spec.fields.nonEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.clustered(clustering.get)
    else org.apache.spark.sql.connector.distributions.Distributions.unspecified()

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (!directCapable) Array.empty
    else {
      val part =
        if (table.spec.fields.isEmpty) Array
          .empty[org.apache.spark.sql.connector.expressions.SortOrder]
        else clustering.get.map(e =>
          org.apache.spark.sql.connector.expressions.Expressions.sort(e,
            org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      part ++ sortOrdering.getOrElse(Array.empty)
    }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new GraftDeltaWriterFactory(
      StagedDirect.fileSpec(table, stagingDataDir, stagingSchema, lineage,
        maxRecords = if (directCapable) StagedDirect.maxRecordsFor(table) else 0L),
      graft.table.DataFileWriter.spec(table.spark, deleteDir,
        GraftDeltaWrite.PosDeleteSchema.toSpark, GraftDeltaWrite.PosDeleteSchema,
        modes = GraftDeltaWrite.PosDeleteModes),
      lineage,
      router = if (directCapable) partRouter.orNull else null)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: DeltaStagedMessage => m }
    try {
      val base = table.metadata.currentSnapshotId
      table.refresh()
      val dataStaged = msgs.flatMap(_.data)
      val added =
        if (dataStaged.isEmpty) Nil
        else if (directCapable) StagedDirect.asData(table, dataStaged.toSeq)
        else {
          val staged = table.spark.read.schema(stagingSchema)
            .parquet(dataStaged.map(_.filePath).toIndexedSeq: _*)
          val named = staged.toDF(table.schema.fields.map(_.name) ++
            (if (lineage) graft.core.RowLineage.fields.map(_.name) else Nil): _*)
          graft.table.WriteFiles.write(table.spark, table.location,
            if (lineage) graft.core.RowLineage.augment(table.schema) else table.schema,
            table.spec, named, java.util.UUID.randomUUID().toString,
            sortOrder = None, props = table.metadata.properties)
        }
      // only files NAMED in task commit messages: a failed attempt's
      // partial parquet in the shared deleteDir is never opened or
      // registered
      val namedDeletes = msgs.flatMap(_.deletes).filter(_.recordCount > 0)
      val conflict = Option(op.configuredScan)
        .map(s => GraftFilters.normalizeLiterals(s.planExpr))
      val operation = if (added.nonEmpty) "overwrite" else "delete"
      if (lineage) {
        // v3: the spec forbids new position-delete FILES — convert the
        // staged (file, pos) runs into DELETION VECTORS (merged with each
        // affected file's prior deletes, superseded blobs dropped) and
        // commit them with the insert files in ONE snapshot
        if (added.nonEmpty || namedDeletes.nonEmpty) {
          import org.apache.spark.sql.functions.col
          val newPos =
            if (namedDeletes.isEmpty)
              table.spark.createDataFrame(
                table.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                StructType(Seq(
                  org.apache.spark.sql.types.StructField("__dfile",
                    org.apache.spark.sql.types.StringType),
                  org.apache.spark.sql.types.StructField("__dpos",
                    org.apache.spark.sql.types.LongType))))
            else table.spark.read.schema(GraftDeltaWrite.PosDeleteSchema.toSpark)
              .parquet(namedDeletes.map(_.filePath).toIndexedSeq: _*)
              .select(graft.core.PathUtil.canonCol(col("file_path")).as("__dfile"),
                col("pos").as("__dpos"))
          // affected file set is metadata-sized (#files, not #rows)
          val affectedPaths =
            if (namedDeletes.isEmpty) Set.empty[String]
            else newPos.select("__dfile").distinct().collect().map(_.getString(0)).toSet
          val affected = new graft.table.IceScan(table).planFiles()
            .filter(t => affectedPaths.contains(graft.core.PathUtil.canon(t.file.filePath)))
            .map(t => graft.core.PathUtil.canon(t.file.filePath) -> t).toMap
          table.commitDeletionVectors(affected, newPos, operation,
            conflictFilter = conflict, baseSnap = base, extraAdded = added)
        }
      } else {
        val deleteAdded = namedDeletes.toSeq
          .map(_.copy(content = graft.meta.FileContent.PositionDeletes))
        if (added.nonEmpty || deleteAdded.nonEmpty) {
          table.commitSnapshot(operation,
            added = added ++ deleteAdded, removedPaths = Set.empty,
            conflictFilter = conflict, baseSnapshotId = base)
        }
      }
      // flag AFTER the snapshot committed: a failed commit keeps the
      // staged files deletable (abort's cleanup removes them)
      committedDirect = directCapable && dataStaged.nonEmpty
    } finally cleanup(dropDeletes = lineage)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    cleanup(dropDeletes = true)

  private def cleanup(dropDeletes: Boolean): Unit = {
    // a successful direct commit made the staged data files live
    if (!committedDirect)
      try graft.meta.Io.delete(stagingDataDir, recursive = true) catch { case _: Exception => () }
    if (dropDeletes)
      try graft.meta.Io.delete(deleteDir, recursive = true) catch { case _: Exception => () }
  }
}

object GraftDeltaWrite {
  /** Position-delete file columns with the spec's reserved field ids
    * (same schema deletePositional registers). */
  val PosDeleteSchema: graft.core.Schema = graft.core.Schema(Seq(
    graft.core.NestedField(2147483546, "file_path", graft.core.IString, required = true),
    graft.core.NestedField(2147483545, "pos", graft.core.ILong, required = true)))

  /** FULL (untruncated) `file_path`/`pos` bounds: equal lower/upper path
    * bounds scope a delete file to its one target data file. */
  val PosDeleteModes: Map[Int, String] = Map(2147483546 -> "full", 2147483545 -> "full")
}

object GraftDeltaWriter {
  /** Sorted-run size for per-task position-delete flushing: ~4M (path
    * ref, long) entries ≈ low hundreds of MB of heap and a 30-60 MB
    * delete parquet per run. */
  val FlushRun: Int = 4 * 1024 * 1024
}

class GraftDeltaWriterFactory(dataSpec: graft.table.FileWriteSpec,
    deleteSpec: graft.table.FileWriteSpec, lineage: Boolean,
    router: PartitionRouterSpec = null)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new GraftDeltaWriter(dataSpec, deleteSpec, lineage, partitionId, taskId, router)
}

/** Per-task delta writer: buffers deleted (file, pos) ids — sorted and
  * written as ONE position-delete parquet at commit so row-group stats
  * prune on file_path — and streams inserted rows into a staged data
  * parquet (the same staging writer the other DSv2 writes use). */
class GraftDeltaWriter(dataSpec: graft.table.FileWriteSpec,
    deleteSpec: graft.table.FileWriteSpec, lineage: Boolean,
    partitionId: Int, taskId: Long,
    router: PartitionRouterSpec = null)
    extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {

  private var dataWriter: GraftStagingWriter = _
  // buffered so each file is written SORTED by (file_path, pos) — the
  // spec's required delete-file order. Paths are INTERNED (a task sees
  // few distinct data files) and the buffer FLUSHES as an independent
  // sorted run every `FlushRun` entries: the spec allows many delete
  // files, so a task deleting 10⁹ rows writes bounded-memory runs
  // instead of accumulating gigabytes of ids before one giant sort.
  private val deleted = scala.collection.mutable.ArrayBuffer[(String, Long)]()
  private val pathPool = new java.util.HashMap[String, String]()
  private val flushed = scala.collection.mutable.ArrayBuffer[graft.meta.DataFile]()
  private val runs = scala.collection.mutable.ArrayBuffer[graft.table.DataFileWriter]()

  private def ensureDataWriter(): GraftStagingWriter = {
    if (dataWriter == null)
      dataWriter = new GraftStagingWriter(dataSpec, partitionId, taskId,
        lineageMetaIdx = if (lineage) Array(0, 1) else Array.empty, router = router)
    dataWriter
  }

  override def insert(row: InternalRow): Unit =
    // a pure insert (MERGE NOT MATCHED) is a NEW row: null lineage —
    // it inherits a fresh id from its data file's first_row_id + position
    if (lineage) ensureDataWriter().writeWithLineage(row, null, null)
    else ensureDataWriter().write(row)

  /** `id` is projected in rowId() order: (_file string, _pos long). */
  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    val raw = id.getUTF8String(0).toString
    val path = {
      val pooled = pathPool.get(raw)
      if (pooled != null) pooled else { pathPool.put(raw, raw); raw }
    }
    deleted += ((path, id.getLong(1)))
    if (deleted.size >= GraftDeltaWriter.FlushRun) flushDeletes()
  }

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(meta, id)
    if (!lineage) insert(row)
    else {
      // spec §Row Lineage update rule: the reinserted row KEEPS the
      // deleted row's _row_id; its seq is null and inherits the commit's.
      // meta layout per requiredMetadataAttributes: (_row_id, _seq)
      val rid: java.lang.Long =
        if (meta == null || meta.isNullAt(0)) null else java.lang.Long.valueOf(meta.getLong(0))
      ensureDataWriter().writeWithLineage(row, rid, null)
    }
  }

  private def flushDeletes(): Unit = {
    if (deleted.isEmpty) return
    val run = new graft.table.DataFileWriter(deleteSpec, s"del-$partitionId-$taskId-${runs.size}")
    runs += run
    deleted.sortInPlace().foreach { case (f, p) =>
      run.write("", new GenericInternalRow(
        Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(f), p)))
    }
    flushed ++= run.close()
    deleted.clear()
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    val data = Option(dataWriter).toSeq.flatMap(w => StagedFilesMessage.files(Seq(w.commit())))
    flushDeletes()
    DeltaStagedMessage(data, flushed.toSeq)
  }

  override def abort(): Unit = {
    if (dataWriter != null) dataWriter.abort()
    runs.foreach(_.abort())
  }

  override def close(): Unit = ()
}

/** DSv2 write face: Spark plans the write (INSERT INTO / INSERT OVERWRITE /
  * df.writeTo.append — the analyzer has already aligned and cast the query
  * to the table schema), and the V1 fallback hands the rows back as a
  * DataFrame, which flows through the library's full write path: fan-out
  * shuffle on partition transforms, field-id parquet with task-built stats,
  * manifest merge, conflict-checked optimistic commit. A native DataWriter
  * would have to re-implement exactly that machinery per-task — the V1
  * bridge reuses it verbatim (write modes mirror _FastAppendFiles /
  * _OverwriteFiles, ref update/snapshot.py:503/:585). */
class GraftWriteBuilder(table: IceTable,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo,
    branch: Option[String] = Some("main"))
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
  import org.apache.spark.sql.connector.write.{V1Write, Write, WriteBuilder}

  private sealed trait Mode
  private case object AppendMode extends Mode
  private case class OverwriteMode(filter: Expr) extends Mode
  private case object DynamicMode extends Mode

  private var mode: Mode = AppendMode

  override def truncate(): WriteBuilder = { mode = OverwriteMode(AlwaysTrue); this }

  override def canOverwrite(filters: Array[sources.Filter]): Boolean =
    filters.forall(f => GraftFilters.toExprExact(f).isDefined)

  override def overwrite(filters: Array[sources.Filter]): WriteBuilder = {
    val expr = filters.flatMap(GraftFilters.toExprExact)
      .foldLeft(AlwaysTrue: Expr)(And(_, _))
    mode = OverwriteMode(GraftFilters.normalizeLiterals(expr))
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = { mode = DynamicMode; this }

  override def build(): Write = mode match {
    // Spark has no V1 fallback for OverwritePartitionsDynamicExec, so
    // dynamic overwrite is a real BatchWrite (staged executor-side files)
    case DynamicMode => new GraftDynamicOverwriteWrite(table, branch)
    case _ => new V1Write {
      override def toInsertableRelation: sources.InsertableRelation =
        (data: org.apache.spark.sql.DataFrame, _: Boolean) => {
          // align by POSITION: the analyzer guarantees positional
          // compatibility; names may differ (INSERT INTO SELECT aliases)
          table.refresh()
          val named = data.toDF(table.schema.fields.map(_.name): _*)
          mode match {
            case AppendMode => table.append(named, Map.empty[String, String], branch)
            case OverwriteMode(f) =>
              table.overwrite(named, f, Map.empty[String, String], branch)
            case DynamicMode => throw new IllegalStateException("unreachable")
          }
        }
      // df.writeStream.format("graft"): Append appends per epoch;
      // Complete arrives as truncate() → whole-table overwrite per epoch
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite = mode match {
        case _ if !branch.contains("main") =>
          throw new UnsupportedOperationException(
            "streaming writes target main only — branch epochs would race the publish")
        case AppendMode =>
          new GraftStreamingWrite(table, info.queryId(), info.schema(), truncateEachEpoch = false)
        case OverwriteMode(AlwaysTrue) =>
          new GraftStreamingWrite(table, info.queryId(), info.schema(), truncateEachEpoch = true)
        case _ => throw new UnsupportedOperationException(
          "streaming writes support Append and Complete output modes only")
      }
    }
  }
}

/** Streaming sink: `df.writeStream.format("graft")`. Each micro-batch
  * stages field-id parquet files executor-side (the same staging writers
  * as the dynamic-overwrite path) and commits ONE table snapshot per
  * epoch through the library's append/overwrite — fan-out shuffle,
  * task-built file stats, optimistic commit included. Exactly-once across
  * restarts: every epoch commit stamps (streaming-query-id,
  * streaming-epoch-id) into the snapshot summary, and a replayed epoch —
  * Structured Streaming re-runs the last uncommitted-at-crash batch from
  * the checkpoint — is detected by scanning snapshot summaries and
  * skipped. The reference has no streaming face; this is the
  * Structured-Streaming-native extension of its append/overwrite
  * (ref write ops: table/__init__.py:1535/:1569). */
class GraftStreamingWrite(table: IceTable, queryId: String,
    inputSchema: StructType, truncateEachEpoch: Boolean)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write._

  /** Append-mode epochs on a direct-capable table commit their staged
    * files AS data files (id-stamped schema, the tasks' DataFiles) —
    * each micro-batch writes its rows exactly once. Complete mode keeps
    * the rewrite (overwrite needs the alignment read anyway). */
  private val stagingSchema: StructType =
    StagedDirect.idStampedSchema(table, inputSchema, lineage = false)
  private val directCapable: Boolean =
    !truncateEachEpoch && StagedDirect.capable(table, stagingSchema)
  private val stagingRoot =
    if (directCapable) StagedDirect.stageDir(table, s"stream-$queryId", direct = true)
    else s"${table.location}/staging/stream-$queryId"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : streaming.StreamingDataWriterFactory =
    new GraftStreamingStagingFactory(
      StagedDirect.fileSpec(table, stagingRoot, stagingSchema, lineage = false,
        maxRecords = if (directCapable) StagedDirect.maxRecordsFor(table) else 0L))

  /** Epoch ids are monotone per query: any committed epoch ≥ this one
    * means this batch's rows are already in the table. (Snapshot summary
    * scan — expire_snapshots keeps the current head, and Structured
    * Streaming only ever replays the LATEST epoch.) */
  private def alreadyCommitted(epochId: Long): Boolean =
    table.metadata.snapshots.exists(s =>
      s.summary.get("streaming-query-id").contains(queryId) &&
        s.summary.get("streaming-epoch-id").exists(_.toLong >= epochId))

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val staged = StagedFilesMessage.files(messages)
    val files = staged.map(_.filePath)
    try {
      table.refresh()
      // Complete mode must commit even an EMPTY epoch: the table's
      // contents are "whatever this epoch produced", so a result that
      // became empty truncates to empty rather than keeping stale rows
      if (!alreadyCommitted(epochId) && (files.nonEmpty || truncateEachEpoch)) {
        val marks = Map("streaming-query-id" -> queryId,
          "streaming-epoch-id" -> epochId.toString)
        if (directCapable && files.nonEmpty) {
          // staged epoch files ARE the data files
          table.appendPreStaged(StagedDirect.asData(table, staged), marks)
          committedEpochDirs.add(epochId)
        } else {
          val staged =
            if (files.nonEmpty)
              table.spark.read.schema(stagingSchema).parquet(files.toIndexedSeq: _*)
            else table.spark.createDataFrame(
              table.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stagingSchema)
          // align by NAME: streaming frames carry the table's column names
          // (there is no analyzer-alignment step for DSv2 streaming sinks)
          val aligned = staged.select(table.schema.fields.map(f =>
            org.apache.spark.sql.functions.col(f.name)): _*)
          if (truncateEachEpoch) table.overwrite(aligned, AlwaysTrue, marks)
          else table.append(aligned, marks)
        }
      }
    } finally cleanupEpoch(epochId)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    cleanupEpoch(epochId)

  /** Epochs whose staged files became live data — cleanup skips them. */
  private val committedEpochDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  private def cleanupEpoch(epochId: Long): Unit =
    if (!committedEpochDirs.contains(epochId))
      try graft.meta.Io.delete(s"$stagingRoot/epoch-$epochId", recursive = true)
      catch { case _: Exception => () }
}

class GraftStreamingStagingFactory(spec: graft.table.FileWriteSpec)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new GraftStagingWriter(spec.copy(dir = s"${spec.dir}/epoch-$epochId"), partitionId, taskId)
}

/** Dynamic INSERT OVERWRITE as a native DSv2 BatchWrite: each task stages
  * the query output as ONE field-id parquet file (Spark's
  * ParquetWriteSupport over InternalRow — executor-side, parallel, no
  * driver materialization), then commit() routes the staged rows through
  * IceTable.dynamicPartitionOverwrite, which re-applies the partition
  * fan-out shuffle, conflict filter and optimistic commit. Only committed
  * tasks' files are read (speculative duplicates are ignored); staging is
  * removed on commit AND abort. The staging hop costs one extra
  * materialization — the price of Spark not offering a V1 bridge here. */
class GraftDynamicOverwriteWrite(table: IceTable,
    branch: Option[String] = Some("main"))
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.BatchWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.write._

  private val tableStruct: StructType = table.schema.toSpark

  /** Direct commit (r12): routed staged files become the data files and
    * the touched-partition set falls out of their partition tuples — no
    * read-back, no distinct-partitions job. */
  private val partRouter: Option[PartitionRouterSpec] =
    StagedDirect.routerSpec(table, tableStruct)
  private val clustering
      : Option[Array[org.apache.spark.sql.connector.expressions.Expression]] =
    StagedDirect.v2Clustering(table)
  private val sortOrdering
      : Option[Array[org.apache.spark.sql.connector.expressions.SortOrder]] =
    StagedDirect.v2SortOrdering(table)
  private val directCapable: Boolean = StagedDirect.capable(table, tableStruct,
    partitionedOk = partRouter.isDefined && clustering.isDefined,
    sortedOk = sortOrdering.isDefined) && table.spec.fields.nonEmpty
  private val stagingDir = StagedDirect.stageDir(table, "dyn", directCapable)
  @volatile private var committedDirect = false

  override def toBatch: BatchWrite = this

  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    if (directCapable)
      org.apache.spark.sql.connector.distributions.Distributions.clustered(clustering.get)
    else org.apache.spark.sql.connector.distributions.Distributions.unspecified()

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (!directCapable) Array.empty
    else clustering.get.map(e =>
      org.apache.spark.sql.connector.expressions.Expressions.sort(e,
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)) ++
      sortOrdering.getOrElse(Array.empty)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftStagingWriterFactory(
      StagedDirect.fileSpec(table, stagingDir, tableStruct, lineage = false,
        maxRecords = if (directCapable) StagedDirect.maxRecordsFor(table) else 0L),
      router = if (directCapable) partRouter.orNull else null)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = StagedFilesMessage.files(messages)
    try {
      if (staged.nonEmpty) {
        table.refresh()
        if (directCapable) {
          table.dynamicPartitionOverwritePreStaged(StagedDirect.asData(table, staged), branch)
          committedDirect = true
        } else {
          val df = table.spark.read.schema(tableStruct)
            .parquet(staged.map(_.filePath).toIndexedSeq: _*)
          table.dynamicPartitionOverwrite(df, branch)
        }
      } // empty source → dynamic overwrite touches no partitions: no-op
    } finally if (!committedDirect) cleanup()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = cleanup()

  private def cleanup(): Unit =
    try graft.meta.Io.delete(stagingDir, recursive = true) catch { case _: Exception => () }
}

/** A staging task's files, described by the task that wrote them. */
final case class StagedFilesMessage(files: Seq[graft.meta.DataFile])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

object StagedFilesMessage {
  def files(messages: Seq[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Seq[graft.meta.DataFile] =
    messages.flatMap {
      case StagedFilesMessage(fs) => fs
      case _ => Nil
    }
}

class GraftStagingWriterFactory(spec: graft.table.FileWriteSpec,
    lineageMetaIdx: Array[Int] = Array.empty,
    router: PartitionRouterSpec = null)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new GraftStagingWriter(spec, partitionId, taskId, lineageMetaIdx, router)
}

/** A staging task's [[graft.table.DataFileWriter]]: Spark's own
  * ParquetWriteSupport (micros timestamps, field ids, non-legacy layout)
  * over the task's rows, closed files described in the commit message.
  *
  * ONE open file rolls across partition-directory boundaries (routed
  * mode: the write's required clustering+ordering delivers rows grouped
  * by partition; an out-of-order row merely starts an extra file, never a
  * wrong tuple) and across the `maxRecords` cap (direct-committed files
  * are FINAL data files, so they honor write.target-file-size instead of
  * growing to a task's whole input). A zero-row task (empty shuffle
  * partition per streaming epoch, a CoW DELETE task whose whole input is
  * deleted) stages NOTHING: on direct-commit paths a file would become a
  * permanent 0-record data file in the manifest. */
class GraftStagingWriter(spec: graft.table.FileWriteSpec, partitionId: Int,
    taskId: Long,
    lineageMetaIdx: Array[Int] = Array.empty,
    router: PartitionRouterSpec = null)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {

  private val files = new graft.table.DataFileWriter(spec, s"stage-$partitionId-$taskId")

  private def dirOf(row: InternalRow): String = if (router == null) "" else router.dirOf(row)

  // lineage staging (v3 row-level ops): the staged schema carries two
  // trailing nullable longs (_row_id, _last_updated_sequence_number)
  private val lineageTail =
    if (lineageMetaIdx.isEmpty) null
    else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
  private val joined =
    if (lineageMetaIdx.isEmpty) null
    else new org.apache.spark.sql.catalyst.expressions.JoinedRow

  override def write(row: InternalRow): Unit =
    if (lineageMetaIdx.isEmpty) files.write(dirOf(row), row)
    else { // no metadata for this row (e.g. MERGE insert): null lineage
      lineageTail.setNullAt(0); lineageTail.setNullAt(1)
      files.write(dirOf(row), joined(row, lineageTail))
    }

  /** Explicit lineage values (delta writers: update keeps the id with a
    * null seq, insert stages null/null). Requires a lineage-enabled
    * writer (non-empty lineageMetaIdx). */
  private[spark] def writeWithLineage(row: InternalRow,
      rowId: java.lang.Long, seq: java.lang.Long): Unit = {
    if (rowId == null) lineageTail.setNullAt(0) else lineageTail.setLong(0, rowId.longValue())
    if (seq == null) lineageTail.setNullAt(1) else lineageTail.setLong(1, seq.longValue())
    files.write(dirOf(row), joined(row, lineageTail))
  }

  /** Two-arg form: Spark projects the operation's metadata attributes
    * into `meta` — layout (_file, _row_id, _last_updated_sequence_number)
    * per requiredMetadataAttributes order. */
  override def write(meta: InternalRow, row: InternalRow): Unit =
    if (lineageMetaIdx.isEmpty) files.write(dirOf(row), row)
    else {
      var i = 0
      while (i < 2) {
        val src = lineageMetaIdx(i)
        if (meta == null || meta.isNullAt(src)) lineageTail.setNullAt(i)
        else lineageTail.setLong(i, meta.getLong(src))
        i += 1
      }
      files.write(dirOf(row), joined(row, lineageTail))
    }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage =
    StagedFilesMessage(files.close())

  override def abort(): Unit = files.abort()

  override def close(): Unit = ()
}

/** `snapshotId` pins FILE PLANNING; `schemaAtOrNull` pins SCHEMA
  * resolution separately (null = same as snapshotId). They differ for
  * branch tables: files plan at the branch head while names bind to the
  * table's CURRENT schema — the id-based projection then maps current
  * columns onto the older files, exactly like schema evolution. */
class GraftScanBuilder(table: IceTable, snapshotId: Option[Long] = None,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
    onScanBuilt: GraftScan => Unit = _ => (),
    schemaAtOrNull: Option[Long] = null,
    planned: Option[PlannedRead] = None,
    wholeFiles: Boolean = false)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownAggregates {

  private val schemaAt: Option[Long] =
    if (schemaAtOrNull == null) snapshotId else schemaAtOrNull
  private var pushed: Array[sources.Filter] = Array.empty
  private var expr: Expr = AlwaysTrue
  private var required: StructType =
    planned.map(_.schema).getOrElse(GraftSparkTable.schemaOf(table, schemaAt)).toSpark
  private var emitFile: Boolean = false
  private var emitPos: Boolean = false
  private var emitLineage: Boolean = false
  private var limit: Long = -1L
  private var aggResult: Option[(StructType, Seq[Array[Any]])] = None

  /** per-partition early stop; Spark keeps the global Limit operator. */
  override def pushLimit(n: Int): Boolean = { limit = n.toLong; true }

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    val translated = filters.flatMap(f => toExpr(f).map(e => (f, e)))
    pushed = translated.map(_._1)
    expr = translated.map(_._2).foldLeft(AlwaysTrue: Expr)(And(_, _))
    // return everything as post-scan filters: Spark re-evaluates, so a
    // may-match pruning translation can never drop correctness
    filters
  }

  override def pushedFilters(): Array[sources.Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // `_file` / `_pos` are metadata columns (SupportsMetadataColumns), not
    // data columns: strip them here, re-append LAST in the scan's
    // readSchema so readers emit [data columns..., _file, _pos]
    emitFile = requiredSchema.fieldNames.contains(GraftSparkTable.FileColumn) ||
      requiredSchema.fieldNames.contains(GraftSparkTable.PosColumn)
    emitPos = requiredSchema.fieldNames.contains(GraftSparkTable.PosColumn)
    emitLineage = requiredSchema.fieldNames.contains(GraftSparkTable.RowIdColumn) ||
      requiredSchema.fieldNames.contains(GraftSparkTable.LastUpdatedColumn)
    required = StructType(requiredSchema.fields.filterNot(f =>
      f.name == GraftSparkTable.FileColumn || f.name == GraftSparkTable.PosColumn ||
        f.name == GraftSparkTable.RowIdColumn ||
        f.name == GraftSparkTable.LastUpdatedColumn))
  }

  private def toExpr(f: sources.Filter): Option[Expr] = GraftFilters.toExpr(f)

  /** COUNT(*)/COUNT(col)/MIN/MAX answered from MANIFEST stats — the SQL
    * face of the library's metadata count() short-circuit (Scan.scala
    * count(); ref table/__init__.py:2341): `SELECT count(*) FROM t` on a
    * 100 TB table reads zero data bytes. Only COMPLETE pushdown is
    * offered, and only when the stats make the answer exact (see
    * GraftAggPushdown.compute); Spark re-plans the normal scan otherwise. */
  // Spark probes supportCompletePushDown then pushAggregation with the
  // same aggregation — memoize so file planning (a manifest walk on a
  // big table) runs once per query, not twice
  private var aggMemo: (String, Option[(StructType, Seq[Array[Any]])]) = null

  private def computeAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Array[Any]])] = {
    val key = s"$agg|$expr"
    if (aggMemo == null || aggMemo._1 != key)
      aggMemo = (key, GraftAggPushdown.compute(table, snapshotId, expr, agg, schemaAt))
    aggMemo._2
  }

  // a planned read covers an explicit task subset with its own deletes;
  // manifest stats describe the whole snapshot, so they cannot answer it
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    planned.isEmpty && computeAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    aggResult = if (planned.isEmpty) computeAgg(agg) else None
    aggResult.isDefined
  }

  override def build(): Scan = aggResult match {
    case Some((schema, rows)) => new GraftAggScan(schema, rows)
    case None =>
      val scan = new GraftScan(table, expr, required, limit, snapshotId,
        Option(options.get("max-snapshots-per-trigger")).map(_.toInt), emitFile, emitPos,
        schemaAtOrNull = schemaAt, emitLineage = emitLineage,
        maxBytesPerTrigger =
          Option(options.get("max-bytes-per-trigger")).map(_.toLong),
        // a group-based row-level operation rewrites EVERY row of each
        // selected file: there, pushed filters select files, never rows
        pushedFilters = if (wholeFiles) Array.empty else pushed, planned = planned)
      // the row-level operation's write needs THIS scan at commit (the
      // CoW replacement group / the delta conflict filter)
      onScanBuilt(scan)
      scan
  }
}

object GraftAggPushdown {
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.connector.expressions.NamedReference

  /** Test seam: description of the last aggregation answered from
    * metadata in this JVM ("count(*),min(x)"), if any. */
  @volatile var lastPushed: Option[String] = None

  /** Spark-internal value for an aggregate output cell. Bounds decode to
    * plain JVM values (Conversions.fromBytes); Spark internal rows want
    * UTF8String/Decimal forms. */
  private def internalValue(v: Any, t: IceType): Any = v match {
    case null => null
    case bd: java.math.BigDecimal => Decimal(bd)
    case s: String => UTF8String.fromString(s)
    case other => other
  }

  /** None ⟹ not answerable exactly from metadata (Spark then runs the
    * normal scan). Some((schema, rows)) ⟹ the complete answer — one row
    * globally, or one row per group when grouping by IDENTITY partition
    * columns (files then partition the groups exactly, so per-group
    * manifest arithmetic is exact: `SELECT day, count(*) … GROUP BY day`
    * on a day-partitioned 100 TB table reads zero data bytes).
    *
    * Exactness rules per aggregate:
    *  - count(*): residual-free tasks contribute record_count; a task
    *    whose ONLY delete is a v3 deletion vector contributes
    *    record_count − DV cardinality (manifest field 144). Any other
    *    delete ⟹ unanswerable.
    *  - count(col): value_count − null_count, required in EVERY file;
    *    no deletes (a delete may remove counted rows).
    *  - min/max(col): lower/upper bounds in EVERY file; no deletes (a
    *    delete may remove the extreme row); not float/double (NaN is not
    *    ordered in bounds), not string/binary/fixed/uuid (bounds are
    *    truncate(16)-mode prefixes — an upper bound is not an attained
    *    max). Bool/int/long/date/time/ts/decimal bounds are exact.
    *
    * Filters: Spark only pushes aggregates when no post-scan Filter
    * remains; this source reports every filter as post-scan, so `expr`
    * is AlwaysTrue here — asserted defensively. */
  def compute(table: IceTable, snapshotId: Option[Long], expr: Expr,
      agg: Aggregation,
      schemaAtOrNull: Option[Long] = null): Option[(StructType, Seq[Array[Any]])] = {
    if (expr != AlwaysTrue) return None
    val schemaAt = if (schemaAtOrNull == null) snapshotId else schemaAtOrNull
    val schema = GraftSparkTable.schemaOf(table, schemaAt)

    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[graft.core.NestedField] = e match {
      case r: NamedReference => schema.findField(r.fieldNames.mkString("."))
      case _ => None
    }

    val base = table.scan
    val pinned = snapshotId.fold(base)(base.useSnapshot)
    val tasks = pinned.planFiles()

    // grouping: every groupBy column must be an IDENTITY partition source
    // in the ONE spec every task shares — then a group = a set of whole
    // files and per-group stats arithmetic is exact
    val groupFields: Seq[graft.core.NestedField] =
      agg.groupByExpressions().toSeq.map(e => fieldOf(e).getOrElse(return None))
    val groupIdx: Seq[Int] =
      if (groupFields.isEmpty) Nil
      else {
        val specIds = tasks.map(_.file.specId).distinct
        if (specIds.sizeIs > 1) return None
        val spec = table.metadata.specById(specIds.headOption.getOrElse(
          table.metadata.defaultSpecId))
        groupFields.map { f =>
          val i = spec.fields.indexWhere(pf =>
            pf.sourceId == f.id && pf.transform == IdentityTransform)
          if (i < 0) return None
          i
        }
      }

    def normGroupKey(p: Seq[Any]): Seq[Any] =
      groupIdx.map(i => p(i) match { case a: Array[Byte] => (a.toSeq: Any); case x => x })

    def aggregateGroup(ts: Seq[graft.table.FileScanTask]): Option[Seq[Any]] = {
      val anyDeletes = ts.exists(_.deletes.nonEmpty)
      lazy val countStarOk = ts.forall(t => t.deletes.isEmpty ||
        (t.deletes.sizeIs == 1 && t.deletes.head.isDeletionVector))
      def countStar: Option[Any] =
        if (countStarOk)
          Some(java.lang.Long.valueOf(ts.map(t =>
            t.file.recordCount - t.deletes.headOption.map(_.recordCount).getOrElse(0L)).sum))
        else None

      def countCol(f: graft.core.NestedField): Option[Any] =
        if (!anyDeletes && ts.forall(t => t.file.valueCounts.contains(f.id) &&
            t.file.nullValueCounts.contains(f.id)))
          Some(java.lang.Long.valueOf(ts.map(t =>
            t.file.valueCounts(f.id) - t.file.nullValueCounts(f.id)).sum))
        else None

      def boundsExact(t: IceType): Boolean = t match {
        case IBoolean | IInt | ILong | IDate | ITime | ITimestamp | ITimestamptz |
             IDecimal(_, _) => true
        case _ => false // float/double (NaN), string/binary/fixed/uuid (truncation)
      }

      def minMax(f: graft.core.NestedField, isMin: Boolean): Option[Any] = {
        if (anyDeletes || !boundsExact(f.fieldType)) return None
        val bounds = ts.map(t =>
          if (isMin) t.file.lowerBounds.get(f.id) else t.file.upperBounds.get(f.id))
        // a file of ONLY nulls for f legitimately has no bound — it cannot
        // hold the extreme, so it may be skipped; a file with non-null
        // values but missing stats makes the answer inexact
        val perFile = ts.zip(bounds).flatMap { case (t, b) =>
          val nonNull = for {
            vc <- t.file.valueCounts.get(f.id)
            nc <- t.file.nullValueCounts.get(f.id)
          } yield vc - nc
          (b, nonNull) match {
            case (Some(v), _) => Seq(Some(v))
            case (None, Some(0L)) => Nil // all-null file: no bound needed
            case _ => Seq(None) // unknown: give up
          }
        }
        if (perFile.exists(_.isEmpty)) return None
        val vs = perFile.flatten
        if (vs.isEmpty) Some(internalValue(null, f.fieldType)) // all-null group → NULL
        else {
          val pick = vs.reduceLeft { (a, b) =>
            val le = Literals.compare(f.fieldType, a, b) <= 0
            if (le == isMin) a else b
          }
          Some(internalValue(pick, f.fieldType))
        }
      }

      val out = Seq.newBuilder[Any]
      agg.aggregateExpressions().foreach {
        case _: CountStar => out += (countStar getOrElse (return None))
        case c: Count if !c.isDistinct =>
          out += (fieldOf(c.column).flatMap(countCol) getOrElse (return None))
        case m: Min =>
          val f = fieldOf(m.column).getOrElse(return None)
          out += (minMax(f, isMin = true) getOrElse (return None))
        case m: Max =>
          val f = fieldOf(m.column).getOrElse(return None)
          out += (minMax(f, isMin = false) getOrElse (return None))
        case _ => return None
      }
      Some(out.result())
    }

    // output schema: groupBy columns first, then aggregates (Spark's
    // complete-pushdown contract is positional)
    val aggFields: Seq[StructField] = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => StructField("count(*)", LongType, nullable = false)
      case c: Count => StructField(s"count(${c.column})", LongType, nullable = false)
      case m: Min =>
        val f = fieldOf(m.column).getOrElse(return None)
        StructField(s"min(${m.column})", SchemaConv.toSparkField(f).dataType)
      case m: Max =>
        val f = fieldOf(m.column).getOrElse(return None)
        StructField(s"max(${m.column})", SchemaConv.toSparkField(f).dataType)
      case _ => return None
    }
    val outSchema = StructType(
      groupFields.map(f => StructField(f.name, SchemaConv.toSparkField(f).dataType)) ++
        aggFields)

    val rows: Seq[Array[Any]] =
      if (groupFields.isEmpty)
        Seq(aggregateGroup(tasks).getOrElse(return None).toArray)
      else tasks.groupBy(t => normGroupKey(t.file.partition)).toSeq
        .map { case (_, ts) =>
          val keyVals = groupIdx.zip(groupFields).map { case (i, f) =>
            internalValue(ts.head.file.partition(i), f.fieldType)
          }
          (keyVals ++ aggregateGroup(ts).getOrElse(return None)).toArray
        }

    lastPushed = Some((groupFields.map(f => s"group:${f.name}") ++
      agg.aggregateExpressions().toSeq.map {
        case _: CountStar => "count(*)"
        case c: Count => s"count(${c.column})"
        case m: Min => s"min(${m.column})"
        case m: Max => s"max(${m.column})"
        case other => other.toString
      }).mkString(","))
    Some((outSchema, rows))
  }
}

/** Read-only DSv2 table serving one METADATA table (snapshots / files /
  * partitions / …) through SQL — the reference's inspect API
  * (table/inspect.py) behind `SELECT * FROM cat.db.t.snapshots`. The
  * inspect frame is a driver-built metadata projection (row count ∝
  * manifests, not data), so the scan materializes it at planning time. */
class GraftMetadataTable(name0: String, df: org.apache.spark.sql.DataFrame)
    extends SparkTable with SupportsRead {
  override def name(): String = name0
  override def schema(): StructType = df.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new GraftRowsScan(df)
    }
}

/** DataFrame-backed scan served as a V1 relation: `buildScan()` returns
  * the frame's own DISTRIBUTED RDD, so the result — which for
  * `t.changes` / `t.changelog` / `t.position_deletes` / change-range
  * reads is row-sized, not descriptor-sized — never materializes on the
  * driver and keeps the source frame's partitioning. (The previous shape
  * executeCollect()ed into one partition: fine for the descriptor-sized
  * inspect tables it was built for, a driver-heap scale-killer once the
  * change feed became SQL-reachable.) */
class GraftRowsScan(df: org.apache.spark.sql.DataFrame)
    extends Scan with org.apache.spark.sql.connector.read.V1Scan {
  override def readSchema(): StructType = df.schema
  override def toV1TableScan[T <: sources.BaseRelation with sources.TableScan](
      context: org.apache.spark.sql.SQLContext): T =
    (new sources.BaseRelation with sources.TableScan {
      override def sqlContext: org.apache.spark.sql.SQLContext = context
      override def schema: StructType = df.schema
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = df.rdd
    }).asInstanceOf[T]
}

/** The tiny scan a completely-pushed aggregation builds: the answer rows
  * (one globally, or one per partition-column group) were computed on the
  * driver from manifest stats; the single input partition just emits
  * them. */
final case class GraftAggPartition(rows: Seq[Array[Any]]) extends InputPartition

class GraftAggScan(schema: StructType, rows: Seq[Array[Any]]) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftAggPartition(rows))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val it = partition.asInstanceOf[GraftAggPartition].rows.iterator
          private var current: Array[Any] = _
          override def next(): Boolean =
            if (it.hasNext) { current = it.next(); true } else false
          override def get(): InternalRow = new GenericInternalRow(current.clone())
          override def close(): Unit = ()
        }
    }
}

object GraftFilters {
  /** Spark pushes java.sql/LocalDate/Timestamp literals; flatten to types
    * the binder coerces. */
  def normalizeLiterals(e: Expr): Expr = {
    def norm(v: Any): Any = v match {
      case d: java.sql.Date => d.toLocalDate.toString
      case d: java.time.LocalDate => d.toString
      case t: java.sql.Timestamp =>
        t.toInstant.toEpochMilli * 1000L + (t.getNanos % 1000000) / 1000
      case i: java.time.Instant => i.toEpochMilli * 1000L
      case b: java.math.BigDecimal => b
      case other => other
    }
    e match {
      case And(l, r) => And(normalizeLiterals(l), normalizeLiterals(r))
      case Or(l, r) => Or(normalizeLiterals(l), normalizeLiterals(r))
      case Not(c) => Not(normalizeLiterals(c))
      case Eq(a, v, t) => Eq(a, norm(v), t)
      case NotEq(a, v, t) => NotEq(a, norm(v), t)
      case Lt(a, v, t) => Lt(a, norm(v), t)
      case LtEq(a, v, t) => LtEq(a, norm(v), t)
      case Gt(a, v, t) => Gt(a, norm(v), t)
      case GtEq(a, v, t) => GtEq(a, norm(v), t)
      case In(a, vs, t) => In(a, vs.map(norm), t)
      case NotIn(a, vs, t) => NotIn(a, vs.map(norm), t)
      case other => other
    }
  }

  /** sources.Filter → engine predicate (may-match translation). Shared by
    * compile-time pushdown and execution-time runtime filtering. */
  def toExpr(f: sources.Filter): Option[Expr] = f match {
    case sources.EqualTo(a, v) => Some(Eq(a, v))
    case sources.GreaterThan(a, v) => Some(Gt(a, v))
    case sources.GreaterThanOrEqual(a, v) => Some(GtEq(a, v))
    case sources.LessThan(a, v) => Some(Lt(a, v))
    case sources.LessThanOrEqual(a, v) => Some(LtEq(a, v))
    case sources.In(a, vs) => Some(In(a, vs.toSeq))
    case sources.IsNull(a) => Some(IsNull(a))
    case sources.IsNotNull(a) => Some(NotNull(a))
    case sources.StringStartsWith(a, p) => Some(StartsWith(a, p))
    case sources.And(l, r) =>
      (toExpr(l), toExpr(r)) match {
        case (Some(a), Some(b)) => Some(And(a, b))
        case (Some(a), None) => Some(a) // partial AND is still inclusive
        case (None, Some(b)) => Some(b)
        case _ => None
      }
    case sources.Or(l, r) =>
      for { a <- toExpr(l); b <- toExpr(r) } yield Or(a, b)
    case sources.Not(c) => toExpr(c).map(Not(_))
    case _ => None
  }

  /** EXACT translation for row-mutating paths (DELETE WHERE, OVERWRITE by
    * filter): unlike [[toExpr]], a partially-translatable AND returns None —
    * a weakened predicate would delete MORE rows than the query asked. */
  def toExprExact(f: sources.Filter): Option[Expr] = f match {
    case sources.And(l, r) =>
      for { a <- toExprExact(l); b <- toExprExact(r) } yield And(a, b)
    case sources.Or(l, r) =>
      for { a <- toExprExact(l); b <- toExprExact(r) } yield Or(a, b)
    case sources.Not(c) => toExprExact(c).map(Not(_))
    case sources.EqualNullSafe(a, v) =>
      Some(if (v == null) IsNull(a) else Eq(a, v)) // Eq never matches null
    case leaf => toExpr(leaf)
  }
}

/** A delete source applicable to one data file, resolved EXECUTOR-side
  * through the [[DeleteIndex]]. `contentOffset >= 0` marks a v3
  * deletion-vector blob inside a puffin file (ranged read); `-1` marks a
  * parquet position-delete file. `fileSize` is the manifest's
  * `file_size_in_bytes` of the delete (or puffin) file: with the path it
  * names one immutable file. */
final case class DeleteFileRef(path: String, contentOffset: Long, contentSize: Long,
    fileSize: Long)

object DeleteFileRef {
  /** The ref of a position-delete file or DV manifest entry. */
  def of(f: graft.meta.DataFile): DeleteFileRef =
    if (f.isDeletionVector)
      DeleteFileRef(f.filePath,
        f.contentOffset.getOrElse(throw new IllegalStateException(
          s"Deletion vector ${f.filePath} lacks content-offset")),
        f.contentSizeInBytes.getOrElse(f.fileSizeInBytes), f.fileSizeInBytes)
    else DeleteFileRef(f.filePath, -1L, -1L, f.fileSizeInBytes)
}

/** An equality-delete file applicable to one data file (already
  * sequence-filtered by the planner: it only ships with data files
  * strictly older than the delete). `ids` are the equality field ids. */
final case class EqDeleteRef(path: String, fileSize: Long, ids: Array[Int])

final case class GraftInputPartition(
    filePath: String,
    readSchemaJson: String,
    /** position-delete sources for this file; positions are resolved in
      * the reader so the driver never materializes delete rows. */
    deletes: Array[DeleteFileRef],
    /** stop after this many emitted rows (pushed limit), -1 = none. */
    limit: Long,
    /** GLOBAL vectorized-read decision, identical across every partition
      * of a scan: Spark's DataSourceV2ScanExecBase requires all-columnar
      * or all-row (mixing throws at planning), so the scan — which sees
      * every task — decides once. Columnar needs every file delete-free
      * AND library-written (field-id-bearing); external add_files parquet
      * lacks ids and would silently null-fill under the id-keyed
      * vectorized reader. */
    columnar: Boolean = false,
    /** equality-delete files for this data file, applied in the reader. */
    eqDeletes: Array[EqDeleteRef] = Array.empty,
    /** schema (field id/name/type) for every id referenced by eqDeletes —
      * those fields may be absent from the pruned read schema but must
      * still be read from the data file to apply the deletes. */
    eqSchemaJson: String = "",
    /** data-file format ("PARQUET" | "ORC") — selects the reader. */
    fileFormat: String = "PARQUET",
    /** byte range of the file this partition reads (row groups whose
      * midpoint falls inside, the parquet split rule) — large DELETE-FREE
      * files are split at row-group boundaries so one 4 GB file is not
      * one task. (0, Long.MaxValue) = whole file. */
    splitStart: Long = 0L,
    splitLength: Long = Long.MaxValue,
    /** append the `_file` metadata column (canon source path) after the
      * data columns — requested by the row-level operations' scans. */
    emitFile: Boolean = false,
    /** append the `_pos` metadata column (row position in the file) after
      * `_file` — the rowId half of the merge-on-read delta operations. */
    emitPos: Boolean = false,
    /** append the v3 lineage columns `_row_id` / `_last_updated_sequence_number`
      * last: materialized values from rewritten files win, otherwise
      * firstRowId + position / the file's data sequence number. */
    emitLineage: Boolean = false,
    /** the file's inherited first_row_id (v3 lineage), -1 when absent. */
    firstRowId: Long = -1L,
    /** the file entry's data sequence number (v3 lineage). */
    dataSeq: Long = -1L,
    /** columns resolve by NAME: `readSchemaJson` carries the name
      * mapping's registration-time names at every nesting level (files
      * registered by add_files carry no field ids). */
    byName: Boolean = false,
    /** pushed filters, pruning parquet row groups by their statistics;
      * `filterIds` maps each filter column (current name) to its field
      * id, so the reader can rename it to this file's own column. */
    filters: Array[sources.Filter] = Array.empty,
    filterIds: Map[String, Int] = Map.empty) extends InputPartition

/** Tasks an [[graft.table.IceScan]] has already planned, and the schema
  * their columns resolve against: the table-API reads run on
  * [[GraftScan]] through this instead of re-planning. */
final case class PlannedRead(tasks: Seq[graft.table.FileScanTask], schema: Schema)

object GraftScan {
  /** Test seam: partition count of the last planInputPartitions in this
    * JVM, and whether a runtime filter had been pushed by then. */
  @volatile var lastPlannedPartitions: Int = -1
  @volatile var lastRuntimeFiltered: Boolean = false

  /** `schema` restricted to the columns of `required` — struct members
    * too, so Spark's nested schema pruning reaches the parquet request. */
  private[spark] def prunedTo(schema: Schema, required: StructType): Schema = {
    def tpe(t: IceType, dt: DataType): IceType = (t, dt) match {
      case (IStruct(fs), st: StructType) =>
        IStruct(st.fields.toSeq.flatMap(sf => fs.find(_.name == sf.name).map(f =>
          f.copy(fieldType = tpe(f.fieldType, sf.dataType)))))
      case (IList(eid, el, req), at: ArrayType) => IList(eid, tpe(el, at.elementType), req)
      case (IMap(kid, k, vid, v, req), mt: MapType) =>
        IMap(kid, tpe(k, mt.keyType), vid, tpe(v, mt.valueType), req)
      case _ => t
    }
    Schema(required.fields.toSeq.flatMap(sf => schema.fields.find(_.name == sf.name).map(f =>
      f.copy(fieldType = tpe(f.fieldType, sf.dataType)))))
  }

  /** `schema` under the name mapping's registration-time names at every
    * nesting level (ref name_mapping.py:73 MappedField nests through
    * elements and key/value); unmapped ids keep their current names. */
  private[spark] def mapped(schema: Schema, mapping: Seq[MappedField]): Schema = {
    def field(scope: Seq[MappedField], f: NestedField): NestedField =
      f.copy(name = NameMapping.nameOf(scope, f.id).getOrElse(f.name),
        fieldType = tpe(NameMapping.childScope(scope, f.id), f.fieldType))
    def tpe(scope: Seq[MappedField], t: IceType): IceType = t match {
      case IStruct(fs) => IStruct(fs.map(field(scope, _)))
      case IList(eid, el, req) => IList(eid, tpe(NameMapping.childScope(scope, eid), el), req)
      case IMap(kid, k, vid, v, req) => IMap(kid, tpe(NameMapping.childScope(scope, kid), k),
        vid, tpe(NameMapping.childScope(scope, vid), v), req)
      case other => other
    }
    Schema(schema.fields.map(field(mapping, _)))
  }

  /** How each data file of one scan is read — shared by the batch scan
    * and the micro-batch stream. Library-written parquet resolves columns
    * by field id; every other file (add_files parquet, any ORC file)
    * resolves by the name mapping. Rows come out positionally, so only
    * the requested names differ. */
  private[spark] final class FileReads(table: IceTable, readSchema: Schema,
      eqSchema: Schema, filters: Array[sources.Filter]) {
    private def json(s: Schema): String = MetadataJson.schemaToJson(s).toString
    private val readJson = json(readSchema)
    private val eqJson = if (eqSchema.fields.isEmpty) "" else json(eqSchema)
    private lazy val mapping = table.nameMappingNested
    private lazy val mappedReadJson = json(mapped(readSchema, mapping))
    private lazy val mappedEqJson =
      if (eqSchema.fields.isEmpty) "" else json(mapped(eqSchema, mapping))
    // row groups prune only on columns whose stored values ARE the public
    // ones: not uuid / ns (rewritten after decode), not the lineage pair
    // (coalesced with inheritance), not `unknown` (never stored)
    private val filterIds: Map[String, Int] = readSchema.fields.collect {
      case f if f.fieldType.isPrimitive && f.fieldType != IUnknown &&
          !UuidCompat.hasUuid(f.fieldType) && !UuidCompat.hasNs(f.fieldType) &&
          !RowLineage.fields.exists(_.id == f.id) => f.name -> f.id
    }.toMap
    private val usable = filters.filter(_.references.forall(filterIds.contains))

    /** Columnar batches leave Spark's decoder untouched: no column may
      * need a per-row rewrite (uuid, ns timestamps, `unknown`, initial
      * defaults). */
    val vectorizable: Boolean = !UuidCompat.hasUuid(readSchema) &&
      !UuidCompat.hasNs(readSchema) &&
      !readSchema.fields.exists(f => f.fieldType == IUnknown || f.initialDefault.isDefined)

    private def own(f: graft.meta.DataFile): Boolean =
      graft.core.PathUtil.underDataRoot(table.location, f.filePath)

    /** library-written parquet: field ids drive the vectorized decoder,
      * the file may split and serve columnar batches */
    def parquetOwn(f: graft.meta.DataFile): Boolean =
      f.fileFormat.toUpperCase == "PARQUET" && own(f)

    def partition(t: graft.table.FileScanTask, limit: Long,
        columnar: Boolean): GraftInputPartition = {
      val fmt = t.file.fileFormat.toUpperCase
      // typed rejection, not a decode crash: the manifest FileFormat enum
      // admits AVRO (ref manifest.py:114) but neither this engine nor the
      // reference reads avro-format DATA files
      if (fmt != "PARQUET" && fmt != "ORC")
        throw new UnsupportedOperationException(
          s"Cannot read data files in format $fmt (file: ${t.file.filePath}); " +
            "supported: PARQUET, ORC")
      val byName = fmt == "ORC" || !own(t.file)
      val (eqFiles, posFiles) =
        t.deletes.partition(_.content == graft.meta.FileContent.EqualityDeletes)
      // ship delete SOURCES (paths + blob ranges), not positions: each
      // reader resolves its own file's deletes executor-side, so driver
      // memory is independent of delete volume (ref per-task delete reads
      // io/pyarrow.py:1441 _task_to_table)
      val dels = posFiles.map(DeleteFileRef.of).toArray
      val eqs = eqFiles.map(f =>
        EqDeleteRef(f.filePath, f.fileSizeInBytes, f.equalityIds.toArray)).toArray
      GraftInputPartition(t.file.filePath, if (byName) mappedReadJson else readJson,
        dels, limit, columnar, eqs, if (byName) mappedEqJson else eqJson,
        fileFormat = fmt, byName = byName,
        filters = if (fmt == "PARQUET") usable else Array.empty, filterIds = filterIds)
    }
  }
}

/** An input partition carrying its file's partition-tuple key, so Spark
  * can group co-partitioned splits and plan STORAGE-PARTITIONED JOINS
  * (no shuffle on either side when two tables share a partitioning).
  * Wraps rather than extends the task case class; readers unwrap. */
final class GraftKeyedInputPartition(val inner: GraftInputPartition,
    keyValues: Array[Any]) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = new GenericInternalRow(keyValues)
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Several small files bin-packed into ONE scan task: a task per file
  * would mean a million Spark tasks on a million-file table — scheduling
  * overhead alone dwarfs the reads. Packed with the same policy Spark's
  * file sources use (target split size capped below by open-cost and by
  * total/defaultParallelism so small tables keep their parallelism). */
final case class GraftMultiFilePartition(parts: Array[GraftInputPartition])
    extends InputPartition

class GraftScan(table: IceTable, expr: Expr, required: StructType,
    pushedLimit: Long = -1L, snapshotId: Option[Long] = None,
    maxSnapshotsPerTrigger: Option[Int] = None,
    emitFile: Boolean = false, emitPos: Boolean = false,
    schemaAtOrNull: Option[Long] = null, emitLineage: Boolean = false,
    maxBytesPerTrigger: Option[Long] = None,
    pushedFilters: Array[sources.Filter] = Array.empty,
    planned: Option[PlannedRead] = None)
    extends Scan with Batch with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with SupportsReportStatistics with SupportsReportPartitioning {

  private val schemaAt: Option[Long] =
    if (schemaAtOrNull == null) snapshotId else schemaAtOrNull

  /** The schema columns resolve against: the planned read's own, else the
    * pinned snapshot's (current when unpinned). */
  private val engineSchema: Schema =
    planned.map(_.schema).getOrElse(GraftSparkTable.schemaOf(table, schemaAt))

  /** The residual reaches the readers as a per-file row-group predicate;
    * Spark still re-applies every filter to the rows. */
  override def description(): String =
    s"GraftScan ${table.name} PushedFilters: ${pushedFilters.mkString("[", ", ", "]")}, " +
      s"ReadSchema: ${readSchema().catalogString}"

  override def readSchema(): StructType =
    if (!emitFile && !emitLineage) required
    else StructType(required.fields ++
      (if (emitFile) Seq(org.apache.spark.sql.types.StructField(GraftSparkTable.FileColumn,
        org.apache.spark.sql.types.StringType, nullable = false)) else Nil) ++
      (if (emitPos) Seq(org.apache.spark.sql.types.StructField(GraftSparkTable.PosColumn,
        org.apache.spark.sql.types.LongType, nullable = false)) else Nil) ++
      (if (emitLineage) Seq(
        org.apache.spark.sql.types.StructField(GraftSparkTable.RowIdColumn,
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField(GraftSparkTable.LastUpdatedColumn,
          org.apache.spark.sql.types.LongType, nullable = false)) else Nil))

  override def toBatch: Batch = this

  /** One planning pass shared by estimateStatistics (logical planning) and
    * planInputPartitions (physical), re-run only when runtime filtering
    * tightens the predicate between the two. */
  @volatile private var planCache: ((Expr, Option[Set[String]]), Seq[graft.table.FileScanTask]) = null

  private def combinedExpr: Expr =
    if (runtimeExpr == AlwaysTrue) expr else And(expr, runtimeExpr)

  private[spark] def plannedTasks(): Seq[graft.table.FileScanTask] = {
    val key = (combinedExpr, runtimeFiles)
    val cached = planCache
    if (planned.isDefined) planned.get.tasks
    else if (cached != null && cached._1 == key) cached._2
    else {
      val base = table.scan.filter(GraftFilters.normalizeLiterals(key._1))
      val pinned0 = snapshotId.fold(base)(base.useSnapshot)
      // branch tables (schemaAt=None, snapshotId=head): bind names to the
      // CURRENT schema while planning the pinned files
      val pinned = if (snapshotId.isDefined && schemaAt.isEmpty)
        pinned0.withCurrentSchema else pinned0
      val all = pinned.planFiles()
      // runtime GROUP filter (row-level ops): keep only the named files
      val tasks = runtimeFiles match {
        case Some(keep) => all.filter(t =>
          keep.contains(graft.core.PathUtil.canon(t.file.filePath)))
        case None => all
      }
      planCache = (key, tasks)
      tasks
    }
  }

  /** The condition this scan planned with — the row-level operation's
    * write uses it as the commit's conflict filter. */
  private[spark] def planExpr: Expr = expr

  /** POST-PRUNING stats for Spark's planner: a selective partition filter
    * shrinks sizeInBytes below the broadcast threshold, so joins against a
    * pruned dimension scan broadcast instead of shuffling — without this,
    * DSv2 relations default to "unknown = huge" and every join on the SQL
    * face shuffles at 100 TB (the library face gets the same effect from
    * toDF reading only the planned files). numRows subtracts exact v3 DV
    * cardinalities; other deletes leave it an upper bound (estimate-safe). */
  override def estimateStatistics(): Statistics = {
    val tasks = plannedTasks()
    var rows = 0L
    var bytes = 0L
    tasks.foreach { t =>
      val dvRemoved = t.deletes.filter(_.isDeletionVector).map(_.recordCount).sum
      rows += math.max(0L, t.file.recordCount - dvRemoved)
      bytes += t.file.fileSizeInBytes
    }
    val limited = if (pushedLimit >= 0) math.min(rows, pushedLimit) else rows
    // scale bytes to the pruned column set via on-disk column sizes, so a
    // 2-column projection of a wide table reports 2 columns' bytes
    val names = required.fieldNames.toSet
    val wantedIds = engineSchema.fields
      .filter(f => names.contains(f.name)).map(_.id).toSet
    val (wantedBytes, allBytes) = tasks.foldLeft((0L, 0L)) { case ((w, a), t) =>
      val cs = t.file.columnSizes
      (w + cs.filter { case (id, _) => wantedIds.contains(id) }.values.sum, a + cs.values.sum)
    }
    val projected =
      if (allBytes > 0L && wantedBytes > 0L)
        (bytes.toDouble * wantedBytes / allBytes).toLong.max(1L)
      else bytes
    val scaled = if (rows > 0 && limited < rows)
      (projected.toDouble * limited / rows).toLong.max(1L) else projected
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(scaled)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(limited)
    }
  }

  /** Runtime filtering (dynamic partition pruning): Spark re-plans this
    * scan at EXECUTION time with e.g. the IN-set of join keys observed on
    * a broadcast side — file planning (manifest → partition → stats
    * pruning) then reruns against the tightened predicate, so a selective
    * dimension join reads only matching partitions. Offered attributes are
    * the partition-transform SOURCE columns: only those can prune files. */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // a planned read's file set is fixed: nothing left to prune at runtime
    if (planned.isDefined) return Array.empty
    val specSourceIds = table.metadata.partitionSpecs.flatMap(_.fields.map(_.sourceId)).distinct
    // only columns surviving column pruning: Spark resolves these against
    // the scan OUTPUT, and an unresolvable reference fails analysis of any
    // pruned scan (a projection rarely keeps the partition source column)
    val visible = required.fieldNames.toSet
    val cols = specSourceIds.flatMap(id => table.schema.byId.get(id))
      .filter(f => visible.contains(f.name))
      .map(f => org.apache.spark.sql.connector.expressions.Expressions.column(f.name))
    // _file prunes files directly — the row-level ops' runtime GROUP
    // filter (RowLevelOperationRuntimeGroupFiltering) arrives as
    // `_file IN (matched paths)`
    (if (emitFile) cols :+
      org.apache.spark.sql.connector.expressions.Expressions.column(GraftSparkTable.FileColumn)
    else cols).toArray
  }

  @volatile private var runtimeExpr: Expr = AlwaysTrue
  @volatile private var runtimeFiles: Option[Set[String]] = None

  override def filter(filters: Array[sources.Filter]): Unit = {
    val (fileIn, rest) = filters.partition {
      case sources.In(att, _) => att == GraftSparkTable.FileColumn
      case _ => false
    }
    fileIn.foreach { case sources.In(_, values) =>
      val keep = values.collect { case s: String => s }.toSet
      runtimeFiles = Some(runtimeFiles.fold(keep)(_ intersect keep))
    }
    val translated = rest.flatMap(GraftFilters.toExpr)
    if (translated.nonEmpty)
      runtimeExpr = translated.foldLeft(runtimeExpr)(And(_, _))
  }

  /** V2 runtime filtering (the row-level group-filtering rule speaks V2
    * predicates): translate to V1 and reuse the same paths. */
  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    filter(org.apache.spark.sql.GraftBridge.predicatesToV1(predicates))

  // ---- storage-partitioned joins ----------------------------------------

  /** SPJ is gated on Spark's own v2-bucketing conf: reporting a
    * KeyGroupedPartitioning is only useful (and only honored) when the
    * planner may group splits by key. */
  private def spjEnabled: Boolean =
    table.spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false")
      .equalsIgnoreCase("true")

  /** V2 transforms + partition-tuple types when EVERY planned task lives
    * in one non-empty spec whose transforms are all groupable — the
    * precondition for exposing the table's layout as a
    * KeyGroupedPartitioning. Mixed specs (mid-evolution tables) fall back
    * to unknown partitioning: their tuples aren't comparable across specs. */
  private def keyGrouping(tasks: Seq[graft.table.FileScanTask])
      : Option[(Array[org.apache.spark.sql.connector.expressions.Expression],
                Seq[IceType])] = {
    if (tasks.isEmpty) return None
    val specIds = tasks.map(_.file.specId).distinct
    if (specIds.sizeIs != 1) return None
    val spec = table.metadata.specById(specIds.head)
    if (spec.fields.isEmpty) return None
    val schema = engineSchema
    import org.apache.spark.sql.connector.expressions.{Expressions => Xs}
    val exprs = spec.fields.map { pf =>
      val src = schema.byId.get(pf.sourceId).getOrElse(return None)
      pf.transform match {
        case IdentityTransform => Xs.identity(src.name)
        case BucketTransform(n) => Xs.bucket(n, src.name)
        case TruncateTransform(w) => Xs.apply("truncate", Xs.literal(w), Xs.column(src.name))
        case YearTransform => Xs.years(src.name)
        case MonthTransform => Xs.months(src.name)
        case DayTransform => Xs.days(src.name)
        case HourTransform => Xs.hours(src.name)
        case _ => return None // void/unknown: not a grouping
      }
    }
    Some((exprs.toArray, spec.partitionType(schema).map(_.fieldType)))
  }

  /** Partition tuples normalized for equality (byte[] hashes by identity). */
  private def tupleKey(p: Seq[Any]): Seq[Any] =
    p.map { case a: Array[Byte] => (a.toSeq: Any); case x => x }

  /** The table's physical layout as Spark partitioning: co-partitioned
    * scans then join WITHOUT a shuffle on either side (the planner groups
    * splits by the partition key rows the tasks carry). On a 100 TB
    * fact⋈fact join over same-bucketed tables this is the difference
    * between two full shuffles and none. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.read.partitioning._
    val grouping = if (spjEnabled) keyGrouping(plannedTasks()) else None
    grouping match {
      case Some((exprs, _)) =>
        val n = plannedTasks().map(t => tupleKey(t.file.partition)).distinct.size
        new KeyGroupedPartitioning(exprs, n)
      case None => new UnknownPartitioning(0)
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val tasks = plannedTasks()
    GraftScan.lastPlannedPartitions = tasks.size
    GraftScan.lastRuntimeFiltered = runtimeExpr != AlwaysTrue
    // requested engine schema = the engine schema pruned to the required
    // columns, nested members included (time travel projects with the
    // schema as of that snapshot). Lineage scans additionally request the
    // reserved materialized-lineage columns by field id (rewritten files
    // carry them; everything else null-fills) — the append-reader
    // coalesces them with inheritance
    val readSchema = Schema(GraftScan.prunedTo(engineSchema, required).fields ++
      (if (emitLineage) graft.core.RowLineage.fields else Nil))
    if (emitLineage) {
      // ORC lineage works too: GraftOrcPartitionReader tracks absolute
      // row positions (HasRowPosition) just like the parquet row readers
      require(table.metadata.formatVersion >= 3,
        s"Row lineage requires format version >= 3 (table is v${table.metadata.formatVersion})")
    }

    // equality-delete key fields may fall outside the pruned columns; ship
    // their (id, name, type) so readers can still pull them from data files
    val eqIds = tasks.flatMap(_.deletes)
      .filter(_.content == graft.meta.FileContent.EqualityDeletes)
      .flatMap(_.equalityIds).distinct
    val eqSchema = Schema(engineSchema.fields.filter(f => eqIds.contains(f.id)))
    val reads = new GraftScan.FileReads(table, readSchema, eqSchema, pushedFilters)
    // _file emission rides the row readers (a constant-per-file column
    // appended post-decode); row-level-op scans are not the hot read path
    val allColumnar = !emitFile && !emitLineage && reads.vectorizable &&
      tasks.forall(t => t.deletes.isEmpty && reads.parquetOwn(t.file))
    // when the scan reported a KeyGroupedPartitioning, every partition
    // MUST carry its key (Spark groups them; a keyless partition would
    // fail the whole scan) — same gating as outputPartitioning
    val grouping = if (spjEnabled) keyGrouping(tasks) else None
    val pairs = tasks.map { t =>
      (t, reads.partition(t, pushedLimit, allColumnar).copy(
        emitFile = emitFile, emitPos = emitPos,
        emitLineage = emitLineage,
        firstRowId = if (!emitLineage) -1L else t.file.firstRowId.getOrElse(
          throw new IllegalStateException(
            s"${t.file.filePath} has no first_row_id — written before the table became v3? " +
              "Row lineage covers rows committed under format version 3")),
        dataSeq = t.dataSequenceNumber))
    }
    // key-grouped partitions are packed by Spark itself (same-key splits
    // land in one task group); everything else is range-split and
    // bin-packed so a million-file table isn't a million tasks and one
    // 4 GB file isn't one task
    grouping match {
      case Some((_, types)) =>
        pairs.map { case (t, base) =>
          val key = t.file.partition.zip(types)
            .map { case (v, _) => GraftFunctions.internalOf(v) }.toArray
          new GraftKeyedInputPartition(base, key): InputPartition
        }.toArray
      case None =>
        val target = splitTarget(pairs.map(_._1.file.fileSizeInBytes))
        binPack(pairs.flatMap { case (t, b) => splitRanges(t, b, target) }, target)
    }
  }

  /** Spark-file-source split policy: target = min(configured target,
    * max(open-cost, total/defaultParallelism)) — small tables keep their
    * parallelism, huge file counts collapse into ~total/target tasks. */
  private val OpenCost = 4L * 1024 * 1024

  private def splitTarget(sizes: Seq[Long]): Long = {
    val configured = table.spark.conf.getOption("spark.graft.read.split.target-size")
      .orElse(table.metadata.properties.get("read.split.target-size"))
      .map(_.toLong).getOrElse(128L * 1024 * 1024)
    val parallelism = math.max(1, table.spark.sparkContext.defaultParallelism)
    math.min(configured,
      math.max(OpenCost, sizes.map(_ + OpenCost).sum / parallelism))
  }

  /** A large DELETE-FREE library parquet file splits at row-group
    * boundaries (manifest split_offsets) into ~target-sized ranges; the
    * vectorized readers select row groups by the parquet midpoint rule.
    * Delete-bearing files never split: the position-delete skip walks a
    * whole-file row index. Returns (partition, weight) for bin-packing. */
  private def splitRanges(t: graft.table.FileScanTask, base: GraftInputPartition,
      target: Long): Seq[(GraftInputPartition, Long)] = {
    val size = t.file.fileSizeInBytes
    val offs = t.file.splitOffsets
    // emitPos forbids splitting: the reader's row index counts rows READ
    // in its range, so a split starting mid-file would report positions
    // relative to the split — and the delta operations would then delete
    // the WRONG rows by (file, pos)
    if (!(base.deletes.isEmpty && base.eqDeletes.isEmpty && !base.byName &&
        !base.emitPos && !base.emitLineage &&
        base.fileFormat == "PARQUET" && size > 2 * target && offs.sizeIs > 1))
      return Seq((base, size))
    val bounds = offs :+ size
    val out = Seq.newBuilder[(GraftInputPartition, Long)]
    var start = 0L
    var acc = 0L
    offs.indices.foreach { i =>
      acc += bounds(i + 1) - offs(i)
      if (acc >= target || i == offs.length - 1) {
        val end = bounds(i + 1)
        out += ((base.copy(splitStart = start, splitLength = end - start), end - start))
        start = end
        acc = 0L
      }
    }
    out.result()
  }

  private def binPack(weighted: Seq[(GraftInputPartition, Long)], target: Long)
      : Array[InputPartition] = {
    val out = Array.newBuilder[InputPartition]
    val bin = Seq.newBuilder[GraftInputPartition]
    var binW = 0L
    var binN = 0
    // Spark's FilePartition rule: a file joins the bin while the bin's
    // weight plus the file's bytes fit; every file then adds its open cost
    weighted.foreach { case (p, w) =>
      if (binN > 0 && binW + w > target) {
        val b = bin.result()
        out += (if (b.sizeIs == 1) b.head else GraftMultiFilePartition(b.toArray))
        bin.clear(); binW = 0L; binN = 0
      }
      bin += p; binW += w + OpenCost; binN += 1
    }
    if (binN > 0) {
      val b = bin.result()
      out += (if (b.sizeIs == 1) b.head else GraftMultiFilePartition(b.toArray))
    }
    out.result()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(GraftReaderFactory.sessionConfEntries(table.spark))

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    ScanMetrics.supported

  /** Streaming face: micro-batches of committed APPENDS; offsets are
    * snapshot ids (SURVEY §2.J — each micro-batch = one snapshot range,
    * the DSv2 MicroBatchStream the survey reserves a seam for). */
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // a pinned scan (time travel / branch_x / tag_x) must not silently
    // stream MAIN's appends; streaming follows the live main lineage only
    require(snapshotId.isEmpty,
      "streaming reads follow main — not a time-travel pin or a branch/tag table")
    new GraftMicroBatchStream(table, required, maxSnapshotsPerTrigger,
      maxBytesPerTrigger)
  }
}

final case class SnapshotOffset(snapshotId: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = snapshotId.toString
}

class GraftMicroBatchStream(table: IceTable, required: StructType,
    maxSnapshotsPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  override def initialOffset(): Offset = SnapshotOffset(0L) // table start

  /** Trigger.AvailableNow: pin the end of the run at prepare time, so the
    * stream drains bounded batches up to exactly this snapshot and stops
    * (later commits belong to the next run). */
  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    table.refresh()
    availableNowEnd = Some(table.metadata.currentSnapshotId.getOrElse(0L))
  }

  override def latestOffset(): Offset = {
    table.refresh()
    SnapshotOffset(table.metadata.currentSnapshotId.getOrElse(0L))
  }

  /** Admission control: a backfill over 10k committed snapshots becomes
    * bounded micro-batches instead of one giant batch. The batch-end
    * offset advances along the CURRENT snapshot's ancestry (offsets are
    * snapshot ids, so a batch is always a contiguous snapshot range);
    * `max-snapshots-per-trigger` caps snapshots per batch, and Spark's
    * maxFiles read limit caps by the snapshots' added-data-files
    * summaries (always admitting at least one snapshot so the stream
    * advances). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    table.refresh()
    val from = start.asInstanceOf[SnapshotOffset].snapshotId
    val cur = availableNowEnd
      .orElse(table.metadata.currentSnapshotId)
      .getOrElse(return SnapshotOffset(0L))
    if (cur == from) return SnapshotOffset(from)
    // oldest-first chain of snapshots strictly after `from`
    val chain = table.metadata.ancestorsOf(cur)
      .takeWhile(_.snapshotId != from).reverse
    val bySnapshots = maxSnapshotsPerTrigger.fold(chain)(n => chain.take(math.max(1, n)))
    // byte-budget admission (option("max-bytes-per-trigger", ...)): whole
    // snapshots admit under a cumulative byte budget from the commit
    // summaries' `added-files-size` (metadata-only) — file COUNT caps
    // admit 10 GB as readily as 10 KB under skewed file sizes. Always at
    // least one snapshot so the stream advances; this source's offsets
    // are snapshot-granular, so a single giant append still lands whole
    // (the V1 graft-cdc/graft-changelog sources slice WITHIN a snapshot).
    val byBytes = maxBytesPerTrigger match {
      case None => bySnapshots
      case Some(budget) =>
        val out = Seq.newBuilder[graft.meta.Snapshot]
        var bytes = 0L
        var n = 0
        var stopped = false
        bySnapshots.foreach { s =>
          if (!stopped) {
            val added = s.summary.get("added-files-size")
              .flatMap(_.toLongOption).getOrElse(budget)
            if (n == 0 || bytes + added <= budget) { out += s; bytes += added; n += 1 }
            else stopped = true
          }
        }
        out.result()
    }
    val capped = limit match {
      case mf: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        // stop at the FIRST over-limit snapshot — offsets are a contiguous
        // ancestry range, so later snapshots cannot be admitted around it
        val out = Seq.newBuilder[graft.meta.Snapshot]
        var files = 0L
        var n = 0
        var stopped = false
        byBytes.foreach { s =>
          if (!stopped) {
            val added = s.summary.get("added-data-files").flatMap(_.toLongOption).getOrElse(1L)
            if (n == 0 || files + added <= mf.maxFiles()) { out += s; files += added; n += 1 }
            else stopped = true
          }
        }
        out.result()
      case _ => byBytes
    }
    SnapshotOffset(capped.lastOption.map(_.snapshotId).getOrElse(cur))
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def reportLatestOffset(): Offset = latestOffset()

  override def deserializeOffset(json: String): Offset =
    try SnapshotOffset(json.toLong) catch {
      case e: NumberFormatException => throw new IllegalStateException(
        s"unparseable snapshot offset '$json' for table ${table.name}", e)
    }

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[SnapshotOffset].snapshotId
    val to = end.asInstanceOf[SnapshotOffset].snapshotId
    if (to == 0L || from == to) return Array.empty
    val reads = new GraftScan.FileReads(table, GraftScan.prunedTo(table.schema, required),
      Schema(Nil), Array.empty)
    val files = table.incrementalAppendFiles(from, to)
    val allColumnar = reads.vectorizable && files.forall(reads.parquetOwn)
    files
      .map(f => reads.partition(graft.table.FileScanTask(f, Nil, BTrue), -1L, allColumnar)
        : InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(GraftReaderFactory.sessionConfEntries(table.spark))
}

object GraftReaderFactory {
  /** Session Hadoop conf as entries — serialized ONCE with the factory so
    * executor-side readers see spark.hadoop.* (custom schemes, creds)
    * instead of a bare default Configuration. */
  def sessionConfEntries(spark: org.apache.spark.sql.SparkSession): Array[(String, String)] =
    graft.meta.Io.confEntries(spark)
}

class GraftReaderFactory(confEntries: Array[(String, String)])
    extends PartitionReaderFactory {

  private def buildConf(): Configuration = graft.meta.Io.confFrom(confEntries)

  /** Key-carrying partitions (storage-partitioned joins) read identically;
    * bin-packed partitions read their files back to back. */
  private def unwrap(partition: InputPartition): Seq[GraftInputPartition] = partition match {
    case k: GraftKeyedInputPartition => Seq(k.inner)
    case m: GraftMultiFilePartition => m.parts.toSeq
    case g: GraftInputPartition => Seq(g)
  }

  private def singleRowReader(p: GraftInputPartition): PartitionReader[InternalRow] = {
    val inner = singleRowReaderInner(p)
    if (!p.emitFile && !p.emitLineage) inner
    else new GraftFileAppendReader(inner, p.readSchemaJson, p.filePath,
      emitPos = p.emitPos, emitFile = p.emitFile, emitLineage = p.emitLineage,
      firstRowId = p.firstRowId, dataSeq = p.dataSeq)
  }

  private def singleRowReaderInner(p: GraftInputPartition): PartitionReader[InternalRow] =
    // parquet decodes through the VECTORIZED reader even in row mode —
    // deletes are applied as per-row position skips / key probes over
    // batch-decoded rows; library-written files resolve by field id,
    // add_files files by the name mapping. Deletes apply regardless of
    // data format (ref io/pyarrow.py:1629): the ORC reader resolves them
    // through the same DeleteIndex. Both emit InternalRow, so they may
    // mix freely within one scan.
    if (p.fileFormat == "ORC")
      new GraftOrcPartitionReader(p.filePath, p.readSchemaJson, p.limit, buildConf(),
        p.deletes, p.eqDeletes, p.eqSchemaJson)
    else new GraftVectorizedRowReader(p, buildConf())

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    unwrap(partition) match {
      case Seq(one) => singleRowReader(one)
      case many => new GraftChainedRowReader(many, singleRowReader, many.head.limit)
    }

  /** When the SCAN decided every file is delete-free and id-bearing, read
    * VECTORIZED (Spark's parquet batch reader → ColumnarBatch → whole-stage
    * codegen consumes columns directly). The flag is uniform across a
    * scan's partitions — Spark's DataSourceV2ScanExecBase forbids mixing
    * columnar and row partitions in one scan. */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    unwrap(partition).head.columnar

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    unwrap(partition) match {
      case Seq(one) => new GraftColumnarReader(one, buildConf())
      case many => new GraftChainedColumnarReader(many,
        p => new GraftColumnarReader(p, buildConf()), many.head.limit)
    }
}

/** Reads a bin-packed partition's files back to back; the pushed limit
  * (if any) bounds the TOTAL rows emitted, and remaining files are never
  * opened once it's reached (readers open lazily). */
class GraftChainedRowReader(parts: Seq[GraftInputPartition],
    mk: GraftInputPartition => PartitionReader[InternalRow], limit: Long)
    extends PartitionReader[InternalRow] {
  private val it = parts.iterator
  private var cur: PartitionReader[InternalRow] = _
  private var emitted = 0L
  private val metrics = new GraftChainedMetrics
  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    while (true) {
      if (cur == null) {
        if (!it.hasNext) return false
        cur = mk(it.next())
      }
      if (cur.next()) { emitted += 1; return true }
      metrics.retire(cur); cur.close(); cur = null
    }
    false
  }
  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    metrics.current(cur)
  override def get(): InternalRow = cur.get()
  override def close(): Unit = if (cur != null) cur.close()
}

/** Task metrics of readers run back to back: those of the closed
  * readers plus the open one's, summed by name. */
private[spark] final class GraftChainedMetrics {
  private val closed = scala.collection.mutable.Map[String, Long]()
  private def add(to: scala.collection.mutable.Map[String, Long], r: PartitionReader[_]): Unit =
    if (r != null) r.currentMetricsValues().foreach(m =>
      to(m.name()) = to.getOrElse(m.name(), 0L) + m.value())
  def retire(r: PartitionReader[_]): Unit = add(closed, r)
  def current(r: PartitionReader[_])
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val now = closed.clone()
    add(now, r)
    now.iterator.map { case (n, v) => ScanMetrics.metric(n, v) }.toArray
  }
}

/** Columnar twin of [[GraftChainedRowReader]]: per-file vectorized readers
  * opened lazily, batches trimmed at the global pushed limit. */
class GraftChainedColumnarReader(parts: Seq[GraftInputPartition],
    mk: GraftInputPartition => PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch],
    limit: Long)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  private val it = parts.iterator
  private var cur: PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = _
  private var emitted = 0L
  private val metrics = new GraftChainedMetrics
  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    while (true) {
      if (cur == null) {
        if (!it.hasNext) return false
        cur = mk(it.next())
      }
      if (cur.next()) return true
      metrics.retire(cur); cur.close(); cur = null
    }
    false
  }
  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    metrics.current(cur)
  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
    val batch = cur.get()
    if (limit >= 0 && emitted + batch.numRows() > limit)
      batch.setNumRows((limit - emitted).toInt)
    emitted += batch.numRows()
    batch
  }
  override def close(): Unit = if (cur != null) cur.close()
}

object ParquetVectorized {
  /** Spark's temporary row-index column: requested after the data
    * columns, the decoder fills it with every row's position in the file
    * (ParquetRowIndexUtil) — exact even when row groups are skipped. */
  val RowIndexColumn: String =
    org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      .ROW_INDEX_TEMPORARY_COLUMN_NAME
}

/** A scan's custom task metrics, each summed over its tasks: the parquet
  * bytes (footers, dictionaries, pages) its readers read from data files
  * — what row-group pruning saves — and the delete sources its readers
  * decoded or found already decoded in the [[DeleteIndex]]. */
object ScanMetrics {
  val BytesRead = "parquetBytesRead"
  val DeleteFilesDecoded = "deleteFilesDecoded"
  val DeleteIndexHits = "deleteIndexHits"

  def supported: Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new GraftBytesReadMetric, new GraftDeleteFilesDecodedMetric,
      new GraftDeleteIndexHitsMetric)

  def metric(n: String, v: Long): org.apache.spark.sql.connector.metric.CustomTaskMetric =
    new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = n
      override def value(): Long = v
    }

  def values(bytesRead: Long, deletes: DeleteIndex.Tally = null)
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    if (deletes == null) Array(metric(BytesRead, bytesRead))
    else Array(metric(BytesRead, bytesRead), metric(DeleteFilesDecoded, deletes.decoded),
      metric(DeleteIndexHits, deletes.hits))
}

class GraftBytesReadMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = ScanMetrics.BytesRead
  override def description(): String = "parquet bytes read"
}

class GraftDeleteFilesDecodedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = ScanMetrics.DeleteFilesDecoded
  override def description(): String = "delete files decoded"
}

class GraftDeleteIndexHitsMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = ScanMetrics.DeleteIndexHits
  override def description(): String = "delete index hits"
}

/** One parquet data file, opened once: its footer (the row groups of the
  * split's byte range) is read through the same byte-counting stream the
  * decoder then reads dictionaries and pages from. */
final class ParquetFile(path: String, conf: Configuration,
    splitStart: Long = 0L, splitLength: Long = Long.MaxValue) {
  private val input = HadoopInputFile.fromPath(new Path(path), conf)
  private var counted = 0L
  def bytesRead: Long = counted

  private val inner = input.newStream()
  private val stream = new org.apache.parquet.io.SeekableInputStream {
    private def add(n: Long): Unit = if (n > 0) counted += n
    override def getPos: Long = inner.getPos
    override def seek(p: Long): Unit = inner.seek(p)
    override def read(): Int = { val b = inner.read(); if (b >= 0) add(1); b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = inner.read(b, off, len); add(n); n
    }
    override def readFully(b: Array[Byte]): Unit = { inner.readFully(b); add(b.length) }
    override def readFully(b: Array[Byte], off: Int, len: Int): Unit = {
      inner.readFully(b, off, len); add(len)
    }
    override def read(buf: java.nio.ByteBuffer): Int = { val n = inner.read(buf); add(n); n }
    override def readFully(buf: java.nio.ByteBuffer): Unit = {
      val n = buf.remaining(); inner.readFully(buf); add(n)
    }
    override def skip(n: Long): Long = inner.skip(n)
    override def available(): Int = inner.available()
    override def close(): Unit = inner.close()
  }

  val footer: org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val b = org.apache.parquet.HadoopReadOptions.builder(conf, new Path(path))
    val opts = (if (splitLength == Long.MaxValue) b
      else b.withRange(splitStart, splitStart + splitLength)).build()
    ParquetFileReader.readFooter(input, opts, stream)
  }

  def schema: MessageType = footer.getFileMetaData.getSchema

  /** Spark's VectorizedParquetRecordReader over this file with the engine
    * schema — field-id metadata included — as the requested Spark schema
    * (the conf keys ParquetReadSupport consults are normally installed by
    * ParquetFileFormat.buildReaderWithPartitionValues). `rowMode = true`
    * skips enableReturningBatches: getCurrentValue then yields InternalRow
    * views over the decoded batch — vectorized decode with row-granular
    * consumption, the same fallback shape Spark's own parquet path uses
    * when batch output is off. `byName` resolves columns by
    * (case-insensitive) name instead of field id; `filter` skips the row
    * groups whose statistics or dictionaries cannot match. */
  def open(sparkSchema: StructType, rowMode: Boolean, byName: Boolean,
      filter: Option[org.apache.parquet.filter2.predicate.FilterPredicate])
      : org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader = {
    conf.set("parquet.read.support.class",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    conf.set("org.apache.spark.sql.parquet.row.requested_schema", sparkSchema.json)
    conf.set("spark.sql.session.timeZone", "UTC")
    conf.setBoolean("spark.sql.caseSensitive", !byName)
    conf.setBoolean("spark.sql.parquet.binaryAsString", false)
    conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    conf.setBoolean("spark.sql.parquet.fieldId.read.enabled", !byName)
    conf.setBoolean("spark.sql.parquet.fieldId.read.ignoreMissing", true)
    // ns timestamps are requested as LONG and downcast after decode
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", true)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    filter.foreach { f =>
      org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(conf, f)
      // whole row groups only: page-level skipping inside a kept row
      // group is left off, so sequential row counts stay file positions
      conf.setBoolean(org.apache.parquet.hadoop.ParquetInputFormat.COLUMN_INDEX_FILTERING_ENABLED,
        false)
    }
    val r = new org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", /*offHeap*/ false, /*capacity*/ 4096)
    // the footer above already holds only the split's row groups (parquet's
    // midpoint rule), enabling sub-file task splitting
    val split = new org.apache.hadoop.mapred.FileSplit(
      new Path(path), splitStart, splitLength, Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    r.initialize(split, ctx, Some(input), Some(stream), Some(footer))
    r.initBatch(new StructType(), InternalRow.empty)
    if (!rowMode) r.enableReturningBatches()
    r
  }
}

/** Pushed filters as ONE file's parquet row-group predicate. Each filter
  * column is renamed to the file's own column (by field id for
  * library-written files, by the name mapping for the rest), so a renamed
  * or re-used name never prunes against the wrong column; a filter over a
  * column the file lacks is left out. Under a NOT only exact translations
  * are kept (dropping a conjunct there would strengthen the predicate). */
private[spark] object RowGroupFilter {
  import org.apache.spark.sql.sources._

  def of(fileSchema: MessageType, filters: Array[Filter], fileName: String => Option[String])
      : Option[org.apache.parquet.filter2.predicate.FilterPredicate] = {
    val renamed = filters.flatMap(rename(_, fileName, weaken = true))
    if (renamed.isEmpty) None
    else {
      val pf = new org.apache.spark.sql.execution.datasources.parquet.ParquetFilters(
        fileSchema, true, true, true, true, 10, true,
        org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec(
          org.apache.spark.sql.internal.LegacyBehaviorPolicy.CORRECTED))
      renamed.toSeq.flatMap(pf.createFilter)
        .reduceOption(org.apache.parquet.filter2.predicate.FilterApi.and(_, _))
    }
  }

  private def rename(f: Filter, n: String => Option[String], weaken: Boolean): Option[Filter] =
    f match {
      case EqualTo(a, v) => n(a).map(EqualTo(_, v))
      case EqualNullSafe(a, v) => n(a).map(EqualNullSafe(_, v))
      case GreaterThan(a, v) => n(a).map(GreaterThan(_, v))
      case GreaterThanOrEqual(a, v) => n(a).map(GreaterThanOrEqual(_, v))
      case LessThan(a, v) => n(a).map(LessThan(_, v))
      case LessThanOrEqual(a, v) => n(a).map(LessThanOrEqual(_, v))
      case In(a, vs) => n(a).map(In(_, vs))
      case IsNull(a) => n(a).map(IsNull(_))
      case IsNotNull(a) => n(a).map(IsNotNull(_))
      case StringStartsWith(a, v) => n(a).map(StringStartsWith(_, v))
      case And(l, r) => (rename(l, n, weaken), rename(r, n, weaken)) match {
        case (Some(a), Some(b)) => Some(And(a, b))
        case (a, b) if weaken => a.orElse(b)
        case _ => None
      }
      case Or(l, r) => for (a <- rename(l, n, weaken); b <- rename(r, n, weaken)) yield Or(a, b)
      case Not(c) => rename(c, n, weaken = false).map(Not(_))
      case _ => None
    }
}

/** One parquet file's physical request and the rewrite of its decoded
  * rows to the engine schema's public shape: uuid leaves are requested as
  * BINARY (fixed[16] from other engines and our string-stored uuids
  * alike) and rendered as canonical strings; ns timestamps are requested
  * as LONG and floor-divided to micros (ref io/pyarrow.py:1654); v3
  * `unknown` columns are never stored and read as NULL (ref
  * io/pyarrow.py:818); a top-level column the file lacks reads its
  * initial default (ref ArrowProjectionVisitor). */
private[spark] final class ParquetShape(footer: MessageType, val schema: Schema,
    byName: Boolean, filters: Array[sources.Filter], filterIds: Map[String, Int]) {

  /** the file's own top-level column for a top-level field id */
  private def fileName(id: Int): Option[String] =
    if (byName) schema.fields.find(_.id == id).flatMap(f =>
      footer.getFields.asScala.find(_.getName.equalsIgnoreCase(f.name)).map(_.getName))
    else footer.getFields.asScala
      .find(ft => ft.getId != null && ft.getId.intValue() == id).map(_.getName)

  val predicate: Option[org.apache.parquet.filter2.predicate.FilterPredicate] =
    if (filters.isEmpty) None
    else RowGroupFilter.of(footer, filters, a => filterIds.get(a).flatMap(fileName))

  /** stored columns, in request order (`unknown` is never stored) */
  val physical: Seq[NestedField] = schema.fields.filter(_.fieldType != IUnknown)

  def request(extra: Seq[NestedField], rowIndex: Boolean): StructType =
    StructType(UuidCompat.readSchema(Schema(physical ++ extra)).fields ++
      (if (rowIndex) Seq(StructField(ParquetVectorized.RowIndexColumn, LongType)) else Nil))

  private val defaults: Map[Int, Any] = schema.fields.zipWithIndex.collect {
    case (f, i) if f.initialDefault.isDefined && fileName(f.id).isEmpty =>
      i -> (Literals.coerce(f.initialDefault.get, f.fieldType) match {
        case CVal(v) => ParquetShape.internal(v, f.fieldType)
        case _ => null
      })
  }.toMap

  private val fixes: Array[Any => Any] =
    physical.map(f => ParquetShape.fixOf(f.fieldType).orNull).toArray
  private val physTypes: Array[DataType] =
    physical.map(f => UuidCompat.readType(f.fieldType)).toArray

  /** decoded rows already have the public shape */
  val identity: Boolean = physical.size == schema.fields.size && defaults.isEmpty &&
    fixes.forall(_ == null)

  /** public row from a decoded row (data columns lead, extras trail) */
  def apply(row: InternalRow): InternalRow = {
    val out = new GenericInternalRow(schema.fields.size)
    var i = 0
    var p = 0
    while (i < schema.fields.size) {
      if (schema.fields(i).fieldType != IUnknown) {
        if (defaults.contains(i)) out.update(i, defaults(i))
        else if (!row.isNullAt(p)) {
          val v = row.get(p, physTypes(p))
          out.update(i, if (fixes(p) == null) v else fixes(p)(v))
        }
        p += 1
      }
      i += 1
    }
    out
  }
}

private[graft] object ParquetShape {
  import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}

  private val Hex = "0123456789abcdef".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** 16 bytes (a fixed[16] uuid) → canonical 8-4-4-4-12 lowercase hex;
    * anything else is already UTF-8 text (a string-stored uuid). */
  private def uuidText(b: Array[Byte]): UTF8String =
    if (b.length != 16) UTF8String.fromBytes(b)
    else {
      val out = new Array[Byte](36)
      var i = 0
      var j = 0
      while (i < 16) {
        if (i == 4 || i == 6 || i == 8 || i == 10) { out(j) = '-'; j += 1 }
        out(j) = Hex((b(i) >> 4) & 0xf)
        out(j + 1) = Hex(b(i) & 0xf)
        j += 2
        i += 1
      }
      UTF8String.fromBytes(out)
    }

  /** decoded (physical) value → public value; None = unchanged */
  def fixOf(t: IceType): Option[Any => Any] = t match {
    case IUUID => Some(v => uuidText(v.asInstanceOf[Array[Byte]]))
    case ITimestampNs | ITimestamptzNs => Some(v => Math.floorDiv(v.asInstanceOf[Long], 1000L))
    case IStruct(fs) =>
      val subs = fs.map(f => fixOf(f.fieldType).orNull).toArray
      val types = fs.map(f => UuidCompat.readType(f.fieldType)).toArray
      if (subs.forall(_ == null)) None
      else Some { v =>
        val r = v.asInstanceOf[InternalRow]
        val out = new GenericInternalRow(subs.length)
        subs.indices.foreach { i =>
          if (!r.isNullAt(i)) {
            val x = r.get(i, types(i))
            out.update(i, if (subs(i) == null) x else subs(i)(x))
          }
        }
        out
      }
    case IList(_, el, _) => fixOf(el).map { f =>
      val et = UuidCompat.readType(el)
      v => elements(v.asInstanceOf[ArrayData], et, f)
    }
    case IMap(_, k, _, vt, _) =>
      val (fk, fv) = (fixOf(k), fixOf(vt))
      if (fk.isEmpty && fv.isEmpty) None
      else {
        val (kt, vdt) = (UuidCompat.readType(k), UuidCompat.readType(vt))
        val id: Any => Any = x => x
        Some { v =>
          val m = v.asInstanceOf[MapData]
          new ArrayBasedMapData(elements(m.keyArray(), kt, fk.getOrElse(id)),
            elements(m.valueArray(), vdt, fv.getOrElse(id)))
        }
      }
    case _ => None
  }

  private def elements(a: ArrayData, t: DataType, f: Any => Any): ArrayData =
    new GenericArrayData(Array.tabulate[Any](a.numElements())(i =>
      if (a.isNullAt(i)) null else f(a.get(i, t))))

  /** engine literal value → Spark internal value */
  def internal(v: Any, t: IceType): Any = (v, t) match {
    case (null, _) => null
    case (n: Number, IInt | IDate) => n.intValue()
    case (n: Number, ILong | ITime | ITimestamp | ITimestamptz) => n.longValue()
    case (n: Number, IFloat) => n.floatValue()
    case (n: Number, IDouble) => n.doubleValue()
    case (d: java.math.BigDecimal, IDecimal(p, s)) => Decimal(d, p, s)
    case (s: String, _) => UTF8String.fromString(s)
    case (u: java.util.UUID, _) => UTF8String.fromString(u.toString)
    case (other, _) => other
  }
}

/** Vectorized parquet partition reader: drives Spark's own
  * VectorizedParquetRecordReader (the engine behind FileSourceScanExec's
  * parquet batches) against one data file, with the engine schema —
  * field-id metadata included — as the requested Spark schema, so rename
  * safety and add-column null-fill match the row reader. Only scans whose
  * columns need no per-row rewrite come here (FileReads.vectorizable). */
class GraftColumnarReader(p: GraftInputPartition, conf: Configuration)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  private val file = new ParquetFile(p.filePath, conf, p.splitStart, p.splitLength)
  private val shape = new ParquetShape(file.schema,
    MetadataJson.schemaFromJson(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(p.readSchemaJson)), p.byName, p.filters, p.filterIds)

  private val reader = file.open(shape.request(Nil, rowIndex = false), rowMode = false,
    p.byName, shape.predicate)

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    ScanMetrics.values(file.bytesRead)

  private var emitted: Long = 0L

  override def next(): Boolean =
    (p.limit < 0 || emitted < p.limit) && reader.nextBatch()

  override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
    val batch = reader.resultBatch()
    if (p.limit >= 0 && emitted + batch.numRows() > p.limit)
      batch.setNumRows((p.limit - emitted).toInt)
    emitted += batch.numRows()
    batch
  }

  override def close(): Unit = reader.close()
}

/** Row readers that can report the absolute file position of the row the
  * NEXT get() will return — valid between a true next() and that get(). */
trait HasRowPosition { def currentPosition: Long }

/** Appends metadata columns after the data columns of an inner row
  * reader: `_file` (canon path), `_pos` (the row's file position, from
  * the inner reader's position tracking), and the v3 lineage pair
  * `_row_id` / `_last_updated_sequence_number`. When lineage is emitted,
  * the inner reader's schema carries the two RESERVED materialized
  * columns LAST (null in un-rewritten files); a non-null materialized
  * value wins over inheritance (firstRowId + position / dataSeq) — the
  * spec's read rule for rewritten files. */
class GraftFileAppendReader(inner: PartitionReader[InternalRow],
    schemaJson: String, path: String, emitPos: Boolean = false,
    emitFile: Boolean = true, emitLineage: Boolean = false,
    firstRowId: Long = -1L, dataSeq: Long = -1L)
    extends PartitionReader[InternalRow] {
  private val types: Array[org.apache.spark.sql.types.DataType] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    graft.meta.MetadataJson.schemaFromJson(mapper.readTree(schemaJson))
      .toSpark.fields.map(_.dataType)
  }
  // with lineage the inner schema's LAST TWO columns are the reserved
  // materialized pair — consumed here, not forwarded as data columns
  private val dataLen = if (emitLineage) types.length - 2 else types.length
  private val pathU = org.apache.spark.unsafe.types.UTF8String
    .fromString(graft.core.PathUtil.canon(path))
  private var pos: Long = -1L
  private val trackPos = emitPos || emitLineage

  override def next(): Boolean = {
    val h = inner.next()
    if (h && trackPos) pos = inner.asInstanceOf[HasRowPosition].currentPosition
    h
  }

  override def get(): InternalRow = {
    val r = inner.get()
    val width = dataLen + (if (emitFile) 1 else 0) + (if (emitPos) 1 else 0) +
      (if (emitLineage) 2 else 0)
    val out = new GenericInternalRow(width)
    var i = 0
    while (i < dataLen) { out.update(i, r.get(i, types(i))); i += 1 }
    var j = dataLen
    if (emitFile) { out.update(j, pathU); j += 1 }
    if (emitPos) { out.update(j, pos); j += 1 }
    if (emitLineage) {
      // isNullAt explicitly: not every InternalRow's get(ordinal, type)
      // null-checks (ColumnarBatchRow returns the raw 0 slot)
      out.update(j, java.lang.Long.valueOf(
        if (r.isNullAt(dataLen)) firstRowId + pos else r.getLong(dataLen)))
      out.update(j + 1, java.lang.Long.valueOf(
        if (r.isNullAt(dataLen + 1)) dataSeq else r.getLong(dataLen + 1)))
    }
    out
  }

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    inner.currentMetricsValues()

  override def close(): Unit = inner.close()
}

object GraftVectorizedRowReader {
  /** Test seam: readers opened in this JVM (local mode shares the JVM, so
    * specs can assert the vectorized path is actually taken). */
  val opened = new java.util.concurrent.atomic.AtomicLong(0L)
}

/** Row reader over Spark's VECTORIZED parquet decoder, for every parquet
  * file: field ids resolve library-written files, the name mapping
  * resolves add_files files. Deletes are applied per row against
  * batch-decoded rows — a sorted position skip plus equality hash-set
  * probes, both looked up in the per-JVM [[DeleteIndex]] (the planner only
  * ships a delete with data files it applies to, so sequence scoping is
  * already done). Row positions are counted sequentially, or — when a
  * pushed filter may skip row groups — taken from Spark's row-index
  * column. Emits InternalRow, so it mixes freely with the ORC reader in
  * one row-mode scan. */
class GraftVectorizedRowReader(p: GraftInputPartition, conf: Configuration)
    extends PartitionReader[InternalRow] with HasRowPosition {

  // a bounded split is only planned for DELETE-FREE files: the
  // position-delete skip below indexes the whole-file row position
  require((p.splitStart == 0L && p.splitLength == Long.MaxValue) || p.deletes.isEmpty,
    "ranged reads cannot carry position deletes")

  GraftVectorizedRowReader.opened.incrementAndGet()

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val file = new ParquetFile(p.filePath, conf, p.splitStart, p.splitLength)
  private val shape = new ParquetShape(file.schema,
    MetadataJson.schemaFromJson(mapper.readTree(p.readSchemaJson)), p.byName,
    p.filters, p.filterIds)
  private val schema: Schema = shape.schema
  private val eqSchema: Schema =
    if (p.eqDeletes.isEmpty) Schema(Nil)
    else MetadataJson.schemaFromJson(mapper.readTree(p.eqSchemaJson))

  // equality-delete key fields outside the pruned projection are APPENDED
  // to the read schema (read to probe, projected away before emitting);
  // only ids THIS partition's deletes reference — eqSchemaJson is
  // scan-global and may cover other files' keys
  private val baseIds = shape.physical.map(_.id).toSet
  private val neededEqIds = p.eqDeletes.flatMap(_.ids).toSet
  private val extraEqFields =
    eqSchema.fields.filter(f => neededEqIds.contains(f.id) && !baseIds.contains(f.id))
  private val readFields = shape.physical ++ extraEqFields
  private val ordinalById: Map[Int, Int] =
    readFields.zipWithIndex.map { case (f, i) => f.id -> i }.toMap

  private val deleteTally = new DeleteIndex.Tally
  private val deletedPositions: Array[Long] =
    DeleteIndex.positions(p.filePath, p.deletes, conf, deleteTally)

  /** per key set: its ids, the read ordinal and type of each key field */
  private val eqProbes: Seq[(Array[Int], Array[IceType], java.util.Set[Seq[Any]])] =
    DeleteIndex.eqKeySets(p.eqDeletes, eqSchema, conf, deleteTally).map { case (ids, set) =>
      (ids.map(id => ordinalById.getOrElse(id, -1)), ids.map(eqSchema.byId(_).fieldType), set)
    }

  // positions matter for deletes and the _pos / lineage columns; once a
  // filter may skip row groups, counting rows no longer yields them
  private val rowIndexOrd: Int =
    if (shape.predicate.isDefined && (deletedPositions.nonEmpty || p.emitPos || p.emitLineage))
      readFields.size
    else -1

  private val readSparkSchema: StructType = shape.request(extraEqFields, rowIndexOrd >= 0)

  private val reader = file.open(readSparkSchema, rowMode = true, p.byName, shape.predicate)

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    ScanMetrics.values(file.bytesRead, deleteTally)

  /** Strips appended eq-key / row-index columns before emitting.
    * Codegen'd unsafe projection over the leading ordinals; identity when
    * nothing was appended. */
  private val emitProjection: org.apache.spark.sql.catalyst.expressions.UnsafeProjection =
    if (!shape.identity || readSparkSchema.size == shape.physical.size) null
    else org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
      shape.physical.indices.map { i =>
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          i, readSparkSchema.fields(i).dataType, readSparkSchema.fields(i).nullable)
      })

  private def isEqDeleted(row: InternalRow): Boolean =
    eqProbes.exists { case (ords, types, set) =>
      set.contains(DeleteIndex.keyOf(row, ords, types))
    }

  private var current: InternalRow = _
  private var rowIdx: Long = -1L
  private var emitted: Long = 0L
  private var delPtr: Int = 0

  override def currentPosition: Long = rowIdx

  override def next(): Boolean = {
    if (p.limit >= 0 && emitted >= p.limit) return false
    while (reader.nextKeyValue()) {
      val row = reader.getCurrentValue.asInstanceOf[InternalRow]
      rowIdx = if (rowIndexOrd >= 0) row.getLong(rowIndexOrd) else rowIdx + 1
      while (delPtr < deletedPositions.length && deletedPositions(delPtr) < rowIdx) delPtr += 1
      if ((delPtr >= deletedPositions.length || deletedPositions(delPtr) != rowIdx) &&
          !isEqDeleted(row)) {
        current = row
        emitted += 1
        return true
      }
    }
    false
  }

  override def get(): InternalRow =
    if (!shape.identity) shape(current)
    else if (emitProjection == null) current
    else emitProjection(current)

  override def close(): Unit = reader.close()
}
