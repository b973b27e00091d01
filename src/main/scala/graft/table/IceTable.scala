package graft.table

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{Catalog, CommitConflictException}
import graft.core._
import graft.meta._
import graft.spark.GraftDeltaWrite

/** Table handle: metadata + catalog + Spark session (ref:
  * pyiceberg/table/__init__.py:1147 Table).
  *
  * All DML goes through `commitSnapshot`, an optimistic-concurrency retry
  * loop around the catalog's atomic metadata swap (ref: Transaction +
  * Catalog.commit_table, table/__init__.py:216, catalog/__init__.py:554).
  */
class IceTable(
    val catalog: Catalog,
    val name: String,
    @volatile var metadata: TableMetadata,
    /** catalog version `metadata` was loaded from — commits swap FROM this
      * version, never from a fresh read: a fresh read would let a commit
      * that raced in between plan and commit be silently erased (our stale
      * snapshot list would replace it) instead of forcing a retry. */
    @volatile var version: Int = 0) {

  def spark: SparkSession = catalog.spark
  def schema: Schema = metadata.schema
  def spec: PartitionSpec = metadata.spec
  def location: String = metadata.location

  def refresh(): IceTable = {
    val fresh = catalog.loadTable(name)
    metadata = fresh.metadata
    version = fresh.version
    this
  }

  def inspect: Inspect = new Inspect(this)
  /** Multi-op atomic commit (ref: Table.transaction table/__init__.py:1173). */
  def transaction(): Transaction = new Transaction(this)
  def updateSchema: SchemaUpdate = new SchemaUpdate(this)
  def updateSpec: SpecUpdate = new SpecUpdate(this)
  def manageSnapshots: ManageSnapshots = new ManageSnapshots(this)
  def expireSnapshots(olderThanMs: Long, retainLast: Int = 1): Seq[Long] =
    Maintenance.expireSnapshots(this, olderThanMs, retainLast)
  /** Chained builder (ref: tbl.maintenance.expire_snapshots()
    * table/maintenance.py:36 — by_id/by_ids/older_than then commit). */
  def expireSnapshots(): ExpireSnapshots = new ExpireSnapshots(this)
  /** Crash-leftover GC (see Maintenance.removeOrphanFiles). */
  def removeOrphanFiles(olderThanMs: Long): Seq[String] =
    Maintenance.removeOrphanFiles(this, olderThanMs)
  def setProperties(props: (String, String)*): Unit =
    commitMetadata(m => m.copy(properties = m.properties ++ props))
  /** The table's default sort order; writes sort within each file so
    * min/max stats tighten and row groups prune (the reference leaves
    * files unsorted with sort_order_id=None, ref io/pyarrow.py:2769). */
  private[graft] def sortOrderOpt: Option[SortOrder] =
    metadata.sortOrders.find(o => o.orderId == metadata.defaultSortOrderId && o.fields.nonEmpty)

  def replaceSortOrder(fields: (String, String)*): Unit =
    replaceSortOrderTransformed(fields.map { case (c, d) =>
      (c, IdentityTransform: Transform, d) }: _*)

  /** Sort keys may be TRANSFORMS of columns (ref: table/sorting.py:136
    * SortField.transform — e.g. sort by truncate[4](s) or day(ts)); the
    * write path sorts within partitions on the transformed value. */
  def replaceSortOrderTransformed(fields: (String, Transform, String)*): Unit =
    commitMetadata { m =>
      val order = SortOrder(m.sortOrders.map(_.orderId).max + 1,
        fields.map { case (colName, transform, dir) =>
          val f = schema.findField(colName).getOrElse(
            throw new IllegalArgumentException(s"No such column: $colName"))
          require(transform.resultType(f.fieldType) != null,
            s"$transform cannot transform ${f.fieldType}")
          SortField(f.id, transform, dir,
            if (dir == "desc") "nulls-last" else "nulls-first")
        })
      m.copy(sortOrders = m.sortOrders :+ order, defaultSortOrderId = order.orderId)
    }
  def removeProperties(keys: String*): Unit =
    commitMetadata(m => m.copy(properties = m.properties -- keys))

  /** Upgrade the table's format version (ref: upgrade_format_version
    * table/__init__.py:294; monotonic only, 1→2→3). Upgrading to v3
    * starts row lineage: `next-row-id` begins at the current row count so
    * existing rows keep implicit ids below it. */
  def upgradeFormatVersion(v: Int): Unit = commitMetadata { m =>
    require(v >= 1 && v <= 3, s"Unsupported format version $v")
    require(v >= m.formatVersion,
      s"Cannot downgrade format version ${m.formatVersion} -> $v")
    if (v == m.formatVersion) m
    else if (v < 3 || m.formatVersion >= 3) m.copy(formatVersion = v)
    else {
      RowLineage.requireNoReservedNames(m.schema)
      // v3 upgrade: assign first-row-id to every data manifest of the
      // CURRENT snapshot that lacks one (spec §Row Lineage — a v3
      // manifest list carries first-row-id for every data manifest), so
      // rows committed under v1/v2 serve lineage IMMEDIATELY — without
      // this, the first post-upgrade SQL row-level op (which reads
      // lineage to preserve it) would fail before it could commit the
      // assignment itself. Historical snapshots keep their v2 lists:
      // time-traveling lineage to a pre-upgrade state stays a typed
      // error. next-row-id advances past every assigned range.
      var cursor = m.nextRowId.getOrElse(0L)
      val snapshots = m.currentSnapshot match {
        case None => m.snapshots
        case Some(cur) =>
          val mfs = ManifestIO.readManifestList(cur.manifestList)
          val assigned = mfs.map { mf =>
            if (mf.content != 0 || mf.firstRowId.isDefined) mf
            else {
              val a = mf.copy(firstRowId = Some(cursor))
              cursor += mf.addedRowsCount + mf.existingRowsCount
              a
            }
          }
          if (assigned == mfs) m.snapshots
          else {
            val path = s"$location/metadata/snap-${cur.snapshotId}-v3-${UUID.randomUUID()}.avro"
            ManifestIO.writeManifestList(path, assigned, avroCodec,
              snapshotId = Some(cur.snapshotId),
              parentSnapshotId = cur.parentSnapshotId,
              sequenceNumber = Some(cur.sequenceNumber))
            m.snapshots.map(s =>
              if (s.snapshotId == cur.snapshotId) s.copy(manifestList = path) else s)
          }
      }
      m.copy(formatVersion = 3, snapshots = snapshots, nextRowId = Some(cursor))
    }
  }

  /** Attach a statistics file to a snapshot (ref: update_statistics
    * table/statistics.py:40; metadata-only, replaces any entry for the
    * same snapshot). */
  def setStatistics(stats: StatisticsFile): Unit = commitMetadata(m =>
    m.copy(statistics = m.statistics.filterNot(_.snapshotId == stats.snapshotId) :+ stats))

  def removeStatistics(snapshotId: Long): Unit = commitMetadata(m =>
    m.copy(statistics = m.statistics.filterNot(_.snapshotId == snapshotId)))

  /** Attach a PARTITION statistics file to a snapshot (ref:
    * set_partition_statistics, table/update/__init__.py:660 — replaces
    * any entry for the same snapshot, like table statistics). */
  def setPartitionStatistics(stats: PartitionStatisticsFile): Unit = commitMetadata(m =>
    m.copy(partitionStatistics =
      m.partitionStatistics.filterNot(_.snapshotId == stats.snapshotId) :+ stats))

  def removePartitionStatistics(snapshotId: Long): Unit = commitMetadata(m =>
    m.copy(partitionStatistics =
      m.partitionStatistics.filterNot(_.snapshotId == snapshotId)))

  /** Compute, WRITE and register a partition statistics file for the
    * current snapshot (the engine-side compute the reference leaves to
    * engines; iceberg-java's compute_partition_stats). The stats rows
    * come from a distributed manifest walk + Spark aggregation
    * (Inspect.partitionStatsFrame), land as ONE parquet under metadata/
    * sorted by partition, and are registered in `partition-statistics`.
    * One file is the spec's own layout — the row count is the PARTITION
    * count, metadata-sized even for 100 TB tables. */
  def computePartitionStatistics(): PartitionStatisticsFile = {
    val snap = metadata.currentSnapshot.getOrElse(
      throw new IllegalStateException("No snapshot to compute partition statistics for"))
    require(metadata.partitionSpecs.exists(_.fields.nonEmpty),
      "partition statistics need a partitioned table (the unified partition tuple " +
        "of an unpartitioned table is empty)")
    val frame = inspect.partitionStatsFrame(Some(snap.snapshotId))
      .orderBy(col("partition"))
    // ONE file at its final name: the frame in one task, written by the
    // data-file writer straight under metadata/
    val spec = DataFileWriter.spec(spark, metadataRoot(metadata.properties, location),
      DataFileWriter.asNullable(frame.schema), Schema(Nil))
    val prefix = s"partition-stats-${snap.snapshotId}"
    val written = DataFileWriter.write(frame.coalesce(1), spec, prefix).headOption.getOrElse {
      // no partitions: the file still carries the schema
      val w = new DataFileWriter(spec, prefix)
      w.open("")
      w.close().head
    }
    val stats = PartitionStatisticsFile(snap.snapshotId, written.filePath,
      written.fileSizeInBytes)
    setPartitionStatistics(stats)
    stats
  }

  /** Compute per-column NDV estimates for the current snapshot as ONE
    * distributed aggregation, write them into a puffin statistics file,
    * and register it (ref: the theta-sketch ndv blobs pyiceberg reads from
    * `statistics`, table/statistics.py:40 + puffin.py:48. The datasketches
    * lib is outside the dependency budget, so the blob type is our own
    * `graft-ndv-v1` — an 8-byte big-endian count — and the estimate is
    * ALSO in the `ndv` property, which is where engines look first).
    *
    * COMPATIBILITY GATE: the reference's BlobMetadata model
    * (table/statistics.py:25) is a closed Literal of
    * apache-datasketches-theta-v1 / deletion-vector-v1, so registering a
    * custom blob type makes the WHOLE metadata file unloadable by
    * reference readers. Requires explicit opt-in via the table property
    * `graft.ndv-blob.enabled=true`. */
  def computeNdvStatistics(columns: Seq[String] = Nil): StatisticsFile = {
    require(metadata.properties.get("graft.ndv-blob.enabled").contains("true"),
      "computeNdvStatistics registers a non-standard blob type (graft-ndv-v1) that " +
        "pyiceberg's BlobMetadata model rejects, making the table metadata unreadable " +
        "to reference clients. Opt in with table property graft.ndv-blob.enabled=true.")
    val snap = metadata.currentSnapshot.getOrElse(
      throw new IllegalStateException("No snapshot to compute statistics for"))
    val targets =
      if (columns.nonEmpty) columns.map(c => schema.findField(c).getOrElse(
        throw new IllegalArgumentException(s"No such column: $c")))
      else schema.fields.filter(_.fieldType.isPrimitive)
    val aggs = targets.map(f => approx_count_distinct(col(f.name)).as(f.name))
    val row = scan.toDF.agg(aggs.head, aggs.tail: _*).collect()(0)
    val blobs = targets.zipWithIndex.map { case (f, i) =>
      val ndv = row.getLong(i)
      Puffin.Blob("graft-ndv-v1", Seq(f.id), snap.snapshotId, snap.sequenceNumber,
        java.nio.ByteBuffer.allocate(8).putLong(ndv).array(),
        Map("ndv" -> ndv.toString))
    }
    val path = s"${metadataRoot(metadata.properties, location)}/stats-${snap.snapshotId}-${UUID.randomUUID()}.puffin"
    val written = Puffin.write(path, blobs)
    val stats = StatisticsFile(snap.snapshotId, path,
      written.fileSizeInBytes, written.footerSizeInBytes,
      written.blobs.map(b => BlobMetadata(b.blobType, b.snapshotId,
        b.sequenceNumber, b.fields, b.properties)))
    setStatistics(stats)
    stats
  }

  // ---- scan --------------------------------------------------------------

  def scan: IceScan = new IceScan(this)
  def scan(filter: String): IceScan = new IceScan(this).filter(filter)

  /** Data files appended between two snapshots (exclusive, inclusive) —
    * append-operation ancestors only (ref: IncrementalAppendScan
    * plan_files table/__init__.py:2450). `fromIdExclusive=0` = table start. */
  def incrementalAppendFiles(fromIdExclusive: Long, toIdInclusive: Long): Seq[DataFile] = {
    val to = metadata.snapshotById(toIdInclusive).getOrElse(
      throw new IllegalArgumentException(s"No snapshot $toIdInclusive"))
    val chain = metadata.ancestorsOf(to.snapshotId)
      .takeWhile(_.snapshotId != fromIdExclusive)
      .filter(_.operation == "append")
    val ids = chain.map(_.snapshotId).toSet
    val schemaAt = metadata.schemaById(to.schemaId)
    chain.headOption.toSeq.flatMap { newest =>
      ManifestIO.readManifestList(newest.manifestList)
        .filter(mf => mf.content == 0 && ids.contains(mf.addedSnapshotId))
        .flatMap { mf =>
          val sp = metadata.specById(mf.partitionSpecId)
          ManifestIO.readManifest(mf.manifestPath, sp, schemaAt)
            .filter(e => e.status == EntryStatus.Added && ids.contains(e.snapshotId))
            .map(_.dataFile)
        }
    }
  }

  /** Committed-append change capture between two snapshots (ref:
    * IncrementalAppendScan table/__init__.py:2372). */
  def incrementalAppendScan(fromIdExclusive: Long, toIdInclusive: Long): DataFrame = {
    val schemaAt = metadata.schemaById(
      metadata.snapshotById(toIdInclusive).map(_.schemaId).getOrElse(metadata.currentSchemaId))
    // appended files carry no deletes of their own at commit time
    IceScan.read(this, incrementalAppendFiles(fromIdExclusive, toIdInclusive)
      .map(FileScanTask(_, Nil, BTrue)), schemaAt)
  }

  // ---- DML ---------------------------------------------------------------

  /** Fast append (ref: Transaction.append table/__init__.py:460,
    * _FastAppendFiles update/snapshot.py:503). */
  def append(df: DataFrame): Unit = append(df, Map.empty[String, String])

  /** `snapshotProperties` land in the snapshot summary (ref: append
    * table/__init__.py:1535 snapshot_properties). */
  def append(df: DataFrame, snapshotProperties: Map[String, String]): Unit =
    append(df, snapshotProperties, Some("main"))

  /** Branch-targeted append — the write half of write-audit-publish (ref:
    * append table/__init__.py:464 `branch`): the new snapshot parents off
    * `branch`'s head (created from main's head if absent) and moves only
    * that ref; main is untouched until a publish (fastForward). `branch =
    * None` stages the snapshot without moving ANY ref (ref:
    * _validate_target_branch update/snapshot.py:139 comment) — reachable
    * via scan.useSnapshot(id). */
  def append(df: DataFrame, snapshotProperties: Map[String, String],
      branch: Option[String]): Unit = {
    ensureNameMappingForIdlessFormat()
    val files = WriteFiles.write(spark, location, schema, spec, df,
      UUID.randomUUID().toString, sortOrderOpt, metadata.properties)
    commitSnapshot("append", added = files, removedPaths = Set.empty,
      extraSummary = snapshotProperties, toBranch = branch)
  }

  /** Append of data files that already exist on disk with harvested
    * stats (the DSv2 streaming sink's direct-commit path). */
  private[graft] def appendPreStaged(files: Seq[DataFile],
      snapshotProperties: Map[String, String] = Map.empty): Unit =
    commitSnapshot("append", added = files, removedPaths = Set.empty,
      extraSummary = snapshotProperties)

  /** ORC data files carry no field ids (Spark's ORC writer can't emit
    * the iceberg.id attributes), so foreign readers need the spec's
    * fallback channel: install `schema.name-mapping.default` before the
    * first ORC write, exactly like add_files does for registered id-less
    * files (ref: name_mapping requirement in io/pyarrow id resolution). */
  private def ensureNameMappingForIdlessFormat(): Unit =
    if (metadata.properties.getOrElse("write.format.default", "parquet")
        .equalsIgnoreCase("orc") &&
        !metadata.properties.contains("schema.name-mapping.default"))
      setProperties("schema.name-mapping.default" ->
        NameMapping.toJson(NameMapping.fromSchema(schema)))

  /** Copy-on-write delete (ref: Transaction.delete table/__init__.py:703):
    * phase 1 drops whole files where the STRICT evaluator proves all rows
    * match (metadata-only); phase 2 rewrites partially-matching files with
    * the null-preserving complementary filter. */
  def delete(filter: String): Unit = delete(ExprParser.parse(filter))

  def delete(filter: Expr): Unit = delete(filter, Some("main"))

  /** Branch-targeted delete (ref: delete table/__init__.py:708 `branch`):
    * plans against the BRANCH's head state and commits to its ref only. A
    * delete on a not-yet-existing branch sees main's head (the state the
    * branch would fork from). */
  def delete(filter: Expr, branch: Option[String]): Unit = {
    val bound = Exprs.rewriteNot(Binder.bind(schema, filter))
    if (bound == BFalse) return
    val baseSnap = branchHeadId(branch)
    val tasks = branchScan(branch).map(_.filter(filter).planFiles()).getOrElse(Nil)
    if (tasks.isEmpty) return
    // a file whose stats prove EVERY row matches can be dropped whole even
    // when MoR deletes apply: the live rows are a subset of "all rows match"
    val (wholeFiles, rewrites) = tasks.partition(t =>
      Evaluators.rowsMustMatch(bound, t.file))
    var added: Seq[DataFile] = Nil
    if (rewrites.nonEmpty) {
      // read the affected files THROUGH the MoR machinery (outstanding
      // position/equality deletes applied) so previously deleted rows are
      // not resurrected into the rewrite; survivors = non-matching (NULL
      // rows survive via the null-preserving complement). On v3, survivors
      // are existing rows moving to new files — their lineage columns ride
      // along materialized (spec §Row Lineage rewrite rule).
      val lineage = metadata.formatVersion >= 3
      val survivors = (if (lineage) branchScan(branch).get.toDFWithLineageForTasks(rewrites)
        else branchScan(branch).get.toDFForTasks(rewrites, applyResidualOnlyWhereNeeded = true))
        .filter(ToColumn.complementary(bound))
      added = WriteFiles.write(spark, location,
        if (lineage) RowLineage.augment(schema) else schema, spec, survivors,
      UUID.randomUUID().toString, sortOrderOpt, metadata.properties,
        rebalance = true)
    }
    val removed = (wholeFiles ++ rewrites).map(_.file.filePath).toSet
    commitSnapshot(if (rewrites.isEmpty) "delete" else "overwrite",
      added = added, removedPaths = removed ++ deadDeleteFiles(removed, branch),
      conflictFilter = Some(filter), baseSnapshotId = baseSnap, toBranch = branch)
  }

  /** The target branch's head at planning time. Mirrors the commit's
    * parent resolution (targetHeadId): a stage-only (None) target parents
    * off main; a NAMED branch that doesn't exist yet has NO head — its
    * first commit starts an empty lineage, not a fork of main (ref:
    * snapshot_by_name metadata.py:304 returns None for an absent ref;
    * _parent_snapshot_id update/snapshot.py:131). */
  private def branchHeadId(branch: Option[String]): Option[Long] =
    targetHeadId(metadata, branch)

  /** Scan over the state a `branch`-targeted DML plans against: pinned at
    * the branch's head (with the CURRENT schema — branch DML binds to the
    * table schema, unlike time travel), the live state for main/stage-only,
    * and None for a not-yet-created branch (its state is empty). */
  private def branchScan(branch: Option[String]): Option[IceScan] =
    branch.filter(_ != "main") match {
      case Some(b) => metadata.refs.get(b).map(r =>
        new IceScan(this).useSnapshot(r.snapshotId).withCurrentSchema)
      case None => Some(new IceScan(this))
    }

  /** Delete files whose every applicable data file is in `removedData`:
    * dead after this commit (their targets are gone or rewritten with the
    * deletes folded in), so drop them in the same snapshot instead of
    * letting MoR state accumulate. */
  /** Copy-on-write group replacement for the SQL row-level operations
    * (UPDATE / MERGE INTO / rewritten DELETE — the SQL face of the
    * library upsert, ref table/__init__.py:800): drop the scanned data
    * files, write `df` as their complete replacement through the normal
    * fan-out write, and retire delete files left dangling by the rewrite
    * in the same snapshot. */
  /** Lineage-bearing read of an explicit task set, for callers outside
    * the table package (the DSv2 row-level write's updated-row diff). */
  private[graft] def lineageScanForTasks(tasks: Seq[FileScanTask]): DataFrame =
    new IceScan(this).toDFWithLineageForTasks(tasks)

  /** Metadata-only plan (file descriptors + applicable deletes, stats
    * stripped) of a pinned snapshot — the churn-proportional CDC poll
    * prunes at the FILE level from these before opening anything. */
  private[graft] def planTasksAt(snapshotId: Long): Seq[FileScanTask] =
    new IceScan(this).useSnapshot(snapshotId).planFiles(keepStats = false)

  /** [[planTasksAt]] with the full pruning machinery applied to `f` —
    * manifest summaries, partition values, file metrics. The FILTERED
    * CDC diff plans both snapshots through this so a consumer tailing
    * one partition pays only that partition's metadata + churn. */
  private[graft] def planTasksAtFiltered(snapshotId: Long, f: Expr): Seq[FileScanTask] =
    new IceScan(this).useSnapshot(snapshotId).filter(f).planFiles(keepStats = false)

  /** Lineage scan of a pinned snapshot restricted to an explicit task
    * subset (tasks must come from [[planTasksAt]] of the same snapshot —
    * the applicable-delete refs are snapshot-scoped). Reads with the
    * table's CURRENT schema, not the snapshot's: the CDC diff's output
    * speaks one schema for both sides of a range that may span an
    * evolution — a column added mid-range null-fills for cursor-time
    * rows, a dropped one disappears (id-based resolution handles both). */
  private[graft] def lineageScanForTasksAt(snapshotId: Long,
      tasks: Seq[FileScanTask]): DataFrame =
    new IceScan(this).useSnapshot(snapshotId).withCurrentSchema
      .toDFWithLineageForTasks(tasks)

  /** [[lineageScanForTasksAt]] plus `__file`/`__pos` (canonical path,
    * physical row position) — the coordinates the CDC poll's DV-diff
    * delete branch joins newly-masked positions against. */
  private[graft] def lineageScanWithPosForTasksAt(snapshotId: Long,
      tasks: Seq[FileScanTask]): DataFrame =
    new IceScan(this).useSnapshot(snapshotId).withCurrentSchema
      .toDFWithLineageForTasks(tasks, keepFilePos = true)

  /** Plain (no lineage columns) current-schema read of an explicit task
    * subset of a pinned snapshot — the v2-compatible face the changelog
    * source's file-granular append slices read through. */
  private[graft] def scanForTasksAt(snapshotId: Long,
      tasks: Seq[FileScanTask]): DataFrame =
    new IceScan(this).useSnapshot(snapshotId).withCurrentSchema
      .toDFForTasks(tasks, applyResidualOnlyWhereNeeded = true)

  /** Copy-on-write group replacement where the replacement data files
    * already exist on disk (the DSv2 write's direct-commit path: staged
    * per-task files under the data root, footer stats pre-harvested) —
    * same snapshot semantics as [[replaceFiles]] without the second
    * write. */
  private[graft] def replaceFilesPreStaged(removed: Set[String], files: Seq[DataFile],
      conflictFilter: Option[Expr] = None,
      baseSnapshotId: Option[Long] = None,
      toBranch: Option[String] = Some("main")): Unit =
    commitSnapshot("overwrite", added = files,
      removedPaths = removed ++ deadDeleteFiles(removed, toBranch),
      conflictFilter = conflictFilter, baseSnapshotId = baseSnapshotId,
      toBranch = toBranch)

  private[graft] def replaceFiles(removed: Set[String], df: DataFrame,
      conflictFilter: Option[Expr] = None,
      baseSnapshotId: Option[Long] = None,
      toBranch: Option[String] = Some("main"),
      lineageMaterialized: Boolean = false): Unit = {
    // v3 SQL row-level ops stage the reserved lineage columns alongside the
    // data; write them under their reserved field ids (spec rewrite rule)
    val added = WriteFiles.write(spark, location,
      if (lineageMaterialized) RowLineage.augment(schema) else schema,
      spec, df,
      UUID.randomUUID().toString, sortOrderOpt, metadata.properties,
      rebalance = true)
    commitSnapshot("overwrite", added = added,
      removedPaths = removed ++ deadDeleteFiles(removed, toBranch),
      conflictFilter = conflictFilter, baseSnapshotId = baseSnapshotId,
      toBranch = toBranch)
  }

  private def deadDeleteFiles(removedData: Set[String],
      branch: Option[String] = Some("main")): Set[String] = {
    if (removedData.isEmpty) return Set.empty
    val allTasks = branchScan(branch).map(_.planFiles()).getOrElse(Nil)
    val stillReferenced = allTasks
      .filterNot(t => removedData.contains(t.file.filePath))
      .flatMap(_.deletes.map(_.filePath)).toSet
    allTasks.filter(t => removedData.contains(t.file.filePath))
      .flatMap(_.deletes.map(_.filePath)).toSet -- stillReferenced
  }

  /** Overwrite rows matching `filter` (default: full truncate) with `df`
    * (ref: Transaction.overwrite table/__init__.py:606). */
  def overwrite(df: DataFrame, filter: Expr = AlwaysTrue): Unit =
    overwrite(df, filter, Map.empty[String, String])

  def overwrite(df: DataFrame, filter: Expr,
      snapshotProperties: Map[String, String]): Unit =
    overwrite(df, filter, snapshotProperties, Some("main"))

  /** Branch-targeted overwrite (ref: overwrite table/__init__.py:612
    * `branch`): plans/replaces against the branch's head, commits to its
    * ref only. */
  def overwrite(df: DataFrame, filter: Expr,
      snapshotProperties: Map[String, String], branch: Option[String]): Unit = {
    val bound = Exprs.rewriteNot(Binder.bind(schema, filter))
    val baseSnap = branchHeadId(branch)
    val tasks = branchScan(branch).map(_.filter(filter).planFiles()).getOrElse(Nil)
    val (wholeFiles, rewrites) = tasks.partition(t =>
      Evaluators.rowsMustMatch(bound, t.file))
    var added = WriteFiles.write(spark, location, schema, spec, df,
      UUID.randomUUID().toString, sortOrderOpt, metadata.properties)
    if (rewrites.nonEmpty) {
      // MoR-aware read, as in delete(): never resurrect deleted rows.
      // v3 survivors carry materialized lineage (spec §Row Lineage).
      val lineage = metadata.formatVersion >= 3
      val survivors = (if (lineage) branchScan(branch).get.toDFWithLineageForTasks(rewrites)
        else branchScan(branch).get.toDFForTasks(rewrites, applyResidualOnlyWhereNeeded = true))
        .filter(ToColumn.complementary(bound))
      added = added ++ WriteFiles.write(spark, location,
        if (lineage) RowLineage.augment(schema) else schema, spec, survivors,
      UUID.randomUUID().toString, sortOrderOpt, metadata.properties,
        rebalance = true)
    }
    val removed = (wholeFiles ++ rewrites).map(_.file.filePath).toSet
    commitSnapshot("overwrite", added = added,
      removedPaths = removed ++ deadDeleteFiles(removed, branch),
      conflictFilter = Some(filter), baseSnapshotId = baseSnap,
      extraSummary = snapshotProperties, toBranch = branch)
  }

  /** Overwrite only the partitions present in `df`
    * (ref: dynamic_partition_overwrite table/__init__.py:541). */
  def dynamicPartitionOverwrite(df: DataFrame): Unit =
    dynamicPartitionOverwrite(df, Some("main"))

  /** Branch-targeted variant (ref: dynamic_partition_overwrite
    * table/__init__.py:542 `branch`). */
  def dynamicPartitionOverwrite(df: DataFrame, branch: Option[String]): Unit = {
    require(!spec.isUnpartitioned, "dynamic overwrite requires a partitioned table")
    val baseSnap = branchHeadId(branch)
    val aligned = WriteFiles.align(df, schema)
    val partCols = spec.fields.map { pf =>
      val src = schema.byId(pf.sourceId)
      pf.transform.column(col(src.name), src.fieldType).as(pf.name)
    }
    // distinct touched partition tuples — a small driver-side set by design
    // (#partitions << #rows); the data itself never leaves executors. The
    // collect is BOUNDED: limit(max+1) caps driver transfer in the same
    // job, and crossing the bound fails typed instead of exhausting the
    // driver heap on a pathological 10^7-partition overwrite.
    val maxTouched = metadata.properties
      .get("write.dynamic-overwrite.max-touched-partitions")
      .flatMap(_.toIntOption).getOrElse(100000)
    val touchedRows = aligned.select(partCols: _*).distinct()
      .limit(maxTouched + 1).collect()
    require(touchedRows.length <= maxTouched,
      s"Dynamic overwrite touches more than $maxTouched partitions; " +
        "narrow the write or raise write.dynamic-overwrite.max-touched-partitions")
    val touched: Set[Seq[Any]] = touchedRows.map(r => normalizeTuple(r.toSeq)).toSet
    val removed = branchScan(branch).map(_.planFiles()).getOrElse(Nil)
      .filter(t => touched.contains(normalizeTuple(t.file.partition)))
      .map(_.file.filePath).toSet
    val added = WriteFiles.write(spark, location, schema, spec, df,
      UUID.randomUUID().toString, sortOrderOpt, metadata.properties)
    // conflict filter over the touched partitions: a concurrent append into
    // one of them planned against state this overwrite is about to replace
    // (ref: _DynamicOverwrite validation, table/update/validate.py). The
    // per-field In is the cartesian superset of the touched tuples —
    // conservative: may flag a disjoint tuple sharing every coordinate,
    // never misses a real conflict.
    val conflict: Expr = spec.fields.zipWithIndex.map { case (pf, i) =>
      val src = schema.byId(pf.sourceId)
      val tr = if (pf.transform == IdentityTransform) None else Some(pf.transform)
      val vals = touched.map(_(i)).toSeq
      val nonNull = vals.filter(_ != null)
      val inPred: Expr =
        if (nonNull.isEmpty) AlwaysFalse else In(src.name, nonNull, tr)
      if (vals.contains(null)) Or(inPred, IsNull(src.name, tr)) else inPred
    }.reduce(And(_, _))
    commitSnapshot("overwrite", added = added, removedPaths = removed,
      conflictFilter = Some(conflict), baseSnapshotId = baseSnap, toBranch = branch)
  }

  /** Dynamic overwrite where the replacement data files already exist
    * with harvested stats (the DSv2 write's direct-commit path) — the
    * touched-partition set comes FREE from the descriptors' partition
    * tuples, so the re-read AND the distinct-partitions job both
    * disappear. Same conflict predicate and commit as the DataFrame
    * variant. */
  private[graft] def dynamicPartitionOverwritePreStaged(files: Seq[DataFile],
      branch: Option[String] = Some("main")): Unit = {
    require(!spec.isUnpartitioned, "dynamic overwrite requires a partitioned table")
    if (files.isEmpty) return
    val baseSnap = branchHeadId(branch)
    val maxTouched = metadata.properties
      .get("write.dynamic-overwrite.max-touched-partitions")
      .flatMap(_.toIntOption).getOrElse(100000)
    val touched: Set[Seq[Any]] = files.map(f => normalizeTuple(f.partition)).toSet
    require(touched.size <= maxTouched,
      s"Dynamic overwrite touches more than $maxTouched partitions; " +
        "narrow the write or raise write.dynamic-overwrite.max-touched-partitions")
    val removed = branchScan(branch).map(_.planFiles()).getOrElse(Nil)
      .filter(t => touched.contains(normalizeTuple(t.file.partition)))
      .map(_.file.filePath).toSet
    val conflict: Expr = spec.fields.zipWithIndex.map { case (pf, i) =>
      val src = schema.byId(pf.sourceId)
      val tr = if (pf.transform == IdentityTransform) None else Some(pf.transform)
      val vals = touched.map(_(i)).toSeq
      val nonNull = vals.filter(_ != null)
      val inPred: Expr =
        if (nonNull.isEmpty) AlwaysFalse else In(src.name, nonNull, tr)
      if (vals.contains(null)) Or(inPred, IsNull(src.name, tr)) else inPred
    }.reduce(And(_, _))
    commitSnapshot("overwrite", added = files, removedPaths = removed,
      conflictFilter = Some(conflict), baseSnapshotId = baseSnap, toBranch = branch)
  }

  private def normalizeTuple(vs: Seq[Any]): Seq[Any] = vs.map {
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
    case d: java.time.LocalDate => d.toEpochDay.toInt
    case t: java.sql.Timestamp => t.toInstant.toEpochMilli * 1000L
    case i: java.time.Instant => i.toEpochMilli * 1000L
    case d: java.math.BigDecimal => d
    case other => other
  }

  /** MERGE/upsert (ref: Transaction.upsert table/__init__.py:800,
    * upsert_util.py): join on key columns; update rows whose non-key
    * columns differ (null-safe compare), insert unmatched source rows.
    * The matched-row diff and the file-targeting both run as Spark joins —
    * no driver-side key collection. Returns (updated, inserted). */
  def upsert(source: DataFrame, joinCols: Seq[String] = Nil): (Long, Long) =
    upsert(source, joinCols, whenMatchedUpdateAll = true,
      whenNotMatchedInsertAll = true, caseSensitive = true)

  /** (ref: upsert table/__init__.py:800 — join_cols default to identifier
    * fields, when_matched_update_all / when_not_matched_insert_all toggle
    * the two MERGE branches, case_sensitive governs key resolution). */
  def upsert(source: DataFrame, joinCols: Seq[String],
      whenMatchedUpdateAll: Boolean, whenNotMatchedInsertAll: Boolean,
      caseSensitive: Boolean): (Long, Long) =
    upsert(source, joinCols, whenMatchedUpdateAll, whenNotMatchedInsertAll,
      caseSensitive, Some("main"))

  /** Branch-targeted upsert (ref: upsert table/__init__.py:807 `branch`):
    * the MERGE reads the BRANCH's head as the target and commits to its
    * ref; against a not-yet-created branch every source row inserts. */
  def upsert(source: DataFrame, joinCols: Seq[String],
      whenMatchedUpdateAll: Boolean, whenNotMatchedInsertAll: Boolean,
      caseSensitive: Boolean, branch: Option[String]): (Long, Long) = {
    val keys = (if (joinCols.nonEmpty) joinCols
      else schema.identifierFieldIds.map(id => schema.byId(id).name))
      .map(k => schema.findField(k, caseSensitive).getOrElse(
        throw new IllegalArgumentException(s"Join column not found: $k")).name)
    require(keys.nonEmpty, "upsert needs join columns or identifier fields")
    // with both MERGE branches disabled nothing can change — return before
    // evaluating the probe join (the old two-join shape did this implicitly)
    if (!whenMatchedUpdateAll && !whenNotMatchedInsertAll) return (0L, 0L)
    // the probe join rides internal helper columns; a schema that already
    // uses one of these names would be clobbered by withColumn / dropped by
    // drop() — reject loudly (the reference guards its reserved names the
    // same way, upsert_util.py:82)
    locally {
      val reserved = Seq("__graft_upsert_matched", "__upd", "__ins")
      val clash = schema.fields.map(_.name).filter(reserved.contains)
      require(clash.isEmpty,
        s"upsert cannot run on a table with reserved column name(s) " +
          s"${clash.mkString(", ")} — rename the column(s)")
    }
    // upsert reads the whole (branch) table, so ANY concurrent commit
    // on that lineage conflicts
    val baseSnap = branchHeadId(branch)
    val src = WriteFiles.align(source, schema).cache()
    var probe: Option[DataFrame] = None
    try {
      // duplicate keys in source are an error (ref upsert_util.py:51)
      val dup = src.groupBy(keys.map(col): _*).count().filter(col("count") > 1).limit(1).count()
      require(dup == 0, s"Duplicate rows in source on key ${keys.mkString(",")}")

      val nonKeys = schema.fields.map(_.name).filterNot(keys.contains)
      val target = branchScan(branch).map(_.toDF).getOrElse(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          schema.toSpark))

      // ONE left-outer join + ONE counting action serve the update set,
      // the insert set and both counts — the former inner + left_anti
      // pair evaluated the same join twice and ran two count actions
      // (the applyChangelog count-fusion shape). `matched` rides a
      // constant marker on the target side: isNotNull is a total
      // boolean, so null-valued source keys (which never key-match under
      // `===`) classify as inserts exactly like the left_anti did, and
      // a matched row appears once per matching target row exactly as
      // under the inner join (duplicate-target-key multiplicity
      // preserved; the lineage rewrite's min-id election downstream is
      // unchanged).
      // rows to UPDATE: key matches and any non-key column differs
      // (null-safe <=>; ref get_rows_to_update upsert_util.py:56)
      val changedCond = nonKeys.map(c => !(src(c) <=> target(c)))
        .reduceOption(_ || _).getOrElse(lit(false))
      val marker = "__graft_upsert_matched"
      val tgtM = target.withColumn(marker, lit(true))
      val matched = col(marker).isNotNull
      val j = src.join(tgtM, keys.map(k => src(k) === target(k)).reduce(_ && _),
          "left_outer")
        .select(src.columns.map(c => src(c).as(c)) :+
          (matched && changedCond).as("__upd") :+ (!matched).as("__ins"): _*)
        .cache()
      probe = Some(j)
      val row = j.agg(
        sum(when(col("__upd"), 1L).otherwise(0L)),
        sum(when(col("__ins"), 1L).otherwise(0L))).head()
      val nUpdates = if (whenMatchedUpdateAll && !row.isNullAt(0)) row.getLong(0) else 0L
      val nInserts = if (whenNotMatchedInsertAll && !row.isNullAt(1)) row.getLong(1) else 0L
      val updates = j.filter(col("__upd")).drop("__upd", "__ins")
      val inserts = j.filter(col("__ins")).drop("__upd", "__ins")

      if (nUpdates == 0 && nInserts == 0) return (0L, 0L)

      var removedPaths = Set.empty[String]
      var added: Seq[DataFile] = Nil
      // v3 row lineage through MERGE (spec §Row Lineage): survivors carry
      // their current (_row_id, _last_updated_sequence_number) materialized;
      // UPDATED rows keep the matched target row's _row_id with a NULL
      // sequence number (inherits the new commit's); inserts stage null
      // lineage and inherit fresh ids. The upsert knows exactly which rows
      // are updates, so the semantics are exact — no content re-diff.
      val lineage = metadata.formatVersion >= 3
      val writeSchema = if (lineage) RowLineage.augment(schema) else schema
      if (nUpdates > 0) {
        // locate affected files via the scan's __file column (semi-join —
        // the key set never leaves executors), then RE-READ only those
        // files THROUGH the MoR machinery (outstanding position/equality
        // deletes applied) so deleted rows are not resurrected into the
        // rewrite. The path set is metadata-sized (#files, not #rows).
        val scanObj = branchScan(branch).get
        val tasks = scanObj.planFiles()
        val targetWithFile = scanObj.toDFForTasks(tasks,
          applyResidualOnlyWhereNeeded = true, keepFile = true)
        val updKeys = updates.select(keys.map(col): _*)
        val affected = targetWithFile
          .join(updKeys, keys, "left_semi")
          .select(col("__file")).distinct().collect().map(_.getString(0)).toSet
        val affectedTasks = tasks.filter(t =>
          affected.contains(graft.core.PathUtil.canon(t.file.filePath)))
        // raw manifest paths for the commit (removal matches byte-for-byte);
        // delete files left dangling by the rewrite are dropped in the same
        // snapshot instead of accumulating dead MoR state
        val removedData = affectedTasks.map(_.file.filePath).toSet
        removedPaths = removedData ++ deadDeleteFiles(removedData, branch)
        val affectedRows = if (lineage) scanObj.toDFWithLineageForTasks(affectedTasks)
          else scanObj.toDFForTasks(affectedTasks, applyResidualOnlyWhereNeeded = true)
        val survivors = affectedRows.join(updKeys, keys, "left_anti")
        val replacement =
          if (!lineage) survivors.unionByName(updates)
          else {
            // updated rows take the matched target row's id — min per key,
            // so a (legal) duplicate key in the TARGET can't fan the update
            // out into two rows: the smallest id survives, the rest retire
            // with their rows
            val targetIds = affectedRows
              .groupBy(keys.map(col): _*)
              .agg(min(col(RowLineage.RowIdName)).as(RowLineage.RowIdName))
            survivors.unionByName(updates
              .join(targetIds, keys, "inner")
              .withColumn(RowLineage.LastUpdatedName,
                lit(null).cast("long")))
          }
        added = WriteFiles.write(spark, location, writeSchema, spec, replacement,
      UUID.randomUUID().toString, sortOrderOpt, metadata.properties,
          rebalance = true)
      }
      if (nInserts > 0) {
        val ins = if (!lineage) inserts
          else inserts
            .withColumn(RowLineage.RowIdName, lit(null).cast("long"))
            .withColumn(RowLineage.LastUpdatedName, lit(null).cast("long"))
        added = added ++ WriteFiles.write(spark, location, writeSchema, spec, ins,
      UUID.randomUUID().toString, sortOrderOpt, metadata.properties,
          rebalance = true)
      }
      commitSnapshot("overwrite", added = added, removedPaths = removedPaths,
        conflictFilter = Some(AlwaysTrue), baseSnapshotId = baseSnap, toBranch = branch)
      (nUpdates, nInserts)
    } finally {
      src.unpersist()
      probe.foreach(_.unpersist())
    }
  }

  /** Last change batch applied to this replica by [[applyCdc]], updated
    * ATOMICALLY with the batch's data (same metadata swap). */
  def appliedCdcCursor: Option[String] =
    metadata.properties.get(IceTable.CdcCursorProp)

  /** CDC APPLY — maintain this table as a physical replica of another
    * table's row-identity change feed (`TableChanges.pollLineageCdc` /
    * the `graft-cdc` streaming source), one batch per call, EXACTLY-ONCE.
    *
    * `changes` is a feed batch (source data columns + `_row_id` +
    * `_change_type`); the replica's schema is the source's data columns
    * plus `srcIdCol`, the persisted source row id that keys every later
    * batch back to the rows it must touch. The apply is one atomic
    * commit: retired rows (deletes + pre-update images) leave, new
    * images (inserts + post-update rows) land, and the replication
    * cursor property (`graft.cdc.applied-cursor` = `newCursor`) rides
    * the SAME metadata swap — so there is no crash window between "data
    * applied" and "cursor recorded". Exactly-once follows: a replayed
    * batch (stored cursor already `newCursor`) is a detected no-op; a
    * skipped or out-of-order batch (stored cursor ≠ `expectedCursor`)
    * fails fast instead of silently corrupting the replica.
    *
    * Scale shape: the retire pass locates affected replica files with a
    * metadata-planned scan + `__file` semi-join on `srcIdCol` (the same
    * targeting as [[upsert]]) and rewrites ONLY those files; inserts
    * append. Work ∝ churn × replica clustering, never replica size. A
    * v3 replica keeps its own row lineage through the apply (survivors
    * carry ids, new images inherit fresh ones) — so a replica can
    * itself be CDC-tailed, chaining mirrors.
    *
    * Returns (inserted, updated, deleted) row counts. */
  def applyCdc(changes: DataFrame, expectedCursor: Option[String],
      newCursor: String, srcIdCol: String = "_src_row_id"): (Long, Long, Long) = {
    refresh()
    val stored = appliedCdcCursor
    if (stored.contains(newCursor)) return (0L, 0L, 0L) // replayed batch
    require(stored == expectedCursor,
      s"Replica cursor diverged: stored=${stored.getOrElse("<none>")}, " +
        s"batch expects ${expectedCursor.getOrElse("<none>")} — batches must " +
        "apply in feed order, exactly once")
    require(schema.fields.exists(_.name == srcIdCol),
      s"Replica schema lacks the source-id column '$srcIdCol'")
    val idName = RowLineage.RowIdName
    val baseSnap = branchHeadId(Some("main"))
    val batch = changes.cache()
    try {
      val byType = batch.groupBy(col("_change_type")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val nIns = byType.getOrElse("insert", 0L)
      val nUpd = byType.getOrElse("update", 0L)
      val nDel = byType.getOrElse("delete", 0L)
      val cursorStamp = IceTable.guardedCursorStamp(name, stored, newCursor)
      if (nIns + nUpd + nDel == 0) {
        // cursor-only advance (source snapshots with zero net row change)
        commitMetadata(cursorStamp)
        return (0L, 0L, 0L)
      }
      propagateFeedSchema(batch, excluded = Set(srcIdCol))
      val feedNames = batch.columns.toSet
      val dataCols = schema.fields.map(_.name).filterNot(_ == srcIdCol)
      val retire = batch.filter(col("_change_type").isin("delete", "update"))
        .select(col(idName).as(srcIdCol))
      val newImages = batch.filter(col("_change_type").isin("insert", "update"))
        .select(dataCols.map(c =>
          if (feedNames(c)) col(c) else lit(null).as(c)) :+ col(idName).as(srcIdCol): _*)
      applyKeyed(if (nUpd + nDel > 0) Some(retire) else None, Seq(srcIdCol),
        if (nIns + nUpd > 0) Some(newImages) else None, cursorStamp, baseSnap)
      (nIns, nUpd, nDel)
    } finally batch.unpersist()
  }

  /** CHANGELOG APPLY — the v2-compatible face of replication: apply one
    * source CHANGELOG batch (`TableChanges.changelog` / the
    * `graft-changelog` source — table columns + `_change_type`
    * 'insert' | 'delete' + `_change_ordinal`) to this table as a KEYED
    * mirror. Below v3 there is no row identity, so the key columns
    * stand in (the upsert contract: unique per source state). Per key,
    * the HIGHEST-ordinal event wins: an update is a delete + insert at
    * one ordinal (→ upsert of the new content), a lone trailing delete
    * removes the key, an insert-then-later-delete range nets to absent.
    * Cursor semantics are exactly [[applyCdc]]'s — the stamp rides the
    * data commit, replays no-op, out-of-order fails fast. Returns
    * (upserted, deleted). */
  def applyChangelog(changes: DataFrame, keyCols: Seq[String],
      expectedCursor: Option[String], newCursor: String): (Long, Long) = {
    refresh()
    val stored = appliedCdcCursor
    if (stored.contains(newCursor)) return (0L, 0L) // replayed batch
    require(stored == expectedCursor,
      s"Replica cursor diverged: stored=${stored.getOrElse("<none>")}, " +
        s"batch expects ${expectedCursor.getOrElse("<none>")} — batches must " +
        "apply in feed order, exactly once")
    require(keyCols.nonEmpty, "applyChangelog needs key columns")
    keyCols.foreach(k => require(schema.fields.exists(_.name == k),
      s"Replica schema lacks key column '$k'"))
    val baseSnap = branchHeadId(Some("main"))
    val batch = changes.cache()
    try {
      val cursorStamp = IceTable.guardedCursorStamp(name, stored, newCursor)
      if (batch.isEmpty) {
        commitMetadata(cursorStamp)
        return (0L, 0L)
      }
      propagateFeedSchema(batch, excluded = Set("_change_ordinal",
        "_commit_snapshot_id") ++ keyCols)
      val keys = keyCols.map(col)
      // per key: events at the highest ordinal decide; an insert there
      // wins over its paired delete (that pair IS an update)
      val lastOrd = batch.groupBy(keys: _*)
        .agg(max(col("_change_ordinal")).as("__ord"))
      val last = batch.join(lastOrd, keyCols)
        .filter(col("_change_ordinal") === col("__ord"))
      val ups = last.filter(col("_change_type") === "insert")
      // ONE aggregation answers all three questions the apply needs
      // (former shape: three actions — a dupe probe, ups.count, and a
      // delete anti-join count — each re-evaluating the last-ordinal
      // join): per key at the final ordinal, the insert count classifies
      // it as upserted (1), duplicate (>1, fail), or deleted (0 inserts
      // = only deletes survive at that ordinal).
      val perKey = last.groupBy(keys: _*).agg(
        sum(when(col("_change_type") === "insert", 1L).otherwise(0L))
          .as("__ins"))
      val summaryRow = perKey.agg(
        sum(when(col("__ins") > 0L, 1L).otherwise(0L)),
        sum(when(col("__ins") === 0L, 1L).otherwise(0L)),
        max(col("__ins"))).head()
      require(summaryRow.isNullAt(2) || summaryRow.getLong(2) <= 1L,
        s"Changelog has duplicate keys on (${keyCols.mkString(",")}) at their " +
          "final ordinal — a keyed mirror needs unique keys")
      val nUps = if (summaryRow.isNullAt(0)) 0L else summaryRow.getLong(0)
      val nDel = if (summaryRow.isNullAt(1)) 0L else summaryRow.getLong(1)
      // retire EVERY touched key: upserts replace-by-key, removed keys
      // leave, keys never present in the replica no-op through the join
      val retire = batch.select(keys: _*).distinct()
      val feedNames = batch.columns.toSet
      val images = ups.select(schema.fields.map(_.name).map(c =>
        if (feedNames(c)) col(c) else lit(null).as(c)): _*)
      applyKeyed(Some(retire), keyCols,
        if (nUps > 0) Some(images) else None, cursorStamp, baseSnap)
      (nUps, nDel)
    } finally batch.unpersist()
  }

  /** SCHEMA PROPAGATION for the apply faces: a column the source added
    * since the last batch appears in the feed — auto-add it to the
    * replica first (metadata-only commit; idempotent, so a crash between
    * it and the data commit is benign). A replica column the feed lacks
    * (dropped upstream) fills NULL at image build: the mirror keeps its
    * shape and history. */
  private def propagateFeedSchema(batch: DataFrame, excluded: Set[String]): Unit = {
    val reserved = RowLineage.ReservedNames + "_change_type" ++ excluded
    val missing = batch.schema.fields
      .filterNot(f => reserved(f.name))
      .filterNot(f => schema.fields.exists(_.name == f.name))
    if (missing.nonEmpty) {
      val up = updateSchema
      missing.foreach { f =>
        val ice = Schema.fromSpark(
          org.apache.spark.sql.types.StructType(Seq(f))).fields.head.fieldType
        up.addColumn(f.name, ice)
      }
      up.commit()
    }
  }

  /** Shared landing stage for the keyed applies ([[applyCdc]] retires by
    * the persisted source row id, [[applyChangelog]] by user key
    * columns): retire `retire`'s keys — a CoW rewrite of only the
    * candidate files, or DV masks when a v3 replica declares
    * `write.merge.mode=merge-on-read` (v2 falls back to the rewrite; its
    * MoR currency is parquet position-delete files, not worth a second
    * legacy write path) — land `images`, and stamp the cursor, all in
    * ONE atomic commit.
    *
    * `affectedPaths`: the EXACT set of data files holding retired keys,
    * when the caller already knows it (the MV landing reads the current
    * rows with `__file` and collects the retired groups' files in its one
    * counting action) — skips this method's own targeting pass (bounds
    * candidates + semi-join + distinct + collect) entirely. Must be
    * derived from the same snapshot this apply plans against. */
  private[graft] def applyKeyed(retire: Option[DataFrame], joinCols: Seq[String],
      images: Option[DataFrame], cursorStamp: TableMetadata => TableMetadata,
      baseSnap: Option[Long],
      affectedPaths: Option[Set[String]] = None): Unit = {
    val lineage = metadata.formatVersion >= 3
    val writeSchema = if (lineage) RowLineage.augment(schema) else schema
    def imageRows: Option[DataFrame] = images.map { img =>
      val aligned = WriteFiles.align(img, schema)
      if (!lineage) aligned
      else aligned
        .withColumn(RowLineage.RowIdName, lit(null).cast("long"))
        .withColumn(RowLineage.LastUpdatedName, lit(null).cast("long"))
    }
    if (lineage && retire.isDefined &&
        metadata.properties.get("write.merge.mode").contains("merge-on-read")) {
      val imageFiles = imageRows.map(r =>
        WriteFiles.write(spark, location, writeSchema, spec, r,
          UUID.randomUUID().toString, sortOrderOpt, metadata.properties,
          rebalance = true))
        .getOrElse(Nil)
      applyCdcMor(retire.get, joinCols, imageFiles, cursorStamp, baseSnap,
        affectedPaths)
      return
    }
    var removedPaths = Set.empty[String]
    val pieces = Seq.newBuilder[DataFrame]
    retire.foreach { r => branchScan(Some("main")).foreach { scanObj =>
      val affectedTasks = affectedPaths match {
        case Some(paths) =>
          // the caller already knows the exact affected files — a pure
          // metadata filter, zero Spark actions
          scanObj.planFiles().filter(t =>
            paths.contains(graft.core.PathUtil.canon(t.file.filePath)))
        case None =>
          // affected replica files via id-bounds pruning + __file semi-join
          // — metadata-sized path set on the driver, the key set itself
          // never leaves executors (the upsert targeting shape)
          val tasks = retireCandidates(scanObj.planFiles(), r, joinCols)
          val targetWithFile = scanObj.toDFForTasks(tasks,
            applyResidualOnlyWhereNeeded = true, keepFile = true)
          // null-safe (<=>) key joins throughout the retire stage: the MV
          // face maintains null-valued group keys as their own group, and a
          // using-column join would never target (so never retire) them
          val affected = graft.ops.Joins.nullSafeSemi(targetWithFile, r, joinCols)
            .select(col("__file")).distinct().collect().map(_.getString(0)).toSet
          tasks.filter(t =>
            affected.contains(graft.core.PathUtil.canon(t.file.filePath)))
      }
      val removedData = affectedTasks.map(_.file.filePath).toSet
      removedPaths = removedData ++ deadDeleteFiles(removedData, Some("main"))
      if (affectedTasks.nonEmpty) {
        val affectedRows = if (lineage) scanObj.toDFWithLineageForTasks(affectedTasks)
          else scanObj.toDFForTasks(affectedTasks, applyResidualOnlyWhereNeeded = true)
        pieces += graft.ops.Joins.nullSafeAnti(affectedRows, r, joinCols)
      }
    }}
    imageRows.foreach(pieces += _)
    val added = pieces.result().reduceOption(_ unionByName _) match {
      case Some(rows) => WriteFiles.write(spark, location, writeSchema, spec,
        rows, UUID.randomUUID().toString, sortOrderOpt, metadata.properties,
        rebalance = true)
      case None => Nil
    }
    commitSnapshot("overwrite", added = added, removedPaths = removedPaths,
      extraMeta = cursorStamp, conflictFilter = Some(AlwaysTrue),
      baseSnapshotId = baseSnap)
  }

  /** Replica files that might hold a retired source id: per-file
    * `srcIdCol` min/max footer stats against the retire-id set, as a
    * range-contains join against the broadcast (metadata-sized) bounds
    * table — so the retire pass reads candidate files, not the replica.
    * Source row ids are assigned monotonically per commit, so replica
    * files written by sequential applies carry naturally DISJOINT id
    * ranges and churn concentrated in recent ingest prunes to recent
    * files; scattered churn degrades gracefully toward all-files (the
    * set any engine must open). Files missing bounds stay candidates —
    * conservative, never wrong. */
  private[graft] def retireCandidates(tasks: Seq[FileScanTask], retire: DataFrame,
      joinCols: Seq[String]): Seq[FileScanTask] = {
    // bounds pruning needs ONE long-typed key; composite or non-numeric
    // keys keep every file (the semi-join still narrows the rewrite set)
    val srcIdCol = joinCols match {
      case Seq(one) => one
      case _ => return tasks
    }
    val fid = schema.findField(srcIdCol).map(_.id).getOrElse(return tasks)
    def bounds(t: FileScanTask): Option[(Long, Long)] =
      for {
        lo <- t.file.lowerBounds.get(fid).collect { case l: Long => l }
        hi <- t.file.upperBounds.get(fid).collect { case h: Long => h }
      } yield (lo, hi)
    val bounded = tasks.flatMap(t => bounds(t).map { case (lo, hi) =>
      (PathUtil.canon(t.file.filePath), lo, hi) })
    if (bounded.isEmpty) return tasks
    val bdf = spark.createDataFrame(bounded).toDF("__path", "__lo", "__hi")
    // churn rows × broadcast file-bounds rows: executor-side, never an
    // all-pairs shuffle; the path set coming back is metadata-sized
    val hit = retire.join(broadcast(bdf),
        col(srcIdCol) >= col("__lo") && col(srcIdCol) <= col("__hi"))
      .select(col("__path")).distinct().collect().map(_.getString(0)).toSet
    tasks.filter(t => bounds(t).isEmpty ||
      hit.contains(PathUtil.canon(t.file.filePath)))
  }

  /** [[applyCdc]]'s merge-on-read retire: one pass over the CANDIDATE
    * replica files (id-bounds-pruned via [[retireCandidates]]) semi-joins
    * the retired source ids to (file, position)
    * pairs (churn-sized once materialized), then the shared DV commit
    * masks them and lands the new-image files in the SAME snapshot — the
    * cursor stamp still rides that one metadata swap. Files without a
    * retired row get no DV and are never rewritten. */
  private def applyCdcMor(retire: DataFrame, joinCols: Seq[String],
      imageFiles: Seq[DataFile], cursorStamp: TableMetadata => TableMetadata,
      baseSnap: Option[Long],
      affectedPaths: Option[Set[String]] = None): Unit = {
    val live = branchScan(Some("main")).map(_.planFiles()).getOrElse(Nil)
    val tasks = affectedPaths match {
      case Some(paths) => live.filter(t =>
        paths.contains(PathUtil.canon(t.file.filePath)))
      case None => retireCandidates(live, retire, joinCols)
    }
    // live rows only: a row an earlier delete masks is not retired again
    val retired = if (tasks.isEmpty) None else Some(
      IceScan.read(this, tasks, schema, keepFile = true, keepPos = true)
        .select(joinCols.map(col) ++ Seq(col("__file"), col("__pos")): _*)
        .transform(graft.ops.Joins.nullSafeSemi(_, retire, joinCols))
        .select(col("__file").as("__dfile"), col("__pos").as("__dpos")))
    retired match {
      case None =>
        commitSnapshot("overwrite", added = imageFiles, removedPaths = Set.empty,
          extraMeta = cursorStamp, conflictFilter = Some(AlwaysTrue),
          baseSnapshotId = baseSnap)
      case Some(posFrame) =>
        // materialized once: the DV commit re-reads it from this cache
        val newPos = posFrame.cache()
        try {
          val affectedFiles = newPos.select(col("__dfile")).distinct()
            .collect().map(_.getString(0)).toSet
          if (affectedFiles.isEmpty)
            commitSnapshot("overwrite", added = imageFiles, removedPaths = Set.empty,
              extraMeta = cursorStamp, conflictFilter = Some(AlwaysTrue),
              baseSnapshotId = baseSnap)
          else {
            val affected = tasks
              .filter(t => affectedFiles.contains(PathUtil.canon(t.file.filePath)))
              .map(t => PathUtil.canon(t.file.filePath) -> t).toMap
            commitDeletionVectors(affected, newPos, "overwrite",
              Some(AlwaysTrue), baseSnap, imageFiles, cursorStamp)
          }
        } finally newPos.unpersist()
    }
  }

  /** NESTED name mapping for files written without ids (ref:
    * table/name_mapping.py:73 NameMapping; property
    * `schema.name-mapping.default`, spec JSON list format). Struct leaves
    * keep their registration-time names, so renamed nested columns still
    * resolve in external files; the legacy flat `{"name": id}` layout of
    * earlier versions of this library still parses. */
  def nameMappingNested: Seq[MappedField] =
    metadata.properties.get("schema.name-mapping.default")
      .map(NameMapping.fromJson).getOrElse(Nil)

  /** Flat top-level id → name view of the nested mapping. */
  def nameMapping: Map[Int, String] =
    nameMappingNested.collect {
      case MappedField(Some(id), names, _) if names.nonEmpty => id -> names.head
    }.toMap

  /** Merge updates into the default name mapping (ref: name_mapping.py:153
    * update_mapping — ours keeps ONE name per id, so an update re-points
    * the id to the name it carried in externally-written files). Children
    * of updated struct entries are preserved. */
  def updateNameMapping(updates: Map[Int, String]): Unit = {
    updates.keys.foreach(id => require(schema.byId.contains(id), s"No field with id $id"))
    val merged = NameMapping.updateTopLevel(nameMappingNested, updates)
    setProperties("schema.name-mapping.default" -> NameMapping.toJson(merged))
  }

  /** Register existing parquet files without rewriting them (ref:
    * add_files table/__init__.py:972; parquet_file_to_data_file
    * io/pyarrow.py:2887). Stats come from the footers, distributed.
    * Installs a name mapping so id-less files resolve columns by name.
    *
    * On a partitioned table the partition tuple is INFERRED from footer
    * stats like the reference (io/fileformat.py:49 _partition_value):
    * the transform must preserve order and transform(min) must equal
    * transform(max) — i.e. the file must hold exactly one partition. */
  def addFiles(paths: Seq[String], checkDuplicates: Boolean = true): Unit = {
    if (!metadata.properties.contains("schema.name-mapping.default"))
      setProperties("schema.name-mapping.default" ->
        NameMapping.toJson(NameMapping.fromSchema(schema)))
    val planned = new IceScan(this).planFiles()
    if (checkDuplicates) {
      val existing = planned.map(_.file.filePath).toSet
      val dups = paths.filter(existing)
      require(dups.isEmpty, s"Files already referenced: ${dups.take(3).mkString(",")}")
    }
    // stale-delete guard (ADVICE r5): the changelog's position join and
    // the DV merge key position deletes by (path, pos) alone, so
    // re-registering a path an older LIVE delete file still names would
    // wrongly delete the new file's rows there — only the planner's
    // sequence scoping excludes the delete for the re-added file.
    // Registration of such paths is rejected outright.
    val liveDeletes = planned.flatMap(_.deletes).distinctBy(_.filePath)
    if (liveDeletes.nonEmpty) {
      val canonAdds = paths.map(PathUtil.canon).toSet
      val dvHits = liveDeletes.filter(_.isDeletionVector).flatMap(IceScan.refPathOf)
        .map(PathUtil.canon).filter(canonAdds)
      require(dvHits.isEmpty,
        s"Cannot add_files: ${dvHits.head} is referenced by a live deletion vector")
      val posFiles = liveDeletes
        .filter(d => d.content == FileContent.PositionDeletes && !d.isDeletionVector)
      if (posFiles.nonEmpty) {
        val hits = graft.spark.DeleteIndex.paths(spark, posFiles).select(col("path").as("p"))
          .filter(col("p").isInCollection(canonAdds))
          .limit(1).collect()
        require(hits.isEmpty,
          s"Cannot add_files: ${hits.headOption.map(_.getString(0)).getOrElse("")} " +
            "is named by a live position-delete file")
      }
    }
    // typed rejection for formats the read path can't serve (ref
    // manifest.py:114 FileFormat enum; add_files there is parquet-only —
    // ORC registration is this engine's extension)
    paths.find(p => !p.toLowerCase.endsWith(".parquet") && !p.toLowerCase.endsWith(".orc"))
      .foreach { p =>
        val fmt = p.reverse.takeWhile(_ != '.').reverse.toUpperCase
        throw new UnsupportedOperationException(
          s"Cannot add_files: unsupported data file format $fmt ($p); " +
            "only PARQUET and ORC are supported")
      }
    val colInfo = schema.leafColInfo
    // full (untruncated) bounds: identity partitions on long strings would
    // otherwise see truncated min != incremented max and reject the file
    val fullModes: Map[Int, String] = spec.fields.map(_.sourceId -> "full").toMap
    val slices = math.max(1, math.min(paths.size, spark.sparkContext.defaultParallelism))
    val confEntries = Io.confEntries(spark) // executors lack spark.hadoop.* otherwise
    val harvested = spark.sparkContext.parallelize(paths, slices)
      .mapPartitions { ps =>
        lazy val c = Io.confFrom(confEntries)
        // format by extension (ref add_files is parquet-only,
        // table/__init__.py:972; ORC registration is our extension so the
        // scan's ORC read path — io/pyarrow.py:1119 in the reference — is
        // reachable without a foreign writer)
        ps.map { p =>
          if (p.toLowerCase.endsWith(".orc"))
            OrcStats.fileToDataFile(p, colInfo, c, fullModes)
          else StatsHarvester.fileToDataFile(p, "", colInfo, Nil, Nil, c, fullModes)
        }
      }
      .collect().toSeq
    val files =
      if (spec.isUnpartitioned) harvested
      else harvested.map { f =>
        val tuple = spec.fields.map { pf =>
          require(pf.transform.preservesOrder || pf.transform == VoidTransform,
            s"Cannot infer partition value for non-linear transform ${pf.transform.name} " +
              s"(field ${pf.name}) from footer stats")
          val srcType = schema.byId(pf.sourceId).fieldType
          (f.lowerBounds.get(pf.sourceId), f.upperBounds.get(pf.sourceId)) match {
            case (Some(lo), Some(hi)) =>
              val plo = pf.transform.apply(lo, srcType)
              val phi = pf.transform.apply(hi, srcType)
              // Array[Byte] (binary/fixed sources) compares by reference
              // under ==; compare content
              val same = (plo, phi) match {
                case (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.equals(a, b)
                case _ => plo == phi
              }
              require(same,
                s"File ${f.filePath} spans partitions for ${pf.name}: $plo != $phi")
              plo
            case _ => null // all-null (or stat-less) column -> null partition
          }
        }
        f.copy(partition = tuple)
      }
    commitSnapshot("append", added = files, removedPaths = Set.empty)
  }

  /** Write position-delete files for rows matching `filter` (merge-on-read
    * extension beyond the reference, which only reads them — ref rejects
    * MoR writes at table/__init__.py:726). */
  def deletePositional(filter: String): Unit = deletePositional(ExprParser.parse(filter))

  def deletePositional(filter: Expr): Unit = {
    require(metadata.formatVersion >= 2,
      s"Delete files require format version >= 2 (table is v${metadata.formatVersion})")
    require(metadata.formatVersion < 3,
      "Format v3 forbids new position-delete files; use deleteAsDeletionVector")
    val bound = Exprs.rewriteNot(Binder.bind(schema, filter))
    val allTasks = new IceScan(this).filter(filter).planFiles()
    if (allTasks.isEmpty) return
    // a file whose stats prove EVERY row matches drops METADATA-ONLY —
    // a partition-wide MoR delete removes whole files instead of writing
    // millions of (file, pos) rows (live rows ⊆ "all rows match", so
    // this holds under outstanding deletes too, like CoW delete)
    val (wholeFiles, tasks) = allTasks.partition(t =>
      Evaluators.rowsMustMatch(bound, t.file))
    val removed = wholeFiles.map(_.file.filePath).toSet
    if (tasks.isEmpty) {
      if (removed.nonEmpty)
        commitSnapshot("delete", added = Nil,
          removedPaths = removed ++ deadDeleteFiles(removed))
      return
    }
    // global sort = range shuffle on (file_path, pos): one file's deletes
    // land contiguously and AQE sizes the output task count to the delete
    // volume — at 100 TB this writes many delete files in parallel instead
    // of funneling everything through one task
    val stage = s"${metadata.properties.getOrElse("write.data.path", s"$location/data")}/${UUID.randomUUID()}"
    // (file, pos) of the LIVE matching rows: the read applies the deletes
    // already outstanding, so overlapping deletes never restate a
    // position an earlier delete file holds
    val positions = IceScan.read(this, tasks, schema, keepFile = true, keepPos = true)
      .where(ToColumn.compile(bound))
      .select(col("__file").as("file_path"), col("__pos").as("pos"))
      .orderBy(col("file_path"), col("pos"))
    // FULL (untruncated) file_path bounds: equal lower/upper bounds are
    // how readers path-scope a delete file to its single target (the
    // reference's DeleteFileIndex rule) — the 16-char default truncation
    // would break the equality and demote every delete to a global
    // candidate
    val written = DataFileWriter.write(positions, DataFileWriter.spec(spark, stage,
      GraftDeltaWrite.PosDeleteSchema.toSpark, GraftDeltaWrite.PosDeleteSchema,
      modes = GraftDeltaWrite.PosDeleteModes))
      .filter(_.recordCount > 0)
      .map(_.copy(content = FileContent.PositionDeletes))
    commitSnapshot("delete", added = written,
      removedPaths = removed ++ deadDeleteFiles(removed))
  }

  /** Write v3 DELETION VECTORS for rows matching `filter`: one
    * `deletion-vector-v1` puffin blob per affected data file (ref:
    * table/deletion_vector.py:32, puffin.py — the reference reads DVs;
    * writing is our extension over the same public format). Spec
    * invariants enforced: at most one DV per data file — prior DVs and
    * prior parquet position deletes for an affected file are MERGED into
    * the new vector, and superseded DV entries are dropped in the same
    * commit (sibling blobs of a dropped puffin that reference unaffected
    * files are re-added unchanged).
    *
    * Scale shape: matched positions are computed, merged,
    * roaring-compressed, AND assembled into puffin files ON EXECUTORS
    * (groupByKey on the file path, one puffin per shuffle partition —
    * `write.dv.blobs-per-puffin`, default 64, sizes the partitioning); the
    * driver collects only (path, offset, length, cardinality) descriptors,
    * so its memory is independent of blob bytes — a wide delete over 10⁶
    * files ships no vector data through the driver. */
  def deleteAsDeletionVector(filter: String): Unit =
    deleteAsDeletionVector(ExprParser.parse(filter))

  def deleteAsDeletionVector(expr: Expr): Unit = {
    require(metadata.formatVersion >= 3,
      s"Deletion vectors require format version >= 3 (table is v${metadata.formatVersion})")
    val bound = Exprs.rewriteNot(Binder.bind(schema, expr))
    val baseSnap = metadata.currentSnapshotId
    val tasks = new IceScan(this).filter(expr).planFiles()
    if (tasks.isEmpty) return
    val affected: Map[String, FileScanTask] =
      tasks.map(t => PathUtil.canon(t.file.filePath) -> t).toMap
    // matched (file, position) pairs of LIVE rows — the read applies the
    // prior deletes, which the DV commit merges back in
    val matched = IceScan.read(this, tasks, schema, keepFile = true, keepPos = true)
      .where(ToColumn.compile(bound))
      .select(col("__file").as("__dfile"), col("__pos").as("__dpos"))
    commitDeletionVectors(affected, matched, "delete", Some(expr), baseSnap, Nil)
  }

  /** Shared tail of every DV-producing commit: merge `newPos`
    * (canon `__dfile`, `__dpos`) with the affected files' PRIOR deletes
    * (parquet position-deletes AND prior DVs — the spec allows at most
    * one DV per data file), roaring-compress and assemble puffins ON
    * EXECUTORS, and commit the new DV entries plus `extraAdded` (e.g. a
    * MoR MERGE's insert files) in ONE snapshot, dropping superseded
    * blobs. Callers: the predicate face above and the DSv2 delta
    * (merge-on-read SQL) write on v3 tables. */
  private[graft] def commitDeletionVectors(affected: Map[String, FileScanTask],
      newPos: DataFrame, operation: String, conflictFilter: Option[Expr],
      baseSnap: Option[Long], extraAdded: Seq[DataFile],
      extraMeta: TableMetadata => TableMetadata = identity): Unit = {
    val tasks = affected.values.toSeq
    // prior deletes for the affected files (metadata only; `priorDVs`
    // also names superseded blobs below)
    val priorDeletes = tasks.flatMap(_.deletes)
      .filter(_.content == FileContent.PositionDeletes)
      .distinctBy(f => (f.filePath, f.contentOffset))
    val priorDVs = priorDeletes.filter(_.isDeletionVector)

    // descriptor per written blob: (puffinPath, puffinSize, referenced
    // data file, blob offset, blob length, cardinality) — metadata-sized
    val descriptors: Seq[(String, Long, String, Long, Long, Long)] = {
    val branches = Seq.newBuilder[DataFrame]
    branches += newPos
    if (priorDeletes.nonEmpty)
      branches += graft.spark.DeleteIndex.frame(spark, priorDeletes).toDF("__dfile", "__dpos")
        .where(col("__dfile").isInCollection(affected.keys.toSeq))

    // one puffin file per shuffle partition, written IN the reduce task:
    // partition count sized so each puffin holds ~blobsPerPuffin vectors
    // (small deletes still produce exactly one file)
    val blobsPerPuffin = math.max(1, metadata.properties
      .getOrElse("write.dv.blobs-per-puffin", "64").toInt)
    // NOT capped by parallelism: blobsPerPuffin bounds the per-task blob
    // buffer (each reduce task materializes its partition's compressed
    // vectors before the puffin write) — capping at core count would let a
    // 10⁶-file delete pile ~n/cores blobs into one task's heap. Hash skew
    // across partitions is acceptable; the per-puffin count stays O(64).
    val numParts = math.max(1, (affected.size + blobsPerPuffin - 1) / blobsPerPuffin)
    val ioEntries = Io.confEntries(spark)
    val loc = location
    val dataRoot = metadata.properties.getOrElse("write.data.path", s"$loc/data")
    val seq = metadata.lastSequenceNumber + 1
    val snapId = baseSnap.getOrElse(-1L)
    branches.result()
      .reduce(_ unionByName _).distinct()
      .rdd.map(r => (r.getString(0), r.getLong(1)))
      .groupByKey(numParts)
      .mapPartitions { it =>
        val blobs = it.map { case (fp, positions) =>
          val arr = positions.toArray.sorted
          (fp, DeletionVector.frameBlob(arr), arr.length.toLong)
        }.toArray.sortBy(_._1)
        if (blobs.isEmpty) Iterator.empty
        else {
          val path = s"$dataRoot/${UUID.randomUUID()}-deletes.puffin"
          val written = Puffin.write(path, blobs.toSeq.map { case (fp, bytes, card) =>
            Puffin.Blob("deletion-vector-v1", Nil, snapId, seq, bytes,
              Map("referenced-data-file" -> fp, "cardinality" -> card.toString))
          }, confOverride = Io.confFrom(ioEntries))
          written.blobs.zip(blobs).iterator.map { case (info, (fp, _, card)) =>
            (path, written.fileSizeInBytes, fp, info.offset, info.length, card)
          }
        }
      }.collect().toSeq
    }
    if (descriptors.isEmpty && extraAdded.isEmpty) return

    val dvFiles = descriptors.map { case (puffinPath, puffinSize, fp, off, len, card) =>
      val t = affected(fp)
      // file_path BOUNDS (reserved id 2147483546) carry the referenced
      // file's RAW manifest path: readers that path-index position
      // deletes by equal lower/upper path bounds (the reference's
      // DeleteFileIndex, Java's writers do the same) resolve the DV's
      // target without relying on referenced_data_file — without these
      // a PARTITIONED table's DVs fall into the partition bucket and
      // foreign partition-record equality decides applicability
      val rawPath: Any = t.file.filePath
      DataFile(
        content = FileContent.PositionDeletes,
        filePath = puffinPath,
        fileFormat = "puffin",
        partition = t.file.partition,
        recordCount = card,
        fileSizeInBytes = puffinSize,
        lowerBounds = Map(2147483546 -> rawPath),
        upperBounds = Map(2147483546 -> rawPath),
        specId = t.file.specId,
        referencedDataFile = Some(fp),
        contentOffset = Some(off),
        contentSizeInBytes = Some(len))
    }

    // drop puffins holding superseded blobs; re-add sibling DV entries
    // (other referenced files) so they stay live under the new manifest
    val removedPuffins = priorDVs.map(_.filePath).toSet
    val siblings =
      if (removedPuffins.isEmpty) Nil
      else new IceScan(this).planFiles().flatMap(_.deletes)
        .filter(d => d.isDeletionVector && removedPuffins.contains(d.filePath) &&
          IceScan.refPathOf(d).forall(r => !affected.contains(PathUtil.canon(r))))
        .distinctBy(f => (f.filePath, f.contentOffset))
    commitSnapshot(operation, added = dvFiles ++ siblings ++ extraAdded,
      removedPaths = removedPuffins, extraMeta = extraMeta,
      conflictFilter = conflictFilter, baseSnapshotId = baseSnap)
  }

  /** Compaction (maintenance, beyond the reference — its file GC is
    * unimplemented): rewrite data files that (a) carry outstanding
    * position deletes (folding them in and dropping the delete files) or
    * (b) are smaller than `smallFileBytes` (bin-packed together). One
    * overwrite snapshot; contents unchanged. */
  /** Returns (rewritten data-file count, added data-file count). */
  def rewriteDataFiles(smallFileBytes: Long = 32L * 1024 * 1024): (Int, Int) = {
    val scanObj = new IceScan(this)
    val tasks = scanObj.planFiles()
    val withDeletes = tasks.filter(_.deletes.nonEmpty)
    val small = tasks.filter(t => t.deletes.isEmpty && t.file.fileSizeInBytes < smallFileBytes)
    val toRewrite = withDeletes ++ (if (small.size >= 2) small else Nil)
    if (toRewrite.isEmpty) return (0, 0)
    // bin-pack: coalesce the rewrite into ceil(totalBytes / 4×threshold)
    // outputs so many small files become few larger ones
    val totalBytes = toRewrite.map(_.file.fileSizeInBytes).sum
    val targetFiles =
      math.max(1L, (totalBytes + 4 * smallFileBytes - 1) / (4 * smallFileBytes)).toInt
    // v3: surviving rows move to new files, so their CURRENT _row_id /
    // _last_updated_sequence_number must be materialized into the rewrite
    // (spec §Row Lineage rewrite rule) — otherwise compaction would
    // silently renumber rows. v1/v2 tables have no lineage to carry.
    val lineage = metadata.formatVersion >= 3
    val df = (if (lineage) scanObj.toDFWithLineageForTasks(toRewrite)
      else scanObj.toDFForTasks(toRewrite, applyResidualOnlyWhereNeeded = true))
      .coalesce(targetFiles)
    val writeSchema = if (lineage) RowLineage.augment(schema) else schema
    val added = WriteFiles.write(spark, location, writeSchema, spec, df,
      UUID.randomUUID().toString, sortOrderOpt, metadata.properties)
    val removed = toRewrite.map(_.file.filePath).toSet ++
      withDeletes.flatMap(_.deletes.map(_.filePath))
    commitSnapshot("replace", added = added, removedPaths = removed)
    (toRewrite.size, added.size)
  }

  /** Z-ORDER compaction (maintenance, beyond the reference — the Iceberg
    * Spark action's `rewriteDataFiles(zorder(...))` equivalent): rewrite
    * ALL live data into `ceil(bytes/targetFileBytes)` files
    * range-partitioned and sorted by the 64-bit Morton interleave of the
    * given columns (functions/ZOrder.scala). Per-file min/max bounds
    * become tight on EVERY z-dimension, so metadata pruning skips files
    * for predicates on any of them — the multi-dimensional analog of a
    * sort order. Contents unchanged (outstanding deletes fold in); one
    * replace snapshot. Unpartitioned specs only: a fan-out write re-keys
    * the shuffle by partition value and would destroy the clustering.
    * Returns (rewritten, added) data-file counts. */
  def rewriteDataFilesZOrder(cols: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    require(spec.isUnpartitioned,
      "zorder rewrite supports unpartitioned tables; drop the spec or compact per partition")
    val zFields = cols.map(c => schema.findField(c, caseSensitive = true)
      .getOrElse(throw new IllegalArgumentException(s"zorder column not found: $c")))
    val scanObj = new IceScan(this)
    val tasks = scanObj.planFiles()
    if (tasks.isEmpty) return (0, 0)
    val totalBytes = tasks.map(_.file.fileSizeInBytes).sum
    val targetFiles =
      math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt

    // per-dimension key in [0, 2³²): MIN-MAX SCALED over the column's
    // GLOBAL range so the interleave spends its bits on the range that
    // actually varies (a raw sign-flip key concentrates 0..60000 into 15
    // low bits and the z-curve degenerates to the other dimension). The
    // range comes from the MANIFEST bounds — zero data reads; a column
    // with no usable numeric bounds falls back to the type-level key.
    def toD(v: Any): Option[Double] = v match {
      case i: Int => Some(i.toDouble)
      case l: Long => Some(l.toDouble)
      case f: Float => Some(f.toDouble)
      case d: Double => Some(d)
      case b: java.math.BigDecimal => Some(b.doubleValue())
      case d: java.time.LocalDate => Some(d.toEpochDay.toDouble)
      case _ => None
    }
    def zKey(f: NestedField): org.apache.spark.sql.Column = {
      val numeric: Option[org.apache.spark.sql.Column] = f.fieldType match {
        case IInt | ILong | IFloat | IDouble | IDecimal(_, _) =>
          Some(col(f.name).cast("double"))
        case IDate => Some(unix_date(col(f.name)).cast("double"))
        case ITimestamp | ITimestamptz => Some(unix_micros(col(f.name)).cast("double"))
        case _ => None
      }
      val lo = tasks.flatMap(t => t.file.lowerBounds.get(f.id)).flatMap(toD)
        .minOption
      val hi = tasks.flatMap(t => t.file.upperBounds.get(f.id)).flatMap(toD)
        .maxOption
      (numeric, lo, hi) match {
        case (Some(c), Some(l), Some(h)) if h > l =>
          (least(greatest((c - l) / (h - l), lit(0.0)), lit(1.0)) *
            4294967295.0).cast("long")
        case _ =>
          graft.functions.ZOrderFunctions.znorm32(col(f.name))
      }
    }
    val zname = "_graft_zvalue"
    // v3: the z-order shuffle moves every row to a new file — lineage rides
    // along materialized (spec §Row Lineage rewrite rule)
    val lineage = metadata.formatVersion >= 3
    val source = if (lineage) scanObj.toDFWithLineageForTasks(tasks)
      else scanObj.toDFForTasks(tasks, applyResidualOnlyWhereNeeded = true)
    val arranged = source
      .withColumn(zname,
        graft.functions.ZOrderFunctions.zvalueOfKeys(zFields.map(zKey)))
      .repartitionByRange(targetFiles, col(zname))
      .sortWithinPartitions(col(zname))
      .drop(zname)
    val added = WriteFiles.write(spark, location,
      if (lineage) RowLineage.augment(schema) else schema, spec, arranged,
      UUID.randomUUID().toString, None, metadata.properties)
    val removed = tasks.map(_.file.filePath).toSet ++
      tasks.flatMap(_.deletes.map(_.filePath))
    commitSnapshot("replace", added = added, removedPaths = removed)
    (tasks.size, added.size)
  }

  /** Compact POSITION-DELETE files (maintenance; the public
    * rewrite_position_deletes action): merge many small parquet delete
    * files into few range-sorted ones, DEDUPLICATING stacked (path, pos)
    * entries and DROPPING DANGLING rows that name data files no longer
    * live (left behind by compaction / overwrite until their delete file
    * has other live targets). v3 deletion vectors are excluded — one
    * blob per data file is already the compact form — as are equality
    * deletes. Safe under the spec's sequence rules: position deletes name
    * explicit (path, pos) tuples and data-file paths are never reused, so
    * re-registering surviving entries at the commit's new (higher)
    * sequence number cannot widen applicability. The merge is one
    * distributed read + dedup + range-sort; the driver handles only file
    * descriptors. Returns (rewritten, created) delete-file counts. */
  def rewritePositionDeletes(): (Int, Int) = {
    val tasks = new IceScan(this).planFiles()
    // enumerate candidates from the DELETE MANIFESTS, not from the live
    // scan tasks' attached deletes: a delete file whose targets were all
    // compacted away attaches to NO live task (and DV-superseded files
    // are dropped by the applicability index), yet stays registered in
    // manifests — exactly the dangling files this procedure must drop
    val posFiles = metadata.currentSnapshot.toSeq.flatMap { snap =>
      ManifestIO.readManifestList(snap.manifestList)
        .filter(_.content == 1)
        .flatMap { mf =>
          val mspec = metadata.specById(mf.partitionSpecId)
          ManifestIO.readManifest(mf.manifestPath, mspec, schema)
            .filter(_.status != EntryStatus.Deleted)
            .map(_.dataFile)
        }
    }.filter(d => d.content == FileContent.PositionDeletes &&
        d.contentOffset.isEmpty && !d.isDeletionVector)
      .distinctBy(_.filePath)
    if (posFiles.isEmpty) return (0, 0)
    val stage = s"${metadata.properties.getOrElse("write.data.path", s"$location/data")}/${UUID.randomUUID()}"
    // name-matched read: foreign delete parquets may carry no field ids
    val readSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("file_path",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val live = spark.createDataset(tasks.map(_.file.filePath))(
      org.apache.spark.sql.Encoders.STRING).toDF("live_path")
    val merged = spark.read.schema(readSchema)
      .parquet(posFiles.map(_.filePath): _*)
      .join(live, col("file_path") === col("live_path"), "left_semi")
      .dropDuplicates("file_path", "pos")
      .orderBy(col("file_path"), col("pos"))
    val written = DataFileWriter.write(merged, DataFileWriter.spec(spark, stage,
      GraftDeltaWrite.PosDeleteSchema.toSpark, GraftDeltaWrite.PosDeleteSchema))
      .filter(_.recordCount > 0)
      .map(_.copy(content = FileContent.PositionDeletes))
    // no-op guard: identical content in the same number of files → keep
    // the table as is (still counts the dedup/dangling win if any row or
    // file count changed)
    val beforeRows = posFiles.map(_.recordCount).sum
    val afterRows = written.map(_.recordCount).sum
    if (written.size == posFiles.size && afterRows == beforeRows) {
      Io.delete(stage, recursive = true)
      return (0, 0)
    }
    commitSnapshot("replace", added = written,
      removedPaths = posFiles.map(_.filePath).toSet)
    (posFiles.size, written.size)
  }

  /** Explicit manifest compaction (maintenance; the reference merges
    * manifests only opportunistically at commit time — update/snapshot.py
    * :733 _ManifestMergeManager behind the `commit.manifest-merge.enabled`
    * gate): re-bin the current snapshot's DATA manifests to
    * `commit.manifest.target-size-bytes` (or the explicit override),
    * combining undersized neighbours per spec-id and splitting oversized
    * ones, regardless of the auto-merge property/threshold. Data files are
    * untouched; one "replace" snapshot swaps the manifest list. Keeping
    * manifests near target size keeps 100-TB planning parallel (many
    * similar-size units to fan out over) AND partition-prunable (merging
    * all-into-one would serialize planning behind a single huge manifest).
    * Returns (rewritten, created) manifest counts. */
  def rewriteManifests(targetSizeBytes: Option[Long] = None): (Int, Int) = {
    var attempts = 0
    while (true) {
      attempts += 1
      try return rewriteManifestsOnce(targetSizeBytes)
      catch { case _: CommitConflictException if attempts <= commitNumRetries => refresh() }
    }
    (0, 0) // unreachable; satisfies the type checker
  }

  private def rewriteManifestsOnce(targetOverride: Option[Long]): (Int, Int) = {
    val base = metadata
    val currentOpt = base.currentSnapshot
    if (currentOpt.isEmpty) return (0, 0)
    val current = currentOpt.get
    val version = this.version
    val metaDir = metadataRoot(base.properties, base.location)
    val targetSize = targetOverride.getOrElse(base.properties
      .getOrElse("commit.manifest.target-size-bytes", (8L * 1024 * 1024).toString).toLong)
    val all = ManifestIO.readManifestList(current.manifestList)
    val (dataMs, deleteMs) = all.partition(_.content == 0)
    val snapId = base.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    val seq = base.lastSequenceNumber + 1
    var rewritten = 0
    var created = 0
    val rebinned: Seq[ManifestFile] = dataMs.groupBy(_.partitionSpecId).toSeq.sortBy(_._1)
      .flatMap { case (specId, ms) =>
        val sp = base.specById(specId)
        // greedy size-binning, same shape as the commit-time merge: an
        // oversized manifest lands alone in its bin and is split below
        val bins = scala.collection.mutable.ArrayBuffer[Vector[ManifestFile]]()
        var cur = Vector.empty[ManifestFile]
        var curBytes = 0L
        ms.foreach { m =>
          if (cur.nonEmpty && curBytes + m.manifestLength > targetSize) {
            bins += cur; cur = Vector.empty; curBytes = 0L
          }
          cur :+= m; curBytes += m.manifestLength
        }
        if (cur.nonEmpty) bins += cur
        bins.flatMap {
          case Vector(single) if single.manifestLength <= targetSize => Seq(single)
          case bin =>
            // all entries are from older snapshots (snapId is fresh), so
            // surviving Added entries become Existing; their own
            // snapshot-id and sequence numbers are preserved by copy
            val entries = bin.toSeq.flatMap { mf =>
              // mf-overload read materializes v3 row-lineage ids
              ManifestIO.readManifest(mf, sp, base.schema, null)
                .filter(_.status != EntryStatus.Deleted)
                .map(e => if (e.status == EntryStatus.Added)
                  e.copy(status = EntryStatus.Existing) else e)
            }
            rewritten += bin.size
            // oversized single manifests re-chunk by per-entry byte estimate
            val estPerEntry = math.max(1L,
              bin.map(_.manifestLength).sum / math.max(1, entries.size))
            val perManifest = math.max(1, (targetSize / estPerEntry).toInt)
            entries.grouped(perManifest).toSeq.map { chunk =>
              val path = s"$metaDir/m-${UUID.randomUUID()}.avro"
              val len = ManifestIO.writeManifest(path, chunk, sp, base.schema, avroCodec)
              created += 1
              manifestFileFor(path, len, sp, base.schema, chunk, snapId, seq, 0)
            }
        }
      }
    if (rewritten == 0) return (0, 0)
    val merged = rebinned ++ deleteMs
    val listPath = s"$metaDir/snap-$snapId-${UUID.randomUUID()}.avro"
    ManifestIO.writeManifestList(listPath, merged, avroCodec,
      snapshotId = Some(snapId), parentSnapshotId = base.currentSnapshotId,
      sequenceNumber = Some(seq))
    val now = System.currentTimeMillis()
    val dataOnly = merged.filter(_.content == 0)
    // a manifest rewrite changes no data/delete files: byte and delete
    // totals carry over from the replaced head verbatim
    val carried = base.currentSnapshot.map(_.summary).getOrElse(Map.empty)
      .view.filterKeys(Set("total-files-size", "total-delete-files",
        "total-position-deletes", "total-equality-deletes")).toMap
    val summary = carried ++ Map(
      "operation" -> "replace",
      "manifests-replaced" -> rewritten.toString,
      "manifests-kept" -> (rebinned.size - created).toString,
      "manifests-created" -> created.toString,
      "total-records" -> dataOnly.map(m => m.addedRowsCount + m.existingRowsCount).sum.toString,
      "total-data-files" ->
        dataOnly.map(m => m.addedFilesCount + m.existingFilesCount).sum.toString)
    val firstRowId = if (base.formatVersion >= 3) Some(base.nextRowId.getOrElse(0L)) else None
    val snap = Snapshot(snapId, base.currentSnapshotId, seq, now, listPath, summary,
      base.currentSchemaId, firstRowId, addedRows = firstRowId.map(_ => 0L))
    val (mlog, droppedMeta) = trimMetadataLog(base.metadataLog :+
      MetadataLogEntry(now, s"$metaDir/v$version.metadata.json"))
    val newMeta = base.copy(
      lastSequenceNumber = seq,
      lastUpdatedMs = now,
      currentSnapshotId = Some(snapId),
      snapshots = base.snapshots :+ snap,
      snapshotLog = base.snapshotLog :+ SnapshotLogEntry(now, snapId),
      metadataLog = mlog,
      refs = base.refs + ("main" -> SnapshotRef(snapId, "branch")))
    catalog.commit(name, version, newMeta)
    metadata = newMeta
    this.version = version + 1
    purgeDroppedMetadata(droppedMeta)
    (rewritten, created)
  }

  /** Write an EQUALITY delete file: rows whose values in `keys`' columns
    * match any key row are deleted from all OLDER data (merge-on-read
    * extension — the reference rejects equality deletes outright,
    * table/__init__.py:2651). Later appends with the same keys are
    * unaffected (sequence-number scoping). */
  def deleteEqualityKeys(keys: DataFrame): Unit = {
    require(metadata.formatVersion >= 2,
      s"Delete files require format version >= 2 (table is v${metadata.formatVersion})")
    val keyFields = keys.columns.toSeq.map(n => schema.findField(n).getOrElse(
      throw new IllegalArgumentException(s"No such column: $n")))
    val keySchema = Schema(schema.fields.filter(f => keyFields.exists(_.id == f.id)))
    val aligned = WriteFiles.align(keys, keySchema)
    val stage = s"${metadata.properties.getOrElse("write.data.path", s"$location/data")}/${UUID.randomUUID()}"
    // distinct() is already a shuffle on the key columns; AQE coalesces the
    // output to the key volume (no coalesce(1) funnel — a large key set
    // writes from many tasks)
    val written = DataFileWriter.write(aligned.distinct(), DataFileWriter.spec(spark, stage,
      DataFileWriter.asNullable(aligned.schema), keySchema))
      .filter(_.recordCount > 0)
      .map(_.copy(content = FileContent.EqualityDeletes,
        equalityIds = keySchema.fields.map(_.id)))
    commitSnapshot("delete", added = written, removedPaths = Set.empty)
  }

  // ---- snapshot production + commit --------------------------------------

  /** Build and commit one snapshot: rewrite only manifests that reference
    * removed files, keep the rest as-is, add a fresh manifest for added
    * files (ref: update/snapshot.py _SnapshotProducer/_FastAppendFiles/
    * _OverwriteFiles). Retries on optimistic-concurrency conflicts.
    *
    * `conflictFilter` + `baseSnapshotId` enable full conflict validation
    * (ref: table/update/validate.py): when the catalog swap loses and the
    * retry re-runs against a refreshed base, any snapshot committed after
    * `baseSnapshotId` is checked for added data files matching the filter
    * the losing operation planned against, and for added delete files —
    * either means the plan read stale data and must abort rather than
    * silently commit. */
  def commitSnapshot(operation: String, added: Seq[DataFile], removedPaths: Set[String],
      extraMeta: TableMetadata => TableMetadata = identity,
      conflictFilter: Option[Expr] = None,
      baseSnapshotId: Option[Long] = None,
      extraSummary: Map[String, String] = Map.empty,
      toBranch: Option[String] = Some("main")): Unit = {
    var attempts = 0
    while (true) {
      attempts += 1
      try {
        commitOnce(operation, added, removedPaths, extraMeta, conflictFilter,
          baseSnapshotId, extraSummary, toBranch)
        return
      } catch {
        case _: CommitConflictException if attempts <= commitNumRetries => refresh()
      }
    }
  }

  /** Head snapshot id the commit parents off: the target branch's ref, or
    * main's for a stage-only (toBranch = None) commit (ref:
    * snapshot_by_name metadata.py:304 — None resolves to MAIN_BRANCH;
    * update/snapshot.py:131 _parent_snapshot_id). For "main", falls back
    * to current-snapshot-id when the refs map has no main entry — valid
    * Iceberg metadata (v1, or externally written) tracks the current
    * snapshot without a refs map, and resolving it to "no head" would
    * make the next commit silently orphan every existing row. */
  private def targetHeadId(base: TableMetadata, toBranch: Option[String]): Option[Long] = {
    val name = toBranch.getOrElse("main")
    base.refs.get(name).map(_.snapshotId)
      .orElse(if (name == "main") base.currentSnapshotId else None)
  }

  /** Snapshots committed after `fromId` on the ancestor chain of `headId`
    * (the target branch's head), nearest first. When `fromId` is not an
    * ancestor (history rewritten), every reachable snapshot is returned —
    * conservative. */
  private def snapshotsSince(base: TableMetadata, fromId: Option[Long],
      headId: Option[Long]): Seq[Snapshot] =
    headId.toSeq.flatMap(h =>
      base.ancestorsOf(h).takeWhile(sn => !fromId.contains(sn.snapshotId)))

  /** Data/delete files first ADDED by snapshot `s`. */
  private def addedFilesOf(base: TableMetadata, s: Snapshot): Seq[DataFile] =
    ManifestIO.readManifestList(s.manifestList)
      .filter(_.addedSnapshotId == s.snapshotId)
      .flatMap { mf =>
        val sp = base.specById(mf.partitionSpecId)
        ManifestIO.readManifest(mf.manifestPath, sp, base.schema)
          .filter(e => e.status == EntryStatus.Added && e.snapshotId == s.snapshotId)
          .map(_.dataFile)
      }

  /** ref: validate.py:171 _validate_added_data_files (+ :282/:303/:330
    * conflicting-delete checks, conservatively folded into one rule). */
  private def validateNoConflictingCommits(base: TableMetadata,
      filter: Expr, fromId: Option[Long], headId: Option[Long]): Unit = {
    val since = snapshotsSince(base, fromId, headId)
    if (since.isEmpty) return
    val bound = Exprs.rewriteNot(Binder.bind(base.schema, filter))
    since.foreach { s =>
      val files = addedFilesOf(base, s)
      // a concurrently added DELETE file may hide rows our plan read —
      // always a conflict (the ref scopes by partition; we stay
      // conservative: delete files carry no column stats to test)
      files.find(_.content != FileContent.Data).foreach { d =>
        throw new ValidationException(
          s"Concurrent snapshot ${s.snapshotId} added delete file ${d.filePath}")
      }
      // a concurrent append whose stats might satisfy our filter means the
      // operation planned against stale data
      files.find(f => f.content == FileContent.Data &&
          Evaluators.rowsMightMatch(bound, f)).foreach { f =>
        throw new ValidationException(
          s"Concurrent snapshot ${s.snapshotId} (${s.operation}) added " +
            s"${f.filePath} matching this operation's filter")
      }
    }
  }

  private def commitOnce(operation: String, added: Seq[DataFile],
      removedPaths: Set[String], extraMeta: TableMetadata => TableMetadata,
      conflictFilter: Option[Expr] = None, baseSnapshotId: Option[Long] = None,
      extraSummary: Map[String, String] = Map.empty,
      toBranch: Option[String] = Some("main")): Unit = {
    val base = metadata
    // a tag is an immutable ref — never a target for producing snapshots
    // (ref: _validate_target_branch update/snapshot.py:138)
    toBranch.foreach { b =>
      base.refs.get(b).foreach(r => require(r.refType == "branch",
        s"$b is a tag, not a branch. Tags cannot be targets for producing snapshots"))
    }
    // parent = the TARGET BRANCH's head (main's for stage-only commits), so
    // branch lineages stay independent: a write-audit-publish branch chains
    // off its own last commit, not whatever main moved to meanwhile
    val parentId = targetHeadId(base, toBranch)
    conflictFilter.foreach(f =>
      validateNoConflictingCommits(base, f, baseSnapshotId, parentId))
    val version = this.version
    val snapId = base.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    val seq = base.lastSequenceNumber + 1
    val now = System.currentTimeMillis()
    val metaDir = metadataRoot(base.properties, base.location)

    val existing: Seq[ManifestFile] = parentId.flatMap(base.snapshotById)
      .map(s => ManifestIO.readManifestList(s.manifestList)).getOrElse(Nil)

    // conflict validation (ref: table/update/validate.py): every file this
    // commit removes must still be live — a concurrent commit that dropped
    // or rewrote one of them invalidates our plan instead of silently
    // double-deleting after the retry loop refreshes
    if (removedPaths.nonEmpty) {
      val live: Set[String] = existing.flatMap { mf =>
        val sp = base.specById(mf.partitionSpecId)
        ManifestIO.readManifest(mf.manifestPath, sp, base.schema)
          .filter(_.status != EntryStatus.Deleted).map(_.dataFile.filePath)
      }.toSet
      val gone = removedPaths.filterNot(live)
      if (gone.nonEmpty)
        throw new ValidationException(
          s"Concurrent commit removed files this operation depends on: ${gone.take(3).mkString(", ")}")
    }

    var removedCount = 0L
    // byte/row drops feeding the incremental summary totals
    // (ref: snapshots.py:89 UpdateMetrics.remove_file)
    var removedSize = 0L
    var removedDeleteFiles = 0L
    var removedPosDeletes = 0L
    var removedEqDeletes = 0L
    // per-partition change metrics (ref: snapshots.py:300
    // SnapshotSummaryCollector.partition_metrics) — keyed by the spec's
    // partition path; only files with non-empty partition tuples count.
    // Array slots: 0 aFiles, 1 aRecs, 2 aBytes, 3 rFiles, 4 rRecs,
    // 5 rBytes, 6 aDelFiles, 7 rDelFiles.
    val partMetrics = scala.collection.mutable.LinkedHashMap[String, Array[Long]]()
    def partSlot(sp: PartitionSpec, f: DataFile): Option[Array[Long]] =
      if (f.partition.isEmpty) None
      else Some(partMetrics.getOrElseUpdate(
        sp.partitionToPath(f.partition, base.schema), new Array[Long](8)))
    val kept: Seq[ManifestFile] = existing.flatMap { mf =>
      val sp = base.specById(mf.partitionSpecId)
      val sch = base.schema
      if (removedPaths.isEmpty) Some(mf)
      else {
        // mf-overload read: v3 row-lineage ids materialize from the
        // manifest's first_row_id, so the rewritten manifest carries them
        // explicitly and surviving rows keep their _row_id
        val entries = ManifestIO.readManifest(mf, sp, sch, null)
          .filter(_.status != EntryStatus.Deleted)
        val (dead, alive) = entries.partition(e => removedPaths.contains(e.dataFile.filePath))
        if (dead.isEmpty) Some(mf)
        else {
          removedSize += dead.map(_.dataFile.fileSizeInBytes).sum
          dead.foreach { e =>
            e.dataFile.content match {
              case FileContent.PositionDeletes =>
                removedDeleteFiles += 1; removedPosDeletes += e.dataFile.recordCount
              case FileContent.EqualityDeletes =>
                removedDeleteFiles += 1; removedEqDeletes += e.dataFile.recordCount
              case _ => ()
            }
            partSlot(sp, e.dataFile).foreach { m =>
              if (e.dataFile.content == FileContent.Data) {
                m(3) += 1; m(4) += e.dataFile.recordCount
              } else m(7) += 1
              m(5) += e.dataFile.fileSizeInBytes
            }
          }
          // count only data rows — dead DELETE files' record counts are
          // delete entries, not table rows
          if (mf.content == 0) removedCount += dead.map(_.dataFile.recordCount).sum
          if (alive.isEmpty) None
          else {
            val path = s"$metaDir/m-${UUID.randomUUID()}.avro"
            val rewritten = alive.map(_.copy(status = EntryStatus.Existing))
            val len = ManifestIO.writeManifest(path, rewritten, sp, sch, avroCodec, mf.content)
            Some(manifestFileFor(path, len, sp, sch, rewritten, snapId, seq, mf.content))
          }
        }
      }
    }

    // delete files are staged with EMPTY partition tuples (deletePositional /
    // deleteEqualityKeys write them unpartitioned), so their manifests must
    // reference an unpartitioned spec: under a partitioned base.spec the
    // applicability index would see a partition-scoped delete whose tuple
    // matches no data partition and silently skip it
    val unpartSpec: PartitionSpec = base.partitionSpecs.find(_.isUnpartitioned)
      .getOrElse(PartitionSpec(base.partitionSpecs.map(_.specId).max + 1, Nil))
    val registerUnpartSpec = added.exists(_.content != FileContent.Data) &&
      !base.partitionSpecs.exists(_.isUnpartitioned)

    val newManifests: Seq[ManifestFile] = added.groupBy(_.content).toSeq.sortBy(_._1).map {
      case (content, files) =>
        val sp = if (content == FileContent.Data) base.spec else unpartSpec
        val entries = files.map(f => ManifestEntry(EntryStatus.Added, snapId, seq, seq, f))
        val path = s"$metaDir/m-${UUID.randomUUID()}.avro"
        val len = ManifestIO.writeManifest(path, entries, sp, base.schema, avroCodec,
          if (content == FileContent.Data) 0 else 1)
        manifestFileFor(path, len, sp, base.schema, entries, snapId, seq,
          if (content == FileContent.Data) 0 else 1)
    }

    // v3 row lineage (spec §Row Lineage): each NEW data manifest gets a
    // first_row_id range starting at next-row-id, advancing by its added
    // rows — entries inherit per-file ids at read. CARRIED data manifests
    // that still lack a first-row-id (pre-upgrade manifests from a branch
    // head the upgrade didn't rewrite, or commit-time dead-file rewrites
    // of such) get a range here too — a v3 manifest list must carry
    // first-row-id for every data manifest. A carried manifest whose
    // entries are all explicit consumes a range it never uses; the spec
    // allows over-advancing next-row-id, and ids stay unique.
    var rowIdCursor = if (base.formatVersion < 3) 0L else base.nextRowId.getOrElse(0L)
    def assignRowIds(ms: Seq[ManifestFile], rows: ManifestFile => Long): Seq[ManifestFile] =
      if (base.formatVersion < 3) ms
      else ms.map { m =>
        if (m.content != 0 || m.firstRowId.isDefined) m
        else {
          val assigned = m.copy(firstRowId = Some(rowIdCursor))
          rowIdCursor += rows(m)
          assigned
        }
      }
    val newWithRowIds = assignRowIds(newManifests, _.addedRowsCount)
    val keptWithRowIds = assignRowIds(kept, m => m.addedRowsCount + m.existingRowsCount)

    // manifest merge: when enabled and the data-manifest count passes the
    // threshold, bin-pack them into TARGET-SIZE bins per spec (ref:
    // merge_append update/snapshot.py:532, _ManifestMergeManager :733 —
    // 8 MB default bins; `commit.manifest-merge.enabled` +
    // `commit.manifest.min-count-to-merge` +
    // `commit.manifest.target-size-bytes`). All-into-one would make the
    // single merged manifest a sequential planning bottleneck at 100 TB;
    // binned manifests keep planning parallel AND partition-prunable.
    val allManifests = newWithRowIds ++ keptWithRowIds
    val merged: Seq[ManifestFile] =
      if (base.properties.get("commit.manifest-merge.enabled").contains("true") &&
          allManifests.count(_.content == 0) >=
            base.properties.getOrElse("commit.manifest.min-count-to-merge", "100").toInt) {
        val targetSize = base.properties
          .getOrElse("commit.manifest.target-size-bytes", (8L * 1024 * 1024).toString).toLong
        val (dataMs, deleteMs) = allManifests.partition(_.content == 0)
        // per spec: merging across specs would rewrite entries under the
        // wrong partition struct
        val binned = dataMs.groupBy(_.partitionSpecId).toSeq.sortBy(_._1)
          .flatMap { case (specId, ms) =>
            val sp = base.specById(specId)
            val bins = scala.collection.mutable.ArrayBuffer[Vector[ManifestFile]]()
            var cur = Vector.empty[ManifestFile]
            var curBytes = 0L
            ms.foreach { m =>
              if (cur.nonEmpty && curBytes + m.manifestLength > targetSize) {
                bins += cur; cur = Vector.empty; curBytes = 0L
              }
              cur :+= m; curBytes += m.manifestLength
            }
            if (cur.nonEmpty) bins += cur
            bins.flatMap {
              case Vector(single) => Seq(single) // full bin of one: keep as-is
              case bin =>
                val entries = bin.flatMap { mf =>
                  // mf-overload read materializes v3 row-lineage ids
                  ManifestIO.readManifest(mf, sp, base.schema, null)
                    .filter(_.status != EntryStatus.Deleted)
                    .map(e => if (e.status == EntryStatus.Added && e.snapshotId != snapId)
                      e.copy(status = EntryStatus.Existing) else e)
                }
                val path = s"$metaDir/m-${UUID.randomUUID()}.avro"
                val len = ManifestIO.writeManifest(path, entries, sp, base.schema, avroCodec)
                Seq(manifestFileFor(path, len, sp, base.schema, entries, snapId, seq, 0))
            }
          }
        binned ++ deleteMs
      } else allManifests

    val listPath = s"$metaDir/snap-$snapId-${UUID.randomUUID()}.avro"
    ManifestIO.writeManifestList(listPath, merged, avroCodec,
      snapshotId = Some(snapId), parentSnapshotId = parentId,
      sequenceNumber = Some(seq))

    val addedRecords = added.filter(_.content == FileContent.Data).map(_.recordCount).sum
    val totalRecords = merged
      .filter(_.content == 0).map(m => m.addedRowsCount + m.existingRowsCount).sum
    // Incremental totals, reference-style (snapshots.py:113
    // update_snapshot_summaries): previous head's totals + added - removed.
    // Byte sizes aren't recoverable from manifest-list arithmetic, so they
    // MUST accumulate — recomputing would mean reading every manifest.
    val prevSummary: Map[String, String] =
      parentId.flatMap(base.snapshotById).map(_.summary).getOrElse(Map.empty)
    def prevTotal(k: String): Long =
      prevSummary.get(k).flatMap(_.toLongOption).getOrElse(0L)
    val addedSize = added.map(_.fileSizeInBytes).sum
    val addedPosDeletes = added.filter(_.content == FileContent.PositionDeletes)
      .map(_.recordCount).sum
    val addedEqDeletes = added.filter(_.content == FileContent.EqualityDeletes)
      .map(_.recordCount).sum
    added.foreach { f =>
      val sp = try base.specById(f.specId) catch { case _: IllegalStateException => base.spec }
      partSlot(sp, f).foreach { m =>
        if (f.content == FileContent.Data) { m(0) += 1; m(1) += f.recordCount }
        else m(6) += 1
        m(2) += f.fileSizeInBytes
      }
    }
    // per-partition summaries (ref: snapshots.py:330 build):
    // changed-partition-count always; the partitions.<path> detail only
    // when the changed count stays within write.summary.partition-limit
    // (default 0 = detail off) — an unbounded fan-out commit must not
    // write a megabyte summary map
    val partLimit = base.properties.get("write.summary.partition-limit")
      .flatMap(_.toIntOption).getOrElse(0)
    val partitionSummaries: Map[String, String] =
      if (partMetrics.isEmpty) Map.empty
      else {
        val head = Map("changed-partition-count" -> partMetrics.size.toString)
        if (partMetrics.size > partLimit) head
        else head ++ Map("partition-summaries-included" -> "true") ++
          partMetrics.flatMap { case (path, m) =>
            val kv = Seq(
              "added-files-size" -> m(2), "removed-files-size" -> m(5),
              "added-data-files" -> m(0), "deleted-data-files" -> m(3),
              "added-delete-files" -> m(6), "removed-delete-files" -> m(7),
              "added-records" -> m(1), "deleted-records" -> m(4))
              .filter(_._2 > 0)
            if (kv.isEmpty) None
            else Some(s"partitions.$path" ->
              kv.map { case (k, v) => s"$k=$v" }.mkString(","))
          }
      }
    // extraSummary last: caller-supplied keys (user snapshot properties,
    // ref append(..., snapshot_properties) table/__init__.py:1535; the
    // streaming sink's epoch markers) win over the derived metrics
    val summary = Map(
      "operation" -> operation,
      "added-data-files" -> added.count(_.content == FileContent.Data).toString,
      "added-delete-files" -> added.count(_.content != FileContent.Data).toString,
      "added-records" -> addedRecords.toString,
      "added-files-size" -> addedSize.toString,
      "removed-files" -> removedPaths.size.toString,
      "removed-files-size" -> removedSize.toString,
      "removed-delete-files" -> removedDeleteFiles.toString,
      "deleted-records" -> removedCount.toString,
      "total-records" -> totalRecords.toString,
      "total-files-size" -> (prevTotal("total-files-size") + addedSize - removedSize).toString,
      "total-delete-files" ->
        (prevTotal("total-delete-files") +
          added.count(_.content != FileContent.Data) - removedDeleteFiles).toString,
      "total-position-deletes" ->
        (prevTotal("total-position-deletes") + addedPosDeletes - removedPosDeletes).toString,
      "total-equality-deletes" ->
        (prevTotal("total-equality-deletes") + addedEqDeletes - removedEqDeletes).toString,
      "total-data-files" ->
        merged.filter(_.content == 0)
          .map(m => m.addedFilesCount + m.existingFilesCount).sum.toString) ++
      partitionSummaries ++ extraSummary

    // v3 row lineage: this snapshot's new rows get ids starting at
    // next-row-id (spec §Row Lineage)
    val firstRowId = if (base.formatVersion >= 3)
      Some(base.nextRowId.getOrElse(0L)) else None
    val snap = Snapshot(snapId, parentId, seq, now, listPath, summary,
      base.currentSchemaId, firstRowId, addedRows = firstRowId.map(_ => addedRecords))
    val withExtra0 = extraMeta(base)
    val withExtra = if (registerUnpartSpec)
      withExtra0.copy(partitionSpecs = withExtra0.partitionSpecs :+ unpartSpec)
    else withExtra0
    // only a commit to main moves current-snapshot-id and the snapshot log
    // (the log records CURRENT-snapshot changes per the spec); a branch
    // commit moves just its ref; a stage-only commit moves nothing (ref:
    // SetSnapshotRefUpdate emission, update/snapshot.py:306–330)
    val isMain = toBranch.contains("main")
    val (commitMlog, commitDroppedMeta) = trimMetadataLog(withExtra.metadataLog :+
      MetadataLogEntry(now, s"$metaDir/v$version.metadata.json"))
    val newMeta = withExtra.copy(
      lastSequenceNumber = seq,
      lastUpdatedMs = now,
      currentSnapshotId = if (isMain) Some(snapId) else withExtra.currentSnapshotId,
      snapshots = withExtra.snapshots :+ snap,
      snapshotLog = if (isMain) withExtra.snapshotLog :+ SnapshotLogEntry(now, snapId)
        else withExtra.snapshotLog,
      metadataLog = commitMlog,
      refs = toBranch match {
        case Some(b) => withExtra.refs + (b -> SnapshotRef(snapId, "branch"))
        case None => withExtra.refs
      },
      // past every range assigned this commit (new manifests AND carried
      // manifests that were backfilled above)
      nextRowId = if (base.formatVersion >= 3) Some(rowIdCursor)
        else withExtra.nextRowId)
    catalog.commit(name, version, newMeta)
    metadata = newMeta
    this.version = version + 1
    purgeDroppedMetadata(commitDroppedMeta)
  }

  private def manifestFileFor(path: String, len: Long, sp: PartitionSpec, sch: Schema,
      entries: Seq[ManifestEntry], snapId: Long, seq: Long, content: Int): ManifestFile = {
    val partTypes = sp.partitionType(sch)
    val summaries = partTypes.zipWithIndex.map { case (nf, i) =>
      val values = entries.map(_.dataFile.partition.lift(i).orNull)
      val nonNull = values.filter(_ != null)
      FieldSummary(
        containsNull = values.exists(_ == null),
        containsNan = None,
        lowerBound = nonNull.reduceOption((a, b) =>
          if (Literals.compare(nf.fieldType, a, b) <= 0) a else b)
          .map(v => Conversions.toBytes(nf.fieldType, v)),
        upperBound = nonNull.reduceOption((a, b) =>
          if (Literals.compare(nf.fieldType, a, b) >= 0) a else b)
          .map(v => Conversions.toBytes(nf.fieldType, v)))
    }
    val (addedE, existingE) = entries.partition(_.status == EntryStatus.Added)
    ManifestFile(path, len, sp.specId, content, seq, seq, snapId,
      addedFilesCount = addedE.size, existingFilesCount = existingE.size, deletedFilesCount = 0,
      addedRowsCount = addedE.map(_.dataFile.recordCount).sum,
      existingRowsCount = existingE.map(_.dataFile.recordCount).sum,
      deletedRowsCount = 0, partitions = summaries)
  }

  /** Commit-conflict retry budget (ref: TableProperties
    * COMMIT_NUM_RETRIES, `commit.retry.num-retries`, default 4 — each
    * loser refreshes and re-derives its change before retrying). */
  private[graft] def commitNumRetries: Int =
    metadata.properties.get("commit.retry.num-retries").map(_.toInt).getOrElse(4)

  /** Manifest/list avro codec (ref: TableProperties.WRITE_AVRO_COMPRESSION
    * table/__init__.py:160, default gzip). */
  private[graft] def avroCodec: String =
    metadata.properties.getOrElse("write.avro.compression-codec",
      ManifestIO.DefaultAvroCodec)

  /** Overridable file roots (ref: locations.py + TableProperties
    * WRITE_DATA_PATH :179 / WRITE_METADATA_PATH :183): object-store
    * layouts point data and metadata at different buckets/prefixes than
    * the table location. Data-side resolution lives in
    * [[Locations.stageDir]]; this is the metadata-side root used for
    * manifests, manifest lists, and statistics files. */
  private[graft] def metadataRoot(props: Map[String, String], loc: String): String =
    props.getOrElse("write.metadata.path", s"$loc/metadata")

  /** Metadata-log retention (ref: TableProperties
    * METADATA_PREVIOUS_VERSIONS_MAX :203 default 100 +
    * METADATA_DELETE_AFTER_COMMIT_ENABLED :206): without the cap the
    * metadata-log array grows one entry per commit FOREVER — at 10⁶
    * commits every metadata JSON carries megabytes of dead history.
    * Returns the trimmed log; the dropped files are deleted AFTER the
    * commit succeeds when delete-after-commit is enabled. */
  private def trimMetadataLog(
      log: Seq[MetadataLogEntry]): (Seq[MetadataLogEntry], Seq[String]) = {
    val max = metadata.properties.get("write.metadata.previous-versions-max")
      .flatMap(_.toIntOption).getOrElse(100).max(1)
    if (log.size <= max) (log, Nil)
    else (log.takeRight(max), log.dropRight(max).map(_.metadataFile))
  }

  private def deleteAfterCommit: Boolean =
    metadata.properties.get("write.metadata.delete-after-commit.enabled")
      .exists(_.equalsIgnoreCase("true"))

  /** Best-effort removal of metadata files that fell off the log — only
    * ever called after the commit that dropped them succeeded. */
  private def purgeDroppedMetadata(dropped: Seq[String]): Unit =
    if (deleteAfterCommit) dropped.foreach { p =>
      try Io.delete(p)
      catch { case e: Exception =>
        System.err.println(s"[metadata-gc] $p: ${e.getMessage}") }
    }

  // ---- metadata-only commits ----------------------------------------------

  /** Commit a pure-metadata change (schema/spec/properties/refs). */
  def commitMetadata(change: TableMetadata => TableMetadata): Unit = {
    var attempts = 0
    while (true) {
      attempts += 1
      try {
        val v = this.version
        val newMeta = change(metadata).copy(lastUpdatedMs = System.currentTimeMillis())
        catalog.commit(name, v, newMeta)
        metadata = newMeta
        this.version = v + 1
        return
      } catch {
        case _: CommitConflictException if attempts <= commitNumRetries => refresh()
      }
    }
  }
}

object IceTable {
  /** Replica property holding the identity of the last CDC batch applied
    * by [[IceTable.applyCdc]] — written in the same atomic commit as the
    * batch's data, the exactly-once anchor for replication. */
  val CdcCursorProp = "graft.cdc.applied-cursor"

  /** A cursor stamp that RE-VALIDATES against the base it is applied to:
    * commit retries re-run the metadata change on a REFRESHED base, so a
    * stamp that blindly overwrites would let the loser of a concurrent
    * apply regress the cursor a winner just advanced — and a regressed
    * cursor makes the next apply re-fold an already-applied range
    * (double-counted rows). The entry-time cursor check cannot catch
    * this: both racers read the same stored cursor before either
    * commits. Data-bearing applies are additionally guarded by commit
    * validation (removed files must be live, AlwaysTrue conflict
    * filter); this guard closes the cursor-only/metadata-retry path. */
  private[graft] def guardedCursorStamp(tableName: String,
      expected: Option[String], newCursor: String,
      prop: String = CdcCursorProp): TableMetadata => TableMetadata = { m =>
    val cur = m.properties.get(prop)
    if (cur != expected)
      throw new ValidationException(
        s"cursor of $tableName moved concurrently: this apply read " +
          s"${expected.getOrElse("<none>")} but the table now carries " +
          s"${cur.getOrElse("<none>")} — a concurrent apply won; rerun " +
          "to fold from the advanced cursor")
    m.copy(properties = m.properties + (prop -> newCursor))
  }
}
