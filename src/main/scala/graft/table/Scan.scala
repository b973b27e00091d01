package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.meta._
import graft.spark.{GraftPlannedTable, GraftSparkTable, PlannedRead}

/** One unit of scan work: a data file, its applicable position deletes,
  * and the per-file residual filter (ref: table/__init__.py:2057
  * FileScanTask). */
final case class FileScanTask(file: DataFile, deletes: Seq[DataFile], residual: BoundExpr,
    dataSequenceNumber: Long = 0L)

object IceScan {
  /** Manifest count past which planning fans out as a Spark job instead of
    * a driver loop (var so tests can exercise the distributed path). */
  @volatile var distributedPlanningThreshold: Int = 64

  /** Reserved field id of the position-delete `file_path` column — path
    * bounds under it scope a delete file to one data file. */
  val PosPathFieldId: Int = 2147483546

  /** A delete file's single target data path: `referenced_data_file`, or
    * (the reference's rule, delete_file_index.py:79) EQUAL `file_path`
    * lower and upper bounds — foreign writers set the bounds without the
    * v3 field, and a truncated (unequal) bound safely yields None. */
  def refPathOf(f: DataFile): Option[String] =
    f.referencedDataFile.orElse {
      (f.lowerBounds.get(PosPathFieldId), f.upperBounds.get(PosPathFieldId)) match {
        case (Some(lo: String), Some(hi: String)) if lo == hi => Some(lo)
        case _ => None
      }
    }

  /** `tasks`' rows as read by the DSv2 [[graft.spark.GraftScan]]:
    * `schema`'s columns plus the metadata columns `_file`, `_pos` (and on
    * v3 tables the lineage pair), pruned to what the caller selects. With
    * `tags` (one per task) each row also carries its task's tag as
    * `__tag`. The one read path of every planned data file in the
    * library. Metadata columns are selected as such, so a data column of
    * the same name cannot shadow one. */
  private[graft] def read(table: IceTable, tasks: Seq[FileScanTask], schema: Schema,
      keepFile: Boolean = false, keepPos: Boolean = false,
      lineage: Boolean = false, tags: Seq[Long] = Nil): DataFrame = {
    val df = org.apache.spark.sql.GraftBridge.v2Frame(table.spark,
      new GraftPlannedTable(table, PlannedRead(tasks, schema, tags)))
    df.select(schema.fields.map(f => df.col(s"`${f.name}`")) ++
      (if (lineage) RowLineage.fields.map(f => df.metadataColumn(f.name)) else Nil) ++
      (if (keepFile) Seq(df.metadataColumn(GraftSparkTable.FileColumn).as("__file")) else Nil) ++
      (if (keepPos) Seq(df.metadataColumn(GraftSparkTable.PosColumn).as("__pos")) else Nil) ++
      (if (tags.nonEmpty) Seq(df.metadataColumn(GraftSparkTable.TagColumn).as("__tag"))
       else Nil): _*)
  }
}

/** Snapshot scan: plan on the driver (manifest → partition → stats
  * pruning), execute as a Spark DataFrame over the DSv2 GraftScan (ref:
  * DataScan table/__init__.py:2227; ArrowScan io/pyarrow.py:1741 —
  * replaced by Spark's vectorized parquet reader).
  */
final class IceScan(
    val table: IceTable,
    rowFilter: Expr = AlwaysTrue,
    selected: Seq[String] = Seq("*"),
    snapshotIdOpt: Option[Long] = None,
    limitOpt: Option[Long] = None,
    caseSensitive: Boolean = true,
    currentSchemaPinned: Boolean = false) {

  private def spark: SparkSession = table.spark
  private def metadata = table.metadata

  def filter(expr: String): IceScan = filter(ExprParser.parse(expr))
  def filter(expr: Expr): IceScan =
    new IceScan(table, if (rowFilter == AlwaysTrue) expr else And(rowFilter, expr),
      selected, snapshotIdOpt, limitOpt, caseSensitive, currentSchemaPinned)
  def select(cols: String*): IceScan =
    new IceScan(table, rowFilter, cols, snapshotIdOpt, limitOpt, caseSensitive,
      currentSchemaPinned)
  def useSnapshot(id: Long): IceScan =
    new IceScan(table, rowFilter, selected, Some(id), limitOpt, caseSensitive,
      currentSchemaPinned)
  /** Pin a snapshot but keep the table's CURRENT schema — branch-targeted
    * DML semantics (the reference binds branch writes to the transaction's
    * current schema while planning at the branch head), as opposed to
    * time-travel reads which use the snapshot's own schema. */
  private[graft] def withCurrentSchema: IceScan =
    new IceScan(table, rowFilter, selected, snapshotIdOpt, limitOpt, caseSensitive,
      currentSchemaPinned = true)
  def useRef(name: String): IceScan = {
    val snap = metadata.snapshotByName(name).getOrElse(
      throw new IllegalArgumentException(s"No ref $name"))
    useSnapshot(snap.snapshotId)
  }
  def asOf(timestampMs: Long): IceScan = {
    val snap = metadata.snapshotAsOf(timestampMs).getOrElse(
      throw new IllegalArgumentException(s"No snapshot as of $timestampMs"))
    useSnapshot(snap.snapshotId)
  }
  def limit(n: Long): IceScan =
    new IceScan(table, rowFilter, selected, snapshotIdOpt, Some(n), caseSensitive,
      currentSchemaPinned)
  /** ref: TableScan.with_case_sensitive — name resolution mode for
    * filter binding and column selection. */
  def withCaseSensitive(cs: Boolean): IceScan =
    new IceScan(table, rowFilter, selected, snapshotIdOpt, limitOpt, cs,
      currentSchemaPinned)

  def snapshot: Option[Snapshot] =
    snapshotIdOpt.map(id => metadata.snapshotById(id).getOrElse(
      throw new IllegalArgumentException(s"No snapshot $id"))).orElse(metadata.currentSnapshot)

  /** Schema as of the scanned snapshot, pruned to the selection
    * (ref: projection() table/__init__.py:2020). Explicit time travel reads
    * with the snapshot's schema; a current-snapshot scan always uses the
    * table's current schema (so schema evolution is visible without a new
    * data commit). */
  private def scanSchema: Schema =
    if (snapshotIdOpt.isDefined && !currentSchemaPinned)
      snapshot.map(s => metadata.schemaById(s.schemaId)).getOrElse(metadata.schema)
    else metadata.schema

  def projection: Schema = scanSchema.select(selected, caseSensitive)

  private def boundFilter(schema: Schema): BoundExpr =
    Exprs.rewriteNot(Binder.bind(schema, rowFilter, caseSensitive))

  // ---- planning (driver-side; ref ManifestGroupPlanner :2557) ------------

  def planFiles(): Seq[FileScanTask] = planFiles(keepStats = true)

  /** `keepStats = false` strips per-column stats maps from the surviving
    * entries right after the metrics evaluators run (executor-side in the
    * distributed branch) — the scan/count execution path needs only file
    * identity + sizes, so the driver's plan result stays proportional to
    * the FILE count, not to column-stats width (VERDICT W4). DML callers
    * (delete's strict whole-file drop) keep the stats. */
  private[table] def planFiles(keepStats: Boolean): Seq[FileScanTask] = {
    // REST server-side planning (ref table/__init__.py:2296 plan_files —
    // `_should_use_server_side_planning` → catalog.plan_scan): manifest
    // pruning runs on the catalog service; this client receives pruned
    // content files + residuals. Opt-in via `scan-planning-mode=server`.
    // Only the EXPLICIT snapshot pin is sent (a current-snapshot scan
    // must bind against the current schema — sending the resolved id
    // would freeze schema evolution); branch-DML scans pin the current
    // schema in a way the protocol can't express, so they plan locally.
    table.catalog match {
      case rc: graft.catalog.RestCatalog
          if rc.serverSidePlanning && !currentSchemaPinned =>
        return rc.planScan(table.name, rowFilter, snapshotIdOpt, caseSensitive)
      case _ =>
    }
    val snap = snapshot.getOrElse(return Nil)
    val schema = scanSchema
    val bound = boundFilter(schema)
    if (bound == BFalse) return Nil

    val manifests = ManifestIO.readManifestList(snap.manifestList)

    // per-spec projected partition predicate, cached
    val projBySpec = scala.collection.mutable.Map[Int, BoundExpr]()
    def projected(specId: Int): BoundExpr = projBySpec.getOrElseUpdate(specId,
      Evaluators.inclusiveProjection(schema, metadata.specById(specId), bound))

    def summariesTyped(mf: ManifestFile): ManifestFile = {
      val spec = metadata.specById(mf.partitionSpecId)
      val types = spec.partitionType(schema).map(_.fieldType)
      mf.copy(partitions = mf.partitions.zip(types).map { case (s, t) =>
        s.copy(
          lowerBound = s.lowerBound.map(b => Conversions.fromBytes(t, b.asInstanceOf[Array[Byte]])),
          upperBound = s.upperBound.map(b => Conversions.fromBytes(t, b.asInstanceOf[Array[Byte]])))
      })
    }

    val (dataManifests, deleteManifests) = manifests.partition(_.content == 0)

    // manifest pruning on partition summaries, applied to BOTH data and
    // delete manifests — the reference filters ALL manifests through the
    // manifest evaluators before opening any (table/__init__.py:2596–2598;
    // visitors.py:555). A partitioned delete can only apply to a data file
    // with the SAME spec + partition tuple, so a delete manifest whose
    // summaries miss the projection cannot contribute to any kept data
    // file; unpartitioned (global) delete manifests have no summaries and
    // always pass.
    def keepManifest(mf: ManifestFile): Boolean = {
      val spec = metadata.specById(mf.partitionSpecId)
      Evaluators.manifestMightMatch(spec, projected(mf.partitionSpecId), summariesTyped(mf))
    }
    val keptData = dataManifests.filter(keepManifest)
    val keptDeletes = deleteManifests.filter(keepManifest)

    // per-manifest open+prune is a pure function of (manifest, spec,
    // schema, filter); past a threshold it runs as a Spark job so planning
    // scales with the cluster, not the driver (ref: the thread-pool
    // boundary at ManifestGroupPlanner :2608 / utils/concurrent.py).
    // Delete manifests ride the SAME job (the reference opens data and
    // delete manifests through one shared executor pool).
    val openOne: ManifestFile => Seq[(ManifestEntry, Int)] = {
      val allKept = keptData ++ keptDeletes
      val specsById = allKept.map(_.partitionSpecId).distinct
        .map(id => id -> metadata.specById(id)).toMap
      val projBySpecId = specsById.keys.map(id => id -> projected(id)).toMap
      val schemaLocal = schema
      val boundLocal = bound
      val keep = keepStats
      // executors lack the driver-installed Io.confFactory — ship the
      // session conf entries (custom schemes, s3a creds) into the closure,
      // mirroring DataFileWriter specs and the DSv2 reader factories
      val ioEntries = Io.confEntries(spark)
      mf => {
        val spec = specsById(mf.partitionSpecId)
        val proj = projBySpecId(mf.partitionSpecId)
        val live = ManifestIO.readManifest(mf, spec, schemaLocal,
            Io.confFrom(ioEntries))
          .filter(_.status != EntryStatus.Deleted)
        if (mf.content != 0)
          // delete entries: partition pruning only — their metrics describe
          // DELETED rows, not data rows, so the row-stats evaluator does
          // not apply; stats stay attached (equality-delete field ids and
          // DV offsets live outside the stripped maps, but counts are used
          // by the metadata count path)
          live.filter(e => Evaluators.partitionMatches(spec, proj, e.dataFile.partition))
            .map(e => (e, mf.partitionSpecId))
        else live
          .filter { e =>
            Evaluators.partitionMatches(spec, proj, e.dataFile.partition) &&
              Evaluators.rowsMightMatch(boundLocal, e.dataFile)
          }
          .map { e =>
            val slim = if (keep) e else e.copy(dataFile = e.dataFile.copy(
              valueCounts = Map.empty, nullValueCounts = Map.empty,
              nanValueCounts = Map.empty, lowerBounds = Map.empty,
              upperBounds = Map.empty, columnSizes = Map.empty))
            (slim, mf.partitionSpecId)
          }
      }
    }

    val allKept = keptData ++ keptDeletes
    val opened: Seq[(ManifestEntry, Int)] =
      if (allKept.size < IceScan.distributedPlanningThreshold) allKept.flatMap(openOne)
      else spark.sparkContext
        .parallelize(allKept, math.min(allKept.size, spark.sparkContext.defaultParallelism))
        .flatMap(openOne).collect().toSeq
    val (deleteOpened, pruned) = opened.partition(_._1.dataFile.content != FileContent.Data)

    // delete index keyed by (spec, partition) — applicability lookup is
    // O(1) per data file instead of a scan over every delete ref
    // (ref table/delete_file_index.py:105 PartitionMap). Global deletes
    // (unpartitioned spec) are further split: refs scoped to one data file
    // (v3 DVs, file-targeted position deletes) index by canonical path, so
    // an unpartitioned table with N data files and M file-scoped deletes
    // plans in O(N + M), not O(N × M).
    final case class DeleteRef(specId: Int, partition: Seq[Any], seq: Long, file: DataFile)
    val deleteRefs: Seq[DeleteRef] = deleteOpened.map { case (e, specId) =>
      DeleteRef(specId, e.dataFile.partition, e.dataSequenceNumber, e.dataFile)
    }
    import IceScan.refPathOf
    // byte[] partition values hash by identity — normalize to Seq for keys
    def partKey(specId: Int, p: Seq[Any]): (Int, Seq[Any]) =
      (specId, p.map { case a: Array[Byte] => (a.toSeq: Any); case x => x })
    val (globalDeletes, partitionedDeletes) =
      deleteRefs.partition(d => metadata.specById(d.specId).isUnpartitioned)
    val (pathScopedGlobal, broadGlobal) =
      globalDeletes.partition(d => refPathOf(d.file).isDefined)
    val globalByPath: Map[String, Seq[DeleteRef]] =
      pathScopedGlobal.groupBy(d => PathUtil.canon(refPathOf(d.file).get))
    val deletesByPartition: Map[(Int, Seq[Any]), Seq[DeleteRef]] =
      partitionedDeletes.groupBy(d => partKey(d.specId, d.partition))

    def applicableDeletes(specId: Int, partition: Seq[Any], dataSeq: Long,
        dataPath: String): Seq[DataFile] = {
      val canonPath = PathUtil.canon(dataPath)
      val candidates = broadGlobal ++
        globalByPath.getOrElse(canonPath, Nil) ++
        deletesByPartition.getOrElse(partKey(specId, partition), Nil)
      val files = candidates.filter { d =>
        // position deletes apply at the same or later sequence; equality
        // deletes only to STRICTLY older data (Iceberg spec scan rules);
        // a delete scoped to one data file (v3 DV, path-bounded position
        // delete) applies only to it
        (if (d.file.content == FileContent.EqualityDeletes) d.seq > dataSeq
         else d.seq >= dataSeq) &&
          refPathOf(d.file).forall(r => PathUtil.canon(r) == canonPath)
      }.map(_.file)
      // v3 scan rule: a deletion vector supersedes every position-delete
      // FILE for its data file (the DV writer merged them; ref spec
      // §Scan Planning, table/deletion_vector.py)
      if (files.exists(_.isDeletionVector))
        files.filterNot(f => f.content == FileContent.PositionDeletes && !f.isDeletionVector)
      else files
    }

    val tasks = pruned.map { case (e, specId) =>
      val spec = metadata.specById(specId)
      val res = Evaluators.residual(schema, spec, bound, e.dataFile.partition)
      FileScanTask(e.dataFile, applicableDeletes(spec.specId, e.dataFile.partition,
        e.dataSequenceNumber, e.dataFile.filePath), res, e.dataSequenceNumber)
    }
    limitOpt match {
      case Some(n) =>
        // limit-aware task truncation (the reference stops consuming tasks
        // once `limit` rows accumulate, table/__init__.py to_arrow): keep
        // tasks until the kept set GUARANTEES n rows — only files whose
        // residual is TRUE and that carry no deletes contribute exact
        // counts. A `limit 10` on a 100-TB table plans one file; row-exact
        // truncation still happens in toDF.
        val out = Seq.newBuilder[FileScanTask]
        var guaranteed = 0L
        val it = tasks.iterator
        while (it.hasNext && guaranteed < n) {
          val t = it.next(); out += t
          if (t.residual == BTrue && t.deletes.isEmpty) guaranteed += t.file.recordCount
        }
        out.result()
      case None => tasks
    }
  }

  // ---- execution (ref ArrowScan.to_table io/pyarrow.py:1792) -------------

  def toDF: DataFrame = {
    val tasks = planFiles(keepStats = false)
    toDFForTasks(tasks, applyResidualOnlyWhereNeeded = true)
  }

  /** [[toDF]] plus the `__file` column (canonical source-file path) — the
    * MV landing reads the view's current rows through this so the
    * affected-file set falls out of the landing join itself (no second
    * targeting pass over the MV files). */
  private[graft] def toDFWithFile: DataFrame = {
    val tasks = planFiles(keepStats = false)
    toDFForTasks(tasks, applyResidualOnlyWhereNeeded = true, keepFile = true)
  }

  /** v3 ROW LINEAGE scan (spec §Row Lineage — beyond the reference, which
    * only declares the manifest fields): the projection plus
    * `_row_id` (file's first_row_id + physical row position) and
    * `_last_updated_sequence_number` (the entry's data sequence number),
    * so rows surviving a MoR delete keep their ids. */
  def toDFWithLineage: DataFrame =
    toDFWithLineageForTasks(planFiles(keepStats = false))

  /** Lineage scan over an explicit task set — the rewrite paths
    * (compaction, CoW delete/overwrite survivors, z-order) read their
    * sources through this so surviving rows carry their CURRENT
    * `_row_id` / `_last_updated_sequence_number` into the new files (the
    * v3 spec's rewrite rule: writers must materialize lineage when moving
    * an existing row to a different data file). Materialized values in
    * the source files take precedence over inheritance, so repeated
    * compactions stay id-stable. */
  private[table] def toDFWithLineageForTasks(tasks: Seq[FileScanTask],
      keepFilePos: Boolean = false): DataFrame = {
    require(metadata.formatVersion >= 3,
      s"Row lineage requires format version >= 3 (table is v${metadata.formatVersion})")
    toDFForTasks(tasks, applyResidualOnlyWhereNeeded = true,
      keepFile = keepFilePos, keepPos = keepFilePos, lineage = true)
  }

  /** The projection of `tasks`' rows, read by the DSv2 [[graft.spark.GraftScan]]
    * (deletes, field-id and name-mapped resolution, defaults and row
    * positions all live there). `keepFile` / `keepPos` append `__file`
    * (canonical source-file path) and `__pos` (row position in that
    * file) — the MoR-correct coordinates for upsert file targeting,
    * compaction and position deletes; `lineage` appends the v3 lineage
    * pair before them. */
  private[table] def toDFForTasks(tasks: Seq[FileScanTask],
      applyResidualOnlyWhereNeeded: Boolean, keepFile: Boolean = false,
      keepPos: Boolean = false, lineage: Boolean = false): DataFrame = {
    val proj = projection
    val schema = scanSchema
    val bound = boundFilter(schema)
    // read ALL columns the filter or the projection needs, then project.
    // A filter on a NESTED field needs its top-level ancestor in the read
    // schema (the leaf id itself is not a top-level column)
    val neededTop = Exprs.fieldIds(bound).map(id => schema.topAncestorById.getOrElse(id, id))
    val readSchema = Schema(
      schema.fields.filter(f => proj.byId.contains(f.id) || neededTop.contains(f.id)),
      schema.schemaId)
    var df = IceScan.read(table, tasks, readSchema, keepFile, keepPos, lineage)
    // row-level filter: the full bound filter is correct for every file;
    // skip it only when every task's residual is already TRUE. Spark
    // pushes it into the scan, where it prunes parquet row groups
    if (bound != BTrue && !(applyResidualOnlyWhereNeeded && tasks.forall(_.residual == BTrue)))
      df = df.filter(ToColumn.compile(bound))
    df = df.select(proj.fields.map(f => col(s"`${f.name}`")) ++
      (if (lineage) RowLineage.fields.map(f => col(f.name)) else Nil) ++
      (if (keepFile) Seq(col("__file")) else Nil) ++
      (if (keepPos) Seq(col("__pos")) else Nil): _*)
    // Spark's LocalLimit is Int-bounded — `n.toInt` on a >2³¹ limit would
    // silently wrap. DOCUMENTED DEVIATION for limit > Int.MaxValue: only
    // the plan-level file truncation bounds the result (it keeps the last
    // crossing file whole and any residual/delete-bearing task, so the scan
    // may return MORE than `limit` rows — never fewer than available).
    // `count()` clamps exactly; a row-exact >2³¹ clamp would need a global
    // row numbering (an extra full pass) for a case no real file layout
    // produces (a single scan returning >2.1 billion rows per LIMIT).
    limitOpt.withFilter(_ <= Int.MaxValue).foreach(n => df = df.limit(n.toInt))
    df
  }

  /** Metadata-only count when possible (ref: table/__init__.py:2341):
    * files whose residual is ALWAYS_TRUE and that carry no deletes
    * contribute record_count without being read. A file whose ONLY delete
    * is a v3 deletion vector also stays metadata-only: a DV is an exact
    * deduplicated position set whose cardinality the manifest records
    * (spec field 144), so the live count is record_count − cardinality —
    * a 100 TB count on a DV-maintained table reads zero data bytes. */
  def count(): Long = {
    val tasks = planFiles(keepStats = false)
    val (metaOnly, rest) = tasks.partition(t => t.residual == BTrue && t.deletes.isEmpty)
    val (dvOnly, mustRead) = rest.partition(t => t.residual == BTrue &&
      t.deletes.sizeIs == 1 && t.deletes.head.isDeletionVector)
    val metaCount = metaOnly.map(_.file.recordCount).sum +
      dvOnly.map(t => t.file.recordCount - t.deletes.head.recordCount).sum
    val readCount = if (mustRead.isEmpty) 0L
      else toDFForTasks(mustRead, applyResidualOnlyWhereNeeded = false).count()
    // a limited scan counts at most `limit` rows (plan-level truncation may
    // overshoot on the last file)
    math.min(metaCount + readCount, limitOpt.getOrElse(Long.MaxValue))
  }
}
