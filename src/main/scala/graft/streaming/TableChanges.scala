package graft.streaming

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame

import graft.table.IceTable

/** Change-data capture over committed appends (SURVEY §2.J).
  *
  * Pull model: `poll` returns the rows appended since a snapshot cursor
  * plus the new cursor — each call is one micro-batch, equivalent to the
  * reference's IncrementalAppendScan (table/__init__.py:2372) driven as a
  * stream. `follow` wraps it in a background poller for push-style
  * consumption. A DSv2 MicroBatchStream over the same offsets (snapshot
  * ids) is the natural next surface on top of this.
  */
object TableChanges {

  /** Rows appended after snapshot `cursor` (None = from table start).
    * Returns (batch, newCursor); batch is empty when nothing changed. */
  def poll(table: IceTable, cursor: Option[Long]): (DataFrame, Option[Long]) = {
    table.refresh()
    val current = table.metadata.currentSnapshotId
    (cursor, current) match {
      case (_, None) => (emptyDf(table), cursor)
      case (Some(c), Some(cur)) if c == cur => (emptyDf(table), cursor)
      case (Some(c), Some(cur)) => (table.incrementalAppendScan(c, cur), current)
      case (None, Some(cur)) =>
        // from the beginning: ancestors chain bottom = full incremental
        val root = table.metadata.ancestorsOf(cur).last.snapshotId
        val first = table.scan.useSnapshot(root).toDF
        val rest = if (root == cur) None else Some(table.incrementalAppendScan(root, cur))
        (rest.map(first.unionByName(_)).getOrElse(first), current)
    }
  }

  private def emptyDf(table: IceTable): DataFrame =
    table.spark.createDataFrame(
      table.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      table.schema.toSpark)

  /** Row-level CHANGELOG between snapshots (CDC; an extension over the
    * reference's incremental append scan — column shape follows the
    * Iceberg spec's changelog metadata columns). Each row of the result
    * is a table row plus `_change_type` ('insert' | 'delete'),
    * `_change_ordinal` (0-based position of the commit in the range) and
    * `_commit_snapshot_id`. Per ancestor snapshot in (from, to]:
    *
    *  - data files ADDED by the commit → their rows as inserts;
    *  - data files REMOVED by the commit (copy-on-write delete/
    *    overwrite/upsert) → their rows live at the parent snapshot (the
    *    parent's deletes applied) as deletes;
    *  - carry-overs cancelled: a CoW rewrite re-writes surviving rows
    *    into new files, so ONE signed aggregate over the range's rewrites
    *    sums +1 per added and −1 per removed copy of a row per commit; a
    *    carried row nets 0, any other is emitted |net| times as an insert
    *    (net > 0) or a delete (net < 0) — one shuffle for the range;
    *  - position-delete files / DVs ADDED by the commit → the referenced
    *    data rows live at the parent (joined back by (file, row-position))
    *    as deletes;
    *  - equality-delete files ADDED → parent-visible rows matching the
    *    key set as deletes;
    *  - 'replace' commits (compaction, manifest rewrite) → no logical
    *    change, skipped.
    *
    * All reads use the range-end snapshot's schema (same policy as
    * incrementalAppendScan). Scale: per-commit frames are Spark scans
    * unioned lazily; only file DESCRIPTORS touch the driver, and the
    * added/removed sets come from a PER-COMMIT MANIFEST DIFF (the
    * commit's own new manifests plus whatever it dropped from the
    * parent's list, cache-served) — a steady-state stream's per-trigger
    * metadata cost is proportional to each commit's churn, never the
    * table's live file count. Reading removed and masked rows at the
    * parent means a row masked by an earlier delete is never reported
    * twice, even when a later delete or DV restates its position. */
  def changelog(table: IceTable, fromIdExclusive: Option[Long] = None,
      toIdInclusive: Option[Long] = None,
      changeFilter: Option[graft.core.Expr] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.core.PathUtil
    import graft.meta.{EntryStatus, FileContent, ManifestIO, Io}
    table.refresh()
    val m = table.metadata
    val spark = table.spark
    val toId = toIdInclusive.orElse(m.currentSnapshotId)
    val schemaAt = toId.map(id => m.schemaById(
      m.snapshotById(id).map(_.schemaId).getOrElse(m.currentSchemaId)))
      .getOrElse(table.schema)
    // FILTERED changelog: since updates already surface as delete+insert
    // pairs, filtering each row by its own content is replica-correct by
    // construction (a move-out is a delete whose content matches, a
    // move-in an insert). The CoW added/removed file sets prune through
    // the inclusive evaluators BEFORE any read — carry-over cancellation
    // stays exact because a carried row matching p is necessarily in
    // kept files on BOTH sides, and non-matching rows are row-filtered
    // off both sides symmetrically.
    val boundF = changeFilter.map(f => graft.core.Exprs.rewriteNot(
      graft.core.Binder.bind(schemaAt, f)))
    val rowCol = boundF.map(graft.core.ToColumn.compile)
    def rowFiltered(df: DataFrame): DataFrame = rowCol.map(df.filter).getOrElse(df)
    val projCache = scala.collection.mutable.Map.empty[Int, graft.core.BoundExpr]
    def fileMightMatch(specId: Int, df: graft.meta.DataFile): Boolean =
      boundF.forall { b =>
        val spec = m.specById(specId)
        val proj = projCache.getOrElseUpdate(specId,
          graft.meta.Evaluators.inclusiveProjection(schemaAt, spec, b))
        graft.meta.Evaluators.partitionMatches(spec, proj, df.partition) &&
          graft.meta.Evaluators.rowsMightMatch(b, df)
      }
    def withMeta(df: DataFrame, tpe: String, ordinal: Int, snapId: Long): DataFrame =
      df.withColumn("_change_type", lit(tpe))
        .withColumn("_change_ordinal", lit(ordinal))
        .withColumn("_commit_snapshot_id", lit(snapId))
    val emptyOut = withMeta(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schemaAt.toSpark), "insert", 0, 0L).limit(0)
    if (toId.isEmpty) return emptyOut
    val chain = m.ancestorsOf(toId.get).reverse // oldest first
    val range = fromIdExclusive match {
      case Some(f) =>
        require(chain.exists(_.snapshotId == f),
          s"Snapshot $f is not an ancestor of ${toId.get}")
        chain.dropWhile(_.snapshotId != f).drop(1)
      case None => chain
    }
    if (range.isEmpty) return emptyOut

    // every data-file read runs on the table's one executor (ORC and
    // name-mapped files included — the reference applies change reads
    // irrespective of data format, io/pyarrow.py:1629)
    def read(tasks: Seq[graft.table.FileScanTask], keepFilePos: Boolean): DataFrame =
      graft.table.IceScan.read(table, tasks, schemaAt,
        keepFile = keepFilePos, keepPos = keepFilePos)
    def fresh(files: Seq[graft.meta.DataFile]): Seq[graft.table.FileScanTask] =
      files.map(graft.table.FileScanTask(_, Nil, graft.core.BTrue))
    /** The PARENT's live tasks for `paths` — its deletes applied, so a row
      * an earlier merge-on-read delete masked is not read back as a
      * change of s. A path s itself added reads delete-free. */
    val planAt = scala.collection.mutable.Map.empty[Long, Seq[graft.table.FileScanTask]]
    def parentTasks(s: graft.meta.Snapshot, paths: Seq[String],
        addedBy: Map[String, graft.meta.DataFile]): Seq[graft.table.FileScanTask] = {
      val want = paths.toSet
      val live = s.parentSnapshotId.toSeq
        .flatMap(pid => planAt.getOrElseUpdate(pid, table.planTasksAt(pid)))
        .filter(t => want.contains(PathUtil.canon(t.file.filePath)))
      val found = live.map(t => PathUtil.canon(t.file.filePath)).toSet
      live ++ fresh(paths.filterNot(found).flatMap(addedBy.get))
    }

    /** Data manifests of snapshot s (descriptors; cache-served). */
    def dataManifests(s: graft.meta.Snapshot): Seq[graft.meta.ManifestFile] =
      ManifestIO.readManifestList(s.manifestList).filter(_.content == 0)
    def entriesOf(mf: graft.meta.ManifestFile): Seq[graft.meta.ManifestEntry] =
      ManifestIO.readManifest(mf.manifestPath, m.specById(mf.partitionSpecId), m.schema)

    /** delete files first ADDED by snapshot s (descriptors only). */
    def addedDeleteFiles(s: graft.meta.Snapshot): Seq[graft.meta.DataFile] =
      ManifestIO.readManifestList(s.manifestList)
        .filter(mf => mf.content == 1 && mf.addedSnapshotId == s.snapshotId)
        .flatMap { mf =>
          ManifestIO.readManifest(mf.manifestPath, m.specById(mf.partitionSpecId), m.schema)
            .filter(e => e.status == EntryStatus.Added && e.snapshotId == s.snapshotId)
            .map(_.dataFile)
        }

    val frames = Seq.newBuilder[DataFrame]
    val rewrites = Seq.newBuilder[DataFrame] // CoW rewrites' rows, netted below
    range.zipWithIndex.foreach { case (s, ordinal) =>
      val op = s.operation
      // 'replace' commits (compaction, manifest rewrite) are logically
      // silent — and the per-commit diff below needs NO state from them
      if (op != "replace") {
        // ---- per-commit manifest DIFF (work ∝ the commit's churn) ----
        // This library's commits rewrite affected manifests (removed
        // files drop out; survivors carry over as EXISTING entries), and
        // foreign writers may instead record DELETED-status entries —
        // both shapes fall out of the same diff. Paths ADDED by s are the
        // ADDED entries of s's own new manifests; paths REMOVED by s are
        // its new manifests' DELETED entries plus the live entries of
        // manifests DROPPED from the parent's list that no current
        // manifest still carries. Per-trigger cost = the commit's new +
        // dropped manifests (cache-served) — never a live-set walk of
        // the whole table (the r13 shape: O(live files) per commit).
        val curMs = dataManifests(s)
        val newEntries = curMs.filter(_.addedSnapshotId == s.snapshotId)
          .flatMap(mf => entriesOf(mf).map(e => (e, mf.partitionSpecId)))
        val addedBy: Map[String, graft.meta.DataFile] = newEntries.collect {
          case (e, _) if e.status == EntryStatus.Added && e.snapshotId == s.snapshotId =>
            PathUtil.canon(e.dataFile.filePath) -> e.dataFile
        }.toMap
        val presentInNew = newEntries.collect {
          case (e, _) if e.status != EntryStatus.Deleted =>
            PathUtil.canon(e.dataFile.filePath)
        }.toSet
        val addedPaths = newEntries.collect {
          case (e, sp) if e.status == EntryStatus.Added &&
            e.snapshotId == s.snapshotId && fileMightMatch(sp, e.dataFile) =>
            PathUtil.canon(e.dataFile.filePath)
        }.distinct.sorted
        val curMfPaths = curMs.map(_.manifestPath).toSet
        val droppedLive = s.parentSnapshotId.flatMap(m.snapshotById).toSeq
          .flatMap(dataManifests)
          .filterNot(mf => curMfPaths.contains(mf.manifestPath))
          .flatMap(mf => entriesOf(mf).map(e => (e, mf.partitionSpecId)))
          .filter(_._1.status != EntryStatus.Deleted)
        val removedPaths = (newEntries.collect {
          case (e, sp) if e.status == EntryStatus.Deleted &&
            e.snapshotId == s.snapshotId && fileMightMatch(sp, e.dataFile) =>
            PathUtil.canon(e.dataFile.filePath)
        } ++
          droppedLive.collect {
            case (e, sp) if fileMightMatch(sp, e.dataFile) =>
              PathUtil.canon(e.dataFile.filePath)
          }.filterNot(presentInNew))
          .distinct.sorted
        val inserts = if (addedPaths.isEmpty) None
          else Some(rowFiltered(read(fresh(addedPaths.flatMap(addedBy.get)), keepFilePos = false)))
        val cowDeletes = if (removedPaths.isEmpty) None
          else Some(rowFiltered(read(parentTasks(s, removedPaths, addedBy), keepFilePos = false)))
        // carry-overs cancel only where a commit both removed and added
        // (CoW rewrite); append-only and pure-MoR commits skip the shuffle
        val sink = if (inserts.isDefined && cowDeletes.isDefined) rewrites else frames
        inserts.foreach(f => sink += withMeta(f, "insert", ordinal, s.snapshotId))
        cowDeletes.foreach(f => sink += withMeta(f, "delete", ordinal, s.snapshotId))

        // merge-on-read deletes added by this commit
        val dels = addedDeleteFiles(s)
        val (posDels, eqDels) = dels.partition(_.content == FileContent.PositionDeletes)
        val (dvs, posParquet) = posDels.partition(_.isDeletionVector)
        val positions: Option[DataFrame] =
          if (posDels.isEmpty) None
          else Some(graft.spark.DeleteIndex.frame(spark, posDels).toDF("__path", "__pos"))
        positions.foreach { posDf =>
          // deleted-row content: join positions back to the referenced
          // data files through the scan's (file, row-position) metadata.
          // Under a change filter the referenced files prune against the
          // commit snapshot's FILTERED live plan (cache-served metadata)
          // — a file that provably holds no matching rows is never read.
          // Referenced paths come from METADATA when every delete source
          // names them — a DV entry carries referenced_data_file (spec-
          // required; a foreign one may give equal file_path bounds
          // instead, IceScan.refPathOf), and a pos-delete parquet whose
          // FULL-mode file_path
          // bounds coincide references exactly one file (this engine
          // harvests those bounds "full"; a FOREIGN writer's truncated
          // bound is a path PREFIX, caught by the existence probe, which
          // falls back to the distinct-collect job). Saves one Spark
          // action per MoR commit per changelog read.
          val metaRefs: Option[Seq[String]] = {
            val dvRefs = dvs.map(graft.table.IceScan.refPathOf)
            val pqRefs = posParquet.map { f =>
              (f.lowerBounds.get(2147483546), f.upperBounds.get(2147483546)) match {
                case (Some(lo), Some(hi))
                  if lo == hi && Io.exists(lo.toString) => Some(lo.toString)
                case _ => None
              }
            }
            if (dvRefs.forall(_.isDefined) && pqRefs.forall(_.isDefined))
              Some((dvRefs.flatten ++ pqRefs.flatten)
                .map(PathUtil.canon).distinct.sorted)
            else None
          }
          val refPathsAll = metaRefs.getOrElse(
            posDf.select("__path").distinct()
              .collect().map(_.getString(0)).toSeq.sorted)
          val refPaths = changeFilter.map { f =>
            val keep = table.planTasksAtFiltered(s.snapshotId, f)
              .map(t => PathUtil.canon(t.file.filePath)).toSet
            refPathsAll.filter(keep.contains)
          }.getOrElse(refPathsAll)
          if (refPaths.nonEmpty) {
            // (file, position) of the rows live at the parent: positions
            // the commit restates over already-masked rows join nothing.
            // The decoded frame has no size statistics, so the session's
            // broadcast threshold meets the manifests' row counts times an
            // UnsafeRow of (path, pos): null bits, the string's offset and
            // length, pos (8 bytes each), then the path
            val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
            val rowBytes = 24L + refPathsAll.map(_.length).max
            val keyed = if (threshold > 0 &&
                posDels.map(_.recordCount).sum * rowBytes <= threshold) broadcast(posDf)
              else posDf
            val rows = read(parentTasks(s, refPaths, addedBy), keepFilePos = true)
              .withColumnRenamed("__file", "__path")
              .join(keyed, Seq("__path", "__pos"))
              .drop("__path", "__pos")
            frames += withMeta(rowFiltered(rows), "delete", ordinal, s.snapshotId)
          }
        }
        eqDels.foreach { ef =>
          val keyCols = ef.equalityIds.flatMap(id => m.schema.byId.get(id)).map(_.name)
          if (keyCols.nonEmpty) {
            val keys = spark.read.parquet(ef.filePath).select(keyCols.map(col): _*).distinct()
            val parentRows = s.parentSnapshotId.map { pid =>
              // candidate files only: every parent-visible row predates
              // this delete (seq scoping is implied), so the prune is
              // METADATA-ONLY — the delete FILE's own footer bounds (its
              // per-key-column lower/upper ride its manifest entry) bound
              // every key tuple it carries, so a parent file whose column
              // ranges cannot overlap them cannot lose a row. The range
              // predicate is pushed into the PARENT PLAN itself (manifest
              // partition summaries + partition tuples + file metrics all
              // apply, and the verdict lands before planning strips file
              // stats). No driver key collect, no key-count cap: a
              // Flink-style eq-delete commit carrying 100k keys prunes
              // exactly as cheaply as a 10-key one, and the row-exact
              // semi-join below reads only the surviving candidates
              // (work ∝ candidates, never the parent snapshot).
              val rangeExpr: Option[graft.core.Expr] = {
                import graft.core.{And => GAnd, GtEq => GGtEq, LtEq => GLtEq}
                ef.equalityIds.flatMap { id =>
                  for {
                    f <- m.schema.byId.get(id)
                    lo <- ef.lowerBounds.get(id)
                    hi <- ef.upperBounds.get(id)
                  } yield GAnd(GGtEq(f.name, lo), GLtEq(f.name, hi)): graft.core.Expr
                }.reduceOption(GAnd(_, _))
              }
              def basePlan(): Seq[graft.table.FileScanTask] = changeFilter
                .map(f => table.planTasksAtFiltered(pid, f))
                .getOrElse(table.planTasksAt(pid))
              val pruned = rangeExpr match {
                case Some(re) =>
                  try table.planTasksAtFiltered(pid,
                    changeFilter.map(graft.core.And(_, re)).getOrElse(re))
                  catch {
                    // an uncoercible bound literal falls back to the
                    // unpruned plan — pruning is an optimization, never a
                    // gate (a boundless foreign delete file keeps all
                    // candidates, conservative and correct)
                    case scala.util.control.NonFatal(_) => basePlan()
                  }
                case None => basePlan()
              }
              table.scanForTasksAt(pid, pruned)
            }.getOrElse(emptyDf(table))
            frames += withMeta(
              rowFiltered(parentRows).join(keys, keyCols, "left_semi"),
              "delete", ordinal, s.snapshotId)
          }
        }
      }
    }
    // every CoW rewrite of the range netted in ONE shuffle: inserts +1,
    // deletes −1, summed per (row, commit), |net| copies out. This is the
    // plan Spark rewrites EXCEPT ALL into (RewriteExceptAll), fused across
    // commits and both directions, so the multiset semantics match: nulls
    // group together, NaN and −0.0 are normalized, maps cannot be grouped
    rewrites.result().reduceOption(_ unionByName _).foreach { tagged =>
      val cols = emptyOut.columns.toSeq
      def c(n: String) = col(s"`$n`")
      frames += tagged.groupBy(cols.filter(_ != "_change_type").map(c): _*)
        .agg(sum(when(col("_change_type") === "insert", 1L).otherwise(-1L)).as("__n"))
        .where(col("__n") =!= 0)
        .withColumn("_change_type", when(col("__n") > 0, "insert").otherwise("delete"))
        .withColumn("__n", explode(array_repeat(lit(true), abs(col("__n")).cast("int"))))
        .select(cols.map(c): _*)
    }
    frames.result().reduceOption(_ unionByName _).getOrElse(emptyOut)
  }

  /** Row-identity CDC driven as micro-batches (v3 row lineage; the
    * incremental face of the batch lineage diff): each poll classifies
    * every row whose identity changed since the `cursor` snapshot as
    * `insert` / `update` / `delete` and returns the new cursor. Robust
    * to compaction between polls — rewritten rows keep `_row_id` AND
    * `_last_updated_sequence_number`, so file moves produce zero phantom
    * changes (a position- or path-based diff gets this wrong). This is
    * what lets incremental dedup / decontamination re-runs touch only
    * changed rows instead of re-reading the corpus.
    *
    * Scale shape — work is proportional to the CHURN, never the corpus.
    * Both snapshots are planned metadata-only (manifest reads), then
    * pruned at the FILE level before any data file opens:
    *
    *  - change set (inserts+updates): a task's `dataSequenceNumber` is a
    *    provable upper bound on every row's
    *    `_last_updated_sequence_number` in that file (inherited seq IS
    *    the file's data seq; materialized values predate the rewrite
    *    that carried them) — so only tasks with `dataSequenceNumber >
    *    seq(cursor)` are scanned, and the row-level seq filter inside
    *    them drops compaction survivors;
    *  - deletes: a row live at the cursor can only have disappeared if
    *    its file was REMOVED since the cursor (CoW) or its file's
    *    applicable-delete set CHANGED (a new DV / position / equality
    *    delete now masks it) — the cursor-side scan reads only that
    *    candidate set, and the anti-join's right side reads only the id
    *    columns of files ADDED or newly-delete-targeted since the
    *    cursor (a rewritten survivor can only live in an added file; a
    *    masked file's survivors only in itself).
    *
    * A poll over a table whose commits only appended opens exactly the
    * appended files; the delete branch never materializes. A row
    * inserted AND deleted between the two polls appears in neither
    * snapshot and is (by net-changes semantics) not reported.
    *
    * Output: the table's data columns + `_row_id` + `_change_type`;
    * deleted rows carry their content as of the cursor snapshot. */
  def pollLineageCdc(table: IceTable, cursor: Option[Long],
      rowFilter: Option[graft.core.Expr] = None,
      branch: Option[String] = None): (DataFrame, Option[Long]) = {
    table.refresh()
    val current = refHead(table, branch)
    (cursor, current) match {
      case (_, None) => (emptyLineageDiff(table), cursor)
      case (Some(c), Some(cur)) if c == cur => (emptyLineageDiff(table), cursor)
      case (_, Some(cur)) => (lineageDiff(table, cursor, cur, rowFilter), current)
    }
  }

  /** The snapshot a change feed follows: main's head by default, a
    * BRANCH ref's head when one is named — the WAP-audit face (tail the
    * staging branch's churn before it publishes; after a fastForward the
    * published commits are on main's ancestry, so a main feed whose
    * cursor predates the publish picks them up exactly once). A
    * not-yet-created branch reads as "no data yet" (None) rather than an
    * error, so a feed can start before the first audit write; a TAG is
    * rejected — tags never move, so there is nothing to stream. */
  def refHead(table: IceTable, branch: Option[String]): Option[Long] =
    branch.filter(_ != "main") match {
      case None => table.metadata.currentSnapshotId
      case Some(b) => table.metadata.refs.get(b) match {
        case Some(r) =>
          require(r.refType == "branch",
            s"ref '$b' of table ${table.name} is a ${r.refType}, not a " +
              "branch — only branch heads move, so only branches stream")
          Some(r.snapshotId)
        case None => None
      }
    }

  private def emptyLineageDiff(table: IceTable): DataFrame = {
    import org.apache.spark.sql.functions._
    val idName = graft.core.RowLineage.RowIdName
    val dataCols = table.schema.fields.map(f => col(f.name))
    table.spark.createDataFrame(
      table.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(table.schema.toSpark.fields ++
        graft.core.RowLineage.fields.map(f => org.apache.spark.sql.types
          .StructField(f.name, org.apache.spark.sql.types.LongType))))
      .select(dataCols :+ col(idName) :+ lit("insert").as("_change_type"): _*)
  }

  /** The pruned row-identity diff between two committed snapshots of one
    * lineage, as a lazy DataFrame (data columns + `_row_id` +
    * `_change_type`) — the shared engine under [[pollLineageCdc]] and the
    * `graft-cdc` streaming source. `from = None` (or a 0 sentinel) means
    * table start: the whole `to` snapshot as inserts. */
  def lineageDiff(table: IceTable, from: Option[Long], to: Long,
      changeFilter: Option[graft.core.Expr] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    require(table.metadata.formatVersion >= 3,
      "row-identity CDC requires a v3 table (row lineage)")
    val idName = graft.core.RowLineage.RowIdName
    val seqName = graft.core.RowLineage.LastUpdatedName
    val dataCols = table.schema.fields.map(f => col(f.name))
    def out(df: DataFrame, tpe: org.apache.spark.sql.Column): DataFrame =
      df.select(dataCols :+ col(idName) :+ tpe.as("_change_type"): _*)
    val emptyOut = emptyLineageDiff(table)
    // FILTERED feed (replica semantics — the changes needed to maintain
    // `SELECT * WHERE p` of the table): inserts/updates are changed rows
    // whose CURRENT content matches p; deletes are rows that matched p
    // at the cursor and either no longer exist or no longer match p (an
    // update that moves a row OUT of p is a delete from p's view; one
    // that moves a row IN surfaces as an update — the upsert face
    // carries the full row). Every branch prunes FILES through the
    // inclusive evaluators first, so a consumer tailing one partition
    // pays only that partition's churn.
    val rowCol = changeFilter.map(f => graft.core.ToColumn.compile(
      graft.core.Exprs.rewriteNot(graft.core.Binder.bind(table.schema, f))))
    def rowFiltered(df: DataFrame): DataFrame =
      rowCol.map(df.filter).getOrElse(df)
    from.filter(_ != 0L) match {
      case None =>
        // current-schema pin for the same reason as the diff scans: the
        // output shape is the table's current schema even when `to` is
        // behind the head
        val sc0 = new graft.table.IceScan(table).useSnapshot(to).withCurrentSchema
        out(changeFilter.map(sc0.filter).getOrElse(sc0).toDFWithLineage, lit("insert"))
      case Some(c) if c == to => emptyOut
      case Some(c) =>
        val cur = to
        val chain = table.metadata.ancestorsOf(cur) // newest first
        require(chain.exists(_.snapshotId == c),
          s"Cursor snapshot $c is not an ancestor of the current snapshot $cur")
        val cursorSeq = table.metadata.snapshotById(c).get.sequenceNumber
        // next-row-id as of the cursor commit: row ids are assigned in
        // commit order along one lineage and never reused, so a row
        // present NOW with id below this boundary was necessarily
        // present at the cursor (deleted ids cannot reappear; the
        // ancestor requirement above excludes cross-lineage merges) —
        // insert-vs-update classification becomes a pure FILTER, no join
        val boundary: Option[Long] = chain.dropWhile(_.snapshotId != c).iterator
          .flatMap(s => for { f <- s.firstRowId; a <- s.addedRows } yield f + a)
          .nextOption()
        val plan = prunedDiffTasks(table, c, cur, cursorSeq, changeFilter)
        val upserts: Option[DataFrame] =
          if (plan.changedTasks.isEmpty) None
          else {
            // row-level seq filter inside the pruned files drops
            // compaction survivors (materialized seq ≤ cursorSeq rides
            // in a post-cursor file)
            val changed = rowFiltered(
              table.lineageScanForTasksAt(cur, plan.changedTasks))
              .filter(col(seqName) > cursorSeq)
            Some(boundary match {
              case Some(b) => out(changed,
                when(col(idName) >= b, "insert").otherwise("update"))
              case None => // cursor predates the v3 upgrade: id-set join
                // (full cursor ID scan — 8 bytes/row, column-pruned; only
                // reachable when the cursor commit lacks first-row-id)
                val beforeIds = table.lineageScanForTasksAt(c, plan.beforeTasks)
                  .select(col(idName))
                out(changed.join(beforeIds, Seq(idName), "left_anti")
                    .withColumn("__ct", lit("insert"))
                    .unionByName(changed.join(beforeIds, Seq(idName), "left_semi")
                      .withColumn("__ct", lit("update"))),
                  col("__ct"))
            })
          }
        // deleted rows with cursor-time content, two shapes:
        //  - removed/non-DV-masked files: cursor-side scan anti-joins the
        //    id columns of the candidate current files;
        //  - DV-masked survivors: the deleted rows are EXACTLY the
        //    positions in (current mask \ cursor mask) — two churn-sized
        //    blob reads and a position join into the file itself, no
        //    anti-join, no reads of any other file
        val deletes: Option[DataFrame] = {
          val parts = Seq.newBuilder[DataFrame]
          val legacy = plan.removedCand ++ plan.otherMasked
          if (legacy.nonEmpty)
            // the anti-join's right side is ALSO row-filtered under a
            // filtered feed: a row whose current version left the filter
            // must not suppress its own delete (replica semantics)
            parts += out(
              rowFiltered(table.lineageScanForTasksAt(c, legacy)).join(
                rowFiltered(table.lineageScanForTasksAt(cur, plan.curCand))
                  .select(col(idName)),
                Seq(idName), "left_anti"),
              lit("delete"))
          if (plan.dvMasked.nonEmpty) {
            import graft.meta.{DeletionVector, Io}
            val ioEntries = Io.confEntries(table.spark)
            val descs = plan.dvMasked.map { case (bt, ct) =>
              def refs(t: graft.table.FileScanTask): Seq[(String, Long, Long)] =
                t.deletes.map(f => (f.filePath, f.contentOffset.getOrElse(0L),
                  f.contentSizeInBytes.getOrElse(f.fileSizeInBytes)))
              (graft.core.PathUtil.canon(bt.file.filePath), refs(bt), refs(ct))
            }
            val sc = table.spark.sparkContext
            val rdd = sc.parallelize(descs, math.min(descs.size, sc.defaultParallelism))
              .flatMap { case (p, bRefs, cRefs) =>
                def mask(rs: Seq[(String, Long, Long)]): Set[Long] =
                  rs.iterator.flatMap { case (pp, off, len) =>
                    DeletionVector.readPositions(pp, off, len, Io.confFrom(ioEntries))
                  }.toSet
                (mask(cRefs) -- mask(bRefs)).iterator.map(pos => (p, pos))
              }
            val posDf = table.spark.createDataFrame(rdd).toDF("__file", "__pos")
            // The RDD-backed frame has no size statistics (defaults to
            // Long.Max), so without a hint this join sort-merges — i.e.
            // SHUFFLES the full-width cursor-side file scan. The diff's
            // cardinality is bounded by the CURRENT DV cardinalities,
            // which the manifests carry: broadcast the churn-sized
            // position set whenever that bound is sane, keeping the scan
            // side shuffle-free (a map-side hash semi-join).
            val diffBound = plan.dvMasked.iterator
              .flatMap(_._2.deletes.iterator.map(_.recordCount)).sum
            val pathBytes = plan.dvMasked.iterator
              .map { case (bt, _) =>
                graft.core.PathUtil.canon(bt.file.filePath).length + 24L }.max
            val posKeyed =
              if (diffBound * pathBytes <= (64L << 20)) broadcast(posDf)
              else posDf
            val rows = table.lineageScanWithPosForTasksAt(c, plan.dvMasked.map(_._1))
              .join(posKeyed, Seq("__file", "__pos"))
              .drop("__file", "__pos")
            parts += out(rowFiltered(rows), lit("delete"))
          }
          parts.result().reduceOption(_ unionByName _)
        }
        (upserts, deletes) match {
          case (Some(u), Some(d)) => u.unionByName(d)
          case (Some(u), None) => u
          case (None, Some(d)) => d
          case (None, None) => emptyOut
        }
    }
  }

  /** File-level plan of the lineage CDC diff between two snapshots (both
    * metadata-only), with the delete candidates split by HOW their rows
    * can be served:
    *  - changedTasks: current-snapshot tasks that can hold changed rows
    *    (`dataSequenceNumber > cursorSeq`);
    *  - removedCand: cursor tasks whose file is GONE from the current
    *    snapshot (CoW delete/overwrite/compaction) — their deleted rows
    *    need the id anti-join (survivors were rewritten into added files);
    *  - dvMasked: (cursor task, current task) pairs whose file SURVIVED
    *    but whose delete signature changed with every ref on both sides a
    *    deletion vector — their deleted rows are EXACTLY the positions in
    *    (current mask \ cursor mask), derivable from the churn-sized DV
    *    blobs with no anti-join and no corpus reads;
    *  - otherMasked: signature-changed survivors with non-DV refs
    *    (position-delete parquet, equality deletes) — legacy anti-join;
    *  - curCand: the anti-join's right side — files ADDED since the
    *    cursor (a removed file's survivors can only live there) plus the
    *    otherMasked files themselves (a masked file's survivors only in
    *    itself); dvMasked files need no right side at all;
    *  - beforeTasks: the full cursor plan (legacy pre-v3-cursor path). */
  private[graft] final case class DiffPlan(
      changedTasks: Seq[graft.table.FileScanTask],
      removedCand: Seq[graft.table.FileScanTask],
      dvMasked: Seq[(graft.table.FileScanTask, graft.table.FileScanTask)],
      otherMasked: Seq[graft.table.FileScanTask],
      curCand: Seq[graft.table.FileScanTask],
      beforeTasks: Seq[graft.table.FileScanTask]) {
    def deleteCandCount: Int = removedCand.size + dvMasked.size + otherMasked.size
  }

  private[graft] def prunedDiffTasks(table: IceTable, cursorId: Long,
      currentId: Long, cursorSeq: Long,
      filter: Option[graft.core.Expr] = None): DiffPlan = {
    import graft.core.PathUtil
    // with a filter, BOTH snapshots plan through the full pruning
    // machinery — files are immutable, so the inclusive verdict for a
    // path is identical on both sides and the removed/masked detection
    // below stays exact within the filtered subset. The legacy
    // pre-v3-cursor id-set path keeps the UNFILTERED cursor plan
    // (classification by existence, not by filter); the manifest cache
    // makes the extra walk metadata-cheap.
    val curTasks = filter.map(f => table.planTasksAtFiltered(currentId, f))
      .getOrElse(table.planTasksAt(currentId))
    val beforeCand = filter.map(f => table.planTasksAtFiltered(cursorId, f))
      .getOrElse(table.planTasksAt(cursorId))
    val beforeTasks =
      if (filter.isEmpty) beforeCand else table.planTasksAt(cursorId)
    val changedTasks = curTasks.filter(_.dataSequenceNumber > cursorSeq)
    def key(t: graft.table.FileScanTask): String = PathUtil.canon(t.file.filePath)
    // delete applicability signature: identity of the delete refs the
    // planner attached (path + DV blob offset)
    def delSig(t: graft.table.FileScanTask): Set[(String, Long)] =
      t.deletes.map(f =>
        (PathUtil.canon(f.filePath), f.contentOffset.getOrElse(-1L))).toSet
    val curByPath = curTasks.map(t => key(t) -> t).toMap
    val beforeByPath = beforeCand.map(t => key(t) -> t).toMap
    val removedCand = Seq.newBuilder[graft.table.FileScanTask]
    val maskedPairs = Seq.newBuilder[(graft.table.FileScanTask, graft.table.FileScanTask)]
    beforeCand.foreach { t =>
      curByPath.get(key(t)) match {
        case None => removedCand += t // removed: CoW or compaction
        case Some(ct) if delSig(ct) != delSig(t) => maskedPairs += ((t, ct))
        case _ => () // untouched
      }
    }
    val (dvMasked, otherPairs) = maskedPairs.result().partition { case (bt, ct) =>
      (bt.deletes ++ ct.deletes).forall(_.isDeletionVector)
    }
    val added = curTasks.filter(t => !beforeByPath.contains(key(t)))
    DiffPlan(changedTasks, removedCand.result(), dvMasked, otherPairs.map(_._1),
      added ++ otherPairs.map(_._2), beforeTasks)
  }

  /** Data files first ADDED by snapshot `s`, canonical-path-sorted —
    * descriptors only (manifest reads, cache-served). The deterministic
    * file order under the streaming sources' intra-snapshot
    * (file-granular) admission: slicing [k1, k2) of this sequence across
    * triggers partitions one bulk append into bounded batches. */
  def addedDataFiles(table: IceTable, snapshotId: Long): Seq[graft.meta.DataFile] = {
    import graft.meta.{EntryStatus, FileContent, ManifestIO}
    val m = table.metadata
    val s = m.snapshotById(snapshotId).getOrElse(throw new IllegalArgumentException(
      s"Snapshot $snapshotId not found in table ${table.name}"))
    ManifestIO.readManifestList(s.manifestList)
      .filter(mf => mf.content == 0 && mf.addedSnapshotId == snapshotId)
      .flatMap { mf =>
        ManifestIO.readManifest(mf, m.specById(mf.partitionSpecId), m.schema, null)
          .filter(e => e.status == EntryStatus.Added &&
            e.snapshotId == snapshotId &&
            e.dataFile.content == FileContent.Data)
          .map(_.dataFile)
      }
      .sortBy(f => graft.core.PathUtil.canon(f.filePath))
  }

  /** Tasks of [[addedDataFiles]]' [fromIdx, toIdx) slice, resolved
    * against the snapshot's plan (delete refs stay snapshot-scoped —
    * vacuous for a pure append, whose new files carry none). */
  private def appendSliceTasks(table: IceTable, snapshotId: Long,
      fromIdx: Long, toIdx: Option[Long]): Seq[graft.table.FileScanTask] = {
    import graft.core.PathUtil
    val paths = addedDataFiles(table, snapshotId).map(f => PathUtil.canon(f.filePath))
    val want = paths.slice(fromIdx.toInt,
      toIdx.map(_.toInt).getOrElse(paths.size)).toSet
    table.planTasksAt(snapshotId)
      .filter(t => want.contains(PathUtil.canon(t.file.filePath)))
  }

  /** A file slice of one append snapshot as CDC inserts (data columns +
    * `_row_id` + `_change_type`) — the intra-snapshot face of
    * [[lineageDiff]] behind the `graft-cdc` source's
    * `max-files-per-trigger` admission. */
  def cdcAppendSlice(table: IceTable, snapshotId: Long, fromIdx: Long,
      toIdx: Option[Long], changeFilter: Option[graft.core.Expr] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val tasks0 = appendSliceTasks(table, snapshotId, fromIdx, toIdx)
    // filtered feed: slice INDEXES stay filter-independent (offsets must
    // mean the same thing if the option changes across restarts); the
    // filter prunes files within the slice and rows within the files
    val tasks = changeFilter.map { f =>
      val keep = table.planTasksAtFiltered(snapshotId, f)
        .map(t => graft.core.PathUtil.canon(t.file.filePath)).toSet
      tasks0.filter(t => keep.contains(graft.core.PathUtil.canon(t.file.filePath)))
    }.getOrElse(tasks0)
    if (tasks.isEmpty) return emptyLineageDiff(table)
    val dataCols = table.schema.fields.map(f => col(f.name))
    val base = table.lineageScanForTasksAt(snapshotId, tasks)
    val rows = changeFilter.map(f => base.filter(graft.core.ToColumn.compile(
      graft.core.Exprs.rewriteNot(graft.core.Binder.bind(table.schema, f)))))
      .getOrElse(base)
    rows.select(dataCols :+ col(graft.core.RowLineage.RowIdName) :+
      lit("insert").as("_change_type"): _*)
  }

  /** The same slice in the changelog's shape (`_change_type` /
    * `_change_ordinal` / `_commit_snapshot_id`) for the v2-compatible
    * `graft-changelog` source. The slice is always ordinal 0: it carries
    * exactly one commit's (partial) inserts. */
  def changelogAppendSlice(table: IceTable, snapshotId: Long, fromIdx: Long,
      toIdx: Option[Long], changeFilter: Option[graft.core.Expr] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val tasks0 = appendSliceTasks(table, snapshotId, fromIdx, toIdx)
    // same contract as cdcAppendSlice: slice indexes stay
    // filter-independent; the filter prunes files within the slice and
    // rows within the files
    val tasks = changeFilter.map { f =>
      val keep = table.planTasksAtFiltered(snapshotId, f)
        .map(t => graft.core.PathUtil.canon(t.file.filePath)).toSet
      tasks0.filter(t => keep.contains(graft.core.PathUtil.canon(t.file.filePath)))
    }.getOrElse(tasks0)
    val base =
      if (tasks.isEmpty)
        table.spark.createDataFrame(
          table.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          table.schema.toSpark)
      else {
        val b0 = table.scanForTasksAt(snapshotId, tasks)
        changeFilter.map(f => b0.filter(graft.core.ToColumn.compile(
          graft.core.Exprs.rewriteNot(graft.core.Binder.bind(table.schema, f)))))
          .getOrElse(b0)
      }
    base.withColumn("_change_type", lit("insert"))
      .withColumn("_change_ordinal", lit(0))
      .withColumn("_commit_snapshot_id", lit(snapshotId))
  }

  final class Handle(flag: AtomicBoolean, thread: Thread) {
    def stop(): Unit = { flag.set(false); thread.join(10000) }
  }

  /** Background poller: invokes `fn(batch, snapshotId)` for every new
    * append batch until stopped. */
  def follow(table: IceTable, pollMs: Long = 500L)(fn: (DataFrame, Long) => Unit): Handle = {
    val running = new AtomicBoolean(true)
    val thread = new Thread(() => {
      var cursor: Option[Long] = table.metadata.currentSnapshotId
      while (running.get()) {
        val (batch, next) = poll(table, cursor)
        if (next != cursor) {
          fn(batch, next.get)
          cursor = next
        }
        Thread.sleep(pollMs)
      }
    }, s"graft-follow-${table.name}")
    thread.setDaemon(true)
    thread.start()
    new Handle(running, thread)
  }

  /** One REPLICATION step: poll `source`'s row-identity feed past the
    * cursor the replica itself recorded (its `graft.cdc.applied-cursor`
    * property — [[IceTable.applyCdc]] stamps it in the same commit as
    * each batch's data) and apply the batch. The loop needs no external
    * checkpoint: the replica IS the checkpoint, so a crash anywhere
    * re-polls exactly the unapplied range and a replayed batch is a
    * detected no-op. With `filter` the replica maintains
    * `SELECT * WHERE p` of the source (the filtered feed's replica
    * semantics), paying only the filtered partitions' churn.
    * Returns (inserted, updated, deleted). */
  /** v2-compatible replication step: apply the source's CHANGELOG since
    * the replica's stored cursor, keyed by `keyCols` — the face for
    * sources without v3 row lineage. Same replica-is-the-checkpoint
    * contract as [[replicateOnce]]; per key the highest-ordinal event
    * wins (see [[IceTable.applyChangelog]]). Returns (upserted, deleted). */
  def replicateChangelogOnce(source: IceTable, replica: IceTable,
      keyCols: Seq[String],
      filter: Option[graft.core.Expr] = None): (Long, Long) = {
    replica.refresh()
    val stored = replica.appliedCdcCursor
    source.refresh()
    source.metadata.currentSnapshotId match {
      case Some(c) if !stored.contains(c.toString) =>
        val changes = changelog(source, stored.map(_.toLong), Some(c), filter)
        replica.applyChangelog(changes, keyCols, stored, c.toString)
      case _ => (0L, 0L)
    }
  }

  def replicateOnce(source: IceTable, replica: IceTable,
      filter: Option[graft.core.Expr] = None,
      srcIdCol: String = "_src_row_id"): (Long, Long, Long) = {
    replica.refresh()
    val stored = replica.appliedCdcCursor
    val (changes, newCur) = pollLineageCdc(source, stored.map(_.toLong), filter)
    newCur match {
      case Some(c) if !stored.contains(c.toString) =>
        replica.applyCdc(changes, stored, c.toString, srcIdCol)
      case _ => (0L, 0L, 0L)
    }
  }
}
