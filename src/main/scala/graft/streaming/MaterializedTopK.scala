package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{IncrementalTopK, Joins}
import graft.ops.IncrementalTopK.TopKView
import graft.table.IceTable

/** TOP-K MATERIALIZED VIEWS — the persisted, exactly-once face of
  * [[graft.ops.IncrementalTopK]]: the top-k-per-group rows live in
  * their own Iceberg table whose refresh cursor rides the SAME atomic
  * commit as the refreshed rows ([[MaterializedAgg]]'s contract), so
  * replays no-op and a crash between data and cursor cannot happen.
  *
  * Unlike an aggregate MV (one row per group), a rank MV holds UP TO K
  * ROWS per group — the landing therefore diffs whole GROUP IMAGES:
  * a touched group whose new row-set equals its current rows commits
  * nothing; a changed group retires ALL its rows by key and lands the
  * full new image (k rows), keeping untouched groups' files
  * byte-identical through the keyed-write targeting.
  *
  * The view definition (keys, ord, id, k) rides the MV's properties —
  * a table bootstrapped as a top-k view self-describes its refresh;
  * [[MaterializedAgg.refreshOnce]] pointed at it fails loudly (no
  * aggregate-view definition present) and vice versa. */
object MaterializedTopK {

  val KeysProp = "graft.mv.topk-keys"
  val OrdProp = "graft.mv.topk-ord"
  val IdProp = "graft.mv.topk-id"
  val KProp = "graft.mv.topk-k"

  private def viewProps(v: TopKView): Map[String, String] = {
    require((v.keys :+ v.ord :+ v.id).forall(!_.contains(",")),
      "view column names must not contain ','")
    Map(KeysProp -> v.keys.mkString(","), OrdProp -> v.ord,
      IdProp -> v.id, KProp -> v.k.toString)
  }

  /** The top-k view the MV table carries; None when not a top-k MV. */
  def viewOf(mv: IceTable): Option[TopKView] =
    for {
      ks <- mv.metadata.properties.get(KeysProp)
      ord <- mv.metadata.properties.get(OrdProp)
      id <- mv.metadata.properties.get(IdProp)
      k <- mv.metadata.properties.get(KProp)
    } yield TopKView(ks.split(",").toSeq.filter(_.nonEmpty), ord, id, k.toInt)

  /** The MV table's schema: the source's scan shape (top-k keeps whole
    * rows), with fresh ids. */
  def schemaFor(source: IceTable): graft.core.Schema = {
    val st = source.scan.toDF.limit(0).schema
    graft.core.Schema.fromSpark(org.apache.spark.sql.types.StructType(
      st.fields.map(_.copy(metadata = org.apache.spark.sql.types.Metadata.empty))))
  }

  /** Full build: the source's current top-k into the (empty) MV table,
    * view definition + cursor stamped in the same commit. `filter`
    * (predicate DSL) makes it a FILTERED rank view — the top-k of
    * `SELECT * WHERE p`, maintained from the filtered changelog (a row
    * updated out of p retracts via its filtered pre-image; churn below
    * p is silent; the elector re-ranks only p's survivors). */
  def bootstrap(source: IceTable, mv: IceTable, v: TopKView,
      filter: Option[String] = None): Option[Long] = {
    source.refresh(); mv.refresh()
    require(mv.metadata.properties.get(MaterializedAgg.CursorProp).isEmpty,
      s"table ${mv.name} is already a materialized view (cursor present) — " +
        "use refreshOnce")
    val head = source.metadata.currentSnapshotId.getOrElse(return None)
    val f = filter.map(graft.core.ExprParser.parse) // validates the DSL
    val sc = source.scan.useSnapshot(head)
    val full = IncrementalTopK.init(f.map(sc.filter).getOrElse(sc).toDF, v)
    val guard = IceTable.guardedCursorStamp(
      mv.name, None, head.toString, MaterializedAgg.CursorProp)
    mv.applyKeyed(None, v.keys, Some(full),
      m => { val g = guard(m)
        g.copy(properties = g.properties ++ viewProps(v) ++
          filter.map(MaterializedAgg.FilterProp -> _)) },
      mv.metadata.currentSnapshotId)
    Some(head)
  }

  /** Fold every source commit since the MV's cursor, exactly-once.
    * Returns (groups rewritten, rows written); (0, 0) when the source
    * has not moved or the range netted nothing (cursor still advances,
    * metadata-only on the netted case). */
  def refreshOnce(source: IceTable, mv: IceTable): (Long, Long) = {
    source.refresh(); mv.refresh()
    val v = viewOf(mv).getOrElse(throw new IllegalArgumentException(
      s"table ${mv.name} carries no top-k view definition — bootstrap it " +
        "first (an aggregate MV refreshes via MaterializedAgg.refreshOnce)"))
    val cur = mv.metadata.properties.get(MaterializedAgg.CursorProp).map(_.toLong)
    require(cur.nonEmpty,
      s"table ${mv.name} has no refresh cursor — bootstrap it first")
    val head = source.metadata.currentSnapshotId.getOrElse(return (0L, 0L))
    if (cur.contains(head)) return (0L, 0L) // replay/no-op
    val stamp = IceTable.guardedCursorStamp(
      mv.name, cur.map(_.toString), head.toString, MaterializedAgg.CursorProp)
    val f = MaterializedAgg.filterOf(mv) // filtered rank view: file-pruned feed
    // EAGER local checkpoint, as MaterializedAgg.refreshOnce: one job
    // materializes the feed and truncates its lineage, so the empty probe,
    // the fold and the landing never re-submit the changelog's stages.
    // Blocks release via the ContextCleaner when the frame is GC'd.
    val batch = TableChanges.changelog(source, cur, Some(head), f).localCheckpoint(true)
    // batch empty ⟺ touched empty, and the probe needs no exchange
    if (batch.isEmpty) {
      mv.commitMetadata(stamp) // e.g. compaction-only range
      return (0L, 0L)
    }
    val touched = batch.select(v.keys.map(col): _*).distinct()
    // MV rows ride with their `__file` so the landing's one counting
    // action also yields the affected-file set (the aggregate-MV
    // landing's shape — MaterializedAgg.landChanged — lifted from
    // one-row groups to k-row GROUP IMAGES)
    val stateF = mv.scan.toDFWithFile
    val state = stateF.drop("__file")
    val st1 = IncrementalTopK.applyChangelog(state, batch, v,
      keys => { // elector pinned to the fold's end cursor, p-filtered
        val sc = source.scan.useSnapshot(head)
        Joins.nullSafeSemi(f.map(sc.filter).getOrElse(sc).toDF, keys, v.keys)
      })
    // FUSED group-image diff: per touched group, SORT its new and
    // current row-images into arrays and compare — sorted lists equal
    // ⟺ row multisets equal, exactly the former two-sided EXCEPT ALL
    // (set ops and array ordering share SQL equality semantics), but
    // st1's lineage (which includes the hole-election scan) evaluates
    // ONCE into the persisted join and ONE counting action serves the
    // changed count, the written-row count and the affected-file set
    // where the previous shape ran three actions (images persist,
    // changed count, image count) plus the write's own targeting pass
    val stCols = state.columns.toSeq
    // fresh output attribute ids per join side (alias-projection):
    // touched, st1 and the MV scan share lineage (batch and state each
    // feed two sides), which otherwise trips the self-join ambiguity
    // check on the 3-way join below
    def rekey(df: DataFrame): DataFrame =
      df.select(df.columns.map(c => col(c).as(c)).toSeq: _*)
    val n = rekey(Joins.nullSafeSemi(st1, touched, v.keys)
      .select(v.keys.map(col) :+ struct(stCols.map(col): _*).as("__row"): _*)
      .groupBy(v.keys.map(col): _*)
      .agg(sort_array(collect_list(col("__row"))).as("__n_img")))
      .alias("__ln")
    val o = rekey(Joins.nullSafeSemi(stateF, touched, v.keys)
      .select(v.keys.map(col) ++
        Seq(struct(stCols.map(col): _*).as("__row"), col("__file")): _*)
      .groupBy(v.keys.map(col): _*)
      .agg(sort_array(collect_list(col("__row"))).as("__o_img"),
        collect_set(col("__file")).as("__o_files")))
      .alias("__lo")
    val t = rekey(touched).alias("__lt")
    val jnCond = v.keys.map(k => t.col(k) <=> n.col(k)).reduce(_ && _)
    val joCond = v.keys.map(k => t.col(k) <=> o.col(k)).reduce(_ && _)
    val j = t.join(n, jnCond, "left_outer").join(o, joCond, "left_outer")
      .select(v.keys.map(k => t.col(k).as(k)) ++ Seq(
        n.col("__n_img").as("__n_img"), o.col("__o_img").as("__o_img"),
        o.col("__o_files").as("__o_files")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // a missing side is a null array: birth (old null), death (new
      // null), absent-both (touched but never materialized — equal)
      val changedCond = !(col("__n_img") <=> col("__o_img"))
      val row = j.agg(
        sum(when(changedCond, 1L).otherwise(0L)),
        sum(when(changedCond && col("__n_img").isNotNull,
          size(col("__n_img")).cast("long")).otherwise(0L)),
        // collect_list skips nulls: unchanged/birth groups contribute
        // no file arrays; flatten + distinct = the exact affected set
        array_distinct(flatten(collect_list(
          when(changedCond, col("__o_files")))))).head()
      val nGroups = if (row.isNullAt(0)) 0L else row.getLong(0)
      val nRows = if (row.isNullAt(1)) 0L else row.getLong(1)
      if (nGroups == 0) {
        mv.commitMetadata(stamp)
        return (0L, 0L)
      }
      val affected = row.getSeq[String](2).toSet
      // retire EVERY row of each changed group, land its full image —
      // both derived from the persisted join, no st1 re-evaluation
      val changedKeys = j.filter(changedCond).select(v.keys.map(col): _*)
      val fullImages = j.filter(changedCond && col("__n_img").isNotNull)
        .select(explode(col("__n_img")).as("__row"))
        .select(stCols.map(c => col("__row").getField(c).as(c)): _*)
      mv.applyKeyed(Some(changedKeys), v.keys,
        if (nRows > 0) Some(fullImages) else None,
        stamp, mv.metadata.currentSnapshotId,
        affectedPaths = Some(affected))
      (nGroups, nRows)
    } finally j.unpersist()
  }
}
