package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's private[sql] Column ↔ Expression conversions
  * (Spark 4 removed the public `Column.expr` / `new Column(expr)`). */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Re-bind a DataFrame's logical plan to another session (e.g. a
    * cloneSession() carrying per-write confs) — `Dataset.ofRows` is
    * private[sql], hence this bridge. */
  def onSession(s: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].queryExecution.logical)

  /** Copy of the session sharing the SparkContext with an independent
    * conf — `cloneSession` is private[sql] in Spark 4. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** The frame's InternalRow RDD (post-optimization physical rows) —
    * `queryExecution.toRdd` is private[sql], hence this bridge. Used by
    * write paths that drive their own ParquetWriter per partition. */
  def internalRowRDD(df: DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd

  /** V2 connector Predicate → V1 source Filter (drops untranslatable
    * ones) — `PredicateUtils` is private[sql], hence this bridge. */
  def predicatesToV1(
      ps: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Array[org.apache.spark.sql.sources.Filter] =
    internal.connector.PredicateUtils.toV1(ps)

  /** Frame over a DSv2 table with its metadata columns in the output —
    * Spark's V2ScanRelationPushDown then prunes columns and pushes filters
    * and limits into the table's scan builder, as for a catalog table.
    * `Dataset.ofRows` is private[sql], hence this bridge. */
  def v2Frame(s: SparkSession, table: org.apache.spark.sql.connector.catalog.Table)
      : DataFrame = {
    val rel = org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
      .create(table, None, None)
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], rel.withMetadataColumns())
  }

  /** Batch plan served as ONE streaming micro-batch: a V1
    * `Source.getBatch` result must carry isStreaming=true
    * (MicroBatchExecution asserts it). The per-batch plan re-plans every
    * micro-batch anyway, so baking it to a lazy RDD leaf loses no
    * incrementality — `internalCreateDataFrame` is private[sql], hence
    * this bridge. */
  def streamingBatchFrame(s: SparkSession, df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    s.asInstanceOf[classic.SparkSession].internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = true)
  }

  /** Lineage-truncating materialization for iterative frames: persist the
    * frame's InternalRow RDD and wrap it as a leaf LogicalRDD frame — the
    * SQL plan collapses to a scan of the cached blocks, like
    * localCheckpoint, but the caller HOLDS the persisted RDD and can
    * release its blocks deterministically (localCheckpoint's internal RDD
    * is unreachable, so its blocks pin storage until GC). The caller must
    * run an action before relying on the cache (persist is lazy);
    * `internalCreateDataFrame` is private[sql], hence this bridge. */
  def cachedLeafFrame(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[_]) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = ds.sparkSession.internalCreateDataFrame(rdd, ds.schema)
    (out, rdd)
  }
}
