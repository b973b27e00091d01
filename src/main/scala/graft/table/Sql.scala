package graft.table

import org.apache.spark.sql.DataFrame

import graft.catalog.Catalog

/** SQL face: expose engine tables to `spark.sql` as temp views.
  *
  * The view body is the table's scan DataFrame, which bottoms out in a
  * DSv2 relation over the snapshot's (already manifest-pruned) tasks —
  * so SQL `WHERE`/`SELECT` over the view still get Catalyst's filter
  * pushdown and column pruning into the scan. What a view
  * cannot do is re-run manifest/partition pruning per query (the file
  * list is fixed at registration); for that, call
  * `table.scan(filter).toDF`, use `sql` below (re-plans per invocation),
  * or the DataSourceV2 connector (`spark.read.format("graft")`,
  * graft.spark.GraftSource) whose filter pushdown re-runs manifest
  * pruning per query.
  */
object GraftSql {

  /** Register the table's current snapshot as a temp view on the
    * table's session. */
  def register(table: IceTable, viewName: String): Unit =
    table.scan.toDF.createOrReplaceTempView(viewName)

  /** Register every table of a catalog warehouse directory. */
  def registerAll(catalog: Catalog, names: Seq[String]): Unit =
    names.foreach(n => register(catalog.loadTable(n), n))

  /** Run SQL with fresh per-query scan planning for the named tables. */
  def sql(catalog: Catalog, query: String, tables: Seq[String]): DataFrame = {
    registerAll(catalog, tables)
    catalog.spark.sql(query)
  }
}
