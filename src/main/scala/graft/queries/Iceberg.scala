package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.HadoopCatalog
import graft.core._
import graft.meta.{PartitionSpec => Spec}

/** Driver-contract queries exercising the Iceberg-format engine end-to-end:
  * each creates a fresh table in a temp warehouse from the driver-supplied
  * parquet, runs the operator under test, scans the table back and returns
  * a DataFrame whose DuckDB oracle is expressed over the ORIGINAL parquet
  * tables (cross-engine differential testing — the reference's own
  * integration-test pattern, SURVEY.md §5).
  */
object Iceberg {
  import Tables._

  private def wh(spark: SparkSession): HadoopCatalog =
    new HadoopCatalog(Files.createTempDirectory("graft_ice").toString, spark)

  // vacuous-gate guard: Tables.nonEmpty (shared with DataOps)

  /** A. append + full scan (ref: Transaction.append + DataScan). */
  def appendScan(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val tab = wh(s).createTable("orders", Schema.fromSpark(orders.schema))
    tab.append(orders)
    tab.scan.toDF.orderBy(col("o_orderkey"))
  }
  val appendScanSql = "SELECT * FROM orders ORDER BY o_orderkey"

  /** A+B. scan with row-filter DSL + column selection (pushdown path). */
  def scanFilterDsl(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val tab = wh(s).createTable("lineitem", Schema.fromSpark(li.schema))
    tab.append(li)
    nonEmpty(tab.scan("l_shipdate >= '1997-01-01' and l_discount > 0.05 and l_quantity < 10")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .toDF.orderBy(col("l_orderkey"), col("l_linenumber")))
  }
  val scanFilterDslSql =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_discount > 0.05 AND l_quantity < 10
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** B. predicate battery through the DSL parser (IN / LIKE / BETWEEN). */
  def scanPredicates(s: SparkSession, dir: String): DataFrame = {
    val part = t(s, dir, "part")
    val tab = wh(s).createTable("part", Schema.fromSpark(part.schema))
    tab.append(part)
    tab.scan("p_brand in ('Brand#1','Brand#2') and p_name not like 'a%' " +
        "and p_size between 5 and 40 and p_type is not null")
      .select("p_partkey", "p_name", "p_brand", "p_size")
      .toDF.orderBy(col("p_partkey"))
  }
  val scanPredicatesSql =
    """SELECT p_partkey, p_name, p_brand, p_size FROM part
      |WHERE p_brand IN ('Brand#1','Brand#2') AND p_name NOT LIKE 'a%'
      |  AND p_size BETWEEN 5 AND 40 AND p_type IS NOT NULL
      |ORDER BY p_partkey""".stripMargin

  /** E+C. time-transform partitioning: month(o_orderdate) fan-out write,
    * manifest/partition pruning on read. */
  def partitionPruning(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val schema = Schema.fromSpark(orders.schema)
    val tab = wh(s).createTable("orders",
      schema, Spec.build(schema, 0, ("o_orderdate", MonthTransform, "o_month")))
    tab.append(orders)
    nonEmpty(tab.scan("o_orderdate >= '1997-06-01'").toDF.orderBy(col("o_orderkey")))
  }
  val partitionPruningSql =
    "SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1997-06-01' ORDER BY o_orderkey"

  /** E. Iceberg murmur3 bucket partitioning + equality pruning. */
  def bucketPruning(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val schema = Schema.fromSpark(cust.schema)
    val tab = wh(s).createTable("customer",
      schema, Spec.build(schema, 0, ("c_custkey", BucketTransform(8), "c_bucket")))
    tab.append(cust)
    nonEmpty(tab.scan("c_custkey in (1, 7, 500)").toDF.orderBy(col("c_custkey")))
  }
  val bucketPruningSql =
    "SELECT * FROM customer WHERE c_custkey IN (1, 7, 500) ORDER BY c_custkey"

  /** E. truncate transform partitioning. */
  def truncatePartition(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val schema = Schema.fromSpark(orders.schema)
    val tab = wh(s).createTable("orders",
      schema, Spec.build(schema, 0, ("o_orderkey", TruncateTransform(1000), "o_trunc")))
    tab.append(orders)
    // [500, 1500) spans two truncate-1000 buckets and is non-empty at
    // EVERY scale factor (sf0.001 tops out at o_orderkey 1499 — the old
    // [2000, 4000) range was vacuous there)
    nonEmpty(tab.scan("o_orderkey >= 500 and o_orderkey < 1500").toDF.orderBy(col("o_orderkey")))
  }
  val truncatePartitionSql =
    "SELECT * FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 1500 ORDER BY o_orderkey"

  /** D. copy-on-write delete: strict-metrics whole-file drop + rewrite with
    * the complementary filter. */
  def deleteCow(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val tab = wh(s).createTable("orders", Schema.fromSpark(orders.schema))
    tab.append(orders)
    tab.delete("o_totalprice < 100000 and o_orderstatus = 'O'")
    tab.scan.toDF.orderBy(col("o_orderkey"))
  }
  val deleteCowSql =
    """SELECT * FROM orders
      |WHERE NOT (o_totalprice < 100000 AND o_orderstatus = 'O')
      |ORDER BY o_orderkey""".stripMargin

  /** D. upsert/MERGE: update matched+changed, insert unmatched
    * (join-based, no driver key collection). */
  def upsert(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val tab = wh(s).createTable("orders", Schema.fromSpark(orders.schema))
    tab.append(orders.filter(col("o_orderkey") <= 12000))
    val source = orders.filter(col("o_orderkey") > 6000)
      .withColumn("o_orderstatus", lit("X"))
    tab.upsert(source, Seq("o_orderkey"))
    tab.scan.toDF.orderBy(col("o_orderkey"))
  }
  val upsertSql =
    """SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
      |FROM orders WHERE o_orderkey > 6000
      |UNION ALL
      |SELECT * FROM orders WHERE o_orderkey <= 6000
      |ORDER BY o_orderkey""".stripMargin

  /** D. dynamic partition overwrite (identity partitioning). */
  def dynamicOverwrite(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val schema = Schema.fromSpark(orders.schema)
    val tab = wh(s).createTable("orders",
      schema, Spec.build(schema, 0, ("o_orderpriority", IdentityTransform, "prio")))
    tab.append(orders)
    tab.dynamicPartitionOverwrite(
      orders.filter(col("o_orderpriority") === "1-URGENT").withColumn("o_totalprice", lit(0.0)))
    tab.scan.toDF.orderBy(col("o_orderkey"))
  }
  val dynamicOverwriteSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CASE WHEN o_orderpriority = '1-URGENT' THEN 0.0 ELSE o_totalprice END AS o_totalprice,
      |  o_orderdate, o_orderpriority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** J. time travel: scan the first snapshot after a second append. */
  def timeTravel(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val tab = wh(s).createTable("orders", Schema.fromSpark(orders.schema))
    tab.append(orders.filter(col("o_orderkey") % 3 === 0))
    val snap1 = tab.metadata.currentSnapshotId.get
    tab.append(orders.filter(col("o_orderkey") % 3 =!= 0))
    tab.manageSnapshots.createTag("v1", snap1)
    tab.scan.useRef("v1").toDF.orderBy(col("o_orderkey"))
  }
  val timeTravelSql =
    "SELECT * FROM orders WHERE o_orderkey % 3 = 0 ORDER BY o_orderkey"

  /** J. incremental append scan between two snapshots. */
  def incrementalScan(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val tab = wh(s).createTable("orders", Schema.fromSpark(orders.schema))
    tab.append(orders.filter(col("o_orderkey") % 3 === 0))
    val snap1 = tab.metadata.currentSnapshotId.get
    tab.append(orders.filter(col("o_orderkey") % 3 =!= 0))
    val snap2 = tab.metadata.currentSnapshotId.get
    tab.incrementalAppendScan(snap1, snap2).orderBy(col("o_orderkey"))
  }
  val incrementalScanSql =
    "SELECT * FROM orders WHERE o_orderkey % 3 <> 0 ORDER BY o_orderkey"

  /** G. schema evolution: rename + add column; old files read by field-id. */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    val tab = wh(s).createTable("orders", Schema.fromSpark(orders.schema))
    tab.append(orders)
    tab.updateSchema
      .renameColumn("o_orderstatus", "status")
      .addColumn("note", IString)
      .commit()
    tab.scan("status = 'O'").toDF.orderBy(col("o_orderkey"))
  }
  val schemaEvolutionSql =
    """SELECT o_orderkey, o_orderstatus AS status, o_totalprice, CAST(NULL AS VARCHAR) AS note
      |FROM orders WHERE o_orderstatus = 'O' ORDER BY o_orderkey""".stripMargin

  /** A (deletes). merge-on-read position deletes applied by the scan's
    * reader (ref read path io/pyarrow.py:1629; MoR write is our
    * extension). */
  def positionDeletes(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val tab = wh(s).createTable("orders", Schema.fromSpark(orders.schema))
    tab.append(orders)
    tab.deletePositional("o_orderstatus = 'F' and o_totalprice < 150000")
    tab.scan.toDF.orderBy(col("o_orderkey"))
  }
  val positionDeletesSql =
    """SELECT * FROM orders
      |WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 150000)
      |ORDER BY o_orderkey""".stripMargin

  /** A (deletes). v3 deletion vectors (ref: table/deletion_vector.py,
    * table/puffin.py): roaring-bitmap position deletes in puffin blobs;
    * the second delete exercises the merge path (one DV per data file). */
  def deletionVectors(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val tab = wh(s).createTable("orders", Schema.fromSpark(orders.schema))
    tab.upgradeFormatVersion(3)
    tab.append(orders)
    tab.deleteAsDeletionVector("o_orderstatus = 'F' and o_totalprice < 150000")
    tab.deleteAsDeletionVector("o_totalprice > 400000")
    tab.scan.toDF.orderBy(col("o_orderkey"))
  }
  val deletionVectorsSql =
    """SELECT * FROM orders
      |WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 150000)
      |  AND NOT (o_totalprice > 400000)
      |ORDER BY o_orderkey""".stripMargin

  /** A/D. v3 row lineage (spec §Row Lineage — beyond the reference, which
    * only declares the manifest fields): `_row_id` = manifest-inherited
    * first_row_id + row position, `_last_updated_sequence_number` = the
    * file's data sequence number. Two single-file sorted appends make the
    * id assignment deterministic; the DV delete proves surviving rows KEEP
    * their ids under merge-on-read. */
  def rowLineage(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val tab = wh(s).createTable("orders", Schema.fromSpark(orders.schema))
    tab.upgradeFormatVersion(3)
    // two appends consume it — persist so the 1-task fixture sort (the
    // rid-determinism device) runs once, not per append
    val sorted = DataOps.trackCache(
      orders.repartition(1).sortWithinPartitions("o_orderkey").persist())
    tab.append(sorted.filter(col("o_orderkey") % 2 === 1))
    tab.append(sorted.filter(col("o_orderkey") % 2 === 0))
    tab.deleteAsDeletionVector("o_totalprice > 300000")
    nonEmpty(tab.scan.select("o_orderkey").toDFWithLineage.orderBy(col("o_orderkey")))
  }
  val rowLineageSql =
    """WITH odd AS (
      |  SELECT o_orderkey, o_totalprice,
      |         row_number() OVER (ORDER BY o_orderkey) - 1 AS rid,
      |         CAST(1 AS BIGINT) AS seq
      |  FROM orders WHERE o_orderkey % 2 = 1),
      |cnt AS (SELECT count(*) AS n FROM odd),
      |evn AS (
      |  SELECT o_orderkey, o_totalprice,
      |         (SELECT n FROM cnt) + row_number() OVER (ORDER BY o_orderkey) - 1 AS rid,
      |         CAST(2 AS BIGINT) AS seq
      |  FROM orders WHERE o_orderkey % 2 = 0)
      |SELECT o_orderkey, rid AS "_row_id", seq AS "_last_updated_sequence_number"
      |FROM (SELECT * FROM odd UNION ALL SELECT * FROM evn)
      |WHERE NOT (o_totalprice > 300000)
      |ORDER BY o_orderkey""".stripMargin

  /** A/D. v3 row lineage THROUGH copy-on-write compaction (spec §Row
    * Lineage rewrite rule): same construction as ice_row_lineage, then
    * rewriteDataFiles folds the DV in and moves every surviving row to a
    * NEW file with `_row_id` / `_last_updated_sequence_number`
    * MATERIALIZED as reserved columns. The oracle re-derives ids from the
    * pre-compaction append order — hash equality proves compaction
    * renumbered nothing. */
  def rowLineageCompaction(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val tab = wh(s).createTable("orders", Schema.fromSpark(orders.schema))
    tab.upgradeFormatVersion(3)
    // two appends consume it — persist so the 1-task fixture sort (the
    // rid-determinism device) runs once, not per append
    val sorted = DataOps.trackCache(
      orders.repartition(1).sortWithinPartitions("o_orderkey").persist())
    tab.append(sorted.filter(col("o_orderkey") % 2 === 1))
    tab.append(sorted.filter(col("o_orderkey") % 2 === 0))
    tab.deleteAsDeletionVector("o_totalprice > 300000")
    val (rewritten, _) = tab.rewriteDataFiles(1L << 30)
    require(rewritten > 0, "compaction must actually rewrite files")
    nonEmpty(tab.scan.select("o_orderkey").toDFWithLineage.orderBy(col("o_orderkey")))
  }
  // ids and sequence numbers are IDENTICAL to the pre-compaction state —
  // the oracle is byte-for-byte rowLineageSql
  val rowLineageCompactionSql: String = rowLineageSql

  /** A/D. v3 row lineage on the SQL face: `_row_id` /
    * `_last_updated_sequence_number` as DSv2 METADATA COLUMNS
    * (SupportsMetadataColumns — advertised on v3 tables only), selectable
    * in plain SQL through the catalog plugin. Same deterministic
    * construction as ice_row_lineage (sorted single-file appends + a DV
    * delete), read back with `SELECT o_orderkey, _row_id, …` — the oracle
    * re-derives the ids independently. */
  def rowLineageSqlFace(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val cat = s"glin${sqlCatSeq.incrementAndGet()}"
    val whDir = Files.createTempDirectory("graft_linsql").toString
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", whDir)
    val tab = new graft.catalog.HadoopCatalog(whDir, s)
      .createTable("db.orders", Schema.fromSpark(orders.schema),
        properties = Map("format-version" -> "3"))
    // two appends consume it — persist so the 1-task fixture sort (the
    // rid-determinism device) runs once, not per append
    val sorted = DataOps.trackCache(
      orders.repartition(1).sortWithinPartitions("o_orderkey").persist())
    tab.append(sorted.filter(col("o_orderkey") % 2 === 1))
    tab.append(sorted.filter(col("o_orderkey") % 2 === 0))
    tab.deleteAsDeletionVector("o_totalprice > 300000")
    nonEmpty(s.sql(
      s"""SELECT o_orderkey, _row_id, _last_updated_sequence_number
         |FROM $cat.db.orders ORDER BY o_orderkey""".stripMargin))
  }
  val rowLineageSqlFaceSql: String = rowLineageSql

  /** A/D. v3 row lineage THROUGH SQL DML (spec §Row Lineage update rule):
    * UPDATE keeps each matched row's `_row_id` and moves its
    * `_last_updated_sequence_number` to the updating commit; carried
    * rows in the rewritten groups keep BOTH (detected by content diff —
    * Spark's group-based rewrite doesn't mark updated rows); DELETE
    * carries survivors untouched. The oracle re-derives ids from append
    * order and seqs from the update predicate — hash equality proves the
    * CoW rewrites neither renumbered ids nor smeared sequence numbers. */
  def rowLineageDml(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val cat = s"glin${sqlCatSeq.incrementAndGet()}"
    val whDir = Files.createTempDirectory("graft_lindml").toString
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", whDir)
    val tab = new graft.catalog.HadoopCatalog(whDir, s)
      .createTable("db.orders", Schema.fromSpark(orders.schema),
        properties = Map("format-version" -> "3"))
    // two appends consume it — persist so the 1-task fixture sort (the
    // rid-determinism device) runs once, not per append
    val sorted = DataOps.trackCache(
      orders.repartition(1).sortWithinPartitions("o_orderkey").persist())
    tab.append(sorted.filter(col("o_orderkey") % 2 === 1)) // seq 1
    tab.append(sorted.filter(col("o_orderkey") % 2 === 0)) // seq 2
    s.sql(s"""UPDATE $cat.db.orders
             |SET o_orderstatus = concat(o_orderstatus, 'X')
             |WHERE o_totalprice > 200000""".stripMargin) // seq 3
    s.sql(s"DELETE FROM $cat.db.orders WHERE o_orderkey % 7 = 3") // seq 4
    nonEmpty(s.sql(
      s"""SELECT o_orderkey, o_orderstatus, _row_id, _last_updated_sequence_number
         |FROM $cat.db.orders ORDER BY o_orderkey""".stripMargin))
  }
  /** A/D. v3 MERGE-ON-READ SQL DML: with `write.*.mode = merge-on-read`
    * on a v3 table, DELETE writes DELETION VECTORS (the spec forbids new
    * position-delete files) and UPDATE masks the old row with a DV while
    * the reinserted row KEEPS its `_row_id` (delta metadata hook) with
    * the updating commit's sequence number. Same oracle as the CoW DML
    * gate — hash equality proves the MoR path yields bit-identical
    * lineage to copy-on-write. */
  def rowLineageMor(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val cat = s"glin${sqlCatSeq.incrementAndGet()}"
    val whDir = Files.createTempDirectory("graft_linmor").toString
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", whDir)
    val tab = new graft.catalog.HadoopCatalog(whDir, s)
      .createTable("db.orders", Schema.fromSpark(orders.schema),
        properties = Map("format-version" -> "3",
          "write.update.mode" -> "merge-on-read",
          "write.delete.mode" -> "merge-on-read",
          "write.merge.mode" -> "merge-on-read"))
    // two appends consume it — persist so the 1-task fixture sort (the
    // rid-determinism device) runs once, not per append
    val sorted = DataOps.trackCache(
      orders.repartition(1).sortWithinPartitions("o_orderkey").persist())
    tab.append(sorted.filter(col("o_orderkey") % 2 === 1)) // seq 1
    tab.append(sorted.filter(col("o_orderkey") % 2 === 0)) // seq 2
    s.sql(s"""UPDATE $cat.db.orders
             |SET o_orderstatus = concat(o_orderstatus, 'X')
             |WHERE o_totalprice > 200000""".stripMargin) // seq 3 (DV + reinsert)
    s.sql(s"DELETE FROM $cat.db.orders WHERE o_orderkey % 7 = 3") // seq 4 (DV)
    // the MoR path must actually be MoR: deletes present as DVs
    val tasks = new graft.table.IceScan(tab.refresh()).planFiles()
    val dels = tasks.flatMap(_.deletes)
    require(dels.nonEmpty && dels.forall(_.isDeletionVector),
      "v3 MoR DML must produce deletion vectors")
    nonEmpty(s.sql(
      s"""SELECT o_orderkey, o_orderstatus, _row_id, _last_updated_sequence_number
         |FROM $cat.db.orders ORDER BY o_orderkey""".stripMargin))
  }
  // bit-identical lineage to the CoW DML path — same oracle
  lazy val rowLineageMorSql: String = rowLineageDmlSql

  /** A/J. CDC keyed by ROW IDENTITY (v3 lineage × time travel — an
    * extension no snapshot-diff changelog can express): diff two
    * snapshots by `_row_id`, classifying each row as insert (id only in
    * the new state), delete (only in the old), update (both, content
    * differs) — the "what changed between dataset versions" question a
    * training-data pipeline asks, robust to rows MOVING between files
    * (compaction between the snapshots must produce zero changes, which
    * position-based diffs get wrong). The oracle re-derives ids from
    * append order and replays the DML in SQL. */
  def lineageCdc(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val cat = s"glin${sqlCatSeq.incrementAndGet()}"
    val whDir = Files.createTempDirectory("graft_lincdc").toString
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", whDir)
    val tab = new graft.catalog.HadoopCatalog(whDir, s)
      .createTable("db.orders", Schema.fromSpark(orders.schema),
        properties = Map("format-version" -> "3",
          "write.delete.mode" -> "merge-on-read"))
    // two appends consume it — persist so the 1-task fixture sort (the
    // rid-determinism device) runs once, not per append
    val sorted = DataOps.trackCache(
      orders.repartition(1).sortWithinPartitions("o_orderkey").persist())
    tab.append(sorted.filter(col("o_orderkey") % 2 === 1)) // seq 1
    tab.append(sorted.filter(col("o_orderkey") % 2 === 0)) // seq 2
    val baseSnap = tab.refresh().metadata.currentSnapshotId.get
    // a compaction BETWEEN the snapshots: rows move files, ids must not —
    // the diff below must see exactly the DML, not the rewrite. The
    // delete is MoR (v3 + merge-on-read = a deletion vector, NO rewrite)
    // and the update is CoW, so BOTH row-masking strategies face the
    // same diff.
    val (rew, _) = tab.rewriteDataFiles(1L << 30)
    require(rew > 0, "compaction must actually rewrite")
    s.sql(s"DELETE FROM $cat.db.orders WHERE o_orderkey % 7 = 3")
    s.sql(s"""UPDATE $cat.db.orders
             |SET o_orderstatus = concat(o_orderstatus, 'X')
             |WHERE o_totalprice > 200000""".stripMargin)

    val rel = tab.refresh()
    val idc = col(graft.core.RowLineage.RowIdName)
    def lin(sc: graft.table.IceScan): DataFrame = sc.toDFWithLineage
      .select(idc.as("rid"), col("o_orderkey"), col("o_orderstatus"))
    val before = lin(rel.scan.useSnapshot(baseSnap))
    val after = lin(rel.scan)
    nonEmpty(before.as("b").join(after.as("a"),
        col("b.rid") === col("a.rid"), "full_outer")
      .select(
        coalesce(col("a.rid"), col("b.rid")).as("rid"),
        coalesce(col("a.o_orderkey"), col("b.o_orderkey")).as("o_orderkey"),
        when(col("b.rid").isNull, "insert")
          .when(col("a.rid").isNull, "delete")
          .when(not(col("a.o_orderstatus") <=> col("b.o_orderstatus")), "update")
          .otherwise("unchanged").as("change_type"))
      .filter(col("change_type") =!= "unchanged")
      .orderBy(col("rid")))
  }
  val lineageCdcSql =
    """WITH odd AS (
      |  SELECT o_orderkey, o_totalprice,
      |         row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
      |  FROM orders WHERE o_orderkey % 2 = 1),
      |cnt AS (SELECT count(*) AS n FROM odd),
      |evn AS (
      |  SELECT o_orderkey, o_totalprice,
      |         (SELECT n FROM cnt) + row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |base AS (SELECT * FROM odd UNION ALL SELECT * FROM evn)
      |SELECT rid, o_orderkey,
      |  CASE WHEN o_orderkey % 7 = 3 THEN 'delete'
      |       WHEN o_totalprice > 200000 THEN 'update' END AS change_type
      |FROM base
      |WHERE o_orderkey % 7 = 3 OR o_totalprice > 200000
      |ORDER BY rid""".stripMargin

  /** J. STREAMING row-identity CDC (v3 lineage driven as micro-batches
    * — the incremental face of `ice_lineage_cdc`): two polls of
    * [[graft.streaming.TableChanges.pollLineageCdc]], one after a MoR
    * DELETE, one after a CoW UPDATE, with a compaction interposed before
    * the first poll — rewritten rows keep `_row_id` AND
    * `_last_updated_sequence_number`, so the compaction contributes ZERO
    * rows to either batch. The oracle replays the DML per batch from
    * append order. This is what lets an incremental dedup /
    * decontamination pipeline re-process only changed rows. */
  def streamLineageCdc(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val cat = s"glinstr${sqlCatSeq.incrementAndGet()}"
    val whDir = Files.createTempDirectory("graft_lincdc_stream").toString
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", whDir)
    val tab = new graft.catalog.HadoopCatalog(whDir, s)
      .createTable("db.orders", Schema.fromSpark(orders.schema),
        properties = Map("format-version" -> "3",
          "write.delete.mode" -> "merge-on-read"))
    // two appends consume it — persist so the 1-task fixture sort (the
    // rid-determinism device) runs once, not per append
    val sorted = DataOps.trackCache(
      orders.repartition(1).sortWithinPartitions("o_orderkey").persist())
    tab.append(sorted.filter(col("o_orderkey") % 2 === 1)) // seq 1
    tab.append(sorted.filter(col("o_orderkey") % 2 === 0)) // seq 2
    val baseSnap = tab.refresh().metadata.currentSnapshotId.get
    // compaction between the cursor and the first poll: rows move files,
    // identities must not — zero phantom changes in batch 1
    val (rew, _) = tab.rewriteDataFiles(1L << 30)
    require(rew > 0, "compaction must actually rewrite")
    s.sql(s"DELETE FROM $cat.db.orders WHERE o_orderkey % 7 = 3") // MoR: DV
    val (b1, cur1) = graft.streaming.TableChanges.pollLineageCdc(
      tab.refresh(), Some(baseSnap))
    s.sql(s"""UPDATE $cat.db.orders
             |SET o_orderstatus = concat(o_orderstatus, 'X')
             |WHERE o_totalprice > 200000""".stripMargin) // CoW rewrite
    val (b2, _) = graft.streaming.TableChanges.pollLineageCdc(
      tab.refresh(), cur1)
    def shape(df: DataFrame, batch: Int): DataFrame =
      df.select(lit(batch).as("batch"),
        col(graft.core.RowLineage.RowIdName).as("rid"),
        col("o_orderkey"), col("_change_type").as("change_type"))
    nonEmpty(shape(b1, 1).unionByName(shape(b2, 2))
      .orderBy(col("batch"), col("rid")))
  }
  val streamLineageCdcSql =
    """WITH odd AS (
      |  SELECT o_orderkey, o_totalprice,
      |         row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
      |  FROM orders WHERE o_orderkey % 2 = 1),
      |cnt AS (SELECT count(*) AS n FROM odd),
      |evn AS (
      |  SELECT o_orderkey, o_totalprice,
      |         (SELECT n FROM cnt) + row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |base AS (SELECT * FROM odd UNION ALL SELECT * FROM evn)
      |SELECT 1 AS batch, rid, o_orderkey, 'delete' AS change_type
      |FROM base WHERE o_orderkey % 7 = 3
      |UNION ALL
      |SELECT 2 AS batch, rid, o_orderkey, 'update' AS change_type
      |FROM base WHERE o_totalprice > 200000 AND NOT (o_orderkey % 7 = 3)
      |ORDER BY batch, rid""".stripMargin

  /** J. The registered STREAMING face of the row-identity CDC feed:
    * `spark.readStream.format("graft-cdc")` drives the file-pruned
    * lineage diff through Structured Streaming proper — checkpointed
    * snapshot-id offsets, one insert/update/delete batch per committed
    * range, memory-sink accumulation. Same churn sequence as
    * `stream_lineage_cdc` (backfill, compaction contributing ZERO
    * phantom rows, a MoR DV DELETE, a CoW UPDATE), but batched by the
    * streaming engine instead of manual polls; the output multiset is
    * invariant to where the engine draws batch boundaries. */
  def streamCdcSource(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val cat = s"gcdcsrc${sqlCatSeq.incrementAndGet()}"
    val whDir = Files.createTempDirectory("graft_cdc_source").toString
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", whDir)
    val tab = new graft.catalog.HadoopCatalog(whDir, s)
      .createTable("db.orders", Schema.fromSpark(orders.schema),
        properties = Map("format-version" -> "3",
          "write.delete.mode" -> "merge-on-read"))
    // two appends consume it — persist so the 1-task fixture sort (the
    // rid-determinism device) runs once, not per append
    val sorted = DataOps.trackCache(
      orders.repartition(1).sortWithinPartitions("o_orderkey").persist())
    tab.append(sorted.filter(col("o_orderkey") % 2 === 1)) // seq 1
    tab.append(sorted.filter(col("o_orderkey") % 2 === 0)) // seq 2
    val sink = s"cdc_src_sink_${sqlCatSeq.incrementAndGet()}"
    DataOps.trackTempView(s, sink)
    val q = s.readStream.format("graft-cdc")
      .option("warehouse", whDir).option("table", "db.orders").load()
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      q.processAllAvailable() // backfill batch: the whole table as inserts
      // one churn range holding a compaction (zero phantom rows — its
      // files all change but no row identity does), a MoR DV DELETE and
      // a CoW UPDATE: the output multiset is invariant to how the
      // engine batches the range (the oracle is batch-agnostic; the
      // per-batch-boundary behaviors are pinned in TableSpec)
      val (rew, _) = tab.rewriteDataFiles(1L << 30)
      require(rew > 0, "compaction must actually rewrite")
      s.sql(s"DELETE FROM $cat.db.orders WHERE o_orderkey % 7 = 3") // MoR DV
      s.sql(s"""UPDATE $cat.db.orders
               |SET o_orderstatus = concat(o_orderstatus, 'X')
               |WHERE o_totalprice > 200000""".stripMargin) // CoW rewrite
      q.processAllAvailable()
    } finally q.stop()
    nonEmpty(s.table(sink).select(
        col(graft.core.RowLineage.RowIdName).as("rid"),
        col("o_orderkey"), col("_change_type").as("change_type"))
      .orderBy(col("change_type"), col("rid")))
  }
  val streamCdcSourceSql =
    """WITH odd AS (
      |  SELECT o_orderkey, o_totalprice,
      |         row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
      |  FROM orders WHERE o_orderkey % 2 = 1),
      |cnt AS (SELECT count(*) AS n FROM odd),
      |evn AS (
      |  SELECT o_orderkey, o_totalprice,
      |         (SELECT n FROM cnt) + row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |base AS (SELECT * FROM odd UNION ALL SELECT * FROM evn)
      |SELECT rid, o_orderkey, 'insert' AS change_type FROM base
      |UNION ALL
      |SELECT rid, o_orderkey, 'delete' FROM base WHERE o_orderkey % 7 = 3
      |UNION ALL
      |SELECT rid, o_orderkey, 'update' FROM base
      |WHERE o_totalprice > 200000 AND NOT (o_orderkey % 7 = 3)
      |ORDER BY change_type, rid""".stripMargin

  /** J×dedup synthesis: INCREMENTAL DEDUP-INDEX MAINTENANCE driven by
    * the row-identity CDC feed — the end-to-end answer to "the corpus
    * changed; re-dedup only what changed". The corpus table takes a
    * DELETE (those docs' hashes must leave the index, so a re-crawl of
    * their text is new again), an UPDATE (the doc's OLD hash retires,
    * its new hash joins — a re-crawl of the old text is new again), and
    * an ingest batch; ONE pollLineageCdc batch then maintains the
    * (doc_id → hash) index without rescanning the corpus: deletes and
    * updates touch index rows by doc_id, inserts dedup against the
    * maintained hash set. Output = kept ingest doc_ids. At 100 TB the
    * work is ∝ |changes|, not |corpus| — the reason the CDC feed exists. */
  def dedupCdc(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val cat = s"gdcdc${sqlCatSeq.incrementAndGet()}"
    val whDir = Files.createTempDirectory("graft_dedupcdc").toString
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", whDir)
    val tab = new graft.catalog.HadoopCatalog(whDir, s)
      .createTable("db.corpus", Schema.fromSpark(docs.schema),
        properties = Map("format-version" -> "3"))
    tab.append(docs.filter(col("doc_id") % 3 =!= 0))
    val c0 = tab.refresh().metadata.currentSnapshotId
    // corpus churn: a CoW DELETE (direct-commit path) + a content UPDATE
    s.sql(s"DELETE FROM $cat.db.corpus WHERE doc_id % 9 = 1")
    s.sql(s"UPDATE $cat.db.corpus SET text = concat(text, ' v2') WHERE doc_id % 9 = 2")
    // the ingest batch: new docs, re-crawls of live docs (dups), and
    // re-crawls of the deleted/pre-update texts (new again)
    tab.refresh().append(
      docs.filter(col("doc_id") % 3 === 0).unionByName(
        docs.filter(col("doc_id") % 9 === 4)
          .withColumn("doc_id", col("doc_id") + 1000000)).unionByName(
        docs.filter(col("doc_id") % 9 === 1)
          .withColumn("doc_id", col("doc_id") + 2000000)).unionByName(
        docs.filter(col("doc_id") % 9 === 2)
          .withColumn("doc_id", col("doc_id") + 3000000)))
    val rel = tab.refresh()
    val (changes0, _) = graft.streaming.TableChanges.pollLineageCdc(rel, c0)
    val changes = DataOps.trackCache(changes0.persist()) // referenced 3x
    val h = md5(col("text").cast("binary"))
    val idx0 = rel.scan.useSnapshot(c0.get).toDF
      .select(col("doc_id"), h.as("h"))
    val dels = changes.filter(col("_change_type") === "delete").select(col("doc_id"))
    val upds = changes.filter(col("_change_type") === "update")
      .select(col("doc_id"), h.as("h"))
    val ins = changes.filter(col("_change_type") === "insert")
      .select(col("doc_id"), h.as("h"))
    // maintain by doc_id: drop deleted and pre-update rows, add updated
    val idx1 = idx0
      .join(dels.unionByName(upds.select(col("doc_id"))), Seq("doc_id"), "left_anti")
      .unionByName(upds)
    nonEmpty(ins.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .join(idx1.select(col("h")), Seq("h"), "left_anti")
      .select(col("doc_id"))
      .orderBy(col("doc_id")))
  }
  val dedupCdcSql =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
      |idx1 AS (
      |  SELECT md5(text) AS h FROM corpus WHERE doc_id % 9 NOT IN (1, 2)
      |  UNION ALL
      |  SELECT md5(text || ' v2') FROM corpus WHERE doc_id % 9 = 2),
      |ins AS (
      |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, md5(text) FROM documents WHERE doc_id % 9 = 4
      |  UNION ALL
      |  SELECT doc_id + 2000000, md5(text) FROM documents WHERE doc_id % 9 = 1
      |  UNION ALL
      |  SELECT doc_id + 3000000, md5(text) FROM documents WHERE doc_id % 9 = 2)
      |SELECT doc_id FROM (
      |  SELECT h, min(doc_id) AS doc_id FROM ins GROUP BY h)
      |WHERE h NOT IN (SELECT h FROM idx1)
      |ORDER BY doc_id""".stripMargin

  /** J×near-dup synthesis: INCREMENTAL NEAR-DUP (MinHash-LSH) INDEX
    * MAINTENANCE from the CDC feed — the near-dup answer to "the corpus
    * changed; re-near-dedup only what changed". The maintained index is
    * (doc_id, shingle-hash set, 128-perm minhash signature); ONE
    * pollLineageCdc batch retires deleted/updated docs' rows by doc_id
    * and adds the re-signed updated rows — maintenance ∝ |changes|,
    * and since r13 the feed itself is file-pruned too. The ingest batch
    * probes 64 two-row LSH bands against the index (catch probability
    * 1-(1-j²)^64) and exact-rescores candidates by shingle Jaccard
    * ≥ 0.5; kept = ingest docs near-dup of NO live corpus doc.
    *
    * Semantic contrast with the exact-hash `ds_dedup_cdc`: a re-crawl of
    * a PRE-UPDATE text is still NEAR the updated content (the update
    * appended one token), so it is DROPPED here where the exact variant
    * keeps it — the reason near-dup maintenance exists.
    *
    * At 100 TB the index is a maintained table bucketed by band keys;
    * only the ingest side and the changed rows shuffle. The oracle is
    * the naive quadratic shingle-Jaccard of the same ingest against the
    * churned corpus (LSH is a recall-~1 prefilter — same convention as
    * `ds_dedup_minhash_lsh`, whose oracle is the exact pairwise join). */
  /** J×decontamination synthesis: INCREMENTAL DECONTAMINATION from the
    * row-identity CDC feed — "the eval set AND the corpus changed;
    * re-screen only what changed". One v3 table holds both corpora
    * (eval docs: doc_id % 7 == 0); the maintained state is the
    * per-eval-doc gram index (eval-sized — benchmarks are ~10⁵ docs) and
    * the contamination hit index (doc_id, gram — contamination is rare,
    * so hit-pair-sized). ONE pollLineageCdc batch then:
    *  - retires eval docs' grams (delete + pre-update rows by doc_id)
    *    and adds the new ones (insert + post-update rows); grams whose
    *    eval support drops to ZERO retire their hits by gram (touches
    *    only the hit index), and grams NEWLY in the eval set re-screen
    *    the standing corpus behind a Bloom prefilter of exactly those
    *    grams (map-side drop — only affected corpus grams shuffle);
    *  - screens the corpus INGEST batch (insert rows) against a Bloom of
    *    the full updated eval gram set — only the batch, never the
    *    standing corpus.
    * Output = per-doc shared-gram counts of the final corpus vs the
    * final eval set; the oracle recomputes that FROM SCRATCH in DuckDB,
    * so the gate proves the incremental maintenance equals a full
    * re-run. Bloom prefilters are lossless (no false negatives) ahead of
    * exact gram equi-joins; work ∝ |churn| + |ingest|. */
  def decontaminateCdc(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.BloomFunctions
    import s.implicits._
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val cat = s"gdecdc${sqlCatSeq.incrementAndGet()}"
    val whDir = Files.createTempDirectory("graft_decontcdc").toString
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", whDir)
    val tab = new graft.catalog.HadoopCatalog(whDir, s)
      .createTable("db.docs", Schema.fromSpark(docs.schema),
        properties = Map("format-version" -> "3"))
    // t0: the eval set (minus a held-out slice) + the standing corpus
    tab.append(docs.filter(col("doc_id") % 7 === 0 && col("doc_id") % 5 =!= 4)
      .unionByName(docs.filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 3 =!= 0)))
    val c0 = tab.refresh().metadata.currentSnapshotId
    // eval churn: one benchmark retired, one revised; then one commit
    // adds the held-out benchmarks AND the corpus ingest batch
    s.sql(s"DELETE FROM $cat.db.docs WHERE doc_id % 7 = 0 AND doc_id % 5 = 0")
    s.sql(s"UPDATE $cat.db.docs SET text = concat(text, ' v2') " +
      "WHERE doc_id % 7 = 0 AND doc_id % 5 = 1")
    tab.refresh().append(
      docs.filter(col("doc_id") % 7 === 0 && col("doc_id") % 5 === 4)
        .unionByName(docs.filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 3 === 0)))
    val rel = tab.refresh()
    def grams(d: DataFrame): DataFrame = d
      .select(col("doc_id"),
        filter(split(lower(trim(col("text"))), "\\s+"), w => w =!= "").as("w"))
      .filter(size(col("w")) >= 4)
      .select(col("doc_id"),
        explode(array_distinct(transform(sequence(lit(1), size(col("w")) - 3),
          i => concat_ws(" ", slice(col("w"), i, lit(4)))))).as("g"))
    val isEval = col("doc_id") % 7 === 0
    val (changes0, _) = graft.streaming.TableChanges.pollLineageCdc(rel, c0)
    val changes = DataOps.trackCache(changes0.persist())
    // ---- maintained state as of the cursor (conceptually persisted) ----
    val t0df = rel.scan.useSnapshot(c0.get).toDF
    val evalDocGrams0 = DataOps.trackCache(grams(t0df.filter(isEval)).persist())
    val corpusGrams0 = DataOps.trackCache(grams(t0df.filter(col("doc_id") % 7 =!= 0)).persist())
    val hits0 = corpusGrams0.join(
      evalDocGrams0.select(col("g")).distinct(), Seq("g"))
    // ---- eval-side maintenance: gram support as a set diff ----
    val evalChanges = changes.filter(isEval)
    val retiredDocs = evalChanges
      .filter(col("_change_type").isin("delete", "update")).select(col("doc_id"))
    val addedGrams = grams(evalChanges
      .filter(col("_change_type").isin("insert", "update"))
      .select(col("doc_id"), col("text")))
    val evalDocGrams1 = evalDocGrams0
      .join(retiredDocs, Seq("doc_id"), "left_anti").unionByName(addedGrams)
    val g0 = evalDocGrams0.select(col("g")).distinct()
    val g1 = DataOps.trackCache(evalDocGrams1.select(col("g")).distinct().persist())
    val deadGrams = g0.except(g1)
    val newGrams = DataOps.trackCache(g1.except(g0).persist())
    val nNew = newGrams.count()
    val newHits =
      if (nNew == 0) hits0.limit(0)
      else {
        val bloomNew = BloomFunctions.buildBloom(
          newGrams.select(col("g")).as[String], nNew, 0.01)
        corpusGrams0
          .filter(BloomFunctions.bloom_might_contain(col("g"), bloomNew))
          .join(newGrams, Seq("g"))
      }
    // the ingest batch screens against the UPDATED eval gram set
    val ingestGrams = grams(changes
      .filter(col("doc_id") % 7 =!= 0 && col("_change_type") === "insert")
      .select(col("doc_id"), col("text")))
    val bloom1 = BloomFunctions.buildBloom(
      g1.select(col("g")).as[String], math.max(1L, g1.count()), 0.01)
    val ingestHits = ingestGrams
      .filter(BloomFunctions.bloom_might_contain(col("g"), bloom1))
      .join(g1, Seq("g"))
    val idx1 = hits0.join(deadGrams, Seq("g"), "left_anti")
      .unionByName(newHits).unionByName(ingestHits)
    nonEmpty(idx1.groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_shared"))
      .orderBy(col("doc_id")))
  }
  /** Oracle = the from-scratch screen of the FINAL corpus against the
    * FINAL eval set — the incremental path must equal a full re-run. */
  val decontaminateCdcSql =
    """WITH eval1 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 1 THEN text || ' v2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 5 <> 0),
      |toke AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS w
      |  FROM eval1),
      |ge AS (
      |  SELECT DISTINCT unnest(list_distinct(list_transform(
      |    generate_series(1, len(w) - 3),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS g
      |  FROM toke WHERE len(w) >= 4),
      |tokc AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS w
      |  FROM documents WHERE doc_id % 7 <> 0),
      |gc AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(w) - 3),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS g
      |  FROM tokc WHERE len(w) >= 4)
      |SELECT c.doc_id, count(DISTINCT c.g) AS n_shared
      |FROM gc c JOIN ge e ON c.g = e.g
      |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  def dedupCdcLsh(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val cat = s"gdclsh${sqlCatSeq.incrementAndGet()}"
    val whDir = Files.createTempDirectory("graft_dedupcdclsh").toString
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", whDir)
    val tab = new graft.catalog.HadoopCatalog(whDir, s)
      .createTable("db.corpus", Schema.fromSpark(docs.schema),
        properties = Map("format-version" -> "3"))
    tab.append(docs.filter(col("doc_id") % 3 =!= 0))
    val c0 = tab.refresh().metadata.currentSnapshotId
    s.sql(s"DELETE FROM $cat.db.corpus WHERE doc_id % 9 = 1")
    s.sql(s"UPDATE $cat.db.corpus SET text = concat(text, ' v2') WHERE doc_id % 9 = 2")
    // ingest: new docs; near-miss re-crawls of live docs (one appended
    // token → J=(n-2)/(n-1) ≥ 0.5); verbatim re-crawls of DELETED docs
    // (content left the corpus); re-crawls of PRE-UPDATE texts
    tab.refresh().append(
      docs.filter(col("doc_id") % 3 === 0).unionByName(
        docs.filter(col("doc_id") % 9 === 4)
          .withColumn("doc_id", col("doc_id") + 1000000)
          .withColumn("text", concat(col("text"), lit(" almost")))).unionByName(
        docs.filter(col("doc_id") % 9 === 1)
          .withColumn("doc_id", col("doc_id") + 2000000)).unionByName(
        docs.filter(col("doc_id") % 9 === 2)
          .withColumn("doc_id", col("doc_id") + 3000000)))
    val rel = tab.refresh()
    def signed(d: DataFrame): DataFrame = d
      .select(col("doc_id"), TextFunctions.shingle_hashes3(col("text")).as("ws"))
      .select(col("doc_id"), col("ws"),
        TextFunctions.minhash_of_hashes(col("ws"), 128).as("sig"))
    val (changes0, _) = graft.streaming.TableChanges.pollLineageCdc(rel, c0)
    val changes = DataOps.trackCache(changes0.persist()) // referenced 3x
    val idx0 = signed(rel.scan.useSnapshot(c0.get).toDF)
    // maintenance ∝ |changes|: retire deleted + pre-update rows by
    // doc_id, add the re-signed updated rows
    val retired = changes.filter(col("_change_type").isin("delete", "update"))
      .select(col("doc_id"))
    val upds = signed(changes.filter(col("_change_type") === "update")
      .select(col("doc_id"), col("text")))
    // idx1's lineage re-signs the CORPUS (128-perm minhash) and is
    // referenced twice (band join, exact rescore); ins three times —
    // persist both so the signing pass runs once
    val idx1 = DataOps.trackCache(
      idx0.join(retired, Seq("doc_id"), "left_anti").unionByName(upds)
        .persist())
    val ins = DataOps.trackCache(signed(
      changes.filter(col("_change_type") === "insert")
        .select(col("doc_id"), col("text"))).persist())
    def bandRows(d: DataFrame): DataFrame = d.select(col("doc_id"),
      explode(transform(sequence(lit(0), lit(63)), b => struct(b.as("band"),
        element_at(col("sig"), b * 2 + 1).as("h1"),
        element_at(col("sig"), b * 2 + 2).as("h2")))).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.h1").as("h1"), col("bk.h2").as("h2"))
    val cands = bandRows(ins).select(col("doc_id").as("i_id"),
        col("band"), col("h1"), col("h2"))
      .join(bandRows(idx1).select(col("doc_id").as("c_id"),
        col("band"), col("h1"), col("h2")), Seq("band", "h1", "h2"))
      .select(col("i_id"), col("c_id"))
      .distinct()
    val matched = cands
      .join(ins.select(col("doc_id").as("i_id"), col("ws").as("i_ws")), Seq("i_id"))
      .join(idx1.select(col("doc_id").as("c_id"), col("ws").as("c_ws")), Seq("c_id"))
      .filter(DataOps.jaccardHashes(col("i_ws"), col("c_ws")) >= 0.5)
      .select(col("i_id").as("doc_id")).distinct()
    nonEmpty(ins.select(col("doc_id"))
      .join(matched, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id")))
  }
  val dedupCdcLshSql =
    s"""WITH corpus0 AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
      |corpus1 AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 9 = 2 THEN text || ' v2' ELSE text END AS text
      |  FROM corpus0 WHERE doc_id % 9 <> 1),
      |ins AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, text || ' almost' FROM documents WHERE doc_id % 9 = 4
      |  UNION ALL
      |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 9 = 1
      |  UNION ALL
      |  SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 9 = 2),
      |ti AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS w
      |  FROM ins),
      |si AS (SELECT doc_id, ${DataOps.shingleSetSql} AS s FROM ti),
      |tc AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS w
      |  FROM corpus1),
      |sc AS (SELECT doc_id, ${DataOps.shingleSetSql} AS s FROM tc),
      |matched AS (
      |  SELECT DISTINCT i.doc_id FROM si i JOIN sc c
      |  ON CAST(len(list_intersect(i.s, c.s)) AS DOUBLE) /
      |     CAST(len(list_distinct(list_concat(i.s, c.s))) AS DOUBLE) >= 0.5)
      |SELECT doc_id FROM ins
      |WHERE doc_id NOT IN (SELECT doc_id FROM matched)
      |ORDER BY doc_id""".stripMargin

  /** J×ANN synthesis: INCREMENTAL IVF-INDEX MAINTENANCE from the
    * row-identity CDC feed — completing the CDC-composition family
    * (exact dedup, MinHash-LSH near-dup, decontamination, and now
    * similarity search): "the embedding corpus changed; re-index only
    * what changed". The maintained state is the IVF posting table
    * (cent_id, vec_id, embedding) under FIXED coarse centroids
    * (embeddings 0..15 — deterministic, no training step, same codebook
    * as `ds_ann_ivf_topk`). The corpus table takes a CoW DELETE (those
    * postings must leave the index), an embedding UPDATE (negation —
    * exact in float, moves the vector to a different cell: its OLD
    * posting retires, the new one enters the new cell), and an ingest
    * append; ONE pollLineageCdc batch then maintains the index without
    * rescanning the corpus — only the changed rows re-assign against
    * the broadcast centroids. Search is the usual probe: the query's 4
    * nearest cells, exact cosine rescore, top-10.
    *
    * At 100 TB the posting table is a maintained table bucketed by
    * cent_id; per-poll maintenance shuffles only churn rows (the feed
    * itself is file-pruned), and a probe reads ~4/16 of the postings.
    * The oracle re-derives the index FROM SCRATCH over the churned
    * corpus in DuckDB — the incremental path must equal a full
    * rebuild. */
  def annCdc(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Vectors
    val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val cat = s"ganncdc${sqlCatSeq.incrementAndGet()}"
    val whDir = Files.createTempDirectory("graft_anncdc").toString
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", whDir)
    val tab = new HadoopCatalog(whDir, s)
      .createTable("db.vecs", Schema.fromSpark(e.schema),
        properties = Map("format-version" -> "3"))
    tab.append(e.filter(col("vec_id") % 5 =!= 0))
    val c0 = tab.refresh().metadata.currentSnapshotId
    // corpus churn: retire ~1/9 of vectors, re-embed ~1/9 (negation flips
    // the cosine sign — the moved vector MUST change cells, so stale
    // postings would corrupt the search), ingest the held-out 1/5 under
    // fresh ids (vec 0's embedding enters as id 10000: the query's true
    // nearest neighbor exists only if ingest reached the index)
    s.sql(s"DELETE FROM $cat.db.vecs WHERE vec_id % 9 = 1")
    s.sql(s"UPDATE $cat.db.vecs SET embedding = transform(embedding, x -> -x) " +
      "WHERE vec_id % 9 = 2")
    tab.refresh().append(e.filter(col("vec_id") % 5 === 0)
      .withColumn("vec_id", col("vec_id") + 10000))
    val rel = tab.refresh()
    val (changes0, _) = graft.streaming.TableChanges.pollLineageCdc(rel, c0)
    val changes = DataOps.trackCache(changes0.persist()) // referenced 2x
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_v"))
    def assign(d: DataFrame): DataFrame = d.crossJoin(broadcast(cents))
      .withColumn("cs", Vectors.cosine(col("embedding"), col("cent_v")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
          .orderBy(col("cs").desc, col("cent_id"))))
      .filter(col("rn") === 1)
      .select(col("cent_id"), col("vec_id"), col("embedding"))
    val idx0 = assign(rel.scan.useSnapshot(c0.get).toDF)
    // maintenance ∝ |changes|: deleted + pre-update postings retire by
    // vec_id; only updated + ingested rows re-assign (broadcast argmax)
    val retired = changes.filter(col("_change_type").isin("delete", "update"))
      .select(col("vec_id"))
    val entered = assign(changes
      .filter(col("_change_type").isin("update", "insert"))
      .select(col("vec_id"), col("embedding")))
    val idx1 = idx0.join(retired, Seq("vec_id"), "left_anti").unionByName(entered)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_v"))
    val probe = cents.crossJoin(broadcast(q))
      .withColumn("cs", Vectors.cosine(col("cent_v"), col("q_v")))
      .orderBy(col("cs").desc, col("cent_id")).limit(4)
      .select(col("cent_id"))
    nonEmpty(idx1.join(broadcast(probe), Seq("cent_id"))
      .crossJoin(broadcast(q))
      .withColumn("cos", Vectors.cosine(col("embedding"), col("q_v")))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
      .select(col("vec_id")))
  }
  /** Oracle = from-scratch IVF over the churned corpus: the maintained
    * index must search identically to a full rebuild. */
  val annCdcSql =
    """WITH live AS (
      |  SELECT vec_id,
      |    CASE WHEN vec_id % 9 = 2 THEN list_transform(embedding, x -> -x)
      |         ELSE embedding END AS embedding
      |  FROM embeddings WHERE vec_id % 5 <> 0 AND vec_id % 9 <> 1
      |  UNION ALL
      |  SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id % 5 = 0),
      |cents AS (
      |  SELECT vec_id AS cent_id, embedding AS cent_v FROM embeddings WHERE vec_id < 16),
      |scored AS (
      |  SELECT e.vec_id, e.embedding, c.cent_id,
      |         row_number() OVER (PARTITION BY e.vec_id
      |           ORDER BY list_cosine_similarity(e.embedding, c.cent_v) DESC, c.cent_id) AS rn
      |  FROM live e CROSS JOIN cents c),
      |assign AS (SELECT vec_id, embedding, cent_id FROM scored WHERE rn = 1),
      |q AS (SELECT embedding AS q_v FROM embeddings WHERE vec_id = 0),
      |probe AS (
      |  SELECT cent_id FROM cents, q
      |  ORDER BY list_cosine_similarity(cent_v, q_v) DESC, cent_id LIMIT 4)
      |SELECT a.vec_id
      |FROM assign a JOIN probe USING (cent_id), q
      |ORDER BY list_cosine_similarity(a.embedding, q.q_v) DESC, a.vec_id
      |LIMIT 10""".stripMargin

  /** J×IR synthesis: INCREMENTAL TF-IDF / DF-STATS MAINTENANCE from the
    * row-identity CDC feed — the IR-statistics answer to "the corpus
    * changed; re-score only what changed". The maintained state is the
    * (doc_id, term, tf) posting table plus the (term, df)
    * document-frequency stats and the corpus size N. ONE pollLineageCdc
    * batch maintains all three without rescanning the corpus: deleted
    * and pre-update docs' postings retire BY doc_id, and their df
    * decrements derive from the MAINTAINED postings themselves (no
    * re-read of the old text); inserted/updated docs tokenize only the
    * churn rows; the df stats absorb the churn-sized ±1 deltas in one
    * merge. Output = top-3 TF-IDF keywords (score = tf·N/df, the
    * exactly-representable idf variant of `ds_tfidf_topk`) for the
    * CHANGED docs only — serving is churn-proportional too, while every
    * score embeds the maintained GLOBAL stats (N and df), so the
    * oracle's from-scratch recomputation over the churned corpus proves
    * the incremental stats exact.
    *
    * At 100 TB postings and df are maintained tables bucketed by term;
    * a poll shuffles only churn postings plus the delta merge (MERGE
    * INTO df USING delta), and nothing global recomputes. */
  def tfidfCdc(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val cat = s"gtfcdc${sqlCatSeq.incrementAndGet()}"
    val whDir = Files.createTempDirectory("graft_tfidfcdc").toString
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", whDir)
    val tab = new HadoopCatalog(whDir, s)
      .createTable("db.corpus", Schema.fromSpark(docs.schema),
        properties = Map("format-version" -> "3"))
    tab.append(docs.filter(col("doc_id") % 3 =!= 0))
    val c0 = tab.refresh().metadata.currentSnapshotId
    s.sql(s"DELETE FROM $cat.db.corpus WHERE doc_id % 9 = 1")
    s.sql(s"UPDATE $cat.db.corpus SET text = concat(text, ' v2') WHERE doc_id % 9 = 2")
    tab.refresh().append(docs.filter(col("doc_id") % 3 === 0))
    val rel = tab.refresh()
    val (changes0, _) = graft.streaming.TableChanges.pollLineageCdc(rel, c0)
    val changes = DataOps.trackCache(changes0.persist())
    def postings(d: DataFrame): DataFrame = d
      .select(col("doc_id"),
        explode(filter(split(lower(trim(col("text"))), "\\s+"), w => w =!= "")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // ---- maintained state as of the cursor (conceptually persisted) ----
    val post0 = DataOps.trackCache(
      postings(rel.scan.useSnapshot(c0.get).toDF).persist())
    val df0 = post0.groupBy("term").agg(count(lit(1)).as("df"))
    val n0 = rel.scan.useSnapshot(c0.get).count()
    // ---- maintenance ∝ |changes| ----
    val retiredDocs = changes
      .filter(col("_change_type").isin("delete", "update")).select(col("doc_id"))
    val addedPost = DataOps.trackCache(postings(changes
      .filter(col("_change_type").isin("insert", "update"))
      .select(col("doc_id"), col("text"))).persist())
    // retired (doc, term) pairs come from the maintained postings — the
    // pre-image text is never re-read
    val retiredPost = post0.join(retiredDocs, Seq("doc_id"), "left_semi")
    val dfDelta = addedPost.select(col("term"), lit(1L).as("d"))
      .unionByName(retiredPost.select(col("term"), lit(-1L).as("d")))
      .groupBy("term").agg(sum(col("d")).as("d"))
    val df1 = df0.join(dfDelta, Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("df"), lit(0L)) + coalesce(col("d"), lit(0L))).as("df"))
      .filter(col("df") > 0)
    val n1 = n0 - changes.filter(col("_change_type") === "delete").count() +
      changes.filter(col("_change_type") === "insert").count()
    // ---- serving: changed docs only, under the maintained global stats
    val scored = addedPost.join(df1, Seq("term"))
      .withColumn("score", (col("tf") * n1).cast("double") / col("df").cast("double"))
    nonEmpty(scored
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term"))))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("term"), col("score"), col("rk"))
      .orderBy(col("doc_id"), col("rk")))
  }
  /** Oracle = from-scratch TF-IDF over the CHURNED corpus, filtered to
    * the changed docs — the incrementally-maintained N/df must score
    * identically to a full rebuild. */
  val tfidfCdcSql =
    """WITH corpus1 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 9 = 2 THEN text || ' v2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 9 <> 1
      |  UNION ALL
      |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
      |changed AS (
      |  SELECT doc_id FROM documents
      |  WHERE doc_id % 3 = 0 OR (doc_id % 3 <> 0 AND doc_id % 9 = 2)),
      |words AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')) AS term
      |  FROM corpus1),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY doc_id, term),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(*) AS n FROM corpus1),
      |scored AS (
      |  SELECT doc_id, term, CAST(tf * n AS DOUBLE) / CAST(df AS DOUBLE) AS score
      |  FROM tf JOIN df USING (term) CROSS JOIN n
      |  WHERE doc_id IN (SELECT doc_id FROM changed)),
      |r AS (SELECT doc_id, term, score,
      |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
      |      FROM scored)
      |SELECT doc_id, term, score, rk FROM r WHERE rk <= 3
      |ORDER BY doc_id, rk""".stripMargin

  /** J×curation synthesis: INCREMENTAL GROUP-WINNER (argmax) MAINTENANCE
    * from the row-identity CDC feed — the survivorship answer to "the
    * corpus changed; re-elect dedup winners only for affected groups".
    * The curation pipeline's URL-dedup stage (`ds_pipeline_curate`) keeps
    * one winner per canonical url (highest n_chars, ties to lowest
    * doc_id); its maintained state is the GATED-candidate index
    * (doc_id, url, k) — quality/language gates applied, k the packed
    * election key. ONE pollLineageCdc batch maintains it without
    * rescanning the corpus:
    *  - deleted + pre-update docs retire index rows BY doc_id (a deleted
    *    WINNER's runner-up gets promoted — the case that forces groups
    *    to re-elect rather than diff row sets);
    *  - updated/inserted docs re-gate only the churn rows (a boosted
    *    update can newly ENTER the index or seize a win; a demoted one
    *    retires with no add);
    *  - winners re-elect ONLY for urls touched by the churn (retired
    *    rows' urls looked up in the index by doc_id, plus added rows'
    *    urls) — an index lookup keyed by url, never a corpus groupBy.
    * Output = the final (url, winner doc_id, n_chars) for affected urls;
    * the oracle recomputes those winners FROM SCRATCH over the churned
    * corpus, proving the incremental election equals a full re-run. At
    * 100 TB the index is a maintained table bucketed by url: a poll
    * shuffles churn-sized retire/add sets and re-aggregates only the
    * affected url buckets' candidates. */
  def curateCdc(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val cat = s"gcur${sqlCatSeq.incrementAndGet()}"
    val whDir = Files.createTempDirectory("graft_curatecdc").toString
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", whDir)
    val tab = new HadoopCatalog(whDir, s)
      .createTable("db.corpus", Schema.fromSpark(docs.schema),
        properties = Map("format-version" -> "3"))
    tab.append(docs.filter(col("doc_id") % 3 =!= 0))
    val c0 = tab.refresh().metadata.currentSnapshotId
    // churn: winners die (DELETE), docs get BOOSTED past the gate / into
    // wins (+500), docs get DEMOTED out of the gate (0), urls contested
    // by a fresh ingest
    s.sql(s"DELETE FROM $cat.db.corpus WHERE doc_id % 9 = 1")
    s.sql(s"UPDATE $cat.db.corpus SET n_chars = n_chars + 500 WHERE doc_id % 9 = 2")
    s.sql(s"UPDATE $cat.db.corpus SET n_chars = 0 WHERE doc_id % 9 = 4")
    tab.refresh().append(docs.filter(col("doc_id") % 3 === 0))
    val rel = tab.refresh()
    val (changes0, _) = graft.streaming.TableChanges.pollLineageCdc(rel, c0)
    val changes = DataOps.trackCache(changes0.persist())
    // same gate + canonicalizer + election key as ds_pipeline_curate
    def gated(d: DataFrame): DataFrame = {
      val raw = concat(
        when(col("doc_id") % 3 === 0, lit("HTTPS://WWW.")).otherwise(lit("http://")),
        col("source"), lit(".example.com/page/"),
        (col("doc_id") % 200).cast("string"),
        when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("?utm_source=feed&ref=abc")).otherwise(lit("")))
      val canon = regexp_replace(regexp_replace(regexp_replace(
        lower(raw), "^https?://(www\\.)?", ""), "[?#].*$", ""), "/+$", "")
      d.filter(col("lang").isin("en", "de", "fr") && col("n_chars") >= 100)
        .select(col("doc_id"), canon.as("url"),
          (col("n_chars") * 10000000L + (lit(9999999L) - col("doc_id"))).as("k"))
    }
    // ---- maintained state as of the cursor (conceptually persisted) ----
    val idx0 = DataOps.trackCache(
      gated(rel.scan.useSnapshot(c0.get).toDF).persist())
    // ---- maintenance ∝ |changes| ----
    val retired = changes
      .filter(col("_change_type").isin("delete", "update")).select(col("doc_id"))
    val added = DataOps.trackCache(gated(changes
      .filter(col("_change_type").isin("insert", "update"))
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))).persist())
    val idx1 = idx0.join(retired, Seq("doc_id"), "left_anti").unionByName(added)
    // affected groups: urls of retired index rows (an index lookup by
    // doc_id) plus urls of added candidates — churn-sized
    val affected = idx0.join(retired, Seq("doc_id"), "left_semi").select(col("url"))
      .unionByName(added.select(col("url"))).distinct()
    // re-elect only those groups; a url whose last candidate retired
    // simply has no row (the curated replica deletes it)
    val winners = idx1.join(affected, Seq("url"), "left_semi")
      .groupBy(col("url")).agg(max(col("k")).as("mk"))
    nonEmpty(winners.select(col("url"),
        (lit(9999999L) - pmod(col("mk"), lit(10000000L))).as("doc_id"),
        expr("mk div 10000000").as("n_chars"))
      .orderBy(col("url")))
  }
  /** Oracle = from-scratch gate + url-dedup election over the CHURNED
    * corpus, filtered to the urls the churn touched. */
  val curateCdcSql =
    """WITH corpus1 AS (
      |  SELECT doc_id, source, lang,
      |    CASE WHEN doc_id % 9 = 2 THEN n_chars + 500
      |         WHEN doc_id % 9 = 4 THEN 0 ELSE n_chars END AS n_chars
      |  FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 9 <> 1
      |  UNION ALL
      |  SELECT doc_id, source, lang, n_chars FROM documents WHERE doc_id % 3 = 0),
      |u AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(regexp_replace(lower(
      |      (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.' ELSE 'http://' END) ||
      |      source || '.example.com/page/' || CAST(doc_id % 200 AS VARCHAR) ||
      |      (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) ||
      |      (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&ref=abc' ELSE '' END)),
      |      '^https?://(www\.)?', ''), '[?#].*$', ''), '/+$', '') AS url,
      |    n_chars * 10000000 + (9999999 - doc_id) AS k
      |  FROM corpus1
      |  WHERE lang IN ('en','de','fr') AND n_chars >= 100),
      |idx0 AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(regexp_replace(lower(
      |      'http://' ||
      |      source || '.example.com/page/' || CAST(doc_id % 200 AS VARCHAR) ||
      |      (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) ||
      |      (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&ref=abc' ELSE '' END)),
      |      '^https?://(www\.)?', ''), '[?#].*$', ''), '/+$', '') AS url
      |  FROM documents
      |  WHERE doc_id % 3 <> 0 AND lang IN ('en','de','fr') AND n_chars >= 100),
      |affected AS (
      |  SELECT DISTINCT url FROM idx0 WHERE doc_id % 9 IN (1, 2, 4)
      |  UNION
      |  SELECT DISTINCT url FROM u WHERE doc_id % 3 = 0 OR doc_id % 9 = 2),
      |w AS (
      |  SELECT url, max(k) AS mk FROM u
      |  WHERE url IN (SELECT url FROM affected) GROUP BY url)
      |SELECT url, 9999999 - (mk % 10000000) AS doc_id, mk // 10000000 AS n_chars
      |FROM w ORDER BY url""".stripMargin

  /** GENERIC INCREMENTAL VIEW MAINTENANCE (r14): a declarative
    * `GROUP BY (source, lang)` aggregate view — count / sum / avg /
    * min / max over the documents corpus — maintained from ONE
    * v2-compatible changelog batch by `graft.ops.IncrementalAgg`, the
    * engine that unifies the per-use-case incremental operators
    * (curation argmax, TF-IDF stats, ANN postings) into textbook IVM:
    * the changelog's delete rows carry PRE-IMAGES, so count/sum/avg
    * absorb the batch as exact ± deltas with zero auxiliary state and
    * zero corpus reads; min/max tighten from insert extrema and
    * RE-ELECT only for groups where a retired value could have held
    * the extremum — here via a table scan pushed an `In(source, …)`
    * predicate, so with the corpus partitioned by source the
    * re-election reads only the hole groups' partitions. The churn
    * exercises every maintenance shape: deletes that vacate extrema,
    * updates that raise values past maxima (insert-side tighten) and
    * sink them below minima (hole + re-elect), and an ingest append
    * that births groups. Output = the FULL maintained view; the oracle
    * recomputes it from scratch over the churned corpus, proving the
    * incremental state exact, not just the touched groups. Needs only
    * format v2 — row lineage not required on this face. */
  def mvIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val schema = Schema.fromSpark(docs.schema)
    val cat = s"gmv${sqlCatSeq.incrementAndGet()}"
    val whDir = Files.createTempDirectory("graft_mvcdc").toString
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", whDir)
    val tab = new HadoopCatalog(whDir, s)
      .createTable("db.corpus", schema,
        Spec.build(schema, 0, ("source", IdentityTransform, "src")),
        properties = Map("format-version" -> "2"))
    tab.append(docs.filter(col("doc_id") % 3 =!= 0))
    val c0 = tab.refresh().metadata.currentSnapshotId
    s.sql(s"DELETE FROM $cat.db.corpus WHERE doc_id % 9 = 1")
    // boosts and demotions in ONE CoW round (disjoint residues — same
    // semantics as two statements, one rewrite)
    s.sql(s"""UPDATE $cat.db.corpus SET n_chars = CASE
      |  WHEN doc_id % 9 = 2 THEN n_chars + 500 ELSE n_chars - 600 END
      |WHERE doc_id % 9 = 2 OR doc_id % 9 = 4""".stripMargin)
    tab.refresh().append(docs.filter(col("doc_id") % 3 === 0))
    val rel = tab.refresh()
    val view = graft.ops.IncrementalAgg.AggView(
      keys = Seq("source", "lang"), sums = Seq("n_chars"),
      mins = Seq("n_chars", "doc_id"), maxs = Seq("n_chars", "doc_id"))
    val state0 = graft.ops.IncrementalAgg.init(
      rel.scan.useSnapshot(c0.get).toDF, view)
    val batch = graft.streaming.TableChanges.changelog(rel, c0)
    val reElect: DataFrame => DataFrame = { keys =>
      // hole groups are churn-bounded: push their sources into the scan
      // (partition-pruned — only affected sources' files open), exact
      // group membership restored by the semi-join; past the cap, the
      // unpruned semi-join is still row-correct
      val cap = 1000
      val srcs = keys.select(col("source")).distinct()
        .limit(cap + 1).collect().map(_.getString(0)).toSeq
      val base =
        if (srcs.length > cap) rel.scan.toDF
        else rel.scan.filter(In("source", srcs)).toDF
      base.select(col("source"), col("lang"), col("n_chars"), col("doc_id"))
        .join(keys, Seq("source", "lang"), "left_semi")
    }
    val state1 = graft.ops.IncrementalAgg.applyChangelog(
      state0, batch, view, reElect)
    nonEmpty(state1.select(col("source"), col("lang"), col("cnt"),
        col("s_n_chars").as("sum_chars"),
        (col("s_n_chars").cast("double") / col("cnt")).as("avg_chars"),
        col("mn_n_chars").as("min_chars"), col("mx_n_chars").as("max_chars"),
        col("mn_doc_id").as("min_doc"), col("mx_doc_id").as("max_doc"))
      .orderBy(col("source"), col("lang")))
  }
  /** Oracle = the same view recomputed FROM SCRATCH over the churned
    * corpus. */
  val mvIncrementalSql =
    """WITH corpus1 AS (
      |  SELECT doc_id, source, lang,
      |    CASE WHEN doc_id % 9 = 2 THEN n_chars + 500
      |         WHEN doc_id % 9 = 4 THEN n_chars - 600 ELSE n_chars END AS n_chars
      |  FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 9 <> 1
      |  UNION ALL
      |  SELECT doc_id, source, lang, n_chars FROM documents WHERE doc_id % 3 = 0)
      |SELECT source, lang, count(*) AS cnt,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM corpus1 GROUP BY source, lang
      |ORDER BY source, lang""".stripMargin

  /** MATERIALIZED VIEW TABLE (r14): the persisted, exactly-once face of
    * generic IVM — `graft.streaming.MaterializedAgg` keeps the
    * aggregate view in its own Iceberg TABLE whose refresh cursor
    * (last source snapshot folded in) rides the same atomic commit as
    * the refreshed rows, so the MV is its own checkpoint (the replica
    * contract). Two churn rounds each fold in with ONE `refreshOnce`
    * call reading only that range's changelog and rewriting only the
    * touched groups' MV files; the oracle recomputes the final view
    * from scratch over the churned corpus. Same view and churn as
    * `ds_mv_incremental`, so the two gates cross-check: the in-memory
    * single-batch fold and the persisted two-refresh fold must land on
    * the identical aggregate. */
  def mvTable(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val cat = s"gmvt${sqlCatSeq.incrementAndGet()}"
    val whDir = Files.createTempDirectory("graft_mvtab").toString
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", whDir)
    val hc = new HadoopCatalog(whDir, s)
    // merge-on-read churn: deletes/updates land as position-delete masks,
    // so each refresh's changelog reads the REFERENCED rows, not a CoW
    // rewrite's full remove+add file pair — the cheaper feed shape the
    // MoR changelog branch serves (and the one a steady pipeline runs)
    val tab = hc.createTable("db.corpus", Schema.fromSpark(docs.schema),
      properties = Map("format-version" -> "2",
        "write.delete.mode" -> "merge-on-read",
        "write.update.mode" -> "merge-on-read"))
    tab.append(docs.filter(col("doc_id") % 3 =!= 0))
    val view = graft.ops.IncrementalAgg.AggView(
      keys = Seq("source", "lang"), sums = Seq("n_chars"),
      mins = Seq("n_chars", "doc_id"), maxs = Seq("n_chars", "doc_id"))
    val mv = hc.createTable("db.corpus_stats",
      graft.streaming.MaterializedAgg.schemaFor(view, tab),
      properties = Map("format-version" -> "2"))
    graft.streaming.MaterializedAgg.bootstrap(tab, mv, view)
    // round 1: deletes vacate extrema, boosts tighten maxima
    s.sql(s"DELETE FROM $cat.db.corpus WHERE doc_id % 9 = 1")
    s.sql(s"UPDATE $cat.db.corpus SET n_chars = n_chars + 500 WHERE doc_id % 9 = 2")
    graft.streaming.MaterializedAgg.refreshOnce(tab.refresh(), mv, view)
    // round 2: demotions sink minima, an ingest births groups
    s.sql(s"UPDATE $cat.db.corpus SET n_chars = n_chars - 600 WHERE doc_id % 9 = 4")
    tab.refresh().append(docs.filter(col("doc_id") % 3 === 0))
    graft.streaming.MaterializedAgg.refreshOnce(tab.refresh(), mv, view)
    nonEmpty(mv.refresh().scan.toDF.select(col("source"), col("lang"),
        col("cnt"), col("s_n_chars").as("sum_chars"),
        (col("s_n_chars").cast("double") / col("cnt")).as("avg_chars"),
        col("mn_n_chars").as("min_chars"), col("mx_n_chars").as("max_chars"),
        col("mn_doc_id").as("min_doc"), col("mx_doc_id").as("max_doc"))
      .orderBy(col("source"), col("lang")))
  }
  /** Oracle = identical to `ds_mv_incremental` — same churned corpus,
    * same view, recomputed from scratch. */
  val mvTableSql = mvIncrementalSql

  /** JOIN-VIEW IVM (r15): the delta-join tier —
    * `SELECT c_mktsegment, aggs FROM orders ⋈ customer GROUP BY 1`
    * maintained by `graft.ops.IncrementalJoinAgg` from the two tables'
    * changelog feeds via the classic delta rule
    * `Δ(F ⋈ D) = ΔF ⋈ D_old ∪ F_new ⋈ ΔD`, with the non-delta side of
    * each part PRUNED to the delta's join keys (a fact batch joins a
    * keyed dim read; a dim batch re-enriches only the facts referencing
    * churned customers) — never a corpus re-join. Two refresh rounds
    * exercise every delta shape: fact deletes that retract enriched
    * rows and vacate extrema, fact updates that raise values, dim
    * UPDATES that move every referencing order across groups, dim
    * DELETES that drop their orders from the view (inner-join
    * semantics), and a fact ingest APPEND folding through the second
    * round. The oracle recomputes the final join+aggregate from scratch
    * over both churned corpora. The reference has no IVM at all; at
    * 100 TB each refresh costs churn ⋈ pruned-other-side + a
    * churn-sized fold. */
  def mvJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.IncrementalAgg.AggView
    import graft.ops.IncrementalJoinAgg
    import graft.ops.IncrementalJoinAgg.JoinView
    val fact0 = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val dim0 = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val cat = s"gmvj${sqlCatSeq.incrementAndGet()}"
    val whDir = Files.createTempDirectory("graft_mvjoin").toString
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", whDir)
    val hc = new HadoopCatalog(whDir, s)
    // merge-on-read churn: the refresh changelogs read position-delete
    // masks instead of CoW remove+add file pairs (same rationale as
    // ice_mv_table — the cheaper feed shape a steady pipeline runs)
    val morProps = Map("format-version" -> "2",
      "write.delete.mode" -> "merge-on-read",
      "write.update.mode" -> "merge-on-read")
    val factTab = hc.createTable("db.orders", Schema.fromSpark(fact0.schema),
      properties = morProps)
    val dimTab = hc.createTable("db.customer", Schema.fromSpark(dim0.schema),
      properties = morProps)
    factTab.append(fact0.filter(col("o_orderkey") % 3 =!= 0))
    dimTab.append(dim0)
    val c0f = factTab.refresh().metadata.currentSnapshotId
    val c0d = dimTab.refresh().metadata.currentSnapshotId
    val jv = JoinView(factKeys = Seq("o_custkey"), dimKeys = Seq("c_custkey"),
      agg = AggView(keys = Seq("c_mktsegment"), sums = Seq("o_orderkey"),
        mins = Seq("o_totalprice"), maxs = Seq("o_totalprice")))
    val state0 = IncrementalJoinAgg.init(
      factTab.scan.useSnapshot(c0f.get).toDF,
      dimTab.scan.useSnapshot(c0d.get).toDF, jv)
    def applyRound(state: DataFrame, fCur: Option[Long], dCur: Option[Long])
        : (DataFrame, Option[Long], Option[Long]) = {
      val fRel = factTab.refresh(); val dRel = dimTab.refresh()
      val hF = fRel.metadata.currentSnapshotId
      val hD = dRel.metadata.currentSnapshotId
      val fb = Option.when(hF != fCur)(
        graft.streaming.TableChanges.changelog(fRel, fCur, hF))
      val db = Option.when(hD != dCur)(
        graft.streaming.TableChanges.changelog(dRel, dCur, hD))
      val st1 = IncrementalJoinAgg.applyChangelog(state, fb, db, jv,
        // ΔF enriches against the dim AT ITS CURSOR, pruned to the
        // delta's customer keys (a keyed semi-join — with the dim
        // clustered by pk this is the same file-pruned shape the spec
        // pins via pushed-In)
        dimAtCursor = keys => dimTab.scan.useSnapshot(dCur.get).toDF
          .join(keys, Seq("c_custkey"), "left_semi"),
        // ΔD re-enriches only the facts referencing churned customers,
        // read at the fact head this round folds to
        factAtHead = keys => factTab.scan.useSnapshot(hF.get).toDF
          .join(keys, Seq("o_custkey"), "left_semi"),
        // group-key membership pushed BELOW the join (exact — the group
        // key rides the dim row; see IncrementalJoinAgg.reElectRows): the
        // election joins only the hole segments' customers' orders
        // instead of re-materializing the full fact ⋈ dim relation
        reElect = keys => IncrementalJoinAgg.reElectRows(
          factTab.scan.useSnapshot(hF.get).toDF,
          dimTab.scan.useSnapshot(hD.get).toDF, jv, None, keys))
      (st1, hF, hD)
    }
    // round 1: fact deletes + price raises, dim segment moves + deaths
    s.sql(s"DELETE FROM $cat.db.orders WHERE o_orderkey % 9 = 1")
    s.sql(s"UPDATE $cat.db.orders SET o_totalprice = o_totalprice + 1000 " +
      "WHERE o_orderkey % 9 = 2")
    s.sql(s"UPDATE $cat.db.customer SET c_mktsegment = 'MACHINERY' " +
      "WHERE c_custkey % 7 = 3")
    s.sql(s"DELETE FROM $cat.db.customer WHERE c_custkey % 11 = 4")
    val (state1, h1f, h1d) = applyRound(state0, c0f, c0d)
    // round 2: a fact ingest append + another dim segment move
    factTab.refresh().append(fact0.filter(col("o_orderkey") % 3 === 0))
    s.sql(s"UPDATE $cat.db.customer SET c_mktsegment = 'BUILDING' " +
      "WHERE c_custkey % 7 = 5")
    val (state2, _, _) = applyRound(state1, h1f, h1d)
    nonEmpty(state2.select(col("c_mktsegment"), col("cnt"),
        col("s_o_orderkey").as("sum_key"),
        col("mn_o_totalprice").as("min_price"),
        col("mx_o_totalprice").as("max_price"))
      .orderBy(col("c_mktsegment")))
  }
  /** TOP-K-PER-GROUP IVM (r15): the rank tier — a materialized
    * `row_number() OVER (PARTITION BY g ORDER BY ord DESC, id) <= k`
    * view maintained from the changelog. The state invariant (state_g
    * is the exact top-k of base_g; a non-full group's state IS the
    * group) makes inserts and below-boundary deletes exact with one
    * (k·groups + churn)-sized window — only a FULL group losing a
    * top-k member re-elects, from a scan pruned to the hole groups:
    * the curation argmax generalized from k=1 to k. The churn kills
    * top rows (holes promoting unseen (k+1)-ths), boosts prices INTO
    * the top-k, and moves orders across groups; the oracle is DuckDB's
    * from-scratch window ranking. */
  def mvTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{IncrementalTopK, Joins}
    import graft.ops.IncrementalTopK.TopKView
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val cat = s"gmvtk${sqlCatSeq.incrementAndGet()}"
    val whDir = Files.createTempDirectory("graft_mvtopk").toString
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", whDir)
    val tkSchema = Schema.fromSpark(orders.schema)
    // partitioned by the GROUP KEY: hole re-election prunes to the hole
    // groups' partitions via a pushed In — the shape a 100 TB rank view
    // wants (group keys aligned with layout)
    val tab = new HadoopCatalog(whDir, s).createTable("db.orders",
      tkSchema,
      Spec.build(tkSchema, 0, ("o_orderpriority", IdentityTransform, "prio")),
      properties = Map("format-version" -> "2",
        "write.delete.mode" -> "merge-on-read",
        "write.update.mode" -> "merge-on-read"))
    tab.append(orders)
    val v = TopKView(keys = Seq("o_orderpriority"), ord = "o_totalprice",
      id = "o_orderkey", k = 3)
    val c0 = tab.refresh().metadata.currentSnapshotId
    var st = IncrementalTopK.init(tab.scan.useSnapshot(c0.get).toDF, v)
    var cur = c0
    def fold(): Unit = {
      val rel = tab.refresh()
      val head = rel.metadata.currentSnapshotId
      val fb = graft.streaming.TableChanges.changelog(rel, cur, head)
      st = IncrementalTopK.applyChangelog(st, fb, v,
        keys => { // hole groups ≤ the priority domain: push the In so
          // only their partitions' files open
          val prios = keys.select(col("o_orderpriority")).distinct()
            .collect().map(_.getString(0)).toSeq
          Joins.nullSafeSemi(rel.scan.useSnapshot(head.get)
            .filter(In("o_orderpriority", prios)).toDF, keys, v.keys)
        })
      cur = head
    }
    // round 1: kill a slice (incl. current top rows → holes) and boost
    // a slice INTO the top-k
    s.sql(s"DELETE FROM $cat.db.orders WHERE o_orderkey % 9 = 1")
    s.sql(s"UPDATE $cat.db.orders SET o_totalprice = o_totalprice + 100000 " +
      "WHERE o_orderkey % 9 = 2")
    fold()
    // round 2: move a slice across groups; kill another slice
    s.sql(s"UPDATE $cat.db.orders SET o_orderpriority = '9-SPECIAL' " +
      "WHERE o_orderkey % 9 = 3")
    s.sql(s"DELETE FROM $cat.db.orders WHERE o_orderkey % 9 = 4")
    fold()
    nonEmpty(st.select(col("o_orderpriority").as("prio"), col("o_orderkey"),
        col("o_totalprice").as("price"))
      .orderBy(col("prio"), col("o_orderkey")))
  }

  val mvTopKSql =
    """WITH fact1 AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 9 = 3 THEN '9-SPECIAL'
      |         ELSE o_orderpriority END AS o_orderpriority,
      |    CASE WHEN o_orderkey % 9 = 2 THEN o_totalprice + 100000
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 9 NOT IN (1, 4)),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
      |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM fact1)
      |SELECT o_orderpriority AS prio, o_orderkey, o_totalprice AS price
      |FROM ranked WHERE rn <= 3
      |ORDER BY 1, 2""".stripMargin

  /** EXACT COUNT(DISTINCT) IVM (r15): the two-level support-table tier
    * — distinct counts are not ±retractable (deleting one copy of a
    * duplicated value must NOT decrement), so `IncrementalDistinct`
    * maintains `GROUP BY (keys, value) COUNT(*)` as a support (itself a
    * plain retractable aggregate view) and derives `COUNT(DISTINCT)` as
    * the surviving non-null support rows per group — support-sized,
    * never corpus-sized. The churn collapses custkeys into a smaller
    * domain (duplicate retirements that must NOT move the count until
    * the last copy dies), moves orders across priority groups, and
    * retires whole slices; the oracle recomputes COUNT(DISTINCT) from
    * scratch. The reference has no IVM; at 100 TB the support is a
    * bucketed maintained table and each batch touches only its own
    * (group, value) pairs. */
  def mvDistinct(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.{IncrementalAgg, IncrementalDistinct}
    import graft.ops.IncrementalAgg.AggView
    import graft.ops.IncrementalDistinct.DistinctView
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
    val cat = s"gmvd${sqlCatSeq.incrementAndGet()}"
    val whDir = Files.createTempDirectory("graft_mvdist").toString
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", whDir)
    val tab = new HadoopCatalog(whDir, s).createTable("db.orders",
      Schema.fromSpark(orders.schema),
      properties = Map("format-version" -> "2",
        "write.delete.mode" -> "merge-on-read",
        "write.update.mode" -> "merge-on-read"))
    tab.append(orders)
    val gv = AggView(keys = Seq("o_orderpriority"))
    val dvw = DistinctView(keys = Seq("o_orderpriority"), col = "o_custkey")
    val c0 = tab.refresh().metadata.currentSnapshotId
    var st = IncrementalAgg.init(tab.scan.useSnapshot(c0.get).toDF, gv)
    var sup = IncrementalDistinct.initSupport(
      tab.scan.useSnapshot(c0.get).toDF, dvw)
    var cur = c0
    def fold(): Unit = {
      val rel = tab.refresh()
      val head = rel.metadata.currentSnapshotId
      // TWO folds (count view + distinct support) consume the same batch:
      // a lazy local checkpoint materializes the feed read once
      val fb = graft.streaming.TableChanges.changelog(rel, cur, head)
        .localCheckpoint(false)
      st = IncrementalAgg.applyChangelog(st, fb, gv,
        _ => sys.error("count-only view never re-elects"))
      sup = IncrementalDistinct.applySupport(sup, fb, dvw)
      cur = head
    }
    // round 1: retire a slice; collapse custkeys into a 50-wide domain
    // (duplicate births + retirements against surviving copies)
    s.sql(s"DELETE FROM $cat.db.orders WHERE o_orderkey % 9 = 1")
    s.sql(s"UPDATE $cat.db.orders SET o_custkey = o_custkey % 50 " +
      "WHERE o_orderkey % 9 = 2")
    fold()
    // round 2: move orders across priority groups; retire another slice
    s.sql(s"UPDATE $cat.db.orders SET o_orderpriority = '9-SPECIAL' " +
      "WHERE o_orderkey % 9 = 3")
    s.sql(s"DELETE FROM $cat.db.orders WHERE o_orderkey % 9 = 4")
    fold()
    nonEmpty(IncrementalDistinct.withDistinct(st, sup, dvw)
      .select(col("o_orderpriority").as("prio"), col("cnt"),
        col("cd_o_custkey").as("cd_custkey"))
      .orderBy(col("prio")))
  }

  val mvDistinctSql =
    """WITH fact1 AS (
      |  SELECT
      |    CASE WHEN o_orderkey % 9 = 3 THEN '9-SPECIAL'
      |         ELSE o_orderpriority END AS o_orderpriority,
      |    CASE WHEN o_orderkey % 9 = 2 THEN o_custkey % 50
      |         ELSE o_custkey END AS o_custkey
      |  FROM orders WHERE o_orderkey % 9 NOT IN (1, 4))
      |SELECT o_orderpriority AS prio, count(*) AS cnt,
      |  count(DISTINCT o_custkey) AS cd_custkey
      |FROM fact1 GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** LEFT-OUTER-JOIN IVM (r15): the pad-delta tier — a `fact ⟕ dim →
    * GROUP BY` view where unmatched facts survive as NULL-padded rows,
    * maintained incrementally. On top of the inner delta rule, churned
    * facts with no dim match at the cursor produce ±pads directly (an
    * anti-join against the already-pruned dim read), and dim presence
    * TRANSITIONS (per-pk batch net: +1 absent→present, −1
    * present→absent) repad exactly the referencing facts at head — one
    * churn-sized groupBy decides, never a corpus read. The churn here
    * exercises all pad shapes: the dim starts MISSING 20% of customers
    * (their orders pad under the NULL segment), a dim delete repads its
    * orders, and a later ingest of the missing customers UNPADS them
    * into real groups. The oracle recomputes the final LEFT JOIN from
    * scratch; the reference has no IVM at all. */
  def mvLeftJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.IncrementalAgg.AggView
    import graft.ops.{IncrementalJoinAgg, Joins}
    import graft.ops.IncrementalJoinAgg.JoinView
    val fact0 = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val dimFull = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val dim0 = dimFull.filter(col("c_custkey") % 5 =!= 0) // 20% dangle
    val cat = s"gmvlj${sqlCatSeq.incrementAndGet()}"
    val whDir = Files.createTempDirectory("graft_mvljoin").toString
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", whDir)
    val hc = new HadoopCatalog(whDir, s)
    val morProps = Map("format-version" -> "2",
      "write.delete.mode" -> "merge-on-read",
      "write.update.mode" -> "merge-on-read")
    val factTab = hc.createTable("db.orders", Schema.fromSpark(fact0.schema),
      properties = morProps)
    val dimTab = hc.createTable("db.customer", Schema.fromSpark(dim0.schema),
      properties = morProps)
    factTab.append(fact0)
    dimTab.append(dim0)
    val c0f = factTab.refresh().metadata.currentSnapshotId
    val c0d = dimTab.refresh().metadata.currentSnapshotId
    val jv = JoinView(factKeys = Seq("o_custkey"), dimKeys = Seq("c_custkey"),
      agg = AggView(keys = Seq("c_mktsegment"), sums = Seq("o_orderkey"),
        mins = Seq("o_totalprice"), maxs = Seq("o_totalprice")),
      joinType = "left")
    val state0 = IncrementalJoinAgg.init(
      factTab.scan.useSnapshot(c0f.get).toDF,
      dimTab.scan.useSnapshot(c0d.get).toDF, jv)
    def applyRound(state: DataFrame, fCur: Option[Long], dCur: Option[Long])
        : (DataFrame, Option[Long], Option[Long]) = {
      val fRel = factTab.refresh(); val dRel = dimTab.refresh()
      val hF = fRel.metadata.currentSnapshotId
      val hD = dRel.metadata.currentSnapshotId
      val fb = Option.when(hF != fCur)(
        graft.streaming.TableChanges.changelog(fRel, fCur, hF))
      val db = Option.when(hD != dCur)(
        graft.streaming.TableChanges.changelog(dRel, dCur, hD))
      val st1 = IncrementalJoinAgg.applyChangelog(state, fb, db, jv,
        dimAtCursor = keys => dimTab.scan.useSnapshot(dCur.get).toDF
          .join(keys, Seq("c_custkey"), "left_semi"),
        factAtHead = keys => factTab.scan.useSnapshot(hF.get).toDF
          .join(keys, Seq("o_custkey"), "left_semi"),
        // the NULL group (pads) holes too — null-safe elector semi-join,
        // key membership pushed below the join for the matched rows and
        // the pads derived from the narrow dim-key anti-join (exact; see
        // IncrementalJoinAgg.reElectRows)
        reElect = keys => IncrementalJoinAgg.reElectRows(
          factTab.scan.useSnapshot(hF.get).toDF,
          dimTab.scan.useSnapshot(hD.get).toDF, jv, None, keys))
      (st1, hF, hD)
    }
    // round 1: fact deletes + price raises; a dim delete REPADS its orders
    s.sql(s"DELETE FROM $cat.db.orders WHERE o_orderkey % 9 = 1")
    s.sql(s"UPDATE $cat.db.orders SET o_totalprice = o_totalprice + 1000 " +
      "WHERE o_orderkey % 9 = 2")
    s.sql(s"DELETE FROM $cat.db.customer WHERE c_custkey % 7 = 3")
    val (state1, h1f, h1d) = applyRound(state0, c0f, c0d)
    // round 2: the missing customers ARRIVE (pads retract into their
    // groups), then a segment move over the grown dim
    dimTab.refresh().append(dimFull.filter(col("c_custkey") % 5 === 0))
    s.sql(s"UPDATE $cat.db.customer SET c_mktsegment = 'BUILDING' " +
      "WHERE c_custkey % 7 = 5")
    val (state2, _, _) = applyRound(state1, h1f, h1d)
    nonEmpty(state2.select(
        coalesce(col("c_mktsegment"), lit("UNMATCHED")).as("seg"), col("cnt"),
        col("s_o_orderkey").as("sum_key"),
        col("mn_o_totalprice").as("min_price"),
        col("mx_o_totalprice").as("max_price"))
      .orderBy(col("seg")))
  }

  val mvLeftJoinSql =
    """WITH fact1 AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN o_orderkey % 9 = 2 THEN o_totalprice + 1000
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 9 <> 1),
      |dim1 AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 7 = 5 THEN 'BUILDING'
      |         ELSE c_mktsegment END AS c_mktsegment
      |  FROM customer WHERE c_custkey % 5 = 0 OR c_custkey % 7 <> 3)
      |SELECT coalesce(c_mktsegment, 'UNMATCHED') AS seg, count(*) AS cnt,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
      |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
      |FROM fact1 LEFT JOIN dim1 ON o_custkey = c_custkey
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** JOIN-MV TABLE (r15): the persisted, exactly-once face of join-view
    * IVM — `graft.streaming.MaterializedJoinAgg` keeps the join
    * aggregate in its own Iceberg TABLE carrying TWO refresh cursors
    * (last folded fact snapshot + last folded dim snapshot), both
    * riding the same atomic commit as the refreshed rows, so the MV is
    * its own checkpoint for BOTH feeds. Same churn and oracle as
    * `ds_mv_join`, folded through two `refreshOnce` calls instead of
    * in-memory applies — the two gates cross-check exactly like
    * `ds_mv_incremental`/`ice_mv_table`. Each refresh reads only the
    * two ranges' changelogs, prunes the non-delta sides to the deltas'
    * join keys, and rewrites only the groups whose MV row changed. */
  def mvJoinTable(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.IncrementalAgg.AggView
    import graft.ops.IncrementalJoinAgg.JoinView
    import graft.streaming.MaterializedJoinAgg
    val fact0 = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val dim0 = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val cat = s"gmvjt${sqlCatSeq.incrementAndGet()}"
    val whDir = Files.createTempDirectory("graft_mvjtab").toString
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", whDir)
    val hc = new HadoopCatalog(whDir, s)
    // merge-on-read churn: the refresh changelogs read position-delete
    // masks instead of CoW remove+add file pairs (same rationale as
    // ice_mv_table — the cheaper feed shape a steady pipeline runs)
    val morProps = Map("format-version" -> "2",
      "write.delete.mode" -> "merge-on-read",
      "write.update.mode" -> "merge-on-read")
    val factTab = hc.createTable("db.orders", Schema.fromSpark(fact0.schema),
      properties = morProps)
    val dimTab = hc.createTable("db.customer", Schema.fromSpark(dim0.schema),
      properties = morProps)
    factTab.append(fact0.filter(col("o_orderkey") % 3 =!= 0))
    dimTab.append(dim0)
    val jv = JoinView(factKeys = Seq("o_custkey"), dimKeys = Seq("c_custkey"),
      agg = AggView(keys = Seq("c_mktsegment"), sums = Seq("o_orderkey"),
        mins = Seq("o_totalprice"), maxs = Seq("o_totalprice")))
    val mv = hc.createTable("db.seg_stats",
      MaterializedJoinAgg.schemaFor(jv, factTab, dimTab),
      properties = Map("format-version" -> "2"))
    MaterializedJoinAgg.bootstrap(factTab, dimTab, mv, jv)
    // round 1: fact deletes + price raises, dim segment moves + deaths
    s.sql(s"DELETE FROM $cat.db.orders WHERE o_orderkey % 9 = 1")
    s.sql(s"UPDATE $cat.db.orders SET o_totalprice = o_totalprice + 1000 " +
      "WHERE o_orderkey % 9 = 2")
    s.sql(s"UPDATE $cat.db.customer SET c_mktsegment = 'MACHINERY' " +
      "WHERE c_custkey % 7 = 3")
    s.sql(s"DELETE FROM $cat.db.customer WHERE c_custkey % 11 = 4")
    MaterializedJoinAgg.refreshOnce(factTab.refresh(), dimTab.refresh(), mv)
    // round 2: a fact ingest append + another dim segment move
    factTab.refresh().append(fact0.filter(col("o_orderkey") % 3 === 0))
    s.sql(s"UPDATE $cat.db.customer SET c_mktsegment = 'BUILDING' " +
      "WHERE c_custkey % 7 = 5")
    MaterializedJoinAgg.refreshOnce(factTab.refresh(), dimTab.refresh(), mv)
    nonEmpty(mv.refresh().scan.toDF.select(col("c_mktsegment"), col("cnt"),
        col("s_o_orderkey").as("sum_key"),
        col("mn_o_totalprice").as("min_price"),
        col("mx_o_totalprice").as("max_price"))
      .orderBy(col("c_mktsegment")))
  }

  /** Oracle = the join-view recomputed FROM SCRATCH over both churned
    * corpora. */
  val mvJoinSql =
    """WITH fact1 AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN o_orderkey % 9 = 2 THEN o_totalprice + 1000
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 3 <> 0 AND o_orderkey % 9 <> 1
      |  UNION ALL
      |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |  WHERE o_orderkey % 3 = 0),
      |dim1 AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 7 = 3 THEN 'MACHINERY'
      |         WHEN c_custkey % 7 = 5 THEN 'BUILDING'
      |         ELSE c_mktsegment END AS c_mktsegment
      |  FROM customer WHERE c_custkey % 11 <> 4)
      |SELECT c_mktsegment, count(*) AS cnt,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
      |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
      |FROM fact1 JOIN dim1 ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** FILTERED row-identity CDC (r14): the change feed of `SELECT * WHERE
    * p` — a consumer tailing ONE partition (a tenant, a region, a time
    * slice) gets replica semantics without paying the whole table's
    * churn. Every branch of the diff prunes FILES through the inclusive
    * evaluators before any data read (filtered current plan for
    * inserts/updates, filtered cursor plan for delete candidates,
    * filtered added files for the anti-join's id side). Semantics under
    * partition-crossing updates: a row updated OUT of p surfaces as a
    * DELETE from p's view (its current version fails the row filter on
    * the anti-join's right side); a row updated INTO p surfaces as an
    * update whose face carries the full row — exactly the feed needed to
    * maintain a filtered replica. The churn here exercises all four
    * shapes: MoR DV deletes across partitions, an in-place update, a
    * move-out, a move-in, plus a cross-partition ingest append. */
  def cdcFiltered(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val schema = Schema.fromSpark(orders.schema)
    val cat = s"gcdcf${sqlCatSeq.incrementAndGet()}"
    val whDir = Files.createTempDirectory("graft_cdcfilt").toString
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", whDir)
    val tab = new HadoopCatalog(whDir, s)
      .createTable("db.orders", schema,
        Spec.build(schema, 0, ("o_orderpriority", IdentityTransform, "prio")),
        properties = Map("format-version" -> "3",
          "write.delete.mode" -> "merge-on-read"))
    tab.append(orders)
    val c0 = tab.refresh().metadata.currentSnapshotId
    s.sql(s"DELETE FROM $cat.db.orders WHERE o_orderkey % 13 = 3")
    // the three update shapes (in-place, move-out, move-in) in ONE CoW
    // round — the %13 residues are disjoint, so semantics match three
    // separate statements while the gate pays one rewrite
    s.sql(s"""UPDATE $cat.db.orders SET
      |  o_totalprice = CASE WHEN o_orderkey % 13 = 5
      |    THEN o_totalprice + 1 ELSE o_totalprice END,
      |  o_orderpriority = CASE
      |    WHEN o_orderkey % 13 = 7 AND o_orderpriority = '1-URGENT' THEN '3-MEDIUM'
      |    WHEN o_orderkey % 13 = 9 AND o_orderpriority = '2-HIGH' THEN '1-URGENT'
      |    ELSE o_orderpriority END
      |WHERE o_orderkey % 13 = 5
      |   OR (o_orderkey % 13 = 7 AND o_orderpriority = '1-URGENT')
      |   OR (o_orderkey % 13 = 9 AND o_orderpriority = '2-HIGH')""".stripMargin)
    tab.refresh().append(orders.filter(col("o_orderkey") % 13 === 11)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000))
    val rel = tab.refresh()
    val (changes, _) = graft.streaming.TableChanges.pollLineageCdc(rel, c0,
      Some(graft.core.ExprParser.parse("o_orderpriority = '1-URGENT'")))
    nonEmpty(changes.select(col("_change_type"), col("o_orderkey"))
      .orderBy(col("_change_type"), col("o_orderkey")))
  }
  /** Oracle = the expected filtered feed reconstructed from the churn
    * recipe: deletes = 1-URGENT rows DELETEd or moved OUT; updates =
    * 1-URGENT in-place updates plus rows moved IN; inserts = the ingest
    * batch's 1-URGENT rows. */
  val cdcFilteredSql =
    """SELECT 'delete' AS _change_type, o_orderkey FROM orders
      |WHERE o_orderpriority = '1-URGENT' AND (o_orderkey % 13 = 3 OR o_orderkey % 13 = 7)
      |UNION ALL
      |SELECT 'update', o_orderkey FROM orders
      |WHERE (o_orderpriority = '1-URGENT' AND o_orderkey % 13 = 5)
      |   OR (o_orderpriority = '2-HIGH' AND o_orderkey % 13 = 9)
      |UNION ALL
      |SELECT 'insert', o_orderkey + 10000000 FROM orders
      |WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 13 = 11
      |ORDER BY _change_type, o_orderkey""".stripMargin

  /** CDC APPLY / physical REPLICATION (r14): the feed's canonical
    * consumer — a downstream Iceberg table maintained as an exact mirror
    * of the source, EXACTLY-ONCE. `TableChanges.replicateOnce` polls the
    * row-identity feed past the cursor the REPLICA itself recorded and
    * `IceTable.applyCdc` lands the batch: retired rows (deletes +
    * pre-update images) leave, new images land, and the replication
    * cursor property rides the SAME atomic commit — the replica is its
    * own checkpoint, so a crash anywhere re-polls exactly the unapplied
    * range and a replayed batch is a detected no-op (pinned in
    * TableSpec). Two cycles here: initial load (full snapshot as
    * inserts), then a delete + update + ingest churn round. At 100 TB
    * both sides are churn-proportional: the poll is file-pruned (r13)
    * and the apply rewrites only the replica files the retired ids
    * live in (`__file` semi-join targeting). Output = the replica's
    * final content, which the oracle derives from the churn recipe
    * applied to the source parquet directly. */
  def cdcApply(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val cat = s"gcapp${sqlCatSeq.incrementAndGet()}"
    val whDir = Files.createTempDirectory("graft_cdcapply").toString
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", whDir)
    val hc = new HadoopCatalog(whDir, s)
    val src = hc.createTable("db.src", Schema.fromSpark(orders.schema),
      properties = Map("format-version" -> "3"))
    val rep = hc.createTable("db.rep", Schema.fromSpark(
        orders.withColumn("_src_row_id", lit(0L)).schema),
      properties = Map("format-version" -> "3"))
    src.append(orders.filter(col("o_orderkey") % 3 =!= 0))
    graft.streaming.TableChanges.replicateOnce(src.refresh(), rep)
    s.sql(s"DELETE FROM $cat.db.src WHERE o_orderkey % 9 = 1")
    s.sql(s"UPDATE $cat.db.src SET o_totalprice = o_totalprice + 1 " +
      s"WHERE o_orderkey % 9 = 2")
    src.refresh().append(orders.filter(col("o_orderkey") % 3 === 0))
    graft.streaming.TableChanges.replicateOnce(src.refresh(), rep)
    nonEmpty(rep.refresh().scan.toDF
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey")))
  }
  /** Final replica state from the churn recipe: %9==1 rows were deleted
    * (all of them were in the initial %3≠0 load, since %9==1 ⟹ %3==1);
    * %9==2 rows carry the +1 update; %3==0 rows arrived in the ingest. */
  val cdcApplySql =
    """SELECT o_orderkey, o_orderstatus,
      |  CASE WHEN o_orderkey % 9 = 2 THEN o_totalprice + 1
      |       ELSE o_totalprice END AS o_totalprice
      |FROM orders WHERE o_orderkey % 9 <> 1
      |ORDER BY o_orderkey""".stripMargin

  val rowLineageDmlSql =
    """WITH odd AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice,
      |         row_number() OVER (ORDER BY o_orderkey) - 1 AS rid,
      |         CAST(1 AS BIGINT) AS seq
      |  FROM orders WHERE o_orderkey % 2 = 1),
      |cnt AS (SELECT count(*) AS n FROM odd),
      |evn AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice,
      |         (SELECT n FROM cnt) + row_number() OVER (ORDER BY o_orderkey) - 1 AS rid,
      |         CAST(2 AS BIGINT) AS seq
      |  FROM orders WHERE o_orderkey % 2 = 0)
      |SELECT o_orderkey,
      |  CASE WHEN o_totalprice > 200000 THEN o_orderstatus || 'X'
      |       ELSE o_orderstatus END AS o_orderstatus,
      |  rid AS "_row_id",
      |  CASE WHEN o_totalprice > 200000 THEN CAST(3 AS BIGINT)
      |       ELSE seq END AS "_last_updated_sequence_number"
      |FROM (SELECT * FROM odd UNION ALL SELECT * FROM evn)
      |WHERE NOT (o_orderkey % 7 = 3)
      |ORDER BY o_orderkey""".stripMargin

  /** A (deletes). equality deletes (extension — the reference rejects
    * them): keys deleted from older data only; a later append of the same
    * keys survives (sequence-number scoping). */
  def equalityDeletes(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val tab = wh(s).createTable("orders", Schema.fromSpark(orders.schema))
    tab.append(orders.filter(col("o_orderkey") <= 9000))
    tab.deleteEqualityKeys(
      orders.filter(col("o_orderkey") % 5 === 0).select(col("o_orderkey")))
    tab.append(orders.filter(col("o_orderkey") > 9000))
    tab.scan.toDF.orderBy(col("o_orderkey"))
  }
  val equalityDeletesSql =
    """SELECT * FROM orders
      |WHERE (o_orderkey <= 9000 AND o_orderkey % 5 <> 0) OR o_orderkey > 9000
      |ORDER BY o_orderkey""".stripMargin

  /** B/E. predicate on a TRANSFORMED term (ref: BoundTransform
    * transforms.py:1158): `day(ts) = D` prunes a day-partitioned table
    * exactly (the term IS the partition value). */
  def transformPredicate(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val schema = Schema.fromSpark(li.schema)
    val tab = wh(s).createTable("lineitem",
      schema, Spec.build(schema, 0, ("l_shipdate", DayTransform, "l_day")))
    tab.append(li)
    nonEmpty(tab.scan("day(l_shipdate) = '1997-06-05'")
      .select("l_orderkey", "l_linenumber", "l_shipdate")
      .toDF.orderBy(col("l_orderkey"), col("l_linenumber")))
  }
  val transformPredicateSql =
    """SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) = DATE '1997-06-05'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** DSv2 face: read back through spark.read.format("graft") with a
    * filter pushed into per-query manifest pruning (SURVEY §7 step 10).
    * The table carries MoR position deletes, resolved executor-side in
    * the partition readers (never collected to the driver). */
  def dsv2Scan(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val cat = wh(s)
    val tab = cat.createTable("customer", Schema.fromSpark(cust.schema))
    tab.append(cust)
    tab.deletePositional("c_acctbal > 9000.0")
    nonEmpty(s.read.format("graft")
      .option("warehouse", cat.warehouse).option("table", "customer").load()
      .filter(col("c_acctbal") > 5000.0 && col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey")))
  }
  val dsv2ScanSql =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE c_acctbal > 5000.0 AND c_acctbal <= 9000.0 AND c_mktsegment = 'BUILDING'
      |ORDER BY c_custkey""".stripMargin

  /** DSv2 aggregate pushdown: a global count/min/max through
    * spark.read.format("graft") is answered from MANIFEST stats — the SQL
    * face of the metadata count() short-circuit (ref table/__init__.py:2341;
    * GraftAggPushdown). The assert guards the pushdown actually firing, so
    * a regression shows up as a query failure, not a silent slow path. */
  def dsv2AggPushdown(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val cat = wh(s)
    val tab = cat.createTable("customer_agg", Schema.fromSpark(cust.schema))
    tab.append(cust)
    graft.spark.GraftAggPushdown.lastPushed = None
    val out = s.read.format("graft")
      .option("warehouse", cat.warehouse).option("table", "customer_agg").load()
      .agg(count(lit(1)).as("n"), min(col("c_custkey")).as("mn"),
        max(col("c_custkey")).as("mx"),
        count(col("c_mktsegment")).as("n_seg"))
    val row = out.head()
    require(graft.spark.GraftAggPushdown.lastPushed.isDefined,
      "expected the aggregation to be answered from manifest stats")
    require(row.getLong(0) > 0, "empty table in agg pushdown query")
    out
  }
  val dsv2AggPushdownSql =
    """SELECT count(*) AS n, min(c_custkey) AS mn, max(c_custkey) AS mx,
      |count(c_mktsegment) AS n_seg FROM customer""".stripMargin

  /** Storage-partitioned join: orders and customer bucketed the SAME way
    * on the join key join with NO shuffle on either side — Spark groups
    * each scan's splits by the partition-key rows they carry
    * (KeyGroupedPartitioning + HasPartitionKey; transform functions
    * resolved through the catalog's FunctionCatalog). The require()
    * fails the query if an Exchange ever reappears in the plan. */
  def spjJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val orders = t(s, dir, "orders")
    val whDir = Files.createTempDirectory("graft_spj").toString
    val cname = s"gspj${sqlCatSeq.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cname", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cname.warehouse", whDir)
    val cat = new HadoopCatalog(whDir, s)
    val cs = Schema.fromSpark(cust.schema)
    val os = Schema.fromSpark(orders.schema)
    cat.createTable("customer", cs,
      Spec.build(cs, 0, ("c_custkey", BucketTransform(8), "cb"))).append(cust)
    cat.createTable("orders", os,
      Spec.build(os, 0, ("o_custkey", BucketTransform(8), "ob"))).append(orders)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a real join
      "spark.sql.adaptive.enabled" -> "false") // stable plan to assert on
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      // assert on the bare join (the presentation ORDER BY below adds a
      // legitimate range exchange for the global sort)
      val joined = s.sql(
        s"""SELECT o.o_orderkey, o.o_custkey, c.c_name, o.o_totalprice
           |FROM $cname.orders o JOIN $cname.customer c ON o.o_custkey = c.c_custkey
           |""".stripMargin)
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"storage-partitioned join must not shuffle:\n${plan.take(1500)}")
      joined.count() // execute the shuffle-free plan while the confs hold
      joined.orderBy(col("o_orderkey"))
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
  val spjJoinSql =
    """SELECT o_orderkey, o_custkey, c_name, o_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin

  /** G/K. snapshot expiry WITH storage reclamation: append → overwrite →
    * expire the old snapshot cleaning its files — the first append's
    * files must be physically gone (reclaimed storage), while the
    * surviving snapshot still reads exactly the overwrite's rows. */
  def expireGc(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val tab = wh(s).createTable("orders", Schema.fromSpark(orders.schema))
    tab.append(orders.filter(col("o_orderkey") % 2 === 0))
    val s1 = tab.metadata.currentSnapshotId.get
    val filesA = tab.scan.planFiles().map(_.file.filePath)
    tab.overwrite(orders.filter(col("o_orderkey") % 2 === 1), AlwaysTrue)
    val expired = tab.expireSnapshots().byIds(Seq(s1)).cleanExpiredFiles(true).commit()
    require(expired == Seq(s1), s"expected to expire $s1, got $expired")
    require(filesA.forall(p => !graft.meta.Io.exists(p)),
      "expired-only files must be reclaimed")
    tab.scan.toDF.orderBy(col("o_orderkey"))
  }
  val expireGcSql =
    "SELECT * FROM orders WHERE o_orderkey % 2 = 1 ORDER BY o_orderkey"

  /** G (maintenance). Explicit manifest compaction: six tiny appends
    * accumulate six data manifests; rewriteManifests() re-bins them into
    * ONE without touching data — the scan afterwards must read the
    * identical row set (manifest counts require()'d in the query body,
    * row content oracle-checked). */
  def manifestRewrite(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val tab = wh(s).createTable("orders", Schema.fromSpark(orders.schema))
    (0 until 6).foreach(i => tab.append(orders.filter(col("o_orderkey") % 6 === i)))
    def dataManifests = graft.meta.ManifestIO
      .readManifestList(tab.metadata.currentSnapshot.get.manifestList)
      .count(_.content == 0)
    require(dataManifests == 6, s"expected 6 manifests before rewrite, got $dataManifests")
    val (rewritten, created) = tab.rewriteManifests()
    require(rewritten == 6 && created == 1,
      s"expected (6 rewritten, 1 created), got ($rewritten, $created)")
    require(dataManifests == 1, "rewrite must leave one binned manifest")
    nonEmpty(tab.scan.toDF.orderBy(col("o_orderkey")))
  }
  val manifestRewriteSql = "SELECT * FROM orders ORDER BY o_orderkey"

  /** J (incremental/CDC). Row-level CHANGELOG: append → MoR position
    * delete → append; the changelog lists every insert AND the deleted
    * rows' full content with commit ordinals (extension — the reference
    * stops at the incremental append scan, table/__init__.py:2372).
    * Snapshot ids are engine-specific, so the gate projects the
    * deterministic columns. */
  def changelogQ(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val tab = wh(s).createTable("orders", Schema.fromSpark(orders.schema))
    tab.append(orders.filter(col("o_orderkey") <= 3000))
    tab.deletePositional("o_orderkey < 400")
    tab.append(orders.filter(col("o_orderkey") > 3000))
    nonEmpty(graft.streaming.TableChanges.changelog(tab)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("_change_type").as("change_type"),
        col("_change_ordinal").as("change_ordinal"))
      .orderBy(col("change_ordinal"), col("change_type"), col("o_orderkey")))
  }
  val changelogSql =
    """SELECT o_orderkey, o_totalprice, 'insert' AS change_type, 0 AS change_ordinal
      |FROM orders WHERE o_orderkey <= 3000
      |UNION ALL
      |SELECT o_orderkey, o_totalprice, 'delete', 1 FROM orders WHERE o_orderkey < 400
      |UNION ALL
      |SELECT o_orderkey, o_totalprice, 'insert', 2 FROM orders WHERE o_orderkey > 3000
      |ORDER BY change_ordinal, change_type, o_orderkey""".stripMargin

  /** F (metadata). position_deletes CONTENT table: MoR position deletes
    * listed row-by-row (decoded delete parquet), aggregated to the
    * oracle-checkable deleted-row count per referenced-file bucket count
    * (positions themselves are file-internal and not SQL-derivable). */
  def positionDeletesMeta(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val tab = wh(s).createTable("orders", Schema.fromSpark(orders.schema))
    tab.append(orders)
    tab.deletePositional("o_totalprice > 400000")
    val pd = tab.inspect.positionDeletes()
    // every listed position must reference a live data file of the table
    val dataPaths = tab.scan.planFiles()
      .map(ft => graft.core.PathUtil.canon(ft.file.filePath)).toSet
    val referenced = pd.select("file_path").distinct().collect().map(_.getString(0))
    require(referenced.nonEmpty &&
      referenced.forall(p => dataPaths.contains(graft.core.PathUtil.canon(p))),
      "position_deletes must reference live data files")
    nonEmpty(pd.agg(count(lit(1)).as("n_deleted")))
  }
  val positionDeletesMetaSql =
    "SELECT count(*) AS n_deleted FROM orders WHERE o_totalprice > 400000"

  private val sqlCatSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** G. Iceberg VIEWS (ref: pyiceberg/view — metadata.py ViewMetadata,
    * catalog ABC create_view :723): create a versioned view over a graft
    * table, REPLACE it (immutable new version + log entry), then execute
    * the current spark representation. The view's SQL resolves the table
    * through the TableCatalog plugin. */
  def icebergView(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val whDir = Files.createTempDirectory("graft_view").toString
    val cname = s"gview${sqlCatSeq.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cname", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cname.warehouse", whDir)
    val cat = new HadoopCatalog(whDir, s)
    val tab = cat.createTable("orders", Schema.fromSpark(orders.schema))
    tab.append(orders)
    val vschema = Schema.fromSpark(
      orders.groupBy("o_orderpriority").agg(count(lit(1)).as("cnt")).schema)
    cat.createView("prio_stats", vschema,
      s"SELECT o_orderpriority, count(*) AS cnt FROM $cname.orders " +
        "GROUP BY o_orderpriority")
    // evolve: the replaced definition filters open orders out
    cat.replaceView("prio_stats", vschema,
      s"SELECT o_orderpriority, count(*) AS cnt FROM $cname.orders " +
        "WHERE o_orderstatus <> 'O' GROUP BY o_orderpriority")
    val v = cat.loadView("prio_stats")
    require(v.currentVersion.versionId == 2 && v.history.size == 2,
      "replace must append a version")
    v.toDataFrame(s).orderBy(col("o_orderpriority"))
  }
  val icebergViewSql =
    """SELECT o_orderpriority, count(*) AS cnt FROM orders
      |WHERE o_orderstatus <> 'O' GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** J. The full SQL face through the TableCatalog plugin: CTAS, DELETE
    * FROM, INSERT INTO, and an aggregating SELECT — pure `spark.sql`, no
    * library calls (ref exposes these only via its Python API,
    * catalog/__init__.py Catalog ABC). A unique catalog name per run
    * sidesteps Spark's per-name catalog-instance cache. */
  def sqlCatalogDml(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val cat = s"gsql${sqlCatSeq.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft_sqlcat").toString)
    orders.createOrReplaceTempView("graft_sqlcat_src")
    s.sql(s"CREATE TABLE $cat.db.orders PARTITIONED BY (o_orderstatus) " +
      "AS SELECT * FROM graft_sqlcat_src")
    s.sql(s"DELETE FROM $cat.db.orders WHERE o_orderstatus = 'F'")
    s.sql(s"INSERT INTO $cat.db.orders SELECT * FROM graft_sqlcat_src " +
      "WHERE o_orderstatus = 'F' AND o_totalprice > 200000.0")
    s.sql(s"""SELECT o_orderstatus, count(*) AS cnt,
      |  min(o_totalprice) AS lo, max(o_totalprice) AS hi
      |FROM $cat.db.orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }
  /** Hive-metastore catalog e2e over the injectable thrift seam (ref
    * catalog/hive.py): create under a namespace, two independent handles
    * committing through the exclusive-lock protocol, CoW delete, native
    * alter_table rename — then scan the renamed table back. */
  def hiveCatalog(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val cat = new graft.catalog.HiveCatalog(
      Files.createTempDirectory("graft_hive").toString, s)
    cat.createNamespace("db")
    val tab = cat.createTable("db.orders", Schema.fromSpark(orders.schema))
    tab.append(orders.filter(col("o_orderkey") % 2 === 1))
    val h2 = cat.loadTable("db.orders") // separate handle: lock-serialized commit
    h2.append(orders.filter(col("o_orderkey") % 2 === 0))
    cat.loadTable("db.orders").delete("o_orderstatus = 'P'")
    cat.renameTable("db.orders", "db.orders_renamed")
    nonEmpty(cat.loadTable("db.orders_renamed").scan.toDF.orderBy(col("o_orderkey")))
  }
  val hiveCatalogSql =
    "SELECT * FROM orders WHERE o_orderstatus <> 'P' ORDER BY o_orderkey"

  val sqlCatalogDmlSql =
    """WITH t AS (
      |  SELECT * FROM orders WHERE o_orderstatus <> 'F'
      |  UNION ALL
      |  SELECT * FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 200000.0)
      |SELECT o_orderstatus, count(*) AS cnt,
      |  min(o_totalprice) AS lo, max(o_totalprice) AS hi
      |FROM t GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** REST catalog e2e: a loopback REST catalog service (127.0.0.1, the
    * reference's primary backend — pyiceberg/catalog/rest/) serves table
    * metadata to the Spark catalog plugin over the public REST protocol
    * (bearer auth, config handshake, diff-based requirement-guarded
    * commits); data reads/writes go straight to storage. CREATE + DELETE
    * + INSERT + aggregate, all via SQL. Scale shape: only CONTROL-PLANE
    * calls (metadata-file-sized) cross HTTP — the 1000-executor data path
    * never touches the catalog service. */
  def restCatalog(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val server = new graft.catalog.RestCatalogServer(
      Files.createTempDirectory("graft_restwh").toString,
      token = Some("bench-token")).start()
    try {
      val cat = s"grest${sqlCatSeq.incrementAndGet()}"
      s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.uri", server.uri)
      s.conf.set(s"spark.sql.catalog.$cat.token", "bench-token")
      // manifest pruning runs ON THE SERVICE for every read below — the
      // gate covers the whole server-planning path (plan endpoint, wire
      // serde, residual re-binding), not just catalog CRUD
      s.conf.set(s"spark.sql.catalog.$cat.scan-planning-mode", "server")
      li.createOrReplaceTempView("graft_rest_src")
      s.sql(s"CREATE NAMESPACE $cat.db")
      s.sql(s"CREATE TABLE $cat.db.li AS SELECT * FROM graft_rest_src")
      s.sql(s"DELETE FROM $cat.db.li WHERE l_returnflag = 'R'")
      s.sql(s"INSERT INTO $cat.db.li SELECT * FROM graft_rest_src " +
        "WHERE l_returnflag = 'R' AND l_quantity >= 25")
      val out = s.sql(s"""SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  sum(l_quantity) AS qty
        |FROM $cat.db.li GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
      // materialize the (group-count-sized) aggregate BEFORE stopping the
      // server so the frame returned to the harness no longer needs the
      // catalog service; the HttpServer dispatcher is a non-daemon thread,
      // so leaving it up would pin the harness JVM at exit
      val rows = out.collect().toSeq
      require(rows.nonEmpty, "REST-catalog gate must select data")
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1), out.schema)
    } finally server.stop()
  }
  val restCatalogSql =
    """WITH t AS (
      |  SELECT * FROM lineitem WHERE l_returnflag <> 'R'
      |  UNION ALL
      |  SELECT * FROM lineitem WHERE l_returnflag = 'R' AND l_quantity >= 25)
      |SELECT l_returnflag, l_linestatus, count(*) AS cnt,
      |  sum(l_quantity) AS qty
      |FROM t GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** DSv2 SQL face: UPDATE + MERGE INTO through SupportsRowLevelOperations
    * (group-based copy-on-write — Spark rewrites both into ReplaceData
    * over the operation's scan; the commit swaps scanned files for the
    * rewritten ones; ref upsert, table/__init__.py:800). The UPDATE's
    * modulo predicate has no sources.Filter form, so it can ONLY succeed
    * through the row-level rewrite. */
  def sqlMerge(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val cat = s"gsqlm${sqlCatSeq.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft_sqlmerge").toString)
    orders.filter(col("o_orderkey") <= 12000).createOrReplaceTempView("graft_merge_base")
    orders.filter(col("o_orderkey") > 6000)
      .withColumn("o_orderstatus", lit("X")).createOrReplaceTempView("graft_merge_src")
    s.sql(s"CREATE TABLE $cat.db.orders AS SELECT * FROM graft_merge_base")
    s.sql(s"""MERGE INTO $cat.db.orders t USING graft_merge_src s
      |ON t.o_orderkey = s.o_orderkey
      |WHEN MATCHED THEN UPDATE SET *
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    s.sql(s"UPDATE $cat.db.orders SET o_totalprice = 0.0 WHERE o_orderkey % 10 = 0")
    nonEmpty(s.sql(s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate, o_orderpriority
      |FROM $cat.db.orders ORDER BY o_orderkey""".stripMargin))
  }
  val sqlMergeSql =
    """WITH merged AS (
      |  SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus, o_totalprice,
      |    o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey > 6000
      |  UNION ALL
      |  SELECT * FROM orders WHERE o_orderkey <= 6000)
      |SELECT o_orderkey, o_custkey, o_orderstatus,
      |  CASE WHEN o_orderkey % 10 = 0 THEN 0.0 ELSE o_totalprice END AS o_totalprice,
      |  o_orderdate, o_orderpriority
      |FROM merged ORDER BY o_orderkey""".stripMargin

  /** DSv2 SQL face, MERGE-ON-READ mode (SupportsDelta): with
    * `write.update.mode`/`write.delete.mode` = merge-on-read, UPDATE and
    * DELETE write POSITION DELETES + replacement rows instead of
    * rewriting data files — matched rows are identified by the
    * (_file, _pos) rowId and masked at read time. The scan below reads
    * back through the MoR machinery, so the gate checks the whole
    * delete-write → delete-apply loop. */
  def sqlMorDml(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val cat = s"gsqlmor${sqlCatSeq.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.spark.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft_sqlmor").toString)
    orders.createOrReplaceTempView("graft_mor_src")
    s.sql(s"""CREATE TABLE $cat.db.orders
      |TBLPROPERTIES ('write.update.mode'='merge-on-read',
      |               'write.delete.mode'='merge-on-read')
      |AS SELECT * FROM graft_mor_src""".stripMargin)
    s.sql(s"UPDATE $cat.db.orders SET o_orderstatus = 'U' WHERE o_orderkey % 11 = 0")
    s.sql(s"DELETE FROM $cat.db.orders WHERE o_orderkey % 13 = 0")
    nonEmpty(s.sql(s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  o_orderdate, o_orderpriority
      |FROM $cat.db.orders ORDER BY o_orderkey""".stripMargin))
  }
  val sqlMorDmlSql =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 11 = 0 THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
      |  o_totalprice, o_orderdate, o_orderpriority
      |FROM orders WHERE o_orderkey % 13 <> 0 ORDER BY o_orderkey""".stripMargin

  /** A. metadata-only count (residual-free files never read). */
  def metadataCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = t(s, dir, "orders")
    val schema = Schema.fromSpark(orders.schema)
    val tab = wh(s).createTable("orders",
      schema, Spec.build(schema, 0, ("o_orderpriority", IdentityTransform, "prio")))
    tab.append(orders)
    val n = tab.scan("o_orderpriority = '1-URGENT'").count()
    s.createDataFrame(Seq(Tuple1(n))).toDF("cnt")
  }
  val metadataCountSql =
    "SELECT count(*) AS cnt FROM orders WHERE o_orderpriority = '1-URGENT'"

  /** A/C. metadata-only count through TRANSFORM residuals (ref:
    * visitors.py:1797 ResidualEvaluator): a boundary-aligned range filter
    * on a month-partitioned table folds every surviving partition's
    * residual to TRUE, so the count is pure manifest arithmetic — zero
    * data files are opened. */
  def transformCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = t(s, dir, "orders")
    val schema = Schema.fromSpark(orders.schema)
    val tab = wh(s).createTable("orders",
      schema, Spec.build(schema, 0, ("o_orderdate", MonthTransform, "o_month")))
    tab.append(orders)
    val scan = tab.scan("o_orderdate >= '1997-03-01'")
    // assert the fold actually happened: every task must be residual-free
    require(scan.planFiles().forall(_.residual == graft.core.BTrue),
      "month-aligned range must fold residuals to TRUE")
    s.createDataFrame(Seq(Tuple1(scan.count()))).toDF("cnt")
  }
  val transformCountSql =
    "SELECT count(*) AS cnt FROM orders WHERE o_orderdate >= TIMESTAMP '1997-03-01'"

  /** F. partitions metadata table: per-partition record counts as a Spark
    * aggregation over manifest entries. */
  def partitionsMeta(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val schema = Schema.fromSpark(orders.schema)
    val tab = wh(s).createTable("orders",
      schema, Spec.build(schema, 0, ("o_orderdate", MonthTransform, "o_month")))
    tab.append(orders)
    tab.inspect.partitions()
      .select(col("partition"), col("record_count"))
      .orderBy(col("partition"))
  }
  val partitionsMetaSql =
    """SELECT 'o_month=' || strftime(o_orderdate, '%Y-%m') AS partition,
      |       count(*) AS record_count
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** F2. partition STATISTICS file (Iceberg spec §Partition Statistics;
    * engine-side compute like iceberg-java's PartitionStatsUtil — the
    * reference models only the registration, table/statistics.py:46):
    * compute + register the one metadata-sized stats parquet, then read
    * it back. Path-targeted position deletes ride the unpartitioned
    * spec, so they aggregate under the all-null unified tuple while data
    * rows carry real per-partition counts. */
  def partitionStats(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val schema = Schema.fromSpark(orders.schema)
    val tab = wh(s).createTable("orders",
      schema, Spec.build(schema, 0, ("o_orderstatus", IdentityTransform, "o_orderstatus")))
    tab.append(orders)
    tab.deletePositional("o_orderkey < 300")
    val ps = tab.computePartitionStatistics()
    nonEmpty(s.read.parquet(ps.statisticsPath)
      .select(col("partition.o_orderstatus").as("status"),
        col("data_record_count").as("data_records"),
        col("position_delete_record_count").as("pos_delete_records"))
      .orderBy(col("status").asc_nulls_last))
  }
  val partitionStatsSql =
    """SELECT o_orderstatus AS status, count(*) AS data_records,
      |       CAST(0 AS BIGINT) AS pos_delete_records
      |FROM orders GROUP BY 1
      |UNION ALL
      |SELECT NULL AS status, CAST(0 AS BIGINT) AS data_records,
      |       (SELECT count(*) FROM orders WHERE o_orderkey < 300) AS pos_delete_records
      |ORDER BY status NULLS LAST""".stripMargin

  /** F. snapshots metadata table (operations + added record counts). */
  def snapshotsMeta(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val tab = wh(s).createTable("orders", Schema.fromSpark(orders.schema))
    tab.append(orders.filter(col("o_orderkey") % 3 === 0))
    tab.append(orders.filter(col("o_orderkey") % 3 =!= 0))
    tab.inspect.snapshots()
      .select(col("operation"),
        element_at(col("summary"), "added-records").cast("long").as("added_records"))
      .orderBy(col("added_records"))
  }
  val snapshotsMetaSql =
    """SELECT * FROM (
      |  SELECT 'append' AS operation,
      |    (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0) AS added_records
      |  UNION ALL
      |  SELECT 'append',
      |    (SELECT count(*) FROM orders WHERE o_orderkey % 3 <> 0)
      |) ORDER BY added_records""".stripMargin

  /** A. add_files: register external parquet without rewrite. */
  def addFiles(s: SparkSession, dir: String): DataFrame = {
    val nation = t(s, dir, "nation")
    val tab = wh(s).createTable("nation", Schema.fromSpark(nation.schema))
    tab.addFiles(Seq(s"$dir/nation.parquet"))
    tab.scan.toDF.orderBy(col("n_nationkey"))
  }
  val addFilesSql = "SELECT * FROM nation ORDER BY n_nationkey"

  /** A. ORC data files in one scan with parquet: half the table appended
    * as parquet, half registered as externally-written ORC (the reference
    * reads ORC data files: io/pyarrow.py:1119–1125, ORC_FIELD_ID_KEY :740),
    * plus a post-registration rename so the ORC half proves name-mapping
    * resolution and the parquet half id-based projection — with footer
    * stats harvested from the ORC footers for metrics pruning. */
  def orcRead(s: SparkSession, dir: String): DataFrame = {
    val part = t(s, dir, "part")
    val tab = wh(s).createTable("part_orc", Schema.fromSpark(part.schema))
    tab.append(part.filter(col("p_partkey") % 2 === 0))
    val orcDir = Files.createTempDirectory("graft_orc").toString
    part.filter(col("p_partkey") % 2 === 1).repartition(2)
      .write.mode("overwrite").orc(orcDir)
    val files = new java.io.File(orcDir).listFiles()
      .filter(_.getName.endsWith(".orc")).map(_.getAbsolutePath).toSeq
    tab.addFiles(files)
    tab.updateSchema.renameColumn("p_retailprice", "price").commit()
    // p_retailprice spans [900, 919.9] at sf0.001 and [900, 999.9] at
    // sf0.01+; 910.0 selects rows at EVERY scale factor through BOTH the
    // ORC name-mapped branch and the parquet id-projection branch (the
    // old 1000.0 threshold made this gate vacuous).
    nonEmpty(tab.scan("p_size <= 25 and price > 910.0")
      .select("p_partkey", "p_name", "price")
      .toDF.orderBy(col("p_partkey")))
  }
  val orcReadSql =
    """SELECT p_partkey, p_name, p_retailprice AS price FROM part
      |WHERE p_size <= 25 AND p_retailprice > 910.0 ORDER BY p_partkey""".stripMargin

  /** A. native ORC WRITE path (`write.format.default = orc`): the append,
    * the CoW delete rewrite, and the footer-stats harvest all run through
    * Spark's ORC writer + OrcStats — then scan back through the ORC read
    * branch. Our extension over the reference (it writes parquet only;
    * its ORC support is read-side, io/pyarrow.py:1119). */
  def orcWrite(s: SparkSession, dir: String): DataFrame = {
    val part = t(s, dir, "part")
    val cat = wh(s)
    val tab = cat.createTable("part_orc_w", Schema.fromSpark(part.schema))
    tab.setProperties("write.format.default" -> "orc")
    val rel = cat.loadTable("part_orc_w")
    rel.append(part)
    rel.delete("p_size > 40")
    nonEmpty(rel.scan("p_retailprice > 905.0")
      .select("p_partkey", "p_name", "p_size")
      .toDF.orderBy(col("p_partkey")))
  }
  val orcWriteSql =
    """SELECT p_partkey, p_name, p_size FROM part
      |WHERE p_size <= 40 AND p_retailprice > 905.0 ORDER BY p_partkey""".stripMargin

  /** A+D. row-level deletes over ORC-registered files: half the table
    * parquet, half ORC via add_files, a rename, then ONE positional
    * delete spanning BOTH formats — the scan's parquet and ORC readers
    * both track row positions and apply the deletes, matching the
    * reference's format-agnostic delete application
    * (io/pyarrow.py:1629). */
  def orcMor(s: SparkSession, dir: String): DataFrame = {
    val part = t(s, dir, "part")
    val tab = wh(s).createTable("part_orc_mor", Schema.fromSpark(part.schema))
    tab.append(part.filter(col("p_partkey") % 2 === 0))
    val orcDir = Files.createTempDirectory("graft_orc_mor").toString
    part.filter(col("p_partkey") % 2 === 1).repartition(2)
      .write.mode("overwrite").orc(orcDir)
    val files = new java.io.File(orcDir).listFiles()
      .filter(_.getName.endsWith(".orc")).map(_.getAbsolutePath).toSeq
    tab.addFiles(files)
    tab.updateSchema.renameColumn("p_retailprice", "price").commit()
    tab.deletePositional("price > 915.0")
    nonEmpty(tab.scan("p_size <= 25")
      .select("p_partkey", "p_name", "price")
      .toDF.orderBy(col("p_partkey")))
  }
  val orcMorSql =
    """SELECT p_partkey, p_name, p_retailprice AS price FROM part
      |WHERE p_size <= 25 AND p_retailprice <= 915.0 ORDER BY p_partkey""".stripMargin

  /** J. streaming SINK end-to-end: the supplier parquet streamed through
    * `writeStream.format("graft")` (AvailableNow), committed as per-epoch
    * snapshots with exactly-once markers, read back via the library scan
    * (the reference has no streaming face; extension, see GraftSource
    * GraftStreamingWrite). */
  def streamSink(s: SparkSession, dir: String): DataFrame = {
    val sch = t(s, dir, "supplier").schema
    val cat = wh(s)
    val tab = cat.createTable("supplier_sink", Schema.fromSpark(sch))
    val stream = s.readStream.schema(sch)
      .option("pathGlobFilter", "supplier.parquet").parquet(dir)
    val ckpt = Files.createTempDirectory("graft_sink_ckpt").toString
    val q = stream.writeStream.format("graft")
      .option("warehouse", cat.warehouse).option("table", "supplier_sink")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    tab.refresh()
    tab.scan.toDF.orderBy(col("s_suppkey"))
  }
  val streamSinkSql = "SELECT * FROM supplier ORDER BY s_suppkey"

  /** G. staged CREATE TABLE transaction (ref: create_table_transaction
    * catalog/__init__.py:914): appends stage against an in-memory
    * catalog; the table is INVISIBLE until commitTransaction registers
    * the accumulated metadata atomically. */
  def createTxn(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val cat = wh(s)
    val txn = cat.createTableTransaction("cust_txn", Schema.fromSpark(cust.schema))
    txn.append(cust.filter(col("c_custkey") % 2 === 0))
      .append(cust.filter(col("c_custkey") % 2 === 1))
    require(!cat.tableExists("cust_txn"), "staged table leaked into the catalog")
    val tab = txn.commitTransaction()
    require(tab.metadata.snapshots.size == 2, "both staged appends must commit")
    nonEmpty(tab.scan.toDF.orderBy(col("c_custkey")))
  }
  val createTxnSql = "SELECT * FROM customer ORDER BY c_custkey"

  /** D+. Z-ORDER compaction end-to-end: lineitem scattered across 8
    * files (round-robin repartition — every file spans the full key
    * range, so nothing prunes), then `rewriteDataFilesZOrder` on
    * (l_orderkey, l_partkey). After the rewrite a 2-dimensional box
    * predicate must SKIP more than half the files on min/max bounds
    * alone — asserted here, non-vacuously, before returning the scanned
    * rows the DuckDB oracle checks. */
  def zorderRewrite(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val tab = wh(s).createTable("li_z", Schema.fromSpark(li.schema))
    tab.append(li.repartition(8))
    // SCALE-RELATIVE box predicate: 30% of each key's max (integer-exact,
    // mirrored in the oracle) — ~9% of the 2-d key space at every SF. A
    // fixed literal box matched the whole key range at small SFs, making
    // the pruning assert below unsatisfiable.
    val mx = li.agg(max(col("l_orderkey")), max(col("l_partkey"))).head
    val pred = s"l_orderkey <= ${mx.getLong(0) * 3 / 10} and " +
      s"l_partkey <= ${mx.getLong(1) * 3 / 10}"
    // scattered baseline: the box predicate prunes nothing
    val before = tab.scan(pred).planFiles().size
    require(before == 8, s"expected an unprunable 8-file layout, read $before")
    // target derived from the actual table size so the rewrite produces
    // ~6 z-ordered files at EVERY scale factor (a fixed byte target made
    // the shape assert below data-size-dependent: at sf0.001 the whole
    // table fit one 256 KB bin)
    val totalBytes = tab.scan.planFiles().map(_.file.fileSizeInBytes).sum
    val (rewritten, added) = tab.rewriteDataFilesZOrder(
      Seq("l_orderkey", "l_partkey"),
      targetFileBytes = math.max(16L * 1024, totalBytes / 6))
    require(rewritten == 8 && added >= 4,
      s"zorder rewrite shape: rewritten=$rewritten added=$added")
    val after = tab.scan(pred).planFiles().size
    require(after * 2 < added,
      s"zorder pruning: $after of $added files read for the box predicate")
    nonEmpty(tab.scan(pred)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      .toDF.orderBy(col("l_orderkey"), col("l_linenumber")))
  }
  val zorderRewriteSql =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
      |FROM lineitem
      |WHERE l_orderkey <= (SELECT max(l_orderkey) * 3 // 10 FROM lineitem)
      |  AND l_partkey <= (SELECT max(l_partkey) * 3 // 10 FROM lineitem)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** J. streaming UPSERT: the canonical foreachBatch + MERGE pattern for
    * keeping an Iceberg table as the materialized state of a stream —
    * each micro-batch aggregates its slice, reads the table's current
    * state for the touched keys, and upserts the combined rows (the
    * read-merge-write idiom Structured Streaming documents for idempotent
    * sinks without native MERGE support). Two staged files force TWO
    * batches, so batch 2 exercises real matched-row updates against batch
    * 1's commits. At scale each round is a key-equi-join against only the
    * batch's keys (file-targeted MoR-aware rewrite underneath), never a
    * full-table rewrite. */
  def streamUpsert(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val flat = Files.createTempDirectory("graft_su_flat")
    val ckpt = Files.createTempDirectory("graft_su_ckpt").toString
    var i = 0
    Seq(0, 1).foreach { half =>
      val sub = Files.createTempDirectory("graft_su_half").toString
      ev.filter(col("event_id") % 2 === half).coalesce(1).write
        .mode("overwrite").parquet(sub)
      new java.io.File(sub).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          val out = flat.resolve(f"part-$i%05d.parquet")
          Files.copy(f.toPath, out)
          out.toFile.setLastModified(System.currentTimeMillis() - 120000L + i * 60000L)
          i += 1
        }
    }
    def aggBatch(b: DataFrame): DataFrame =
      b.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"), max(col("ts")).as("last_ts"))
    val tab = wh(s).createTable("ev_state", Schema.fromSpark(aggBatch(ev.limit(0)).schema))
    val q = s.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1)
      .parquet(flat.toString)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = aggBatch(batch)
        tab.refresh()
        val cur = tab.scan.toDF.select(col("user_id"), col("event_type"),
          col("n").as("cur_n"), col("last_ts").as("cur_last"))
        val merged = b.join(cur, Seq("user_id", "event_type"), "left")
          .select(col("user_id"), col("event_type"),
            (col("n") + coalesce(col("cur_n"), lit(0L))).as("n"),
            greatest(col("last_ts"), col("cur_last")).as("last_ts"))
        tab.upsert(merged, Seq("user_id", "event_type"))
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    tab.refresh()
    // non-vacuity: TWO micro-batches must have committed (batch 2 is the
    // matched-update round) — a single mega-batch would pass the oracle
    // without exercising the merge path
    require(tab.metadata.snapshots.length >= 2,
      s"expected >=2 upsert commits, got ${tab.metadata.snapshots.length}")
    nonEmpty(tab.scan.toDF.orderBy(col("user_id"), col("event_type")))
  }
  val streamUpsertSql =
    """SELECT user_id, event_type, count(*) AS n, max(ts) AS last_ts
      |FROM events GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  /** B/G. nested structs end-to-end: struct column write (nested field
    * ids), DSL filter on a nested field, NESTED RENAME read back through
    * id-based projection over files written before the rename (ref:
    * update/schema.py:850 _UnionByNameVisitor; schema.py:1492
    * prune_columns). */
  def nestedStruct(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val df = orders.select(col("o_orderkey"),
      struct(col("o_orderstatus").as("status"), col("o_totalprice").as("price")).as("info"))
    val tab = wh(s).createTable("orders_nested", Schema.fromSpark(df.schema))
    tab.append(df)
    // rename INSIDE the struct; the data files keep the old name and
    // resolve by field id
    tab.updateSchema.renameColumn("info.status", "state").commit()
    tab.scan("info.state = 'F' and info.price > 100000")
      .toDF
      .select(col("o_orderkey"), col("info.state").as("state"),
        col("info.price").as("price"))
      .orderBy(col("o_orderkey"))
  }
  val nestedStructSql =
    """SELECT o_orderkey, o_orderstatus AS state, o_totalprice AS price
      |FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 100000
      |ORDER BY o_orderkey""".stripMargin

  /** G. catalog surface: namespaces + rename + register, read back through
    * the registered handle (ref: catalog ABC register_table
    * catalog/__init__.py:498, rename_table :538, namespace CRUD :470). */
  def catalogOps(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val cat = wh(s)
    cat.createNamespace("crm")
    val tab = cat.createTable("crm.customer", Schema.fromSpark(cust.schema))
    tab.append(cust)
    cat.renameTable("crm.customer", "crm.customer_v2")
    require(!cat.tableExists("crm.customer"))
    // zero-copy adoption of the renamed table's metadata under a new name
    val v = cat.currentVersion("crm.customer_v2").get
    val reg = cat.registerTable("crm.customer_mirror",
      s"${cat.warehouse}/crm/customer_v2/metadata/v$v.metadata.json")
    require(cat.listTables("crm") == Seq("crm.customer_mirror", "crm.customer_v2"),
      s"listTables: ${cat.listTables("crm")}")
    reg.scan.toDF.orderBy(col("c_custkey"))
  }
  val catalogOpsSql = "SELECT * FROM customer ORDER BY c_custkey"

  /** F. readable_metrics: per-file footer stats decoded into typed structs
    * (ref: inspect.py:550). Aggregating value counts and bounds across the
    * files table must reproduce the DuckDB aggregates over the raw data —
    * an end-to-end gate on the whole stats-harvest path. */
  def readableMetrics(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val tab = wh(s).createTable("li_rm", Schema.fromSpark(li.schema))
    tab.append(li)
    tab.inspect.dataFiles().agg(
      sum("record_count").as("n_rows"),
      sum("readable_metrics.l_quantity.value_count").as("qty_values"),
      sum("readable_metrics.l_quantity.null_value_count").as("qty_nulls"),
      min("readable_metrics.l_quantity.lower_bound").as("qty_min"),
      max("readable_metrics.l_quantity.upper_bound").as("qty_max"),
      min("readable_metrics.l_shipdate.lower_bound").as("ship_min"),
      max("readable_metrics.l_shipdate.upper_bound").as("ship_max"),
      min("readable_metrics.l_returnflag.lower_bound").as("flag_min"),
      max("readable_metrics.l_returnflag.upper_bound").as("flag_max"))
  }
  val readableMetricsSql =
    """SELECT count(*) AS n_rows,
      |  count(*) AS qty_values,
      |  count(*) - count(l_quantity) AS qty_nulls,
      |  min(l_quantity) AS qty_min, max(l_quantity) AS qty_max,
      |  min(l_shipdate) AS ship_min, max(l_shipdate) AS ship_max,
      |  min(l_returnflag) AS flag_min, max(l_returnflag) AS flag_max
      |FROM lineitem""".stripMargin

  /** D+G. write-audit-publish on a staging branch (ref: append/delete
    * `branch` table/__init__.py:464/708; fast_forward publish): fork an
    * audit branch at main's head, delete + append ON THE BRANCH (main
    * provably untouched in between), then publish via fast-forward. The
    * returned frame is the post-publish main scan. */
  def branchWap(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val tab = wh(s).createTable("orders", Schema.fromSpark(orders.schema))
    tab.append(orders.filter(col("o_orderkey") % 2 === 0))
    val mainHead = tab.metadata.currentSnapshotId.get
    val mainCount = tab.scan.count()
    tab.manageSnapshots.createBranch("audit", mainHead)
    // audit the fork state: drop cheap orders, then land the odd half
    tab.delete(graft.core.ExprParser.parse("o_totalprice < 150000.0"), Some("audit"))
    tab.append(orders.filter(col("o_orderkey") % 2 =!= 0), Map.empty, Some("audit"))
    // isolation: the branch work must not have moved main
    require(tab.metadata.currentSnapshotId.get == mainHead &&
      tab.scan.count() == mainCount, "branch write leaked into main before publish")
    tab.manageSnapshots.fastForward("main", "audit")
    nonEmpty(tab.scan.toDF.orderBy(col("o_orderkey")))
  }
  val branchWapSql =
    """SELECT * FROM orders
      |WHERE (o_orderkey % 2 = 0 AND o_totalprice >= 150000.0) OR o_orderkey % 2 = 1
      |ORDER BY o_orderkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ice_branch_wap" -> (branchWap _),
    "ice_readable_metrics" -> (readableMetrics _),
    "ice_nested_struct" -> (nestedStruct _),
    "ice_catalog_ops" -> (catalogOps _),
    "ice_append_scan" -> (appendScan _),
    "ice_scan_filter_dsl" -> (scanFilterDsl _),
    "ice_scan_predicates" -> (scanPredicates _),
    "ice_partition_pruning" -> (partitionPruning _),
    "ice_bucket_pruning" -> (bucketPruning _),
    "ice_truncate_partition" -> (truncatePartition _),
    "ice_delete_cow" -> (deleteCow _),
    "ice_upsert" -> (upsert _),
    "ice_dynamic_overwrite" -> (dynamicOverwrite _),
    "ice_time_travel" -> (timeTravel _),
    "ice_incremental_scan" -> (incrementalScan _),
    "ice_schema_evolution" -> (schemaEvolution _),
    "ice_position_deletes" -> (positionDeletes _),
    "ice_deletion_vectors" -> (deletionVectors _),
    "ice_row_lineage" -> (rowLineage _),
    "ice_lineage_compaction" -> (rowLineageCompaction _),
    "ice_lineage_sql" -> (rowLineageSqlFace _),
    "ice_lineage_dml" -> (rowLineageDml _),
    "ice_lineage_mor" -> (rowLineageMor _),
    "ice_lineage_cdc" -> (lineageCdc _),
    "stream_lineage_cdc" -> (streamLineageCdc _),
    "stream_cdc_source" -> (streamCdcSource _),
    "ds_dedup_cdc_lsh" -> (dedupCdcLsh _),
    "ds_dedup_cdc" -> (dedupCdc _),
    "ds_decontaminate_cdc" -> (decontaminateCdc _),
    "ds_ann_cdc" -> (annCdc _),
    "ds_tfidf_cdc" -> (tfidfCdc _),
    "ds_curate_cdc" -> (curateCdc _),
    "ds_mv_incremental" -> (mvIncremental _),
    "ds_mv_join" -> (mvJoin _),
    "ds_mv_left_join" -> (mvLeftJoin _),
    "ds_mv_distinct" -> (mvDistinct _),
    "ds_mv_topk" -> (mvTopK _),
    "ice_mv_table" -> (mvTable _),
    "ice_mv_join_table" -> (mvJoinTable _),
    "ice_cdc_filtered" -> (cdcFiltered _),
    "ice_cdc_apply" -> (cdcApply _),
    "ice_equality_deletes" -> (equalityDeletes _),
    "ice_dsv2_scan" -> (dsv2Scan _),
    "ice_dsv2_agg" -> (dsv2AggPushdown _),
    "ice_spj_join" -> (spjJoin _),
    "ice_expire_gc" -> (expireGc _),
    "ice_sql_catalog_dml" -> (sqlCatalogDml _),
    "ice_hive_catalog" -> (hiveCatalog _),
    "ice_rest_catalog" -> (restCatalog _),
    "ice_sql_merge" -> (sqlMerge _),
    "ice_sql_mor" -> (sqlMorDml _),
    "ice_view" -> (icebergView _),
    "ice_transform_predicate" -> (transformPredicate _),
    "ice_metadata_count" -> (metadataCount _),
    "ice_transform_count" -> (transformCount _),
    "ice_partitions_meta" -> (partitionsMeta _),
    "ice_partition_stats" -> (partitionStats _),
    "ice_snapshots_meta" -> (snapshotsMeta _),
    "ice_add_files" -> (addFiles _),
    "ice_orc_read" -> (orcRead _),
    "ice_orc_write" -> (orcWrite _),
    "ice_orc_mor" -> (orcMor _),
    "ice_stream_sink" -> (streamSink _),
    "ice_stream_upsert" -> (streamUpsert _),
    "ice_zorder_rewrite" -> (zorderRewrite _),
    "ice_create_txn" -> (createTxn _),
    "ice_manifest_rewrite" -> (manifestRewrite _),
    "ice_position_deletes_meta" -> (positionDeletesMeta _),
    "ice_changelog" -> (changelogQ _),
  )

  val oracles: Map[String, String] = Map(
    "ice_branch_wap" -> branchWapSql,
    "ice_readable_metrics" -> readableMetricsSql,
    "ice_nested_struct" -> nestedStructSql,
    "ice_catalog_ops" -> catalogOpsSql,
    "ice_append_scan" -> appendScanSql,
    "ice_scan_filter_dsl" -> scanFilterDslSql,
    "ice_scan_predicates" -> scanPredicatesSql,
    "ice_partition_pruning" -> partitionPruningSql,
    "ice_bucket_pruning" -> bucketPruningSql,
    "ice_truncate_partition" -> truncatePartitionSql,
    "ice_delete_cow" -> deleteCowSql,
    "ice_upsert" -> upsertSql,
    "ice_dynamic_overwrite" -> dynamicOverwriteSql,
    "ice_time_travel" -> timeTravelSql,
    "ice_incremental_scan" -> incrementalScanSql,
    "ice_schema_evolution" -> schemaEvolutionSql,
    "ice_position_deletes" -> positionDeletesSql,
    "ice_deletion_vectors" -> deletionVectorsSql,
    "ice_row_lineage" -> rowLineageSql,
    "ice_lineage_compaction" -> rowLineageCompactionSql,
    "ice_lineage_sql" -> rowLineageSqlFaceSql,
    "ice_lineage_dml" -> rowLineageDmlSql,
    "ice_lineage_mor" -> rowLineageMorSql,
    "ice_lineage_cdc" -> lineageCdcSql,
    "stream_lineage_cdc" -> streamLineageCdcSql,
    "stream_cdc_source" -> streamCdcSourceSql,
    "ds_dedup_cdc_lsh" -> dedupCdcLshSql,
    "ds_dedup_cdc" -> dedupCdcSql,
    "ds_decontaminate_cdc" -> decontaminateCdcSql,
    "ds_ann_cdc" -> annCdcSql,
    "ds_tfidf_cdc" -> tfidfCdcSql,
    "ds_curate_cdc" -> curateCdcSql,
    "ds_mv_incremental" -> mvIncrementalSql,
    "ds_mv_join" -> mvJoinSql,
    "ds_mv_left_join" -> mvLeftJoinSql,
    "ds_mv_distinct" -> mvDistinctSql,
    "ds_mv_topk" -> mvTopKSql,
    "ice_mv_table" -> mvTableSql,
    "ice_mv_join_table" -> mvJoinSql,
    "ice_cdc_filtered" -> cdcFilteredSql,
    "ice_cdc_apply" -> cdcApplySql,
    "ice_equality_deletes" -> equalityDeletesSql,
    "ice_dsv2_scan" -> dsv2ScanSql,
    "ice_dsv2_agg" -> dsv2AggPushdownSql,
    "ice_spj_join" -> spjJoinSql,
    "ice_expire_gc" -> expireGcSql,
    "ice_sql_catalog_dml" -> sqlCatalogDmlSql,
    "ice_hive_catalog" -> hiveCatalogSql,
    "ice_rest_catalog" -> restCatalogSql,
    "ice_sql_merge" -> sqlMergeSql,
    "ice_sql_mor" -> sqlMorDmlSql,
    "ice_view" -> icebergViewSql,
    "ice_transform_predicate" -> transformPredicateSql,
    "ice_metadata_count" -> metadataCountSql,
    "ice_transform_count" -> transformCountSql,
    "ice_partitions_meta" -> partitionsMetaSql,
    "ice_partition_stats" -> partitionStatsSql,
    "ice_snapshots_meta" -> snapshotsMetaSql,
    "ice_add_files" -> addFilesSql,
    "ice_orc_read" -> orcReadSql,
    "ice_orc_write" -> orcWriteSql,
    "ice_orc_mor" -> orcMorSql,
    "ice_stream_sink" -> streamSinkSql,
    "ice_stream_upsert" -> streamUpsertSql,
    "ice_zorder_rewrite" -> zorderRewriteSql,
    "ice_create_txn" -> createTxnSql,
    "ice_manifest_rewrite" -> manifestRewriteSql,
    "ice_position_deletes_meta" -> positionDeletesMetaSql,
    "ice_changelog" -> changelogSql,
  )
}
