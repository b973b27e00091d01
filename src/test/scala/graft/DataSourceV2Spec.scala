package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HadoopCatalog
import graft.core.Schema
import graft.meta.{PartitionSpec => Spec}

class DataSourceV2Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val warehouse: String = Files.createTempDirectory("dsv2-wh").toString
  lazy val catalog = new HadoopCatalog(warehouse, spark)

  override def afterAll(): Unit = spark.stop()

  def orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")

  def loadV2(name: String) =
    spark.read.format("graft").option("warehouse", warehouse).option("table", name).load()

  test("format(graft) reads a table end-to-end") {
    val t = catalog.createTable("o_v2", Schema.fromSpark(orders.schema))
    t.append(orders)
    val df = loadV2("o_v2")
    assert(df.count() === orders.count())
    // delete-free files must take the VECTORIZED batch path
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "expected the columnar reader for a delete-free table")
    // values round-trip, including timestamps and doubles
    val a = df.orderBy(col("o_orderkey")).collect().map(_.toString).toSeq
    val b = orders.orderBy(col("o_orderkey")).collect().map(_.toString).toSeq
    assert(a === b)
  }

  test("filter pushdown replans manifest pruning per query") {
    val schema = Schema.fromSpark(orders.schema)
    val t = catalog.createTable("o_v2_part", schema,
      Spec.build(schema, 0, ("o_orderpriority", graft.core.IdentityTransform, "prio")))
    t.append(orders)
    val df = loadV2("o_v2_part").filter(col("o_orderpriority") === "1-URGENT")
    val want = orders.filter(col("o_orderpriority") === "1-URGENT").count()
    assert(df.count() === want)
    // the v2 scan should report pushed filters and read fewer partitions
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") || plan.contains("RuntimeFilters") ||
      plan.contains("BatchScan"), plan.take(800))
  }

  test("column pruning + rename-safe field-id projection") {
    val t = catalog.createTable("o_v2_evo", Schema.fromSpark(
      orders.select(col("o_orderkey"), col("o_orderstatus")).schema))
    t.append(orders.select(col("o_orderkey"), col("o_orderstatus")))
    t.updateSchema.renameColumn("o_orderstatus", "status").commit()
    val df = loadV2("o_v2_evo").select(col("status"))
    // old files carry the old name; the reader resolves by field-id
    assert(df.filter(col("status") === "O").count() ===
      orders.filter(col("o_orderstatus") === "O").count())
  }

  test("position deletes applied inside the v2 reader; limit pushes down") {
    val t = catalog.createTable("o_v2_mor", Schema.fromSpark(orders.schema))
    t.append(orders)
    t.deletePositional("o_orderkey <= 300")
    val want = orders.filter(col("o_orderkey") > 300)
    val df = loadV2("o_v2_mor")
    val before = graft.spark.GraftVectorizedRowReader.opened.get()
    assert(df.count() === want.count())
    // delete-bearing library files DECODE vectorized (row-mode batches)
    assert(graft.spark.GraftVectorizedRowReader.opened.get() > before,
      "expected the vectorized row reader for a delete-bearing library file")
    assert(df.filter(col("o_orderkey") <= 300).count() === 0)
    // limit: correct row count and early stop
    assert(df.limit(7).count() === 7)
  }

  test("mixed delete-bearing and delete-free files read uniformly") {
    // append → delete (applies to file 1 only) → append: file 2's sequence
    // is past the delete's, so one task carries deletes and one doesn't.
    // Spark's DataSourceV2ScanExecBase forbids mixing columnar and row
    // partitions in one scan — the columnar decision must be scan-global.
    val t = catalog.createTable("o_v2_mixed", Schema.fromSpark(orders.schema))
    t.append(orders.filter(col("o_orderkey") <= 3000))
    t.deletePositional("o_orderkey <= 300")
    t.append(orders.filter(col("o_orderkey") > 3000))
    val want = orders.filter(col("o_orderkey") > 300)
    val df = loadV2("o_v2_mixed")
    assert(df.count() === want.count())
    assert(df.filter(col("o_orderkey") <= 300).count() === 0)
  }

  test("addFiles-registered id-less parquet reads values, not nulls") {
    // external files carry no parquet field ids; the id-keyed vectorized
    // reader would silently null-fill every column, so the scan must fall
    // back to the row reader's name resolution
    val dir = Files.createTempDirectory("dsv2-ext").toString
    orders.limit(50).coalesce(1).write.parquet(s"$dir/ext")
    val one = new java.io.File(s"$dir/ext").listFiles()
      .find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    val t = catalog.createTable("o_v2_ext", Schema.fromSpark(orders.schema))
    t.addFiles(Seq(one))
    val df = loadV2("o_v2_ext")
    assert(df.count() === 50)
    assert(df.filter(col("o_orderkey").isNull).count() === 0,
      "external id-less file must resolve columns by name, not null-fill")
    assert(df.agg(sum(col("o_orderkey"))).head.getLong(0) ===
      orders.limit(50).agg(sum(col("o_orderkey"))).head.getLong(0))
  }

  test("equality deletes resolved executor-side, even when pruned out") {
    val t = catalog.createTable("o_v2_eq", Schema.fromSpark(orders.schema))
    t.append(orders.filter(col("o_orderkey") <= 2000))
    t.deleteEqualityKeys(orders.filter(col("o_orderkey") <= 2000)
      .filter(col("o_orderstatus") === "F").select(col("o_orderkey")))
    // the NEXT append is newer than the delete's sequence — its rows keep
    // their 'F' orders (sequence scoping, done by the planner per task)
    t.append(orders.filter(col("o_orderkey") > 2000))
    val want = orders.filter(col("o_orderkey") > 2000 ||
      col("o_orderstatus") =!= "F")
    val df = loadV2("o_v2_eq")
    assert(df.count() === want.count())
    // key column pruned OUT of the projection: the reader must still pull
    // o_orderkey from the data file to probe the delete set
    val statuses = loadV2("o_v2_eq").select(col("o_orderstatus"))
    assert(statuses.count() === want.count())
    assert(statuses.filter(col("o_orderstatus") === "F").count() ===
      orders.filter(col("o_orderkey") > 2000 && col("o_orderstatus") === "F").count())
    // agrees with the library scan
    assert(df.orderBy(col("o_orderkey")).collect().map(_.toString).toSeq ===
      t.scan.toDF.orderBy(col("o_orderkey")).collect().map(_.toString).toSeq)
  }

  test("v3 deletion vectors resolved executor-side in the v2 reader") {
    val t = catalog.createTable("o_v2_dv", Schema.fromSpark(orders.schema))
    t.upgradeFormatVersion(3)
    t.append(orders)
    t.deleteAsDeletionVector("o_orderkey <= 300")
    t.deleteAsDeletionVector("o_orderkey > 5500") // second DV exercises the merge path
    val want = orders.filter(col("o_orderkey") > 300 && col("o_orderkey") <= 5500)
    val df = loadV2("o_v2_dv")
    assert(df.count() === want.count())
    assert(df.filter(col("o_orderkey") <= 300 || col("o_orderkey") > 5500).count() === 0)
  }

  test("readStream micro-batches appends with checkpointed snapshot offsets") {
    import org.apache.spark.sql.streaming.Trigger
    val t = catalog.createTable("o_v2_stream", Schema.fromSpark(orders.schema))
    t.append(orders.filter(col("o_orderkey") <= 600))
    t.append(orders.filter(col("o_orderkey") > 600 && col("o_orderkey") <= 1200))
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val out = Files.createTempDirectory("graft-sink").toString

    def runOnce(): Long = {
      val stream = spark.readStream.format("graft")
        .option("warehouse", warehouse).option("table", "o_v2_stream").load()
      val q = stream.writeStream.format("parquet").option("path", out)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(out).count()
    }

    // first run drains everything committed so far
    assert(runOnce() === orders.filter(col("o_orderkey") <= 1200).count())
    // a new append, same checkpoint: only the NEW snapshot is processed
    t.append(orders.filter(col("o_orderkey") > 1200))
    assert(runOnce() === orders.count())
    // nothing new: sink total unchanged (empty micro-batch)
    assert(runOnce() === orders.count())
  }

  test("streaming admission control bounds snapshots per micro-batch") {
    import org.apache.spark.sql.streaming.Trigger
    val t = catalog.createTable("o_v2_adm", Schema.fromSpark(orders.schema))
    t.append(orders.filter(col("o_orderkey") <= 500))
    t.append(orders.filter(col("o_orderkey") > 500 && col("o_orderkey") <= 1000))
    t.append(orders.filter(col("o_orderkey") > 1000))
    val ckpt = Files.createTempDirectory("adm-ckpt").toString
    val out = Files.createTempDirectory("adm-sink").toString
    val stream = spark.readStream.format("graft")
      .option("warehouse", warehouse).option("table", "o_v2_adm")
      .option("max-snapshots-per-trigger", "1").load()
    val q = stream.writeStream.format("parquet").option("path", out)
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // one snapshot per batch → at least 3 non-empty batches, all rows once
    assert(spark.read.parquet(out).count() === orders.count())
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 3, s"expected >=3 bounded batches, got $batches")
  }

  test("readStream max-bytes-per-trigger admits snapshots under a byte " +
      "budget (metadata-only, from the commit summaries)") {
    import org.apache.spark.sql.streaming.Trigger
    val t = catalog.createTable("o_v2_badm", Schema.fromSpark(orders.schema))
    t.append(orders.filter(col("o_orderkey") <= 500))
    t.append(orders.filter(col("o_orderkey") > 500 && col("o_orderkey") <= 1000))
    t.append(orders.filter(col("o_orderkey") > 1000))
    // budget = the largest single commit: every batch carries exactly one
    // snapshot (any two would overflow), so the drain takes 3 batches
    val maxAdded = t.refresh().metadata.snapshots
      .flatMap(_.summary.get("added-files-size")).map(_.toLong).max
    val ckpt = Files.createTempDirectory("badm-ckpt").toString
    val out = Files.createTempDirectory("badm-sink").toString
    val stream = spark.readStream.format("graft")
      .option("warehouse", warehouse).option("table", "o_v2_badm")
      .option("max-bytes-per-trigger", maxAdded.toString).load()
    val q = stream.writeStream.format("parquet").option("path", out)
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(out).count() === orders.count())
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 3, s"expected >=3 byte-bounded batches, got $batches")
  }

  test("time travel: snapshot-id / as-of-timestamp / tag options pin the scan") {
    val t = catalog.createTable("o_v2_tt", Schema.fromSpark(orders.schema))
    t.append(orders.filter(col("o_orderkey") <= 1000))
    val snap1 = t.metadata.currentSnapshotId.get
    val ts1 = t.metadata.currentSnapshot.get.timestampMs
    t.manageSnapshots.createTag("v1", snap1)
    t.append(orders.filter(col("o_orderkey") > 1000))
    val oldCount = orders.filter(col("o_orderkey") <= 1000).count()

    def v2(opts: (String, String)*) = {
      val r = spark.read.format("graft")
        .option("warehouse", warehouse).option("table", "o_v2_tt")
      opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load()
    }
    assert(v2().count() === orders.count())
    assert(v2("snapshot-id" -> snap1.toString).count() === oldCount)
    assert(v2("as-of-timestamp" -> ts1.toString).count() === oldCount)
    assert(v2("tag" -> "v1").count() === oldCount)
    // pinned scans re-plan with filters too (pruning against the OLD snapshot)
    assert(v2("snapshot-id" -> snap1.toString)
      .filter(col("o_orderkey") > 500).count() ===
      orders.filter(col("o_orderkey") > 500 && col("o_orderkey") <= 1000).count())
    intercept[IllegalArgumentException] {
      v2("snapshot-id" -> snap1.toString, "tag" -> "v1").count()
    }
  }

  test("time travel reads with the snapshot's schema") {
    val t = catalog.createTable("o_v2_tt_schema", Schema.fromSpark(
      orders.select(col("o_orderkey"), col("o_orderstatus")).schema))
    t.append(orders.select(col("o_orderkey"), col("o_orderstatus")))
    val snap1 = t.metadata.currentSnapshotId.get
    t.updateSchema.renameColumn("o_orderstatus", "status").commit()
    // unpinned: current schema (rename visible without a data commit)
    assert(loadV2("o_v2_tt_schema").columns.toSeq ===
      Seq("o_orderkey", "status"))
    // pinned: the schema AS OF that snapshot still shows the old name
    val pinned = spark.read.format("graft").option("warehouse", warehouse)
      .option("table", "o_v2_tt_schema").option("snapshot-id", snap1.toString).load()
    assert(pinned.columns.toSeq === Seq("o_orderkey", "o_orderstatus"))
    assert(pinned.filter(col("o_orderstatus") === "O").count() ===
      orders.filter(col("o_orderstatus") === "O").count())
  }

  test("catalog option routes table resolution through SqlCatalog") {
    val dbDir = Files.createTempDirectory("dsv2-sqlcat").toString
    val jdbc = s"jdbc:derby:$dbDir/db;create=true"
    val sqlWh = Files.createTempDirectory("dsv2-sqlwh").toString
    val sqlCat = new graft.catalog.SqlCatalog(jdbc, sqlWh, spark)
    val t = sqlCat.createTable("o_sql_routed", Schema.fromSpark(orders.schema))
    t.append(orders)
    val df = spark.read.format("graft")
      .option("warehouse", sqlWh).option("table", "o_sql_routed")
      .option("catalog", jdbc).load()
    assert(df.count() === orders.count())
    assert(df.agg(sum(col("o_orderkey"))).head.getLong(0) ===
      orders.agg(sum(col("o_orderkey"))).head.getLong(0))
  }

  test("runtime filtering prunes partitions under a selective broadcast join") {
    val schema = Schema.fromSpark(orders.schema)
    val t = catalog.createTable("o_v2_rtf", schema,
      Spec.build(schema, 0, ("o_orderpriority", graft.core.IdentityTransform, "prio")))
    t.append(orders)
    val totalFiles = t.scan.planFiles().size
    assert(totalFiles >= 3, s"need multiple partitions to observe pruning, got $totalFiles")
    // dimension with a selective predicate the optimizer CANNOT propagate
    // as a static literal (length() is not a pushable source filter) →
    // dynamic partition pruning must inject the broadcast-observed join
    // keys as a runtime IN filter into the v2 scan before re-planning
    val dim = orders.select(col("o_orderpriority").as("prio")).distinct()
      .filter(length(col("prio")) === 8)
    val fact = loadV2("o_v2_rtf")
    graft.spark.GraftScan.lastPlannedPartitions = -1
    graft.spark.GraftScan.lastRuntimeFiltered = false
    val joined = fact.join(broadcast(dim), fact("o_orderpriority") === dim("prio"))
    val want = orders.filter(length(col("o_orderpriority")) === 8).count()
    assert(joined.count() === want)
    assert(graft.spark.GraftScan.lastRuntimeFiltered,
      "expected Spark to push a runtime filter into the v2 scan")
    assert(graft.spark.GraftScan.lastPlannedPartitions < totalFiles,
      s"runtime filter should prune partitions: planned " +
        s"${graft.spark.GraftScan.lastPlannedPartitions} of $totalFiles")
  }

  test("sql over the v2 source") {
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW o_sql
         |USING graft OPTIONS (warehouse '$warehouse', 'table' 'o_v2')""".stripMargin)
    val got = spark.sql(
      "SELECT o_orderstatus, count(*) AS n FROM o_sql GROUP BY 1 ORDER BY 1")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = orders.groupBy(col("o_orderstatus")).count()
      .orderBy(col("o_orderstatus"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === want)
  }

  test("writeStream sinks micro-batches exactly once across restarts") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val df = mem.toDF().withColumnRenamed("value", "id")
    val tab = catalog.createTable("stream_sink", Schema.fromSpark(df.schema))
    val ckpt = Files.createTempDirectory("sink-ckpt").toString
    def start() = df.writeStream.format("graft")
      .option("warehouse", warehouse).option("table", "stream_sink")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q = start()
    mem.addData(1L to 10L: _*)
    q.processAllAvailable()
    mem.addData(11L to 20L: _*)
    q.processAllAvailable()
    q.stop()
    tab.refresh()
    assert(tab.scan.count() === 20)
    // restart from the same checkpoint: no duplicates, new data flows
    val q2 = start()
    mem.addData(21L to 30L: _*)
    q2.processAllAvailable()
    q2.stop()
    tab.refresh()
    assert(tab.scan.count() === 30)
    // snapshots carry the (query, epoch) markers the dedup relies on
    assert(tab.metadata.snapshots.exists(_.summary.contains("streaming-epoch-id")))

    // a REPLAYED epoch (post-crash re-delivery) must be a no-op
    val w = new graft.spark.GraftStreamingWrite(tab, "replay-test", df.schema,
      truncateEachEpoch = false)
    def commitEpoch(epoch: Long): Unit = {
      val writer = w.createStreamingWriterFactory(null).createWriter(0, 0L, epoch)
      writer.write(org.apache.spark.sql.catalyst.InternalRow(1000L + epoch))
      val msg = writer.commit()
      w.commit(epoch, Array(msg))
    }
    commitEpoch(0L)
    tab.refresh()
    assert(tab.scan.count() === 31)
    commitEpoch(0L) // same epoch again — deduped
    tab.refresh()
    assert(tab.scan.count() === 31)
  }

  test("streaming sink on a v3 table assigns dense row lineage per epoch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val df = mem.toDF().withColumnRenamed("value", "id")
    val tab0 = catalog.createTable("stream_sink3", Schema.fromSpark(df.schema))
    tab0.upgradeFormatVersion(3)
    val tab = catalog.loadTable("stream_sink3")
    val ckpt = Files.createTempDirectory("sink3-ckpt").toString
    val q = df.writeStream.format("graft")
      .option("warehouse", warehouse).option("table", "stream_sink3")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    mem.addData(1L to 10L: _*)
    q.processAllAvailable()
    mem.addData(11L to 25L: _*)
    q.processAllAvailable()
    q.stop()
    tab.refresh()
    // two micro-batch commits = two id ranges, dense and unique overall
    val rows = tab.scan.toDFWithLineage
      .select(col("id"), col("_row_id"), col("_last_updated_sequence_number"))
      .collect()
    assert(rows.length === 25)
    assert(rows.map(_.getLong(1)).sorted.toSeq === (0L until 25L),
      "streaming appends must assign dense unique row ids")
    assert(tab.metadata.nextRowId === Some(25L))
    val firstBatch = rows.filter(_.getLong(0) <= 10L).map(_.getLong(2)).toSet
    val secondBatch = rows.filter(_.getLong(0) > 10L).map(_.getLong(2)).toSet
    assert(firstBatch.size === 1 && secondBatch.size === 1 &&
      firstBatch.head < secondBatch.head,
      "each micro-batch carries its own commit sequence number")
  }

  test("global count/min/max answered from manifest stats (aggregate pushdown)") {
    import graft.spark.GraftAggPushdown
    val t = catalog.createTable("o_v2_agg", Schema.fromSpark(orders.schema))
    t.append(orders.filter(col("o_orderkey") <= 3000))
    t.append(orders.filter(col("o_orderkey") > 3000)) // several files
    GraftAggPushdown.lastPushed = None
    val r = loadV2("o_v2_agg").agg(
      count(lit(1)).as("n"), min(col("o_orderkey")).as("mn"),
      max(col("o_orderkey")).as("mx"), count(col("o_orderpriority")).as("nc"),
      min(col("o_orderdate")).as("md")).head()
    assert(GraftAggPushdown.lastPushed.isDefined,
      "count/min/max over exact stats should be answered from metadata")
    assert(r.getLong(0) === orders.count())
    assert(r.getLong(1) === orders.agg(min(col("o_orderkey"))).head().getLong(0))
    assert(r.getLong(2) === orders.agg(max(col("o_orderkey"))).head().getLong(0))
    assert(r.getLong(3) === orders.filter(col("o_orderpriority").isNotNull).count())
    // the engine stores timestamps as NTZ micros — compare via the library
    // scan, which carries the same type
    assert(r.get(4) === t.scan.toDF.agg(min(col("o_orderdate"))).head().get(0))

    // string bounds are truncate(16)-mode prefixes — NOT an attained
    // min/max → must fall back to a real scan (and still be right)
    GraftAggPushdown.lastPushed = None
    val s = loadV2("o_v2_agg").agg(min(col("o_orderpriority"))).head().getString(0)
    assert(GraftAggPushdown.lastPushed.isEmpty,
      "string min/max must not be answered from truncated bounds")
    assert(s === orders.agg(min(col("o_orderpriority"))).head().getString(0))

    // double bounds order NaN unreliably — excluded too
    GraftAggPushdown.lastPushed = None
    loadV2("o_v2_agg").agg(max(col("o_totalprice"))).head()
    assert(GraftAggPushdown.lastPushed.isEmpty)

    // a WHERE stays a post-scan Filter (may-match pruning), which blocks
    // aggregate pushdown — the filtered count must come from a real scan
    GraftAggPushdown.lastPushed = None
    assert(loadV2("o_v2_agg").filter(col("o_orderkey") > 1000).count() ===
      orders.filter(col("o_orderkey") > 1000).count())
    assert(GraftAggPushdown.lastPushed.isEmpty)
  }

  test("GROUP BY an identity partition column stays metadata-only") {
    import graft.spark.GraftAggPushdown
    val schema = Schema.fromSpark(orders.schema)
    val t = catalog.createTable("o_v2_agg_grp", schema,
      Spec.build(schema, 0, ("o_orderstatus", graft.core.IdentityTransform, "st")))
    t.append(orders)
    GraftAggPushdown.lastPushed = None
    val got = loadV2("o_v2_agg_grp")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("mn"))
      .orderBy(col("o_orderstatus"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(GraftAggPushdown.lastPushed.exists(_.contains("group:o_orderstatus")),
      s"per-partition group-by should be manifest arithmetic, got ${GraftAggPushdown.lastPushed}")
    val want = orders.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("mn"))
      .orderBy(col("o_orderstatus"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want)

    // grouping by a NON-partition column cannot use file boundaries
    GraftAggPushdown.lastPushed = None
    loadV2("o_v2_agg_grp").groupBy(col("o_orderpriority")).count().collect()
    assert(GraftAggPushdown.lastPushed.isEmpty)
  }

  test("aggregate pushdown over an empty table returns count 0 / null extremes") {
    import graft.spark.GraftAggPushdown
    catalog.createTable("o_v2_agg_empty", Schema.fromSpark(orders.schema))
    GraftAggPushdown.lastPushed = None
    val r = loadV2("o_v2_agg_empty")
      .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("mn")).head()
    assert(GraftAggPushdown.lastPushed.isDefined)
    assert(r.getLong(0) === 0L)
    assert(r.isNullAt(1))
  }

  test("aggregate pushdown declines when deletes could change the answer") {
    import graft.spark.GraftAggPushdown
    val t = catalog.createTable("o_v2_agg_del", Schema.fromSpark(orders.schema))
    t.append(orders)
    t.deletePositional("o_orderkey <= 300")
    GraftAggPushdown.lastPushed = None
    assert(loadV2("o_v2_agg_del").count() ===
      orders.filter(col("o_orderkey") > 300).count())
    assert(GraftAggPushdown.lastPushed.isEmpty,
      "a position-delete file makes record_count inexact")
  }

  test("count(*) on a DV-maintained table is pure manifest arithmetic") {
    import graft.spark.GraftAggPushdown
    val t = catalog.createTable("o_v2_agg_dv", Schema.fromSpark(orders.schema))
    t.upgradeFormatVersion(3)
    t.append(orders)
    t.deleteAsDeletionVector("o_orderkey <= 300")
    GraftAggPushdown.lastPushed = None
    assert(loadV2("o_v2_agg_dv").count() ===
      orders.filter(col("o_orderkey") > 300).count())
    assert(GraftAggPushdown.lastPushed.contains("count(*)"),
      "DV cardinality is exact (manifest field 144) — count stays metadata-only")
    // …but min/max cannot trust bounds once rows are deleted
    GraftAggPushdown.lastPushed = None
    loadV2("o_v2_agg_dv").agg(min(col("o_orderkey"))).head()
    assert(GraftAggPushdown.lastPushed.isEmpty)
  }

  test("scan statistics reflect pruning; joins broadcast without a hint") {
    val schema = Schema.fromSpark(orders.schema)
    val t = catalog.createTable("o_v2_stats", schema,
      Spec.build(schema, 0, ("o_orderpriority", graft.core.IdentityTransform, "prio")))
    t.append(orders)
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    def relStats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collectFirst {
        case r: DataSourceV2ScanRelation => r.stats
      }.get
    val full = relStats(loadV2("o_v2_stats"))
    val pruned = relStats(loadV2("o_v2_stats")
      .filter(col("o_orderpriority") === "1-URGENT"))
    assert(full.rowCount.contains(BigInt(orders.count())))
    assert(pruned.sizeInBytes < full.sizeInBytes,
      s"partition pruning must shrink reported size: $pruned vs $full")
    assert(pruned.rowCount.get ===
      BigInt(orders.filter(col("o_orderpriority") === "1-URGENT").count()))
    // column pruning shrinks the estimate too (columnSizes-proportional)
    val narrow = relStats(loadV2("o_v2_stats").select(col("o_orderkey")))
    assert(narrow.sizeInBytes < full.sizeInBytes)

    // the planner now sees a broadcastable pruned side: a fact⋈dim join
    // through the v2 source broadcasts WITHOUT an explicit hint
    val dim = loadV2("o_v2_stats").filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("k"))
    val fact = loadV2("o_v2_stats")
    val joined = fact.join(dim, fact("o_orderkey") === dim("k"))
    assert(joined.count() ===
      orders.filter(col("o_orderpriority") === "1-URGENT").count())
    assert(joined.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "reported statistics should make the pruned side broadcast")
  }

  test("small files bin-pack into fewer scan tasks") {
    val t = catalog.createTable("o_v2_pack", Schema.fromSpark(orders.schema))
    (0 until 8).foreach(i => t.append(orders.filter(col("o_orderkey") % 8 === i)))
    assert(t.scan.planFiles().size >= 8, "expected one file per append")
    val df = loadV2("o_v2_pack")
    val nParts = df.rdd.getNumPartitions
    assert(nParts < 8, s"8 small files should bin-pack, got $nParts tasks")
    assert(nParts >= 2, s"packing must respect the parallelism floor, got $nParts")
    // chained readers preserve every row (columnar path: delete-free)
    assert(df.agg(sum(col("o_orderkey"))).head().getLong(0) ===
      orders.agg(sum(col("o_orderkey"))).head().getLong(0))
    // and the row-mode chain too (deletes force the vectorized row reader)
    t.deletePositional("o_orderkey <= 100")
    val df2 = loadV2("o_v2_pack")
    assert(df2.rdd.getNumPartitions < 8)
    assert(df2.agg(sum(col("o_orderkey"))).head().getLong(0) ===
      orders.filter(col("o_orderkey") > 100).agg(sum(col("o_orderkey"))).head().getLong(0))
  }

  test("large files split into row-group-ranged tasks") {
    val big = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    // small row groups so one file carries several split offsets
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setInt("parquet.block.size", 64 * 1024)
    hc.setInt("parquet.page.size", 16 * 1024)
    val t = try {
      val t0 = catalog.createTable("o_v2_split", Schema.fromSpark(big.schema))
      t0.append(big.coalesce(1))
      t0
    } finally {
      hc.unset("parquet.block.size")
      hc.unset("parquet.page.size")
    }
    val files = t.scan.planFiles()
    assert(files.map(_.file.splitOffsets.size).sum > files.size,
      s"expected multi-row-group files, got offsets ${files.map(_.file.splitOffsets)}")
    spark.conf.set("spark.graft.read.split.target-size", (64 * 1024).toString)
    try {
      val df = loadV2("o_v2_split")
      assert(df.rdd.getNumPartitions > files.size,
        s"a large file should split into several tasks: ${df.rdd.getNumPartitions} vs ${files.size}")
      // ranged reads cover every row exactly once
      assert(df.agg(sum(col("o_orderkey"))).head().getLong(0) ===
        big.agg(sum(col("o_orderkey"))).head().getLong(0))
      assert(df.filter(col("o_orderkey") >= 0).count() === big.count())
    } finally spark.conf.unset("spark.graft.read.split.target-size")
  }

  test("ORC data files read through the v2 source, mixed with parquet") {
    val part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    val t = catalog.createTable("p_orc_v2", Schema.fromSpark(part.schema))
    t.append(part.filter(col("p_partkey") % 2 === 0))
    val orcDir = Files.createTempDirectory("dsv2-orc").toString
    part.filter(col("p_partkey") % 2 === 1).coalesce(1).write.mode("overwrite").orc(orcDir)
    t.addFiles(new java.io.File(orcDir).listFiles()
      .filter(_.getName.endsWith(".orc")).map(_.getAbsolutePath).toSeq)
    val df = loadV2("p_orc_v2").filter(col("p_size") <= 25)
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
    val want = part.filter(col("p_size") <= 25)
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
    assert(df.count() === want.count())
    assert(df.exceptAll(want).count() === 0)
  }
}
