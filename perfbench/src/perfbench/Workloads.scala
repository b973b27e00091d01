package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.{CommitConflictException, HadoopCatalog}
import graft.core.{BucketTransform, Schema, YearTransform}
import graft.meta.{PartitionSpec, TableMetadata}
import graft.ops.IncrementalAgg.AggView
import graft.ops.IncrementalJoinAgg.JoinView
import graft.ops.IncrementalTopK.TopKView
import graft.streaming.{MaterializedAgg, MaterializedJoinAgg, MaterializedTopK, TableChanges}
import graft.table.{IceScan, IceTable}

/** The benchmark's catalog: graft's Hadoop catalog with every commit and
  * table load traced. */
final class TracedCatalog(warehouse: String, spark: SparkSession, tracer: Tracer)
    extends HadoopCatalog(warehouse, spark) {
  var conflicts = 0L
  override def commit(name: String, expectedVersion: Int, meta: TableMetadata): Int =
    tracer.span("catalog.commit") {
      try super.commit(name, expectedVersion, meta)
      catch { case e: CommitConflictException => conflicts += 1; throw e }
    }
  override def loadTable(name: String): IceTable =
    tracer.span("catalog.load")(super.loadTable(name))
}

/** One measured operation: `run` is timed, `verify` (untimed) brings the
  * model up to date and throws [[CheckFailed]] on a wrong result. `scan`
  * is the read the operation plans, for the traced run's planning probe. */
final case class Op(kind: String, run: () => Any, verify: Any => Unit,
    scan: Option[IceScan] = None)

final case class Ctx(spark: SparkSession, catalog: TracedCatalog, gen: Gen,
    warehouse: String)

object Tables {
  val OrderCols: Seq[String] = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")
  val OrdersType: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType)))
  val CustomerType: StructType = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_nationkey", IntegerType),
    StructField("c_mktsegment", StringType)))
  val V2: Map[String, String] = Map("format-version" -> "2")

  def ordersSchema: Schema = Schema.fromSpark(OrdersType)
  def byYear(s: Schema): PartitionSpec =
    PartitionSpec.build(s, 0, ("o_orderdate", YearTransform, "o_orderdate_year"))

  def ordersDf(spark: SparkSession, rows: Seq[Order]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(o => Row(o.key, o.cust, o.status,
      o.price, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(o.day.toLong)),
      o.priority)): _*), OrdersType)
  def customersDf(spark: SparkSession, rows: Seq[Customer]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      rows.map(c => Row(c.key, c.nation, c.segment)): _*), CustomerType)

  def toOrder(r: Row): Order = Order(r.getLong(0), r.getLong(1), r.getString(2),
    r.getDouble(3), r.getDate(4).toLocalDate.toEpochDay.toInt, r.getString(5))
  def orders(df: DataFrame): Seq[Order] =
    df.select(OrderCols.map(col): _*).collect().toSeq.map(toOrder)

  /** Local paths of every data and delete file the current snapshot uses. */
  def referencedFiles(t: IceTable): Seq[String] =
    t.scan.planFiles().flatMap(task => task.file +: task.deletes).map(_.filePath).distinct

  def exists(path: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(java.net.URI.create(
      if (path.contains(":")) path else "file:" + path)))
}

/** A workload: staged tables plus a fixed round of operations, replayed
  * from the seed. */
abstract class Workload(val ctx: Ctx, val ns: String) {
  import ctx._
  /** Creates and fills the tables; untimed. */
  def stage(): Unit
  /** The operations of one round, the same in every round; each is built
    * just before it runs, so its arguments follow the model. */
  def round: Seq[() => Op]
  /** The untimed operations run once before the measured window. */
  def warmUp: Seq[() => Op] = round
  /** Rounds every measured window runs at least. */
  def minRounds: Int
  /** Tables whose metadata the traced run reports. */
  def tables: Seq[IceTable]

  protected def op[T](kind: String, scan: Option[IceScan] = None)(run: => T)(
      verify: T => Unit): Op =
    Op(kind, () => run, v => verify(v.asInstanceOf[T]), scan)
  protected def expect(results: Option[String]*): Unit =
    results.flatten.headOption.foreach(m => throw new CheckFailed(m))
  protected def orders(rows: Seq[Order]): DataFrame = Tables.ordersDf(spark, rows)
  protected def create(name: String, schema: Schema,
      spec: PartitionSpec = PartitionSpec.Unpartitioned): IceTable =
    catalog.createTable(s"$ns.$name", schema, spec, Tables.V2)
}

object Workload {
  def apply(name: String, ctx: Ctx, ns: String): Workload = name match {
    case "serve" => new Serve(ctx, ns)
    case "refresh" => new Refresh(ctx, ns)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val Names: Seq[String] = Seq("serve", "refresh")
}

/** Reads only: key lookups, partition-pruned range counts, filtered
  * aggregates and reads of an older snapshot. The table is partitioned by
  * year and by 4 buckets of the customer key, and staged by two appends,
  * so it holds 56 data files; a merge-on-read delete gives two years'
  * 16 files position deletes. Each lookup and aggregate plans 40
  * delete-free files, more than Spark's parallel listing threshold (32). */
final class Serve(ctx: Ctx, ns: String) extends Workload(ctx, ns) {
  import ctx._
  val Appends = 2
  val PerAppend = 75000
  val Customers = 1000
  val DeletedYears = Seq(1993, 1996)
  val model: TableModel[Long, Order] = Model.orders()
  var t: IceTable = _
  var oldSnapshot = 0L
  var oldRows: Seq[Order] = Nil
  var keys: IndexedSeq[Long] = Vector.empty

  def tables: Seq[IceTable] = Seq(t)

  def stage(): Unit = {
    val s = Tables.ordersSchema
    t = create("orders", s, PartitionSpec.build(s, 0,
      ("o_orderdate", YearTransform, "o_orderdate_year"),
      ("o_custkey", BucketTransform(4), "o_custkey_bucket")))
    keys = gen.shuffled((1L to (Appends * PerAppend).toLong).toVector).toVector
    keys.grouped(PerAppend).foreach { ks =>
      if (model.rows.nonEmpty) {
        oldSnapshot = t.metadata.currentSnapshotId.get
        oldRows = model.values.toSeq
      }
      val rows = ks.map(k => gen.order(k, Customers))
      t.append(orders(rows))
      model.append(rows)
    }
    val cut = Appends * PerAppend / 4
    t.deletePositional(s"o_orderkey < $cut AND (" + DeletedYears.map(y =>
      s"o_orderdate >= '$y-01-01' AND o_orderdate < '${y + 1}-01-01'").mkString(" OR ") + ")")
    model.deleteWhere(o => o.key < cut && DeletedYears.contains(o.year))
  }

  // 30 samples: p50 falls inside the lookups, p90 inside the aggregates
  val minRounds = 3
  def round: Seq[() => Op] =
    Seq(lookup, () => range(deleted = false), lookup, agg, timeTravel, lookup,
      () => range(deleted = true), agg, lookup, timeTravel)
  /** Each kind once: the stagings before it already warm the write path. */
  override def warmUp: Seq[() => Op] =
    Seq(lookup, () => range(deleted = false), agg, timeTravel, () => range(deleted = true))

  private def lookup(): Op = {
    val k = keys(gen.int(keys.size))
    val scan = t.scan(s"o_orderkey = $k")
    op("lookup", Some(scan))(Tables.orders(scan.toDF)) { got =>
      expect(Checks.rows(s"lookup $k", model.rows.get(k), got))
    }
  }

  /** A range inside one year: one of the two with position deletes, or
    * one of the five without, so every round reads the same mix. */
  private def range(deleted: Boolean): Op = {
    val years = (Gen.FirstYear to Gen.LastYear).filter(y => DeletedYears.contains(y) == deleted)
    val y = gen.pick(years)
    val from = Gen.firstDay(y) + gen.int(300)
    val to = from + 30 + gen.int(36)
    val scan = t.scan(s"o_orderdate >= '${Gen.dayString(from)}' AND " +
      s"o_orderdate < '${Gen.dayString(to)}'")
    op("range", Some(scan))(scan.count()) { got =>
      expect(Checks.count(s"range $from..$to",
        model.values.count(o => o.day >= from && o.day < to).toLong, got))
    }
  }

  private def agg(): Op = {
    val status = gen.pick(Gen.Statuses)
    // a floor in the middle of the price range keeps 40-60% of the rows
    val floor = 200000 + gen.int(100000)
    val scan = t.scan(s"o_orderstatus = '$status' AND o_totalprice >= $floor")
    op("agg", Some(scan)) {
      scan.toDF.groupBy("o_orderpriority")
        .agg(count(lit(1)), sum("o_totalprice")).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    } { got =>
      expect(Checks.groups("filtered aggregate", Model.aggByPriority(
        model.values.filter(o => o.status == status && o.price >= floor)), got))
    }
  }

  private def timeTravel(): Op = {
    val c = 1 + gen.int(Customers - 50)
    val scan = t.scan(s"o_custkey >= $c AND o_custkey < ${c + 50}").useSnapshot(oldSnapshot)
    op("time_travel", Some(scan)) {
      val r = scan.toDF.agg(count(lit(1)), sum("o_totalprice")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
    } { got =>
      val want = oldRows.filter(o => o.cust >= c && o.cust < c + 50)
      expect(Checks.groups("time travel", Map("all" -> ((want.size.toLong, want.map(_.price).sum))),
        Map("all" -> got)))
    }
  }
}

/** Rounds of small writes on `orders`: a table-API append, and SQL UPDATE
  * and DELETE (copy-on-write) through the `GraftCatalog` plugin; and a
  * table-API upsert on `customer`. Then the aggregate,
  * join-aggregate and top-k views refresh, the round's changelog is read
  * and old snapshots of `orders` expire. After each write to `orders` its
  * row count, key set and price checksum must match the model and every
  * file it references must exist; every view must equal its
  * recomputation from the model. */
final class Refresh(ctx: Ctx, ns: String) extends Workload(ctx, ns) {
  import ctx._
  val Customers = 200
  val K = 5
  val DeleteSpan = 20
  val Retained = 3
  val orderModel: TableModel[Long, Order] = Model.orders()
  val custModel: TableModel[Long, Customer] = Model.customers()
  var o: IceTable = _
  var c: IceTable = _
  var mvAgg: IceTable = _
  var mvJoin: IceTable = _
  var mvTopK: IceTable = _
  var nextKey = 1L
  var cursor = 0L
  var cursorRows: Map[Long, Order] = Map.empty

  def tables: Seq[IceTable] = Seq(o, c, mvAgg, mvJoin, mvTopK)

  private def fresh(n: Int): Seq[Order] = (0 until n).map { _ =>
    val r = gen.order(nextKey, Customers); nextKey += 1; r
  }

  def stage(): Unit = {
    val s = Tables.ordersSchema
    o = create("orders", s, Tables.byYear(s))
    val rows = fresh(2000)
    o.append(orders(rows)); orderModel.append(rows)
    c = create("customer", Schema.fromSpark(Tables.CustomerType))
    val custs = (1L to Customers.toLong).map(gen.customer)
    c.append(Tables.customersDf(spark, custs)); custModel.append(custs)
    val av = AggView(keys = Seq("o_custkey"), sums = Seq("o_totalprice"),
      mins = Seq("o_totalprice"), maxs = Seq("o_totalprice"))
    mvAgg = create("mv_agg", MaterializedAgg.schemaFor(av, o))
    MaterializedAgg.bootstrap(o, mvAgg, av)
    val jv = JoinView(Seq("o_custkey"), Seq("c_custkey"),
      AggView(keys = Seq("c_mktsegment"), sums = Seq("o_totalprice")))
    mvJoin = create("mv_join", MaterializedJoinAgg.schemaFor(jv, o, c))
    MaterializedJoinAgg.bootstrap(o, c, mvJoin, jv)
    mvTopK = create("mv_topk", MaterializedTopK.schemaFor(o))
    MaterializedTopK.bootstrap(o, mvTopK, TopKView(Seq("o_orderpriority"),
      "o_totalprice", "o_orderkey", K))
    cursor = o.metadata.currentSnapshotId.get
    cursorRows = orderModel.snapshot
  }

  // 12 samples (the run-time budget allows one round, see the README):
  // p50 falls inside the six small writes, p90 inside the view refreshes
  val minRounds = 1
  def round: Seq[() => Op] =
    Seq(append, sqlUpdate, sqlDelete, append, sqlUpdate, sqlDelete, upsert,
      refreshAgg, refreshJoin, refreshTopK, changelog, expire)
  override def warmUp: Seq[() => Op] =
    Seq(append, sqlUpdate, sqlDelete, upsert, refreshAgg, refreshJoin, refreshTopK,
      changelog, expire)

  private def sql(stmt: String): Unit = spark.sql(stmt).collect()
  private def liveKey(): Long = {
    val live = orderModel.rows.keysIterator.toVector
    live(gen.int(live.size))
  }

  /** Row count, key set and price checksum of `orders` as its catalog
    * holds it, and the existence of every file it references. */
  private def checkOrders(): Unit = {
    val t = catalog.loadTable(o.name)
    val got = t.scan.toDF.select("o_orderkey", "o_totalprice").collect()
      .toSeq.map(r => (r.getLong(0), r.getDouble(1)))
    expect(Checks.tableState(orderModel.values, got),
      Checks.filesExist(Tables.referencedFiles(t), Tables.exists))
  }

  private def append(): Op = {
    val rows = fresh(30)
    op("append") { o.refresh(); o.append(orders(rows)) } { _ =>
      orderModel.append(rows); checkOrders()
    }
  }

  private def sqlUpdate(): Op = {
    val cust = orderModel.rows(liveKey()).cust
    op("sql_update") {
      sql(s"UPDATE g.$ns.orders SET o_totalprice = o_totalprice + 7 WHERE o_custkey = $cust")
    } { _ =>
      orderModel.updateWhere(_.cust == cust)(r => r.copy(price = r.price + 7)); checkOrders()
    }
  }

  private def sqlDelete(): Op = {
    val from = liveKey()
    op("sql_delete") {
      sql(s"DELETE FROM g.$ns.orders WHERE o_orderkey >= $from AND " +
        s"o_orderkey < ${from + DeleteSpan}")
    } { _ =>
      orderModel.deleteWhere(r => r.key >= from && r.key < from + DeleteSpan); checkOrders()
    }
  }

  private def upsert(): Op = {
    val moved = (1 to 2).map(_ => 1L + gen.int(Customers)).distinct.map { k =>
      val cur = custModel.rows(k)
      cur.copy(segment = gen.pick(Gen.Segments.filterNot(_ == cur.segment)))
    }
    op("upsert") { c.refresh(); c.upsert(Tables.customersDf(spark, moved), Seq("c_custkey")) } {
      got =>
        val want = custModel.upsert(moved)
        expect(Checks.groups("upsert (updated, inserted)", Map("n" -> want), Map("n" -> got)))
    }
  }

  private def refreshAgg(): Op = op("refresh_agg")(MaterializedAgg.refreshOnce(o, mvAgg)) { _ =>
    val got = mvAgg.refresh().scan.toDF
      .select("o_custkey", "cnt", "s_o_totalprice", "mn_o_totalprice", "mx_o_totalprice")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))).toMap
    expect(Checks.groups("aggregate view", Model.aggView(orderModel.values), got))
  }

  private def refreshJoin(): Op =
    op("refresh_join")(MaterializedJoinAgg.refreshOnce(o, c, mvJoin)) { _ =>
      val got = mvJoin.refresh().scan.toDF.select("c_mktsegment", "cnt", "s_o_totalprice")
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      expect(Checks.groups("join view",
        Model.joinView(orderModel.values, custModel.snapshot), got))
    }

  private def refreshTopK(): Op =
    op("refresh_topk")(MaterializedTopK.refreshOnce(o, mvTopK)) { _ =>
      val got = mvTopK.refresh().scan.toDF.select("o_orderpriority", "o_orderkey")
        .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
      expect(Checks.topK(Model.topK(orderModel.values, K), got))
    }

  private def changelog(): Op = op("changelog") {
    val head = o.refresh().metadata.currentSnapshotId.get
    val rows = TableChanges.changelog(o, Some(cursor), Some(head))
      .select((Tables.OrderCols ++ Seq("_change_ordinal", "_change_type")).map(col): _*)
      .collect().toSeq
    (head, rows)
  } { case (head, rows) =>
    val changes = rows.map(r => (r.getInt(6), r.getString(7), Tables.toOrder(r)))
    expect(Checks.changelog(cursorRows, orderModel.snapshot, changes))
    cursor = head
    cursorRows = orderModel.snapshot
  }

  /** Keeps the last [[Retained]] snapshots: every view's cursor and the
    * changelog's sit at the head, so none of them expires. */
  private def expire(): Op = op("expire") {
    o.refresh()
    o.expireSnapshots().olderThan(System.currentTimeMillis() + 1).retainLast(Retained)
      .cleanExpiredFiles(true).commit()
  } { _ =>
    val kept = catalog.loadTable(o.name).metadata.snapshots.size
    if (kept > Retained) throw new CheckFailed(s"expiry kept $kept snapshots, want <= $Retained")
    checkOrders()
  }
}
