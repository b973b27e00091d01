package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HadoopCatalog
import graft.core.Schema
import graft.ops.IncrementalAgg.AggView
import graft.streaming.{MaterializedAgg, TableChanges}
import graft.table.IceTable

/** The changelog reports only rows live at each commit's parent: a row an
  * earlier merge-on-read delete masked is never reported again, whether a
  * later copy-on-write rewrite drops its file, a later position delete
  * overlaps it, or a later DV restates its position. Each case checks the
  * changelog against a brute-force diff of consecutive snapshots, and an
  * aggregate MV folded from it against its recomputation. */
class ChangelogLiveRowsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val catalog = new HadoopCatalog(
    Files.createTempDirectory("cl-live-wh").toString, spark)

  override def afterAll(): Unit = spark.stop()

  def orders: DataFrame = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
  val view = AggView(keys = Seq("o_custkey"))

  def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** (row, change type, commit ordinal) from diffing each commit's table
    * state against its parent's */
  def bruteForce(t: IceTable, from: Long): Seq[String] = {
    val chain = t.metadata.ancestorsOf(t.metadata.currentSnapshotId.get).reverse
      .dropWhile(_.snapshotId != from)
    chain.sliding(2).zipWithIndex.flatMap { case (Seq(p, s), ordinal) =>
      val before = t.scan.useSnapshot(p.snapshotId).toDF
      val after = t.scan.useSnapshot(s.snapshotId).toDF
      rowsOf(after.exceptAll(before).withColumn("t", lit("insert"))
        .withColumn("o", lit(ordinal))) ++
        rowsOf(before.exceptAll(after).withColumn("t", lit("delete"))
          .withColumn("o", lit(ordinal)))
    }.toSeq.sorted
  }

  def changelogOf(t: IceTable, from: Long): Seq[String] =
    rowsOf(TableChanges.changelog(t.refresh(), Some(from))
      .drop("_commit_snapshot_id"))

  def mvRows(mv: IceTable): Seq[String] =
    rowsOf(mv.refresh().scan.toDF.select("o_custkey", "cnt"))

  def recomputed(t: IceTable): Seq[String] =
    rowsOf(t.refresh().scan.toDF.groupBy("o_custkey").agg(count(lit(1)).as("cnt")))

  /** table + aggregate MV bootstrapped at its first append; `steps` run
    * the deletes, the MV refreshing after each */
  def check(name: String, props: Map[String, String])(steps: IceTable => Unit*): Unit = {
    val t = catalog.createTable(name, Schema.fromSpark(orders.schema), properties = props)
    t.append(orders.repartition(2))
    val src = catalog.loadTable(name)
    val from = src.metadata.currentSnapshotId.get
    val mvSchema = MaterializedAgg.schemaFor(view, src)
    val mv = catalog.createTable(s"${name}_mv", mvSchema)
    MaterializedAgg.bootstrap(src, mv, view)
    steps.foreach { step =>
      step(catalog.loadTable(name))
      MaterializedAgg.refreshOnce(src.refresh(), mv.refresh(), view)
      assert(mvRows(mv) === recomputed(src), "aggregate MV vs its recomputation")
    }
    val cl = changelogOf(src, from)
    assert(cl.nonEmpty)
    assert(cl === bruteForce(src.refresh(), from), "changelog vs brute-force snapshot diff")
  }

  test("a copy-on-write rewrite of masked rows reports only the live ones") {
    check("cl_cow", Map.empty)(
      _.deletePositional("o_orderkey < 100"),
      _.delete("o_orderkey < 300"))
  }

  test("overlapping position deletes report each row once") {
    check("cl_pos", Map.empty)(
      _.deletePositional("o_orderkey < 100"),
      _.deletePositional("o_orderkey < 300"))
  }

  test("a DV restating prior positions reports each row once") {
    check("cl_dv", Map("format-version" -> "3"))(
      _.deleteAsDeletionVector("o_orderkey < 100"),
      _.deleteAsDeletionVector("o_orderkey < 300"))
  }
}
