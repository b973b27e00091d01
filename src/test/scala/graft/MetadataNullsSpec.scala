package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HadoopCatalog
import graft.core.Schema
import graft.ops.IncrementalAgg
import graft.ops.IncrementalAgg.AggView
import graft.streaming.{MaterializedAgg, TableChanges}
import graft.table.IceScan

/** Reads that carry `_file` / `_pos` keep the nulls of the data columns
  * beside them: the SQL row-level operations, the table API's file- and
  * position-keyed reads, the MV landing and the changelog's
  * merge-on-read branch all go through that read. */
class MetadataNullsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val warehouse: String = Files.createTempDirectory("meta-nulls-wh").toString
  lazy val catalog = new HadoopCatalog(warehouse, spark)

  override def beforeAll(): Unit = {
    spark.conf.set("spark.sql.catalog.nc", "graft.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.nc.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS nc.db")
  }

  override def afterAll(): Unit = spark.stop()

  def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  val typed = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType),
    StructField("i", IntegerType), StructField("b", BooleanType),
    StructField("d", DateType), StructField("s", StringType)))
  val nullRow = Row(null, null, null, null, null, null)
  val rows = Seq(Row(1L, 1.5, 3, true, java.sql.Date.valueOf("2024-01-02"), "a"), nullRow,
    Row(2L, null, null, false, null, "b"))

  /** a v2 table holding `rows` in ONE data file */
  def table(name: String): graft.table.IceTable = {
    val t = catalog.createTable(s"db.$name", Schema.fromSpark(typed),
      properties = Map("format-version" -> "2"))
    t.append(spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), typed))
    t
  }

  test("a copy-on-write SQL UPDATE and MERGE keep nulls in carried-over rows") {
    table("cow_up")
    spark.sql("UPDATE nc.db.cow_up SET s = 'z' WHERE k = 1")
    assert(rowsOf(spark.table("nc.db.cow_up")) === Seq(
      "[1,1.5,3,true,2024-01-02,z]", "[2,null,null,false,null,b]",
      "[null,null,null,null,null,null]"))
    table("cow_merge")
    spark.sql("""MERGE INTO nc.db.cow_merge t USING (SELECT 2L AS k) u ON t.k = u.k
      WHEN MATCHED THEN UPDATE SET s = 'y'""")
    assert(rowsOf(spark.table("nc.db.cow_merge")) === Seq(
      "[1,1.5,3,true,2024-01-02,a]", "[2,null,null,false,null,y]",
      "[null,null,null,null,null,null]"))
  }

  test("toDFWithFile and _file / _pos reads keep nulls") {
    val t = table("keyed")
    val want = rowsOf(t.scan.toDF)
    assert(want.contains("[null,null,null,null,null,null]"))
    // the metadata columns are collected, so the scan must emit them
    def data(df: DataFrame) =
      df.collect().map(r => Row.fromSeq(r.toSeq.take(typed.size)).toString).toSeq.sorted
    assert(data(t.scan.toDFWithFile) === want)
    assert(data(IceScan.read(t, t.scan.planFiles(), t.schema, keepFile = true,
      keepPos = true)) === want)
  }

  test("an aggregate MV with a null key and an all-null sum equals its recompute") {
    val kv = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType)))
    def frame(rs: Row*) = spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), kv)
    val src = catalog.createTable("db.agg_src", Schema.fromSpark(kv))
    src.append(frame(Row(null, null), Row(null, null), Row(1L, 2.0), Row(2L, null)))
    val view = AggView(keys = Seq("k"), sums = Seq("v"))
    val mv = catalog.createTable("db.agg_mv", MaterializedAgg.schemaFor(view, src))
    MaterializedAgg.bootstrap(src, mv, view)
    // only the null-key group changes: its current view row is found by
    // the landing's file-keyed read of the view, or never retired
    catalog.loadTable("db.agg_src").append(frame(Row(null, null), Row(3L, 1.0)))
    MaterializedAgg.refreshOnce(src.refresh(), mv.refresh(), view)
    val cols = view.stateCols.map(org.apache.spark.sql.functions.col)
    assert(rowsOf(mv.refresh().scan.toDF.select(cols: _*)) ===
      rowsOf(IncrementalAgg.init(src.refresh().scan.toDF, view).select(cols: _*)))
  }

  test("a changelog reports the null-bearing row a merge-on-read delete removes") {
    val t = table("mor_cl")
    val from = t.metadata.currentSnapshotId.get
    catalog.loadTable("db.mor_cl").deletePositional("k IS NULL")
    val cl = TableChanges.changelog(catalog.loadTable("db.mor_cl"), Some(from))
      .drop("_commit_snapshot_id")
    assert(rowsOf(cl) === Seq("[null,null,null,null,null,null,delete,0]"))
  }
}
