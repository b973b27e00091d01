package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HadoopCatalog
import graft.core._
import graft.meta.{DataFile, FileContent}
import graft.spark.{DeleteFileRef, DeleteIndex}
import graft.streaming.TableChanges
import graft.table.{DataFileWriter, FileScanTask, IceTable}

/** Every delete source — a position-delete file, a DV blob, an equality
  * file — is decoded once per JVM and then served from the
  * [[DeleteIndex]]; reads through it return the rows computed from the
  * source DataFrames. */
class DeleteIndexSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val warehouse: String = Files.createTempDirectory("delidx-wh").toString
  lazy val catalog = new HadoopCatalog(warehouse, spark)

  override def beforeAll(): Unit = {
    spark.conf.set("spark.sql.catalog.d", "graft.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.d.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS d.db")
  }

  override def afterAll(): Unit = spark.stop()

  def orders: DataFrame = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
  val cols: Seq[String] = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

  def rowsOf(df: DataFrame): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted

  def decodedBy(body: => Unit): Long = {
    val before = DeleteIndex.decoded.get()
    body
    DeleteIndex.decoded.get() - before
  }

  val positionSchema: Schema = Schema(Seq(
    NestedField(2147483546, "file_path", IString, required = true),
    NestedField(2147483545, "pos", ILong, required = true)))

  /** ONE position-delete file over the data files of `tasks`, deleting the
    * rows `dead` matches; `stored` renders the file_path each row stores.
    * Positions come from Spark's own parquet source, not the engine. */
  def positionDeleteFile(tasks: Seq[FileScanTask], dead: Column,
      stored: String => String = identity): DataFile = {
    val stage = s"${Files.createTempDirectory("delidx-del")}/d"
    val rows = tasks.map { tk =>
      spark.read.parquet(tk.file.filePath).filter(dead).select(
        lit(stored(PathUtil.canon(tk.file.filePath))).as("file_path"),
        col("_metadata.row_index").as("pos"))
    }.reduce(_ union _).repartition(1).sortWithinPartitions("file_path", "pos")
    val Seq(written) = DataFileWriter.write(rows, DataFileWriter.spec(spark, stage,
      positionSchema.toSpark, positionSchema,
      modes = Map(2147483546 -> "full", 2147483545 -> "full")))
    written.copy(content = FileContent.PositionDeletes)
  }

  def withDeletes(name: String, files: Int, dead: Column,
      stored: String => String = identity): IceTable = {
    val t = catalog.createTable(s"db.$name", Schema.fromSpark(orders.schema))
    t.append(orders.repartition(files))
    assert(t.scan.planFiles().size === files)
    t.commitSnapshot("delete", added = Seq(positionDeleteFile(t.scan.planFiles(), dead, stored)),
      removedPaths = Set.empty)
    catalog.loadTable(s"db.$name")
  }

  test("one scan of 16 data files sharing one delete file decodes it once") {
    val t = withDeletes("shared", 16, col("o_orderkey") % 5 === 0)
    val tasks = t.scan.planFiles()
    assert(tasks.forall(_.deletes.size == 1))
    assert(tasks.map(_.deletes.head.filePath).distinct.size === 1)
    var rows: Seq[String] = Nil
    assert(decodedBy { rows = rowsOf(t.scan.toDF) } === 1)
    assert(rows === rowsOf(orders.filter(col("o_orderkey") % 5 =!= 0)))
  }

  test("three consecutive scans decode the shared delete file once") {
    val t = withDeletes("thrice", 16, col("o_orderkey") % 3 === 0)
    val want = rowsOf(orders.filter(col("o_orderkey") % 3 =!= 0))
    val decoded = decodedBy {
      assert(rowsOf(t.scan.toDF) === want)
      assert(rowsOf(spark.table("d.db.thrice")) === want)
      assert(rowsOf(t.scan.toDF) === want)
    }
    assert(decoded === 1)
  }

  test("4 concurrent tasks that miss the same delete file decode it once") {
    val t = catalog.loadTable("db.shared")
    DeleteIndex.clear()
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskStart(e: org.apache.spark.scheduler.SparkListenerTaskStart): Unit = {
        tasks.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    var rows: Seq[String] = Nil
    val decoded = try decodedBy { rows = rowsOf(t.scan.toDF); Thread.sleep(500) }
      finally spark.sparkContext.removeSparkListener(listener)
    assert(tasks.get() === 4, "16 small files bin-pack into one task per core")
    assert(decoded === 1)
    assert(rows === rowsOf(orders.filter(col("o_orderkey") % 5 =!= 0)))

    // the same race without Spark: four readers released together
    DeleteIndex.clear()
    val del = t.scan.planFiles().head.deletes.head
    val ref = DeleteFileRef(del.filePath, -1L, -1L, del.fileSizeInBytes)
    val conf = spark.sessionState.newHadoopConf()
    val gate = new java.util.concurrent.CyclicBarrier(4)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val got = try decodedBy {
      val futures = t.scan.planFiles().take(4).map { tk =>
        pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
          override def call(): Seq[Long] = {
            gate.await()
            DeleteIndex.positions(tk.file.filePath, Array(ref), conf, new DeleteIndex.Tally).toSeq
          }
        })
      }
      assert(futures.forall(_.get().nonEmpty))
    } finally pool.shutdown()
    assert(got === 1)
  }

  test("a foreign delete file storing file: URIs masks exactly the right rows") {
    val t = withDeletes("foreign", 4, col("o_orderkey") < 400, p => s"file://$p")
    val del = t.scan.planFiles().head.deletes.head.filePath
    val stored = spark.read.parquet(del).select("file_path").distinct().collect()
      .map(_.getString(0))
    assert(stored.nonEmpty && stored.forall(_.startsWith("file:///")))
    val want = rowsOf(orders.filter(col("o_orderkey") >= 400))
    assert(rowsOf(t.scan.toDF) === want)
    assert(rowsOf(spark.table("d.db.foreign")) === want)
  }

  test("a changelog over 36 position-delete files decodes them without listing them") {
    val t = catalog.createTable("db.many_deletes", Schema.fromSpark(orders.schema))
    t.append(orders.repartition(36))
    val from = t.metadata.currentSnapshotId.get
    val tasks = t.scan.planFiles()
    assert(tasks.size === 36)
    val dead = col("o_orderkey") % 3 === 0
    // one delete file per data file; the first stores file: URIs, as a
    // foreign writer may
    val files = tasks.zipWithIndex.map { case (tk, i) =>
      val stored: String => String = if (i == 0) p => s"file://$p" else identity
      positionDeleteFile(Seq(tk), dead, stored)
    }
    assert(spark.read.parquet(files.head.filePath).select("file_path").head().getString(0)
      .startsWith("file:///"))
    t.commitSnapshot("delete", added = files, removedPaths = Set.empty)
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(descriptions.add)
    }
    spark.sparkContext.addSparkListener(listener)
    var rows: Seq[String] = Nil
    try {
      rows = rowsOf(TableChanges.changelog(catalog.loadTable("db.many_deletes"), Some(from))
        .filter(col("_change_type") === "delete"))
      Thread.sleep(500) // let async listener events drain
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(rows === rowsOf(orders.filter(dead)))
    val listings = descriptions.toArray.toSeq.map(_.toString)
      .filter(_.startsWith("Listing leaf files"))
    assert(listings.isEmpty, s"listing jobs: $listings")
  }

  test("the changelog's position join broadcasts under the session's threshold, shuffles at -1") {
    val dead = col("o_orderkey") % 4 === 0
    val t = withDeletes("joined", 4, dead)
    val from = t.metadata.ancestorsOf(t.metadata.currentSnapshotId.get)(1).snapshotId
    /** (broadcast, sort-merge) joins the changelog ran */
    def joins(df: DataFrame): (Int, Int) = {
      df.collect()
      val plan = df.queryExecution.executedPlan
      (collect(plan) { case j: BroadcastHashJoinExec => j }.size,
        collect(plan) { case j: SortMergeJoinExec => j }.size)
    }
    val want = rowsOf(orders.filter(dead))
    val small = TableChanges.changelog(t, Some(from))
    assert(rowsOf(small) === want)
    assert(joins(small) === ((1, 0)))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val shuffled = TableChanges.changelog(catalog.loadTable("db.joined"), Some(from))
      assert(rowsOf(shuffled) === want)
      assert(joins(shuffled) === ((0, 1)))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("a DV naming its data file only by file_path bounds serves the changelog and a DV delete") {
    val t0 = catalog.createTable("db.dv_bounds", Schema.fromSpark(orders.schema),
      properties = Map("format-version" -> "3"))
    t0.append(orders.repartition(4))
    catalog.loadTable("db.dv_bounds").deleteAsDeletionVector("o_orderkey < 600")
    val t1 = catalog.loadTable("db.dv_bounds")
    val dvs = t1.scan.planFiles().flatMap(_.deletes).distinctBy(d => (d.filePath, d.contentOffset))
    // a foreign writer's DVs: the same blobs in another puffin file, with
    // referenced_data_file unset and the target in equal file_path bounds
    val copies = dvs.map(_.filePath).distinct.map { p =>
      val c = s"${p.stripSuffix(".puffin")}-copy.puffin"
      Files.copy(Paths.get(PathUtil.canon(p)), Paths.get(PathUtil.canon(c)))
      p -> c
    }.toMap
    val foreign = dvs.map(d => d.copy(filePath = copies(d.filePath), referencedDataFile = None))
    assert(foreign.forall(d => d.lowerBounds.contains(2147483546) &&
      d.lowerBounds.get(2147483546) == d.upperBounds.get(2147483546)))
    // the DVs dropped, then the foreign ones committed
    t1.commitSnapshot("delete", added = Nil, removedPaths = copies.keySet)
    val undeleted = catalog.loadTable("db.dv_bounds")
    assert(rowsOf(undeleted.scan.toDF) === rowsOf(orders))
    val from = undeleted.metadata.currentSnapshotId.get
    undeleted.commitSnapshot("delete", added = foreign, removedPaths = Set.empty)
    val t = catalog.loadTable("db.dv_bounds")
    assert(rowsOf(t.scan.toDF) === rowsOf(orders.filter(col("o_orderkey") >= 600)))
    val changes = TableChanges.changelog(t, Some(from))
    assert(changes.filter(col("_change_type") =!= "delete").count() === 0)
    assert(rowsOf(changes) === rowsOf(orders.filter(col("o_orderkey") < 600)))
    // a DV delete merges the foreign DVs' positions into its own
    t.deleteAsDeletionVector("o_orderkey >= 600 AND o_orderkey < 900")
    val merged = catalog.loadTable("db.dv_bounds")
    assert(rowsOf(merged.scan.toDF) === rowsOf(orders.filter(col("o_orderkey") >= 900)))
    assert(merged.scan.planFiles().flatMap(_.deletes).forall(_.referencedDataFile.isDefined))
    // a DV that names no data file either way is refused, not dropped
    val before = merged.metadata.currentSnapshotId.get
    val blind = foreign.head.copy(lowerBounds = Map.empty, upperBounds = Map.empty)
    merged.commitSnapshot("delete", added = Seq(blind), removedPaths = Set.empty)
    val err = intercept[IllegalStateException](
      TableChanges.changelog(catalog.loadTable("db.dv_bounds"), Some(before)).collect())
    assert(err.getMessage.contains("names no data file"))
  }

  test("a delete file rewritten at the same path with another size is decoded again") {
    val t = withDeletes("rewritten", 4, col("o_orderkey") < 100)
    val old = t.scan.planFiles().head.deletes.head
    assert(decodedBy {
      assert(rowsOf(t.scan.toDF) === rowsOf(orders.filter(col("o_orderkey") >= 100)))
    } === 1)
    val next = positionDeleteFile(t.scan.planFiles(), col("o_orderkey") < 300)
    assert(next.fileSizeInBytes != old.fileSizeInBytes)
    val target = Paths.get(PathUtil.canon(old.filePath))
    Files.copy(Paths.get(PathUtil.canon(next.filePath)), target,
      StandardCopyOption.REPLACE_EXISTING)
    // the local file system would check the new bytes against the old
    // file's checksum sidecar
    Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
    t.commitSnapshot("overwrite", added = Seq(next.copy(filePath = old.filePath)),
      removedPaths = Set(old.filePath))
    val re = catalog.loadTable("db.rewritten")
    assert(re.scan.planFiles().head.deletes.head.fileSizeInBytes === next.fileSizeInBytes)
    assert(decodedBy {
      assert(rowsOf(re.scan.toDF) === rowsOf(orders.filter(col("o_orderkey") >= 300)))
    } === 1)
  }

  test("after the index is cleared a re-read decodes again and returns the same rows") {
    val t = catalog.createTable("db.mixed", Schema.fromSpark(orders.schema))
    t.append(orders.repartition(4))
    t.deletePositional("o_orderkey < 300")
    t.deleteEqualityKeys(orders.select("o_orderkey").filter(col("o_orderkey") % 4 === 1))
    val re = catalog.loadTable("db.mixed")
    val sources = re.scan.planFiles().flatMap(_.deletes).map(_.filePath).distinct.size
    assert(sources >= 2)
    val want = rowsOf(orders.filter(col("o_orderkey") >= 300 && col("o_orderkey") % 4 =!= 1))
    DeleteIndex.clear()
    assert(decodedBy(assert(rowsOf(re.scan.toDF) === want)) === sources)
    assert(decodedBy(assert(rowsOf(re.scan.toDF) === want)) === 0)
    DeleteIndex.clear()
    assert(decodedBy(assert(rowsOf(re.scan.toDF) === want)) === sources)
  }

  test("a v3 deletion vector is decoded once across scans") {
    val t0 = catalog.createTable("db.dv", Schema.fromSpark(orders.schema),
      properties = Map("format-version" -> "3"))
    t0.append(orders.repartition(4))
    t0.deleteAsDeletionVector("o_orderkey < 600")
    val t = catalog.loadTable("db.dv")
    val blobs = t.scan.planFiles().flatMap(_.deletes).map(d => (d.filePath, d.contentOffset))
      .distinct.size
    val want = rowsOf(orders.filter(col("o_orderkey") >= 600))
    assert(decodedBy(assert(rowsOf(t.scan.toDF) === want)) === blobs)
    assert(decodedBy(assert(rowsOf(spark.table("d.db.dv")) === want)) === 0)
  }

  /** the scan's custom SQL metrics after `df` ran */
  def scanMetrics(df: DataFrame): (Long, Long) = {
    df.collect()
    val Seq(scan) = collect(df.queryExecution.executedPlan) { case s: BatchScanExec => s }
    (scan.metrics("deleteFilesDecoded").value, scan.metrics("deleteIndexHits").value)
  }

  test("the scan reports delete files decoded and delete index hits") {
    withDeletes("metrics", 16, col("o_orderkey") % 7 === 0)
    assert(scanMetrics(spark.table("d.db.metrics")) === ((1L, 15L)))
    assert(scanMetrics(spark.table("d.db.metrics")) === ((0L, 16L)))
  }
}
