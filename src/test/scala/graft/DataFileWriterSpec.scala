package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HadoopCatalog
import graft.core._
import graft.meta.{DataFile, PartitionSpec}
import graft.table.{Locations, StatsHarvester, WriteFiles}

/** The in-task parquet writer: a write is one job after its input's
  * stages, each task's DataFile equals the one harvested from the file
  * afterwards, nothing but data files lands under `data/`, and a retried
  * task commits its rows once. */
class DataFileWriterSpec extends AnyFunSuite with BeforeAndAfterAll {

  // two attempts per task: the retry test fails every first attempt
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4,2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val warehouse: String = Files.createTempDirectory("dfw-wh").toString
  lazy val catalog = new HadoopCatalog(warehouse, spark)

  override def beforeAll(): Unit = {
    spark.conf.set("spark.sql.catalog.g", "graft.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.g.warehouse", warehouse)
  }

  override def afterAll(): Unit = spark.stop()

  def orders: DataFrame = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")

  /** Jobs started while `body` runs, each as the RDD names of its stages. */
  def jobsOf(body: => Unit): Seq[Seq[String]] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.add(e.stageInfos.flatMap(_.rddInfos.map(_.name))); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; Thread.sleep(500) } // let async listener events drain
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.asScala.toSeq
  }

  test("a 30-row append into a year-partitioned table is two jobs") {
    val schema = Schema.fromSpark(orders.schema)
    val t = catalog.createTable("db.jobs_append", schema,
      PartitionSpec.build(schema, 0, ("o_orderdate", YearTransform, "year")),
      properties = Map("format-version" -> "2"))
    t.append(orders.limit(500))
    val batch = spark.createDataFrame(orders.limit(30).collect().toSeq.asJava, orders.schema)
    // the input's shuffle to the write tasks, then the write itself
    assert(jobsOf(t.append(batch)).size === 2)
    assert(t.scan.toDF.count() === 530)
  }

  test("a copy-on-write SQL UPDATE commits with no footer-harvest job") {
    val t = catalog.createTable("db.jobs_update", Schema.fromSpark(orders.schema),
      properties = Map("format-version" -> "2"))
    t.append(orders.repartition(4))
    val before = t.scan.planFiles().map(_.file.filePath).toSet
    val custkey = orders.head().getAs[Long]("o_custkey")
    val jobs = jobsOf(spark.sql(
      s"UPDATE g.db.jobs_update SET o_totalprice = o_totalprice + 7 WHERE o_custkey = $custkey"))
    // the harvest was a job over the staged paths, parallelized
    assert(!jobs.exists(_.contains("ParallelCollectionRDD")), jobs)
    assert(jobs.size === 3, jobs)
    // the staged files were committed as the data files
    val added = catalog.loadTable("db.jobs_update").scan.planFiles()
      .map(_.file.filePath).filterNot(before)
    assert(added.nonEmpty && added.forall(_.contains("/data/cow-")), added)
    def rows(df: DataFrame) = df.select("o_orderkey", "o_totalprice").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows(spark.table("g.db.jobs_update")) === rows(orders.withColumn("o_totalprice",
      when(col("o_custkey") === custkey, col("o_totalprice") + 7)
        .otherwise(col("o_totalprice")))))
  }

  /** Bounds in a form `==` compares by value (byte arrays, NaN). */
  def comparable(f: DataFile): DataFile = {
    def v(x: Any): Any = x match {
      case b: Array[Byte] => b.toSeq
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case d: Float => java.lang.Float.floatToIntBits(d)
      case o => o
    }
    f.copy(lowerBounds = f.lowerBounds.map { case (k, x) => k -> v(x) },
      upperBounds = f.upperBounds.map { case (k, x) => k -> v(x) },
      partition = f.partition.map(v))
  }

  /** Writes `df` and compares each task-built DataFile with the file's
    * footer read back; returns the task-built ones. */
  def sameAsReadBack(schema: Schema, spec: PartitionSpec, df: DataFrame,
      props: Map[String, String]): Seq[DataFile] = {
    val location = Files.createTempDirectory("dfw-parity").toString
    val commit = java.util.UUID.randomUUID().toString
    val written = WriteFiles.write(spark, location, schema, spec, df, commit, props = props)
    assert(written.nonEmpty)
    val stage = Locations.stageDir(location, commit, props)
    written.foreach { f =>
      val back = StatsHarvester.fileToDataFile(f.filePath, stage, schema.leafColInfo,
        spec.fields.map(WriteFiles.SyntheticPrefix + _.name),
        spec.partitionType(schema).map(_.fieldType.repr),
        modes = WriteFiles.metricsModes(schema, props))
      assert(comparable(f) === comparable(back))
      assert(f.fileSizeInBytes === Files.size(Paths.get(f.filePath)))
    }
    assert(written.map(_.recordCount).sum === df.count())
    written
  }

  val long5k: String = "z" * 5000 // over parquet's 4 KB footer-statistics limit

  def typedRows: Seq[Row] = (0 until 40).map { i =>
    def orNull[T](v: T): Any = if (i % 7 == 3) null else v
    Row(i.toLong,
      orNull(Row(i, s"inner-$i")),
      orNull((0 until i % 3).map(j => s"e$j")),
      orNull(Map(s"k$i" -> i)),
      orNull(new java.math.BigDecimal(s"${i * 3}.25")),
      orNull(java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(i * 11L))),
      orNull(java.time.LocalDateTime.of(2021, 3, 1, 0, 0).plusHours(i * 5L)),
      orNull(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1600000000L + i * 3600L))),
      orNull(new java.util.UUID(i.toLong, i * 31L).toString),
      if (i % 5 == 0) Double.NaN else orNull(i * 0.5),
      if (i % 6 == 0) Float.NaN else orNull(i.toFloat),
      orNull(s"none-$i"), orNull(s"counts-$i"), orNull(s"truncated-string-$i"),
      if (i == 7) long5k else orNull(s"full-bounds-$i"),
      Seq("a b", "x/y=z%", "ünï", "+plus", "", null)(i % 6))
  }

  val typedSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("st", StructType(Seq(StructField("a", IntegerType), StructField("b", StringType)))),
    StructField("ls", ArrayType(StringType)),
    StructField("mp", MapType(StringType, IntegerType)),
    StructField("dec", DecimalType(10, 2)),
    StructField("d", DateType),
    StructField("ts", TimestampNTZType),
    StructField("tstz", TimestampType),
    StructField("u", StringType),
    StructField("dbl", DoubleType),
    StructField("flt", FloatType),
    StructField("s_none", StringType),
    StructField("s_counts", StringType),
    StructField("s_trunc", StringType),
    StructField("s_full", StringType),
    StructField("p", StringType)))

  /** The typed table's iceberg schema: `u` is a uuid. */
  def typedIceSchema: Schema = {
    val s = Schema.fromSpark(typedSchema)
    Schema(s.fields.map(f => if (f.name == "u") f.copy(fieldType = IUUID) else f))
  }

  val modeProps: Map[String, String] = Map(
    "write.metadata.metrics.column.s_none" -> "none",
    "write.metadata.metrics.column.s_counts" -> "counts",
    "write.metadata.metrics.column.s_trunc" -> "truncate(4)",
    "write.metadata.metrics.column.s_full" -> "full")

  def typedFrame: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(typedRows, 3), typedSchema)

  test("the task-built DataFile equals the footer read back: every type, every mode") {
    val schema = typedIceSchema
    val unpart = sameAsReadBack(schema, PartitionSpec.Unpartitioned, typedFrame, modeProps)
    // non-vacuous: each mode shaped what the footer gave
    def id(name: String) = schema.findField(name).get
    assert(unpart.forall(f => !f.valueCounts.contains(id("s_none").id)))
    assert(unpart.exists(_.valueCounts.contains(id("s_counts").id)))
    assert(unpart.forall(f => !f.lowerBounds.contains(id("s_counts").id)))
    assert(unpart.exists(_.upperBounds.get(id("s_trunc").id).exists(_.toString.length == 4)))
    val part = PartitionSpec.build(schema, 0, ("p", IdentityTransform, "p"),
      ("d", DayTransform, "d_day"), ("id", BucketTransform(3), "id_b"))
    val parted = sameAsReadBack(schema, part, typedFrame, modeProps)
    // values that need %XX escaping come back exactly, null and "" apart
    assert(parted.map(_.partition.head).toSet ===
      Set("a b", "x/y=z%", "ünï", "+plus", "", null))
    assert(parted.exists(_.filePath.contains("_p_p=x%2Fy%3Dz%25/")))
  }

  test("write.uuid.fixed16: FLBA(16) uuids and uuid partitions, DataFile as read back") {
    val schema = typedIceSchema
    val props = modeProps + ("write.uuid.fixed16" -> "true")
    val part = PartitionSpec.build(schema, 0, ("u", IdentityTransform, "u"))
    val files = sameAsReadBack(schema, part, typedFrame.filter(col("id") < 12), props) ++
      sameAsReadBack(schema, PartitionSpec.Unpartitioned, typedFrame, props)
    val uid = schema.findField("u").get.id
    assert(files.exists(_.lowerBounds.get(uid).exists(_.toString.length == 36)))
    assert(files.flatMap(_.partition).collect { case s: String => s }
      .contains(new java.util.UUID(1L, 31L).toString))
    // the file's uuid column is FIXED_LEN_BYTE_ARRAY(16)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      new org.apache.parquet.io.LocalInputFile(Paths.get(files.head.filePath)))
    val u = try reader.getFileMetaData.getSchema.getFields.asScala.find(_.getName == "u").get
      finally reader.close()
    assert(u.asPrimitiveType.getPrimitiveTypeName.name === "FIXED_LEN_BYTE_ARRAY")
  }

  /** Every file under the table's data root. */
  def dataFiles(t: graft.table.IceTable): Seq[String] = {
    val s = Files.walk(Paths.get(t.location, "data"))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString).toSeq
    finally s.close()
  }

  test("no _temporary, _SUCCESS or .crc under data/ after any write") {
    val schema = Schema.fromSpark(orders.schema)
    val t = catalog.createTable("db.clean", schema,
      PartitionSpec.build(schema, 0, ("o_orderstatus", IdentityTransform, "status")),
      properties = Map("format-version" -> "2"))
    t.append(orders.filter(col("o_orderkey") < 2000))
    t.overwrite(orders.filter(col("o_orderkey") < 1000), ExprParser.parse("o_orderkey < 1000"))
    spark.sql("DELETE FROM g.db.clean WHERE o_orderkey < 40")
    t.refresh()
    t.deletePositional("o_orderkey < 80")
    t.deleteEqualityKeys(orders.filter(col("o_orderkey") < 120).select("o_orderkey"))
    t.upsert(orders.filter(col("o_orderkey") < 300), Seq("o_orderkey"))
    t.setProperties("write.delete.mode" -> "merge-on-read")
    spark.sql("DELETE FROM g.db.clean WHERE o_orderkey BETWEEN 500 AND 520")
    val files = dataFiles(catalog.loadTable("db.clean"))
    assert(files.nonEmpty)
    val junk = files.filter(p => p.contains("_temporary") || p.endsWith("_SUCCESS") ||
      p.endsWith(".crc"))
    assert(junk.isEmpty, junk)
    assert(spark.table("g.db.clean").count() ===
      orders.filter(col("o_orderkey") < 2000 && !col("o_orderkey").between(500, 520)).count())
  }

  test("a task failing its first attempt still commits each row once") {
    val t = catalog.createTable("db.retry", Schema.fromSpark(orders.schema),
      properties = Map("write.spark.max-records-per-file" -> "10"))
    val input = spark.createDataFrame(
      spark.sparkContext.parallelize(orders.limit(100).collect().toSeq, 2), orders.schema)
    val failAt = input.rdd.mapPartitionsWithIndex((i, rows) =>
      if (i == 0) rows.drop(24).take(1).map(_.getAs[Long]("o_orderkey")) else Iterator.empty)
      .collect().head
    // after two full files of this attempt are closed
    val boom = udf { (k: Long) =>
      if (TaskContext.get().attemptNumber() == 0 && k == failAt)
        throw new IllegalStateException("injected first-attempt failure")
      k
    }.asNondeterministic()
    t.append(input.withColumn("o_orderkey", boom(col("o_orderkey"))))
    val keys = t.scan.toDF.select("o_orderkey").collect().map(_.getLong(0)).toSeq
    assert(keys.size === 100)
    assert(keys.toSet === input.select("o_orderkey").collect().map(_.getLong(0)).toSet)
    // the failed attempt removed what it wrote: every file is committed
    val live = t.scan.planFiles().map(_.file.filePath).toSet
    assert(dataFiles(t).toSet === live)
  }
}
