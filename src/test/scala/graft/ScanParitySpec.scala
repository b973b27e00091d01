package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HadoopCatalog
import graft.core._
import graft.table.{IceScan, IceTable}

/** The table-API frames (`IceScan.toDF*`, the internal task reads) and the
  * SQL face (`spark.table` over GraftCatalog) run on one reader; both must
  * return the rows computed independently from the source DataFrames —
  * including `_file`, `_pos` and the v3 lineage columns. */
class ScanParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val warehouse: String = Files.createTempDirectory("parity-wh").toString
  lazy val catalog = new HadoopCatalog(warehouse, spark)

  override def beforeAll(): Unit = {
    spark.conf.set("spark.sql.catalog.p", "graft.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.p.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS p.db")
  }

  override def afterAll(): Unit = spark.stop()

  def orders: DataFrame = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
  val cols: Seq[String] = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")

  def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** table-API frame and SQL-face frame both equal the expected rows */
  def same(api: DataFrame, sql: DataFrame, expected: DataFrame): Unit = {
    val want = rowsOf(expected)
    assert(want.nonEmpty)
    assert(rowsOf(api) === want, "table API")
    assert(rowsOf(sql) === want, "SQL face")
  }

  def sqlTable(name: String): DataFrame = spark.table(s"p.db.$name")

  /** the engine's read with `_file` / `_pos` over the table's current plan */
  def apiWithPos(t: IceTable): DataFrame =
    IceScan.read(t, t.scan.planFiles(), t.schema, keepFile = true, keepPos = true)
      .withColumnRenamed("__file", "_file").withColumnRenamed("__pos", "_pos")

  /** expected coordinates: each planned data file read raw by Spark's own
    * parquet source, rows numbered by its row index */
  def rawWithPos(t: IceTable): DataFrame =
    t.scan.planFiles().map { tk =>
      spark.read.parquet(tk.file.filePath).select(cols.map(col) ++ Seq(
        lit(PathUtil.canon(tk.file.filePath)).as("_file"),
        col("_metadata.row_index").as("_pos")): _*)
    }.reduce(_ unionByName _)

  val live = col("o_orderkey") >= 200

  test("v2 position deletes: rows and (_file, _pos) agree across faces") {
    val t = catalog.createTable("db.pos", Schema.fromSpark(orders.schema))
    t.append(orders.repartition(3))
    t.deletePositional("o_orderkey < 200")
    same(t.scan.toDF, sqlTable("pos").select(cols.map(col): _*), orders.filter(live))
    same(apiWithPos(t), sqlTable("pos").select((cols :+ "_file" :+ "_pos").map(col): _*),
      rawWithPos(t).filter(live))
  }

  test("v3 deletion vectors: rows, coordinates and lineage agree across faces") {
    val t0 = catalog.createTable("db.dv", Schema.fromSpark(orders.schema),
      properties = Map("format-version" -> "3"))
    t0.append(orders.repartition(3))
    t0.deleteAsDeletionVector("o_orderkey < 200")
    val t = catalog.loadTable("db.dv")
    same(t.scan.toDF, sqlTable("dv").select(cols.map(col): _*), orders.filter(live))
    same(apiWithPos(t), sqlTable("dv").select((cols :+ "_file" :+ "_pos").map(col): _*),
      rawWithPos(t).filter(live))
    // lineage: first_row_id + row index, the entry's data sequence number
    val expected = t.scan.planFiles().map { tk =>
      spark.read.parquet(tk.file.filePath).select(cols.map(col) ++ Seq(
        (col("_metadata.row_index") + lit(tk.file.firstRowId.get)).as("_row_id"),
        lit(tk.dataSequenceNumber).as("_last_updated_sequence_number")): _*)
    }.reduce(_ unionByName _).filter(live)
    same(t.scan.toDFWithLineage, sqlTable("dv").select((cols :+ "_row_id" :+
      "_last_updated_sequence_number").map(col): _*), expected)
  }

  test("equality deletes agree across faces") {
    val t = catalog.createTable("db.eq", Schema.fromSpark(orders.schema))
    t.append(orders.repartition(2))
    t.deleteEqualityKeys(orders.select("o_orderkey").filter(!live))
    same(t.scan.toDF, sqlTable("eq").select(cols.map(col): _*), orders.filter(live))
    same(apiWithPos(t), sqlTable("eq").select((cols :+ "_file" :+ "_pos").map(col): _*),
      rawWithPos(t).filter(live))
  }

  test("ORC files with position deletes agree across faces") {
    val dir = Files.createTempDirectory("parity-orc").toString
    orders.repartition(2).write.mode("overwrite").orc(dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".orc"))
      .map(_.getAbsolutePath).toSeq
    val t = catalog.createTable("db.orc", Schema.fromSpark(orders.schema))
    t.addFiles(files)
    t.deletePositional("o_orderkey < 200")
    same(t.scan.toDF, sqlTable("orc").select(cols.map(col): _*), orders.filter(live))
    // positions of a single-split ORC file are its read order
    val expected = t.scan.planFiles().map { tk =>
      val raw = spark.read.orc(tk.file.filePath).coalesce(1)
      raw.select(cols.map(col) ++ Seq(lit(PathUtil.canon(tk.file.filePath)).as("_file"),
        monotonically_increasing_id().as("_pos")): _*)
    }.reduce(_ unionByName _).filter(live)
    same(apiWithPos(t), sqlTable("orc").select((cols :+ "_file" :+ "_pos").map(col): _*),
      expected)
  }

  test("ORC add_files files with renamed nested leaves agree across faces") {
    val dir = Files.createTempDirectory("parity-orc-nested").toString
    val src = orders.limit(80).select(col("o_orderkey"),
      struct(col("o_orderstatus").as("status"), col("o_totalprice").as("price")).as("info"),
      array(struct(col("o_custkey").as("cust"))).as("items"),
      map(col("o_orderpriority"), col("o_orderdate")).as("attrs"))
    src.coalesce(1).write.orc(s"$dir/n")
    val one = new java.io.File(s"$dir/n").listFiles()
      .find(_.getName.endsWith(".orc")).get.getAbsolutePath
    val t = catalog.createTable("db.orc_nested", Schema.fromSpark(src.schema))
    t.addFiles(Seq(one))
    t.updateSchema.renameColumn("info.price", "amount").commit()
    t.updateSchema.renameColumn("items.element.cust", "customer").commit()
    val expected = src.select(col("o_orderkey"),
      struct(col("info.status").as("status"), col("info.price").as("amount")).as("info"),
      transform(col("items"), x => struct(x.getField("cust").as("customer"))).as("items"),
      col("attrs"))
    same(catalog.loadTable("db.orc_nested").scan.toDF, sqlTable("orc_nested"), expected)
  }

  test("add_files files with renamed struct, list and map leaves agree across faces") {
    val dir = Files.createTempDirectory("parity-ext").toString
    val src = orders.limit(80).select(col("o_orderkey"),
      struct(col("o_orderstatus").as("status"), col("o_totalprice").as("price")).as("info"),
      array(struct(col("o_orderstatus").as("status"), col("o_custkey").as("cust")))
        .as("items"),
      map(lit("k"), struct(col("o_orderpriority").as("prio"))).as("attrs"))
    src.coalesce(1).write.parquet(s"$dir/n")
    val one = new java.io.File(s"$dir/n").listFiles()
      .find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    val t = catalog.createTable("db.ext", Schema.fromSpark(src.schema))
    t.addFiles(Seq(one))
    t.updateSchema.renameColumn("info.price", "amount").commit()
    t.updateSchema.renameColumn("info", "details").commit()
    t.updateSchema.renameColumn("items.element.status", "state").commit()
    t.updateSchema.renameColumn("attrs.value.prio", "priority").commit()
    val expected = src.select(col("o_orderkey"),
      struct(col("info.status").as("status"), col("info.price").as("amount")).as("details"),
      transform(col("items"), x => struct(x.getField("status").as("state"),
        x.getField("cust").as("cust"))).as("items"),
      map_from_entries(transform(map_entries(col("attrs")), e => struct(e.getField("key"),
        struct(e.getField("value").getField("prio").as("priority")).as("value")))).as("attrs"))
    val re = catalog.loadTable("db.ext")
    same(re.scan.toDF, sqlTable("ext"), expected)
    // nested pruning reaches the renamed leaf
    same(re.scan.toDF.select(col("details.amount")), sqlTable("ext").select(col("details.amount")),
      src.select(col("info.price").as("amount")))
  }

  test("a column added with an initial default reads it over older files") {
    val t = catalog.createTable("db.dflt", Schema.fromSpark(orders.schema))
    val (older, newer) = (orders.filter(col("o_orderkey") < 3000),
      orders.filter(col("o_orderkey") >= 3000))
    t.append(older)
    t.updateSchema.addColumn("region", IString, default = Some("EU")).commit()
    val re = catalog.loadTable("db.dflt")
    // newer rows carry their own value — an explicit NULL stays NULL
    val newRows = newer.withColumn("region",
      when(col("o_orderkey") % 2 === 0, lit("US")).otherwise(lit(null).cast("string")))
    re.append(newRows)
    val expected = older.withColumn("region", lit("EU")).unionByName(newRows)
    val t2 = catalog.loadTable("db.dflt")
    same(t2.scan.toDF, sqlTable("dflt"), expected)
  }

  test("a v3 unknown column reads as NULL on both faces") {
    val schema = Schema(Seq(
      NestedField(1, "id", ILong, required = true),
      NestedField(2, "mystery", IUnknown)))
    val t = catalog.createTable("db.unk", schema, properties = Map("format-version" -> "3"))
    t.append(spark.range(5).toDF("id").withColumn("mystery", lit(null)))
    same(t.scan.toDF, sqlTable("unk"),
      spark.range(5).toDF("id").withColumn("mystery", lit(null)))
  }

  test("uuid stored as string and as write.uuid.fixed16 agree across faces") {
    import spark.implicits._
    val uuids = (1 to 12).map(i => new java.util.UUID(i * 7919L, i * 104729L))
    val rows = uuids.zipWithIndex.map { case (u, i) => (i + 1, u.toString) }.toDF("id", "u")
    val schema = Schema(Seq(NestedField(1, "id", IInt, required = true),
      NestedField(2, "u", IUUID)))
    val plain = catalog.createTable("db.uuid_s", schema)
    plain.append(rows)
    val fixed = catalog.createTable("db.uuid_f", schema,
      properties = Map("write.uuid.fixed16" -> "true"))
    fixed.append(rows)
    same(plain.scan.toDF, sqlTable("uuid_s"), rows)
    same(fixed.scan.toDF, sqlTable("uuid_f"), rows)
    same(fixed.scan(s"u = '${uuids(3)}'").toDF, sqlTable("uuid_f").filter(col("u") === uuids(3).toString),
      rows.filter(col("id") === 4))
  }

  test("ns timestamps read with the ns->us downcast on both faces") {
    // a TIMESTAMP(NANOS) parquet file (the physical shape a v3 writer
    // produces) wrapped in hand-built v3 metadata: the library cannot
    // write ns columns
    import graft.meta._
    import org.apache.parquet.schema.{LogicalTypeAnnotation => L, Types => PTypes}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
    val dir = Files.createTempDirectory("parity-ns").toString
    val mt = PTypes.buildMessage()
      .required(INT64).named("id")
      .optional(INT64).as(L.timestampType(false, L.TimeUnit.NANOS)).named("ts")
      .optional(INT64).as(L.timestampType(true, L.TimeUnit.NANOS)).named("tsz")
      .named("ns")
    val file = s"$dir/ns.parquet"
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file))
      .withConf(new org.apache.hadoop.conf.Configuration()).withType(mt).build()
    val ns = Seq(1700000000123456789L, 1700000001999999999L, -1500L)
    try ns.zipWithIndex.foreach { case (v, i) =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(mt)
      g.add("id", i + 1L); g.add("ts", v); g.add("tsz", v)
      w.write(g)
    } finally w.close()
    val schema = Schema(Seq(NestedField(1, "id", ILong, required = true),
      NestedField(2, "ts", ITimestampNs), NestedField(3, "tsz", ITimestamptzNs)))
    val t = catalog.createTable("db.ns", schema, properties = Map("format-version" -> "3"))
    val spec = t.metadata.specById(t.metadata.defaultSpecId)
    val metaDir = s"${t.metadata.location}/metadata"
    val mPath = s"$metaDir/m-ns.avro"
    val len = ManifestIO.writeManifest(mPath, Seq(ManifestEntry(status = 1, snapshotId = 9L,
      dataSequenceNumber = 1L, fileSequenceNumber = 1L,
      dataFile = DataFile(content = 0, filePath = file, fileFormat = "PARQUET",
        partition = Seq.empty, recordCount = 3L,
        fileSizeInBytes = new java.io.File(file).length()))), spec, schema)
    val listPath = s"$metaDir/snap-9-ns.avro"
    ManifestIO.writeManifestList(listPath, Seq(ManifestFile(mPath, len, spec.specId,
      content = 0, sequenceNumber = 1L, minSequenceNumber = 1L, addedSnapshotId = 9L,
      addedFilesCount = 1, existingFilesCount = 0, deletedFilesCount = 0,
      addedRowsCount = 3L, existingRowsCount = 0L, deletedRowsCount = 0L,
      partitions = Nil)))
    val now = System.currentTimeMillis()
    catalog.commit("db.ns", catalog.currentVersion("db.ns").get, t.metadata.copy(
      lastSequenceNumber = 1L, lastUpdatedMs = now, currentSnapshotId = Some(9L),
      snapshots = Seq(Snapshot(9L, None, 1L, now, listPath,
        Map("operation" -> "append"), t.metadata.currentSchemaId)),
      refs = Map("main" -> SnapshotRef(9L, "branch"))))
    def micros(df: DataFrame): DataFrame = df.select(col("id"),
      unix_micros(col("ts").cast("timestamp")).as("ts_us"), unix_micros(col("tsz")).as("tsz_us"))
    // floorDiv(ns, 1000): truncation on positives, floor before the epoch
    import spark.implicits._
    same(micros(catalog.loadTable("db.ns").scan.toDF), micros(sqlTable("ns")),
      Seq((1L, 1700000000123456L, 1700000000123456L), (2L, 1700000001999999L, 1700000001999999L),
        (3L, -2L, -2L)).toDF("id", "ts_us", "tsz_us"))
  }

  test("time travel across a schema change reads the snapshot's schema on both faces") {
    val t = catalog.createTable("db.tt", Schema.fromSpark(orders.schema))
    val (first, second) = (orders.filter(col("o_orderkey") < 3000),
      orders.filter(col("o_orderkey") >= 3000))
    t.append(first)
    val s1 = t.metadata.currentSnapshotId.get
    t.updateSchema.renameColumn("o_orderpriority", "prio").commit()
    t.updateSchema.addColumn("note", IString).commit()
    val re = catalog.loadTable("db.tt")
    re.append(second.withColumnRenamed("o_orderpriority", "prio").withColumn("note", lit("n")))
    val t2 = catalog.loadTable("db.tt")
    same(t2.scan.useSnapshot(s1).toDF, spark.sql(s"SELECT * FROM p.db.tt VERSION AS OF $s1"),
      first)
    same(t2.scan.toDF, sqlTable("tt"), first.withColumnRenamed("o_orderpriority", "prio")
      .withColumn("note", lit(null).cast("string"))
      .unionByName(second.withColumnRenamed("o_orderpriority", "prio").withColumn("note", lit("n"))))
  }

  test("a limit returns that many live rows on both faces") {
    val t = catalog.loadTable("db.pos")
    val liveKeys = orders.filter(live).select("o_orderkey").collect().map(_.getLong(0)).toSet
    val api = t.scan.limit(7).toDF.collect()
    val sql = spark.sql("SELECT * FROM p.db.pos LIMIT 7").collect()
    assert(api.length === 7 && sql.length === 7)
    assert((api ++ sql).forall(r => liveKeys.contains(r.getAs[Long]("o_orderkey"))))
    assert(t.scan.limit(7).count() === 7)
  }

  /** Spark jobs started while `body` runs */
  def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; Thread.sleep(500) } // let async listener events drain
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  test("a filtered toDF collect over 40 delete-free files runs exactly one Spark job") {
    val t = catalog.createTable("db.many", Schema.fromSpark(orders.schema))
    t.append(orders.repartition(40))
    assert(t.scan.planFiles().size === 40)
    assert(t.scan.planFiles().forall(_.deletes.isEmpty))
    val scan = t.scan("o_totalprice > 1000.0")
    var n = 0
    val jobs = jobsOf { n = scan.toDF.collect().length }
    assert(n === orders.filter(col("o_totalprice") > 1000.0).count())
    assert(jobs === 1, s"expected one Spark job, saw $jobs")
  }

  test("row-group pruning: a selective residual over a delete-bearing file reads fewer bytes") {
    val t = catalog.createTable("db.rg", Schema.fromSpark(orders.schema),
      properties = Map("write.parquet.row-group-size-bytes" -> "8192"))
    t.append(orders.repartition(1).sortWithinPartitions("o_orderkey"))
    t.deletePositional(In("o_orderkey", (7L to 6000L by 7L)))
    val t2 = catalog.loadTable("db.rg")
    val tasks = t2.scan.planFiles()
    assert(tasks.size === 1 && tasks.head.deletes.nonEmpty)
    assert(tasks.head.file.splitOffsets.size > 3, "fixture needs several row groups")
    val selective = col("o_orderkey") < 300
    def bytesOf(body: => Unit): Long = {
      val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          e.taskInfo.accumulables.filter(_.name.contains("parquet bytes read"))
            .flatMap(_.update).foreach(v => bytes.addAndGet(v.toString.toLong)); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try { body; Thread.sleep(500) }
      finally spark.sparkContext.removeSparkListener(listener)
      bytes.get()
    }
    var filtered: Seq[String] = Nil
    var all: Seq[String] = Nil
    def frame = IceScan.read(t2, tasks, t2.schema, keepFile = true, keepPos = true)
    val fBytes = bytesOf { filtered = rowsOf(frame.filter(selective)) }
    val aBytes = bytesOf { all = rowsOf(frame) }
    // the same rows and positions as the unfiltered read filtered afterwards
    val want = all.filter(r => r.stripPrefix("[").takeWhile(_ != ',').toLong < 300)
    assert(filtered.nonEmpty && filtered === want)
    assert(fBytes > 0 && fBytes < aBytes, s"filtered read $fBytes bytes, unfiltered $aBytes")
  }

  test("a copy-on-write SQL UPDATE keeps every row of a file whose row groups the condition prunes") {
    // the group-based rewrite reads WHOLE files: its pushed condition must
    // select files only, never skip row groups inside them
    val t = catalog.createTable("db.upd", Schema.fromSpark(orders.schema),
      properties = Map("write.parquet.row-group-size-bytes" -> "8192"))
    t.append(orders.repartition(1).sortWithinPartitions("o_orderkey"))
    assert(t.scan.planFiles().head.file.splitOffsets.size > 3)
    spark.sql("UPDATE p.db.upd SET o_totalprice = -1.0 WHERE o_orderkey < 300")
    val after = catalog.loadTable("db.upd").scan.toDF
    same(after, sqlTable("upd").select(cols.map(col): _*),
      orders.withColumn("o_totalprice",
        when(col("o_orderkey") < 300, lit(-1.0)).otherwise(col("o_totalprice"))))
  }
}
