package graft

import java.net.URI
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HadoopCatalog
import graft.core.Schema

/** A local filesystem registered under a NON-file scheme: every path the
  * engine touches resolves through the Hadoop FileSystem API (the remote
  * branch of metadata IO, manifest avro, puffin, parquet writes, footer
  * harvest), exactly as an hdfs:// or s3a:// warehouse would. */
class MockFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path => HPath}
  override def getUri: URI = URI.create("mockfs:///")
  // RawLocalFileSystem loads permissions LAZILY via `new java.io.File(uri)`,
  // which rejects non-file schemes — return statuses with permissions
  // pre-populated so nothing ever triggers the lazy load
  private def eager(st: FileStatus): FileStatus = new FileStatus(
    st.getLen, st.isDirectory, 1, st.getBlockSize, st.getModificationTime, 0,
    org.apache.hadoop.fs.permission.FsPermission.getDefault, "u", "g", st.getPath)
  override def getFileStatus(f: HPath): FileStatus = eager(super.getFileStatus(f))
  override def listStatus(f: HPath): Array[FileStatus] = super.listStatus(f).map(eager)
}

/** AbstractFileSystem binding for mockfs:// so FileContext operations —
  * the no-overwrite commit rename — resolve on the scheme too. */
class MockAbstractFs(uri: URI, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.DelegateToFileSystem(
      uri, new MockFs(), conf, "mockfs", false)

/** End-to-end over a mockfs:// warehouse — the FileIO seam the reference
  * ships as fsspec backends (ref: pyiceberg/io/fsspec.py), exercised here
  * through Hadoop's scheme registry. */
class RemoteFsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.hadoop.fs.mockfs.impl", classOf[MockFs].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.mockfs.impl",
      classOf[MockAbstractFs].getName)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val warehouse: String = "mockfs://" + Files.createTempDirectory("mock-wh").toString
  lazy val catalog = new HadoopCatalog(warehouse, spark)

  override def afterAll(): Unit = spark.stop()

  def orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")

  test("create + append + scan a table on a non-file scheme") {
    val t = catalog.createTable("o_remote", Schema.fromSpark(orders.schema))
    t.append(orders)
    assert(t.scan.toDF.count() === orders.count())
    // predicate pushdown + metadata count still work through the scheme
    val want = orders.filter(col("o_orderkey") <= 500).count()
    assert(t.scan("o_orderkey <= 500").toDF.count() === want)
    assert(t.scan("o_orderkey <= 500").count() === want)
  }

  test("MoR position deletes + stats round-trip on a non-file scheme") {
    val t = catalog.loadTable("o_remote")
    t.deletePositional("o_orderstatus = 'F'")
    val want = orders.filter(col("o_orderstatus") =!= "F")
    assert(t.scan.toDF.count() === want.count())
    // per-file stats survived the Hadoop-path footer harvest
    val files = t.inspect.dataFiles()
    assert(files.agg(sum("record_count")).collect()(0).getLong(0) === orders.count())
  }

  test("DSv2 reads over a non-file scheme (columnar and MoR row paths)") {
    def v2(name: String) = spark.read.format("graft")
      .option("warehouse", warehouse).option("table", name).load()
    // o_remote carries position deletes → row reader resolves them with
    // the factory-shipped session conf (knows the mockfs scheme); the
    // test before this one decoded the same delete file, so drop it from
    // the per-JVM index or this read would open nothing on mockfs
    graft.spark.DeleteIndex.clear()
    val decoded = graft.spark.DeleteIndex.decoded.get()
    assert(v2("o_remote").count() ===
      orders.filter(col("o_orderstatus") =!= "F").count())
    assert(graft.spark.DeleteIndex.decoded.get() > decoded)
  }

  test("distributed planning ships the session conf to manifest readers") {
    val t = catalog.loadTable("o_remote")
    val snap = t.metadata.currentSnapshot.get
    val manifests = graft.meta.ManifestIO.readManifestList(snap.manifestList)
    val spec = t.metadata.specById(manifests.head.partitionSpecId)
    val shipped = graft.meta.Io.confEntries(spark)
    // simulate an executor JVM: the driver-installed confFactory is absent,
    // so only the conf entries shipped in the planning closure can resolve
    // the scheme (ADVICE r5: the >64-manifest branch used a bare conf)
    // disable the FileSystem cache on both confs: a warm in-process cache
    // would resolve mockfs for ANY conf, masking what a fresh executor sees
    val saved = graft.meta.Io.confFactory
    try {
      val bare = new org.apache.hadoop.conf.Configuration()
      bare.setBoolean("fs.mockfs.impl.disable.cache", true)
      graft.meta.Io.confFactory = () => bare
      // a fresh executor has neither the fallback factory nor the
      // driver's per-scheme registration — nor the driver's warm entry
      // cache, which would otherwise serve the manifest without IO
      graft.meta.Io.deregister(warehouse)
      graft.meta.ManifestIO.clearManifestCache()
      intercept[Exception](graft.meta.ManifestIO.readManifest(
        manifests.head.manifestPath, spec, t.schema))
      val fromShipped = graft.meta.Io.confFrom(shipped)
      fromShipped.setBoolean("fs.mockfs.impl.disable.cache", true)
      assert(graft.meta.ManifestIO.readManifest(manifests.head.manifestPath,
        spec, t.schema, fromShipped).nonEmpty)
    } finally {
      graft.meta.Io.confFactory = saved
      graft.meta.Io.register(warehouse, () => spark.sessionState.newHadoopConf())
    }
    // and the real distributed branch plans end-to-end on the scheme
    val savedThreshold = graft.table.IceScan.distributedPlanningThreshold
    try {
      graft.table.IceScan.distributedPlanningThreshold = 1
      assert(t.scan.planFiles().nonEmpty)
    } finally graft.table.IceScan.distributedPlanningThreshold = savedThreshold
  }

  test("per-scheme registration survives another catalog's fallback factory") {
    // ADVICE r5: a second catalog's constructor overwrites the process
    // fallback; mockfs paths must keep resolving through THIS catalog's
    // scheme registration, not the (hostile) fallback
    val saved = graft.meta.Io.confFactory
    try {
      val bare = new org.apache.hadoop.conf.Configuration()
      bare.setBoolean("fs.mockfs.impl.disable.cache", true)
      graft.meta.Io.confFactory = () => bare
      assert(catalog.loadTable("o_remote").scan.planFiles().nonEmpty)
    } finally graft.meta.Io.confFactory = saved
  }

  test("commit write never clobbers an existing version on a non-file scheme") {
    // RawLocalFileSystem.rename maps to rename(2), which silently REPLACES
    // the target — the no-overwrite guarantee must come from the
    // FileContext layer. The loser must see false and the winner's bytes
    // must survive.
    val _ = catalog // installs Io.confFactory with the mockfs bindings
    val p = s"$warehouse/casfile-${java.util.UUID.randomUUID()}.json"
    assert(graft.meta.Io.writeBytesIfAbsent(p, "winner".getBytes("UTF-8")))
    assert(!graft.meta.Io.writeBytesIfAbsent(p, "loser".getBytes("UTF-8")))
    assert(new String(graft.meta.Io.readBytes(p), "UTF-8") === "winner")
  }

  test("removeOrphanFiles lists per-prefix distributed over a non-file scheme") {
    val t = catalog.createTable("o_orphan_remote", Schema.fromSpark(orders.schema))
    t.append(orders.limit(100))
    val referenced = new graft.table.IceScan(t).planFiles().map(_.file.filePath)
    // orphans across MANY first-level prefixes (the executor fan-out unit)
    val fs = new org.apache.hadoop.fs.Path(t.location)
      .getFileSystem(graft.meta.Io.confFor(t.location))
    val orphanPaths = (1 to 8).map { i =>
      val p = new org.apache.hadoop.fs.Path(s"${t.location}/data/prefix$i/orphan-$i.parquet")
      val out = fs.create(p)
      out.write(Array.fill[Byte](16)(i.toByte)); out.close()
      p.toString
    }
    val deleted = graft.table.Maintenance
      .removeOrphanFiles(t, System.currentTimeMillis() + 60000)
    val deletedCanon = deleted.map(graft.core.PathUtil.canon).toSet
    assert(orphanPaths.map(graft.core.PathUtil.canon).forall(deletedCanon),
      "orphans under every prefix must be found by the distributed listing")
    assert(referenced.map(graft.core.PathUtil.canon).forall(!deletedCanon.contains(_)),
      "referenced files must survive")
    assert(t.scan.toDF.count() === 100)
  }

  test("catalog listing, rename and reload on a non-file scheme") {
    catalog.createNamespace("ns1")
    val t = catalog.createTable("ns1.t2", Schema.fromSpark(orders.schema))
    t.append(orders.limit(100))
    assert(catalog.listTables("ns1") === Seq("ns1.t2"))
    catalog.renameTable("ns1.t2", "ns1.t3")
    assert(catalog.loadTable("ns1.t3").scan.toDF.count() === 100)
    assert(!catalog.tableExists("ns1.t2"))
  }
}
