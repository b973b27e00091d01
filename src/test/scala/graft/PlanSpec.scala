package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HadoopCatalog
import graft.core.Schema

/** Physical-plan assertions: the engine must produce the plan you'd want
  * at 100 TB, not just correct rows — filters reach the parquet scan,
  * projections prune the read schema, small join sides broadcast, and the
  * scan path stays inside whole-stage codegen. */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("raw scan pushes filters and prunes columns") {
    val df = queries.Relational.scanFilterSelect(spark, dir)
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(plan.contains("l_shipdate"), "filter column not pushed")
    // ReadSchema must NOT include unselected columns like l_returnflag
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_returnflag"), readSchema)
  }

  test("iceberg scan pushes residual filters into parquet") {
    val wh = new HadoopCatalog(
      java.nio.file.Files.createTempDirectory("plan_wh").toString, spark)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val t = wh.createTable("li", Schema.fromSpark(li.schema))
    t.append(li)
    val df = t.scan("l_quantity > 45.0").select("l_orderkey", "l_quantity").toDF
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [") && plan.contains("GreaterThan(l_quantity"),
      plan.linesIterator.filter(_.contains("Pushed")).mkString("\n"))
    // "*(n)" prefixes mark whole-stage-codegen stages in the plan string
    assert(plan.contains("*("), "scan path fell out of codegen")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_returnflag"), readSchema)
  }

  test("MoR scan pushes residual filters into the delete-applying reader") {
    // deletes apply inside the scan's reader, so nothing may sit between
    // the residual filter and the scan: its conjuncts must reach the
    // reader (parquet row-group pruning) on every deleted-from table
    val wh = new HadoopCatalog(
      java.nio.file.Files.createTempDirectory("plan_mor").toString, spark)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val t0 = wh.createTable("li_mor", Schema.fromSpark(li.schema))
    t0.upgradeFormatVersion(3)
    val t = wh.loadTable("li_mor")
    t.append(li)
    t.deleteAsDeletionVector("l_orderkey = 1")
    val t1 = wh.loadTable("li_mor")
    assert(t1.scan.planFiles().exists(_.deletes.nonEmpty))
    val df = t1.scan("l_quantity > 45.0").select("l_orderkey", "l_quantity").toDF
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [") && plan.contains("GreaterThan(l_quantity"),
      plan.linesIterator.filter(_.contains("Pushed")).mkString("\n"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_returnflag"), readSchema)
  }

  test("q3 join broadcasts the small dimension side") {
    val plan = planOf(queries.Relational.q3JoinTopK(spark, dir))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "expected a broadcast join for the customer dimension")
  }

  test("position-delete application adds no exchange (no data shuffle)") {
    val wh = new HadoopCatalog(
      java.nio.file.Files.createTempDirectory("plan_wh2").toString, spark)
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val t = wh.createTable("o", Schema.fromSpark(o.schema))
    t.append(o)
    t.deletePositional("o_orderkey <= 100")
    assert(t.scan.planFiles().exists(_.deletes.nonEmpty))
    val df = t.scan.toDF
    val plan = planOf(df)
    // deletes apply inside the scan's reader: no join, no shuffle
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
    assert(df.count() === o.filter("o_orderkey > 100").count())
  }

  test("day-partitioned range filter folds residuals to metadata-only") {
    val wh = new HadoopCatalog(
      java.nio.file.Files.createTempDirectory("plan_wh4").toString, spark)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val schema = Schema.fromSpark(li.schema)
    val t = wh.createTable("li_day", schema,
      graft.meta.PartitionSpec.build(schema, 0,
        ("l_shipdate", graft.core.DayTransform, "l_day")))
    t.append(li)
    // boundary-aligned range: every surviving day-partition folds to TRUE,
    // so count() is pure manifest arithmetic (zero file reads)
    val scan = t.scan("l_shipdate >= '1997-01-01'")
    val tasks = scan.planFiles()
    assert(tasks.nonEmpty)
    assert(tasks.forall(_.residual == graft.core.BTrue),
      tasks.map(_.residual).distinct.take(3).mkString("; "))
    assert(scan.count() === li.filter("l_shipdate >= '1997-01-01'").count())
  }

  test("metadata count plans zero data reads for residual-free files") {
    val wh = new HadoopCatalog(
      java.nio.file.Files.createTempDirectory("plan_wh3").toString, spark)
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val t = wh.createTable("o", Schema.fromSpark(o.schema))
    t.append(o)
    // unfiltered count must not launch a read of data columns: it is pure
    // manifest arithmetic (we can only observe the result + instant return)
    val start = System.nanoTime()
    val n = t.scan.count()
    assert(n === o.count())
    assert((System.nanoTime() - start) < 2e9, "metadata count took suspiciously long")
  }

  test("count() on a DV-maintained table launches zero Spark jobs") {
    val wh = new HadoopCatalog(
      java.nio.file.Files.createTempDirectory("plan_wh4").toString, spark)
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val t = wh.createTable("o_dv", Schema.fromSpark(o.schema))
    t.upgradeFormatVersion(3)
    t.append(o)
    t.deleteAsDeletionVector("o_orderkey <= 300")
    val want = o.filter(org.apache.spark.sql.functions.col("o_orderkey") > 300).count()
    // DV cardinality is manifest metadata — the count must be pure driver
    // arithmetic (recordCount − cardinality), no read job at any size
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val n = t.scan.count()
      Thread.sleep(500) // let async listener events drain
      assert(n === want)
      assert(jobs.get() === 0, s"expected a metadata-only count, saw ${jobs.get()} Spark jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
