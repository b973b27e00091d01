package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HadoopCatalog
import graft.core.{BTrue, ExprParser, PathUtil, Schema}
import graft.streaming.TableChanges
import graft.table.{FileScanTask, IceScan, IceTable}

/** Carry-over cancellation runs as one signed aggregate over every
  * copy-on-write commit of a changelog range, read by one planned scan
  * whose tasks are tagged with their commit and side: its shuffle count
  * and scan leaves do not grow with the commits, and its rows equal the
  * per-commit two-way `exceptAll` it replaces, kept here as the oracle. */
class ChangelogShuffleSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val catalog = new HadoopCatalog(
    Files.createTempDirectory("cl-shuffle-wh").toString, spark)

  override def afterAll(): Unit = spark.stop()

  def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** shuffle-map stages run while `body` runs: stages that wrote shuffle
    * records */
  def shuffleStagesOf(body: => Unit): Int = {
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (Option(e.stageInfo.taskMetrics)
            .exists(_.shuffleWriteMetrics.recordsWritten > 0)) {
          stages.incrementAndGet(); ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; Thread.sleep(500) } // let async listener events drain
    finally spark.sparkContext.removeSparkListener(listener)
    stages.get()
  }

  val kvs = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType),
    StructField("s", StringType)))

  def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), kvs)

  test("carry-over cancellation runs the same shuffles over 1, 2 and 4 CoW commits") {
    val rows = (0 until 400).map(i => Row(java.lang.Long.valueOf(i % 20), i * 0.5, s"r$i"))
    val counts = Seq(1, 2, 4).map { n =>
      val t = catalog.createTable(s"cow_$n", Schema.fromSpark(kvs))
      t.append(frame(rows).repartition(4))
      val from = t.metadata.currentSnapshotId.get
      (0 until n).foreach(k => catalog.loadTable(s"cow_$n").delete(s"k = $k"))
      val cl = TableChanges.changelog(catalog.loadTable(s"cow_$n"), Some(from))
      // the 8n files the n rewrites added and removed: one scan leaf,
      // bin-packed to the session's parallelism
      val scans = cl.queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      assert(scans.size === 1, s"scan leaves over $n commits")
      assert(scans.head.inputPartitions.size <= spark.sparkContext.defaultParallelism,
        s"input partitions over $n commits")
      var changed = 0L
      val stages = shuffleStagesOf { changed = cl.collect().length.toLong }
      // each commit rewrites files that keep other keys' rows: those
      // carried rows cancel, the deleted key's remain
      assert(changed === 20L * n)
      assert(cl.filter(col("_change_type") =!= "delete").count() === 0)
      stages
    }
    assert(counts.distinct === Seq(1), s"shuffle stages over 1, 2, 4 commits: $counts")
  }

  /** The replaced formula: per commit, the rows of the data files it
    * added against the rows its removed files held live at the parent,
    * `exceptAll` both ways where it did both; the changelog's metadata
    * columns added as before. Removed and added files come from the two
    * snapshots' plans, not the manifest diff the changelog walks. */
  def oracle(t: IceTable, from: Long, to: Long, filter: Option[String]): DataFrame = {
    val chain = t.metadata.ancestorsOf(to).reverse.dropWhile(_.snapshotId != from).drop(1)
    def rowFiltered(df: DataFrame) = filter.map(df.filter).getOrElse(df)
    def read(tasks: Seq[FileScanTask]) = rowFiltered(IceScan.read(t, tasks, t.schema))
    chain.zipWithIndex.flatMap { case (s, ordinal) =>
      val before = t.planTasksAt(s.parentSnapshotId.get)
      val after = t.planTasksAt(s.snapshotId)
      assert(after.forall(_.deletes.isEmpty), "the oracle covers data-file commits only")
      val (was, is) = (before.map(k => PathUtil.canon(k.file.filePath)).toSet,
        after.map(k => PathUtil.canon(k.file.filePath)).toSet)
      val added = after.filterNot(k => was(PathUtil.canon(k.file.filePath)))
        .map(k => FileScanTask(k.file, Nil, BTrue))
      val removed = before.filterNot(k => is(PathUtil.canon(k.file.filePath)))
      val sides = (if (added.isEmpty) None else Some(read(added)),
        if (removed.isEmpty) None else Some(read(removed))) match {
        case (Some(i), Some(d)) => Seq(i.exceptAll(d) -> "insert", d.exceptAll(i) -> "delete")
        case (i, d) => i.map(_ -> "insert").toSeq ++ d.map(_ -> "delete")
      }
      sides.map { case (df, tpe) =>
        df.withColumn("_change_type", lit(tpe))
          .withColumn("_change_ordinal", lit(ordinal))
          .withColumn("_commit_snapshot_id", lit(s.snapshotId))
      }
    }.reduceOption(_ unionByName _).getOrElse(spark.emptyDataFrame)
  }

  /** rows with null keys and values, NaN, −0.0 and 0.0, and duplicates */
  def batch(rnd: Random, n: Int): Seq[Row] = {
    val vs = Seq[java.lang.Double](null, Double.NaN, -0.0, 0.0, 1.5, -2.25)
    val rows = Seq.fill(n) {
      Row(if (rnd.nextInt(8) == 0) null else java.lang.Long.valueOf(rnd.nextInt(12).toLong),
        if (rnd.nextBoolean()) vs(rnd.nextInt(vs.size))
        else java.lang.Double.valueOf(rnd.nextInt(5) * 0.5),
        Seq(null, "a", "b", "c")(rnd.nextInt(4)))
    }
    rows ++ rows.filter(_ => rnd.nextInt(4) == 0)
  }

  /** A seeded range of overwrites, deletes and an append over a table of
    * `props` whose rows `shape` completes, checked against the oracle
    * whole, from its fourth commit and under two filters. */
  def differential(name: String, seed: Int, props: Map[String, String] = Map.empty,
      shape: DataFrame => DataFrame = identity): Unit = {
    val rnd = new Random(seed)
    def rows(rs: Seq[Row]) = shape(frame(rs))
    val t = catalog.createTable(name, Schema.fromSpark(rows(Nil).schema), properties = props)
    t.append(rows(batch(rnd, 120)).repartition(3))
    val from = t.metadata.currentSnapshotId.get
    // each overwrite removes the rows one filter matches (rewriting the
    // files that also hold others) and adds fresh rows, duplicates, and
    // some of the removed rows again, which must cancel; −0.0 rewritten
    // as 0.0 cancels too, as under exceptAll
    Seq("k = 3", "k IS NULL", "v < 0.5", "s = 'b'").foreach { f =>
      val gone = catalog.loadTable(name).scan.filter(f).toDF.select("k", "v", "s")
        .collect().toSeq
      val back = gone.filter(_ => rnd.nextBoolean()).map { r =>
        if (!r.isNullAt(1) && java.lang.Double.compare(r.getDouble(1), -0.0) == 0)
          Row(r.get(0), 0.0, r.get(2))
        else r
      }
      catalog.loadTable(name).overwrite(rows(back ++ batch(rnd, 10)), ExprParser.parse(f))
    }
    catalog.loadTable(name).delete("k = 7")
    catalog.loadTable(name).append(rows(batch(rnd, 8)))
    catalog.loadTable(name).delete("k = 1 AND s = 'a'")

    val tl = catalog.loadTable(name)
    val to = tl.metadata.currentSnapshotId.get
    val mid = tl.metadata.ancestorsOf(to).reverse.dropWhile(_.snapshotId != from)(3).snapshotId
    for ((lo, filter) <- Seq((from, None), (mid, None), (from, Some("k < 6")),
        (from, Some("s = 'a'")))) {
      val got = TableChanges.changelog(tl, Some(lo), Some(to), filter.map(ExprParser.parse))
      val want = oracle(tl, lo, to, filter)
      assert(rowsOf(got) === rowsOf(want), s"range from $lo, filter $filter")
    }
  }

  for (seed <- Seq(1, 2)) test(s"the changelog equals per-commit exceptAll both ways (seed $seed)") {
    differential(s"diff_$seed", seed)
  }

  test("a changelog over an ORC table equals the oracle") {
    differential("diff_orc", 3, props = Map("write.format.default" -> "orc"))
  }

  test("a data column named _tag neither shadows nor is shadowed by the task tag") {
    differential("diff_tag", 4,
      shape = _.withColumn("_tag", coalesce(col("k"), lit(-1L)) * 2 + 1))
  }

  test("a file one commit adds and a later one removes reads once per side") {
    val t = catalog.createTable("add_remove", Schema.fromSpark(kvs))
    t.append(frame((0 until 40).map(i => Row(java.lang.Long.valueOf(i % 4), i * 1.0, s"a$i"))))
    val from = t.metadata.currentSnapshotId.get
    catalog.loadTable("add_remove").append(
      frame((0 until 6).map(i => Row(java.lang.Long.valueOf(i % 3 + 10), i * 1.0, s"b$i")))
        .coalesce(1))
    def paths(t: IceTable) =
      t.planTasksAt(t.metadata.currentSnapshotId.get).map(_.file.filePath).toSet
    val added = paths(catalog.loadTable("add_remove")) -- paths(t)
    catalog.loadTable("add_remove").delete("k = 11")
    catalog.loadTable("add_remove").append(frame(Seq(Row(12L, 0.5, "c"))))
    val tl = catalog.loadTable("add_remove")
    assert(added.size === 1 && (added & paths(tl)).isEmpty,
      "the appended file is rewritten within the range")
    val to = tl.metadata.currentSnapshotId.get
    assert(rowsOf(TableChanges.changelog(tl, Some(from), Some(to))) ===
      rowsOf(oracle(tl, from, to, None)))
  }

  test("the task tag is not a column of catalog tables") {
    val wh = Files.createTempDirectory("cl-tag-wh").toString
    spark.conf.set("spark.sql.catalog.tagcat", "graft.spark.GraftCatalog")
    spark.conf.set("spark.sql.catalog.tagcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tagcat.db")
    spark.sql("CREATE TABLE tagcat.db.t (k BIGINT)")
    spark.sql("INSERT INTO tagcat.db.t VALUES (1)")
    assert(spark.sql("SELECT _file FROM tagcat.db.t").count() === 1)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT _tag FROM tagcat.db.t").collect())
    assert(e.getMessage.contains("_tag"))
  }
}
