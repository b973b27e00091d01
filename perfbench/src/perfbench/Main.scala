package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

import graft.catalog.StaticTable
import graft.meta.ManifestIO
import graft.table.IceTable

/** Runs one workload in this JVM and prints its result as the last line
  * of standard output:
  *
  * {{{
  * perfbench.Main --workload serve --seed 1 --seconds 10 --trace 0 --dir <run dir> [--spans <file>]
  * }}}
  *
  * The workload stages its tables, runs an untimed warm-up and then the
  * measured window; set-up is the time from JVM start to the window. The
  * window runs whole rounds until `--seconds` of operation time have
  * passed and the workload's minimum of rounds is done. Checks run
  * between operations, with the clock stopped. */
object Main {
  /** op_tail_ms is p90 on every workload (see the README for the samples
    * beyond it). */
  val TailQuantile = 0.9

  final case class Done(id: Int, kind: String, ms: Double, cpuNs: Long,
      startUs: Long, endUs: Long, result: Any, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workload.Names.contains(workload), s"unknown workload $workload")
    val dir = Paths.get(opts("dir")).toAbsolutePath
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val warehouse = dir.resolve("warehouse").toString
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.ui.enabled", "false")
      // the status store keeps every job otherwise, so the heap would grow
      // with the number of operations run
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.g", "graft.spark.GraftCatalog")
      .config("spark.sql.catalog.g.warehouse", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      println(new Runner(spark, workload, opts("seed").toLong, opts("seconds").toDouble,
        opts("trace") == "1", warehouse, opts.get("spans"), jvmStartMs).run())
    } finally spark.stop()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def json(m: Map[String, (Double, String)]): String =
    m.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
}

final class Runner(spark: SparkSession, name: String, seed: Long, seconds: Double,
    trace: Boolean, warehouse: String, spansOut: Option[String], jvmStartMs: Long) {
  import Main._
  private val sc = spark.sparkContext
  private val tracer = new Tracer(trace)
  private val listener = new JobListener(trace)
  sc.addSparkListener(listener)
  private val catalog = new TracedCatalog(warehouse, spark, tracer)
  private val cpu = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var nextOp = 0

  // traced-run probes, per measured operation
  private val plans = mutable.ArrayBuffer[(Double, Int, Int, Int)]()
  private val manifests = mutable.ArrayBuffer[Double]()
  private val metadataKb = mutable.ArrayBuffer[Double]()
  private val summaries = mutable.ArrayBuffer[Map[String, String]]()
  private val seen = mutable.Map[String, Set[Long]]()
  // metadata version of each table as last probed: a commit through any
  // catalog instance, the SQL plugin's included, adds one
  private val versions = mutable.Map[String, Int]()
  private var commits = 0L

  def run(): String = {
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val w = Workload(name, Ctx(spark, catalog, new Gen(seed), warehouse), "bench")
    val staging = timed(w.stage())
    val warmUp = timed(w.warmUp.foreach { mk =>
      val d = execute(mk(), measured = false)
      if (!d.ok) throw new IllegalStateException(s"warm-up ${d.kind} failed")
    })
    tables = w.tables
    if (trace) tables.foreach { t =>
      seen(t.name) = snapshotIds(t)
      versions(t.name) = version(t)
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val conflicts0 = catalog.conflicts
    val done = mutable.ArrayBuffer[Done]()
    var rounds = 0
    var storageBytes = 0L
    while (rounds < w.minRounds || done.map(_.ms).sum < seconds * 1000) {
      rounds += 1
      w.round.foreach(mk => done += execute(mk(), measured = true))
      if (rounds == w.minRounds) storageBytes = bytesUnder(Paths.get(warehouse, w.ns))
    }
    BenchBus.drain(sc)
    // Spark frees cached and checkpointed blocks once their owners are
    // collected, from its cleaner thread: collect until that settles
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val n = done.size.toDouble
    val failed = done.count(!_.ok)
    val ms = done.map(_.ms).toSeq
    val metrics =
      if (!trace) Map(
        "setup_s" -> (setupS, "s"),
        "ops_per_s" -> (n / (ms.sum / 1000), "ops/s"),
        "op_p50_ms" -> (median(ms), "ms"),
        "op_tail_ms" -> (quantile(ms, TailQuantile), "ms"),
        "cpu_s_per_op" -> (done.map(_.cpuNs).sum / 1e9 / n, "s"),
        "heap_mb" -> (heapMb, "MB"),
        "storage_mb" -> (storageBytes / 1048576.0, "MB"),
        "spark_jobs_per_op" -> (listener.jobsInOps.get / n, "jobs/op"))
      else layers(w, done.toSeq, catalog.conflicts - conflicts0)
    System.err.println(f"perfbench: $name seed $seed: ${done.size} ops in $rounds rounds, " +
      f"$failed failed, set-up $setupS%.2f s (session $sessionS%.2f s, staging $staging%.2f s, " +
      f"warm-up $warmUp%.2f s), ops ${ms.sum / 1000}%.2f s; median ms " +
      done.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, ds) =>
        f"$k ${median(ds.map(_.ms).toSeq)}%.0f" }.mkString(", "))
    s"""{"correct": ${failed == 0}, "attempted": ${done.size}, "failed": $failed, """ +
      s""""metrics": ${json(metrics)}}"""
  }

  private def execute(op: Op, measured: Boolean): Done = {
    val id = nextOp
    nextOp += 1
    if (measured) {
      sc.setLocalProperty(JobListener.OpProperty, id.toString)
      tracer.op = id
    }
    val c0 = cpu.getProcessCpuTime
    val t0 = System.nanoTime()
    val s0 = tracer.nowUs
    val res = Try(tracer.span("op." + op.kind)(op.run()))
    val s1 = tracer.nowUs
    val ms = (System.nanoTime() - t0) / 1e6
    val c1 = cpu.getProcessCpuTime
    sc.setLocalProperty(JobListener.OpProperty, null)
    tracer.op = -1
    val ok = res.flatMap(v => Try(op.verify(v))) match {
      case Success(_) => true
      case Failure(e) =>
        System.err.println(s"perfbench: ${op.kind} (op $id) failed: $e")
        false
    }
    if (measured && trace) probe(op)
    Done(id, op.kind, ms, c1 - c0, s0, s1, res.getOrElse(null), ok)
  }

  private def snapshotIds(t: IceTable): Set[Long] =
    current(t).metadata.snapshots.map(_.snapshotId).toSet

  /** The table as its catalog holds it now, read from the metadata file
    * directly so the probe adds no catalog calls. */
  private def current(t: IceTable): IceTable = StaticTable.fromMetadata(metadataFile(t).toString, spark)

  private def metadataDir(t: IceTable): Path = Paths.get(java.net.URI.create(
    (if (t.location.contains(":")) t.location else "file:" + t.location) + "/metadata"))

  private def version(t: IceTable): Int =
    new String(Files.readAllBytes(metadataDir(t).resolve("version-hint.text")), "UTF-8").trim.toInt

  private def metadataFile(t: IceTable): Path = metadataDir(t).resolve(s"v${version(t)}.metadata.json")

  /** Traced run only: planning and metadata probes after an operation,
    * outside its timed span. */
  private def probe(op: Op): Unit = {
    op.scan.foreach { scan =>
      val t0 = System.nanoTime()
      val tasks = tracer.span("table.plan")(scan.planFiles())
      val planMs = (System.nanoTime() - t0) / 1e6
      val total = scan.snapshot.flatMap(_.summary.get("total-data-files")).map(_.toInt)
        .getOrElse(tasks.size)
      plans += ((planMs, tasks.size, total - tasks.size,
        tasks.flatMap(_.deletes).map(_.filePath).distinct.size))
    }
    tables.foreach { t =>
      val cur = current(t)
      cur.metadata.currentSnapshot.foreach { s =>
        manifests += ManifestIO.readManifestList(s.manifestList).size.toDouble
      }
      metadataKb += Files.size(metadataFile(t)) / 1024.0
      val v = version(t)
      commits += v - versions(t.name)
      versions(t.name) = v
      val was = seen.getOrElse(t.name, Set.empty)
      cur.metadata.snapshots.filterNot(s => was(s.snapshotId)).foreach(s => summaries += s.summary)
      seen(t.name) = cur.metadata.snapshots.map(_.snapshotId).toSet
    }
  }

  private var tables: Seq[IceTable] = Nil

  /** The per-layer metrics of a traced run, and its span file. */
  private def layers(w: Workload, done: Seq[Done], conflicts: Long): Map[String, (Double, String)] = {
    val n = done.size.toDouble
    val jobs = listener.jobList
    val spans = tracer.withJobs(jobs)
    val self = Tracer.selfTimes(spans)
    spansOut.foreach { f =>
      val p = Paths.get(f)
      Files.createDirectories(p.toAbsolutePath.getParent)
      Files.write(p, spans.sortBy(_.start).map(s => Tracer.toJson(s, self(s.id))).asJava)
    }
    val inOps = spans.filter(_.op >= 0)
    def named(s: String) = inOps.filter(_.name == s)
    def kindMs(kinds: String*): Double = {
      val xs = done.filter(d => kinds.contains(d.kind)).map(_.ms)
      if (xs.isEmpty) 0.0 else median(xs)
    }
    val totals = listener.totalsByOp
    def perOp(f: JobListener.Totals => Double): Double = totals.values.map(f).sum / n
    val jobsByOp = jobs.groupBy(_.op)
    val gapMs = done.map { d =>
      val cover = jobsByOp.getOrElse(d.id, Nil)
        .map(j => (math.max(j.start * 1000, d.startUs), math.min(j.end * 1000, d.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var reach = d.startUs
      cover.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
      (d.endUs - d.startUs - covered) / 1000.0
    }
    val refreshes = done.filter(_.kind.startsWith("refresh_"))
    def summed(key: String*): Seq[Double] = summaries.toSeq.filter(_.get("operation")
      .exists(_ != "replace")).map(s => key.flatMap(s.get).headOption.map(_.toDouble).getOrElse(0.0))
    val mb = 1048576.0
    Map(
      "catalog.commit_ms" -> (mean(named("catalog.commit").map(_.dur / 1000.0)), "ms"),
      "catalog.commits_per_op" -> (commits / n, "commits/op"),
      "catalog.conflicts" -> (conflicts.toDouble, "count"),
      "catalog.load_ms" -> (mean(named("catalog.load").map(_.dur / 1000.0)), "ms"),
      "catalog.loads_per_op" -> (named("catalog.load").size / n, "loads/op"),
      "meta.manifests_per_snapshot" -> (mean(manifests), "manifests"),
      "meta.metadata_json_kb" -> (mean(metadataKb), "KB"),
      "meta.metadata_mb" -> (w.tables.map(t => bytesUnder(metadataDir(t))).sum / mb, "MB"),
      "table.plan_ms" -> (if (plans.isEmpty) 0.0 else median(plans.map(_._1).toSeq), "ms"),
      "table.files_planned_per_scan" -> (mean(plans.map(_._2.toDouble)), "files"),
      "table.files_skipped_per_scan" -> (mean(plans.map(_._3.toDouble)), "files"),
      "table.delete_files_per_scan" -> (mean(plans.map(_._4.toDouble)), "files"),
      "table.lookup_ms" -> (kindMs("lookup"), "ms"),
      "table.range_ms" -> (kindMs("range"), "ms"),
      "table.agg_ms" -> (kindMs("agg"), "ms"),
      "table.time_travel_ms" -> (kindMs("time_travel"), "ms"),
      "table.append_ms" -> (kindMs("append"), "ms"),
      "table.upsert_ms" -> (kindMs("upsert"), "ms"),
      "table.delete_ms" -> (kindMs("sql_delete"), "ms"),
      "table.files_added_per_commit" -> (mean(summed("added-data-files")), "files"),
      "table.bytes_added_per_commit" -> (mean(summed("added-files-size")), "bytes"),
      "table.delete_files_added_per_commit" -> (mean(summed("added-delete-files")), "files"),
      "table.files_removed_per_commit" -> (mean(summed("removed-files", "deleted-data-files")), "files"),
      "spark.tasks_per_op" -> (perOp(_.tasks.toDouble), "tasks/op"),
      "spark.stages_per_op" -> (perOp(_.stages.toDouble), "stages/op"),
      "spark.task_cpu_s_per_op" -> (perOp(_.cpuNs / 1e9), "s/op"),
      "spark.input_mb_per_op" -> (perOp(_.inputBytes / mb), "MB/op"),
      "spark.shuffle_mb_per_op" -> (perOp(_.shuffleBytes / mb), "MB/op"),
      "spark.output_mb_per_op" -> (perOp(_.outputBytes / mb), "MB/op"),
      "spark.driver_gap_ms_per_op" -> (mean(gapMs), "ms/op"),
      "streaming.refresh_agg_ms" -> (kindMs("refresh_agg"), "ms"),
      "streaming.refresh_join_ms" -> (kindMs("refresh_join"), "ms"),
      "streaming.refresh_topk_ms" -> (kindMs("refresh_topk"), "ms"),
      "streaming.changelog_ms" -> (kindMs("changelog"), "ms"),
      "streaming.jobs_per_refresh" ->
        (mean(refreshes.map(d => jobsByOp.getOrElse(d.id, Nil).size.toDouble)), "jobs"),
      "streaming.groups_changed_per_refresh" -> (mean(refreshes.flatMap(_.result match {
        case (changed: Long, _) => Some(changed.toDouble)
        case _ => None
      })), "groups"))
  }
}
