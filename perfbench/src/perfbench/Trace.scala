package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One recorded interval; times are epoch microseconds. `op` is the id of
  * the measured operation it belongs to, or -1. */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** Records a span around each call the benchmark makes into a layer.
  * Spans stay in memory until the run ends. When off, `span` only runs
  * its body. Calls come from the one client thread. */
final class Tracer(val on: Boolean) {
  private val base = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs: Long = base + System.nanoTime() / 1000L

  private val recorded = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 0
  /** The operation in progress, -1 between operations. */
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val t0 = nowUs
      try body
      finally {
        open = open.tail
        recorded += Span(id, parent, op, name, t0, nowUs)
      }
    }

  /** Adds Spark jobs as spans under the innermost span of their operation
    * that was open when the job started. */
  def withJobs(jobs: Seq[JobListener.Job]): Seq[Span] = {
    val byOp = recorded.groupBy(_.op)
    var id = nextId
    recorded.toSeq ++ jobs.map { j =>
      val start = j.start * 1000L
      val end = math.max(start, j.end * 1000L)
      val host = byOp.getOrElse(j.op, Nil).filter(s => s.start <= start && start <= s.end)
      id += 1
      Span(id, if (host.isEmpty) 0 else host.minBy(_.dur).id, j.op, "spark.job", start, end)
    }
  }
}

object Tracer {
  /** Self time of each span: its duration minus the part of it that its
    * children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var reach = s.start
      cs.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
      s.id -> (s.dur - covered)
    }.toMap
  }

  def toJson(s: Span, self: Long): String =
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
      s""""start_us":${s.start},"end_us":${s.end},"self_us":$self}"""
}

/** Counts the Spark jobs started inside measured operations (tagged with
  * the `perfbench.op` local property). With `detail` it also keeps each
  * job's interval and the stage and task totals of each operation. */
final class JobListener(detail: Boolean) extends SparkListener {
  import JobListener._
  val jobsInOps = new AtomicLong()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val totals = new ConcurrentHashMap[Int, Totals]()

  private def opOf(e: SparkListenerJobStart): Int =
    Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
      .map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = opOf(e)
    if (op >= 0) {
      jobsInOps.incrementAndGet()
      if (detail) {
        jobs.put(e.jobId, Job(op, e.time, e.time))
        e.stageIds.foreach(stageOp.putIfAbsent(_, op))
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(j => jobs.put(e.jobId, j.copy(end = e.time)))

  private def totalsOf(stage: Int): Option[Totals] =
    if (!detail) None
    else Option(stageOp.get(stage)).map(op => totals.computeIfAbsent(op, _ => new Totals))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    totalsOf(e.stageInfo.stageId).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    totalsOf(e.stageId).foreach { t =>
      t.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        t.cpuNs += m.executorCpuTime
        t.inputBytes += m.inputMetrics.bytesRead
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        t.outputBytes += m.outputMetrics.bytesWritten
      }
    }

  def jobList: Seq[Job] = jobs.values.asScala.toSeq
  def totalsByOp: Map[Int, Totals] = totals.asScala.toMap
}

object JobListener {
  val OpProperty = "perfbench.op"
  final case class Job(op: Int, start: Long, end: Long)
  final class Totals {
    var tasks = 0L; var stages = 0L; var cpuNs = 0L
    var inputBytes = 0L; var shuffleBytes = 0L; var outputBytes = 0L
  }
}
