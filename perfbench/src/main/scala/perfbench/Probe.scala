package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark engine counters for one operation, summed over its jobs' tasks. */
final case class EngineStats(jobs: Int, stages: Int, tasks: Int,
                             jobIntervals: Seq[(Long, Long)],
                             execRunMs: Long, execCpuMs: Long, gcMs: Long,
                             shuffleWriteBytes: Long, shuffleReadBytes: Long,
                             spillBytes: Long, inputBytes: Long,
                             recordsRead: Long, outputBytes: Long)

/** The benchmark's own Spark listener. Jobs are attributed to the
  * operation that was open when they started. The listener only sees
  * events after the bus delivers them, so [[settle]] runs a marker job and
  * waits for its end event, which the queue delivers after every earlier
  * event. */
final class Probe(sc: SparkContext) extends SparkListener {
  private val MarkerDesc = "perfbench-marker"

  private final class Job(val op: Int, val start: Long) {
    var end = -1L
    var stages, tasks = 0
    var run, cpuNs, gc, shW, shR, spill, in, recs, out = 0L
  }

  @volatile private var current: Int = -1
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  @volatile private var markersSeen = 0L
  private var markersRun = 0L

  def begin(op: Int): Unit = { current = op }
  def end(): Unit = { current = -1 }

  /** Blocks until every event posted before this call was delivered. */
  def settle(): Unit = {
    markersRun += 1
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(MarkerDesc)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(prev)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (markersSeen < markersRun && System.nanoTime() < deadline)
      Thread.sleep(2)
  }

  /** Counters of the operation's jobs, or of those that started inside
    * `within` (epoch ms, half-open) when it is given. */
  def stats(op: Int, within: Option[(Long, Long)] = None): EngineStats =
    synchronized {
      val js = jobs.values.filter(j => j.op == op && j.end >= 0 &&
        within.forall { case (a, b) => j.start >= a && j.start < b }).toSeq
      def sum(f: Job => Long) = js.map(f).sum
      EngineStats(js.size, js.map(_.stages).sum, js.map(_.tasks).sum,
        js.map(j => (j.start, j.end)), sum(_.run), sum(_.cpuNs) / 1000000L,
        sum(_.gc), sum(_.shW), sum(_.shR), sum(_.spill), sum(_.in),
        sum(_.recs), sum(_.out))
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val marker = Option(e.properties)
      .exists(p => p.getProperty("spark.job.description") == MarkerDesc)
    if (!marker && current >= 0) {
      jobs(e.jobId) = new Job(current, e.time)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId) match {
      case Some(j) => j.end = e.time
      case None => markersSeen += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get)
        .foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.run += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gc += m.jvmGCTime
        j.shW += m.shuffleWriteMetrics.bytesWritten
        j.shR += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.in += m.inputMetrics.bytesRead
        j.recs += m.inputMetrics.recordsRead
        j.out += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** Machine-wide CPU from /proc: what other processes burned while an
  * operation ran, so a stall on a shared host flags its own operation. */
object Host {
  final case class Snap(wallNs: Long, busyTicks: Long, stealTicks: Long,
                        selfTicks: Long, load1: Double)

  private val TicksPerSec = 100.0

  def snap(): Snap = {
    val cpu = read("/proc/stat").linesIterator.next().trim.split("\\s+")
      .drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal ...
    val busy = cpu.zipWithIndex.collect {
      case (v, i) if i != 3 && i != 4 && i < 8 => v }.sum
    val self = {
      val s = read("/proc/self/stat")
      val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
      f(11).toLong + f(12).toLong // utime, stime (fields 14, 15)
    }
    val load1 = read("/proc/loadavg").split(' ')(0).toDouble
    Snap(System.nanoTime(), busy, cpu(7), self, load1)
  }

  /** Cores' worth of CPU used by other processes between two snaps,
    * including time the hypervisor gave to other guests (steal). */
  def foreignCores(a: Snap, b: Snap): Double =
    cores(a, b, (b.busyTicks - a.busyTicks) - (b.selfTicks - a.selfTicks))

  /** CPU seconds this process used between two snaps. */
  def selfCpuS(a: Snap, b: Snap): Double = (b.selfTicks - a.selfTicks) / TicksPerSec

  /** Cores' worth of steal alone. */
  def stealCores(a: Snap, b: Snap): Double =
    cores(a, b, b.stealTicks - a.stealTicks)

  private def cores(a: Snap, b: Snap, ticks: Long): Double = {
    val wallS = (b.wallNs - a.wallNs) / 1e9
    if (wallS <= 0) 0.0 else math.max(0.0, ticks / TicksPerSec / wallS)
  }

  /** Peak resident set of this process so far, in MB. */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def read(path: String): String = {
    val src = scala.io.Source.fromFile(path)
    try src.mkString finally src.close()
  }
}

/** One recorded span; times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      start: Long, end: Long)

/** Spans kept in memory and written when the run ends. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[A](name: String, op: Int)(body: => A): A = {
    val id = synchronized { spans.size }
    val parent = open.headOption.getOrElse(-1)
    val t0 = System.currentTimeMillis()
    synchronized { spans += Span(id, parent, op, name, t0, t0) }
    open = id :: open
    try body finally {
      open = open.tail
      val t1 = System.currentTimeMillis()
      synchronized { spans(id) = spans(id).copy(end = t1) }
    }
  }

  /** A span observed after the fact (a Spark job, a streaming trigger);
    * its parent is the innermost recorded span that contains it. */
  def add(name: String, op: Int, start: Long, end: Long): Unit = synchronized {
    val parent = spans.filter(s => s.op == op && s.start <= start &&
      s.end >= end).sortBy(s => s.end - s.start).headOption.fold(-1)(_.id)
    spans += Span(spans.size, parent, op, name, start, end)
  }

  def all: Seq[Span] = synchronized { spans.toSeq }

  /** Self time of each span: its length minus what its children cover. */
  def selfTimes: Seq[(Span, Long)] = {
    val s = all
    val kids = s.groupBy(_.parent)
    s.map(sp => sp -> Stats.uncovered(sp.start, sp.end,
      kids.getOrElse(sp.id, Nil).map(c => (c.start, c.end))))
  }
}
