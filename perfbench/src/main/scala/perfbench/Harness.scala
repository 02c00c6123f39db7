package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one workload run is given. `work` is the workload's fresh temp
  * root; it is deleted when the run ends. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
                     trace: Boolean, work: File, cores: Int) {
  def deadlineNs(from: Long): Long = from + seconds * 1000000000L
  def dir(name: String): String = new File(work, name).getAbsolutePath
}

/** One timed operation as the report lists it. */
final case class OpRecord(op: Int, name: String, wallS: Double, cpuS: Double,
                          startMs: Long, endMs: Long, foreignCores: Double,
                          stealCores: Double, load1: Double, leftoverRdds: Int,
                          error: Option[String],
                          engine: Option[EngineStats]) {
  def ok: Boolean = error.isEmpty
}

/** What a workload hands back to [[Main]]: timings for the end-to-end
  * metrics, and the per-layer values it could measure. `setupS` holds each
  * repeated set-up; `warmupS` is the untimed work between the last set-up
  * and the first timed operation. */
final case class Outcome(attempted: Int, failed: Int,
                         opSeconds: Seq[Double], itemsPerS: Double,
                         setupS: Seq[Double], warmupS: Double,
                         layers: Map[String, Double],
                         inputChecksum: String, ops: Seq[OpRecord],
                         notes: Seq[String], spans: Seq[(Span, Long)])

/** Times operations, checks them, and releases what they cached. */
final class Recorder(ctx: Ctx) {
  private val sc = ctx.spark.sparkContext
  val probe: Option[Probe] =
    if (ctx.trace) { val p = new Probe(sc); sc.addSparkListener(p); Some(p) }
    else None
  val tracer = new Tracer
  val ops = mutable.ArrayBuffer.empty[OpRecord]

  /** Runs `body` as operation number `ops.size`, under the timer, then
    * `check` outside it. A thrown exception or a check that returns an
    * error message fails the operation. Returns the body's value if it
    * completed. When traced, `children` names spans (epoch ms) the body
    * ran that the benchmark only learns of afterwards, such as triggers. */
  def op[A](name: String)(body: => A)(check: A => Option[String],
      children: A => Seq[(String, Long, Long)] = (_: A) => Nil): Option[A] = {
    val i = ops.size
    val h0 = Host.snap()
    probe.foreach(_.begin(i))
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out: Either[String, A] =
      try Right(if (ctx.trace) tracer.span(name, i)(body) else body)
      catch { case NonFatal(e) => Left(s"$name threw: $e") }
      finally probe.foreach(_.end())
    val t1 = System.nanoTime()
    val s1 = System.currentTimeMillis()
    val h1 = Host.snap()
    val leftover = release()
    val engine = probe.map { p =>
      p.settle()
      for (a <- out.toOption; (n, from, to) <- children(a))
        tracer.add(n, i, from, to)
      val e = p.stats(i)
      e.jobIntervals.foreach { case (a, b) => tracer.add("spark.job", i, a, b) }
      e
    }
    val error = out.fold(Some(_), a =>
      try check(a) catch { case NonFatal(e) => Some(s"check threw: $e") })
    ops += OpRecord(i, name, (t1 - t0) / 1e9, Host.selfCpuS(h0, h1), s0, s1,
      Host.foreignCores(h0, h1), Host.stealCores(h0, h1), h0.load1, leftover,
      error, engine)
    out.toOption
  }

  /** Drops cached frames and persisted RDDs, as `graft.Bench` does between
    * rows; returns how many RDDs were still persisted. */
  def release(): Int = {
    val left = sc.getPersistentRDDs.size
    ctx.spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    left
  }

  def close(): Unit = probe.foreach(sc.removeSparkListener)
}

object Harness {

  /** Runs `prepare` `reps` times, each on a fresh directory under `base`,
    * and keeps the last result; the others' directories are deleted.
    * `prepare` also returns a checksum of the inputs it generated, which
    * must be the same every time. Returns the result, the checksum and
    * each repetition's seconds. */
  def setup[A](base: String, reps: Int)(
      prepare: String => (A, String)): (A, String, Seq[Double]) = {
    val runs = (0 until reps).map { r =>
      val dir = s"$base/setup-$r"
      val t0 = System.nanoTime()
      val out = prepare(dir)
      val s = (System.nanoTime() - t0) / 1e9
      if (r < reps - 1) deleteTree(new File(dir))
      (out, s)
    }
    val sums = runs.map(_._1._2).distinct
    require(sums.size == 1, s"one seed gave different inputs: $sums")
    (runs.last._1._1, sums.head, runs.map(_._2))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  /** Files and bytes under a directory. */
  def treeSize(f: File): (Long, Long) =
    if (f.isDirectory)
      Option(f.listFiles()).toSeq.flatten.map(treeSize)
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.exists()) (1L, f.length()) else (0L, 0L)

  /** Median milliseconds of `reps` calls of `body`. */
  def medianMs(reps: Int)(body: => Any): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6 })

  /** Spark-layer metrics: the median over operations of each counter.
    * `windows` pairs each operation's wall window (epoch ms) with its
    * counters. */
  def engineLayers(windows: Seq[((Long, Long), EngineStats)],
                   cores: Int): Map[String, Double] = {
    if (windows.isEmpty) return Map.empty
    def med(f: (((Long, Long), EngineStats)) => Double) =
      Stats.median(windows.map(f))
    Map(
      "spark.jobs" -> med(_._2.jobs.toDouble),
      "spark.stages" -> med(_._2.stages.toDouble),
      "spark.tasks" -> med(_._2.tasks.toDouble),
      "spark.driver_only_ms" -> med { case ((a, b), e) =>
        Stats.uncovered(a, b, e.jobIntervals).toDouble },
      "spark.exec_run_ms" -> med(_._2.execRunMs.toDouble),
      "spark.exec_cpu_ms" -> med(_._2.execCpuMs.toDouble),
      "spark.gc_ms" -> med(_._2.gcMs.toDouble),
      "spark.core_busy_ratio" -> med { case ((a, b), e) =>
        e.execRunMs.toDouble / math.max(1L, b - a) / cores },
      "spark.shuffle_write_bytes" -> med(_._2.shuffleWriteBytes.toDouble),
      "spark.shuffle_read_bytes" -> med(_._2.shuffleReadBytes.toDouble),
      "spark.spill_bytes" -> med(_._2.spillBytes.toDouble),
      "spark.input_bytes" -> med(_._2.inputBytes.toDouble),
      "spark.records_read" -> med(_._2.recordsRead.toDouble),
      "spark.output_bytes" -> med(_._2.outputBytes.toDouble))
  }

  /** Host-contamination summary over the operations. */
  def hostLayers(ops: Seq[OpRecord]): Map[String, Double] =
    if (ops.isEmpty) Map.empty
    else Map(
      "host.foreign_cores_max" -> ops.map(_.foreignCores).max,
      "host.steal_cores_max" -> ops.map(_.stealCores).max,
      "host.contaminated_ops" ->
        ops.count(_.foreignCores > Main.ContaminatedCores).toDouble,
      "host.load1_max" -> ops.map(_.load1).max)
}
