package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable.LinkedHashMap

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Metric names and units; BENCHMARK.json lists the same ones. */
object Metrics {
  final case class Metric(name: String, unit: String)

  val EndToEnd: Seq[Metric] = Seq(
    Metric("op_p50_s", "s"),
    Metric("items_per_s", "1/s"),
    Metric("setup_s", "s"),
    Metric("peak_rss_mb", "MB"))

  private def ms(names: String*) = names.map(Metric(_, "ms"))
  private def counts(names: String*) = names.map(Metric(_, "count"))

  val PerLayer: Seq[Metric] =
    counts("spark.jobs", "spark.stages", "spark.tasks") ++
      ms("spark.driver_only_ms", "spark.exec_run_ms", "spark.exec_cpu_ms",
        "spark.gc_ms") ++
      Seq(Metric("spark.core_busy_ratio", "ratio")) ++
      Seq("spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
        "spark.spill_bytes", "spark.input_bytes").map(Metric(_, "bytes")) ++
      counts("spark.records_read") ++
      Seq(Metric("spark.output_bytes", "bytes")) ++
      counts("spark.leftover_persisted_rdds") ++
      ms("pipeline.reject_scan_ms", "pipeline.branch_write_ms",
        "pipeline.state_commit_ms", "pipeline.other_ms") ++
      Seq(Metric("pipeline.rows_read_per_row_extracted", "ratio")) ++
      ms("state.high_watermark_ms", "state.commit_ms") ++
      counts("state.ledger_rows", "state.dir_files") ++
      ms("sinks.stage_ms", "sinks.promote_ms", "operators.dedup_ms",
        "operators.check_rows_ms", "streaming.add_batch_ms",
        "streaming.query_planning_ms", "streaming.latest_offset_ms",
        "streaming.wal_commit_ms", "streaming.commit_offsets_ms") ++
      counts("streaming.jobs_per_batch") ++
      ms("streaming.driver_only_ms_per_batch") ++
      counts("dedup.store_files") ++
      Seq(Metric("dedup.store_bytes", "bytes"),
        Metric("dedup.refused_ratio", "ratio"),
        Metric("multimodal.hash_ms_per_clip", "ms"),
        Metric("host.foreign_cores_max", "cores"),
        Metric("host.steal_cores_max", "cores")) ++
      counts("host.contaminated_ops") ++
      Seq(Metric("host.load1_max", "load"), Metric("trace.op_p50_s", "s"))

  /** The result's metrics object: exactly the listed metrics, in order. A
    * per-layer metric the workload does not exercise reads 0. */
  def select(list: Seq[Metric], values: Map[String, Double],
             zeroMissing: Boolean): Seq[(String, Map[String, Any])] =
    list.map { m =>
      val v = values.get(m.name) match {
        case Some(x) => x
        case None if zeroMissing => 0.0
        case None => throw new IllegalStateException(s"no value for ${m.name}")
      }
      m.name -> Map("value" -> v, "unit" -> m.unit)
    }
}

object Main {
  /** Foreign CPU above which an operation is reported as contaminated. */
  val ContaminatedCores = 0.5

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "incremental_runs" -> IncrementalRuns.run,
    "stream_admission" -> StreamAdmission.run)

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, result: File, report: File)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val w = need("--workload")
    require(Workloads.contains(w),
      s"unknown workload $w (${Workloads.keys.toSeq.sorted.mkString(", ")})")
    val trace = need("--trace")
    require(trace == "0" || trace == "1", s"--trace is 0 or 1, got $trace")
    Args(w, need("--seed").toLong, need("--seconds").toInt, trace == "1",
      new File(need("--result")), new File(need("--report")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val work = new File(s".bench_work/${a.workload}-${ProcessHandle.current().pid()}")
      .getAbsoluteFile
    work.mkdirs()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // from JVM start: class loading and session creation count in setup_s
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val out = try Workloads(a.workload)(Ctx(spark, a.seed, a.seconds, a.trace,
      work, cores))
    finally {
      spark.stop()
      Harness.deleteTree(work)
    }
    val report = result(a, out, sessionS, cores)
    write(a.report, report._2)
    write(a.result, report._1)
    if (out.failed > 0) System.exit(1)
  }

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** Seconds from JVM start to the first timed operation, with the
    * repeated set-up counted once, at its median. */
  def setupSeconds(o: Outcome, sessionS: Double): Double =
    sessionS + Stats.median(o.setupS) + o.warmupS

  /** The result line and the full report. */
  def result(a: Args, o: Outcome, sessionS: Double,
             cores: Int): (String, String) = {
    val secs = o.opSeconds
    val always = Map("setup_s" -> setupSeconds(o, sessionS),
      "peak_rss_mb" -> Host.peakRssMb())
    val e2e: Map[String, Double] =
      if (secs.isEmpty) always
      else always ++ Map(
        "op_p50_s" -> Stats.median(secs),
        "items_per_s" -> o.itemsPerS)
    val correct = o.failed == 0 && o.attempted > 0 && secs.nonEmpty
    val metrics =
      if (a.trace) Metrics.select(Metrics.PerLayer, o.layers ++
        secs.headOption.map(_ => "trace.op_p50_s" -> Stats.median(secs)),
        zeroMissing = true)
      else Metrics.select(Metrics.EndToEnd, e2e, zeroMissing = !correct)
    val line = json.writeValueAsString(LinkedHashMap(
      "correct" -> correct, "attempted" -> math.max(1, o.attempted),
      "failed" -> o.failed, "metrics" -> LinkedHashMap(metrics: _*)))
    val report = json.writeValueAsString(LinkedHashMap(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cores" -> cores, "session_s" -> sessionS,
      "setup_s_each" -> o.setupS, "warmup_s" -> o.warmupS,
      "input_sha256" -> o.inputChecksum,
      "attempted" -> o.attempted, "failed" -> o.failed,
      "fail_ratio" -> (if (o.attempted == 0) 1.0
                       else o.failed.toDouble / o.attempted),
      "samples" -> secs.size,
      // the tail needs 40 samples (Stats.tail); below that it is the median
      "tail" -> secs.headOption.map(_ => Stats.tail(secs)),
      "end_to_end" -> e2e, "layers" -> o.layers, "notes" -> o.notes,
      "ops" -> o.ops.map(op => op.copy(engine = op.engine.map(
        _.copy(jobIntervals = Nil)))),
      "spans" -> o.spans.map { case (s, self) =>
        LinkedHashMap("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
          "self_ms" -> self) }))
    (line, report)
  }

  private def write(f: File, s: String): Unit = {
    Option(f.getAbsoluteFile.getParentFile).foreach(_.mkdirs())
    val w = new PrintWriter(f, "UTF-8")
    try w.println(s) finally w.close()
  }
}
