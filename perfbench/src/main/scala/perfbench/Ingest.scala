package perfbench

import java.io.File
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Quality}
import graft.pipeline.{BranchSpec, PipelineRunner, PipelineSpec, RowPolicySpec, SourceSpec}
import graft.pipeline.PipelineRunner.JobResult
import graft.sinks.AtomicPublisher
import graft.state.StateStore

/** The lineitem ingest job both batch workloads run, and the reference
  * they check it against. */
object LineitemJob {
  val Name = "lineitem_ingest"
  /** Shares of generated rows, per mille, that repeat a key or fail the
    * row policy. */
  val DupPermille = 50
  val BadPermille = 20
  val Keys = Seq("l_orderkey", "l_linenumber")
  private val RevenueSql =
    "round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2)"

  def spec(root: String, src: String): PipelineSpec = PipelineSpec(
    name = Name,
    source = SourceSpec("parquet", src,
      watermarkColumn = Some("l_updated_at"),
      watermarkDefault = Some("1970-01-01 00:00:00")),
    transformExprs = Seq(
      s"selectExpr:*;$RevenueSql AS revenue",
      "dedup:l_orderkey,l_linenumber;l_shipdate.desc"),
    rowPolicies = Seq(RowPolicySpec("positive_quantity", "l_quantity > 0",
      "ERR_FILE")),
    errDir = Some(s"$root/err"),
    branches = Seq(
      BranchSpec("by_flag", outDir = s"$root/out/by_flag",
        partitionBy = Seq("l_returnflag")),
      BranchSpec("air", filterExpr = Some("l_shipmode = 'AIR'"),
        selectCols = Seq("l_orderkey", "l_linenumber", "l_shipdate", "revenue"),
        outDir = s"$root/out/air")),
    stateDir = Some(s"$root/state"))

  /** Expected outcome of one run over each group of `src` that the
    * integer column `by` tells apart, computed with plain DataFrame code:
    * latest version per key by join on the max ship date, then the
    * quantity policy. */
  final case class Expected(passed: Long, rejected: Long, air: Long)

  def expected(src: DataFrame, by: String): Map[Int, Expected] = {
    val withRev = src.withColumn("revenue", expr(RevenueSql))
    val latest = withRev.groupBy((by +: Keys).map(col): _*)
      .agg(max(col("l_shipdate")).as("__latest"))
    val deduped = withRev.join(latest, by +: Keys)
      .filter(col("l_shipdate") === col("__latest")).drop("__latest")
    val ok = coalesce(col("l_quantity") > 0, lit(false))
    deduped.groupBy(col(by)).agg(count(when(ok, 1)), count(when(!ok, 1)),
        count(when(ok && col("l_shipmode") === "AIR", 1))).collect()
      .map(r => r.getInt(0) -> Expected(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
  }

  /** The differences between a run's result and the expectation. */
  def mismatch(r: JobResult, e: Expected): Option[String] = {
    val got = (r.extracted, r.rejected, r.branchCounts.get("by_flag"),
      r.branchCounts.get("air"))
    val want = (e.passed, e.rejected, Some(e.passed), Some(e.air))
    if (got != want) Some(s"counts (extracted, rejected, by_flag, air) " +
      s"$got, expected $want")
    else None
  }

  /** Stage timings the runner reports in `JobResult.stageMetrics`, ms. A
    * stage timer also rolls up into the job's root context, so each is
    * read once, from the context holding the largest total. */
  def stageMs(r: JobResult): Map[String, Double] = {
    def ms(timer: String) = r.stageMetrics
      .filter(_.metric == s"time.$timer.total_nanos").map(_.value)
      .maxOption.getOrElse(0L) / 1e6
    Map("pipeline.reject_scan_ms" -> ms("reject_scan"),
      "pipeline.branch_write_ms" -> ms("branch_write"),
      "pipeline.state_commit_ms" -> ms("state_commit"))
  }

  /** Per-layer pipeline metrics, medians over the runs. */
  def pipelineLayers(runs: Seq[(OpRecord, JobResult)]): Map[String, Double] = {
    if (runs.isEmpty) return Map.empty
    val per = runs.map { case (op, r) =>
      val st = stageMs(r)
      val other = op.wallS * 1000 - st.values.sum
      val waste = op.engine.map(_.recordsRead.toDouble / math.max(1L, r.extracted))
      st ++ Map("pipeline.other_ms" -> other) ++
        waste.map("pipeline.rows_read_per_row_extracted" -> _)
    }
    per.flatMap(_.keys).distinct.map(k =>
      k -> Stats.median(per.flatMap(_.get(k)))).toMap
  }

  /** Module layers timed by direct calls over the workload's own input
    * `df` and state directory (traced runs only). */
  def moduleLayers(spark: SparkSession, tracer: Tracer, df: DataFrame,
                   stateDir: String, scratch: String,
                   reps: Int): Map[String, Double] = {
    def timed(name: String, n: Int)(body: => Any): Double =
      tracer.span(name, -1)(Harness.medianMs(n)(body))
    val store = new StateStore(spark, stateDir)
    val hwm = timed("state.high_watermark", 10)(store.highWatermark(Name))
    val probeState = new StateStore(spark, s"$scratch/state")
    val entries = store.read()
    var k = 0
    val commit = timed("state.commit", 5) {
      k += 1; probeState.commit(entries, s"probe-$k")
    }
    var stageTimes = Seq.empty[Double]
    var promoteTimes = Seq.empty[Double]
    tracer.span("sinks", -1) {
      (1 to reps).foreach { i =>
        val t0 = System.nanoTime()
        val staged = AtomicPublisher.stage(df, s"$scratch/sink", s"probe-$i")
        val t1 = System.nanoTime()
        staged.promote()
        val t2 = System.nanoTime()
        stageTimes :+= (t1 - t0) / 1e6
        promoteTimes :+= (t2 - t1) / 1e6
      }
    }
    val dedup = timed("operators.dedup", reps) {
      Dedup.keyDeltaTop1(Keys, Seq(col("l_shipdate").desc))(df).count()
    }
    val check = timed("operators.check_rows", reps) {
      Quality.checkRows(df, Seq(Quality.RowPolicy("positive_quantity",
        expr("l_quantity > 0"), Quality.ErrFile))).passed.count()
    }
    val runs = new File(stateDir, "runs")
    Map("state.high_watermark_ms" -> hwm, "state.commit_ms" -> commit,
      "state.ledger_rows" ->
        Option(runs.listFiles()).fold(0)(_.count(_.getName.endsWith(".json"))).toDouble,
      "state.dir_files" -> Harness.treeSize(new File(stateDir))._1.toDouble,
      "sinks.stage_ms" -> Stats.median(stageTimes),
      "sinks.promote_ms" -> Stats.median(promoteTimes),
      "operators.dedup_ms" -> dedup, "operators.check_rows_ms" -> check)
  }
}

/** `incremental_runs`: the same job against committed state, one small
  * delta per run. The fixed cost per run dominates. */
object IncrementalRuns {
  val BaseRows = 200000L
  val DeltaRows = 2000L
  val RedeliverPermille = 100
  val SetupReps = 3
  val WarmRuns = 4
  private val DeltaCol = "delta" // as Gen.deltas names it

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val seed = Gen.workloadSeed(ctx.seed, "incremental_runs")
    val rec = new Recorder(ctx)
    def delta(r: Int) = Gen.delta(spark, seed, r, DeltaRows, RedeliverPermille,
      LineitemJob.BadPermille, BaseRows)
    try {
      val (root, sum, setupS) = Harness.setup(ctx.dir("setup"), SetupReps) { dir =>
        val src = s"$dir/src"
        Gen.baseRows(spark, seed, BaseRows, LineitemJob.DupPermille,
          LineitemJob.BadPermille, 4)
          .write.parquet(src)
        (dir, Gen.fileChecksum(src))
      }
      val src = s"$root/src"
      val spec = LineitemJob.spec(root, src)
      // warm-up: the initial full load, then untimed incremental runs: run
      // time keeps falling over the first several runs after the load
      // while the JIT compiles the run's path
      val w0 = System.nanoTime()
      PipelineRunner.run(spark, spec, "load")
      rec.release()
      var lastWarmS = 0.0
      (1 to WarmRuns).foreach { r =>
        delta(r).write.mode("append").parquet(src)
        val t0 = System.nanoTime()
        PipelineRunner.run(spark, spec, s"delta-$r")
        lastWarmS = (System.nanoTime() - t0) / 1e9
        rec.release()
      }
      // the timed runs' deltas: twice as many as the window holds at the
      // last warm-up run's pace, generated in one job and checked against
      // one reference job here, so that between timed runs only a rename
      // moves the next delta into the source
      val first = WarmRuns + 1
      val last = first + math.ceil(2 * ctx.seconds / math.max(0.1, lastWarmS)).toInt
      val staged = s"$root/deltas"
      Gen.deltas(spark, seed, first to last, DeltaRows, RedeliverPermille,
        LineitemJob.BadPermille, BaseRows, 4)
        .write.partitionBy(DeltaCol).parquet(staged)
      val deltaSum = Gen.fileChecksum(staged)
      val wants = LineitemJob.expected(spark.read.parquet(staged), DeltaCol)
      def append(r: Int): Unit =
        new File(s"$staged/$DeltaCol=$r").listFiles()
          .filter(_.getName.endsWith(".parquet")).foreach { f =>
            require(f.renameTo(new File(src, s"delta-$r-${f.getName}")),
              s"cannot append $f")
          }
      val warmupS = (System.nanoTime() - w0) / 1e9

      val results = scala.collection.mutable.ArrayBuffer.empty[(OpRecord, JobResult)]
      val deadline = ctx.deadlineNs(System.nanoTime())
      var failed = false
      var r = first
      while (System.nanoTime() < deadline && !failed && r <= last) {
        val want = wants.get(r)
        val wantWm = Gen.deltaMax(r, DeltaRows)
        append(r)
        val res = rec.op("pipeline.run")(PipelineRunner.run(spark, spec, s"delta-$r")) { res =>
          want.fold(Option(s"no reference for delta $r"))(
            LineitemJob.mismatch(res, _)).orElse {
            val wm = res.committedWatermark.map(Timestamp.valueOf)
            if (wm.contains(wantWm)) None
            else Some(s"committed watermark $wm, expected $wantWm")
          }
        }
        res.foreach(x => results += ((rec.ops.last, x)))
        failed = !rec.ops.last.ok
        r += 1
      }
      val layers =
        if (!ctx.trace || failed) Map.empty[String, Double]
        else LineitemJob.moduleLayers(spark, rec.tracer, delta(r - 1),
          s"$root/state", ctx.dir("probe"), 5)
      val ops = rec.ops.toSeq
      val secs = ops.map(_.wallS)
      Outcome(ops.size, ops.count(!_.ok), secs,
        results.map(_._2.extracted).sum / math.max(1e-9, secs.sum), setupS,
        warmupS,
        layers ++ LineitemJob.pipelineLayers(results.toSeq) ++
          Ingest.common(ctx, ops),
        s"source $sum, deltas $first-$last $deltaSum", ops,
        Seq(s"deltas $first-$last staged for the window, sized from a " +
          s"$lastWarmS s warm-up run"), rec.tracer.selfTimes)
    } finally rec.close()
  }
}

object Ingest {
  /** Engine, hygiene and host layers shared by the two ingest workloads. */
  def common(ctx: Ctx, ops: Seq[OpRecord]): Map[String, Double] = {
    val engine = Harness.engineLayers(
      ops.flatMap(o => o.engine.map(e => ((o.startMs, o.endMs), e))), ctx.cores)
    engine ++ Harness.hostLayers(ops) ++ (
      if (ops.isEmpty) Map.empty
      else Map("spark.leftover_persisted_rdds" ->
        Stats.median(ops.map(_.leftoverRdds.toDouble))))
  }
}
