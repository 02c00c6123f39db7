package graft.state

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.JsonUtil
import graft.pipeline.PipelineRunner.JobResult

/** Job-execution history: one immutable JSON record per completed run,
  * queryable as a DataFrame — the reference's JobExecutionInfo store
  * (gobblin-metastore/.../database/DatabaseJobHistoryStore.java; the
  * `JobExecutionInfo` records GaaS and the CLI query for status/SLAs).
  *
  * Write model matches the snapshot log's manifests: one file per run
  * created with overwrite=false, so recording is atomic, concurrent
  * writers never clobber each other, and a duplicate runId — a retried
  * driver re-recording the same execution — fails loudly instead of
  * silently double-counting. Rows are O(runs), never O(data).
  */
final class RunLedger(spark: SparkSession, dir: String) {

  /** Record one run outcome; throws if this runId was already recorded. */
  def record(job: String, runId: String, status: String,
             startedAtMs: Long, finishedAtMs: Long,
             extracted: Long = 0, rejected: Long = 0,
             branchCounts: Map[String, Long] = Map.empty,
             committedWatermark: Option[String] = None,
             detail: String = ""): Unit = {
    MetaFile.createOnce(spark, new Path(dir, s"run-${MetaFile.idName(runId)}.json"),
      JsonUtil.obj("run_id" -> runId, "job" -> job, "status" -> status,
        "started_at_ms" -> startedAtMs, "finished_at_ms" -> finishedAtMs,
        "extracted" -> extracted, "rejected" -> rejected,
        "branch_counts" -> branchCounts,
        "committed_watermark" -> committedWatermark, "detail" -> detail))
  }

  /** Record a completed run from its JobResult. A run that published
    * only some branches (COMMIT_SUCCESSFUL_TASKS) lands as
    * COMMITTED_PARTIAL with the failed branches in `detail`, so
    * monitoring can distinguish "done" from "done, but branch X needs
    * the re-run" (the reference records per-task states inside its
    * JobExecutionInfo the same way). */
  def recordResult(job: String, r: JobResult,
                   startedAtMs: Long, finishedAtMs: Long): Unit = {
    val partial = r.failedBranches.nonEmpty
    record(job, r.runId,
      if (partial) "COMMITTED_PARTIAL" else "SUCCEEDED",
      startedAtMs, finishedAtMs,
      r.extracted, r.rejected, r.branchCounts, r.committedWatermark,
      detail = if (!partial) "" else r.failedBranches.toSeq.sorted
        .map { case (n, e) => s"$n: $e" }.mkString("failed branches: ", "; ", ""))
  }

  /** The monitoring views the reference serves from its job-history
    * store (`JobExecutionInfo` via the CLI/GaaS): latest state per job,
    * failure feed, duration outliers. All are plain DataFrames over
    * [[history]] — compose further with standard operators. */
  def latestRuns: DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(col("job"))
      .orderBy(col("finished_at_ms").desc, col("run_id").desc)
    history.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Runs that did not fully succeed since `sinceMs` (FAILED and
    * COMMITTED_PARTIAL both need an operator's attention). */
  def unhealthySince(sinceMs: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    history.filter(col("finished_at_ms") >= sinceMs &&
      col("status") =!= "SUCCEEDED")
  }

  /** Completed runs whose wall time exceeded `maxMs` — the SLA check. */
  def slaBreaches(maxMs: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    history
      .withColumn("duration_ms",
        col("finished_at_ms") - col("started_at_ms"))
      .filter(col("duration_ms") > maxMs)
  }

  /** Successful runs whose extracted row count drifted from each job's
    * trailing-median baseline — the volume-anomaly monitoring view
    * (catches the silently-half-empty upstream that row policies can't:
    * every row is valid, there are just suddenly far fewer of them). */
  def volumeDrift(trailing: Int = 7, tolerancePct: Int = 50): DataFrame = {
    import org.apache.spark.sql.functions._
    RunLedger.countDrift(history.filter(col("status") === "SUCCEEDED"),
      Seq("job"), "finished_at_ms", "extracted", trailing, tolerancePct)
  }

  /** Full history as a DataFrame. The schema is FIXED (not inferred) so
    * an empty ledger is still column-addressable — monitoring queries
    * like `history.filter("status = 'FAILED'")` resolve before the first
    * run is ever recorded. */
  def history: DataFrame = MetaFile.jsonTable(spark, dir, RunLedger.schema)
}

object RunLedger {

  /** Flag rows whose `valueCol` deviates from the trailing-median
    * baseline of the previous `trailing` rows (per `keyCols` series,
    * ordered by `orderCol`) by more than `tolerancePct` percent — the
    * generic volume/metric drift detector behind [[RunLedger#volumeDrift]]
    * (the audit-count verifier family's percentage gate —
    * KafkaAuditCountVerifier — applied run-over-run instead of
    * source-vs-sink).
    *
    * Float-free: the baseline rides DOUBLED (`baseline_med2` =
    * round(2×median) — a median of integers is integer or half-integer,
    * so 2× is exact) and the gate cross-multiplies:
    * |2·value − med2| · 100 > med2 · tolerancePct. Rows with no history
    * yet (the first row of a series, or fewer than one prior row) carry
    * a NULL baseline and `drifted` = false — no evidence, no alarm.
    *
    * Scale: one window per series key, frame bounded at `trailing` rows;
    * history frames are O(runs), so this is metadata-sized everywhere. */
  def countDrift(history: DataFrame, keyCols: Seq[String], orderCol: String,
                 valueCol: String, trailing: Int,
                 tolerancePct: Int): DataFrame = {
    require(trailing >= 1, s"trailing must be >= 1: $trailing")
    require(tolerancePct >= 0, s"tolerancePct must be >= 0: $tolerancePct")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol)).rowsBetween(-trailing, -1)
    history
      .withColumn("baseline_med2",
        round(expr(s"percentile($valueCol, 0.5)").over(w) * 2)
          .cast("bigint"))
      .withColumn("drifted",
        when(col("baseline_med2").isNull, lit(false))
          .otherwise(abs(col(valueCol) * 2 - col("baseline_med2")) * 100 >
            col("baseline_med2") * tolerancePct))
  }

  import org.apache.spark.sql.types._
  val schema: StructType = StructType(Seq(
    StructField("run_id", StringType),
    StructField("job", StringType),
    StructField("status", StringType),
    StructField("started_at_ms", LongType),
    StructField("finished_at_ms", LongType),
    StructField("extracted", LongType),
    StructField("rejected", LongType),
    StructField("branch_counts", MapType(StringType, LongType)),
    StructField("committed_watermark", StringType),
    StructField("detail", StringType)))
}
