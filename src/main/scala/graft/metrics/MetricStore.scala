package graft.metrics

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.JsonUtil
import graft.state.MetaFile

/** Per-run stage-metric history: records/bytes/timings per operator per
  * run, queryable as a DataFrame — the task-metric half of the
  * reference's job-history store (gobblin-metastore/.../database/
  * DatabaseJobHistoryStore.java persists TaskExecutionInfo metric rows
  * next to JobExecutionInfo; the CLI and GaaS query them for SLA
  * monitoring).
  *
  * Same write model as [[graft.state.RunLedger]]: ONE file per run
  * created with overwrite=false (atomic, duplicate runId fails loudly,
  * concurrent writers never clobber), newline-delimited JSON with one
  * line per metric row. Volume is O(runs × stages), never O(data): the
  * values themselves come from `observe()` nodes computed inside the
  * run's own sink actions, so querying ten thousand runs' metrics is a
  * small metadata scan regardless of how many petabytes those runs moved.
  */
final class MetricStore(spark: SparkSession, dir: String) {

  /** Record one run's metric rows; throws if runId was already recorded. */
  def record(job: String, runId: String, recordedAtMs: Long,
             rows: Seq[MetricRecord]): Unit = {
    // no-metric runs still create the (empty) file — the runId uniqueness
    // check must hold — but never a blank line the JSON reader would
    // surface as an all-null row
    MetaFile.createOnce(spark,
      new Path(dir, s"metrics-${MetaFile.idName(runId)}.json"),
      rows.map { r =>
        JsonUtil.obj("job" -> job, "run_id" -> runId, "context" -> r.context,
          "metric" -> r.metric, "kind" -> r.kind, "value" -> r.value,
          "recorded_at_ms" -> recordedAtMs) + "\n"
      }.mkString)
  }

  /** One metric across runs, time-ordered — feed it to a dashboard or a
    * regression check (is records.rejected trending up?). */
  def timeSeries(job: String, context: String, metric: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    table.filter(col("job") === job && col("context") === context &&
        col("metric") === metric)
      .orderBy("recorded_at_ms", "run_id")
      .select("run_id", "recorded_at_ms", "value")
  }

  /** Full metric history, fixed schema (empty store still column-addressable). */
  def table: DataFrame = MetaFile.jsonTable(spark, dir, MetricStore.schema)
}

object MetricStore {
  import org.apache.spark.sql.types._
  val schema: StructType = StructType(Seq(
    StructField("job", StringType),
    StructField("run_id", StringType),
    StructField("context", StringType),
    StructField("metric", StringType),
    StructField("kind", StringType),
    StructField("value", LongType),
    StructField("recorded_at_ms", LongType)))
}
