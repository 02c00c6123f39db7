package graft.state

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.JsonUtil
import graft.JsonUtil.formats

/** Watermark / run-state store for incremental processing.
  *
  * Reference: FsDatasetStateStore (gobblin-runtime/.../
  * FsDatasetStateStore.java) persists per-dataset JobState with committed
  * watermarks after each run; Source.getWorkunits reads the previous run's
  * state to plan the next interval, and an empty work unit PRESERVES the
  * previous watermark (QueryBasedSource.java:195-199).
  *
  * Spark-first: the state is a tiny table `(dataset, partition,
  * high_watermark, run_id)` kept as JSON under `dir` — read at plan time on
  * the driver, upserted at commit. Scale note: state rows are O(datasets ×
  * partitions), never O(data); a single-file JSON table is correct even for
  * a 100 TB job.
  */
final class StateStore(spark: SparkSession, dir: String) {

  private val path = new org.apache.hadoop.fs.Path(dir, "watermarks.json")

  def read(): Map[(String, String), String] =
    MetaFile.read(spark, path).fold(Map.empty[(String, String), String]) {
      txt => JsonUtil.parseLines(txt).map { j =>
        ((j \ "dataset").extract[String], (j \ "partition").extract[String]) ->
          (j \ "high_watermark").extract[String]
      }.toMap
    }

  def highWatermark(dataset: String, partition: String = ""): Option[String] =
    read().get((dataset, partition))

  /** Upsert watermarks atomically ([[MetaFile.replace]]): a crash never
    * leaves the store without a readable state file, which would fall
    * back to watermarkDefault next run and re-extract everything (the
    * reference's FsStateStore keeps prior state recoverable). */
  def commit(entries: Map[(String, String), String], runId: String): Unit =
    MetaFile.replace(spark, path, (read() ++ entries).map { case ((d, pt), wm) =>
      JsonUtil.obj("dataset" -> d, "partition" -> pt, "high_watermark" -> wm,
        "run_id" -> runId)
    }.mkString("\n"))

  def asDataFrame: DataFrame = {
    import spark.implicits._
    read().toSeq.map { case ((d, p), w) => (d, p, w) }
      .toDF("dataset", "partition", "high_watermark")
  }
}
