package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.JsonUtil
import graft.JsonUtil.formats
import graft.state.MetaFile

/** Checkpoint-lineage binding for stores fed by micro-batch ids. Any
  * store that publishes `batch=<id>` partitions by overwrite gets its
  * exactly-once-by-layout guarantee from ONE assumption: batch ids come
  * from a single checkpoint lineage. A deleted or switched checkpoint
  * restarts ids at 0, and "replay" overwrites of batches that are NOT
  * replays would silently destroy committed partitions. The store
  * therefore records its feeding stream's identity (`_stream.json`:
  * checkpoint location + Spark's per-checkpoint query id) on first start
  * and REFUSES a stream whose identity differs; rebinding is an explicit
  * token delete. Shared by the incremental vector indexes
  * ([[VectorIndexIngest]]) and the streaming media dedup store
  * ([[MediaDedupIngest]]). */
object StreamIdentity {

  private def tokenPath(storePath: String) = new Path(storePath, "_stream.json")

  /** Refuse an append stream whose checkpoint lineage is not the one
    * this store was bound to — its batch-id sequence would collide with
    * committed partitions. */
  def guard(spark: SparkSession, storePath: String,
            checkpointDir: String): Unit =
    read(spark, storePath).foreach { case (boundDir, boundId) =>
      require(boundDir == checkpointDir,
        s"store $storePath is bound to checkpoint $boundDir but this " +
          s"stream uses $checkpointDir — its batch ids would overwrite " +
          "committed partitions. Delete _stream.json to rebind explicitly.")
      checkpointQueryId(spark, checkpointDir) match {
        case None => require(requirement = false,
          s"store $storePath is bound to checkpoint $checkpointDir " +
            s"(query $boundId) but the checkpoint has no metadata — it " +
            "was deleted or never started; a fresh checkpoint restarts " +
            "batch ids at 0 and would overwrite committed partitions. " +
            "Delete _stream.json to rebind explicitly.")
        case Some(id) => require(id == boundId,
          s"store $storePath is bound to query $boundId but checkpoint " +
            s"$checkpointDir now holds query $id — the checkpoint was " +
            "recreated, so batch ids restart at 0. Delete _stream.json " +
            "to rebind explicitly.")
      }
    }

  /** The query id Spark persisted in the checkpoint's `metadata` file —
    * minted once per checkpoint creation, stable across restarts. */
  def checkpointQueryId(spark: SparkSession,
                        checkpointDir: String): Option[String] =
    MetaFile.read(spark, new Path(checkpointDir, "metadata"))
      .flatMap(s => (JsonUtil.parse(s) \ "id").extractOpt[String])

  def read(spark: SparkSession,
           storePath: String): Option[(String, String)] =
    MetaFile.read(spark, tokenPath(storePath)).map { s =>
      val j = JsonUtil.parse(s)
      ((j \ "checkpoint").extract[String], (j \ "query_id").extract[String])
    }

  def write(spark: SparkSession, storePath: String,
            checkpointDir: String, queryId: String): Unit =
    MetaFile.replace(spark, tokenPath(storePath),
      JsonUtil.obj("checkpoint" -> checkpointDir, "query_id" -> queryId))
}
