package graft.state

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.types.StructType

/** The engine's one way to keep a small driver-side metadata file: one
  * read and two writes, all UTF-8 text (JSON through [[graft.JsonUtil]]).
  *
  *  - [[replace]]: temp file, then ONE overwrite-capable rename — there
  *    is never a moment without a readable file (a delete-then-rename
  *    would, on a crash between the two, lose committed state; plain
  *    `FileSystem.rename` returns false on HDFS when the target exists).
  *  - [[createOnce]]: `create(p, overwrite = false)` — the create itself
  *    is the uniqueness check, so a retried driver re-recording the same
  *    id fails loudly and concurrent writers never clobber each other.
  *    Id-keyed names go through [[idName]].
  *
  * Every metadata file the engine writes:
  * {{{
  *   file                              write       reader
  *   watermarks.json                   replace     StateStore.read
  *   run-<id>.json                     createOnce  RunLedger.history
  *   metrics-<id>.json                 createOnce  MetricStore.table
  *   events-<id>.json (+ lineage)      createOnce  EventStore.table, Lineage.edges
  *   snapshots/snap-<n>.json           createOnce  SnapshotLog.snapshot
  *     (replicated or rolled back)     replace
  *   CURRENT                           replace     SnapshotLog.currentId
  *   LOCK                              createOnce  SnapshotLog (rival's name)
  *   manifest-<dataset>.json           replace     ManifestStore.read
  *   _stream.json                      replace     StreamIdentity.read
  *   _format.json                      replace     MediaDedupIngest.readFormat
  *   .metadata.json                    replace     MetaSidecar.read
  *   _model.json, _codebooks.json      replace     Ann.loadModel, Ann.loadPqCodebooks
  *   _compaction.json                  replace     Ann.foldedUpTo
  *   _compaction_pending.json          replace     Ann.recoverCompaction
  *   _schema_log                       replace     EvolvingSink.schemaLog
  * }}}
  * Spark's own checkpoint `metadata` is read here too
  * (StreamIdentity.checkpointQueryId), never written. Binary sketches
  * (`*.bloom`) and data files are not metadata files. */
object MetaFile {

  private def conf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration

  /** The whole file, or None when it does not exist. */
  def read(spark: SparkSession, p: Path): Option[String] =
    try {
      val in = p.getFileSystem(conf(spark)).open(p)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  def replace(spark: SparkSession, p: Path, text: String): Unit = {
    val tmp = new Path(p.getParent,
      s".${p.getName}.tmp-${java.util.UUID.randomUUID()}")
    val out = p.getFileSystem(conf(spark)).create(tmp, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
    val fc = FileContext.getFileContext(p.toUri, conf(spark))
    fc.rename(fc.makeQualified(tmp), fc.makeQualified(p),
      Options.Rename.OVERWRITE)
  }

  /** Throws when `p` exists. A write that fails after the create removes
    * the file again, so nothing half-written claims the name. */
  def createOnce(spark: SparkSession, p: Path, text: String): Unit = {
    val fs = p.getFileSystem(conf(spark))
    val out = fs.create(p, false)
    try { out.write(text.getBytes(UTF_8)); out.close() }
    catch { case t: Throwable =>
      try { out.close(); fs.delete(p, false) }
      catch { case _: java.io.IOException => }
      throw t
    }
  }

  /** File-name form of an id: letters, digits, `-` and `_` stay, every
    * other char becomes `~` plus its four hex digits. `~` itself never
    * stays, so distinct ids never share a file name. */
  def idName(id: String): String = id.flatMap { c =>
    if (c.isLetterOrDigit || c == '-' || c == '_') c.toString
    else f"~${c.toInt}%04x"
  }

  /** Every newline-JSON file under `dir` read with a FIXED schema, so an
    * absent or empty store is still column-addressable. */
  def jsonTable(spark: SparkSession, dir: String,
                schema: StructType): DataFrame = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf(spark))
    val reader = spark.read.schema(schema)
    if (!fs.exists(p) || fs.listStatus(p).isEmpty)
      reader.json(spark.emptyDataset(Encoders.STRING))
    else reader.json(dir)
  }
}
