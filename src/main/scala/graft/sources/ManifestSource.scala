package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.JsonUtil
import graft.JsonUtil.formats
import graft.state.MetaFile

/** Incremental file-manifest source: list the files under a root, diff
  * against the manifest committed by the previous run, and extract ONLY
  * the new/changed files; the full current snapshot is committed after a
  * successful publish.
  *
  * Reference: FileBasedSource.getcurrentFsSnapshot / workunit planning
  * (gobblin-core/.../filebased/FileBasedSource.java:58) keeps the
  * previous run's file snapshot in state and processes the set
  * difference.
  *
  * Semantics: a file is "new" when its (path, length, modTime) is not in
  * the committed manifest — so an appended file, or one rewritten in place
  * even to the same byte length, re-extracts; an untouched file never
  * does. Commit is all-or-nothing via an
  * overwrite-capable rename (same protocol as the watermark store): a
  * crash before commit re-extracts the same delta (at-least-once, like
  * the reference), never loses files.
  *
  * Scale: listing is driver-side metadata work, O(files) — identical to
  * the reference's planning pass; the data read is only the delta, and
  * each run's manifest is O(files) small rows, never O(data).
  */
object ManifestSource {

  final case class FileMeta(path: String, length: Long, modTime: Long)

  final case class Plan(newFiles: Seq[FileMeta],
                        df: DataFrame,
                        commit: () => Unit)

  /** Plan an incremental extract over `root`. The returned DataFrame reads
    * only files absent from the committed manifest; call `commit()` after
    * the run published to snapshot the full current listing. */
  def plan(spark: SparkSession, stateDir: String, dataset: String,
           root: String, format: String = "parquet",
           options: Map[String, String] = Map.empty): Plan = {
    val store = new ManifestStore(spark, stateDir)
    val current = listFiles(spark, root)
    val committed = store.read(dataset)
    val fresh = current.filterNot(f =>
      committedCovers(committed, f.path, f.length, f.modTime))
    val reader = spark.read.format(format).options(options)
    val df =
      if (fresh.nonEmpty) reader.load(fresh.map(_.path): _*)
      // `current` IS the root listing — deciding the schema-preserving
      // branch from it avoids a second full recursive walk of the
      // source tree on every steady-state (empty-delta) run
      else if (current.nonEmpty) reader.load(root).limit(0)
      else spark.emptyDataFrame
    Plan(fresh, df, () => store.commit(dataset, current))
  }

  /** THE snapshot-diff predicate every incremental file source shares
    * (here, [[SftpFileSource]], [[GoogleIngestion.GoogleDriveSource]] —
    * one authoritative implementation so the sources cannot diverge): a
    * committed entry covers a file when the length matches and the mod
    * time matches. mod_time 0 = committed by a build that didn't record
    * it: match on length alone so an upgrade stays incremental instead
    * of re-ingesting the full corpus (a genuine epoch-0 mtime is
    * indistinguishable but not produced by real filesystems). */
  private[sources] def committedCovers(committed: Map[String, (Long, Long)],
                                       path: String, length: Long,
                                       modTime: Long): Boolean =
    committed.get(path).exists {
      case (len, mod) => len == length && (mod == 0L || mod == modTime)
    }

  /** Schema-preserving empty delta: read the source/staging dir when it
    * holds any visible file (schema from previous runs), else a
    * zero-column empty frame — loading an EMPTY dir for schema throws
    * `Unable to infer schema`. */
  private[sources] def emptyDelta(spark: SparkSession,
                                  reader: org.apache.spark.sql.DataFrameReader,
                                  dir: String): DataFrame =
    if (listFiles(spark, dir).nonEmpty) reader.load(dir).limit(0)
    else spark.emptyDataFrame

  /** Recursive driver-side listing (the reference's FileBasedHelper). */
  def listFiles(spark: SparkSession, root: String): Seq[FileMeta] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(dir: Path): Seq[FileMeta] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.startsWith(".") ||
                 st.getPath.getName.startsWith("_")) Nil // staging/markers
        else Seq(FileMeta(st.getPath.toString, st.getLen, st.getModificationTime))
      }
    if (fs.exists(p)) walk(p) else Nil
  }
}

/** Committed file snapshots, one JSON-lines file per dataset under
  * `dir` — the file-listing face of the state store. */
final class ManifestStore(spark: SparkSession, dir: String) {
  import ManifestSource.FileMeta

  private def file(dataset: String) =
    new Path(s"$dir/manifest-${dataset.replaceAll("[^A-Za-z0-9._-]", "_")}.json")

  /** path -> (length, modTime) of the last committed snapshot. */
  def read(dataset: String): Map[String, (Long, Long)] =
    MetaFile.read(spark, file(dataset)).fold(Map.empty[String, (Long, Long)]) {
      txt => JsonUtil.parseLines(txt).map { j =>
        (j \ "path").extract[String] -> (((j \ "length").extract[Long],
          (j \ "mod_time").extractOpt[Long].getOrElse(0L)))
      }.toMap
    }

  /** Replace the snapshot atomically ([[MetaFile.replace]] — never a
    * moment without a readable manifest). */
  def commit(dataset: String, files: Seq[FileMeta]): Unit =
    MetaFile.replace(spark, file(dataset), files.map(f => JsonUtil.obj(
      "path" -> f.path, "length" -> f.length, "mod_time" -> f.modTime))
      .mkString("\n"))
}
