package graft.sinks

import scala.collection.immutable.SortedMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.JsonUtil
import graft.JsonUtil.formats
import graft.sinks.AtomicPublisher.WriteSpec
import graft.state.MetaFile

/** Snapshot-log table commit: every commit writes NEW immutable data
  * directories plus a manifest listing the data dir of every branch
  * (table), then flips one tiny `CURRENT` pointer file atomically.
  * Readers resolve `CURRENT` → manifest → data dirs, so a commit of N
  * branches becomes visible all-or-nothing and earlier snapshots stay
  * readable (time travel) until expired.
  *
  * Reference: the reference publishes multi-branch output with one rename
  * per branch (BaseDataPublisher.java:338 loop), closes the cross-branch
  * atomicity gap with a replayable CommitSequence
  * (commit/CommitSequence.java:44 — persisted rename steps re-driven after
  * a crash), and its Iceberg module commits flushed files as table
  * snapshots (IcebergMetadataWriter.java:141). This log gets all three
  * semantics from one mechanism and no table-format jar: data dirs are
  * write-once (a crashed commit leaves only invisible orphans — nothing to
  * replay), the manifest is the snapshot, and the pointer swap is the
  * commit point.
  *
  * Scale: the manifest is O(branches) lines and the pointer is one file —
  * driver-side metadata, independent of data size; the data writes are the
  * same distributed writes the job already does.
  *
  * Single-writer is ENFORCED, not assumed: [[stage]] takes a `LOCK` file
  * under the log root via [[MetaFile.createOnce]] (the reference
  * serializes publishers with the same filesystem lock —
  * gobblin-runtime/.../locks/FsJobLock.java), holds it across
  * stage→activate, and a rival committer fails LOUDLY instead of silently
  * clobbering manifests or racing the pointer flip; the manifest itself
  * is additionally created with overwrite=false as defense in depth. A
  * committer that dies between stage and activate leaves the lock behind
  * — the next commit's error says so, and [[breakLock]] clears it once
  * the operator confirms the rival is gone (its staged data is an
  * invisible orphan either way).
  *
  * Layout under `root`:
  * {{{
  *   CURRENT                      # "3" — id of the live snapshot
  *   LOCK                         # present while a commit is in flight
  *   snapshots/snap-3.json        # header + one line per branch
  *   data/<branch>/snap-3/        # immutable parquet/orc/csv dir
  * }}}
  */
final class SnapshotLog(spark: SparkSession, root: String) {
  import SnapshotLog._

  private val rootPath = new Path(root)
  private def fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def currentPtr = new Path(rootPath, "CURRENT")
  private def manifestPath(id: Long) = new Path(rootPath, s"snapshots/snap-$id.json")
  private def lockFile = new Path(rootPath, "LOCK")

  /** Take the commit lock or fail loudly naming the holder. `create` with
    * overwrite=false is atomic create-if-absent on HDFS/local (and on
    * object stores with conditional-put semantics), so two committers can
    * never both hold it. */
  private def acquireLock(): Unit = {
    val holder =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getName
    try MetaFile.createOnce(spark, lockFile,
      s"$holder\n${java.time.Instant.now()}")
    catch {
      case e: java.io.IOException =>
        val rival = try MetaFile.read(spark, lockFile).fold("<unreadable>")(_.trim)
          catch { case _: Exception => "<unreadable>" }
        throw new java.util.ConcurrentModificationException(
          s"snapshot log $root is locked by [$rival]: a rival commit is " +
            "in flight, or crashed between stage and activate — verify " +
            "it is gone, then breakLock()", e)
    }
  }

  private def releaseLock(): Unit = { fs.delete(lockFile, false): Unit }

  /** Clear a lock left by a committer that died mid-commit. Only call
    * after confirming no rival is alive — its staged snapshot stays an
    * invisible orphan ([[expire]] sweeps it). */
  def breakLock(): Unit = releaseLock()

  /** Id of the live snapshot, None before the first commit. */
  def currentId(): Option[Long] =
    MetaFile.read(spark, currentPtr).map(_.trim.toLong)

  def current(): Option[Snapshot] = currentId().map(snapshot)

  /** Parse a committed manifest. Only ids reachable from `CURRENT` (or
    * returned by a successful commit) are guaranteed parseable — an id
    * from a crashed commit may be absent or truncated. */
  def snapshot(id: Long): Snapshot = {
    val txt = MetaFile.read(spark, manifestPath(id))
    require(txt.isDefined, s"no such snapshot: $id")
    parseManifest(id, txt.get)
  }

  /** Read one branch at the live snapshot (or `asOf` for time travel). */
  def read(branch: String, asOf: Option[Long] = None): DataFrame = {
    val snap = asOf.map(snapshot).orElse(current())
      .getOrElse(throw new IllegalStateException(s"$root has no snapshot"))
    val b = snap.branches.getOrElse(branch,
      throw new IllegalArgumentException(
        s"branch $branch absent from snapshot ${snap.id}"))
    spark.read.format(b.format).options(b.readOptions)
      .load(new Path(rootPath, b.path).toString)
  }

  /** A written-but-invisible snapshot: data dirs and manifest exist, the
    * pointer still names the parent; the commit lock is HELD. [[activate]]
    * is the commit point — one overwrite-rename of `CURRENT`, then the
    * lock is released. [[abort]] just releases the lock: orphan data dirs
    * are invisible ([[expire]] sweeps them). */
  final class Pending(val id: Long) {
    def activate(): Long = {
      MetaFile.replace(spark, currentPtr, id.toString)
      releaseLock()
      id
    }

    /** Release the lock without publishing; staged output stays an
      * invisible orphan. */
    def abort(): Unit = releaseLock()
  }

  /** Write every branch's data dir and the manifest for snapshot
    * `parent+1`, WITHOUT flipping the pointer. Branches not in `branches`
    * are carried forward from the parent snapshot (their data dirs are
    * immutable, so the new manifest just repeats the old pointer —
    * an update of one table never rewrites its siblings).
    *
    * Takes the commit lock; the returned [[Pending]] owns it until
    * `activate()`/`abort()`. A failure during the stage itself releases
    * the lock before rethrowing (the committer is alive to know). */
  def stage(branches: Map[String, DataFrame],
            specs: Map[String, WriteSpec] = Map.empty,
            drop: Set[String] = Set.empty): Pending = {
    acquireLock()
    try {
      val parent = current()
      val id = nextId(parent.map(_.id))
      val written = branches.map { case (name, df) =>
        require(!name.contains("/") && !name.contains("\n"),
          s"branch name must be path- and manifest-safe: $name")
        val rel = s"data/$name/snap-$id"
        val spec = specs.getOrElse(name, WriteSpec())
        var w = df.write.mode(SaveMode.Overwrite).format(spec.format)
          .options(spec.options)
        if (spec.partitionBy.nonEmpty) w = w.partitionBy(spec.partitionBy: _*)
        w.save(new Path(rootPath, rel).toString)
        name -> BranchRef(rel, spec.format, spec.options)
      }
      // `drop` retires branches from THIS snapshot on (their data stays
      // for older snapshots until expire sweeps it) — the maintenance
      // seam epoch compaction folds many branches through
      val carried =
        parent.map(_.branches).getOrElse(Map.empty) -- branches.keys -- drop
      val snap = Snapshot(id, parent.map(_.id), carried ++ written)
      // create-once: under the lock no rival can race this id, so an
      // existing manifest means something is deeply wrong — fail loudly
      // rather than silently replace it
      MetaFile.createOnce(spark, manifestPath(id), renderManifest(snap))
      new Pending(id)
    } catch { case e: Throwable => releaseLock(); throw e }
  }

  /** Stage + activate: the atomic multi-branch commit. */
  def commit(branches: Map[String, DataFrame],
             specs: Map[String, WriteSpec] = Map.empty,
             drop: Set[String] = Set.empty): Long =
    stage(branches, specs, drop).activate()

  /** [[commit]] with bounded lock-contention retry: when a RIVAL commit
    * holds the lock (streaming sink racing a maintenance fold, two
    * tables sharing a log), wait and retry instead of failing the
    * batch. Carried-forward branch pointers re-resolve against the
    * rival's snapshot on every attempt, so the rival's work is never
    * clobbered — the optimistic-concurrency behavior of Iceberg's
    * commit loop over this log's pessimistic lock. Gives up loudly
    * after `attempts` tries (a STUCK lock — crashed committer — needs
    * [[breakLock]], not retries; unbounded spinning would hide it). */
  def commitWithRetry(branches: Map[String, DataFrame],
                      specs: Map[String, WriteSpec] = Map.empty,
                      drop: Set[String] = Set.empty,
                      attempts: Int = 5, backoffMs: Long = 200L): Long = {
    require(attempts >= 1)
    var i = 0
    while (true) {
      i += 1
      try return commit(branches, specs, drop)
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (i >= attempts) throw e
          Thread.sleep(backoffMs * i)
      }
    }
    -1L // unreachable
  }

  /** Publish an externally-materialized snapshot — the replication commit
    * ([[SnapshotReplicate]]): every branch data dir of `snap` must
    * already exist under THIS root (byte-copied from the source log);
    * this writes the manifest under the SOURCE's id (so `asOf` time
    * travel addresses the same ids on both sides) re-parented onto the
    * replica's own live chain (source parents may never have been
    * replicated), then flips the pointer. Monotonic by id: replaying an
    * older source snapshot over a newer replica fails loudly. The
    * manifest write OVERWRITES, unlike [[stage]]'s create-only — a
    * replicator that crashed between manifest and pointer flip must be
    * able to retry the same id. */
  def commitReplicated(snap: Snapshot): Long = {
    acquireLock()
    try {
      val cur = current()
      require(cur.forall(_.id < snap.id),
        s"replica is at ${cur.map(_.id).getOrElse(-1L)}, refusing " +
          s"non-monotonic snapshot ${snap.id}")
      snap.branches.foreach { case (name, b) =>
        require(fs.exists(new Path(rootPath, b.path)),
          s"replicated data dir missing for branch $name: ${b.path}")
      }
      MetaFile.replace(spark, manifestPath(snap.id),
        renderManifest(snap.copy(parent = cur.map(_.id))))
      new Pending(snap.id).activate()
    } catch { case e: Throwable => releaseLock(); throw e }
  }

  /** Roll the table back to snapshot `asOf` by committing a NEW
    * snapshot that re-references the old snapshot's immutable data dirs
    * — history only moves FORWARD (the rolled-past snapshots stay
    * time-travelable until [[expire]]), nothing is rewritten or
    * deleted, and a crash mid-rollback leaves the table untouched
    * (the pointer flip is the only commit point). The Delta/Iceberg
    * RESTORE verb over our own log. Refuses if any of the target's
    * data dirs were already expired. */
  def rollbackTo(asOf: Long): Long = {
    acquireLock()
    try {
      val cur = current().getOrElse(
        throw new IllegalStateException(s"$root has no snapshot"))
      require(asOf != cur.id, s"already at snapshot $asOf")
      val target = snapshot(asOf)
      target.branches.foreach { case (name, b) =>
        require(fs.exists(new Path(rootPath, b.path)),
          s"cannot roll back to $asOf: branch $name data expired (${b.path})")
      }
      val id = nextId(Some(cur.id))
      MetaFile.replace(spark, manifestPath(id),
        renderManifest(target.copy(id = id, parent = Some(cur.id))))
      new Pending(id).activate()
    } catch { case e: Throwable => releaseLock(); throw e }
  }

  /** Ancestors of the live snapshot, newest first (the undo/time-travel
    * chain). */
  def history(): Seq[Long] = {
    val b = Seq.newBuilder[Long]
    var cur = currentId()
    while (cur.isDefined) { b += cur.get; cur = snapshot(cur.get).parent }
    b.result()
  }

  /** Keep the newest `keepLast` snapshots of the live chain; delete every
    * other manifest and every data dir no kept snapshot references —
    * including orphans from crashed commits. Expired ids stop resolving;
    * kept ids still time-travel. */
  def expire(keepLast: Int): Unit = {
    require(keepLast >= 1, "must keep at least the live snapshot")
    acquireLock() // never sweep under a committer's feet
    try expireLocked(keepLast) finally releaseLock()
  }

  private def expireLocked(keepLast: Int): Unit = {
    val keep = history().take(keepLast)
    val keptRefs = keep.map(snapshot).flatMap(_.branches.values.map(_.path)).toSet
    val snapDir = new Path(rootPath, "snapshots")
    if (fs.exists(snapDir))
      fs.listStatus(snapDir).foreach { st =>
        st.getPath.getName match {
          case ManifestName(id) if !keep.contains(id.toLong) =>
            fs.delete(st.getPath, true): Unit
          case _ => ()
        }
      }
    val dataDir = new Path(rootPath, "data")
    if (fs.exists(dataDir))
      fs.listStatus(dataDir).foreach { branchSt =>
        fs.listStatus(branchSt.getPath).foreach { verSt =>
          val rel = s"data/${branchSt.getPath.getName}/${verSt.getPath.getName}"
          if (!keptRefs.contains(rel)) fs.delete(verSt.getPath, true): Unit
        }
      }
  }

  /** Next id must clear BOTH the live id and any orphan manifest a crashed
    * commit left behind (its data dirs may be partial — never reuse). */
  private def nextId(liveId: Option[Long]): Long = {
    val snapDir = new Path(rootPath, "snapshots")
    val maxManifest =
      if (!fs.exists(snapDir)) 0L
      else fs.listStatus(snapDir).map(_.getPath.getName).collect {
        case ManifestName(id) => id.toLong
      }.foldLeft(0L)(math.max)
    math.max(liveId.getOrElse(0L), maxManifest) + 1
  }
}

object SnapshotLog {

  /** One branch's data at one snapshot: dir relative to the log root plus
    * what a reader needs to load it (format + options, e.g. csv header). */
  final case class BranchRef(path: String, format: String,
                             readOptions: Map[String, String] = Map.empty)

  final case class Snapshot(id: Long, parent: Option[Long],
                            branches: Map[String, BranchRef])

  private val ManifestName = "snap-(\\d+)\\.json".r

  private[sinks] def renderManifest(s: Snapshot): String =
    (JsonUtil.obj("snapshot" -> s.id, "parent" -> s.parent.getOrElse(-1L)) +:
      s.branches.toSeq.sortBy(_._1).map { case (name, b) =>
        JsonUtil.obj("branch" -> name, "path" -> b.path, "format" -> b.format,
          "options" -> SortedMap.from(b.readOptions))
      }).mkString("\n")

  private[sinks] def parseManifest(id: Long, txt: String): Snapshot = {
    val lines = JsonUtil.parseLines(txt)
    require(lines.nonEmpty, s"empty manifest for snapshot $id")
    val headId = (lines.head \ "snapshot").extract[Long]
    require(headId == id, s"manifest id $headId != requested $id")
    val parent = (lines.head \ "parent").extractOpt[Long].filter(_ >= 0)
    Snapshot(id, parent, lines.tail.map { b =>
      (b \ "branch").extract[String] -> BranchRef((b \ "path").extract[String],
        (b \ "format").extractOpt[String].getOrElse("parquet"),
        (b \ "options").extractOpt[Map[String, String]].getOrElse(Map.empty))
    }.toMap)
  }
}
