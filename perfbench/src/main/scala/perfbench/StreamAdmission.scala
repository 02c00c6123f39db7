package perfbench

import java.io.File
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.multimodal.{AudioDedup, Multimodal}
import graft.streaming.{MediaDedupIngest, Streams}

/** `stream_admission`: audio part-hash admission (`partHashes = true,
  * minSharedParts = 2`) draining a staged backlog in one timed operation,
  * one file per trigger under `Trigger.AvailableNow`. Each trigger carries
  * little data, so the micro-batch machinery, the decode and hash, and the
  * growing committed store dominate. */
object StreamAdmission {
  val ClipsPerFile = 24
  /** Fewest files a run drains; the first trigger is not timed. */
  val MinFiles = 4
  val SetupReps = 3

  private def triggerMs(p: StreamingQueryProgress): Long =
    Option(p.durationMs.get("triggerExecution")).fold(0L)(_.longValue)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val seed = Gen.workloadSeed(ctx.seed, "stream_admission")
    val rec = new Recorder(ctx)
    val storeSizes = mutable.ArrayBuffer.empty[(Long, Long)]
    var store = ""
    val sizer = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0)
          storeSizes.synchronized { storeSizes += Harness.treeSize(new File(store)) }
    }
    if (ctx.trace) spark.streams.addListener(sizer)

    /** Writes each backlog file as one parquet file in its own directory,
      * all in one job. */
    def stage(backlog: Seq[Seq[Gen.Clip]], dir: String): Seq[String] = {
      val rows = backlog.zipWithIndex.flatMap { case (clips, i) =>
        Gen.mediaRows(clips).map(r => Row.fromSeq(r.toSeq :+ i)) }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
          Multimodal.mediaSchema.add("f", IntegerType))
        .repartition(col("f")).write.partitionBy("f").parquet(dir)
      backlog.indices.map(i => s"$dir/f=$i")
    }

    /** Moves files into the stream's input directory, oldest first. */
    def release(files: Seq[String], in: String, first: Int): Unit =
      files.zipWithIndex.foreach { case (f, i) =>
        val dst = new File(in, f"f${first + i}%03d")
        require(new File(f).renameTo(dst), s"cannot stage $f")
        dst.listFiles().foreach(_.setLastModified(1000000000000L + (first + i) * 1000L))
      }

    def drain(root: String): Seq[StreamingQueryProgress] = {
      val q = MediaDedupIngest.start(
        Streams.fileReplay(spark, s"$root/in/*", Multimodal.mediaSchema),
        s"$root/store", s"$root/ckpt", modality = "audio",
        partHashes = true, minSharedParts = 2)
      q.awaitTermination()
      q.recentProgress.filter(_.numInputRows > 0).toSeq
    }

    try {
      val ((root, gen), sum, setupS) =
          Harness.setup(ctx.dir("setup"), SetupReps) { dir =>
        val gen = Gen.backlog(seed, ClipsPerFile)
        stage(Seq(gen.next()), s"$dir/pending")
        ((dir, gen), Gen.fileChecksum(s"$dir/pending"))
      }
      store = s"$root/store"

      // warm-up: the first file opens the committed store, so no timed
      // trigger meets an empty one
      val w0 = System.nanoTime()
      new File(s"$root/in").mkdirs()
      release(Seq(s"$root/pending/f=0"), s"$root/in", 0)
      val warmTriggerS = drain(root).map(triggerMs).sum / 1000.0
      rec.release()
      // the backlog is sized from the window: enough files to fill
      // --seconds at the warm-up's trigger time, so the sample grows with
      // the window
      val files = math.max(MinFiles,
        math.ceil(ctx.seconds / math.max(0.1, warmTriggerS)).toInt)
      val backlog = Seq.fill(files)(gen.next())
      val staged = stage(backlog, s"$root/backlog")
      val backlogSum = Gen.fileChecksum(s"$root/backlog")
      release(staged, s"$root/in", 1)
      val warmupS = (System.nanoTime() - w0) / 1e9

      var refusedPlanted, planted = 0L
      var badFiles = files // until the check says otherwise
      val progress = rec.op("stream.drain")(drain(root))(ps => {
        val admitted = MediaDedupIngest.survivors(spark, store)
          .select(col("media_id")).collect().map(_.getLong(0)).toSet
        val wrong = backlog.indices.filter { f =>
          val clips = backlog(f)
          val reuploads = clips.filter(_.kind != Gen.Novel)
          planted += reuploads.size
          refusedPlanted += reuploads.count(c => !admitted(c.id))
          clips.filter(c => admitted(c.id)).map(_.id).toSet !=
            clips.filter(_.kind == Gen.Novel).map(_.id).toSet
        }
        badFiles = wrong.size
        if (ps.size != files)
          Some(s"${ps.size} micro-batches for $files files")
        else if (wrong.nonEmpty)
          Some("admitted ids differ from the planted novel clips in files " +
            wrong.map(_ + 1).mkString(","))
        else None
      }, ps => ps.map { p =>
        val t = Instant.parse(p.timestamp).toEpochMilli
        ("stream.trigger", t, t + triggerMs(p))
      })
      val op = rec.ops.last
      val failed = if (op.ok) 0 else math.max(1, badFiles)
      val batches = progress.getOrElse(Nil).sortBy(_.batchId)

      // the first trigger after the query start also pays for starting it;
      // it counts in the drain wall (items_per_s), not in the trigger times
      val steady = batches.drop(1)
      val triggerS = steady.map(triggerMs(_) / 1000.0)
      val layers: Map[String, Double] =
        if (!ctx.trace) Map.empty
        else {
          val windows = steady.flatMap { b =>
            val start = Instant.parse(b.timestamp).toEpochMilli
            val w = (start, start + triggerMs(b))
            rec.probe.map(p => (w, p.stats(op.op, Some(w))))
          }
          def durMed(k: String) =
            if (steady.isEmpty) 0.0
            else Stats.median(steady.map(b =>
              Option(b.durationMs.get(k)).fold(0.0)(_.doubleValue)))
          val hashMs = {
            val one = spark.read.parquet(s"$root/in/f000")
            rec.tracer.span("multimodal.hash_audio", -1)(
              Harness.medianMs(3)(AudioDedup.hashAudio(one).count())) / ClipsPerFile
          }
          val (storeFiles, storeBytes) = storeSizes.synchronized {
            storeSizes.lastOption.getOrElse(Harness.treeSize(new File(store)))
          }
          Harness.engineLayers(windows, ctx.cores) ++ Map(
            "streaming.add_batch_ms" -> durMed("addBatch"),
            "streaming.query_planning_ms" -> durMed("queryPlanning"),
            "streaming.latest_offset_ms" -> durMed("latestOffset"),
            "streaming.wal_commit_ms" -> durMed("walCommit"),
            "streaming.commit_offsets_ms" -> durMed("commitOffsets"),
            "streaming.jobs_per_batch" ->
              (if (windows.isEmpty) 0.0 else Stats.median(windows.map(_._2.jobs.toDouble))),
            "streaming.driver_only_ms_per_batch" ->
              (if (windows.isEmpty) 0.0 else Stats.median(windows.map { case ((a, b), e) =>
                Stats.uncovered(a, b, e.jobIntervals).toDouble })),
            "dedup.store_files" -> storeFiles.toDouble,
            "dedup.store_bytes" -> storeBytes.toDouble,
            "dedup.refused_ratio" ->
              (if (planted == 0) 0.0 else refusedPlanted.toDouble / planted),
            "multimodal.hash_ms_per_clip" -> hashMs,
            "spark.leftover_persisted_rdds" ->
              Stats.median(rec.ops.toSeq.map(_.leftoverRdds.toDouble)))
        }
      val ops = rec.ops.toSeq
      val decided = batches.map(_.numInputRows).sum
      Outcome(files, failed, triggerS, decided / math.max(1e-9, op.wallS),
        setupS, warmupS, layers ++ Harness.hostLayers(ops),
        s"file 0 $sum, files 1-$files $backlogSum", ops,
        Seq(s"${batches.size} micro-batches for $files files, sized from a " +
          s"$warmTriggerS s warm-up trigger; trigger ms " +
          batches.map(triggerMs).mkString(",")),
        rec.tracer.selfTimes)
    } finally {
      if (ctx.trace) spark.streams.removeListener(sizer)
      rec.close()
    }
  }
}
