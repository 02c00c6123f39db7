package graft.streaming

import java.io.File

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}

import graft.{SparkSpec, Tables}
import graft.multimodal.{ImageDedup, Multimodal}

class MediaDedupIngestSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("media_type", StringType),
    StructField("payload", BinaryType),
    StructField("mime", StringType),
    StructField("source", StringType)))

  private lazy val docs = Tables.load(spark, sf, "documents")
  private lazy val variants =
    Multimodal.syntheticImageVariants(spark, docs, groups = 25)

  private def writeArrivals(inDir: String): Seq[org.apache.spark.sql.DataFrame] = {
    val slices = Seq(
      variants.filter(col("media_id") < 200),
      variants.filter(col("media_id") >= 200 && col("media_id") < 350),
      variants.filter(col("media_id") >= 350))
    slices.zipWithIndex.foreach { case (s, i) =>
      val part = s"$inDir/f$i"
      s.coalesce(1).write.parquet(part)
      new File(part).listFiles().foreach(_.setLastModified(1000000L * (i + 1)))
    }
    slices
  }

  test("streamed admission == batch-ordered exact incremental; replays never duplicate") {
    val in = tmpDir("mdi-in"); val store = tmpDir("mdi-store") + "/store"
    val slices = writeArrivals(in)

    def run(ckpt: String): Unit = {
      val q = MediaDedupIngest.start(
        Streams.fileReplay(spark, s"$in/*", schema), store, ckpt,
        modality = "image")
      q.awaitTermination()
    }
    val ckptA = tmpDir("mdi-ckpt-a")
    run(ckptA)

    // expected: fold the slices in arrival order through the exact
    // reference anti-join
    var committed = Seq.empty[String]
    val expected = Seq.newBuilder[Long]
    slices.foreach { s =>
      val h = ImageDedup.hashImages(s)
      val committedDf = committed.toDF("h")
      val w = graft.dedup.IncrementalDedup.survivorsExact(
        h, committedDf, "media_id", col("dhash").cast("string"))
      expected ++= w.select("media_id").as[Long].collect()
      committed = committed ++ h.select(col("dhash").cast("string"))
        .as[String].collect()
    }
    val got = MediaDedupIngest.survivors(spark, store)
    val gotIds = got.select("media_id").as[Long].collect().sorted.toSeq
    assert(gotIds == expected.result().sorted,
      "streamed survivors diverge from the batch-ordered exact reference")
    // admitted content is globally distinct
    val nHashes = ImageDedup.hashImages(got.select(
      "media_id", "media_type", "payload", "mime", "source"))
      .select("dhash").distinct().count()
    assert(nHashes == gotIds.size)
    // the hash store holds exactly the admitted fingerprints
    val storeH = spark.read.parquet(s"$store/hashes").select("h")
    assert(storeH.count() == gotIds.size &&
      storeH.distinct().count() == gotIds.size)

    // SAME checkpoint restart: AvailableNow already drained — no-op
    run(ckptA)
    assert(MediaDedupIngest.survivors(spark, store).count() == gotIds.size)

    // a DIFFERENT checkpoint restarts ids at 0: refused, store intact
    val e = intercept[IllegalArgumentException] { run(tmpDir("mdi-ckpt-b")) }
    assert(e.getMessage.contains("bound to checkpoint"), e.getMessage)
    assert(MediaDedupIngest.survivors(spark, store).count() == gotIds.size)

    // explicit rebind: the replay re-delivers the same files under the
    // same ids — partitions republish byte-identically, nothing changes
    new File(s"$store/_stream.json").delete()
    run(tmpDir("mdi-ckpt-c"))
    val after = MediaDedupIngest.survivors(spark, store)
      .select("media_id").as[Long].collect().sorted.toSeq
    assert(after == gotIds)
  }

  test("scrubMetadata: admitted payloads lose container metadata, admissions unchanged") {
    val in = tmpDir("mdi-scrub-in")
    val meta = Multimodal.syntheticImagesWithMetadata(spark,
      docs.filter(col("doc_id") < 60))
    meta.coalesce(1).write.parquet(s"$in/f0")
    def run(store: String, scrub: Boolean): Unit = {
      val q = MediaDedupIngest.start(
        Streams.fileReplay(spark, s"$in/*", schema), store,
        tmpDir(s"mdi-scrub-ckpt-$scrub"), modality = "image",
        scrubMetadata = scrub)
      q.awaitTermination()
    }
    val storeA = tmpDir("mdi-scrub-a") + "/store"
    val storeB = tmpDir("mdi-scrub-b") + "/store"
    run(storeA, scrub = true)
    run(storeB, scrub = false)
    val a = MediaDedupIngest.survivors(spark, storeA)
    val b = MediaDedupIngest.survivors(spark, storeB)
    // identical admission decisions — the scrub is post-dedup
    assert(a.select("media_id").as[Long].collect().sorted.toSeq ==
      b.select("media_id").as[Long].collect().sorted.toSeq)
    // scrubbed survivors carry no metadata; unscrubbed ones do (id % 4)
    assert(graft.multimodal.MediaScrub.scrubReport(a)
      .filter(col("had_metadata")).count() == 0)
    assert(graft.multimodal.MediaScrub.scrubReport(b)
      .filter(col("had_metadata")).count() > 0)
    // pixels unchanged: perceptual hashes match across the two stores
    val ha = ImageDedup.hashImages(a).withColumnRenamed("dhash", "da")
    val hb = ImageDedup.hashImages(b).withColumnRenamed("dhash", "db")
    assert(ha.join(hb, "media_id").filter(col("da") =!= col("db"))
      .count() == 0)
  }

  test("audio modality admits first-seen fingerprints through the same store") {
    val in = tmpDir("mdi-a-in"); val store = tmpDir("mdi-a-store") + "/store"
    val audio = Multimodal.syntheticAudioVariants(spark, docs, groups = 20)
    Seq(audio.filter(col("media_id") < 250),
        audio.filter(col("media_id") >= 250)).zipWithIndex.foreach {
      case (s, i) =>
        val part = s"$in/f$i"
        s.coalesce(1).write.parquet(part)
        new File(part).listFiles().foreach(_.setLastModified(1000000L * (i + 1)))
    }
    val q = MediaDedupIngest.start(
      Streams.fileReplay(spark, s"$in/*", schema), store,
      tmpDir("mdi-a-ckpt"), modality = "audio")
    q.awaitTermination()
    val got = MediaDedupIngest.survivors(spark, store)
    // 20 pitch groups, volume variants collapse: 20 distinct fingerprints
    assert(got.count() == 20, s"got ${got.count()}")
    // every survivor is the min id of its group within its first batch
    assert(got.filter(col("media_id") >= 250).count() == 0)
    // unknown modality refuses before starting
    val e = intercept[IllegalArgumentException] {
      MediaDedupIngest.start(Streams.fileReplay(spark, s"$in/*", schema),
        store, tmpDir("mdi-a-ckpt2"), modality = "text")
    }
    assert(e.getMessage.contains("modality"), e.getMessage)
  }

  test("sketch store: O(batches) prefilter, compaction, legacy rebuild") {
    val in = tmpDir("mdi-s-in"); val store = tmpDir("mdi-s-store") + "/store"
    // every batch introduces NEW content (clean bases, then their
    // perturbed renders, then unrelated gradients) so each commits a
    // hash partition — zero-admission batches commit nothing and their
    // sketches never load
    val slices = Seq(
      variants.filter(col("media_id") < 25),
      variants.filter(col("media_id") >= 25 && col("media_id") < 50),
      Multimodal.syntheticImages(spark, docs.filter(col("doc_id") < 30)))
    slices.zipWithIndex.foreach { case (s, i) =>
      val part = s"$in/f$i"
      s.coalesce(1).write.parquet(part)
      new File(part).listFiles().foreach(_.setLastModified(1000000L * (i + 1)))
    }
    val ckpt = tmpDir("mdi-s-ckpt")
    def run(): Unit = {
      val q = MediaDedupIngest.start(
        Streams.fileReplay(spark, s"$in/*", schema), store, ckpt,
        modality = "image")
      q.awaitTermination()
    }
    run()
    val sketchDir = new File(store, "sketches")
    def sketchNames = sketchDir.listFiles.map(_.getName)
      .filterNot(_.startsWith(".")).sorted.toSeq // drop local-FS .crc
    // one right-sized sketch per committed batch, no compaction yet
    assert(sketchNames ==
      Seq("sketch-0.bloom", "sketch-1.bloom", "sketch-2.bloom"))
    // the prefilter for a next batch loads ONLY those sketch files —
    // 3 blooms, no full hash re-scan (no compact file appears)
    val blooms = MediaDedupIngest.committedBlooms(spark, store, 3L,
      fpp = 0.01, maxSketches = 16)
    assert(blooms.size == 3)
    assert(!sketchNames.exists(_.startsWith("compact")))
    // the loaded sketches COVER every committed hash (no false negatives)
    val committed = spark.read.parquet(s"$store/hashes")
      .select("h").as[String].collect()
    assert(committed.nonEmpty &&
      committed.forall(h => blooms.exists(_.mightContain(h))))
    // maxSketches exceeded -> ONE full pass writes a compacted sketch
    val blooms2 = MediaDedupIngest.committedBlooms(spark, store, 3L,
      fpp = 0.01, maxSketches = 2)
    assert(blooms2.size == 1)
    assert(sketchNames.contains("compact-upto-3.bloom"))
    assert(committed.forall(h => blooms2.head.mightContain(h)))
    // after compaction the assembly is compact + newer sketches only
    val blooms3 = MediaDedupIngest.committedBlooms(spark, store, 3L,
      fpp = 0.01, maxSketches = 16)
    assert(blooms3.size == 1) // batches 0-2 all covered by the compact
    // LEGACY store (sketches missing) -> rebuild covers everything
    sketchDir.listFiles.foreach(f => assert(f.delete()))
    val blooms4 = MediaDedupIngest.committedBlooms(spark, store, 3L,
      fpp = 0.01, maxSketches = 16)
    assert(blooms4.size == 1)
    assert(committed.forall(h => blooms4.head.mightContain(h)))
    // admissions through the sketch path stayed byte-identical to the
    // batch-ordered exact fold (the first run used sketches for batches
    // 1 and 2)
    val got = MediaDedupIngest.survivors(spark, store)
      .select("media_id").as[Long].collect().sorted.toSeq
    var exact = Seq.empty[Long]
    var committedH = spark.emptyDataset[String].toDF("h")
    slices.foreach { sl =>
      val s = graft.dedup.IncrementalDedup.survivorsExact(
        ImageDedup.hashImages(sl), committedH, "media_id",
        col("dhash").cast("string"))
      exact ++= s.select("media_id").as[Long].collect()
      committedH = committedH.unionByName(
        s.select(col("content_hash").as("h")))
    }
    assert(got == exact.sorted.toSeq)
  }

  test("fingerprint-format binding: stale or missing versions refuse admission") {
    val in = tmpDir("mdi-f-in"); val store = tmpDir("mdi-f-store") + "/store"
    val audio = Multimodal.syntheticAudioVariants(spark, docs, groups = 20)
    audio.filter(col("media_id") < 100).coalesce(1).write.parquet(s"$in/f0")
    new File(s"$in/f0").listFiles().foreach(_.setLastModified(1000000L))
    val ckpt = tmpDir("mdi-f-ckpt")
    MediaDedupIngest.start(Streams.fileReplay(spark, s"$in/*", schema),
      store, ckpt, modality = "audio").awaitTermination()
    // the first start stamped the store with this build's format
    assert(MediaDedupIngest.readFormat(spark, store).map(f => (f.modality, f.format))
      .contains(("audio", MediaDedupIngest.formatVersion("audio"))))
    // same version resumes fine
    MediaDedupIngest.start(Streams.fileReplay(spark, s"$in/*", schema),
      store, ckpt, modality = "audio").awaitTermination()
    // a store stamped by an OLDER format (pre-Gray-code v1) refuses —
    // its committed hashes would silently stop matching
    MediaDedupIngest.writeFormat(spark, store, "audio", 1)
    val stale = intercept[IllegalArgumentException] {
      MediaDedupIngest.start(Streams.fileReplay(spark, s"$in/*", schema),
        store, ckpt, modality = "audio")
    }
    assert(stale.getMessage.contains("rebuild"), stale.getMessage)
    // feeding a different MODALITY into the store refuses
    MediaDedupIngest.writeFormat(spark, store, "audio",
      MediaDedupIngest.formatVersion("audio"))
    val wrongMod = intercept[IllegalArgumentException] {
      MediaDedupIngest.start(Streams.fileReplay(spark, s"$in/*", schema),
        store, ckpt, modality = "image")
    }
    assert(wrongMod.getMessage.contains("separate store"), wrongMod.getMessage)
    // a LEGACY store (committed hashes, no token) refuses until rebuilt
    // or stamped by hand
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(store, "_format.json"), false)
    val legacy = intercept[IllegalArgumentException] {
      MediaDedupIngest.start(Streams.fileReplay(spark, s"$in/*", schema),
        store, ckpt, modality = "audio")
    }
    assert(legacy.getMessage.contains("predates format versioning"),
      legacy.getMessage)
  }

  test("partHashes: trimmed/padded re-uploads of committed audio are refused") {
    val clips = graft.multimodal.Multimodal.syntheticAudioShiftVariants(
      spark, docs, groups = 10).filter(col("media_id") < 30)
    val in = tmpDir("mdi-p-in"); val store = tmpDir("mdi-p-store") + "/store"
    Seq(clips.filter(col("media_id") < 10),           // base renders
        clips.filter(col("media_id").between(10, 19)), // trimmed copies
        clips.filter(col("media_id") >= 20)).zipWithIndex.foreach { // padded
      case (s, i) =>
        val part = s"$in/f$i"
        s.coalesce(1).write.parquet(part)
        new File(part).listFiles().foreach(_.setLastModified(1000000L * (i + 1)))
    }
    val ckpt = tmpDir("mdi-p-ckpt")
    def run(): Unit = MediaDedupIngest.start(
      Streams.fileReplay(spark, s"$in/*", schema), store, ckpt,
      modality = "audio", partHashes = true).awaitTermination()
    val c = Multimodal.MediaCounters.audioReads
    val before = c.get()
    run()
    // ONE decode per record: whole hash + part windows from profileDeep
    assert(c.get() - before == 30,
      s"decoded ${c.get() - before} clips for 30 records")
    // the trimmed and padded re-uploads carry FRESH whole-clip
    // fingerprints (trimming re-buckets all 8 segments) but >= 2 of
    // their hop-aligned window values are committed — refused
    val got = MediaDedupIngest.survivors(spark, store)
      .select("media_id").as[Long].collect().sorted.toSeq
    assert(got == (0L until 10L), s"admitted: $got")
    // parts committed only for admitted records
    assert(spark.read.parquet(s"$store/parts").count() == 40) // 10 x 4 windows
    // replay idempotence: the drained checkpoint re-runs as a no-op
    run()
    assert(MediaDedupIngest.survivors(spark, store).count() == 10)
    // THE GAP IS REAL: whole-content admission admits every re-upload
    val store2 = tmpDir("mdi-p-loose") + "/store"
    MediaDedupIngest.start(
      Streams.fileReplay(spark, s"$in/*", schema), store2,
      tmpDir("mdi-p-loose-ckpt"), modality = "audio").awaitTermination()
    val loose = MediaDedupIngest.survivors(spark, store2)
      .select("media_id").as[Long].collect().sorted.toSeq
    assert(loose == (0L until 30L), s"loose admitted: $loose")
    // the part spec binds the store: a different window geometry would
    // silently never match committed part values — refused loudly
    val e = intercept[IllegalArgumentException] {
      MediaDedupIngest.start(
        Streams.fileReplay(spark, s"$in/*", schema), store, ckpt,
        modality = "audio", partHashes = true, hopFrames = 200)
    }
    assert(e.getMessage.contains("part spec"), e.getMessage)
    // ... and so would dropping partHashes on a parts-bound store
    val e2 = intercept[IllegalArgumentException] {
      MediaDedupIngest.start(
        Streams.fileReplay(spark, s"$in/*", schema), store, ckpt,
        modality = "audio")
    }
    assert(e2.getMessage.contains("part spec"), e2.getMessage)
  }

  test("bucketed hash store: exact-verify scans only matching-bucket files") {
    val in = tmpDir("mdi-b-in"); val store = tmpDir("mdi-b-store") + "/store"
    Seq(variants.filter(col("media_id") < 50),             // all 50 contents
        variants.filter(col("media_id").between(50, 54)))  // 5 re-uploads
      .zipWithIndex.foreach { case (s, i) =>
        val part = s"$in/f$i"
        s.coalesce(1).write.parquet(part)
        new File(part).listFiles().foreach(_.setLastModified(1000000L * (i + 1)))
      }
    MediaDedupIngest.start(Streams.fileReplay(spark, s"$in/*", schema),
      store, tmpDir("mdi-b-ckpt"), modality = "image").awaitTermination()
    // batch 1 was all duplicates: nothing admitted, NO batch=1 hash dir
    // (a fileless dir would break later partition discovery)
    val expected = ImageDedup.hashImages(
      variants.filter(col("media_id") < 50))
      .select("dhash").distinct().count()
    assert(MediaDedupIngest.survivors(spark, store).count() == expected)
    assert(!new File(s"$store/hashes/batch=1").exists())
    // committed layout: every hash file sits under an hb= bucket dir
    val b0 = new File(s"$store/hashes/batch=0")
    val hbDirs = b0.listFiles().filter(_.isDirectory).map(_.getName).toSeq
    assert(hbDirs.nonEmpty && hbDirs.forall(_.startsWith("hb=")), hbDirs)
    assert(MediaDedupIngest.readFormat(spark, store).map(_.layout).contains("hb64"))
    // the FS-level pruning guarantee: replay batch 1's probe by hand —
    // the bucket-filtered committed view must SCAN only matching-bucket
    // files (executed-plan numFiles), never the whole committed store
    val probe = ImageDedup.hashImages(
      variants.filter(col("media_id").between(50, 54)))
      .select(col("dhash").cast("string").as("h"))
    val buckets = probe.select(MediaDedupIngest.bucketOf(col("h")).as("hb"))
      .distinct().as[Long].collect().toSeq
    val committed = spark.read.option("basePath", s"$store/hashes")
      .parquet(s"$store/hashes/batch=0")
    def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
      val plan = df.queryExecution.executedPlan
      plan.execute().count(): Unit
      plan.collectLeaves().collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.get
    }
    val allFiles = filesScanned(committed)
    val prunedFiles = filesScanned(
      committed.filter(col("hb").isin(buckets: _*)))
    assert(prunedFiles < allFiles,
      s"prune scanned $prunedFiles of $allFiles committed files")
    val matchingBucketFiles = buckets.map { b =>
      val d = new File(s"$store/hashes/batch=0/hb=$b")
      if (d.exists()) d.listFiles().count(_.getName.endsWith(".parquet"))
      else 0
    }.sum
    assert(prunedFiles == matchingBucketFiles,
      s"scanned $prunedFiles files but the probe's buckets hold " +
        s"$matchingBucketFiles")
    // ... and the pruned view still verifies every duplicate exactly
    assert(probe.join(
      committed.filter(col("hb").isin(buckets: _*)).select("h"),
      Seq("h"), "left_semi").count() == probe.select("h").distinct().count())
  }

  test("within-batch part refusal: a trim arriving WITH its base refuses; card reports it") {
    // bases, their trimmed copies AND their padded copies all land in
    // ONE micro-batch: the committed store is empty, so only the
    // within-batch pass (parts keyed on min holder) can catch them
    val clips = Multimodal.syntheticAudioShiftVariants(spark, docs,
      groups = 10).filter(col("media_id") < 30)
    val in = tmpDir("mdi-w-in"); val store = tmpDir("mdi-w-store") + "/store"
    clips.coalesce(1).write.parquet(s"$in/f0")
    MediaDedupIngest.start(Streams.fileReplay(spark, s"$in/*", schema),
      store, tmpDir("mdi-w-ckpt"), modality = "audio", partHashes = true)
      .awaitTermination()
    val got = MediaDedupIngest.survivors(spark, store)
      .select("media_id").as[Long].collect().sorted.toSeq
    assert(got == (0L until 10L), s"admitted: $got")
    // refusals are audited under part_refused/batch=<id> and surface on
    // the admission card's part leg
    val pr = MediaDedupIngest.partRefused(spark, store)
      .select("media_id").as[Long].collect().sorted.toSeq
    assert(pr == (10L until 30L), s"part_refused: $pr")
    val card = MediaDedupIngest.admissionCard(spark, store).collect()
    assert(card.length == 1)
    assert(card.head.getAs[Long]("n_admitted") == 10L &&
      card.head.getAs[Long]("n_gated") == 0L &&
      card.head.getAs[Long]("n_part_refused") == 20L, card.head.toString)
    // a store without part admission reads zero part refusals, not a
    // path-not-found crash
    assert(MediaDedupIngest.partRefused(spark, tmpDir("mdi-nopr"))
      .count() == 0)
  }

  test("qualityGate rejects defects before dedup; gated never commit fingerprints") {
    val clean = Multimodal.syntheticImageVariants(spark,
      docs.filter(col("doc_id") % 5 =!= 0), groups = 20)
      .filter(expr("(media_id div 20) % 2 = 0"))
    val defects = Multimodal.syntheticImageQualityMix(spark,
      docs.filter(col("doc_id") % 5 === 0))
    val mixed = clean.unionByName(defects)
    val nTotal = mixed.count()
    val in = tmpDir("mdi-gate-in")
    val store = tmpDir("mdi-gate") + "/store"
    Seq(mixed.filter(col("media_id") < 200),
        mixed.filter(col("media_id") >= 200)).zipWithIndex.foreach {
      case (s, i) =>
        val part = s"$in/f$i"
        s.coalesce(1).write.parquet(part)
        new File(part).listFiles().foreach(_.setLastModified(1000000L * (i + 1)))
    }
    val c = Multimodal.MediaCounters.imageReads
    val before = c.get()
    val q = MediaDedupIngest.start(
      Streams.fileReplay(spark, s"$in/*", schema), store,
      tmpDir("mdi-gate-ckpt"), modality = "image", qualityGate = true)
    q.awaitTermination()
    // gating costs no extra decode: gates + fingerprint from ONE pass
    assert(c.get() - before == nTotal,
      s"decoded ${c.get() - before} times for $nTotal records")
    // admitted = first-seen CLEAN content per texture group (min id = g)
    val admitted = MediaDedupIngest.survivors(spark, store)
      .select("media_id").as[Long].collect().sorted.toSeq
    assert(admitted == (0L until 20L).filter(_ % 5 != 0),
      s"admitted: $admitted")
    // every thumbnail landed in the gated audit, none in the survivors
    val gatedIds = MediaDedupIngest.gated(spark, store)
      .select("media_id").as[Long].collect().sorted.toSeq
    assert(gatedIds == docs.filter(col("doc_id") % 5 === 0)
      .select("doc_id").as[Long].collect().sorted.toSeq)
    // gated records never commit a fingerprint: a later CLEAN copy of
    // the same content would still be admissible
    assert(spark.read.parquet(s"$store/hashes").count() == admitted.size)
    // gated() on a store that never gated reads empty, not path-not-found
    assert(MediaDedupIngest.gated(spark, tmpDir("mdi-ungated")).count() == 0)
    // the admission card reports per-batch admitted/gated counts: batch 0
    // admits the 16 clean group minima, batch 1 only re-sees content
    val card = MediaDedupIngest.admissionCard(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val g0 = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") < 200)
      .count()
    val g1 = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") >= 200)
      .count()
    assert(card == Seq((0L, 16L, g0), (1L, 0L, g1)), s"card: $card")
  }
}
