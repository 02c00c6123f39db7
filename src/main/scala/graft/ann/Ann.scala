package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.JsonUtil
import graft.JsonUtil.formats
import graft.state.MetaFile

/** Similarity search over an embedding column (array<float>).
  *
  * Four paths:
  *   - [[bruteForceTopK]] — exact cosine top-k: broadcast the (small) query
  *     set against the corpus; one map-side pass over the corpus computes
  *     all similarities, then a per-query top-k. Correctness baseline.
  *   - [[lshTopK]] — sign-random-projection (hyperplane) LSH: corpus and
  *     queries are bucketed by an m-bit signature; candidates are corpus
  *     vectors sharing a bucket with a query under any of `tables`
  *     independent hash tables. At 100 TB this avoids scoring the full
  *     corpus per query: the join is on bucket keys, candidates per query
  *     are O(bucket size × tables).
  *   - [[ivfTopK]] — inverted-file index: a coarse quantizer (spherical
  *     k-means over a bounded sample) assigns every corpus vector to a
  *     cell; each query probes only its `nprobe` nearest cells.
  *   - [[nearDupPairs]] — embedding-cosine near-duplicate PAIRS over the
  *     whole corpus (dedup, not search): banded SRP-LSH proposes candidate
  *     pairs, exact cosine verifies them.
  *
  * All arithmetic is in double (cast once) via codegen'd higher-order
  * functions — no UDFs.
  */
object Ann {

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Native fused multiply-add loop ([[graft.functions.DotProduct]]) —
    * bit-identical to the HOF spelling but with no per-row intermediate
    * array; the pairing joins evaluate this ~10^8 times. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnShim.column(graft.functions.DotProduct(
      org.apache.spark.sql.GraftColumnShim.expression(asDouble(a)),
      org.apache.spark.sql.GraftColumnShim.expression(asDouble(b))))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val (ad, bd) = (asDouble(a), asDouble(b))
    dot(ad, bd) / (norm(ad) * norm(bd))
  }

  /** Semantic decontamination — the embedding face of q72's n-gram
    * overlap check (benchmark leakage that survives paraphrase): flag
    * every corpus vector whose max cosine against ANY eval vector
    * clears `threshold`. The eval set is an eval benchmark, i.e.
    * BOUNDED, so it ships as a literal array inside the expression and
    * the corpus pays ONE codegen map pass — zero shuffles, zero joins;
    * at 100 TB this pipelines straight through the scan. The flag
    * compares the ROUNDED (6 dp) max cosine so engines sharing the
    * rounding agree exactly at the threshold edge.
    * `maxEval` guards the driver/codegen against an unbounded "eval"
    * set being collected by mistake. */
  def semanticContamination(corpus: DataFrame, evalSet: DataFrame,
                            idCol: String, vecCol: String, threshold: Double,
                            maxEval: Int = 4096): DataFrame = {
    val evalVecs = evalSet.select(asDouble(col(vecCol))).limit(maxEval + 1)
      .collect().map(_.getSeq[Double](0))
    require(evalVecs.nonEmpty, "semanticContamination: empty eval set")
    require(evalVecs.length <= maxEval,
      s"semanticContamination: eval set exceeds maxEval=$maxEval — " +
        "an eval benchmark is bounded; for corpus-vs-corpus use nearDupPairs")
    val refs = typedlit(evalVecs.toSeq)
    val maxCos = aggregate(refs, lit(-1.0),
      (acc, rv) => greatest(acc, cosine(rv, col(vecCol))))
    corpus.select(col(idCol), round(maxCos, 6).as("max_cos_r"))
      .withColumn("contaminated", col("max_cos_r") >= threshold)
  }

  /** Per-query top-k over ("query_id", "neighbor_id", "cosine") rows —
    * shared tail of every search path (deterministic tie-break on id). */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Exact top-k cosine neighbors of each query vector.
    * `queries` must be small enough to broadcast (it is hinted). Excludes
    * self-matches on equal ids. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
    rankTopK(scored, k)
  }

  /** m-bit sign-random-projection signature of a vector for one table —
    * one native eval computes ALL tables; this face picks one (see
    * [[graft.functions.SrpSignatures]] for why it is an Expression, not
    * higher-order functions). */
  def srpSignature(vec: Column, bits: Int, table: Int): Column =
    element_at(graft.functions.Srp.signatures(vec, bits, table + 1), table + 1)

  /** LSH-bucketed approximate top-k: candidates share a bucket in any
    * table, then exact cosine + per-query top-k over candidates only.
    *
    * The query side is MULTIPROBED: besides its own bucket, each query
    * probes every bucket at Hamming distance 1 (flip one signature bit).
    * Multiprobe multiplies only the tiny broadcast side by (bits+1) while
    * boosting per-table recall from p^bits to P(>= bits-1 bits agree) —
    * the standard trick to keep `tables` small at scale. Size `bits`
    * ~ log2(corpusSize / targetBucketSize). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, bits: Int = 12,
              tables: Int = 4): DataFrame = {
    def bucketed(df: DataFrame, id: String, multiprobe: Boolean): DataFrame = {
      val probes: Column => Column = sig =>
        if (!multiprobe) array(sig)
        else concat(array(sig), transform(sequence(lit(0), lit(bits - 1)),
          j => sig.bitwiseXOR(call_function("shiftleft", lit(1L), j))))
      // all table signatures in one native eval per row
      df.select(col(idCol).as(id), col(vecCol).as(s"__v_$id"), posexplode(
        graft.functions.Srp.signatures(col(vecCol), bits, tables))
        .as(Seq("tbl", "sig")))
        .select(col(id), col(s"__v_$id"), col("tbl"),
          explode(probes(col("sig"))).as("bucket"))
    }

    val qb = broadcast(bucketed(queries, "query_id", multiprobe = true))
    val cb = bucketed(corpus, "neighbor_id", multiprobe = false)
    val cand = cb.join(qb, Seq("tbl", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        col("__v_query_id"), col("__v_neighbor_id"))
      .distinct()
    val scored = cand.withColumn("cosine",
      cosine(col("__v_query_id"), col("__v_neighbor_id")))
    rankTopK(scored, k)
  }

  // ---------------------------------------------------------------------
  // Embedding-cosine near-duplicate pairs (dedup face of ANN)
  // ---------------------------------------------------------------------

  /** All corpus pairs (id_a < id_b) with cosine >= threshold: banded
    * SRP-LSH proposes candidates (pairs sharing a `bits`-bit signature in
    * any of `tables` tables), exact cosine filters them — LSH can only
    * MISS (P(miss) = (1 - p^bits)^tables, p = 1 - acos(cos)/pi), never
    * emit a below-threshold pair.
    *
    * Plan shape mirrors [[graft.dedup.MinHashDedup.candidatePairs]]: one
    * shuffle on (table, signature) buckets + intra-bucket pair generation
    * (no self-join), then a verify join that touches candidates only.
    * Size `bits` up with the threshold: tight thresholds (0.9+) allow
    * 8-16 bits (small selective buckets); loose ones (0.3-0.5) need few
    * bits and more tables to hold recall — at 100 TB run exact dedup
    * first and use a tight threshold, where bucket sizes stay tiny.
    * `maxBucketSize` sheds degenerate mega-buckets (boilerplate spikes,
    * zero vectors) at the cost of pairs inside them; the bound is the
    * DEFAULT because one mega-bucket emits O(bucket²) pairs from a single
    * task — pass `Int.MaxValue` to opt in to unbounded. */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, bits: Int = 2, tables: Int = 32,
                   maxBucketSize: Int = 10000): DataFrame = {
    val sigs = corpus.select(col(idCol).as("__id"), posexplode(
      graft.functions.Srp.signatures(col(vecCol), bits, tables))
      .as(Seq("tbl", "sig")))
    val ids = col("ids")
    val pairs = sigs.groupBy(col("tbl"), col("sig"))
      .agg(sort_array(collect_list(col("__id"))).as("ids"))
      .filter(size(ids) > 1 && size(ids) <= maxBucketSize)
      .select(explode(flatten(transform(ids, (x, i) =>
        transform(slice(ids, i + lit(2), size(ids)),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
    // sort-merge hint: the corpus side must NEVER be auto-broadcast —
    // Catalyst's size estimate through generate/union undercounts array
    // columns, and a mis-broadcast of the vector corpus OOMs the driver
    // (observed in ScaleProbe); SMJ is spillable on both sides at any
    // scale
    val va = corpus.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
      .hint("merge")
    val vb = corpus.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
      .hint("merge")
    pairs.join(va, "id_a").join(vb, "id_b")
      .withColumn("cosine", cosine(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  // ---------------------------------------------------------------------
  // IVF (inverted-file) ANN
  // ---------------------------------------------------------------------

  /** Coarse quantizer: unit-norm centroids (spherical k-means). */
  final case class IvfModel(centroids: Array[Array[Double]]) {
    def numCells: Int = centroids.length
  }

  private def dotArr(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(dotArr(v, v))
    if (n == 0) v else v.map(_ / n)
  }

  /** Train the coarse quantizer on a BOUNDED deterministic sample
    * (hash-ordered, like IVF builds everywhere: train small, assign big):
    * farthest-point init (greedy max-min cosine distance, deterministic)
    * then `iters` Lloyd refinements, all over the collected sample —
    * O(sampleN x cells x dim x iters) driver work, independent of corpus
    * size. Assignment of the full corpus stays distributed. */
  def ivfTrain(corpus: DataFrame, idCol: String, vecCol: String,
               numCells: Int, iters: Int = 3, sampleN: Int = 4096): IvfModel = {
    val sample = corpus
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(sampleN)
      .select(col(vecCol).cast("array<double>"))
      .collect().map(r => normalize(r.getSeq[Double](0).toArray))
    require(sample.length >= numCells,
      s"IVF: sample ${sample.length} smaller than numCells $numCells")
    // farthest-point init: start at the hash-min vector, greedily add the
    // sample point with the lowest max-cosine to the chosen set. A running
    // per-sample max-dot array (updated once per new centroid, k-means++
    // style) keeps this O(sampleN x cells x dim) — recomputing against the
    // whole chosen set per candidate would be quadratic in cells, a real
    // cost at the thousands-of-cells scale 100 TB demands.
    val init = scala.collection.mutable.ArrayBuffer(sample.head)
    val maxDot = sample.map(v => dotArr(v, sample.head))
    while (init.length < numCells) {
      var bestIdx = 0; var i = 1
      while (i < sample.length) { // first-min tie-break, matching minBy
        if (maxDot(i) < maxDot(bestIdx)) bestIdx = i
        i += 1
      }
      val next = sample(bestIdx)
      init += next
      var j = 0
      while (j < sample.length) {
        val d = dotArr(sample(j), next)
        if (d > maxDot(j)) maxDot(j) = d
        j += 1
      }
    }
    var cents = init.toArray
    // Lloyd: assign sample to argmax-cosine cell, recenter on the mean
    for (_ <- 0 until iters) {
      val sums = Array.fill(numCells)(new Array[Double](sample.head.length))
      val counts = new Array[Int](numCells)
      sample.foreach { v =>
        var best = 0; var bestDot = Double.MinValue; var c = 0
        while (c < numCells) {
          val d = dotArr(v, cents(c))
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < v.length) { sums(best)(i) += v(i); i += 1 }
      }
      cents = cents.indices.map(c =>
        if (counts(c) == 0) cents(c) else normalize(sums(c))).toArray
    }
    IvfModel(cents)
  }

  private def centroidLit(model: IvfModel): Column =
    typedlit(model.centroids.map(_.toSeq).toSeq)

  /** Per-centroid dot products of a (row-normalizing not needed — ranking
    * per row is scale-invariant) vector against the unit centroids. */
  private def cellScores(vec: Column, model: IvfModel): Column =
    transform(centroidLit(model), c => dot(asDouble(vec), c))

  /** 0-based nearest-cell id (argmax centroid dot product), computed in a
    * single fold over the score array — the scores are evaluated once per
    * row (an array_max + array_position pair would evaluate the whole
    * numCells x dim scoring twice: HOF subtrees are not CSE'd). */
  def assignCell(vec: Column, model: IvfModel): Column = {
    val pairs = zip_with(cellScores(vec, model),
      sequence(lit(0), lit(model.numCells - 1)),
      (s, i) => struct(s.as("s"), i.as("cell")))
    aggregate(pairs,
      struct(lit(Double.MinValue).as("s"), lit(-1).as("cell")),
      (acc, x) => when(x.getField("s") > acc.getField("s"), x).otherwise(acc))
      .getField("cell").cast("int")
  }

  /** Per-query top-`nprobe` probe cells: descending (score, cell) structs
    * — shared by the inline and persisted-index search paths. */
  private[ann] def probeCells(vec: Column, model: IvfModel, nprobe: Int): Column =
    slice(reverse(array_sort(zip_with(
      cellScores(vec, model),
      sequence(lit(0), lit(model.numCells - 1)),
      (s, i) => struct(s.as("s"), i.as("cell"))))), 1, nprobe)

  /** Persist the corpus as an on-disk IVF index: parquet partitioned by
    * coarse cell. This is the 100 TB shape [[ivfTopK]]'s doc promises:
    * assignment is a map-only pass at build time, and each query's probes
    * become PARTITION-PRUNED reads — a search touches nprobe/numCells of
    * the corpus on disk instead of scanning all of it. */
  def ivfWriteIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    model: IvfModel, path: String): Unit =
    corpus.select(col(idCol), col(vecCol),
      assignCell(col(vecCol), model).as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  // ------------------------------------------------- incremental index

  /** Persist the coarse quantizer beside its index (`_model.json`,
    * underscore-prefixed so parquet discovery never sees it): appends
    * MUST assign with the index's own model — a retrained model would
    * scatter the same vector to a different cell than its siblings. */
  def saveModel(spark: org.apache.spark.sql.SparkSession, model: IvfModel,
                indexPath: String): Unit = {
    MetaFile.replace(spark, new org.apache.hadoop.fs.Path(indexPath,
      "_model.json"), JsonUtil.render(model.centroids))
  }

  def loadModel(spark: org.apache.spark.sql.SparkSession,
                indexPath: String): IvfModel = {
    val json = MetaFile.read(spark,
      new org.apache.hadoop.fs.Path(indexPath, "_model.json"))
    require(json.isDefined, s"no _model.json under $indexPath — not an " +
      "incremental IVF index (build one with ivfInitIndex)")
    IvfModel(JsonUtil.parse(json.get).extract[Array[Array[Double]]])
  }

  /** Initialize an INCREMENTAL index: layout
    * `path/batch=<id>/cell=<c>/…` so each append is one atomic
    * directory (an overwrite of its own batch partition — a replayed
    * batch id republishes byte-identically instead of duplicating),
    * while searches still prune on `cell` (Spark discovers batch and
    * cell as partition columns together). The model is persisted
    * beside the data. The bootstrap defaults to batch -1: streaming
    * appenders ([[graft.streaming.VectorIndexIngest]]) use micro-batch
    * ids starting at 0, and a colliding id would OVERWRITE the
    * bootstrap partition. */
  def ivfInitIndex(corpus: DataFrame, idCol: String, vecCol: String,
                   model: IvfModel, path: String,
                   batchId: Long = -1L): Unit = {
    refuseInitOverCompacted(corpus.sparkSession, path)
    saveModel(corpus.sparkSession, model, path)
    cacheModel(corpus.sparkSession, path, model) // re-init replaces any cached model
    ivfAppendIndex(corpus, idCol, vecCol, path, batchId)
  }

  /** Append one batch to an incremental index WITHOUT retraining:
    * assign with the index's persisted model, publish as the batch's
    * own partition. O(batch) — the existing index is never read or
    * rewritten. As the corpus drifts away from the trained centroids,
    * probe recall decays: watch [[appendDrift]] and retrain (a fresh
    * ivfInitIndex at a new path) past your bound. */
  def ivfAppendIndex(batch: DataFrame, idCol: String, vecCol: String,
                     path: String, batchId: Long): Unit = {
    if (skipFoldedReplay(batch.sparkSession, path, batchId)) return
    val model = loadModelCached(batch.sparkSession, path)
    batch.select(col(idCol), col(vecCol),
      assignCell(col(vecCol), model).as("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/batch=$batchId")
  }

  /** A compacted index cannot be re-bootstrapped in place: the new model
    * would overwrite the one the folded partitions were assigned with,
    * and the bootstrap append would be silently skipped by the fold-line
    * replay guard — rebuild at a fresh path instead. */
  private def refuseInitOverCompacted(spark: org.apache.spark.sql.SparkSession,
                                      path: String): Unit = {
    recoverCompaction(spark, path)
    require(foldedUpTo(spark, path).isEmpty,
      s"$path is a compacted incremental index — re-initializing in " +
        "place would mismatch the folded partitions' model; build the " +
        "new index at a fresh path and swap")
  }

  /** Replay guard under compaction: a batch id at or below the fold line
    * was committed (and folded) before the fold ran, so a redelivery is a
    * replay of data the fold already holds — writing it would overwrite
    * the folded partition with one batch's rows. Completes any crashed
    * swap first. */
  private def skipFoldedReplay(spark: org.apache.spark.sql.SparkSession,
                               path: String, batchId: Long): Boolean = {
    recoverCompaction(spark, path)
    val skip = foldedUpTo(spark, path).exists(batchId <= _)
    if (skip)
      System.err.println(s"[ann] batch=$batchId at $path is at or below " +
        "the compaction fold line — replay of folded data, skipping")
    skip
  }

  // Appends in a loop must not re-parse the model file per batch, but a
  // stale cache is worse than a re-read: if another process retrains
  // _model.json in place, an appender assigning with the old centroids
  // would scatter every new vector into the wrong cell PERMANENTLY. The
  // cache therefore revalidates against the file's (mtime, length)
  // fingerprint on every lookup — one getFileStatus per append, free
  // next to the write job it precedes.
  private final case class CachedModel(model: IvfModel, mtime: Long, len: Long)
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, CachedModel]()
  private def modelFingerprint(spark: org.apache.spark.sql.SparkSession,
                               path: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(path, "_model.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no _model.json under $path — not an " +
      "incremental IVF index (build one with ivfInitIndex)")
    val st = fs.getFileStatus(p)
    (st.getModificationTime, st.getLen)
  }
  private def cacheModel(spark: org.apache.spark.sql.SparkSession,
                         path: String, model: IvfModel): Unit = {
    val (mt, ln) = modelFingerprint(spark, path)
    modelCache.put(path, CachedModel(model, mt, ln)): Unit
  }
  private[graft] def invalidateModelCache(path: String): Unit = {
    modelCache.remove(path): Unit
  }
  private def loadModelCached(spark: org.apache.spark.sql.SparkSession,
                              path: String): IvfModel = {
    val (mt, ln) = modelFingerprint(spark, path)
    val hit = modelCache.get(path)
    if (hit != null && hit.mtime == mt && hit.len == ln) hit.model
    else {
      val m = loadModel(spark, path)
      modelCache.put(path, CachedModel(m, mt, ln))
      m
    }
  }

  /** SQ8-COMPRESSED incremental index: same `batch=/cell=` layout and
    * replay contract as [[ivfAppendIndex]], but rows store per-vector
    * int8 codes + (mn, mx) instead of float vectors — ~4× the vectors
    * per byte of index. Cell assignment uses the ORIGINAL vector (an
    * assignment degraded by coding error would be permanent; the coding
    * error only touches SEARCH scores, where it is bounded by the
    * affine scheme — see [[Quantize]]). Search with
    * [[ivfTopKIndexedSq8]], which dequantizes at scan time. */
  def ivfInitIndexSq8(corpus: DataFrame, idCol: String, vecCol: String,
                      model: IvfModel, path: String,
                      batchId: Long = -1L): Unit = {
    refuseInitOverCompacted(corpus.sparkSession, path)
    saveModel(corpus.sparkSession, model, path)
    cacheModel(corpus.sparkSession, path, model)
    ivfAppendIndexSq8(corpus, idCol, vecCol, path, batchId)
  }

  def ivfAppendIndexSq8(batch: DataFrame, idCol: String, vecCol: String,
                        path: String, batchId: Long): Unit = {
    if (skipFoldedReplay(batch.sparkSession, path, batchId)) return
    val model = loadModelCached(batch.sparkSession, path)
    val v = col(vecCol).cast("array<double>")
    val (codes, mn, mx) = Quantize.int8Columns(v)
    batch.select(col(idCol), codes.as("codes"), mn.as("mn"), mx.as("mx"),
        assignCell(v, model).as("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/batch=$batchId")
  }

  // ------------------------------------------- incremental-index compaction

  /** Fold committed `batch <= upTo` partitions into ONE partition kept
    * under the HIGHEST folded id. A per-micro-batch streaming index
    * accumulates unbounded small `batch=` dirs (the same manifest-growth
    * problem the snapshot log's epoch compaction solves); folding
    * rewrites them as one well-sized `cell=`-partitioned layout while
    * searches keep working unchanged — `batch` remains a discovered
    * partition column, just with fewer values.
    *
    * Replay safety: the fold line is recorded in `_compaction.json` and
    * [[ivfAppendIndex]]/[[ivfAppendIndexSq8]] NO-OP any batch id at or
    * below it — every folded batch was committed before the fold, so a
    * redelivery can only be a replay of data the fold already holds;
    * overwriting would destroy the fold.
    *
    * Crash safety: the fold is fully staged under a hidden dir before a
    * pending marker commits the swap; appends, compactions, drift checks
    * and indexed searches all complete a crashed swap before proceeding
    * ([[recoverCompaction]]). Works identically for float and SQ8
    * indexes (rows are rewritten as read).
    *
    * Returns the fold target id (the highest folded batch), or the
    * current fold line when there was nothing to fold.
    */
  def ivfCompactIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String, upTo: Long): Long = {
    recoverCompaction(spark, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = listBatchIds(fs, path).filter(_ <= upTo)
    val already = foldedUpTo(spark, path).getOrElse(Long.MinValue)
    if (ids.size <= 1) return math.max(already, ids.headOption.getOrElse(already))
    val target = ids.max
    val staging = new org.apache.hadoop.fs.Path(path, s".compact-$target")
    fs.delete(staging, true)
    spark.read.option("basePath", path)
      .parquet(ids.map(id => s"$path/batch=$id"): _*)
      .drop("batch")
      .write.mode("overwrite").partitionBy("cell").parquet(staging.toString)
    // intent marker: from here the swap is committed — any crash window
    // is completed by recoverCompaction before the index is used again
    MetaFile.replace(spark, pendingPath(path),
      JsonUtil.obj("target" -> target, "ids" -> ids.sorted))
    finishSwap(spark, path, target, ids)
    target
  }

  /** Complete a compaction swap that crashed between its pending marker
    * and its final bookkeeping. Idempotent; cheap (one failed open) when
    * no swap is pending. */
  def recoverCompaction(spark: org.apache.spark.sql.SparkSession,
                        path: String): Unit = {
    MetaFile.read(spark, pendingPath(path)).map(JsonUtil.parse(_)).foreach { m =>
      val target = (m \ "target").extract[Long]
      System.err.println(s"[ann] completing crashed compaction at $path " +
        s"(fold -> batch=$target)")
      finishSwap(spark, path, target,
        (m \ "ids").extractOpt[Seq[Long]].getOrElse(Seq.empty))
    }
  }

  /** Deletes the folded batch dirs, publishes the staged fold as
    * `batch=<target>`, records the fold line, clears the marker. Every
    * step is idempotent so the sequence can resume from any crash point:
    * the staged dir exists until the rename, and its absence proves the
    * rename happened. */
  private def finishSwap(spark: org.apache.spark.sql.SparkSession,
                         path: String, target: Long, ids: Seq[Long]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(path, s".compact-$target")
    val dst = new org.apache.hadoop.fs.Path(path, s"batch=$target")
    if (fs.exists(staging)) {
      ids.foreach { id =>
        fs.delete(new org.apache.hadoop.fs.Path(path, s"batch=$id"), true): Unit
      }
      require(fs.rename(staging, dst),
        s"compaction swap failed: could not rename $staging to $dst")
    }
    val prev = foldedUpTo(spark, path).getOrElse(Long.MinValue)
    MetaFile.replace(spark, compactionPath(path),
      JsonUtil.obj("folded_up_to" -> math.max(prev, target)))
    fs.delete(pendingPath(path), false): Unit
  }

  /** REBUILD an incremental index in place: retrain the quantizer on the
    * index's own rows (dequantized for SQ8), rewrite everything as one
    * layout kept under the HIGHEST existing batch id, and swap it in with
    * the publisher's park-restore protocol ([[graft.sinks.AtomicPublisher
    * .Staged]]) — a crash between the swap renames restores the previous
    * index on the next use. The rebuilt index records the old max batch
    * id as its fold line, so a replay of any batch the rebuild consumed
    * no-ops instead of duplicating; the stream-identity token survives
    * the swap. Run with the feeding stream quiesced (an uncommitted batch
    * appended DURING the rebuild would be lost by the swap).
    *
    * Returns the fold line (old max batch id). This is the consumer of
    * [[appendDrift]]'s retrain signal. */
  def ivfRebuildIndex(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String, idCol: String, vecCol: String,
                      numCells: Int, sq8: Boolean, runId: String): Long = {
    recoverCompaction(spark, indexPath)
    val dst = new org.apache.hadoop.fs.Path(indexPath)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new org.apache.hadoop.fs.Path(indexPath,
      "_codebooks.json")),
      s"$indexPath is a PQ index — rebuilding from its own rows would " +
        "re-encode lossy reconstructions (double quantization error); " +
        "rebuild a PQ index from the source corpus at a fresh path")
    val ids = listBatchIds(fs, indexPath)
    require(ids.nonEmpty, s"$indexPath has no batch partitions to rebuild")
    val foldLine = ids.max
    val rows = spark.read.parquet(indexPath)
    val vecs =
      if (sq8) rows.select(col(idCol),
        Quantize.dequantizeInt8Cols(col("codes"), col("mn"), col("mx"))
          .as(vecCol))
      else rows.select(col(idCol), col(vecCol))
    val model = ivfTrain(vecs, idCol, vecCol, numCells)
    val staging = new org.apache.hadoop.fs.Path(dst.getParent,
      s".staging-$runId-${dst.getName}")
    fs.delete(staging, true): Unit
    if (sq8) ivfInitIndexSq8(vecs, idCol, vecCol, model, staging.toString,
      batchId = foldLine)
    else ivfInitIndex(vecs, idCol, vecCol, model, staging.toString,
      batchId = foldLine)
    MetaFile.replace(spark, compactionPath(staging.toString),
      JsonUtil.obj("folded_up_to" -> foldLine))
    val streamToken = new org.apache.hadoop.fs.Path(indexPath, "_stream.json")
    if (fs.exists(streamToken))
      org.apache.hadoop.fs.FileUtil.copy(fs, streamToken, fs,
        new org.apache.hadoop.fs.Path(staging, "_stream.json"),
        false, spark.sparkContext.hadoopConfiguration): Unit
    graft.sinks.AtomicPublisher.Staged(fs, staging, dst, runId).promote()
    invalidateModelCache(indexPath)
    foldLine
  }

  /** Rebuild an index from a SOURCE corpus instead of its own rows —
    * the only rebuild a PQ index allows (re-encoding its lossy
    * reconstructions would compound quantization error) and the fresher
    * option for any codec when the upstream table is at hand. The
    * source REPLACES the index content: train quantizer (+ residual
    * codebooks for PQ) on it, build at a staged path under the old max
    * batch id with the fold line set (replays of consumed batches
    * no-op), preserve the stream token, swap with the publisher's
    * park-restore renames. Run with the feeding stream quiesced. */
  def ivfRebuildIndexFromSource(spark: org.apache.spark.sql.SparkSession,
                                indexPath: String, source: DataFrame,
                                idCol: String, vecCol: String,
                                numCells: Int, codec: String, runId: String,
                                pqM: Int = 8, pqK: Int = 256): Long = {
    recoverCompaction(spark, indexPath)
    val dst = new org.apache.hadoop.fs.Path(indexPath)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = listBatchIds(fs, indexPath)
    require(ids.nonEmpty, s"$indexPath has no batch partitions to rebuild")
    val foldLine = ids.max
    val model = ivfTrain(source, idCol, vecCol, numCells)
    val staging = new org.apache.hadoop.fs.Path(dst.getParent,
      s".staging-$runId-${dst.getName}")
    fs.delete(staging, true): Unit
    codec match {
      case "float" => ivfInitIndex(source, idCol, vecCol, model,
        staging.toString, batchId = foldLine)
      case "sq8" => ivfInitIndexSq8(source, idCol, vecCol, model,
        staging.toString, batchId = foldLine)
      case "pq" =>
        val cb = IvfPq.trainResiduals(source, idCol, vecCol, model, pqM, pqK)
        ivfInitIndexPq(source, idCol, vecCol, model, cb, staging.toString,
          batchId = foldLine)
      case other => throw new IllegalArgumentException(
        s"unknown index codec '$other' (float, sq8, pq)")
    }
    MetaFile.replace(spark, compactionPath(staging.toString),
      JsonUtil.obj("folded_up_to" -> foldLine))
    val streamToken = new org.apache.hadoop.fs.Path(indexPath, "_stream.json")
    if (fs.exists(streamToken))
      org.apache.hadoop.fs.FileUtil.copy(fs, streamToken, fs,
        new org.apache.hadoop.fs.Path(staging, "_stream.json"),
        false, spark.sparkContext.hadoopConfiguration): Unit
    graft.sinks.AtomicPublisher.Staged(fs, staging, dst, runId).promote()
    invalidateModelCache(indexPath)
    foldLine
  }

  private def compactionPath(path: String) =
    new org.apache.hadoop.fs.Path(path, "_compaction.json")
  private def pendingPath(path: String) =
    new org.apache.hadoop.fs.Path(path, "_compaction_pending.json")

  /** The fold line: batch ids at or below it are folded and must never
    * be (re)written. */
  def foldedUpTo(spark: org.apache.spark.sql.SparkSession,
                 path: String): Option[Long] =
    MetaFile.read(spark, compactionPath(path))
      .map(s => (JsonUtil.parse(s) \ "folded_up_to").extract[Long])

  private def listBatchIds(fs: org.apache.hadoop.fs.FileSystem,
                           path: String): Seq[Long] =
    fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("batch=") =>
        n.stripPrefix("batch=").toLong
      }.toSeq

  /** IVF top-k over an SQ8 index: probed cells partition-prune exactly
    * like [[ivfTopKIndexed]]; candidate vectors are dequantized at scan
    * time (map-only HOF over the pruned cells only), scored by exact
    * cosine over the reconstruction. Ranking differs from
    * full-precision search only within the coding error bound. */
  def ivfTopKIndexedSq8(indexPath: String, queries: DataFrame,
                        idCol: String, vecCol: String, k: Int, nprobe: Int,
                        model: IvfModel): DataFrame = {
    val spark = queries.sparkSession
    recoverCompaction(spark, indexPath)
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("__qv"),
      explode(probeCells(col(vecCol), model, nprobe)).as("probe"))
      .select(col("query_id"), col("__qv"),
        col("probe.cell").cast("int").as("cell"))
    val cells = q.select("cell").distinct().collect().map(_.getInt(0))
    val c = spark.read.parquet(indexPath)
      .filter(col("cell").isin(cells.toIndexedSeq: _*))
      .select(col(idCol).as("neighbor_id"),
        Quantize.dequantizeInt8Cols(col("codes"), col("mn"), col("mx"))
          .as("__cv"), col("cell"))
    val cand = c.join(broadcast(q), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id", "__qv", "__cv")
    rankTopK(cand.withColumn("cosine",
      cosine(col("__qv"), col("__cv"))), k)
  }

  // ---------------------------------------------- incremental PQ index

  /** PQ-compressed incremental index: same `batch=/cell=` layout, fold
    * line and replay contract as [[ivfAppendIndex]], but rows store
    * m-byte product-quantization codes of the CELL RESIDUAL (the
    * [[IvfPq]] layout) — the highest-compression tier of the index
    * family (float > SQ8 > PQ). The residual codebooks persist beside
    * the quantizer (`_codebooks.json`): appends MUST encode with the
    * index's own codebooks, exactly as they must assign with its own
    * model. Search with [[ivfTopKIndexedPq]] (partition-pruned ADC). */
  def ivfInitIndexPq(corpus: DataFrame, idCol: String, vecCol: String,
                     model: IvfModel, cb: Pq.Codebooks, path: String,
                     batchId: Long = -1L): Unit = {
    refuseInitOverCompacted(corpus.sparkSession, path)
    saveModel(corpus.sparkSession, model, path)
    savePqCodebooks(corpus.sparkSession, cb, path)
    cacheModel(corpus.sparkSession, path, model)
    ivfAppendIndexPq(corpus, idCol, vecCol, path, batchId)
  }

  def ivfAppendIndexPq(batch: DataFrame, idCol: String, vecCol: String,
                       path: String, batchId: Long): Unit = {
    if (skipFoldedReplay(batch.sparkSession, path, batchId)) return
    val model = loadModelCached(batch.sparkSession, path)
    val cb = loadPqCodebooks(batch.sparkSession, path)
    IvfPq.encode(batch, idCol, vecCol, model, cb)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/batch=$batchId")
  }

  /** Partition-pruned ADC search over a persisted PQ index: probe cells
    * resolve driver-side inside [[IvfPq.adcTopK]] and become a literal
    * cell filter over the `cell=` partitions; only probed cells' codes
    * are scanned and scored against the per-(query, cell) LUTs. */
  def ivfTopKIndexedPq(indexPath: String, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int,
                       nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    recoverCompaction(spark, indexPath)
    val model = loadModelCached(spark, indexPath)
    val cb = loadPqCodebooks(spark, indexPath)
    IvfPq.adcTopK(spark.read.parquet(indexPath), queries, idCol, vecCol,
      model, cb, k, nprobe)
  }

  /** Persist residual codebooks beside the index (underscore-prefixed,
    * invisible to parquet discovery): shape header + flat center list. */
  def savePqCodebooks(spark: org.apache.spark.sql.SparkSession,
                      cb: Pq.Codebooks, indexPath: String): Unit = {
    MetaFile.replace(spark,
      new org.apache.hadoop.fs.Path(indexPath, "_codebooks.json"),
      JsonUtil.obj("m" -> cb.m, "k" -> cb.k, "dim" -> cb.dim,
        "centers" -> cb.centers.flatMap(_.flatMap(_.toSeq))))
  }

  def loadPqCodebooks(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String): Pq.Codebooks = {
    val s = MetaFile.read(spark,
      new org.apache.hadoop.fs.Path(indexPath, "_codebooks.json"))
    require(s.isDefined, s"no _codebooks.json under $indexPath — not a " +
      "PQ incremental index (build one with ivfInitIndexPq)")
    // exact decimals: a float read through Double can round differently
    // (7.038531E-26 does); only the sign of a zero center is lost, which
    // no residual distance can observe
    val j = JsonUtil.parse(s.get, exactDecimals = true)
    def int(f: String) = (j \ f).extract[Int]
    val (m, k, dim) = (int("m"), int("k"), int("dim"))
    val flat = (j \ "centers").extract[Array[Float]]
    val subDim = dim / m
    require(flat.length == m * k * subDim,
      s"_codebooks.json holds ${flat.length} floats, want ${m * k * subDim}")
    val centers = Array.tabulate(m, k) { (si, ci) =>
      java.util.Arrays.copyOfRange(flat, (si * k + ci) * subDim,
        (si * k + ci + 1) * subDim)
    }
    Pq.Codebooks(m, k, dim, centers)
  }

  /** Retrain signal for an incremental index: exact TV between the
    * INDEX's cell histogram (partition-column-only scan) and the
    * incoming batch's — a batch living in cells the index barely uses
    * means the trained centroids no longer describe the data. */
  def appendDrift(spark: org.apache.spark.sql.SparkSession,
                  indexPath: String, batch: DataFrame,
                  vecCol: String): DataFrame = {
    recoverCompaction(spark, indexPath)
    val model = loadModelCached(spark, indexPath)
    val idx = spark.read.parquet(indexPath)
      .groupBy(col("cell").cast("int").as("cell"))
      .agg(count(lit(1)).as("ca"))
    graft.operators.DriftCheck.tvDriftCounts(idx,
      cellHistogram(batch, vecCol, model).withColumnRenamed("n", "cb"),
      "cell")
  }

  /** IVF top-k over a persisted index. The distinct probe cells of the
    * (small, broadcastable) query set are resolved driver-side — bounded
    * by queries x nprobe, the same planning budget the reference spends
    * on work-unit generation — and pushed as a literal partition filter,
    * so the scan's PartitionFilters prunes every unprobed cell before any
    * IO happens. */
  def ivfTopKIndexed(indexPath: String, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int, nprobe: Int,
                     model: IvfModel): DataFrame = {
    val spark = queries.sparkSession
    recoverCompaction(spark, indexPath)
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"),
      explode(probeCells(col(vecCol), model, nprobe)).as("probe"))
      .select(col("query_id"), col("__qv"),
        col("probe.cell").cast("int").as("cell"))
    val cells = q.select("cell").distinct().collect().map(_.getInt(0))
    val c = spark.read.parquet(indexPath)
      .filter(col("cell").isin(cells.toIndexedSeq: _*))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        col("cell"))
    val cand = c.join(broadcast(q), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id", "__qv", "__cv")
    rankTopK(cand.withColumn("cosine",
      cosine(col("__qv"), col("__cv"))), k)
  }

  /** IVF approximate top-k: train (or take) a coarse quantizer, assign the
    * corpus to cells distributedly, probe each query's `nprobe` best
    * cells, exact-score candidates, per-query top-k.
    *
    * At 100 TB build the index once with [[ivfWriteIndex]] and search with
    * [[ivfTopKIndexed]] (partition-pruned reads); the per-query work is
    * O(corpus x nprobe / cells) instead of O(corpus). */
  /** Per-cell population histogram under `model` — the bounded summary
    * of WHERE a corpus's embeddings live (numCells rows from one
    * map-side-combined aggregate; vectors never shuffle). */
  def cellHistogram(df: DataFrame, vecCol: String,
                    model: IvfModel): DataFrame =
    df.groupBy(assignCell(col(vecCol).cast("array<double>"), model)
        .as("cell"))
      .agg(count(lit(1)).as("n"))

  /** Embedding-distribution drift: exact total-variation distance
    * between two corpora's cell histograms under the SAME model (a
    * different model would make the bins incomparable — train once on
    * the reference, reuse for every monitored snapshot). One row
    * `(n_a, n_b, tv_permille)` via [[graft.operators.DriftCheck]]'s
    * integer-exact TV; gate ingest on the permille like any other
    * drift policy. */
  def cellDrift(ref: DataFrame, cur: DataFrame, vecCol: String,
                model: IvfModel): DataFrame =
    graft.operators.DriftCheck.tvDriftCounts(
      cellHistogram(ref, vecCol, model).withColumnRenamed("n", "ca"),
      cellHistogram(cur, vecCol, model).withColumnRenamed("n", "cb"),
      "cell")

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, numCells: Int = 16, nprobe: Int = 2,
              model: Option[IvfModel] = None): DataFrame = {
    val m = model.getOrElse(ivfTrain(corpus, idCol, vecCol, numCells))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), assignCell(col(vecCol), m).as("cell"))
    // top-nprobe cells per query: sort (score, cell) structs descending
    val probes = probeCells(col(vecCol), m, nprobe)
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"), explode(probes).as("probe"))
      .select(col("query_id"), col("__qv"), col("probe.cell").cast("int").as("cell")))
    // no distinct needed: a neighbor lives in exactly one cell and each
    // (query, cell) probe appears once, so candidates cannot repeat
    val cand = c.join(q, "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id", "__qv", "__cv")
    val scored = cand.withColumn("cosine", cosine(col("__qv"), col("__cv")))
    rankTopK(scored, k)
  }
}
