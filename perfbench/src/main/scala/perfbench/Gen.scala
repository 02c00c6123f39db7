package perfbench

import java.io.{File, FileInputStream}
import java.security.MessageDigest
import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of the seed and
  * the row or clip index, so one seed always yields the same files. */
object Gen {

  /** A workload's own seed: inputs are never shared across workloads. */
  def workloadSeed(seed: Long, workload: String): Long =
    mix(seed ^ (workload.hashCode.toLong * 0x9E3779B97F4A7C15L))

  /** splitmix64 finaliser. */
  def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // ---- lineitem-shaped rows -------------------------------------------

  /** Watermark of the base load; deltas land strictly after it. */
  val BaseTime: Timestamp = Timestamp.valueOf("2024-01-01 00:00:00")
  private val DeltaStrideS = 100000L

  /** Draws in [0, 1000) from the row id, the seed and a salt. */
  private def draw(id: Column, seed: Column, salt: Int) =
    pmod(xxhash64(id, seed, lit(salt)), lit(1000L))

  /** Lineitem columns for row `id` of a load, key indices starting at
    * `keyBase`. About `dupPermille`/1000 of the rows repeat the previous
    * row's (l_orderkey, l_linenumber) with another l_shipdate, and
    * `badPermille`/1000 carry a non-positive quantity that the row policy
    * rejects; rows where `clean` holds do neither. */
  private def lineitem(id: Column, seed: Column, keyBase: Column,
                       dupPermille: Int, badPermille: Int,
                       updatedAt: Column, clean: Column): Seq[Column] = {
    val dup = draw(id, seed, 1) < dupPermille && id > 0 && !clean
    val k = when(dup, id - 1).otherwise(id) + keyBase
    val qty = (draw(id, seed, 2) % 50 + 1).cast("double")
    Seq(
      (k / 4).cast("long").as("l_orderkey"),
      (pmod(xxhash64(id, seed, lit(3)), lit(20000L)) + 1).as("l_partkey"),
      (draw(id, seed, 4) + 1).as("l_suppkey"),
      (k % 4 + 1).cast("int").as("l_linenumber"),
      when(draw(id, seed, 5) < badPermille && !clean, lit(-1.0))
        .otherwise(qty)
        .as("l_quantity"),
      round(qty * (lit(900) + draw(id, seed, 6)), 2).as("l_extendedprice"),
      ((draw(id, seed, 7) % 11) / 100.0).as("l_discount"),
      ((draw(id, seed, 8) % 9) / 100.0).as("l_tax"),
      element_at(array(lit("R"), lit("A"), lit("N")),
        (draw(id, seed, 9) % 3 + 1).cast("int")).as("l_returnflag"),
      when(draw(id, seed, 10) < 500, lit("O")).otherwise(lit("F"))
        .as("l_linestatus"),
      // consecutive ids never share a ship date, so a duplicated key
      // always has one latest version
      date_add(lit(java.sql.Date.valueOf("1992-01-02")),
        pmod(id + keyBase, lit(2400L)).cast("int")).as("l_shipdate"),
      date_add(lit(java.sql.Date.valueOf("1992-01-30")),
        (draw(id, seed, 11) % 2400).cast("int")).as("l_commitdate"),
      date_add(lit(java.sql.Date.valueOf("1992-02-10")),
        (draw(id, seed, 12) % 2400).cast("int")).as("l_receiptdate"),
      element_at(array(lit("DELIVER IN PERSON"), lit("COLLECT COD"),
        lit("NONE"), lit("TAKE BACK RETURN")),
        (draw(id, seed, 13) % 4 + 1).cast("int")).as("l_shipinstruct"),
      element_at(array(Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR",
        "SHIP", "TRUCK").map(lit): _*),
        (draw(id, seed, 14) % 7 + 1).cast("int")).as("l_shipmode"),
      concat(lit("note "), lower(hex(xxhash64(id, seed, lit(15)))))
        .as("l_comment"),
      updatedAt.as("l_updated_at"))
  }

  /** The base load: `n` rows, every one stamped at or before
    * [[BaseTime]]. */
  def baseRows(spark: SparkSession, seed: Long, n: Long, dupPermille: Int,
               badPermille: Int, partitions: Int): DataFrame = {
    val id = col("id")
    spark.range(0, n, 1, partitions).select(lineitem(id, lit(seed), lit(0L),
      dupPermille, badPermille,
      lit(BaseTime) - make_dt_interval(lit(0), lit(0), lit(0),
        pmod(id, lit(86400L)).cast("decimal(18,6)")),
      lit(false)): _*)
  }

  /** Incremental deltas `rs`, `n` rows each, with each row's delta number
    * in column `delta`. Delta `r` holds fresh keys, stamped in
    * `(BaseTime + r * stride, ...]` in row order, so its last row holds its
    * maximum watermark. Re-deliveries repeat a key of the same delta with
    * another ship date and never take the last row. All deltas come from
    * one range, so one generated plan serves any number of them. */
  def deltas(spark: SparkSession, seed: Long, rs: Range, n: Long,
             redeliverPermille: Int, badPermille: Int, baseRows: Long,
             partitions: Int): DataFrame = {
    val id = col("id")
    val r = floor(id / lit(n)).cast("long")
    val local = pmod(id, lit(n))
    spark.range(rs.head * n, (rs.last + 1L) * n, 1, partitions)
      .select(lineitem(local, xxhash64(lit(seed), r),
        lit(baseRows) + r * lit(4 * n), redeliverPermille, badPermille,
        lit(BaseTime) + make_dt_interval(lit(0), lit(0), lit(0),
          (r * lit(DeltaStrideS) + local + 1).cast("decimal(18,6)")),
        local === lit(n - 1)) :+ r.cast("int").as("delta"): _*)
  }

  /** Delta `r` alone. */
  def delta(spark: SparkSession, seed: Long, r: Int, n: Long,
            redeliverPermille: Int, badPermille: Int,
            baseRows: Long): DataFrame =
    deltas(spark, seed, r to r, n, redeliverPermille, badPermille, baseRows, 1)
      .drop("delta")

  def deltaStart(r: Int): Timestamp =
    new Timestamp(BaseTime.getTime + r * DeltaStrideS * 1000L)

  /** The watermark string the runner should commit after delta `r`. */
  def deltaMax(r: Int, n: Long): Timestamp =
    new Timestamp(deltaStart(r).getTime + n * 1000L)

  // ---- input checksum ---------------------------------------------------

  /** SHA-256 over the bytes of every data file under `dir`, taken in path
    * order (part files of one write are numbered, so the order is fixed). */
  def fileChecksum(dir: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def files(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(files)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    val buf = new Array[Byte](1 << 16)
    files(new File(dir)).foreach { f =>
      // the name carries a per-write UUID; only the part number is content
      md.update(f.getName.takeWhile(_ != '-').getBytes("UTF-8"))
      val in = new FileInputStream(f)
      try {
        var n = in.read(buf)
        while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    }
    md.digest().map("%02x".format(_)).mkString
  }

  // ---- audio clips ------------------------------------------------------

  /** What a planted clip is, relative to the clips committed before it. */
  sealed trait Kind
  case object Novel extends Kind
  case object Exact extends Kind   // byte copy of a committed clip
  case object Trimmed extends Kind // committed clip minus its first window
  case object Padded extends Kind  // committed clip after a silent window
  case object InBatch extends Kind // byte copy of an earlier clip of its file

  final case class Clip(id: Long, kind: Kind, wav: Array[Byte])

  val Rate = 8000
  val Window = 400 // frames; the admission store's part-hash window and hop
  private val Segments = 8
  private val ClipWindows = 4

  /** A novel clip's PCM. Each window is a square wave whose sign flips an
    * even number of times per 50-frame segment (2..14, one base-7 digit of
    * `code*4 + window`), and whose amplitude per 200-frame clip segment is
    * one base-8 digit of `code`. Crossings and levels are exact, so every
    * window and every whole clip of a run is distinct for distinct codes. */
  def novelPcm(code: Long): Array[Short] = {
    val pcm = new Array[Short](ClipWindows * Window)
    val seg = Window / Segments
    var w = 0
    while (w < ClipWindows) {
      var digits = code * ClipWindows + w
      var s = 0
      while (s < Segments) {
        val crossings = (digits % 7).toInt * 2 + 2
        digits /= 7
        val clipSeg = (w * Window + s * seg) / (ClipWindows * Window / Segments)
        val level = if (clipSeg == 0) 7 else ((code >> (3 * (clipSeg - 1))) & 7).toInt
        val amp = 1000 * (level + 1)
        val runs = crossings + 1
        var f = 0
        while (f < seg) {
          val run = f * runs / seg
          pcm(w * Window + s * seg + f) = (if (run % 2 == 0) amp else -amp).toShort
          f += 1
        }
        s += 1
      }
      w += 1
    }
    pcm
  }

  /** 16-bit mono little-endian PCM WAV. */
  def wav(pcm: Array[Short]): Array[Byte] = {
    val data = pcm.length * 2
    val b = java.nio.ByteBuffer.allocate(44 + data)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + data)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1.toShort)
      .putShort(1.toShort).putInt(Rate).putInt(Rate * 2)
      .putShort(2.toShort).putShort(16.toShort)
      .put("data".getBytes("US-ASCII")).putInt(data)
    pcm.foreach(b.putShort)
    b.array()
  }

  /** The backlog, one file of `perFile` clips per element, without end.
    * File 0 holds novel clips and in-batch copies; later files mix novel
    * clips with exact, trimmed and padded re-uploads of clips committed by
    * earlier files, and in-batch copies. Each file depends only on the seed
    * and the files before it. Ids rise through the backlog, so an in-batch
    * copy always has a higher id than its original. */
  def backlog(seed: Long, perFile: Int): Iterator[Seq[Clip]] = {
    val rnd = new java.util.SplittableRandom(seed)
    // distinct seeds start the clip codes in different places
    var code = (mix(seed) >>> 44) // < 2^20, so codes stay below 8^7
    var nextId = (mix(seed + 1) >>> 40) * 1000
    val committed = scala.collection.mutable.ArrayBuffer.empty[Array[Short]]
    Iterator.continually {
      val here = scala.collection.mutable.ArrayBuffer.empty[(Clip, Array[Short])]
      (0 until perFile).foreach { _ =>
        val u = rnd.nextInt(100)
        val kind: Kind =
          if (here.exists(_._1.kind == Novel) && u < 10) InBatch
          else if (committed.isEmpty || u < 50) Novel
          else if (u < 70) Exact
          else if (u < 85) Trimmed
          else Padded
        val pcm = kind match {
          case Novel => code += 1; novelPcm(code)
          case InBatch =>
            val novel = here.filter(_._1.kind == Novel)
            novel(rnd.nextInt(novel.size))._2
          case Exact => committed(rnd.nextInt(committed.size))
          case Trimmed => committed(rnd.nextInt(committed.size)).drop(Window)
          case Padded =>
            Array.fill[Short](Window)(0) ++ committed(rnd.nextInt(committed.size))
        }
        nextId += 1
        here += ((Clip(nextId, kind, wav(pcm)), pcm))
      }
      committed ++= here.filter(_._1.kind == Novel).map(_._2)
      here.map(_._1).toSeq
    }
  }

  /** One backlog file as rows of the program's media schema. */
  def mediaRows(clips: Seq[Clip]): Seq[Row] =
    clips.map(c => Row(c.id, "audio", c.wav, "audio/wav", s"gen-${c.kind}"))
}
