package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

class GenSuite extends Suite {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  private lazy val tmp = Files.createTempDirectory("perfbench-gen").toFile

  override def afterAll(): Unit = {
    spark.stop()
    Harness.deleteTree(tmp)
  }

  private def lineitemSum(seed: Long, name: String): String = {
    val dir = new java.io.File(tmp, name).getPath
    Gen.baseRows(spark, seed, 5000, 50, 20, 2).write.parquet(dir)
    Gen.fileChecksum(dir)
  }

  test("one seed gives byte-identical lineitem files, another seed other files") {
    assert(lineitemSum(7, "a") == lineitemSum(7, "b"))
    assert(lineitemSum(7, "a2") != lineitemSum(8, "c"))
  }

  test("one seed gives the same backlog, another seed another backlog") {
    def bytes(seed: Long) = Gen.backlog(seed, 10).take(3).toSeq.flatten.map(c =>
      (c.id, c.kind, c.wav.toSeq))
    assert(bytes(3) == bytes(3))
    assert(bytes(3) != bytes(4))
  }

  test("workloads draw from different seeds") {
    val seeds = Main.Workloads.keys.map(Gen.workloadSeed(1, _)).toSet
    assert(seeds.size == Main.Workloads.size)
  }

  test("deltas plant re-deliveries and end on their maximum watermark") {
    val d = Gen.delta(spark, 11, 3, 2000, 100, 20, 1000)
    val keys = d.select("l_orderkey", "l_linenumber")
    assert(keys.distinct().count() < 2000) // re-delivered keys
    val maxTs = d.agg(org.apache.spark.sql.functions.max("l_updated_at"))
      .collect()(0).getTimestamp(0)
    assert(maxTs == Gen.deltaMax(3, 2000))
  }

  test("novel clips never share a window, and re-uploads keep committed windows") {
    val win = Gen.Window
    def windows(pcm: Array[Short]) = pcm.grouped(win).map(_.toSeq).toSeq
    // the part hash sees each window's sign changes per 50-frame segment
    def crossings(w: Seq[Short]) = w.grouped(win / 8).map(s =>
      s.sliding(2).count { case Seq(a, b) => (a > 0) != (b > 0) }).toSeq
    val all = (0L until 300L).flatMap(c => windows(Gen.novelPcm(c)))
    assert(all.map(crossings).distinct.size == all.size)
    val base = Gen.novelPcm(5)
    assert(windows(base.drop(win)).toSet.subsetOf(windows(base).toSet))
    val padded = Array.fill[Short](win)(0) ++ base
    assert(windows(padded).drop(1) == windows(base))
  }
}
