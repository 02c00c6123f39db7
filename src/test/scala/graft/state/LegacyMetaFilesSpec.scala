package graft.state

import java.io.File

import org.apache.spark.sql.Row

import graft.{JsonUtil, SparkSpec}
import graft.JsonUtil.formats
import graft.ann.Ann
import graft.metadata.{GlobalMeta, MetaSidecar}
import graft.metrics.{EventStore, Lineage, MetricStore}
import graft.sinks.SnapshotLog
import graft.sinks.SnapshotLog.BranchRef
import graft.sources.ManifestStore
import graft.streaming.{MediaDedupIngest, StreamIdentity}

/** Metadata files written by the engine's earlier hand-rolled writers
  * (`src/test/resources/legacy-meta`, see its README) must read back to
  * exactly the values those writers were given. */
class LegacyMetaFilesSpec extends SparkSpec {

  private val root = new File("src/test/resources/legacy-meta").getAbsolutePath
  private def at(sub: String) = s"$root/$sub"

  test("legacy watermarks.json: quote, backslash, newline and control chars") {
    assert(new StateStore(spark, at("state")).read() == Map(
      ("orders\"q", "p\\b") -> "2024-01-01\n23:59:59",
      ("plain", "") -> "1700000000000",
      ("tab\tds", "\u0001ctl") -> "café ☃"))
  }

  test("legacy run ledger records") {
    val rows = new RunLedger(spark, at("ledger")).history
      .orderBy("run_id").collect().toSeq
    assert(rows == Seq(
      Row("r-1", "job \"x\"", "SUCCEEDED", 1000L, 2500L, 42L, 3L,
        Map("b0" -> 39L, "b\"1" -> 3L), "wm\\1\n", "a\tb"),
      Row("r:2", "job-y", "FAILED", 3000L, 3100L, 0L, 0L, Map.empty, null,
        "boom: \"quoted\" \\ back")))
  }

  test("legacy metric rows, including a no-metric run's empty file") {
    val rows = new MetricStore(spark, at("metrics")).table
      .orderBy("context").collect().toSeq
    assert(rows == Seq(
      Row("job \"x\"", "r-1", "ctx\"a", "records.out", "counter", 39L, 2500L),
      Row("job \"x\"", "r-1", "ctx\\b", "lag\nms", "gauge", -3L, 2500L)))
  }

  test("legacy tracking and lineage events") {
    val table = new EventStore(spark, at("events")).table
    val rows = table.orderBy("timestamp_ms").collect().toSeq
    assert(rows.take(2) == Seq(
      Row("graft.event", "PublishDone", 2600L, Map("branch" -> "b\"0",
        "path" -> "/out/a\\b", "note" -> "two\nlines")),
      Row("graft.event", "Empty", 2700L, Map.empty)))
    assert(Lineage.edges(table).collect().toSeq == Seq(
      Row("ds \"lineage\"", "jdbc", "db.orders", "hdfs", "/out/\"o\"", 2800L)))
    // the descriptor JSON inside the event decodes to the same values
    val src = JsonUtil.parse(rows(2).getMap[String, String](3)("source"))
    assert((src \ "metadata").extract[Map[String, String]] ==
      Map("host" -> "h\\1", "note" -> "x\ty"))
  }

  test("legacy snapshot manifests with csv options, and CURRENT") {
    val log = new SnapshotLog(spark, at("snaplog"))
    val csv = BranchRef("data/csvb/snap-1", "csv", Map("header" -> "true",
      "sep" -> ";", "quote" -> "\"", "escape" -> "\\", "nullValue" -> "\\N"))
    assert(log.currentId().contains(2L))
    assert(log.snapshot(1L) == SnapshotLog.Snapshot(1L, None, Map(
      "csvb" -> csv, "pq" -> BranchRef("data/pq/snap-1", "parquet"))))
    assert(log.snapshot(2L) == SnapshotLog.Snapshot(2L, Some(1L), Map(
      "csvb" -> csv, "pq" -> BranchRef("data/pq/snap-2", "parquet"))))
  }

  test("legacy file manifest") {
    assert(new ManifestStore(spark, at("manifests")).read("ds/one") == Map(
      "/data/a\"b.csv" -> ((10L, 1000L)),
      "/data/c\\d\n.csv" -> ((20L, 2000L)),
      "/data/plain.csv" -> ((0L, 0L))))
  }

  test("legacy _stream.json") {
    assert(StreamIdentity.read(spark, at("stream")).contains(
      ("/ckpt/a\\b\"c", "9a1b2c3d-0000-4000-8000-00000000abcd")))
  }

  test("legacy _format.json in its three historical shapes") {
    import MediaDedupIngest.StoreFormat
    assert(MediaDedupIngest.readFormat(spark, at("format-full"))
      .contains(StoreFormat("audio", 3, "win4x2", "hb64")))
    assert(MediaDedupIngest.readFormat(spark, at("format-nolayout"))
      .contains(StoreFormat("image", 2, "tile3x3", "flat")))
    assert(MediaDedupIngest.readFormat(spark, at("format-noparts"))
      .contains(StoreFormat("audio", 1, "none", "flat")))
  }

  test("legacy .metadata.json sidecar, and its canonical bytes") {
    val meta = GlobalMeta(
      dataset = Map(GlobalMeta.DatasetUrnKey -> "urn:graft:docs",
        "Owner" -> "a\"b\\c\nd"),
      transferEncodings = Seq("gzip", "identity"),
      files = Map("part-0" -> Map("rows" -> "3", "note" -> "t\tab")))
    assert(MetaSidecar.read(spark, at("sidecar")).contains(meta))
    val bytes = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(at("sidecar/.metadata.json"))), "UTF-8")
    assert(meta.canonicalJson == bytes)
  }

  test("legacy _model.json and _codebooks.json, bit for bit") {
    val want = Array(Array(0.1, -2.5e-7, 1.0 / 3), Array(1e20, 0.0, -0.0))
    val got = Ann.loadModel(spark, at("ann")).centroids
    assert(got.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq ==
      want.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq)
    val cb = Ann.loadPqCodebooks(spark, at("ann"))
    assert((cb.m, cb.k, cb.dim) == ((2, 2, 4)))
    val wantCenters = Seq(0.1f, -1.5e-8f, 3.4028235e38f, 1f / 3, 0f, -0f, 7.25f, -2f)
    val gotCenters = cb.centers.flatMap(_.flatMap(_.toSeq)).toSeq
    // a zero center's sign is the one thing the reader does not keep
    assert(gotCenters.zip(wantCenters).forall { case (g, w) =>
      java.lang.Float.floatToRawIntBits(g) == java.lang.Float.floatToRawIntBits(w) ||
        (g == 0f && w == 0f) } && gotCenters.size == wantCenters.size, gotCenters)
  }
}
