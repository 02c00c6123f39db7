package graft.state

import graft.SparkSpec
import graft.metrics.{EventStore, MetricRecord, MetricStore, TrackingEvent}

class MetaFileSpec extends SparkSpec {

  test("idName keeps [A-Za-z0-9_-] names and never maps two ids to one name") {
    assert(MetaFile.idName("run_2024-01-01_A9") == "run_2024-01-01_A9")
    val ids = Seq("r:1", "r_1", "r~003a1", "r/1", "r 1", "", "~", "ré1")
    assert(ids.map(MetaFile.idName).distinct.size == ids.size)
  }

  test("run ids that used to share a file name both land; a repeated id is refused") {
    import spark.implicits._
    val ledger = new RunLedger(spark, tmpDir("ledger-ids"))
    ledger.record("j", "r:1", "SUCCEEDED", 0L, 1L)
    ledger.record("j", "r_1", "SUCCEEDED", 0L, 2L)
    assert(ledger.history.select("run_id").as[String].collect().sorted.toSeq ==
      Seq("r:1", "r_1"))
    intercept[java.io.IOException](ledger.record("j", "r:1", "FAILED", 0L, 3L))
    assert(ledger.history.count() == 2)

    val metrics = new MetricStore(spark, tmpDir("metrics-ids"))
    metrics.record("j", "r:1", 1L, Seq(MetricRecord("c", "m", "counter", 1L)))
    metrics.record("j", "r_1", 1L, Seq(MetricRecord("c", "m", "counter", 2L)))
    assert(metrics.table.select("run_id").as[String].collect().sorted.toSeq ==
      Seq("r:1", "r_1"))
    intercept[java.io.IOException](metrics.record("j", "r_1", 1L, Nil))

    val events = new EventStore(spark, tmpDir("events-ids"))
    events.listener(TrackingEvent("ns", "a", 1L))
    assert(events.flush("f:1") == 1)
    events.listener(TrackingEvent("ns", "b", 2L))
    assert(events.flush("f_1") == 1)
    events.listener(TrackingEvent("ns", "c", 3L))
    intercept[java.io.IOException](events.flush("f:1"))
    assert(events.pending == 1, "a refused flush keeps its events buffered")
    assert(events.table.select("name").as[String].collect().sorted.toSeq ==
      Seq("a", "b"))
  }
}
