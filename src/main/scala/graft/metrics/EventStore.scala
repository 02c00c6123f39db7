package graft.metrics

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.immutable.SortedMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.JsonUtil
import graft.state.MetaFile

/** Persisted tracking events — the reference's GobblinTrackingEvent
  * pipeline (events submitted through the MetricContext tree reach
  * event reporters that persist them; gobblin-metrics-base/.../
  * GobblinTrackingEvent.avsc schema: namespace, name, timestamp,
  * metadata map; file/Kafka event reporters ship them for audit and
  * lineage queries).
  *
  * Buffer-and-flush: [[listener]] enqueues every event that bubbles to
  * its context (lock-free, submit-side cost O(1)); [[flush]] drains the
  * buffer into ONE atomically-created newline-JSON file. Flush ids
  * follow the run-ledger convention, so a retried driver can't
  * double-record a flush. Queryable as a fixed-schema DataFrame;
  * volume is O(events), never O(data).
  */
final class EventStore(spark: SparkSession, dir: String) {

  private val buffer = new ConcurrentLinkedQueue[TrackingEvent]()

  /** Attach to a context (usually the root): every event submitted at
    * or below it lands in the buffer. */
  def listener: TrackingEvent => Unit = e => { buffer.add(e); () }

  /** Pending (un-flushed) event count. */
  def pending: Int = buffer.size()

  /** Drain the buffer into one atomic file; duplicate flushIds refused.
    * Returns the number of events flushed (0 writes nothing). Events are
    * only removed from the buffer AFTER the file is fully written — a
    * failed or refused flush loses nothing and a retry (with a fresh
    * flushId) re-flushes the same events. Single concurrent flusher
    * assumed (concurrent SUBMITS are always safe; two racing flush()
    * calls could write the same head events twice). */
  def flush(flushId: String): Int = {
    // snapshot the head segment without removing (FIFO: concurrent
    // submits append behind it)
    val snapshot = {
      import scala.jdk.CollectionConverters._
      buffer.iterator().asScala.toSeq
    }
    if (snapshot.isEmpty) return 0
    MetaFile.createOnce(spark, // claims the flushId atomically
      new Path(dir, s"events-${MetaFile.idName(flushId)}.json"),
      snapshot.map { e =>
        JsonUtil.obj("namespace" -> e.namespace, "name" -> e.name,
          "timestamp_ms" -> e.timestampMs,
          "metadata" -> SortedMap.from(e.metadata)) + "\n"
      }.mkString) // throws with the buffer untouched: nothing removed yet
    snapshot.foreach(_ => buffer.poll()) // remove exactly what we wrote
    snapshot.size
  }

  /** Full event history, fixed schema. */
  def table: DataFrame = MetaFile.jsonTable(spark, dir, EventStore.schema)
}

object EventStore {
  import org.apache.spark.sql.types._

  val schema: StructType = StructType(Seq(
    StructField("namespace", StringType),
    StructField("name", StringType),
    StructField("timestamp_ms", LongType),
    StructField("metadata", MapType(StringType, StringType))))
}
