package graft.metrics

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.immutable.SortedMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.JsonUtil

/** Dataset lineage — the reference's lineage-event subsystem
  * (gobblin-metrics-base/.../event/lineage/LineageInfo.java:117,146 +
  * LineageEventBuilder.java:64): a job has ONE source dataset descriptor
  * (set by the source/extractor) and per-branch destination descriptors
  * (put by writers/publishers, possibly several per branch for partition
  * descriptors); loading produces the DEDUPED set of
  * (dataset, source, destination) events — branch id groups puts but is
  * not event identity, so two branches landing the same destination yield
  * one event — emitted as tracking events under the lineage namespace
  * with the descriptors JSON-encoded in the metadata map.
  *
  * Engine shape: collection is O(branches) driver-side metadata attached
  * to the run (never a data-plane cost); persistence rides the existing
  * [[EventStore]] atomic flush; querying is a DataFrame over the event
  * table, so lineage joins (e.g. "every dataset downstream of X") are
  * ordinary Spark joins over O(runs) rows.
  */
final case class DatasetDescriptor(platform: String, name: String,
                                   metadata: Map[String, String] = Map.empty) {
  /** Stable JSON (sorted metadata keys): descriptor identity is VALUE
    * identity, so the cross-branch event dedup and downstream joins see
    * one representation per descriptor. */
  def json: String = JsonUtil.obj("platform" -> platform, "name" -> name,
    "metadata" -> SortedMap.from(metadata))
}

/** Per-job lineage coordinator (LineageInfo.java's State-backed
  * collection, without the State plumbing): source set once by the
  * extractor side, destinations put concurrently by branch publishers. */
final class LineageCollector(val dataset: String) {
  @volatile private var src: Option[DatasetDescriptor] = None
  private val dests = new ConcurrentLinkedQueue[DatasetDescriptor]()

  /** Only the source/extractor sets this; a re-set overwrites
    * (LineageInfo.setSource's setProp semantics). */
  def setSource(d: DatasetDescriptor): Unit = { src = Some(d) }

  /** Branch writers/publishers put destination descriptors (one, or a
    * list of partition descriptors). A put before the source is set is
    * dropped with a warning, not an error — LineageInfo.putDestination's
    * hasLineageInfo guard. Thread-safe: branches publish concurrently. */
  def putDestination(branchId: Int, descriptors: Seq[DatasetDescriptor]): Unit =
    if (src.isEmpty)
      System.err.println(s"[graft] lineage for '$dataset' has no source " +
        s"but branch $branchId put ${descriptors.size} descriptors; dropped")
    else descriptors.foreach { d => dests.add(d); () }

  /** The deduped lineage event set: one event per DISTINCT destination
    * descriptor (LineageInfo.load's set union across branches). Empty
    * when no source was set. */
  def events(timestampMs: Long): Seq[TrackingEvent] = src match {
    case None => Nil
    case Some(s) =>
      import scala.jdk.CollectionConverters._
      dests.iterator().asScala.toSeq.distinct.map { d =>
        TrackingEvent(Lineage.Namespace, dataset, timestampMs, Map(
          "eventType" -> Lineage.EventType,
          "source" -> s.json,
          "destination" -> d.json,
          // flattened copies so the event table is queryable without
          // JSON parsing — the descriptor JSON stays authoritative
          "source.platform" -> s.platform,
          "source.name" -> s.name,
          "destination.platform" -> d.platform,
          "destination.name" -> d.name))
      }
  }
}

object Lineage {
  val Namespace = "graft.event.lineage"
  val EventType = "LineageEvent"

  /** Lineage edge table from a persisted event table ([[EventStore.table]]
    * shape): one row per (dataset, source, destination) event. */
  def edges(events: DataFrame): DataFrame =
    events.filter(col("namespace") === Namespace)
      .select(col("name").as("dataset"),
        col("metadata")("source.platform").as("source_platform"),
        col("metadata")("source.name").as("source_name"),
        col("metadata")("destination.platform").as("destination_platform"),
        col("metadata")("destination.name").as("destination_name"),
        col("timestamp_ms"))
}
