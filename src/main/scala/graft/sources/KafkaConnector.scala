package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.planning.OffsetRangePlanner.{OffsetRange, nextCommits}

/** The read-path seam between [[graft.planning.OffsetRangePlanner]] and
  * Spark's Kafka connector: planned offset ranges become the
  * `startingOffsets`/`endingOffsets` JSON that
  * `spark.read[Stream].format("kafka")` consumes, and the connector's
  * committed positions round-trip back through [[parseOffsetsJson]].
  *
  * Reference: KafkaSource
  * (gobblin-modules/gobblin-kafka-common/.../kafka/KafkaSource.java:89)
  * plans per-partition ranges and hands them to extractors;
  * KafkaStreamingExtractor.java:87 is the streaming face. Spark-first,
  * both faces collapse to option maps on the built-in connector — the
  * planner stays the brain (reset policies, committed offsets, topic
  * filters) and Spark's source does the fetching.
  *
  * The `spark-sql-kafka` jar is absent from this sandbox (verified: no
  * kafka artifact under /opt/spark/jars), so [[readBatch]]/[[readStream]]
  * cannot be integration-tested here; [[isAvailable]] gates them, the
  * option/JSON layer is fully unit-tested, and a real deployment is one
  * `--packages org.apache.spark:spark-sql-kafka-0-10_2.13` away.
  */
object KafkaConnector {

  /** Kafka connector sentinel offsets. */
  val Earliest: Long = -2L
  val Latest: Long = -1L

  /** `{"topic":{"partition":offset,...},...}` with keys sorted so equal
    * plans serialize identically (stable configs, diffable logs). */
  private def offsetsJson(offsets: Map[(String, Int), Long]): String =
    offsets.groupBy(_._1._1).toSeq.sortBy(_._1).map { case (topic, m) =>
      val parts = m.toSeq.sortBy(_._1._2)
        .map { case ((_, p), off) => s""""$p":$off""" }
        .mkString("{", ",", "}")
      s"${graft.JsonUtil.jstr(topic)}:$parts"
    }.mkString("{", ",", "}")

  /** Where each planned range starts reading. */
  def startingOffsetsJson(ranges: Seq[OffsetRange]): String =
    offsetsJson(ranges.groupBy(r => (r.topic, r.partition))
      .map { case (k, rs) => k -> rs.map(_.start).min })

  /** Where each planned range stops (batch reads only; exclusive, same
    * convention as the planner's [start, end)). */
  def endingOffsetsJson(ranges: Seq[OffsetRange]): String =
    offsetsJson(nextCommits(ranges))

  /** Parse a connector offsets JSON back to per-partition longs — the
    * inverse of [[startingOffsetsJson]]/[[endingOffsetsJson]], used when
    * resuming from options persisted in the state store. json4s ships
    * with Spark, so no extra dependency. */
  def parseOffsetsJson(json: String): Map[(String, Int), Long] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(json) match {
      case JObject(topics) => topics.flatMap {
        case (topic, JObject(parts)) => parts.map {
          case (p, JInt(off))     => (topic, p.toInt) -> off.toLong
          case (p, JLong(off))    => (topic, p.toInt) -> off
          case (p, JDecimal(off)) => (topic, p.toInt) -> off.toLong
          case (p, other) => throw new IllegalArgumentException(
            s"offset for $topic/$p is not a number: $other")
        }
        case (topic, other) => throw new IllegalArgumentException(
          s"partitions for $topic is not an object: $other")
      }.toMap
      case other => throw new IllegalArgumentException(
        s"offsets JSON is not an object: $other")
    }
  }

  /** Option map for `spark.read[Stream].format("kafka")`. Streaming
    * reads take no endingOffsets (the stream tails the log); batch reads
    * bound both ends from the plan. */
  def options(bootstrapServers: String, ranges: Seq[OffsetRange],
              streaming: Boolean = false,
              failOnDataLoss: Boolean = true): Map[String, String] = {
    require(ranges.nonEmpty, "no planned ranges — nothing to read")
    val base = Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> ranges.map(_.topic).distinct.sorted.mkString(","),
      "startingOffsets" -> startingOffsetsJson(ranges),
      "failOnDataLoss" -> failOnDataLoss.toString)
    if (streaming) base
    else base + ("endingOffsets" -> endingOffsetsJson(ranges))
  }

  /** True when the Kafka connector jar is on the classpath. */
  def isAvailable: Boolean =
    try {
      Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider")
      true
    } catch { case _: ClassNotFoundException => false }

  private def requireConnector(): Unit =
    if (!isAvailable) throw new IllegalStateException(
      "spark-sql-kafka connector not on the classpath — add " +
        "org.apache.spark:spark-sql-kafka-0-10_2.13 to run this read path")

  /** Bounded batch read of exactly the planned ranges. */
  def readBatch(spark: SparkSession, bootstrapServers: String,
                ranges: Seq[OffsetRange]): DataFrame = {
    requireConnector()
    spark.read.format("kafka")
      .options(options(bootstrapServers, ranges, streaming = false)).load()
  }

  /** Streaming read starting from the planned positions. */
  def readStream(spark: SparkSession, bootstrapServers: String,
                 ranges: Seq[OffsetRange]): DataFrame = {
    requireConnector()
    spark.readStream.format("kafka")
      .options(options(bootstrapServers, ranges, streaming = true)).load()
  }
}
