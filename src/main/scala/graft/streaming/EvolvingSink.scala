package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DataType, StructType}

import graft.operators.SchemaEvolution
import graft.state.MetaFile

/** Streaming sink whose output SCHEMA may evolve mid-stream — the
  * Spark-native form of the reference's in-flight schema-change path
  * (gobblin-kafka-common KafkaSchemaChangeInjector emitting a
  * MetadataUpdateControlMessage that rolls the writer's file and
  * re-registers the evolved table schema).
  *
  * Layout under `outDir`:
  *   _schema_log          one line per schema GENERATION:
  *                        `<gen>\t<sinceEpoch>\t<schema json>`,
  *                        rewritten whole via MetaFile.replace
  *   gen=K/epoch-E/part-….parquet  epoch E's rows in gen K's schema
  *
  * Files keep their WRITER schema forever (no rewrite on evolution —
  * the only stance that survives 100 TB); readers resolve: each
  * generation loads with its own schema and [[SchemaEvolution.evolve]]s
  * to the latest, exactly Avro writer/reader resolution. Generations
  * are as rare as schema changes, so the read is a union over a handful
  * of file groups, each with normal pushdown/pruning.
  *
  * Every batch aligns to its generation's schema before writing, and a
  * batch whose schema cannot merge ([[SchemaEvolution.merge]] throws)
  * aborts the query — a contract break must stop ingestion. Epoch
  * slices are overwrite-idempotent and the log records each
  * generation's opening epoch, so crash-redelivery of the last epoch
  * lands in the same slice of the same generation it first wrote.
  */
object EvolvingSink {

  final case class Generation(gen: Int, sinceEpoch: Long, schema: StructType)

  private def logPath(outDir: String) = new Path(outDir, "_schema_log")

  /** The generation log (empty when the sink has never committed). */
  def schemaLog(spark: SparkSession, outDir: String): Seq[Generation] =
    MetaFile.read(spark, logPath(outDir)).toSeq
      .flatMap(_.linesIterator.filter(_.nonEmpty)).map { line =>
        val Array(g, e, json) = line.split("\t", 3)
        Generation(g.toInt, e.toLong,
          DataType.fromJson(json).asInstanceOf[StructType])
      }

  // one atomic replace: a lost log would orphan every committed generation
  private def writeLog(spark: SparkSession, outDir: String,
                       gens: Seq[Generation]): Unit =
    MetaFile.replace(spark, logPath(outDir), gens.map(g =>
      s"${g.gen}\t${g.sinceEpoch}\t${g.schema.json}").mkString("\n"))

  /** One micro-batch: resolve its generation, align, write its slice.
    * Exposed for tests; the streaming query calls it per epoch. */
  def writeBatch(batch: DataFrame, epochId: Long, outDir: String): Unit = {
    val spark = batch.sparkSession
    val gens = schemaLog(spark, outDir)
    val g = gens.find(_.sinceEpoch == epochId) match {
      case Some(replayed) => replayed // crash-redelivery of the opening epoch
      case None => gens.lastOption match {
        case None =>
          val g0 = Generation(0, epochId, batch.schema)
          writeLog(spark, outDir, Seq(g0)); g0
        case Some(last) =>
          val target = SchemaEvolution.merge(last.schema, batch.schema)
          if (target == last.schema) last
          else {
            val next = Generation(last.gen + 1, epochId, target)
            writeLog(spark, outDir, gens :+ next); next
          }
      }
    }
    SchemaEvolution.evolve(batch, g.schema)
      .write.mode("overwrite")
      .parquet(s"$outDir/gen=${g.gen}/epoch-$epochId")
  }

  /** Start the evolving stream: `decode` turns each raw micro-batch into
    * its typed form (e.g. `spark.read.json` over a payload column — the
    * per-batch schema is whatever the payload carries, the envelope-
    * decode shape), then the batch lands via [[writeBatch]]. */
  def evolvingParquetSink(stream: DataFrame, outDir: String,
                          checkpointDir: String,
                          decode: DataFrame => DataFrame = identity,
                          trigger: Trigger = Trigger.AvailableNow()) =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (raw: DataFrame, epochId: Long) =>
        writeBatch(decode(raw), epochId, outDir)
      }
      .start()

  /** Read the table at its LATEST schema: each generation loads with
    * its writer schema and evolves up — old files are never touched. */
  def readEvolved(spark: SparkSession, outDir: String): DataFrame = {
    val gens = schemaLog(spark, outDir)
    require(gens.nonEmpty, s"no schema log under $outDir — nothing committed")
    val target = gens.last.schema
    val fs = new Path(outDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // the log commits BEFORE the generation's first data file (crash-safe
    // for the writer), so a generation may exist on paper only — skip it
    // rather than fail the whole table on a missing dir
    val present = gens.filter(g => fs.exists(new Path(outDir, s"gen=${g.gen}")))
    if (present.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], target)
    present.map { g =>
      SchemaEvolution.evolve(
        spark.read.schema(g.schema)
          .option("recursiveFileLookup", "true")
          .parquet(s"$outDir/gen=${g.gen}"),
        target)
    }.reduce(_.unionByName(_))
  }
}
