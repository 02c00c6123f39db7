package graft.metadata

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.json4s._

import graft.JsonUtil
import graft.JsonUtil.jstr

/** Dataset-level metadata that travels WITH the data — the reference's
  * gobblin-metadata core: a two-level (dataset / file) property bag
  * whose identity is the md5 of its canonical JSON, so identical
  * metadata has identical id everywhere and consumers dedup by id
  * (GlobalMetadata.java:44,355 — "ID is calculated by serializing body
  * to JSON and then taking that hash"); `Transfer-Encoding` is an
  * ordered list describing the codec chain a reader must undo
  * ([[graft.functions.Codecs]] is the undo side).
  *
  * Merge semantics match mergeWithDefaults (GlobalMetadata.java:122):
  * dataset-level defaults fill only ABSENT keys, but transfer
  * encodings CONCATENATE — own encodings first, then the defaults —
  * because encodings are a chain, not a setting.
  *
  * Canonical form: sorted keys, no whitespace, lowercase-hex md5 (the
  * oracle recomputes ids with DuckDB's md5()). Empty metadata has the
  * empty id and is never published. */
final case class GlobalMeta(dataset: Map[String, String] = Map.empty,
                            transferEncodings: Seq[String] = Nil,
                            files: Map[String, Map[String, String]] = Map.empty) {

  def isEmpty: Boolean =
    dataset.isEmpty && transferEncodings.isEmpty && files.isEmpty

  /** Deterministic body JSON: sorted keys, Transfer-Encoding rides the
    * dataset level as the reference stores it. */
  def canonicalJson: String = {
    val ds = dataset ++
      (if (transferEncodings.nonEmpty)
        Map(GlobalMeta.TransferEncodingKey ->
          transferEncodings.map(jstr).mkString("[", ",", "]"))
      else Map.empty)
    def obj(m: Map[String, String], raw: Set[String]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) =>
        s"${jstr(k)}:${if (raw.contains(k)) v else jstr(v)}"
      }.mkString("{", ",", "}")
    val fileJson = files.toSeq.sortBy(_._1).map { case (f, m) =>
      s"${jstr(f)}:${obj(m, Set.empty)}"
    }.mkString("{", ",", "}")
    s"""{"dataset-level":${obj(ds, Set(GlobalMeta.TransferEncodingKey))},""" +
      s""""file-level":$fileJson}"""
  }

  /** Content-addressed id: lowercase-hex md5 of [[canonicalJson]];
    * empty metadata gets the reserved empty id. */
  def id: String =
    if (isEmpty) GlobalMeta.EmptyId
    else {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(canonicalJson.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }

  def datasetUrn: Option[String] = dataset.get(GlobalMeta.DatasetUrnKey)
  def contentType: Option[String] = dataset.get(GlobalMeta.ContentTypeKey)

  /** mergeWithDefaults: absent dataset keys fill from defaults; the
    * encoding CHAIN concatenates (own first, then defaults). */
  def mergeWithDefaults(defaults: GlobalMeta): GlobalMeta =
    GlobalMeta(
      defaults.dataset ++ dataset,
      if (transferEncodings.isEmpty) defaults.transferEncodings
      else transferEncodings ++ defaults.transferEncodings,
      defaults.files ++ files)
}

object GlobalMeta {
  val DatasetUrnKey = "Dataset-URN"
  val TransferEncodingKey = "Transfer-Encoding"
  val ContentTypeKey = "Content-Type"
  val InnerContentTypeKey = "Inner-Content-Type"
  val EmptyId = ""

  def parse(json: String): GlobalMeta = {
    def strMap(v: JValue): Map[String, String] = v match {
      case JObject(fields) => fields.collect {
        case (k, JString(s)) => k -> s
      }.toMap
      case _ => Map.empty
    }
    val j = JsonUtil.parse(json)
    val ds = j \ "dataset-level"
    val enc = ds \ TransferEncodingKey match {
      case JArray(items) => items.collect { case JString(s) => s }
      case _ => Nil
    }
    val fl = j \ "file-level" match {
      case JObject(fields) => fields.map { case (f, m) => f -> strMap(m) }.toMap
      case _ => Map.empty[String, Map[String, String]]
    }
    GlobalMeta(strMap(ds) - TransferEncodingKey, enc, fl)
  }
}

/** The reference's GlobalMetadataCollector (GlobalMetadataCollector
  * .java:32): merge each incoming record with the defaults, dedup by
  * content id with an LRU cache, and hand back only records not seen
  * before — so a pipeline emits each distinct metadata exactly once
  * while `records` retains everything for publish time. Driver-side
  * bookkeeping by design (metadata cardinality is O(schema changes),
  * not O(rows)). */
final class MetaCollector(defaults: Option[GlobalMeta] = None,
                          cacheSize: Int = -1) {
  require(cacheSize == -1 || cacheSize > 0,
    s"cacheSize must be -1 (unbounded) or positive: $cacheSize")

  private val seen = new java.util.LinkedHashMap[String, GlobalMeta]()
  @volatile private var lastId = GlobalMeta.EmptyId

  /** The merged record if its id is NEW, else None (LRU refreshed). */
  def process(meta: GlobalMeta): Option[GlobalMeta] = synchronized {
    val merged = defaults.fold(meta)(meta.mergeWithDefaults)
    if (merged.isEmpty) return None
    lastId = merged.id
    if (seen.containsKey(merged.id)) {
      val m = seen.remove(merged.id); seen.put(merged.id, m) // LRU refresh
      None
    } else {
      seen.put(merged.id, merged)
      if (cacheSize != -1 && seen.size() > cacheSize) {
        val it = seen.keySet().iterator(); it.next(); it.remove()
      }
      Some(merged)
    }
  }

  def lastSeenId: String = lastId

  def records: Seq[GlobalMeta] = synchronized {
    import scala.jdk.CollectionConverters._
    seen.values().asScala.toSeq
  }
}

/** Record envelope (RecordWithMetadataToEnvelopedRecordWithMetadata
  * .java:47): serialize each record as `{"mId": <global metadata id>,
  * "rMd": <record metadata>, "r": <record>}` UTF-8, rewriting the
  * global content type to the envelope type with the original kept in
  * Inner-Content-Type. Column-native both ways (to_json/from_json —
  * codegen'd, no UDF), so enveloping a 100-TB corpus is a map-only
  * pass. The envelope is the LAST converter in a chain: enveloping
  * after a metadata change would embed a stale id. */
object MetaEnvelope {
  val ContentType = "graft+recordWithMetadata"

  /** Rewrites the metadata for enveloped output: envelope content type,
    * original preserved as Inner-Content-Type. */
  def envelopeMeta(meta: GlobalMeta): GlobalMeta = meta.copy(
    dataset = meta.dataset +
      (GlobalMeta.ContentTypeKey -> ContentType) ++
      meta.contentType.map(GlobalMeta.InnerContentTypeKey -> _).toMap)

  /** `{"mId":..., "rMd":..., "r":...}` as a string column. `recordMeta`
    * must be a map<string,string> column. */
  def envelope(record: Column, recordMeta: Column, metaId: String): Column =
    to_json(struct(lit(metaId).as("mId"), recordMeta.as("rMd"),
      record.as("r")))

  private val schema = "mId STRING, rMd MAP<STRING,STRING>, r STRING"

  /** Inverse (EnvelopedRecordWithMetadataToRecordWithMetadata.java):
    * struct column (mId, rMd, r). */
  def decode(envelopeCol: Column): Column =
    from_json(envelopeCol, org.apache.spark.sql.types.StructType.fromDDL(schema))
}

/** The Transfer-Encoding undo side: apply/undo a metadata-declared
  * codec chain over a binary column. Encodings apply in LIST ORDER on
  * write and undo in REVERSE on read (the chain contract the
  * reference's converters honor via the same header); unknown codec
  * names refuse at PLAN time — silently passing encoded bytes through
  * is how corrupted corpora happen. Key-based codecs (the AES field
  * crypto) intentionally do NOT ride this face: keys come from the
  * keystore ([[graft.functions.KeyCrypto]]), not from metadata. */
object TransferEncoding {
  import graft.functions.Codecs

  val Known: Set[String] = Set("identity", "gzip")

  private def one(c: Column, codec: String, encode: Boolean): Column =
    codec match {
      case "identity" => c
      case "gzip" => if (encode) Codecs.gzip(c) else Codecs.gunzip(c)
      case other => throw new IllegalArgumentException(
        s"unknown Transfer-Encoding '$other' (known: ${Known.mkString(", ")})")
    }

  /** Encode `bin` through the chain, first to last. */
  def encode(bin: Column, encodings: Seq[String]): Column =
    encodings.foldLeft(bin)((c, e) => one(c, e, encode = true))

  /** Undo a metadata-declared chain: last encoding undone first. */
  def decode(bin: Column, meta: GlobalMeta): Column =
    meta.transferEncodings.reverse.foldLeft(bin)((c, e) =>
      one(c, e, encode = false))
}

/** Published metadata sidecar — the metadata-aware publisher face: the
  * merged dataset metadata lands as `.metadata.json` NEXT TO the data
  * (dot-prefixed, so every reader's listing skips it — an `_metadata`
  * name would hit Spark's parquet summary-file exemption and be read
  * as a footer), written with [[graft.state.MetaFile.replace]] like
  * every commit in this engine (a plain `FileSystem.rename` returns FALSE on HDFS when the
  * target exists, which would silently keep a STALE sidecar). */
object MetaSidecar {
  import org.apache.hadoop.fs.Path
  import graft.state.MetaFile

  def publish(spark: org.apache.spark.sql.SparkSession, dir: String,
              meta: GlobalMeta): Unit = {
    require(!meta.isEmpty, "refusing to publish empty metadata")
    MetaFile.replace(spark, new Path(dir, ".metadata.json"), meta.canonicalJson)
  }

  def read(spark: org.apache.spark.sql.SparkSession, dir: String)
      : Option[GlobalMeta] =
    MetaFile.read(spark, new Path(dir, ".metadata.json")).map(GlobalMeta.parse)
}
