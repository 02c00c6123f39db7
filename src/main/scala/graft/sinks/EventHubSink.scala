package graft.sinks

import java.net.URLEncoder
import java.net.http.HttpClient
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Azure Event Hubs REST publisher — the engine's face of the
  * reference's eventhub module (EventhubDataWriter.java:75 posts JSON
  * batches over HTTP with a shared-access signature;
  * BatchedEventhubDataWriter.java:35 names the config surface;
  * EventhubBatchAccumulator caps batches by encoded size).
  *
  * Protocol (public Azure spec, "Send batch events" REST API): POST to
  * `https://{ns}.servicebus.windows.net/{hub}/messages` with
  * Content-Type `application/vnd.microsoft.servicebus.json`, body a
  * JSON array of `{"Body": <record>}` wrappers, Authorization a SAS
  * token `SharedAccessSignature sr={uri}&sig={hmac}&se={exp}&skn={key}`
  * (HMAC-SHA256 of `urlencode(uri) + "\n" + expiry` with the shared
  * key). Expect 201 Created; anything else fails the batch loudly.
  * The signature is minted per open sink and re-minted when within a
  * minute of expiry — the reference's refreshSignature cadence.
  *
  * Spark-first shape: records serialize to JSON columns in the plan
  * (codegen'd `to_json`), each executor partition posts its own
  * byte-capped batches through the shared [[RecordSinks]] async/batch
  * machinery — no driver round-trips, delivery is at-least-once (a
  * retried POST re-sends the batch; Event Hubs consumers dedupe by
  * offset semantics downstream, same contract as the reference).
  * `endpointOverride` points tests at an in-process server (zero-egress
  * sandbox, like the Salesforce Bulk and ES `_bulk` suites) — the wire
  * bytes are identical either way. */
object EventHubSink {

  final case class EventHubConfig(namespace: String, hub: String,
                                  sasKeyName: String, sasKey: String,
                                  maxBatchBytes: Long = 256L * 1024,
                                  maxBatchRecords: Int = 500,
                                  sigExpireMinutes: Long = 20,
                                  maxAttempts: Int = 3,
                                  timeoutMs: Long = 10000,
                                  endpointOverride: Option[String] = None) {
    require(maxBatchBytes > 2 && maxBatchRecords > 0 && sigExpireMinutes > 0)
    def resourceUri: String =
      s"https://$namespace.servicebus.windows.net/$hub"
    def targetUri: String = endpointOverride.getOrElse(s"$resourceUri/messages")
  }

  private def urlEnc(s: String): String =
    URLEncoder.encode(s, StandardCharsets.UTF_8)

  /** SAS token for the hub resource, valid until `expiryEpochSec`
    * (the documented Azure format — also what the reference's
    * SharedAccessSignatureTokenProvider emits). */
  def sasToken(cfg: EventHubConfig, expiryEpochSec: Long): String = {
    val sr = urlEnc(cfg.resourceUri)
    val toSign = sr + "\n" + expiryEpochSec
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(
      cfg.sasKey.getBytes(StandardCharsets.UTF_8), "HmacSHA256"))
    val sig = java.util.Base64.getEncoder.encodeToString(
      mac.doFinal(toSign.getBytes(StandardCharsets.UTF_8)))
    s"SharedAccessSignature sr=$sr&sig=${urlEnc(sig)}" +
      s"&se=$expiryEpochSec&skn=${cfg.sasKeyName}"
  }

  /** Wrap one already-serialized record as the Azure `{"Body": ...}`
    * envelope (EventhubRequest.java: the record rides as an escaped
    * JSON string, not inlined). */
  private[sinks] def envelope(record: String): String =
    graft.JsonUtil.obj("Body" -> record)

  /** Split enveloped records into `[...]` bodies under the byte cap
    * (the accumulator's memSize limit); a single record that alone
    * exceeds the cap is refused loudly — Event Hubs would 413 it. */
  private[sinks] def packBatches(enveloped: Seq[String],
                                 maxBytes: Long): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var n = 0
    var curBytes = 0L
    def flush(): Unit =
      if (n > 0) { out += s"[$cur]"; cur.clear(); n = 0; curBytes = 0L }
    enveloped.foreach { e =>
      // the cap is on WIRE bytes: envelope() passes non-ASCII through
      // raw, so measure the UTF-8 encoding, not UTF-16 code units —
      // String.length undercounts multi-byte characters and a real
      // endpoint would 413 the oversized batch
      val eBytes = e.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
      require(eBytes + 2 <= maxBytes,
        s"a single record encodes to $eBytes bytes — over the " +
          s"$maxBytes-byte Event Hubs batch cap; shrink the record")
      if (curBytes + eBytes + 3 > maxBytes) flush()
      if (n > 0) cur.append(',')
      cur.append(e); n += 1; curBytes += eBytes + 1
    }
    flush()
    out.result()
  }

  /** Publish every row of `df` (serialized whole-row to JSON) to the
    * hub. At-least-once; throws on the first non-201 after retries. */
  def postRows(df: DataFrame, cfg: EventHubConfig,
               async: RecordSinks.AsyncConfig =
                 RecordSinks.AsyncConfig()): Unit = {
    val lines = df.select(
      to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("line"))
    val httpCfg = HttpSink.HttpConfig(cfg.targetUri,
      headers = Map(
        "Content-Type" -> "application/vnd.microsoft.servicebus.json"),
      maxAttempts = cfg.maxAttempts, timeoutMs = cfg.timeoutMs)
    RecordSinks.runAsyncBatched(lines,
      () => new RecordSinks.BatchSink[org.apache.spark.sql.Row] {
        @transient private lazy val client = HttpClient.newHttpClient()
        // minted lazily per task, re-minted inside the expiry window —
        // EventhubDataWriter.refreshSignature's cadence
        @transient private var sigExpiry = 0L
        @transient private var sig: String = _
        private def freshToken(): String = {
          val now = System.currentTimeMillis() / 1000
          if (sig == null || now >= sigExpiry - 60) {
            sigExpiry = now + cfg.sigExpireMinutes * 60
            sig = sasToken(cfg, sigExpiry)
          }
          sig
        }
        def writeBatch(batch: Seq[org.apache.spark.sql.Row]): Unit = {
          val packed = packBatches(
            batch.map(r => envelope(r.getString(0))), cfg.maxBatchBytes)
          packed.foreach { body =>
            HttpSink.post(client,
              httpCfg.copy(headers =
                httpCfg.headers + ("Authorization" -> freshToken())),
              body)
            ()
          }
        }
      },
      async.copy(batchSize = cfg.maxBatchRecords))
  }
}
