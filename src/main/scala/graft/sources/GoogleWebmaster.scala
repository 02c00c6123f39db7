package graft.sources

import java.net.http.HttpClient

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Google Search Console ("Webmaster") ingestion — the engine's face of
  * the reference's google-ingestion module. The API's defining
  * constraints (public, documented) drive the shape:
  *
  *  - A search-analytics request returns AT MOST 5000 rows, sorted by
  *    click count with arbitrary ties — so "give me all pages" cannot
  *    be one request. The reference discovers the full page set by
  *    RECURSIVE REQUEST-SPACE PARTITIONING
  *    (GoogleWebmasterDataFetcherImpl.java:87,294): ask for pages under
  *    a prefix; a response pinned at the row limit means the prefix is
  *    hot, so re-enqueue it as an EQUALS probe plus one CONTAINS child
  *    per next-character expansion (getUrlPartitions :323's RFC-3986
  *    charset) until every response is under the cap.
  *  - Requests are quota-limited; the reference paces them with a rate
  *    limiter and requeues failures into the next round
  *    (GoogleWebmasterExtractorIterator.java:58), bounded by a max
  *    round count.
  *
  * Spark-first split: DISCOVERY is a driver-side worklist (its cost is
  * API round-trips, not compute — same reasoning as the Salesforce
  * Bulk job loop), while ANALYTICS EXTRACTION over the discovered pages
  * is distributed — pages become a DataFrame and each partition batches
  * its own API calls, the RestSource shape. The HTTP client is a seam:
  * tests (and the zero-egress sandbox) run against an in-process
  * endpoint speaking the same request/response shape; the hosted API
  * plugs in at [[HttpWebmasterClient]] without touching the planner. */
object GoogleWebmaster {

  sealed trait Op
  case object Contains extends Op
  case object Equals extends Op

  /** The API seam: page discovery + batched analytics. */
  trait WebmasterClient extends Serializable {
    /** Pages matching (prefix, op), ranked by clicks, CAPPED at
      * rowLimit — the cap is the signal that drives partitioning. */
    def getPages(prefix: String, op: Op, rowLimit: Int): Seq[String]
    /** (page, clicks, impressions, position) for exactly `pages`. */
    def analytics(pages: Seq[String]): Seq[(String, Long, Long, Double)]
  }

  /** Next-character expansions of a hot prefix — the reference's
    * getUrlPartitions charset (lowercase letters first: page prefixes
    * are case-insensitive, so A-Z is redundant). */
  val urlPartitions: Seq[String] =
    ('a' to 'z').map(_.toString) ++ (0 to 9).map(_.toString) ++
      Seq("-", ".", "_", "~", "/", "%", ":", "?", "#", "@", "!", "$",
        "&", "+", "*", "'", "=")

  final case class Discovery(pages: Seq[String], requests: Int, rounds: Int)

  /** Discover EVERY page under `rootPrefix` by recursive prefix
    * partitioning. Each round drains a worklist of (prefix, op) probes;
    * a CONTAINS probe pinned at `rowLimit` expands instead of
    * collecting (its EQUALS self-probe catches the page that IS the
    * prefix); a client failure requeues the probe for the next round.
    * Refuses loudly past `maxRounds` — the reference's retry bound. */
  def allPages(client: WebmasterClient, rootPrefix: String = "",
               rowLimit: Int = 5000, maxRounds: Int = 120,
               requestsPerSecond: Double = 0): Discovery = {
    require(rowLimit > 0 && maxRounds > 0)
    val pages = scala.collection.mutable.LinkedHashSet.empty[String]
    var round: Vector[(String, Op)] = Vector(rootPrefix -> Contains)
    var rounds = 0
    var requests = 0
    val minGapNanos =
      if (requestsPerSecond > 0) (1e9 / requestsPerSecond).toLong else 0L
    var lastReq = 0L
    while (round.nonEmpty) {
      rounds += 1
      require(rounds <= maxRounds,
        s"page discovery still expanding after $maxRounds rounds " +
          s"(${round.size} probes pending) — raise rowLimit or maxRounds")
      val next = Vector.newBuilder[(String, Op)]
      round.foreach { case (prefix, op) =>
        if (minGapNanos > 0) {
          val wait = lastReq + minGapNanos - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
          lastReq = System.nanoTime()
        }
        requests += 1
        val got =
          try Some(client.getPages(prefix, op, rowLimit))
          catch { case _: java.io.IOException => None } // retry next round
        got match {
          case None => next += (prefix -> op)
          case Some(ps) if op == Contains && ps.size >= rowLimit =>
            next += (prefix -> Equals)
            urlPartitions.foreach(c => next += ((prefix + c) -> Contains))
          case Some(ps) => pages ++= ps
        }
      }
      round = next.result()
    }
    Discovery(pages.toSeq, requests, rounds)
  }

  /** Distributed analytics extraction over a discovered page set: each
    * partition batches its own API calls (`batchSize` pages per
    * request), no driver round-trips after planning. */
  def extract(spark: SparkSession, client: WebmasterClient,
              pages: Seq[String], batchSize: Int = 500,
              numPartitions: Int = 0): DataFrame = {
    require(batchSize > 0)
    import spark.implicits._
    val parts = if (numPartitions > 0) numPartitions
      else spark.sparkContext.defaultParallelism
    spark.createDataset(pages).repartition(parts)
      .mapPartitions(_.grouped(batchSize).flatMap(b => client.analytics(b)))
      .toDF("page", "clicks", "impressions", "position")
  }
}

/** HTTP face of the client: GET /pages?prefix=&op=&limit= returning a
  * JSON array of page strings; POST /analytics with a JSON array of
  * pages returning `[{"page","clicks","impressions","position"},...]`.
  * Rides [[HttpSink.send]]'s bounded retry. */
final case class HttpWebmasterClient(baseUrl: String,
                                     maxAttempts: Int = 3,
                                     timeoutMs: Long = 10000)
    extends GoogleWebmaster.WebmasterClient {
  import org.json4s._

  @transient private lazy val client = HttpClient.newHttpClient()

  private def cfg(url: String) = graft.sinks.HttpSink.HttpConfig(url,
    maxAttempts = maxAttempts, timeoutMs = timeoutMs)

  override def getPages(prefix: String, op: GoogleWebmaster.Op,
                        rowLimit: Int): Seq[String] = {
    val enc = java.net.URLEncoder.encode(prefix, "UTF-8")
    val opStr = op match {
      case GoogleWebmaster.Contains => "contains"
      case GoogleWebmaster.Equals => "equals"
    }
    val body = graft.sinks.HttpSink.get(client,
      cfg(s"$baseUrl/pages?prefix=$enc&op=$opStr&limit=$rowLimit"))
    org.json4s.jackson.JsonMethods.parse(body) match {
      case JArray(items) => items.map(_.asInstanceOf[JString].s)
      case other => throw new java.io.IOException(s"bad pages response: $other")
    }
  }

  override def analytics(pages: Seq[String])
      : Seq[(String, Long, Long, Double)] = {
    val payload = graft.JsonUtil.render(pages)
    val body = graft.sinks.HttpSink.send(client, cfg(s"$baseUrl/analytics"),
      "POST", Some(payload))
    org.json4s.jackson.JsonMethods.parse(body) match {
      case JArray(items) => items.map { o =>
        def l(k: String): Long = (o \ k) match {
          case JInt(i) => i.toLong
          case JLong(v) => v
          case other => throw new java.io.IOException(s"bad $k: $other")
        }
        val pos = (o \ "position") match {
          case JDouble(d) => d
          case JInt(i) => i.toDouble
          case other => throw new java.io.IOException(s"bad position: $other")
        }
        ((o \ "page").asInstanceOf[JString].s, l("clicks"), l("impressions"), pos)
      }
      case other => throw new java.io.IOException(s"bad analytics response: $other")
    }
  }
}
