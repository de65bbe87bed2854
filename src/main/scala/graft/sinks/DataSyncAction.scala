package graft.sinks

import graft.operators.{ChangeFeed, RetryPolicy}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The engine's sink-extension surface — the analogue of the reference's
  * pluggable `IDataSyncAction.ExecuteAction(changes, params)`
  * (/root/reference/ActionFunctions/IDataSyncAction.cs:6-9, injected at
  * Program.cs:25-32): a whole-batch action invoked with the filtered change
  * batch. */
trait DataSyncAction {
  def executeAction(changes: DataFrame, params: Map[String, String]): SinkOutcome
}

/** Outcome of a sink delivery. `retryable` follows the reference's status
  * classification (HttpPostAction.cs:67-83); `error` carries the
  * 500-char-truncated snippet (HttpPostAction.cs:60-63). */
case class SinkOutcome(success: Boolean, status: Int, retryable: Boolean, error: String) {
  /** The marker-string protocol the trigger helper parses
    * (ExecuteTriggerHelper.cs:123-126). */
  def markerString: String =
    if (success) "" else (if (retryable) s"status=$status: $error" else s"retry=false status=$status: $error")
}

object SinkOutcome {
  val ErrorSnippetChars = 500
  def fromStatus(status: Int, body: String): SinkOutcome = {
    val ok = status >= 200 && status < 300
    val snippet = Option(body).getOrElse("").take(ErrorSnippetChars)
    val snippetOr = if (snippet.isEmpty) "No error information" else snippet
    SinkOutcome(ok, status, RetryPolicy.isRetryableStatus(status),
      if (ok) "" else snippetOr)
  }
}

/** HTTP JSON sink (S6 — HttpPostAction.cs:33-86): serialize the batch to the
  * `[{Operation, Item}, ...]` wire shape and POST it.
  *
  * Delivery has two paths, switched on batch size (`maxSingleDocRows` param,
  * default 10000):
  *
  *  - **small batch — ONE atomic POST**, matching the reference exactly: the
  *    whole batch is one JSON array document, delivered all-or-nothing, and
  *    an EMPTY batch still posts `[]` (the reference serializes and posts
  *    whatever `changes` holds, zero rows included —
  *    HttpPostAction.cs:36-44). `take(n+1)` probes the size: if the batch
  *    fits, those rows ARE the batch, no second pass.
  *  - **large batch — one POST per partition** from the executors: the
  *    100 TB path never moves the batch through the driver. The batch
  *    outcome is the worst partition status. CAVEAT: this path is atomic
  *    per partition, not per batch — a partial failure leaves some
  *    partitions delivered before redelivery, so the receiving endpoint
  *    must be idempotent (the trigger's redelivery dedup, T9, is the
  *    matching consumer-side guard).
  *
  * The payload is cached only when the batch does NOT
  * [[ChangeFeed.fitsOneTask]]: the `take` probe then caches the partitions
  * it reads, and if the batch turns out large the per-partition pass reads
  * them from cache instead of re-running the upstream plan. A batch that fits
  * one task is not cached — under adaptive execution a cache costs its own
  * table-cache stage on every batch, while the rare small-input batch over
  * `maxSingleDocRows` rows merely re-reads an input no larger than the
  * broadcast threshold.
  *
  * The reference's 960 s timeout (HttpPostAction.cs:39 — code wins over the
  * 60 s doc comment) is the default `timeoutMs`.
  */
class HttpPostAction(poster: HttpPostAction.Poster = HttpPostAction.javaHttpPoster)
    extends DataSyncAction {

  override def executeAction(changes: DataFrame, params: Map[String, String]): SinkOutcome = {
    val url = params.getOrElse("baseUrl",
      throw new IllegalArgumentException("baseUrl is required")) + params.getOrElse("route", "")
    val timeoutMs = params.getOrElse("timeoutMs", "960000").toLong
    val maxSingleDocRows = params.getOrElse("maxSingleDocRows", "10000").toInt
    val p = poster
    val spark = changes.sparkSession
    import spark.implicits._

    val payload = ChangeFeed.toJsonPayload(changes).as[String]
    // released in finally: both paths consume inside this method
    val cached = !ChangeFeed.fitsOneTask(changes)
    if (cached) payload.persist()
    try {
      val head = payload.take(maxSingleDocRows + 1)
      if (head.length <= maxSingleDocRows) {
        // single atomic POST (reference semantics), including the empty batch
        val (status, body) = p.post(url, head.mkString("[", ",", "]"), timeoutMs)
        SinkOutcome.fromStatus(status, body)
      } else {
        val statuses = payload
          .mapPartitions { rows =>
            if (rows.isEmpty) Iterator.empty
            else {
              val doc = rows.mkString("[", ",", "]")
              Iterator.single(p.post(url, doc, timeoutMs))
            }
          }
          .collect() // one small (status, body-snippet) row per partition

        statuses.map { case (status, body) => SinkOutcome.fromStatus(status, body) }
          .foldLeft(SinkOutcome(success = true, 200, retryable = false, "")) { (acc, o) =>
            if (!acc.success) acc else if (!o.success) o else acc
          }
      }
    } finally if (cached) payload.unpersist(false)
  }
}

object HttpPostAction {
  /** Pluggable transport so tests can stub; must be Serializable (it ships
    * to executors). */
  trait Poster extends Serializable {
    /** POST the document; return (statusCode, bodySnippet). */
    def post(url: String, body: String, timeoutMs: Long): (Int, String)
  }

  /** JDK HttpClient transport (no extra deps). One client per distinct
    * connect timeout is shared by every driver and executor thread of the
    * JVM: a client owns a selector thread and a connection pool, so a client
    * per POST would start a thread per POST and never reuse a keep-alive
    * connection. */
  object javaHttpPoster extends Poster {
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    import java.net.URI
    import java.time.Duration

    private val clients = new java.util.concurrent.ConcurrentHashMap[java.lang.Long, HttpClient]()

    private def client(connectTimeoutMs: Long): HttpClient =
      clients.computeIfAbsent(connectTimeoutMs,
        ms => HttpClient.newBuilder().connectTimeout(Duration.ofMillis(ms)).build())

    override def post(url: String, body: String, timeoutMs: Long): (Int, String) = {
      val req = HttpRequest.newBuilder(URI.create(url))
        .timeout(Duration.ofMillis(timeoutMs))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body))
        .build()
      try {
        val resp = client(math.min(timeoutMs, 60000)).send(req, HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), Option(resp.body()).getOrElse(""))
      } catch {
        case e: java.net.http.HttpTimeoutException => (408, s"timeout: ${e.getMessage}")
        case e: Exception => (503, s"transport: ${e.getMessage}")
      }
    }
  }
}
