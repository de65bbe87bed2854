package graft.sinks

import graft.SparkSpec

/** Stub transport: must be top-level (it ships to executors; an inner class
  * would capture the non-serializable suite). local-mode shared JVM lets the
  * static recorder observe executor-side calls. */
class RecordingPoster(status: Int, body: String) extends HttpPostAction.Poster {
  override def post(url: String, doc: String, timeoutMs: Long): (Int, String) = {
    RecordingPoster.last.set((url, doc, timeoutMs))
    (status, body)
  }
}
object RecordingPoster {
  val last = new java.util.concurrent.atomic.AtomicReference[(String, String, Long)]()
}

/** Counts POSTs across the JVM (local mode shares it with executors). */
class CountingPoster extends HttpPostAction.Poster {
  override def post(url: String, doc: String, timeoutMs: Long): (Int, String) = {
    CountingPoster.calls.incrementAndGet()
    CountingPoster.lastDoc.set(doc)
    (200, "ok")
  }
}
object CountingPoster {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  val lastDoc = new java.util.concurrent.atomic.AtomicReference[String]()
  def reset(): Unit = { calls.set(0); lastDoc.set(null) }
}

/** The sink is tested against a stub Poster (the transport seam) — the
  * status-classification and payload-assembly logic is the unit under test.
  * A live-socket test with the JDK HttpServer covers the real transport. */
class HttpPostActionSpec extends SparkSpec {

  private def changes = {
    import spark.implicits._
    Seq(("Insert", 1, "a"), ("Update", 2, "b")).toDF("Operation", "id", "name")
      .coalesce(1)
  }

  test("success: posts one JSON array of {Operation, Item} docs") {
    val action = new HttpPostAction(new RecordingPoster(200, "ok"))
    val out = action.executeAction(changes,
      Map("baseUrl" -> "http://sink", "route" -> "/post"))
    assert(out.success && out.status == 200 && !out.retryable)
    val (url, doc, timeout) = RecordingPoster.last.get()
    assert(url == "http://sink/post")
    assert(timeout == 960000L) // reference default: 960 s, code over doc-comment
    assert(doc == """[{"Operation":"Insert","Item":{"id":1,"name":"a"}},{"Operation":"Update","Item":{"id":2,"name":"b"}}]""")
  }

  test("429/408/5xx are retryable; 4xx is notify; snippet truncated to 500") {
    val retry = new HttpPostAction(new RecordingPoster(503, "x" * 900))
      .executeAction(changes, Map("baseUrl" -> "http://sink"))
    assert(!retry.success && retry.retryable)
    assert(retry.error.length == 500)
    assert(!retry.markerString.startsWith("retry=false"))

    val notify = new HttpPostAction(new RecordingPoster(404, ""))
      .executeAction(changes, Map("baseUrl" -> "http://sink"))
    assert(!notify.success && !notify.retryable)
    assert(notify.error == "No error information")
    assert(notify.markerString.startsWith("retry=false"))
  }

  test("small batch: exactly ONE POST even across many partitions (atomic delivery)") {
    import spark.implicits._
    CountingPoster.reset()
    val spread = Seq.tabulate(20)(i => ("Insert", i, s"r$i"))
      .toDF("Operation", "id", "name").repartition(8)
    val out = new HttpPostAction(new CountingPoster)
      .executeAction(spread, Map("baseUrl" -> "http://sink"))
    assert(out.success)
    assert(CountingPoster.calls.get() == 1,
      s"small batch must be one atomic POST, got ${CountingPoster.calls.get()}")
    // one well-formed array document carrying all 20 rows
    assert(CountingPoster.lastDoc.get().count(_ == '{') == 40) // 20 × {Operation,{Item}}
  }

  test("empty batch posts [] once (HttpPostAction.cs:36-44 posts zero-row batches)") {
    import spark.implicits._
    CountingPoster.reset()
    val empty = Seq.empty[(String, Int, String)].toDF("Operation", "id", "name")
    val out = new HttpPostAction(new CountingPoster)
      .executeAction(empty, Map("baseUrl" -> "http://sink"))
    assert(out.success)
    assert(CountingPoster.calls.get() == 1)
    assert(CountingPoster.lastDoc.get() == "[]")
  }

  test("large batch falls back to per-partition POSTs (distributed path)") {
    import spark.implicits._
    CountingPoster.reset()
    val big = Seq.tabulate(12)(i => ("Insert", i, s"r$i"))
      .toDF("Operation", "id", "name").repartition(3)
    val out = new HttpPostAction(new CountingPoster)
      .executeAction(big, Map("baseUrl" -> "http://sink", "maxSingleDocRows" -> "5"))
    assert(out.success)
    assert(CountingPoster.calls.get() == 3,
      s"expected one POST per partition, got ${CountingPoster.calls.get()}")
  }

  test("missing baseUrl throws (Program.cs:21 null-guard semantics)") {
    intercept[IllegalArgumentException] {
      new HttpPostAction(new RecordingPoster(200, "")).executeAction(changes, Map.empty)
    }
  }

  test("live socket round-trip via the JDK transport") {
    import com.sun.net.httpserver.HttpServer
    import java.net.InetSocketAddress
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    val received = new java.util.concurrent.atomic.AtomicReference[String]()
    server.createContext("/post", exchange => {
      received.set(new String(exchange.getRequestBody.readAllBytes()))
      exchange.sendResponseHeaders(200, 2)
      exchange.getResponseBody.write("ok".getBytes)
      exchange.close()
    })
    server.start()
    try {
      val out = new HttpPostAction().executeAction(changes,
        Map("baseUrl" -> s"http://localhost:${server.getAddress.getPort}",
          "route" -> "/post", "timeoutMs" -> "10000"))
      assert(out.success, s"got $out")
      assert(received.get().startsWith("[{\"Operation\""))
    } finally server.stop(0)
  }

  test("the JDK transport shares one client: 50 POSTs start no selector threads") {
    import com.sun.net.httpserver.HttpServer
    import java.net.InetSocketAddress
    import scala.jdk.CollectionConverters._
    def selectorThreads = Thread.getAllStackTraces.keySet.asScala
      .count(t => t.getName.startsWith("HttpClient-") && t.getName.endsWith("-SelectorManager"))
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/post", exchange => {
      exchange.getRequestBody.readAllBytes()
      exchange.sendResponseHeaders(200, 2)
      exchange.getResponseBody.write("ok".getBytes)
      exchange.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/post"
      // the first POST may build the shared client for this timeout
      assert(HttpPostAction.javaHttpPoster.post(url, "[]", 10000)._1 == 200)
      val before = selectorThreads
      (1 to 50).foreach { _ =>
        assert(HttpPostAction.javaHttpPoster.post(url, "[]", 10000)._1 == 200)
      }
      assert(selectorThreads <= before,
        s"selector threads went from $before to $selectorThreads over 50 POSTs")
    } finally server.stop(0)
  }
}
