package perfbench

import com.sun.net.httpserver.HttpServer
import java.net.{InetAddress, InetSocketAddress}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** The receiving end of the HTTP sink: a JDK `HttpServer` on 127.0.0.1,
  * served by a pool of daemon threads (a non-daemon pool keeps the JVM
  * alive after `main` returns).
  *
  * Every POST takes the next sequence number, from 1. When `faultEvery` > 0,
  * POSTs 3, 3 + faultEvery, 3 + 2 * faultEvery, ... are answered 503 and
  * their bodies dropped; all others are answered 200 and their bodies kept
  * for the checker. Keying faults on the sequence number makes the fault
  * schedule, and so the redelivery count, a function of the POST count
  * alone; the phase puts the first fault early in every run. */
final class Endpoint(faultEvery: Int, threads: Int) {
  import Endpoint.Post

  private val seq = new AtomicLong
  private val log = new ConcurrentLinkedQueue[Post]()
  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    private val n = new AtomicLong
    override def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"perfbench-endpoint-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })
  private val server =
    HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
  server.setExecutor(pool)
  server.createContext("/ingest", exchange => {
    try {
      val body = exchange.getRequestBody.readAllBytes()
      val n = seq.incrementAndGet()
      val fault = faultEvery > 0 && n % faultEvery == Endpoint.FaultPhase % faultEvery
      val status = if (fault) 503 else 200
      log.add(Post(n, status, if (fault) null else body))
      val reply = (if (fault) "injected fault" else "ok").getBytes("UTF-8")
      exchange.sendResponseHeaders(status, reply.length)
      exchange.getResponseBody.write(reply)
    } finally exchange.close()
  })
  server.start()

  val baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Sequence number of the last POST received. */
  def lastSeq: Long = seq.get()

  /** Restart the sequence at 1 and forget the POSTs received so far, so the
    * fault schedule starts with the timed window. */
  def rearm(): Unit = {
    seq.set(0)
    log.clear()
  }

  def posts: Seq[Post] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Post]
    log.forEach(p => out += p)
    out.sortBy(_.seq).toSeq
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object Endpoint {
  val FaultPhase = 3

  /** One POST received; `body` is null for an injected fault. */
  final case class Post(seq: Long, status: Int, body: Array[Byte])
}
