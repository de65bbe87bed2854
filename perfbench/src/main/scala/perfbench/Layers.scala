package perfbench

import graft.sinks.{DataSyncAction, HttpPostAction, SinkOutcome}
import graft.state.{KVStore, LeaseStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.sql.Timestamp

/** Timing subclasses of the engine's state stores: each public call is one
  * `state` span. `DeliveryPipeline` receives these in place of the plain
  * stores, so the engine code under test is unchanged. */
final class TimedKV(spark: SparkSession, path: String, tracer: Tracer)
    extends KVStore(spark, path) {
  override def get(key: String): Option[String] =
    tracer.span("kv.get", "state")(super.get(key))
  override def save(key: String, value: String, now: Timestamp): Unit =
    tracer.span("kv.save", "state")(super.save(key, value, now))
}

final class TimedLease(spark: SparkSession, path: String, tracer: Tracer)
    extends LeaseStore(spark, path) {
  override def attemptCount(table: String): Option[Int] =
    tracer.span("lease.get", "state")(super.attemptCount(table))
  override def setAttemptCount(table: String, n: Int, now: Timestamp): Unit =
    tracer.span("lease.set", "state")(super.setAttemptCount(table, n, now))
}

/** A `sinks` span around the engine's HTTP action. The POSTs it makes are
  * recorded by [[TimedPoster]] as child intervals of this span. */
final class TimedAction(tracer: Tracer) extends DataSyncAction {
  private val inner = new HttpPostAction(TimedPoster)

  override def executeAction(changes: DataFrame, params: Map[String, String]): SinkOutcome =
    tracer.span("action", "sinks") {
      PostLog.parent = tracer.current
      PostLog.op = tracer.opId
      inner.executeAction(changes, params)
    }
}

/** Every POST the sink makes, with its interval and size. Under `local[n]`
  * the executors share this JVM, so the records land in this one object. */
object PostLog {
  final case class Entry(parent: Long, op: Long, startNs: Long, endNs: Long,
                         bytes: Long, status: Int)

  @volatile var parent = 0L
  @volatile var op = 0L
  private val entries = scala.collection.mutable.ArrayBuffer.empty[Entry]

  def add(e: Entry): Unit = synchronized { entries += e }
  def all: Seq[Entry] = synchronized { entries.toList }
  def clear(): Unit = synchronized { entries.clear() }
}

/** The engine's JDK transport, timed. */
object TimedPoster extends HttpPostAction.Poster {
  override def post(url: String, body: String, timeoutMs: Long): (Int, String) = {
    val parent = PostLog.parent
    val op = PostLog.op
    val t0 = Clock.nowNs
    val r = HttpPostAction.javaHttpPoster.post(url, body, timeoutMs)
    // the payload is ASCII JSON, so its length is its size in bytes
    PostLog.add(PostLog.Entry(parent, op, t0, Clock.nowNs, body.length.toLong, r._1))
    r
  }
}
