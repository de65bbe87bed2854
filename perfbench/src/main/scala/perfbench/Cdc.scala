package perfbench

import graft.pipeline.DeliveryPipeline
import graft.storage.SnapshotStore
import graft.streaming.SnapshotChangeFeed
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** The CDC delivery workloads: change sets committed to a snapshot table,
  * drained through the change feed, and delivered by the pipeline to the
  * live endpoint. One closed-loop client runs one operation at a time:
  *
  *  - an operation (a batch) commits one staged change set, then drains the
  *    feed until the whole range is acknowledged;
  *  - a drain whose delivery is not `Delivered` throws out of the feed's
  *    callback, so the mark stays put, and the same range is drained again.
  *
  * Inputs are staged parquet that run.py writes before the JVM starts, so
  * the timed window holds only commit → drain → deliver. */
final class Cdc(spark: SparkSession, tracer: Tracer, in: Cdc.Inputs,
                runDir: String, endpoint: Endpoint) {
  import Cdc._

  final class State(val tableDir: String, val mark: String,
                    val pipeline: DeliveryPipeline, val staged: IndexedSeq[DataFrame])

  private final class Undelivered(val disposition: String) extends Exception(disposition)

  /** Fresh stores, a base table at version 1, and a feed mark caught up
    * with it. */
  def setUp(i: Int): State = {
    val dir = s"$runDir/cdc$i"
    val tableDir = s"$dir/table"
    val mark = s"$dir/feed.mark"
    val client = new TimedKV(spark, s"$dir/allowed_columns", tracer)
    client.save(in.table, in.clientAllowlist)
    val pipeline = new DeliveryPipeline(in.table, in.pk, in.versionCol,
      allowlistConfig = Some(in.allowlistConfig),
      clientAllowlist = client,
      lastError = new TimedKV(spark, s"$dir/last_error", tracer),
      lease = new TimedLease(spark, s"$dir/lease", tracer),
      sink = new TimedAction(tracer),
      sinkParams = Map("baseUrl" -> endpoint.baseUrl, "route" -> "/ingest",
        "timeoutMs" -> "60000"))
    SnapshotStore.commit(spark, tableDir, spark.read.parquet(in.base), "create")
    SnapshotChangeFeed.drainOnce(spark, tableDir, mark)((_, _, _) => ())
    new State(tableDir, mark, pipeline, in.sets.map(s => spark.read.parquet(s.path)))
  }

  /** A few untimed operations, so the delivery path's lazy set-up (code
    * generation, the HTTP client, JIT) is done before the window: the first
    * two batches of a JVM run up to twice as long as later ones. Returns the
    * feed mark they leave. */
  def warmUp(st: State): Long = {
    (-WarmUpOps until 0).foreach { k =>
      val r = operation(st, k)
      require(r.error.isEmpty, s"warm-up operation failed: ${r.error}")
    }
    SnapshotChangeFeed.highWaterMark(spark, st.mark)
  }

  /** Run operations until `deadlineNs`; stop early at the first one that
    * fails, since its range would leak into the next. */
  def run(st: State, deadlineNs: Long): Seq[OpRecord] = {
    val out = ArrayBuffer.empty[OpRecord]
    var k = 0
    while (Clock.nowNs < deadlineNs && !out.lastOption.exists(_.error.nonEmpty)) {
      out += operation(st, k)
      k += 1
    }
    out.toSeq
  }

  private def operation(st: State, k: Int): OpRecord = {
    val commits = ArrayBuffer.empty[(Int, Long)]
    val attempts = ArrayBuffer.empty[Attempt]
    var error = ""
    val t0 = Clock.nowNs
    tracer.operation(k + 1L, "op") {
      try {
        val set = Math.floorMod(k, in.sets.length)
        val v = tracer.span("commit", "storage") {
          SnapshotStore.commitAppend(spark, st.tableDir, st.staged(set), "append")
        }
        commits += ((set, v))
        var delivered = false
        while (!delivered) {
          if (attempts.length >= MaxAttempts)
            throw new IllegalStateException(s"range not delivered after $MaxAttempts attempts")
          val seqLo = endpoint.lastSeq
          var range = (-1L, -1L)
          var disposition = ""
          var hwmAfter = -1L
          try {
            tracer.span("drain", "streaming") {
              SnapshotChangeFeed.drainOnce(spark, st.tableDir, st.mark) { (rows, from, to) =>
                range = (from, to)
                val d = tracer.span("deliver", "pipeline")(st.pipeline.deliver(rows))
                disposition = d.toString.takeWhile(_ != '(')
                if (d != st.pipeline.Delivered) throw new Undelivered(disposition)
              }
            }
            delivered = true
          } catch {
            case _: Undelivered =>
              hwmAfter = tracer.span("mark", "streaming") {
                SnapshotChangeFeed.highWaterMark(spark, st.mark)
              }
          }
          attempts += Attempt(range._1, range._2, disposition, hwmAfter,
            seqLo, endpoint.lastSeq)
        }
      } catch {
        case e: Exception => error = s"${e.getClass.getName}: ${e.getMessage}"
      }
    }
    OpRecord(k + 1L, t0, Clock.nowNs, commits.toSeq,
      commits.map(c => in.sets(c._1).rows).sum, attempts.toSeq, error)
  }

  /** Data files and bytes each commit added (read after the timed window). */
  def commitFiles(st: State, ops: Seq[OpRecord]): Seq[(Long, Int, Long)] = {
    val fs = new Path(st.tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    ops.flatMap(_.commits).map { case (_, v) =>
      val files = SnapshotStore.changedFiles(spark, st.tableDir, v - 1, v)
      val bytes = files.map { f =>
        val p = new Path(f)
        fs.getFileStatus(if (p.isAbsolute) p else new Path(st.tableDir, f)).getLen
      }.sum
      (v, files.length, bytes)
    }
  }
}

object Cdc {
  val MaxAttempts = 4
  val WarmUpOps = 3

  final case class ChangeSet(path: String, rows: Long)

  final case class Inputs(table: String, pk: Seq[String], versionCol: String,
                          allowlistConfig: String, clientAllowlist: String,
                          faultEvery: Int, base: String,
                          sets: IndexedSeq[ChangeSet])

  /** One drain of the feed: the range it read, the pipeline's disposition,
    * the mark read back after a failed delivery (-1 after success) and the
    * endpoint sequence numbers `(seqLo, seqHi]` of the POSTs it made. */
  final case class Attempt(from: Long, to: Long, disposition: String,
                           hwmAfter: Long, seqLo: Long, seqHi: Long)

  final case class OpRecord(op: Long, startNs: Long, endNs: Long,
                            commits: Seq[(Int, Long)], rows: Long,
                            attempts: Seq[Attempt], error: String)

  def toJson(r: OpRecord): Map[String, Any] = Map(
    "op" -> r.op, "start_ns" -> r.startNs, "end_ns" -> r.endNs, "rows" -> r.rows,
    "commits" -> r.commits.map { case (s, v) => Map("set" -> s, "version" -> v) },
    "attempts" -> r.attempts.map(a => Map("from" -> a.from, "to" -> a.to,
      "disposition" -> a.disposition, "hwm_after" -> a.hwmAfter,
      "seq_lo" -> a.seqLo, "seq_hi" -> a.seqHi)),
    "error" -> (if (r.error.isEmpty) null else r.error))
}
