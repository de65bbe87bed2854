package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Wall clock in epoch nanoseconds with `System.nanoTime` resolution, so
  * spans line up with the epoch-millisecond times of Spark's job events. */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def nowNs: Long = baseEpochNs + (System.nanoTime() - baseNano)
}

/** One interval at a layer boundary. `parent` is 0 for an operation's root;
  * `op` is the operation (batch, round or query) the span belongs to. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      op: Long, startNs: Long, endNs: Long)

/** Spans recorded around the benchmark's calls into each layer, kept in
  * memory and written out at exit. With tracing off, `span` runs its body
  * and records nothing. Traced spans also tag the Spark jobs they start
  * (local properties [[Tracer.LayerKey]] / [[Tracer.OpKey]]) so the
  * listener can attribute jobs to layers. */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  private var nextId = 0L
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile private var op = 0L

  private def newId(): Long = synchronized { nextId += 1; nextId }

  /** The innermost open span on this thread (0 = none). */
  def current: Long = stack.get().headOption.getOrElse(0L)

  private def record(s: Span): Unit = synchronized { spans += s }

  def all: Seq[Span] = synchronized { spans.toList }

  /** Open operation `id` as a root span. */
  def operation[T](id: Long, name: String)(body: => T): T = {
    op = id
    if (enabled) spark.sparkContext.setLocalProperty(Tracer.OpKey, id.toString)
    span(name, "op")(body)
  }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = current
      val sc = spark.sparkContext
      val prevLayer = sc.getLocalProperty(Tracer.LayerKey)
      sc.setLocalProperty(Tracer.LayerKey, layer)
      stack.set(id :: stack.get())
      val t0 = Clock.nowNs
      try body
      finally {
        val t1 = Clock.nowNs
        stack.set(stack.get().tail)
        sc.setLocalProperty(Tracer.LayerKey, prevLayer)
        record(Span(id, parent, name, layer, op, t0, t1))
      }
    }

  def opId: Long = op
}

object Tracer {
  val LayerKey = "perfbench.layer"
  val OpKey = "perfbench.op"
}

/** The benchmark's own listener: every job with its interval and the layer
  * and operation that started it, plus stage, task, executor CPU and
  * shuffle-write totals since the last [[reset]]. */
final class SparkStats extends SparkListener {
  import SparkStats.Job

  private val open = scala.collection.mutable.HashMap.empty[Int, (Long, String, String)]
  private val done = ArrayBuffer.empty[Job]
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    open(e.jobId) = (e.time,
      p.flatMap(x => Option(x.getProperty(Tracer.LayerKey))).getOrElse(""),
      p.flatMap(x => Option(x.getProperty(Tracer.OpKey))).getOrElse(""))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (t0, layer, op) =>
      done += Job(e.jobId, t0, e.time, layer, op)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Wait for queued events, then start counting from zero. */
  def reset(spark: SparkSession): Unit = {
    drain(spark)
    synchronized {
      done.clear(); stages = 0; tasks = 0; cpuNs = 0; shuffleBytes = 0
    }
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.graft.ListenerBusBridge.drain(spark.sparkContext)

  def jobs: Seq[Job] = synchronized { done.toList }
}

object SparkStats {
  final case class Job(id: Int, startMs: Long, endMs: Long, layer: String, op: String)
}

/** Host context read from `/proc`: CPU steal and the process's peak RSS. */
object Host {
  /** Cumulative steal time of all CPUs, in seconds. */
  def stealSeconds(): Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map { l =>
      val f = l.split("\\s+")
      if (f.length > 8) f(8).toDouble / 100.0 else 0.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Peak resident set size of this JVM (`VmHWM`), in KiB. */
  def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }
}
