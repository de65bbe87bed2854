package perfbench

import graft.{SparkEntry, Tables}
import graft.queries._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** The query-suite workload: queries from `SparkEntry.queries`, run in name
  * order, each timed to full materialization (a `noop` write consumes
  * every column, so no projection is pruned away). The row count comes
  * from the same action through `Dataset.observe`. Memo builds count
  * toward the query that triggers them; memos are released after their
  * last consumer, and all of them at the end of a pass, outside the query's
  * timing, so every pass does the same work. */
final class Suite(spark: SparkSession, tracer: Tracer, dataDir: String,
                  names: Seq[String], planChecks: Map[String, String]) {
  import Suite._

  private val queries = SparkEntry.queries
  private val unknown = names.filterNot(queries.contains)
  require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

  private val plans = scala.collection.mutable.Map.empty[String, String]
  @volatile private var capturing: Option[String] = None
  if (tracer.enabled) spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      capturing.foreach(n => plans.synchronized { plans(n) = qe.executedPlan.toString })
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  /** Load and cache every table, as the engine's own entry points do. */
  def setUp(): Unit = {
    // evict every cached table (no table is read from this directory)
    Tables.evictOtherScaleFactors(s"$dataDir/evicted")
    TableNames.foreach(t => Tables.read(spark, dataDir, t).count())
  }

  /** Run whole passes over `names` until `deadlineNs`. */
  def run(deadlineNs: Long): Seq[QueryRecord] = {
    ExtQueries.drainMemoBuilds()
    val out = ArrayBuffer.empty[QueryRecord]
    var pass = 0
    while (Clock.nowNs < deadlineNs) {
      names.foreach(n => out += query(n, pass, out.length + 1L))
      SparkEntry.queries.keys.toSeq.sorted.foreach(ExtQueries.releaseMemosAfter)
      ExtQueries.releasePairsCache()
      pass += 1
    }
    out.toSeq
  }

  private def query(name: String, pass: Int, id: Long): QueryRecord = {
    val obs = new Observation(s"rows$id")
    val family = familyOf(name)
    capturing = Some(name).filter(planChecks.contains)
    val t0 = Clock.nowNs
    val error =
      try {
        tracer.operation(id, name) {
          tracer.span(name, s"queries.$family") {
            spark.sparkContext.setJobDescription(s"perfbench:$name")
            try {
              val df: DataFrame = queries(name)(spark, dataDir)
              df.observe(obs, count(lit(1)).as("n"))
                .write.format("noop").mode("overwrite").save()
            } finally spark.sparkContext.setJobDescription(null)
          }
        }
        ""
      } catch {
        case scala.util.control.NonFatal(e) =>
          s"${e.getClass.getName}: ${e.getMessage}".take(500)
      }
    val t1 = Clock.nowNs
    val rows = if (error.isEmpty) obs.get("n").asInstanceOf[Long] else -1L
    val memoS = ExtQueries.drainMemoBuilds().map(_._2).sum
    ExtQueries.releaseMemosAfter(name)
    if (capturing.nonEmpty) org.apache.spark.graft.ListenerBusBridge.drain(spark.sparkContext)
    capturing = None
    QueryRecord(id, name, family, pass, t0, t1, rows, memoS, error)
  }

  /** For each plan check (query → required plan text), whether the
    * executed plan of the query's last run contains the text. */
  def planResults: Map[String, Boolean] = plans.synchronized {
    planChecks.map { case (q, needle) => q -> plans.get(q).exists(_.contains(needle)) }
  }

  /** Each query's DuckDB oracle SQL. */
  def oracle: Map[String, String] = {
    val all = SparkEntry.oracleSql
    names.flatMap(n => all.get(n).map(n -> _)).toMap
  }
}

object Suite {
  val TableNames = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  final case class QueryRecord(id: Long, name: String, family: String, pass: Int,
                               startNs: Long, endNs: Long, rows: Long,
                               memoS: Double, error: String)

  private lazy val relational = Seq(CoreQueries.queries, RelQueries.queries,
    ScalarQueries.queries, SeqQueries.queries, StreamQueries.queries)
    .flatMap(_.keys).toSet
  private lazy val sql = SqlQueries.queries.keySet

  /** Query family by the object that defines the query. */
  def familyOf(name: String): String =
    if (relational(name)) "relational"
    else if (sql(name)) "sql"
    else if (name.startsWith("e_snapshot_")) "snapshot"
    else "corpus"

  def toJson(r: QueryRecord): Map[String, Any] = Map(
    "op" -> r.id, "name" -> r.name, "family" -> r.family, "pass" -> r.pass,
    "start_ns" -> r.startNs, "end_ns" -> r.endNs, "rows" -> r.rows,
    "memo_s" -> r.memoS, "error" -> (if (r.error.isEmpty) null else r.error))
}
