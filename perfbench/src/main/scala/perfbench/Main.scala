package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.util.RawValue
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The benchmark's JVM half. `run.py` generates the inputs, starts this
  * main with them, and checks and summarizes what it writes:
  *
  * {{{
  * perfbench.Main <inputs.json> <result.json> <spans.jsonl> <posts.jsonl>
  * }}}
  *
  * One run: set up the workload three times (fresh directories each time),
  * time the two host calibration probes, then run the workload's closed
  * loop for the requested seconds and record every operation, every Spark
  * job, the host's CPU steal over the window, and — when tracing — one
  * span per call at each layer boundary. */
object Main {
  val Cpus = 4
  val SetUps = 3

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    require(args.length == 4, "usage: perfbench.Main <inputs.json> <result.json> <spans.jsonl> <posts.jsonl>")
    val in = json.readTree(Files.readString(Paths.get(args(0))))
    val workload = in.get("workload").asText
    val runDir = in.get("run_dir").asText
    val seconds = in.get("seconds").asDouble
    val trace = in.get("trace").asBoolean

    val jvmStartNs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    val spark = session(runDir)
    val sessionNs = Clock.nowNs
    val stats = new SparkStats
    spark.sparkContext.addSparkListener(stats)
    val tracer = new Tracer(trace, spark)
    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "trace" -> trace)
    var endpoint: Option[Endpoint] = None
    try {
      graft.plans.TextExpressions.register(spark)
      def timed[T](f: => T): (T, Double) = {
        val t0 = System.nanoTime()
        val r = f
        (r, (System.nanoTime() - t0) / 1e9)
      }
      def window[T](body: Long => T): T = {
        calibrate(spark, result)
        stats.reset(spark)
        PostLog.clear()
        val steal0 = Host.stealSeconds()
        val t0 = Clock.nowNs
        val r = body(t0 + (seconds * 1e9).toLong)
        val t1 = Clock.nowNs
        stats.drain(spark)
        result ++= Seq("window_start_ns" -> t0, "window_end_ns" -> t1,
          "steal_s" -> (Host.stealSeconds() - steal0))
        r
      }

      workload match {
        case "cdc-trickle" =>
          val cdcIn = cdcInputs(in.get("cdc"))
          val ep = new Endpoint(cdcIn.faultEvery, Cpus)
          endpoint = Some(ep)
          val cdc = new Cdc(spark, tracer, cdcIn, runDir, ep)
          val setups = (1 to SetUps).map(i => timed(cdc.setUp(i)))
          result("setup_s") = setups.map(_._2)
          val st = setups.last._1
          result("base_mark") = cdc.warmUp(st)
          val ops = window { deadline => ep.rearm(); cdc.run(st, deadline) }
          result("ops") = ops.map(Cdc.toJson)
          if (trace) result("commit_files") = cdc.commitFiles(st, ops).map {
            case (v, n, b) => Map("version" -> v, "files" -> n, "bytes" -> b)
          }
          writeLines(args(3), ep.posts.map(p => json.writeValueAsString(Map(
            "seq" -> p.seq, "status" -> p.status,
            "body" -> Option(p.body).map(b => new RawValue(new String(b, "UTF-8")))))))

        case "query-suite" =>
          val sIn = in.get("suite")
          val checks = sIn.get("plan_checks").properties().asScala
            .map(e => e.getKey -> e.getValue.asText).toMap
          // every stride-th query in name order, plus the plan-checked ones
          val stride = sIn.get("stride").asInt
          val all = graft.SparkEntry.queries.keys.toSeq.sorted
          val names = (all.indices.filter(_ % stride == 0).map(all) ++ checks.keys)
            .distinct.sorted
          result("queries") = names
          val suite = new Suite(spark, tracer, sIn.get("data_dir").asText, names, checks)
          result("setup_s") = (1 to SetUps).map(_ => timed(suite.setUp())._2)
          val qs = window(deadline => suite.run(deadline))
          result("ops") = qs.map(Suite.toJson)
          result("oracle") = suite.oracle
          if (trace) result("plan_checks") = suite.planResults

        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      result ++= Seq(
        "jobs" -> stats.jobs.map(j => Map("id" -> j.id, "start_ms" -> j.startMs,
          "end_ms" -> j.endMs, "layer" -> j.layer, "op" -> j.op)),
        "stages" -> stats.stages, "tasks" -> stats.tasks,
        "cpu_s" -> stats.cpuNs / 1e9, "shuffle_bytes" -> stats.shuffleBytes,
        "posts" -> PostLog.all.map(p => Map("parent" -> p.parent, "op" -> p.op,
          "start_ns" -> p.startNs, "end_ns" -> p.endNs, "bytes" -> p.bytes,
          "status" -> p.status)),
        "peak_rss_kb" -> Host.peakRssKb(),
        "session_s" -> (sessionNs - jvmStartNs) / 1e9)
      writeLines(args(2), tracer.all.map(s => json.writeValueAsString(Map("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer, "op" -> s.op,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))))
      Files.writeString(Paths.get(args(1)), json.writeValueAsString(result) + "\n")
    } finally {
      endpoint.foreach(_.stop())
      spark.stop()
    }
  }

  /** Two fixed, data-independent probes of host speed, as `graft.Bench`
    * times them: one task per core, then one single task. */
  private def calibrate(spark: SparkSession,
                        result: scala.collection.mutable.Map[String, Any]): Unit = {
    def probe(n: Long, parts: Int): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, n, 1L, parts).selectExpr("sum(id % 1000003)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    result("calibration_mt_s") = probe(1L << 27, Cpus)
    result("calibration_st_s") = probe(1L << 24, 1)
  }

  /** The engine's bench session settings, with every temporary directory
    * inside the run directory. */
  private def session(runDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.files.minPartitionNum", Cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config(graft.storage.NioLocalFileSystem.ConfKey,
        graft.storage.NioLocalFileSystem.implClassName)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def cdcInputs(n: JsonNode): Cdc.Inputs = Cdc.Inputs(
    table = n.get("table").asText,
    pk = n.get("pk").elements().asScala.map(_.asText).toSeq,
    versionCol = n.get("version").asText,
    allowlistConfig = n.get("allowlist_config").asText,
    clientAllowlist = n.get("client_allowlist").asText,
    faultEvery = n.get("fault_every").asInt,
    base = n.get("base").asText,
    sets = n.get("sets").elements().asScala.map(s =>
      Cdc.ChangeSet(s.get("path").asText, s.get("rows").asLong)).toIndexedSeq)

  private def writeLines(path: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(path), lines.asJava)
}
