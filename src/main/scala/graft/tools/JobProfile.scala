package graft.tools

import graft.{GraftSession, SparkEntry, Tables}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev diagnostic: run a query and print its Spark JOB timeline — per-job
  * wall, task count and the driver-side GAP since the previous job ended.
  * The gap column is where per-commit driver constants (manifest IO,
  * footer reads, planning) hide; the job column is cluster work.
  * Usage: runMain graft.tools.JobProfile <sfDir> <queryName> [...] */
object JobProfile {
  private case class J(id: Int, desc: String, sub: Long, var end: Long,
                       tasks: Int)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus = GraftSession.envCpus(32)
    val spark = GraftSession.local(cpus)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => Tables.read(spark, sfDir, t).count())
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = new java.util.concurrent.CopyOnWriteArrayList[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(e.stageInfos.lastOption.map(s =>
            s.name.take(60) + " @ " + s.details.linesIterator
              .find(l => l.contains("graft") && !l.contains("JobProfile"))
              .getOrElse("").trim.take(80)))
          .getOrElse("")
        val tasks = e.stageInfos.map(_.numTasks).sum
        jobs.put(e.jobId, J(e.jobId, desc, e.time, -1L, tasks))
        order.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      }
    })
    names.foreach { n =>
      // warm run: codegen + memo builds land here, not in the profile
      SparkEntry.queries(n)(spark, sfDir).count()
      // with SPARK_GRAFT_PROFILE_MEMOS=1 the profiled run REBUILDS the
      // shared memos (drop the caches post-warm), so memo-building queries
      // profile their build instead of a cache read
      if (sys.env.get("SPARK_GRAFT_PROFILE_MEMOS").contains("1"))
        graft.queries.ExtQueries.releasePairsCache()
      jobs.clear(); order.clear()
      val t0 = System.currentTimeMillis()
      SparkEntry.queries(n)(spark, sfDir).count()
      org.apache.spark.graft.ListenerBusBridge.drain(spark.sparkContext)
      val t1 = System.currentTimeMillis()
      println(s"=== $n wall=${(t1 - t0) / 1e3}s jobs=${order.size} ===")
      var prevEnd = t0
      var gapSum = 0L; var jobSum = 0L
      import scala.jdk.CollectionConverters._
      order.asScala.flatMap(id => Option(jobs.get(id))).foreach { j =>
        val gap = math.max(0L, j.sub - prevEnd)
        val dur = if (j.end > 0) j.end - j.sub else -1
        gapSum += gap; if (dur > 0) jobSum += dur
        println(f"  job ${j.id}%4d gap ${gap / 1e3}%6.3f run ${dur / 1e3}%6.3f tasks ${j.tasks}%4d  ${j.desc.take(90)}")
        prevEnd = math.max(prevEnd, if (j.end > 0) j.end else j.sub)
      }
      println(f"  TOTAL gaps ${gapSum / 1e3}%.3f  jobs ${jobSum / 1e3}%.3f  tail ${(t1 - prevEnd) / 1e3}%.3f")
    }
    spark.stop()
  }
}
