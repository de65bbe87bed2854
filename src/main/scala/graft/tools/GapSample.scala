package graft.tools

import graft.{GraftSession, SparkEntry, Tables}

/** Dev diagnostic: run a query repeatedly while sampling the DRIVER main
  * thread's stack every few ms, then print the hottest collapsed frames.
  * Answers "what are the driver-side gaps between jobs made of" without
  * an external profiler (jstack can't always see the forked JVM here).
  * Usage: runMain graft.tools.GapSample <sfDir> <reps> <queryName> [...] */
object GapSample {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val cpus = GraftSession.envCpus(32)
    val spark = GraftSession.local(cpus)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => Tables.read(spark, sfDir, t).count())
    val mainThread = Thread.currentThread()
    names.foreach { n =>
      SparkEntry.queries(n)(spark, sfDir).count() // warm
      val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      @volatile var sampling = true
      val allThreads = sys.env.get("SPARK_GRAFT_SAMPLE_ALL").contains("1")
      def record(st: Array[StackTraceElement],
                 counts: java.util.concurrent.ConcurrentHashMap[String, Integer]): Unit = {
          if (st.exists(f => f.getClassName == "org.apache.hadoop.util.Shell")) {
            // a process fork: record who ASKED Hadoop's Shell to exec
            val caller = st.dropWhile(f =>
              !f.getClassName.startsWith("org.apache.hadoop.util.Shell"))
              .dropWhile(f =>
                f.getClassName.startsWith("org.apache.hadoop.util.Shell"))
              .take(10).map(f => f.getClassName.split('.').last + "." +
                f.getMethodName + ":" + f.getLineNumber).mkString(" < ")
            counts.merge("SHELL-FORK via " + caller, 1, (a, b) => a + b)
          } else if (st.nonEmpty) {
            // collapse to the deepest "interesting" frame + its caller
            val key = st.iterator
              .filterNot(f => f.getClassName.startsWith("java.lang.Thread"))
              .take(40)
              .find(f => !f.getClassName.startsWith("java.") &&
                !f.getClassName.startsWith("jdk.") &&
                !f.getClassName.startsWith("scala.collection"))
              .map { f =>
                val top = st.headOption.map(t =>
                  t.getClassName.split('.').last + "." + t.getMethodName).getOrElse("")
                f.getClassName + "." + f.getMethodName + ":" + f.getLineNumber +
                  "  [top:" + top + "]"
              }
              .getOrElse("<jvm>")
            counts.merge(key, 1, (a, b) => a + b)
          }
      }
      val sampler = new Thread(() => {
        while (sampling) {
          val stacks: Seq[Array[StackTraceElement]] =
            if (allThreads) {
              import scala.jdk.CollectionConverters._
              Thread.getAllStackTraces.asScala.toSeq.collect {
                case (t, st)
                  if t.getState == Thread.State.RUNNABLE &&
                    (t ne Thread.currentThread()) && st.nonEmpty => st
              }
            } else Seq(mainThread.getStackTrace)
          stacks.foreach { st =>
            record(st, counts)
          }
          Thread.sleep(3)
        }
      })
      sampler.setDaemon(true)
      sampler.start()
      val t0 = System.nanoTime()
      (1 to reps).foreach(_ => SparkEntry.queries(n)(spark, sfDir).count())
      val wall = (System.nanoTime() - t0) / 1e9
      sampling = false
      sampler.join(200)
      println(s"=== $n reps=$reps wall=${"%.2f".format(wall)}s ===")
      import scala.jdk.CollectionConverters._
      val total = counts.values.asScala.map(_.toInt).sum.max(1)
      counts.asScala.toSeq.sortBy(-_._2).take(30).foreach { case (k, c) =>
        println(f"  ${c.toInt * 100.0 / total}%5.1f%% $c%5d  $k")
      }
    }
    spark.stop()
  }
}
