package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev diagnostic: print formatted physical plans for selected queries so
  * pushdown / pruning / broadcast choices can be reviewed.
  * Usage: runMain graft.tools.Explain <sfDir> <queryName> [queryName ...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
