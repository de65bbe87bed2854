package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-JVM test session (local[4], UTC, tiny shuffle). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // the fork-free local FS the entrypoint sessions run on — the whole
      // suite exercises it (see graft.storage.NioLocalFileSystem)
      .config(graft.storage.NioLocalFileSystem.ConfKey,
        graft.storage.NioLocalFileSystem.implClassName)
      // the full extension surface (functions, optimizer rule, as-of
      // strategy, snapshot DML resolution) — the cluster-deploy path
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.TextExpressions.register(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Engine counter deltas over `body`, with the listener bus drained on
    * both sides (the MetricsAssertionsSpec recipe). */
  protected def counted(body: => Unit): Map[String, Long] = {
    val l = graft.observability.Observability.attach(spark)
    try {
      org.apache.spark.graft.ListenerBusBridge.drain(spark.sparkContext)
      val before = l.snapshot
      body
      org.apache.spark.graft.ListenerBusBridge.drain(spark.sparkContext)
      l.snapshot.map { case (k, v) => k -> (v - before(k)) }
    } finally graft.observability.Observability.detach(spark, l)
  }
}
