package graft

import org.apache.spark.sql.SparkSession

/** The one local session every entry point runs on (Bench, Verify and the
  * `tools/` mains), so correctness is proven on the settings the bench
  * times and no main drifts from the others. */
object GraftSession {

  /** A `local[cpus]` session with the engine's settings, its log level at
    * WARN and the native text expressions registered. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // scan-parallelism FLOOR (guide §6): at bench scale every base
      // table fits one 128 MB split, so scans — and the table caches
      // built from them — carried ONE partition and every map stage ran
      // single-threaded on a 32-core host. The floor splits small scans
      // across the cores; at production scale scans are far above it and
      // the setting is a no-op. Parameterized per deployment; local
      // default = the session's core count.
      .config("spark.sql.files.minPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_SCAN_FLOOR", cpus.toString))
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) (see Tables.read)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // reliable checkpoints (Dedup.materializeAndRelease) are files the
      // ContextCleaner only deletes with this flag — without it a long-lived
      // session with a checkpoint dir leaks checkpoint directories
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // fork-free local FS: without native libhadoop, Hadoop's stock local
      // FS execs `chmod` per created file/dir and `ls -ld` per listed file
      // — measured ~13% of snapshot-commit wall (stack samples of the
      // commit path; see NioLocalFileSystem). Same semantics, one syscall
      // instead of one fork. Kill switch: SPARK_GRAFT_NIO_LOCAL_FS=0.
      .config(graft.storage.NioLocalFileSystem.ConfKey,
        graft.storage.NioLocalFileSystem.implClassName)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.TextExpressions.register(spark)
    spark
  }

  /** `SPARK_GRAFT_CPUS`, else `default`. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)
}
