package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the driver-generated star-schema testdata
  * (see /root/repo/TESTDATA.md). One parquet file per table.
  *
  * All operators take a `sfDir` (e.g. /root/testdata/sf0.01) so the same
  * code runs at every scale factor; at cluster scale the paths would be
  * directories of many files and nothing here changes.
  */
object Tables {
  // One benchmark/verify run touches each table from many queries; reuse a
  // single persisted DataFrame per table so repeated queries hit the
  // in-memory columnar cache instead of re-scanning parquet. At cluster
  // scale this maps to caching hot dims — fact tables at 100 TB would NOT
  // be persisted.
  //
  // Bounding the cache to one scale factor is an EXPLICIT lifecycle call
  // ([[evictOtherScaleFactors]], invoked by the Bench/Verify entry points
  // at startup), not a side effect of read(): a library caller holding
  // DataFrames built over another sfDir must not silently lose its
  // in-memory columnar cache mid-plan just because a different scale
  // factor was read concurrently.
  private val cache = scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  /** Unpersist and drop every cached table of scale factors other than
    * `sfDir`, so a run that moves between scale factors holds one working
    * set, not their union. Call at entry-point startup (Bench/Verify do),
    * never mid-query. */
  def evictOtherScaleFactors(sfDir: String): Unit = {
    val stale = cache.keys.filter(_._1 != sfDir).toSeq
    if (stale.nonEmpty) {
      stale.foreach(k => cache.remove(k).foreach(_.unpersist(false)))
      println(s"[graft] table cache evicted ${stale.size} entries of other " +
        "scale factors")
    }
  }

  /** `sfDir/name.parquet` as a frame, cached per (sfDir, name). The
    * schema is read from the file's footer on the driver
    * ([[graft.storage.ParquetFooters.schema]]), so an open runs no
    * schema-inference Spark job; the plan is the one inference would give.
    *
    * events.parquet carries TIMESTAMP(NANOS). The engine-wide contract is
    * `ts` = bigint of epoch-nanos WITH A MICROSECOND PRECISION FLOOR: a
    * session with `spark.sql.legacy.parquet.nanosAsLong` on an older
    * Spark 4 point release reads the long (true nanos survive); Spark >=
    * 4.1.2 reads the column as a (NTZ) timestamp truncated to
    * microseconds under either setting, and the normalization below
    * re-widens (`* 1000`), so the sub-micro digits are zeros there. Every
    * oracle grain in this repo (epoch_us/epoch_ms/seconds) sits at or
    * above the floor and DuckDB's parquet reader truncates the same way,
    * so grading is version-stable — but do NOT write a query that reads
    * the ts value at epoch-NANOS grain: its low digits are
    * Spark-version-dependent. This reader writes no session conf. */
  def read(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    cache.getOrElseUpdate((sfDir, name), {
      val path = s"$sfDir/$name.parquet"
      var df = spark.read.schema(graft.storage.ParquetFooters.schema(spark, path)).parquet(path)
      if (name == "events" &&
          df.schema("ts").dataType != org.apache.spark.sql.types.LongType) {
        // CAST from NTZ interprets the wall clock in the session time zone
        // — every entry point in this repo (and build.sbt's forked-JVM
        // javaOptions) pins spark.sql.session.timeZone=UTC, which is what
        // makes this the stored UTC instant.
        df = df.withColumn("ts",
          org.apache.spark.sql.functions.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) * 1000"))
      }
      // NOTE (round 22): repartitioning every cached table to the scan
      // floor was A/B'd and REJECTED — it made the proven-underparallel
      // text scans faster (span-dedup gram job 2 → 8 tasks, −43% wall)
      // but inflated executor CPU 5–15× across the rest of the suite
      // (8× more files per snapshot commit, M×R shuffle-block and
      // per-task constants on every tiny stage; measured: an isolation
      // subset read 2.9 CPU-s at 1 cache partition vs 38.7 at 8). The
      // CPU-dense operators widen their own inputs instead
      // (Dedup.widened), where the gain is measured and the blast radius
      // is one operator.
      df.persist()
    })
  }

  /** events.ts (epoch nanos, bigint) → epoch seconds, bigint. */
  def tsEpochSeconds: org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.expr("ts DIV 1000000000")

  def region(s: SparkSession, d: String): DataFrame    = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = read(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = read(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}
