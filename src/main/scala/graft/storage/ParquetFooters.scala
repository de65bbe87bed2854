package graft.storage

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet footers read on the driver, and the one rule that turns a
  * footer into a Spark schema.
  *
  * [[schema]] answers what `spark.read.parquet(path)` infers without the
  * one-stage Spark job that inference runs: with mergeSchema off, Spark
  * reads exactly one footer, so a reader that passes this schema to
  * `spark.read.schema(...)` gets the same relation at O(1) footers per
  * open, at any table size.
  */
object ParquetFooters {

  /** Max parallel footer reads of one call — small enough not to storm a
    * filesystem, large enough to overlap the round-trips. */
  private val ReadThreads = 8

  /** Footers of `files`, read on a bounded thread pool (on object storage
    * each read is a network round-trip; serial reads would put the whole
    * product on the caller's critical path). Order follows `files`. Any
    * failure propagates. */
  def read(spark: SparkSession, files: Seq[String]): Seq[(String, ParquetMetadata)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    // the read options come from the session's conf: the one-argument
    // `open` builds a fresh default Configuration (parsing the
    // core-default/core-site resources) per file
    def readOne(f: String) = {
      val p = new Path(f)
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf),
        org.apache.parquet.HadoopReadOptions.builder(conf, p).build())
      try f -> rd.getFooter finally rd.close()
    }
    if (files.size <= 1) files.map(readOne)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(files.size, ReadThreads))
      try {
        val futures = files.map(f =>
          pool.submit(new java.util.concurrent.Callable[(String, ParquetMetadata)] {
            override def call() = readOne(f)
          }))
        futures.map(_.get())
      } finally pool.shutdown()
    }
  }

  /** Spark's schema of one footer, as `spark.read.parquet` reports it:
    * the Spark row metadata the writer stored when present (column
    * metadata included), else the conversion of the parquet schema under
    * the session's conf — the code inference runs on the footer it picks
    * — with every field nullable, as the file source makes it. */
  def schemaOf(spark: SparkSession, file: String, footer: ParquetMetadata): StructType =
    SnapshotStore.asNullableSchema(ParquetFileFormat.readSchemaFromFooter(
      new Footer(new Path(file), footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))

  /** The schema `spark.read.parquet(path)` infers with mergeSchema off,
    * read from one footer on the driver.
    *
    * Spark's rule: among the leaf files, a `_common_metadata` summary
    * first, then a `_metadata` summary, else the first data file in path
    * order. A file `path` is that file. A directory is walked in that
    * order only down to its first visible leaf — one listing per level
    * on the way, never a full listing — so a summary file is seen only in
    * a directory the walk lists (writers put them at the root). Hidden
    * names follow Spark's listing filter. Refuses a directory with no
    * visible file, as inference does. */
  def schema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.getFileStatus(p)
    val summaries = scala.collection.mutable.ArrayBuffer.empty[Path]
    // leaf paths of sibling entries compare as `name` for a file and
    // `name/...` for a directory; ordering siblings by that key visits
    // leaves in the order of their full path strings
    def firstLeaf(dir: Path): Option[Path] = {
      val kids = fs.listStatus(dir).filterNot(s => hidden(s.getPath.getName))
      val (summary, rest) = kids.partition(s => s.isFile && isSummary(s.getPath.getName))
      summaries ++= summary.map(_.getPath)
      rest.sortBy(orderKey).iterator.flatMap(s =>
        if (s.isDirectory) firstLeaf(s.getPath) else Some(s.getPath)).nextOption()
    }
    val leaf =
      if (root.isFile) Some(root.getPath)
      else {
        val first = firstLeaf(root.getPath)
        def named(n: String) = summaries.filter(_.getName == n).sortBy(_.toString).headOption
        named(ParquetCommonMetadata).orElse(named(ParquetMetadataFile)).orElse(first)
      }
    val file = leaf.getOrElse(throw new IllegalArgumentException(
      s"Unable to infer schema for Parquet at $path: no data file"))
      .toString
    schemaOf(spark, file, read(spark, Seq(file)).head._2)
  }

  private val ParquetCommonMetadata = "_common_metadata"
  private val ParquetMetadataFile = "_metadata"

  private def isSummary(name: String) =
    name == ParquetCommonMetadata || name == ParquetMetadataFile

  private def orderKey(s: FileStatus): String =
    if (s.isDirectory) s.getPath.getName + "/" else s.getPath.getName

  /** Spark's listing filter (`HadoopFSUtils.shouldFilterOutPathName`):
    * names starting `_` (unless they hold `=`) or `.`, and in-flight
    * copies, are not data — the summary files excepted. */
  private def hidden(name: String): Boolean = {
    val exclude = (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")
    exclude && !name.startsWith(ParquetCommonMetadata) && !name.startsWith(ParquetMetadataFile)
  }
}
