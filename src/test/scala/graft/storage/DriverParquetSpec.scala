package graft.storage

import graft.SparkSpec
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Checkpoint parts and bloom sidecars are written and read on the driver
  * ([[DriverParquet]]); Spark's parquet reader and the driver reader agree
  * on them row for row, and the driver reader reads what Spark wrote. */
class DriverParquetSpec extends SparkSpec {

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("driverparquet").toFile
    d.delete()
    d.getAbsolutePath
  }

  import SnapshotStore.CkptSchema

  /** checkpoint rows with every nullable column null somewhere */
  private val ckptRows = (0 until 7).map { i =>
    val blooms = i % 2 == 0
    Row(i.toLong, s"file:/t/part $i.parquet",
      if (i % 3 == 0) null else i * 10L, 4096L + i, """{"id":{}}""",
      if (blooms) Seq("id", "text") else null,
      if (blooms) Seq("bigint", "string") else null,
      if (i == 5) "file:/t/_dv/__b=0" else null,
      if (i == 5) 3L else null,
      if (blooms) Seq("file:/t/_blooms", "file:/t/_blooms") else null,
      if (blooms) Seq(i.toLong, i + 1L) else null)
  }

  private def driverRows(dir: String, schema: StructType): Seq[Row] =
    DriverParquet.scan(spark, DriverParquet.parts(spark, dir), schema)(_.toList)

  test("a driver-written checkpoint part reads back row for row through " +
    "spark.read.schema(CkptSchema)") {
    val dir = freshDir()
    DriverParquet.write(spark, dir, CkptSchema, ckptRows.iterator, 3)
    assert(DriverParquet.parts(spark, dir).size == 3, "7 rows in parts of 3")
    val viaSpark = spark.read.schema(CkptSchema).parquet(dir).collect()
      .sortBy(_.getLong(0)).toSeq
    assert(viaSpark == ckptRows)
    assert(driverRows(dir, CkptSchema) == ckptRows)
  }

  test("a checkpoint of a real table reads the same through Spark and the " +
    "driver, and round-trips to its manifest") {
    import spark.implicits._
    val dir = freshDir()
    SnapshotStore.commit(spark, dir, (1L to 50L).map(i => (i, s"t$i"))
      .toDF("doc_id", "text").repartition(3), "ingest", bloomCols = Seq("doc_id"))
    val m = SnapshotStore.manifest(spark, dir, 1L)
    SnapshotStore.writeCheckpointForTest(spark, dir, m)
    val data = SnapshotStore.checkpointDataPath(dir, 1L).toString
    val viaSpark = spark.read.schema(CkptSchema).parquet(data).collect()
      .sortBy(_.getLong(0)).toSeq
    assert(viaSpark.size == m.files.size)
    assert(viaSpark == driverRows(data, CkptSchema).sortBy(_.getLong(0)))
    assert(SnapshotStore.readCheckpointForTest(spark, dir, 1L).contains(m))
  }

  test("the driver reader reads Spark-written parts, leaves a column the " +
    "file lacks null, and an empty write is one readable part") {
    val dir = freshDir()
    spark.createDataFrame(spark.sparkContext.parallelize(ckptRows, 2), CkptSchema)
      .write.parquet(dir)
    assert(driverRows(dir, CkptSchema).sortBy(_.getLong(0)) == ckptRows)
    val projected = StructType(Seq(CkptSchema("ord"), StructField("absent", LongType)))
    assert(driverRows(dir, projected).sortBy(_.getLong(0)) ==
      ckptRows.map(r => Row(r.getLong(0), null)))
    val empty = freshDir()
    DriverParquet.write(spark, empty, CkptSchema, Iterator.empty, 3)
    assert(DriverParquet.parts(spark, empty).size == 1)
    assert(driverRows(empty, CkptSchema).isEmpty)
    assert(spark.read.schema(CkptSchema).parquet(empty).count() == 0L)
  }

  test("sidecar bits round-trip, and an ord filter returns only its rows") {
    val dir = freshDir()
    val rows = (0 until 20).map(i =>
      Row(i.toLong, s"f$i", "id", "bigint", Array.tabulate[Byte](64)(j => (i * j).toByte)))
    DriverParquet.write(spark, dir, SnapshotStore.BloomSidecarSchema, rows.iterator, 8)
    val viaSpark = spark.read.schema(SnapshotStore.BloomSidecarSchema).parquet(dir)
      .collect().sortBy(_.getLong(0)).toSeq
    assert(viaSpark == rows)
    val want = Set(3L, 11L, 19L)
    val got = DriverParquet.scan(spark, DriverParquet.parts(spark, dir),
      SnapshotStore.BloomSidecarSchema,
      Some(FilterApi.in(FilterApi.longColumn("ord"),
        want.map(java.lang.Long.valueOf).asJava)))(_.toList)
    assert(got.map(_.getLong(0)).toSet == want)
    assert(got == rows.filter(r => want(r.getLong(0))))
  }
}
