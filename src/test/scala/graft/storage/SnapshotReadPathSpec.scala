package graft.storage

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col

/** Every snapshot read is a relation over the manifest-backed
  * [[SnapshotFileIndex]]: building the frame runs no Spark job, and the
  * `_metadata.file_path` spelling that deletion vectors key on is the one
  * a plain parquet read of the same file reports — so vectors written
  * through either read mask the same rows. */
class SnapshotReadPathSpec extends SparkSpec {

  import spark.implicits._

  private def freshDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.delete()
    d.getAbsolutePath
  }

  private def docs(rs: (Long, String)*) = rs.toDF("doc_id", "text").coalesce(1)

  private def locations(df: DataFrame) =
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location }

  private def filePaths(df: DataFrame): Seq[String] =
    df.select(col("_metadata.file_path")).distinct().as[String].collect().toSeq

  test("an unpartitioned readAsOf and readChangesSince read through the " +
    "snapshot index and build with no Spark stage") {
    val dir = freshDir("snapread")
    SnapshotStore.commit(spark, dir, docs(1L -> "a", 2L -> "b"), "ingest")
    SnapshotStore.commitAppend(spark, dir, docs(3L -> "c"), "append")
    var asOf: DataFrame = null
    var range: DataFrame = null
    val c = counted {
      asOf = SnapshotStore.readAsOf(spark, dir, 2L)
      range = SnapshotStore.readChangesSince(spark, dir, 1L, 2L)
    }
    assert(c("stagesCompleted") == 0L, s"$c")
    Seq(asOf, range).foreach { df =>
      val locs = locations(df)
      assert(locs.nonEmpty && locs.forall(_.isInstanceOf[SnapshotFileIndex]), s"$locs")
    }
    assert(asOf.as[(Long, String)].collect().toSet ==
      Set(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(range.as[(Long, String)].collect().toSeq == Seq(3L -> "c"))
  }

  test("under a table dir holding a space and a %, each file's " +
    "_metadata.file_path is what a plain parquet read reports, and the " +
    "deletion vector on disk names the file in that spelling and masks its row") {
    val dir = freshDir("snap read 100% x")
    SnapshotStore.commit(spark, dir, docs(1L -> "a", 2L -> "b", 3L -> "c"), "ingest")
    SnapshotStore.commitAppend(spark, dir, docs(4L -> "d"), "append")
    val m = SnapshotStore.manifest(spark, dir, 2L)
    assert(m.files.size == 2 && m.files.forall(f => f.contains(" ") && f.contains("%")),
      s"${m.files}")
    m.files.foreach { f =>
      val plain = filePaths(spark.read.parquet(f))
      assert(plain.size == 1)
      assert(filePaths(SnapshotStore.readFiles(spark, dir, m, Seq(f))) == plain)
    }
    import SnapshotStore.FilePredicate._
    val v = SnapshotStore.deleteWhereDv(spark, dir, EqTo("doc_id", 2L))
    val mv = SnapshotStore.manifest(spark, dir, v)
    assert(mv.dvs.size == 1, "the delete must mask one file with a vector")
    val (file, ref) = mv.dvs.head
    val spelled = spark.read.schema(SnapshotStore.DvSchema).parquet(ref.path)
      .select("file").distinct().as[String].collect().toSeq
    assert(spelled == filePaths(spark.read.parquet(file)))
    assert(SnapshotStore.readAsOf(spark, dir, v).as[(Long, String)].collect().toSet ==
      Set(1L -> "a", 3L -> "c", 4L -> "d"))
    assert(SnapshotStore.readChangesSince(spark, dir, 0L, v).as[(Long, String)]
      .collect().toSet == Set(1L -> "a", 3L -> "c", 4L -> "d"))
  }
}
