package graft.storage

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The on-disk forms every writer of the snapshot log produces — the
  * facts the readers rely on, pinned on one table driven through every
  * commit shape:
  *
  *  - every entry, v1 included, is an action delta with the version's
  *    schema and a commit timestamp;
  *  - every checkpoint header names the parquet format;
  *  - every bloom entry is a pointer into a sidecar that exists.
  */
class SnapshotWriterInvariantSpec extends SparkSpec {

  import spark.implicits._

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("snapwriters").toFile
    d.delete()
    d.getAbsolutePath
  }

  private def rows(lo: Long, hi: Long, col2: String) =
    (lo to hi).map(i => (i, s"t$i")).toDF("doc_id", col2)

  test("every writer emits one log form past v1, schema and ts on every " +
    "entry, parquet checkpoints and sidecar-pointer blooms") {
    val dir = freshDir()
    val store = SnapshotStore
    rows(1L, 400L, "text").repartition(4).write.parquet(dir)
    store.convertParquet(spark, dir, bloomCols = Seq("doc_id"))      // v1
    store.commit(spark, dir, rows(1L, 300L, "text").repartition(3),
      "ingest", bloomCols = Seq("doc_id"))                           // v2
    (1 to 7).foreach(i => store.commitAppend(spark, dir,
      rows(1000L * i, 1000L * i + 49, "text"), s"append-$i"))        // v3..v9
    store.merge(spark, dir,
      rows(290L, 310L, "text").withColumn("text", lit("merged")),
      Seq("doc_id"))                                                 // v10
    store.deleteWhereDv(spark, dir,
      SnapshotStore.FilePredicate.between("doc_id", 10L, 20L))       // v11
    store.compact(spark, dir)                                        // v12
    store.renameColumn(spark, dir, "text", "body")                   // v13
    (1 to 4).foreach(i => store.commitAppend(spark, dir,
      rows(20000L + 10 * i, 20000L + 10 * i + 4, "body"),
      s"renamed-$i"))                                                // v14..v17
    store.restore(spark, dir, 12L)                                   // v18
    (1 to 3).foreach(i => store.commitAppend(spark, dir,
      rows(30000L + 10 * i, 30000L + 10 * i + 4, "text"),
      s"tail-$i"))                                                   // v19..v21
    val latest = store.latestVersion(spark, dir).get
    assert(latest == 21L, s"the chain must reach v21, got v$latest")

    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def text(p: Path): String = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    def assertPointers(where: String,
                       stats: Iterable[SnapshotStore.FileStats]): Unit =
      stats.flatMap(_.blooms.values).foreach { b =>
        assert(b.sidecar.nonEmpty && b.ord >= 0L,
          s"$where: bloom $b is not a sidecar pointer")
        assert(fs.exists(new Path(b.sidecar)),
          s"$where: bloom sidecar ${b.sidecar} does not exist")
      }

    // the log entries themselves
    (1L to latest).foreach { v =>
      val d = store.parseRaw(text(new Path(f"$dir/_manifests/v$v%08d.json")))
      assert(d.version == v, s"v$v parses as v${d.version}")
      assert(v > 1L || d.removes.isEmpty,
        "v1 is the delta from the empty table: adds only")
      assert(d.schema.nonEmpty, s"v$v records an empty schema")
      assert(d.ts > 0L, s"v$v records no commit timestamp")
      assertPointers(s"log entry v$v", d.adds.map(_._2))
    }

    // every checkpoint header, and the state each one loads
    val headers = fs.listStatus(new Path(s"$dir/_manifests")).map(_.getPath)
      .filter(_.getName.endsWith(".ckpt.json"))
    assert(headers.map(_.getName).sorted.toSeq ==
      Seq("v00000010.ckpt.json", "v00000020.ckpt.json"),
      s"two interval checkpoints expected: ${headers.map(_.getName).toSeq}")
    headers.foreach { h =>
      assert((JsonMethods.parse(text(h)) \ "format") == JString("parquet"),
        s"${h.getName} is not a parquet checkpoint header")
      val v = h.getName.take(9).drop(1).toLong
      val ck = store.readCheckpointForTest(spark, dir, v)
      assert(ck.contains(store.manifest(spark, dir, v)),
        s"the v$v checkpoint must load the version's state")
      assertPointers(s"checkpoint v$v", ck.get.stats.values)
    }

    // every reconstructed version: blooms recorded, all pointers
    store.clearManifestCacheForTest()
    (1L to latest).foreach { v =>
      val m = store.manifest(spark, dir, v)
      assert(m.stats.values.exists(_.blooms.contains("doc_id")),
        s"v$v must carry the declared doc_id blooms")
      assertPointers(s"manifest v$v", m.stats.values)
    }
  }
}
