package graft.storage

import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Hand-built manifests for specs that exercise the log without data
  * files. They carry what the commit loop records for every version: a
  * schema, and stats with a size for every listed file. */
object ManifestFixtures {

  /** the one-column schema the synthetic tables record */
  val Schema: StructType = StructType(Seq(StructField("id", LongType)))

  /** one-row stats with no column bounds for each of `files` */
  def stats(files: Seq[String]): Map[String, SnapshotStore.FileStats] =
    files.map(_ -> SnapshotStore.FileStats(1L, Map.empty, 1024L)).toMap

  /** a version listing `files` under [[Schema]], each with [[stats]] */
  def manifest(version: Long, operation: String, files: Seq[String],
               ts: Long = 0L): SnapshotStore.Manifest =
    SnapshotStore.Manifest(version, operation, files, stats(files), Schema,
      ts = ts)
}
