package graft.streaming

import graft.storage.SnapshotStore
import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** High-water-mark consumer of the snapshot store's file-grain change
  * feed — the storage-layer mirror of the reference's delivery contract
  * (README.md:19-23: a checkpoint that advances ONLY on success, so a
  * failed delivery redelivers the same batch):
  *
  *  - the high-water mark is the last successfully delivered VERSION,
  *    persisted as a one-line checkpoint file: the new mark is written
  *    to a temp file and renamed over the old one in ONE step, so a
  *    crash or a failed rename leaves the previous mark readable — never
  *    no mark, which would read as 0 and redeliver all of history;
  *  - each [[drainOnce]] delivers the rows of versions
  *    `(hwm, latest]` through [[SnapshotStore.readChangesSince]] —
  *    scanning ONLY the files those commits added, never history — and
  *    advances the mark IFF `deliver` returns normally. A crash or a
  *    thrown delivery leaves the mark untouched → at-least-once
  *    redelivery of the SAME version range (idempotence is the
  *    consumer's contract, exactly the reference's T9 story);
  *  - rewrite commits (compaction / re-clustering) never surface, so
  *    maintenance cannot re-deliver the corpus.
  *
  * Scale shape: a drain reads the checkpoint line and ONE log entry per
  * version in the range (driver-side, O(versions in range)) — it never
  * rebuilds the table's manifest, so its cost does not grow with the
  * table — and scans only the added files; the consumer state is ONE
  * long, so any number of independent consumers can follow one table
  * with their own marks. */
object SnapshotChangeFeed {

  // the mark bypasses a checksummed store's `.crc` sidecar: the sidecar
  // is renamed after the data, so a read between the two renames — or
  // after a crash there — would check the new mark against the old sum
  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }

  /** Last successfully delivered version (0 = nothing yet). */
  def highWaterMark(spark: SparkSession, checkpointFile: String): Long = {
    val f = fs(spark, checkpointFile)
    val p = new Path(checkpointFile)
    if (!f.exists(p)) 0L
    else {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
  }

  private def commitMark(spark: SparkSession, checkpointFile: String,
                         v: Long): Unit = {
    val f = fs(spark, checkpointFile)
    val p = new Path(checkpointFile)
    Option(p.getParent).foreach(d => if (!f.exists(d)) f.mkdirs(d))
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    if (f.exists(tmp)) f.delete(tmp, false)
    val out = f.create(tmp, false)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    // one step, the old mark never deleted first: a POSIX rename replaces
    // its target atomically; a store whose plain rename refuses an
    // existing target (HDFS) replaces it through FileContext's OVERWRITE
    // rename, which it also performs atomically
    if (!f.rename(tmp, p))
      FileContext.getFileContext(p.toUri, f.getConf)
        .rename(tmp, p, Options.Rename.OVERWRITE)
  }

  /** Deliver everything committed past the mark, once: `deliver(rows,
    * fromVersion, toVersion)` receives the added rows of
    * `(fromVersion, toVersion]`; the mark advances to `toVersion` only
    * after `deliver` returns. Returns the delivered range, or None when
    * the feed is already drained (the mark does still fast-forward over
    * a rewrite-only range — nothing to deliver, nothing to redeliver). */
  def drainOnce(spark: SparkSession, tableDir: String, checkpointFile: String)
               (deliver: (DataFrame, Long, Long) => Unit): Option[(Long, Long)] = {
    val hwm = highWaterMark(spark, checkpointFile)
    SnapshotStore.latestVersion(spark, tableDir) match {
      case Some(latest) if latest > hwm =>
        val rows = SnapshotStore.readChangesSince(spark, tableDir, hwm, latest)
        deliver(rows, hwm, latest)
        commitMark(spark, checkpointFile, latest)
        Some((hwm, latest))
      case _ => None
    }
  }
}
