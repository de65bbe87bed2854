package graft.state

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

/** Keyed last-write-wins state table — the durable-entity analogue
  * (S4 read / S7 upsert; /root/reference/EntityFunctions/EntityFunctions.cs:8-47):
  * `Save` overwrites the value for a key and stamps the write time
  * (EntityFunctions.cs:17-21).
  *
  * Storage: parquet snapshots under `path/v_<n>/`, with `path/_CURRENT`
  * naming the live snapshot — every write produces the whole next snapshot
  * in v_{n+1} and atomically swaps the pointer, so readers never see a
  * half-written table and the store never reads the directory it is writing
  * (Spark cannot overwrite its own input). Every snapshot is read with the
  * store's fixed schema (`key` and `value` strings, an `updated_at`
  * timestamp), so no read pays a parquet schema-inference job.
  *
  * Point reads are memoized per snapshot version. A published `v_<n>` is
  * never rewritten and the pointer only moves forward, so an answer read
  * at version n stays exact for as long as `_CURRENT` names n. Every call
  * re-reads the pointer (a tiny local file); the memo answers only while it
  * names the version the memo was built for — a write through this
  * instance, another instance or another JVM moves the pointer, and the
  * next lookup reads the new snapshot. Misses are memoized too. The memo
  * holds only keys touched at the current version; a memo miss is one
  * Spark job with the key filter pushed into the parquet scan.
  *
  * Writes:
  *  - `save` (point upsert) picks the winner on the driver from the
  *    memoized current row — a newer `updated_at` wins, the incoming row
  *    wins exact ties — and writes `snapshot − key ∪ winner`: one narrow
  *    scan-and-write job with no shuffle, which carries the memo forward to
  *    the new version with only that key replaced. It still rewrites the
  *    whole snapshot, so a point save is O(state); removing that needs a
  *    log-structured delta format, which this store does not have.
  *  - `saveAll` merges a keyed DataFrame by distributed union +
  *    dedup-to-latest, so the same code holds for billion-key batches.
  *  - `delete` and `cleanStorage` rewrite the filtered snapshot.
  * Every write bumps the version, which retires the memo of the old one.
  *
  * Concurrency: every read-merge-write cycle runs inside one lock, so two
  * concurrent `save()` calls serialize and BOTH updates survive (no
  * lost-update window between reading the base snapshot and writing the
  * merge). The last `keepSnapshots` snapshot directories are retained so a
  * lazy DataFrame handed out by `all()` stays evaluable across that many
  * subsequent writes (MVCC-style bounded history; older versions are
  * compacted away).
  */
class KVStore(spark: SparkSession, path: String, keepSnapshots: Int = 3) {
  require(keepSnapshots >= 1, "must retain at least the live snapshot")

  private val root = Paths.get(path)
  private val pointer = root.resolve("_CURRENT")
  Files.createDirectories(root)

  import graft.operators.ChangeFeed

  // Point-lookup memo, valid for snapshot version `memoVersion` only: key ->
  // Some((value, updated_at)) for a stored row, None for an absent key.
  // Guarded by `this`.
  private var memoVersion: Option[Int] = None
  private val memo =
    scala.collection.mutable.HashMap.empty[String, Option[(String, Timestamp)]]

  private def currentVersion: Option[Int] =
    if (Files.exists(pointer)) Some(Files.readString(pointer).trim.toInt) else None

  // Files.walk/list return streams that hold an open directory fd until
  // closed — a scheduled cleanup that never closes them exhausts the
  // process's fd table. Always close via try/finally.
  private def deleteRecursively(dir: java.nio.file.Path): Unit = {
    val walk = Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.deleteIfExists(f))
    finally walk.close()
  }

  private def listDir(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val listing = Files.list(dir)
    try {
      val buf = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      listing.forEach(p => buf += p)
      buf.toSeq
    } finally listing.close()
  }

  private def snapshot(version: Option[Int]): DataFrame = version match {
    case Some(v) => spark.read.schema(KVStore.Schema).parquet(root.resolve(s"v_$v").toString)
    case None => spark.createDataFrame(java.util.Collections.emptyList[Row](), KVStore.Schema)
  }

  /** Full current state: (key string, value string, updated_at timestamp). */
  def all(): DataFrame = snapshot(currentVersion)

  // The row stored for `key` at `version`, through the memo. Internal callers
  // use this, never the overridable `get`.
  private def lookupAt(version: Option[Int], key: String): Option[(String, Timestamp)] =
    synchronized {
      if (version != memoVersion) { memo.clear(); memoVersion = version }
      memo.getOrElseUpdate(key,
        snapshot(version).filter(col("key") === key).select("value", "updated_at")
          .collect().headOption.map(r => (r.getString(0), r.getTimestamp(1))))
    }

  /** Point lookup (S4): Some(value) or None, mirroring entity-get-or-204
    * (ClientAllowedColumnsFunction.cs:37-44). */
  def get(key: String): Option[String] = lookupAt(currentVersion, key).map(_._1)

  /** Last-write-wins upsert (S7). `now` injectable for deterministic tests. */
  def save(key: String, value: String, now: Timestamp = new Timestamp(System.currentTimeMillis())): Unit =
    synchronized {
      import spark.implicits._
      val base = currentVersion
      val incoming = (value, KVStore.truncateToMicros(now))
      val winner = lookupAt(base, key) match {
        case Some(stored @ (_, at)) if at != null && (incoming._2 == null || incoming._2.before(at)) =>
          stored
        case _ => incoming
      }
      // `<=>` keeps a null-key row, as the dedup merge does
      val rest = snapshot(base).filter(!(col("key") <=> key))
      val row = Seq((key, winner._1, winner._2)).toDF("key", "value", "updated_at")
      // coalesce to the base's file count: the one-row side would otherwise
      // add a file to every snapshot
      val written = writeSnapshot(rest.unionByName(row).coalesce(math.max(1, fileCount(base))))
      memo(key) = Some(winner)
      memoVersion = Some(written)
    }

  /** Batch upsert of a whole keyed DataFrame (key, value, updated_at). */
  def saveAll(updates: DataFrame): Unit = writeMerged(updates)

  /** Delete a key (entity removal, CleanEntityStorage analogue). */
  def delete(key: String): Unit = synchronized {
    val next = all().filter(col("key") =!= key)
    writeSnapshot(next)
  }

  // Synchronized as a whole: the base snapshot is read INSIDE the lock, so a
  // concurrent save cannot slip between read-merge and write (lost update).
  /** Entity-storage compaction (CleanupFunction.cs:36-40,
    * `CleanEntityStorageAsync { ReleaseOrphanedLocks, RemoveEmptyEntities }`):
    *
    *  - remove-empty-entities → drop keys whose value is null/blank (the
    *    durable-entity "exists but holds no state" shape);
    *  - release-orphaned-locks → delete crash leftovers: stray
    *    `_CURRENT.tmp*` pointer files (a writer died mid-swap) and `v_*`
    *    directories NEWER than the live pointer (a writer died after the
    *    parquet write but before the swap — they are unreachable, not
    *    history).
    *
    * Returns (emptyEntitiesRemoved, orphansDeleted). */
  def cleanStorage(removeEmptyEntities: Boolean = true,
                   releaseOrphanedLocks: Boolean = true): (Long, Long) = synchronized {
    val empties =
      if (!removeEmptyEntities) 0L
      else {
        val current = all()
        val emptyCount = current.filter(col("value").isNull || trim(col("value")) === "").count()
        if (emptyCount > 0) {
          writeSnapshot(current.filter(col("value").isNotNull && trim(col("value")) =!= ""))
        }
        emptyCount
      }
    var orphans = 0L
    if (releaseOrphanedLocks) {
      val live = currentVersion.getOrElse(-1)
      listDir(root).foreach { p =>
        val name = p.getFileName.toString
        val staleTmp = name.startsWith("_CURRENT.tmp")
        val futureSnap = name.startsWith("v_") &&
          name.stripPrefix("v_").toIntOption.exists(_ > live)
        if (staleTmp || futureSnap) {
          deleteRecursively(p)
          orphans += 1
        }
      }
    }
    (empties, orphans)
  }

  private def writeMerged(incoming: DataFrame): Unit = synchronized {
    // union + dedup-to-latest: newest updated_at wins; incoming beats
    // existing on exact timestamp ties (marked by priority column).
    val merged = ChangeFeed.dedupLatest(
      all().withColumn("__pri", lit(0)).unionByName(incoming.withColumn("__pri", lit(1))),
      pk = Seq("key"), version = "updated_at", tieBreak = Seq("__pri"))
      .drop("__pri")
    writeSnapshot(merged)
  }

  private def fileCount(version: Option[Int]): Int = version.fold(0) { v =>
    listDir(root.resolve(s"v_$v")).count(_.getFileName.toString.endsWith(".parquet"))
  }

  /** Writes `df` as the next snapshot, swaps the pointer to it and returns
    * its version. */
  private def writeSnapshot(df: DataFrame): Int = synchronized {
    val next = currentVersion.getOrElse(-1) + 1
    df.write.mode(SaveMode.Overwrite).parquet(root.resolve(s"v_$next").toString)
    val tmp = root.resolve(s"_CURRENT.tmp$next")
    Files.writeString(tmp, next.toString)
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // prune snapshots older than the retained window (history compaction,
    // the ContinueAsNew bounded-state analogue — RetryFunctions.cs:60-62);
    // keeping `keepSnapshots` versions keeps recently handed-out lazy
    // readers evaluable instead of failing on a vanished input directory
    (0 to next - keepSnapshots).foreach { v =>
      val dir = root.resolve(s"v_$v")
      if (Files.exists(dir)) deleteRecursively(dir)
    }
    next
  }
}

object KVStore {
  // the schema of every snapshot; reads use it instead of inferring it
  private val Schema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("value", StringType),
    StructField("updated_at", TimestampType)))

  // parquet and Spark hold timestamps in microseconds; comparing and
  // memoizing the truncated value keeps the driver-side winner identical to
  // what a read of the written row returns
  private def truncateToMicros(t: Timestamp): Timestamp =
    if (t == null) null
    else {
      val out = new Timestamp(t.getTime)
      out.setNanos(t.getNanos / 1000 * 1000)
      out
    }
}

/** The lease/checkpoint table analogue (S3 scan / S8 conditional rewrite):
  * per-table delivery attempt counts (`[az_func].[lease_*]`,
  * RetryFunctions.cs:137-167). */
class LeaseStore(spark: SparkSession, path: String) {
  private val kv = new KVStore(spark, path)

  def attemptCount(table: String): Option[Int] = kv.get(table).map(_.toInt)

  def setAttemptCount(table: String, n: Int,
                      now: Timestamp = new Timestamp(System.currentTimeMillis())): Unit =
    kv.save(table, n.toString, now)

  /** S8 — the 5→4 nudge that re-arms the trigger's redelivery
    * (RetryFunctions.cs:159-167). Returns true when a nudge happened. */
  def nudgeIfExhausted(table: String,
                       now: Timestamp = new Timestamp(System.currentTimeMillis())): Boolean =
    attemptCount(table) match {
      case Some(5) => setAttemptCount(table, 4, now); true
      case _ => false
    }
}
