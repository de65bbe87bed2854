package graft.state

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp

/** Keyed last-write-wins state table — the durable-entity analogue
  * (S4 read / S7 upsert; /root/reference/EntityFunctions/EntityFunctions.cs:8-47):
  * `Save` overwrites the value for a key and stamps the write time
  * (EntityFunctions.cs:17-21).
  *
  * Storage: snapshots under `path/v_<n>/`, with `path/_CURRENT` naming the
  * live one. A snapshot is its parquet data files plus an optional
  * `_overrides` sidecar: a JSON array with one `{key, value, updated_at}`
  * object per key (`updated_at` in epoch microseconds; either field may be
  * null) whose row replaces that key's data-file row. Spark's file listing
  * skips `_`-prefixed names, so the data files read as a plain parquet
  * table. Every write produces the whole next snapshot in v_{n+1} and
  * atomically swaps the pointer, so readers never see a half-written table
  * and the store never reads the directory it is writing (Spark cannot
  * overwrite its own input). Every snapshot is read with the store's fixed
  * schema (`key` and `value` strings, an `updated_at` timestamp), so no
  * read pays a parquet schema-inference job. `all()` is the data files
  * minus the overridden keys (a null-safe key filter on the scan) unioned
  * with the override rows — no join and no shuffle.
  *
  * Point reads are memoized per snapshot version. A published `v_<n>` is
  * never rewritten and the pointer only moves forward, so an answer read
  * at version n stays exact for as long as `_CURRENT` names n. Every call
  * re-reads the pointer (a tiny local file); the memo answers only while it
  * names the version the memo was built for — a write through this
  * instance, another instance or another JVM moves the pointer, and the
  * next lookup reads the new snapshot. Misses are memoized too. A lookup
  * the memo cannot answer checks the version's override rows on the
  * driver (cached per retained version), then reads the data files: one
  * Spark job with the key filter pushed into the parquet scan.
  *
  * Writes:
  *  - `save` (point upsert) picks the winner on the driver from the
  *    memoized current row — a newer `updated_at` wins, the incoming row
  *    wins exact ties — and publishes v_{n+1} with NO Spark job: hard
  *    links to v_n's data files plus an `_overrides` holding every row
  *    saved since the last fold, this one included. A point save costs
  *    O(data files) links plus at most [[KVStore.OverrideCap]] rows.
  *  - When the overrides reach [[KVStore.OverrideCap]] rows, the save
  *    folds them into the data files instead: one narrow scan-and-write
  *    job with no shuffle, coalesced to the base's file count. So does a
  *    store's first save (no data files to link) and a save on a
  *    filesystem that refuses hard links. A fold is O(state) once per
  *    cap's worth of saves.
  *  - `saveAll` merges a keyed DataFrame by distributed union +
  *    dedup-to-latest, so the same code holds for billion-key batches.
  *  - `delete` and `cleanStorage` rewrite the filtered snapshot.
  * These three write through Spark and so fold any overrides. Every write
  * bumps the version, which retires the memo of the old one; a save
  * carries the other keys' memo entries forward.
  *
  * Concurrency: every read-merge-write cycle runs inside one lock, so two
  * concurrent `save()` calls serialize and BOTH updates survive (no
  * lost-update window between reading the base snapshot and writing the
  * merge). The last `keepSnapshots` snapshot directories are retained so a
  * lazy DataFrame handed out by `all()` stays evaluable across that many
  * subsequent writes (MVCC-style bounded history; older versions are
  * compacted away). Each retained directory is self-contained: a hard link
  * keeps a data file alive after the directory that first held it is
  * pruned.
  */
class KVStore(spark: SparkSession, path: String, keepSnapshots: Int = 3) {
  require(keepSnapshots >= 1, "must retain at least the live snapshot")
  import KVStore.{Overrides, Schema, Stored}

  private val root = Paths.get(path)
  private val pointer = root.resolve("_CURRENT")
  Files.createDirectories(root)

  import graft.operators.ChangeFeed

  // Point-lookup memo, valid for snapshot version `memoVersion` only: key ->
  // Some((value, updated_at)) for a stored row, None for an absent key.
  // Guarded by `this`.
  private var memoVersion: Option[Int] = None
  private val memo = scala.collection.mutable.HashMap.empty[String, Option[Stored]]

  // The override rows of recently read or written versions (a published
  // version's rows never change); only retained versions are kept. Guarded
  // by `this`.
  private val overrideCache = scala.collection.mutable.HashMap.empty[Int, Overrides]

  private def currentVersion: Option[Int] =
    if (Files.exists(pointer)) Some(Files.readString(pointer).trim.toInt) else None

  private def snapshotDir(v: Int): Path = root.resolve(s"v_$v")

  // Files.walk/list return streams that hold an open directory fd until
  // closed — a scheduled cleanup that never closes them exhausts the
  // process's fd table. Always close via try/finally.
  private def deleteRecursively(dir: Path): Unit = {
    val walk = Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.deleteIfExists(f))
    finally walk.close()
  }

  private def listDir(dir: Path): Seq[Path] = {
    val listing = Files.list(dir)
    try {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
      listing.forEach(p => buf += p)
      buf.toSeq
    } finally listing.close()
  }

  private def overridesAt(v: Int): Overrides = synchronized {
    overrideCache.getOrElse(v, {
      val f = snapshotDir(v).resolve(KVStore.OverridesFile)
      remember(v, if (Files.exists(f)) KVStore.decode(Files.readString(f)) else Map.empty)
    })
  }

  private def remember(v: Int, rows: Overrides): Overrides = synchronized {
    overrideCache(v) = rows
    overrideCache.keys.filter(_ <= v - keepSnapshots).toList.foreach(overrideCache.remove)
    rows
  }

  // the data files of `version` minus the keys `rows` overrides, plus `rows`
  private def view(version: Option[Int], rows: Overrides): DataFrame = {
    val data = version match {
      case Some(v) => spark.read.schema(Schema).parquet(snapshotDir(v).toString)
      case None => spark.createDataFrame(java.util.Collections.emptyList[Row](), Schema)
    }
    if (rows.isEmpty) data
    else {
      import scala.jdk.CollectionConverters._
      val extra = rows.toSeq.map { case (k, (v, at)) => Row(k, v, at) }
      data.filter(!KVStore.keyIn(rows.keys))
        .unionByName(spark.createDataFrame(extra.asJava, Schema))
    }
  }

  /** Full current state: (key string, value string, updated_at timestamp). */
  def all(): DataFrame = synchronized {
    val v = currentVersion
    view(v, v.fold(Map.empty: Overrides)(overridesAt))
  }

  // The row stored for `key` at `version`, through the memo. Internal callers
  // use this, never the overridable `get`.
  private def lookupAt(version: Option[Int], key: String): Option[Stored] =
    synchronized {
      if (version != memoVersion) { memo.clear(); memoVersion = version }
      memo.getOrElseUpdate(key, version.flatMap { v =>
        overridesAt(v).get(key).orElse(
          view(Some(v), Map.empty).filter(col("key") === key).select("value", "updated_at")
            .collect().headOption.map(r => (r.getString(0), r.getTimestamp(1))))
      })
    }

  /** Point lookup (S4): Some(value) or None, mirroring entity-get-or-204
    * (ClientAllowedColumnsFunction.cs:37-44). */
  def get(key: String): Option[String] = lookupAt(currentVersion, key).map(_._1)

  /** Last-write-wins upsert (S7). `now` injectable for deterministic tests. */
  def save(key: String, value: String, now: Timestamp = new Timestamp(System.currentTimeMillis())): Unit =
    synchronized {
      val base = currentVersion
      val incoming = (value, KVStore.truncateToMicros(now))
      val winner = lookupAt(base, key) match {
        case Some(stored @ (_, at)) if at != null && (incoming._2 == null || incoming._2.before(at)) =>
          stored
        case _ => incoming
      }
      val rows = base.fold(Map.empty: Overrides)(overridesAt) + (key -> winner)
      val written = base.filter(_ => rows.size < KVStore.OverrideCap)
        .flatMap(publishLinked(_, rows))
        .getOrElse {
          // the fold: coalesce to the base's file count, so the override
          // rows add no file to the snapshot
          writeSnapshot(view(base, rows).coalesce(math.max(1, fileCount(base))))
        }
      memo(key) = Some(winner)
      memoVersion = Some(written)
    }

  /** Hard-links `existing` as `newFile` in a new snapshot directory;
    * overridable so a filesystem that refuses hard links can be simulated. */
  protected[state] def link(newFile: Path, existing: Path): Unit =
    Files.createLink(newFile, existing)

  // Publishes v_{base+1} as hard links to v_base's data files plus `rows` as
  // its `_overrides`, with no Spark job. None when the filesystem refuses a
  // link: nothing is published and the caller writes through Spark instead.
  private def publishLinked(base: Int, rows: Overrides): Option[Int] = {
    val next = base + 1
    val dir = snapshotDir(next)
    if (Files.exists(dir)) deleteRecursively(dir) // an unpublished crash leftover
    Files.createDirectories(dir)
    try listDir(snapshotDir(base))
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString != KVStore.OverridesFile)
      .foreach(f => link(dir.resolve(f.getFileName), f))
    catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        deleteRecursively(dir)
        return None
    }
    // getBytes maps an unpaired surrogate to '?', as a parquet write does
    // (Files.writeString would throw instead)
    Files.write(dir.resolve(KVStore.OverridesFile),
      KVStore.encode(rows).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    publish(next, rows)
    Some(next)
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
    *    durable-entity "exists but holds no state" shape); the rewrite, when
    *    there is one to make or override rows to fold, folds the overrides;
    *  - release-orphaned-locks → delete crash leftovers: stray
    *    `_CURRENT.tmp*` pointer files (a writer died mid-swap) and `v_*`
    *    directories NEWER than the live pointer (a writer died after
    *    writing or linking the snapshot but before the swap — they are
    *    unreachable, not history).
    *
    * Returns (emptyEntitiesRemoved, orphansDeleted). */
  def cleanStorage(removeEmptyEntities: Boolean = true,
                   releaseOrphanedLocks: Boolean = true): (Long, Long) = synchronized {
    val empties =
      if (!removeEmptyEntities) 0L
      else {
        val current = all()
        val emptyCount = current.filter(col("value").isNull || trim(col("value")) === "").count()
        if (emptyCount > 0 || currentVersion.exists(overridesAt(_).nonEmpty)) {
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
    listDir(snapshotDir(v)).count(_.getFileName.toString.endsWith(".parquet"))
  }

  /** Writes `df` as the next snapshot through Spark (no overrides), swaps
    * the pointer to it and returns its version. */
  private def writeSnapshot(df: DataFrame): Int = synchronized {
    val next = currentVersion.getOrElse(-1) + 1
    // Overwrite also clears an unpublished crash leftover at v_next
    df.write.mode(SaveMode.Overwrite).parquet(snapshotDir(next).toString)
    publish(next, Map.empty)
    next
  }

  // Swaps the pointer to the written v_next and prunes old snapshots.
  private def publish(next: Int, rows: Overrides): Unit = {
    val tmp = root.resolve(s"_CURRENT.tmp$next")
    Files.writeString(tmp, next.toString)
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    remember(next, rows)
    // prune snapshots older than the retained window (history compaction,
    // the ContinueAsNew bounded-state analogue — RetryFunctions.cs:60-62);
    // keeping `keepSnapshots` versions keeps recently handed-out lazy
    // readers evaluable instead of failing on a vanished input directory
    (0 to next - keepSnapshots).foreach { v =>
      val dir = snapshotDir(v)
      if (Files.exists(dir)) deleteRecursively(dir)
    }
  }
}

object KVStore {
  // a stored row: (value, updated_at)
  private type Stored = (String, Timestamp)
  // key -> the row that replaces the data files' row for that key
  private type Overrides = Map[String, Stored]

  /** Override rows a snapshot may carry; the save that would reach this
    * many folds them into the data files instead. */
  private[state] val OverrideCap: Int = 64

  private[state] val OverridesFile = "_overrides"

  // the schema of every snapshot; reads use it instead of inferring it
  private val Schema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("value", StringType),
    StructField("updated_at", TimestampType)))

  // true when the key is one of `keys`, null-safe: a null key matches a null
  // entry and never yields null (so its negation keeps every other row)
  private def keyIn(keys: Iterable[String]): Column = {
    val (nulls, present) = keys.partition(_ == null)
    val hit = coalesce(col("key").isin(present.toSeq: _*), lit(false))
    if (nulls.isEmpty) hit else hit || col("key").isNull
  }

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

  import org.json4s._
  import org.json4s.jackson.JsonMethods

  private def encode(rows: Overrides): String = {
    def str(s: String): JValue = if (s == null) JNull else JString(s)
    JsonMethods.compact(JsonMethods.render(JArray(rows.toList.map { case (k, (v, at)) =>
      JObject(
        "key" -> str(k),
        "value" -> str(v),
        "updated_at" -> (if (at == null) JNull
                         else JLong(Math.floorDiv(at.getTime, 1000L) * 1000000L + at.getNanos / 1000)))
    })))
  }

  private def decode(json: String): Overrides = {
    def str(j: JValue): String = j match {
      case JString(s) => s
      case _ => null
    }
    def micros(j: JValue): Timestamp = j match {
      case JInt(n) => timestamp(n.toLong)
      case JLong(n) => timestamp(n)
      case _ => null
    }
    JsonMethods.parse(json) match {
      case JArray(items) => items.map(o => str(o \ "key") -> (str(o \ "value"), micros(o \ "updated_at"))).toMap
      case other => throw new IllegalStateException(s"malformed $OverridesFile: $other")
    }
  }

  private def timestamp(micros: Long): Timestamp = {
    val out = new Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
    out.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
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
