package graft.storage

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.{SaveMode => SqlSaveMode}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Registered data-source face of the snapshot store:
  *
  * {{{
  *   spark.read.format("graft-snapshot").load(tableDir)          // latest
  *   spark.read.format("graft-snapshot")
  *     .option("version", 3).load(tableDir)                      // time travel
  *   // through SQL DDL:
  *   CREATE TABLE t USING `graft-snapshot`
  *     OPTIONS (path '<tableDir>', version '3')
  *   // as a STREAM over the manifest log (versions = offsets):
  *   spark.readStream.format("graft-snapshot")
  *     .option("startingVersion", 2).load(tableDir)
  *   // and as a streaming ROW-GRAIN change feed (Delta CDF vocabulary):
  *   spark.readStream.format("graft-snapshot")
  *     .option("readChangeFeed", "true").option("idCols", "doc_id")
  *     .load(tableDir)
  * }}}
  *
  * Batch reads resolve to the same stats-and-partition-pruning
  * [[SnapshotFileIndex]]-backed parquet relation as
  * [[SnapshotFileIndex.readAsOfTable]] — any WHERE partition-prunes and
  * file-skips through the manifest, and the plan stays an ordinary
  * codegen'd parquet FileScan. The streaming form is a V1 [[Source]]
  * whose OFFSETS ARE MANIFEST VERSIONS: each micro-batch is
  * [[SnapshotStore.readChangesSince]] over `(startOffset, endOffset]` —
  * only the files those commits added, rewrite commits excluded — so a
  * downstream streaming query follows ingest exactly-once (offsets ride
  * the query's own checkpoint) without ever re-scanning history. With
  * `readChangeFeed=true` (plus `idCols`) each micro-batch is instead
  * the ROW-GRAIN feed [[SnapshotStore.readRowChanges]] over the same
  * version range — inserts/deletes once, updates as pre+post image
  * pairs in `_change_type` — so a downstream mirror of a merge-mutated
  * table subscribes to row updates incrementally. Options:
  * `startingVersion` (first batch starts after `startingVersion - 1`;
  * default 1 = deliver the full history first),
  * `maxVersionsPerTrigger` (bound commits per micro-batch). Retention
  * contract: [[SnapshotStore.vacuum]] must retain at least the
  * consumer's lag, or recovery refuses loudly (never under-delivers).
  * Registration rides the standard SPI service file, so both the short
  * name and the class name resolve. */
final class SnapshotSource extends RelationProvider with DataSourceRegister
    with StreamSourceProvider with CreatableRelationProvider
    with StreamSinkProvider {

  override def shortName(): String = "graft-snapshot"

  /** STREAMING WRITE face (round 16 — the surface's last missing
    * quadrant: batch read/write and stream read already spoke the
    * registered name):
    * {{{
    *   df.writeStream.format("graft-snapshot")
    *     .option("checkpointLocation", ckpt).start(tableDir)
    * }}}
    * Each micro-batch is ONE atomic `ingest-b<batchId>` commit (append
    * by default; `mergeKeys` upserts per batch — the CDC-apply shape:
    * a `readChangeFeed` stream of one table mirrors into another), with
    * the same replay guard as [[graft.streaming.StreamingSnapshotIngest]]
    * — a redelivered batch id (crash between manifest rename and offset
    * commit) is SKIPPED, so at-least-once delivery never double-appends.
    * `partitionBy` on a table-creating stream fixes the hive layout
    * (append AND `mergeKeys` streams alike); Append output mode only —
    * Update/Complete refuse as an `AnalysisException` (the store IS the
    * changelog: an aggregation wanting Update mode should mirror
    * through `mergeKeys` over `readChangeFeed` instead).
    *
    * NOTE on `maxVersionsPerTrigger` when a mirror reads its OWN output
    * table (self-composition): each sink batch commits exactly one
    * version, so a downstream reader capped at `maxVersionsPerTrigger=n`
    * lags by at most `ceil(pending/n)` triggers and never skips —
    * offsets are versions, and the cap only bounds how many commit
    * deltas one micro-batch folds. */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    if (outputMode != OutputMode.Append()) SnapshotDmlRule.analysisError(
      s"graft-snapshot sink supports Append output mode only, got " +
        s"$outputMode — the snapshot log IS the changelog; mirror Update-" +
        "mode semantics with mergeKeys over a readChangeFeed stream")
    def cols(key: String): Seq[String] = parameters.get(key).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    new SnapshotSink(sqlContext.sparkSession, pathOf(parameters),
      cols("mergeKeys"), partitionColumns ++ cols("partitionBy"),
      cols("bloomCols"))
  }

  /** Write face: `df.write.format("graft-snapshot").mode(...)` —
    * `Append` is [[SnapshotStore.commitAppend]] (one new version = prior
    * files + the frame's bytes), `Overwrite` is a full-snapshot
    * [[SnapshotStore.commit]]; both ride the atomic manifest protocol
    * and record per-file stats, so everything written through the
    * source is immediately time-travelable, skippable, and streamable.
    * `ErrorIfExists`/`Ignore` follow their contracts against "any
    * committed version exists". Option `operation` tags the commit;
    * option `mergeKeys` (comma-separated columns) turns `Append` into a
    * copy-on-write UPSERT — [[SnapshotStore.merge]]: same-key rows
    * replaced, new keys appended, off-envelope files carried. Option
    * `partitionBy` (comma-separated columns) on a table-creating write
    * fixes the hive partition layout — appends inherit it. */
  override def createRelation(sqlContext: SQLContext, mode: SqlSaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val dir = pathOf(parameters)
    val op = parameters.getOrElse("operation", "write")
    def cols(key: String): Seq[String] = parameters.get(key).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    val partitionBy = cols("partitionBy")
    // TABLE PROPERTIES arrive as options (round 18): the SQL parser
    // hook routes a graft-snapshot CREATE TABLE's TBLPROPERTIES here —
    // `graft.*` knobs verbatim, opaque user keys under the reserved
    // `tblprop:` prefix (so they can never collide with real options
    // like path/version/mergeKeys) — and a programmatic writer may pass
    // either form directly; all are validated and recorded in the
    // manifest header by the table-creating commit, so SHOW
    // TBLPROPERTIES (which reads the manifest) round-trips every pair
    val tblProps: Map[String, String] =
      parameters.filter(
        _._1.toLowerCase(java.util.Locale.ROOT).startsWith("graft.")) ++
        parameters.collect { case (k, v) if k.startsWith("tblprop:") =>
          k.stripPrefix("tblprop:") -> v }
    // declared bloom-filter columns (round 16) — layout-defining writes
    // fix them (via the option or the graft.bloomColumns property);
    // appends/merges inherit the committed declaration
    val bloomCols = (cols("bloomCols") ++
      tblProps.collectFirst {
        case (k, v) if k.equalsIgnoreCase(SnapshotStore.BloomColumnsKey) =>
          v.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      }.getOrElse(Seq.empty)).distinct
    val exists = SnapshotStore.latestVersion(spark, dir).isDefined
    mode match {
      case SqlSaveMode.Append =>
        // appends to an EXISTING table inherit the committed layout AND
        // bloom declaration — an option that doesn't restate them
        // exactly refuses loudly (silently ignoring it would let a
        // caller believe they (re)declared; only a full-snapshot
        // Overwrite may change either)
        if (exists && (partitionBy.nonEmpty || bloomCols.nonEmpty)) {
          val committed = SnapshotStore.latestVersion(spark, dir)
            .map(v => SnapshotStore.manifest(spark, dir, v))
          val cP = committed.map(_.partitionCols).getOrElse(Seq.empty)
          val cB = committed.map(_.bloomCols).getOrElse(Seq.empty)
          require(partitionBy.isEmpty || partitionBy == cP,
            s"append to $dir passes partitionBy(${partitionBy.mkString(",")}) " +
              s"but the committed layout is (${cP.mkString(",")}) — " +
              "appends inherit the layout; change it with mode Overwrite")
          require(bloomCols.isEmpty || bloomCols == cB,
            s"append to $dir passes bloomCols(${bloomCols.mkString(",")}) " +
              s"but the committed declaration is (${cB.mkString(",")}) — " +
              "appends inherit it; change it with mode Overwrite")
        }
        parameters.get("mergeKeys") match {
          case Some(_) => SnapshotStore.merge(spark, dir, data,
            cols("mergeKeys"),
            operation = parameters.getOrElse("operation", "merge"),
            // table-CREATING merge fixes the declared layout (the
            // append-guard above already proved inheritance otherwise)
            partitionBy = partitionBy, bloomCols = bloomCols,
            tblProperties = tblProps)
          case None if !exists && (partitionBy.nonEmpty ||
              bloomCols.nonEmpty || tblProps.nonEmpty) =>
            SnapshotStore.commit(spark, dir, data, op,
              partitionBy = partitionBy, bloomCols = bloomCols,
              tblProperties = tblProps)
          case None => SnapshotStore.commitAppend(spark, dir, data, op)
        }
      case SqlSaveMode.Overwrite =>
        SnapshotStore.commit(spark, dir, data, op, partitionBy = partitionBy,
          bloomCols = bloomCols, tblProperties = tblProps)
      case SqlSaveMode.ErrorIfExists if exists =>
        sys.error(s"graft-snapshot table at $dir already has committed " +
          "versions (mode ErrorIfExists)")
      case SqlSaveMode.ErrorIfExists =>
        SnapshotStore.commit(spark, dir, data, op, partitionBy = partitionBy,
          bloomCols = bloomCols, tblProperties = tblProps)
      case SqlSaveMode.Ignore =>
        if (!exists) SnapshotStore.commit(spark, dir, data, op,
          partitionBy = partitionBy, bloomCols = bloomCols,
          tblProperties = tblProps)
    }
    createRelation(sqlContext, parameters)
  }

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      sys.error("graft-snapshot needs a path (load(dir) or OPTIONS(path ...))"))

  private def schemaOf(spark: SparkSession, dir: String,
                       version: Long): StructType =
    SnapshotStore.headerInfoOf(spark, dir, version).schema

  private def cdfRequested(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.trim.toBoolean)

  private def idColsOf(parameters: Map[String, String]): Seq[String] =
    parameters.get("idCols").toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))

  /** Batch-read face. NOTE on partitioned tables: this BaseRelation
    * surfaces partition columns at the END of the schema (the
    * HadoopFsRelation `dataSchema ++ partitionSchema` contract — the
    * same order Spark's own catalog normalization produces for
    * `PARTITIONED BY` v1 tables); the DataFrame faces
    * ([[SnapshotFileIndex.readAsOfTable]], [[SnapshotStore.readAsOf]])
    * project back to the writing frame's logical column order. */
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val dir = pathOf(parameters)
    require(!(parameters.contains("version") &&
      parameters.contains("timestampAsOf")),
      "pass either version or timestampAsOf, not both")
    val version = parameters.get("version").map(_.trim.toLong)
      .orElse(parameters.get("timestampAsOf").map(t =>
        SnapshotStore.versionAtTimestamp(spark, dir, t.trim.toLong)))
      .orElse(SnapshotStore.latestVersion(spark, dir))
      .getOrElse(sys.error(s"no committed version at $dir"))
    // dvApplied = false: a bare BaseRelation cannot carry the deletion-
    // vector anti-join — SnapshotDvReadRule (post-hoc, GraftExtensions)
    // overlays it on every analyzed read of this relation.
    // A parquet-checkpointed version resolves LAZILY (round 20): the
    // relation rides the commit header and a selective read prunes
    // through the DISTRIBUTED checkpoint scan — the driver never
    // materializes the full file list.
    SnapshotFileIndex.lazyHadoopRelationOf(spark, dir, version,
        dvApplied = false).map(_._1).getOrElse {
      val m = SnapshotStore.manifest(spark, dir, version)
      require(m.files.nonEmpty, s"version $version holds no data files")
      SnapshotFileIndex.hadoopRelationOf(spark, dir, m, dvApplied = false)._1
    }
  }

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val spark = sqlContext.sparkSession
    val dir = pathOf(parameters)
    val s = schema.getOrElse {
      val v = SnapshotStore.latestVersion(spark, dir).getOrElse(
        sys.error(s"streaming from $dir needs a committed version " +
          "or an explicit schema"))
      schemaOf(spark, dir, v)
    }
    val out =
      if (!cdfRequested(parameters) ||
          s.fieldNames.contains("_change_type")) s
      else StructType(s.fields :+ StructField("_change_type", StringType))
    (shortName(), out)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val dir = pathOf(parameters)
    val s = sourceSchema(sqlContext, schema, providerName, parameters)._2
    require(!(parameters.contains("startingVersion") &&
      parameters.contains("startingTimestamp")),
      "pass either startingVersion or startingTimestamp, not both")
    val startingVersion = parameters.get("startingVersion")
      .map(_.trim.toLong)
      .orElse(parameters.get("startingTimestamp").map { t =>
        // "changes at or after this instant": the version committed AT
        // the instant starts the stream; otherwise the NEXT commit does.
        // ONLY the typed "instant precedes all retained history" refusal
        // maps to from-the-beginning — any genuine error must rethrow,
        // never silently replay the full history (duplicate delivery to
        // a consumer asking "after T").
        val ms = t.trim.toLong
        try {
          val v = SnapshotStore.versionAtTimestamp(spark, dir, ms)
          if (SnapshotStore.commitInfo(spark, dir, v)._2 >= ms) v else v + 1
        } catch { case _: SnapshotStore.NoRetainedVersionAtTimestamp => 1L }
      })
      .getOrElse(1L)
    val maxVersionsPerTrigger = parameters.get("maxVersionsPerTrigger")
      .map(_.trim.toLong)
    val maxBytesPerTrigger = parameters.get("maxBytesPerTrigger")
      .map(_.trim.toLong)
    if (cdfRequested(parameters)) {
      // explicit option wins; else the table's own `graft.cdfKeys`
      // declaration (round 19 — the same keys SQL table_changes uses)
      val idCols = idColsOf(parameters) match {
        case Seq() => SnapshotStore.latestVersion(spark, dir)
          .flatMap(v => SnapshotStore.declaredCdfKeys(spark, dir, v))
          .getOrElse(Seq.empty)
        case explicit => explicit
      }
      require(idCols.nonEmpty,
        "readChangeFeed needs key columns — pass idCols, or declare " +
          "them once with TBLPROPERTIES ('graft.cdfKeys' = '<col,...>')")
      new SnapshotCdfStreamSource(spark, dir, s, startingVersion,
        maxVersionsPerTrigger, idCols, maxBytesPerTrigger)
    } else new SnapshotStreamSource(spark, dir, s, startingVersion,
      maxVersionsPerTrigger, maxBytesPerTrigger)
  }
}

/** The registered streaming SINK: one atomic `ingest-b<batchId>` commit
  * per micro-batch, replay-guarded against at-least-once redelivery
  * (single-writer-per-checkpoint contract, like every ingest path).
  * Empty upsert batches commit nothing (the merge no-op), so their
  * redelivery is naturally idempotent. */
object SnapshotSource {
  /** Typed refusal of a mid-stream column TYPE change (round 19): the
    * streaming source pins its schema at stream start; an `ALTER COLUMN
    * TYPE` widening afterwards cannot be silently down-cast into the
    * pinned narrower type. Restarting the stream re-pins at the widened
    * schema and resumes from the checkpointed offsets. Catch THIS (not
    * a raw analysis/shape error) to automate the restart. */
  final class StreamSchemaChangedException(msg: String)
      extends RuntimeException(msg)
}

final class SnapshotSink(spark: SparkSession, dir: String,
                         mergeKeys: Seq[String],
                         partitionBy: Seq[String],
                         bloomCols: Seq[String]) extends Sink {

  // max committed ingest batch id, loaded once (O(1 + pointer lag) off
  // the checkpoint pointer); batch ids are monotonic per checkpoint
  private var maxCommitted: Long =
    SnapshotStore.maxIngestBatchId(spark, dir).getOrElse(-1L)

  override def addBatch(batchId: Long, data: DataFrame): Unit = synchronized {
    if (batchId <= maxCommitted) return // redelivered: already committed
    val batch = org.apache.spark.sql.graft.StreamingBridge.asBatch(data)
    val op = f"ingest-b$batchId"
    if (mergeKeys.nonEmpty)
      // a table-CREATING first batch fixes the declared layout here too
      // (merge's empty-table path is a plain commit) — a CDC-mirror
      // stream must not silently freeze an unpartitioned, bloom-less
      // layout just because it upserts
      SnapshotStore.merge(spark, dir, batch, mergeKeys,
        reclaimGraceMs = 0L, operation = op,
        partitionBy = partitionBy, bloomCols = bloomCols)
    else if (SnapshotStore.latestVersion(spark, dir).isEmpty)
      // table-creating batch fixes the declared layout
      SnapshotStore.commit(spark, dir, batch, op,
        reclaimGraceMs = 0L, partitionBy = partitionBy,
        bloomCols = bloomCols)
    else SnapshotStore.commitAppend(spark, dir, batch, op,
      reclaimGraceMs = 0L)
    maxCommitted = math.max(maxCommitted, batchId)
  }

  override def toString: String = s"SnapshotSink[$dir]"
}

/** Shared offset mechanics of the manifest-log streaming sources:
  * offset N = "everything up to and including version N has been
  * delivered". `getOffset` advances to the latest committed version
  * (bounded by `maxVersionsPerTrigger`) — O(1 + pointer lag) driver
  * work per trigger through the store's checkpoint pointer. */
sealed abstract class SnapshotStreamSourceBase(
    spark: SparkSession, dir: String,
    startingVersion: Long,
    maxVersionsPerTrigger: Option[Long],
    maxBytesPerTrigger: Option[Long] = None) extends Source {

  require(startingVersion >= 1, "startingVersion must be >= 1")
  require(maxBytesPerTrigger.forall(_ >= 1L),
    "maxBytesPerTrigger must be >= 1")
  // versions before startingVersion count as already delivered
  protected val floor: Long = startingVersion - 1

  protected def value(o: OffsetV1): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => s.json.trim.toLong
    case other => sys.error(s"unexpected offset $other")
  }

  @volatile protected var lastEnd: Long = floor

  /** `maxBytesPerTrigger` (round 19 — the Delta knob): bound each
    * micro-batch by the RECORDED bytes of the versions it folds, so a
    * huge backfill commit doesn't pair with ten more in one batch. The
    * first pending version always delivers whatever its size (progress
    * never stalls — the Delta contract); rewrite commits count zero
    * (the feed delivers nothing for them); manifest entries without
    * recorded sizes count zero (the cap degrades toward version
    * counting, never an error). Costs one small header/delta read per
    * CONSIDERED version per trigger — O(batch), the same class as the
    * delivery itself. */
  private def byteCapped(from: Long, hi: Long, budget: Long): Long = {
    var v = from
    var spent = 0L
    var done = false
    while (!done && v < hi) {
      val add = SnapshotStore.versionAddedBytes(spark, dir, v + 1)
      if (v > from && spent + add > budget) done = true
      else { v += 1; spent += add }
    }
    math.max(v, from + 1) // at least one version when any is pending
  }

  override def getOffset: Option[OffsetV1] =
    SnapshotStore.latestVersion(spark, dir).flatMap { latest =>
      val vCapped = maxVersionsPerTrigger
        .map(m => math.min(latest, lastEnd + m)).getOrElse(latest)
      val capped = maxBytesPerTrigger match {
        case Some(b) if vCapped > lastEnd && lastEnd >= floor =>
          math.min(vCapped, byteCapped(math.max(lastEnd, floor), vCapped, b))
        case _ => vCapped
      }
      if (capped <= floor) None
      else { lastEnd = math.max(lastEnd, capped); Some(LongOffset(capped)) }
    }

  /** pin a batch to the schema declared at stream start: columns added
    * by mid-stream schema evolution surface after a consumer restart
    * (the Delta streaming contract), never as a batch shape change; a
    * batch predating an evolved column null-fills it. A mid-stream TYPE
    * change (round 19 — `ALTER COLUMN TYPE` widening) refuses TYPED:
    * silently casting down to the pinned narrower type could truncate
    * post-widening values, and surfacing a raw batch-shape mismatch
    * tells the operator nothing — the refusal names the column and the
    * remedy (restart the stream, which re-pins at the current schema;
    * the checkpointed offsets carry, so no data is lost or re-read). */
  protected def pinned(batch: DataFrame, schema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val have = batch.schema.fields.map(f => f.name -> f.dataType).toMap
    val out = batch.select(schema.fields.toSeq.map { f =>
      have.get(f.name) match {
        case Some(dt) if dt.catalogString != f.dataType.catalogString =>
          throw new SnapshotSource.StreamSchemaChangedException(
            s"column ${f.name} is ${dt.catalogString} in the table but " +
              s"this stream pinned ${f.dataType.catalogString} at start — " +
              "the table's schema was widened mid-stream (ALTER COLUMN " +
              "TYPE). Restart the stream to adopt the widened schema: the " +
              "restart re-pins at the current table schema and resumes " +
              "from the checkpointed offset, so nothing is lost or " +
              "re-delivered. (Additive new columns never require this — " +
              "they surface after a restart and null-fill before it.)")
        case Some(_) => col(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
    org.apache.spark.sql.graft.StreamingBridge.asStreaming(out)
  }

  override def stop(): Unit = ()
}

/** The file-grain streaming source: `getBatch(from, to)` is the ADD
  * feed over `(from, to]` — the files those commits added, rewrite
  * commits excluded; batch cost is the added files only. */
final class SnapshotStreamSource(spark: SparkSession, dir: String,
                                 override val schema: StructType,
                                 startingVersion: Long,
                                 maxVersionsPerTrigger: Option[Long],
                                 maxBytesPerTrigger: Option[Long] = None)
    extends SnapshotStreamSourceBase(spark, dir, startingVersion,
      maxVersionsPerTrigger, maxBytesPerTrigger) {

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val from = math.max(floor, start.map(value).getOrElse(floor))
    val to = value(end)
    // recovery replays the pending batch through getBatch before any
    // getOffset call — learn the restored high-water mark here so a
    // maxVersionsPerTrigger cap can never regress below the checkpoint
    lastEnd = math.max(lastEnd, to)
    val batch =
      if (to <= from) SnapshotStore.readAsOf(spark, dir, to).limit(0)
      else SnapshotStore.readChangesSince(spark, dir, from, to)
    pinned(batch, schema)
  }
}

/** The ROW-GRAIN streaming change feed (round 15): each micro-batch is
  * [[SnapshotStore.readRowChanges]] over `(from, to]` — the Delta CDF
  * vocabulary (`insert` / `delete` / `update_preimage` /
  * `update_postimage` in `_change_type`), derived from the two snapshot
  * reads at the batch's version boundaries, so it is correct across ANY
  * operation mix (merges, deletes, full replaces, compactions). The
  * initial batch (nothing delivered yet, `from < 1`) is the starting
  * snapshot delivered wholesale as `insert` rows — the Delta
  * `startingVersion` contract. Keys must be unique per version (the
  * [[SnapshotStore.merge]] invariant). */
final class SnapshotCdfStreamSource(spark: SparkSession, dir: String,
                                    override val schema: StructType,
                                    startingVersion: Long,
                                    maxVersionsPerTrigger: Option[Long],
                                    idCols: Seq[String],
                                    maxBytesPerTrigger: Option[Long] = None)
    extends SnapshotStreamSourceBase(spark, dir, startingVersion,
      maxVersionsPerTrigger, maxBytesPerTrigger) {

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val from = math.max(floor, start.map(value).getOrElse(floor))
    val to = value(end)
    lastEnd = math.max(lastEnd, to)
    val batch =
      if (to <= from)
        SnapshotStore.readAsOf(spark, dir, to).limit(0)
          .withColumn("_change_type", lit(null).cast(StringType))
      else if (from < 1)
        // nothing delivered yet: the starting snapshot IS the insert set
        SnapshotStore.readAsOf(spark, dir, to)
          .withColumn("_change_type", lit("insert"))
      else SnapshotStore.readRowChanges(spark, dir, from, to, idCols)
    pinned(batch, schema)
  }
}
