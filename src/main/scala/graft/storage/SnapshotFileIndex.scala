package graft.storage

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, BoundReference, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In => CIn, InSet => CInSet, IsNotNull => CIsNotNull, IsNull => CIsNull, LessThan, LessThanOrEqual, Literal, Or => COr, Predicate => CPredicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The snapshot store's one read path — every read of a manifest's data
  * files, partitioned or not, whole version or file subset, is a relation
  * over this index. The Delta `TahoeFileIndex` shape: a custom
  * [[FileIndex]] whose `listFiles` receives the query's OWN pushed-down
  * filters from `FileSourceScanExec` and prunes the manifest's file list
  * BEFORE any split is planned, in two tiers:
  *
  *  1. PARTITION pruning — for a partitioned table the index re-derives
  *     each file's partition values from its hive `col=value` path
  *     segments (the manifest records the partition COLUMNS; the path is
  *     the value authority, exactly hive's contract), groups the listing
  *     by partition, and evaluates Catalyst's partition filters against
  *     each partition row. A `WHERE date = …` on a date-partitioned
  *     100 TB table cuts the listing to one partition with ZERO stats
  *     consulted and zero data I/O — partition columns never occupy
  *     bytes in the data files at all.
  *  2. STATS pruning — surviving files are then pruned against the
  *     per-file min/max/null-count stats via the conservative
  *     data-filter translation below.
  *
  * The payoff over [[SnapshotStore.readAsOfWhere]]: a plain
  * `readAsOfTable(...).filter($"x" > 5)` — or the same predicate
  * arriving through SQL — skips partitions and files with NO explicit
  * [[SnapshotStore.FilePredicate]] plumbing, while Spark's standard
  * parquet path keeps predicate pushdown (row groups), column pruning,
  * and whole-stage codegen: the plan is an ordinary `FileScan parquet`
  * whose input files happen to be the surviving subset.
  *
  * Filter translation is CONSERVATIVE: comparison atoms over bare
  * attributes and foldable literals translate; anything else keeps
  * every file. An AND may translate any subset of its conjuncts
  * (pruning on fewer conjuncts only keeps more files); an OR translates
  * only if BOTH arms do. Spark re-applies the full predicate on the
  * rows, so translation gaps cost I/O, never correctness.
  *
  * Scale shape: one driver-side pass over the listed manifest entries
  * per query (the same cost class as Delta's log-backed index); file
  * sizes come from the manifest's commit-time records, which every
  * listed file carries — no DataSource resolution, existence check or
  * per-file filesystem RPC, so building a read runs no Spark job and a
  * vacuumed file fails when the scan opens it. `sizeInBytes` is the
  * listed files' recorded bytes, the estimate an analyzed plan over the
  * index reports. */
class SnapshotFileIndex(spark: SparkSession, dir: String,
                        m0: => SnapshotStore.Manifest,
                        subset: Option[Seq[String]] = None,
                        val dvApplied: Boolean = true)
    extends FileIndex {

  /** The backing manifest, reconstructed LAZILY (round 20): the
    * checkpoint-backed subclass ([[SnapshotCheckpointFileIndex]])
    * answers `listFiles` through the distributed prune without ever
    * forcing this — the full driver-side file list materializes only
    * on the fallback paths. */
  protected lazy val m: SnapshotStore.Manifest = m0

  /** the table directory — the DML front door resolves its target here */
  def tableDir: String = dir

  /** the backing manifest — [[SnapshotDvReadRule]] consults its deletion
    * vectors; `dvApplied = false` marks the ONE face (the SQL catalog's
    * bare BaseRelation) whose vectors a post-hoc rule must still apply */
  private[graft] def manifestOf: SnapshotStore.Manifest = m

  /** header-grain accessors the post-hoc read overlay consults — the
    * lazy subclass serves them from the commit HEADER (one small read),
    * never the reconstructed state */
  private[graft] def dvRefs: Map[String, SnapshotStore.DvRef] = m.dvs
  private[graft] def logicalSchema: StructType = m.schema

  private lazy val candidateFiles: Seq[String] =
    subset.map(_.distinct).getOrElse(m.files)

  private lazy val statuses: Seq[(String, FileStatus)] =
    candidateFiles.map(f => f -> SnapshotFileIndex.statusOf(m, f))

  /** files surfaced by the most recent `listFiles` — lets specs assert
    * the pruning that actually reached the scan */
  @volatile var lastListedCount: Int = -1
  /** files cut by PARTITION pruning alone in the most recent `listFiles`
    * (before any stats were consulted) */
  @volatile var lastPartitionPruned: Int = -1
  /** files cut by stats pruning in the most recent `listFiles` */
  @volatile var lastStatsPruned: Int = -1

  override def rootPaths: Seq[Path] = Seq(new Path(dir))

  override lazy val partitionSchema: StructType =
    SnapshotFileIndex.partitionSchemaOf(m)

  /** one partition row per distinct partition-value tuple, with the raw
    * hive strings cast to the manifest schema's column types */
  private lazy val partitionRows: Map[Seq[String], InternalRow] = {
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    filesByPartition.keys.map { raws =>
      val vals = partitionSchema.fields.zip(raws).map { case (f, raw) =>
        if (raw == null) null
        else Cast(Literal(UTF8String.fromString(raw), StringType),
          f.dataType, Option(zone)).eval(null)
      }
      raws -> InternalRow.fromSeq(vals.toSeq)
    }.toMap
  }

  private lazy val filesByPartition
      : Map[Seq[String], Seq[(String, FileStatus)]] =
    if (m.partitionCols.isEmpty) Map(Seq.empty[String] -> statuses)
    else statuses.groupBy { case (f, _) =>
      val raw = SnapshotStore.partitionRawValues(f, m.partitionCols)
      m.partitionCols.map(raw(_))
    }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // tier 1: partition pruning — evaluate each partition filter against
    // the partition row (bound by name, the standard FileIndex contract)
    val keptParts =
      if (m.partitionCols.isEmpty || partitionFilters.isEmpty) filesByPartition
      else {
        val preds = partitionFilters.map { e =>
          val bound = e.transform { case a: AttributeReference =>
            val idx = partitionSchema.fieldNames
              .indexWhere(_.equalsIgnoreCase(a.name))
            require(idx >= 0, s"partition filter references ${a.name}, " +
              s"not a partition column of $dir")
            BoundReference(idx, partitionSchema(idx).dataType, nullable = true)
          }
          CPredicate.create(bound)
        }
        filesByPartition.filter { case (raws, _) =>
          val row = partitionRows(raws)
          preds.forall(_.eval(row))
        }
      }
    val afterPartition = keptParts.values.map(_.length).sum
    lastPartitionPruned = statuses.length - afterPartition
    // tier 2: stats pruning — every translated conjunct prunes
    // independently (AND semantics), through the shared two-phase path:
    // min/max first, then sidecar bloom bits loaded ONLY for the
    // min/max survivors that carry one on a probed column (round 19)
    val preds = dataFilters.flatMap(SnapshotFileIndex.fromCatalyst)
    val combined = preds.reduceOption(SnapshotStore.FilePredicate.And(_, _))
    val dirs = combined match {
      case None => keptParts.toSeq
      case Some(p) =>
        val partFiles = keptParts.values.flatten.map(_._1).toSeq
        val survive = SnapshotStore
          .pruneWithBlooms(spark, partFiles, m.stats.get, p).toSet
        keptParts.toSeq.map { case (raws, fs0) =>
          (raws, fs0.filter(kv => survive(kv._1)))
        }
    }
    val listed = dirs.map(_._2.length).sum
    lastStatsPruned = afterPartition - listed
    lastListedCount = listed
    if (m.partitionCols.isEmpty)
      Seq(PartitionDirectory(InternalRow.empty,
        dirs.flatMap(_._2.map(_._2)).toArray))
    else dirs.collect { case (raws, kept) if kept.nonEmpty =>
      PartitionDirectory(partitionRows(raws), kept.map(_._2).toArray)
    }
  }

  override def inputFiles: Array[String] = candidateFiles.toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = statuses.map(_._2.getLen).sum
}

/** CHECKPOINT-BACKED lazy index (round 20 — the SQL face of the
  * round-19 distributed pruning path): when a parquet checkpoint
  * serves the queried version, the relation resolves from the commit
  * HEADER alone (schema, layout, dv map — one small read) and
  * `listFiles` answers a filtered scan through
  * [[SnapshotStore.distributedPruneState]]: the per-file entries are
  * evaluated INSIDE a distributed checkpoint scan and only the
  * SURVIVORS materialize on the driver — a selective SQL read of an
  * 800k-file table never builds the 800k-entry list. The inherited
  * driver-resident path serves only the fallbacks (no translatable
  * filter — every file must list anyway — or a torn checkpoint).
  * Unpartitioned tables only (the builder falls back otherwise:
  * partition pruning derives values from path segments, which the
  * driver-resident tier already cuts before stats).
  *
  * `sizeInBytes` rides the checkpoint header's recorded total (plus
  * the tail adds) — forcing the statuses of every listed file for a
  * planning hint would defeat the laziness. */
final class SnapshotCheckpointFileIndex(
    spark: SparkSession, dir: String, val versionOf: Long,
    hdr: SnapshotStore.HeaderInfo, sizeHint: Long,
    dvApplied0: Boolean)
    extends SnapshotFileIndex(spark, dir,
      SnapshotStore.manifest(spark, dir, versionOf), None, dvApplied0) {

  override lazy val partitionSchema: StructType = new StructType()
  override private[graft] def dvRefs: Map[String, SnapshotStore.DvRef] =
    hdr.dvs
  override private[graft] def logicalSchema: StructType = hdr.schema
  override def sizeInBytes: Long = sizeHint

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val pred = dataFilters.flatMap(SnapshotFileIndex.fromCatalyst)
      .reduceOption(SnapshotStore.FilePredicate.And(_, _))
    pred.flatMap(p =>
      SnapshotStore.distributedPruneState(spark, dir, versionOf, p)) match {
      case Some((mSurv, keep)) =>
        val kept = keep.map(SnapshotFileIndex.statusOf(mSurv, _))
        lastPartitionPruned = 0
        lastStatsPruned =
          (SnapshotStore.lastDistributedPrune._1 - kept.length).toInt
        lastListedCount = kept.length
        Seq(PartitionDirectory(InternalRow.empty, kept.toArray))
      case None => super.listFiles(partitionFilters, dataFilters)
    }
  }
}

object SnapshotFileIndex {

  import SnapshotStore.FilePredicate
  import SnapshotStore.FilePredicate._

  /** A listed file's status from its manifest-recorded size — no
    * filesystem RPC (the ~800k-file case). mtime 0 is safe: snapshot
    * data files are immutable and an index is built fresh per read (no
    * FileStatusCache keying). */
  private[storage] def statusOf(m: SnapshotStore.Manifest, f: String): FileStatus =
    new FileStatus(m.stats(f).bytes, false, 1, 128L * 1024 * 1024, 0L,
      new Path(f))

  /** partition columns (in `partitionCols` order) typed from the
    * manifest schema */
  private[storage] def partitionSchemaOf(m: SnapshotStore.Manifest): StructType =
    StructType(m.partitionCols.map(c =>
      m.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(sys.error(
        s"partition column $c is not in the manifest schema"))))

  /** the non-partition columns, in manifest-schema order */
  private[storage] def dataSchemaOf(m: SnapshotStore.Manifest,
                                    full: StructType): StructType =
    if (m.partitionCols.isEmpty) full
    else StructType(full.fields.filterNot(f =>
      m.partitionCols.exists(_.equalsIgnoreCase(f.name))))

  private def litValue(l: Literal): Option[Any] = Option(l.value).map {
    case u: UTF8String => u.toString
    case d: org.apache.spark.sql.types.Decimal =>
      d.toJavaBigDecimal // exact-comparison form (round-16 decimal stats)
    case other => other // Int/Long/Short/Byte/Float/Double/Boolean,
                        // date epoch-days (Int), timestamp micros (Long)
  } match {
    case Some(n: java.lang.Float) => Some(n.doubleValue())
    case other => other
  }

  /** Conservative Catalyst → [[FilePredicate]] translation (None =
    * cannot prune on this expression; correctness never depends on it). */
  private[storage] def fromCatalyst(e: Expression): Option[FilePredicate] = e match {
    case EqualTo(a: AttributeReference, l: Literal) =>
      litValue(l).map(EqTo(a.name, _))
    case EqualTo(l: Literal, a: AttributeReference) =>
      litValue(l).map(EqTo(a.name, _))
    case GreaterThan(a: AttributeReference, l: Literal) =>
      litValue(l).map(Gt(a.name, _))
    case GreaterThan(l: Literal, a: AttributeReference) =>
      litValue(l).map(Lt(a.name, _))
    case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
      litValue(l).map(GtEq(a.name, _))
    case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
      litValue(l).map(LtEq(a.name, _))
    case LessThan(a: AttributeReference, l: Literal) =>
      litValue(l).map(Lt(a.name, _))
    case LessThan(l: Literal, a: AttributeReference) =>
      litValue(l).map(Gt(a.name, _))
    case LessThanOrEqual(a: AttributeReference, l: Literal) =>
      litValue(l).map(LtEq(a.name, _))
    case LessThanOrEqual(l: Literal, a: AttributeReference) =>
      litValue(l).map(GtEq(a.name, _))
    case CIsNull(a: AttributeReference) => Some(IsNull(a.name))
    case CIsNotNull(a: AttributeReference) => Some(IsNotNull(a.name))
    // bounded IN lists — each candidate probes min/max AND the declared
    // bloom (the point-lookup pruning blooms exist for); unbounded lists
    // keep every file (conservative)
    case CIn(a: AttributeReference, list)
        if list.nonEmpty && list.length <= 32 &&
          list.forall(_.isInstanceOf[Literal]) =>
      val vs = list.map(l => litValue(l.asInstanceOf[Literal]))
      if (vs.forall(_.isDefined)) Some(InSet(a.name, vs.map(_.get)))
      else None
    case CInSet(a: AttributeReference, hset)
        if hset.nonEmpty && hset.size <= 32 =>
      // InSet holds INTERNAL values (the optimizer's large-list form)
      val vs = hset.toSeq.map {
        case u: UTF8String => u.toString
        case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
        case n: java.lang.Float => n.doubleValue(): Any
        case other => other
      }
      if (vs.forall(_ != null)) Some(InSet(a.name, vs)) else None
    case CAnd(x, y) =>
      (fromCatalyst(x), fromCatalyst(y)) match {
        case (Some(px), Some(py)) => Some(And(px, py))
        case (px, py) => px.orElse(py) // subset of conjuncts: conservative
      }
    case COr(x, y) =>
      for (px <- fromCatalyst(x); py <- fromCatalyst(y)) yield Or(px, py)
    case _ => None
  }

  /** Time-travel read through the Catalyst-integrated index: an
    * ordinary parquet `DataFrame` whose scan lists only the files of
    * `version` that survive the query's own pushed-down filters (and,
    * on a partitioned table, its partition filters). */
  def readAsOfTable(spark: SparkSession, dir: String,
                    version: Long): DataFrame = {
    val (df, _) = readAsOfTableWithIndex(spark, dir, version)
    df
  }

  /** [[readAsOfTable]] plus the index, for pruning assertions. Deletion
    * vectors apply as one broadcast anti-join OVER the index-backed scan
    * (pushdown and pruning untouched underneath). */
  def readAsOfTableWithIndex(spark: SparkSession, dir: String,
                             version: Long): (DataFrame, SnapshotFileIndex) = {
    val m = SnapshotStore.manifest(spark, dir, version)
    require(m.files.nonEmpty, s"version $version holds no data files")
    val (df, index) = relationOf(spark, dir, m, None)
    (SnapshotStore.applyDvOverlay(spark, m, df), index)
  }

  /** An index-backed read of a FILE SUBSET of one manifest — every
    * snapshot read's relation: whole versions, change-feed ranges and
    * the copy-on-write rewrites' touched files. `files` list in the given
    * order (duplicates once); each must carry stats in `m`. On a
    * partitioned table the partition values ride the index, so the
    * rewritten rows keep their partition columns. */
  private[storage] def readFilesOf(spark: SparkSession, dir: String,
                                   m: SnapshotStore.Manifest,
                                   files: Seq[String]): DataFrame =
    relationOf(spark, dir, m, Some(files))._1

  /** the index-backed `HadoopFsRelation` of one manifest (optionally a
    * file subset) — also the registered source's batch relation.
    * `dvApplied = false` marks a relation whose deletion vectors /
    * column mapping are NOT yet applied (the bare SQL catalog face) so
    * [[SnapshotDvReadRule]] overlays them post-resolution; that facade
    * surfaces LOGICAL names (metadata stripped) so the session
    * catalog's stored schema matches it — it never executes (the rule
    * always swaps it when a mapping or vectors exist). The EXECUTING
    * relation's dataSchema spells the PHYSICAL names the parquet files
    * carry; [[relationOf]] aliases back to logical above it. */
  private[storage] def hadoopRelationOf(spark: SparkSession, dir: String,
                                        m: SnapshotStore.Manifest,
                                        subset: Option[Seq[String]] = None,
                                        dvApplied: Boolean = true)
      : (HadoopFsRelation, SnapshotFileIndex) = {
    val index = new SnapshotFileIndex(spark, dir, m, subset, dvApplied)
    val data = dataSchemaOf(m, m.schema)
    val dataSchema =
      if (dvApplied) SnapshotStore.toPhysicalSchema(data)
      else StructType(data.fields.map(f => f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .remove(SnapshotStore.PhysicalNameKey).build())))
    (HadoopFsRelation(index, index.partitionSchema,
      dataSchema, None, new ParquetFileFormat(), Map.empty)(spark),
      index)
  }

  /** Build the SQL relation LAZILY over a [[SnapshotCheckpointFileIndex]]
    * (round 20): None when the version has no parquet-checkpoint base,
    * is partitioned, or the checkpoint is SMALL
    * ([[SnapshotStore.LazyRelationMinEntries]] — below it, driver-side
    * materialization beats a distributed metadata job per filtered
    * read at any deployment scale) — the caller uses the
    * driver-resident relation (same answers). */
  private[graft] def lazyHadoopRelationOf(spark: SparkSession, dir: String,
                                          version: Long, dvApplied: Boolean)
      : Option[(HadoopFsRelation, SnapshotCheckpointFileIndex)] = {
    val hdr =
      try SnapshotStore.headerInfoOf(spark, dir, version)
      catch { case scala.util.control.NonFatal(_) => return None }
    if (hdr.partitionCols.nonEmpty) return None
    val schema = hdr.schema
    SnapshotStore.parquetCheckpointInfo(spark, dir, version)
      .filter(_._1 >= SnapshotStore.LazyRelationMinEntries)
      .map { case (_, bytesHint) =>
      val index = new SnapshotCheckpointFileIndex(spark, dir, version, hdr,
        bytesHint, dvApplied)
      val dataSchema =
        if (dvApplied) SnapshotStore.toPhysicalSchema(schema)
        else StructType(schema.fields.map(f => f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .remove(SnapshotStore.PhysicalNameKey).build())))
      (HadoopFsRelation(index, index.partitionSchema, dataSchema, None,
        new ParquetFileFormat(), Map.empty)(spark), index)
    }
  }

  /** the deletion-vector-and-mapping-APPLIED lazy DataFrame — what the
    * post-hoc read overlay swaps in for a checkpoint-backed bare
    * relation; every overlay input rides the header */
  private[storage] def lazyAppliedRelationOf(spark: SparkSession,
                                             dir: String,
                                             version: Long): Option[DataFrame] = {
    val hdr =
      try SnapshotStore.headerInfoOf(spark, dir, version)
      catch { case scala.util.control.NonFatal(_) => return None }
    lazyHadoopRelationOf(spark, dir, version, dvApplied = true).map {
      case (rel, _) =>
        val df0 = spark.baseRelationToDataFrame(rel)
        val s = hdr.schema
        val df =
          if (SnapshotStore.physicalOf(s).isEmpty) df0
          else df0.select(s.fields.toSeq.map(f =>
            org.apache.spark.sql.functions
              .col(s"`${SnapshotStore.physicalName(f)}`").as(f.name)): _*)
        SnapshotStore.applyDvOverlayDvs(spark, hdr.dvs, df)
    }
  }

  private[storage] def relationOf(spark: SparkSession, dir: String,
                                  m: SnapshotStore.Manifest,
                                  subset: Option[Seq[String]])
      : (DataFrame, SnapshotFileIndex) = {
    val (relation, index) = hadoopRelationOf(spark, dir, m, subset)
    val df0 = spark.baseRelationToDataFrame(relation)
    // the relation surfaces partition columns LAST (dataSchema ++
    // partitionSchema — the HadoopFsRelation contract) and spells
    // PHYSICAL names; project back to the manifest's recorded LOGICAL
    // names and order so SELECT * and positional consumers see the
    // writing frame's shape (the Delta behavior). Filters still push
    // through the Project to the index's pruning (Catalyst rewrites
    // the aliased attributes into the child's). The SQL-registered
    // face (CREATE TABLE USING — a bare BaseRelation) cannot carry
    // this projection; the post-hoc rule rebuilds through here.
    val s = m.schema
    val df =
      if (SnapshotStore.physicalOf(s).isEmpty &&
          (m.partitionCols.isEmpty || df0.columns.toSeq == s.fieldNames.toSeq))
        df0
      else df0.select(s.fields.toSeq.map(f =>
        org.apache.spark.sql.functions
          .col(s"`${SnapshotStore.physicalName(f)}`").as(f.name)): _*)
    (df, index)
  }
}
