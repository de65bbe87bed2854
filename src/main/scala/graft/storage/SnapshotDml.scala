package graft.storage

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Alias, And => CAnd, Attribute, AttributeReference, Cast, EqualTo, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteFromTable, InsertAction, InsertIntoStatement, LogicalPlan, MergeIntoTable, Project, SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.{ColumnBridge, DatasetBridge}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, TimestampType}

/** SQL DML front door for `graft-snapshot` tables (round 15): makes
  *
  * {{{
  *   DELETE FROM snap WHERE doc_id BETWEEN 50 AND 120
  *   MERGE INTO snap t USING updates s ON t.doc_id = s.doc_id
  *     WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
  * }}}
  *
  * resolve over a table registered `USING graft-snapshot`, routing to
  * the store's copy-on-write [[SnapshotStore.deleteCondition]] /
  * [[SnapshotStore.merge]] — the read/write faces already spoke SQL
  * (`CREATE TABLE USING`), and mutation should too.
  *
  * Mechanics: Spark's parser + analyzer fully resolve `DeleteFromTable`
  * and `MergeIntoTable` even for a v1 relation (the "v2 tables only"
  * refusal fires at PLANNING, measured on 4.1) — so one injected
  * resolution rule ([[SnapshotDmlRule]], registered through
  * `GraftExtensions`) matches the RESOLVED command whose target is a
  * [[SnapshotFileIndex]]-backed relation and swaps in an eagerly-run
  * command. DELETE keeps the store's file-grain write-side skipping:
  * the resolved condition lowers to a [[SnapshotStore.FilePredicate]]
  * through the same conservative translation reads use, so provably
  * clean files are CARRIED, not rewritten. MERGE supports the canonical
  * upsert shape the store implements — unconditional `UPDATE SET *` +
  * `INSERT *` on an equality key — and refuses anything fancier loudly
  * (conditional/partial actions need a row-level-operation engine, not
  * a silent approximation).
  */
object SnapshotDmlRule extends Rule[LogicalPlan] {

  /** Refusals from inside an analyzer rule surface as
    * `AnalysisException` — parity with every native Spark refusal
    * around them (an unsupported MERGE shape is an analysis-time fact,
    * not a runtime fault). */
  private[storage] def analysisError(msg: String): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      msg, None, None, None, None, Map.empty[String, String],
      Array.empty[org.apache.spark.QueryContext])

  /** the snapshot table dir behind a resolved DML target, if any */
  private def snapshotDir(plan: LogicalPlan): Option[String] = plan match {
    case SubqueryAlias(_, child) => snapshotDir(child)
    case lr: LogicalRelation => lr.relation match {
      case h: HadoopFsRelation => h.location match {
        case idx: SnapshotFileIndex => Some(idx.tableDir)
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case CAnd(a, b) => conjuncts(a) ++ conjuncts(b)
    case x => Seq(x)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case d @ DeleteFromTable(target, cond)
        if target.resolved && cond.resolved =>
      snapshotDir(target)
        .map(dir => GraftDeleteCommand(dir, cond): LogicalPlan)
        .getOrElse(d)

    case m: MergeIntoTable if m.resolved =>
      snapshotDir(m.targetTable).map { dir =>
        convertMerge(dir, m): LogicalPlan
      }.getOrElse(m)

    case u @ UpdateTable(target, assignments, condition) if u.resolved =>
      snapshotDir(target).map { dir =>
        val assigns = assignments.map {
          case Assignment(a: AttributeReference, v) => a.name -> v
          case other => analysisError(
            s"graft-snapshot UPDATE supports column assignments only: $other")
        }
        GraftUpdateCommand(dir, assigns, condition): LogicalPlan
      }.getOrElse(u)

    // SQL INSERT INTO / INSERT OVERWRITE (round 16) — the most common
    // SQL write, routed through the atomic manifest protocol
    // (commitAppend / full-snapshot commit) instead of Spark's
    // InsertIntoHadoopFsRelationCommand, which would write parquet
    // under the table root with NO manifest commit (files invisible to
    // every reader — worse, later vacuumed as orphans)
    case i @ InsertIntoStatement(target, partitionSpec, userCols, query,
                                 overwrite, ifPartitionNotExists, byName)
        if target.resolved && query.resolved =>
      snapshotDir(target).map { dir =>
        convertInsert(dir, target.output, partitionSpec, userCols, query,
          overwrite, ifPartitionNotExists, byName): LogicalPlan
      }.getOrElse(i)

  }

  /** resolve a catalog identifier to its graft-snapshot dir — shared by
    * the parser hook's time travel and the `table_changes` TVF; a temp
    * view SHADOWS a same-named catalog table (never resolve past it) */
  private[storage] def snapshotDirOfParts(spark: SparkSession,
                                          nameParts: Seq[String]): Option[String] = {
    if (spark.sessionState.catalog.isTempView(nameParts)) return None
    val ident = nameParts match {
      case Seq(t) => TableIdentifier(t)
      case Seq(db, t) => TableIdentifier(t, Some(db))
      case Seq(cat, db, t) if cat.equalsIgnoreCase("spark_catalog") =>
        TableIdentifier(t, Some(db))
      case _ => return None
    }
    try {
      val meta = spark.sessionState.catalog.getTableMetadata(ident)
      if (meta.provider.exists(_.equalsIgnoreCase("graft-snapshot")))
        meta.storage.properties.get("path")
          .orElse(meta.storage.locationUri.map(_.toString))
      else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** SQL `SELECT ... FROM table_changes('t' | 'path', from [, to])`
    * (round 19 — the Delta CDF table-valued function): intercepted at
    * the PARSER's plan rewrite (like SQL time travel — the analyzer's
    * function resolution would refuse the unknown TVF name before any
    * injected resolution rule runs) and swapped for the row-grain
    * change feed's analyzed plan. Keys come from the table's own
    * `graft.cdfKeys` declaration — a pure-SQL consumer subscribes with
    * no API plumbing. */
  private[storage] def resolveTableChanges(spark: SparkSession,
                                           args: Seq[Expression]): LogicalPlan = {
    if (args.size < 2 || args.size > 3) analysisError(
      "table_changes takes (table | 'path', fromVersion [, toVersion])")
    def strArg(e: Expression, what: String): String = e match {
      case Literal(u: org.apache.spark.unsafe.types.UTF8String, StringType) =>
        u.toString
      case _ => analysisError(
        s"table_changes: $what must be a string literal, got $e")
    }
    val target = strArg(args(0), "the first argument")
    // the table name parses as a real multi-part identifier (round 20):
    // per-part backtick quoting (`db`.`t`, names with dots) resolves
    // through Spark's own identifier grammar, never a naive dot split;
    // a string that doesn't parse as an identifier (a path) falls
    // through to the path branch
    val nameParts: Seq[String] =
      try spark.sessionState.sqlParser.parseMultipartIdentifier(target)
      catch { case scala.util.control.NonFatal(_) => Seq.empty }
    val dir = (if (nameParts.nonEmpty) snapshotDirOfParts(spark, nameParts)
               else None)
      .orElse(if (target.contains("/")) Some(target) else None)
      .getOrElse(analysisError(
        s"table_changes: $target is neither a registered graft-snapshot " +
          "table nor a table path"))
    // a boundary is an integral VERSION or a timestamp STRING
    // ('yyyy-MM-dd[ HH:mm:ss]'), resolving to the version committed at
    // or before the instant — the readAsOfTimestamp contract
    def verArg(e: Expression, what: String): Long = e match {
      case Literal(v, IntegerType) => v.asInstanceOf[Int].toLong
      case Literal(v, LongType) => v.asInstanceOf[Long]
      case Literal(u: org.apache.spark.unsafe.types.UTF8String, StringType) =>
        val s = u.toString.trim
        val ms = try {
          if (s.matches("\\d{4}-\\d{2}-\\d{2}"))
            java.sql.Date.valueOf(s).getTime
          else java.sql.Timestamp.valueOf(s).getTime
        } catch { case _: IllegalArgumentException => analysisError(
          s"table_changes: $what must be an integral version or a " +
            s"'yyyy-MM-dd[ HH:mm:ss]' timestamp, got '$s'")
        }
        try SnapshotStore.versionAtTimestamp(spark, dir, ms)
        catch { case ex: SnapshotStore.NoRetainedVersionAtTimestamp =>
          analysisError(s"table_changes: $what '$s' precedes every " +
            s"retained commit at $dir — ${ex.getMessage}")
        }
      case _ => analysisError(
        s"table_changes: $what must be an integral version literal or a " +
          s"timestamp string, got $e")
    }
    val from = verArg(args(1), "fromVersion")
    val to = if (args.size == 3) Some(verArg(args(2), "toVersion")) else None
    SnapshotStore.readTableChanges(spark, dir, from, to)
      .queryExecution.analyzed
  }

  /** Align the query to the target's columns (the v1
    * `PreprocessTableInsertion` contract, done here because the command
    * swap preempts it): positional by default, name-resolved under
    * `BY NAME`, and an explicit column list fills unnamed target columns
    * with NULL. Every output casts to the committed column type. The
    * committed hive partition layout routes rows automatically — a
    * `PARTITION (...)` clause refuses (static-partition semantics would
    * silently override row values). */
  private def convertInsert(dir: String, targetCols: Seq[Attribute],
                            partitionSpec: Map[String, Option[String]],
                            userCols: Seq[String], query: LogicalPlan,
                            overwrite: Boolean, ifPartitionNotExists: Boolean,
                            byName: Boolean): GraftInsertCommand = {
    if (partitionSpec.nonEmpty) analysisError(
      "graft-snapshot INSERT does not take a PARTITION clause — rows " +
        "route to the committed hive layout automatically")
    if (ifPartitionNotExists) analysisError(
      "IF NOT EXISTS partitions are not supported on graft-snapshot tables")
    def same(a: String, b: String): Boolean =
      if (conf.caseSensitiveAnalysis) a == b else a.equalsIgnoreCase(b)
    val src = query.output
    val picked: Seq[Expression] =
      if (byName) {
        if (src.length != targetCols.length) analysisError(
          s"INSERT BY NAME needs exactly the table's ${targetCols.length} " +
            s"columns; the query produces ${src.length}")
        targetCols.map(t => src.find(q => same(q.name, t.name)).getOrElse(
          analysisError(s"INSERT BY NAME: the query lacks column ${t.name}")))
      } else if (userCols.nonEmpty) {
        if (userCols.length != src.length) analysisError(
          s"INSERT column list names ${userCols.length} columns but the " +
            s"query produces ${src.length}")
        userCols.foreach(c => if (!targetCols.exists(t => same(t.name, c)))
          analysisError(s"INSERT column list names unknown column $c"))
        // a duplicate name would silently drop all but the first value
        // (indexWhere picks the first occurrence) — refuse like Spark
        userCols.zipWithIndex.foreach { case (c, i) =>
          if (userCols.indexWhere(same(_, c)) != i) analysisError(
            s"INSERT column list names column $c more than once")
        }
        targetCols.map { t =>
          userCols.indexWhere(same(_, t.name)) match {
            case -1 => Literal.create(null, t.dataType)
            case idx => src(idx)
          }
        }
      } else {
        if (src.length != targetCols.length) analysisError(
          s"INSERT needs the table's ${targetCols.length} columns " +
            s"positionally; the query produces ${src.length}")
        src
      }
    val aligned = Project(targetCols.zip(picked).map { case (t, e) =>
      Alias(Cast(e, t.dataType), t.name)(): NamedExpression
    }, query)
    GraftInsertCommand(dir, aligned, overwrite)
  }

  private def convertMerge(dir: String, m: MergeIntoTable): GraftMergeCommand = {
    def refuse(what: String): Nothing = analysisError(
      s"graft-snapshot MERGE INTO supports exactly 'WHEN MATCHED THEN " +
        s"UPDATE SET *' + 'WHEN NOT MATCHED THEN INSERT *' on an equality " +
        s"key — $what")
    if (m.notMatchedBySourceActions.nonEmpty)
      refuse("WHEN NOT MATCHED BY SOURCE is not supported")
    val updateAssigns = m.matchedActions match {
      case Seq(UpdateAction(None, assigns, _)) => assigns
      case other => refuse(s"unsupported matched actions: $other")
    }
    val insertAssigns = m.notMatchedActions match {
      case Seq(InsertAction(None, assigns)) => assigns
      case other => refuse(s"unsupported not-matched actions: $other")
    }
    // both actions must build the SAME delta row (the star expansion
    // does): target column -> source-side expression
    val targetCols = m.targetTable.output
    def byTarget(assigns: Seq[Assignment]): Map[String, Expression] =
      assigns.map {
        case Assignment(a: AttributeReference, v) => a.name -> v
        case other => refuse(s"non-column assignment target: $other")
      }.toMap
    val upd = byTarget(updateAssigns)
    val ins = byTarget(insertAssigns)
    targetCols.foreach { c =>
      val (u, i) = (upd.get(c.name), ins.get(c.name))
      if (u.isEmpty || i.isEmpty)
        refuse(s"column ${c.name} lacks an assignment (SET * / INSERT * " +
          "cover every column)")
      if (!u.get.semanticEquals(i.get))
        refuse(s"column ${c.name} is assigned differently on the matched " +
          "and not-matched branches")
    }
    // merge keys: every ON conjunct must be target.col = <the same
    // expression the actions assign to that column> — then "same key"
    // in the store's merge means exactly what the ON clause says
    val targetAttrIds = targetCols.map(_.exprId).toSet
    val keys = conjuncts(m.mergeCondition).map {
      case EqualTo(a: AttributeReference, v) if targetAttrIds(a.exprId) =>
        if (!ins(a.name).semanticEquals(v))
          refuse(s"ON binds ${a.name} to an expression the actions do not " +
            "assign to it")
        a.name
      case EqualTo(v, a: AttributeReference) if targetAttrIds(a.exprId) =>
        if (!ins(a.name).semanticEquals(v))
          refuse(s"ON binds ${a.name} to an expression the actions do not " +
            "assign to it")
        a.name
      case other => refuse(s"non-equality ON conjunct: $other")
    }.distinct
    if (keys.isEmpty) refuse("no key equality in the ON clause")
    // the delta frame: the insert projection over the source, aliased to
    // the target's column names (and ordered like the target)
    val delta = Project(
      targetCols.map(c => Alias(ins(c.name), c.name)()), m.sourceTable)
    GraftMergeCommand(dir, delta, keys)
  }
}

/** Read overlay for the SQL catalog face (round 16; column mapping
  * round 17): the bare `BaseRelation` a `CREATE TABLE USING
  * graft-snapshot` (or `spark.read.format`) resolves to cannot carry
  * the deletion-vector anti-join OR the physical→logical column-
  * mapping projection itself, so this POST-HOC resolution rule
  * rewrites any analyzed `LogicalRelation` whose [[SnapshotFileIndex]]
  * is marked `dvApplied = false` and whose manifest has vectors or a
  * column mapping into the applied plan (the physical-name scan
  * aliased back to logical through
  * [[SnapshotFileIndex.relationOf]], then
  * [[SnapshotStore.applyDvOverlay]] — one broadcast anti-join on the
  * physical row identity), re-aliased onto the original output
  * attribute ids so consumers above are untouched. Post-hoc (not
  * main-batch) so the DML rule has already claimed
  * DELETE/UPDATE/MERGE/INSERT targets — those route to the store's own
  * vector-and-mapping-aware reads. Runs once per relation: the
  * rewritten plan's inner relations are built `dvApplied = true`. */
final class SnapshotDvReadRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case lr: LogicalRelation => lr.relation match {
      case h: HadoopFsRelation => h.location match {
        case idx: SnapshotFileIndex
            if !idx.dvApplied && (idx.dvRefs.nonEmpty ||
              SnapshotStore.physicalOf(idx.logicalSchema).nonEmpty) =>
          // header-grain guards (dvRefs/logicalSchema) so a lazy
          // checkpoint-backed relation never forces its manifest here;
          // its rebuild goes through the lazy path too (round 20)
          val appliedDf = (idx match {
            case ck: SnapshotCheckpointFileIndex =>
              SnapshotFileIndex.lazyAppliedRelationOf(spark, ck.tableDir,
                ck.versionOf)
            case _ => None
          }).getOrElse {
            val m = idx.manifestOf
            SnapshotStore.applyDvOverlay(spark, m,
              SnapshotFileIndex.relationOf(spark, idx.tableDir, m, None)._1)
          }
          val applied = appliedDf.queryExecution.analyzed
          Project(lr.output.map { o =>
            val n = applied.output.find(a =>
              spark.sessionState.conf.resolver(a.name, o.name)).getOrElse(
              SnapshotDmlRule.analysisError(
                s"snapshot read overlay lost column ${o.name}"))
            Alias(n, o.name)(exprId = o.exprId): NamedExpression
          }, applied)
        case _ => lr
      }
      case _ => lr
    }
  }
}

/** SQL time travel for `graft-snapshot` tables (round 15):
  *
  * {{{
  *   SELECT ... FROM snap VERSION AS OF 3
  *   SELECT ... FROM snap TIMESTAMP AS OF '2026-08-15 10:00:00'
  * }}}
  *
  * The analyzer REFUSES time travel over v1 relations before any
  * injected resolution rule can run (measured: `ResolveRelations`
  * throws `UNSUPPORTED_FEATURE.TIME_TRAVEL` eagerly), so this hooks the
  * PARSER instead — the Delta `DeltaSqlParser` shape: delegate the
  * parse, then rewrite `RelationTimeTravel` nodes whose (catalog-looked-
  * up) table is a `graft-snapshot` table into the version-pinned
  * index-backed relation. Unknown tables, other providers, and every
  * other statement pass through untouched. Version = the literal;
  * timestamp = any expression castable to TIMESTAMP (micros → the
  * store's millis), with a bare integral literal read as epoch MILLIS
  * (the store's own unit). */
final class SnapshotTimeTravelParser(spark: SparkSession,
                                     delegate: ParserInterface)
    extends ParserInterface {

  private def snapshotDirOf(nameParts: Seq[String]): Option[String] =
    SnapshotDmlRule.snapshotDirOfParts(spark, nameParts)

  private def resolveVersion(dir: String, ts: Option[Expression],
                             version: Option[String]): Long =
    version.map(_.toLong).getOrElse {
      val e = ts.getOrElse(SnapshotDmlRule.analysisError(
        "time travel needs VERSION AS OF or TIMESTAMP AS OF"))
      val millis = e.dataType match {
        case LongType | IntegerType =>
          // integral literal: epoch millis, the store's own unit
          e.eval(null).asInstanceOf[Number].longValue()
        case _ =>
          val zone = spark.sessionState.conf.sessionLocalTimeZone
          val micros = Cast(e, TimestampType, Option(zone)).eval(null)
          require(micros != null, s"cannot read $e as a timestamp")
          micros.asInstanceOf[Long] / 1000L
      }
      SnapshotStore.versionAtTimestamp(spark, dir, millis)
    }

  private def rewrite(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, version) =>
        snapshotDirOf(u.multipartIdentifier) match {
          case Some(dir) =>
            val v = resolveVersion(dir, ts, version)
            SnapshotFileIndex.readAsOfTable(spark, dir, v)
              .queryExecution.logical
          case None => tt
        }
      // the CDF table-valued function (round 19) — parser-level for the
      // same reason as time travel: the analyzer refuses an unknown TVF
      // name before any injected resolution rule can claim it
      case tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
          if tvf.name.length == 1 &&
            tvf.name.head.equalsIgnoreCase("table_changes") =>
        SnapshotDmlRule.resolveTableChanges(spark, tvf.functionArgs)
    }

  /** `CREATE TABLE ... USING graft-snapshot TBLPROPERTIES
    * ('graft.…'='…')` routing (round 18): TBLPROPERTIES live in the
    * CATALOG entry, which a v1 `CreatableRelationProvider` never sees —
    * so the engine's own `graft.*` keys are COPIED into the table
    * spec's OPTIONS at parse time, where [[SnapshotSource]] already
    * reads them and records them in the table-creating commit's
    * manifest header. The catalog entry keeps the properties too
    * (`SHOW TBLPROPERTIES` round-trips); non-graft properties stay
    * catalog-only user metadata; other providers are untouched. */
  private def routeCreateTblProperties(plan: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.{OptionList, UnresolvedTableSpec}
    plan.transformAllExpressions {
      case ts: UnresolvedTableSpec
          if ts.provider.exists(_.equalsIgnoreCase("graft-snapshot")) &&
            ts.properties.nonEmpty =>
        // EVERY TBLPROPERTIES pair reaches the table-creating commit's
        // manifest (SHOW TBLPROPERTIES reads the manifest, so a key
        // that stayed catalog-only would vanish from it): `graft.*`
        // knobs ride verbatim; opaque user keys ride under a reserved
        // `tblprop:` option prefix so they can never collide with real
        // reader/writer options (path, version, mergeKeys, ...) — the
        // provider strips the prefix back off
        val present = ts.optionExpression.options
          .map(_._1.toLowerCase(java.util.Locale.ROOT)).toSet
        // presence is checked against the spelling the pair would RIDE
        // under: a non-graft key lands prefixed (`tblprop:<key>`), so an
        // explicit OPTION of the bare name (path, version, ...) can never
        // shadow it — every TBLPROPERTIES pair reaches the manifest
        val added = ts.properties.toSeq.flatMap { case (k, v) =>
          val optKey =
            if (k.toLowerCase(java.util.Locale.ROOT).startsWith("graft."))
              k
            else s"tblprop:$k"
          if (present(optKey.toLowerCase(java.util.Locale.ROOT))) None
          else Some(optKey -> (Literal(
            org.apache.spark.unsafe.types.UTF8String.fromString(v),
            StringType): Expression))
        }
        if (added.isEmpty) ts
        else ts.copy(optionExpression =
          OptionList(ts.optionExpression.options ++ added))
    }
  }

  // ------------------------------------------- maintenance verbs (round 16)
  // OPTIMIZE / VACUUM / DESCRIBE HISTORY are not Spark grammar at all
  // (ParseException in the delegate), so the hook matches them FIRST —
  // the Delta parser-extension discipline. The table operand is a
  // registered snapshot table (multipart identifier) or a quoted 'path'.
  // A DESCRIBE HISTORY with no operand, or any non-matching statement,
  // falls through to the delegate untouched.

  private val TableTok = """(`[^`]+`|'[^']+'|[\w.$]+)"""
  private val OptimizeZOrderRe =
    ("""(?is)^\s*OPTIMIZE\s+""" + TableTok +
      """\s+ZORDER\s+BY\s+\(?\s*([^();]+?)\s*\)?\s*;?\s*$""").r
  private val OptimizeWhereZOrderRe =
    ("""(?is)^\s*OPTIMIZE\s+""" + TableTok +
      """\s+WHERE\s+(.+?)\s+ZORDER\s+BY\s+\(?\s*([^();]+?)\s*\)?\s*;?\s*$""").r
  private val OptimizeWhereRe =
    ("""(?is)^\s*OPTIMIZE\s+""" + TableTok +
      """\s+WHERE\s+(.+?)\s*;?\s*$""").r
  private val OptimizeRe =
    ("""(?is)^\s*OPTIMIZE\s+""" + TableTok + """\s*;?\s*$""").r
  // optional `DRY RUN` suffix (round 19 — the Delta preview face)
  private val DryRunTail = """(?:\s+(DRY)\s+RUN)?\s*;?\s*$"""
  private val VacuumRetainRe =
    ("""(?is)^\s*VACUUM\s+""" + TableTok +
      """\s+RETAIN\s+(\d+)\s+VERSIONS""" + DryRunTail).r
  private val VacuumHoursRe =
    ("""(?is)^\s*VACUUM\s+""" + TableTok +
      """\s+RETAIN\s+(\d+)\s+HOURS""" + DryRunTail).r
  private val ConvertRe =
    ("""(?is)^\s*CONVERT\s+TO\s+SNAPSHOT\s+('[^']+')""" +
      """(?:\s+PARTITIONED\s+BY\s+\(\s*([^()]+?)\s*\))?\s*;?\s*$""").r
  private val VacuumRe =
    ("""(?is)^\s*VACUUM\s+""" + TableTok + DryRunTail).r
  private val DescribeHistoryRe =
    ("""(?is)^\s*DESC(?:RIBE)?\s+HISTORY\s+""" + TableTok +
      """(?:\s+LIMIT\s+(\d+))?\s*;?\s*$""").r
  private val DescribeDetailRe =
    ("""(?is)^\s*DESC(?:RIBE)?\s+DETAIL\s+""" + TableTok + """\s*;?\s*$""").r
  private val RestoreVersionRe =
    ("""(?is)^\s*RESTORE\s+TABLE\s+""" + TableTok +
      """\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""").r
  private val RestoreTimestampRe =
    ("""(?is)^\s*RESTORE\s+TABLE\s+""" + TableTok +
      """\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*$""").r
  private val CloneRe =
    ("""(?is)^\s*CREATE\s+TABLE\s+""" + TableTok +
      """\s+(SHALLOW|DEEP)\s+CLONE\s+""" + TableTok +
      """(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*$""").r
  private val ReorgPurgeRe =
    ("""(?is)^\s*REORG\s+TABLE\s+""" + TableTok +
      """\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*$""").r
  // ALTER TABLE ... ADD COLUMNS IS Spark grammar, but its v1 command
  // refuses non-builtin providers ("does not support datasource table
  // with type ...") — snapshot targets are claimed here FIRST (the
  // parser-extension discipline, like time travel); everything else
  // falls through to the delegate so Spark's own tables keep Spark's
  // own behavior.
  private val AddColumnsRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + TableTok +
      """\s+ADD\s+COLUMNS?\s*\(\s*(.+?)\s*\)\s*;?\s*$""").r
  private val RenameColumnRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + TableTok +
      """\s+RENAME\s+COLUMN\s+(`[^`]+`|[\w$]+)\s+TO\s+(`[^`]+`|[\w$]+)""" +
      """\s*;?\s*$""").r
  private val DropColumnsRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + TableTok +
      """\s+DROP\s+COLUMNS?\s+\(?\s*((?:`[^`]+`|[\w$]+)""" +
      """(?:\s*,\s*(?:`[^`]+`|[\w$]+))*)\s*\)?\s*;?\s*$""").r
  private val AlterColumnTypeRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + TableTok +
      """\s+ALTER\s+COLUMN\s+(`[^`]+`|[\w$]+)\s+TYPE\s+([\w()\s,]+?)""" +
      """\s*;?\s*$""").r
  private val SetNotNullRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + TableTok +
      """\s+ALTER\s+COLUMN\s+(`[^`]+`|[\w$]+)\s+SET\s+NOT\s+NULL""" +
      """\s*;?\s*$""").r
  // round 20 — Delta's high-water repair after RESTORE/backfill
  private val SyncIdentityRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + TableTok +
      """\s+SYNC\s+IDENTITY\s*;?\s*$""").r
  private val DropNotNullRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + TableTok +
      """\s+ALTER\s+COLUMN\s+(`[^`]+`|[\w$]+)\s+DROP\s+NOT\s+NULL""" +
      """\s*;?\s*$""").r
  // TBLPROPERTIES / constraints (round 18) — ALTER TABLE SET/UNSET
  // TBLPROPERTIES and ADD/DROP CONSTRAINT are Spark grammar, but the v1
  // commands either refuse custom providers or never reach the manifest;
  // snapshot targets are claimed here FIRST, everything else falls
  // through to the delegate (same discipline as ADD COLUMNS above).
  private val SetTblPropsRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + TableTok +
      """\s+SET\s+TBLPROPERTIES\s*\(\s*(.+?)\s*\)\s*;?\s*$""").r
  private val UnsetTblPropsRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + TableTok +
      """\s+UNSET\s+TBLPROPERTIES\s*(?:IF\s+EXISTS\s*)?""" +
      """\(\s*(.+?)\s*\)\s*;?\s*$""").r
  private val AddConstraintRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + TableTok +
      """\s+ADD\s+CONSTRAINT\s+(`[^`]+`|[\w$]+)\s+CHECK\s*\((.+)\)""" +
      """\s*;?\s*$""").r
  private val DropConstraintRe =
    ("""(?is)^\s*ALTER\s+TABLE\s+""" + TableTok +
      """\s+DROP\s+CONSTRAINT\s+(IF\s+EXISTS\s+)?(`[^`]+`|[\w$]+)""" +
      """\s*;?\s*$""").r
  private val ShowTblPropsRe =
    ("""(?is)^\s*SHOW\s+TBLPROPERTIES\s+""" + TableTok + """\s*;?\s*$""").r

  /** split `'k'='v', ...` (or a bare `'k', ...` list) on top-level
    * commas — commas INSIDE the single-quoted tokens must not split,
    * and a doubled `''` inside a quoted token is SQL's escaped quote
    * (it stays inside the literal, never toggles the quote state — a
    * value like `'a''b,c'` is ONE token) */
  private def splitQuotedList(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var q = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'') {
        if (q && i + 1 < s.length && s.charAt(i + 1) == '\'') {
          sb += '\''; sb += '\''; i += 1 // escaped quote — stay inside
        } else { q = !q; sb += '\'' }
      } else if (c == ',' && !q) { out += sb.toString; sb.clear() }
      else sb += c
      i += 1
    }
    out += sb.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** strip one outer quote pair; a SINGLE-quoted token also unescapes
    * SQL's doubled `''` to `'` (Spark's own grammar does this before
    * commands ever see the text — this parser hook must match, or the
    * stored value carries the raw escapes) */
  private def unquote(t: String): String = {
    val s = t.trim
    if (s.length >= 2 && s.startsWith("'") && s.endsWith("'"))
      s.substring(1, s.length - 1).replace("''", "'")
    else if (s.length >= 2 && s.startsWith("`") && s.endsWith("`"))
      s.substring(1, s.length - 1)
    else s
  }

  /** `'k'='v'` pairs → map; refuses a token without `=` loudly */
  private def parsePropPairs(s: String): Map[String, String] =
    splitQuotedList(s).map { tok =>
      // the = separating key from value is the first one OUTSIDE quotes
      // (same escaped-quote discipline as splitQuotedList)
      var q = false
      var i = -1
      var j = 0
      while (j < tok.length) {
        val c = tok.charAt(j)
        if (c == '\'') {
          if (q && j + 1 < tok.length && tok.charAt(j + 1) == '\'') j += 1
          else q = !q
        } else if (c == '=' && !q && i < 0) i = j
        j += 1
      }
      if (i < 0) SnapshotDmlRule.analysisError(
        s"TBLPROPERTIES pair '$tok' lacks '=' — expected 'key'='value'")
      unquote(tok.substring(0, i)) -> unquote(tok.substring(i + 1))
    }.toMap

  /** the table directory behind a maintenance operand — a quoted 'path'
    * is used verbatim; an identifier must resolve to a registered
    * `graft-snapshot` table (anything else refuses loudly: a silent
    * fall-through would hand OPTIMIZE to Spark's parser, whose error
    * would blame the grammar, not the table) */
  private def dirOfToken(tok: String): String = {
    val t = tok.trim
    if (t.startsWith("'")) t.stripPrefix("'").stripSuffix("'")
    else {
      val parts =
        if (t.startsWith("`")) Seq(t.stripPrefix("`").stripSuffix("`"))
        else t.split('.').toSeq
      snapshotDirOf(parts).getOrElse(SnapshotDmlRule.analysisError(
        s"$t is not a registered graft-snapshot table — OPTIMIZE / VACUUM " +
          "/ DESCRIBE HISTORY take a graft-snapshot table or a quoted path"))
    }
  }

  /** split a comma-separated column list respecting BACKQUOTED
    * identifiers — a `a,b` column name must resolve as one column, not
    * silently target two real columns (destructive on DROP) */
  private def splitColumnList(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var tick = false
    s.foreach {
      case '`' => tick = !tick; sb += '`'
      case ',' if !tick => out += sb.toString; sb.clear()
      case c => sb += c
    }
    out += sb.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty).map(t =>
      if (t.length >= 2 && t.startsWith("`") && t.endsWith("`"))
        t.substring(1, t.length - 1)
      else t)
  }

  private def maintenancePlan(sqlText: String): Option[LogicalPlan] =
    sqlText match {
      case OptimizeZOrderRe(t, dims) => Some(GraftOptimizeCommand(
        dirOfToken(t), splitColumnList(dims)))
      // WHERE+ZORDER must match before plain WHERE: the lazy condition
      // group would otherwise swallow the ZORDER clause as predicate text
      case OptimizeWhereZOrderRe(t, cond, dims) =>
        Some(GraftOptimizeCommand(dirOfToken(t), splitColumnList(dims),
          where = Some(cond.trim)))
      case OptimizeWhereRe(t, cond) =>
        Some(GraftOptimizeCommand(dirOfToken(t), Seq.empty,
          where = Some(cond.trim)))
      case OptimizeRe(t) => Some(GraftOptimizeCommand(dirOfToken(t), Seq.empty))
      case VacuumRetainRe(t, n, dry) =>
        Some(GraftVacuumCommand(dirOfToken(t), n.toInt, dry != null))
      case VacuumHoursRe(t, h, dry) =>
        Some(GraftVacuumHoursCommand(dirOfToken(t), h.toLong, dry != null))
      case VacuumRe(t, dry) =>
        Some(GraftVacuumCommand(dirOfToken(t), 2, dry != null))
      case ConvertRe(p, cols) => Some(GraftConvertCommand(
        p.stripPrefix("'").stripSuffix("'"),
        Option(cols).toSeq.flatMap(splitColumnList)))
      // DESCRIBE HISTORY collides with real Spark grammar (`DESCRIBE
      // <table> <column>` where the table is literally named `history`).
      // An identifier that is NOT a snapshot table falls through to the
      // delegate ONLY when a relation named `history` actually exists in
      // the session (the one case the statement can be valid grammar);
      // otherwise the refusal stays loud — a typo'd table name must not
      // surface as "table `history` not found".
      case DescribeHistoryRe(t, limitTok) =>
        val tok = t.trim
        val limit = Option(limitTok).map { s =>
          // refusals surface as AnalysisException, never a raw
          // NumberFormatException (overflow) or IllegalArgumentException
          val v = try s.toLong catch {
            case _: NumberFormatException => Long.MaxValue
          }
          if (v < 1L || v > Int.MaxValue) SnapshotDmlRule.analysisError(
            s"DESCRIBE HISTORY LIMIT must be a positive 32-bit count, got $s")
          v.toInt
        }
        if (tok.startsWith("'"))
          Some(GraftDescribeHistoryCommand(dirOfToken(t), limit))
        else snapshotDirOf(
          if (tok.startsWith("`")) Seq(tok.stripPrefix("`").stripSuffix("`"))
          else tok.split('.').toSeq) match {
          case Some(dir) => Some(GraftDescribeHistoryCommand(dir, limit))
          case None =>
            val historyRelationExists = try {
              spark.sessionState.catalog.isTempView(Seq("history")) ||
                spark.sessionState.catalog.tableExists(TableIdentifier("history"))
            } catch { case scala.util.control.NonFatal(_) => false }
            if (historyRelationExists) None // valid DESCRIBE history <col>
            else SnapshotDmlRule.analysisError(
              s"$tok is not a registered graft-snapshot table — DESCRIBE " +
                "HISTORY takes a graft-snapshot table or a quoted path")
        }
      case ReorgPurgeRe(t) => Some(GraftReorgPurgeCommand(dirOfToken(t)))
      case DescribeDetailRe(t) =>
        // same claim discipline as DESCRIBE HISTORY: a non-snapshot
        // identifier falls through ONLY when `DESCRIBE detail <col>`
        // could be valid grammar (a relation literally named `detail`)
        val tok = t.trim
        if (tok.startsWith("'"))
          Some(GraftDescribeDetailCommand(dirOfToken(t)))
        else snapshotDirOf(
          if (tok.startsWith("`")) Seq(tok.stripPrefix("`").stripSuffix("`"))
          else tok.split('.').toSeq) match {
          case Some(dir) => Some(GraftDescribeDetailCommand(dir))
          case None =>
            val detailRelationExists = try {
              spark.sessionState.catalog.isTempView(Seq("detail")) ||
                spark.sessionState.catalog.tableExists(TableIdentifier("detail"))
            } catch { case scala.util.control.NonFatal(_) => false }
            if (detailRelationExists) None
            else SnapshotDmlRule.analysisError(
              s"$tok is not a registered graft-snapshot table — DESCRIBE " +
                "DETAIL takes a graft-snapshot table or a quoted path")
        }
      case RestoreVersionRe(t, v) =>
        alterTarget(t).map { case (dir, ident) =>
          GraftRestoreCommand(dir, ident, Some(v.toLong), None)
        }
      case RestoreTimestampRe(t, ts) =>
        alterTarget(t).map { case (dir, ident) =>
          GraftRestoreCommand(dir, ident, None, Some(ts))
        }
      case CloneRe(target, mode, source, vTok) =>
        // the SOURCE must be a snapshot table or quoted path; the TARGET
        // is a quoted path, or an identifier that registers at its
        // managed default location
        Some(GraftCloneCommand(dirOfToken(source),
          Option(vTok).map(_.toLong), target.trim,
          deep = mode.equalsIgnoreCase("DEEP")))
      // only SNAPSHOT targets are claimed; any other ALTER TABLE falls
      // through to Spark's own grammar and provider rules
      case AddColumnsRe(t, colsText) =>
        alterTarget(t).map { case (dir, ident) =>
          GraftAddColumnsCommand(dir, ident,
            delegate.parseTableSchema(colsText).fields.toSeq)
        }
      case RenameColumnRe(t, oldTok, newTok) =>
        def bare(s: String) = s.trim.stripPrefix("`").stripSuffix("`")
        alterTarget(t).map { case (dir, ident) =>
          GraftRenameColumnCommand(dir, ident, bare(oldTok), bare(newTok))
        }
      case DropColumnsRe(t, colsTok) =>
        alterTarget(t).map { case (dir, ident) =>
          GraftDropColumnsCommand(dir, ident, splitColumnList(colsTok))
        }
      case SyncIdentityRe(t) =>
        alterTarget(t).map { case (dir, _) =>
          GraftSyncIdentityCommand(dir)
        }
      case SetNotNullRe(t, colTok) =>
        alterTarget(t).map { case (dir, ident) =>
          GraftNotNullCommand(dir, ident,
            colTok.trim.stripPrefix("`").stripSuffix("`"), set = true)
        }
      case DropNotNullRe(t, colTok) =>
        alterTarget(t).map { case (dir, ident) =>
          GraftNotNullCommand(dir, ident,
            colTok.trim.stripPrefix("`").stripSuffix("`"), set = false)
        }
      case AlterColumnTypeRe(t, colTok, typeTok) =>
        alterTarget(t).map { case (dir, ident) =>
          val newType = try delegate.parseDataType(typeTok.trim)
          catch { case scala.util.control.NonFatal(_) =>
            SnapshotDmlRule.analysisError(
              s"ALTER COLUMN TYPE: cannot parse data type '${typeTok.trim}'")
          }
          GraftAlterColumnTypeCommand(dir, ident,
            colTok.trim.stripPrefix("`").stripSuffix("`"), newType)
        }
      case SetTblPropsRe(t, pairs) =>
        alterTarget(t).map { case (dir, ident) =>
          GraftSetTblPropertiesCommand(dir, ident, parsePropPairs(pairs))
        }
      case UnsetTblPropsRe(t, keysTok) =>
        alterTarget(t).map { case (dir, ident) =>
          GraftUnsetTblPropertiesCommand(dir, ident,
            splitQuotedList(keysTok).map(unquote))
        }
      case AddConstraintRe(t, nameTok, check) =>
        alterTarget(t).map { case (dir, ident) =>
          GraftAddConstraintCommand(dir, ident, unquote(nameTok), check.trim)
        }
      case DropConstraintRe(t, ifExistsTok, nameTok) =>
        alterTarget(t).map { case (dir, ident) =>
          GraftDropConstraintCommand(dir, ident, unquote(nameTok),
            ifExists = ifExistsTok != null)
        }
      case ShowTblPropsRe(t) =>
        // claim only snapshot targets — SHOW TBLPROPERTIES on any other
        // table keeps Spark's own catalog behavior
        val tok = t.trim
        if (tok.startsWith("'"))
          Some(GraftShowTblPropertiesCommand(dirOfToken(t)))
        else snapshotDirOf(
          if (tok.startsWith("`")) Seq(tok.stripPrefix("`").stripSuffix("`"))
          else tok.split('.').toSeq)
          .map(GraftShowTblPropertiesCommand(_))
      case _ => None
    }

  /** an ALTER TABLE operand: a quoted path verbatim (no catalog entry),
    * or a registered snapshot table (dir + identifier for the catalog
    * schema lockstep); None = not a snapshot target, fall through */
  private def alterTarget(t: String)
      : Option[(String, Option[TableIdentifier])] = {
    val tok = t.trim
    if (tok.startsWith("'"))
      Some((tok.stripPrefix("'").stripSuffix("'"), None))
    else {
      val parts =
        if (tok.startsWith("`")) Seq(tok.stripPrefix("`").stripSuffix("`"))
        else tok.split('.').toSeq
      snapshotDirOf(parts).map { dir =>
        val ident = parts match {
          case Seq(n) => Some(TableIdentifier(n))
          case Seq(db, n) => Some(TableIdentifier(n, Some(db)))
          case Seq(_, db, n) => Some(TableIdentifier(n, Some(db)))
          case _ => None
        }
        (dir, ident)
      }
    }
  }

  override def parsePlan(sqlText: String): LogicalPlan =
    maintenancePlan(sqlText)
      .getOrElse(routeCreateTblProperties(rewrite(delegate.parsePlan(sqlText))))
  override def parseQuery(sqlText: String): LogicalPlan =
    rewrite(delegate.parseQuery(sqlText))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String)
      : org.apache.spark.sql.catalyst.FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String)
      : org.apache.spark.sql.types.StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String)
      : org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String)
      : org.apache.spark.sql.types.StructType =
    delegate.parseRoutineParam(sqlText)
}

/** Shared plumbing of the eagerly-run snapshot SQL commands. */
object GraftSqlCommands {
  /** Spark's `FindDataSourceTable` caches the resolved relation — pinned
    * to ONE SnapshotFileIndex/manifest — per table name; after any
    * mutation through these commands a cached entry would serve the
    * PRE-mutation version (or, after VACUUM, list reclaimed files).
    * Every mutating command drops the relation cache on success. Coarse
    * (all names) because only the table DIR is known here; the next
    * reference re-resolves in one catalog lookup. NOTE: mutations
    * through the Scala store API don't pass here — a SQL session mixing
    * both refreshes with `REFRESH TABLE t` (the Delta contract for
    * external writers). */
  private[storage] def invalidateRelationCache(spark: SparkSession): Unit =
    spark.sessionState.catalog.invalidateAllCachedTables()

  /** Catalog data-schema lockstep for the DDL verbs, through the
    * EXTERNAL catalog's data-schema API — persisted on Hive metastores
    * too (SessionCatalog.alterTable does not persist schema changes
    * there, and its alterTableDataSchema helper refuses removed names —
    * renames and drops remove one). */
  private[storage] def updateCatalogDataSchema(
      spark: SparkSession, ident: TableIdentifier,
      transform: org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.types.StructType): Unit = {
    val cat = spark.sessionState.catalog
    val meta = cat.getTableMetadata(ident)
    cat.externalCatalog.alterTableDataSchema(
      meta.identifier.database.getOrElse(cat.getCurrentDatabase),
      meta.identifier.table, transform(meta.dataSchema))
  }

  /** Catalog TABLE-PROPERTIES lockstep for the property verbs
    * (round 18) — through `alterTable`, which persists property changes
    * on Hive metastores too (properties are not the data schema, so the
    * data-schema caveat above does not bite here). */
  private[storage] def updateCatalogProperties(
      spark: SparkSession, ident: TableIdentifier,
      transform: Map[String, String] => Map[String, String]): Unit = {
    val cat = spark.sessionState.catalog
    val meta = cat.getTableMetadata(ident)
    cat.externalCatalog.alterTable(
      meta.copy(properties = transform(meta.properties)))
  }
}

/** Eagerly-run `DELETE FROM <graft-snapshot table> WHERE cond`: one
  * MEASURED auto-dispatch commit ([[SnapshotStore.deleteConditionAuto]]
  * — a point delete writes a deletion vector, a wide one rewrites
  * copy-on-write; round 16). The resolved condition serves twice —
  * lowered to a [[SnapshotStore.FilePredicate]] for write-side file
  * skipping, and re-anchored BY NAME onto the store's own read of the
  * touched files for the row-level filter. */
final case class GraftDeleteCommand(dir: String, cond: Expression)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val prune = SnapshotFileIndex.fromCatalyst(cond)
    val rowCond = ColumnBridge.column(cond.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })
    SnapshotStore.deleteConditionAuto(spark, dir, rowCond, prune)
    GraftSqlCommands.invalidateRelationCache(spark)
    Seq.empty
  }
}

/** Eagerly-run `UPDATE <graft-snapshot table> SET ... [WHERE cond]`: one
  * MEASURED auto-dispatch commit ([[SnapshotStore.updateConditionAuto]]
  * — a point update vectors the pre-images and appends the post-images,
  * a wide one rewrites copy-on-write; round 17). The WHERE lowers to
  * FilePredicates for write-side skipping, every assignment's
  * right-hand side is re-anchored BY NAME (and evaluates against the
  * pre-update row — the store's staging contract). */
final case class GraftUpdateCommand(dir: String,
                                    assignments: Seq[(String, Expression)],
                                    condition: Option[Expression])
    extends LeafRunnableCommand {
  private def byName(e: Expression): org.apache.spark.sql.Column =
    ColumnBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.lit
    val prune = condition.flatMap(SnapshotFileIndex.fromCatalyst)
    val rowCond = condition.map(byName).getOrElse(lit(true))
    SnapshotStore.updateConditionAuto(spark, dir, rowCond, prune,
      assignments.map { case (c, v) => c -> byName(v) })
    GraftSqlCommands.invalidateRelationCache(spark)
    Seq.empty
  }
}

/** Eagerly-run canonical-upsert `MERGE INTO`: materializes the source
  * projection and hands it to the MEASURED dispatch
  * [[SnapshotStore.mergeAuto]] (round 17) — a delta whose keys hit a
  * sliver of the touched files' rows commits merge-on-read (carry +
  * vector the replaced pre-images + append the delta); a wide one takes
  * the copy-on-write rewrite. Same-key rows replaced, new keys
  * appended, off-envelope files carried untouched either way. */
final case class GraftMergeCommand(dir: String, delta: LogicalPlan,
                                   keys: Seq[String])
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(delta)
  override def run(spark: SparkSession): Seq[Row] = {
    SnapshotStore.mergeAuto(spark, dir,
      DatasetBridge.ofRows(spark, delta), keys)
    GraftSqlCommands.invalidateRelationCache(spark)
    Seq.empty
  }
}

/** Eagerly-run `INSERT INTO` / `INSERT OVERWRITE` (round 16): the
  * aligned query commits through the manifest protocol —
  * [[SnapshotStore.commitAppend]] (one new version = prior files + the
  * insert's bytes, hive layout inherited, schema checked case-aware) or
  * a full-snapshot [[SnapshotStore.commit]] for OVERWRITE (the
  * committed partition layout carries; only an explicit write-face
  * Overwrite with `partitionBy` redefines it). */
final case class GraftInsertCommand(dir: String, query: LogicalPlan,
                                    overwrite: Boolean)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)
  override def run(spark: SparkSession): Seq[Row] = {
    val df = DatasetBridge.ofRows(spark, query)
    if (overwrite) {
      // the committed partition layout AND bloom declaration both carry
      // — only an explicit write-face Overwrite redefines them
      val prior = SnapshotStore.latestVersion(spark, dir)
        .map(v => SnapshotStore.manifest(spark, dir, v))
      SnapshotStore.commit(spark, dir, df, "insert-overwrite",
        partitionBy = prior.map(_.partitionCols).getOrElse(Seq.empty),
        bloomCols = prior.map(_.bloomCols).getOrElse(Seq.empty))
    } else SnapshotStore.commitAppend(spark, dir, df, "insert")
    GraftSqlCommands.invalidateRelationCache(spark)
    Seq.empty
  }
}

/** SQL `OPTIMIZE <t> [WHERE <cond>] [ZORDER BY (c, ...)]` (round 16;
  * WHERE round 18; WHERE+ZORDER round 19): the maintenance rewrite as a
  * verb — plain = [[SnapshotStore.compact]] to the table's target file
  * size (`graft.targetFileSize` property, else 128 MB), `WHERE` =
  * [[SnapshotStore.compactWhere]] rewriting ONLY the stats-matching
  * files (the Delta scoped-OPTIMIZE shape — a hot partition compacts
  * without touching the cold tail), `ZORDER BY` =
  * [[SnapshotStore.clusterN]] across the named dimensions, and
  * `WHERE ... ZORDER BY` = [[SnapshotStore.clusterWhere]] re-clustering
  * just the hot range with the cold tail carried by path. The WHERE
  * condition must translate to the file-skipping predicate grammar
  * (comparisons / IN / IS [NOT] NULL / AND / OR over committed
  * columns) — anything else refuses loudly rather than silently
  * compacting everything. File count sizes from the manifest's
  * recorded byte footprint — no data scan before the rewrite itself. */
final case class GraftOptimizeCommand(dir: String, zorderBy: Seq[String],
                                      where: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = false)())

  /** the WHERE condition as a [[SnapshotStore.FilePredicate]]: parse,
    * resolve bare attributes against the committed schema, translate
    * through the same conservative grammar the Catalyst index uses */
  private def translateWhere(spark: SparkSession, cond: String)
      : SnapshotStore.FilePredicate = {
    val cur = SnapshotStore.latestVersion(spark, dir).getOrElse(
      SnapshotDmlRule.analysisError(
        s"OPTIMIZE WHERE needs a committed version at $dir"))
    val schema = SnapshotStore.headerInfoOf(spark, dir, cur).schema
    val resolver = spark.sessionState.conf.resolver
    val parsed = try spark.sessionState.sqlParser.parseExpression(cond)
    catch { case scala.util.control.NonFatal(_) =>
      SnapshotDmlRule.analysisError(
        s"OPTIMIZE WHERE: cannot parse condition '$cond'")
    }
    val resolved = parsed.transformUp {
      case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        val f = schema.fields.find(fl => resolver(fl.name, ua.name))
          .getOrElse(SnapshotDmlRule.analysisError(
            s"OPTIMIZE WHERE references unknown column ${ua.name}"))
        AttributeReference(f.name, f.dataType, nullable = true)()
    }
    SnapshotFileIndex.fromCatalyst(resolved).getOrElse(
      SnapshotDmlRule.analysisError(
        s"OPTIMIZE WHERE condition '$cond' does not translate to the " +
          "file-skipping grammar (comparisons / IN / IS [NOT] NULL / " +
          "AND / OR over committed columns) — scoped compaction would " +
          "silently widen to the whole table"))
  }

  override def run(spark: SparkSession): Seq[Row] = {
    val v =
      if (where.isDefined && zorderBy.nonEmpty)
        // scoped re-cluster: hot files z-order, cold carry by path
        SnapshotStore.clusterWhere(spark, dir,
          translateWhere(spark, where.get), zorderBy)
      else if (where.isDefined)
        SnapshotStore.compactWhere(spark, dir, translateWhere(spark, where.get))
      else if (zorderBy.isEmpty) SnapshotStore.compact(spark, dir)
      else {
        val m = SnapshotStore.manifest(spark, dir,
          SnapshotStore.latestVersion(spark, dir).getOrElse(
            SnapshotDmlRule.analysisError(
              s"OPTIMIZE ZORDER needs a committed version at $dir")))
        val target = SnapshotStore.effectiveTargetFileBytes(m)
        val nFiles = math.max(1L, math.ceil(
          SnapshotStore.recordedBytes(m, m.files).toDouble / target).toLong).toInt
        SnapshotStore.clusterN(spark, dir, zorderBy, nFiles)
      }
    GraftSqlCommands.invalidateRelationCache(spark)
    Seq(Row(v, if (zorderBy.isEmpty) "compact" else "zorder"))
  }
}

/** SQL `VACUUM <t> [RETAIN <n> VERSIONS] [DRY RUN]` (round 16; DRY RUN
  * round 19): drops manifests older than the newest `retain` and
  * reclaims unreferenced data files — [[SnapshotStore.vacuum]] behind
  * the verb, default retention 2. `DRY RUN` previews — one row per
  * log entry / version directory the real vacuum would remove, nothing
  * mutated (the Delta preview contract). */
final case class GraftVacuumCommand(dir: String, retain: Int,
                                    dryRun: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("path", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    if (dryRun)
      SnapshotStore.vacuumDryRun(spark, dir, retain).map(Row(_))
    else {
      SnapshotStore.vacuum(spark, dir, retain)
      GraftSqlCommands.invalidateRelationCache(spark)
      Seq(Row(dir))
    }
  }
}

/** SQL `VACUUM <t> RETAIN <n> HOURS` (round 16 — the Delta retention
  * spelling): age-based retention via
  * [[SnapshotStore.vacuumOlderThan]] — every version committed within
  * the window survives, always at least the latest. */
final case class GraftVacuumHoursCommand(dir: String, hours: Long,
                                         dryRun: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("path", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    // an absurd RETAIN value must saturate to keep-everything, never
    // overflow into a future cutoff that vacuums ALL history away
    val cutoff = try {
      Math.subtractExact(System.currentTimeMillis(),
        Math.multiplyExact(hours, 3600L * 1000L))
    } catch { case _: ArithmeticException => Long.MinValue }
    if (dryRun)
      return SnapshotStore.vacuumOlderThanDryRun(spark, dir, cutoff)
        .map(Row(_))
    SnapshotStore.vacuumOlderThan(spark, dir, cutoff)
    GraftSqlCommands.invalidateRelationCache(spark)
    Seq(Row(dir))
  }
}

/** SQL `CONVERT TO SNAPSHOT '<dir>' [PARTITIONED BY (a, b)]` (round 16
  * — the Delta `CONVERT TO DELTA` shape): in-place, zero-rewrite
  * conversion of an existing parquet directory
  * ([[SnapshotStore.convertParquet]]). */
final case class GraftConvertCommand(dir: String, partitionBy: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(SnapshotStore.convertParquet(spark, dir, partitionBy)))
}

/** SQL `REORG TABLE <t> APPLY (PURGE)` (round 16 — the Delta spelling):
  * materialize deletion vectors by rewriting ONLY the vectored files
  * ([[SnapshotStore.purgeVectors]]); clean files carry untouched. */
final case class GraftReorgPurgeCommand(dir: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = SnapshotStore.purgeVectors(spark, dir)
    GraftSqlCommands.invalidateRelationCache(spark)
    Seq(Row(v))
  }
}

/** SQL `DESCRIBE HISTORY <t> [LIMIT n]` (round 16; LIMIT round 17 —
  * the Delta spelling): the commit log as a result set — one row per
  * RETAINED version with exact manifest-recorded counts
  * ([[SnapshotStore.history]]). `LIMIT n` restricts to the NEWEST n
  * versions and, crucially, stops the driver-side collect there: only
  * n manifests load, so the micro-batch-ingested 100k-commit table
  * answers `DESCRIBE HISTORY t LIMIT 20` in 20 manifest reads. */
final case class GraftDescribeHistoryCommand(dir: String,
                                             limit: Option[Int] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("n_files", LongType, nullable = false)(),
    AttributeReference("n_rows", LongType, nullable = false)(),
    AttributeReference("n_bytes", LongType, nullable = false)(),
    AttributeReference("n_columns", LongType, nullable = false)(),
    AttributeReference("ts_millis", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    SnapshotStore.history(spark, dir, limit).collect().toSeq
}

/** SQL `DESCRIBE DETAIL <t|'path'>` (round 18 — the Delta verb): ONE
  * summary row off the latest manifest — no data scan (file counts,
  * bytes, and layout all ride the manifest's recorded stats). */
final case class GraftDescribeDetailCommand(dir: String)
    extends LeafRunnableCommand {
  import org.apache.spark.sql.types.{ArrayType, MapType}
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("last_modified_millis", LongType, nullable = false)(),
    AttributeReference("num_files", LongType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("num_deletion_vector_rows", LongType,
      nullable = false)(),
    AttributeReference("partition_columns",
      ArrayType(StringType, containsNull = false), nullable = false)(),
    AttributeReference("bloom_columns",
      ArrayType(StringType, containsNull = false), nullable = false)(),
    AttributeReference("properties",
      MapType(StringType, StringType, valueContainsNull = false),
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val cur = SnapshotStore.latestVersion(spark, dir).getOrElse(
      SnapshotDmlRule.analysisError(s"no committed version at $dir"))
    val m = SnapshotStore.manifest(spark, dir, cur)
    Seq(Row("graft-snapshot", dir, m.version, m.operation, m.ts,
      m.files.size.toLong, m.stats.values.map(_.bytes).sum,
      m.dvs.values.map(_.rows).sum, m.partitionCols, m.bloomCols,
      m.properties))
  }
}

/** SQL `RESTORE TABLE <t|'path'> TO VERSION|TIMESTAMP AS OF ...`
  * (round 18 — the Delta verb): rollback as an ordinary commit through
  * [[SnapshotStore.restore]] — history preserved, zero data copied.
  * For a registered table the catalog's data schema follows the
  * RESTORED version (a restore across a DDL must roll the catalog
  * back too, or every later catalog read resolves the wrong shape). */
/** `ALTER TABLE t SYNC IDENTITY` (round 20 — Delta's repair verb):
  * recompute every declared identity column's high-water mark from the
  * live data, so the next allocation clears values a RESTORE re-issued
  * or a backfill introduced. Returns the metadata commit's version. */
final case class GraftSyncIdentityCommand(dir: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("new_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val v = try SnapshotStore.syncIdentity(spark, dir)
    catch { case e: IllegalArgumentException if e.getMessage != null =>
      SnapshotDmlRule.analysisError(e.getMessage)
    }
    GraftSqlCommands.invalidateRelationCache(spark)
    Seq(Row(v))
  }
}

final case class GraftRestoreCommand(dir: String,
                                     table: Option[TableIdentifier],
                                     version: Option[Long],
                                     tsLiteral: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("restored_version", LongType, nullable = false)(),
    AttributeReference("new_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val target = version.getOrElse {
      val zone = spark.sessionState.conf.sessionLocalTimeZone
      val micros = Cast(Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(tsLiteral.get),
        StringType), TimestampType, Option(zone)).eval(null)
      if (micros == null) SnapshotDmlRule.analysisError(
        s"RESTORE: cannot read '${tsLiteral.get}' as a timestamp")
      try SnapshotStore.versionAtTimestamp(spark, dir,
        micros.asInstanceOf[Long] / 1000L)
      catch { case e: RuntimeException if e.getMessage != null =>
        SnapshotDmlRule.analysisError(e.getMessage)
      }
    }
    val v = try SnapshotStore.restore(spark, dir, target)
    catch { case e: IllegalArgumentException if e.getMessage != null =>
      SnapshotDmlRule.analysisError(e.getMessage)
    }
    table.foreach(ident => GraftSqlCommands.updateCatalogDataSchema(spark,
      ident, _ => SnapshotStore.headerInfoOf(spark, dir, v).schema))
    GraftSqlCommands.invalidateRelationCache(spark)
    Seq(Row(target, v))
  }
}

/** SQL `CREATE TABLE <t|'path'> SHALLOW|DEEP CLONE <src> [VERSION AS OF
  * n]` (round 18 — the Delta verb): [[SnapshotStore.cloneTable]] behind
  * the grammar. A quoted-path target clones without a catalog entry; an
  * identifier target clones into its managed default location AND
  * registers, so the clone is immediately a full SQL citizen. Shallow
  * clones REFERENCE the source's immutable files (zero bytes copied —
  * the Delta shallow-clone contract, source-vacuum caveat included);
  * DEEP copies the data. */
final case class GraftCloneCommand(sourceDir: String,
                                   sourceVersion: Option[Long],
                                   targetTok: String, deep: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("target_location", StringType, nullable = false)(),
    AttributeReference("cloned_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val srcV = sourceVersion.getOrElse(
      SnapshotStore.latestVersion(spark, sourceDir).getOrElse(
        SnapshotDmlRule.analysisError(
          s"no committed version at $sourceDir")))
    val (targetDir, ident) =
      if (targetTok.startsWith("'"))
        (targetTok.stripPrefix("'").stripSuffix("'"), None)
      else {
        val parts =
          if (targetTok.startsWith("`"))
            Seq(targetTok.stripPrefix("`").stripSuffix("`"))
          else targetTok.split('.').toSeq
        val id = parts match {
          case Seq(n) => TableIdentifier(n)
          case Seq(db, n) => TableIdentifier(n, Some(db))
          case _ => SnapshotDmlRule.analysisError(
            s"CLONE target $targetTok must be a table name or a " +
              "quoted path")
        }
        if (spark.sessionState.catalog.tableExists(id))
          SnapshotDmlRule.analysisError(
            s"CLONE target $targetTok already exists")
        (spark.sessionState.catalog.defaultTablePath(id).toString, Some(id))
      }
    val v = try SnapshotStore.cloneTable(spark, sourceDir, srcV,
      targetDir, copyData = deep)
    catch { case e: IllegalArgumentException if e.getMessage != null =>
      SnapshotDmlRule.analysisError(e.getMessage)
    }
    ident.foreach { id =>
      spark.sql(s"CREATE TABLE ${id.quotedString} USING `graft-snapshot` " +
        s"OPTIONS (path '$targetDir')")
    }
    Seq(Row(targetDir, v))
  }
}

/** SQL `ALTER TABLE <t> ADD COLUMNS (name type, ...)` (round 17): pure
  * metadata schema evolution — one zero-data-rewrite `add-columns`
  * commit through [[SnapshotStore.addColumns]] (pre-evolution files
  * read the new columns as null), plus the session-catalog data-schema
  * update for a REGISTERED table so the catalog face resolves the
  * evolved shape immediately (the v1 `AlterTableAddColumnsCommand`
  * contract, which refuses custom providers — hence this command).
  * Refusals — existing/case-colliding names, empty column list —
  * surface as `AnalysisException`. */
final case class GraftAddColumnsCommand(dir: String,
                                        table: Option[TableIdentifier],
                                        cols: Seq[org.apache.spark.sql.types.StructField])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    // every DDL-grade refusal surfaces as AnalysisException — including
    // the mergeSchemas tombstone/physical-collision conflicts, which
    // would otherwise escape SQL as bare RuntimeException
    try SnapshotStore.addColumns(spark, dir, cols)
    catch { case e: RuntimeException if e.getMessage != null &&
        (e.getMessage.contains("already exists") ||
          e.getMessage.contains("schema evolution conflict")) =>
      SnapshotDmlRule.analysisError(e.getMessage)
    }
    table.foreach(ident => GraftSqlCommands.updateCatalogDataSchema(
      spark, ident, ds => org.apache.spark.sql.types.StructType(
        ds.fields ++ cols.map(_.copy(nullable = true)))))
    GraftSqlCommands.invalidateRelationCache(spark)
    Seq.empty
  }
}

/** SQL `ALTER TABLE <t> RENAME COLUMN a TO b` (round 17 — column
  * mapping): a metadata-only `rename-column` commit through
  * [[SnapshotStore.renameColumn]] — the physical name every committed
  * file carries rides the field's metadata, so ZERO data bytes move,
  * old versions keep reading under their recorded names, and future
  * writes keep spelling the physical name. For a REGISTERED table the
  * session catalog's schema follows in lockstep (`alterTable` — the
  * data-schema helper refuses removed names, and a rename removes one).
  * Refusals (unknown column, occupied target, partition column) surface
  * as `AnalysisException`. */
final case class GraftRenameColumnCommand(dir: String,
                                          table: Option[TableIdentifier],
                                          oldName: String, newName: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    try SnapshotStore.renameColumn(spark, dir, oldName, newName)
    catch { case e: RuntimeException if e.getMessage != null &&
        (e.getMessage.contains("does not exist") ||
          e.getMessage.contains("already exists") ||
          e.getMessage.contains("PARTITION column")) =>
      SnapshotDmlRule.analysisError(e.getMessage)
    }
    table.foreach(ident => GraftSqlCommands.updateCatalogDataSchema(
      spark, ident, ds => org.apache.spark.sql.types.StructType(
        ds.fields.map(f =>
          if (spark.sessionState.conf.resolver(f.name, oldName))
            f.copy(name = newName)
          else f))))
    GraftSqlCommands.invalidateRelationCache(spark)
    Seq.empty
  }
}

/** SQL `ALTER TABLE <t> DROP COLUMN[S] (a, b)` (round 17 — the DDL
  * triad's third verb, on top of column mapping): one metadata-only
  * `drop-column` commit per named column through
  * [[SnapshotStore.dropColumn]] — retained files keep the physical
  * bytes (any rewrite retires them), the dropped physical name is
  * TOMBSTONED so a later same-named ADD takes a fresh physical name
  * instead of resurrecting old bytes. The session catalog follows for
  * registered tables (external-catalog data-schema update, persisted on
  * Hive too). Refusals (unknown column, partition column, last column)
  * surface as `AnalysisException`. */
final case class GraftDropColumnsCommand(dir: String,
                                         table: Option[TableIdentifier],
                                         names: Seq[String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (names.isEmpty) SnapshotDmlRule.analysisError(
      "DROP COLUMNS names at least one column")
    // validate the WHOLE (resolver-DEDUPED) list before any commit — one
    // commit lands per column, and a mid-list refusal (including a
    // duplicate or case-variant repeat) must not leave a partial DDL
    val resolver = spark.sessionState.conf.resolver
    val unique = names.foldLeft(Vector.empty[String])((acc, n) =>
      if (acc.exists(resolver(_, n))) acc else acc :+ n)
    SnapshotStore.latestVersion(spark, dir)
      .map(v => SnapshotStore.headerInfoOf(spark, dir, v)).foreach { h =>
      unique.foreach { n =>
        if (!h.schema.fields.exists(f => resolver(f.name, n)))
          SnapshotDmlRule.analysisError(
            s"column $n does not exist — DROP COLUMN takes a committed " +
              "column")
        if (h.partitionCols.exists(resolver(_, n)))
          SnapshotDmlRule.analysisError(
            s"column $n is a PARTITION column — dropping it needs a " +
              "full-snapshot rewrite")
      }
      if (unique.length >= h.schema.fields.length)
        SnapshotDmlRule.analysisError("cannot drop the table's last column")
    }
    // ONE commit drops the whole list (all-or-nothing): a concurrent
    // writer racing a mid-list column can refuse the statement, never
    // leave it half-applied
    try SnapshotStore.dropColumns(spark, dir, unique)
    catch { case e: RuntimeException if e.getMessage != null &&
        (e.getMessage.contains("does not exist") ||
          e.getMessage.contains("PARTITION column") ||
          e.getMessage.contains("last column")) =>
      SnapshotDmlRule.analysisError(e.getMessage)
    }
    table.foreach(ident => GraftSqlCommands.updateCatalogDataSchema(
      spark, ident, ds => org.apache.spark.sql.types.StructType(
        ds.fields.filterNot(f => unique.exists(resolver(f.name, _))))))
    GraftSqlCommands.invalidateRelationCache(spark)
    Seq.empty
  }
}

/** SQL `ALTER TABLE <t> ALTER COLUMN c TYPE <type>` (round 18 — type
  * widening): one metadata-only `alter-column-type` commit through
  * [[SnapshotStore.alterColumnType]] — retained files keep their native
  * narrower parquet types and every read upcasts to the widened logical
  * type, so a growing id column stops forcing a full table rewrite.
  * Only the safe lattice is accepted (byte/short/int→long chain,
  * float→double, decimal scale/precision growth); narrowing and lossy
  * changes refuse as `AnalysisException`. The session catalog's schema
  * follows in lockstep for registered tables. */
final case class GraftAlterColumnTypeCommand(dir: String,
                                             table: Option[TableIdentifier],
                                             name: String,
                                             newType: org.apache.spark.sql.types.DataType)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    SnapshotStore.alterColumnType(spark, dir, name, newType)
    val resolver = spark.sessionState.conf.resolver
    table.foreach(ident => GraftSqlCommands.updateCatalogDataSchema(
      spark, ident, ds => org.apache.spark.sql.types.StructType(
        ds.fields.map(f =>
          if (resolver(f.name, name)) f.copy(dataType = newType) else f))))
    GraftSqlCommands.invalidateRelationCache(spark)
    Seq.empty
  }
}

/** SQL `ALTER TABLE <t> ALTER COLUMN c SET NOT NULL` / `DROP NOT NULL`
  * (round 18 — the second half of the verdict's "NOT NULL / CHECK"
  * table-constraint ask): NOT NULL records as the table-level CHECK
  * `graft.constraints.notnull_<col>` = `` `col` IS NOT NULL `` — SET
  * validates the EXISTING rows first (a column already holding nulls
  * refuses, the Delta contract) and every write face afterwards
  * refuses null-bearing commits wholesale, INCLUDING an
  * evolution-null-filled omission of the column (a delta that omits a
  * NOT NULL column reads null — genuinely violating). DROP NOT NULL
  * retires the constraint. The constraint form composes with the rest
  * of the surface for free: RENAME/DROP COLUMN refuse under it, SHOW
  * TBLPROPERTIES lists it, UNSET/DROP CONSTRAINT are its other doors. */
final case class GraftNotNullCommand(dir: String,
                                     table: Option[TableIdentifier],
                                     name: String, set: Boolean)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val cur = SnapshotStore.latestVersion(spark, dir).getOrElse(
      SnapshotDmlRule.analysisError(s"no committed version at $dir"))
    val m = SnapshotStore.manifest(spark, dir, cur)
    val resolver = spark.sessionState.conf.resolver
    val field = m.schema.fields.find(f =>
      resolver(f.name, name)).getOrElse(SnapshotDmlRule.analysisError(
      s"column $name does not exist — SET/DROP NOT NULL takes a " +
        "committed column"))
    val key = s"graft.constraints.notnull_${field.name}"
    if (set) {
      try SnapshotStore.setTableProperties(spark, dir,
        Map(key -> s"`${field.name}` IS NOT NULL"))
      catch {
        case e: SnapshotStore.ConstraintViolationException =>
          SnapshotDmlRule.analysisError(
            s"cannot SET NOT NULL on ${field.name}: ${e.getMessage}")
        case e: SnapshotStore.SnapshotPropertyException =>
          SnapshotDmlRule.analysisError(e.getMessage)
      }
      table.foreach(ident => GraftSqlCommands.updateCatalogProperties(
        spark, ident, _ + (key -> s"`${field.name}` IS NOT NULL")))
    } else {
      SnapshotStore.unsetTableProperties(spark, dir, Seq(key))
      table.foreach(ident => GraftSqlCommands.updateCatalogProperties(
        spark, ident, _.filterNot(_._1 == key)))
    }
    GraftSqlCommands.invalidateRelationCache(spark)
    Seq.empty
  }
}

/** SQL `ALTER TABLE <t> SET TBLPROPERTIES ('k'='v', ...)` (round 18):
  * one metadata-only `set-tblproperties` commit merging the pairs into
  * the manifest's property map ([[SnapshotStore.setTableProperties]]).
  * The engine's own knobs take effect at once (`graft.bloomColumns`,
  * `graft.checkpointInterval`, `graft.constraints.<name>`); unknown
  * `graft.*` keys, malformed values, and a new constraint the current
  * rows already violate all refuse as `AnalysisException`. The session
  * catalog's table properties follow in lockstep for registered
  * tables, so `SHOW TBLPROPERTIES` round-trips. */
final case class GraftSetTblPropertiesCommand(dir: String,
                                              table: Option[TableIdentifier],
                                              props: Map[String, String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (props.isEmpty) SnapshotDmlRule.analysisError(
      "SET TBLPROPERTIES needs at least one 'key'='value' pair")
    try SnapshotStore.setTableProperties(spark, dir, props)
    catch {
      case e: SnapshotStore.SnapshotPropertyException =>
        SnapshotDmlRule.analysisError(e.getMessage)
      case e: SnapshotStore.ConstraintViolationException =>
        SnapshotDmlRule.analysisError(e.getMessage)
    }
    // the catalog mirrors the CANONICAL keys the manifest records — a
    // case-variant graft key must not land twice under two spellings
    table.foreach(ident =>
      GraftSqlCommands.updateCatalogProperties(spark, ident,
        _ ++ SnapshotStore.canonicalProperties(props)))
    GraftSqlCommands.invalidateRelationCache(spark)
    Seq.empty
  }
}

/** SQL `ALTER TABLE <t> UNSET TBLPROPERTIES [IF EXISTS] ('k', ...)`:
  * the removal face — dropping `graft.constraints.<name>` retires the
  * constraint, dropping `graft.bloomColumns` stops declaring blooms for
  * future files. Lenient on unknown keys (Spark's own UNSET temper). */
final case class GraftUnsetTblPropertiesCommand(dir: String,
                                                table: Option[TableIdentifier],
                                                keys: Seq[String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (keys.isEmpty) SnapshotDmlRule.analysisError(
      "UNSET TBLPROPERTIES needs at least one key")
    SnapshotStore.unsetTableProperties(spark, dir, keys)
    // mirror the store's matching: graft.* case-insensitive (canonical
    // storage), non-graft EXACT (opaque case-sensitive user metadata)
    def lower(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val graftKeys = keys.filter(k => lower(k).startsWith("graft."))
      .map(lower).toSet
    val exactKeys = keys.filterNot(k => lower(k).startsWith("graft.")).toSet
    table.foreach(ident =>
      GraftSqlCommands.updateCatalogProperties(spark, ident,
        _.filterNot { case (k, _) => exactKeys(k) ||
          (lower(k).startsWith("graft.") && graftKeys(lower(k))) }))
    GraftSqlCommands.invalidateRelationCache(spark)
    Seq.empty
  }
}

/** SQL `ALTER TABLE <t> ADD CONSTRAINT <name> CHECK (<expr>)` (round 18
  * — Delta invariants): records `graft.constraints.<name>` in the
  * manifest header after validating the CURRENT rows satisfy it; every
  * later write on every face (append, merge, UPDATE/MERGE post-images,
  * SQL INSERT, streaming sink) validates at the commit choke point and
  * refuses violating commits wholesale. Duplicate names refuse. */
final case class GraftAddConstraintCommand(dir: String,
                                           table: Option[TableIdentifier],
                                           name: String, check: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val key = s"graft.constraints.$name"
    val cur = SnapshotStore.latestVersion(spark, dir).getOrElse(
      SnapshotDmlRule.analysisError(s"no committed version at $dir"))
    if (SnapshotStore.manifest(spark, dir, cur).properties.keys
        .exists(_.equalsIgnoreCase(key)))
      SnapshotDmlRule.analysisError(
        s"constraint $name already exists on $dir — DROP CONSTRAINT first")
    try SnapshotStore.setTableProperties(spark, dir, Map(key -> check))
    catch {
      case e: SnapshotStore.ConstraintViolationException =>
        SnapshotDmlRule.analysisError(
          s"cannot ADD CONSTRAINT $name: ${e.getMessage}")
      case e: SnapshotStore.SnapshotPropertyException =>
        SnapshotDmlRule.analysisError(e.getMessage)
    }
    table.foreach(ident =>
      GraftSqlCommands.updateCatalogProperties(spark, ident,
        _ + (key -> check)))
    GraftSqlCommands.invalidateRelationCache(spark)
    Seq.empty
  }
}

/** SQL `ALTER TABLE <t> DROP CONSTRAINT [IF EXISTS] <name>`. */
final case class GraftDropConstraintCommand(dir: String,
                                            table: Option[TableIdentifier],
                                            name: String, ifExists: Boolean)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val key = s"graft.constraints.$name"
    val cur = SnapshotStore.latestVersion(spark, dir).getOrElse(
      SnapshotDmlRule.analysisError(s"no committed version at $dir"))
    val exists = SnapshotStore.manifest(spark, dir, cur).properties.keys
      .exists(_.equalsIgnoreCase(key))
    if (!exists) {
      if (ifExists) return Seq.empty
      SnapshotDmlRule.analysisError(
        s"constraint $name does not exist on $dir")
    }
    SnapshotStore.unsetTableProperties(spark, dir, Seq(key))
    table.foreach(ident =>
      GraftSqlCommands.updateCatalogProperties(spark, ident,
        _.filterNot(_._1.equalsIgnoreCase(key))))
    GraftSqlCommands.invalidateRelationCache(spark)
    Seq.empty
  }
}

/** SQL `SHOW TBLPROPERTIES <t>` for snapshot targets: the MANIFEST's
  * property map (the commit-log authority — a catalog entry may lag an
  * external writer), one (key, value) row each, key-sorted. */
final case class GraftShowTblPropertiesCommand(dir: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val cur = SnapshotStore.latestVersion(spark, dir).getOrElse(
      SnapshotDmlRule.analysisError(s"no committed version at $dir"))
    SnapshotStore.manifest(spark, dir, cur).properties.toSeq.sortBy(_._1)
      .map { case (k, v) => Row(k, v) }
  }
}
