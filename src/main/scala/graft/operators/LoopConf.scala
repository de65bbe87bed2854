package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.graft.{DatasetBridge, SessionBridge}

/** Scale-adaptive shuffle sizing for ITERATIVE DataFrame loops (the
  * graph family: connected components, PageRank, label propagation,
  * k-core, triangles).
  *
  * A loop of R rounds runs ~3-5 exchanges per round; with the session's
  * fixed `spark.sql.shuffle.partitions` every one of those stages
  * schedules that many tasks no matter how small the loop state is, and
  * the per-task constants — closure deserialization, shuffle-file
  * creation and the bypass-merge file copy — dominate a kilobyte-sized
  * graph by orders of magnitude (measured on the sf0.1 near-dup graph:
  * 34 executor-CPU-seconds for a 3-iteration PageRank over 16k edges at
  * 32 partitions vs 0.6 at size-fitted partitioning). AQE's coalescing
  * only repairs the READ side; the map side still writes one file per
  * configured partition, so the fix must size the shuffle itself.
  *
  * [[partitionsForBytes]] derives the loop's partition count from the
  * measured WORK BYTES against [[DefaultLoopTaskBytes]] — the "derive
  * from input size" discipline: a toy graph collapses to single-task
  * stages while a 100 TB edge set keeps every partition the session
  * config would have given it (the result is clamped to the session's
  * configured count, so at scale this NEVER reduces parallelism below
  * today's).
  *
  * [[scoped]] plans a loop in a CLONE of the caller's session: the clone
  * carries its own `SQLConf` with the scope's settings, the body reads
  * its inputs rebound to the clone, and a returned frame goes back bound
  * to the caller's session. Physical planning and AQE read
  * `session.sessionState.conf`, so a per-session conf is the only place
  * Spark lets one plan carry its own shuffle settings; the caller's
  * session is never written, so a query racing the loop on the same
  * session plans with that session's own settings, and any number of
  * scopes may be open on it at once. The clone shares the caller's
  * SparkContext and cache: a rebound input still reads the caller's
  * cached blocks.
  */
private[graft] object LoopConf {

  /** Per-task byte target for LOOP stages — deliberately smaller than
    * the scan-oriented 64 MB AQE advisory: a loop round's reduce side is
    * a CPU-heavy sort/join/window over already-compact fixed-width rows,
    * where ~8 MB of work (~100 ms) amortizes the ~10 ms per-task
    * constants while still fanning a mid-sized working set across the
    * machine's cores (measured on memo:suffixRanks at sf0.1: the 64 MB
    * divisor collapsed a 35 MB / 12-round loop to ONE task per stage and
    * cost +50% wall vs the session default; 8 MB lands near the optimum
    * — see OPTIMIZATION_r21.md). At 100 TB the clamp to the session's
    * own partition count binds long before this target does, so
    * production partitioning is unchanged. */
  val DefaultLoopTaskBytes: Long = 8L * 1024 * 1024

  /** partition count for a loop whose per-round working set is ~`bytes`:
    * ceil(bytes / DefaultLoopTaskBytes), clamped to [1, session's
    * configured shuffle partitions] */
  def partitionsForBytes(spark: SparkSession, bytes: Long): Int = {
    val current = spark.conf.get("spark.sql.shuffle.partitions", "200")
      .trim.toInt
    val ideal = math.ceil(
      math.max(0L, bytes).toDouble / DefaultLoopTaskBytes.toDouble).toLong
    math.max(1L, math.min(current.toLong, ideal)).toInt
  }

  /** Estimates that size-only planning returns for an UNKNOWN leaf are
    * conf.defaultSizeInBytes-scale (Long.MaxValue-ish); anything at or
    * above this cap is "unknown", not a measurement. */
  private val UnknownBytes = 1L << 50

  /** Best JOB-FREE byte estimate of a loop input — sizing a loop must
    * not run a count() job: the extra pass shows up in the bench's
    * recordsRead counters as a fake >10% regression on every consumer
    * (measured: +15% on e_connected_components, +24% on
    * e_dedup_authority). Sources, in order of trust:
    *
    *  1. every leaf of the optimized plan measured exactly — a
    *     localCheckpointed memo's cached RDD blocks
    *     (`getRDDStorageInfo`, the blocks the loop will actually read)
    *     or a materialized cache/local relation (their stats ARE
    *     measured bytes); narrow transforms above the leaves only ever
    *     shrink the working set, so the leaf sum over-estimates — the
    *     safe direction (more partitions, clamped at the session count);
    *  2. otherwise the size-only planner estimate for the whole frame,
    *     unless it is the unknown-huge default.
    *
    * None = no usable estimate: callers keep the session's partitioning
    * (today's behavior — the scale-safe default). */
  def bytesHint(df: DataFrame): Option[Long] = try {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val plan = df.queryExecution.optimizedPlan
    val infos = df.sparkSession.sparkContext.getRDDStorageInfo
    val leaves = plan.collectLeaves()
    val exact: Seq[Option[Long]] = leaves.map {
      case lr: LogicalRDD =>
        infos.find(_.id == lr.rdd.id)
          .map(i => i.memSize + i.diskSize).filter(_ > 0L)
      case im: InMemoryRelation =>
        Some(im.stats.sizeInBytes).filter(_ < UnknownBytes).map(_.toLong)
      case lf =>
        Some(lf.stats.sizeInBytes).filter(_ < UnknownBytes).map(_.toLong)
    }
    if (leaves.nonEmpty && exact.forall(_.isDefined))
      Some(exact.flatten.sum)
    else Some(plan.stats.sizeInBytes).filter(_ < UnknownBytes).map(_.toLong)
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Settings for a loop of `partitions` shuffle partitions:
    * `spark.sql.shuffle.partitions = partitions`, AQE's parallelism-first
    * coalescing off, and the AQE advisory partition size lowered to the
    * loop task target — without the advisory override, read-side
    * coalescing (which only ever MERGES partitions) would fold the
    * size-fitted map partitions straight back to the 64 MB scan advisory
    * and serialize the loop's CPU-bound reduce stages.
    *
    * SINGLE-PARTITION loops (round 22): when the byte hint says the whole
    * loop state fits ONE task's target, AQE and broadcast joins are pure
    * driver overhead — AQE materializes every exchange as its own job
    * submission and runtime-converts the tiny joins to broadcasts, each
    * build a further job + driver collect + relation build (measured on
    * the sf0.1 CC star loop: ~10 jobs of 10-30 ms runs per round, gaps >
    * run time; 58 jobs for a 6-round loop). With AQE off, a round's eager
    * checkpoint is ONE pipelined job (static broadcast joins stay
    * available — a relabel join against a big cached table must keep
    * broadcasting so the big side is never dragged through the loop's
    * single shuffle partition; measured: forcing SMJ regressed
    * e_cc_incremental 2.0 → 2.4 s). Scale-safe by construction: AQE goes
    * off only when the size-derived count is 1, i.e. the hint measured a
    * working set under one task target; any real corpus clamps to the
    * session count and keeps AQE (skew splitting, coalescing) exactly as
    * configured. */
  def fitted(partitions: Int): Seq[(String, String)] = {
    val base = Seq(
      "spark.sql.shuffle.partitions" -> partitions.toString,
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        DefaultLoopTaskBytes.toString)
    if (partitions == 1) base :+ ("spark.sql.adaptive.enabled" -> "false")
    else base
  }

  /** AQE parallelism-first off ONLY (no partition override) — the
    * historical connectedComponents shape, for loops whose first exchange
    * happens before any size measurement. */
  val CoalesceBySize: Seq[(String, String)] =
    Seq("spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false")

  /** AQE's partition-merge FLOOR
    * (`spark.sql.adaptive.coalescePartitions.minPartitionSize`, default
    * 1 MB) lowered to 256 KB — for CPU-DENSE reduce stages whose work per
    * input byte is orders of magnitude above a scan's (set-intersection
    * verification: ~100 bytes of CPU per byte of shuffle). AQE merges
    * post-shuffle partitions by BYTES, so on a small or mid-sized working
    * set the 1 MB floor folds such a stage to a handful of tasks and
    * serializes pure CPU (measured: the PPJoin verify+checkpoint job ran
    * 4 tasks on a 32-core session, 0.94 s). Lowering the floor lets
    * partition count track the session's parallelism; at scale every
    * partition exceeds any floor and the setting is inert. Partition
    * count and advisory size are untouched. */
  val CpuDense: Seq[(String, String)] =
    Seq("spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
      (256L * 1024).toString)

  /** Loop-fitted settings from the largest job-free [[bytesHint]] among
    * `inputs`, times `factor` (callers whose shuffled working set is
    * wider than the raw input — exploded gram/token tables — pass their
    * expansion estimate; over-estimating only adds partitions, the safe
    * direction); when no input has a usable hint, AQE size-based
    * coalescing only (the round-20 connectedComponents shape). */
  def sizedBy(inputs: Seq[DataFrame], factor: Double = 1.0)
      : Seq[(String, String)] =
    inputs.flatMap(bytesHint).maxOption match {
      case Some(b) =>
        val sized = math.ceil(b.toDouble * math.max(factor, 0.0)).toLong
        fitted(partitionsForBytes(inputs.head.sparkSession, sized))
      case None => CoalesceBySize
    }

  // One clone per (caller, caller's conf, settings), reused by every scope
  // that asks for it: a fresh clone per scope doubled the loop queries'
  // executor CPU at sf0.1 and put e_span_dedup_apply at 1.56x its wall
  // (BENCH_loop_session_ab.json). A clone's conf is written once, when it
  // is made; a caller whose conf has changed since gets a new clone.
  // Bodies resolve no names, so the clone's copy of the caller's catalog
  // may be older than the caller's. Past MaxClones the least recently
  // used clone is dropped, so no session is held after its last loop.
  private type CloneKey = (SparkSession, Map[String, String], Seq[(String, String)])
  private val MaxClones = 32
  private val clones = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[CloneKey, SparkSession](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[CloneKey, SparkSession]): Boolean =
        size > MaxClones
    })

  /** Run `body` in a clone of the inputs' session with `settings`
    * applied to the clone only. The body gets `inputs` rebound to the
    * clone (their `sparkSession`); every other frame it reads must be
    * rebound too ([[rebind]]), or that frame plans with the caller's
    * settings. A `DataFrame` result is returned bound to the caller's
    * session, so a lazy result plans with the caller's settings, as any
    * frame built after the scope would. */
  def scoped[T](settings: Seq[(String, String)], inputs: Seq[DataFrame])(
      body: Seq[DataFrame] => T): T = {
    val caller = inputs.head.sparkSession
    val clone = clones.computeIfAbsent((caller, caller.conf.getAll, settings),
      _ => {
        val clone = SessionBridge.cloneSession(caller)
        settings.foreach { case (k, v) => clone.conf.set(k, v) }
        clone
      })
    clone.withActive(body(inputs.map(rebind(_, clone)))) match {
      case df: Dataset[_] => rebind(df.toDF(), caller).asInstanceOf[T]
      case other => other
    }
  }

  /** [[scoped]] under [[sizedBy]]`(inputs, factor)`. */
  def scopedByInputs[T](inputs: Seq[DataFrame], factor: Double = 1.0)(
      body: Seq[DataFrame] => T): T =
    scoped(sizedBy(inputs, factor), inputs)(body)

  /** `df`'s analyzed plan as a frame of `spark`, which then plans it
    * with its own conf; cached data is shared, so a cached or
    * checkpointed `df` is still read from its blocks. */
  def rebind(df: DataFrame, spark: SparkSession): DataFrame =
    if (df.sparkSession eq spark) df
    else DatasetBridge.ofRows(spark, df.queryExecution.analyzed)
}
