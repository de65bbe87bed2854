package graft.pipeline

import graft.operators.{AllowlistProjection, ChangeFeed, RetryPolicy}
import graft.sinks.{DataSyncAction, SinkOutcome}
import graft.state.{KVStore, LeaseStore}
import org.apache.spark.sql.DataFrame
import java.sql.Timestamp

/** The reference's data-path entry point (SURVEY.md §3.1) as one composed
  * API: change batch → dedup-to-latest → allowlist projection → sink action,
  * with the reference's failure protocol on the way out:
  *
  *   - sink outcome classified retryable / non-retryable
  *     (HttpPostAction.cs:67-83, ExecuteTriggerHelper.cs:123-126);
  *   - LastError entity updated on every failure
  *     (ExecuteTriggerHelper.cs:128-131) — here a KVStore keyed by table;
  *   - lease attempt count incremented; checkpoint only advances on success
  *     (README.md:19-23) — the caller (batch loop or foreachBatch body)
  *     rethrows on failure so offsets stay uncommitted;
  *   - retryable failures hand off to the retry scheduler, non-retryable to
  *     the notify path (ExecuteTriggerHelper.cs:133-154).
  *
  * Only driver-side scalars cross out of the executors (the SinkOutcome);
  * every data transformation is a DataFrame op.
  *
  * One-task rule: a batch that [[ChangeFeed.fitsOneTask]] (its analyzed
  * plan's size estimate — for a change-feed frame, the recorded bytes of
  * its files — is within `spark.sql.autoBroadcastJoinThreshold`; deciding
  * runs no optimizer pass over the batch) is coalesced to one partition
  * before the dedup. One partition already satisfies the
  * dedup's clustering, so no exchange is planned, and scan, dedup,
  * allowlist projection and JSON serialization run as ONE Spark job — the
  * reference's 500-row batch (`Sql_Trigger_MaxBatchSize`) is one small
  * file, which a shuffle could only slow down. Above the threshold (or with
  * it at -1) the rule is inert and the dedup plans its shuffle as before.
  */
final class DeliveryPipeline(
    table: String,
    pk: Seq[String],
    versionCol: String,
    allowlistConfig: Option[String],
    clientAllowlist: KVStore,      // the AllowedColumns entity (S4)
    lastError: KVStore,            // the LastError entity (S7/O3)
    lease: LeaseStore,             // attempt counts (S3/S8)
    sink: DataSyncAction,
    sinkParams: Map[String, String]) {

  sealed trait Disposition
  case object Delivered extends Disposition
  case class RetryScheduled(outcome: SinkOutcome) extends Disposition
  case class NotifyRequired(outcome: SinkOutcome) extends Disposition

  /** Process one change batch. `now` injectable for tests. */
  def deliver(changes: DataFrame,
              now: Timestamp = new Timestamp(System.currentTimeMillis())): Disposition = {
    // the client allowlist's pointer is re-read every batch
    // (ExecuteTriggerHelper.cs:49 reads the entity per invocation); an answer
    // is reused only at the same snapshot version
    val allowlist = AllowlistProjection.unionAllowlists(allowlistConfig,
      clientAllowlist.get(table))
    val batch = if (ChangeFeed.fitsOneTask(changes)) changes.coalesce(1) else changes
    // the dedup's max_by(struct(every payload column)) reads every column
    // it is given, so the allowlist's projection cannot be pruned through
    // it: narrow to the delivered columns plus the dedup's key and version
    // first, then drop those two unless allowlisted
    val narrowed = AllowlistProjection.project(batch,
      allowlist.map(_ ++ pk :+ versionCol))
    val latest = ChangeFeed.dedupLatest(narrowed, pk, versionCol)
    val projected = AllowlistProjection.project(latest, allowlist)

    val outcome = sink.executeAction(projected, sinkParams)
    if (outcome.success) {
      // a lease already at 0 is left as it is: only its updated_at would
      // change, and nothing reads that
      if (!lease.attemptCount(table).contains(0)) lease.setAttemptCount(table, 0, now)
      Delivered
    } else {
      lastError.save(table, outcome.markerString, now)
      val attempts = lease.attemptCount(table).getOrElse(0) + 1
      lease.setAttemptCount(table, attempts, now)
      if (outcome.retryable && RetryPolicy.allowsRetry(outcome.markerString))
        RetryScheduled(outcome)
      else
        NotifyRequired(outcome)
    }
  }
}
