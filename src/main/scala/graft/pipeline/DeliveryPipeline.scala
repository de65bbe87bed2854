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
    val client = clientAllowlist.get(table)
    val latest = ChangeFeed.dedupLatest(changes, pk, versionCol)
    val projected = AllowlistProjection(latest, allowlistConfig, client)

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
