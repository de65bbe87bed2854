package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CDC change-feed emulation (S1/J1/T3/A4/W1).
  *
  * The reference's SQL trigger delivers batches of *current-row states* for
  * changed PKs — "not a change log; rather ... the current state of changed
  * rows" (/root/reference/README.md:5), produced by the change-tracking
  * infrastructure joining change versions back to the base table
  * (README.md:19-23).
  *
  * Spark-first shape: a change feed between two snapshots is a full-outer
  * join on the PK —
  *   - PK only in new  → Insert (payload = new row)
  *   - PK only in old  → Delete (payload = old row's key)
  *   - PK in both, any non-key column differs → Update (payload = new row)
  *   - identical → no change (dropped)
  * The join shuffles both sides by PK once; at 100 TB both snapshots are
  * typically partitioned/bucketed by PK already, so the exchange is avoided
  * or at worst a single co-partitioned sort-merge join. No driver-side state.
  */
object ChangeFeed {

  val OpInsert = "Insert"
  val OpUpdate = "Update"
  val OpDelete = "Delete"

  /** Column reference by LITERAL name: `col("a.b")` parses the dot as a
    * nested-field path, so generic operators over arbitrary schemas must
    * backtick-quote every data-driven name (a column legally named `a.b`
    * otherwise fails to resolve). */
  private[graft] def qcol(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  /** Snapshot diff → change batch with schema
    * `(Operation string, <pk cols>, <non-pk cols from the NEW snapshot;
    *   null for deletes>)`.
    * Both inputs must share a schema.
    */
  def diff(oldSnap: DataFrame, newSnap: DataFrame, pk: Seq[String]): DataFrame = {
    val dataCols = oldSnap.columns.filterNot(pk.contains).toSeq
    val o = oldSnap.select(oldSnap.columns.map(c => qcol(c).as(s"old_$c")).toIndexedSeq: _*)
    val n = newSnap.select(newSnap.columns.map(c => qcol(c).as(s"new_$c")).toIndexedSeq: _*)
    val joinCond = pk.map(k => qcol(s"old_$k") === qcol(s"new_$k")).reduce(_ && _)
    val joined = o.join(n, joinCond, "full_outer")

    val newPresent = qcol(s"new_${pk.head}").isNotNull
    val oldPresent = qcol(s"old_${pk.head}").isNotNull
    val anyDiff: Column =
      if (dataCols.isEmpty) lit(false)
      else dataCols
        .map(c => !(qcol(s"new_$c") <=> qcol(s"old_$c")))
        .reduce(_ || _)

    val op = when(newPresent && !oldPresent, OpInsert)
      .when(!newPresent && oldPresent, OpDelete)
      .when(anyDiff, OpUpdate)

    val keyCols = pk.map(k => coalesce(qcol(s"new_$k"), qcol(s"old_$k")).as(k))
    val payload = dataCols.map(c => qcol(s"new_$c").as(c))
    joined
      .select((op.as("Operation") +: (keyCols ++ payload)).toIndexedSeq: _*)
      .filter(col("Operation").isNotNull)
  }

  /** A4/W1/T3 — dedup-to-latest per key: at most one (latest by `version`)
    * row per PK, the delivery compaction semantics of README.md:5.
    *
    * Implemented as `max_by(payload, (version, tieBreak...))` aggregation
    * rather than the `row_number` window: an aggregation gets MAP-SIDE
    * partial combining, so the shuffle carries at most one row per key per
    * input partition (∝ distinct keys) instead of every row followed by a
    * per-key sort — the difference between shuffling the change log and
    * shuffling the compacted state at 100 TB. Struct ordering is
    * lexicographic, so ties on `version` break by the `tieBreak` columns,
    * matching the window formulation row-for-row.
    */
  def dedupLatest(df: DataFrame, pk: Seq[String], version: String,
                  tieBreak: Seq[String] = Seq.empty): DataFrame = {
    val cols = df.columns.toSeq
    val payloadCols = cols.filterNot(pk.contains)
    if (payloadCols.isEmpty) return df.distinct() // degenerate: key-only rows
    val ordering = struct((version +: tieBreak).map(qcol).toIndexedSeq: _*)
    df.groupBy(pk.map(qcol).toIndexedSeq: _*)
      .agg(max_by(struct(payloadCols.map(qcol).toIndexedSeq: _*), ordering).as("__row"))
      // getField takes a LITERAL field name (no path parsing), so payload
      // columns named e.g. "user.name" round-trip intact
      .select(cols.map(c =>
        if (pk.contains(c)) qcol(c) else col("__row").getField(c).as(c)).toIndexedSeq: _*)
  }

  /** Does `df` fit ONE task? True when the size estimate of its ANALYZED
    * plan is within the session's `spark.sql.autoBroadcastJoinThreshold`
    * — the limit Spark already uses to ship a whole relation to every
    * task, so no new knob; a threshold of -1 makes it false for every
    * frame. The analyzed plan is the one the frame already holds, so the
    * answer costs no optimizer pass; a snapshot scan's estimate is its
    * files' recorded bytes ([[graft.storage.SnapshotFileIndex]]). On the
    * delivery path's plans (scans, projections, filters, the dedup's
    * aggregate) the optimizer only prunes columns and rows, so the
    * analyzed estimate is never the smaller: the rule can only say no
    * where the optimized one said yes. A change batch that fits is one
    * or a few small files, which one task reads at no loss; a frame
    * Spark cannot size (an RDD) is estimated at
    * `spark.sql.defaultSizeInBytes`, by default too large to fit. */
  def fitsOneTask(df: DataFrame): Boolean = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    threshold >= 0 && df.queryExecution.analyzed.stats.sizeInBytes <= threshold
  }

  /** S9/F17 — serialize a change batch to the reference's wire shape:
    * one JSON object per row `{"Operation": ..., "Item": {...}}`
    * (HttpPostAction.cs:36 serializes the whole batch; we keep one document
    * per row so serialization stays distributed — the array assembly happens
    * in the sink, per partition, never on the driver).
    */
  def toJsonPayload(changes: DataFrame): DataFrame = {
    val itemCols = changes.columns.filterNot(_ == "Operation")
    // a batch that never went through diff() carries no Operation column;
    // latest-state delivery of an undiffed row is an upsert
    val op =
      if (changes.columns.contains("Operation")) col("Operation")
      else lit("Upsert").as("Operation")
    changes.select(
      to_json(
        struct(
          op,
          struct(itemCols.map(qcol).toIndexedSeq: _*).as("Item")
        )
      ).as("payload"))
  }
}
