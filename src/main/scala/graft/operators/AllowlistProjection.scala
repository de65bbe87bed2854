package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Column-allowlist projection — the reference's flagship operator.
  *
  * Reference semantics (/root/reference/SqlTriggerFunctions/ExecuteTriggerHelper.cs:38-115):
  *   - per table, a config allowlist and a client allowlist are unioned into
  *     one case-insensitive set (ExecuteTriggerHelper.cs:64-86);
  *   - if either exists, every row property NOT in the union is dropped
  *     (ExecuteTriggerHelper.cs:89-113);
  *   - no allowlist at all ⇒ rows pass through untouched
  *     (ExecuteTriggerHelper.cs:67,99);
  *   - matching is case-insensitive (StringComparer.OrdinalIgnoreCase,
  *     ExecuteTriggerHelper.cs:69).
  *
  * Spark-first design: rather than mutating row objects per record (the
  * reference iterates JSON properties), we express the allowlist as a plain
  * `select`. Catalyst's ColumnPruning pushes it into the parquet scan
  * (`ReadSchema` shows only the allowed columns) through operators that
  * need no dropped column, but not through one that reads them all — an
  * aggregate over a struct of every column, like the dedup-to-latest's
  * `max_by`, keeps them. A caller that dedups projects first: see
  * `graft.pipeline.DeliveryPipeline`.
  */
object AllowlistProjection {

  /** P2 — parse "a, b ,,c" → Seq(a, b, c): comma-split, trim, drop empties.
    * (ClientAllowedColumnsFunction.cs:58-65) */
  def parseAllowlist(config: String): Seq[String] =
    if (config == null) Seq.empty
    else config.split(",", -1).iterator.map(_.trim).filter(_.nonEmpty).toSeq

  /** P4 — strip square brackets from SQL-style identifiers:
    * "[dbo].[Tbl]" → "dbo.Tbl". (ClientAllowedColumnsFunction.cs:21,49) */
  def normalizeTableName(name: String): String =
    name.replace("[", "").replace("]", "")

  /** P3 — the reference skips an allowlist source when its config string is
    * null or whitespace (ExecuteTriggerHelper.cs:51,59). */
  private def nonBlank(s: Option[String]): Option[String] =
    s.filter(v => v != null && v.trim.nonEmpty)

  /** U1 — union of config + client allowlists into one case-insensitive set.
    * Returns None when neither source is present (pass-through signal).
    * (ExecuteTriggerHelper.cs:64-86) */
  def unionAllowlists(config: Option[String], client: Option[String]): Option[Seq[String]] = {
    val parts = Seq(config, client).flatMap(nonBlank).map(parseAllowlist)
    if (parts.isEmpty) None
    else {
      // preserve first-seen casing, dedup case-insensitively
      val seen = scala.collection.mutable.LinkedHashMap.empty[String, String]
      parts.flatten.foreach(c => seen.getOrElseUpdate(c.toLowerCase, c))
      Some(seen.values.toSeq)
    }
  }

  /** P1 — apply an allowlist to a DataFrame. Case-insensitive column match;
    * allowlisted names with no matching column are ignored (the reference
    * only ever *removes* properties, never invents them); None ⇒ pass-through.
    */
  def project(df: DataFrame, allowlist: Option[Seq[String]]): DataFrame =
    allowlist match {
      case None => df
      case Some(allowed) =>
        val lower = allowed.map(_.toLowerCase).toSet
        val keep = df.columns.filter(c => lower.contains(c.toLowerCase))
        df.select(keep.map(col).toIndexedSeq: _*)
    }

  /** Convenience: full reference path — union the two sources then project. */
  def apply(df: DataFrame, config: Option[String], client: Option[String]): DataFrame =
    project(df, unionAllowlists(config, client))
}
