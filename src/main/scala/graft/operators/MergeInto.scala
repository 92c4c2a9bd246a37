package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CDC apply / latest-wins merge (the MERGE INTO every incremental 100 TB
  * pipeline runs between full rewrites): fold a batch of keyed change rows
  * — upserts and deletes, possibly several versions per key — into a base
  * table.
  *
  * Shape chosen for scale:
  *  - the newest change per key comes from ONE hash aggregation
  *    (`max_by(struct(payload), version)`) — map-side combined, no window
  *    sort over the change stream;
  *  - the base is touched by a single LEFT ANTI join on the key set; a
  *    typical CDC batch is small next to the base, so Spark broadcasts the
  *    aggregated key set and the base never shuffles (the common case) —
  *    with a huge batch both sides shuffle on the key, which is the
  *    correct plan at that volume anyway;
  *  - result = untouched base rows ∪ surviving (non-delete) newest changes,
  *    projected to the base schema.
  *
  * Precondition: `version` is strictly monotonic per key within a batch
  * (equal versions make "newest" ambiguous — max_by would pick
  * arbitrarily). The caller owns version assignment; CDC sources provide
  * log offsets/commit timestamps that satisfy this.
  */
object MergeInto {

  /** @param base        current table state
    * @param changes     base columns + `version` + `deleteFlag`
    * @param key         equality key column name
    * @param version     per-key ordering column in `changes`
    * @param deleteFlag  boolean column in `changes`: true = delete the key
    */
  def applyChanges(base: DataFrame, changes: DataFrame, key: String,
      version: String, deleteFlag: String): DataFrame = {
    val payload = base.columns // result schema = base schema
    val packed = struct(col(deleteFlag) +: payload.toIndexedSeq.map(col): _*)
    val latest = changes
      .groupBy(col(key).as("__merge_key"))
      .agg(max_by(packed, col(version)).as("__newest"))
    val survivors = latest
      .filter(!col(s"__newest.$deleteFlag"))
      .select(payload.toIndexedSeq.map(c => col(s"__newest.$c").as(c)): _*)
    val untouched = base.join(
      latest.select(col("__merge_key")), col(key) === col("__merge_key"), "left_anti")
    untouched.unionByName(survivors)
  }
}
