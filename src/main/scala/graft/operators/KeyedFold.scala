package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The fold algebra every maintained index member shares. Member rows
  * are per-key facts (a doc's tf/dl/positions, a vector's code, a
  * query's registration, a term's variants), so a fold removes keys
  * and unions fresh rows: [[removeByKey]] then `unionByName`. Counts
  * keyed by term or hash (df, hashCnt) fold by [[mergeCounts]]. The
  * reference keeps delivery state the same way: per-file markers are
  * facts, and the sent count is derived from them (SURVEY.md §7.3). */
object KeyedFold {

  /** The delete side of a fold, narrowed to `key` and hinted
    * broadcast: it is bounded by the maintenance batch while the base
    * side is member-sized, so the hint keeps the base unshuffled and
    * skips the AQE re-plan wave a runtime conversion would cost. Every
    * member fold reaches the hint through here. */
  def deleteSide(deleted: DataFrame, key: String): DataFrame =
    broadcast(deleted.select(col(key)))

  /** `base` without the rows whose `key` appears in `deleted`.
    * Idempotent, and a no-op for keys never present. */
  def removeByKey(base: DataFrame, deleted: DataFrame,
      key: String): DataFrame =
    base.join(deleteSide(deleted, key), Seq(key), "left_anti")

  /** Signed count merge: the (key, count) deltas unioned, summed per
    * key, and keys whose sum is ≤ 0 dropped (a term no live doc
    * contains must not linger with df = 0). Removal passes negated
    * counts; merge and upsert pass positive ones. */
  def mergeCounts(key: String, count: String,
      deltas: DataFrame*): DataFrame =
    deltas.map(_.select(col(key), col(count))).reduce(_.unionByName(_))
      .groupBy(col(key)).agg(sum(col(count)).as(count))
      .filter(col(count) > 0)
}
