package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Set-oriented re-expression of the reference's keyed sink semantics
  * (reference: ingest/db_handler.py:136-256).
  *
  * The reference does per-row `INSERT ... ON CONFLICT` round-trips (an N+1
  * anti-pattern — main.py:265-297); at scale these become set operations with
  * exactly one shuffle each:
  *
  *   - D1 upsert / last-writer-wins (ON CONFLICT DO UPDATE,
  *     ingest/db_handler.py:180-187): the keyed last-row fold
  *     [[lastRowPerKey]] — one `max_by` aggregate per key — keeps the
  *     highest-precedence row.
  *   - D2 insert-if-absent (ON CONFLICT DO NOTHING, ingest/db_handler.py:237-245):
  *     left_anti join then append.
  *   - J1 skip-existing probe (ingest/db_handler.py:326-344): the same
  *     anti-join, returning only the would-be-inserted rows.
  *
  * All three shuffle on the key only; when `existing` is small Catalyst
  * broadcasts it and the anti-join is shuffle-free.
  */
object Upsert {

  /** The keyed last-row fold: per `keys`, the one row whose `order`
    * columns are lexicographically greatest, in the input's column order.
    * `max_by` with a struct comparator is rank 1 of a window ordered by
    * `order` descending, but as ONE hash aggregate: the partial combine
    * keeps a single winner per key map-side, and the reduce side needs no
    * per-partition sort the way a window does — the same single shuffle,
    * strictly less work at every scale. Names are quoted, so a column
    * named with a dot or a space is a column, not a field path. Give
    * `order` a tiebreak that is unique per key, or equal-order rows pick a
    * winner by arrival. Last-writer-wins, CDC apply (`d5_cdc_apply`,
    * `Engine.cdcApply`) and the st12 streaming merge run it.
    */
  def lastRowPerKey(df: DataFrame, keys: Seq[String], order: Seq[String]): DataFrame = {
    def quoted(c: String) = "`" + c.replace("`", "``") + "`"
    def q(c: String) = col(quoted(c))
    val others = df.columns.filterNot(keys.contains).toSeq
    df.groupBy(keys.map(q): _*)
      .agg(max_by(struct(others.map(q): _*), struct(order.map(q): _*)).as("__last"))
      .select(df.columns.map(c =>
        if (keys.contains(c)) q(c) else col(s"__last.${quoted(c)}").as(c)).toSeq: _*)
  }

  /** D1: merge `updates` into `base`; on key conflict the row with the higher
    * `precedence` value wins (ties broken by `tiebreak` descending so the
    * result is deterministic).
    */
  def lastWriterWins(
      base: DataFrame,
      updates: DataFrame,
      key: String,
      precedence: String,
      tiebreak: String): DataFrame =
    lastRowPerKey(base.unionByName(updates), Seq(key), Seq(precedence, tiebreak))

  /** J1: rows of `incoming` whose key is absent from `existing`. */
  def skipExisting(incoming: DataFrame, existing: DataFrame, key: String): DataFrame =
    incoming.join(existing.select(key).distinct(), Seq(key), "left_anti")

  /** D2: `existing` plus the not-yet-present rows of `incoming`. */
  def insertIfAbsent(incoming: DataFrame, existing: DataFrame, key: String): DataFrame =
    existing.unionByName(skipExisting(incoming, existing, key))
}
