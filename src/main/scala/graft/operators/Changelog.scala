package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Changelog / CDC operators: collapse an append-only event log into
  * current state (upsert compaction) and into SCD-2 validity intervals
  * — the two shapes every warehouse ingestion pipeline runs on top of
  * a log-structured source (reference analogue: the SDFS replica log's
  * last-writer-wins reconciliation, `mp3/src/sdfs.go` — same
  * latest-record-by-ordered-key semantics, here over table rows).
  */
object Changelog {

  /** Latest record per key from an append-only changelog, decided by
    * the total order (tsCol, idCol) — last-writer-wins with a unique
    * tie-break, so the result is deterministic even when one key
    * writes twice in the same timestamp grain.
    *
    * Shape, chosen for the 100-TB regime: the obvious spellings are
    * all sort-shaped — `max_by`/`max(struct(...))` buffer a struct, so
    * HashAggregate rejects them and Spark SORT-aggregates the full
    * log; a window `row_number() = 1` sorts every key's history inside
    * one shuffle. Instead the winner is decided by a plain `max` over
    * ONE DECIMAL(38,0) that packs `ts_micros * idSpace + id` — an
    * order-isomorphic key, so max(packed) ≡ max_by(ts, id) — which
    * keeps the aggregate a pure HashAggregate with map-side partial
    * combine: each input partition ships one packed value per key it
    * saw, O(keys) through the shuffle, nothing sorted. Winners then
    * decode `id = packed % idSpace` and join back to the log by the
    * UNIQUE id (equi-join, broadcast-able when the compacted dimension
    * is small) to recover the payload columns. The fat payload rows
    * cross the network once either way; this shape trades the window's
    * full-history sort for a hash probe, and wins big under hot keys
    * (map-side combine collapses a skewed key's history before it
    * ever leaves the mapper — the window form ships and sorts all of
    * it in one task).
    *
    * Preconditions — both enforced in-plan via `assert_true`, so a
    * violating row fails the job loudly instead of silently corrupting
    * the packing: `0 <= id < idSpace`, and ts_micros non-negative
    * (epoch times; packing is order-isomorphic only when both factors
    * are non-negative).
    */
  /** The order-isomorphic DECIMAL(38,0) packing `ts_micros * idSpace +
    * id` shared by [[compactLatest]] and [[Temporal.ohlcBars]]: for
    * non-negative micros and `0 <= id < idSpace`, comparing packed
    * values IS comparing (ts, id) lexicographically, so plain
    * `min`/`max` become `arg-first`/`arg-last` without a sort-
    * aggregating struct or a window. Preconditions are enforced
    * in-plan via `assert_true` — a violating row fails the job loudly
    * instead of silently corrupting the order.
    */
  def packedOrderKey(tsCol: String, idCol: String, idSpace: Long): Column = {
    require(idSpace > 0)
    val dec = DecimalType(38, 0)
    val micros = unix_micros(col(tsCol))
    val packed = micros.cast(dec) * lit(idSpace).cast(dec) + col(idCol).cast(dec)
    when(assert_true(col(idCol) >= 0 && col(idCol) < idSpace &&
      micros >= 0).isNull, packed)
  }

  def compactLatest(log: DataFrame, keys: Seq[String], tsCol: String,
                    idCol: String, payload: Seq[String],
                    idSpace: Long = 10000000000L): DataFrame = {
    require(keys.nonEmpty && idSpace > 0)
    val dec = DecimalType(38, 0)
    val guarded = log.withColumn("__pk", packedOrderKey(tsCol, idCol, idSpace))
    val winners = guarded
      .groupBy(keys.map(col): _*)
      .agg(max(col("__pk")).as("__win"))
      .select((col("__win") % lit(idSpace).cast(dec)).cast("long").as(idCol))
    log.join(winners, Seq(idCol))
      .select((keys ++ Seq(tsCol, idCol) ++ payload).map(col): _*)
  }

  /** [[compactLatest]] under delete tombstones — the full CDC contract
    * (Debezium-style streams, Kafka compacted topics): each record
    * carries an operation column, and a key whose LATEST record (by the
    * same (tsCol, idCol) total order) is a delete is absent from the
    * compacted state entirely. A delete followed by a later re-insert
    * resurrects the key with the newer payload — tombstones only win
    * while they are the last word.
    *
    * Shape: the tombstone filter runs AFTER the packed-max aggregate,
    * on the O(keys) winner relation — a dead key's entire history still
    * collapses map-side inside the same HashAggregate, so deletes cost
    * nothing extra through the shuffle (the naive "filter deletes
    * first" spelling is WRONG, not just slower: it would resurrect the
    * pre-delete record). `opCol` must be non-null on every row; a null
    * op fails the same in-plan `assert_true` guard as a packing
    * violation rather than silently choosing a side.
    */
  def compactWithDeletes(log: DataFrame, keys: Seq[String], tsCol: String,
                         idCol: String, payload: Seq[String], opCol: String,
                         deleteOp: String,
                         idSpace: Long = 10000000000L): DataFrame = {
    val guarded = log.withColumn(opCol,
      when(assert_true(col(opCol).isNotNull).isNull, col(opCol)))
    compactLatest(guarded, keys, tsCol, idCol, payload :+ opCol, idSpace)
      .filter(col(opCol) =!= lit(deleteOp))
      .select((keys ++ Seq(tsCol, idCol) ++ payload).map(col): _*)
  }

  /** SCD-2 (slowly-changing-dimension type 2) interval build: collapse
    * the changelog to its STATE TRANSITIONS (drop rows whose state
    * equals the key's previous state), then stamp each surviving row
    * with its validity interval `[valid_from, valid_to)` — `valid_to`
    * is the next transition's timestamp, null on the current row, and
    * `is_current` marks the open interval.
    *
    * One shuffle: both window passes (the lag that detects
    * transitions, the lead that closes intervals) and the filter
    * between them share the (keys | tsCol, idCol) partitioning and
    * sort order, so Catalyst plans a single Exchange and reuses the
    * sort. State comparison is null-safe (`<=>`): a log whose first
    * state is null still opens an interval, and null→X / X→null count
    * as transitions.
    */
  def scd2Intervals(log: DataFrame, keys: Seq[String], tsCol: String,
                    idCol: String, stateCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(idCol))
    val transitions = log
      .withColumn("__prev", lag(col(stateCol), 1).over(w))
      .withColumn("__first", row_number().over(w) === 1)
      .filter(col("__first") || !(col(stateCol) <=> col("__prev")))
    transitions
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select((keys ++ Seq(idCol, stateCol)).map(col) ++
        Seq(col("valid_from"), col("valid_to"), col("is_current")): _*)
  }
}
