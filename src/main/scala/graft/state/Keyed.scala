package graft.state

import graft.Intervals
import org.apache.spark.sql.{DataFrame, Encoders, KeyValueGroupedDataset, Row}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import org.apache.spark.sql.types.StructType

/** The Row-keyed grouping every keyed-state kernel starts from. */
private[graft] object Keyed {

  /** Group `df` by a Row of its `keys` columns (the key encoder is built
    * from their schema, so any key type works and a null key stays a
    * distinct group).
    */
  def byKey(df: DataFrame, keys: Seq[String]): KeyValueGroupedDataset[Row, Row] = {
    val idx = keys.map(df.schema.fieldIndex)
    df.groupByKey((r: Row) => Row.fromSeq(idx.map(r.get)))(
      Encoders.row(StructType(keys.map(df.schema(_)))))
  }
}

/** Idle-key retention for the `flatMapGroupsWithState` kernels — Kafka's
  * store `retention.ms` (`Materialized` `:withRetention`, `eval.clj:208`)
  * as one rule: watermark the input by the retention, use an event-time
  * timeout, and after each update arm the key's timer at
  * `max(maxEventMs + retention, watermark + 1)`; a key whose timer fires is
  * removed, and a later record re-creates it as if first seen.
  *
  * The rule is active only when a retention is set AND the input streams.
  * A batch timeout never fires, so in batch every method is the identity
  * (no watermark, `NoTimeout`, no timer) and batch outputs do not depend
  * on the retention. Each kernel still decides when it holds state — and
  * so when it calls [[arm]].
  */
private[graft] final case class Retention(interval: Option[String],
                                          isStreaming: Boolean) {
  val active: Boolean = interval.isDefined && isStreaming
  // parsed in both modes, so a malformed interval fails in batch too
  private val ms = interval.map(Intervals.toMillis).getOrElse(0L)

  def watermark(df: DataFrame, eventTime: Option[String]): DataFrame =
    if (active) df.withWatermark(eventTime.get, interval.get) else df

  def timeout: GroupStateTimeout =
    if (active) GroupStateTimeout.EventTimeTimeout
    else GroupStateTimeout.NoTimeout

  /** Run a kernel body for one key, unless the key's timer fired: then its
    * state is removed and nothing is emitted.
    */
  def unlessEvicted[O](state: GroupState[_])(body: => Iterator[O]): Iterator[O] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty } else body

  /** Arm the eviction timer after an update; `maxEventMs` is the newest
    * event time of the key's rows in this batch ([[Intervals.NoEventTime]]
    * when none carried one). Evaluated only while active.
    */
  def arm(state: GroupState[_], maxEventMs: => Long): Unit =
    if (active) state.setTimeoutTimestamp(
      math.max(maxEventMs + ms, state.getCurrentWatermarkMs() + 1L))
}
