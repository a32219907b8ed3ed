package graft.state

import graft.Intervals
import graft.ast.JoinHow
import graft.compile.KFrame
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, OutputMode}
import org.apache.spark.sql.types.{StructField, StructType}

/** KTable (changelog) kernels for streaming mode — SURVEY §7.5 risk #1:
  * Spark update-mode aggregates cannot feed further stateful operators, so
  * KTable semantics run as flatMapGroupsWithState kernels that emit upsert
  * rows in Append mode (chainable). Tombstones (null-valued records, SURVEY
  * §2.10) delete state and emit a null-value row downstream.
  *
  * State lifecycle: KTable keys legitimately live forever (Kafka's
  * compacted topics), so the default is no timeout — but Kafka also lets a
  * store declare `retention.ms`, and `:withRetention` plumbs through here
  * as the shared [[Retention]] rule: a key idle past the retention is
  * evicted (its state removed; a later record re-creates it as new). The
  * two joins read one tagged changelog ([[changelog]]) and differ only in
  * their per-key fold.
  */
object TableKernels {

  /** Latest-value-per-key over a keyed record stream — the `:table` source
    * semantics (`eval.clj:72`): each input batch updates per-key state with
    * the record of highest `orderCol` (the Kafka-offset analog); changed
    * keys re-emit their full row. With `retention`, keys idle past the
    * interval are evicted (needs the frame's eventTime column).
    */
  def latestPerKey(f: KFrame, orderCol: String,
                   retention: Option[String] = None): DataFrame = {
    require(retention.isEmpty || f.eventTime.isDefined,
      ":withRetention on a table needs an event-time column (Consumed.eventTime)")
    val ret = Retention(retention, f.df.isStreaming)
    val schema = f.df.schema
    val ordIdx = schema.fieldIndex(orderCol)
    val tsIdx = f.eventTime.map(schema.fieldIndex).getOrElse(-1)
    val oEnc = Encoders.row(schema)
    def ord(r: Row): Comparable[Any] =
      r.get(ordIdx).asInstanceOf[Comparable[Any]]
    // Append mode: emissions are upsert *events* on the changelog — and
    // only Append-mode FMGWS operators may chain (table → table-join → ...).
    Keyed.byKey(ret.watermark(f.df, f.eventTime), f.keys)
      .flatMapGroupsWithState(OutputMode.Append, ret.timeout) {
        (_: Row, it: Iterator[Row], state: GroupState[Row]) =>
          ret.unlessEvicted(state) {
            val rows = it.toArray
            val best = (state.getOption.iterator ++ rows.iterator)
              .reduce((a, b) => if (ord(a).compareTo(ord(b)) >= 0) a else b)
            val changed = !state.getOption.contains(best)
            state.update(best)
            ret.arm(state, rows.iterator.map(r => Intervals.millis(r.get(tsIdx))).max)
            if (changed) Iterator.single(best) else Iterator.empty
          }
      }(oEnc, oEnc)
      .toDF()
  }

  /** Both sides of a keyed join as ONE changelog, ordered by column:
    * the key columns (the right's renamed to the left's names), `__side`
    * (0 left, 1 right), the side's values as struct `__l` or `__r` (null
    * on the other side's rows) and `__ts`. Right value columns clashing
    * with a left key or value get a `_r` suffix — the batch join path's
    * disambiguation. `__ts` is each side's RAW event-time attribute (an
    * alias keeps the watermark metadata; any expression over it would
    * strip it and EventTimeTimeout analysis rejects the plan), a null
    * timestamp while the retention is inactive.
    */
  private final case class Changelog(df: DataFrame, keySchema: StructType,
                                     lStruct: StructType, rStruct: StructType) {
    def outSchema: StructType = StructType(keySchema ++ lStruct ++ rStruct)
  }

  private def changelog(lf: KFrame, lVals: Seq[String], rf: KFrame,
                        ret: Retention, kind: String): Changelog = {
    require(lf.keys.size == rf.keys.size, "join key arity mismatch")
    require(ret.interval.isEmpty ||
        (lf.eventTime.isDefined && rf.eventTime.isDefined),
      s":withRetention on a $kind join needs event time on both sides")
    val keys = lf.keys
    val rename = rf.keys.zip(keys)
    val lDf = ret.watermark(lf.df, lf.eventTime)
    val rKeyed = rename.foldLeft(ret.watermark(rf.df, rf.eventTime)) {
      case (d, (rk, lk)) => if (rk == lk) d else d.withColumnRenamed(rk, lk)
    }
    val taken = (keys ++ lVals).toSet
    val rDf = rf.valueCols.foldLeft(rKeyed)((d, c) =>
      if (taken.contains(c)) d.withColumnRenamed(c, s"${c}_r") else d)
    val rVals = rf.valueCols.map(c => if (taken.contains(c)) s"${c}_r" else c)
    val lStruct = StructType(lVals.map(lDf.schema(_)))
    val rStruct = StructType(rVals.map(rDf.schema(_)))
    // the right event time is never a value column, so only a key rename
    // can have moved it
    val rTs = rf.eventTime.map(t => rename.toMap.getOrElse(t, t))
    def ts(d: DataFrame, t: Option[String]) =
      if (ret.active) d.col(t.get).as("__ts")
      else lit(null).cast("timestamp").as("__ts")
    val lTagged = lDf.select(keys.map(lDf.col) :+ lit(0).as("__side") :+
      struct(lVals.map(lDf.col): _*).as("__l") :+
      lit(null).cast(rStruct).as("__r") :+ ts(lDf, lf.eventTime): _*)
    val rTagged = rDf.select(keys.map(rDf.col) :+ lit(1).as("__side") :+
      lit(null).cast(lStruct).as("__l") :+
      struct(rVals.map(rDf.col): _*).as("__r") :+ ts(rDf, rTs): _*)
    Changelog(lTagged.unionByName(rTagged),
      StructType(keys.map(lf.df.schema(_))), lStruct, rStruct)
  }

  /** KTable ⋈ KTable on primary key (SURVEY §2.4, the hardest mapping):
    * hold latest-left/latest-right per key in state, emit the joined row
    * whenever either side updates. Emission honors inner/left/full-outer
    * null semantics. With `retention`, a key with no update from EITHER
    * side for the interval is evicted (both sides' watermarks feed the
    * eviction clock; a later update re-creates the key as if first seen).
    */
  def tableTableJoin(lf: KFrame, rf: KFrame, how: JoinHow,
                     retention: Option[String] = None): DataFrame = {
    val ret = Retention(retention, lf.df.isStreaming)
    val log = changelog(lf, lf.valueCols, rf, ret, "table-table")
    val n = lf.keys.size
    val (lNull, rNull) =
      (Seq.fill(log.lStruct.size)(null), Seq.fill(log.rStruct.size)(null))
    // state = (latestLeft, latestRight) as an explicit struct row: UnsafeRow
    // state (smaller + faster than an opaque kryo blob) whose schema is
    // visible in the checkpoint — long-lived checkpoints survive code
    // changes that a serialized-class format would break on
    val sEnc = Encoders.row(StructType(Seq(
      StructField("l", log.lStruct), StructField("r", log.rStruct))))
    Keyed.byKey(log.df, lf.keys)
      .flatMapGroupsWithState(OutputMode.Append, ret.timeout) {
        (k: Row, it: Iterator[Row], state: GroupState[Row]) =>
          ret.unlessEvicted(state) {
            val st = state.getOption.orNull
            var l = if (st == null) null else st.getStruct(0)
            var r = if (st == null) null else st.getStruct(1)
            var maxTs = Intervals.NoEventTime
            it.foreach { row =>
              maxTs = math.max(maxTs, Intervals.millis(row.get(n + 3)))
              if (row.getInt(n) == 0) l = row.getStruct(n + 1)
              else r = row.getStruct(n + 2)
            }
            state.update(Row(l, r))
            ret.arm(state, maxTs)
            val ok = how match {
              case JoinHow.Inner => l != null && r != null
              case JoinHow.Left => l != null
              case JoinHow.Outer => l != null || r != null
            }
            if (ok) Iterator.single(Row.fromSeq(k.toSeq ++
              (if (l == null) lNull else l.toSeq) ++
              (if (r == null) rNull else r.toSeq)))
            else Iterator.empty
          }
      }(sEnc, Encoders.row(log.outSchema))
      .toDF(log.outSchema.fieldNames: _*)
  }

  /** KStream ⋈ KTable enrichment in streaming mode: Kafka's point-in-time
    * lookup of the table's CURRENT value per stream record. A plain equi-join
    * against the table changelog would match every historical upsert of the
    * key (round 1's latent bug, fixed here): instead, hold the latest table
    * value per key in state, and emit one enriched row per stream record.
    * Within a micro-batch, table updates apply before stream rows
    * (documented divergence: Kafka interleaves by timestamp; Spark batches
    * give no intra-batch order). A table record whose value columns are all
    * null is a tombstone → deletes state. `how` is inner or left (Kafka
    * defines no outer stream-table join). With `retention`, a table key
    * receiving no update or stream probe for the interval is evicted —
    * later stream rows see it as absent (null enrichment on left joins,
    * dropped on inner) until the table re-upserts.
    */
  def streamTableJoin(sf: KFrame, rf: KFrame, how: JoinHow,
                      retention: Option[String] = None): DataFrame = {
    if (how == JoinHow.Outer) throw new IllegalArgumentException(
      "stream-table joins are inner or left (Kafka defines no outer)")
    val ret = Retention(retention, sf.df.isStreaming)
    // stream payload = event time + value columns (keys travel separately)
    val log = changelog(sf, sf.eventTime.toSeq ++ sf.valueCols, rf, ret,
      "stream-table")
    val n = sf.keys.size
    val rNull = Seq.fill(log.rStruct.size)(null)
    // state: the latest table value, a struct row
    Keyed.byKey(log.df, sf.keys)
      .flatMapGroupsWithState(OutputMode.Append, ret.timeout) {
        (k: Row, it: Iterator[Row], state: GroupState[Row]) =>
          ret.unlessEvicted(state) {
            var table = state.getOption.orNull
            var maxTs = Intervals.NoEventTime
            val streamRows = scala.collection.mutable.ArrayBuffer.empty[Row]
            it.foreach { row =>
              maxTs = math.max(maxTs, Intervals.millis(row.get(n + 3)))
              if (row.getInt(n) == 1) {
                val v = row.getStruct(n + 2)
                // tombstone = all value columns null → delete
                table = if (v == null || v.toSeq.forall(_ == null)) null else v
              } else streamRows += row.getStruct(n + 1)
            }
            if (table == null) state.remove()
            else { state.update(table); ret.arm(state, maxTs) }
            if (table == null && how == JoinHow.Inner) Iterator.empty
            else {
              val t = if (table == null) rNull else table.toSeq
              streamRows.iterator.map(s => Row.fromSeq(k.toSeq ++ s.toSeq ++ t))
            }
          }
      }(Encoders.row(log.rStruct), Encoders.row(log.outSchema))
      .toDF(log.outSchema.fieldNames: _*)
  }
}
