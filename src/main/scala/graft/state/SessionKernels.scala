package graft.state

import graft.Intervals
import graft.Intervals.fromMicros
import graft.ast.SessionAggregateOp
import graft.compile.{Env, KFrame}
import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.streaming.{GroupState, OutputMode}
import org.apache.spark.sql.types.{StructField, StructType, TimestampType}

/** Session windows over arbitrary user aggregation functions — SURVEY §7.5
  * risk #4: Spark's `session_window` only composes with declarative
  * aggregates, but the reference's session path is init/aggregator/MERGER
  * lambdas over opaque state (`eval.clj:265-278`, session stores
  * `eval.clj:220,224`). This kernel owns the gap logic so the user's merger
  * runs when a late/bridging record fuses two sessions — the exact case the
  * `:merger` SAM interface exists for.
  *
  * Batch: per key, event-time order, gap split, fold. Streaming:
  * flatMapGroupsWithState holding open sessions; each batch assigns records
  * to sessions, merges overlapping ones with the user merger, and emits
  * updated session snapshots (Append events on the session changelog —
  * chainable like the other kernels).
  */
object SessionKernels extends Serializable {

  def run[B](op: SessionAggregateOp[B], env: Env): KFrame = {
    val f = UserAggregates.groupedOf(op.grouped, env)
    val ts = f.eventTime.getOrElse(
      throw new IllegalArgumentException("session aggregate needs event time"))
    val gapUs = Intervals.toMillis(op.gap) * 1000L
    val keyNames = f.keys
    val outSchema = StructType(
      StructType(keyNames.map(f.df.schema(_))) ++
      Seq(StructField("session_start", TimestampType),
          StructField("session_end", TimestampType)) ++
      op.outSchema)
    val oEnc = Encoders.row(outSchema)
    val tsIdx = f.df.schema.fieldIndex(ts)
    val (init, step, merge, finish) =
      (op.initializer, op.aggregator, op.merger, op.finisher)

    def emitRow(k: Row, s: Session): Row = Row.fromSeq(
      k.toSeq ++ Seq(fromMicros(s.start), fromMicros(s.end)) ++
      finish(s.buf.asInstanceOf[B]).toSeq)

    /** Insert one record into the open-session list, merging via the user
      * merger when it bridges sessions. Sessions kept sorted by start.
      */
    def insert(sessions: List[Session], t: Long, row: Row): List[Session] = {
      val nb = step(init(), row)
      val fresh = Session(t, t + gapUs, nb)
      // strict overlap: a record exactly `gap` after a session's last event
      // opens a NEW session (session end is exclusive — same boundary rule
      // as Spark's session_window and the agg_session oracle)
      val (overlap, rest) = sessions.partition(s =>
        s.start < fresh.end && fresh.start < s.end)
      val merged = overlap.foldLeft(fresh)((a, s) => Session(
        math.min(a.start, s.start), math.max(a.end, s.end),
        merge(s.buf.asInstanceOf[B], a.buf.asInstanceOf[B])))
      (merged :: rest).sortBy(_.start)
    }

    /** [[insert]] at the row's event time; a record without one (null)
      * belongs to no session, as in Spark's `session_window`.
      */
    def add(sessions: List[Session], row: Row): List[Session] = {
      val t = Intervals.micros(row.get(tsIdx))
      if (t == Intervals.NoEventTime) sessions else insert(sessions, t, row)
    }

    val out =
      if (!env.isStreaming) {
        // Secondary sort: per-key rows arrive in (event time, tiebreak)
        // order and fold streamingly — state is the open-session list
        // (bounded by session count), never the key's row history.
        import org.apache.spark.sql.functions.col
        val orderCols =
          col(ts) +: SecondarySort.tiebreakCols(f.df, keyNames, Seq(ts))
        SecondarySort.foldSortedGroups(f.df, keyNames, orderCols) {
          (k: Row, rows: Iterator[Row]) =>
            rows.foldLeft(List.empty[Session])(add).iterator
              .map(s => emitRow(k, s))
        }(oEnc)
      } else {
        // State = array<struct<start,end,buf>> — an explicit struct row
        // (UnsafeRow in the store, schema visible in the checkpoint); only
        // the opaque user accumulator is a binary payload (see OpaqueState).
        //
        // `:withRetention` maps to watermark + eviction: a session whose
        // end ≤ watermark can never be extended (no event older than the
        // watermark arrives), so it leaves state; once every session of a
        // key closes, an event-time timeout removes the key entirely.
        // Without retention the reference's default session store also
        // retains forever by configuration — but state here would grow with
        // key count, so declare retention for unbounded-key streams.
        val sessStruct = StructType(Seq(
          StructField("start", org.apache.spark.sql.types.LongType, nullable = false),
          StructField("end", org.apache.spark.sql.types.LongType, nullable = false),
          StructField("buf", org.apache.spark.sql.types.BinaryType, nullable = false)))
        val stateSchema = StructType(Seq(StructField("sessions",
          org.apache.spark.sql.types.ArrayType(sessStruct, containsNull = false),
          nullable = false)))
        val sEnc = Encoders.row(stateSchema)
        def encode(ss: List[Session]): Row =
          Row(ss.map(s => Row(s.start, s.end, OpaqueState.ser(s.buf))))
        def decode(r: Row): List[Session] = r.getSeq[Row](0).iterator
          .map(s => Session(s.getLong(0), s.getLong(1),
            OpaqueState.deser(s.getAs[Array[Byte]](2))))
          .toList
        // the shared watermark and timeout kind; the timer is this
        // kernel's own (session end, not last event + retention)
        val ret = Retention(op.retention, isStreaming = true)
        Keyed.byKey(ret.watermark(f.df, Some(ts)), keyNames)
          .flatMapGroupsWithState(OutputMode.Append, ret.timeout) {
          (k: Row, it: Iterator[Row], state: GroupState[Row]) =>
            val prior = state.getOption.map(decode).getOrElse(Nil)
            val sessions = it.foldLeft(prior)(add)
            val before = prior.toSet
            // snapshot emissions BEFORE eviction: a session updated in this
            // batch emits its latest state even if it closes immediately
            val emitted = sessions.iterator.filterNot(before)
              .map(s => emitRow(k, s)).toList
            if (ret.active) {
              val wmUs = state.getCurrentWatermarkMs() * 1000L
              val open = sessions.filter(_.end > wmUs)
              if (open.isEmpty) state.remove()
              else {
                state.update(encode(open))
                // fire once the watermark passes the last open session's end
                val maxEndMs = open.map(s => (s.end + 999L) / 1000L).max
                state.setTimeoutTimestamp(
                  math.max(maxEndMs, state.getCurrentWatermarkMs() + 1L))
              }
            } else state.update(encode(sessions))
            emitted.iterator
        }(sEnc, oEnc)
      }
    KFrame(out.toDF(), keyNames, None, isTable = true)
  }

  /** One open session: [start, end) with end = lastEventTime + gap. */
  final case class Session(start: Long, end: Long, buf: Any)
      extends Serializable
}
