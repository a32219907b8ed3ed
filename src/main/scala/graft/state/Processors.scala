package graft.state

import graft.ast.ProcessOp
import graft.compile.{Env, KFrame}
import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The low-level Processor/Transformer API (`:processor-supplier`
  * `eval.clj:310-323`, `:transformer-supplier` `eval.clj:325-338`): arbitrary
  * keyed, stateful, record-at-a-time logic. The reference hands the user a
  * context atom + state stores; here the state handle is an opaque byte
  * array per key (the user brings their own codec), which maps 1:1 onto
  * Spark's GroupState in streaming and a per-key fold in batch.
  *
  * Records within a key are processed in event-time order in batch (Kafka
  * processes in offset order per partition; event-time order is the batch
  * replay equivalent).
  */
object Processors {

  def run(p: ProcessOp, env: Env): KFrame = {
    val f = graft.compile.Compiler.compile(p.up, env)
    val keyNames = f.keys
    val oEnc = Encoders.row(p.outSchema)
    val ts = f.eventTime
    val (init, process) = (p.init, p.process)
    val out =
      if (!env.isStreaming) {
        // Secondary sort (event time, then all remaining orderable columns
        // as a deterministic tiebreak — the offset-order analog): the fold
        // streams over each key's ordered rows; no per-key materialization.
        import org.apache.spark.sql.functions.col
        val orderCols =
          ts.toSeq.map(col) ++
          SecondarySort.tiebreakCols(f.df, keyNames, ts.toSeq)
        SecondarySort.foldSortedGroups(f.df, keyNames, orderCols) {
          (_: Row, rows: Iterator[Row]) =>
            var state = init()
            rows.flatMap { r =>
              val (ns, emitted) = process(state, r)
              state = ns
              emitted.toSeq // materialize before state moves on
            }
        }(oEnc)
      } else {
        val ttl = p.stateTtl
        val timeoutKind =
          if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
          else GroupStateTimeout.NoTimeout
        Keyed.byKey(f.df, keyNames).flatMapGroupsWithState(
          OutputMode.Append, timeoutKind) {
          (_: Row, it: Iterator[Row], gs: GroupState[Array[Byte]]) =>
            if (gs.hasTimedOut) {
              // lruMap approximation: evict idle key state (SURVEY §2.6)
              gs.remove()
              Iterator.empty
            } else {
              var state = gs.getOption.getOrElse(init())
              val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
              it.foreach { r =>
                val (ns, emitted) = process(state, r)
                state = ns
                buf ++= emitted
              }
              gs.update(state)
              ttl.foreach(gs.setTimeoutDuration)
              buf.iterator
            }
        }(Encoders.BINARY, oEnc)
      }
    KFrame(out.toDF(), keyNames, None)
  }
}
