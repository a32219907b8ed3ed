package graft.state

import graft.ast._
import graft.compile.{Compiler, Env, KFrame}
import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Typed per-key state kernels — the reference's arbitrary-lambda
  * aggregation surface (`:reduce` `eval.clj:163-165,280-283`; `:aggregate`
  * with initializer/aggregator `eval.clj:157-159,265-278`). The
  * declarative fast path (Column aggregates → codegen) is `AggOp`; these
  * kernels exist for genuinely opaque user functions, matching SURVEY §7.5
  * item 5: expression DSL when possible, black-box closures only when not.
  *
  * One flatMapGroupsWithState body per kernel serves both modes. Streaming:
  * Update mode — the running per-key emission cadence Kafka Streams has
  * (micro-batch granularity, SURVEY §2.3 note). Batch: Spark plans the same
  * body as a group-map (shuffle on the key, same as any agg) and hands it
  * empty state, so the fold starts from the initializer.
  */
object UserAggregates {

  private[graft] def groupedOf(grouped: KNode, env: Env): KFrame = grouped match {
    case GroupByOp(up, keys, _) => Compiler.compile(SelectKeyOp(up, keys), env)
    case GroupByKeyOp(up, _) => Compiler.compile(up, env)
    case other => Compiler.compile(other, env)
  }

  private def outSchema(f: KFrame, values: StructType): StructType =
    StructType(StructType(f.keys.map(f.df.schema(_))) ++ values)

  def reduce(r: ReduceOp, env: Env): KFrame = {
    val f = groupedOf(r.grouped, env)
    val valNames = f.valueCols
    val valSchema = StructType(valNames.map(f.df.schema(_)))
    val reducer = r.reducer
    val toVal = (row: Row) => Row.fromSeq(valNames.map(row.getAs[Any]))
    val out = Keyed.byKey(f.df, f.keys).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (k: Row, it: Iterator[Row], state: GroupState[Row]) =>
        val v = (state.getOption.iterator ++ it.map(toVal)).reduce(reducer)
        state.update(v)
        Iterator.single(Row.fromSeq(k.toSeq ++ v.toSeq))
    }(Encoders.row(valSchema), Encoders.row(outSchema(f, valSchema)))
    KFrame(out.toDF(), f.keys, None, isTable = true)
  }

  def aggregate[B](a: AggregateOp[B], env: Env): KFrame = {
    val f = groupedOf(a.grouped, env)
    val (init, step, finish) = (a.initializer, a.aggregator, a.finisher)
    // State is a struct row with ONE binary field holding the serialized
    // user accumulator. The state store sees a plain UnsafeRow (schema
    // visible in the checkpoint, no kryo/java class baked into the
    // encoder); only the opaque payload itself is user-serialized — the
    // same property Kafka Streams' aggregate store has, where B
    // round-trips through the aggregate-value serde.
    val out = Keyed.byKey(f.df, f.keys).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (k: Row, it: Iterator[Row], state: GroupState[Row]) =>
        val b0 = state.getOption
          .map(r => OpaqueState.deser(r.getAs[Array[Byte]](0)).asInstanceOf[B])
          .getOrElse(init())
        val b = it.foldLeft(b0)(step)
        state.update(Row(OpaqueState.ser(b)))
        Iterator.single(Row.fromSeq(k.toSeq ++ finish(b).toSeq))
    }(Encoders.row(OpaqueState.schema), Encoders.row(outSchema(f, a.outSchema)))
    KFrame(out.toDF(), f.keys, None, isTable = true)
  }
}

/** Serialization for opaque user accumulators inside struct-row state:
  * the state-store row format stays UnsafeRow; the user payload is one
  * binary column.
  */
private[state] object OpaqueState {
  val schema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField(
      "b", org.apache.spark.sql.types.BinaryType, nullable = false)))

  def ser(b: Any): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(b); oos.close()
    bos.toByteArray
  }

  def deser(bytes: Array[Byte]): Any = {
    val ois = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try ois.readObject() finally ois.close()
  }
}
