package graft.ast

import org.apache.spark.sql.{Column, Row}

/** Fluent front door over the AST — the analog of ksml's `v->` threading
  * macro (`src/cddr/ksml/core.clj:43-53`), which threads each node as the
  * first argument of the next vector. Here the same chaining reads
  * `stream("t").filter(p).groupBy(k).count()`; every call just builds the
  * immutable [[KNode]] tree (no Spark objects touched until compile).
  */
object dsl {

  def stream(topic: String, topics: String*): StreamSource =
    StreamSource(topic +: topics)
  def stream(topics: Seq[String], consumed: Consumed): StreamSource =
    StreamSource(topics, None, consumed)
  /** Pattern subscription (regex literal in ksml, `eval_test.clj:36,53`). */
  def streamPattern(pattern: String, consumed: Consumed = Consumed()): StreamSource =
    StreamSource(Nil, Some(pattern), consumed)

  def table(topic: String, consumed: Consumed = Consumed(),
            orderBy: Option[String] = None,
            materialized: Option[Materialized] = None,
            unique: Boolean = false): TableSource =
    TableSource(topic, consumed, orderBy, materialized, unique)

  def globalTable(topic: String, consumed: Consumed = Consumed(),
                  unique: Boolean = false): GlobalTableSource =
    GlobalTableSource(topic, consumed, unique)

  def merge(first: KNode, rest: KNode*): MergeOp = MergeOp(first +: rest)

  implicit final class JoinOps(private val j: JoinOp) extends AnyVal {
    /** `:withRetention` (`eval.clj:208`) on a join's state store: evict
      * keys idle past the interval in the streaming join kernels.
      */
    def withRetention(interval: String): JoinOp =
      j.copy(retention = Some(interval))
  }

  implicit final class NodeOps(private val n: KNode) extends AnyVal {
    // --- stateless (§2.2)
    def filter(pred: Column): FilterOp = FilterOp(n, pred)
    def filterNot(pred: Column): FilterOp = FilterOp(n, pred, negate = true)
    def mapValues(values: Column*): MapValuesOp = MapValuesOp(n, values)
    def map(keys: Seq[Column], values: Seq[Column]): MapOp = MapOp(n, keys, values)
    def selectKey(keys: Column*): SelectKeyOp = SelectKeyOp(n, keys)
    def flatMapValues(gen: Column, as: String): FlatMapValuesOp =
      FlatMapValuesOp(n, gen, as)
    def flatMap(gen: Column, keys: Seq[String]): FlatMapOp = FlatMapOp(n, gen, keys)
    def branch(preds: Column*): Seq[BranchOp] = Branch.all(n, preds)
    def merge(other: KNode): MergeOp = MergeOp(Seq(n, other))
    def peek(action: Row => Unit): PeekOp = PeekOp(n, action)
    def toStream: ToStreamOp = ToStreamOp(n)
    def toStream(keys: Column*): ToStreamOp = ToStreamOp(n, keys)
    def repartition(cfg: Repartitioned): RepartitionOp = RepartitionOp(n, cfg)
    /** Generic ext-operator stage (see [[TransformOp]]); named wrappers for
      * the common pipeline stages live in [[graft.ast.pipeline]].
      */
    def transform(name: String,
                  fn: org.apache.spark.sql.DataFrame =>
                      org.apache.spark.sql.DataFrame,
                  keys: Seq[String] = Nil): TransformOp =
      TransformOp(n, name, fn, keys)
    def select(cols: Column*): SelectOp = SelectOp(n, cols)
    def sort(cols: Column*): SortOp = SortOp(n, cols)

    // --- grouping (§2.3)
    def groupBy(keys: Column*): GroupByOp = GroupByOp(n, keys)
    def groupByKey: GroupByKeyOp = GroupByKeyOp(n)

    // --- aggregation (on a grouping node)
    def count(as: String = "count", window: Option[WindowSpec] = None): CountOp =
      CountOp(n, window, as)
    def agg(aggs: Column*): AggOp = AggOp(n, aggs)
    def windowedBy(w: WindowSpec): WindowedShim = WindowedShim(n, w)
    def reduce(reducer: (Row, Row) => Row): ReduceOp = ReduceOp(n, reducer)

    // --- joins (§2.4)
    def join(right: KNode, how: JoinHow = JoinHow.Inner,
             window: Option[JoinWindow] = None,
             projection: Seq[Column] = Nil): JoinOp =
      JoinOp(n, right, how, window, projection = projection)
    def leftJoin(right: KNode, projection: Seq[Column] = Nil): JoinOp =
      JoinOp(n, right, JoinHow.Left, projection = projection)
    def outerJoin(right: KNode, projection: Seq[Column] = Nil): JoinOp =
      JoinOp(n, right, JoinHow.Outer, projection = projection)
    /** `:join-global` / `:left-join-global` (`eval_test.clj:428-431,452-455`):
      * lookup join on a derived foreign key against a broadcast table.
      */
    def joinGlobal(right: KNode, derivedKey: Seq[Column],
                   how: JoinHow = JoinHow.Inner,
                   projection: Seq[Column] = Nil): JoinOp =
      JoinOp(n, right, how, derivedKey = derivedKey, projection = projection,
             broadcastRight = true)
  }

  /** `grouped.windowedBy(w).count()/.agg(...)` — mirrors Kafka Streams'
    * windowedBy chaining.
    */
  final case class WindowedShim(grouped: KNode, w: WindowSpec) {
    def count(as: String = "count"): CountOp = CountOp(grouped, Some(w), as)
    def agg(aggs: Column*): AggOp = AggOp(grouped, aggs, Some(w))
  }
}
