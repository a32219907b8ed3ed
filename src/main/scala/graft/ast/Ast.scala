package graft.ast

import org.apache.spark.sql.{Column, Row}

/** ==== graft AST — the "topology as data" layer ====
  *
  * The reference (cddr/ksml) represents a Kafka Streams topology as nested
  * Clojure vectors evaluated by a syntax-directed recursive evaluator
  * (reference: `src/cddr/ksml/eval.clj:382-395`, grammar tables
  * `eval.clj:56-237`). This file is the Spark-native analog: every DSL
  * operator of the reference grammar is one case class, and a topology is an
  * ordinary immutable tree that users can build, inspect, rewrite and compose
  * with plain collection operations — the reference's core design rationale
  * (`README.md:25-37`).
  *
  * Differences from the reference, by design (Spark-first):
  *  - Record-level computation is expressed as Spark `Column` expressions
  *    wherever possible (whole-stage-codegen-able), with Scala-closure escape
  *    hatches only for the genuinely imperative surface
  *    (processor/transformer API, `eval.clj:310-338`).
  *  - A record is a Row with designated key columns + an optional event-time
  *    column, not an opaque (binary, binary) pair; serdes (`eval.clj:211-214`)
  *    become decode/encode expressions at the source/sink edges.
  */
sealed trait KNode extends Serializable

// ---------------------------------------------------------------------------
// Config carriers (reference §: Consumed eval.clj:176-180, Grouped 181-185,
// Materialized 169-173, Repartitioned 187-191, serdes 211-214)
// ---------------------------------------------------------------------------

/** Serde surface (`eval.clj:211-214, 290-308`). In Spark terms a serde is a
  * pair of Column transforms between the wire column (binary/string) and the
  * typed view. Built-ins mirror `Serdes.String/Long/Integer/ByteArray`.
  */
final case class SerdeSpec(
    name: String,
    decode: Column => Column,
    encode: Column => Column
) extends Serializable

/** Source-side config: which columns form the record key, which column is
  * event time, offset-reset policy, timestamp-extraction policy
  * (`Consumed.with...` `eval.clj:176-180,202-203`; timestamp extractors
  * `eval.clj:92-93`; offset reset `eval.clj:88-90`).
  */
final case class Consumed(
    keys: Seq[String] = Nil,
    eventTime: Option[String] = None,
    keySerde: Option[SerdeSpec] = None,
    valueSerde: Option[SerdeSpec] = None,
    startingOffsets: Option[String] = None, // "earliest" | "latest" (`:offset-reset`)
    timestampPolicy: TimestampPolicy = TimestampPolicy.FailOnInvalid
) extends Serializable

/** Invalid-event-time policies, mirroring Kafka's four extractor classes
  * (`eval.clj:29-30`): fail, skip record, fall back to wall clock, use
  * partition (here: source file) time.
  */
sealed trait TimestampPolicy extends Serializable
object TimestampPolicy {
  case object FailOnInvalid extends TimestampPolicy
  case object LogAndSkipOnInvalid extends TimestampPolicy
  case object WallclockOnInvalid extends TimestampPolicy
  /** Kafka's `UsePartitionTimeOnInvalidTimestamp`: an invalid (null) event
    * time takes the partition time — the highest valid timestamp observed so
    * far in that partition; records before any valid timestamp stay invalid
    * (Kafka throws there; we pass the null through to surface in state ops).
    */
  case object PartitionTimeOnInvalid extends TimestampPolicy
}

/** State-store / materialization config (`Materialized` `eval.clj:169-173,
  * 193-208`): name → queryable store name (interactive queries); retention
  * → watermark delay plus idle-key eviction in the state kernels. The
  * emission cadence is the query's output mode and trigger, and the store
  * kind is chosen per launch (`Runner.StreamsCfg.store`, see SURVEY §2.6).
  */
final case class Materialized(
    name: Option[String] = None,
    retention: Option[String] = None // interval string, e.g. "24 hours"
) extends Serializable

/** `Stores` factory surface (`eval.clj:216-226`). Spark state-store choice is
  * session config, which [[graft.streaming.Runner]] scopes to one query
  * start, so the kind applies to a whole launch; `Persistent*` maps to
  * RocksDBStateStoreProvider.
  */
sealed trait StoreKind extends Serializable
object StoreKind {
  case object Default extends StoreKind
  case object InMemory extends StoreKind // inMemoryKeyValueStore / WindowStore / SessionStore
  case object Persistent extends StoreKind // persistentKeyValueStore / ... (RocksDB)
  case object LruMap extends StoreKind // lruMap — approximated by state TTL
}

/** Re-key shuffle config (`Repartitioned` `eval.clj:187-191,195-201`). */
final case class Repartitioned(
    numPartitions: Option[Int] = None,
    partitionExpr: Option[Column] = None, // custom StreamPartitioner analog
    name: Option[String] = None
) extends Serializable

/** `Grouped` (`eval.clj:181-185`) — repartition-topic name/serdes; serdes are
  * internal to Spark's shuffle so only the name (plan alias) survives.
  */
final case class GroupedCfg(name: Option[String] = None) extends Serializable

// ---------------------------------------------------------------------------
// Windows (`TimeWindows`/`JoinWindows` imports eval.clj:32; tumbling usage
// anomaly_detection.clj:36; join band eval_test.clj:40; session via :merger
// eval.clj:275-278 + session stores eval.clj:220,224)
// ---------------------------------------------------------------------------
sealed trait WindowSpec extends Serializable
object WindowSpec {
  /** Tumbling time window (`[:time-window ms]`). */
  final case class Tumbling(duration: String) extends WindowSpec
  /** Hopping window (`TimeWindows.advanceBy`) ≡ Spark sliding window. */
  final case class Hopping(duration: String, advance: String) extends WindowSpec
  /** Session window with inactivity gap (session stores + `:merger`). */
  final case class Session(gap: String) extends WindowSpec
}

/** Stream-stream join time band (`[:join-window ms]`). */
final case class JoinWindow(before: String, after: String) extends Serializable

// ---------------------------------------------------------------------------
// Sources (`:stream` eval.clj:71, `:table` eval.clj:72, `:global-table`
// eval.clj:73, `:topics` eval.clj:82-83, regex literal eval.clj:373)
// ---------------------------------------------------------------------------

/** KStream source: append stream of records from one/many topics or a
  * pattern. Batch env: the topic's table read as facts.
  */
final case class StreamSource(
    topics: Seq[String],
    pattern: Option[String] = None,
    consumed: Consumed = Consumed()
) extends KNode

/** KTable source: changelog → latest-value-per-key (upsert) view
  * (`eval.clj:72`, tests `eval_test.clj:161-240`). `orderBy` designates the
  * changelog order (the Kafka offset analog) used for "latest".
  */
final case class TableSource(
    topic: String,
    consumed: Consumed = Consumed(),
    orderBy: Option[String] = None,
    materialized: Option[Materialized] = None,
    /** The source is already latest-per-key (a primary-key snapshot):
      * skip the compaction shuffle — the analog of Kafka Streams'
      * source-KTable reuse under topology.optimization.
      */
    unique: Boolean = false
) extends KNode

/** GlobalKTable: fully replicated lookup table (`eval.clj:73`) → broadcast
  * side of enrichment joins; no co-partitioning requirement.
  */
final case class GlobalTableSource(
    topic: String,
    consumed: Consumed = Consumed(),
    unique: Boolean = false
) extends KNode

// ---------------------------------------------------------------------------
// Stateless transforms (§2.2: eval.clj:97-130; KStream/KTable method map via
// camelize eval.clj:51-54)
// ---------------------------------------------------------------------------

/** `:filter` / `:filter-not` (`eval.clj:107-112`). On a table, non-matching
  * keys become tombstones (handled by the streaming kernel).
  */
final case class FilterOp(up: KNode, pred: Column, negate: Boolean = false)
    extends KNode

/** `:map-values` (`eval.clj:125-127`): replace the value columns; keys (and
  * thus partitioning) preserved — no shuffle.
  */
final case class MapValuesOp(up: KNode, values: Seq[Column]) extends KNode

/** `:map` (`eval.clj:122-124`): new key and value; marks the stream for
  * repartition before any downstream stateful op (Spark shuffles on groupBy
  * automatically — the flag is informational for plan inspection).
  */
final case class MapOp(up: KNode, keys: Seq[Column], values: Seq[Column])
    extends KNode

/** `:select-key` (`eval.clj:128-130`): re-key only. */
final case class SelectKeyOp(up: KNode, keys: Seq[Column]) extends KNode

/** `:flat-map-values` (`eval.clj:116-118`): value → 0..n values, key kept.
  * `gen` must be an array Column; each element becomes a record with value
  * column named `as`.
  */
final case class FlatMapValuesOp(up: KNode, gen: Column, as: String)
    extends KNode

/** `:flat-map` (`eval.clj:113-115`): record → 0..n (key,value) records.
  * `gen` must be an array-of-struct Column; struct fields become columns,
  * `keys` names which of them form the new key.
  */
final case class FlatMapOp(up: KNode, gen: Column, keys: Seq[String])
    extends KNode

/** One branch of `:branch` (`eval.clj:100-106`): ordered predicates,
  * first-match-wins — branch i keeps records matching pred(i) and none of
  * pred(0..i-1). `Branch.all` expands to sibling nodes.
  */
final case class BranchOp(up: KNode, preds: Seq[Column], idx: Int)
    extends KNode
object Branch {
  def all(up: KNode, preds: Seq[Column]): Seq[BranchOp] =
    preds.indices.map(i => BranchOp(up, preds, i))
}

/** `:merge` (`eval.clj:74-76`): union N streams (by name — schemas must
  * align, as Kafka's merge requires same serdes).
  */
final case class MergeOp(ups: Seq[KNode]) extends KNode

/** `:peek!` (`eval_test.clj:495-498`): pass-through side effect. */
final case class PeekOp(up: KNode, action: Row => Unit) extends KNode

/** `:to-stream` (`eval.clj:97-99`): KTable changelog → KStream; optional
  * re-key.
  */
final case class ToStreamOp(up: KNode, keys: Seq[Column] = Nil) extends KNode

/** Explicit repartition (`:repartitioned` syntax, eval.clj:187-191). */
final case class RepartitionOp(up: KNode, cfg: Repartitioned) extends KNode

/** Plan projection — not in the reference grammar (its records are opaque
  * pairs); used to shape final outputs (select/alias/order) so batch results
  * are oracle-comparable. Spark-first superset per SURVEY §2.9.
  */
final case class SelectOp(up: KNode, cols: Seq[Column]) extends KNode
final case class SortOp(up: KNode, cols: Seq[Column]) extends KNode

// ---------------------------------------------------------------------------
// Grouping & aggregation (§2.3: eval.clj:148-165)
// ---------------------------------------------------------------------------

/** `:group-by` (`eval.clj:148-150`): re-key then group → shuffle. */
final case class GroupByOp(
    up: KNode,
    keys: Seq[Column],
    grouped: GroupedCfg = GroupedCfg()
) extends KNode

/** `:group-by-key` (`eval.clj:152-154`): group on current key, no re-key. */
final case class GroupByKeyOp(up: KNode, grouped: GroupedCfg = GroupedCfg())
    extends KNode

/** `:count` (`eval.clj:160-162`), optionally windowed
  * (`anomaly_detection.clj:36`). Must follow a grouping node.
  */
final case class CountOp(
    grouped: KNode,
    window: Option[WindowSpec] = None,
    as: String = "count",
    materialized: Option[Materialized] = None
) extends KNode

/** Declarative aggregate: Column aggregate exprs over the grouping —
  * the codegen fast path for `:reduce`/`:aggregate` when the user's lambda
  * is expressible as expressions (SURVEY §7.5 item 5).
  */
final case class AggOp(
    grouped: KNode,
    aggs: Seq[Column],
    window: Option[WindowSpec] = None,
    materialized: Option[Materialized] = None
) extends KNode

/** `:reduce` (`eval.clj:163-165`) with an arbitrary Scala fn over the value
  * columns (row-typed); `:aggregate` (`eval.clj:157-159`) with an
  * initializer and aggregator (`eval.clj:265-278`), unwindowed — a merger
  * only matters to session windows ([[SessionAggregateOp]]). Both run as
  * per-key state kernels — see graft.state.UserAggregates.
  */
final case class ReduceOp(
    grouped: KNode,
    reducer: (Row, Row) => Row
) extends KNode

final case class AggregateOp[B](
    grouped: KNode,
    initializer: () => B,
    aggregator: (B, Row) => B,
    finisher: B => Row,
    outSchema: org.apache.spark.sql.types.StructType
) extends KNode

/** Session-windowed `:aggregate` with arbitrary user functions — the
  * `:merger` path (`eval.clj:275-278` + session stores `eval.clj:220,224`).
  * Runs on the custom session kernel (graft.state.SessionKernels) because
  * Spark's `session_window` only composes with declarative aggregates.
  */
final case class SessionAggregateOp[B](
    grouped: KNode,
    gap: String,
    initializer: () => B,
    aggregator: (B, Row) => B,
    merger: (B, B) => B,
    finisher: B => Row,
    outSchema: org.apache.spark.sql.types.StructType,
    // `:withRetention` (eval.clj:208): in streaming mode, sets the input
    // watermark and evicts sessions older than it from kernel state
    retention: Option[String] = None
) extends KNode

// ---------------------------------------------------------------------------
// Joins (§2.4: eval.clj:133-144; all equi-joins on the record key)
// ---------------------------------------------------------------------------
sealed trait JoinHow extends Serializable
object JoinHow {
  case object Inner extends JoinHow { override def toString = "inner" }
  case object Left extends JoinHow { override def toString = "left" }
  case object Outer extends JoinHow { override def toString = "full_outer" }
}

/** `:join`/`:left-join`/`:outer-join` (`eval.clj:133-143`). Kind is inferred
  * from operand node types (stream/table/global-table), as the reference
  * dispatches on receiver class. `window` is required for stream⋈stream.
  * `derivedKey` is the `:join-global` foreign-key mapper
  * (`eval_test.clj:428-431`). `projection` is the `:value-joiner` analog
  * (`eval.clj:255-258`) — output columns over the joined row.
  */
final case class JoinOp(
    left: KNode,
    right: KNode,
    how: JoinHow,
    window: Option[JoinWindow] = None,
    derivedKey: Seq[Column] = Nil,
    projection: Seq[Column] = Nil,
    broadcastRight: Boolean = false,
    /** `:withRetention` on the join's state store (Kafka windowed/TTL
      * store analog, `eval.clj:208`): streaming table-table and
      * stream-table kernels evict keys idle past this interval.
      */
    retention: Option[String] = None
) extends KNode

// ---------------------------------------------------------------------------
// Sinks / terminal ops (§2.2: :to! README.md:66-68, :print!
// eval_test.clj:500-504, :foreach eval.clj:119-121, :process!
// eval_test.clj:421-425)
// ---------------------------------------------------------------------------
sealed trait SinkSpec extends Serializable
object SinkSpec {
  /** `:to!` — write to a topic (streaming: kafka/parquet path; batch: path).
    * `partitionBy` lays out file sinks by column — the output-partitioning
    * control a 100 TB pipeline needs (Kafka sinks ignore it; use
    * `Repartitioned.partitionExpr` for the producer-partitioner analog).
    */
  final case class To(topic: String, format: String = "parquet",
                      partitionBy: Seq[String] = Nil) extends SinkSpec
  /** `:print!` — console sink. */
  case object Print extends SinkSpec
  /** In-memory queryable sink (interactive queries, ring.clj analog). */
  final case class Memory(queryName: String) extends SinkSpec
  /** `:foreach` — terminal per-record side effect. */
  final case class Foreach(action: Row => Unit) extends SinkSpec
}

/** Ext-operator stage — the LLM-pipeline front door. Not in the reference
  * grammar: the reference's core rationale is "topology as data"
  * (`README.md:25-37`) but its operators stop at the Kafka Streams surface;
  * this node lets a corpus-level graft.ext stage (dedup, quality filter,
  * PII redaction, ANN...) appear INSIDE a topology value, so a whole
  * training-data pipeline is one inspectable, rewritable AST tree rather
  * than a topology that dead-ends into library calls. `name` keeps the node
  * printable/debuggable (the fn itself is opaque); `keys` overrides the key
  * columns when the transform re-keys (default: upstream keys that survive
  * in the output schema). The event-time column is kept iff it survives.
  * The fn receives the BATCH or STREAMING frame as compiled — a stage used
  * in both modes must be valid in both (narrow maps and filters always
  * are; see [[graft.ast.pipeline]] for mode-dispatching wrappers).
  */
final case class TransformOp(
    up: KNode,
    name: String,
    fn: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
    keys: Seq[String] = Nil
) extends KNode

/** `:process!`/`:transformer` (`eval.clj:310-338`): arbitrary keyed stateful
  * record-at-a-time logic with a state handle — the low-level Processor API.
  * Runs on flatMapGroupsWithState in streaming; per-key fold in batch.
  * `state` starts at `init` per key; `process(state, row) => (newState,
  * emitted rows)`.
  */
final case class ProcessOp(
    up: KNode,
    init: () => Array[Byte],
    process: (Array[Byte], Row) => (Array[Byte], Iterator[Row]),
    outSchema: org.apache.spark.sql.types.StructType,
    /** Per-key state TTL (streaming): idle keys are evicted after this
      * interval — the `lruMap` store approximation (SURVEY §2.6: LRU
      * capacity bounds map to time bounds in Spark's state model).
      */
    stateTtl: Option[String] = None
) extends KNode
