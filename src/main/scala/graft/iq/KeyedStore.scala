package graft.iq

import java.util
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, View}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, ScanBuilder}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftfn.Relations
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A KTable's current value per key, held on the driver — the analog of
  * the Kafka Streams `ReadOnlyKeyValueStore` (and, for windowed tables,
  * the `WindowStore`) that `ring.clj` serves. [[graft.streaming.Runner]]
  * fills one from an update-mode keyed output: each micro-batch's rows
  * are upserted by key, and a row whose value columns are all null is a
  * tombstone that deletes its key.
  *
  * Entries are indexed by the record key (the key columns other than
  * `window_start`) and, within it, by `window_start`, as
  * `WindowStore.fetch(key, …)` is. A point lookup on the sole record-key
  * column is one hash probe; a lookup on any other column scans the
  * entries on the driver. Neither starts a Spark job.
  *
  * Each batch replaces the whole index at once, so a reader takes one
  * snapshot, never sees part of a batch and never blocks the writer.
  *
  * To Spark the store is a DataSource V2 table whose scan is a
  * [[LocalScan]] over that snapshot (planned as `LocalTableScanExec`),
  * registered as a temp view of the session: `spark.table(name)` reads it,
  * and the view is the only registry.
  *
  * A new store is empty and holds rows of `rowSchema` keyed by `keys`; a
  * row whose `valueCols` are all null deletes its key. [[register]] makes
  * it visible as temp view `storeName` of `session`.
  */
final class KeyedStore(session: SparkSession, storeName: String,
                       rowSchema: StructType, keys: Seq[String],
                       valueCols: Seq[String])
    extends Table with SupportsRead {
  import KeyedStore.{WindowKey, normalize}

  private val windowOrd = keys.find(_ == WindowKey).map(rowSchema.fieldIndex)
  private val recordOrds = keys.filterNot(_ == WindowKey).map(rowSchema.fieldIndex).toArray
  private val valueOrds = valueCols.map(rowSchema.fieldIndex).toArray

  // record key → window start (None when unwindowed) → current row
  @volatile private var entries = Map.empty[Any, Map[Any, InternalRow]]

  private def cell(row: InternalRow, ord: Int): Any =
    normalize(row.get(ord, rowSchema(ord).dataType))

  private def recordKey(row: InternalRow): Any =
    if (recordOrds.length == 1) cell(row, recordOrds(0))
    else recordOrds.iterator.map(cell(row, _)).toList

  /** Upserts one batch's rows in order, so the last row of a key wins.
    * Called by the one streaming query that fills the store.
    */
  def upsert(rows: Array[InternalRow]): Unit = {
    var next = entries
    rows.foreach { row =>
      val k = recordKey(row)
      val w = windowOrd.map(cell(row, _))
      val windows = next.getOrElse(k, Map.empty[Any, InternalRow])
      val updated =
        if (valueOrds.nonEmpty && valueOrds.forall(row.isNullAt)) windows - w
        else windows.updated(w, row)
      next = if (updated.isEmpty) next - k else next.updated(k, updated)
    }
    entries = next
  }

  /** Every current row. */
  def rows: Array[InternalRow] = entries.valuesIterator.flatMap(_.valuesIterator).toArray

  /** Rows whose `column` equals `key`, a value as `col(column) === key`
    * takes it. The key is cast to the column's type with Spark `Cast`
    * semantics, so the string "123" finds the long 123. A null key finds
    * nothing, as `=== null` does.
    */
  def lookup(column: String, key: Any): Seq[InternalRow] = {
    val ord = ordinal(column)
    val probe = normalize(castTo(ord, key))
    if (probe == null) Nil
    else if (recordOrds.length == 1 && recordOrds(0) == ord)
      entries.get(probe).fold(Seq.empty[InternalRow])(_.values.toSeq)
    else entries.valuesIterator.flatMap(_.valuesIterator).filter(cell(_, ord) == probe).toSeq
  }

  /** External rows, as `Dataset.collect` returns them. */
  def toRows(rows: Seq[InternalRow]): Array[Row] = {
    val toScala = CatalystTypeConverters.createToScalaConverter(rowSchema)
    rows.map(toScala(_).asInstanceOf[Row]).toArray
  }

  private def ordinal(column: String): Int = {
    val names = rowSchema.fieldNames
    val exact = names.indexOf(column)
    val ord = if (exact >= 0) exact else names.indexWhere(_.equalsIgnoreCase(column))
    require(ord >= 0, s"store $storeName has no column $column")
    ord
  }

  private def castTo(ord: Int, key: Any): Any = {
    val dt = rowSchema(ord).dataType
    val lit = Literal(key)
    if (key == null || lit.dataType == dt) lit.value
    else {
      require(Cast.canCast(lit.dataType, dt),
        s"a ${lit.dataType.simpleString} key cannot match column ${rowSchema(ord).name}")
      val tz = session.conf.get("spark.sql.session.timeZone")
      val v = Cast(lit, dt, Some(tz), EvalMode.TRY).eval()
      require(v != null, s"key '$key' is not a ${dt.simpleString}")
      v
    }
  }

  /** Registers the store as temp view `name` of its session, replacing
    * any view of that name.
    */
  def register(): Unit =
    Relations.ofRows(session, DataSourceV2Relation.create(this, None, None))
      .createOrReplaceTempView(storeName)

  override def name(): String = storeName
  override def schema(): StructType = rowSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new LocalScan {
      override def rows(): Array[InternalRow] = KeyedStore.this.rows
      override def readSchema(): StructType = rowSchema
    }
}

object KeyedStore {
  private val WindowKey = "window_start"

  /** The keyed store temp view `name` of `spark` reads, if it is exactly
    * one — found in the session catalog, with no analysis.
    */
  def named(spark: SparkSession, name: String): Option[KeyedStore] = {
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case a: SubqueryAlias => strip(a.child)
      case v: View => strip(v.child)
      case other => other
    }
    Relations.tempView(spark, name).map(strip).collect {
      case r: DataSourceV2Relation if r.table.isInstanceOf[KeyedStore] =>
        r.table.asInstanceOf[KeyedStore]
    }
  }

  /** Key cells compared by value: binary by content, -0.0 as 0.0 (as
    * Spark's grouping folds it), and no cell tied to a row's buffer.
    */
  private def normalize(v: Any): Any = v match {
    case d: Double => if (d == 0.0) 0.0 else d
    case f: Float => if (f == 0.0f) 0.0f else f
    case b: Array[Byte] => b.toSeq
    case other => InternalRow.copyValue(other)
  }
}
