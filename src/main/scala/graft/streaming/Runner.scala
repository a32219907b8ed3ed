package graft.streaming

import graft.ast._
import graft.compile.{Compiler, Env}
import graft.iq.KeyedStore
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Execution entry points — the analog of the reference's `streams` +
  * `.start` (`src/cddr/ksml/core.clj:39-41`, `README.md:70-73`): compile a
  * topology and launch it as a StreamingQuery. The reference's StreamsConfig
  * map (`anomaly_detection.clj:45-51`) maps onto [[StreamsCfg]]:
  * application.id → queryName + checkpoint dir, commit.interval.ms →
  * trigger interval, cache.max.bytes.buffering≈0 → Update mode emission.
  */
object Runner {

  final case class StreamsCfg(
      queryName: String = "graft",
      checkpointLocation: Option[String] = None,
      triggerMs: Long = 500L, // reference example commit.interval: 500 ms
      outputMode: String = "update",
      // bootstrap.servers analog (`core.clj:45`): required by kafka sinks
      // (format("kafka") refuses to start without it)
      bootstrapServers: Option[String] = None,
      // `Stores` factory analog (`eval.clj:216-226`): Persistent* →
      // RocksDB state store. Spark scopes the provider to the session at
      // query start, so this is per-topology-launch, not per-store —
      // the documented §2.6 divergence, now honored rather than ignored.
      store: StoreKind = StoreKind.Default
  )

  private val rocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"

  /** Compile + start — `streams` + `.start` analog.
    *
    * `SinkSpec.Memory(name)` names the query and the session temp view that
    * interactive queries read. An update-mode KTable with key columns fills
    * a [[KeyedStore]]: one current row per key (per window for a windowed
    * table), tombstones deleting, read with no Spark job. Any other output
    * (append or complete mode, a KStream, no keys) goes to Spark's memory
    * sink, which keeps every emitted row.
    *
    * State-store provider scoping: Spark reads `providerClass` once, at
    * query start, so the conf only needs to hold the right value across the
    * `.start()` call. Persistent pins RocksDB for this launch; every other
    * StoreKind explicitly clears the key (so a prior Persistent launch
    * can't leak its provider into this topology); and the previous session
    * value is restored afterwards either way — two topologies started from
    * the same session each get exactly the store they asked for.
    */
  def start(node: KNode, env: Env, sink: SinkSpec,
            cfg: StreamsCfg = StreamsCfg()): StreamingQuery = {
    val prevProvider = env.spark.conf.getOption(providerKey)
    cfg.store match {
      case StoreKind.Persistent => env.spark.conf.set(providerKey, rocksDbProvider)
      case StoreKind.InMemory | StoreKind.Default | StoreKind.LruMap =>
        env.spark.conf.unset(providerKey)
    }
    try {
      val f = Compiler.compile(node, env)
      val w0 = f.df.writeStream
        .queryName(cfg.queryName)
        .outputMode(cfg.outputMode)
        .trigger(Trigger.ProcessingTime(cfg.triggerMs))
      val w1 = cfg.checkpointLocation.fold(w0)(p => w0.option("checkpointLocation", p))
      sink match {
        case SinkSpec.Memory(name)
            if f.isTable && f.keys.nonEmpty && cfg.outputMode.equalsIgnoreCase("update") =>
          val store = new KeyedStore(env.spark, name, f.df.schema, f.keys, f.valueCols)
          val q = w1.queryName(name).foreachBatch((batch: Dataset[Row], _: Long) =>
            store.upsert(batch.queryExecution.executedPlan.executeCollect())).start()
          // once the query has started, as the memory sink registers its view
          store.register()
          q
        case _ => configureSink(w1, sink, cfg).start()
      }
    } finally prevProvider match {
      case Some(p) => env.spark.conf.set(providerKey, p)
      case None => env.spark.conf.unset(providerKey)
    }
  }

  private def configureSink(w: DataStreamWriter[Row], sink: SinkSpec,
                            cfg: StreamsCfg): DataStreamWriter[Row] = sink match {
    case SinkSpec.To(topic, "kafka", _) =>
      // `:to!` (README.md:66-68): value must already be encoded by the
      // sink-side serde (see graft.serde.Serdes / KafkaTopics.encodeFor)
      val servers = cfg.bootstrapServers.getOrElse(throw new IllegalArgumentException(
        "kafka sink needs StreamsCfg.bootstrapServers (kafka.bootstrap.servers)"))
      w.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("topic", topic)
    case SinkSpec.To(path, fmt, partitionBy) =>
      val base = w.format(fmt).option("path", path)
      if (partitionBy.nonEmpty) base.partitionBy(partitionBy: _*) else base
    case SinkSpec.Print => w.format("console") // `:print!`
    case SinkSpec.Memory(name) => w.format("memory").queryName(name)
    case SinkSpec.Foreach(action) => // `:foreach` terminal side effect
      // executed distributed, per record, on the executors (never collect)
      w.foreachBatch((batch: Dataset[Row], _: Long) =>
        batch.foreach(action(_)))
  }
}
