package graft.compile

import graft.ast._
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A compiled stream: a DataFrame plus the record-model metadata the DSL
  * tracks across operators — which columns form the key (Kafka's partition
  * key analog), which column is event time, and whether the node has
  * KTable (changelog/upsert) semantics.
  */
final case class KFrame(
    df: DataFrame,
    keys: Seq[String],
    eventTime: Option[String],
    isTable: Boolean = false
) {
  def valueCols: Seq[String] =
    df.columns.toSeq.filterNot(c => keys.contains(c) || eventTime.contains(c))
}

/** Source environment: resolves a "topic" to a DataFrame. The batch env reads
  * the driver's parquet fixtures (so every topology is DuckDB-oracle
  * checkable); streaming envs serve MemoryStream/Kafka readers — same
  * topology, either engine mode (SURVEY §7.1 batch/stream duality).
  */
trait Env {
  def spark: SparkSession
  def load(topic: String): DataFrame
  /** All known topic names — for pattern subscription (`eval_test.clj:36`). */
  def topicNames: Seq[String]
  def isStreaming: Boolean
  /** An upper bound on the rows `load(topic)` yields, when the source knows
    * one without running a job.
    */
  def rowsUpperBound(topic: String): Option[Long] = None
}

/** Batch env over the driver's parquet fixtures (`<dir>/<topic>.parquet`).
  * Every load goes through [[ParquetEnv.read]], so a warm build re-reads
  * only cached metadata: no schema-inference job, no footer read.
  */
final class ParquetEnv(val spark: SparkSession, dir: String) extends Env {
  private def path(topic: String): String = s"$dir/$topic.parquet"

  def load(topic: String): DataFrame = ParquetEnv.read(spark, path(topic))

  /** The summed footer row count of the topic's data files. */
  override def rowsUpperBound(topic: String): Option[Long] =
    ParquetEnv.footerRows(spark, path(topic))

  def topicNames: Seq[String] = {
    val d = new java.io.File(dir)
    Option(d.list()).getOrElse(Array.empty[String]).toSeq
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
  }
  def isStreaming: Boolean = false
}

/** Source-metadata cache for parquet reads. One entry per qualified path
  * holds metadata only — never a DataFrame, data or a session: the stamp
  * (name, length and mtime of each data file), the explicitly set parquet
  * and case-sensitivity confs the read depended on, the Spark-inferred
  * schema, the nano-timestamp columns and, once asked for, the summed
  * footer row count. A read whose stamp and confs match its entry passes
  * the cached schema to the reader and starts no Spark job; any other read
  * runs Spark's inference and the footer scan and replaces the entry, so
  * the cache never holds more entries than distinct paths. A cold JVM pays
  * inference once per file.
  */
object ParquetEnv {
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.{FileSystem, Path}
  import org.apache.parquet.hadoop.ParquetFileReader
  import org.apache.parquet.hadoop.util.HadoopInputFile

  private final case class FileStamp(name: String, length: Long, mtime: Long)

  private final class Entry(val stamp: Seq[FileStamp],
                            val conf: Map[String, String],
                            val schema: StructType,
                            val nanoCols: Seq[String]) {
    private var rows: Option[Long] = _ // null until first asked for
    def footerRows(hconf: Configuration): Option[Long] = synchronized {
      if (rows == null) rows = sumFooterRows(stamp, hconf)
      rows
    }
  }

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Entry]

  /** `spark.read.parquet(path)` with nano-timestamp columns converted to
    * microsecond timestamps, through the metadata cache.
    *
    * Spark's parquet reader has no nanosecond TimestampType: it rejects an
    * INT64 TIMESTAMP(NANOS) column unless the session sets
    * `spark.sql.legacy.parquet.nanosAsLong=true` (as `graft.Sessions.local`
    * does), which reads it as a long. Such columns are found from the
    * parquet footer, so the conversion is data-driven, not name-driven.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    resolve(spark, path) match {
      case None => spark.read.parquet(path)
      case Some((e, inferred)) =>
        val df = inferred.getOrElse(spark.read.schema(e.schema).parquet(path))
        // floored, so a pre-1970 instant rounds down as `Instant` does
        e.nanoCols.foldLeft(df)((d, c) => d.withColumn(c,
          timestamp_micros(graft.functions.floorDiv(col(s"`$c`"), lit(1000L)))))
    }

  private[compile] def footerRows(spark: SparkSession, path: String): Option[Long] =
    resolve(spark, path).flatMap(_._1.footerRows(hadoopConf(spark)))

  /** Drops every entry; the next read of each path infers again. */
  private[graft] def clearCache(): Unit = cache.clear()

  private def hadoopConf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration

  /** The current entry for `path` and, on a miss, the inferred frame that
    * filled it; None when the path does not name existing files (the
    * plain read then reports it as Spark always has).
    */
  private def resolve(spark: SparkSession,
                      path: String): Option[(Entry, Option[DataFrame])] = {
    val hconf = hadoopConf(spark)
    val p = new Path(path)
    val fs = p.getFileSystem(hconf)
    val status =
      try fs.getFileStatus(p) catch { case _: java.io.FileNotFoundException => return None }
    val key = fs.makeQualified(p).toString
    val stamp = stampOf(fs, status)
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
      k.startsWith("spark.sql.legacy.parquet.") || k == "spark.sql.caseSensitive"
    }
    Option(cache.get(key)).filter(e => e.stamp == stamp && e.conf == conf) match {
      case Some(e) => Some((e, None))
      case None =>
        val df = spark.read.parquet(path)
        val e = new Entry(stamp, conf, df.schema,
          nanoTimestampCols(status.isFile, stamp, hconf))
        cache.put(key, e)
        Some((e, Some(df)))
    }
  }

  /** The files a parquet read of `status` scans: the file itself, or every
    * file under the directory except hidden and metadata files (names
    * starting with `.` or `_`), sorted by name.
    */
  private def stampOf(fs: FileSystem, status: org.apache.hadoop.fs.FileStatus): Seq[FileStamp] = {
    def of(s: org.apache.hadoop.fs.FileStatus) =
      FileStamp(s.getPath.toString, s.getLen, s.getModificationTime)
    if (status.isFile) Seq(of(status))
    else {
      val it = fs.listFiles(status.getPath, true)
      val b = Seq.newBuilder[FileStamp]
      while (it.hasNext) {
        val f = it.next()
        val n = f.getPath.getName
        if (!n.startsWith(".") && !n.startsWith("_")) b += of(f)
      }
      b.result().sortBy(_.name)
    }
  }

  /** Summed footer row count of the stamped files; None when a footer
    * cannot be read, so callers fall back to counting.
    */
  private def sumFooterRows(stamp: Seq[FileStamp], hconf: Configuration): Option[Long] =
    scala.util.Try(stamp.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.name), hconf))
      try reader.getRecordCount finally reader.close()
    }.sum).toOption

  /** INT64 TIMESTAMP(NANOS) columns of the path's first parquet file. */
  private def nanoTimestampCols(isFile: Boolean, stamp: Seq[FileStamp],
                                hconf: Configuration): Seq[String] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    import scala.jdk.CollectionConverters._
    val first =
      if (isFile) stamp.headOption else stamp.find(_.name.endsWith(".parquet"))
    first.toSeq.flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.name), hconf))
      try reader.getFileMetaData.getSchema.getFields.asScala.toSeq.collect {
        case field if field.isPrimitive &&
            (field.getLogicalTypeAnnotation match {
              case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
              case _ => false
            }) => field.getName
      } finally reader.close()
    }
  }
}

/** Batch env over a directory of `<topic>.<format>` files in any
  * DataFrameReader format — `json` (JSONL, the interchange format real
  * corpora arrive in), `csv`, `text`, `orc`, … Pass explicit schemas for
  * production reads: inference scans the data once before the real job,
  * an acceptable cost in exploration only.
  */
final class FileEnv(val spark: SparkSession, dir: String,
                    format: String = "json",
                    schemas: Map[String, org.apache.spark.sql.types.StructType] = Map.empty,
                    options: Map[String, String] = Map.empty) extends Env {
  def load(topic: String): DataFrame = {
    val r = spark.read.format(format).options(options)
    schemas.get(topic).fold(r)(s => r.schema(s)).load(s"$dir/$topic.$format")
  }
  def topicNames: Seq[String] = {
    val d = new java.io.File(dir)
    Option(d.list()).getOrElse(Array.empty[String]).toSeq
      .filter(_.endsWith(s".$format")).map(_.stripSuffix(s".$format")).sorted
  }
  def isStreaming: Boolean = false
}

/** Streaming env over file-drop directories (one directory per topic —
  * the standard "land files, stream them" ingest): `readStream` tails each
  * directory for new files. Schemas are REQUIRED — a streaming source
  * cannot infer. At scale, cap per-batch intake with
  * `options("maxFilesPerTrigger" -> …)` so a backlog replays in bounded
  * micro-batches instead of one giant one.
  */
final class FileStreamEnv(val spark: SparkSession, dir: String,
                          schemas: Map[String, org.apache.spark.sql.types.StructType],
                          format: String = "json",
                          options: Map[String, String] = Map.empty) extends Env {
  def load(topic: String): DataFrame =
    spark.readStream.format(format).options(options)
      .schema(schemas(topic)).load(s"$dir/$topic")
  def topicNames: Seq[String] = schemas.keys.toSeq.sorted
  def isStreaming: Boolean = true
}

/** Streaming env over pre-built streaming DataFrames (MemoryStream-backed in
  * tests; Kafka readers in production — see graft.streaming.KafkaTopics).
  * `statics` serves GlobalKTable-style lookup topics as batch frames — the
  * stream-static join side (re-read per micro-batch, broadcastable), which
  * is exactly the GlobalKTable replication model (SURVEY §1.1).
  */
final class StreamEnv(val spark: SparkSession, streams: Map[String, DataFrame],
                      statics: Map[String, DataFrame] = Map.empty)
    extends Env {
  def load(topic: String): DataFrame =
    streams.getOrElse(topic, statics(topic))
  def topicNames: Seq[String] = (streams.keySet ++ statics.keySet).toSeq.sorted
  def isStreaming: Boolean = true
}

/** The compiler — analog of the reference's recursive evaluator
  * (`src/cddr/ksml/eval.clj:382-395`): one syntax-directed pass from the AST
  * to a Spark plan. Where ksml emits Java interop against a mutable
  * `StreamsBuilder`, we fold into the immutable `DataFrame` API and let
  * Catalyst do all optimization (SURVEY §4: the reference performs zero plan
  * rewrites; Catalyst subsumes every rewrite class we need).
  */
object Compiler {

  /** Public entry: fold the topology into a [[KFrame]], one case per node. */
  def compile(node: KNode, env: Env): KFrame = node match {

    // ---- sources -------------------------------------------------------
    case StreamSource(topics, pattern, consumed) =>
      val names = pattern match {
        case Some(p) => env.topicNames.filter(_.matches(p))
        case None => topics
      }
      require(names.nonEmpty, s"no topics match $pattern")
      // Pattern subscriptions may span topics with differing decoded schemas
      // (Kafka merges them as raw records); absent columns become null.
      val df = names.map(t => decode(env.load(t), consumed))
        .reduce(_.unionByName(_, allowMissingColumns = true))
      KFrame(df, consumed.keys, consumed.eventTime)

    case TableSource(topic, consumed, orderBy, mat, unique) =>
      val df = decode(env.load(topic), consumed)
      val keys = consumed.keys
      require(keys.nonEmpty, s"table $topic needs key columns (Consumed.keys)")
      val ord = orderBy.orElse(consumed.eventTime)
      if (unique && !env.isStreaming)
        // primary-key snapshot: no compaction shuffle needed
        KFrame(df, keys, consumed.eventTime, isTable = true)
      else if (env.isStreaming) {
        // Changelog compaction as a chainable upsert kernel (SURVEY §7.5
        // risk #1: update-mode aggregates can't feed further stateful ops).
        // `:withRetention` (Materialized.retention, eval.clj:208) → the
        // kernel evicts keys idle past the interval (Kafka store TTL analog).
        val raw = KFrame(df, keys, consumed.eventTime, isTable = true)
        val compacted = ord match {
          case Some(o) => graft.state.TableKernels.latestPerKey(
            raw, o, mat.flatMap(_.retention))
          case None => df.dropDuplicates(keys)
        }
        KFrame(compacted, keys, consumed.eventTime, isTable = true)
      } else
        KFrame(compact(df, keys, ord), keys, consumed.eventTime, isTable = true)

    case GlobalTableSource(topic, consumed, unique) =>
      val df = decode(env.load(topic), consumed)
      val keys = consumed.keys
      require(keys.nonEmpty, s"global table $topic needs key columns")
      // Fully-replicated lookup side (`eval.clj:73`) → broadcast hint;
      // unique sources skip the compaction shuffle before the broadcast.
      // Size guard: a mislabeled big table must fail with a clear message,
      // not an executor OOM mid-broadcast. The env's row bound comes first:
      // decode and compaction only ever remove rows, so a source bound
      // within maxRows (a parquet footer count) passes without a job.
      // Otherwise it counts the COMPACTED frame (an upsert-heavy changelog
      // can compact far below its raw row count), bounded by
      // limit(maxRows+1) so the count stops as soon as the limit is hit.
      val compacted =
        if (unique) df else compact(df, keys, consumed.eventTime)
      val maxRows =
        env.spark.conf.getOption("graft.globalTable.maxRows")
          .map(_.toLong).getOrElse(10000000L)
      val lim = math.min(maxRows + 1, Int.MaxValue.toLong).toInt
      val n =
        if (df.isStreaming) -1L
        else env.rowsUpperBound(topic).filter(_ <= maxRows)
          .getOrElse(compacted.limit(lim).count())
      require(n <= maxRows,
        s"global table '$topic' has more than $maxRows compacted rows, over " +
        s"the broadcast guard (graft.globalTable.maxRows). GlobalKTables are " +
        s"fully replicated to every executor — use :table + a keyed join " +
        s"instead.")
      KFrame(broadcast(compacted), keys, consumed.eventTime, isTable = true)

    // ---- stateless -----------------------------------------------------
    case FilterOp(up, pred, negate) =>
      val f = compile(up, env)
      val p = if (negate) !pred else pred
      if (env.isStreaming && f.isTable) {
        // KTable filter semantics (SURVEY §2.2/§2.10): a non-matching
        // UPDATE must tombstone the key downstream, not merely disappear —
        // emit the row with null value columns (the changelog delete form).
        val out = f.df.select(
          (f.keys ++ f.eventTime).map(f.df.col) ++
          f.valueCols.map(c =>
            when(p, f.df.col(c))
              .otherwise(lit(null).cast(f.df.schema(c).dataType)).as(c)): _*)
        f.copy(df = out)
      } else f.copy(df = f.df.filter(p))

    case MapValuesOp(up, values) =>
      val f = compile(up, env)
      val keep = (f.keys ++ f.eventTime).map(f.df.col)
      val out = f.df.select(keep ++ values: _*)
      f.copy(df = out)

    case MapOp(up, keys, values) =>
      val f = compile(up, env)
      val out = f.df.select(keys ++ f.eventTime.map(f.df.col) ++ values: _*)
      val newKeys = out.columns.take(keys.size).toSeq
      KFrame(out, newKeys, f.eventTime, f.isTable)

    case SelectKeyOp(up, keys) =>
      val f = compile(up, env)
      val out = f.df.select(
        keys ++ (f.eventTime ++ f.valueCols).map(f.df.col): _*)
      KFrame(out, out.columns.take(keys.size).toSeq, f.eventTime, f.isTable)

    case FlatMapValuesOp(up, gen, as) =>
      val f = compile(up, env)
      val keep = (f.keys ++ f.eventTime).map(f.df.col)
      f.copy(df = f.df.select(keep :+ explode(gen).as(as): _*))

    case FlatMapOp(up, gen, keys) =>
      val f = compile(up, env)
      val exploded = f.df.select(f.eventTime.map(f.df.col).toSeq :+
        explode(gen).as("__kv"): _*)
      val fields = exploded.schema("__kv").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
      val out = exploded.select(f.eventTime.map(exploded.col).toSeq ++
        fields.map(n => col(s"__kv.$n").as(n)): _*)
      KFrame(out, keys, f.eventTime, f.isTable)

    case BranchOp(up, preds, idx) =>
      // First-match-wins semantics made explicit (`eval.clj:100-106`,
      // SURVEY §2.2): branch i = pred(i) && !pred(0) && ... && !pred(i-1).
      val f = compile(up, env)
      val cond = preds.take(idx).foldLeft(preds(idx))((acc, p) => acc && !p)
      f.copy(df = f.df.filter(cond))

    case MergeOp(ups) =>
      val frames = ups.map(compile(_, env))
      frames.tail.foldLeft(frames.head)((a, b) =>
        a.copy(df = a.df.unionByName(b.df)))

    case PeekOp(up, action) =>
      val f = compile(up, env)
      implicit val enc = Encoders.row(f.df.schema)
      f.copy(df = f.df.mapPartitions(it => it.map { r => action(r); r }))

    case ToStreamOp(up, keys) =>
      val f = compile(up, env)
      val rekeyed =
        if (keys.isEmpty) f
        else {
          val out = f.df.select(keys ++ (f.eventTime ++ f.valueCols).map(f.df.col): _*)
          KFrame(out, out.columns.take(keys.size).toSeq, f.eventTime)
        }
      rekeyed.copy(isTable = false)

    case RepartitionOp(up, cfg) =>
      val f = compile(up, env)
      val out = (cfg.numPartitions, cfg.partitionExpr) match {
        case (Some(n), Some(e)) => f.df.repartition(n, e)
        case (Some(n), None) => f.df.repartition(n, f.keys.map(f.df.col): _*)
        case (None, Some(e)) => f.df.repartition(e)
        case (None, None) => f.df.repartition(f.keys.map(f.df.col): _*)
      }
      f.copy(df = out)

    case SelectOp(up, cols) =>
      val f = compile(up, env)
      f.copy(df = f.df.select(cols: _*))

    case SortOp(up, cols) =>
      val f = compile(up, env)
      f.copy(df = f.df.orderBy(cols: _*))

    // ---- grouping + aggregation ---------------------------------------
    case g: GroupByOp =>
      // Grouping alone is a re-key (shuffle happens at the agg); compiling a
      // bare grouping is the `:select-key` view of it.
      compile(SelectKeyOp(g.up, g.keys), env)

    case g: GroupByKeyOp => compile(g.up, env)

    case CountOp(grouped, window, as, mat) =>
      aggregate(grouped, Seq(count(lit(1)).cast("long").as(as)), window, mat, env)

    case AggOp(grouped, aggs, window, mat) =>
      aggregate(grouped, aggs, window, mat, env)

    case r: ReduceOp => graft.state.UserAggregates.reduce(r, env)
    case a: AggregateOp[_] => graft.state.UserAggregates.aggregate(a, env)
    case s: SessionAggregateOp[_] => graft.state.SessionKernels.run(s, env)
    case TransformOp(up, name, fn, keys) =>
      val f = compile(up, env)
      val out = fn(f.df)
      val cols = out.columns.toSet
      val newKeys = if (keys.nonEmpty) keys else f.keys.filter(cols)
      require(newKeys.forall(cols),
        s"transform '$name': declared key columns ${keys.mkString(",")} " +
          s"missing from output schema ${out.columns.mkString(",")}")
      KFrame(out, newKeys, f.eventTime.filter(cols), f.isTable)

    case p: ProcessOp => graft.state.Processors.run(p, env)

    // ---- joins ---------------------------------------------------------
    case j: JoinOp => compileJoin(j, env)
  }

  /** Serde decode at the source edge (SURVEY §1.2): applies key/value serdes
    * to the Kafka wire columns when present; parquet fixtures arrive typed so
    * decode is the identity for them.
    */
  private def decode(df: DataFrame, c: Consumed): DataFrame = {
    var out = df
    if (df.columns.contains("key"))
      c.keySerde.foreach(s => out = out.withColumn("key", s.decode(col("key"))))
    if (df.columns.contains("value"))
      c.valueSerde.foreach(s => out = out.withColumn("value", s.decode(col("value"))))
    // Invalid-event-time policies (`:timestamp-extractor`, eval.clj:92-93):
    // invalid ≡ null event time. The default (FailOnInvalid) leaves the
    // column untouched so event-time predicates still push down to the scan;
    // nulls then surface naturally in stateful ops.
    c.eventTime.filter(out.columns.contains).foreach { ts =>
      c.timestampPolicy match {
        case TimestampPolicy.LogAndSkipOnInvalid =>
          out = out.filter(col(ts).isNotNull)
        case TimestampPolicy.WallclockOnInvalid =>
          out = out.withColumn(ts, coalesce(col(ts), current_timestamp()))
        case TimestampPolicy.PartitionTimeOnInvalid =>
          // partition time = highest valid timestamp seen so far in this
          // partition (Kafka's UsePartitionTimeOnInvalidTimestamp); a narrow
          // per-partition scan, no shuffle.
          // Determinism caveat: "partition" here is a Spark partition, not a
          // Kafka partition — backfilled values depend on the physical
          // partitioning and intra-partition row order, and in streaming the
          // running max resets every micro-batch. Deterministic results need
          // per-source-partition, ordered input (one file per Kafka
          // partition, offset order — what a Kafka-backed source provides);
          // on arbitrary repartitioned input the backfill is best-effort.
          val schema = out.schema
          val idx = schema.fieldIndex(ts)
          implicit val enc = Encoders.row(schema)
          out = out.mapPartitions { it =>
            // track the raw cell (java.sql.Timestamp OR LocalDateTime —
            // fixtures carry both) so the backfilled value always matches
            // the column's external type; compare on tolerant micros
            var partRaw: Any = null
            var partUs = Long.MinValue
            it.map { r =>
              val t = r.get(idx)
              if (t != null) {
                val us = graft.Intervals.micros(t)
                if (partRaw == null || us > partUs) { partRaw = t; partUs = us }
                r
              } else if (partRaw != null)
                Row.fromSeq(r.toSeq.updated(idx, partRaw))
              else r
            }
          }
        case TimestampPolicy.FailOnInvalid => ()
      }
    }
    out
  }

  /** KTable compaction: latest value per key, ordered by the changelog order
    * column (the Kafka offset analog). One shuffle; map-side partial
    * aggregation applies since max_by is a declarative aggregate. At 100 TB
    * this is the standard "snapshot a CDC log" pattern — shuffle is on the
    * table key, AQE handles skew.
    */
  private[graft] def compact(df: DataFrame, keys: Seq[String],
                             order: Option[String]): DataFrame = {
    val others = df.columns.toSeq.filterNot(keys.contains)
    order match {
      case None => df.dropDuplicates(keys)
      case Some(ord) =>
        val packed = struct(others.map(col): _*)
        df.groupBy(keys.map(col): _*)
          .agg(max_by(packed, col(ord)).as("__latest"))
          .select(keys.map(col) ++ others.map(o => col(s"__latest.$o").as(o)): _*)
    }
  }

  private def windowColumn(w: WindowSpec, ts: String): Column = (w match {
    case WindowSpec.Tumbling(d) => window(col(ts), d)
    case WindowSpec.Hopping(d, a) => window(col(ts), d, a)
    case WindowSpec.Session(g) => session_window(col(ts), g)
  }).as("window")

  private def aggregate(grouped: KNode, aggs: Seq[Column],
                        win: Option[WindowSpec], mat: Option[Materialized],
                        env: Env): KFrame = {
    val (f, keyCols) = grouped match {
      case GroupByOp(up, keys, _) =>
        val uf = compile(up, env)
        (uf, keys)
      case GroupByKeyOp(up, _) =>
        val uf = compile(up, env)
        (uf, uf.keys.map(uf.df.col))
      case other =>
        val uf = compile(other, env)
        (uf, uf.keys.map(uf.df.col))
    }
    // Streaming stateful aggs need a watermark: derive the delay from the
    // materialized retention (`:withRetention` eval.clj:208 → SURVEY §2.10)
    // or default conservatively to the window length (10 min otherwise).
    val watermarked =
      if (env.isStreaming && f.eventTime.isDefined) {
        val delay = mat.flatMap(_.retention).getOrElse(win match {
          case Some(WindowSpec.Tumbling(d)) => d
          case Some(WindowSpec.Hopping(d, _)) => d
          case Some(WindowSpec.Session(g)) => g
          case None => "10 minutes"
        })
        f.df.withWatermark(f.eventTime.get, delay)
      } else f.df
    val result = win match {
      case None =>
        val out = watermarked.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
        val keyNames = out.columns.take(keyCols.size).toSeq
        KFrame(out, keyNames, None, isTable = true)
      case Some(w) =>
        val ts = f.eventTime.getOrElse(
          throw new IllegalArgumentException("windowed agg needs an event-time column"))
        val out = watermarked
          .groupBy(windowColumn(w, ts) +: keyCols: _*)
          .agg(aggs.head, aggs.tail: _*)
        val keyNames = out.columns.slice(1, 1 + keyCols.size).toSeq
        val flat = out.select(
          col("window.start").as("window_start") +:
          col("window.end").as("window_end") +:
          out.columns.toSeq.tail.map(out.col): _*)
        KFrame(flat, "window_start" +: keyNames, None, isTable = true)
    }
    // Named materialization (`Materialized.as`, eval.clj:169-173): register
    // the state view for interactive queries (graft.iq). Batch registers a
    // temp view; streaming queryable state goes through Runner +
    // SinkSpec.Memory (a keyed store for an update-mode table).
    if (!env.isStreaming)
      mat.flatMap(_.name).foreach(n => result.df.createOrReplaceTempView(n))
    result
  }

  /** Join compilation (SURVEY §2.4). All reference joins are equi-joins on
    * the record key; kind is inferred from operand node metadata:
    *  - table ⋈ table          → shuffle equi-join (batch) / state kernel (stream)
    *  - stream ⋈ table         → enrichment join
    *  - stream ⋈ global-table  → broadcast lookup join (no shuffle of right)
    *  - stream ⋈ stream + band → time-interval join (watermarked in streaming)
    * Right-side key columns are renamed onto left's key names so Spark's
    * using-column join dedups keys; other right columns that clash get a
    * `_r` suffix (positional disambiguation, like Kafka's ValueJoiner args).
    */
  private def compileJoin(j: JoinOp, env: Env): KFrame = {
    val lf = compile(j.left, env)
    val rf0 = compile(j.right, env)
    val how = j.how.toString

    // Streaming KTable ⋈ KTable: two changelogs cannot equi-join directly in
    // Spark — route through the co-grouped state kernel (SURVEY §2.4).
    if (env.isStreaming && lf.isTable && rf0.isTable && !j.broadcastRight &&
        j.derivedKey.isEmpty && j.window.isEmpty) {
      val joined = graft.state.TableKernels.tableTableJoin(
        lf, rf0, j.how, j.retention)
      val out = if (j.projection.nonEmpty) joined.select(j.projection: _*) else joined
      return KFrame(out, lf.keys, None, isTable = true)
    }

    // Streaming KStream ⋈ KTable: a plain equi-join against the compaction
    // kernel's changelog would enrich each stream record with EVERY
    // historical upsert of its key, not the current value — route through
    // the latest-value state kernel instead (Kafka's point-in-time lookup).
    if (env.isStreaming && !lf.isTable && rf0.isTable && !j.broadcastRight &&
        j.derivedKey.isEmpty && j.window.isEmpty) {
      val joined = graft.state.TableKernels.streamTableJoin(
        lf, rf0, j.how, j.retention)
      val out = if (j.projection.nonEmpty) joined.select(j.projection: _*) else joined
      return KFrame(out, lf.keys, lf.eventTime, isTable = false)
    }

    // Derived-key lookup joins (`:join-global`): compute the foreign key on
    // the left, then equi-join it to the right's key.
    val (lext, lkeys) =
      if (j.derivedKey.nonEmpty) {
        val named = j.derivedKey.zipWithIndex.map { case (c, i) => c.as(s"__fk$i") }
        (lf.df.select(lf.df.columns.map(lf.df.col).toSeq ++ named: _*),
         named.indices.map(i => s"__fk$i"))
      } else (lf.df, lf.keys)

    require(lkeys.size == rf0.keys.size,
      s"join key arity mismatch: $lkeys vs ${rf0.keys}")

    // Rename right keys to the left's key names; suffix clashing value cols.
    val keyRenamed = rf0.keys.zip(lkeys).foldLeft(rf0.df) {
      case (d, (rk, lk)) => if (rk == lk) d else d.withColumnRenamed(rk, lk)
    }
    val lcols = lext.columns.toSet
    val rvalue = keyRenamed.columns.toSeq.filterNot(lkeys.contains)
    val renamed = rvalue.foldLeft(keyRenamed)((d, c) =>
      if (lcols.contains(c)) d.withColumnRenamed(c, s"${c}_r") else d)

    val joined = j.window match {
      case None =>
        val r = if (j.broadcastRight) broadcast(renamed) else renamed
        // derived-key columns are internal — drop them after the join so
        // chained lookup joins don't collide on the __fk names
        val jd = lext.join(r, lkeys, how)
        if (j.derivedKey.nonEmpty) jd.drop(lkeys: _*) else jd
      case Some(JoinWindow(before, after)) =>
        // Stream-stream band join: keys equal AND r.ts ∈ [l.ts - before,
        // l.ts + after] (`JoinWindows` semantics). Needs distinct ts names.
        val lts = lf.eventTime.getOrElse(
          throw new IllegalArgumentException("windowed join needs left event time"))
        val rts0 = rf0.eventTime.getOrElse(
          throw new IllegalArgumentException("windowed join needs right event time"))
        val rts = if (lcols.contains(rts0)) s"${rts0}_r" else rts0
        val lw = if (env.isStreaming) lext.withWatermark(lts, before) else lext
        val rw = if (env.isStreaming) renamed.withWatermark(rts, after) else renamed
        val band = col(rts) >= col(lts) - expr(s"INTERVAL $before") &&
                   col(rts) <= col(lts) + expr(s"INTERVAL $after")
        val cond = lkeys.map(k => lw.col(k) === rw.col(k)).foldLeft(band)(_ && _)
        // Coalesce the key columns rather than dropping the right side's:
        // an OUTER band join's right-only rows would otherwise lose their
        // key (left's is null there). Equivalent for inner/left.
        val j0 = lw.join(rw, cond, how)
        j0.select(
          lkeys.map(k => coalesce(lw.col(k), rw.col(k)).as(k)) ++
          lw.columns.toSeq.filterNot(lkeys.contains).map(lw.col) ++
          rw.columns.toSeq.filterNot(lkeys.contains).map(rw.col): _*)
    }
    val out = if (j.projection.nonEmpty) joined.select(j.projection: _*) else joined
    KFrame(out, lf.keys, lf.eventTime, lf.isTable && rf0.isTable)
  }
}
