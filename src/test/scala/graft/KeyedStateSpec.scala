package graft

import graft.ast._
import graft.ast.dsl._
import graft.compile.{Compiler, Env, KFrame, StreamEnv}
import graft.state.TableKernels
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** The keyed-state layer's shared pieces: the event-time reader, the
  * retention rule as the table⋈table kernel applies it, the one
  * reduce/aggregate path in both modes and the one SQL function table.
  */
class KeyedStateSpec extends SparkSpecBase {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000L)

  test("event-time reader: Timestamp, LocalDateTime and Instant agree; floors; null is no time") {
    val us = 1723500000123456L
    val inst = java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L)
    val sqlTs = java.sql.Timestamp.from(inst)
    val ldt = java.time.LocalDateTime.ofInstant(inst, java.time.ZoneOffset.UTC)
    for (v <- Seq[Any](sqlTs, ldt, inst)) {
      assert(Intervals.micros(v) == us, v)
      assert(Intervals.millis(v) == us / 1000L, v)
    }
    // 500 µs before the epoch: millis floor to -1 (as Timestamp.getTime
    // does), where micros / 1000 would truncate to 0
    val pre = java.time.Instant.ofEpochSecond(-1L, 999500000L)
    val preTs = java.sql.Timestamp.from(pre)
    assert(preTs.getTime == -1L)
    for (v <- Seq[Any](preTs, pre,
                       java.time.LocalDateTime.ofInstant(pre, java.time.ZoneOffset.UTC))) {
      assert(Intervals.micros(v) == -500L, v)
      assert(Intervals.millis(v) == -1L, v)
    }
    assert(Intervals.micros(Intervals.fromMicros(-500L)) == -500L)
    assert(Intervals.fromMicros(us) == sqlTs)
    // null: no event time, below every instant so a running max ignores it
    assert(Intervals.micros(null) == Intervals.NoEventTime)
    assert(Intervals.millis(null) == Intervals.NoEventTime)
    assert(math.max(Intervals.millis(null), -1L) == -1L)
    val bad = intercept[IllegalArgumentException](Intervals.millis(42L))
    assert(bad.getMessage.contains("timestamp value"), bad.getMessage)
  }

  test("table⋈table retention: an idle key is evicted, a later update re-creates it as first seen") {
    val lms = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val rms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val lf = KFrame(lms.toDF().toDF("k", "lts", "lv"),
      keys = Seq("k"), eventTime = Some("lts"), isTable = true)
    val rf = KFrame(rms.toDF().toDF("k", "rts", "name"),
      keys = Seq("k"), eventTime = Some("rts"), isTable = true)
    val out = TableKernels.tableTableJoin(lf, rf, JoinHow.Left,
      retention = Some("10 seconds"))
    val q = out.writeStream.format("memory").queryName("ttj_evict")
      .outputMode("append").start()
    def emitted(lv: Long) = spark.table("ttj_evict").collect()
      .filter(_.getAs[Long]("lv") == lv)
      .map(r => (r.getAs[Long]("k"), Option(r.getAs[String]("name")))).toSeq
    def stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    try {
      // one side per batch: two sources added together may still split
      rms.addData((1L, ts(100), "r1"))
      q.processAllAvailable()
      lms.addData((1L, ts(100), 1L))
      q.processAllAvailable()
      assert(emitted(1L) == Seq((1L, Some("r1"))))
      assert(stateRows == 1)
      // move both watermarks far past k=1's last event + retention with
      // other keys, then one more batch so the passed timeouts fire
      lms.addData((99L, ts(1000), 9L)); rms.addData((98L, ts(1000), "x"))
      q.processAllAvailable()
      lms.addData((99L, ts(1001), 9L)); rms.addData((98L, ts(1001), "x"))
      q.processAllAvailable()
      assert(stateRows == 2, "k=1 must be evicted, only keys 98 and 99 stay")
      // a left-only update: had k=1 survived, it would join "r1"
      lms.addData((1L, ts(1002), 2L))
      q.processAllAvailable()
      assert(emitted(2L) == Seq((1L, None)))
      assert(stateRows == 3)
    } finally q.stop()
  }

  test("streamTableJoin under retention resolves when both event times share a name") {
    val sms = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val tms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val sf = KFrame(sms.toDF().toDF("k", "ts", "v"),
      keys = Seq("k"), eventTime = Some("ts"))
    val rf = KFrame(tms.toDF().toDF("k", "ts", "name"),
      keys = Seq("k"), eventTime = Some("ts"), isTable = true)
    val out = TableKernels.streamTableJoin(sf, rf, JoinHow.Left,
      retention = Some("1 hour"))
    val q = out.writeStream.format("memory").queryName("stj_same_ts")
      .outputMode("append").start()
    try {
      tms.addData((1L, ts(100), "dim-1"))
      q.processAllAvailable()
      sms.addData((1L, ts(101), 7L))
      q.processAllAvailable()
      val got = spark.table("stj_same_ts").collect()
        .map(r => (r.getAs[Long]("v"), r.getAs[String]("name"))).toSet
      assert(got == Set((7L, "dim-1")), s"got $got")
    } finally q.stop()
  }

  test("streaming AggregateOp: running rows over two micro-batches equal the batch face on their union") {
    val b1 = Seq(("a", 0.5), ("b", 1.25), ("a", 2.0))
    val b2 = Seq(("a", 4.0), ("c", 8.0), ("b", 0.25))
    def node = AggregateOp[(Long, Double)](
      stream(Seq("ev"), Consumed(keys = Seq("k"))).groupByKey,
      initializer = () => (0L, 0.0),
      aggregator = (b, r) => (b._1 + 1, b._2 + r.getAs[Double]("v")),
      finisher = b => Row(b._1, b._2),
      outSchema = StructType(Seq(StructField("n", LongType),
                                 StructField("sum_v", DoubleType))))
    val ms = MemoryStream[(String, Double)]
    val env = new StreamEnv(spark, Map("ev" -> ms.toDF().toDF("k", "v")))
    val q = Compiler.compile(node, env).df.writeStream
      .format("memory").queryName("agg_running").outputMode("update").start()
    val running = try {
      ms.addData(b1: _*)
      q.processAllAvailable()
      ms.addData(b2: _*)
      q.processAllAvailable()
      // update mode appends each batch's changed keys; the running count
      // grows, so a key's latest row is its largest n
      spark.table("agg_running").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).values.map(_.maxBy(_._2)).toSet
    } finally q.stop()
    val union = (b1 ++ b2).toDF("k", "v")
    val batchEnv = new Env {
      def spark: SparkSession = KeyedStateSpec.this.spark
      def load(topic: String): DataFrame = union
      def topicNames: Seq[String] = Seq("ev")
      def isStreaming: Boolean = false
    }
    val batch = Compiler.compile(node, batchEnv).df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch == Set(("a", 3L, 6.5), ("b", 2L, 1.5), ("c", 1L, 8.0)))
    assert(running == batch)
  }

  test("register installs every name of the one SQL function table") {
    graft.functions.VectorFunctions.register(spark)
    val names = graft.functions.VectorFunctions.sqlFunctions.map(_._1)
    assert(names.distinct.size == names.size, "duplicate name in the table")
    val missing = names.filterNot(spark.catalog.functionExists)
    assert(missing.isEmpty, s"not registered: $missing")
  }
}
