package graft

import graft.ast._
import graft.ast.dsl._
import graft.compile.{Compiler, ParquetEnv}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Per-operator batch semantics: each DSL node compiled and checked against
  * a directly-computed expected result (the construction-validity analog of
  * the reference's eval_test.clj, upgraded to data correctness — SURVEY §5).
  */
class CompilerSpec extends SparkSpecBase {

  private def env = new ParquetEnv(spark, sfDir)
  private def events = env.load("events")
  private val consumed = Consumed(keys = Seq("user_id"), eventTime = Some("ts"))

  test("stream source exposes topic rows with key metadata") {
    val f = Compiler.compile(stream(Seq("events"), consumed), env)
    assert(f.keys == Seq("user_id") && f.eventTime.contains("ts"))
    assert(f.df.count() == events.count())
  }

  test("pattern subscription merges matching topics") {
    val f = Compiler.compile(streamPattern("nation|region"), env)
    assert(f.df.count() ==
      env.load("nation").count() + env.load("region").count())
  }

  test("table source compacts to latest value per key") {
    val f = Compiler.compile(table("events", consumed, orderBy = Some("event_id")), env)
    val expected = events.groupBy("user_id")
      .agg(max_by(col("event_type"), col("event_id")).as("event_type"))
    val got = f.df.select("user_id", "event_type")
    assert(f.isTable)
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
  }

  test("filter and filter-not partition the stream") {
    val base = stream(Seq("events"), consumed)
    val yes = Compiler.compile(base.filter(col("value") > 100), env).df.count()
    val no = Compiler.compile(base.filterNot(col("value") > 100), env).df.count()
    assert(yes + no == events.count())
    assert(yes == events.where(col("value") > 100).count())
  }

  test("branch is first-match-wins and total") {
    val preds = Seq(col("value") > 150, col("value") > 50, lit(true))
    val branches = stream(Seq("events"), consumed).branch(preds: _*)
    val counts = branches.map(b => Compiler.compile(b, env).df.count())
    assert(counts.sum == events.count())
    assert(counts(1) ==
      events.where(!(col("value") > 150) && col("value") > 50).count())
  }

  test("map re-keys and flags the new key columns") {
    val f = Compiler.compile(
      stream(Seq("events"), consumed)
        .map(keys = Seq((col("user_id") % 7).as("k")),
             values = Seq(col("value").as("v"))), env)
    assert(f.keys == Seq("k"))
    assert(f.df.columns.toSet == Set("k", "ts", "v"))
  }

  test("flatMapValues explodes with key preserved") {
    val f = Compiler.compile(
      stream(Seq("documents"), Consumed(keys = Seq("doc_id")))
        .flatMapValues(split(col("text"), " "), as = "word")
        .filter(col("word") =!= ""), env)
    val docs = env.load("documents")
    val expected = docs.select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "").count()
    assert(f.df.count() == expected)
    assert(f.keys == Seq("doc_id"))
  }

  test("merge unions streams") {
    val ev = stream(Seq("events"), consumed)
    val merged = Compiler.compile(
      ev.filter(col("event_type") === "click")
        .merge(ev.filter(col("event_type") === "view")), env)
    assert(merged.df.count() ==
      events.where(col("event_type").isin("click", "view")).count())
  }

  test("peek passes records through and fires the action") {
    val acc = spark.sparkContext.longAccumulator("peek")
    val f = Compiler.compile(
      stream(Seq("events"), consumed).peek(_ => acc.add(1)), env)
    assert(f.df.count() == events.count())
    assert(acc.value == events.count())
  }

  test("windowed count matches manual tumbling aggregation") {
    val f = Compiler.compile(
      stream(Seq("events"), consumed)
        .groupByKey.windowedBy(WindowSpec.Tumbling("1 hour")).count(as = "n"), env)
    val expected = env.load("events")
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("user_id"))
      .count()
    assert(f.df.count() == expected.count())
    assert(f.df.agg(sum("n")).head.getLong(0) == events.count())
  }

  test("typed reduce equals declarative sum") {
    val node = ReduceOp(
      stream(Seq("events"), consumed)
        .mapValues(round(col("value") * 100).cast("long").as("c"))
        .groupByKey,
      reducer = (a: Row, b: Row) => Row(a.getLong(0) + b.getLong(0)))
    val got = Compiler.compile(node, env).df
    val expected = events.groupBy("user_id")
      .agg(sum(round(col("value") * 100).cast("long")).as("c"))
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
  }

  test("processor API folds per key in event-time order") {
    // running max of value per user, emitted on every increase
    val node = ProcessOp(
      stream(Seq("events"), consumed).mapValues(col("value")),
      init = () => Array[Byte](),
      process = (state, row) => {
        val prev = if (state.isEmpty) Double.MinValue
          else java.nio.ByteBuffer.wrap(state).getDouble
        val v = row.getAs[Double]("value")
        if (v > prev) {
          val buf = java.nio.ByteBuffer.allocate(8).putDouble(v)
          (buf.array(), Iterator.single(Row(row.getAs[Long]("user_id"), v)))
        } else (state, Iterator.empty)
      },
      outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("vmax",
          org.apache.spark.sql.types.DoubleType))))
    val got = Compiler.compile(node, env).df
    // each user's final (highest) emission equals their max value
    val finals = got.groupBy("user_id").agg(max("vmax").as("vmax"))
    val expected = events.groupBy("user_id").agg(max("value").as("vmax"))
    assert(finals.except(expected).isEmpty && expected.except(finals).isEmpty)
    // emissions per user are strictly increasing → count == distinct count
    assert(got.count() == got.distinct().count())
  }

  test("global-table join uses broadcast") {
    val li = stream(Seq("lineitem"), Consumed(keys = Seq("l_orderkey")))
    val parts = globalTable("part", Consumed(keys = Seq("p_partkey")))
    val f = Compiler.compile(
      li.joinGlobal(parts, derivedKey = Seq(col("l_partkey")),
        projection = Seq(col("l_orderkey"), col("p_name"))), env)
    val plan = f.df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("filter chains and nested merges plan like their fused forms") {
    // the compiler rewrites nothing: Catalyst's CombineFilters and
    // CombineUnions must reach the fused plan on their own
    def plan(n: KNode) = Compiler.compile(n, env).df.queryExecution
      .executedPlan.canonicalized
    val ev = stream(Seq("events"), consumed)
    val (a, b) = (col("value") > 10, col("value") > 100)
    assert(plan(ev.filter(a).filter(b)) == plan(ev.filter(a && b)))
    assert(plan(ev.filter(a).filterNot(b)) == plan(ev.filter(a && !b)))
    val (x, y, z) = (ev.filter(a), ev.filterNot(a), ev.filter(b))
    assert(plan(x.merge(y).merge(z)) == plan(MergeOp(Seq(x, y, z))))
    val got = Compiler.compile(ev.filter(a).filterNot(b), env).df.count()
    assert(got == events.where(a && !b).count())
  }

  test("timestamp policies: skip drops null event times, wallclock fills") {
    // events.ts has no nulls, so inject one via a crafted view-free check:
    // policy plumbing is observable through plan row counts on real data
    val skip = Compiler.compile(StreamSource(Seq("events"), None,
      consumed.copy(timestampPolicy = TimestampPolicy.LogAndSkipOnInvalid)), env)
    assert(skip.df.count() == events.where(col("ts").isNotNull).count())
    val wall = Compiler.compile(StreamSource(Seq("events"), None,
      consumed.copy(timestampPolicy = TimestampPolicy.WallclockOnInvalid)), env)
    assert(wall.df.where(col("ts").isNull).count() == 0)
  }

  test("materialized name registers a queryable store (IQ parity)") {
    val node = CountOp(
      stream(Seq("events"), consumed).groupBy(col("event_type")),
      as = "n",
      materialized = Some(Materialized(name = Some("type_counts"))))
    Compiler.compile(node, env)
    val viaIq = graft.iq.InteractiveQueries.lookup(
      spark, "type_counts", "event_type", "click")
    assert(viaIq.length == 1)
    assert(viaIq.head.getAs[Long]("n") ==
      events.where(col("event_type") === "click").count())
  }

  test("http state server serves point lookups (ring.clj surface)") {
    val node = CountOp(
      stream(Seq("events"), consumed).groupBy(col("event_type")),
      as = "n",
      materialized = Some(Materialized(name = Some("http_counts"))))
    Compiler.compile(node, env)
    val (server, port) = graft.iq.HttpStateServer.start(spark)
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      val resp = client.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://localhost:$port/store/http_counts/event_type/click")).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      assert(resp.body().contains("\"event_type\":\"click\""))
      val bad = client.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://localhost:$port/store/no_such_store")).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() == 404)
    } finally server.stop(0)
  }

  test("repartition applies the requested partitioning") {
    val f = Compiler.compile(
      stream(Seq("events"), consumed)
        .repartition(Repartitioned(numPartitions = Some(7))), env)
    assert(f.df.rdd.getNumPartitions == 7)
  }
}
