package graft

import graft.ast._
import graft.ast.dsl._
import graft.compile.StreamEnv
import graft.iq.{HttpStateServer, InteractiveQueries}
import graft.streaming.Runner
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfn.ListenerDrain
import org.apache.spark.sql.streaming.StreamingQuery

/** The keyed store `Runner.start` fills for an update-mode KTable sent to
  * `SinkSpec.Memory`: one current row per key, read with no Spark job.
  */
class KeyedStoreSpec extends SparkSpecBase {

  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def start(node: KNode, env: StreamEnv, name: String): StreamingQuery =
    Runner.start(node, env, SinkSpec.Memory(name), Runner.StreamsCfg(queryName = name))

  private def withServer[A](f: (String => HttpResponse[String]) => A): A = {
    val (server, port) = HttpStateServer.start(spark)
    val client = HttpClient.newHttpClient()
    try f(path => client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).build(),
      HttpResponse.BodyHandlers.ofString()))
    finally server.stop(0)
  }

  private def toJson(rows: org.apache.spark.sql.DataFrame): String =
    rows.toJSON.collect().mkString("[", ",", "]")

  private def ts(s: String) = Timestamp.valueOf(s)

  test("a key updated over three batches reads back only its current value") {
    val ms = MemoryStream[(Long, String)]
    val env = new StreamEnv(spark, Map("t" -> ms.toDF().toDF("k", "v")))
    val q = start(stream(Seq("t"), Consumed(keys = Seq("k"))).groupByKey.count(as = "n"),
      env, "ks_current")
    try {
      ms.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      ms.addData((1L, "c")); q.processAllAvailable()
      ms.addData((1L, "d"), (1L, "e")); q.processAllAvailable()
      val hit = InteractiveQueries.lookup(spark, "ks_current", "k", 1L)
      assert(hit.map(r => (r.getAs[Long]("k"), r.getAs[Long]("n"))).toSeq == Seq((1L, 4L)))
      // a string key is cast to the key column's type, as `col === "1"` is
      assert(InteractiveQueries.lookup(spark, "ks_current", "k", "1").toSeq == hit.toSeq)
      val all = spark.table("ks_current").collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(all.sorted.toSeq == Seq(1L -> 4L, 2L -> 1L))
      assert(q.name == "ks_current")
      withServer { get =>
        val r = get("/store/ks_current/k/1")
        assert(r.statusCode == 200 && r.body == """[{"k":1,"n":4}]""", r.body)
      }
    } finally q.stop()
  }

  test("a KTable filter tombstone deletes its key") {
    val ms = MemoryStream[(Long, String)]
    val env = new StreamEnv(spark, Map("t" -> ms.toDF().toDF("k", "v")))
    val node = stream(Seq("t"), Consumed(keys = Seq("k"))).groupByKey.count(as = "n")
      .filter(col("n") < 3)
    val q = start(node, env, "ks_tomb")
    try {
      ms.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      assert(InteractiveQueries.lookup(spark, "ks_tomb", "k", 1L).length == 1)
      ms.addData((1L, "c"), (1L, "d")); q.processAllAvailable()
      assert(InteractiveQueries.lookup(spark, "ks_tomb", "k", 1L).isEmpty)
      assert(spark.table("ks_tomb").collect().map(_.getLong(0)).toSeq == Seq(2L))
    } finally q.stop()
  }

  test("a NULL key is stored but no point lookup returns it") {
    val ms = MemoryStream[(Option[String], Long)]
    val env = new StreamEnv(spark, Map("t" -> ms.toDF().toDF("k", "v")))
    val q = start(stream(Seq("t"), Consumed(keys = Seq("k"))).groupByKey.count(as = "n"),
      env, "ks_null")
    try {
      ms.addData((None, 1L), (None, 2L), (Some("null"), 3L)); q.processAllAvailable()
      val all = spark.table("ks_null").collect()
        .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
      assert(all == Map(None -> 2L, Some("null") -> 1L))
      assert(InteractiveQueries.lookup(spark, "ks_null", "k", null).isEmpty)
      val hit = InteractiveQueries.lookup(spark, "ks_null", "k", "null")
      assert(hit.map(_.getLong(1)).toSeq == Seq(1L))
      withServer { get =>
        assert(get("/store/ks_null/k/null").body == """[{"k":"null","n":1}]""")
        assert(get("/store/ks_null").body == toJson(spark.table("ks_null")))
      }
    } finally q.stop()
  }

  test("a windowed count looked up by its record key returns one row per window") {
    val ms = MemoryStream[(Long, Timestamp)]
    val env = new StreamEnv(spark, Map("clicks" -> ms.toDF().toDF("user_id", "ts")))
    val node = stream(Seq("clicks"), Consumed(keys = Seq("user_id"), eventTime = Some("ts")))
      .groupByKey.windowedBy(WindowSpec.Tumbling("1 minute")).count(as = "clicks")
    val q = start(node, env, "ks_windows")
    try {
      ms.addData((1L, ts("2024-01-01 10:00:05")), (1L, ts("2024-01-01 10:00:15")),
        (2L, ts("2024-01-01 10:00:20")))
      q.processAllAvailable()
      ms.addData((1L, ts("2024-01-01 10:01:05")), (1L, ts("2024-01-01 10:00:25")))
      q.processAllAvailable()
      val hit = InteractiveQueries.lookup(spark, "ks_windows", "user_id", 1L)
        .map(r => r.getAs[Timestamp]("window_start").toString -> r.getAs[Long]("clicks"))
      assert(hit.sorted.toSeq == Seq("2024-01-01 10:00:00.0" -> 3L, "2024-01-01 10:01:00.0" -> 1L))
      // a lookup on a column other than the record key scans the map
      val first = InteractiveQueries.lookup(spark, "ks_windows", "window_start",
        ts("2024-01-01 10:00:00"))
      assert(first.map(_.getAs[Long]("user_id")).sorted.toSeq == Seq(1L, 2L))
      withServer { get =>
        val body = get("/store/ks_windows/user_id/1").body
        assert(body == toJson(spark.table("ks_windows").where(col("user_id") === 1L)), body)
        assert(get("/store/ks_windows/window_start/2024-01-01%2010:01:00").body ==
          toJson(spark.table("ks_windows").where(col("window_start") === ts("2024-01-01 10:01:00"))))
      }
    } finally q.stop()
  }

  test("HTTP bodies equal toJSON over the same rows, for a keyed store and a view") {
    val ms = MemoryStream[(String, Long, String, Option[Double], Timestamp)]
    val env = new StreamEnv(spark, Map("t" -> ms.toDF().toDF("k", "v", "s", "d", "at")))
    val node = stream(Seq("t"), Consumed(keys = Seq("k"))).groupByKey.agg(
      sum("v").as("total"), max("s").as("s"), max("d").as("d"), max("at").as("at"))
    val q = start(node, env, "ks_json")
    val weird = "a/b c%d"
    try {
      ms.addData(("x", 1L, "p\"q", Some(0.5), ts("2024-01-01 10:00:00.123")),
        ("x", 2L, "é", None, ts("2024-01-01 10:00:01")),
        ("y", 5L, "z", None, ts("2024-02-01 00:00:00")),
        (weird, 7L, "w", Some(-2.25), ts("2024-03-01 12:00:00")))
      q.processAllAvailable()
      val current = spark.table("ks_json")
      spark.createDataFrame(java.util.Arrays.asList(current.collect(): _*), current.schema)
        .createOrReplaceTempView("ks_json_view")
      withServer { get =>
        for (view <- Seq("ks_json", "ks_json_view")) {
          assert(get(s"/store/$view").body == toJson(spark.table(view)))
          for (k <- Seq("x", "y")) {
            val body = get(s"/store/$view/k/$k").body
            assert(body == toJson(spark.table(view).where(col("k") === k)), body)
          }
          // y's double is null and left out, as toJSON leaves it out
          assert(!get(s"/store/$view/k/y").body.contains("\"d\""))
          // a key holding '/', a space and '%' is reachable percent-encoded
          val r = get(s"/store/$view/k/a%2Fb%20c%25d")
          assert(r.statusCode == 200 &&
            r.body == toJson(spark.table(view).where(col("k") === weird)), r.body)
          assert(r.body.contains("\"total\":7"))
        }
      }
    } finally q.stop()
  }

  test("malformed requests answer 400 and an unknown store 404") {
    Seq((1L, "a")).toDF("k", "v").createOrReplaceTempView("ks_plain")
    val ms = MemoryStream[(Long, String)]
    val env = new StreamEnv(spark, Map("t" -> ms.toDF().toDF("k", "v")))
    val q = start(stream(Seq("t"), Consumed(keys = Seq("k"))).groupByKey.count(as = "n"),
      env, "ks_bad")
    try {
      ms.addData((1L, "a")); q.processAllAvailable()
      withServer { get =>
        for (store <- Seq("ks_bad", "ks_plain")) {
          assert(get(s"/store/$store?limit=abc").statusCode == 400)
          assert(get(s"/store/$store?limit=0").statusCode == 400)
          assert(get(s"/store/$store/k").statusCode == 400)
          assert(get(s"/store/$store/k/1/extra").statusCode == 400)
          assert(get(s"/store/$store/no_col/1").statusCode == 400)
          assert(get(s"/store/$store/k/1?limit=1").statusCode == 200)
        }
        assert(get("/store/ks_bad/k/abc").statusCode == 400)
        assert(get("/store").statusCode == 400)
        val missing = get("/store/ks_no_such_store")
        assert(missing.statusCode == 404 && missing.body.startsWith("{\"error\":"))
      }
    } finally q.stop()
  }

  test("point lookups on a keyed store start no Spark job") {
    val ms = MemoryStream[(Long, String)]
    val env = new StreamEnv(spark, Map("t" -> ms.toDF().toDF("k", "v")))
    val q = start(stream(Seq("t"), Consumed(keys = Seq("k"))).groupByKey.count(as = "n"),
      env, "ks_jobs")
    ms.addData((1L, "a"), (2L, "b"), (2L, "c")); q.processAllAvailable()
    q.stop()
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized(jobs += 1)
    }
    withServer { get =>
      ListenerDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        (0 until 10).foreach { i =>
          assert(InteractiveQueries.lookup(spark, "ks_jobs", "k", 1L + i % 2).length == 1)
          assert(get(s"/store/ks_jobs/k/${1 + i % 2}").statusCode == 200)
        }
        ListenerDrain(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    assert(synchronized(jobs) == 0)
  }

  test("lookups from another thread during batches only see whole rows") {
    val ms = MemoryStream[(Long, Long)]
    val env = new StreamEnv(spark, Map("t" -> ms.toDF().toDF("k", "v")))
    val node = stream(Seq("t"), Consumed(keys = Seq("k"))).groupByKey
      .agg(count(lit(1)).as("n"), sum("v").as("total"))
    val q = start(node, env, "ks_threads")
    @volatile var done = false
    @volatile var failure: Throwable = null
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[Row]]
    val reader = new Thread(() =>
      try while (!done) {
        val hit = InteractiveQueries.lookup(spark, "ks_threads", "k", 1L).toSeq
        seen.synchronized(seen += hit)
      } catch { case e: Throwable => failure = e })
    try {
      reader.start()
      (1 to 5).foreach { b =>
        // batch b adds b events of value 1 to key 1: n and total move together
        ms.addData(Seq.fill(b)((1L, 1L)) ++ (1 to 50).map(i => (i + 1L, 0L)): _*)
        q.processAllAvailable()
      }
    } finally { done = true; reader.join(); q.stop() }
    assert(failure == null, String.valueOf(failure))
    val counts = seen.synchronized(seen.toList).map { hit =>
      assert(hit.length <= 1)
      hit.headOption.map { r =>
        assert(r.getAs[Long]("n") == r.getAs[Long]("total"), r)
        r.getAs[Long]("n")
      }.getOrElse(0L)
    }
    assert(counts.nonEmpty && counts == counts.sorted)
    assert(InteractiveQueries.lookup(spark, "ks_threads", "k", 1L).head.getAs[Long]("n") == 15L)
  }
}
