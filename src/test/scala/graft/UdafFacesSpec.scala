package graft

import org.apache.spark.sql.functions._
import graft.ext.{Pipeline, Sketches}

/** The per-group UDAF faces added in the round-8 continuation:
  * `kmvDistinctUdaf` (distinct counts per group without a distinct
  * shuffle) and `sampleExactWeightedPerKey` (weighted exact-n per
  * stratum).
  */
class UdafFacesSpec extends SparkSpecBase {
  import spark.implicits._

  test("kmvDistinctUdaf: exact per-group below saturation, matches " +
    "countDistinct") {
    val rows = (0 until 100).map(i => ("a", s"u$i")) ++
      (0 until 300).flatMap(i => Seq(("b", s"v${i % 50}"))) ++
      Seq(("c", null.asInstanceOf[String]), ("c", "w1"), ("c", ""))
    val df = rows.toDF("g", "u").repartition(7)
    val agg = Sketches.kmvDistinctUdaf(256)
    val got = df.groupBy("g").agg(agg(col("u")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // '' is a distinct value, NULL is not
    assert(got == Map("a" -> 100L, "b" -> 50L, "c" -> 2L), s"got $got")
  }

  test("kmvDistinctUdaf: bounded relative error above saturation") {
    val df = (0 until 5000).map(i => ("g", s"u$i")).toDF("g", "u")
      .repartition(9)
    val agg = Sketches.kmvDistinctUdaf(128)
    val est = df.groupBy("g").agg(agg(col("u")).as("n"))
      .collect()(0).getLong(1)
    assert(math.abs(est - 5000.0) / 5000.0 <= 0.25,
      s"estimate $est off by more than 25% of 5000")
  }

  test("sampleExactWeightedPerKey: exactly n per stratum, heavy " +
    "weights dominate, zero/negative weights never sample, " +
    "deterministic") {
    val rows =
      (1 to 3).map(i => ("x", i.toLong, 1e6)) ++
      (10 to 60).map(i => ("x", i.toLong, 1e-6)) ++
      (100 to 104).map(i => ("y", i.toLong, 0.0)) ++
      (200 to 220).map(i => ("y", i.toLong, 1.0))
    val df = rows.toDF("g", "id", "w").repartition(5)
    val got = Pipeline.sampleExactWeightedPerKey(df, Seq("g"), 3,
        col("w"), "id")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byG = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // heavy rows' exponential keys are ~1e12 smaller — they always win
    assert(byG("x") == Set(1L, 2L, 3L), s"got ${byG("x")}")
    assert(byG("y").size == 3 && byG("y").forall(i => i >= 200 && i <= 220))
    val again = Pipeline.sampleExactWeightedPerKey(df.repartition(11),
        Seq("g"), 3, col("w"), "id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(again == got.toSet, "partitioning changed the sample")
  }

  test("sampleExactWeightedPerKey: stratum smaller than n returns all " +
    "eligible rows") {
    val df = Seq(("a", 1L, 2.0), ("a", 2L, 3.0), ("b", 3L, 1.0))
      .toDF("g", "id", "w")
    val got = Pipeline.sampleExactWeightedPerKey(df, Seq("g"), 5,
      col("w"), "id").count()
    assert(got == 3L)
  }

  test("sampleExactWeightedPerKeyStream changelog replays to the batch " +
    "weighted draw after every prefix, heavy late arrivals displace") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // batch 1: light rows fill the reservoir; batch 2 brings heavy rows
    // that must displace them (plus a zero-weight row that never enters)
    val b1 = (1 to 20).map(i => ("en", i.toLong, 0.001))
    val b2 = (100 to 102).map(i => ("en", i.toLong, 1e6)) :+
      ("en", 999L, 0.0)
    val ms = MemoryStream[(String, Long, Double)]
    val out = Pipeline.sampleExactWeightedPerKeyStream(
      ms.toDF().toDF("g", "id", "w"), Seq("g"), 4, col("w"), "id")
    val q = out.writeStream.format("memory").queryName("wres_sample")
      .outputMode("append").start()
    def live(): Set[Long] = {
      val ev = spark.table("wres_sample").collect()
        .map(r => (r.getLong(1), r.getBoolean(2)))
      ev.collect { case (id, true) => id }.toSet --
        ev.collect { case (id, false) => id }.toSet
    }
    def batch(rows: Seq[(String, Long, Double)]): Set[Long] =
      Pipeline.sampleExactWeightedPerKey(rows.toDF("g", "id", "w"),
          Seq("g"), 4, col("w"), "id")
        .collect().map(_.getLong(1)).toSet
    try {
      ms.addData(b1: _*)
      q.processAllAvailable()
      assert(live() == batch(b1), "prefix-1 live sample diverges")
      ms.addData(b2: _*)
      q.processAllAvailable()
      val l2 = live()
      assert(l2 == batch(b1 ++ b2), "prefix-2 live sample diverges")
      // the three heavy rows always win a slot; zero-weight never enters
      assert(Set(100L, 101L, 102L).subsetOf(l2) && !l2.contains(999L))
    } finally q.stop()
  }
}
