package graft

import org.apache.spark.sql.functions._
import graft.ext.Sketches

/** KLL quantile sketch: exact gate mode, mergeability, bounded-k rank
  * error, determinism, the groupBy UDAF face, and the streaming face.
  */
class KllSpec extends SparkSpecBase {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** Exact lower discrete quantile over raw values — the spec oracle:
    * smallest value whose rank reaches max(1, ceil(q*n)).
    */
  private def exactQ(vals: Seq[Double], q: Double): Double = {
    val s = vals.sorted
    s((math.max(1L, math.ceil(q * s.length).toLong) - 1L).toInt)
  }

  private val qs = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)

  // deterministic pseudo-random-ish value stream (no RNG: LCG on index)
  private def lcgVals(n: Int): Seq[Double] =
    (0 until n).map(i => ((i * 6364136223846793005L + 1442695040888963407L)
      >>> 11).toDouble)

  test("kll exact mode (k >= n): quantiles are the exact order " +
    "statistics and the model reports exact") {
    val vals = lcgVals(5000)
    val df = vals.toDF("v").repartition(7)
    val m = Sketches.kllFit(df, "v", k = 8192)
    assert(m.exact && m.n == 5000L && m.retained == 5000)
    qs.foreach { q =>
      assert(m.quantile(q) == exactQ(vals, q), s"q=$q")
    }
    assert(m.quantile(0.0) == vals.min && m.quantile(1.0) == vals.max)
  }

  test("kll exact mode is partition-invariant and merge == whole-fit") {
    val vals = lcgVals(3000)
    val a = Sketches.kllFit(vals.take(1000).toDF("v").repartition(3),
      "v", k = 4096)
    val b = Sketches.kllFit(vals.drop(1000).toDF("v").repartition(5),
      "v", k = 4096)
    val merged = a.merge(b)
    val whole = Sketches.kllFit(vals.toDF("v").repartition(11), "v",
      k = 4096)
    assert(merged.exact && whole.exact && merged.n == whole.n)
    qs.foreach { q =>
      assert(merged.quantile(q) == whole.quantile(q), s"q=$q")
    }
  }

  test("kll bounded k: rank error within 3% of n at k=256 over 50k " +
    "values, retained stays O(k log(n/k)), repeated fits stay " +
    "within the bound") {
    val vals = lcgVals(50000)
    val sorted = vals.sorted.toArray
    def trueRank(v: Double): Long = {
      // number of values <= v (binary search on the sorted array)
      var lo = 0; var hi = sorted.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid) <= v) lo = mid + 1 else hi = mid
      }
      lo.toLong
    }
    val df = vals.toDF("v").repartition(13)
    val m = Sketches.kllFit(df, "v", k = 256)
    assert(!m.exact && m.n == 50000L)
    assert(m.retained <= 256 * 16,
      s"retained ${m.retained} should be O(k log(n/k))")
    qs.foreach { q =>
      val est = m.quantile(q)
      val target = math.max(1L, math.ceil(q * m.n).toLong)
      val err = math.abs(trueRank(est) - target)
      assert(err <= 0.03 * m.n, s"q=$q rank err $err > 3% of ${m.n}")
      // the sketch's own rank estimate tracks the true rank too
      assert(math.abs(m.rankOf(est) - trueRank(est)) <= 0.03 * m.n)
    }
    // a second fit can differ (treeAggregate merges in task-completion
    // order, which Spark does not fix) but must satisfy the same bound
    val m2 = Sketches.kllFit(df, "v", k = 256)
    qs.foreach { q =>
      val target = math.max(1L, math.ceil(q * m2.n).toLong)
      assert(math.abs(trueRank(m2.quantile(q)) - target) <= 0.03 * m2.n,
        s"re-fit rank err at q=$q")
    }
  }

  test("kll fit skips nulls and NaNs") {
    val df = Seq(Some(1.0), None, Some(Double.NaN), Some(3.0), Some(2.0))
      .toDF("v")
    val m = Sketches.kllFit(df, "v", k = 64)
    assert(m.n == 3L && m.quantile(0.5) == 2.0 && m.quantile(1.0) == 3.0)
  }

  test("kllQuantilesUdaf: per-group quantiles in one hash aggregation, " +
    "exact at k >= group size") {
    val rows = (for {
      g <- Seq("a", "b")
      i <- 0 until 500
    } yield (g, if (g == "a") i.toDouble else (1000 - i).toDouble))
    val df = rows.toDF("g", "v").repartition(6)
    val agg = Sketches.kllQuantilesUdaf(1024, Seq(0.5, 0.9))
    val got = df.groupBy("g").agg(agg(col("v")).as("qs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val aVals = rows.filter(_._1 == "a").map(_._2)
    val bVals = rows.filter(_._1 == "b").map(_._2)
    assert(got("a") == Seq(exactQ(aVals, 0.5), exactQ(aVals, 0.9)))
    assert(got("b") == Seq(exactQ(bVals, 0.5), exactQ(bVals, 0.9)))
  }

  test("kllQuantilesUdaf: SQL NULLs are skipped, not decoded as 0.0; " +
    "an all-null group yields NaN") {
    // regression: a primitive-Double input encoder silently turns NULL
    // into 0.0 and poisons the sketch — the boxed encoder must not
    val df = Seq(("a", Some(5.0)), ("a", None), ("b", None))
      .toDF("g", "v")
    val agg = Sketches.kllQuantilesUdaf(64, Seq(0.5))
    val got = df.groupBy("g").agg(agg(col("v")).as("q"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(got("a") == Seq(5.0), s"null poisoned the sketch: ${got("a")}")
    assert(got("b").head.isNaN, s"all-null group: ${got("b")}")
  }

  test("kllStream: running quantiles across micro-batches, exact in " +
    "gate mode (k >= n)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[Double]
    val out = Sketches.kllStream(ms.toDF().toDF("v"), "v", k = 1024,
      qs = Seq(0.5, 0.9))
    val q = out.writeStream.format("memory").queryName("kll_stream")
      .outputMode("update").start()
    try {
      val b1 = (1 to 100).map(_.toDouble)
      ms.addData(b1: _*)
      q.processAllAvailable()
      val b2 = (101 to 200).map(_.toDouble)
      ms.addData(b2: _*)
      q.processAllAvailable()
      // latest row per q is the running estimate over BOTH batches
      val all = b1 ++ b2
      val got = spark.table("kll_stream").collect()
        .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
      val latest = got.groupBy(_._1).map { case (qq, vs) =>
        qq -> vs.maxBy(_._3)._2 }
      assert(latest == Map(0.5 -> exactQ(all, 0.5),
        0.9 -> exactQ(all, 0.9)), s"got $latest")
    } finally q.stop()
  }
}
