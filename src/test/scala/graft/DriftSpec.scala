package graft

import org.apache.spark.sql.functions._
import graft.ext.Pipeline

/** PSI drift report: zero on identical snapshots, per-bin symmetry,
  * eps-floored one-sided bins, and a hand-computed reference value.
  */
class DriftSpec extends SparkSpecBase {
  import spark.implicits._

  private def psiTotal(df: org.apache.spark.sql.DataFrame): Double =
    df.agg(sum(col("psi_contrib"))).collect()(0).getDouble(0)

  test("driftPsi: identical snapshots score exactly zero in every bin") {
    val vals = (0 until 1000).map(i => (i % 97).toDouble).toDF("v")
    val out = Pipeline.driftPsi(vals, vals, "v", 0.0, 100.0, 10)
    val rows = out.collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2))
      assert(r.getDouble(3) == 0.0)
    }
  }

  test("driftPsi contributions are symmetric under snapshot swap and " +
    "non-negative") {
    val a = (0 until 500).map(i => (i % 60).toDouble).toDF("v")
    val b = (0 until 500).map(i => (i % 90).toDouble).toDF("v")
    val fwd = Pipeline.driftPsi(a, b, "v", 0.0, 100.0, 10)
      .collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    val rev = Pipeline.driftPsi(b, a, "v", 0.0, 100.0, 10)
      .collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(fwd == rev, "PSI per-bin contributions must be symmetric")
    assert(fwd.values.forall(_ >= 0.0))
    assert(psiTotal(Pipeline.driftPsi(a, b, "v", 0.0, 100.0, 10)) > 0.0)
  }

  test("driftPsiCategorical: hand-computed value, eps floor for a key " +
    "missing on one side") {
    // ref: 80 a, 20 b   cur: 60 a, 20 b, 20 c
    val ref = (Seq.fill(80)("a") ++ Seq.fill(20)("b")).toDF("k")
    val cur = (Seq.fill(60)("a") ++ Seq.fill(20)("b") ++ Seq.fill(20)("c"))
      .toDF("k")
    val got = Pipeline.driftPsiCategorical(ref, cur, "k")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    def r9(x: Double) = BigDecimal(x).setScale(9,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got("a") == ((0.8, 0.6, r9((0.6 - 0.8) * math.log(0.6 / 0.8)))))
    assert(got("b")._3 == 0.0)
    // c absent from ref: share floored at eps=1e-6 before the log
    assert(got("c") == ((0.0, 0.2,
      r9((0.2 - 1e-6) * math.log(0.2 / 1e-6)))))
  }

  test("driftPsi: values outside [lo, hi) clamp into the edge bins on " +
    "both sides, nulls drop") {
    val ref = Seq(Some(-5.0), Some(0.5), Some(9.0), None).toDF("v")
    val cur = Seq(Some(50.0), Some(0.5), None).toDF("v")
    val rows = Pipeline.driftPsi(ref, cur, "v", 0.0, 10.0, 10).collect()
    val bins = rows.map(_.getInt(0)).toSet
    assert(bins == Set(0, 9))
    val b0 = rows.find(_.getInt(0) == 0).get
    // ref bin0: -5 and 0.5 -> 2/3; cur bin0: 0.5 -> 1/2
    assert(b0.getDouble(1) == BigDecimal(2.0 / 3.0).setScale(9,
      BigDecimal.RoundingMode.HALF_UP).toDouble && b0.getDouble(2) == 0.5)
  }

  test("driftPsiStream: the changelog row after each batch equals the " +
    "batch driftPsi over everything ingested so far") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ref = (0 until 1000).map(i => (i % 100).toDouble).toDF("v")
    val ms = MemoryStream[Double]
    val out = Pipeline.driftPsiStream(ms.toDF().toDF("v"), "v", ref,
      0.0, 100.0, nBins = 10)
    val q = out.writeStream.format("memory").queryName("psi_stream")
      .outputMode("update").start()
    try {
      val b1 = (0 until 300).map(i => (i % 50).toDouble)
      ms.addData(b1: _*)
      q.processAllAvailable()
      val b2 = (0 until 200).map(i => (50 + i % 50).toDouble)
      ms.addData(b2: _*)
      q.processAllAvailable()
      val rows = spark.table("psi_stream").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      def batchPsi(cur: Seq[Double]): Double =
        psiTotal(Pipeline.driftPsi(ref, cur.toDF("v"), "v",
          0.0, 100.0, 10))
      def r9(x: Double) = BigDecimal(x).setScale(9,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(rows.keySet == Set(300L, 500L))
      assert(rows(300L) == r9(batchPsi(b1)), "batch-1 row diverges")
      assert(rows(500L) == r9(batchPsi(b1 ++ b2)), "batch-2 row diverges")
      // batch 2 evens the halves back toward the reference mix
      assert(rows(500L) < rows(300L))
    } finally q.stop()
  }

  test("ksCensusStream: per-cell latest census across batches feeds " +
    "ksByGroupFromCounts to exactly the batch ksTestByGroup on the " +
    "union") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // (group g, value v, side) rows — two languages, drifted odd side
    def mk(n: Int, shift: Int): Seq[(String, Long, Long)] =
      (0 until n).map { i =>
        val g = if (i % 2 == 0) "en" else "de"
        val side = (i / 2) % 2
        (g, (i % 25 + side * shift).toLong, side.toLong)
      }
    val b1 = mk(400, 5)
    val b2 = mk(300, 9)
    val ms = MemoryStream[(String, Long, Long)]
    val out = graft.ext.Stats.ksCensusStream(
      ms.toDF().toDF("lang", "n_chars", "half"),
      "n_chars", "lang", "half", 0L, 1L)
    val q = out.writeStream.format("memory").queryName("ks_census")
      .outputMode("append").start()
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // counts are monotone: latest per cell = max over the appended log
    val census = spark.table("ks_census").groupBy("g", "v")
      .agg(max("ca").as("ca"), max("cb").as("cb"))
    val live = graft.ext.Stats.ksByGroupFromCounts(census)
      .orderBy("g").collect().map(_.toSeq)
    val batch = graft.ext.Stats.ksTestByGroup(
      (b1 ++ b2).toDF("lang", "n_chars", "half"),
      "n_chars", "lang", "half", 0L, 1L)
      .orderBy("lang").collect().map(_.toSeq)
    assert(live.length == 2 && live.sameElements(batch),
      s"live=${live.mkString(";")} batch=${batch.mkString(";")}")
  }

  test("jsCensusStream: per-category latest census across batches feeds " +
    "jsDivergenceFromCounts to exactly the batch jsDivergence on the " +
    "union") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // side 0 spreads over 7 categories, side 1 concentrates on 2 —
    // a real mix shift (JSD well above one milli-nat)
    def mk(n: Int, off: Int): Seq[(String, Long)] =
      (0 until n).map { i =>
        val side = i % 2
        val cat = if (side == 0) "l" + (i % 7) else "l" + (i % 2 + off)
        (cat, side.toLong)
      }
    val b1 = mk(500, 0)
    val b2 = mk(301, 1)
    val ms = MemoryStream[(String, Long)]
    val out = graft.ext.Stats.jsCensusStream(
      ms.toDF().toDF("lang", "half"), "lang", "half", 0L, 1L)
    val q = out.writeStream.format("memory").queryName("js_census")
      .outputMode("append").start()
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val census = spark.table("js_census").groupBy("cat")
      .agg(max("c").as("c"), max("d").as("d"))
    val live = graft.ext.Stats.jsDivergenceFromCounts(census)
      .collect().map(_.toSeq)
    val batch = graft.ext.Stats.jsDivergence(
      (b1 ++ b2).toDF("lang", "half"), "lang", "half", 0L, 1L)
      .collect().map(_.toSeq)
    assert(live.length == 1 && live.sameElements(batch),
      s"live=${live.mkString(";")} batch=${batch.mkString(";")}")
    // the drifted mix diverges: JSD strictly positive
    assert(live(0)(5).asInstanceOf[Long] > 0L)
  }

  test("robustScaleStream: per-group sketch census across batches " +
    "matches the batch robustScale median on the union (exact-mode k)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // odd count per group so the ceil-rank median is interpolation-free
    def mk(lo: Int, n: Int, g: String): Seq[(String, Double)] =
      (0 until n).map(i => (g, (lo + (i * 37) % 101).toDouble))
    val b1 = mk(10, 101, "en") ++ mk(500, 51, "de")
    val b2 = mk(40, 100, "en") ++ mk(520, 50, "de")
    val ms = MemoryStream[(String, Double)]
    val out = graft.ext.Stats.robustScaleStream(
      ms.toDF().toDF("lang", "score"), "score", "lang", k = 4096)
    val q = out.writeStream.format("memory").queryName("rs_stream")
      .outputMode("update").start()
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // update mode: the latest row per group (max n) is the census
    val live = spark.table("rs_stream").collect()
      .groupBy(_.getString(0))
      .map { case (g, rs) =>
        val last = rs.maxBy(_.getLong(1))
        g -> (last.getLong(1), last.getAs[Long]("med_milli"),
          last.getAs[Long]("iqr_milli"))
      }
    val union = (b1 ++ b2).toDF("lang", "score")
    val batch = graft.ext.Stats.robustScale(union, "score", "lang")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), max(col("med_milli")).as("m"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(live.keySet == Set("en", "de"))
    live.foreach { case (g, (n, med, iqr)) =>
      assert(n == batch(g)._1, s"$g count")
      assert(med == batch(g)._2,
        s"$g sketch median $med != batch ${batch(g)._2}")
      assert(iqr > 0L)
    }
  }
}
