package graft

import org.apache.spark.sql.functions._
import graft.ext.TimeSeries

/** Round 10b: time-series diagnostics — CUSUM closed form vs the
  * sequential recursion, planted-shift detection, lag/diff features,
  * ACF on planted periodicity, linear-interpolation resampling.
  */
class Round10bSpec extends SparkSpecBase {
  import spark.implicits._

  // deterministic pseudo-noise (no Random: fixture must never move)
  private def noise(i: Int): Long = math.abs(((i * 2654435761L) >>> 7) % 5)

  test("cusum: the closed window form (running sum - running min) " +
    "equals the sequential recursion C_t = max(0, C_{t-1} + v_t - k)") {
    val series = (0 until 200).map(i => ("a", i.toLong, 3L + noise(i))) ++
      (0 until 150).map(i => ("b", i.toLong, 1L + noise(i * 7)))
    val df = series.toDF("key", "t", "v")
    val got = TimeSeries.cusum(df, "key", "t", "v",
        drift = 4L, threshold = 6L)
      .select("key", "t", "v", "c", "alarm").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(3), r.getBoolean(4))).toMap
    // driver-side sequential reference
    series.groupBy(_._1).foreach { case (k, rows) =>
      var c = 0L
      rows.sortBy(_._2).foreach { case (_, t, v) =>
        c = math.max(0L, c + v - 4L)
        assert(got((k, t)) == (c, c >= 6L),
          s"key=$k t=$t expected c=$c got ${got((k, t))}")
      }
    }
  }

  test("cusumAdaptive: a planted sustained level shift alarms inside " +
    "the shifted window and never before it") {
    // 300 quiet buckets at ~3/bucket, then 40 buckets shifted to
    // ~9/bucket: median ~4, allowance = floor(4+2) = 6, so the shift
    // accumulates ~+3/bucket and crosses h=8 within a few buckets
    val rows = (0 until 300).map(i => ("svc", i.toLong, 2L + noise(i))) ++
      (300 until 340).map(i => ("svc", i.toLong, 8L + noise(i)))
    val out = TimeSeries.cusumAdaptive(rows.toDF("key", "t", "v"),
        "key", "t", "v", sigmaMult = 1.0, threshold = 8L)
      .select("t", "alarm").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert((0L until 300L).forall(t => !out(t)),
      "false alarm in the quiet window")
    assert((305L until 340L).exists(out(_)), "planted shift never alarmed")
    // and once latched inside a sustained shift it stays latched
    val first = (300L until 340L).find(out(_)).get
    assert((first until 340L).forall(out(_)),
      "alarm dropped mid-shift despite the level staying high")
  }

  test("diffFeatures: d1/dP are exact lagged differences with NULLs " +
    "for the first L rows of each key, and all lags share one window " +
    "(single exchange + sort in the plan)") {
    val df = (0 until 30).map(i => ("k", i.toLong, (i * i).toLong))
      .toDF("key", "t", "v")
    val out = TimeSeries.diffFeatures(df, "key", "t", "v", Seq(1, 7))
    val rows = out.orderBy("t").collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      val d1 = if (i < 1) null else Long.box((i * i) - (i - 1) * (i - 1))
      val d7 = if (i < 7) null else Long.box((i * i) - (i - 7) * (i - 7))
      assert(r.getAs[Any]("d1") == d1 && r.getAs[Any]("d7") == d7,
        s"row $i: ${r.mkString(",")}")
    }
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length - 1 == 1,
      s"expected exactly one exchange, plan:\n$plan")
    assert(plan.split("Sort ").length - 1 == 1,
      s"expected exactly one sort (lags share the window), plan:\n$plan")
  }

  test("acf: planted period-12 series scores r=1 at lag 12, negative " +
    "at the half period; constant series yields NULL r") {
    val periodic = (0 until 240).map(i =>
      ("p", i.toLong, (i % 12).toLong))
    val const = (0 until 50).map(i => ("c", i.toLong, 7L))
    val out = TimeSeries.acf((periodic ++ const).toDF("key", "t", "v"),
        "key", "t", "v", lags = Seq(6, 12))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        Option(r.getAs[java.lang.Double]("r"))).toMap
    assert(out(("p", 12)).exists(r => math.abs(r - 1.0) < 1e-12),
      s"lag-12 ACF of an exactly periodic series must be 1: $out")
    assert(out(("p", 6)).exists(_ < 0),
      "half-period lag must anti-correlate for a sawtooth")
    assert(out(("c", 6)).isEmpty && out(("c", 12)).isEmpty,
      "zero-variance series must yield NULL r, not a division blowup")
  }

  test("cusumStream: cross-batch statistic equals the batch cusum " +
    "row-for-row on in-order input, and alarms fire mid-stream") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val all = (0 until 60).map(i => ("svc", i.toLong, 2L + noise(i))) ++
      (60 until 80).map(i => ("svc", i.toLong, 9L + noise(i))) ++
      (0 until 40).map(i => ("db", i.toLong, 1L + noise(i * 3)))
    // split at t=70 so the planted shift STRADDLES the batch boundary:
    // the carried state must keep accumulating across it
    val (b1, b2) = (all.filter(_._2 < 70), all.filterNot(_._2 < 70))
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, Long)]
    val q = TimeSeries.cusumStream(ms.toDF().toDF("key", "t", "v"),
        "key", "t", "v", drift = 4L, threshold = 6L)
      .writeStream.format("memory").queryName("cusum10b")
      .outputMode("append").start()
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getLong(1))
      def vals(r: org.apache.spark.sql.Row) =
        (r.getLong(2), r.getLong(3), r.getBoolean(4))
      val got = spark.table("cusum10b").collect()
        .map(r => key(r) -> vals(r)).toMap
      val want = TimeSeries.cusum(all.toDF("key", "t", "v"),
          "key", "t", "v", drift = 4L, threshold = 6L)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
      assert(got == want, "stream != batch")
      assert(got.exists { case ((k, t), (_, _, a)) => a && k == "svc" },
        "planted shift never alarmed in the stream")
      // same code path in batch mode: one semantics, two execution modes
      val batchViaStream = TimeSeries.cusumStream(all.toDF("key", "t", "v"),
          "key", "t", "v", drift = 4L, threshold = 6L)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
      assert(batchViaStream == want)
    } finally q.stop()
  }

  test("ewmaStream: cross-batch smoothing equals the sequential fold, " +
    "alpha=1 is the identity, constant series stays constant") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val all = (0 until 120).map(i =>
      ("m", i.toLong, (2 + noise(i)).toDouble)) ++
      (0 until 40).map(i => ("flat", i.toLong, 7.0))
    val (b1, b2) = (all.filter(_._2 < 60), all.filterNot(_._2 < 60))
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, Double)]
    val q = TimeSeries.ewmaStream(ms.toDF().toDF("key", "t", "v"),
        "key", "t", "v", alpha = 0.25)
      .writeStream.format("memory").queryName("ewma10b")
      .outputMode("append").start()
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("ewma10b").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
      // driver-side sequential reference (bit-identical fold order)
      all.groupBy(_._1).foreach { case (k, rows) =>
        var y = Double.NaN
        rows.sortBy(_._2).foreach { case (_, t, v) =>
          y = if (y.isNaN) v else y + 0.25 * (v - y)
          assert(got((k, t)) == y, s"key=$k t=$t")
        }
      }
      assert((0L until 40L).forall(t => got(("flat", t)) == 7.0),
        "constant series must smooth to itself")
      // alpha = 1 reproduces the input exactly (batch mode, same path)
      val ident = TimeSeries.ewmaStream(all.toDF("key", "t", "v"),
          "key", "t", "v", alpha = 1.0)
        .collect().forall(r => r.getDouble(2) == r.getDouble(3))
      assert(ident, "alpha=1 must be the identity")
    } finally q.stop()
  }

  test("foldsByCluster: near-dup cluster members share a fold, fold ids " +
    "cover 0..k-1, and unclustered docs keep their own-id fold") {
    val docs = (0L until 200L).map(i => (i, s"unique text body $i " +
      s"${i * 31} ${i * 17} middle words ${i * 7}")).toDF("doc_id", "text")
    // planted edge list: three chained clusters
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L), (50L, 51L))
      .toDF("id_a", "id_b")
    val out = graft.ext.Pipeline.foldsByCluster(docs, pairs, "doc_id", k = 5)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("fold")).toMap
    assert(out.size == 200, "fold assignment must cover every doc")
    assert(out.values.forall(f => f >= 0 && f < 5))
    assert(Set(out(0L), out(1L), out(2L)).size == 1,
      "chained cluster 0-1-2 must share one fold")
    assert(out(10L) == out(11L) && out(50L) == out(51L))
    // unclustered docs use their own id: equal to plain foldsByHash
    val plain = graft.ext.Pipeline.foldsByHash(docs, "doc_id", k = 5)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("fold"))
      .toMap
    val clustered = Set(0L, 1L, 2L, 10L, 11L, 50L, 51L)
    assert(out.filterNot(kv => clustered(kv._1)) ==
      plain.filterNot(kv => clustered(kv._1)))
  }

  test("seasonalAdjust: a perfectly periodic series has zero residual " +
    "everywhere; a planted anomaly carries (almost) all of its own " +
    "deviation") {
    // 10 full days of hourly counts following an exact 24h profile
    val base = (0 until 240).map(i => ("svc", i.toLong * 3600L,
      (10 + (i % 24)).toLong))
    val out0 = TimeSeries.seasonalAdjust(base.toDF("key", "t", "v"),
        "key", "t", "v", period = 24, bucketSeconds = 3600L)
      .select("resid").collect().map(_.getDouble(0))
    assert(out0.forall(_ == 0.0), "periodic series must adjust to zero")
    // plant +24 on one bucket: its residual is +24·(9/10) (the spike
    // lifts its own phase mean by 24/10), everyone else in that phase
    // drops by 24/10, other phases untouched
    val spiked = base.updated(100, ("svc", 100L * 3600L, base(100)._3 + 24L))
    val out1 = TimeSeries.seasonalAdjust(spiked.toDF("key", "t", "v"),
        "key", "t", "v", period = 24, bucketSeconds = 3600L)
      .collect().map(r => r.getAs[Long]("t") / 3600L ->
        r.getAs[Double]("resid")).toMap
    // expected values via the same double arithmetic (Σv then one
    // division): phase-4 mean lifts from 14 to 14 + 24/10
    val vPhase = (10 + 100 % 24).toDouble
    val mean = (vPhase * 10 + 24) / 10.0
    assert(out1(100L) == vPhase + 24 - mean)
    assert(out1(100L - 24) == vPhase - mean &&
      out1(100L + 24) == vPhase - mean)
    assert(out1(101L) == 0.0 && out1(99L) == 0.0)
  }

  test("collapseBursts: chained events within the gap collapse to the " +
    "first with exact multiplicity; a gap EXACTLY at the threshold " +
    "stays in the burst (strict > starts a new one)") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val gap = 60L
    val ev = Seq(
      // burst A: chain 0, 50, 100, 160 (each step <= 60) -> one burst
      (1L, "c", 10L, ts(0)), (1L, "c", 11L, ts(50)),
      (1L, "c", 12L, ts(100)), (1L, "c", 13L, ts(160)),
      // exactly-at-gap: 160 -> 220 is == 60 -> SAME burst
      (1L, "c", 14L, ts(220)),
      // 221 -> 282 is 61 > 60 -> new burst
      (1L, "c", 15L, ts(282)),
      // other key: independent
      (2L, "c", 20L, ts(0))
    ).toDF("user_id", "event_type", "event_id", "ts")
    val kept = graft.ext.Funnel.collapseBursts(ev,
        Seq("user_id", "event_type"), "ts", gapSeconds = gap,
        tieBreak = Seq("event_id"))
      .select("event_id", "burst_size").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept == Map(10L -> 5L, 15L -> 1L, 20L -> 1L),
      s"burst collapse wrong: $kept")
  }

  test("kAnonymity: combination populations and violation flags are " +
    "exact, and NULL is a distinct quasi-identifier value") {
    val df = (Seq.fill(5)(("10001", "m")) ++ Seq.fill(2)(("10001", "f")) ++
      Seq.fill(3)((null: String, "m"))).toDF("zip", "sex")
    val out = graft.ext.Pipeline.kAnonymity(df, Seq("zip", "sex"), k = 3L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getBoolean(3))).toMap
    assert(out(("10001", "m")) == (5L, false))
    assert(out(("10001", "f")) == (2L, true))
    assert(out((null, "m")) == (3L, false),
      "NULL quasi-value must form its own audited group")
  }

  test("quantileNormalize: q = (rank-1)/(n-1) with min rank for ties, " +
    "0 for single-row groups, groups independent") {
    val df = Seq(("a", 10L), ("a", 20L), ("a", 20L), ("a", 30L),
      ("a", 40L), ("b", 99L)).toDF("src", "score")
    val out = graft.ext.Pipeline.quantileNormalize(df, "src", "score")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val a = out.filter(_._1 == "a").map(t => t._2 -> t._3)
    assert(a.toSet == Set(10L -> 0.0, 20L -> 0.25, 30L -> 0.75, 40L -> 1.0))
    assert(a.count(_._1 == 20L) == 2, "both tied rows survive")
    assert(out.filter(_._1 == "b").map(_._3).toSeq == Seq(0.0),
      "single-row group maps to 0, not NaN")
  }

  test("collapseBurstsStream: the kept set equals the batch face across " +
    "a burst that straddles the batch boundary") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // key 1: bursts [0,50,100] and [400]; key 2: [30], [300, 320]
    val all = Seq((1L, 10L, 0L), (1L, 11L, 50L), (1L, 12L, 100L),
      (1L, 13L, 400L), (2L, 20L, 30L), (2L, 21L, 300L), (2L, 22L, 320L))
    // split at t=100 so key 1's first burst STRADDLES the boundary: the
    // carried last-ts must suppress the t=100 row in batch 2
    val (b1, b2) = (all.filter(_._3 < 100), all.filterNot(_._3 < 100))
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long)]
    val src = ms.toDF().toDF("u", "id", "sec")
      .select(col("u"), col("id"),
        timestamp_seconds(col("sec")).as("ts"))
    val q = graft.ext.Funnel.collapseBurstsStream(src, Seq("u"), "ts",
        gapSeconds = 60L)
      .writeStream.format("memory").queryName("debounce10b")
      .outputMode("append").start()
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("debounce10b").collect()
        .map(_.getAs[Long]("id")).toSet
      val want = graft.ext.Funnel.collapseBursts(
          all.map { case (u, id, s) => (u, id, ts(s)) }.toDF("u", "id", "ts"),
          Seq("u"), "ts", gapSeconds = 60L, tieBreak = Seq("id"))
        .collect().map(_.getAs[Long]("id")).toSet
      assert(got == want && want == Set(10L, 13L, 20L, 21L),
        s"stream kept $got, batch kept $want")
    } finally q.stop()
  }

  test("collapseBurstsStream: NULL and separator keys stay distinct " +
    "(batch parity)") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val nul = "\u0000"
    // pairs that a joined string key would merge: (a, NULL) / (NULL, a),
    // (a<NUL>b, c) / (a, b<NUL>c) and ("", NULL) / (NULL, NULL)
    val all = Seq[(String, String, Long, Long)](
      ("a", null, 1L, 0L), (null, "a", 2L, 10L), ("a", null, 5L, 30L),
      (s"a${nul}b", "c", 3L, 100L), ("a", s"b${nul}c", 4L, 110L),
      (null, null, 6L, 200L), ("", null, 8L, 210L), (null, null, 7L, 220L))
    val (b1, b2) = (all.filter(_._4 < 100), all.filterNot(_._4 < 100))
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String, Long, Long)]
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.toDF("k1", "k2", "id", "sec").select(col("k1"), col("k2"), col("id"),
        timestamp_seconds(col("sec")).as("ts"))
    val q = graft.ext.Funnel.collapseBurstsStream(keyed(ms.toDF()),
        Seq("k1", "k2"), "ts", gapSeconds = 60L)
      .writeStream.format("memory").queryName("debounce10b_keys")
      .outputMode("append").start()
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("debounce10b_keys").collect()
        .map(_.getAs[Long]("id")).toSet
      val want = graft.ext.Funnel.collapseBursts(keyed(all.toDF()),
          Seq("k1", "k2"), "ts", gapSeconds = 60L, tieBreak = Seq("id"))
        .collect().map(_.getAs[Long]("id")).toSet
      assert(got == want && want == Set(1L, 2L, 3L, 4L, 6L, 8L),
        s"stream kept $got, batch kept $want")
    } finally q.stop()
  }

  test("hazardCurve: crafted lifetimes yield exact risk sets, churn " +
    "counts, and ppm hazards; the curve conserves the population") {
    def ts(day: Long) = new java.sql.Timestamp(day * 86400000L)
    // lifetimes in days: u1,u2 -> 0 (single-day), u3 -> 2, u4,u5 -> 3
    val ev = Seq(
      (1L, ts(5)), (1L, ts(5)),
      (2L, ts(9)),
      (3L, ts(0)), (3L, ts(1)), (3L, ts(2)),
      (4L, ts(10)), (4L, ts(13)),
      (5L, ts(20)), (5L, ts(21)), (5L, ts(23))
    ).toDF("user_id", "ts")
    val got = graft.ext.Funnel.hazardCurve(ev, "user_id", "ts", 86400L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == Map(
      0L -> (5L, 2L, 400000L),   // 5 at risk, 2 churn day-0: 2/5
      2L -> (3L, 1L, 333333L),   // 3 at risk, 1 churns: floor(1e6/3)
      3L -> (2L, 2L, 1000000L)), // last bucket always hazards out
      s"hazard curve wrong: $got")
    assert(got.values.map(_._2).sum == 5L, "churn must conserve users")
  }

  test("coverageGaps: holes between covered spans are exact; overlap, " +
    "nesting, adjacency, and duplicate intervals emit no phantom gaps") {
    val iv = Seq(
      // key a: [0,5] [3,7] (overlap) [6,9] (adjacent) | hole [10,14] |
      //        [15,20] [16,17] (nested) | hole [21,21] | [22,22]
      ("a", 0L, 5L), ("a", 3L, 7L), ("a", 6L, 9L),
      ("a", 15L, 20L), ("a", 16L, 17L), ("a", 22L, 22L),
      // key b: duplicate rows then a far interval -> ONE gap, emitted once
      ("b", 0L, 4L), ("b", 0L, 4L), ("b", 100L, 101L),
      // key c: single interval -> no gaps
      ("c", 7L, 9L)
    ).toDF("k", "s", "e")
    val got = graft.ext.IntervalJoin.coverageGaps(iv, Seq("k"), "s", "e")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq == Seq(
      ("a", 10L, 14L, 5L), ("a", 21L, 21L, 1L),
      ("b", 5L, 99L, 95L)), s"gaps wrong: ${got.toSeq}")
  }

  test("quantileNormalizeBySketch: exact sketches reproduce cume_dist " +
    "(max rank for ties); approximate sketches stay within the KLL " +
    "rank bound; unfitted groups yield NULL") {
    val rows = (Seq.tabulate(40)(i => ("a", i.toLong)) ++
      Seq(("a", 10L), ("a", 10L)) ++ // ties at 10
      Seq(("b", 5L))).toDF("src", "score")
    val exact = graft.ext.Sketches.kllFitByKey(rows, "src", "score",
      k = 1024)
    assert(exact.values.forall(_.exact))
    val out = graft.ext.Pipeline.quantileNormalizeBySketch(
        rows, "src", "score", exact)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getAs[Double]("q"))
    // group a has 42 values; score 10 appears 3x -> cume_dist = 13/42
    out.filter(t => t._1 == ("a", 10L)).foreach { case (_, q) =>
      assert(q == 13.0 / 42.0, s"tie cume_dist wrong: $q")
    }
    assert(out.find(_._1 == ("b", 5L)).get._2 == 1.0)
    // a group with no fitted model -> NULL q
    val missing = graft.ext.Pipeline.quantileNormalizeBySketch(
        Seq(("zz", 1L)).toDF("src", "score"), "src", "score", exact)
      .collect()(0)
    assert(missing.isNullAt(missing.fieldIndex("q")))
    // approximate mode: 20k values at k=64 -> compactions happen, and
    // every estimated q stays within the coarse 5% rank envelope
    val big = Seq.tabulate(20000)(i => ("a", i.toLong))
      .toDF("src", "score")
    val approx = graft.ext.Sketches.kllFitByKey(big, "src", "score",
      k = 64)
    assert(!approx("a").exact, "20k values at k=64 must compact")
    val qs = graft.ext.Pipeline.quantileNormalizeBySketch(
        big, "src", "score", approx)
      .collect().map(r => r.getLong(1) -> r.getAs[Double]("q"))
    assert(qs.forall { case (v, q) =>
      math.abs(q - (v + 1).toDouble / 20000) < 0.05 },
      "approximate rank left the 5% envelope")
  }

  test("resampleInterp: gap buckets interpolate linearly between their " +
    "neighbors, observed buckets keep their reading, and the grid/dedup " +
    "semantics match resampleLocf's (latest-in-bucket wins)") {
    val day = 86400L
    def ts(d: Long) = new java.sql.Timestamp(d * day * 1000L)
    val events = Seq(
      // key 1: obs at d0 (v=10), d4 (v=2): gap d1..d3 interpolates
      (1L, ts(0), 10.0), (1L, ts(4), 2.0),
      // key 1 d0 also has an EARLIER reading that must lose to 10.0
      (1L, ts(0), 5.0),
      // key 2: single observation -> single-bucket grid, no gaps
      (2L, ts(9), 1.5)
    ).toDF("user_id", "ts", "value")
    // push the winner 2h into the bucket and the loser 1h (both stay
    // inside day 0): latest-in-bucket must pick 10.0
    val fixed = events.withColumn("ts",
      when(col("value") === 10.0, col("ts") + expr("INTERVAL '2' HOUR"))
        .when(col("value") === 5.0, col("ts") + expr("INTERVAL '1' HOUR"))
        .otherwise(col("ts")))
    val out = TimeSeries.resampleInterp(fixed, "user_id", "ts",
        "value", day)
      .orderBy("key", "bucket_start").collect()
      .map(r => (r.getLong(0), r.getLong(1) / day) ->
        (r.getDouble(2), r.getBoolean(3))).toMap
    assert(out((1L, 0L)) == (10.0, true), "latest-in-bucket must win")
    assert(out((1L, 1L)) == (8.0, false))
    assert(out((1L, 2L)) == (6.0, false))
    assert(out((1L, 3L)) == (4.0, false))
    assert(out((1L, 4L)) == (2.0, true))
    assert(out((2L, 9L)) == (1.5, true))
    assert(out.size == 6, s"grid must span first..last obs only: $out")
  }
}
