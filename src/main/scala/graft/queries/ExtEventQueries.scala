package graft.queries

import graft.ext.{Dedup, Funnel, IntervalJoin, Layout, Multimodal, Pipeline, Similarity, Sketches, TextAnalysis, TimeSeries}
import graft.compile.ParquetEnv
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.floorDiv
import ExtShared._

/** Event/time family: funnels, sessionization, retention, Markov
  * transitions/stationary, sketches over events, time-series anomaly +
  * resample, as-of/interval joins, WET ingestion, PageRank.
  *
  * Gate queries with their DuckDB oracles CO-LOCATED (one file per
  * family, split from the former monolithic ExtQueries — VERDICT r8
  * #7); [[ExtQueries]] merges every family fail-loud on duplicate
  * keys. Shared fixtures/memos/SQL builders live in [[ExtShared]].
  */
private[queries] object ExtEventQueries {
  private type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(

    // ---- time series ----
    "ts_anomaly_robust" -> { (s, d) =>
      // median/MAD robust z: the burst-resistant flagging face (zMin
      // lower than the σ gate since MAD units are tighter)
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      TimeSeries.anomalousWindowsRobust(ev, "event_type", "ts",
          bucketSeconds = 3600L, zMin = 2.0)
        .select(col("key").as("event_type"), col("bucket_start"), col("n"),
                round(col("rz"), 4).as("rz"))
        .orderBy(col("event_type"), col("bucket_start"))
    },
    "ts_anomaly" -> { (s, d) =>
      // the reference's flagship example domain (anomaly_detection.clj) as
      // a batch diagnostic: hourly volume per event type, flag hours >= 2
      // population-z above that type's own mean (z rounded for the oracle)
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      TimeSeries.anomalousWindows(ev, "event_type", "ts",
          bucketSeconds = 3600L, zMin = 2.0)
        .select(col("key").as("event_type"), col("bucket_start"), col("n"),
                round(col("z"), 4).as("z"))
        .orderBy(col("event_type"), col("bucket_start"))
    },
    "ts_resample" -> { (s, d) =>
      // hourly per-user activity grid with gap fill + 3-hour rolling sum:
      // quiet hours appear as explicit zeros (what a fixed-rate model needs)
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      // bounded verify output: per-key grids are independent, so filtering
      // at the source is identical to filtering the result — and reaches
      // the parquet scan as a pushed predicate (a post-grid filter sits
      // above the Window alias and never pushes past it)
      val grid = TimeSeries.resampleCounts(
        ev.where(col("user_id") < 40), "user_id", "ts", 3600L)
      grid.select(col("key").as("user_id"), col("bucket_start"), col("n"),
          TimeSeries.rollingSum(grid, "key", "bucket_start", "n", 3)
            .cast("long").as("n_roll3"))
        .orderBy(col("user_id"), col("bucket_start"))
    },
    "ts_resample_locf" -> { (s, d) =>
      // daily per-user purchase-value grid with last-observation-carried-
      // forward: quiet days repeat the latest reading (what a fixed-rate
      // model needs from a measurement series; counts get zeros instead —
      // ts_resample)
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      TimeSeries.resampleLocf(
          ev.where(col("event_type") === "purchase"), "user_id", "ts",
          "value", 86400L)
        .select(col("key").as("user_id"), col("bucket_start"), col("v"),
          col("observed"))
        .orderBy(col("user_id"), col("bucket_start"))
    },
    "ts_diff" -> { (s, d) =>
      // lag/difference features over the regular grid: d1 = first
      // difference (detrend), d24 = day-over-day seasonal residual on
      // hourly buckets — integer-exact, NULL where no lagged row exists
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      val grid = TimeSeries.resampleCounts(
        ev.where(col("user_id") < 40), "user_id", "ts", 3600L)
      TimeSeries.diffFeatures(grid, "key", "bucket_start", "n",
          lags = Seq(1, 24))
        .select(col("key").as("user_id"), col("bucket_start"), col("n"),
                col("d1"), col("d24"))
        .orderBy(col("user_id"), col("bucket_start"))
    },
    "ts_cusum" -> { (s, d) =>
      // sustained-level-shift detection: one-sided CUSUM over hourly
      // per-type volume, drift = that type's own median + 1·√median
      // (scale-adaptive, ≥1), alarm at 8 accumulated excess events —
      // the closed window form (running sum − running min), integer-exact
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      val grid = TimeSeries.resampleCounts(ev, "event_type", "ts", 3600L)
      TimeSeries.cusumAdaptive(grid, "key", "bucket_start", "n",
          sigmaMult = 1.0, threshold = 8L)
        .select(col("key").as("event_type"), col("bucket_start"),
                col("n"), col("c"), col("alarm"))
        .orderBy(col("event_type"), col("bucket_start"))
    },
    "ts_acf" -> { (s, d) =>
      // seasonality test: per-type autocorrelation of the hourly series
      // at lag 1 (persistence) and lag 24 (daily period), from exact
      // BIGINT moment sums; r rounded for the cross-engine hash
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      val grid = TimeSeries.resampleCounts(ev, "event_type", "ts", 3600L)
      TimeSeries.acf(grid, "key", "bucket_start", "n", lags = Seq(1, 24))
        .select(col("key").as("event_type"), col("lag"), col("m"),
                round(col("r"), 6).as("r"))
        .orderBy(col("event_type"), col("lag"))
    },
    "ts_resample_interp" -> { (s, d) =>
      // daily per-user purchase-value grid with LINEAR interpolation
      // across gaps (the smooth-measurement alternative to LOCF's step);
      // v rounded for the cross-engine hash
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      TimeSeries.resampleInterp(
          ev.where(col("event_type") === "purchase"), "user_id", "ts",
          "value", 86400L)
        .select(col("key").as("user_id"), col("bucket_start"),
                round(col("v"), 6).as("v"), col("observed"))
        .orderBy(col("user_id"), col("bucket_start"))
    },
    "ts_ewma" -> { (s, d) =>
      // EWMA smoothing of the hourly per-type series (α=0.25, y₀=v₀) —
      // the SEQUENTIAL streaming kernel run in batch mode, hash-checked
      // against a per-key recursive-CTE fold in DuckDB (a rare direct
      // oracle over a stateful kernel); ewma rounded for the hash
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      val grid = TimeSeries.resampleCounts(ev, "event_type", "ts", 3600L)
      TimeSeries.ewmaStream(grid, "key", "bucket_start", "n", alpha = 0.25)
        .select(col("key").as("event_type"), col("t").as("bucket_start"),
                col("v").cast("long").as("n"),
                round(col("ewma"), 9).as("ewma"))
        .orderBy(col("event_type"), col("bucket_start"))
    },
    "ts_holt" -> { (s, d) =>
      // Holt linear-trend smoothing of the hourly per-type series
      // (α=0.25, β=0.125 — exact binary constants; l₀=v₀, b₀=0): the
      // two-accumulator sequential kernel hash-checked against a
      // per-key recursive-CTE fold carrying BOTH level and trend
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      val grid = TimeSeries.resampleCounts(ev, "event_type", "ts", 3600L)
      TimeSeries.holtStream(grid, "key", "bucket_start", "n",
          alpha = 0.25, beta = 0.125)
        .select(col("key").as("event_type"), col("t").as("bucket_start"),
                col("v").cast("long").as("n"),
                round(col("level"), 9).as("level"),
                round(col("trend"), 9).as("trend"),
                round(col("forecast"), 9).as("forecast"))
        .orderBy(col("event_type"), col("bucket_start"))
    },
    "ts_seasonal_adjust" -> { (s, d) =>
      // hour-of-day seasonal adjustment: residual = hourly count minus
      // that type's mean for the same phase (period 24) — anomaly
      // detection over resid stops re-flagging every rush hour
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      val grid = TimeSeries.resampleCounts(ev, "event_type", "ts", 3600L)
      TimeSeries.seasonalAdjust(grid, "key", "bucket_start", "n",
          period = 24, bucketSeconds = 3600L)
        .select(col("key").as("event_type"), col("bucket_start"),
                col("n"), col("phase"), round(col("resid"), 6).as("resid"))
        .orderBy(col("event_type"), col("bucket_start"))
    },
    "ev_debounce" -> { (s, d) =>
      // burst collapse: first event of each 4h-gap burst per
      // (user, type) survives, with the suppressed multiplicity —
      // the double-fire/bot-retry cleanup before any counting
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      Funnel.collapseBursts(ev.where(col("user_id") < 40),
          Seq("user_id", "event_type"), "ts", gapSeconds = 14400L,
          tieBreak = Seq("event_id"))
        .select(col("user_id"), col("event_type"), col("event_id"),
                col("burst_size").cast("long").as("burst_size"))
        .orderBy(col("event_id"))
    },
    "ev_hazard" -> { (s, d) =>
      // survival analysis over (user, activity-type) lifetimes: per
      // daily bucket since the subject's first event — subjects still
      // at risk, subjects churning exactly there, discrete hazard in
      // exact ppm (Kaplan-Meier's inputs; the float survival product
      // is deliberately not emitted — libm-dependent)
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      Funnel.hazardCurve(
          ev.withColumn("subject",
            concat_ws("#", col("user_id"), col("event_type"))),
          "subject", "ts", bucketSeconds = 86400L)
        .orderBy(col("t"))
    },
    "ev_survival" -> { (s, d) =>
      // Kaplan-Meier log-survival in milli-nats on top of the hazard
      // curve — engine-portable where the float product-limit chain is
      // not; the final bucket churns everyone (h = 1), so survival hits
      // exact 0 there and reports NULL + surv_zero honestly
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      Funnel.survivalCurve(
          ev.withColumn("subject",
            concat_ws("#", col("user_id"), col("event_type"))),
          "subject", "ts", bucketSeconds = 86400L)
        .orderBy(col("t"))
    },
    "ev_json_props" -> { (s, d) =>
      // semi-structured payload extraction: JSON props → typed column → agg
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      ev.select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n"),
             sum(col("k")).cast("long").as("sum_k"),
             max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    },

    "join_asof" -> { (s, d) =>
      // point-in-time join: each click paired with the user's most recent
      // prior (or simultaneous) purchase
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      graft.ext.AsOfJoin.asOf(clicks, purchases,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightVals = Map("event_id" -> "purchase_id", "value" -> "purchase_value"))
        .select(col("event_id"), col("user_id"), col("purchase_id"),
                col("purchase_value"))
        .orderBy(col("event_id"))
    },

    "join_asof_fwd" -> { (s, d) =>
      // forward as-of: each click paired with the user's NEXT purchase
      // at-or-after it (the next-event lookup; merge_asof
      // direction='forward')
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      graft.ext.AsOfJoin.asOf(clicks, purchases,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightVals = Map("event_id" -> "purchase_id",
            "value" -> "purchase_value"),
          direction = "forward")
        .select(col("event_id"), col("user_id"), col("purchase_id"),
                col("purchase_value"))
        .orderBy(col("event_id"))
    },

    "join_asof_tol" -> { (s, d) =>
      // bounded as-of: the prior purchase matches ONLY within 2 days —
      // the stale-feature guard (out-of-tolerance rows keep NULLs, like
      // merge_asof's tolerance)
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      graft.ext.AsOfJoin.asOf(clicks, purchases,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightVals = Map("event_id" -> "purchase_id",
            "value" -> "purchase_value"),
          tolerance = Some(expr("INTERVAL '2' DAY")))
        .select(col("event_id"), col("user_id"), col("purchase_id"),
                col("purchase_value"))
        .orderBy(col("event_id"))
    },

    "join_asof_near" -> { (s, d) =>
      // nearest as-of: whichever purchase is closer in time, before or
      // after; equal distance prefers backward (merge_asof convention)
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      graft.ext.AsOfJoin.asOf(clicks, purchases,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightVals = Map("event_id" -> "purchase_id",
            "value" -> "purchase_value"),
          direction = "nearest")
        .select(col("event_id"), col("user_id"), col("purchase_id"),
                col("purchase_value"))
        .orderBy(col("event_id"))
    },

    "ds_coverage_gaps" -> { (s, d) =>
      // SCD2/validity continuity audit: per-supplier holes in the union
      // of [shipdate, shipdate + linenumber d] activity windows, rolled
      // up per key (count / total / longest, in days)
      val li = ParquetEnv.read(s, s"$d/lineitem.parquet")
      val sd = floorDiv(col("l_shipdate").cast("timestamp").cast("long"),
        lit(86400L))
      val iv = li.select(col("l_suppkey"), sd.as("s"),
        (sd + col("l_linenumber")).as("e"))
      IntervalJoin.coverageGaps(iv, Seq("l_suppkey"), "s", "e")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).cast("long").as("n_gaps"),
             sum(col("gap_len")).cast("long").as("gap_days"),
             max(col("gap_len")).cast("long").as("max_gap"))
        .orderBy(col("l_suppkey"))
    },
    "join_interval" -> { (s, d) =>
      // range join as a binned equi-join (no BroadcastNestedLoopJoin):
      // for each q=50 lineitem's [shipdate, shipdate + linenumber*2d]
      // window, the orders dated inside it. 14-day bins ≥ the longest
      // window → explode factor ≤ 2. Window lengths chosen so the match
      // count (≈ |intervals| × window × order-rate) stays bench-lean:
      // both sides grow with sf, so matches grow ~quadratically.
      val li = ParquetEnv.read(s, s"$d/lineitem.parquet")
      val o = ParquetEnv.read(s, s"$d/orders.parquet")
      val intervals = li.where(col("l_quantity") === 50)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate").cast("timestamp").cast("long").as("win_start"),
          (col("l_shipdate").cast("timestamp").cast("long") +
            col("l_linenumber").cast("long") * lit(2L * 86400)).as("win_end"))
      val points = o.select(col("o_orderkey"),
        col("o_orderdate").cast("timestamp").cast("long").as("p"))
      IntervalJoin.pointInInterval(points, intervals,
          "p", "win_start", "win_end", binWidth = 14L * 86400)
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(count(lit(1)).cast("long").as("n_orders"),
             min(col("o_orderkey")).as("first_okey"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
    "join_interval_overlap" -> { (s, d) =>
      // interval×interval overlap join per supplier; each overlapping pair
      // emits from its first shared bin only (exactly once, no dedup stage)
      val li = ParquetEnv.read(s, s"$d/lineitem.parquet")
      def ivals(q: Int, p: String) = li.where(col("l_quantity") === q)
        .select(col("l_suppkey"), col("l_orderkey").as(s"${p}_okey"),
          col("l_linenumber").as(s"${p}_ln"),
          col("l_shipdate").cast("timestamp").cast("long").as(s"${p}_start"),
          (col("l_shipdate").cast("timestamp").cast("long") +
            col("l_linenumber").cast("long") * lit(2L * 86400)).as(s"${p}_end"))
      IntervalJoin.intervalOverlap(ivals(50, "a"), ivals(49, "b"),
          "a_start", "a_end", "b_start", "b_end",
          binWidth = 14L * 86400, keys = Seq("l_suppkey"))
        .select(col("a_okey"), col("a_ln"), col("b_okey"), col("b_ln"),
          (least(col("a_end"), col("b_end")) -
           greatest(col("a_start"), col("b_start"))).as("overlap_secs"))
        .orderBy(col("a_okey"), col("a_ln"), col("b_okey"), col("b_ln"))
    },
    "src_wet" -> { (s, d) =>
      // raw-crawl interchange round-trip: serialize the documents table
      // into 8 WET blobs (WARC/1.0 conversion records, byte-accurate
      // Content-Length framing), then parse the blobs back with the
      // distributed record walker — the oracle is the original table
      val blobs = graft.sources.Wet.toBlobs(docs(s, d),
        "doc_id", "lang", "text", nBlobs = 8)
      graft.sources.Wet.parseBlobs(blobs)
        .select(graft.sources.Wet.docIdFromUri(col("uri")).as("doc_id"),
          col("lang"), col("text"))
        .orderBy(col("doc_id"))
    },
    "graph_pagerank" -> { (s, d) =>
      // damped PageRank over a deterministic 2-out link graph derived
      // from the documents table (the crawl-quality-prior shape); exact
      // Long ppm arithmetic — the oracle replays all 3 iterations
      val dd = docs(s, d)
      val n = dd.count()
      val e1 = dd.select(col("doc_id").as("src"),
        pmod(col("doc_id") * 7 + 3, lit(n)).as("dst"))
      val e2 = dd.select(col("doc_id").as("src"),
        pmod(col("doc_id") * 13 + 1, lit(n)).as("dst"))
      graft.ext.Graph.pageRank(e1.union(e2), "src", "dst", iters = 3)
        .orderBy(col("node"))
    },
    "ev_sessionize" -> { (s, d) =>
      // 30-minute-gap sessionization: session ids ON the events
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      Funnel.sessionize(ev, Seq("user_id"), "ts", gapSeconds = 1800,
          tieBreak = Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("session_idx"))
        .orderBy(col("user_id"), col("event_id"))
    },
    "ev_session_stats" -> { (s, d) =>
      // per-session rollup of the same sessionization
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      Funnel.sessionStats(
          Funnel.sessionize(ev, Seq("user_id"), "ts", gapSeconds = 1800,
            tieBreak = Seq("event_id")),
          Seq("user_id"), "ts")
        .orderBy(col("user_id"), col("session_idx"))
    },
    "ev_funnel" -> { (s, d) =>
      // view → click → purchase within 24h, chain window from first event
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      Funnel.windowFunnel(ev, "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"), withinSeconds = 86400L)
        .select(col("user").as("user_id"), col("depth"))
        .orderBy(col("user_id"))
    },
    "ev_top_paths" -> { (s, d) =>
      // most common 3-step event-type sequences; (ts, event_id) is the
      // unique per-user order so the path multiset is deterministic
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      Funnel.topPaths(ev, "user_id", "event_type", "ts", "event_id",
        k = 3, topN = 20)
    },
    "ev_transitions" -> { (s, d) =>
      // row-normalized event-type transition matrix over per-user order
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      Funnel.transitionMatrix(ev, "user_id", "event_type", "ts",
        "event_id")
    },
    "ev_retention" -> { (s, d) =>
      // daily cohorts with D1/D7 retention over the events month
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      Funnel.retentionCohorts(ev, "user_id", "ts")
        .orderBy(col("cohort"))
    },
    "ev_kmv_distinct" -> { (s, d) =>
      // theta distinct-count sketch, one theta_sketch_agg pass.
      // Gate mode sizes k from the DATA (distinct count + 1, floored at
      // 4096) so the sketch never saturates and the estimate is exact
      // at ANY fixture scale — the constant 4096 silently started
      // estimating (15203 vs 15000) the first time the fixture's users
      // passed it (caught by the sf1 sweep). Production sizes k for the
      // error target instead; the unsaturated-mode exactness is what
      // this gate cross-checks.
      import s.implicits._
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      val nd = ev.select(col("user_id")).where(col("user_id").isNotNull)
        .distinct().count()
      val k = math.max(4096L, nd + 1L).toInt
      Seq(Sketches.kmvFit(ev, "user_id", k).estimate).toDF("n_users")
    },
    "ev_cms_counts" -> { (s, d) =>
      // Count-Min point-frequency estimates: one count_min_sketch
      // aggregation pass; width 4096 is collision-free for the 5-key query
      // set, so the min-over-rows estimates are exact (the gate mode)
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      val model = Sketches.countMinFit(ev, "event_type")
      Sketches.cmsEstimate(ev.select("event_type").distinct(),
          "event_type", model)
        .select(col("event_type"), col("cms_est").as("n"))
        .orderBy(col("event_type"))
    },
    "ev_heavy_hitters" -> { (s, d) =>
      // one-pass approx_top_k hot-key detection, no full-key shuffle; at
      // capacity 64 >= 5 distinct event types the frequent-items sketch
      // never purges, so the estimates are exact (the gate mode)
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      Sketches.heavyHitters(ev, "event_type", k = 5, capacity = 64)
    },
    "ev_kmv_by_type" -> { (s, d) =>
      // per-group distinct-count sketch UDAF (the fan-out /
      // super-spreader report): distinct users per event type in ONE
      // hash aggregation — the wire carries theta sketches, never
      // the distinct values (countDistinct shuffles every distinct
      // (group, value) pair); gate mode sizes k from the DATA (max
      // per-group distinct + 1, floored at 4096 — same sf1-sweep fix as
      // ev_kmv_distinct), so the estimates are exact at any scale
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      val maxD = ev.where(col("event_type").isNotNull)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("nd"))
        .agg(max(col("nd"))).collect()(0).getLong(0)
      val agg = Sketches.kmvDistinctUdaf(math.max(4096L, maxD + 1L).toInt)
      ev.where(col("event_type").isNotNull)
        .groupBy(col("event_type"))
        .agg(agg(col("user_id").cast("string")).as("n_users"))
        .orderBy(col("event_type"))
    },
    "ev_kll_quantiles" -> { (s, d) =>
      // KLL quantile sketch (the quantile member of the sketch family),
      // shuffle-free treeAggregate fit; k=131072 >= the sf0.1 events
      // rows, so nothing ever compacts and every answer is the exact
      // lower order statistic (the gate mode); compare exact percentile,
      // which sorts every value through a shuffle
      import s.implicits._
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      val m = Sketches.kllFit(ev, "value", k = 131072)
      Seq(0.25, 0.5, 0.75, 0.9, 0.99).map(q => (q, m.quantile(q)))
        .toDF("q", "v").orderBy(col("q"))
    },
    "ev_kll_quantiles_probe" -> { (s, d) =>
      // production face: bounded k=256 — a ~4 KB summary regardless of
      // corpus size. Estimates depend on sketch merge order, so the gate
      // pins the INVARIANT instead of the value: each estimate's exact
      // rank lands within 5% of its target rank (KLL's O(1/k) family
      // bound; measured max ~1% at this k). The exact ranks cost one
      // extra aggregation pass — gate-only evidence; production consumes
      // the estimates directly.
      import s.implicits._
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      val m = Sketches.kllFit(ev, "value", k = 256)
      val qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
      val ests = qs.map(q => (q, m.quantile(q)))
      val rankCols = ests.map { case (q, e) =>
        sum(when(col("value") <= e, 1L).otherwise(0L))
          .as("r" + (q * 100).toInt) }
      val row = ev.where(col("value").isNotNull && !isnan(col("value")))
        .agg(rankCols.head, rankCols.tail: _*).collect()(0)
      ests.zipWithIndex.map { case ((q, _), i) =>
        val target = math.max(1L, math.ceil(q * m.n).toLong)
        val err = math.abs(row.getLong(i) - target)
        (q, err <= math.max(1L, (0.05 * m.n).toLong), m.n)
      }.toDF("q", "ok", "n").orderBy(col("q"))
    },
    "ev_stationary" -> { (s, d) =>
      // long-run state occupancy of the event-type Markov chain —
      // 3 power-iteration rounds in exact ppm, oracle replays all
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      Funnel.stationaryDistribution(ev, "user_id", "event_type", "ts",
          "event_id", iters = 3)
        .orderBy(col("event_type"))
    },
    "ev_conversion_latency" -> { (s, d) =>
      // median/p90 time from first view to first purchase at-or-after
      // it — exact percentiles over per-user latencies
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      Funnel.conversionLatency(ev, "user_id", "ts", "event_type",
        "view", "purchase")
    }
  )

  val oracle: Map[String, String] = Map(
    "ts_anomaly_robust" ->
      """WITH e AS (SELECT event_type,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT) AS bucket
           FROM events),
         c AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n
               FROM e GROUP BY event_type, bucket),
         s AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
               FROM c GROUP BY event_type),
         g AS (SELECT event_type, unnest(range(lo, hi + 1)) AS bucket FROM s),
         f AS (SELECT g.event_type, g.bucket, coalesce(c.n, 0) AS n
               FROM g LEFT JOIN c
                 ON g.event_type = c.event_type AND g.bucket = c.bucket),
         m AS (SELECT event_type, quantile_cont(n, 0.5) AS med
               FROM f GROUP BY event_type),
         dv AS (SELECT f.event_type, f.bucket, f.n, m.med
                FROM f JOIN m USING (event_type)),
         md AS (SELECT event_type, quantile_cont(abs(n - med), 0.5) AS mad
                FROM dv GROUP BY event_type)
         SELECT dv.event_type, dv.bucket * 3600 AS bucket_start, dv.n,
                round((dv.n - dv.med) / md.mad, 4) AS rz
         FROM dv JOIN md USING (event_type)
         WHERE md.mad > 0 AND (dv.n - dv.med) / md.mad >= 2.0
         ORDER BY dv.event_type, bucket_start""",
    "ts_anomaly" ->
      """WITH e AS (SELECT event_type,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT) AS bucket
           FROM events),
         c AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n
               FROM e GROUP BY event_type, bucket),
         s AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
               FROM c GROUP BY event_type),
         g AS (SELECT event_type, unnest(range(lo, hi + 1)) AS bucket FROM s),
         f AS (SELECT g.event_type, g.bucket, coalesce(c.n, 0) AS n
               FROM g LEFT JOIN c
                 ON g.event_type = c.event_type AND g.bucket = c.bucket),
         z AS (SELECT event_type, bucket, n,
                 avg(n) OVER (PARTITION BY event_type) AS mu,
                 stddev_pop(n) OVER (PARTITION BY event_type) AS sigma
               FROM f)
         SELECT event_type, bucket * 3600 AS bucket_start, n,
                round((n - mu) / sigma, 4) AS z
         FROM z WHERE sigma > 0 AND (n - mu) / sigma >= 2.0
         ORDER BY event_type, bucket_start""",
    "ts_resample" ->
      """WITH e AS (SELECT user_id,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT) AS bucket
           FROM events WHERE user_id < 40),
         c AS (SELECT user_id, bucket, CAST(count(*) AS BIGINT) AS n
               FROM e GROUP BY user_id, bucket),
         s AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
               FROM c GROUP BY user_id),
         g AS (SELECT user_id, unnest(range(lo, hi + 1)) AS bucket FROM s),
         f AS (SELECT g.user_id, g.bucket, coalesce(c.n, 0) AS n
               FROM g LEFT JOIN c
                 ON g.user_id = c.user_id AND g.bucket = c.bucket)
         SELECT user_id, bucket * 3600 AS bucket_start, n,
                CAST(sum(n) OVER (PARTITION BY user_id ORDER BY bucket
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
                  AS n_roll3
         FROM f ORDER BY user_id, bucket_start""",
    "ds_coverage_gaps" ->
      """WITH iv AS (SELECT l_suppkey,
             CAST(floor(epoch(CAST(l_shipdate AS TIMESTAMP)) / 86400)
               AS BIGINT) AS s,
             CAST(floor(epoch(CAST(l_shipdate AS TIMESTAMP)) / 86400)
               AS BIGINT) + l_linenumber AS e
           FROM lineitem),
         w AS (SELECT l_suppkey, s, e,
                 max(e) OVER (PARTITION BY l_suppkey ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS cov
               FROM iv),
         gaps AS (SELECT l_suppkey, s - cov - 1 AS gap_len
                  FROM w WHERE cov IS NOT NULL AND s > cov + 1)
         SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_gaps,
                CAST(sum(gap_len) AS BIGINT) AS gap_days,
                CAST(max(gap_len) AS BIGINT) AS max_gap
         FROM gaps GROUP BY l_suppkey ORDER BY l_suppkey""",
    "ts_diff" ->
      """WITH e AS (SELECT user_id,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT) AS bucket
           FROM events WHERE user_id < 40),
         c AS (SELECT user_id, bucket, CAST(count(*) AS BIGINT) AS n
               FROM e GROUP BY user_id, bucket),
         s AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
               FROM c GROUP BY user_id),
         g AS (SELECT user_id, unnest(range(lo, hi + 1)) AS bucket FROM s),
         f AS (SELECT g.user_id, g.bucket, coalesce(c.n, 0) AS n
               FROM g LEFT JOIN c
                 ON g.user_id = c.user_id AND g.bucket = c.bucket)
         SELECT user_id, bucket * 3600 AS bucket_start, n,
                n - lag(n, 1) OVER (PARTITION BY user_id ORDER BY bucket)
                  AS d1,
                n - lag(n, 24) OVER (PARTITION BY user_id ORDER BY bucket)
                  AS d24
         FROM f ORDER BY user_id, bucket_start""",
    "ts_cusum" ->
      """WITH e AS (SELECT event_type,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT) AS bucket
           FROM events),
         c AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n
               FROM e GROUP BY event_type, bucket),
         s AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
               FROM c GROUP BY event_type),
         g AS (SELECT event_type, unnest(range(lo, hi + 1)) AS bucket FROM s),
         f AS (SELECT g.event_type, g.bucket, coalesce(c.n, 0) AS n
               FROM g LEFT JOIN c
                 ON g.event_type = c.event_type AND g.bucket = c.bucket),
         m AS (SELECT event_type,
                 greatest(CAST(floor(median(n) + sqrt(median(n)))
                   AS BIGINT), 1) AS k
               FROM f GROUP BY event_type),
         r AS (SELECT f.event_type, f.bucket, f.n,
                 sum(f.n - m.k) OVER (PARTITION BY f.event_type
                   ORDER BY f.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS srun
               FROM f JOIN m ON f.event_type = m.event_type),
         q AS (SELECT event_type, bucket, n,
                 CAST(srun - least(0, min(srun) OVER (
                   PARTITION BY event_type ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                   AS BIGINT) AS c
               FROM r)
         SELECT event_type, bucket * 3600 AS bucket_start, n, c,
                c >= 8 AS alarm
         FROM q ORDER BY event_type, bucket_start""",
    "ts_acf" ->
      """WITH e AS (SELECT event_type,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT) AS bucket
           FROM events),
         c AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n
               FROM e GROUP BY event_type, bucket),
         s AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
               FROM c GROUP BY event_type),
         g AS (SELECT event_type, unnest(range(lo, hi + 1)) AS bucket FROM s),
         f AS (SELECT g.event_type, g.bucket, coalesce(c.n, 0) AS n
               FROM g LEFT JOIN c
                 ON g.event_type = c.event_type AND g.bucket = c.bucket),
         p AS (SELECT event_type AS key, n AS x,
                 lead(n, 1) OVER (PARTITION BY event_type ORDER BY bucket)
                   AS y1,
                 lead(n, 24) OVER (PARTITION BY event_type ORDER BY bucket)
                   AS y24
               FROM f),
         a AS (
           SELECT key, CAST(1 AS INTEGER) AS lag,
                  CAST(count(*) AS BIGINT) AS m,
                  sum(x) AS sx, sum(y1) AS sy, sum(x*x) AS sxx,
                  sum(y1*y1) AS syy, sum(x*y1) AS sxy
           FROM p WHERE y1 IS NOT NULL GROUP BY key
           UNION ALL
           SELECT key, CAST(24 AS INTEGER) AS lag,
                  CAST(count(*) AS BIGINT) AS m,
                  sum(x) AS sx, sum(y24) AS sy, sum(x*x) AS sxx,
                  sum(y24*y24) AS syy, sum(x*y24) AS sxy
           FROM p WHERE y24 IS NOT NULL GROUP BY key)
         SELECT key AS event_type, lag, m,
           CASE WHEN m > 1 AND (m*sxx - sx*sx) > 0 AND (m*syy - sy*sy) > 0
             THEN round(CAST(m*sxy - sx*sy AS DOUBLE) /
                   sqrt(CAST(m*sxx - sx*sx AS DOUBLE) *
                        CAST(m*syy - sy*sy AS DOUBLE)), 6)
           END AS r
         FROM a ORDER BY event_type, lag""",
    "ts_resample_interp" ->
      """WITH e AS (SELECT user_id AS key,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT)
               AS bucket,
             CAST(ts AS TIMESTAMP) AS ts, value
           FROM events
           WHERE event_type = 'purchase' AND value IS NOT NULL),
         o AS (SELECT key, bucket, value AS v_obs FROM (
             SELECT *, row_number() OVER (PARTITION BY key, bucket
                 ORDER BY ts DESC, value DESC) AS rn FROM e)
           WHERE rn = 1),
         span AS (SELECT key, min(bucket) AS lo, max(bucket) AS hi
                  FROM o GROUP BY key),
         grid AS (SELECT key, unnest(range(lo, hi + 1)) AS bucket
                  FROM span),
         j AS (SELECT g.key, g.bucket, o.v_obs
               FROM grid g LEFT JOIN o
                 ON g.key = o.key AND g.bucket = o.bucket),
         w AS (SELECT key, bucket, v_obs,
             last_value(v_obs IGNORE NULLS) OVER (PARTITION BY key
               ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN v_obs IS NOT NULL THEN bucket END
               IGNORE NULLS) OVER (PARTITION BY key ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
             first_value(v_obs IGNORE NULLS) OVER (PARTITION BY key
               ORDER BY bucket
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v_obs IS NOT NULL THEN bucket END
               IGNORE NULLS) OVER (PARTITION BY key ORDER BY bucket
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
           FROM j)
         SELECT key AS user_id,
           CAST(bucket * 86400 AS BIGINT) AS bucket_start,
           round(CASE WHEN v_obs IS NOT NULL THEN CAST(v_obs AS DOUBLE)
             ELSE CAST(pv AS DOUBLE) +
               (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE)) *
               CAST(bucket - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE)
             END, 6) AS v,
           v_obs IS NOT NULL AS observed
         FROM w ORDER BY user_id, bucket_start""",
    "ts_ewma" ->
      """WITH RECURSIVE e AS (SELECT event_type,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT) AS bucket
           FROM events),
         c AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n
               FROM e GROUP BY event_type, bucket),
         s AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
               FROM c GROUP BY event_type),
         g AS (SELECT event_type, unnest(range(lo, hi + 1)) AS bucket FROM s),
         f AS (SELECT g.event_type, g.bucket, coalesce(c.n, 0) AS n
               FROM g LEFT JOIN c
                 ON g.event_type = c.event_type AND g.bucket = c.bucket),
         base AS (SELECT event_type, bucket, n,
                    row_number() OVER (PARTITION BY event_type
                      ORDER BY bucket) AS rn
                  FROM f),
         rec AS (
           SELECT event_type, bucket, n, rn, CAST(n AS DOUBLE) AS ewma
           FROM base WHERE rn = 1
           UNION ALL
           SELECT b.event_type, b.bucket, b.n, b.rn,
                  r.ewma + 0.25 * (CAST(b.n AS DOUBLE) - r.ewma)
           FROM rec r JOIN base b
             ON b.event_type = r.event_type AND b.rn = r.rn + 1)
         SELECT event_type, bucket * 3600 AS bucket_start, n,
                round(ewma, 9) AS ewma
         FROM rec ORDER BY event_type, bucket_start""",
    "ts_holt" ->
      """WITH RECURSIVE e AS (SELECT event_type,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT)
               AS bucket
           FROM events),
         c AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n
               FROM e GROUP BY event_type, bucket),
         s AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
               FROM c GROUP BY event_type),
         g AS (SELECT event_type, unnest(range(lo, hi + 1)) AS bucket
               FROM s),
         f AS (SELECT g.event_type, g.bucket, coalesce(c.n, 0) AS n
               FROM g LEFT JOIN c
                 ON g.event_type = c.event_type AND g.bucket = c.bucket),
         base AS (SELECT event_type, bucket, n,
                    row_number() OVER (PARTITION BY event_type
                      ORDER BY bucket) AS rn
                  FROM f),
         rec AS (
           SELECT event_type, bucket, n, rn,
                  CAST(n AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b
           FROM base WHERE rn = 1
           UNION ALL
           SELECT bb.event_type, bb.bucket, bb.n, bb.rn,
                  0.25 * CAST(bb.n AS DOUBLE) + 0.75 * (r.l + r.b),
                  0.125 * ((0.25 * CAST(bb.n AS DOUBLE)
                            + 0.75 * (r.l + r.b)) - r.l) + 0.875 * r.b
           FROM rec r JOIN base bb
             ON bb.event_type = r.event_type AND bb.rn = r.rn + 1)
         SELECT event_type, bucket * 3600 AS bucket_start, n,
                round(l, 9) AS level, round(b, 9) AS trend,
                round(l + b, 9) AS forecast
         FROM rec ORDER BY event_type, bucket_start""",
    "ts_seasonal_adjust" ->
      """WITH e AS (SELECT event_type,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT) AS bucket
           FROM events),
         c AS (SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n
               FROM e GROUP BY event_type, bucket),
         s AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
               FROM c GROUP BY event_type),
         g AS (SELECT event_type, unnest(range(lo, hi + 1)) AS bucket FROM s),
         f AS (SELECT g.event_type, g.bucket, coalesce(c.n, 0) AS n
               FROM g LEFT JOIN c
                 ON g.event_type = c.event_type AND g.bucket = c.bucket),
         p AS (SELECT event_type, bucket, n, bucket % 24 AS phase FROM f),
         m AS (SELECT event_type, phase,
                 CAST(sum(n) AS DOUBLE) / count(*) AS phase_mean
               FROM p GROUP BY event_type, phase)
         SELECT p.event_type, p.bucket * 3600 AS bucket_start, p.n,
                p.phase, round(p.n - m.phase_mean, 6) AS resid
         FROM p JOIN m ON p.event_type = m.event_type AND p.phase = m.phase
         ORDER BY p.event_type, bucket_start""",
    "ev_debounce" ->
      """WITH s AS (SELECT user_id, event_type, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > 14400000000
                  THEN 1 ELSE 0 END AS fresh
           FROM events WHERE user_id < 40
           WINDOW w AS (PARTITION BY user_id, event_type
                        ORDER BY ts, event_id)),
         b AS (SELECT user_id, event_type, event_id, fresh,
                 sum(fresh) OVER (PARTITION BY user_id, event_type
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS burst
               FROM s),
         z AS (SELECT user_id, event_type, event_id, fresh,
                 CAST(count(*) OVER (PARTITION BY user_id, event_type,
                   burst) AS BIGINT) AS burst_size
               FROM b)
         SELECT user_id, event_type, event_id, burst_size
         FROM z WHERE fresh = 1 ORDER BY event_id""",
    "ev_hazard" ->
      """WITH u AS (SELECT user_id, event_type,
             min(epoch_us(CAST(ts AS TIMESTAMP))) AS f,
             max(epoch_us(CAST(ts AS TIMESTAMP))) AS l
           FROM events GROUP BY user_id, event_type),
         lt AS (SELECT CAST((l - f) // 86400000000 AS BIGINT) AS t
                FROM u),
         d AS (SELECT t, CAST(count(*) AS BIGINT) AS churned
               FROM lt GROUP BY t),
         r AS (SELECT t, churned,
                 CAST(sum(churned) OVER (ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_risk
               FROM d)
         SELECT t, n_risk, churned,
                CAST(churned * 1000000 // n_risk AS BIGINT) AS hazard_ppm
         FROM r ORDER BY t""",
    "ev_survival" ->
      """WITH u AS (SELECT user_id, event_type,
             min(epoch_us(CAST(ts AS TIMESTAMP))) AS f,
             max(epoch_us(CAST(ts AS TIMESTAMP))) AS l
           FROM events GROUP BY user_id, event_type),
         lt AS (SELECT CAST((l - f) // 86400000000 AS BIGINT) AS t
                FROM u),
         d AS (SELECT t, CAST(count(*) AS BIGINT) AS churned
               FROM lt GROUP BY t),
         r AS (SELECT t, churned,
                 CAST(sum(churned) OVER (ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_risk
               FROM d),
         t2 AS (SELECT t, n_risk, churned,
                 CAST(churned * 1000000 // n_risk AS BIGINT)
                   AS hazard_ppm,
                 CASE WHEN churned < n_risk THEN CAST(round(ln(
                     CAST(n_risk - churned AS DOUBLE) / n_risk) * 1000)
                   AS BIGINT) END AS term
               FROM r),
         z AS (SELECT min(CASE WHEN churned = n_risk THEN t END) AS zt
               FROM t2)
         SELECT t, n_risk, churned, hazard_ppm,
           CASE WHEN (SELECT zt FROM z) IS NULL
                  OR t < (SELECT zt FROM z)
             THEN CAST(sum(term) OVER (ORDER BY t) AS BIGINT) END
             AS log_surv_milli,
           (SELECT zt FROM z) IS NOT NULL AND t >= (SELECT zt FROM z)
             AS surv_zero
         FROM t2 ORDER BY t""",
    "ev_json_props" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS BIGINT) AS sum_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    "join_asof" ->
      """SELECT l.event_id, l.user_id,
           r.event_id AS purchase_id, r.value AS purchase_value
         FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
               FROM events WHERE event_type = 'click') l
         ASOF LEFT JOIN
              (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
               FROM events WHERE event_type = 'purchase') r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id""",
    "ts_resample_locf" ->
      """WITH e AS (SELECT user_id AS key,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT)
               AS bucket,
             CAST(ts AS TIMESTAMP) AS ts, value
           FROM events
           WHERE event_type = 'purchase' AND value IS NOT NULL),
         o AS (SELECT key, bucket, value AS v_obs FROM (
             SELECT *, row_number() OVER (PARTITION BY key, bucket
                 ORDER BY ts DESC, value DESC) AS rn FROM e)
           WHERE rn = 1),
         span AS (SELECT key, min(bucket) AS lo, max(bucket) AS hi
                  FROM o GROUP BY key),
         grid AS (SELECT key, unnest(range(lo, hi + 1)) AS bucket
                  FROM span),
         j AS (SELECT g.key, g.bucket, o.v_obs
               FROM grid g LEFT JOIN o
                 ON g.key = o.key AND g.bucket = o.bucket)
         SELECT key AS user_id,
           CAST(bucket * 86400 AS BIGINT) AS bucket_start,
           last_value(v_obs IGNORE NULLS) OVER (PARTITION BY key
             ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v,
           v_obs IS NOT NULL AS observed
         FROM j ORDER BY user_id, bucket_start""",
    "join_asof_fwd" ->
      """SELECT l.event_id, l.user_id,
           r.event_id AS purchase_id, r.value AS purchase_value
         FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
               FROM events WHERE event_type = 'click') l
         ASOF LEFT JOIN
              (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
               FROM events WHERE event_type = 'purchase') r
           ON l.user_id = r.user_id AND l.ts <= r.ts
         ORDER BY l.event_id""",
    "join_asof_tol" ->
      """SELECT l.event_id, l.user_id,
           CASE WHEN l.ts - r.ts > INTERVAL 2 DAY THEN NULL
                ELSE r.event_id END AS purchase_id,
           CASE WHEN l.ts - r.ts > INTERVAL 2 DAY THEN NULL
                ELSE r.value END AS purchase_value
         FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
               FROM events WHERE event_type = 'click') l
         ASOF LEFT JOIN
              (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
               FROM events WHERE event_type = 'purchase') r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id""",
    "join_asof_near" ->
      """WITH l AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
               FROM events WHERE event_type = 'click'),
         r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
                 value
               FROM events WHERE event_type = 'purchase'),
         b AS (SELECT l.event_id, l.user_id, l.ts AS lts, r.ts AS bts,
                 r.event_id AS bid, r.value AS bval
               FROM l ASOF LEFT JOIN r
                 ON l.user_id = r.user_id AND l.ts >= r.ts),
         f AS (SELECT l.event_id, r.ts AS fts, r.event_id AS fid,
                 r.value AS fval
               FROM l ASOF LEFT JOIN r
                 ON l.user_id = r.user_id AND l.ts <= r.ts)
         SELECT b.event_id, b.user_id,
           CASE WHEN fts IS NULL THEN bid WHEN bts IS NULL THEN fid
                WHEN lts - bts <= fts - lts THEN bid ELSE fid END
             AS purchase_id,
           CASE WHEN fts IS NULL THEN bval WHEN bts IS NULL THEN fval
                WHEN lts - bts <= fts - lts THEN bval ELSE fval END
             AS purchase_value
         FROM b JOIN f ON b.event_id = f.event_id
         ORDER BY b.event_id""",
    "join_interval" ->
      """SELECT l.l_orderkey, l.l_linenumber,
           CAST(count(*) AS BIGINT) AS n_orders,
           min(o.o_orderkey) AS first_okey
         FROM lineitem l JOIN orders o
           ON epoch(o.o_orderdate) BETWEEN epoch(l.l_shipdate)
              AND epoch(l.l_shipdate) + l.l_linenumber * 2 * 86400
         WHERE l.l_quantity = 50
         GROUP BY l.l_orderkey, l.l_linenumber
         ORDER BY l.l_orderkey, l.l_linenumber""",
    "join_interval_overlap" ->
      """WITH a AS (SELECT l_suppkey, l_orderkey AS a_okey,
             l_linenumber AS a_ln, epoch(l_shipdate) AS s,
             epoch(l_shipdate) + l_linenumber * 2 * 86400 AS e
           FROM lineitem WHERE l_quantity = 50),
         b AS (SELECT l_suppkey, l_orderkey AS b_okey,
             l_linenumber AS b_ln, epoch(l_shipdate) AS s,
             epoch(l_shipdate) + l_linenumber * 2 * 86400 AS e
           FROM lineitem WHERE l_quantity = 49)
         SELECT a.a_okey, a.a_ln, b.b_okey, b.b_ln,
           CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT)
             AS overlap_secs
         FROM a JOIN b ON a.l_suppkey = b.l_suppkey
           AND a.s <= b.e AND b.s <= a.e
         ORDER BY a.a_okey, a.a_ln, b.b_okey, b.b_ln""",
    "src_wet" ->
      """SELECT doc_id, lang, text FROM documents ORDER BY doc_id""",
    "graph_pagerank" -> {
      val iters = 3
      val sb = new StringBuilder(
        """WITH nn AS (SELECT count(*) AS n FROM documents),
           e AS (SELECT doc_id AS src, (doc_id * 7 + 3) % (SELECT n FROM nn)
                   AS dst FROM documents
                 UNION ALL
                 SELECT doc_id, (doc_id * 13 + 1) % (SELECT n FROM nn)
                 FROM documents),
           nodes AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
           deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
           r0 AS (SELECT v, CAST(1000000 AS BIGINT) AS r FROM nodes)""")
      for (i <- 1 to iters) {
        val p = i - 1
        sb.append(
          s""",
           c$i AS (SELECT e.dst, sum(r.r // d.deg) AS s
             FROM e JOIN r$p r ON r.v = e.src JOIN deg d ON d.src = e.src
             GROUP BY e.dst),
           r$i AS (SELECT nodes.v,
               CAST(150000 + (85 * COALESCE(c$i.s, 0)) // 100 AS BIGINT) AS r
             FROM nodes LEFT JOIN c$i ON c$i.dst = nodes.v)""")
      }
      sb.append(
        s"""
           SELECT v AS node, r AS rank_ppm FROM r$iters ORDER BY node""")
      sb.toString
    },
    "ev_sessionize" ->
      """WITH o AS (SELECT user_id, event_id, ts,
           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                THEN 1 ELSE 0 END AS ns
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT user_id, event_id,
           CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
         FROM o ORDER BY user_id, event_id""",
    "ev_session_stats" ->
      """WITH o AS (SELECT user_id, event_id, ts,
           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                THEN 1 ELSE 0 END AS ns
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT user_id, ts,
           sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS session_idx
         FROM o)
         SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS start_ts, max(ts) AS end_ts,
           (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS dur_s
         FROM s GROUP BY user_id, session_idx
         ORDER BY user_id, session_idx""",
    // Window form of the ∃ view ≤ click ≤ purchase (window ≤ 1 day)
    // funnel — equivalent to the triple self-join it replaced (which
    // was quadratic-to-cubic per user and timed out in the r11 sf1
    // sweep): with lv(x) = latest view at-or-before x, the best view
    // witness for a click is lv(click), and for a purchase it is
    // lv(c*) of the LATEST click c* ≤ the purchase (lv is monotone in
    // the click time, so the running max over clicks' lv values IS
    // lv(c*)). RANGE frames make same-timestamp peers visible, exactly
    // matching the b.us >= a.us / c.us >= b.us inequalities.
    "ev_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type
           FROM events
           WHERE event_type IN ('view', 'click', 'purchase')),
         w AS (SELECT user_id, us, event_type,
             max(CASE WHEN event_type = 'view' THEN us END) OVER
               (PARTITION BY user_id ORDER BY us
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lv
           FROM e),
         w2 AS (SELECT user_id, us, event_type, lv,
             max(CASE WHEN event_type = 'click' THEN lv END) OVER
               (PARTITION BY user_id ORDER BY us
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lcv
           FROM w),
         u AS (SELECT DISTINCT user_id FROM e),
         d1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'view'),
         d2 AS (SELECT DISTINCT user_id FROM w
                WHERE event_type = 'click' AND lv IS NOT NULL
                  AND us - lv <= 86400000000),
         d3 AS (SELECT DISTINCT user_id FROM w2
                WHERE event_type = 'purchase' AND lcv IS NOT NULL
                  AND us - lcv <= 86400000000)
         SELECT u.user_id,
           CAST(CASE WHEN u.user_id IN (SELECT user_id FROM d3) THEN 3
                     WHEN u.user_id IN (SELECT user_id FROM d2) THEN 2
                     WHEN u.user_id IN (SELECT user_id FROM d1) THEN 1
                     ELSE 0 END AS BIGINT) AS depth
         FROM u ORDER BY user_id""",
    "ev_top_paths" ->
      """WITH o AS (SELECT event_type,
           lead(event_type, 1) OVER w AS t1,
           lead(event_type, 2) OVER w AS t2
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT event_type || ' > ' || t1 || ' > ' || t2 AS path,
                CAST(count(*) AS BIGINT) AS n
         FROM o WHERE t2 IS NOT NULL
         GROUP BY 1 ORDER BY n DESC, path LIMIT 20""",
    "ev_transitions" ->
      """WITH p AS (SELECT event_type AS from_type,
           lead(event_type, 1) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS to_type
         FROM events),
         c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
           FROM p WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
         t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
           FROM c GROUP BY from_type)
         SELECT c.from_type, c.to_type, c.n,
                round(c.n / CAST(t.tot AS DOUBLE), 6) AS p
         FROM c JOIN t USING (from_type)
         ORDER BY c.from_type, c.to_type""",
    "ev_retention" ->
      """WITH days AS (SELECT DISTINCT user_id,
           CAST(floor(epoch(ts) / 86400) AS BIGINT) AS bucket
           FROM events),
         cohorts AS (SELECT user_id, min(bucket) AS cohort
                     FROM days GROUP BY user_id)
         SELECT c.cohort,
           CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT CASE WHEN d.bucket = c.cohort + 1
                                    THEN d.user_id END) AS BIGINT)
             AS retained_1,
           CAST(count(DISTINCT CASE WHEN d.bucket = c.cohort + 7
                                    THEN d.user_id END) AS BIGINT)
             AS retained_7
         FROM days d JOIN cohorts c USING (user_id)
         GROUP BY c.cohort ORDER BY c.cohort""",
    "ev_kmv_distinct" ->
      """SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM events WHERE user_id IS NOT NULL""",
    "ev_cms_counts" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n
         FROM events WHERE event_type IS NOT NULL
         GROUP BY 1 ORDER BY event_type""",
    "ev_heavy_hitters" ->
      """SELECT event_type AS key, CAST(count(*) AS BIGINT) AS est
         FROM events GROUP BY 1 ORDER BY est DESC, key LIMIT 5""",
    "ev_kmv_by_type" ->
      """SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM events WHERE event_type IS NOT NULL
         GROUP BY 1 ORDER BY event_type""",
    "ev_kll_quantiles" ->
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events
                     WHERE value IS NOT NULL AND NOT isnan(value)),
         s AS (SELECT value AS v, row_number() OVER (ORDER BY value) AS rk
               FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
         qs(q) AS (VALUES (0.25),(0.5),(0.75),(0.9),(0.99))
         SELECT CAST(qs.q AS DOUBLE) AS q, CAST(min(s.v) AS DOUBLE) AS v
         FROM qs, nn, s
         WHERE s.rk >= greatest(1, CAST(ceil(qs.q * nn.n) AS BIGINT))
         GROUP BY qs.q ORDER BY q""",
    "ev_kll_quantiles_probe" ->
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events
                     WHERE value IS NOT NULL AND NOT isnan(value)),
         qs(q) AS (VALUES (0.25),(0.5),(0.75),(0.9),(0.99))
         SELECT CAST(qs.q AS DOUBLE) AS q, TRUE AS ok, nn.n AS n
         FROM qs, nn ORDER BY q""",
    "ev_stationary" -> {
      // replay all 3 power-iteration rounds in exact BIGINT ppm (the
      // graph_pagerank / ds_bradley_terry unrolled-CTE pattern)
      val iters = 3
      val sb = new StringBuilder(
        """WITH pr AS (SELECT event_type AS f,
               lead(event_type, 1) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS t
             FROM events),
           c AS (SELECT f, t, CAST(count(*) AS BIGINT) AS n FROM pr
             WHERE t IS NOT NULL GROUP BY f, t),
           tot AS (SELECT f, CAST(sum(n) AS BIGINT) AS tot FROM c
             GROUP BY f),
           m AS (SELECT c.f, c.t, c.n, tot.tot FROM c JOIN tot USING (f)),
           states AS (SELECT f AS state FROM c UNION SELECT t FROM c),
           kk AS (SELECT count(*) AS k FROM states),
           p0 AS (SELECT state, CAST(1000000 AS BIGINT) AS pi
             FROM states)""")
      for (i <- 1 to iters) {
        val p = i - 1
        sb.append(s""",
           c$i AS (SELECT m.t AS state,
               CAST(sum(p.pi * m.n // m.tot) AS BIGINT) AS mass
             FROM m JOIN p$p p ON p.state = m.f GROUP BY m.t),
           n$i AS (SELECT s.state, COALESCE(c$i.mass, 0) AS mass
             FROM states s LEFT JOIN c$i USING (state)),
           p$i AS (SELECT state,
               CAST(CASE WHEN (sum(mass) OVER ()) = 0 THEN 1000000
                    ELSE mass * (SELECT k FROM kk) * 1000000
                         // (sum(mass) OVER ()) END AS BIGINT) AS pi
             FROM n$i)""")
      }
      sb.append(s"""
         SELECT state AS event_type, pi AS pi_ppm FROM p$iters
         ORDER BY event_type""")
      sb.toString
    },
    "ev_conversion_latency" ->
      """WITH ex AS (SELECT user_id AS u, min(epoch_us(ts)) AS t0
           FROM events WHERE event_type = 'view' GROUP BY user_id),
         cv AS (SELECT e.user_id AS u, ex.t0,
             min(epoch_us(e.ts)) AS t1min
           FROM events e JOIN ex ON ex.u = e.user_id
           WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= ex.t0
           GROUP BY e.user_id, ex.t0),
         lat AS (SELECT t1min - t0 AS latency_us FROM cv)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_exposed,
           CAST(count(*) AS BIGINT) AS n_converted,
           quantile_cont(latency_us, 0.5) AS p50_us,
           quantile_cont(latency_us, 0.9) AS p90_us
         FROM lat"""
  )
}
