package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.floorDiv

/** Time-series operators over event streams: regular resampling with gap
  * fill, and rolling aggregates over the regularized series — the shape
  * feature pipelines need before feeding fixed-rate models (a raw event
  * table has no row for a quiet hour; the model needs the zero).
  */
object TimeSeries {

  /** Per-key counts resampled onto a regular `bucketSeconds` grid, with
    * missing buckets between each key's first and last event filled with
    * zero. Returns (key, bucket_start seconds-since-epoch, n).
    *
    * Scale shape: one map-side-combined count shuffle on (key, bucket),
    * then a per-key min/max agg (tiny) whose `sequence` explode generates
    * the grid — grid rows never exceed span/bucket per key, and only
    * (key, long) pairs shuffle. The left join filling the gaps is
    * key+bucket equi-join, AQE-broadcastable when the observed counts are
    * sparse.
    */
  def resampleCounts(events: DataFrame, keyCol: String, tsCol: String,
                     bucketSeconds: Long): DataFrame = {
    val bucket = floor(unix_timestamp(col(tsCol)) / bucketSeconds).cast("long")
    val counts = events
      .groupBy(col(keyCol).as("key"), bucket.as("bucket"))
      .agg(count(lit(1)).cast("long").as("n"))
    val grid = counts.groupBy("key")
      .agg(min("bucket").as("lo"), max("bucket").as("hi"))
      .select(col("key"), explode(sequence(col("lo"), col("hi"))).as("bucket"))
    grid.join(counts, Seq("key", "bucket"), "left")
      .select(col("key"),
              (col("bucket") * bucketSeconds).as("bucket_start"),
              coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Per-key VALUE series resampled onto a regular grid with
    * last-observation-carried-forward (LOCF): each key's observations
    * land in buckets (the LATEST observation per bucket wins — ties at
    * equal ts break on the larger value, deterministically), the grid
    * spans the key's first..last bucket, and empty buckets carry the
    * most recent earlier value — the regularization sensor/metric
    * pipelines run before fixed-rate models. Counts get zeros
    * ([[resampleCounts]]); measurements get carried values (this).
    * NULL observations are dropped first (a missing reading is no
    * observation, not a zero). Returns (key, bucket_start, v,
    * observed); `v` is never NULL (each key's first grid bucket is its
    * first observation).
    *
    * Scale shape: one map-side-combined (key, bucket) max-struct
    * shuffle, the [[resampleCounts]] sequence-explode grid (rows ≤
    * span/bucket per key), and one per-key window for the carry — only
    * (key, long, value) rows ever shuffle; LOCF moves values without
    * arithmetic, so results are engine-exact.
    */
  def resampleLocf(events: DataFrame, keyCol: String, tsCol: String,
                   valueCol: String, bucketSeconds: Long): DataFrame = {
    val bucket =
      floor(unix_timestamp(col(tsCol)) / bucketSeconds).cast("long")
    val obs = events
      .where(col(valueCol).isNotNull)
      .select(col(keyCol).as("key"), bucket.as("bucket"),
        col(tsCol).as("__ts"), col(valueCol).as("__v"))
      .groupBy(col("key"), col("bucket"))
      .agg(max(struct(col("__ts"), col("__v"))).as("__last"))
      .select(col("key"), col("bucket"), col("__last.__v").as("v_obs"))
    // r14 (§2.4): the gap grid is generated per SEGMENT — each observation
    // looks one row ahead (lead) and emits the buckets up to (excluding)
    // the next observation, carrying its own value. Replaces the r10 shape
    // (per-key lo/hi aggregate → exploded grid → left join back onto obs →
    // running-last window), which computed `obs` twice and paid three more
    // exchanges plus a join for rows this form emits directly. Row set,
    // values and types are identical by construction: every grid bucket in
    // [lo, hi] lies in exactly one inter-observation segment, and LOCF's
    // carried value IS the segment start's value. Per-segment sequence()
    // arrays are also bounded by the largest gap, not the key's full span.
    val nxt = Window.partitionBy(col("key")).orderBy(col("bucket"))
    obs
      .withColumn("__nb", lead(col("bucket"), 1).over(nxt))
      .select(col("key"), col("v_obs"), col("bucket").as("__pb"),
        explode(sequence(col("bucket"),
          coalesce(col("__nb") - 1L, col("bucket")))).as("bucket"))
      .select(col("key"),
        (col("bucket") * bucketSeconds).as("bucket_start"),
        col("v_obs").as("v"),
        (col("bucket") === col("__pb")).as("observed"))
  }

  /** Rolling sum of the last `window` buckets (current included) over an
    * already-regular series — integer-valued, so results are deterministic
    * and engine-portable (a rolling MEAN would differ in last-ulp float
    * division order). Partitions by key: each key's series sorts
    * independently, so the shuffle is one hash exchange, and skew equals
    * the longest single series, not the corpus.
    */
  def rollingSum(series: DataFrame, keyCol: String, orderCol: String,
                 valCol: String, window: Int): Column =
    sum(col(valCol)).over(
      Window.partitionBy(col(keyCol)).orderBy(col(orderCol))
        .rowsBetween(-(window - 1), 0))

  /** Volume-anomaly detection over a resampled series (the reference's
    * flagship example domain, `examples/ksml/examples/anomaly_detection
    * .clj`, as a batch diagnostic): z-score each key's bucket counts
    * against that key's own mean/stddev and keep buckets `zMin` deviations
    * or more above it. Gap-filled via [[resampleCounts]] first — a quiet
    * hour is a zero that belongs in the baseline, not a missing row.
    *
    * Scale shape: resample's count shuffle, then per-key moments via one
    * window pass (no second shuffle — the window partitions on the key the
    * counts already hash by). Population stddev of integer counts keeps
    * the z-scores engine-portable.
    */
  def anomalousWindows(events: DataFrame, keyCol: String, tsCol: String,
                       bucketSeconds: Long, zMin: Double): DataFrame = {
    val series = resampleCounts(events, keyCol, tsCol, bucketSeconds)
    val byKey = Window.partitionBy(col("key"))
    series
      .withColumn("mu", avg(col("n")).over(byKey))
      .withColumn("sigma", stddev_pop(col("n")).over(byKey))
      .where(col("sigma") > 0 &&
        (col("n") - col("mu")) / col("sigma") >= zMin)
      .select(col("key"), col("bucket_start"), col("n"),
              ((col("n") - col("mu")) / col("sigma")).as("z"))
  }

  /** Lag/difference features over an already-regular series: for each
    * requested lag `L`, adds `d<L>` = v − v[t−L] within the key (NULL for
    * the first L rows of each key, where no lagged value exists). Lag 1
    * is the first difference (detrending); lag = period is the
    * seasonal-naive residual (hour-over-day, day-over-week) — the
    * standard pre-model transforms for volume series. Integer-valued
    * input stays integer, so results are engine-exact.
    *
    * Scale shape: all lags share ONE window (same partition/order), so
    * Spark plans a single hash exchange + single sort regardless of how
    * many lags are requested; nothing but the series columns shuffle.
    */
  def diffFeatures(series: DataFrame, keyCol: String, orderCol: String,
                   valCol: String, lags: Seq[Int]): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol))
    lags.foldLeft(series) { (df, l) =>
      df.withColumn(s"d$l", col(valCol) - lag(col(valCol), l).over(w))
    }
  }

  /** One-sided CUSUM level-shift statistic over a regular series:
    * `C_t = max(0, C_{t−1} + v_t − k)` — the sequential-detection
    * standard for "the rate went up and stayed up" (a single spike decays
    * back at `k` per bucket; a sustained shift accumulates). The
    * recursion looks stateful but has a closed window form:
    * `C_t = S_t − min(0, min_{i≤t} S_i)` where `S_t = Σ_{j≤t}(v_j − k)`
    * — a running sum and a running min, both plain window aggregates.
    * The `min(0, ·)` keeps the EMPTY prefix (S₀ = 0) in the minimum:
    * without it a series whose first values exceed the drift
    * under-reports (caught by the ScalaCheck law, series [3], k = 0:
    * recursion says 3, a bare running min says 0).
    * With integer values and integer drift `k` everything stays BIGINT:
    * engine-exact, no float drift. Emits the statistic for every bucket
    * plus an `alarm` flag at `C_t ≥ h`.
    *
    * Scale shape: one hash exchange on the key + one sort feeds both
    * running aggregates (same window frame); no second shuffle, no
    * iteration — the closed form replaces what would otherwise be a
    * per-key sequential fold.
    */
  def cusum(series: DataFrame, keyCol: String, orderCol: String,
            valCol: String, drift: Long, threshold: Long): DataFrame = {
    val run = Window.partitionBy(col(keyCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s = sum(col(valCol).cast("long") - lit(drift)).over(run)
    // the floor of the min is the EMPTY prefix's S₀ = 0; the frame min
    // includes the current row, so C_t ≥ 0 by construction
    series.withColumn("c",
        (s - least(lit(0L), min(s).over(run))).cast("long"))
      .withColumn("alarm", col("c") >= lit(threshold))
  }

  /** Streaming face of [[cusum]] — the always-on level-shift monitor a
    * pipeline runs on ingest (batch CUSUM tells you the rate shifted
    * yesterday; this one pages while it is shifting). Carries ONE long
    * per key (the running statistic) across micro-batches via
    * `flatMapGroupsWithState` and emits `(key, t, v, c, alarm)` per
    * input bucket in append mode. Within a batch, a key's rows fold in
    * `orderCol` order; across batches, buckets are assumed to arrive in
    * non-decreasing order (the monitoring case — the resampled series
    * is produced bucket by bucket). Given in-order input the emitted
    * rows equal the batch [[cusum]] row-for-row (spec-asserted), and
    * the same code path runs in batch mode (Spark executes
    * flatMapGroupsWithState over static frames too).
    *
    * Scale shape: state is a single BIGINT per key, forever — no event
    * buffering, no watermark needed; one hash exchange on the key per
    * micro-batch (where a key's rows sort in memory — bounded by the
    * micro-batch, never the series). Keys are carried as strings (the
    * portable group key). Handed a STATIC frame, the same recursion
    * runs as a pure iterator fold over a `repartition(key) +
    * sortWithinPartitions(key, t)` pre-pass — O(1) task memory however
    * long a key's series is (a mega-key never materializes).
    */
  def cusumStream(series: DataFrame, keyCol: String, orderCol: String,
                  valCol: String, drift: Long,
                  threshold: Long): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    val spark = series.sparkSession
    import spark.implicits._
    val prep = series.select(col(keyCol).cast("string").as("key"),
        col(orderCol).cast("long").as("t"),
        col(valCol).cast("long").as("v"))
      .as[(String, Long, Long)]
    val folded =
      if (!series.isStreaming)
        batchKeyedFold(prep) { it =>
          var cur: Option[String] = None
          var c = 0L
          it.map { case (k, t, v) =>
            if (!cur.contains(k)) { cur = Some(k); c = 0L }
            c = math.max(0L, c + v - drift)
            (k, t, v, c, c >= threshold)
          }
        }
      else prep
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout) {
          (key: String, rows: Iterator[(String, Long, Long)],
           state: GroupState[Long]) =>
            var c = state.getOption.getOrElse(0L)
            val out = rows.toSeq.sortBy(_._2).map { case (_, t, v) =>
              c = math.max(0L, c + v - drift)
              (key, t, v, c, c >= threshold)
            }
            state.update(c)
            out.iterator
        }
    folded.toDF("key", "t", "v", "c", "alarm")
  }

  /** Static-frame face of the sequential kernels: hash-exchange on the
    * `key` column, sort (key, t) WITHIN partitions only (no global
    * sort), then a pure iterator fold — rows stream through the fold
    * one at a time, so task memory is the fold's own state (one or two
    * numbers per live key), independent of how long any key's series
    * is. The fold function must reset its state when the key changes
    * (rows of one key are contiguous after the sort).
    */
  private def batchKeyedFold[I: org.apache.spark.sql.Encoder,
                             O: org.apache.spark.sql.Encoder](
      prep: org.apache.spark.sql.Dataset[I])(
      fold: Iterator[I] => Iterator[O]): org.apache.spark.sql.Dataset[O] =
    prep.repartition(col("key"))
      .sortWithinPartitions(col("key"), col("t"))
      .mapPartitions(fold)

  /** Exponentially-weighted moving average per key —
    * `y_t = y_{t−1} + α·(v_t − y_{t−1})`, `y_0 = v_0` — the smoothing
    * half of the classic monitoring pair ([[cusumStream]] detects level
    * SHIFTS; the EWMA is the live estimate dashboards and alerting
    * thresholds read). The recursion has no closed window form with
    * float α (each step reweights all history), so this IS the
    * sequential fold — one `flatMapGroupsWithState` kernel that runs
    * identically over a stream (state = one double per key, forever)
    * and over a static frame (same code path, spec-pinned parity).
    * Emits (key, t, v, ewma) per row in append mode; within a batch a
    * key's rows fold in `orderCol` order, across batches arrival order
    * must be non-decreasing (the monitoring case).
    *
    * Scale shape: one hash exchange on the key per micro-batch; state
    * never grows. The per-key in-memory sort bounds the BATCH size per
    * key, not the series length — history lives in the one carried
    * double. Handed a STATIC frame, the recursion runs as a pure
    * iterator fold over `repartition(key) + sortWithinPartitions(key,
    * t)` — O(1) task memory, a mega-key never materializes.
    */
  def ewmaStream(series: DataFrame, keyCol: String, orderCol: String,
                 valCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    val spark = series.sparkSession
    import spark.implicits._
    val prep = series.select(col(keyCol).cast("string").as("key"),
        col(orderCol).cast("long").as("t"),
        col(valCol).cast("double").as("v"))
      .as[(String, Long, Double)]
    val folded =
      if (!series.isStreaming)
        batchKeyedFold(prep) { it =>
          var cur: Option[String] = None
          var y = Double.NaN
          it.map { case (k, t, v) =>
            if (!cur.contains(k)) { cur = Some(k); y = Double.NaN }
            y = if (y.isNaN) v else y + alpha * (v - y)
            (k, t, v, y)
          }
        }
      else prep
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout) {
          (key: String, rows: Iterator[(String, Long, Double)],
           state: GroupState[Double]) =>
            var y = state.getOption.getOrElse(Double.NaN)
            val out = rows.toSeq.sortBy(_._2).map { case (_, t, v) =>
              y = if (y.isNaN) v else y + alpha * (v - y)
              (key, t, v, y)
            }
            state.update(y)
            out.iterator
        }
    folded.toDF("key", "t", "v", "ewma")
  }

  /** Holt linear-trend (double exponential) smoothing — [[ewmaStream]]'s
    * sibling for series with drift, where a plain EWMA lags a ramp
    * forever: per key, level `l_t = α·v_t + (1−α)·(l_{t−1} + b_{t−1})`
    * and trend `b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}`, emitting the
    * one-step-ahead forecast `l_t + b_t` — the live capacity-planning
    * number. Deterministic initialization `l_0 = v_0, b_0 = 0` (the
    * trend warms up through β — SQL-replayable, unlike lookahead inits
    * that peek at v₁). Like EWMA the float recursion has no closed
    * window form, so this is ONE sequential kernel per key — state =
    * two doubles — with the SAME code path batch and streaming
    * (flatMapGroupsWithState; batch mode runs it per key group).
    * Returns (key, t, v, level, trend, forecast).
    *
    * Pick α, β with exact binary representations (0.25, 0.125) when
    * the output must replay bit-identically in another engine.
    */
  def holtStream(series: DataFrame, keyCol: String, orderCol: String,
                 valCol: String, alpha: Double,
                 beta: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0,1], got $beta")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    val spark = series.sparkSession
    import spark.implicits._
    val prep = series.select(col(keyCol).cast("string").as("key"),
        col(orderCol).cast("long").as("t"),
        col(valCol).cast("double").as("v"))
      .as[(String, Long, Double)]
    val folded =
      if (!series.isStreaming)
        batchKeyedFold(prep) { it =>
          var cur: Option[String] = None
          var l = Double.NaN
          var b = 0.0
          it.map { case (k, t, v) =>
            if (!cur.contains(k)) { cur = Some(k); l = Double.NaN; b = 0.0 }
            if (l.isNaN) { l = v; b = 0.0 }
            else {
              val lNew = alpha * v + (1 - alpha) * (l + b)
              b = beta * (lNew - l) + (1 - beta) * b
              l = lNew
            }
            (k, t, v, l, b, l + b)
          }
        }
      else prep
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.NoTimeout) {
          (key: String, rows: Iterator[(String, Long, Double)],
           state: GroupState[(Double, Double)]) =>
            var (l, b) = state.getOption.getOrElse((Double.NaN, 0.0))
            val out = rows.toSeq.sortBy(_._2).map { case (_, t, v) =>
              if (l.isNaN) { l = v; b = 0.0 }
              else {
                val lNew = alpha * v + (1 - alpha) * (l + b)
                b = beta * (lNew - l) + (1 - beta) * b
                l = lNew
              }
              (key, t, v, l, b, l + b)
            }
            state.update((l, b))
            out.iterator
        }
    folded.toDF("key", "t", "v", "level", "trend", "forecast")
  }

  /** [[cusum]] with a data-derived drift: each key's allowance is
    * `max(floor(median + sigmaMult·√median), 1)` — the median tracks
    * that key's typical level and the √median term its Poisson-order
    * noise, so one parameterization stays meaningful whether the series
    * runs at 1/bucket or 10⁴/bucket (a fixed `k` either saturates or
    * never fires when volume scales 100×; an allowance without the
    * noise term alarms on ordinary fluctuation once counts are large).
    * The clamp to ≥1 keeps sparse series — median 0 — from alarming on
    * every event. The allowance floors to an exact BIGINT (median and
    * √ of small integers are exact in double), so the statistic stays
    * integer-exact end to end.
    *
    * Scale shape: one tiny per-key median agg (exact percentile — the
    * [[anomalousWindowsRobust]] pattern) broadcast back onto the series,
    * then the single exchange + sort of [[cusum]]'s closed form. The
    * input series persists once and feeds both the median and the join
    * (without it the whole upstream lineage — typically a
    * [[resampleCounts]] grid — would compute twice).
    */
  def cusumAdaptive(series: DataFrame, keyCol: String, orderCol: String,
                    valCol: String, sigmaMult: Double,
                    threshold: Long): DataFrame = {
    val cached = OpCaches.persist(series)
    val medExpr = expr(s"percentile($valCol, 0.5)")
    val med = cached.groupBy(col(keyCol))
      .agg(greatest(floor(medExpr + lit(sigmaMult) * sqrt(medExpr))
        .cast("long"), lit(1L)).as("__k"))
    val run = Window.partitionBy(col(keyCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s = sum(col(valCol).cast("long") - col("__k")).over(run)
    cached.join(broadcast(med), Seq(keyCol))
      .withColumn("c",
        (s - least(lit(0L), min(s).over(run))).cast("long"))
      .withColumn("alarm", col("c") >= lit(threshold))
      .drop("__k")
  }

  /** Per-key autocorrelation of a regular integer series at each lag in
    * `lags`: Pearson r between (v_t, v_{t+L}) over the m overlapping
    * pairs, computed from BIGINT moment sums —
    * r = (m·Σxy − Σx·Σy) / sqrt((m·Σx² − (Σx)²)(m·Σy² − (Σy)²)) —
    * so the only float operations are one subtraction/multiply/sqrt
    * chain over exact integers, identical in any engine (the built-in
    * `corr` would accumulate in engine-specific order). Keys/lags where
    * either margin is constant (zero variance) return NULL r. The ACF at
    * the candidate period is THE seasonality test a resampled volume
    * series gets before a seasonal model.
    *
    * Scale shape: ONE pass — every lag's `lead` shares one window (one
    * exchange + one sort), an explode turns the lag columns into
    * (lag, y) rows (narrow, fan-out = |lags|), and one map-side-combined
    * (key, lag) moment agg reduces them; only five BIGINTs per
    * (key, lag) survive. BIGINT overflow needs Σx² ≳ 9·10¹⁸ — i.e.
    * per-key count·max(v)² beyond ~10⁹·10⁵ — far past any per-key volume
    * series; corpus size doesn't enter (keys partition it).
    */
  def acf(series: DataFrame, keyCol: String, orderCol: String,
          valCol: String, lags: Seq[Int]): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol))
    val v = col(valCol).cast("long")
    val paired = series.select(
      col(keyCol).as("key") +: v.as("x") +:
        lags.map(l => lead(v, l).over(w).as(s"y$l")): _*)
    val long = paired.select(col("key"), col("x"),
      explode(array(lags.map(l =>
        struct(lit(l).as("lag"), col(s"y$l").as("y"))): _*)).as("ly"))
      .select(col("key"), col("x"), col("ly.lag").as("lag"),
        col("ly.y").as("y"))
    val y = col("y")
    long.where(y.isNotNull).groupBy(col("key"), col("lag"))
      .agg(count(lit(1)).as("m"), sum(col("x")).as("sx"),
           sum(y).as("sy"), sum(col("x") * col("x")).as("sxx"),
           sum(y * y).as("syy"), sum(col("x") * y).as("sxy"))
      .select(col("key"), col("lag"),
        col("m").cast("long").as("m"), {
          val num = (col("m") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
          val dx = (col("m") * col("sxx") - col("sx") * col("sx"))
            .cast("double")
          val dy = (col("m") * col("syy") - col("sy") * col("sy"))
            .cast("double")
          when(col("m") > 1 && dx > 0 && dy > 0,
            num / sqrt(dx * dy)).as("r")
        })
  }

  /** Seasonal adjustment by phase means: each row's `resid` is its value
    * minus the mean of its (key, phase) cell — phase = bucket mod period
    * (hour-of-day for period 24 on hourly buckets, day-of-week for 7 on
    * daily). The residual is what's left after the daily/weekly rhythm:
    * anomaly detection over `resid` stops re-flagging every rush hour
    * ([[diffFeatures]]' lag-period difference needs only one pass but
    * doubles the noise; the phase-mean subtracts a stable profile).
    * `mean` is Σv/n with the division the ONLY float op (exact integer
    * sums first), so it replays engine-exact up to one double division —
    * callers hashing across engines round `resid`.
    *
    * Scale shape: one map-side-combined (key, phase) mean agg (≤
    * period rows per key survive) broadcast-joined back onto the series
    * — no window, no sort; the series scans once per side, so persist
    * upstream grids if they are expensive.
    */
  def seasonalAdjust(series: DataFrame, keyCol: String, orderCol: String,
                     valCol: String, period: Int,
                     bucketSeconds: Long = 1L): DataFrame = {
    require(period > 1, s"period must be > 1, got $period")
    // orderCol is in seconds when it's a resample grid's bucket_start —
    // divide back to bucket index first (exact integer floor division)
    val idx = floorDiv(col(orderCol).cast("long"), lit(bucketSeconds))
    val withPhase = series.withColumn("phase",
      pmod(idx, lit(period.toLong)))
    val prof = withPhase.groupBy(col(keyCol), col("phase"))
      .agg((sum(col(valCol).cast("long")).cast("double") /
        count(lit(1)).cast("double")).as("phase_mean"))
    withPhase.join(broadcast(prof), Seq(keyCol, "phase"))
      .withColumn("resid", col(valCol).cast("double") - col("phase_mean"))
  }

  /** Per-key VALUE series resampled onto a regular grid with LINEAR
    * interpolation across gaps (the measurement-series alternative to
    * [[resampleLocf]]'s step function): observed buckets keep their
    * latest reading; a gap bucket gets
    * `prev + (next − prev) · (t − t_prev) / (t_next − t_prev)`.
    * The grid spans first..last observation per key, so every gap has
    * both neighbors — `v` is never NULL. The fraction is the same
    * double expression in any engine; callers that hash-compare across
    * engines should round `v`.
    *
    * Scale shape: one aggregate to the latest reading per (key, bucket),
    * then ONE `lead()` window on the key (a single hash exchange) pairs
    * each observation with its successor, and each segment explodes its
    * gap buckets inline, interpolating as it goes — no grid join, no
    * second window.
    */
  def resampleInterp(events: DataFrame, keyCol: String, tsCol: String,
                     valueCol: String, bucketSeconds: Long): DataFrame = {
    val bucket =
      floor(unix_timestamp(col(tsCol)) / bucketSeconds).cast("long")
    val obs = events
      .where(col(valueCol).isNotNull)
      .select(col(keyCol).as("key"), bucket.as("bucket"),
        col(tsCol).as("__ts"), col(valueCol).as("__v"))
      .groupBy(col("key"), col("bucket"))
      .agg(max(struct(col("__ts"), col("__v"))).as("__last"))
      .select(col("key"), col("bucket"), col("__last.__v").as("v_obs"))
    // r14 (§2.4): same segment rewrite as [[resampleLocf]] — each
    // observation leads to its successor and emits the gap buckets
    // between them, interpolating inline. The r10 shape built the grid
    // from a per-key lo/hi aggregate, left-joined obs back, and ran TWO
    // unbounded windows (running-last backward, running-first forward)
    // to rediscover exactly the segment endpoints the lead() already
    // knows: 3 more exchanges, a join, and a double computation of
    // `obs`, all for identical rows. The interpolation expression is
    // UNCHANGED term-for-term (pv/pb = segment start value/bucket,
    // nv/nb = lead value/bucket), so the doubles are bit-identical.
    val nxt = Window.partitionBy(col("key")).orderBy(col("bucket"))
    obs
      .withColumn("__nb", lead(col("bucket"), 1).over(nxt))
      .withColumn("__nv", lead(col("v_obs"), 1).over(nxt))
      .select(col("key"), col("v_obs"), col("__nb"), col("__nv"),
        col("bucket").as("__pb"),
        explode(sequence(col("bucket"),
          coalesce(col("__nb") - 1L, col("bucket")))).as("bucket"))
      .select(col("key"),
        (col("bucket") * bucketSeconds).as("bucket_start"),
        when(col("bucket") === col("__pb"), col("v_obs").cast("double"))
          .otherwise(col("v_obs").cast("double") +
            (col("__nv").cast("double") - col("v_obs").cast("double")) *
              (col("bucket") - col("__pb")).cast("double") /
              (col("__nb") - col("__pb")).cast("double")).as("v"),
        (col("bucket") === col("__pb")).as("observed"))
  }

  /** Robust variant of [[anomalousWindows]]: median/MAD instead of
    * mean/stddev — a burst no longer inflates its own baseline, so a
    * series that is quiet except for one incident still flags the
    * incident (mean/σ can swallow it: the outlier drags μ up and σ
    * wide). `rz = (n − median) / MAD`; flags `rz ≥ zMin`, keys with
    * MAD = 0 (over half the buckets identical) are skipped like σ = 0.
    *
    * Scale shape: the regularized series persists once and feeds both
    * statistics; median and MAD are per-key exact `percentile`
    * aggregates (tiny results, broadcast back) — two small shuffles on
    * the key, no window over the full series.
    */
  def anomalousWindowsRobust(events: DataFrame, keyCol: String,
                             tsCol: String, bucketSeconds: Long,
                             zMin: Double): DataFrame = {
    val series = OpCaches.persist(
      resampleCounts(events, keyCol, tsCol, bucketSeconds))
    val med = series.groupBy(col("key"))
      .agg(expr("percentile(n, 0.5)").as("med"))
    val dev = series.join(broadcast(med), Seq("key"))
    val mad = dev.groupBy(col("key"))
      .agg(expr("percentile(abs(n - med), 0.5)").as("mad"))
    dev.join(broadcast(mad), Seq("key"))
      .where(col("mad") > 0 &&
        (col("n") - col("med")) / col("mad") >= zMin)
      .select(col("key"), col("bucket_start"), col("n"),
              ((col("n") - col("med")) / col("mad")).as("rz"))
  }
}
