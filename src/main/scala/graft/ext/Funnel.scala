package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.floorDiv

/** Ordered event-sequence (funnel) analysis — the windowFunnel of
  * ClickHouse / the MATCH_RECOGNIZE subset every product-analytics
  * pipeline runs: per user, the deepest prefix of `steps` reachable by
  * events in non-decreasing time order with the WHOLE chain inside a
  * `withinSeconds` window measured from the chain's FIRST event.
  *
  * Depth d means: ∃ events e₁…e_d with types steps(0..d-1),
  * ts₁ ≤ … ≤ ts_d and ts_d − ts₁ ≤ within. Users with at least one
  * step-typed event appear in the output (depth can still be 0 when the
  * first step type never occurs).
  *
  * At 100 TB: one shuffle on the user key; per-user events collect into a
  * sorted array scanned once by an O(n·k) codegen'd HOF — state per user
  * is its own (step-typed) event list, the same bound a Kafka Streams /
  * Flink CEP operator holds, and the type filter cuts the collected rows
  * to the funnel's alphabet before the shuffle.
  */
object Funnel {

  def windowFunnel(events: DataFrame, userCol: String, tsCol: String,
                   typeCol: String, steps: Seq[String],
                   withinSeconds: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size,
      "repeated step types are ambiguous under simultaneous-update semantics")
    val k = steps.size
    val withinUs = withinSeconds * 1000000L
    // step index lookup as a chained CASE (codegen'd; steps are few)
    val stepIdx = steps.zipWithIndex.tail
      .foldLeft(when(col(typeCol) === steps.head, 0)) {
        case (acc, (t, i)) => acc.when(col(typeCol) === t, i)
      }
    val seqd = events
      .where(col(typeCol).isin(steps.map(x => x: Any): _*))
      .select(col(userCol).as("user"),
        // cast first: unix_micros rejects TIMESTAMP_NTZ, and the round-5
        // fixtures read as NTZ (UTC session ⇒ the cast is value-identity)
        struct(unix_micros(col(tsCol).cast("timestamp")).as("ts"),
               stepIdx.as("step")).as("e"))
      .groupBy(col("user"))
      .agg(array_sort(collect_list(col("e"))).as("seq"))
    // acc(j) = LATEST chain-start ts over valid chains of depth j+1 in the
    // scanned prefix (achieved depths form a prefix, so depth = # non-null
    // entries). Latest start dominates: an event extends some depth-j
    // chain iff it extends the one with the maximal start (window is
    // measured from the chain's first event), so this is the exact DP,
    // not a greedy. transform() reads the PRE-event acc for every level
    // simultaneously, so one event advances at most one level — an event
    // can't serve as two consecutive steps of the same chain.
    val scanned = aggregate(
      col("seq"),
      array_repeat(lit(null).cast("long"), k),
      (acc, e) => {
        val ts = e.getField("ts"); val st = e.getField("step")
        transform(acc, (best, j) => {
          val chainStart = when(j === 0, ts).otherwise(element_at(acc, j))
          when(st === j && chainStart.isNotNull &&
               ts - chainStart <= withinUs,
            greatest(best, chainStart)).otherwise(best)
        })
      },
      acc => size(filter(acc, x => x.isNotNull)))
    seqd.select(col("user"), scanned.cast("long").as("depth"))
  }

  /** Streaming windowFunnel — the ingest-time face of [[windowFunnel]].
    * Per user, a state kernel holds exactly the DP vector (k chain-start
    * timestamps, one per depth) — state is k longs per user FOREVER, the
    * smallest possible funnel state, no event buffering. Each micro-batch
    * sorts its per-user slice by event time and folds it through the same
    * max-start DP; a row (user, depth) is emitted whenever the user's
    * reached depth grows. Exact under per-user in-order arrival (what a
    * user-keyed Kafka topic provides); cross-batch chains work because the
    * DP vector carries over. Late (out-of-order) events may under-count —
    * the documented trade of keeping zero event history.
    */
  def windowFunnelStream(events: DataFrame, userCol: String, tsCol: String,
                         typeCol: String, steps: Seq[String],
                         withinSeconds: Long,
                         retention: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(steps.nonEmpty, "funnel needs at least one step")
    val k = steps.size
    val withinUs = withinSeconds * 1000000L
    val stepOf = steps.zipWithIndex.toMap
    val spark = events.sparkSession
    import spark.implicits._
    // Id-type generic, matching batch [[windowFunnel]]: the user column
    // keeps its native type end-to-end (a long cast here silently turned
    // every non-numeric id into null — one merged funnel per corpus). The
    // group key is the native value wrapped in a single-field Row, so a
    // null id stays distinct from the string "null".
    //
    // State is k longs per user FOREVER by default; `retention` bounds it
    // for unbounded-user streams (watermark + event-time timeout evicting
    // users idle past the interval — an evicted user restarts the funnel).
    val userType = events.schema(events.schema.fieldIndex(userCol)).dataType
    val ret = graft.state.Retention(retention, events.isStreaming)
    val typed = ret.watermark(events, Some(tsCol))
      .where(col(typeCol).isin(steps.map(x => x: Any): _*))
      // a null event time cannot place a step in the funnel chain (and
      // would read as no event time in the kernel) — drop at the scan
      .where(col(tsCol).isNotNull)
      // the RAW ts attribute keeps the watermark metadata EventTimeTimeout
      // analysis requires (an expression like unix_micros strips it);
      // micros are derived in the kernel instead
      .select(col(userCol).as("user"), col(tsCol).as("ts"),
              col(typeCol).as("t"))
    implicit val outEnc: org.apache.spark.sql.Encoder[Row] =
      Encoders.row(StructType(Seq(
        StructField("user", userType),
        StructField("depth", LongType, nullable = false))))
    // key on the NATIVE user value wrapped in a single-field Row (the
    // sampleExactPerKeyStream pattern): String.valueOf collapsed a null id
    // and the literal string "null" into one merged funnel.
    graft.state.Keyed.byKey(typed, Seq("user"))
      .flatMapGroupsWithState(OutputMode.Append, ret.timeout) {
        (_: Row, it: Iterator[Row], state: GroupState[Seq[Long]]) =>
          ret.unlessEvicted(state) { // user idle past retention
            val rows = it.toArray // non-empty: data-driven invocation
            val userVal = rows.head.get(0)
            // Long.MinValue = depth not reached (null-free state row)
            val acc = state.getOption.getOrElse(Seq.fill(k)(Long.MinValue)).toArray
            val before = acc.count(_ != Long.MinValue)
            rows.map(r => (graft.Intervals.micros(r.get(1)), stepOf(r.getString(2))))
              .sorted.foreach { case (ts, j) =>
                val chainStart = if (j == 0) ts else acc(j - 1)
                if (chainStart != Long.MinValue && ts - chainStart <= withinUs)
                  acc(j) = math.max(acc(j), chainStart)
              }
            state.update(acc.toSeq)
            ret.arm(state, rows.iterator.map(r => graft.Intervals.millis(r.get(1))).max)
            val after = acc.count(_ != Long.MinValue)
            if (after > before) Iterator(Row(userVal, after.toLong))
            else Iterator.empty
          }
      }.toDF("user", "depth")
  }

  /** Cohort retention: group users by their first-activity bucket (the
    * cohort) and count, per cohort, how many were active again exactly
    * `offset` buckets later, for each requested offset — the classic
    * D1/D7/D30 retention matrix.
    *
    * At 100 TB: (user, bucket) pairs reduce via distinct with partial
    * aggregation straight off the scan; the cohort map joins back on the
    * user key (one shuffle, both sides already user-keyed); the final
    * rollup is a map-side-combined count per cohort. No windows, no
    * broadcasts, nothing driver-side.
    */
  /** Top event PATHS: the most common k-step event-type sequences over
    * per-user time order — the exploratory complement of
    * [[windowFunnel]] (a funnel checks a KNOWN sequence; paths discover
    * which sequences dominate, "view > cart > purchase vs view > cart >
    * abandon"). Per-user `lead` chains (window bounded by the user's own
    * events — one shuffle on the user key), then a partial-agg count and
    * TakeOrdered top-N by (count desc, path). The tie column must make
    * (ts, tie) unique per user so the order — and therefore the path
    * multiset — is deterministic.
    */
  def topPaths(events: DataFrame, userCol: String, typeCol: String,
               tsCol: String, tieCol: String, k: Int = 3,
               topN: Int = 20): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(topN >= 1, s"topN must be >= 1, got $topN")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieCol))
    val steps = col(typeCol) +: (1 until k).map(i =>
      lead(col(typeCol), i).over(w))
    events
      .select(concat_ws(" > ", steps: _*).as("path"),
        steps.last.isNotNull.as("__complete"))
      .where(col("__complete"))
      .groupBy(col("path"))
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("n").desc, col("path")).limit(topN)
  }

  /** Event-type transition matrix: row-normalized next-step
    * probabilities over per-user time order — the Markov base-rate
    * table behind [[topPaths]] ("after `cart`, 60% `purchase`, 40%
    * `view`"), the anomaly baseline for sequence monitoring, and the
    * input to expected-path simulation. Same per-user lead shape as
    * topPaths (one shuffle on the user key), then a (from,to) count
    * joined against from-totals — both state-cardinality-bounded.
    * Probabilities are exact-count ratios rounded to 6.
    */
  def transitionMatrix(events: DataFrame, userCol: String,
                       typeCol: String, tsCol: String,
                       tieCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieCol))
    // the counts table is state-cardinality-sized and has two consumers
    // (from-totals and the final join) — persist so the event-volume
    // window scan runs once (OpCaches lifecycle)
    val pairs = graft.ext.OpCaches.persist(events
      .select(col(typeCol).as("from_type"),
        lead(col(typeCol), 1).over(w).as("to_type"))
      .where(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).cast("long").as("n")))
    val totals = pairs.groupBy(col("from_type"))
      .agg(sum(col("n")).cast("long").as("__tot"))
    pairs.join(totals, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n") / col("__tot"), 6).as("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Stationary distribution of the [[transitionMatrix]] chain — where
    * the user population settles if the observed per-state transition
    * behavior holds: the long-run occupancy readout behind "what share
    * of sessions end up browsing vs purchasing", and the base-rate
    * denominator anomaly detection on journey mixes wants. `iters`
    * rounds of power iteration in exact Long ppm (the Graph.pageRank
    * contract — the gate oracle replays every round in DuckDB):
    * π'(to) = Σ_from π(from)·n(from,to) // tot(from), renormalized to
    * mean R per round so floor-division mass leakage can't compound.
    * States with no outgoing transitions simply forward no mass (the
    * dangling-node simplification PageRank documents).
    *
    * Shape: ONE event-volume window scan builds the (from, to, n)
    * counts (shared with [[transitionMatrix]]'s plan shape); every
    * iteration then runs over the state-cardinality-sized matrix —
    * joins and windows over a handful of rows, never the event volume.
    * π joins once per round (no self-join), so lineage grows linearly
    * and needs no checkpoint at realistic iteration counts.
    */
  def stationaryDistribution(events: DataFrame, userCol: String,
                             typeCol: String, tsCol: String,
                             tieCol: String, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    import org.apache.spark.sql.expressions.Window
    val R = 1000000L
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieCol))
    val pairs = graft.ext.OpCaches.persist(events
      .select(col(typeCol).as("f"),
        lead(col(typeCol), 1).over(w).as("t"))
      .where(col("t").isNotNull)
      .groupBy(col("f"), col("t"))
      .agg(count(lit(1)).cast("long").as("n")))
    val totals = pairs.groupBy(col("f"))
      .agg(sum(col("n")).as("tot"))
    val m = graft.ext.OpCaches.persist(
      pairs.join(totals, Seq("f")))
    val states = graft.ext.OpCaches.persist(
      pairs.select(col("f").as("state"))
        .union(pairs.select(col("t").as("state"))).distinct())
    val k = states.count() // state alphabet — tiny by construction
    var pi = states.withColumn("pi", lit(R))
    var it = 0
    while (it < iters) {
      val contrib = m
        .join(pi.select(col("state").as("f"), col("pi")), Seq("f"))
        .select(col("t").as("state"),
          floorDiv(col("pi") * col("n"), col("tot")).as("c"))
        .groupBy(col("state")).agg(sum(col("c")).as("mass"))
      // Zero-mass guard (ADVICE r8): when every unit of π sits in
      // absorbing states (no outgoing transitions — terminal funnel
      // chains), the round's total forwarded mass is 0 and the
      // renormalizing floor-division would null π for every state.
      // Redistribute uniformly instead (π = R each, the initial state) —
      // the chain has converged to "all mass absorbed" and uniform is the
      // documented restart, mirroring the dangling-node simplification.
      val massTot = sum(col("mass")).over(Window.partitionBy())
      pi = states.join(contrib, Seq("state"), "left")
        .select(col("state"), coalesce(col("mass"), lit(0L)).as("mass"))
        .select(col("state"),
          when(massTot === 0L, lit(R))
            .otherwise(floorDiv(col("mass") * k * R, massTot)).as("pi"))
      it += 1
    }
    pi.select(col("state").as(typeCol), col("pi").as("pi_ppm"))
  }

  /** Conversion-latency distribution — how long the journey from the
    * FIRST `fromType` event to the FIRST `toType` event at-or-after it
    * takes, per user, summarized as exact quantiles: the "median time
    * from signup to first purchase" product readout that [[windowFunnel]]
    * (did they convert within a window?) and [[sessionStats]] (how long
    * are visits?) don't answer. Users whose only conversions precede
    * their first exposure don't count as converted — causality is the
    * point of the metric.
    *
    * Shape: one user-keyed min-aggregate for exposure times, one
    * filtered user-keyed min for the first at-or-after conversion (the
    * exposure table re-enters as a join, both sides user-partitioned),
    * then ONE exact-percentile aggregate over the per-user latency
    * microseconds (the text_len_quantiles engine-match precedent).
    * Returns one row: (n_exposed, n_converted, p50_us, p90_us).
    */
  def conversionLatency(events: DataFrame, userCol: String, tsCol: String,
                        typeCol: String, fromType: String,
                        toType: String): DataFrame = {
    // NTZ-tolerant exact epoch MICROSECONDS (fixture timestamps carry
    // sub-second precision; whole-second truncation would diverge from
    // the oracle's epoch_us)
    val sec = unix_micros(col(tsCol).cast("timestamp"))
    val exposed = graft.ext.OpCaches.persist(events
      .where(col(typeCol) === fromType)
      .groupBy(col(userCol).as("user"))
      .agg(min(sec).as("t0")))
    val converted = events
      .where(col(typeCol) === toType)
      .select(col(userCol).as("user"), sec.as("t1"))
      .join(exposed, Seq("user"))
      .where(col("t1") >= col("t0"))
      .groupBy(col("user"), col("t0")) // t0 is constant per user
      .agg(min(col("t1")).as("t1min"))
      .select((col("t1min") - col("t0")).as("latency_us"))
    val nExp = exposed.agg(count(lit(1)).as("n_exposed"))
    converted.agg(count(lit(1)).as("n_converted"),
        percentile(col("latency_us"), lit(0.5)).as("p50_us"),
        percentile(col("latency_us"), lit(0.9)).as("p90_us"))
      .crossJoin(broadcast(nExp))
      .select(col("n_exposed"), col("n_converted"), col("p50_us"),
        col("p90_us"))
  }

  def retentionCohorts(events: DataFrame, userCol: String, tsCol: String,
                       bucketSeconds: Long = 86400L,
                       offsets: Seq[Int] = Seq(1, 7)): DataFrame = {
    require(bucketSeconds >= 1, s"bucketSeconds must be >= 1")
    val days = events
      .select(col(userCol).as("user"),
        floor(unix_timestamp(col(tsCol)) / bucketSeconds).cast("long").as("bucket"))
      .distinct()
    val cohorts = days.groupBy(col("user")).agg(min(col("bucket")).as("cohort"))
    val retained = offsets.map(o =>
      count_distinct(when(col("bucket") === col("cohort") + o, col("user")))
        .as(s"retained_$o"))
    val aggs = count_distinct(col("user")).as("n_users") +: retained
    days.join(cohorts, Seq("user"))
      .groupBy(col("cohort"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Gap-based sessionization (gaps-and-islands): number each entity's
    * events into sessions — a new session starts when the gap to the
    * previous event exceeds `gapSeconds`. Adds `session_idx` (1-based,
    * per key); (keyCols..., session_idx) is the session identity.
    *
    * The BATCH face of what `session_window` aggregates in streaming:
    * aggregation collapses sessions to one row, while analytics joins
    * (attribution, dwell analysis) need the session id ON the events —
    * that is this operator.
    *
    * Exact integer micros arithmetic (timestamp-type tolerant via a cast
    * through `timestamp`); `tieBreak` makes same-timestamp order
    * deterministic. ONE shuffle on the entity key — the gap flag (lag)
    * and the running count (sum) share the window spec, so Catalyst plans
    * a single Exchange (the [[Pipeline.scd2]] shape).
    */
  def sessionize(events: DataFrame, keyCols: Seq[String], tsCol: String,
                 gapSeconds: Long, tieBreak: Seq[String] = Nil): DataFrame = {
    require(keyCols.nonEmpty, "sessionize needs at least one key column")
    require(gapSeconds >= 1, s"gapSeconds must be >= 1, got $gapSeconds")
    import org.apache.spark.sql.expressions.Window
    val ord = (col(tsCol).asc +: tieBreak.map(col(_).asc))
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(ord: _*)
    val us = unix_micros(col(tsCol).cast("timestamp"))
    val prev = lag(us, 1).over(w)
    val fresh = when(prev.isNull || us - prev > gapSeconds * 1000000L, 1L)
      .otherwise(0L)
    events.withColumn("__new_sess", fresh)
      .withColumn("session_idx", sum(col("__new_sess"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__new_sess")
  }

  /** Discrete hazard / survival curve over user lifetimes — the
    * retention analysis [[retentionCohorts]] doesn't give: for each
    * lifetime bucket `t` (buckets since the user's FIRST event), how
    * many users were still at risk (lifetime ≥ t), how many churned
    * exactly there (last event in bucket t), and the discrete hazard
    * `⌊churned·10⁶/n_risk⌋` in exact ppm. The Kaplan-Meier survival
    * estimate is `Π(1 − hazard)` over the prefix — deliberately NOT
    * emitted: a float product chain is libm-dependent and breaks
    * cross-engine hashing, while (n_risk, churned, hazard_ppm) is
    * integer-exact and carries the same information.
    *
    * Scale shape: one map-side-combined per-user min/max agg (users
    * shuffle once), a lifetime-bucket count (tiny — ≤ span/bucket
    * rows), and one window over that bounded frame for the suffix sum
    * (n_risk = users with lifetime ≥ t); no per-user window, no sort
    * over the corpus.
    */
  def hazardCurve(events: DataFrame, userCol: String, tsCol: String,
                  bucketSeconds: Long): DataFrame = {
    require(bucketSeconds >= 1, s"bucketSeconds must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val us = unix_micros(col(tsCol).cast("timestamp"))
    val perUser = events.groupBy(col(userCol))
      .agg(min(us).as("__first"), max(us).as("__last"))
    val span = col("__last") - col("__first")
    val bucketUs = bucketSeconds * 1000000L
    val lifetime = floorDiv(span, lit(bucketUs))
    val d = perUser.select(lifetime.as("t"))
      .groupBy(col("t")).agg(count(lit(1)).cast("long").as("churned"))
    val suffix = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the window frame is lifetime-bucket-sized (≤ span/bucket rows),
    // so the single-partition global window is a bounded aggregate,
    // not a corpus sort
    d.withColumn("n_risk", sum(col("churned")).over(suffix).cast("long"))
      .withColumn("hazard_ppm",
        ((col("churned") * 1000000L -
          pmod(col("churned") * 1000000L, col("n_risk"))) / col("n_risk"))
          .cast("long"))
      .select(col("t"), col("n_risk"), col("churned"), col("hazard_ppm"))
  }

  /** Kaplan-Meier log-survival curve on top of [[hazardCurve]]: per
    * lifetime bucket t, the cumulative log of the product-limit
    * estimate `S(t) = Π_{u ≤ t} (1 − h_u)` in milli-nats —
    * `log_surv_milli = Σ round(1000·ln((n_risk − churned)/n_risk))` —
    * exact Long sums of per-bucket milli-nat quantizations (the
    * zipfSlope convention), so the curve is engine-portable where the
    * raw float product is not; `exp(log_surv_milli/1000)` recovers S.
    * Once a bucket churns EVERYONE at risk (h = 1) survival is exactly
    * 0 and ln is −∞: that bucket and everything after report NULL
    * log-survival with `surv_zero = true` — honest, not a clamp.
    * Returns (t, n_risk, churned, hazard_ppm, log_surv_milli,
    * surv_zero).
    *
    * Scale shape: [[hazardCurve]]'s bounded lifetime-bucket frame plus
    * one more bounded window pass — nothing corpus-sized.
    */
  def survivalCurve(events: DataFrame, userCol: String, tsCol: String,
                    bucketSeconds: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = hazardCurve(events, userCol, tsCol, bucketSeconds)
    val term = when(col("churned") < col("n_risk"),
      round(log((col("n_risk") - col("churned")).cast("double") /
        col("n_risk")) * 1000).cast("long"))
    val wAll = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the first bucket with churned == n_risk kills survival from
    // there on; min over the whole (bounded) frame
    val wFull = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    h.withColumn("__term", term)
      .withColumn("__zero_t",
        min(when(col("churned") === col("n_risk"), col("t"))).over(wFull))
      .withColumn("log_surv_milli",
        when(col("__zero_t").isNull || col("t") < col("__zero_t"),
          sum(col("__term")).over(wAll)))
      .withColumn("surv_zero",
        col("__zero_t").isNotNull && col("t") >= col("__zero_t"))
      .drop("__term", "__zero_t")
  }

  /** Burst collapse (event debouncing): keep the FIRST event of every
    * gap-delimited burst and drop the rest — the double-fire/bot-retry
    * cleanup an event pipeline runs before counting anything (a user
    * mashing a button 40 times in 3 s is one click). A burst is a
    * [[sessionize]] session at `gapSeconds`: an event joins the burst
    * while it stays within the gap of its PREDECESSOR (chained — a
    * long-lived burst keeps suppressing; debounce-against-last-KEPT is
    * a different, sequential semantic this operator deliberately does
    * not implement). Emits the input columns plus `burst_size` on each
    * kept row — the suppressed multiplicity, which monitoring wants.
    *
    * Scale shape: the [[sessionize]] window plus a first-per-burst
    * flag from the SAME window pass (lag + running sum + row flag share
    * one exchange + sort), then a (key, session) count joined back
    * map-side — the count frame is bursts-sized, hash-joined on the
    * already-shuffled key.
    */
  def collapseBursts(events: DataFrame, keyCols: Seq[String], tsCol: String,
                     gapSeconds: Long,
                     tieBreak: Seq[String] = Nil): DataFrame = {
    val sess = sessionize(events, keyCols, tsCol, gapSeconds, tieBreak)
    import org.apache.spark.sql.expressions.Window
    val ord = (col(tsCol).asc +: tieBreak.map(col(_).asc))
    val w = Window.partitionBy((keyCols :+ "session_idx").map(col): _*)
    sess
      .withColumn("burst_size", count(lit(1)).over(w))
      .withColumn("__rn", row_number().over(w.orderBy(ord: _*)))
      .where(col("__rn") === 1)
      .drop("__rn", "session_idx")
  }

  /** Streaming face of [[collapseBursts]] — debounce on ingest: a row is
    * emitted iff it starts a new burst (no predecessor, or the gap from
    * the previous event exceeds `gapSeconds`). State is ONE long per key
    * (the last event time in seconds), carried across micro-batches;
    * within a batch a key's rows fold in timestamp order, across batches
    * arrival must be non-decreasing (the ingest case). The kept SET
    * equals the batch face's on in-order input (spec-asserted);
    * `burst_size` is the one thing this face cannot emit — a burst's
    * size is future knowledge at its first event (use the batch face,
    * or count downstream per kept-row epoch).
    *
    * Scale shape: one hash exchange on the key per micro-batch; no
    * event buffering, no watermark needed.
    */
  def collapseBurstsStream(events: DataFrame, keyCols: Seq[String],
                           tsCol: String, gapSeconds: Long): DataFrame = {
    require(keyCols.nonEmpty, "collapseBurstsStream needs a key column")
    require(gapSeconds >= 1, s"gapSeconds must be >= 1, got $gapSeconds")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.StructType
    // keyed by a Row of the key columns, so NULLs and any key text stay
    // distinct (a joined string key would merge (a, NULL) with (NULL, a))
    val keyIdx = keyCols.map(events.schema.fieldIndex)
    val packed = events.select(
      unix_micros(col(tsCol).cast("timestamp")).as("__us"),
      struct(events.columns.map(col): _*).as("__row"))
    val kEnc = Encoders.row(StructType(keyIdx.map(events.schema.fields(_))))
    val kept = packed.as(Encoders.row(packed.schema))
      .groupByKey(r => Row.fromSeq(keyIdx.map(r.getStruct(1).get)))(kEnc)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (_: Row, rows: Iterator[Row], state: GroupState[Long]) =>
          var last = state.getOption.getOrElse(Long.MinValue)
          val out = rows.toSeq.sortBy(_.getLong(0)).flatMap { r =>
            val t = r.getLong(0)
            val fresh = last == Long.MinValue ||
              t - last > gapSeconds * 1000000L
            last = t
            if (fresh) Some(r.getStruct(1)) else None
          }
          state.update(last)
          out.iterator
      }(Encoders.scalaLong, Encoders.row(events.schema))
    kept
  }

  /** Per-session rollup over a [[sessionize]]d frame: event count, start,
    * end, and duration in seconds. Partial-agg'd shuffle on the session
    * identity.
    */
  def sessionStats(sessions: DataFrame, keyCols: Seq[String],
                   tsCol: String): DataFrame = {
    // the timestamp cast feeds only the micros arithmetic — outputs keep
    // the input column's own type (casting NTZ → LTZ would change the
    // written parquet logical type out from under the caller)
    val ts = col(tsCol).cast("timestamp")
    val durS = floorDiv(unix_micros(max(ts)) - unix_micros(min(ts)),
      lit(1000000L))
    sessions.groupBy((keyCols :+ "session_idx").map(col): _*)
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("start_ts"), max(col(tsCol)).as("end_ts"),
        durS.as("dur_s"))
  }
}
