package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.{div, floorDiv}

/** Two-sample distribution-comparison statistics — the hypothesis-test
  * companions to the drift report family ([[Pipeline.driftPsi]] buckets,
  * [[Pipeline.chiSquareHomogeneity]] categorical χ²): given one numeric
  * quality signal observed under two corpus versions / sources, "did the
  * distribution move, and by how much" as a single defensible number.
  *
  * - [[ksTest]]: two-sample Kolmogorov-Smirnov D — the max ECDF gap, the
  *   standard location-AND-shape drift test for numeric columns.
  * - [[mannWhitneyU]]: Mann-Whitney U / Wilcoxon rank-sum with the exact
  *   tie-averaged ranks, plus the common-language effect size
  *   U/(n_a·n_b) — "how often does a random doc from B score above one
  *   from A" — the robust A/B comparison when means lie (heavy tails).
  * - [[jsDivergence]]: Jensen-Shannon divergence between two categorical
  *   mixes (language, source, quality tier) in milli-nats — symmetric,
  *   bounded by ln 2, defined even where one side has zero mass (unlike
  *   raw KL, which PSI's smoothing papers over).
  *
  * Everything reports in exact integer units (ppm / milli-nats,
  * [[graft.functions.div]] truncating division — DuckDB `//` semantics,
  * [[graft.functions.floorDiv]] for non-negative ratios) over exact Long
  * counts, so results
  * are aggregation-order-independent and engine-portable; the only
  * doubles are single IEEE divisions and `round(ln·1000)` milli-nat
  * quantizations (the [[TextAnalysis.zipfSlope]] precedent).
  *
  * Scale shape (KS/MWU): ONE value-keyed partial-agg'd shuffle collapses
  * the row volume to the distinct-value table (repeated values combine
  * map-side), then a DISTRIBUTED prefix sum over that table — range
  * partition by value, per-partition totals collect (one Long pair per
  * partition), broadcast offsets, per-partition running sums (the
  * [[Pipeline.packSequences]] pattern) — no single-partition window, so
  * a continuous-valued column with corpus-cardinality distinct values
  * still spreads. JSD is one (side, category) count shuffle and
  * category-sized arithmetic after.
  */
object Stats {

  /** Distinct-value cumulative side counts: for each distinct `v` (a
    * Long — quantize doubles upstream), the per-side counts at v and the
    * cumulative counts up to AND INCLUDING v in value order:
    * (v, ca, cb, cuma, cumb). The shared engine under [[ksTest]] and
    * [[mannWhitneyU]].
    */
  private[ext] def cumSideCounts(df: DataFrame, valueCol: String,
                                 sideA: Column, sideB: Column): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val per = df
      .where((sideA || sideB) && col(valueCol).isNotNull)
      .select(col(valueCol).cast("long").as("v"),
        sideA.cast("long").as("ia"), sideB.cast("long").as("ib"))
      .groupBy(col("v"))
      .agg(sum(col("ia")).as("ca"), sum(col("ib")).as("cb"))
      .repartitionByRange(col("v"))
      .sortWithinPartitions("v")
      // pin the sampled range boundaries: the totals pass and the
      // running pass must see the identical partitioning
      .transform(OpCaches.persist)
    val pidTotals = per
      .groupBy(spark_partition_id().as("__pid"))
      .agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val nParts = per.rdd.getNumPartitions
    val offA = new Array[Long](nParts + 1)
    val offB = new Array[Long](nParts + 1)
    (0 until nParts).foreach { p =>
      val (ta, tb) = pidTotals.getOrElse(p, (0L, 0L))
      offA(p + 1) = offA(p) + ta
      offB(p + 1) = offB(p) + tb
    }
    val bcA = spark.sparkContext.broadcast(offA)
    val bcB = spark.sparkContext.broadcast(offB)
    val outSchema = StructType(Seq(
      StructField("v", LongType, nullable = true),
      StructField("ca", LongType, nullable = false),
      StructField("cb", LongType, nullable = false),
      StructField("cuma", LongType, nullable = false),
      StructField("cumb", LongType, nullable = false)))
    implicit val enc = org.apache.spark.sql.Encoders.row(outSchema)
    per.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var ra = bcA.value(pid)
      var rb = bcB.value(pid)
      it.map { r =>
        val ca = r.getLong(1); val cb = r.getLong(2)
        ra += ca; rb += cb
        Row(r.get(0), ca, cb, ra, rb)
      }
    }.toDF()
  }

  /** Two-sample Kolmogorov-Smirnov statistic between the `valueCol`
    * distributions of rows where `groupCol = a` vs `= b`:
    * D = max over observed values of |F̂_a(v) − F̂_b(v)|, reported in
    * exact ppm — `d_ppm = max_v |cuma·n_b − cumb·n_a| · 10⁶ //
    * (n_a·n_b)` — together with `at_v`, the SMALLEST value attaining the
    * max (a deterministic witness: where the distributions diverge
    * most). Values cast to Long (quantize continuous signals upstream;
    * KS on the quantized grid is the KS of the binned distributions).
    * Returns one row (n_a, n_b, d_ppm, at_v).
    *
    * The max-gap argument only needs evaluation at observed points
    * (ECDFs are right-continuous step functions, constant in between),
    * so the statistic is exact, not a sample. Significance: reject at
    * level α when D > c(α)·√((n_a+n_b)/(n_a·n_b)), c(0.05) ≈ 1.358 —
    * priced by the caller against the returned exact D.
    */
  def ksTest(df: DataFrame, valueCol: String, groupCol: String,
             a: Any, b: Any): DataFrame = {
    val cum = cumSideCounts(df, valueCol,
      col(groupCol) === lit(a), col(groupCol) === lit(b))
    val tot = cum.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    cum.crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"),
        abs(col("cuma") * col("n_b") - col("cumb") * col("n_a"))
          .as("gap"),
        col("v"))
      .groupBy(col("n_a"), col("n_b"))
      .agg(max(struct(col("gap"), (-col("v")).as("nv"))).as("m"))
      .select(col("n_a"), col("n_b"),
        floorDiv(col("m.gap") * 1000000L, col("n_a") * col("n_b"))
          .as("d_ppm"),
        (-col("m.nv")).as("at_v"))
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) between the `valueCol`
    * distributions of `groupCol = a` vs `= b`, with the EXACT
    * tie-averaged rank convention: every rank is carried in doubled
    * units (2·rank is always integral under midranks), so
    * `u_a_x2 = 2·U_a` and `u_b_x2 = 2·U_b` are exact Longs with
    * `u_a_x2 + u_b_x2 = 2·n_a·n_b` (spec-pinned conservation). The
    * common-language effect size `cles_ppm = U_a·10⁶ // (n_a·n_b)` —
    * P(random a-row > random b-row) + ½P(tie) — is the scale-free
    * answer "how often does version A score higher". Returns one row
    * (n_a, n_b, u_a_x2, u_b_x2, cles_ppm).
    *
    * Derivation on the distinct-value table: midrank·2 at value v =
    * 2·(all-rows cumulative before v) + (ties at v) + 1; the rank-sum
    * R_a·2 = Σ_v ca(v)·midrank2(v); U_a·2 = R_a·2 − n_a·(n_a+1).
    */
  def mannWhitneyU(df: DataFrame, valueCol: String, groupCol: String,
                   a: Any, b: Any): DataFrame = {
    val cum = cumSideCounts(df, valueCol,
      col(groupCol) === lit(a), col(groupCol) === lit(b))
    val t = col("ca") + col("cb")
    val cumBefore = col("cuma") + col("cumb") - t
    val midrank2 = cumBefore * 2L + t + 1L
    cum
      .select(col("ca"), col("cb"), (col("ca") * midrank2).as("ra2"))
      .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
        sum(col("ra2")).as("r_a_x2"))
      .select(col("n_a"), col("n_b"),
        (col("r_a_x2") - col("n_a") * (col("n_a") + 1L)).as("u_a_x2"))
      .select(col("n_a"), col("n_b"), col("u_a_x2"),
        (col("n_a") * col("n_b") * 2L - col("u_a_x2")).as("u_b_x2"),
        floorDiv(col("u_a_x2") * 1000000L,
          col("n_a") * col("n_b") * 2L).as("cles_ppm"))
  }

  /** Per-group two-sample KS drift table — [[ksTest]] for every group
    * at once (the per-language drift report shape): one row per
    * `byCol` value with that group's (n_a, n_b, d_ppm, at_v). Counts
    * collapse to the (group, value) table in ONE partial-agg'd shuffle;
    * the cumulative pass is a window PER GROUP (bounded by the group's
    * distinct values — a runaway group is the quantileNormalize
    * one-task-sort shape; use the global [[ksTest]]'s distributed
    * prefix sum when a single group's distinct values are
    * corpus-sized).
    */
  def ksTestByGroup(df: DataFrame, valueCol: String, byCol: String,
                    groupCol: String, a: Any, b: Any): DataFrame = {
    val per = df
      .where((col(groupCol) === lit(a) || col(groupCol) === lit(b)) &&
        col(valueCol).isNotNull)
      .groupBy(col(byCol).as("g"), col(valueCol).cast("long").as("v"))
      .agg(sum((col(groupCol) === lit(a)).cast("long")).as("ca"),
           sum((col(groupCol) === lit(b)).cast("long")).as("cb"))
    ksByGroupFromCounts(per).withColumnRenamed("g", byCol)
  }

  /** Finish the per-group KS statistic from a side-count census —
    * (g, v, ca, cb) rows, one per (group, distinct value) cell — the
    * arithmetic half [[ksTestByGroup]] and the streaming census
    * [[ksCensusStream]] share. Output: (g, n_a, n_b, d_ppm, at_v).
    * The input is group×distinct-value sized (never row-sized), so the
    * per-group cumulative window is bounded by the quantized grid.
    */
  def ksByGroupFromCounts(per: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // running and whole-group sums share ONE partitioning (g) — Spark
    // computes both frames off a single exchange + sort, and avoiding a
    // cum ⋈ tot self-join also keeps view-backed inputs (the streaming
    // census sink table) free of conflicting-reference resolution.
    val w = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wg = Window.partitionBy(col("g"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per.select(col("g"), col("v"),
        sum(col("ca")).over(w).as("cuma"),
        sum(col("cb")).over(w).as("cumb"),
        sum(col("ca")).over(wg).as("n_a"),
        sum(col("cb")).over(wg).as("n_b"))
      .select(col("g"), col("n_a"), col("n_b"),
        abs(col("cuma") * col("n_b") - col("cumb") * col("n_a"))
          .as("gap"),
        col("v"))
      .groupBy(col("g"), col("n_a"), col("n_b"))
      .agg(max(struct(col("gap"), (-col("v")).as("nv"))).as("m"))
      .select(col("g"), col("n_a"), col("n_b"),
        floorDiv(col("m.gap") * 1000000L, col("n_a") * col("n_b"))
          .as("d_ppm"),
        (-col("m.nv")).as("at_v"))
  }

  /** STREAMING side-count census for the per-group KS drift monitor —
    * the ingest-time face VERDICT r10 asked for: the KS sufficient
    * statistic is the (group, quantized value) side-count table, and
    * counts are commutative, so the monitor carries TWO Longs of state
    * per touched cell (`flatMapGroupsWithState` keyed by the cell) and
    * emits that cell's RUNNING (ca, cb) every batch it is touched —
    * an append-mode changelog whose per-cell LATEST row (= max, counts
    * are monotone) is the census of everything ingested so far. Feed
    * `census.groupBy("g","v").agg(max("ca").as("ca"), max("cb")
    * .as("cb"))` over the sink table into [[ksByGroupFromCounts]] for
    * the live statistic (spec-asserted equal to the batch
    * [[ksTestByGroup]] on the union of all batches — up to the census's
    * STRING group key: the kernel casts `byCol` to string for a stable
    * state-store key type, so for a numeric `byCol` the census `g`
    * column is the string rendering of the batch face's native key;
    * per-group statistics are identical, only the key column's type
    * differs). Runs identically on a static frame (same kernel, per-key
    * fold).
    *
    * Scale shape: state is bounded by the quantized grid × groups
    * (quantize upstream — same contract as the batch face), one hash
    * exchange per micro-batch, no watermark needed.
    */
  def ksCensusStream(df: DataFrame, valueCol: String, byCol: String,
                     groupCol: String, a: Any, b: Any): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    val spark = df.sparkSession
    import spark.implicits._
    df.where((col(groupCol) === lit(a) || col(groupCol) === lit(b)) &&
        col(valueCol).isNotNull)
      .select(col(byCol).cast("string").as("g"),
        col(valueCol).cast("long").as("v"),
        (col(groupCol) === lit(a)).cast("long").as("ia"),
        (col(groupCol) === lit(b)).cast("long").as("ib"))
      .as[(String, Long, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (key: (String, Long), rows: Iterator[(String, Long, Long, Long)],
         state: GroupState[(Long, Long)]) =>
          var (ca, cb) = state.getOption.getOrElse((0L, 0L))
          rows.foreach { r => ca += r._3; cb += r._4 }
          state.update((ca, cb))
          Iterator((key._1, key._2, ca, cb))
      }
      .toDF("g", "v", "ca", "cb")
  }

  /** Per-group robust scaling (median/MAD z-scores) — the
    * outlier-immune companion to mean/σ standardization for
    * heavy-tailed quality signals: per group, the exact median and the
    * exact MAD (median of |v − median|), then
    * `z_milli = (v·1000 − med_milli) · 1000 // max(mad_milli, 1)` in
    * exact integer milli-units (values quantize to milli first — the
    * winsorizedMean exactness argument; a zero-MAD group, over half
    * its mass on one value, floors the denominator at 1 milli and is
    * flagged `mad_zero`). Returns every input row plus
    * (med_milli, mad_milli, z_milli, mad_zero).
    *
    * Shape: two exact-percentile group aggregations (group-keyed, tiny
    * outputs) broadcast back onto the row stream — the winsorizedMean
    * two-pass; substitute the KLL sketch face at streaming/100 TB.
    *
    * NULL handling: NULL values inside a group pass through with NULL
    * z_milli; a group whose values are ALL NULL has no median and its
    * rows are dropped (no honest z exists for them).
    */
  def robustScale(df: DataFrame, valueCol: String,
                  groupCol: String): DataFrame = {
    val vMilli = round(col(valueCol).cast("double") * 1000).cast("long")
    val med = df.where(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), vMilli.as("vm"))
      .groupBy(col("g"))
      .agg(percentile(col("vm"), lit(0.5)).as("medd"))
      .select(col("g"), round(col("medd")).cast("long").as("med_milli"))
    val withMed = df.where(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), vMilli.as("vm"))
      .join(broadcast(med), Seq("g"))
    val mad = withMed
      .select(col("g"), abs(col("vm") - col("med_milli")).as("ad"))
      .groupBy(col("g"))
      .agg(percentile(col("ad"), lit(0.5)).as("madd"))
      .select(col("g"), round(col("madd")).cast("long").as("mad_milli"))
    df.select(df.columns.map(col) :+
        col(groupCol).as("__g") :+ vMilli.as("__vm"): _*)
      .join(broadcast(med.withColumnRenamed("g", "__g")), Seq("__g"))
      .join(broadcast(mad.withColumnRenamed("g", "__g")), Seq("__g"))
      .withColumn("z_milli", div(
        (col("__vm") - col("med_milli")) * 1000L,
        greatest(col("mad_milli"), lit(1L))))
      .withColumn("mad_zero", col("mad_milli") === 0L)
      .drop("__g", "__vm")
  }

  /** STREAMING face of [[robustScale]]'s location/scale census — the
    * always-on per-group monitor ([[robustScale]] itself is two exact
    * percentile passes, impossible over a stream): one KLL sketch of
    * state per group (fixed size), emitting each
    * touched group's updated `(g, n, p25_milli, med_milli, p75_milli,
    * iqr_milli)` every micro-batch. Values quantize to milli-units
    * BEFORE sketching (the [[robustScale]] grid); with `k ≥` the
    * group's count the sketch is exact and `med_milli` equals the batch
    * face's ceil-rank median (spec-asserted on the union of batches).
    * Scale via IQR rather than MAD — MAD needs a second pass over
    * |v − med| which a stream cannot replay; for symmetric
    * distributions MAD ≈ IQR/2 (document the estimator switch wherever
    * thresholds transfer). Batch mode runs the same kernel.
    */
  def robustScaleStream(df: DataFrame, valueCol: String, groupCol: String,
                        k: Int = 2048): DataFrame = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    import Sketches.KllBuilder
    require(k >= 8, s"k must be >= 8, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    df.where(col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        round(col(valueCol).cast("double") * 1000).as("vm"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (g: String, rows: Iterator[(String, Double)],
         state: GroupState[KllBuilder]) =>
          val b = state.getOption.getOrElse(new KllBuilder(k))
          rows.foreach { case (_, v) => b.update(v) }
          state.update(b)
          val m = b.toModel
          Iterator.single((g, m.n, m.quantile(0.25), m.quantile(0.5),
            m.quantile(0.75)))
      }(Encoders.kryo[KllBuilder],
        Encoders.product[(String, Long, Double, Double, Double)])
      .toDF("g", "n", "p25", "med", "p75")
      .select(col("g"), col("n"),
        col("p25").cast("long").as("p25_milli"),
        col("med").cast("long").as("med_milli"),
        col("p75").cast("long").as("p75_milli"),
        (col("p75") - col("p25")).cast("long").as("iqr_milli"))
  }

  /** Jensen-Shannon divergence between the categorical `catCol` mixes
    * of `groupCol = p` vs `= q`, in milli-nats:
    * JSD = ½·KL(P‖M) + ½·KL(Q‖M), M = (P+Q)/2. Per category the KL
    * ratio p_i/m_i = 2·c_i·n_q / (c_i·n_q + d_i·n_p) is a ratio of
    * exact Longs — one IEEE division, one `round(ln·1000)` milli-nat
    * quantization (the zipfSlope precedent), then everything is Long
    * sums and trunc division: kl_p_milli = Σ c_i·L_i // n_p. Categories
    * with zero mass on one side contribute 0 to that side and
    * ln 2 ≈ 693 milli-nats per unit mass to the other — JSD never blows
    * up, which is why it (not raw KL) is the corpus-mix drift metric.
    * Returns one row (n_p, n_q, n_cats, kl_p_milli, kl_q_milli,
    * jsd_milli).
    *
    * Scale shape: one (category, side) count aggregation (map-side
    * combined); arithmetic after runs on the category cardinality.
    */
  def jsDivergence(df: DataFrame, catCol: String, groupCol: String,
                   p: Any, q: Any): DataFrame =
    jsDivergenceFromCounts(df
      .where(col(groupCol) === lit(p) || col(groupCol) === lit(q))
      .groupBy(col(catCol).as("cat"))
      .agg(sum((col(groupCol) === lit(p)).cast("long")).as("c"),
           sum((col(groupCol) === lit(q)).cast("long")).as("d")))

  /** Finish the JSD from a categorical side-count census — (cat, c, d)
    * rows — the arithmetic half [[jsDivergence]] and the streaming
    * census [[jsCensusStream]] share. Cells where both sides are zero
    * (possible in a census carried across batches) are dropped first
    * so `n_cats` counts only observed categories.
    */
  def jsDivergenceFromCounts(cells0: DataFrame): DataFrame = {
    val cells = cells0.where(col("c") > 0 || col("d") > 0)
    val tot = cells.agg(sum(col("c")).as("n_p"), sum(col("d")).as("n_q"),
      count(lit(1)).as("n_cats"))
    val withTot = cells.crossJoin(broadcast(tot))
    val lp = round(log((col("c") * col("n_q") * 2L).cast("double") /
      (col("c") * col("n_q") + col("d") * col("n_p"))) * 1000)
      .cast("long")
    val lq = round(log((col("d") * col("n_p") * 2L).cast("double") /
      (col("c") * col("n_q") + col("d") * col("n_p"))) * 1000)
      .cast("long")
    withTot
      .select(col("n_p"), col("n_q"), col("n_cats"),
        when(col("c") > 0, col("c") * lp).otherwise(0L).as("tp"),
        when(col("d") > 0, col("d") * lq).otherwise(0L).as("tq"))
      .groupBy(col("n_p"), col("n_q"), col("n_cats"))
      .agg(sum(col("tp")).as("sp"), sum(col("tq")).as("sq"))
      .select(col("n_p"), col("n_q"), col("n_cats"),
        div(col("sp"), col("n_p")).as("kl_p_milli"),
        div(col("sq"), col("n_q")).as("kl_q_milli"),
        div(div(col("sp"), col("n_p")) +
          div(col("sq"), col("n_q")), lit(2L)).as("jsd_milli"))
  }

  /** STREAMING categorical side-count census for the JSD / mix-drift
    * monitor — [[ksCensusStream]]'s categorical sibling: two Longs of
    * state per category, append-mode changelog of running (cat, c, d);
    * per-cat LATEST (= max) over the sink table feeds
    * [[jsDivergenceFromCounts]] for the live divergence of everything
    * ingested so far (spec-asserted equal to the batch
    * [[jsDivergence]] on the union). Category cardinality is
    * report-sized by contract (language/source/tier — the
    * [[Pipeline.driftPsiCategorical]] contract); pre-bucket unbounded
    * keys upstream.
    */
  def jsCensusStream(df: DataFrame, catCol: String, groupCol: String,
                     p: Any, q: Any): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    val spark = df.sparkSession
    import spark.implicits._
    df.where(col(groupCol) === lit(p) || col(groupCol) === lit(q))
      .select(col(catCol).cast("string").as("cat"),
        (col(groupCol) === lit(p)).cast("long").as("ip"),
        (col(groupCol) === lit(q)).cast("long").as("iq"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long, Long)],
         state: GroupState[(Long, Long)]) =>
          var (c, d) = state.getOption.getOrElse((0L, 0L))
          rows.foreach { r => c += r._2; d += r._3 }
          state.update((c, d))
          Iterator((key, c, d))
      }
      .toDF("cat", "c", "d")
  }
}
