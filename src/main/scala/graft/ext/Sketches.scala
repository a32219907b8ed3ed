package graft.ext

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{CompactSketch, SetOperation}
import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

/** One-pass sketches: which keys are hot, how hot one key is, how many
  * distinct keys there are, and value quantiles. The motivating 100 TB
  * problem: a full key aggregation shuffles every distinct key, while a
  * sketch ships a bounded summary per partition, however many distinct
  * keys the data holds.
  *
  * The frequency and distinct members are Spark's native sketch
  * functions: `approx_top_k` (a DataSketches frequent-items sketch),
  * `count_min_sketch` (Spark's `CountMinSketch`) and `theta_sketch_agg`
  * (a DataSketches theta sketch). Each is mergeable, one aggregation
  * pass, and EXACT when sized to cover the data (the gate-query mode).
  * The quantile member (KLL) stays hand-rolled; see its section below.
  */
object Sketches {

  /** Approximate top-k heavy hitters over `keyCol`: Spark's
    * `approx_top_k` tracks up to `capacity` keys per partition and merges
    * the partial sketches, so no exchange carries the distinct-key space.
    * The top `capacity` candidates are re-ranked by estimate descending,
    * then key ascending, and cut to `k`. NULL keys are not tracked, and
    * the key column keeps its input type.
    *
    * Error bound (DataSketches frequent items, map size M = the smallest
    * power of two ≥ capacity / 0.75, N = non-null rows): an estimate never
    * undercounts and overcounts by at most 3.5·N/M. It is EXACT while
    * `capacity ≥ distinct(key)` (the gate-query mode). Only keys whose
    * lower bound clears the sketch's error are reported, so every key
    * with true count above 2 · 3.5·N/M is.
    *
    * Returns (key, est).
    */
  def heavyHitters(df: DataFrame, keyCol: String, k: Int,
                   capacity: Int = 1024): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(capacity >= k, s"capacity $capacity must be >= k $k")
    df.where(col(keyCol).isNotNull)
      .select(explode(topItems(col(keyCol), capacity)).as("t"))
      .select(col("t.item").as("key"), col("t.count").as("est"))
      .orderBy(col("est").desc, col("key"))
      .limit(k)
  }

  private def topItems(c: Column, capacity: Int): Column =
    call_function("approx_top_k", c, lit(capacity), lit(capacity))

  /** Fit Spark's Count-Min sketch (Cormode & Muthukrishnan 2005) over
    * `keyCol`, cast to string: `depth` hash rows × `width` counters. One
    * aggregation pass; the exchange carries sketches, never keys.
    * `estimateCount(key)` never undercounts and overcounts by at most
    * `2·n/width` with probability `1 − 2^-depth` (n = `totalCount`; Spark
    * documents the bound as eps·n at confidence, for eps = 2/width and
    * confidence = 1 − 2^-depth). Counters are pure sums, so the fit
    * does not depend on partitioning, and two sketches of equal dimensions
    * `mergeInPlace` (unequal ones throw `IncompatibleMergeException`).
    *
    * The point-frequency complement of [[heavyHitters]]: it answers "how
    * hot is THIS key" for any key, including ones below the heavy-hitter
    * floor. With `width` collision-free for the queried keys the estimates
    * are EXACT (the gate-query mode); the accuracy knob is `width`, not
    * data size. Null keys are skipped.
    */
  def countMinFit(df: DataFrame, keyCol: String, width: Int = 4096,
                  depth: Int = 4): CountMinSketch = {
    require(width >= 2 && depth >= 1 && depth <= 32,
      "width >= 2 and 1 <= depth <= 32")
    // Spark sizes the sketch from (eps, confidence) as width = ⌈2/eps⌉
    // and depth = ⌈−log2(1 − confidence)⌉; aiming half a step below each
    // integer keeps both exact under double rounding (2/(2/49) is not 49)
    df.stat.countMinSketch(col(keyCol).cast("string"), 2.0 / (width - 0.5),
      1.0 - math.pow(2.0, 0.5 - depth), CmsSeed)
  }

  /** Hash seed shared by batch fits and streaming state, so their
    * sketches merge and agree. */
  private val CmsSeed = 0

  /** Estimate column face: `cms_est` for each row's `keyCol` under a
    * fitted sketch — the sketch rides the closure (≤ a few hundred KB), a
    * pure narrow map. */
  def cmsEstimate(df: DataFrame, keyCol: String,
                  model: CountMinSketch): DataFrame = {
    val est = udf((k: String) => if (k == null) 0L else model.estimateCount(k))
    df.withColumn("cms_est", est(col(keyCol).cast("string")))
  }

  /** A fitted distinct-count sketch: a DataSketches theta sketch of
    * nominal size `2^lgK`. Below saturation it holds every distinct hash
    * and the estimate is EXACT; saturated, its relative standard error is
    * about `1/√(2^lgK)` (DataSketches' documented bound; `sketch`'s
    * `getLowerBound`/`getUpperBound` give the confidence interval).
    */
  final case class ThetaModel(lgK: Int, sketch: CompactSketch) {
    def saturated: Boolean = sketch.isEstimationMode
    def estimate: Long = math.round(sketch.getEstimate)

    def merge(other: ThetaModel): ThetaModel = {
      require(other.lgK == lgK, s"sketch sizes differ: 2^$lgK vs 2^${other.lgK}")
      val u = SetOperation.builder().setNominalEntries(1 << lgK).buildUnion()
      u.union(sketch)
      u.union(other.sketch)
      ThetaModel(lgK, u.getResult)
    }
  }

  /** `theta_sketch_agg`'s size exponent for a sketch that stays exact up
    * to `k` distinct values: ⌈log2 k⌉, at least 4 (DataSketches' floor). */
  private def lgNominal(k: Int): Int = {
    require(k >= 2 && k <= (1 << 26), s"k must be in [2, 2^26], got $k")
    math.max(4, 32 - Integer.numberOfLeadingZeros(k - 1))
  }

  /** The value a theta sketch hashes for a key: its string form with a
    * fixed suffix. DataSketches skips empty strings, and `s ↦ s + "\u0000"`
    * is injective, so '' still counts as one distinct value. */
  private def thetaKey(c: Column): Column =
    concat(c.cast("string"), lit("\u0000"))

  /** Fit a distinct-count sketch over `keyCol` in ONE aggregation pass:
    * `theta_sketch_agg` with nominal size `2^⌈log2 k⌉`, so the estimate is
    * EXACT while `distinct(key) ≤ k` (the gate-query mode); compare
    * `count_distinct`, which shuffles every distinct key. Null keys are
    * skipped.
    */
  def kmvFit(df: DataFrame, keyCol: String, k: Int = 4096): ThetaModel = {
    val lg = lgNominal(k)
    val bytes = df.select(theta_sketch_agg(thetaKey(col(keyCol)), lg))
      .head().getAs[Array[Byte]](0)
    ThetaModel(lg, CompactSketch.heapify(Memory.wrap(bytes)))
  }

  /** The groupBy face of [[kmvFit]]: per-group distinct-count estimates,
    * `theta_sketch_estimate(theta_sketch_agg(c, ⌈log2 k⌉))` — "distinct
    * users per event type / distinct URLs per domain" in ONE hash
    * aggregation whose wire traffic is ≤ 2^⌈log2 k⌉ hashes per (partition
    * × group), never the distinct values themselves. Exact while a group's
    * distinct count stays ≤ k (the gate-query mode). Nulls are skipped.
    */
  def kmvDistinctUdaf(k: Int = 4096): Column => Column = {
    val lg = lgNominal(k)
    c => theta_sketch_estimate(theta_sketch_agg(thetaKey(c), lg))
  }

  /** Non-null keys as strings, each tagged with the one of `nShards`
    * shards it belongs to. */
  private def sharded(events: DataFrame, keyCol: String,
                      nShards: Int): DataFrame =
    events.select(col(keyCol).cast("string").as("key"))
      .where(col("key").isNotNull)
      .select(pmod(xxhash64(col("key")), lit(nShards)).cast("long")
        .as("shard"), col("key"))

  /** The streaming face of [[countMinFit]]: keys hash into `nShards`
    * independent Count-Min sketches; each micro-batch folds its keys into
    * its shard's sketch (the state is the serialized `CountMinSketch`)
    * and emits the UPDATED point estimate for every distinct key seen in
    * that batch — an Update-mode changelog where the latest (key, est)
    * row is the running estimate. A static frame runs the same kernel as
    * one batch.
    *
    * A key belongs to exactly one shard, so estimates never need a
    * cross-shard merge, and each shard keeps the batch bound over its own
    * arrivals (exact when `width` is collision-free). State is bounded by
    * construction — `nShards × depth × width` counters, forever, no
    * watermark.
    */
  def countMinStream(events: DataFrame, keyCol: String,
                     width: Int = 4096, depth: Int = 4,
                     nShards: Int = 8): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    import scala.jdk.CollectionConverters._
    require(width >= 2 && depth >= 1 && nShards >= 1,
      "width >= 2, depth >= 1, nShards >= 1")
    val spark = events.sparkSession
    import spark.implicits._
    sharded(events, keyCol, nShards)
      .as[(Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (shard: Long, rows: Iterator[(Long, String)],
         state: GroupState[Array[Byte]]) =>
          val cms = state.getOption.fold(CountMinSketch.create(depth, width, CmsSeed))(
            b => CountMinSketch.readFrom(b))
          val batchKeys = new java.util.LinkedHashSet[String]()
          rows.foreach { case (_, key) => cms.add(key); batchKeys.add(key) }
          state.update(cms.toByteArray)
          batchKeys.asScala.iterator.map(k => (shard, k, cms.estimateCount(k)))
      }
      .toDF("shard", "key", "est")
  }

  /** The streaming face of [[kmvFit]]: keys hash into `nShards` disjoint
    * subspaces, and an update-mode `groupBy(shard)` over
    * `theta_sketch_agg` keeps one sketch per shard, emitting
    * (shard, n_distinct, saturated) for each shard a batch touches.
    * Shards partition the key space, so the GLOBAL distinct count is the
    * SUM of the latest per-shard rows — exact while no shard saturates.
    * State: nShards sketches of ≤ 2^⌈log2 k⌉ hashes, forever, no
    * watermark.
    */
  def kmvStream(events: DataFrame, keyCol: String, k: Int = 4096,
                nShards: Int = 8): DataFrame = {
    require(nShards >= 1, "nShards >= 1")
    val lg = lgNominal(k)
    val estimating = udf((b: Array[Byte]) =>
      CompactSketch.wrap(Memory.wrap(b)).isEstimationMode)
    sharded(events, keyCol, nShards)
      .groupBy(col("shard"))
      .agg(theta_sketch_agg(thetaKey(col("key")), lg).as("sketch"))
      .select(col("shard"), theta_sketch_estimate(col("sketch")).as("n_distinct"),
        estimating(col("sketch")).as("saturated"))
  }

  /** The streaming face of [[heavyHitters]]: keys hash into `nShards`
    * independent `approx_top_k` sketches of `capacity` tracked keys,
    * folded by an update-mode `groupBy(shard)`; each batch emits the
    * updated summary of every shard it touches as (shard, key, est) rows.
    *
    * Because a key belongs to exactly ONE shard, per-key estimates need
    * no cross-shard merge — the latest (shard, key) row IS the estimate,
    * with [[heavyHitters]]' bound over that shard's arrivals. Each shard
    * reports at most `capacity` keys: state is bounded by construction,
    * forever, no watermark. Null keys are dropped; keys are tracked as
    * strings (cast), the changelog-friendly form.
    */
  def heavyHittersStream(events: DataFrame, keyCol: String, capacity: Int,
                         nShards: Int = 8): DataFrame = {
    require(capacity >= 1 && nShards >= 1, "capacity and nShards >= 1")
    sharded(events, keyCol, nShards)
      .groupBy(col("shard"))
      .agg(topItems(col("key"), capacity).as("top"))
      .select(col("shard"), explode(col("top")).as("t"))
      .select(col("shard"), col("t.item").as("key"), col("t.count").as("est"))
  }

  // ── KLL quantile sketch ──────────────────────────────────────────────
  //
  // The quantile member of the sketch family (alongside top-k heavy
  // hitters, Count-Min point frequencies and theta distinct counts): a
  // mergeable rank/quantile summary after Karnin, Lang &
  // Liberty, "Optimal quantile approximation in streams" (FOCS 2016).
  // The motivating 100 TB problem: "what is p99 doc length / p50 score"
  // over a corpus where exact `percentile` shuffles and sorts every
  // value — a KLL sketch ships O(k log(n/k)) doubles per partition and
  // merges associatively, so the fit is ONE scan with NO shuffle
  // (treeAggregate).
  //
  // Why it is not Spark's native `kll_sketch_agg_double`: DataSketches
  // caps KLL's k at 65535, below the exact mode's k ≥ n at the gate
  // scales (`ev_kll_quantiles` at sf0.1 has n = 100,000; at k = 65535 the
  // native sketch answers 114.32 where the exact quantile is 114.3), and
  // `kll_sketch_get_rank_double` rejects a per-row (non-foldable) rank,
  // which [[Pipeline.quantileNormalizeBySketch]] probes.
  //
  // Determinism: the classic algorithm flips a coin per compaction to
  // pick the even- or odd-indexed half. This implementation alternates
  // the offset from a compaction counter carried in the sketch — NO RNG,
  // so a given (data, partitioning, MERGE ORDER) always yields the same
  // summary: sequential fits and the streaming face (one state cell,
  // batches in order) are fully reproducible. Distributed fits
  // (treeAggregate / hash-aggregate partials) merge in task-completion
  // order, which Spark does not fix — two runs can differ WITHIN the
  // rank-error bound (the invariant the probe gate and specs pin).
  // The worst-case O(1/k) rank-error family guarantee is unchanged.
  // With `k ≥ n` no compaction ever fires and every value is retained
  // at level 0 — quantiles are EXACT and independent of merge order
  // (the gate-query mode, same convention as the other sketches).

  /** Mutable KLL builder — the treeAggregate zero and the Aggregator
    * buffer. `levels(i)` holds items of weight `2^i`; level capacities
    * decay geometrically (ratio 2/3) from `k` at the top level.
    */
  final class KllBuilder(val k: Int) extends Serializable {
    import scala.collection.mutable.ArrayBuffer
    var n: Long = 0L
    var compactions: Long = 0L
    var levels: ArrayBuffer[ArrayBuffer[Double]] =
      ArrayBuffer(ArrayBuffer.empty[Double])

    private def capacity(lvl: Int): Int = math.max(2, math.ceil(
      k * math.pow(2.0 / 3.0, (levels.length - 1 - lvl).toDouble)).toInt)
    private def capSum: Int = {
      var s = 0; var i = 0
      while (i < levels.length) { s += capacity(i); i += 1 }
      s
    }
    private def retained: Int = {
      var s = 0; var i = 0
      while (i < levels.length) { s += levels(i).length; i += 1 }
      s
    }

    def update(v: Double): Unit = {
      levels(0) += v
      n += 1L
      compress()
    }

    def merge(o: KllBuilder): KllBuilder = {
      require(o.k == k, s"sketch k differs: $k vs ${o.k}")
      while (levels.length < o.levels.length)
        levels += ArrayBuffer.empty[Double]
      var i = 0
      while (i < o.levels.length) { levels(i) ++= o.levels(i); i += 1 }
      n += o.n
      compactions += o.compactions
      compress()
      this
    }

    private def compress(): Unit = {
      var guard = 0
      while (retained > capSum && guard < 256) {
        // lowest compactable (≥ 2 items) level over its capacity, else
        // the lowest compactable level at all; a level with ≤ 1 item
        // can't form pairs, so selecting it would loop forever
        val overOpt = levels.indices.find(i =>
            levels(i).length > capacity(i) && levels(i).length >= 2)
          .orElse(levels.indices.find(levels(_).length >= 2))
        if (overOpt.isEmpty) return
        compactLevel(overOpt.get)
        guard += 1
      }
    }

    /** Sort level `i`, promote the (deterministically) even- or odd-
      * indexed half of its pairs to level `i+1` (weight doubles), keep
      * one unpaired leftover at level `i`. Weight-preserving: 2m items
      * of weight w become m items of weight 2w.
      */
    private def compactLevel(i: Int): Unit = {
      if (i == levels.length - 1) levels += ArrayBuffer.empty[Double]
      val sorted = levels(i).toArray
      java.util.Arrays.sort(sorted)
      val pairsLen = sorted.length & ~1
      val offset = (compactions & 1L).toInt
      val keep = ArrayBuffer.empty[Double]
      if (pairsLen < sorted.length) keep += sorted(sorted.length - 1)
      var j = offset
      while (j < pairsLen) { levels(i + 1) += sorted(j); j += 2 }
      levels(i) = keep
      compactions += 1L
    }

    def toModel: KllModel =
      KllModel(k, n, levels.map(_.toArray).toVector, compactions)
  }

  /** Immutable KLL summary. `exact` (no compaction ever fired) means the
    * sketch retains the full input multiset and [[quantile]]/[[rankOf]]
    * are exact — guaranteed when `k ≥ n`.
    */
  final case class KllModel(k: Int, n: Long, levels: Vector[Array[Double]],
                            compactions: Long) {
    def exact: Boolean = compactions == 0L
    def retained: Int = levels.iterator.map(_.length).sum

    /** Retained (value, weight) pairs sorted by value. */
    def weightedItems: Array[(Double, Long)] = {
      val out = new Array[(Double, Long)](retained)
      var idx = 0
      var lvl = 0
      while (lvl < levels.length) {
        val buf = levels(lvl)
        var i = 0
        while (i < buf.length) { out(idx) = (buf(i), 1L << lvl); idx += 1; i += 1 }
        lvl += 1
      }
      scala.util.Sorting.stableSort(out,
        (a: (Double, Long), b: (Double, Long)) => a._1 < b._1)
      out
    }

    /** Lower discrete quantile: the smallest retained value whose
      * estimated cumulative weight reaches `max(1, ceil(q*n))`. With an
      * exact sketch this is the exact rank-`ceil(q*n)` order statistic.
      */
    def quantile(q: Double): Double = {
      require(q >= 0.0 && q <= 1.0, s"q must be in [0,1], got $q")
      require(n > 0L, "quantile of an empty sketch")
      val target = math.max(1L, math.ceil(q * n).toLong)
      val items = weightedItems
      var cum = 0L
      var i = 0
      while (i < items.length) {
        cum += items(i)._2
        if (cum >= target) return items(i)._1
        i += 1
      }
      items(items.length - 1)._1
    }

    /** Estimated number of input values ≤ v (exact when [[exact]]). */
    def rankOf(v: Double): Long = {
      var cum = 0L
      var lvl = 0
      while (lvl < levels.length) {
        val buf = levels(lvl)
        var i = 0
        while (i < buf.length) {
          if (buf(i) <= v) cum += (1L << lvl)
          i += 1
        }
        lvl += 1
      }
      cum
    }

    def merge(other: KllModel): KllModel = {
      val a = toBuilder
      a.merge(other.toBuilder).toModel
    }

    private def toBuilder: KllBuilder = {
      val b = new KllBuilder(k)
      b.n = n
      b.compactions = compactions
      b.levels = scala.collection.mutable.ArrayBuffer(
        levels.map(arr =>
          scala.collection.mutable.ArrayBuffer(arr.toSeq: _*)): _*)
      b
    }
  }

  /** Fit a KLL quantile sketch in ONE pass with NO shuffle: each task
    * folds its partition's values into a local sketch; `treeAggregate`
    * merges sketches (O(k log(n/k)) doubles each on the wire). With
    * `k ≥ n` nothing compacts and quantiles are EXACT — the gate-query
    * mode; compare exact `percentile`, which sorts every value through
    * a shuffle. Nulls and NaNs are skipped (no rank semantics).
    */
  def kllFit(df: DataFrame, valueCol: String, k: Int = 2048): KllModel = {
    require(k >= 8, s"k must be >= 8, got $k")
    val vals = df.select(col(valueCol).cast("double").as("v"))
      .where(col("v").isNotNull && !isnan(col("v")))
    vals.rdd.map(_.getDouble(0))
      .treeAggregate(new KllBuilder(k))(
        seqOp = { (b, v) => b.update(v); b },
        combOp = { (a, b) => a.merge(b) })
      .toModel
  }

  /** Per-group KLL MODEL fit (not just quantile estimates): one hash
    * aggregation with map-side partial sketches, one bounded
    * driver-collect of (group → model) — the fit-collect is
    * group-count-sized by the KLL space contract (O(k log(n/k))
    * doubles per group), the [[countMinFit]]/[[kmvFit]] convention.
    * Feed the result to [[Pipeline.quantileNormalizeBySketch]] for
    * window-free rank normalization.
    */
  def kllFitByKey(df: DataFrame, keyCol: String, valueCol: String,
                  k: Int = 2048): Map[String, KllModel] = {
    require(k >= 8, s"k must be >= 8, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(keyCol).cast("string").as("g"),
        col(valueCol).cast("double").as("v"))
      .where(col("g").isNotNull && col("v").isNotNull && !isnan(col("v")))
      .as[(String, Double)]
      .groupByKey(_._1)
      .mapValues(t => java.lang.Double.valueOf(t._2))(Encoders.DOUBLE)
      .agg(new KllModelAgg(k).toColumn)
      .collect().toMap
  }

  /** The groupBy face: a typed `Aggregator` wrapped as a UDAF, so
    * per-group quantiles run in ONE hash aggregation with map-side
    * partial sketches — `docs.groupBy("lang").agg(kllQuantilesUdaf(k,
    * qs)(col("n_chars")))` never sorts or shuffles raw values, only
    * sketch buffers. Returns the `qs` quantile estimates as an array
    * column (index-aligned with `qs`).
    */
  def kllQuantilesUdaf(k: Int, qs: Seq[Double])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      "qs must be non-empty probabilities")
    // boxed input: a primitive Double encoder silently decodes SQL NULL
    // as 0.0 and poisons the sketch — nulls must reach reduce() as null
    udaf(new KllAgg(k, qs), Encoders.DOUBLE)
  }

  /** The streaming face of [[kllFit]]. Unlike the CMS/theta/top-k streams,
    * quantile estimates are NOT combinable across disjoint-key shards
    * without the underlying models, so this face keeps ONE global sketch
    * cell (the kryo'd builder, O(k log(n/k)) doubles) and emits the
    * updated (q, est, n) rows per micro-batch. The state is the fixed
    * sketch size and per-row update is O(1) amortized; at rates where a
    * single stateful task saturates, run per-partition [[kllFit]]
    * sketches in `foreachBatch` and [[KllModel.merge]] them instead —
    * the batch fit is the scale path, this face is the always-on
    * monitor.
    */
  def kllStream(events: DataFrame, valueCol: String, k: Int = 2048,
                qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    require(k >= 8 && qs.nonEmpty, "k >= 8 and qs non-empty")
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col(valueCol).cast("double").as("v"))
      .where(col("v").isNotNull && !isnan(col("v")))
      .select(lit(0L).as("shard"), col("v"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[(Long, Double)],
         state: GroupState[KllBuilder]) =>
          val b = state.getOption.getOrElse(new KllBuilder(k))
          rows.foreach { case (_, v) => b.update(v) }
          state.update(b)
          val model = b.toModel
          qs.iterator.map(q => (q, model.quantile(q), model.n))
      }(Encoders.kryo[KllBuilder], Encoders.product[(Double, Double, Long)])
      .toDF("q", "est", "n")
  }
}

/** The groupBy KLL aggregator: buffer is the mutable [[Sketches.KllBuilder]]
  * (kryo-encoded between partial and final aggregation), output the
  * requested quantile estimates. A group whose values are all null/NaN
  * (empty sketch) yields NaNs — rank semantics need at least one value.
  */
/** [[Sketches.kllFitByKey]]'s aggregator: same partial-sketch shape as
  * [[KllAgg]] but finishes with the MODEL, so callers can probe ranks,
  * not just pre-chosen quantiles.
  */
private[ext] class KllModelAgg(k: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      java.lang.Double, Sketches.KllBuilder, Sketches.KllModel] {
  def zero: Sketches.KllBuilder = new Sketches.KllBuilder(k)
  def reduce(b: Sketches.KllBuilder,
             v: java.lang.Double): Sketches.KllBuilder = {
    if (v != null && !v.isNaN) b.update(v.doubleValue())
    b
  }
  def merge(a: Sketches.KllBuilder,
            b: Sketches.KllBuilder): Sketches.KllBuilder = a.merge(b)
  def finish(b: Sketches.KllBuilder): Sketches.KllModel = b.toModel
  def bufferEncoder: org.apache.spark.sql.Encoder[Sketches.KllBuilder] =
    Encoders.kryo[Sketches.KllBuilder]
  def outputEncoder: org.apache.spark.sql.Encoder[Sketches.KllModel] =
    Encoders.kryo[Sketches.KllModel]
}

private[ext] class KllAgg(k: Int, qs: Seq[Double])
    extends org.apache.spark.sql.expressions.Aggregator[
      java.lang.Double, Sketches.KllBuilder, Seq[Double]] {
  def zero: Sketches.KllBuilder = new Sketches.KllBuilder(k)
  def reduce(b: Sketches.KllBuilder,
             v: java.lang.Double): Sketches.KllBuilder = {
    if (v != null && !v.isNaN) b.update(v.doubleValue())
    b
  }
  def merge(a: Sketches.KllBuilder,
            b: Sketches.KllBuilder): Sketches.KllBuilder = a.merge(b)
  def finish(b: Sketches.KllBuilder): Seq[Double] =
    if (b.n == 0L) qs.map(_ => Double.NaN)
    else { val m = b.toModel; qs.map(m.quantile) }
  def bufferEncoder: org.apache.spark.sql.Encoder[Sketches.KllBuilder] =
    Encoders.kryo[Sketches.KllBuilder]
  def outputEncoder: org.apache.spark.sql.Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
}

