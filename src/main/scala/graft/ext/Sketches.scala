package graft.ext

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** One-pass frequency sketches. The motivating 100 TB problem: "what are
  * the hot keys / hot terms / hot domains" over a corpus too large to
  * groupBy — a full key aggregation shuffles every distinct key, while a
  * Misra-Gries summary ships at most `capacity` rows PER PARTITION,
  * regardless of how many distinct keys the data holds.
  */
object Sketches {

  /** Fold keys into a Misra-Gries summary map in place: the classic
    * streaming heavy-hitters algorithm (Misra & Gries 1982, the
    * space-saving family). Estimates undercount: after folding n rows,
    * `c_true − n/(capacity+1) ≤ est ≤ c_true`. Null keys are skipped
    * (no frequency semantics).
    */
  private[graft] def mgFold(m: java.util.HashMap[Any, Long],
                            it: Iterator[Any], capacity: Int): Unit =
    while (it.hasNext) {
      val key = it.next()
      if (key != null) {
        val cur = m.get(key)
        if (cur != 0L || m.containsKey(key)) m.put(key, cur + 1L)
        else if (m.size < capacity) m.put(key, 1L)
        else {
          // decrement-all: every tracked count drops by one; zeros evict.
          // O(capacity) amortized over >= capacity arrivals.
          val del = new java.util.ArrayList[Any](4)
          val e = m.entrySet().iterator()
          while (e.hasNext) {
            val kv = e.next()
            if (kv.getValue == 1L) del.add(kv.getKey)
            else kv.setValue(kv.getValue - 1L)
          }
          del.forEach(k => m.remove(k))
        }
      }
    }

  private[ext] def misraGries(it: Iterator[Any],
                              capacity: Int): Iterator[(Any, Long)] = {
    val m = new java.util.HashMap[Any, Long](capacity * 2)
    mgFold(m, it, capacity)
    import scala.jdk.CollectionConverters._
    m.asScala.iterator.map { case (k, v) => (k, v) }.toArray.iterator
  }

  /** Approximate top-k heavy hitters over `keyCol`, ONE pass and no
    * full-key shuffle: each partition reduces to a `capacity`-entry
    * Misra-Gries summary; summaries merge by summing per key (≤
    * capacity × partitions tiny rows cross the wire); the merged
    * estimates keep the additive bound
    * `c_true − N/(capacity+1) ≤ est ≤ c_true`, so any key with frequency
    * above N/(capacity+1) is guaranteed present. With
    * `capacity ≥ distinct(key)` no partition ever decrements and the
    * estimates are EXACT — the gate-query mode.
    *
    * Returns (key, est) — top `k` by estimate desc, key asc. Null keys
    * are not tracked (no frequency semantics). Key column keeps its
    * input type.
    *
    * 100 TB shape: a narrow single-column scan; the only exchange
    * carries per-partition summaries (capacity rows each); the final
    * ranking is a TakeOrderedAndProject over ≤ capacity × partitions
    * rows. Compare `df.groupBy(key).count()`: one shuffle row per INPUT
    * distinct key — unboundedly wider.
    */
  def heavyHitters(df: DataFrame, keyCol: String, k: Int,
                   capacity: Int = 1024): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(capacity >= k, s"capacity $capacity must be >= k $k")
    val keyField = df.schema(keyCol)
    val outSchema = StructType(Seq(keyField.copy(name = "key"),
      StructField("est", LongType, nullable = false)))
    val partials = df.select(col(keyCol).as("key"))
      .mapPartitions { rows =>
        misraGries(rows.map(_.get(0)), capacity)
          .map { case (key, c) => Row(key, c) }
      }(Encoders.row(outSchema))
    partials.groupBy(col("key"))
      .agg(sum(col("est")).as("est"))
      .orderBy(col("est").desc, col("key"))
      .limit(k)
  }

  /** A fitted Count-Min sketch (Cormode & Muthukrishnan 2005): `depth`
    * hash rows × `width` counters, plus the total item count `n`.
    * `estimate(key)` = min over rows — never under the true count, and
    * over it by at most `⌈e/width⌉·n` with probability `1 − e^-depth`.
    * Counters are pure sums, so the fit is aggregation-order-independent
    * (bit-identical across partitionings) and two sketches with the same
    * dimensions [[CmsModel.merge]] by elementwise addition.
    */
  final case class CmsModel(depth: Int, width: Int, counts: Array[Long],
                            n: Long) {
    def estimate(key: String): Long = {
      var best = Long.MaxValue
      var r = 0
      while (r < depth) {
        val c = counts(r * width + CmsModel.idx(r, width, key))
        if (c < best) best = c
        r += 1
      }
      if (best == Long.MaxValue) 0L else best
    }

    def merge(other: CmsModel): CmsModel = {
      require(other.depth == depth && other.width == width,
        s"sketch dims differ: ${depth}x$width vs ${other.depth}x${other.width}")
      val out = new Array[Long](counts.length)
      var i = 0
      while (i < counts.length) {
        out(i) = counts(i) + other.counts(i); i += 1
      }
      CmsModel(depth, width, out, n + other.n)
    }
  }

  object CmsModel {
    private val md = new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

    /** Row-salted md5-derived counter index — deterministic across JVMs
      * and seeds (no per-run RNG: replays and spec reruns see the same
      * collisions).
      */
    private[ext] def idx(row: Int, width: Int, key: String): Int = {
      val d = md.get()
      d.reset()
      d.update((row + ":" + key).getBytes("UTF-8"))
      val dig = d.digest()
      var v = 0L
      var i = 0
      while (i < 8) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
      ((v >>> 4) % width).toInt
    }
  }

  /** Fit a Count-Min sketch over `keyCol` in ONE pass with NO shuffle:
    * each task folds its rows into a local `depth × width` counter array
    * (`depth·width·8` bytes, e.g. 4×4096 → 128 KB) and the arrays reduce
    * through `treeAggregate` — the wire carries sketches, never keys. The
    * point-frequency complement of [[heavyHitters]]: Misra-Gries answers
    * "which keys are hot", Count-Min answers "how hot is THIS key" for
    * any key, including ones below the heavy-hitter floor.
    *
    * With `width` collision-free for the queried key set the estimates
    * are EXACT (the gate-query mode); at 100 TB the same 128 KB sketch
    * absorbs any cardinality — the accuracy knob is `width`, not data
    * size. Null keys are skipped (no frequency semantics).
    */
  def countMinFit(df: DataFrame, keyCol: String, width: Int = 4096,
                  depth: Int = 4): CmsModel = {
    require(width >= 2 && depth >= 1, "width >= 2 and depth >= 1")
    val keys = df.select(col(keyCol).cast("string").as("key"))
      .where(col("key").isNotNull)
    val (counts, n) = keys.rdd.map(_.getString(0))
      .treeAggregate((new Array[Long](depth * width), 0L))(
        seqOp = { case ((arr, c), key) =>
          var r = 0
          while (r < depth) {
            arr(r * width + CmsModel.idx(r, width, key)) += 1L; r += 1
          }
          (arr, c + 1L)
        },
        combOp = { case ((a, ca), (b, cb)) =>
          var i = 0
          while (i < a.length) { a(i) += b(i); i += 1 }
          (a, ca + cb)
        })
    CmsModel(depth, width, counts, n)
  }

  /** Estimate column face: `cms_est` for each row's `keyCol` under a
    * fitted model — the model rides the closure (≤ a few hundred KB), a
    * pure narrow map. */
  def cmsEstimate(df: DataFrame, keyCol: String,
                  model: CmsModel): DataFrame = {
    val est = udf((k: String) => if (k == null) 0L else model.estimate(k))
    df.withColumn("cms_est", est(col(keyCol).cast("string")))
  }

  /** A fitted KMV (k-minimum-values / bottom-k) distinct sketch: the k
    * smallest 60-bit hash values seen. Below saturation the sketch IS the
    * distinct hash set (estimate exact); saturated, the classic estimator
    * `(k−1)·2⁶⁰ / kth-min` applies (relative error ≈ 1/√(k−1)). The
    * third leg of the sketch triad: Misra-Gries answers "which keys",
    * Count-Min "how many of THIS key", KMV "how many DISTINCT keys" —
    * all mergeable, all one-pass, all with wire cost independent of
    * cardinality.
    */
  final case class KmvModel(k: Int, mins: Array[Long]) {
    def saturated: Boolean = mins.length >= k

    def estimate: Long =
      if (!saturated) mins.length.toLong
      else math.round((k - 1).toDouble *
        1152921504606846976.0 /* 2^60 */ / mins.last)

    def merge(other: KmvModel): KmvModel = {
      require(other.k == k, s"sketch k differs: $k vs ${other.k}")
      val s = new java.util.TreeSet[java.lang.Long]()
      mins.foreach(s.add(_))
      other.mins.foreach(s.add(_))
      while (s.size > k) s.pollLast()
      KmvModel(k, kmvToArray(s))
    }
  }

  private[ext] def kmvToArray(s: java.util.TreeSet[java.lang.Long]): Array[Long] = {
    val out = new Array[Long](s.size)
    val it = s.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }

  private[ext] def kmvHash60(key: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val dig = d.digest(key.getBytes("UTF-8"))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Fit a KMV sketch in ONE pass with NO shuffle: each task keeps its
    * own bottom-k tree of key hashes; `treeAggregate` merges trees (≤ k
    * Longs each on the wire). With `k ≥ distinct(key)` the sketch holds
    * every distinct hash and the estimate is EXACT — the gate-query mode;
    * compare `count_distinct`, which shuffles every distinct key.
    * Null keys are skipped.
    */
  def kmvFit(df: DataFrame, keyCol: String, k: Int = 4096): KmvModel = {
    require(k >= 2, s"k must be >= 2, got $k")
    val keys = df.select(col(keyCol).cast("string").as("key"))
      .where(col("key").isNotNull)
    val set = keys.rdd.map(_.getString(0))
      .treeAggregate(new java.util.TreeSet[java.lang.Long]())(
        seqOp = { (s, key) =>
          s.add(kmvHash60(key))
          if (s.size > k) s.pollLast()
          s
        },
        combOp = { (a, b) =>
          val it = b.iterator()
          while (it.hasNext) {
            a.add(it.next())
            if (a.size > k) a.pollLast()
          }
          a
        })
    KmvModel(k, kmvToArray(set))
  }

  /** The streaming face of [[countMinFit]] (the [[heavyHittersStream]]
    * pattern): keys hash into `nShards` independent CMS counter arrays;
    * each micro-batch folds its keys into its shard's array and emits the
    * UPDATED point estimate for every distinct key seen in that batch —
    * an Update-mode changelog where the latest (key, est) row is the
    * running estimate. A static frame runs the same kernel as one batch.
    *
    * A key belongs to exactly one shard, so estimates never need a
    * cross-shard merge, and the per-shard fold preserves the batch CMS
    * guarantees (never under the shard's true count, exact when `width`
    * is collision-free). State is bounded by construction —
    * `nShards × depth × width` Longs, forever, no watermark.
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
    events.select(col(keyCol).cast("string").as("key"))
      .where(col("key").isNotNull)
      .select(pmod(xxhash64(col("key")), lit(nShards)).cast("long")
        .as("shard"), col("key"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (shard: Long, rows: Iterator[(Long, String)],
         state: GroupState[Array[Long]]) =>
          // one flat depth × width counter array per shard
          val arr = state.getOption.getOrElse(new Array[Long](depth * width))
          val batchKeys = new java.util.LinkedHashSet[String]()
          rows.foreach { case (_, key) =>
            var r = 0
            while (r < depth) {
              arr(r * width + CmsModel.idx(r, width, key)) += 1L
              r += 1
            }
            batchKeys.add(key)
          }
          state.update(arr)
          val model = CmsModel(depth, width, arr, 0L)
          batchKeys.asScala.iterator.map(k => (shard, k, model.estimate(k)))
      }
      .toDF("shard", "key", "est")
  }

  /** The streaming face of [[kmvFit]]: keys hash into `nShards` disjoint
    * subspaces; each shard keeps the bottom-k hashes of ITS OWN keys (a
    * sorted Long array, ≤ k by contract) and emits one
    * (shard, n_distinct, saturated) row per batch it touches. Shards
    * partition the key space, so the GLOBAL distinct count is the SUM of
    * the latest per-shard rows — exact while every shard stays below
    * saturation, estimate-summed above. State: ≤ nShards × k Longs,
    * forever, no watermark.
    */
  def kmvStream(events: DataFrame, keyCol: String, k: Int = 4096,
                nShards: Int = 8): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    require(k >= 2 && nShards >= 1, "k >= 2 and nShards >= 1")
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col(keyCol).cast("string").as("key"))
      .where(col("key").isNotNull)
      .select(pmod(xxhash64(col("key")), lit(nShards)).cast("long")
        .as("shard"), col("key"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (shard: Long, rows: Iterator[(Long, String)],
         state: GroupState[Array[Long]]) =>
          val s = new java.util.TreeSet[java.lang.Long]()
          state.getOption.foreach(_.foreach(s.add(_)))
          rows.foreach { case (_, key) =>
            s.add(kmvHash60(key))
            if (s.size > k) s.pollLast()
          }
          val arr = kmvToArray(s)
          state.update(arr)
          val model = KmvModel(k, arr)
          Iterator.single((shard, model.estimate, model.saturated))
      }
      .toDF("shard", "n_distinct", "saturated")
  }

  /** The streaming face of [[heavyHitters]]: keys hash into `nShards`
    * independent summaries; each shard folds its micro-batch into a
    * capacity-bounded Misra-Gries map (one state cell, rewritten per
    * batch — the summary is small by contract) and emits the updated
    * summary as an Update-mode changelog (shard, key, est).
    *
    * Because a key belongs to exactly ONE shard, per-key estimates need
    * no cross-shard merge — the latest (shard, key) row IS the estimate,
    * with the additive bound `c_true − n_shard/(capacity+1) ≤ est ≤
    * c_true` over that shard's arrivals. State is bounded by
    * construction: `nShards × capacity` entries total, forever, no
    * watermark needed. Null keys are dropped; keys are tracked as
    * strings (cast), the changelog-friendly form.
    */
  def heavyHittersStream(events: DataFrame, keyCol: String, capacity: Int,
                         nShards: Int = 8): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    import scala.jdk.CollectionConverters._
    require(capacity >= 1 && nShards >= 1, "capacity and nShards >= 1")
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col(keyCol).cast("string").as("key"))
      .where(col("key").isNotNull)
      .select(pmod(xxhash64(col("key")), lit(nShards)).cast("long")
        .as("shard"), col("key"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (shard: Long, rows: Iterator[(Long, String)],
         state: GroupState[Map[String, Long]]) =>
          val m = new java.util.HashMap[Any, Long](capacity * 2)
          state.getOption.foreach(_.foreach { case (k, v) => m.put(k, v) })
          mgFold(m, rows.map(_._2), capacity)
          val snap = m.asScala.map { case (k, v) =>
            k.asInstanceOf[String] -> v }.toMap
          state.update(snap)
          snap.iterator.map { case (k, v) => (shard, k, v) }
      }
      .toDF("shard", "key", "est")
  }

  // ── KLL quantile sketch ──────────────────────────────────────────────
  //
  // The quantile member of the sketch family (alongside Misra-Gries for
  // heavy hitters, Count-Min for point frequencies, KMV for distinct
  // counts): a mergeable rank/quantile summary after Karnin, Lang &
  // Liberty, "Optimal quantile approximation in streams" (FOCS 2016).
  // The motivating 100 TB problem: "what is p99 doc length / p50 score"
  // over a corpus where exact `percentile` shuffles and sorts every
  // value — a KLL sketch ships O(k log(n/k)) doubles per partition and
  // merges associatively, so the fit is ONE scan with NO shuffle
  // (treeAggregate), like [[kmvFit]].
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
  // (the gate-query mode, same convention as the other three sketches).

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

  /** The groupBy face of [[kmvFit]]: per-group distinct-count estimates
    * as a typed `Aggregator` UDAF — "distinct users per event type /
    * distinct URLs per domain" over 100 TB in ONE hash aggregation whose
    * wire traffic is ≤ k hashes per (partition × group), never the
    * distinct values themselves (`countDistinct` shuffles every distinct
    * (group, value) pair — unboundedly wider). Exact while a group's
    * distinct count stays ≤ k (the gate-query mode), KMV-estimated
    * above. Null values are skipped (no distinct semantics).
    */
  def kmvDistinctUdaf(k: Int = 4096)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(k >= 2, s"k must be >= 2, got $k")
    udaf(new KmvDistinctAgg(k), Encoders.STRING)
  }

  /** The streaming face of [[kllFit]]. Unlike the CMS/KMV/MG streams,
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

/** The per-group KMV aggregator: buffer is the bottom-k tree of value
  * hashes (kryo-encoded between partial and final aggregation), output
  * the KMV distinct estimate — exact below saturation.
  */
private[ext] class KmvDistinctAgg(k: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      String, java.util.TreeSet[java.lang.Long], Long] {
  def zero: java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()
  def reduce(s: java.util.TreeSet[java.lang.Long],
             key: String): java.util.TreeSet[java.lang.Long] = {
    if (key != null) {
      s.add(Sketches.kmvHash60(key))
      if (s.size > k) s.pollLast()
    }
    s
  }
  def merge(a: java.util.TreeSet[java.lang.Long],
            b: java.util.TreeSet[java.lang.Long])
      : java.util.TreeSet[java.lang.Long] = {
    val it = b.iterator()
    while (it.hasNext) {
      a.add(it.next())
      if (a.size > k) a.pollLast()
    }
    a
  }
  def finish(s: java.util.TreeSet[java.lang.Long]): Long =
    Sketches.KmvModel(k, Sketches.kmvToArray(s)).estimate
  def bufferEncoder
      : org.apache.spark.sql.Encoder[java.util.TreeSet[java.lang.Long]] =
    Encoders.kryo[java.util.TreeSet[java.lang.Long]]
  def outputEncoder: org.apache.spark.sql.Encoder[Long] =
    Encoders.scalaLong
}
