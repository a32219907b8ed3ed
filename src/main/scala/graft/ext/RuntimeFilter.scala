package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfn.BloomFunctions.{bloom_filter_agg, might_contain}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.util.sketch.BloomFilter

/** Explicit runtime-filter join: prune the fact side with a Bloom filter
  * of the (small, usually pre-filtered) dim side's keys BEFORE the join's
  * shuffle. The join result is identical — Bloom filters have no false
  * negatives, and the join itself drops the false positives — but every
  * fact row whose key the dim can't match is dropped at the SCAN, not
  * after riding a 100 TB shuffle to a reducer that discards it. At a 1%
  * dim match rate that is a ~99% cut in fact-side shuffle volume, the
  * difference between a join that fits the fabric and one that doesn't.
  *
  * This is the semi-join reduction classic (Bernstein & Chiu 1981) in its
  * Bloom form — what Spark's own `InjectRuntimeFilter` does
  * opportunistically, here as a deliberate operator built from the same
  * two expressions (`BloomFilterAggregate`, `BloomFilterMightContain`).
  */
object RuntimeFilter {

  /** Might the long `probe` be one of `key`'s values over `build`? The
    * filter is a scalar subquery built while the query runs; two probes
    * of one filter in a plan share one build (`ReusedSubquery`).
    *
    * Sized for `expectedItems` when > 0, else Spark's
    * `runtime.bloomFilter.expectedNumItems` (1 M, `InjectRuntimeFilter`'s
    * figure for a plan without a row count), at
    * `BloomFilter.optimalNumOfBits(n, fpp)`. Spark caps it at 4 M items /
    * 64 Mbit, so use it only where false positives never change the
    * answer. An empty build probes `false`.
    */
  def mightContain(build: DataFrame, key: Column, probe: Column,
                   fpp: Double, expectedItems: Long = -1L): Column = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1); got $fpp")
    val n =
      if (expectedItems > 0L) expectedItems
      else build.sparkSession.conf
        .get("spark.sql.optimizer.runtime.bloomFilter.expectedNumItems").toLong
    val filter = build
      .select(bloom_filter_agg(key, n, BloomFilter.optimalNumOfBits(n, fpp)))
      .scalar()
    coalesce(might_contain(filter, probe), lit(false))
  }

  /** The long lane a join key probes, with its family: integral keys as
    * themselves, strings by `xxhash64`. Other key types (decimal, struct)
    * are rejected rather than silently coerced — a cast that nulls is a
    * correctness bug, not a fallback.
    */
  private def lane(df: DataFrame, key: String): (String, Column) =
    df.schema(key).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        ("integral", col(key).cast("long"))
      case StringType => ("string", xxhash64(col(key)))
      case other =>
        throw new IllegalArgumentException(
          s"bloomPrunedJoin supports integral and string keys; '$key' is $other")
    }

  /** `fact` without the rows whose key the dim's Bloom filter rejects.
    * Both keys must share a lane family: a string key against an integral
    * one would probe hashes of text against raw longs and drop matches.
    */
  private def pruned(fact: DataFrame, dim: DataFrame, factKey: String,
                     dimKey: String, fpp: Double,
                     expectedKeys: Long): DataFrame = {
    val (factLane, probe) = lane(fact, factKey)
    val (dimLane, built) = lane(dim, dimKey)
    require(factLane == dimLane,
      s"bloomPrunedJoin keys must share a type family; '$factKey' is " +
        s"$factLane, '$dimKey' is $dimLane")
    fact.where(col(factKey).isNotNull && mightContain(
      dim.where(col(dimKey).isNotNull), built, probe, fpp, expectedKeys))
  }

  /** `fact ⋈ dim` with the fact side Bloom-pruned first. Only join types
    * where dropping never-matching fact rows is semantics-preserving are
    * accepted: `inner`, `left_semi`, and `right_outer` (fact-side
    * non-matches leave the result in all three; an outer/anti fact side
    * must keep them).
    *
    * Cost contract: the filter is one aggregate over the dim inside the
    * join's own execution, sized as in [[mightContain]] — pass
    * `expectedKeys` when you know it (table stats, a previous run).
    *
    * `fpp` trades filter size against wasted shuffle: at 0.01, ~1% of
    * non-matching fact rows still ride the shuffle and die in the join.
    */
  def bloomPrunedJoin(fact: DataFrame, dim: DataFrame,
                      factKey: String, dimKey: String,
                      joinType: String = "inner",
                      fpp: Double = 0.01,
                      expectedKeys: Long = -1L): DataFrame = {
    val allowed = Set("inner", "left_semi", "right_outer")
    require(allowed(joinType.toLowerCase.replace("leftsemi", "left_semi")),
      s"bloomPrunedJoin preserves semantics only for ${allowed.mkString("/")}" +
        s" joins; got '$joinType'")
    val p = pruned(fact, dim, factKey, dimKey, fpp, expectedKeys)
    p.join(dim, p(factKey) === dim(dimKey), joinType)
  }

  /** Measured prune factor for a would-be [[bloomPrunedJoin]]: (fact rows,
    * fact rows surviving the Bloom, dim keys) — the planning probe that
    * tells you whether the runtime filter pays for itself before you wire
    * it into a 100 TB pipeline (a kept/total ratio near 1.0 means the
    * filter is pure overhead). The dim's distinct key count is reported,
    * so it is counted, and the filter is sized to it.
    */
  def bloomPruneStats(fact: DataFrame, dim: DataFrame,
                      factKey: String, dimKey: String,
                      fpp: Double = 0.01): (Long, Long, Long) = {
    val nKeys = dim.select(col(dimKey)).where(col(dimKey).isNotNull)
      .distinct().count()
    val total = fact.count()
    val kept = pruned(fact, dim, factKey, dimKey, fpp, math.max(1L, nKeys))
      .count()
    (total, kept, nKeys)
  }
}
