package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.floorDiv

/** Range/interval joins — `point BETWEEN start AND end` and
  * interval-overlap — as shuffle equi-joins on coarse bins instead of the
  * theta-join Spark would otherwise plan (BroadcastNestedLoopJoin: every
  * point row replicated to every interval partition — a non-starter at
  * scale). Not in the reference (its joins are key-equality only,
  * SURVEY §2.4); Spark has no native range-join strategy.
  *
  * The trick: quantize the domain into fixed-width bins. A point falls in
  * exactly one bin; an interval covers `(end-start)/binWidth + 1` of them
  * (exploded). Equi-joining on the bin (plus any real keys) touches only
  * co-binned pairs; the residual `BETWEEN` filter restores exactness. Each
  * qualifying (point, interval) pair meets in exactly ONE bin — the
  * point's — so no dedup stage is needed. For interval×interval overlap,
  * a pair shares every bin both cover; emitting only from the FIRST shared
  * bin (`greatest(bin(l.start), bin(r.start))`) keeps each pair once
  * without any stateful dedup.
  *
  * At 100 TB: cost is one exchange per side on (keys, bin) — the same
  * shape as any keyed join, AQE-skew-splittable — plus an explode factor
  * of `span/binWidth + 1` on the interval side only. Pick `binWidth` near
  * the TYPICAL interval length: explode factor ≈ 2 while a bin holds few
  * enough points to probe. A pathological interval (span ≫ binWidth)
  * degrades gracefully into many bin rows rather than a cross product;
  * cap it upstream if the domain allows. Bins come from
  * [[graft.functions.floorDiv]], exact for every long bound.
  */
object IntervalJoin {

  /** For each interval row, every point row with
    * `start <= point <= end` (closed on both ends) and equal `keys`.
    * Columns of both inputs are carried through (keys once) — keep the
    * non-key names disjoint. All three bound columns must be integral
    * (cast timestamps to epoch seconds upstream).
    *
    * @param points    side with one value per row (`pointCol`)
    * @param intervals side with `[startCol, endCol]` per row (end ≥ start
    *                  assumed; reversed intervals simply match nothing)
    * @param binWidth  bin size in the bound columns' unit
    * @param keys      extra equi-join key column names (both sides)
    */
  def pointInInterval(points: DataFrame, intervals: DataFrame,
                      pointCol: String, startCol: String, endCol: String,
                      binWidth: Long, keys: Seq[String] = Nil): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val p = points.withColumn("__bin",
      floorDiv(col(pointCol), lit(binWidth)))
    val iv = intervals.withColumn("__bin",
      explode(sequence(floorDiv(col(startCol), lit(binWidth)),
                       floorDiv(col(endCol), lit(binWidth)))))
    iv.join(p, keys :+ "__bin")
      .where(col(pointCol).between(col(startCol), col(endCol)))
      .drop("__bin")
  }

  /** Every (left, right) interval pair that overlaps —
    * `lStart <= rEnd AND rStart <= lEnd` (closed ends) — with equal
    * `keys`. Both sides explode to their covered bins; a pair emits only
    * from the first bin both cover, so each overlapping pair appears
    * exactly once. Bound columns must be integral, non-key names disjoint.
    */
  def intervalOverlap(left: DataFrame, right: DataFrame,
                      lStart: String, lEnd: String,
                      rStart: String, rEnd: String,
                      binWidth: Long, keys: Seq[String] = Nil): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val l = left.withColumn("__bin",
      explode(sequence(floorDiv(col(lStart), lit(binWidth)),
                       floorDiv(col(lEnd), lit(binWidth)))))
    val r = right.withColumn("__bin",
      explode(sequence(floorDiv(col(rStart), lit(binWidth)),
                       floorDiv(col(rEnd), lit(binWidth)))))
    l.join(r, keys :+ "__bin")
      .where(col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd) &&
        col("__bin") === greatest(floorDiv(col(lStart), lit(binWidth)),
                                  floorDiv(col(rStart), lit(binWidth))))
      .drop("__bin")
  }

  /** Coverage-gap audit over per-key validity intervals: one row per
    * uncovered hole — a stretch strictly inside [key's first start,
    * key's last end] that no interval covers. THE continuity check for
    * SCD2 dimensions and sensor-validity tables ("was every instant
    * between first and last sight covered by some row?"); overlapping
    * and nested intervals are fine (a hole opens only when the running
    * max of ends falls short of the next start). Closed-interval
    * convention matching [[pointInInterval]]: adjacent rows [0,5],[6,9]
    * leave no hole (every integral instant is covered); [0,5],[7,9]
    * leave the one-instant hole [6,6]. Bound columns must be integral;
    * output is (keys..., gap_start, gap_end, gap_len) with
    * gap_len = gap_end − gap_start + 1 in the bounds' unit.
    *
    * Scale shape: one hash exchange on the key + one sort by start
    * feeds both the running max(end) and the lag — a single window
    * pass, integer-exact; output is holes-sized, not corpus-sized.
    */
  def coverageGaps(intervals: DataFrame, keys: Seq[String],
                   startCol: String, endCol: String): DataFrame = {
    require(keys.nonEmpty, "coverageGaps needs at least one key column")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(startCol).asc, col(endCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val covered = max(col(endCol).cast("long")).over(w)
    intervals
      .withColumn("__cov", covered)
      .where(col("__cov").isNotNull &&
        col(startCol).cast("long") > col("__cov") + 1L)
      .select(keys.map(col) :+
        (col("__cov") + 1L).as("gap_start") :+
        (col(startCol).cast("long") - 1L).as("gap_end") :+
        (col(startCol).cast("long") - col("__cov") - 1L).as("gap_len"): _*)
  }
}
