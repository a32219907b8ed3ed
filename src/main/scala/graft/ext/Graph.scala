package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.floorDiv

/** Link-graph analytics for crawl curation: PageRank-family centrality is
  * the classic page/domain quality prior (Common Crawl ships harmonic
  * centrality and PageRank per domain; crawl frontiers and quality
  * weights consume it).
  *
  * Ranks are integer ppm (2⁻²⁰-ish grid: 1.0 ≡ 1 000 000) and every step
  * is exact Long arithmetic — shares floor-divided by
  * [[graft.functions.floorDiv]] and damped sums — so
  * the whole iteration is aggregation-order-independent and replayable in
  * any engine (the kmeansFitQ / fitLinearHashed contract): the gate
  * oracle re-runs ALL iterations in DuckDB and must match bit-for-bit.
  *
  * Scale shape per iteration: contributions = edges ⋈ ranks ⋈ out-degree
  * (all keyed on src — ranks and degree share the edge partitioning) then
  * ONE partial-agg'd shuffle keyed on dst; nothing collects to the
  * driver. Dangling nodes (out-degree 0) contribute nothing — the
  * standard simplification; their mass leaks, uniformly shrinking ranks,
  * which a quality PRIOR does not care about (only the ordering does).
  */
object Graph {

  private val R = 1000000L // one unit of rank, in ppm

  /** `iters` rounds of damped PageRank over `(srcCol, dstCol)` edges.
    * Damping is the exact rational dampNum/dampDen (default 85/100).
    * Returns (node, rank_ppm) for every node that appears as a source or
    * a target; all nodes start at rank 1.0 (= 1e6 ppm).
    *
    * Depth shape: `e`, `nodes` and `deg` are plain frames whose
    * exchanges the iterations of one query share, so the prefix is
    * derived once per query, not once per pass. They are deliberately
    * NOT persisted:
    * adaptive execution gives every scan of a not-yet-built cache its
    * own building job, and each iteration scans them, so a persist
    * would rebuild the same blocks once per reference. Materialize an
    * expensive `edges` input upstream (an eager `localCheckpoint`).
    * `ranks` lineage is truncated by an eager `localCheckpoint` every
    * `checkpointEvery` iterations so a realistic
    * 20-50 iteration run keeps a flat per-iteration plan instead of a
    * superlinearly growing one. Checkpoint results are exact — lineage
    * truncation cannot change integer arithmetic — so the gate oracle's
    * bit-for-bit DuckDB replay is unaffected.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, dampNum: Long = 85L,
               dampDen: Long = 100L, checkpointEvery: Int = 5): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampNum >= 0 && dampNum <= dampDen && dampDen > 0,
      s"damping $dampNum/$dampDen must be a fraction in [0, 1]")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1, got $checkpointEvery")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val nodes =
      e.select(explode(array(col("src"), col("dst"))).as("node")).distinct()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val base = (dampDen - dampNum) * R / dampDen // exact Long floor
    var ranks = nodes.withColumn("rank_ppm", lit(R))
    var it = 0
    while (it < iters) {
      val contrib = e
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst"),
          floorDiv(col("rank_ppm"), col("deg")).as("share"))
        .groupBy(col("dst"))
        .agg(sum(col("share")).as("s"))
      ranks = nodes
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"),
          (lit(base) + floorDiv(lit(dampNum) * coalesce(col("s"), lit(0L)),
            lit(dampDen))).as("rank_ppm"))
      it += 1
      if (it % checkpointEvery == 0 && it < iters)
        // registered so releaseAll reclaims the block (CacheManager
        // never tracks localCheckpoint persists)
        ranks = OpCaches.checkpoint(ranks)
    }
    ranks
  }
}
