package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.floorDiv

/** Approximate/exact nearest-neighbor search over an embedding column
  * (BASELINE.json north-star). Two tiers:
  *  - brute-force cosine top-k: the exactness baseline — a broadcast join of
  *    the (small) query set against the corpus, one pass, no shuffle of the
  *    corpus, then a per-query top-k window.
  *  - LSH-bucketed top-k: the 100 TB path — corpus bucketed once by
  *    random-hyperplane signature (cheap expressions), queries probe only
  *    matching buckets (multi-probe by flipping bits), candidates ranked
  *    exactly. Corpus shuffle is by 32-bit bucket id, not by vector.
  */
object Similarity {

  /** Cosine similarity between two array<double>/array<float> columns, in
    * double — a native codegen'd Catalyst expression (one fused loop per
    * row; see graft.functions.CosineSimilarity). Sequential left-to-right
    * accumulation → deterministic, engine-portable.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine_sim(
      a.cast("array<double>"), b.cast("array<double>"))

  /** Deterministic driver-side Lloyd's k-means (seeded init from sample
    * points, fixed iteration budget) — the quantizer-training primitive
    * shared by the PQ codebooks and semantic clustering. Quantizer quality
    * saturates far below corpus size, so training on a collected sample is
    * the standard scale pattern (faiss does the same in-process); only
    * assignment runs distributed.
    */
  private[ext] def lloydFit(pts: Array[Array[Double]], k: Int,
                            rnd: scala.util.Random,
                            iters: Int = 10): Array[Array[Double]] = {
    require(pts.nonEmpty, "k-means training sample is empty")
    val dim = pts.head.length
    var cents = Array.fill(k)(pts(rnd.nextInt(pts.length)).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val cnts = new Array[Int](k)
      pts.foreach { p =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < k) {
          var d = 0.0; var j = 0
          while (j < dim) { val t = p(j) - cents(c)(j); d += t * t; j += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
        cnts(best) += 1
      }
      cents = Array.tabulate(k)(c =>
        if (cnts(c) > 0) sums(c).map(_ / cnts(c)) else cents(c))
      it += 1
    }
    cents
  }

  /** Nearest-centroid assignment as a serializable closure (broadcast-small
    * centroid array, one narrow map over the corpus).
    */
  private[ext] def nearestOf(centers: Array[Array[Double]])(v: Seq[Double]): Int = {
    val a = v.toArray // bulk-copy: generic Seq apply boxes every access
    var best = 0; var bd = Double.MaxValue; var c = 0
    while (c < centers.length) {
      val ct = centers(c)
      var d = 0.0; var j = 0
      while (j < ct.length) { val t = a(j) - ct(j); d += t * t; j += 1 }
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }

  /** Nearest-centroid cell assignment over a corpus — the corpus-
    * partitioning face of the coarse quantizer (semantic sharding, cell
    * statistics, SemDeDup prep). One narrow map against the broadcast-
    * small centroid closure; ties break to the lowest cell id, matching
    * a deterministic argmin. Returns (idCol, cell).
    */
  def assignCells(corpus: DataFrame, model: IvfModel,
                  vecCol: String = "embedding",
                  idCol: String = "vec_id"): DataFrame = {
    val cell = udf { (v: Seq[Double]) => nearestOf(model.centers)(v) }
    corpus.select(col(idCol),
      cell(col(vecCol).cast("array<double>")).as("cell"))
  }

  /** Project each embedding onto a small basis (k row vectors):
    * out[i] = <v, basis_i>. The dimensionality-reduction primitive —
    * random projection (Johnson-Lindenstrauss) when the basis is seeded
    * Gaussian rows, PCA when it's learned components; either way the
    * basis is driver-small, folded into the plan as literals, and the
    * projection is a narrow map of k codegen'd dot products (native
    * DotProduct expression) — no shuffle, no UDF. Returns (idCol,
    * projected array<double>).
    */
  def projectOnBasis(corpus: DataFrame, basis: Seq[Array[Double]],
                     vecCol: String = "embedding",
                     idCol: String = "vec_id"): DataFrame = {
    require(basis.nonEmpty, "projection basis is empty")
    val vd = col(vecCol).cast("array<double>")
    val comps = basis.map(b =>
      graft.functions.VectorFunctions.dot_product(
        vd, array(b.map(lit): _*)))
    corpus.select(col(idCol), array(comps: _*).as("projected"))
  }

  /** Seeded Gaussian random-projection basis (k × dim), the JL transform's
    * standard construction — deterministic from `seed`, so projections are
    * reproducible across runs and engines.
    */
  def gaussianBasis(k: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)(Array.fill(dim)(rnd.nextGaussian() / math.sqrt(k)))
  }

  /** Random-hyperplane signature (an int bucket id): bit j = sign of
    * <v, h_j> with h_j derived deterministically from `seed`. Hyperplane
    * components are folded in as literals → whole expression, no UDF.
    */
  def hyperplaneSignature(vec: Column, planes: Int, seed: Int): Column = {
    val rnd = new scala.util.Random(seed)
    val vd = vec.cast("array<double>")
    val bits = (0 until planes).map { j =>
      val h = Array.fill(64)(rnd.nextGaussian())
      val dot = graft.functions.VectorFunctions.dot_product(
        vd, array(h.map(x => lit(x)): _*))
      when(dot >= 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _).cast("int")
  }

  /** Exact brute-force cosine top-k: `queries` must be small (it is
    * broadcast). Returns (query_id, neighbor_id, cos, rank) with rank 1..k
    * per query, deterministic tie-break by neighbor id.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     vecCol: String = "embedding",
                     idCol: String = "vec_id"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
                                     col(vecCol).as("qv")))
    val scored = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .crossJoin(q)
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
              cosine(col("qv"), col("cv")).as("cos"))
    rankTopK(scored, k)
  }

  /** Margin-based pair mining over a candidate frame — the
    * Artetxe & Schwenk (2019) ratio-margin criterion that CCMatrix/LASER
    * bitext mining is built on: raw cosine retrieves the wrong mate for
    * "hub" vectors that are close to everything, so each pair score is
    * normalized by both endpoints' neighborhood density,
    * `margin(x,y) = cos(x,y) / ((avgK_fwd(x) + avgK_bwd(y)) / 2)`,
    * where `avgK_fwd(x)` averages x's kDenom best candidate cosines and
    * `avgK_bwd(y)` averages y's kDenom best query cosines. Mines aligned
    * pairs (translations, near-duplicate page pairs, caption↔image-text
    * mates) between two DISJOINT corpora — no self-pair exclusion, unlike
    * [[bruteForceTopK]].
    *
    * Input is ANY (query_id, pair_id, cos) candidate frame, so the scale
    * path composes: generate candidates with [[ivfTopK]]/[[lshTopK]] per
    * direction (what production miners do — denominators estimated from
    * the retrieved lists), then margin-score here. Shape: two BOUNDED
    * per-key top-k partial aggregations (the [[rankTopK]] heap — at most
    * kDenom rows per key into each shuffle) + one join of the candidate
    * stream against the two key-sized averages; nothing all-pairs unless
    * the caller's candidates are.
    *
    * Returns (query_id, pair_id, margin, rank), rank 1..pairsPerQuery by
    * (margin desc, pair_id asc). Keys with fewer than kDenom candidates
    * average what exists (both engines' avg semantics).
    */
  def marginScore(candidates: DataFrame, kDenom: Int,
                  pairsPerQuery: Int = 1): DataFrame = {
    require(kDenom >= 1, "kDenom must be >= 1")
    require(pairsPerQuery >= 1, "pairsPerQuery must be >= 1")
    // three consumers (fwd agg, bwd agg, margin join) — persist once;
    // lifecycle transfers to the caller via OpCaches
    val scored = OpCaches.persist(
      candidates.select(col("query_id"), col("pair_id"), col("cos")))
    val fwd = rankTopK(scored.withColumnRenamed("pair_id", "neighbor_id"),
        kDenom)
      .groupBy("query_id").agg(avg("cos").as("fwd_avg"))
    val bwd = rankTopK(scored.select(col("pair_id").as("query_id"),
          col("query_id").as("neighbor_id"), col("cos")), kDenom)
      .groupBy("query_id").agg(avg("cos").as("bwd_avg"))
      .withColumnRenamed("query_id", "pair_id")
    val margins = scored
      .join(broadcast(fwd), "query_id")
      .join(bwd, "pair_id")
      .select(col("query_id"), col("pair_id").as("neighbor_id"),
        (col("cos") / ((col("fwd_avg") + col("bwd_avg")) / 2)).as("margin"))
    rankTopK(margins, pairsPerQuery, scoreCol = "margin")
      .withColumnRenamed("neighbor_id", "pair_id")
  }

  /** Exact-mode face of [[marginScore]]: all left×right cosines as the
    * candidate frame (left broadcast — the query/calibration side). The
    * gate/ground-truth mode; at corpus×corpus scale feed ANN candidates
    * to [[marginScore]] instead.
    */
  def marginPairs(left: DataFrame, right: DataFrame, kDenom: Int,
                  pairsPerQuery: Int = 1,
                  vecCol: String = "embedding",
                  idCol: String = "vec_id"): DataFrame = {
    val l = broadcast(left.select(col(idCol).as("query_id"),
                                  col(vecCol).as("qv")))
    val cand = right.select(col(idCol).as("pair_id"), col(vecCol).as("rv"))
      .crossJoin(l)
      .select(col("query_id"), col("pair_id"),
              cosine(col("qv"), col("rv")).as("cos"))
    marginScore(cand, kDenom, pairsPerQuery)
  }

  /** Per-query top-k of (query_id, neighbor_id, scoreCol) rows via a
    * BOUNDED partial aggregation (Spark's CollectTopK heap): each map task
    * forwards at most k rows per query into the shuffle. The
    * `row_number().over(partitionBy(query_id))` window this replaces
    * shuffled the ENTIRE scored candidate set — queries × corpus rows for
    * the brute/compressed scans — to the query's partition before
    * discarding all but k; at 100 TB that shuffle IS the operator's cost.
    * Ordering (score desc, neighbor_id asc) keeps ranks identical to the
    * window form: the score negation is exact (IEEE negation, ±0.0
    * included), so heap order ≡ window order, spec-checked. Returns
    * (query_id, neighbor_id, scoreCol, rank), rank 1..k.
    */
  private[graft] def rankTopK(scored: DataFrame, k: Int,
                            scoreCol: String = "cos"): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.functions.VectorFunctions.collect_top_k(
        struct((-col(scoreCol)).as("ns"), col("neighbor_id").as("nid")),
        k, reverse = true).as("top"))
      .select(col("query_id"), posexplode(array_sort(col("top"))))
      .select(col("query_id"), col("col.nid").as("neighbor_id"),
              (-col("col.ns")).as(scoreCol),
              (col("pos") + 1).cast("int").as("rank"))

  /** Diverse top-k via maximal marginal relevance (Carbonell & Goldstein
    * 1998): greedily pick the candidate maximizing
    * `lambda * cos(q, c) - (1 - lambda) * max_{s in selected} cos(c, s)`
    * (rank 1 = pure relevance; ties -> smallest id). The standard
    * re-ranker for building DIVERSE eval/few-shot sets, where plain top-k
    * returns k near-duplicates of the same passage.
    *
    * Production shape at 100 TB: relevance ranking reduces the corpus to a
    * per-query shortlist (here [[bruteForceTopK]]; swap in any ANN tier via
    * [[mmrRerank]]), and the O(shortlist²) diversity pass runs INSIDE one
    * task per query via the native [[graft.functions.VectorFunctions
    * .mmr_select]] expression over a `collect_list` — bounded state
    * (shortlist × dim doubles per query), no driver collect, id type
    * passed through generically. The greedy result is a pure function of
    * the candidate set, independent of collect order.
    */
  def mmrSelect(corpus: DataFrame, queries: DataFrame, k: Int,
                shortlist: Int = 25, lambda: Double = 0.7,
                vecCol: String = "embedding",
                idCol: String = "vec_id"): DataFrame =
    mmrRerank(bruteForceTopK(corpus, queries, shortlist, vecCol, idCol),
      corpus, k, lambda, vecCol, idCol)

  /** MMR diversity pass over an existing shortlist — (query_id,
    * neighbor_id, cos) from any ranking tier (brute force, LSH, IVF, PQ).
    * The shortlist is broadcast back onto the corpus to fetch candidate
    * vectors (corpus stays un-shuffled), then one `mmr_select` per query.
    */
  def mmrRerank(shortlist: DataFrame, corpus: DataFrame, k: Int,
                lambda: Double = 0.7, vecCol: String = "embedding",
                idCol: String = "vec_id"): DataFrame = {
    val cand = corpus
      .select(col(idCol).as("neighbor_id"),
              col(vecCol).cast("array<double>").as("cv"))
      .join(broadcast(shortlist.select(col("query_id"), col("neighbor_id"),
                                       col("cos"))),
            Seq("neighbor_id"))
    cand
      .groupBy(col("query_id"))
      .agg(collect_list(struct(col("cos"), col("neighbor_id"), col("cv")))
        .as("cands"))
      .select(col("query_id"),
        explode(graft.functions.VectorFunctions.mmr_select(
          col("cands"), k, lambda)).as("m"))
      .select(col("query_id"), col("m.rank").as("rank"),
              col("m.id").as("neighbor_id"), col("m.score").as("score"))
  }

  /** Trained coarse quantizer for [[ivfTopK]]: `centers(cell)` is the cell's
    * centroid. Driver-small (nlist × dim doubles), serializable into task
    * closures — fit ONCE per corpus with [[fitIvf]] and reuse across every
    * query batch; a production pipeline never retrains per query.
    *
    * Invariant: a one-cell model (nlist == 1 in [[fitIvf]], or a corpus
    * sizing policy that resolves to one cell) holds the placeholder
    * centroid `Array(0.0)`. Every vector is nearest to the only cell, so
    * [[nearestOf]] returns cell 0 whatever the value — but its length is
    * NOT the embedding dimension: take the dimension from the corpus,
    * never from `centers(0).length`.
    */
  case class IvfModel(centers: Array[Array[Double]]) {
    def nlist: Int = centers.length
  }

  /** Train the IVF coarse quantizer: collect a capped sample (quantizer
    * quality saturates far below corpus size — faiss trains in-process the
    * same way) and run the deterministic driver-side Lloyd fit. Exactly two
    * Spark jobs (count + sample-collect); earlier rounds ran a Spark ML
    * KMeans fit (2+ jobs per iteration) on every invocation, which the
    * round-3 review measured at ~half of `sim_ann_ivf_probe`'s wall time.
    */
  def fitIvf(corpus: DataFrame, nlist: Int = 16,
             vecCol: String = "embedding", seed: Long = 42L,
             maxTrain: Long = 20000L): IvfModel = {
    // nlist == 1: nearest-of-one assignment ignores the centroid value, so
    // skip the sample-collect job (the count stays — an empty corpus must
    // still fail loud exactly like the trained path). r14 §5; every
    // downstream cell id, and therefore pair, is unchanged by construction.
    if (nlist == 1) {
      require(corpus.select(col(vecCol)).count() > 0,
        "IVF training sample is empty")
      return IvfModel(Array(Array(0.0)))
    }
    val (_, sample) = trainSample(corpus, vecCol, seed, maxTrain)
    IvfModel(lloydFit(sample, nlist, new scala.util.Random(seed), iters = 5))
  }

  /** Capped training sample for the quantizer fits: (corpus size, sampled
    * vectors). One count + one sample-collect job; the collect is bounded
    * by `maxTrain` by construction.
    */
  private def trainSample(corpus: DataFrame, vecCol: String, seed: Long,
                          maxTrain: Long,
                          knownN: Option[Long] = None): (Long, Array[Array[Double]]) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col(vecCol).cast("array<double>").as("cv"))
    val n = knownN.getOrElse(vecs.count())
    val frac = math.min(1.0, maxTrain.toDouble / math.max(1L, n))
    val sample = vecs.sample(withReplacement = false, frac, seed)
      .as[Seq[Double]].collect().map(_.toArray)
    require(sample.nonEmpty, "IVF training sample is empty")
    (n, sample)
  }

  /** Corpus-sized nlist policy — cells of ~`targetCellSize` expected
    * occupancy. A FIXED nlist over a growing corpus is the quadratic
    * trap for the knn-join faces: candidate volume is
    * |queries| · |corpus| · nprobe / nlist, so holding nlist constant
    * while both sides grow k× grows candidates k² (the r11 sf1 sweep
    * measured the fixed-16 `sim_knn_join_probe` at 19.2× wall for 10×
    * data). With nlist ∝ n/targetCellSize, candidates are
    * |queries| · targetCellSize · nprobe — linear in the corpus.
    * Clamped below by `minNlist` (probe granularity) and above by
    * `maxNlist` AND the training-sample size (more centroids than
    * training vectors would mint empty cells). Past
    * maxNlist · targetCellSize rows, raise `maxTrain`/`maxNlist` — or
    * move to the IMPLEMENTED next rung, [[fitIvfTwoLevel]] /
    * [[ivfKnnJoinTwoLevel]] (coarse shard quantizer over autoNlist-sized
    * sub-quantizers: total cells keep tracking n/targetCellSize at any
    * corpus size; ScaleSpec pins candidate linearity in the past-clamp
    * regime where this single-level policy measurably re-quadratics).
    */
  def autoNlist(n: Long, targetCellSize: Int = 128, minNlist: Int = 16,
                maxNlist: Int = 1 << 14): Int = {
    require(targetCellSize >= 1, s"targetCellSize must be >= 1")
    val want = (n + targetCellSize - 1) / targetCellSize
    math.min(maxNlist.toLong, math.max(minNlist.toLong, want)).toInt
  }

  /** [[fitIvf]] with [[autoNlist]] sizing — fit the quantizer with nlist
    * derived from the corpus row count (one extra use of the count the
    * training sample already needs, so same two Spark jobs). This is the
    * fit the corpus-scale pair-mining faces ([[ivfKnnJoin]],
    * [[knnSelfJoin]]) should use; the fixed-nlist [[fitIvf]] remains for
    * query-batch top-k where the corpus is the stable side.
    */
  def fitIvfAuto(corpus: DataFrame, targetCellSize: Int = 128,
                 vecCol: String = "embedding", seed: Long = 42L,
                 maxTrain: Long = 20000L, minNlist: Int = 16): IvfModel = {
    // nlist == 1 needs no training at all: nearest-of-one assignment is
    // constant regardless of the centroid value, so when the policy
    // provably resolves to one cell (corpus fits targetCellSize, floor
    // allows 1) skip the sample-collect job and return a fixed centroid.
    // The exact-pair gate configs (targetCellSize = MaxValue, minNlist =
    // 1) hit this on every run; production sizings never do. (r14 §5 —
    // one fewer eager job per fit; assignment, and therefore every
    // downstream pair, is unchanged by construction.)
    val preN: Option[Long] =
      if (minNlist <= 1) {
        val n0 = corpus.select(col(vecCol)).count()
        val want = (n0 + targetCellSize - 1) / targetCellSize
        if (n0 > 0 && want <= 1L) return IvfModel(Array(Array(0.0)))
        Some(n0)
      } else None
    val (n, sample) = trainSample(corpus, vecCol, seed, maxTrain, preN)
    // the sample-size cap wins over the floor: a tiny corpus must not
    // mint more centroids than it has training vectors
    val cap = math.min(1 << 14, sample.length)
    val nlist = autoNlist(n, targetCellSize,
      minNlist = math.min(minNlist, cap), maxNlist = cap)
    IvfModel(lloydFit(sample, nlist, new scala.util.Random(seed), iters = 5))
  }

  /** IVF (inverted-file) approximate top-k — the other standard ANN scale
    * path: a coarse k-means quantizer (nlist cells) partitions the corpus;
    * each query probes its `nprobe` nearest cells and ranks only those
    * candidates exactly. At 100 TB the cell assignment is a narrow map, the
    * trained centroids are driver-small and broadcast, and per-query cost is
    * O(corpus/nlist · nprobe) instead of O(corpus).
    *
    * This overload takes a pre-trained [[IvfModel]] so repeated query
    * batches share one fit; [[fitIvf]] is the training step.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              model: IvfModel, nprobe: Int,
              vecCol: String, idCol: String): DataFrame =
    ivfTopKIndexed(ivfIndex(corpus, model, vecCol, idCol), queries, k,
      model, nprobe, vecCol, idCol)

  /** ENCODE-ONCE face: materialize the IVF index — (idCol, cell, vecCol as
    * array<double>) — one narrow map against the broadcast-small centroid
    * closure. A production pipeline builds this once per corpus, writes it
    * `.partitionBy("cell")` (so a probe's scan prunes to nprobe cells), and
    * runs every query batch against the prebuilt table via
    * [[ivfTopKIndexed]]; the inline [[ivfTopK]] overloads route through
    * this same builder, so indexed ≡ inline by construction. All vector
    * math is on array<double> — float corpora are up-cast at the scan, so
    * the quantizer sees identical values on either element type.
    */
  def ivfIndex(corpus: DataFrame, model: IvfModel,
               vecCol: String = "embedding",
               idCol: String = "vec_id"): DataFrame = {
    val cell = udf { (v: Seq[Double]) => nearestOf(model.centers)(v) }
    corpus.select(col(idCol),
      cell(col(vecCol).cast("array<double>")).as("cell"),
      col(vecCol).cast("array<double>").as(vecCol))
  }

  /** Query a prebuilt [[ivfIndex]]: each query probes its `nprobe` nearest
    * cells (computed against the tiny centroid closure), joins only those
    * cells' candidates, ranks exactly. No encode stage — the corpus-wide
    * cell-assignment map ran once at index build.
    */
  /** The IVF probe step as a column: a query's `nprobe` nearest cell ids,
    * computed against the (tiny) centroid closure on the executors.
    */
  private def probeCellsCol(model: IvfModel, nprobe: Int): Column => Column = {
    val centers = model.centers
    val nprobeEff = math.min(nprobe, centers.length)
    val probe = udf { (q: Seq[Double]) =>
      val a = q.toArray // bulk-copy: generic Seq apply boxes every access
      centers.zipWithIndex.map { case (c, i) =>
        var d = 0.0
        var j = 0
        while (j < c.length) {
          val diff = a(j) - c(j); d += diff * diff; j += 1
        }
        (i, d)
      }.sortBy(_._2).take(nprobeEff).map(_._1)
    }
    qv => probe(qv.cast("array<double>"))
  }

  /** The distinct cells a query batch will probe — at most `nlist` ints
    * regardless of corpus or batch size, so the collect is hard-bounded.
    * This is the partition-pruning handle: see [[ivfTopKPruned]].
    */
  def ivfProbeCells(queries: DataFrame, model: IvfModel, nprobe: Int,
                    vecCol: String = "embedding"): Array[Int] =
    queries
      .select(explode(probeCellsCol(model, nprobe)(col(vecCol))).as("cell"))
      .distinct().collect().map(_.getInt(0))

  /** [[ivfTopKIndexed]] with the probed-cell set pushed into the index
    * SCAN. With the index written `partitionBy("cell")`, the `isin` filter
    * is a partition filter: the probe reads only the nprobe-cell subset of
    * the files — at 100 TB and nprobe/nlist = 3/1024, ~0.3% of the index —
    * instead of scanning everything and discarding at the join. Costs one
    * bounded driver action (≤ nlist ints, see [[ivfProbeCells]]) to plan.
    */
  def ivfTopKPruned(index: DataFrame, queries: DataFrame, k: Int,
                    model: IvfModel, nprobe: Int,
                    vecCol: String = "embedding",
                    idCol: String = "vec_id"): DataFrame = {
    val cells = ivfProbeCells(queries, model, nprobe, vecCol)
    ivfTopKIndexed(index.where(col("cell").isin(cells.toSeq: _*)),
      queries, k, model, nprobe, vecCol, idCol)
  }

  def ivfTopKIndexed(index: DataFrame, queries: DataFrame, k: Int,
                     model: IvfModel, nprobe: Int,
                     vecCol: String = "embedding",
                     idCol: String = "vec_id"): DataFrame = {
    val assigned = index.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"), col("cell"))
    val probed = broadcast(
      queries.select(col(idCol).as("query_id"),
                     col(vecCol).cast("array<double>").as("qv"))
        .withColumn("cell",
          explode(probeCellsCol(model, nprobe)(col("qv")))))
    rankTopK(
      assigned.join(probed, Seq("cell"))
        .where(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
                cosine(col("qv"), col("cv")).as("cos")), k)
  }

  /** Fit-and-query convenience form (one-shot callers). Repeated query
    * batches should [[fitIvf]] once and use the model overload.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 3,
              vecCol: String = "embedding", idCol: String = "vec_id",
              seed: Long = 42L, maxTrain: Long = 20000L): DataFrame =
    ivfTopK(corpus, queries, k,
      fitIvf(corpus, nlist, vecCol, seed, maxTrain), nprobe, vecCol, idCol)

  /** Corpus×corpus KNN JOIN over a prebuilt [[ivfIndex]] — the query side
    * is LARGE (another corpus, or the corpus itself for semantic pair
    * mining), so unlike every `*TopK` face nothing is broadcast: queries
    * are cell-assigned with the same tiny centroid closure and the two
    * sides meet in a SHUFFLE hash join on `cell`. Per-pair cost is one
    * fused-loop cosine; per-query results reduce through the bounded
    * CollectTopK heap ([[rankTopK]]), so the post-join shuffle carries at
    * most k pairs per query per map task, never the full candidate set.
    *
    * At 100 TB this is THE shape for corpus-scale semantic dedup or
    * retrieval pair mining: both sides shuffle once by 32-bit cell id
    * (vectors move once), join parallelism = nlist × `salt`. **Size nlist
    * from the corpus** ([[fitIvfAuto]]/[[autoNlist]]): candidate volume is
    * |queries| · |corpus| · nprobe / nlist, so a fixed nlist over a growing
    * corpus is quadratic (measured: 19.2× wall at 10× data with nlist
    * pinned at 16), while nlist ∝ n/targetCellSize keeps it linear.
    * Cells are
    * Voronoi regions, so dense regions of embedding space become heavy
    * cells; `salt > 1` splits each cell's corpus rows across `salt`
    * sub-buckets (corpus side hashed by id, query side replicated ×salt)
    * — the standard skew-salting trade of ×salt query duplication for
    * even task sizes. AQE's skew-join split handles moderate skew without
    * salting; salt when one cell dominates (e.g. near-duplicate-heavy
    * corpora, exactly where this operator gets pointed).
    *
    * Each (query, neighbor) pair meets at most once — a corpus row lives
    * in exactly one (cell, salt) bucket and a query probes distinct cells
    * with all salt buckets — so no dedup pass is needed.
    * `nprobe = nlist` is the exact gate mode (every pair scored), same
    * pattern as the `*TopK` exact modes.
    *
    * `excludeSelf` drops pairs whose ids are EQUAL — correct when both
    * sides share one id namespace (the self-join / same-corpus case);
    * set it false when the query and index ids are unrelated namespaces,
    * or a query would silently lose the corpus row that happens to carry
    * its own id value.
    */
  def ivfKnnJoin(index: DataFrame, queries: DataFrame, k: Int,
                 model: IvfModel, nprobe: Int, salt: Int = 1,
                 vecCol: String = "embedding",
                 idCol: String = "vec_id",
                 excludeSelf: Boolean = true): DataFrame = {
    require(salt >= 1, s"salt must be >= 1, got $salt")
    val assigned = index.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"), col("cell"),
      pmod(xxhash64(col(idCol)), lit(salt)).cast("int").as("__salt"))
    val probed = queries
      .select(col(idCol).as("query_id"),
              col(vecCol).cast("array<double>").as("qv"))
      .withColumn("cell",
        explode(probeCellsCol(model, nprobe)(col("qv"))))
      .withColumn("__salt",
        explode(sequence(lit(0), lit(salt - 1))))
    val met = assigned.join(probed, Seq("cell", "__salt"))
    val paired = if (excludeSelf)
      met.where(col("neighbor_id") =!= col("query_id")) else met
    rankTopK(
      paired.select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cos")), k)
  }

  /** Semantic-pair mining self-join: every corpus row is a query against
    * the rest of the corpus ([[ivfKnnJoin]] with queries = corpus). One
    * cell-assignment pass builds the index side inline.
    */
  def knnSelfJoin(corpus: DataFrame, k: Int, model: IvfModel,
                  nprobe: Int, salt: Int = 1,
                  vecCol: String = "embedding",
                  idCol: String = "vec_id"): DataFrame =
    ivfKnnJoin(ivfIndex(corpus, model, vecCol, idCol), corpus, k,
      model, nprobe, salt, vecCol, idCol)

  /** Two-level (sharded) IVF quantizer — the scale rung PAST the
    * [[autoNlist]] clamp (VERDICT r12 next #2). Single-level IVF keeps
    * knn-join candidates linear only while nlist can track the corpus;
    * past `maxNlist · targetCellSize` rows (~2.1 M at the defaults) the
    * clamp pins nlist, cells grow linearly again, and candidate volume
    * goes re-quadratic. Here a coarse SHARD quantizer (nshards =
    * ⌈n / (maxNlist · targetCellSize)⌉) splits the corpus into
    * sub-corpora that each fit under the clamp, and every shard trains
    * its own [[autoNlist]]-sized sub-quantizer — total cells
    * ≈ n / targetCellSize at ANY corpus size, so within-cell candidate
    * volume stays linear. Assignment cost per vector is
    * nshards + subNlist distance evaluations instead of a single
    * brute-force scan over n/targetCellSize centroids — the other
    * reason real systems (faiss IMI) go hierarchical.
    *
    * Fit shape (all stages bounded): one capped sample + driver Lloyd
    * for the coarse level (2 jobs, ≤ `maxTrainPerShard` vectors); one
    * small per-shard count aggregate (≤ nshards rows); one stratified
    * sample capped at `maxTrainPerShard` PER SHARD feeding a
    * `groupByKey(shard).mapGroups` Lloyd — each shard's fit runs WHERE
    * ITS SAMPLE SITS (one executor task per shard, the distributed
    * complement of the driver-side [[fitIvf]]); one collect of
    * (shard, centers). Driver/broadcast footprint is the CODEBOOK:
    * totalCells × dim doubles (~1 GB at 2^18 cells × 512 dims) — past
    * that, keep the codebook as a DataFrame and turn assignment into a
    * join; this model object documents its own ceiling rather than
    * silently degrading.
    */
  case class IvfTwoLevelModel(coarse: IvfModel, subs: Array[IvfModel]) {
    def nshards: Int = coarse.nlist
    def totalCells: Int = subs.map(_.nlist).sum
    /** Packed 64-bit cell id: (shard << 32) | subcell — collision-free,
      * join-key-friendly.
      */
    private[ext] def cellOf(v: Seq[Double]): Long = {
      val sh = nearestOf(coarse.centers)(v)
      (sh.toLong << 32) | nearestOf(subs(sh).centers)(v).toLong
    }
    /** The `nprobeShards` nearest shards, each contributing its `nprobe`
      * nearest sub-cells — the two-level probe set (≤ nprobeShards ·
      * nprobe packed cell ids). `nprobeShards = nshards` with `nprobe ≥`
      * every sub nlist probes EVERY cell — the exact gate mode (each
      * (query, corpus) pair then meets exactly once, since cells
      * partition the corpus).
      */
    private[ext] def probeCells(v: Seq[Double], nprobeShards: Int,
                                nprobe: Int): Seq[Long] = {
      val a = v.toArray
      def nearestK(centers: Array[Array[Double]], k: Int): Seq[Int] =
        centers.zipWithIndex.map { case (c, i) =>
          var d = 0.0; var j = 0
          while (j < c.length) { val t = a(j) - c(j); d += t * t; j += 1 }
          (i, d)
        }.sortBy(_._2).take(math.min(k, centers.length)).map(_._1).toSeq
      nearestK(coarse.centers, nprobeShards).flatMap { sh =>
        nearestK(subs(sh).centers, nprobe)
          .map(sc => (sh.toLong << 32) | sc.toLong)
      }
    }
  }

  /** Train the two-level quantizer (see [[IvfTwoLevelModel]]). With
    * nshards = 1 (corpus under the clamp) this degenerates to the
    * single-level [[fitIvfAuto]] policy through the identical plan.
    * Deterministic given the corpus and seed: the stratified sample is
    * seed-fixed and each shard's training points are SORTED before the
    * seeded Lloyd fit, so shuffle-fetch order (which mapGroups does not
    * guarantee) cannot change the codebook.
    */
  def fitIvfTwoLevel(corpus: DataFrame, targetCellSize: Int = 128,
                     vecCol: String = "embedding", seed: Long = 42L,
                     maxTrainPerShard: Long = 20000L, minNlist: Int = 16,
                     maxNlist: Int = 1 << 14): IvfTwoLevelModel = {
    require(targetCellSize >= 1 && minNlist >= 1 && maxNlist >= 1)
    val spark = corpus.sparkSession
    import spark.implicits._
    val (n, coarseSample) =
      trainSample(corpus, vecCol, seed, maxTrainPerShard)
    val wantShards = (n + maxNlist.toLong * targetCellSize - 1) /
      (maxNlist.toLong * targetCellSize)
    val nshards = math.max(1L,
      math.min(wantShards, coarseSample.length.toLong)).toInt
    val coarse = IvfModel(
      lloydFit(coarseSample, nshards, new scala.util.Random(seed),
        iters = 5))
    // shard assignment is the same narrow map the index build runs;
    // persisted fit-scoped: the nshards-distance UDF is the dominant
    // fit cost and BOTH the count aggregate and the stratified sample
    // read it (unpersisted before return)
    val shardOf = udf { (v: Seq[Double]) => nearestOf(coarse.centers)(v) }
    val assigned = corpus
      .select(shardOf(col(vecCol).cast("array<double>")).as("shard"),
        col(vecCol).cast("array<double>").as("cv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-shard row counts: ≤ nshards rows collected (sizes the sub
    // quantizers from TRUE shard populations, not sample sizes)
    val counts = assigned.groupBy("shard").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val fractions = counts.map { case (sh, c) =>
      sh -> math.min(1.0, maxTrainPerShard.toDouble / math.max(1L, c))
    }
    // one executor task per shard: Lloyd over the shard's ≤
    // maxTrainPerShard-row sample (binomial overshoot is hard-capped in
    // the group iterator), seeded per shard for determinism
    val fitted = assigned.stat.sampleBy("shard", fractions, seed)
      .as[(Int, Seq[Double])]
      .groupByKey(_._1)
      .mapGroups { (sh, it) =>
        // mapGroups gives no iterator-order guarantee (shuffle fetch
        // order varies run-to-run): materialize the bounded sample,
        // SORT it lexicographically, then truncate — the seeded init
        // now sees an order that is a pure function of the sampled SET
        val all = it.map(_._2.toArray).toArray
        java.util.Arrays.sort(all, new java.util.Comparator[Array[Double]] {
          def compare(a: Array[Double], b: Array[Double]): Int = {
            var i = 0
            val n = math.min(a.length, b.length)
            while (i < n) {
              val c = java.lang.Double.compare(a(i), b(i))
              if (c != 0) return c
              i += 1
            }
            java.lang.Integer.compare(a.length, b.length)
          }
        })
        val pts = all.take(maxTrainPerShard.toInt)
        val subNlist = math.max(1, math.min(
          autoNlist(counts.getOrElse(sh, 0L), targetCellSize,
            math.min(minNlist, pts.length), maxNlist),
          pts.length))
        (sh, lloydFit(pts, subNlist,
          new scala.util.Random(seed ^ (sh.toLong * 0x9e3779b97f4a7c15L)),
          iters = 5).map(_.toSeq).toSeq)
      }
      .collect()
      .map { case (sh, cs) => sh -> IvfModel(cs.map(_.toArray).toArray) }
      .toMap
    assigned.unpersist()
    // a shard the corpus never hit (empty Voronoi region of the coarse
    // fit) degenerates to one cell at the coarse center
    val subs = Array.tabulate(coarse.nlist)(sh =>
      fitted.getOrElse(sh, IvfModel(Array(coarse.centers(sh)))))
    IvfTwoLevelModel(coarse, subs)
  }

  /** ENCODE-ONCE face of the two-level index: (idCol, cell as packed
    * long, vecCol as array<double>) — one narrow map against the
    * broadcast codebook closure, the [[ivfIndex]] shape with the
    * hierarchical assignment.
    */
  def ivfIndexTwoLevel(corpus: DataFrame, model: IvfTwoLevelModel,
                       vecCol: String = "embedding",
                       idCol: String = "vec_id"): DataFrame = {
    val cell = udf { (v: Seq[Double]) => model.cellOf(v) }
    corpus.select(col(idCol),
      cell(col(vecCol).cast("array<double>")).as("cell"),
      col(vecCol).cast("array<double>").as(vecCol))
  }

  /** Corpus×corpus KNN join over the two-level index — the
    * [[ivfKnnJoin]] plan (both sides shuffled ONCE on the packed cell
    * id, bounded CollectTopK heaps, `salt` sub-buckets against Voronoi
    * skew) with candidate volume |queries| · targetCellSize ·
    * nprobeShards · nprobe at ANY corpus size — linear past the
    * single-level clamp. `nprobeShards = model.nshards` with `nprobe`
    * ≥ every sub nlist is the exact gate mode.
    */
  def ivfKnnJoinTwoLevel(index: DataFrame, queries: DataFrame, k: Int,
                         model: IvfTwoLevelModel, nprobeShards: Int,
                         nprobe: Int, salt: Int = 1,
                         vecCol: String = "embedding",
                         idCol: String = "vec_id",
                         excludeSelf: Boolean = true): DataFrame = {
    require(salt >= 1, s"salt must be >= 1, got $salt")
    require(nprobeShards >= 1 && nprobe >= 1)
    val probe = udf { (q: Seq[Double]) =>
      model.probeCells(q, nprobeShards, nprobe)
    }
    val assigned = index.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"), col("cell"),
      pmod(xxhash64(col(idCol)), lit(salt)).cast("int").as("__salt"))
    val probed = queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("cell", explode(probe(col("qv"))))
      .withColumn("__salt", explode(sequence(lit(0), lit(salt - 1))))
    // PIN the documented shuffle hash join: Catalyst's size estimate for
    // the exploded, UDF-probed query side is garbage, and at sweep scale
    // AQE promoted the 10⁷-row probe frame to a BROADCAST (driver OOM —
    // caught by the r13 sf1 sweep). The hint builds the hash table from
    // the index side per cell and streams the probe side — the plan this
    // operator promises at any scale.
    val met = assigned.hint("shuffle_hash").join(probed, Seq("cell", "__salt"))
    val paired = if (excludeSelf)
      met.where(col("neighbor_id") =!= col("query_id")) else met
    rankTopK(
      paired.select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cos")), k)
  }

  /** Scalar-quantized (SQ8) top-k — the compressed-scan ANN tier: each
    * corpus vector is encoded once as 8-bit codes against per-dimension
    * [min, max] ranges (4× smaller than float32, 8× smaller than the
    * float64 scan width), candidates are ranked by cosine over the
    * dequantized codes, and only the per-query `shortlist` best are
    * re-ranked with exact vectors fetched by id. At 100 TB the scan reads
    * the code table instead of the vectors — the win is IO/memory, not
    * FLOPs — and the exact re-rank touches `queries × shortlist` rows.
    *
    * `shortlist <= 0` re-ranks every candidate: exact brute force routed
    * through the identical encode → dequantize → re-rank plan (the
    * correctness-gate mode, hash-matching the brute-force oracle; same
    * pattern as IVF nprobe = nlist and LSH probeAll).
    *
    * The quantization grid comes from a per-dimension min/max aggregation —
    * one map-side-combined shuffle of (dim, x) pairs, then driver-side
    * literals, so encode/decode are pure codegen'd expressions.
    */
  /** Trained SQ8 quantization grid: per-dimension [lo, lo+256·step) ranges.
    * Fit once per corpus with [[fitSq]] (one min/max aggregation) and reuse
    * — the grid is dim-sized driver data.
    */
  case class SqModel(lo: Array[Double], step: Array[Double])

  /** Train the SQ8 grid: one map-side-combined min/max aggregation over
    * (dim, x) pairs, then driver-side literals.
    */
  def fitSq(corpus: DataFrame, vecCol: String = "embedding"): SqModel = {
    val vd = col(vecCol).cast("array<double>")
    val stats = corpus.select(posexplode(vd).as(Seq("j", "x")))
      .groupBy("j").agg(min("x").as("lo"), max("x").as("hi"))
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    val dim = stats.size
    val lo = (0 until dim).map(j => stats(j)._1).toArray
    // constant dimensions quantize to code 0 with step 0 (recon = lo)
    val step = (0 until dim).map { j =>
      val (l, h) = stats(j); if (h > l) (h - l) / 256.0 else 0.0
    }.toArray
    SqModel(lo, step)
  }

  /** Fit-and-query convenience form; repeated query batches should
    * [[fitSq]] once and use the model overload.
    */
  def sqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             shortlist: Int = 0, vecCol: String = "embedding",
             idCol: String = "vec_id"): DataFrame =
    sqTopK(corpus, queries, k, fitSq(corpus, vecCol), shortlist, vecCol, idCol)

  /** Pre-trained-grid overload of the SQ8 compressed scan. */
  def sqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             model: SqModel, shortlist: Int, vecCol: String,
             idCol: String): DataFrame =
    sqTopKIndexed(sqIndex(corpus, model, vecCol, idCol), queries, k,
      model, shortlist, vecCol, idCol)

  /** ENCODE-ONCE face: materialize the SQ8 index — (idCol, code as
    * array<int>, vecCol as array<double>). Written as parquet, the approx
    * scan's column pruning reads only (id, code) — the 4-8× IO win the
    * compressed tier exists for — and the exact re-rank fetches vecCol by
    * id from the same table. Inline [[sqTopK]] routes through this
    * builder, so indexed ≡ inline by construction.
    */
  def sqIndex(corpus: DataFrame, model: SqModel,
              vecCol: String = "embedding",
              idCol: String = "vec_id"): DataFrame = {
    val vd = col(vecCol).cast("array<double>")
    val loLit = array(model.lo.map(lit): _*)
    val stepLit = array(model.step.map(lit): _*)
    val codes = transform(vd, (x, j) => {
      val l = element_at(loLit, j + 1)
      val st = element_at(stepLit, j + 1)
      when(st === 0.0, lit(0))
        .otherwise(least(lit(255.0), greatest(lit(0.0), floor((x - l) / st)))
          .cast("int"))
    })
    corpus.select(col(idCol), codes.as("code"), vd.as(vecCol))
  }

  /** Query a prebuilt [[sqIndex]]: dequantize-and-rank over the code
    * column, exact re-rank of the per-query shortlist on the true vectors
    * fetched by id. No encode stage at query time.
    */
  def sqTopKIndexed(index: DataFrame, queries: DataFrame, k: Int,
                    model: SqModel, shortlist: Int,
                    vecCol: String = "embedding",
                    idCol: String = "vec_id"): DataFrame = {
    val loLit = array(model.lo.map(lit): _*)
    val stepLit = array(model.step.map(lit): _*)
    def recon(codeCol: Column): Column =
      transform(codeCol, (c, j) =>
        element_at(loLit, j + 1) +
          (c.cast("double") + 0.5) * element_at(stepLit, j + 1))
    val qb = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")))
    // the compressed scan: only (id, codes) flows into scoring
    val approx = index.select(col(idCol).as("neighbor_id"), col("code"))
      .crossJoin(qb)
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
              cosine(col("qv"), recon(col("code"))).as("acos"))
    // shortlist <= 0 (exact gate mode) re-ranks every candidate: no
    // ranking pass needed at all — the bounded heap only runs when it
    // actually bounds something
    val short =
      (if (shortlist > 0) rankTopK(approx, shortlist, "acos") else approx)
        .select("query_id", "neighbor_id")
    // exact re-rank: fetch true vectors by id for the shortlist only
    rankTopK(
      short
        .join(index.select(col(idCol).as("neighbor_id"),
                col(vecCol).cast("array<double>").as("cv")),
              Seq("neighbor_id"))
        .join(qb, Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
                cosine(col("qv"), col("cv")).as("cos")), k)
  }

  /** Product-quantized (PQ) top-k — the deep-compression ANN tier (Jégou
    * et al., "Product Quantization for Nearest Neighbor Search", TPAMI
    * 2011): vectors split into `m` subspaces, each encoded as the id of its
    * nearest per-subspace centroid, so a D-dim float32 vector becomes `m`
    * small codes (64-dim → 8 bytes at m=8: 32× smaller than float32).
    * Ranking uses asymmetric distance: the query precomputes one
    * dot-product and one norm table per subspace (m × ks entries), and a
    * candidate's score is m table lookups — no vector arithmetic in the
    * scan. The per-query `shortlist` best are then re-ranked on exact
    * vectors fetched by id.
    *
    * Codebook training is a deterministic driver-side Lloyd's fit on a
    * capped sample (quantizer quality saturates far below corpus size;
    * faiss trains in-process the same way). The codebooks are
    * executor-broadcast closures; encode is one narrow map.
    *
    * `shortlist <= 0` re-ranks every candidate — exact brute force through
    * the identical encode → ADC → re-rank plan (the correctness-gate mode;
    * same pattern as IVF nprobe = nlist, LSH probeAll, SQ shortlist-all).
    */
  /** Trained PQ codebooks: `codebooks(mi)(c)` = centroid c of subspace mi.
    * Fit once per corpus with [[fitPq]] (m × ks × dim/m doubles — driver-
    * small) and reuse across query batches.
    */
  case class PqModel(codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def ks: Int = codebooks.head.length
    def sub: Int = codebooks.head.head.length
  }

  /** Train the PQ codebooks: driver-side per-subspace Lloyd fit on a
    * capped collected sample (two Spark jobs total). 6 iterations on a 2k
    * sample: codebook distortion plateaus early.
    */
  def fitPq(corpus: DataFrame, m: Int = 8, ks: Int = 256,
            vecCol: String = "embedding", seed: Long = 42L,
            maxTrain: Int = 2000): PqModel = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col(vecCol).cast("array<double>").as("cv"))
    val n = vecs.count()
    val frac = math.min(1.0, maxTrain.toDouble / math.max(1L, n))
    val sample = vecs.sample(withReplacement = false, frac, seed)
      .as[Seq[Double]].collect().map(_.toArray)
    require(sample.nonEmpty, "PQ training sample is empty")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val rnd = new scala.util.Random(seed)
    PqModel(Array.tabulate(m) { mi =>
      lloydFit(sample.map(v =>
        java.util.Arrays.copyOfRange(v, mi * sub, (mi + 1) * sub)), ks, rnd,
        iters = 6)
    })
  }

  /** Fit-and-query convenience form; repeated query batches should
    * [[fitPq]] once and use the model overload.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             shortlist: Int = 0, m: Int = 8, ks: Int = 256,
             vecCol: String = "embedding", idCol: String = "vec_id",
             seed: Long = 42L, maxTrain: Int = 2000): DataFrame =
    pqTopK(corpus, queries, k,
      fitPq(corpus, m, ks, vecCol, seed, maxTrain), shortlist, vecCol, idCol)

  /** Pre-trained-codebook overload of the PQ ADC scan. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             model: PqModel, shortlist: Int, vecCol: String,
             idCol: String): DataFrame =
    pqTopKIndexed(pqIndex(corpus, model, vecCol, idCol), queries, k,
      model, shortlist, vecCol, idCol)

  /** ENCODE-ONCE face: materialize the PQ index — (idCol, code as
    * array<int>, vecCol as array<double>). The m-byte codes are the 32×
    * compression PQ exists for; written as parquet, the ADC scan's column
    * pruning reads only (id, code). Encode is one narrow map against the
    * broadcast codebook closure; bulk-copies the column value to a
    * primitive array first (the generic Seq apply boxes every access, and
    * the argmin loop reads m·ks·sub elements per row — boxed, that was
    * ~10× slower than the arithmetic). Inline [[pqTopK]] routes through
    * this builder, so indexed ≡ inline by construction.
    */
  def pqIndex(corpus: DataFrame, model: PqModel,
              vecCol: String = "embedding",
              idCol: String = "vec_id"): DataFrame = {
    val codebooks = model.codebooks
    val m = model.m
    val sub = model.sub
    val encode = udf { (v: Seq[Double]) =>
      val a = v.toArray
      Array.tabulate(m) { mi =>
        val cb = codebooks(mi); val off = mi * sub
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cb.length) {
          var d = 0.0; var j = 0
          while (j < sub) { val t = a(off + j) - cb(c)(j); d += t * t; j += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        best
      }
    }
    val vd = col(vecCol).cast("array<double>")
    corpus.select(col(idCol), encode(vd).as("code"), vd.as(vecCol))
  }

  /** Query a prebuilt [[pqIndex]]: per-query LUT + norm precomputed on the
    * (broadcast) query side, then a candidate's score is m table lookups —
    * the codegen'd [[graft.functions.VectorFunctions.pq_adc_score]]
    * expression, with the model's centroid norms riding into generated
    * code as a reference object. No vector arithmetic and no encode stage
    * in the scan.
    */
  def pqTopKIndexed(index: DataFrame, queries: DataFrame, k: Int,
                    model: PqModel, shortlist: Int,
                    vecCol: String = "embedding",
                    idCol: String = "vec_id"): DataFrame = {
    val codebooks = model.codebooks
    val m = model.m
    val ks = model.ks
    val sub = model.sub
    // --- query-side ADC tables: dot(q_m, cent) and |cent|² per entry ---
    val centNorm2: Seq[Seq[Double]] =
      codebooks.map(_.map(c => c.map(x => x * x).sum).toSeq).toSeq
    val lutOf = udf { (q: Seq[Double]) =>
      val a = q.toArray
      Array.tabulate(m, ks) { (mi, c) =>
        val cb = codebooks(mi)(c); val off = mi * sub
        var d = 0.0; var j = 0
        while (j < sub) { d += a(off + j) * cb(j); j += 1 }
        d
      }.map(_.toSeq).toSeq
    }
    val qNorm = udf { (q: Seq[Double]) => math.sqrt(q.map(x => x * x).sum) }
    val qb = broadcast(
      queries.select(col(idCol).as("query_id"),
                     col(vecCol).cast("array<double>").as("qv"))
        .withColumn("lut", lutOf(col("qv")))
        .withColumn("qn", qNorm(col("qv"))))
    val approx = index.select(col(idCol).as("neighbor_id"), col("code"))
      .crossJoin(qb)
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
              graft.functions.VectorFunctions.pq_adc_score(
                col("lut"), col("qn"), col("code"), centNorm2).as("acos"))
    // shortlist <= 0 (exact gate mode) re-ranks every candidate — skip
    // the ADC ranking pass entirely rather than heap the full set
    val short =
      (if (shortlist > 0) rankTopK(approx, shortlist, "acos") else approx)
        .select("query_id", "neighbor_id")
    rankTopK(
      short
        .join(index.select(col(idCol).as("neighbor_id"),
                col(vecCol).cast("array<double>").as("cv")),
              Seq("neighbor_id"))
        .join(qb.select(col("query_id"), col("qv")), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
                cosine(col("qv"), col("cv")).as("cos")), k)
  }

  /** LSH-bucketed approximate top-k: corpus bucketed by hyperplane
    * signature; each query probes its own bucket plus all 1-bit-flip
    * neighbors (multi-probe), then candidates are ranked exactly. Recall is
    * tunable via planes/probes; cost per query is O(bucket size), not O(n).
    *
    * `probeAll = true` probes every one of the 2^planes buckets — candidate
    * set = full corpus, i.e. exact brute force routed through the identical
    * bucket-join plan. The correctness gate runs this mode (hash-matching
    * the brute-force oracle); bench keeps the multi-probe parameters.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              planes: Int = 8, vecCol: String = "embedding",
              idCol: String = "vec_id", seed: Int = 42,
              probeAll: Boolean = false): DataFrame =
    lshTopKIndexed(lshIndex(corpus, planes, vecCol, idCol, seed), queries,
      k, planes, vecCol, idCol, seed, probeAll)

  /** ENCODE-ONCE face: materialize the LSH index — (idCol, bucket, vecCol
    * as array<double>) — signatures computed once as codegen'd hyperplane
    * expressions. Write `.partitionBy("bucket")` (or bucket the table) so
    * a multi-probe's scan prunes to planes+1 buckets per query. Inline
    * [[lshTopK]] routes through this builder, so indexed ≡ inline by
    * construction.
    */
  def lshIndex(corpus: DataFrame, planes: Int = 8,
               vecCol: String = "embedding", idCol: String = "vec_id",
               seed: Int = 42): DataFrame =
    corpus.select(col(idCol),
      hyperplaneSignature(col(vecCol), planes, seed).as("bucket"),
      col(vecCol).cast("array<double>").as(vecCol))

  /** Query a prebuilt [[lshIndex]] (same planes/seed as the build):
    * multi-probe join on the bucket id, exact rank of the candidates.
    */
  def lshTopKIndexed(index: DataFrame, queries: DataFrame, k: Int,
                     planes: Int = 8, vecCol: String = "embedding",
                     idCol: String = "vec_id", seed: Int = 42,
                     probeAll: Boolean = false): DataFrame = {
    val bucketed = index.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"), col("bucket"))
    // query probes: own signature + each 1-bit flip (or, in exact mode,
    // every possible signature)
    val probeCol =
      if (probeAll) explode(sequence(lit(0), lit((1 << planes) - 1)))
      else explode(array(col("sig") +: (0 until planes).map(i =>
        col("sig").bitwiseXOR(lit(1 << i))): _*))
    val probes = broadcast(
      queries.select(col(idCol).as("query_id"),
                     col(vecCol).cast("array<double>").as("qv"),
                     hyperplaneSignature(col(vecCol), planes, seed).as("sig"))
        .select(col("query_id"), col("qv"), probeCol.as("bucket")))
    rankTopK(
      bucketed.join(probes, Seq("bucket"))
        .where(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
                cosine(col("qv"), col("cv")).as("cos"))
        .distinct(), k)
  }

  // --------------------------------------------------------------------
  // PCA: distributed second-moment statistics + driver eigensolve
  // --------------------------------------------------------------------

  /** One-pass distributed second-moment statistics: count, per-dimension
    * sums, and the packed upper triangle of the Gram matrix Σ v·vᵀ — the
    * sufficient statistic for mean, covariance, and PCA. A treeAggregate
    * over primitive double arrays (the RowMatrix shape): each task folds
    * its vectors into ONE d(d+1)/2+d+1 buffer, partials combine
    * tree-wise, and only those buffers move — never the vectors. For
    * d=64 the buffer is ~17 KB; at 100 TB the reduction is
    * vectors → (#partitions × 17 KB) → driver.
    */
  private[graft] def gramStats(corpus: DataFrame, vecCol: String)
      : (Array[Double], Array[Double], Long, Int) = {
    val vecs = corpus.select(col(vecCol).cast("array<double>"))
      .na.drop().rdd.map(_.getSeq[Double](0).toArray)
    val d = vecs.first().length
    val tri = d * (d + 1) / 2
    // acc layout: [0, tri) packed upper triangle, [tri, tri+d) sums,
    // [tri+d] count
    val acc0 = new Array[Double](tri + d + 1)
    val merged = vecs.treeAggregate(acc0)(
      (acc, v) => {
        require(v.length == d,
          s"ragged embedding: expected dim $d, got ${v.length}")
        var i = 0; var idx = 0
        while (i < d) {
          val vi = v(i)
          var j = i
          while (j < d) { acc(idx) += vi * v(j); idx += 1; j += 1 }
          acc(tri + i) += vi
          i += 1
        }
        acc(tri + d) += 1.0
        acc
      },
      (a, b) => { var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }; a })
    (merged.take(tri), merged.slice(tri, tri + d),
      merged(tri + d).toLong, d)
  }

  /** The full symmetric Gram matrix Σ v·vᵀ as a driver-side d×d array
    * (d is small by construction — embedding width, not corpus size).
    */
  def gramMatrix(corpus: DataFrame,
                 vecCol: String = "embedding"): Array[Array[Double]] = {
    val (tri, _, _, d) = gramStats(corpus, vecCol)
    val g = Array.ofDim[Double](d, d)
    var i = 0; var idx = 0
    while (i < d) {
      var j = i
      while (j < d) { g(i)(j) = tri(idx); g(j)(i) = tri(idx)
        idx += 1; j += 1 }
      i += 1
    }
    g
  }

  /** Cyclic Jacobi eigendecomposition of a small symmetric matrix
    * (Golub & Van Loan §8.5): sweeps of 2×2 rotations annihilating each
    * off-diagonal entry until convergence. O(d³) per sweep on the driver
    * — the right tool for covariance matrices whose side is an embedding
    * width. Returns (eigenvalues, eigenvectors as rows), sorted by
    * eigenvalue desc, each vector sign-normalized (largest-|entry|
    * positive) so the decomposition is deterministic.
    */
  private[graft] def jacobiEig(m: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = Array.tabulate(d, d)((i, j) => m(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def offNorm(): Double = {
      var s = 0.0; var i = 0
      while (i < d) { var j = i + 1
        while (j < d) { s += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
      s
    }
    var sweep = 0
    while (offNorm() > 1e-20 && sweep < 64) {
      var p = 0
      while (p < d) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1))
              else 1.0 / (theta - math.sqrt(theta * theta + 1))
            val c = 1.0 / math.sqrt(t * t + 1); val s = t * c
            val app = a(p)(p); val aqq = a(q)(q)
            a(p)(p) = c * c * app - 2.0 * s * c * apq + s * s * aqq
            a(q)(q) = s * s * app + 2.0 * s * c * apq + c * c * aqq
            a(p)(q) = 0.0; a(q)(p) = 0.0
            var k = 0
            while (k < d) {
              if (k != p && k != q) {
                val akp = a(k)(p); val akq = a(k)(q)
                a(k)(p) = c * akp - s * akq; a(p)(k) = a(k)(p)
                a(k)(q) = s * akp + c * akq; a(q)(k) = a(k)(q)
              }
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    val eigs = order.map(i => a(i)(i)).toArray
    val vecs = order.map { i =>
      val row = Array.tabulate(d)(k => v(k)(i))
      val m0 = row.indices.maxBy(k => math.abs(row(k)))
      if (row(m0) < 0) row.map(x => -x) else row
    }.toArray
    (eigs, vecs)
  }

  /** A fitted PCA model: the corpus mean, the top-k principal components
    * (rows, orthonormal, variance-descending), their eigenvalues, and
    * the fit size.
    */
  final case class PcaModel(mean: Array[Double],
                            components: Array[Array[Double]],
                            eigenvalues: Array[Double], n: Long) {
    def k: Int = components.length
    def dim: Int = mean.length
  }

  /** PCA TRAINING: population covariance from the one-pass distributed
    * [[gramStats]] (`C = G/n − μμᵀ`), eigensolved on the driver by
    * [[jacobiEig]] — the embedding-table dimensionality reducer that
    * makes every downstream ANN / SemDeDup / clustering pass cheaper.
    * Deterministic: no sampling, no iteration-order dependence on the
    * data side beyond float-sum reordering (~1e-13 relative).
    */
  def pcaFit(corpus: DataFrame, k: Int,
             vecCol: String = "embedding"): PcaModel = {
    val (tri, sums, n, d) = gramStats(corpus, vecCol)
    require(n > 0, "pcaFit on an empty corpus")
    require(k >= 1 && k <= d, s"k=$k out of range for dim $d")
    val mean = sums.map(_ / n)
    val cov = Array.ofDim[Double](d, d)
    var i = 0; var idx = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = tri(idx) / n - mean(i) * mean(j)
        cov(i)(j) = c; cov(j)(i) = c; idx += 1; j += 1
      }
      i += 1
    }
    val (eigs, vecs) = jacobiEig(cov)
    PcaModel(mean, vecs.take(k), eigs.take(k), n)
  }

  /** Project embeddings onto a fitted PCA basis: out[i] = ⟨v − μ, cᵢ⟩.
    * Centering folds into a constant offset (⟨v−μ,c⟩ = ⟨v,c⟩ − ⟨μ,c⟩),
    * so the op stays a narrow map of k codegen'd dot products — the
    * [[projectOnBasis]] shape, no shuffle. `whiten` divides each
    * component by √λᵢ (unit-variance output, the SemDeDup/clustering
    * preconditioner); eigenvalues below `eps` clamp to `eps` so a
    * degenerate direction cannot produce ±∞.
    */
  def pcaProject(corpus: DataFrame, model: PcaModel,
                 vecCol: String = "embedding", idCol: String = "vec_id",
                 whiten: Boolean = false, eps: Double = 1e-12): DataFrame = {
    val vd = col(vecCol).cast("array<double>")
    val comps = model.components.zipWithIndex.map { case (b, i) =>
      val offset = b.zip(model.mean).map { case (x, m) => x * m }.sum
      val raw = graft.functions.VectorFunctions.dot_product(
        vd, array(b.map(lit): _*)) - lit(offset)
      if (whiten) raw / lit(math.sqrt(math.max(model.eigenvalues(i), eps)))
      else raw
    }
    corpus.select(col(idCol), array(comps.toIndexedSeq: _*).as("projected"))
  }

  // ------------------------------------------------------------------ //
  // Binary (1-bit sign) quantization — the extreme end of the compression
  // ladder (brute → LSH → IVF → SQ8 → PQ → BQ): a D-dim float32 vector
  // becomes ⌈D/64⌉ Longs (64-dim → 8 bytes, 32× smaller), candidates rank
  // by Hamming distance between sign patterns (≈ angle, the modern
  // "binary embedding" retrieval tier), and the per-query shortlist
  // re-ranks on exact vectors fetched by id — the SQ/PQ two-stage shape.
  // ------------------------------------------------------------------ //

  private def bqWords(vd: Column, d: Int): Column = {
    val nW = (d + 63) / 64
    array((0 until nW).map { w =>
      (0 until math.min(64, d - 64 * w)).map { b =>
        when(element_at(vd, w * 64 + b + 1) > 0.0, lit(1L << b))
          .otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
    }: _*)
  }

  private def bqHamming(a: Column, b: Column, nW: Int): Column =
    (0 until nW).map(w =>
      bit_count(element_at(a, w + 1).bitwiseXOR(element_at(b, w + 1)))
        .cast("long"))
      .reduce(_ + _)

  /** Materialized binary-quantization index: (id, code ⌈D/64⌉ longs,
    * vector). The probe face scans only (id, code); the exact re-rank
    * fetches vectors by id.
    */
  def bqIndex(corpus: DataFrame, vecCol: String = "embedding",
              idCol: String = "vec_id"): DataFrame = {
    val d = corpus.select(size(col(vecCol))).first().getInt(0)
    val vd = col(vecCol).cast("array<double>")
    corpus.select(col(idCol), bqWords(vd, d).as("code"), vd.as(vecCol))
  }

  /** Query a prebuilt [[bqIndex]]: Hamming-rank the sign codes (the
    * compressed scan — 8 bytes per 64-dim candidate), exact cosine
    * re-rank of the per-query shortlist. `shortlist <= 0` re-ranks every
    * candidate (the exact-recall gate mode).
    */
  def bqTopKIndexed(index: DataFrame, queries: DataFrame, k: Int,
                    shortlist: Int, vecCol: String = "embedding",
                    idCol: String = "vec_id"): DataFrame = {
    val d = queries.select(size(col(vecCol))).first().getInt(0)
    val nW = (d + 63) / 64
    val qv = col(vecCol).cast("array<double>")
    val qb = broadcast(queries.select(col(idCol).as("query_id"),
      qv.as("qv"), bqWords(qv, d).as("qcode")))
    val approx = index.select(col(idCol).as("neighbor_id"), col("code"))
      .crossJoin(qb)
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (-bqHamming(col("code"), col("qcode"), nW)).cast("double")
          .as("nham"))
    val short =
      (if (shortlist > 0) rankTopK(approx, shortlist, "nham") else approx)
        .select("query_id", "neighbor_id")
    rankTopK(
      short
        .join(index.select(col(idCol).as("neighbor_id"),
                col(vecCol).cast("array<double>").as("cv")),
              Seq("neighbor_id"))
        .join(qb.select(col("query_id"), col("qv")), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
                cosine(col("qv"), col("cv")).as("cos")), k)
  }

  /** Inline face: encode + query in one call (the gate form); production
    * probes use [[bqIndex]] + [[bqTopKIndexed]].
    */
  def bqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             shortlist: Int, vecCol: String = "embedding",
             idCol: String = "vec_id"): DataFrame =
    bqTopKIndexed(bqIndex(corpus, vecCol, idCol), queries, k, shortlist,
      vecCol, idCol)

  // ------------------------------------------------------------------ //
  // Distributed k-means (full-corpus Lloyd) under an exact-arithmetic
  // contract — the TRAINING face that complements the sample-capped
  // [[fitIvf]]: every row votes in every iteration, so the fit is the
  // one a production pipeline runs when the corpus is too skewed for a
  // 20k sample to represent (heavy multimodal clusters, rare-language
  // islands).
  //
  // The contract (the fitLinearHashed pattern) makes the whole fit
  // aggregation-order-independent and engine-portable:
  //   - input vectors quantize to the 2^-8 grid: q̂ⱼ = round(256·xⱼ)
  //     (×256 is exact — a pure exponent shift — so only ONE rounding);
  //   - distances are exact Long sums of (256·q̂ⱼ − ĉⱼ)² with ties to the
  //     lowest cell index;
  //   - centroids live on the 2^-16 grid as Longs, re-derived per
  //     iteration by INTEGER rational rounding (half away from zero:
  //     (2·256·|s| + n) ∕∕ 2n, signed) — no float division anywhere;
  //   - seeds are the k rows with the smallest (portable-md5-hash, id).
  // Every step is replayable in DuckDB SQL — the sim_kmeans_train gate
  // re-runs the entire fit there and hash-matches the centroids.
  // ------------------------------------------------------------------ //

  /** Centroids on the 2^-16 grid (value = ĉⱼ / 65536). */
  final case class QKmeansModel(centers: Array[Array[Long]]) {
    def k: Int = centers.length
  }

  /** Exact Long argmin cell for one quantized vector. */
  private[ext] def nearestQ(cents: Array[Array[Long]],
                            q: Array[Long]): Int = {
    var best = 0
    var bd = Long.MaxValue
    var c = 0
    while (c < cents.length) {
      val ct = cents(c)
      var d = 0L
      var j = 0
      while (j < ct.length) {
        val t = (q(j) << 8) - ct(j)
        d += t * t
        j += 1
      }
      if (d < bd) { bd = d; best = c } // strict: ties keep the lowest cell
      c += 1
    }
    best
  }

  /** Integer half-away-from-zero rounding of (256·s)/n, n > 0. */
  private def roundQ(s: Long, n: Long): Long = {
    val p = 256L * math.abs(s)
    val r = (2L * p + n) / (2L * n)
    if (s >= 0) r else -r
  }

  private def quantized(corpus: DataFrame, vecCol: String,
                        idCol: String): DataFrame =
    corpus.select(col(idCol).as("id"),
      transform(col(vecCol), x =>
        round(x.cast("double") * 256).cast("long")).as("q"))

  /** Full-corpus distributed Lloyd fit. Per iteration: assignment is a
    * narrow map (broadcast k×d Long centroid table), and the update is
    * ONE partial-agg'd shuffle whose map output is ≤ k·d rows PER TASK
    * (posexplode + groupBy(cell, dim) combines map-side) — the wire never
    * carries vectors. The driver holds k·d Longs and re-derives the grid
    * centroids; empty cells keep their previous centroid.
    */
  def kmeansFitQ(corpus: DataFrame, vecCol: String = "embedding",
                 idCol: String = "vec_id", k: Int = 4,
                 iters: Int = 3): QKmeansModel = {
    require(k >= 1 && iters >= 0, "k >= 1 and iters >= 0")
    val spark = corpus.sparkSession
    val q = OpCaches.persist(quantized(corpus, vecCol, idCol))
    // deterministic seeds: k smallest (md5-hash, id); a seed point's grid
    // image is itself (256·q̂ lands exactly on the 2^-16 grid)
    val seeds = q.select(col("id"), col("q"),
        graft.ext.Pipeline.portableHash60(col("id").cast("string")).as("h"))
      .orderBy(col("h"), col("id")).limit(k).collect()
    require(seeds.length == k, s"corpus has fewer than k=$k rows")
    var cents: Array[Array[Long]] =
      seeds.map(_.getSeq[Long](1).map(_ << 8).toArray)
    var it = 0
    while (it < iters) {
      val bc = spark.sparkContext.broadcast(cents)
      val cellOf = udf((qv: Seq[Long]) => nearestQ(bc.value, qv.toArray))
      val sums = q.select(cellOf(col("q")).as("cell"), posexplode(col("q")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = roundQ(r.getLong(2), r.getLong(3))
      }
      cents = next
      it += 1
    }
    QKmeansModel(cents)
  }

  /** Final cell assignment under a [[kmeansFitQ]] model — the same exact
    * Long argmin the fit used (narrow map, broadcast centroids).
    */
  def kmeansAssignQ(corpus: DataFrame, model: QKmeansModel,
                    vecCol: String = "embedding",
                    idCol: String = "vec_id"): DataFrame = {
    val bc = corpus.sparkSession.sparkContext.broadcast(model.centers)
    val cellOf = udf((qv: Seq[Long]) => nearestQ(bc.value, qv.toArray))
    quantized(corpus, vecCol, idCol)
      .select(col("id").as(idCol), cellOf(col("q")).as("cell"))
  }

  /** HARD negatives for contrastive training: per query, the
    * top-`k` cosine neighbors that are NOT that query's positives (and
    * not the query itself) — the highest-loss negatives an embedding
    * trainer wants, vs [[graft.ext.Pipeline.negativeSamples]]' uniform
    * draws. Rank order is dense (1..k) AFTER the positives are removed,
    * so the output is loader-ready.
    *
    * Scale shape: oversample top-(k + maxPositivesPerQuery) through any
    * retrieval face — here the exact [[bruteForceTopK]] for the gate's
    * oracle-checkability; swap in `ivfTopKIndexed`/`bqTopKIndexed` for
    * the 100 TB path, the contract is identical — then one left-anti
    * join against the positives and a bounded re-rank.
    */
  def hardNegatives(corpus: DataFrame, positives: DataFrame, k: Int,
                    maxPositivesPerQuery: Int = 8,
                    vecCol: String = "embedding",
                    idCol: String = "vec_id",
                    queryCol: String = "query_id",
                    posCol: String = "pos_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxPositivesPerQuery >= 0, "maxPositivesPerQuery must be >= 0")
    val queries = corpus.join(
      positives.select(col(queryCol).as(idCol)).distinct(),
      Seq(idCol), "left_semi")
    val cand = bruteForceTopK(corpus, queries, k + maxPositivesPerQuery,
      vecCol, idCol)
    val pos = positives.select(col(queryCol).as("query_id"),
      col(posCol).as("neighbor_id")).distinct()
    import org.apache.spark.sql.expressions.Window
    cand.join(pos, Seq("query_id", "neighbor_id"), "left_anti")
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id"))))
      .where(col("__rk") <= k)
      .select(col("query_id"), col("__rk").cast("int").as("rank"),
        col("neighbor_id").as("neg_id"), col("cos"))
  }

  /** L2-normalize a vector column (unit sphere — cosine becomes dot).
    * Pure Column arithmetic over HOF-free codegen'd dot products; zero
    * vectors pass through unchanged (no division by 0).
    */
  def l2Normalize(vec: Column): Column = {
    val vd = vec.cast("array<double>")
    val n = sqrt(graft.functions.VectorFunctions.dot_product(vd, vd))
    when(n === 0.0, vd).otherwise(transform(vd, x => x / n))
  }

  /** Matryoshka truncation: keep the first `dims` coordinates and
    * re-normalize — the MRL serving trade (a 64-dim embedding truncated
    * to 16 dims is 4× cheaper to scan and ~keeps ranking when the model
    * was Matryoshka-trained). A narrow map; compose with any ANN face
    * for a cheap first-stage shortlist re-ranked on full vectors (the
    * SQ/PQ two-stage shape at the REPRESENTATION level).
    */
  def matryoshka(vec: Column, dims: Int): Column = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    l2Normalize(slice(vec.cast("array<double>"), 1, dims))
  }

  /** Incremental IVF index maintenance: assign a NEW batch of vectors
    * under the EXISTING quantizer and append — the steady-state shape of
    * a continuously-ingesting 100 TB index (daily crawl increments never
    * re-encode the corpus). Assignment is the same narrow map as
    * [[ivfIndex]]; the union is metadata-only. Result ≡ rebuilding the
    * index over the concatenated corpus with the same model
    * (spec-checked), because cell assignment is per-vector.
    *
    * The drift caveat is real and deliberate: appends shift the data
    * distribution away from the frozen centroids. Watch
    * [[indexHealth]]'s `load_x1000` after appends and re-fit when a cell
    * runs hot ([[ivfNeedsRefit]] is that policy as a predicate).
    */
  def ivfAppend(index: DataFrame, newVecs: DataFrame, model: IvfModel,
                vecCol: String = "embedding",
                idCol: String = "vec_id"): DataFrame =
    index.unionByName(ivfIndex(newVecs, model, vecCol, idCol))

  /** Refit policy predicate: true when any cell of `index` carries more
    * than `maxLoadX1000`/1000 × its fair share (default 4×) under the
    * model's cell count — the signal that appended data has drifted from
    * the frozen centroids and probe pruning is degrading toward a full
    * scan. One tiny aggregation (≤ k rows collect).
    */
  def ivfNeedsRefit(index: DataFrame, model: IvfModel,
                    maxLoadX1000: Long = 4000L): Boolean =
    indexHealth(index.select(col("cell")), model.centers.length)
      .agg(max(col("load_x1000"))).first().getLong(0) > maxLoadX1000

  /** ANN index health report: per-cell population of an IVF/k-means
    * assignment — the ops face a 100 TB index needs before every probe
    * budget decision. A skewed cell list (one mega-cell) turns nprobe
    * pruning into a full scan; this report is what triggers a re-fit or
    * a cell split. One partial-agg shuffle on the cell id; empty cells
    * appear explicitly (they waste probe budget silently otherwise).
    *
    * Per cell: `n` vectors, `share_ppm` of the corpus, and `load_x1000`
    * (n·k/N scaled ×1000 — 1000 = perfectly balanced, 4000 = the cell
    * carries 4× its fair share). Integer floor arithmetic throughout —
    * engine-exact.
    */
  def indexHealth(assign: DataFrame, k: Int,
                  cellCol: String = "cell"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = assign.sparkSession
    val counts = assign.groupBy(col(cellCol).cast("int").as("cell"))
      .agg(count(lit(1)).as("n"))
    // total as a broadcast one-row frame (a global window over the
    // k-row frame would force a single-partition WindowExec)
    val total = counts.agg(greatest(lit(1L),
      coalesce(sum(col("n")), lit(0L))).as("__t"))
    spark.range(k).select(col("id").cast("int").as("cell"))
      .join(counts, Seq("cell"), "left")
      .crossJoin(broadcast(total))
      .select(col("cell"), coalesce(col("n"), lit(0L)).as("n"),
        col("__t"))
      .select(col("cell"), col("n"),
        floorDiv(col("n") * 1000000L, col("__t")).as("share_ppm"),
        floorDiv(col("n") * k * 1000L, col("__t")).as("load_x1000"))
  }

  /** ANN quality-eval harness: per-query recall of an approximate result
    * against exact ground truth — the OTHER health face a probe-budget
    * decision needs besides [[indexHealth]]'s cell balance (a balanced
    * index that returns the wrong neighbors is still a broken index).
    * Both inputs carry `(query_id, neighbor_id, ...)` rows — any ANN tier
    * ([[bqTopK]], [[ivfTopKIndexed]], ...) against [[bruteForceTopK]] on
    * the SAME query set, or a cheap tier against a more exact one.
    *
    * Per query: `k_truth` ground-truth rows, `hits` of them present in
    * the approximate result, `recall` = hits/k_truth. Queries the
    * approximate tier missed entirely still appear (recall 0) — the
    * truth side drives the report, so a probe face that silently drops a
    * query cannot inflate its average.
    *
    * 100 TB shape: the inputs are (queries × k) rows — index-probe
    * OUTPUTS, corpus-independent — so both joins are sub-broadcast-sized
    * eval bookkeeping; the expensive part (running the two tiers) is the
    * caller's amortized index probe. Run it on a sampled query panel per
    * index build, alongside [[indexHealth]].
    */
  def recallReport(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val x = exact.select(col("query_id"), col("neighbor_id"))
    val hits = a.join(x, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    x.groupBy("query_id").agg(count(lit(1)).as("k_truth"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("k_truth"),
        coalesce(col("hits"), lit(0L)).as("hits"))
      .select(col("query_id"), col("k_truth"), col("hits"),
        round(col("hits").cast("double") / col("k_truth"), 6).as("recall"))
  }

  /** Embedding drift between two corpus snapshots, per group: the
    * monitoring row an embedding-dependent pipeline (ANN index, semantic
    * dedup, hard-negative mining) reads before trusting last month's
    * index against this month's crawl. For each group the report gives
    * both snapshot counts and the cosine between the group CENTROIDS —
    * the first-moment drift signal (1.0 = direction unchanged; a falling
    * cosine means re-fit the quantizer / rebuild cells).
    *
    * Engine-portable by construction: every vector quantizes to integer
    * per-dimension units (round(x·quant) — exact Long sums thereafter;
    * cosine is scale-invariant so the SUM vector stands in for the
    * mean), and the final cosine divides exact Longs in IEEE double
    * (sqrt is correctly rounded, inputs < 2⁵³) rounded to 6 — bit-equal
    * in any engine given the same rows, so the gate hash-matches DuckDB.
    *
    * Shape: per snapshot ONE (group, dim)-keyed partial-agg'd shuffle
    * over the exploded vector volume (the tf-idf shape), then a
    * (group, dim) equi-join and a group-keyed reduce — dims are a
    * constant factor, nothing is driver-side. Groups present in only
    * one snapshot report their counts with a null cosine (full outer).
    */
  def centroidDrift(v1: DataFrame, v2: DataFrame,
                    vecCol: String = "embedding",
                    groupCol: String = "label",
                    quant: Int = 1000): DataFrame = {
    require(quant >= 1, s"quant must be >= 1, got $quant")
    def sums(df: DataFrame, tag: String): DataFrame = df
      .select(col(groupCol).as("g"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("g"), col("dim"))
      .agg(sum(round(col("x") * quant).cast("long")).as(s"s$tag"),
        count(lit(1)).as(s"n$tag"))
    val a = sums(v1, "1")
    val b = sums(v2, "2")
    val joined = a.join(b, Seq("g", "dim"), "full_outer")
    joined.groupBy(col("g"))
      .agg(
        // per-group row count = any dimension's count; max is safe and
        // null-tolerant for one-sided groups
        max(col("n1")).as("n_v1"), max(col("n2")).as("n_v2"),
        sum(col("s1") * col("s2")).as("dot"),
        sum(col("s1") * col("s1")).as("q1"),
        sum(col("s2") * col("s2")).as("q2"))
      .select(col("g").as(groupCol),
        coalesce(col("n_v1"), lit(0L)).as("n_v1"),
        coalesce(col("n_v2"), lit(0L)).as("n_v2"),
        when(col("q1") > 0 && col("q2") > 0,
          round(col("dot").cast("double") /
            (sqrt(col("q1").cast("double")) *
             sqrt(col("q2").cast("double"))), 6))
          .as("centroid_cos"))
  }
}
