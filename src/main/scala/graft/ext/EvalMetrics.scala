package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions, div, floorDiv}

/** Reference-vs-candidate text evaluation metrics — the scoring half of
  * an eval pipeline (the data half being contamination/decontamination):
  * given paired (reference, model output) texts, ROUGE-N per pair and
  * corpus-level BLEU, both from the shared clipped n-gram overlap kernel
  * (`graftfn.NgramOverlapCounts`, Papineni 2002 clipping) and both in
  * exact integer units so scores are engine-portable and
  * aggregation-order-independent. Ratios divide with
  * [[graft.functions.floorDiv]], and possibly-negative numerators with
  * [[graft.functions.div]], which truncates toward zero like DuckDB's
  * `//`.
  *
  * Scale shape: the kernel is a codegen'd NARROW map — per-pair metrics
  * ride the scan with zero shuffle; corpus BLEU adds one partial-agg'd
  * reduction of 2+2·maxN Longs. A 10⁹-pair eval set costs one pass.
  */
object EvalMetrics {

  /** Per-pair ROUGE-N in exact ppm: clipped n-gram matches over the
    * reference gram count (recall — the ROUGE headline number), over the
    * candidate gram count (precision), and their harmonic mean
    * `f1 = 2·m/(t_ref + t_cand)` (exact, since P and Q share the
    * numerator m). Zero-gram sides score 0, not NULL — an empty
    * candidate IS a zero-recall answer. Returns
    * (id, n_ref, n_cand, overlap, p_ppm, r_ppm, f1_ppm).
    */
  def rougeN(df: DataFrame, idCol: String, refCol: String,
             candCol: String, n: Int): DataFrame = {
    require(n >= 1 && n <= 8, s"rougeN needs 1 <= n <= 8, got $n")
    val c = VectorFunctions.ngram_overlap(col(refCol), col(candCol), n)
    val m = col("__c").getItem(2 + 2 * (n - 1))
    val tCand = col("__c").getItem(3 + 2 * (n - 1))
    val tRef = greatest(col("__c").getItem(0) - (n - 1), lit(0L))
    def ratioPpm(num: Column, den: Column): Column =
      when(den > 0, floorDiv(num * 1000000L, den)).otherwise(0L)
    df.select(col(idCol).as("id"), c.as("__c"))
      .select(col("id"),
        col("__c").getItem(0).as("n_ref"),
        col("__c").getItem(1).as("n_cand"),
        m.as("overlap"),
        ratioPpm(m, tCand).as("p_ppm"),
        ratioPpm(m, tRef).as("r_ppm"),
        ratioPpm(m * 2L, tRef + tCand).as("f1_ppm"))
  }

  /** Corpus BLEU components + log-BLEU in milli-nats: clipped matches
    * and totals per gram order summed over the corpus (the Papineni
    * corpus form — sum counts THEN divide, never average per-sentence
    * scores), the brevity penalty's log
    * `bp_milli = min(0, (cand_len − ref_len)·1000 // cand_len)` and
    * `log_bleu_milli = bp_milli + (Σ_n round(1000·ln(m_n/t_n))) // maxN`
    * — NULL when any order has zero matches (log BLEU is −∞ there;
    * sentence-level smoothing is deliberately not applied to the corpus
    * statistic). `exp(log_bleu_milli / 1000)` is BLEU; the components
    * are exact Longs, the only floats are per-order IEEE divisions and
    * milli-nat log quantization (the zipfSlope precedent). Returns one
    * row (n_pairs, ref_len, cand_len, m_1, t_1, …, bp_milli,
    * log_bleu_milli).
    */
  def bleuCorpus(df: DataFrame, refCol: String, candCol: String,
                 maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"bleuCorpus needs 1<=maxN<=8: $maxN")
    val c = VectorFunctions.ngram_overlap(col(refCol), col(candCol), maxN)
    val sums =
      Seq(sum(col("__c").getItem(0)).as("ref_len"),
          sum(col("__c").getItem(1)).as("cand_len")) ++
      (1 to maxN).flatMap(n => Seq(
        sum(col("__c").getItem(2 + 2 * (n - 1))).as(s"m_$n"),
        sum(col("__c").getItem(3 + 2 * (n - 1))).as(s"t_$n")))
    val agg = df.select(c.as("__c"))
      .agg(count(lit(1)).as("n_pairs"), sums: _*)
    val bp = when(col("cand_len") >= col("ref_len") || col("cand_len") === 0,
        lit(0L))
      .otherwise(div((col("cand_len") - col("ref_len")) * 1000L,
        col("cand_len")))
    val logPrecs = (1 to maxN).map(n =>
      when(col(s"m_$n") > 0,
        round(log(col(s"m_$n").cast("double") / col(s"t_$n")) * 1000)
          .cast("long")))
    val logSum = logPrecs.reduce(_ + _) // NULL-propagating: any m_n = 0
    agg.select((col("n_pairs") +: col("ref_len") +: col("cand_len") +:
      (1 to maxN).flatMap(n => Seq(col(s"m_$n"), col(s"t_$n")))) :+
      bp.as("bp_milli") :+
      (bp + div(logSum, lit(maxN.toLong))).as("log_bleu_milli"): _*)
  }

  /** BLEU as a double in [0, 1] appended to the [[bleuCorpus]] row —
    * the human-readable face (exp is not engine-portable; the gated
    * surface is the component row).
    */
  def bleuScore(components: DataFrame): DataFrame =
    components.withColumn("bleu",
      when(col("log_bleu_milli").isNotNull,
        exp(col("log_bleu_milli").cast("double") / 1000.0)))

  /** Ranked-retrieval evaluation at cutoff k — the metrics that price
    * the BM25 / ANN / RRF retrieval faces: per query, from a ranked run
    * (query, doc, rank) and graded relevance labels (query, doc, rel),
    *
    *  - `n_rel`, `hits` (relevant docs retrieved at rank ≤ k),
    *    `recall_ppm = hits·10⁶ // n_rel`
    *  - `rr_ppm = 10⁶ // (first relevant rank ≤ k)` (0 when none — the
    *    MRR@k convention; the corpus MRR is the mean of this column)
    *  - `dcg_micro = Σ_{rank≤k, rel>0} round(rel·10⁶ / log₂(rank+1))`,
    *    `idcg_micro` over the ideal (rel-descending) ordering, and
    *    `ndcg_ppm = dcg·10⁶ // idcg`
    *
    * Each DCG term quantizes to micro-units BEFORE summing, so the sums
    * are exact Longs (aggregation-order-free); log₂ is the only float
    * (one IEEE division inside, per the milli-nat precedent). The
    * driving row set is the queries with ≥ 1 positive label (a query
    * with nothing relevant has no defined recall/MRR/nDCG); a labeled
    * query the run never retrieved reports zeros honestly.
    *
    * The run is deduplicated on (query, doc) keeping the MINIMUM rank
    * before scoring — a doc a sloppy retriever returns at several ranks
    * ≤ k counts once (at its best position), so `hits ≤ n_rel`,
    * `recall_ppm ≤ 10⁶`, and `dcg ≤ idcg` hold unconditionally.
    *
    * Scale shape: one (query, doc) partial-agg'd dedup of the run, one
    * (query, doc) equi-join against labels, one query-keyed partial
    * agg; the ideal ordering is a row_number window over the LABELS
    * (bounded per query), never over the run.
    */
  def retrievalMetrics(run: DataFrame, labels: DataFrame,
                       queryCol: String, docCol: String, rankCol: String,
                       relCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val lb = OpCaches.persist(labels
      .select(col(queryCol).as("q"), col(docCol).as("doc"),
        col(relCol).cast("long").as("rel"))
      .where(col("rel") > 0))
    val dcgTerm = (rel: Column, pos: Column) =>
      round(rel.cast("double") * 1000000L / log2(pos.cast("double") + 1))
        .cast("long")
    val ideal = lb
      .withColumn("i", row_number().over(Window.partitionBy(col("q"))
        .orderBy(col("rel").desc, col("doc").asc)))
      .where(col("i") <= k)
      .groupBy(col("q"))
      .agg(sum(dcgTerm(col("rel"), col("i"))).as("idcg_micro"))
    val nRel = lb.groupBy(col("q"))
      .agg(count(lit(1)).cast("long").as("n_rel"))
    val scored = run
      .select(col(queryCol).as("q"), col(docCol).as("doc"),
        col(rankCol).cast("long").as("rank"))
      .where(col("rank") <= k)
      .groupBy(col("q"), col("doc"))
      .agg(min(col("rank")).as("rank"))
      .join(lb, Seq("q", "doc"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
      .groupBy(col("q"))
      .agg(sum((col("rel") > 0).cast("long")).as("hits"),
        min(when(col("rel") > 0, col("rank"))).as("first_rel"),
        sum(when(col("rel") > 0,
          dcgTerm(col("rel"), col("rank"))).otherwise(0L))
          .as("dcg_micro"))
    nRel.join(scored, Seq("q"), "left")
      .join(ideal, Seq("q"), "left")
      .select(col("q").as(queryCol), col("n_rel"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        floorDiv(coalesce(col("hits"), lit(0L)) * 1000000L,
          col("n_rel")).as("recall_ppm"),
        coalesce(floorDiv(lit(1000000L), col("first_rel")), lit(0L))
          .as("rr_ppm"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        col("idcg_micro"),
        floorDiv(coalesce(col("dcg_micro"), lit(0L)) * 1000000L,
          col("idcg_micro")).as("ndcg_ppm"))
  }
}
