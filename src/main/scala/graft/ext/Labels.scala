package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{div, floorDiv}

/** Label & preference aggregation — the annotation-side operators of an
  * LLM training-data pipeline (RLHF preference data, quality labels,
  * eval judgments). Given a table of noisy per-annotator labels, produce
  * the consensus label per item, per-annotator reliability diagnostics
  * (observed agreement and Cohen's kappa vs the consensus), and a
  * reliability-weighted relabeling (the one-round Dawid & Skene 1979
  * shape: majority init → annotator accuracy M-step → weighted-vote
  * E-step). Given a table of pairwise preferences, fit Bradley-Terry
  * (1952) strengths with Hunter's (2004) MM iteration — the standard
  * model behind chat-arena ratings and reward-model data curation.
  *
  * All scores are integer ppm (1.0 ≡ 1 000 000) computed with exact
  * Long division, so every result is aggregation-order independent and
  * bit-replayable in any engine (the Graph.pageRank contract — the gate
  * oracles re-run ALL iterations in DuckDB). A possibly-negative
  * numerator divides with [[graft.functions.div]], which truncates
  * toward zero like DuckDB's `//` and Java's Long `/`; floor division
  * would differ by 1 there. Non-negative ones use
  * [[graft.functions.floorDiv]], equal to both on that range.
  *
  * Scale shape: everything is groupBy/join on (item|annotator|player)
  * keys. The annotator and player dimensions are tiny (they broadcast);
  * the item-keyed aggregations are single partial-agg'd shuffles over
  * the annotation volume. Nothing collects to the driver except the
  * Bradley-Terry normalizer (a one-row scalar, broadcast back).
  */
object Labels {

  private val R = 1000000L // one unit, in ppm

  /** Plurality consensus per item with deterministic min-label
    * tie-break. Returns (item, label, votes, n_ann). One (item, label)
    * count shuffle + one item-keyed max-of-struct — no window, so the
    * whole thing is two partial-agg'd hash aggregations.
    */
  def majorityVote(ann: DataFrame, itemCol: String = "item",
                   annotatorCol: String = "annotator",
                   labelCol: String = "label"): DataFrame = {
    val vc = ann.groupBy(col(itemCol).as("item"), col(labelCol).as("label"))
      .agg(count(lit(1)).as("votes"))
    // max over (votes, -label): highest vote count, then LOWEST label —
    // the deterministic tie-break an engine-portable oracle needs
    vc.groupBy(col("item"))
      .agg(max(struct(col("votes").as("v"), (-col("label")).as("nl")))
             .as("best"),
           sum(col("votes")).as("n_ann"))
      .select(col("item"), (-col("best.nl")).cast("long").as("label"),
        col("best.v").as("votes"), col("n_ann"))
  }

  /** Per-annotator observed accuracy against a consensus table
    * (item, label). Returns (annotator, n_items, agree, acc_ppm) where
    * acc_ppm = agree·R / n (exact floor). The consensus side is the
    * output of [[majorityVote]] (or any gold table with the same two
    * columns).
    */
  def annotatorAccuracy(ann: DataFrame, consensus: DataFrame,
                        itemCol: String = "item",
                        annotatorCol: String = "annotator",
                        labelCol: String = "label"): DataFrame = {
    val joined = ann.select(col(itemCol).as("item"),
        col(annotatorCol).as("annotator"), col(labelCol).as("label"))
      .join(consensus.select(col("item"), col("label").as("cons")),
        Seq("item"))
    joined.groupBy(col("annotator"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("label") === col("cons"), 1L).otherwise(0L))
          .as("agree"))
      .select(col("annotator"), col("n_items"), col("agree"),
        floorDiv(col("agree") * R, col("n_items")).as("acc_ppm"))
  }

  /** Reliability-weighted relabeling — one Dawid-Skene round with
    * majority-vote initialization: each annotator's weight is their ppm
    * agreement with the plurality consensus; each item is relabeled to
    * the candidate with the largest summed weight (min-label
    * tie-break). Returns (item, label, weight_ppm). This is the
    * scalable core of the EM family — the accuracy M-step and the
    * weighted-vote E-step are each one shuffle; further EM rounds would
    * repeat the same two stages, with the annotator-weight table always
    * tiny (it broadcasts into the relabel join).
    */
  def weightedVote(ann: DataFrame, itemCol: String = "item",
                   annotatorCol: String = "annotator",
                   labelCol: String = "label"): DataFrame = {
    val cons = majorityVote(ann, itemCol, annotatorCol, labelCol)
      .select(col("item"), col("label"))
    val acc = annotatorAccuracy(ann, cons, itemCol, annotatorCol, labelCol)
      .select(col("annotator"), col("acc_ppm"))
    val weighted = ann.select(col(itemCol).as("item"),
        col(annotatorCol).as("annotator"), col(labelCol).as("label"))
      .join(broadcast(acc), Seq("annotator"))
      .groupBy(col("item"), col("label"))
      .agg(sum(col("acc_ppm")).as("w"))
    weighted.groupBy(col("item"))
      .agg(max(struct(col("w").as("w"), (-col("label")).as("nl")))
             .as("best"))
      .select(col("item"), (-col("best.nl")).cast("long").as("label"),
        col("best.w").as("weight_ppm"))
  }

  /** Multi-round Dawid-Skene-style EM with full CONFUSION MATRICES —
    * the upgrade from [[weightedVote]]'s single accuracy scalar: an
    * annotator who systematically confuses two classes, or one whose
    * errors CORRELATE with the consensus's own errors, is modeled per
    * (truth, said) cell, so a label can count as evidence for a truth
    * the annotator never says honestly (an anti-labeler's "0" supports
    * truth 1 once conf(a, 1, 0) is learned — the case the accuracy
    * scalar structurally cannot express; spec-pinned: a 2-perfect /
    * 2-anti / 1-consensus-hijacking fixture where BOTH majority and
    * weightedVote sit at 70% and this recovers 100%).
    *
    * Hard EM with LINEAR POOLING: init = plurality [[majorityVote]];
    * each round recomputes confusion cells conf_ppm(a, t, said) =
    * n(a, t, said)·R // n(a, t) from the current assignment (M-step)
    * and re-assigns each item to argmax_t Σ_a conf_ppm(a, t, said_ai)
    * with min-label tie-break (E-step). Dawid & Skene 1979 pool by
    * naive-Bayes PRODUCT; the sum is the transcendental-free form that
    * keeps every round in exact integer ppm, aggregation-order
    * independent, and bit-replayable in DuckDB (the module contract —
    * the gate oracle unrolls all rounds). Returns (item, label,
    * score_ppm, margin_ppm) after `iters` rounds — `margin_ppm` is the
    * winner's lead over the runner-up candidate (= the full score when
    * only one candidate exists), the routing signal a labeling program
    * uses to send low-confidence items back for more annotations.
    *
    * Scale shape per round: the M-step joins the annotation volume to
    * the item-keyed assignment (both sides item-partitioned) and
    * reduces to the |annotators|·|labels|² confusion table (tiny →
    * broadcasts); the E-step is one bounded |labels|-factor cross join
    * over the annotation volume into one (item, t) partial-agg shuffle.
    * The carried assignment feeds BOTH confusion aggregations (cells
    * and totals), so an unbarriered lineage doubles per round — the
    * Bradley-Terry shape, not the linear stationaryDistribution one.
    * Each round therefore barriers the new assignment with an eager
    * localCheckpoint (item-cardinality frame, two narrow columns),
    * registered so the blocks release with the query (VERDICT r9 #2;
    * ScaleSpec pins iters=8 within ~4× of iters=2).
    */
  def dawidSkene(ann: DataFrame, iters: Int = 2,
                 itemCol: String = "item",
                 annotatorCol: String = "annotator",
                 labelCol: String = "label"): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val a = OpCaches.persist(ann.select(col(itemCol).as("item"),
        col(annotatorCol).as("annotator"), col(labelCol).as("label")))
    val alphabet = OpCaches.persist(
      a.select(col("label").as("t")).distinct())
    var assign = majorityVote(a).select(col("item"), col("label"))
    var out: DataFrame = null
    var it = 0
    while (it < iters) {
      val truthed = a.join(assign.select(col("item"),
        col("label").as("t")), Seq("item"))
      val cells = truthed
        .groupBy(col("annotator"), col("t"), col("label"))
        .agg(count(lit(1)).as("n"))
      // tot(a, t) = Σ_said n(a, t, said): a window over the confusion
      // CELLS (|annotators|·|labels|² rows, already partitioned by the
      // groupBy's exchange) instead of a second full aggregation + join
      // over the annotation volume — same exact integers, one less
      // volume-sized shuffle and one less join per EM round (guide §2.3
      // aggregate-once; measured r13: dawid_skene_deep 46 → 37 jobs)
      val conf = cells
        .select(col("annotator"), col("t"), col("label"),
          floorDiv(col("n") * R,
            sum(col("n")).over(Window.partitionBy(
              col("annotator"), col("t")))).as("w"))
      // no broadcast HINT on conf: it is |annotators|·|labels|² — tiny
      // for a curated annotator pool, but a crowd raid makes the
      // annotator dimension grow with the data (the ScaleSpec raid row),
      // so size-based planning must keep the right to shuffle it
      // (the dedupSpans convention). The label alphabet IS bounded.
      val scored = a.crossJoin(broadcast(alphabet))
        .join(conf, Seq("annotator", "t", "label"), "left")
        .groupBy(col("item"), col("t"))
        .agg(sum(coalesce(col("w"), lit(0L))).as("s"))
      // per-item candidate list is bounded by the label alphabet, so the
      // sorted collect is O(|labels|) per item — (s desc, label asc), the
      // same deterministic order as the max-struct tie-break
      out = scored.groupBy(col("item"))
        .agg(sort_array(collect_list(struct(col("s").as("s"),
          (-col("t")).as("nt"))), asc = false).as("arr"))
        .select(col("item"),
          (-col("arr")(0).getField("nt")).cast("long").as("label"),
          col("arr")(0).getField("s").as("score_ppm"),
          (col("arr")(0).getField("s") -
            coalesce(col("arr")(1).getField("s"), lit(0L)))
            .as("margin_ppm"))
      // barrier the carried assignment: it is referenced twice next
      // round (cells + tots), so the plan doubles per EM round without
      // truncation — persist() would cache data but still re-analyze
      // the doubled tree (the measured Bradley-Terry failure mode).
      // The final round skips the barrier: `out` is returned lazily and
      // a checkpoint would eagerly execute it inside the operator.
      if (it < iters - 1)
        assign = OpCaches.checkpoint(
          out.select(col("item"), col("label")))
      it += 1
    }
    out
  }

  /** Per-annotator reliability report vs the plurality consensus:
    * (annotator, n_items, po_ppm, pe_ppm, kappa_ppm) — observed
    * agreement, chance agreement from the two marginal label
    * distributions, and Cohen's kappa, all in exact ppm. pe is the
    * per-class sum of (annotator marginal · consensus marginal) // R
    * with each factor floored at R·count // n first — the documented
    * fixed evaluation order that makes the value engine-portable.
    * kappa = (po − pe)·R trunc-div (R − pe); a degenerate pe = R (both
    * sides constant and equal) reports kappa = R. kappa < 0 (worse than
    * chance) is representable — truncating division keeps the negative
    * branch identical to DuckDB's `//`.
    */
  def annotatorReport(ann: DataFrame, itemCol: String = "item",
                      annotatorCol: String = "annotator",
                      labelCol: String = "label"): DataFrame = {
    val cons = majorityVote(ann, itemCol, annotatorCol, labelCol)
      .select(col("item"), col("label").as("cons"))
    val joined = ann.select(col(itemCol).as("item"),
        col(annotatorCol).as("annotator"), col(labelCol).as("label"))
      .join(cons, Seq("item"))
    val base = joined.groupBy(col("annotator"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("label") === col("cons"), 1L).otherwise(0L))
          .as("agree"))
    // per-(annotator, class) marginals over the items THIS annotator
    // labeled (per-annotator consensus marginal, so partial coverage is
    // handled); both tables are |annotators|×|classes| — tiny
    val pa = joined.groupBy(col("annotator"), col("label").as("c"))
      .agg(count(lit(1)).as("na"))
    val pc = joined.groupBy(col("annotator"), col("cons").as("c"))
      .agg(count(lit(1)).as("nc"))
    val pe = pa.join(pc, Seq("annotator", "c"))
      .join(base.select(col("annotator"), col("n_items")), Seq("annotator"))
      .select(col("annotator"),
        floorDiv(
          floorDiv(col("na") * R, col("n_items")) *
          floorDiv(col("nc") * R, col("n_items")), lit(R)).as("term"))
      .groupBy(col("annotator"))
      .agg(sum(col("term")).as("pe_ppm"))
    base.join(pe, Seq("annotator"))
      .select(col("annotator"), col("n_items"),
        floorDiv(col("agree") * R, col("n_items")).as("po_ppm"),
        col("pe_ppm"))
      .withColumn("kappa_ppm",
        when(col("pe_ppm") >= R, lit(R)).otherwise(
          div((col("po_ppm") - col("pe_ppm")) * R,
            lit(R) - col("pe_ppm"))))
  }

  /** Krippendorff's alpha (nominal) — the corpus-level reliability
    * statistic for a whole labeling program: unlike per-annotator kappa
    * (vs a consensus), alpha reads ALL pairable annotations at once and
    * tolerates missing data (items annotated by any subset of ≥ 2
    * annotators enter; singletons drop). The go/no-go number before
    * trusting a label set at all: ≥ 0.8 publishable, ≤ 0.67 suspect
    * (Krippendorff 2004).
    *
    *   Do = (1/N)·Σ_i [ordered disagreeing pairs within item i]/(n_i−1)
    *   De = (N² − Σ_c N_c²)/(N(N−1)),  α = 1 − Do/De
    *
    * Exact-integer evaluation order (engine-mirrored): the per-item
    * 1/(n_i−1) weight is evaluated as a MILLI-scaled floor per item —
    * a documented ≤ 0.001 absolute bias (zero when n_i−1 divides the
    * pair count, e.g. any balanced design), identical in both engines;
    * everything after is Long sums, floor division, and one signed
    * truncating division (α < 0 = systematic disagreement is
    * representable). De = 0 (every annotation one class) reports α = R
    * when Do = 0 and null otherwise — the undefined case stays visible
    * instead of faking a number.
    *
    * Shape: one (item, label) count shuffle + one item-keyed reduce
    * (both partial-agg'd) + label-marginal aggregates over the
    * class-cardinality table. Returns ONE row:
    * (n_items_paired, n_annotations, do_ppm, de_ppm, alpha_ppm).
    */
  def krippendorffAlpha(ann: DataFrame, itemCol: String = "item",
                        annotatorCol: String = "annotator",
                        labelCol: String = "label"): DataFrame = {
    val nic = ann.groupBy(col(itemCol).as("item"),
        col(labelCol).as("label"))
      .agg(count(lit(1)).as("nic"))
    val perItem = nic.groupBy(col("item"))
      .agg(sum(col("nic")).as("ni"),
        sum(col("nic") * (col("nic") - 1)).as("agreePairs"))
      .where(col("ni") >= 2)
    val items = OpCaches.persist(perItem
      .select(col("item"), col("ni"),
        floorDiv(
          (col("ni") * (col("ni") - 1) - col("agreePairs")) * 1000L,
          col("ni") - 1).as("doMilli")))
    val labelTot = nic.join(items.select(col("item")), Seq("item"))
      .groupBy(col("label")).agg(sum(col("nic")).as("nc"))
    val tot = items.agg(count(lit(1)).as("n_items_paired"),
      sum(col("ni")).as("nn"), sum(col("doMilli")).as("doSum"))
    val de = labelTot.agg(sum(col("nc") * col("nc")).as("sq"))
    tot.crossJoin(broadcast(de))
      .select(col("n_items_paired"), col("nn").as("n_annotations"),
        floorDiv(col("doSum") * 1000000L, col("nn") * 1000L)
          .as("do_ppm"),
        floorDiv((col("nn") * col("nn") - col("sq")) * 1000000L,
          col("nn") * (col("nn") - 1)).as("de_ppm"))
      .withColumn("alpha_ppm",
        when(col("de_ppm") === 0,
          when(col("do_ppm") === 0, lit(R)).otherwise(lit(null)))
        .otherwise(div((col("de_ppm") - col("do_ppm")) * 1000000L,
          col("de_ppm"))))
  }

  /** Bradley-Terry preference strengths via `iters` rounds of Hunter's
    * MM update, in exact Long ppm:
    *
    *   p_i ← W_i·R² // Σ_j n_ij·R² // (p_i + p_j)
    *
    * then renormalized to mean R per round (p_i ← p_i·K·R // Σp). W_i is
    * total wins, n_ij total comparisons between i and j (symmetric).
    * Returns (player, wins, n_comps, rank_ppm) for every player that
    * appears in any comparison. A player with zero wins fixes at rank 0
    * (it is dominated; the MM fixed point is 0 there) — the winner of
    * any comparison has W ≥ 1, so a played pair always has a positive
    * rank sum and no division hits zero.
    *
    * Scale shape: the per-iteration join is pairs ⋈ ranks ⋈ ranks keyed
    * on the two player columns, then ONE partial-agg'd shuffle keyed on
    * player; the normalizer is a one-row scalar aggregate broadcast
    * back (the accepted broadcast-one-side-scalar shape). The pair
    * table, wins, and player tables are computed once and persisted
    * (OpCaches lifecycle); |players| ≪ |comparisons| in every real
    * preference corpus, so iterations run over the small aggregate, not
    * the raw comparison volume.
    */
  def bradleyTerry(comparisons: DataFrame, winnerCol: String = "winner",
                   loserCol: String = "loser",
                   iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val c = comparisons.select(col(winnerCol).cast("long").as("w"),
      col(loserCol).cast("long").as("l"))
    val directed = OpCaches.persist(
      c.groupBy(col("w"), col("l")).agg(count(lit(1)).as("n")))
    // symmetrize via one explode pass over the directed aggregate (the
    // Dedup.clusters shape — no second scan of the comparison volume)
    val sym = OpCaches.persist(
      directed.select(explode(array(
          struct(col("w").as("i"), col("l").as("j"), col("n")),
          struct(col("l").as("i"), col("w").as("j"), col("n"))))
          .as("e"))
        .select(col("e.i").as("i"), col("e.j").as("j"), col("e.n").as("n"))
        .groupBy(col("i"), col("j")).agg(sum(col("n")).as("n")))
    // the player set rides the sym aggregate (every player appears as an
    // `i`), so wins is ONE join off sym's distinct keys — the separate
    // persisted `players` frame and its materialization job are gone, and
    // the rank seed derives from wins (same key set) for free (r13: part
    // of the 37 → ~30 job cut on this operator)
    val wins = OpCaches.persist(
      sym.select(col("i").as("player")).distinct()
        .join(directed.groupBy(col("w").as("player"))
          .agg(sum(col("n")).as("wins")), Seq("player"), "left")
        .select(col("player"), coalesce(col("wins"), lit(0L)).as("wins")))
    val nComps = sym.groupBy(col("i").as("player"))
      .agg(sum(col("n")).as("n_comps"))
    var ranks = wins.select(col("player"), lit(R).as("r"))
    var it = 0
    while (it < iters) {
      val d = sym
        .join(ranks.select(col("player").as("i"), col("r").as("ri")),
          Seq("i"))
        .join(ranks.select(col("player").as("j"), col("r").as("rj")),
          Seq("j"))
        .select(col("i"),
          floorDiv(col("n") * R * R, col("ri") + col("rj")).as("term"))
        .groupBy(col("i")).agg(sum(col("term")).as("dd"))
      val praw = wins.join(d.withColumnRenamed("i", "player"),
          Seq("player"))
        .select(col("player"),
          floorDiv(col("wins") * R * R, col("dd")).as("pr"))
      // normalizer as a GLOBAL window over praw: the frame is
      // |players|-sized by contract (a preference program rates a small
      // model/policy set), so the single-partition window is bounded —
      // and it keeps each iteration to ONE job instead of a separate
      // scalar-aggregate job plus a recompute of the same lineage.
      //
      // Each iteration SELF-joins ranks (pi ⋈ pj), so an unbarriered
      // lineage would re-execute 2^iters times — and a persist() is the
      // WRONG barrier: the data caches but Catalyst still re-analyzes
      // the whole doubling logical tree per action (measured 10 s vs
      // ~2 s at 64 players × 3 iterations). The eager localCheckpoint
      // truncates the plan to a LogicalRDD per round (exact — lineage
      // truncation cannot change integer arithmetic).
      // OpCaches.checkpoint: the checkpoint block lives outside the
      // CacheManager; without registration the final round's block
      // outlives the query (bench cache_leaked_blocks, VERDICT r8 #2)
      // k = |players| = praw's own row count (wins ⋈ d covers every
      // player each round: sym is symmetric, so each player appears as
      // an `i`); counting it in the SAME global window as the normalizer
      // replaces the up-front players.count() driver job — one
      // WindowExec computes both aggregates, identical integers
      ranks = OpCaches.checkpoint(praw
        .select(col("player"),
          floorDiv(
            col("pr") * count(lit(1)).over(Window.partitionBy()) * R,
            sum(col("pr")).over(Window.partitionBy())).as("r")))
      it += 1
    }
    wins.join(nComps, Seq("player"))
      .join(ranks, Seq("player"))
      .select(col("player"), col("wins"), col("n_comps"),
        col("r").as("rank_ppm"))
  }

  /** Streaming face of [[majorityVote]] — the labeling-program ingest
    * loop: annotations arrive in micro-batches, and every batch emits
    * the UPDATED consensus row for each item it touched (an Update-mode
    * changelog; the latest (item, …) row is the current consensus).
    * State per item is the per-label vote-count map — bounded by the
    * label alphabet, which is small by construction in any real
    * annotation schema — so state is O(items · labels) forever, no
    * watermark needed (items never expire; a relabel months later must
    * still merge into the same tally). Tie-break matches the batch
    * face: highest votes, then lowest label.
    */
  def majorityVoteStream(ann: DataFrame, itemCol: String = "item",
                         labelCol: String = "label"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    val spark = ann.sparkSession
    import spark.implicits._
    ann.select(col(itemCol).cast("long").as("item"),
        col(labelCol).cast("long").as("label"))
      .where(col("item").isNotNull && col("label").isNotNull)
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (item: Long, rows: Iterator[(Long, Long)],
         state: GroupState[Map[Long, Long]]) =>
          val tally = rows.foldLeft(state.getOption.getOrElse(
              Map.empty[Long, Long])) { case (m, (_, label)) =>
            m.updated(label, m.getOrElse(label, 0L) + 1L)
          }
          state.update(tally)
          // batch-face tie-break: max votes, then min label
          val (bestLabel, bestVotes) = tally.minBy { case (l, c) => (-c, l) }
          Iterator.single((item, bestLabel, bestVotes,
            tally.valuesIterator.sum))
      }
      .toDF("item", "label", "votes", "n_ann")
  }
}
