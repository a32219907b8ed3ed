package graft

import org.apache.spark.sql.functions._
import graft.ext.Labels

/** Label & preference aggregation (Labels.scala): planted-quality
  * recovery, deterministic tie-breaks, exact-ppm arithmetic, and
  * Bradley-Terry ordering recovery from a planted strength model.
  */
class Round8dSpec extends SparkSpecBase {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** 200 items, true class = item % 4, annotators 0..4 with planted
    * error rates 0/10/20/30/80% on per-annotator-hash-selected items
    * (the gate fixture's exact shape, small instance). Decorrelated
    * multiplicative hashes per annotator — nested noise windows with
    * colluding wrong labels would structurally hijack the plurality.
    */
  private val mults = Array(31L, 37L, 41L, 43L, 47L)
  private def ann() = {
    val rows = for {
      item <- 0L until 200L
      a <- 0L until 5L
    } yield {
      val c = item % 4
      val h = (item * mults(a.toInt) + a * 17) % 100
      val rate = if (a == 4) 80L else a * 10
      val label = if (h < rate) (c + 1 + h % 3) % 4 else c
      (item, a, label)
    }
    rows.toDF("item", "annotator", "label")
  }

  private def truth(item: Long): Long = item % 4

  test("majorityVote: beats every noisy annotator and ties are " +
    "min-label deterministic") {
    val mv = Labels.majorityVote(ann()).collect()
      .map(r => r.getAs[Long]("item") -> r.getAs[Long]("label")).toMap
    assert(mv.size == 200)
    val majAcc = mv.count { case (i, l) => l == truth(i) } / 200.0
    // expected wrong votes/item = 1.4 of 5 and wrong labels mostly
    // disagree with each other, so the plurality is right almost always
    // (prototyped exactly: 0.98 at every fixture size)
    assert(majAcc > 0.95, s"majority accuracy $majAcc")
    // majority beats the best non-perfect annotator's accuracy
    val a1Acc = ann().where(col("annotator") === 1)
      .collect().count(r =>
        r.getAs[Long]("label") == truth(r.getAs[Long]("item"))) / 200.0
    assert(majAcc >= a1Acc)
    // explicit tie: 1 vote each for labels 2 and 7 -> min label wins
    val tie = Seq((0L, 0L, 7L), (0L, 1L, 2L)).toDF("item", "annotator",
      "label")
    val t = Labels.majorityVote(tie).collect()
    assert(t.length == 1 && t(0).getAs[Long]("label") == 2L &&
      t(0).getAs[Long]("votes") == 1L && t(0).getAs[Long]("n_ann") == 2L)
  }

  test("annotatorAccuracy + weightedVote: planted reliability ordering " +
    "recovered; weighted consensus at least as accurate as majority") {
    val a = ann()
    val cons = Labels.majorityVote(a).select(col("item"), col("label"))
    val acc = Labels.annotatorAccuracy(a, cons).collect()
      .map(r => r.getAs[Long]("annotator") -> r.getAs[Long]("acc_ppm"))
      .toMap
    // planted 0/10/20/30/80% error rates -> strictly decreasing accuracy
    assert((0L to 3L).forall(i => acc(i) > acc(i + 1)),
      s"accuracy not monotone: $acc")
    // the perfect annotator agrees with the consensus wherever the
    // consensus is right, so acc(0) is the ceiling
    assert((1L to 4L).forall(i => acc(0L) >= acc(i)))
    val wv = Labels.weightedVote(a).collect()
      .map(r => r.getAs[Long]("item") -> r.getAs[Long]("label")).toMap
    val mv = Labels.majorityVote(a).collect()
      .map(r => r.getAs[Long]("item") -> r.getAs[Long]("label")).toMap
    val wAcc = wv.count { case (i, l) => l == truth(i) }
    val mAcc = mv.count { case (i, l) => l == truth(i) }
    assert(wAcc >= mAcc,
      s"weighted vote ($wAcc/200) worse than majority ($mAcc/200)")
  }

  test("annotatorReport: kappa monotone in planted quality, negative " +
    "kappa representable, po/pe exact ppm") {
    val rep = Labels.annotatorReport(ann()).collect()
      .map(r => r.getAs[Long]("annotator") ->
        ((r.getAs[Long]("n_items"), r.getAs[Long]("po_ppm"),
          r.getAs[Long]("pe_ppm"), r.getAs[Long]("kappa_ppm")))).toMap
    assert(rep.size == 5)
    rep.values.foreach { case (n, po, pe, _) =>
      assert(n == 200L)
      assert(po >= 0L && po <= 1000000L)
      assert(pe > 0L && pe < 1000000L) // 4 classes in play, never const
    }
    val kappas = (0L to 4L).map(a => rep(a)._4)
    assert(kappas.zip(kappas.tail).forall { case (hi, lo) => hi > lo },
      s"kappa not strictly decreasing: $kappas")
    // the 80%-noise annotator is BELOW chance vs consensus — negative
    // kappa, so the gate itself exercises the trunc-division negative
    // branch (the DuckDB `//` semantics match is load-bearing)
    assert(kappas.last < 0L,
      s"a4 kappa ${kappas.last} should be negative")
    // the perfect annotator mismatches consensus only where the
    // consensus itself is wrong -> near-ceiling kappa (prototyped 973333)
    assert(kappas.head > 950000L, s"a0 kappa ${kappas.head} too low")
  }

  test("annotatorReport: kappa goes negative for an adversarial " +
    "annotator (trunc-division negative branch, the DuckDB `//` match)") {
    // 3 reliable annotators fix the consensus; the 4th is always wrong
    val rows = (0L until 60L).flatMap { i =>
      val c = i % 3
      Seq((i, 0L, c), (i, 1L, c), (i, 2L, c), (i, 3L, (c + 1) % 3))
    }
    val rep = Labels.annotatorReport(
        rows.toDF("item", "annotator", "label")).collect()
      .map(r => r.getAs[Long]("annotator") -> r.getAs[Long]("kappa_ppm"))
      .toMap
    assert(rep(3L) < 0L, s"adversary kappa ${rep(3L)} should be negative")
    assert(rep(0L) == 1000000L) // perfect agreement with consensus
  }

  test("bradleyTerry: planted-strength ordering recovered; wins " +
    "conserved; crafted transitive chain ranks A > B > C") {
    // gate-fixture shape: 64 players, strength i+1, 2000 comparisons
    val comps = (0L until 2000L).flatMap { t =>
      val i = t % 64
      val j = (t * 7 + 13) % 64
      if (i == j) None
      else {
        val won = (t * 31 + 7) % (i + j + 2) < i + 1
        Some(if (won) (i, j) else (j, i))
      }
    }.toDF("winner", "loser")
    val bt = Labels.bradleyTerry(comps, iters = 3).collect()
    val rank = bt.map(r => r.getAs[Long]("player") ->
      r.getAs[Long]("rank_ppm")).toMap
    assert(rank.size == 64)
    // wins conservation: every comparison produced exactly one win
    assert(bt.map(_.getAs[Long]("wins")).sum ==
      comps.count())
    // n_comps double-counts (each comparison appears for both players)
    assert(bt.map(_.getAs[Long]("n_comps")).sum == 2 * comps.count())
    // ordering recovery: the top-strength half clearly outranks the
    // bottom half, and the extremes are separated
    val topMean = (48L until 64L).map(rank).sum / 16.0
    val botMean = (0L until 16L).map(rank).sum / 16.0
    assert(topMean > 2 * botMean,
      s"planted ordering not recovered: top=$topMean bot=$botMean")
    assert(rank(63L) > rank(4L))
    // crafted transitivity: A>B 9:1, B>C 9:1, no A-C comparisons —
    // MM propagates through the chain
    val chain = (Seq.fill(9)((1L, 2L)) ++ Seq((2L, 1L)) ++
      Seq.fill(9)((2L, 3L)) ++ Seq((3L, 2L))).toDF("winner", "loser")
    val cr = Labels.bradleyTerry(chain, iters = 5).collect()
      .map(r => r.getAs[Long]("player") -> r.getAs[Long]("rank_ppm"))
      .toMap
    assert(cr(1L) > cr(2L) && cr(2L) > cr(3L), s"chain not ordered: $cr")
  }

  test("bradleyTerry: determinism (exact ppm — two runs bit-identical) " +
    "and zero-win player fixes at rank 0") {
    val comps = Seq((1L, 2L), (1L, 2L), (3L, 2L), (1L, 3L))
      .toDF("winner", "loser")
    val a = Labels.bradleyTerry(comps, iters = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    val b = Labels.bradleyTerry(comps, iters = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(a.sameElements(b))
    val m = a.map(t => t._1 -> t._4).toMap
    assert(m(2L) == 0L, s"dominated player rank ${m(2L)} != 0")
    assert(m(1L) > m(3L)) // 2 wins + head-to-head win over 3
  }

  test("zipfSlope: planted power law fits slope ~ -1, flat corpus fits " +
    "0, below-2-terms languages dropped") {
    import graft.ext.TextAnalysis
    // one doc per language; language "pow" holds a planted Zipf corpus:
    // word w_r repeated floor(240/r) times, r = 1..24
    val pow = (1 to 24).flatMap(r => Seq.fill(240 / r)(f"w$r%02d"))
      .mkString(" ")
    val flat = (1 to 10).flatMap(r => Seq.fill(7)(f"f$r%02d")).mkString(" ")
    val df = Seq(("pow", pow), ("flat", flat), ("tiny", "lone"))
      .toDF("lang", "text")
    val got = TextAnalysis.zipfSlope(df, "text", "lang", topN = 64)
      .collect().map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("n_terms"), r.getAs[Long]("slope_ppm")))).toMap
    // single-word language has no variance to fit -> dropped
    assert(!got.contains("tiny") && got.size == 2)
    assert(got("flat") == ((10L, 0L)), s"flat: ${got("flat")}")
    val (n, slope) = got("pow")
    assert(n == 24L)
    // floor(240/r) tracks 240/r within rounding -> slope near -1.0
    assert(slope < -900000L && slope > -1100000L,
      s"planted Zipf slope $slope not ~ -1e6")
  }

  test("burstiness: exact VMR for uniform (0), concentrated " +
    "(N-1 regime) and absent-zeros accounting") {
    import graft.ext.TextAnalysis
    // 10 docs; "u" once per doc; "b" 10 times in doc 0 only
    val docs = (0L until 10L).map { i =>
      val b = if (i == 0) " " + Seq.fill(10)("b").mkString(" ") else ""
      (i, "u" + b)
    }.toDF("doc_id", "text")
    val got = TextAnalysis.burstiness(docs, "text", "doc_id", topN = 4)
      .collect().map(r => r.getAs[String]("w") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("total"),
          r.getAs[Long]("vmr_ppm")))).toMap
    assert(got.size == 2)
    // uniform term: variance 0 -> VMR exactly 0
    assert(got("u") == ((10L, 10L, 0L)), s"u: ${got("u")}")
    // all mass in one doc of N: VMR = (N*c2 - t*t)*1e6/(N*t)
    //                              = (10*100 - 100)*1e6/100 = 9e6
    assert(got("b") == ((1L, 10L, 9000000L)), s"b: ${got("b")}")
  }

  test("calibrationReport: perfectly calibrated fixture scores ECE 0 " +
    "exactly; anti-calibrated bin carries its exact gap") {
    import graft.ext.TextAnalysis
    // 16 items per bin at the bin midpoint p=(2b+1)/16 with exactly
    // 2b+1 positives: conf_ppm = acc_ppm = (2b+1)·62500 -> gap 0, ECE 0
    val perfect = (0 until 8).flatMap { b =>
      val p = (2 * b + 1) / 16.0
      (0 until 16).map(i => (p, i < 2 * b + 1))
    }.toDF("p", "y")
    val rep = TextAnalysis.calibrationReport(perfect, "p", "y", bins = 8)
      .collect().map(r => r.getAs[Long]("bin") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("n_pos"),
          r.getAs[Long]("conf_ppm"), r.getAs[Long]("acc_ppm"),
          r.getAs[Long]("gap_ppm"), r.getAs[Long]("ece_ppm")))).toMap
    assert(rep.size == 8)
    (0 until 8).foreach { b =>
      val (n, np, conf, acc, gap, ece) = rep(b.toLong)
      assert(n == 16L && np == 2L * b + 1)
      assert(conf == (2L * b + 1) * 62500, s"bin $b conf $conf")
      assert(conf == acc && gap == 0L && ece == 0L)
    }
    // overconfident: p=0.9375, all negative -> that bin's gap is the
    // full 937500 and ECE weights it by bin mass
    val over = (0 until 16).map(_ => (0.9375, false)).toDF("p", "y")
    val r2 = TextAnalysis.calibrationReport(over, "p", "y", bins = 8)
      .collect()
    assert(r2.length == 1)
    assert(r2(0).getAs[Long]("bin") == 7L &&
      r2(0).getAs[Long]("gap_ppm") == 937500L &&
      r2(0).getAs[Long]("ece_ppm") == 937500L)
  }

  test("centroidDrift: identical snapshots cos 1, orthogonal drift cos " +
    "0, 45-degree drift exact, one-sided group null") {
    import graft.ext.Similarity
    def e(xs: Float*) = xs.toSeq
    val v1 = Seq(
      (0, e(1f, 0f, 0f, 0f)), (0, e(1f, 0f, 0f, 0f)),
      (1, e(1f, 0f, 0f, 0f)),
      (2, e(0f, 0f, 1f, 0f)),
      (3, e(1f, 1f, 0f, 0f))).toDF("label", "embedding")
    val v2 = Seq(
      (0, e(1f, 0f, 0f, 0f)),
      (1, e(0f, 1f, 0f, 0f)),
      (3, e(1f, 0f, 0f, 0f))).toDF("label", "embedding")
    val got = Similarity.centroidDrift(v1, v2, "embedding", "label")
      .collect().map(r => r.getAs[Int]("label") ->
        ((r.getAs[Long]("n_v1"), r.getAs[Long]("n_v2"),
          Option(r.getAs[java.lang.Double]("centroid_cos"))))).toMap
    assert(got(0) == ((2L, 1L, Some(1.0))))   // same direction
    assert(got(1) == ((1L, 1L, Some(0.0))))   // orthogonal drift
    assert(got(2) == ((1L, 0L, None)))        // vanished group
    assert(got(3) == ((1L, 1L, Some(0.707107)))) // 45 degrees, exact round
  }

  test("preferencePairs: best-vs-worst with exact margins, tie-break " +
    "determinism, low-margin and singleton groups dropped") {
    import graft.ext.Pipeline
    val scored = Seq(
      (0L, 10L, 500L), (0L, 11L, 100L), (0L, 12L, 900L), // clear pair
      (1L, 20L, 300L), (1L, 21L, 350L),                   // margin 50
      (2L, 30L, 700L),                                    // singleton
      (3L, 40L, 400L), (3L, 41L, 400L), (3L, 42L, 400L)   // all tied
    ).toDF("prompt", "resp", "score")
    val pairs = Pipeline.preferencePairs(scored, "prompt", "resp",
        "score", minMargin = 100L).collect()
      .map(r => r.getAs[Long]("group") ->
        ((r.getAs[Long]("chosen"), r.getAs[Long]("rejected"),
          r.getAs[Long]("margin")))).toMap
    // group 0: 900 beats 100, margin 800
    assert(pairs == Map(0L -> ((12L, 11L, 800L))), s"got $pairs")
    // margin 0 pairs survive ONLY when explicitly requested, with
    // deterministic distinct ids from an all-tied group
    val zero = Pipeline.preferencePairs(scored, "prompt", "resp",
        "score", minMargin = 0L).collect()
      .map(r => r.getAs[Long]("group") ->
        ((r.getAs[Long]("chosen"), r.getAs[Long]("rejected"),
          r.getAs[Long]("margin")))).toMap
    assert(zero(3L) == ((40L, 42L, 0L))) // min id chosen, max id rejected
    assert(zero(1L) == ((21L, 20L, 50L)))
    assert(!zero.contains(2L)) // singleton can never pair
  }

  test("readability: hand-computed Flesch milli-points, sentence floor, " +
    "empty text null, codegen'd no-shuffle map") {
    import graft.ext.TextAnalysis
    val df = Seq(
      (1L, "the cat sat. the dog ran!"),  // 6 words, 2 sentences, 6 syl
      (2L, "no punctuation here"),        // floor: 1 sentence
      (3L, "")                            // empty -> null score
    ).toDF("id", "text")
    val r = TextAnalysis.readability(col("text"))
    val got = df.select(col("id"), r.getField("words").as("w"),
        r.getField("sentences").as("s"), r.getField("syllables").as("y"),
        r.getField("flesch_milli").as("f")).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2),
        x.getLong(3), Option(x.get(4)).map(_.asInstanceOf[Long])))).toMap
    // doc 1: 206835 - 1015*6/2 - 84600*6/6 = 206835 - 3045 - 84600
    assert(got(1L) == ((6L, 2L, 6L, Some(119190L))), s"doc1 ${got(1L)}")
    // doc 2: words=3, sentences floored to 1, syllables: o,u,a,io,e,e -> 6
    //   206835 - 3045 - 84600*6/3 = 34590
    assert(got(2L) == ((3L, 1L, 6L, Some(34590L))), s"doc2 ${got(2L)}")
    assert(got(3L) == ((0L, 1L, 0L, None)))
    // pure map: no Exchange in the plan
    val plan = df.select(TextAnalysis.readability(col("text")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "readability must not shuffle")
  }

  test("distinctNgrams: exact ratios for collapsed vs fresh pools, " +
    "short-text guard, unigram face") {
    import graft.ext.TextAnalysis
    val df = Seq(
      ("collapsed", "a b a b a b"),  // bigrams: ab,ba,ab,ba,ab -> 2/5
      ("fresh", "u v w x"),          // uv,vw,wx -> 3/3
      ("short", "solo"),             // no bigram -> absent from output
      ("short", "x")
    ).toDF("src", "text")
    val bi = TextAnalysis.distinctNgrams(df, "text", "src", n = 2)
      .collect().map(r => r.getAs[String]("src") ->
        ((r.getAs[Long]("total"), r.getAs[Long]("distinct"),
          r.getAs[Long]("distinct_ppm")))).toMap
    assert(bi("collapsed") == ((5L, 2L, 400000L)), s"${bi("collapsed")}")
    assert(bi("fresh") == ((3L, 3L, 1000000L)))
    assert(!bi.contains("short"), "texts shorter than n must not emit")
    val uni = TextAnalysis.distinctNgrams(df, "text", "src", n = 1)
      .collect().map(r => r.getAs[String]("src") ->
        r.getAs[Long]("distinct_ppm")).toMap
    assert(uni("collapsed") == 333333L) // a,b over 6 tokens
    assert(uni("short") == 1000000L)    // solo, x both fresh
  }

  test("bootstrapCi: CI brackets the point, width shrinks ~1/sqrt(n), " +
    "constant metric collapses to zero width, bit-identical reruns") {
    import graft.ext.Pipeline
    def mk(n: Long) = spark.range(n).select(col("id"),
      (pmod(col("id") * 131 + 7, lit(100L)) < 30).cast("long").as("v"))
    val r1 = Pipeline.bootstrapCi(mk(400), "id", "v", b = 64).collect()(0)
    val (p1, lo1, hi1) = (r1.getAs[Long]("point_micro"),
      r1.getAs[Long]("ci_lo_micro"), r1.getAs[Long]("ci_hi_micro"))
    assert(r1.getAs[Long]("n_items") == 400L &&
      r1.getAs[Long]("n_replicates") == 64L)
    assert(lo1 <= p1 && p1 <= hi1, s"CI [$lo1,$hi1] misses point $p1")
    assert(p1 == 300000L) // the planted 30% rate is exact mod 100
    val r2 = Pipeline.bootstrapCi(mk(6400), "id", "v", b = 64).collect()(0)
    val w1 = (hi1 - lo1).toDouble
    val w2 = (r2.getAs[Long]("ci_hi_micro") -
      r2.getAs[Long]("ci_lo_micro")).toDouble
    // 16x the data -> ~4x narrower; allow generous slack for the
    // 64-replicate quantile noise
    assert(w2 < w1 / 2 && w2 > w1 / 10,
      s"width did not shrink ~1/sqrt(n): $w1 -> $w2")
    // constant metric: every resampled mean is the constant
    val const = spark.range(100).select(col("id"), lit(7L).as("v"))
    val rc = Pipeline.bootstrapCi(const, "id", "v", b = 16).collect()(0)
    assert(rc.getAs[Long]("point_micro") == 7000000L &&
      rc.getAs[Long]("ci_lo_micro") == 7000000L &&
      rc.getAs[Long]("ci_hi_micro") == 7000000L)
    // deterministic: hash-drawn weights, rank-statistic bounds
    val again = Pipeline.bootstrapCi(mk(400), "id", "v", b = 64)
      .collect()(0)
    assert(again.getAs[Long]("ci_lo_micro") == lo1 &&
      again.getAs[Long]("ci_hi_micro") == hi1)
  }

  test("stationaryDistribution: symmetric 2-cycle stays uniform, " +
    "absorbing state takes all mass, exact ppm") {
    import graft.ext.Funnel
    import java.sql.Timestamp
    def ev(u: Long, seq: String*) = seq.zipWithIndex.map { case (t, i) =>
      (u, new Timestamp(1000L * i), t, i.toLong)
    }
    // a<->b forever: from-a all mass to b and vice versa -> uniform
    val cyc = ev(1L, "a", "b", "a", "b", "a", "b")
      .toDF("user_id", "ts", "event_type", "event_id")
    val pc = Funnel.stationaryDistribution(cyc, "user_id", "event_type",
        "ts", "event_id", iters = 3).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("pi_ppm"))
      .toMap
    assert(pc == Map("a" -> 1000000L, "b" -> 1000000L), s"cycle: $pc")
    // x -> y once, then y self-loops: y absorbs everything
    val abs = ev(2L, "x", "y", "y", "y", "y", "y")
      .toDF("user_id", "ts", "event_type", "event_id")
    val pa = Funnel.stationaryDistribution(abs, "user_id", "event_type",
        "ts", "event_id", iters = 3).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("pi_ppm"))
      .toMap
    assert(pa == Map("x" -> 0L, "y" -> 2000000L), s"absorbing: $pa")
  }

  test("winsorizedMean: exact clipped mean with an outlier, exact " +
    "percentile bounds") {
    import graft.ext.Pipeline
    val df = ((1 to 9).map(v => ("g", v.toLong)) :+ (("g", 1000L)))
      .toDF("grp", "v")
    val r = Pipeline.winsorizedMean(df, "v", "grp").collect()(0)
    // sorted [1..9, 1000]: p05 = 1 + 0.45·1 = 1.45,
    // p95 = 9 + 0.55·991 = 554.05; clipped sum = 1.45 + (2..9) + 554.05
    // = 599.5 -> mean 59.95 exactly in micro-units
    assert(r.getAs[Long]("n") == 10L)
    assert(r.getAs[Double]("lo") == 1.45 && r.getAs[Double]("hi") == 554.05)
    assert(r.getAs[Long]("wins_mean_micro") == 59950000L)
    // plain mean is 104.5 — the winsorized statistic resists the tail
    assert(r.getAs[Long]("wins_mean_micro") < 104500000L)
  }

  test("chiSquareHomogeneity: identical mixes score exactly 0, " +
    "perfect separation scores N, zero cells counted") {
    import graft.ext.Pipeline
    val same = (0 until 10).flatMap(i =>
      Seq((0L, "en"), (0L, "zh"), (1L, "en"), (1L, "zh")))
      .toDF("version", "lang")
    val r0 = Pipeline.chiSquareHomogeneity(same, "version", "lang")
      .collect()(0)
    assert(r0.getAs[Long]("chi2_milli") == 0L &&
      r0.getAs[Long]("dof") == 1L)
    // perfect separation in a 2x2 of 20: chi2 = N = 20.000 exactly,
    // with HALF the statistic coming from the two ZERO cells
    val sep = ((0 until 10).map(_ => (0L, "en")) ++
      (0 until 10).map(_ => (1L, "zh"))).toDF("version", "lang")
    val r1 = Pipeline.chiSquareHomogeneity(sep, "version", "lang")
      .collect()(0)
    assert(r1.getAs[Long]("chi2_milli") == 20000L, s"got $r1")
    assert(r1.getAs[Long]("n") == 20L && r1.getAs[Long]("dof") == 1L)
  }

  test("kendallTau: exact +/-1e6 extremes, ties count as neither, and " +
    "BT strengths agree with the planted ordering") {
    import graft.ext.Pipeline
    val up = (1L to 10L).map(i => (i, i, i * 7)).toDF("id", "x", "y")
    assert(Pipeline.kendallTau(up, "id", "x", "y").collect()(0)
      .getAs[Long]("tau_ppm") == 1000000L)
    val down = (1L to 10L).map(i => (i, i, -i)).toDF("id", "x", "y")
    assert(Pipeline.kendallTau(down, "id", "x", "y").collect()(0)
      .getAs[Long]("tau_ppm") == -1000000L)
    // tie on x in pair (1,2): 0 of 3 pairs discordant, 2 concordant
    val tied = Seq((1L, 1L, 1L), (2L, 1L, 2L), (3L, 2L, 3L))
      .toDF("id", "x", "y")
    val t = Pipeline.kendallTau(tied, "id", "x", "y").collect()(0)
    assert(t.getAs[Long]("n_pairs") == 3L &&
      t.getAs[Long]("concordant") == 2L &&
      t.getAs[Long]("discordant") == 0L &&
      t.getAs[Long]("tau_ppm") == 666666L)
    // the fitted BT strengths must rank-agree with the planted truth
    val comps = (0L until 2000L).flatMap { tt =>
      val i = tt % 64; val j = (tt * 7 + 13) % 64
      if (i == j) None
      else Some(if ((tt * 31 + 7) % (i + j + 2) < i + 1) (i, j)
                else (j, i))
    }.toDF("winner", "loser")
    val bt = Labels.bradleyTerry(comps, iters = 3)
      .select(col("player"), col("rank_ppm"),
        (col("player") + 1).as("strength"))
    val tau = Pipeline.kendallTau(bt, "player", "rank_ppm", "strength")
      .collect()(0).getAs[Long]("tau_ppm")
    assert(tau > 500000L, s"BT-vs-planted tau $tau too low")
  }

  test("giniConcentration: uniform usage scores exactly 0, planted " +
    "concentration scores the exact rank-formula value") {
    import graft.ext.TextAnalysis
    val uniform = "a b c d e a b c d e" // every type count 2
    val conc = (Seq.fill(99)("top") ++
      (1 to 9).map(i => s"w$i")).mkString(" ")
    val df = Seq(("u", uniform), ("k", conc)).toDF("lang", "text")
    val g = TextAnalysis.giniConcentration(df, "text", "lang")
      .collect().map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("n_types"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("gini_ppm")))).toMap
    assert(g("u") == ((5L, 10L, 0L)))
    // counts asc [1×9, 99]: G = (2·1035 − 11·108)/(10·108) = 882/1080
    assert(g("k") == ((10L, 108L, 816666L)), s"got ${g("k")}")
  }

  test("bootstrapCiByGroup: single-group face equals the global face; " +
    "smaller slices carry wider bands") {
    import graft.ext.Pipeline
    val df = spark.range(800).select(col("id"),
      when(col("id") < 160, "small").otherwise("big").as("grp"),
      (pmod(col("id") * 131 + 7, lit(100L)) < 30).cast("long").as("v"))
    val byG = Pipeline.bootstrapCiByGroup(df, "grp", "id", "v", b = 64)
      .collect().map(r => r.getAs[String]("grp") ->
        ((r.getAs[Long]("n_items"), r.getAs[Long]("point_micro"),
          r.getAs[Long]("ci_lo_micro"), r.getAs[Long]("ci_hi_micro"))))
      .toMap
    val (nS, pS, loS, hiS) = byG("small")
    val (nB, pB, loB, hiB) = byG("big")
    assert(nS == 160L && nB == 640L)
    assert(loS <= pS && pS <= hiS && loB <= pB && pB <= hiB)
    assert(hiS - loS > hiB - loB,
      s"small slice band ${hiS - loS} not wider than big ${hiB - loB}")
    // a constant-group input reproduces the global face bit for bit
    // (same ids -> same hash-drawn weights -> same replicate means)
    val one = df.withColumn("grp", lit("all"))
    val g1 = Pipeline.bootstrapCiByGroup(one, "grp", "id", "v", b = 64)
      .collect()(0)
    val g0 = Pipeline.bootstrapCi(df, "id", "v", b = 64).collect()(0)
    assert(g1.getAs[Long]("point_micro") == g0.getAs[Long]("point_micro"))
    assert(g1.getAs[Long]("ci_lo_micro") == g0.getAs[Long]("ci_lo_micro"))
    assert(g1.getAs[Long]("ci_hi_micro") == g0.getAs[Long]("ci_hi_micro"))
  }

  test("krippendorffAlpha: perfect agreement 1e6, systematic " +
    "disagreement deeply negative, degenerate De visible, singletons " +
    "dropped") {
    // perfect: 3 annotators agree on every item (labels vary by item)
    val perfect = (0L until 30L).flatMap(i =>
      (0L until 3L).map(a => (i, a, i % 4))).toDF("item", "annotator",
      "label")
    val p = Labels.krippendorffAlpha(perfect).collect()(0)
    assert(p.getAs[Long]("do_ppm") == 0L &&
      p.getAs[Long]("alpha_ppm") == 1000000L)
    // systematic disagreement: two annotators always differ on a
    // balanced 2-class design -> Do = 1 exactly, alpha deeply negative
    val anti = (0L until 20L).flatMap(i =>
      Seq((i, 0L, i % 2), (i, 1L, (i + 1) % 2))).toDF("item",
      "annotator", "label")
    val a = Labels.krippendorffAlpha(anti).collect()(0)
    assert(a.getAs[Long]("do_ppm") == 1000000L)
    assert(a.getAs[Long]("alpha_ppm") < -900000L,
      s"alpha ${a.getAs[Long]("alpha_ppm")} not deeply negative")
    // degenerate: one class everywhere -> De = 0, Do = 0 -> alpha = 1e6
    val const = (0L until 10L).flatMap(i =>
      Seq((i, 0L, 1L), (i, 1L, 1L))).toDF("item", "annotator", "label")
    val c = Labels.krippendorffAlpha(const).collect()(0)
    assert(c.getAs[Long]("de_ppm") == 0L &&
      c.getAs[Long]("alpha_ppm") == 1000000L)
    // singleton items cannot pair and drop from the statistic
    val withSingleton = perfect.unionByName(
      Seq((999L, 0L, 2L)).toDF("item", "annotator", "label"))
    val s = Labels.krippendorffAlpha(withSingleton).collect()(0)
    assert(s.getAs[Long]("n_items_paired") == 30L &&
      s.getAs[Long]("n_annotations") == 90L)
  }

  test("calibrationStream: cumulative per-bin cells converge to the " +
    "batch face across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ext.TextAnalysis
    val ms = MemoryStream[(Double, Boolean)]
    val out = TextAnalysis.calibrationStream(
      ms.toDF().toDF("p", "y"), "p", "y", bins = 4)
    val q = out.writeStream.format("memory").queryName("cal_stream")
      .outputMode("update").start()
    try {
      val b1 = Seq((0.1, true), (0.1, false), (0.6, true))
      val b2 = Seq((0.1, true), (0.9, false))
      ms.addData(b1: _*)
      q.processAllAvailable()
      ms.addData(b2: _*)
      q.processAllAvailable()
      // latest changelog row per bin vs the batch face on all rows
      val latest = spark.table("cal_stream").collect()
        .groupBy(_.getLong(0))
        .map { case (bin, rows) => bin -> rows.maxBy(_.getLong(1)) }
      val batch = TextAnalysis.calibrationReport(
          (b1 ++ b2).toDF("p", "y"), "p", "y", bins = 4)
        .collect().map(r => r.getAs[Long]("bin") -> r).toMap
      assert(latest.keySet == batch.keySet)
      batch.foreach { case (bin, br) =>
        val sr = latest(bin)
        assert(sr.getLong(1) == br.getAs[Long]("n") &&
          sr.getLong(2) == br.getAs[Long]("n_pos") &&
          sr.getLong(3) == br.getAs[Long]("conf_ppm") &&
          sr.getLong(4) == br.getAs[Long]("acc_ppm") &&
          sr.getLong(5) == br.getAs[Long]("gap_ppm"),
          s"bin $bin stream $sr != batch $br")
      }
    } finally q.stop()
  }

  test("containmentPairs: asymmetric inclusion found where Jaccard " +
    "misses, mutual containment for exact dups, df-cap recall trade") {
    import graft.ext.Dedup
    val excerpt = (1 to 22).map(i => s"tok$i").mkString(" ")
    val article = ((1 to 22) ++ (100 to 199)).map(i => s"tok$i")
      .mkString(" ")
    val other = (300 to 340).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, excerpt), (2L, article), (3L, other),
      (4L, other)).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(docs, "text", "doc_id",
        maxDf = Long.MaxValue, threshold = 0.8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))
        -> r.getAs[Long]("containment_ppm")).toMap
    // excerpt ⊂ article: all 20 of its 3-gram shingles appear -> 1e6;
    // the reverse direction is 20/120 and must NOT appear
    assert(pairs((1L, 2L)) == 1000000L)
    assert(!pairs.contains((2L, 1L)))
    // symmetric Jaccard on the same pair is 20/120 — far below 0.8:
    // this inclusion is invisible to ngramJaccardPairs by construction
    assert(Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      threshold = 0.8).where(
        (col("id_a") === 1 && col("id_b") === 2) ||
        (col("id_a") === 2 && col("id_b") === 1)).count() == 0)
    // exact duplicates contain each other
    assert(pairs((3L, 4L)) == 1000000L && pairs((4L, 3L)) == 1000000L)
    // df-cap recall trade: ALL of doc 1's shingles are shared with doc
    // 2 (df = 2 everywhere) — a cap of 1 starves the candidate join
    val capped = Dedup.containmentPairs(docs, "text", "doc_id",
        maxDf = 1, threshold = 0.8).collect()
    assert(capped.isEmpty, "df cap 1 must drop all shared-shingle pairs")
  }

  test("conversionLatency: first-exposure-to-first-conversion exact; " +
    "pre-exposure conversions and unexposed users excluded") {
    import graft.ext.Funnel
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000L)
    val ev = Seq(
      (1L, t(0), "view"), (1L, t(50), "view"), (1L, t(100), "purchase"),
      (1L, t(500), "purchase"),               // first conversion wins
      (2L, t(10), "purchase"), (2L, t(20), "view"), // pre-exposure only
      (3L, t(0), "view"),                      // never converts
      (4L, t(5), "purchase"),                  // never exposed
      (5L, t(100), "view"), (5L, t(100), "purchase") // zero latency
    ).toDF("user_id", "ts", "event_type")
    val r = Funnel.conversionLatency(ev, "user_id", "ts", "event_type",
      "view", "purchase").collect()(0)
    assert(r.getAs[Long]("n_exposed") == 4L)   // users 1, 2, 3, 5
    assert(r.getAs[Long]("n_converted") == 2L) // users 1 and 5
    // latencies {0, 100e6} us: p50 interpolates to the midpoint
    assert(r.getAs[Double]("p50_us") == 50000000.0)
    assert(r.getAs[Double]("p90_us") == 90000000.0)
  }

  test("majorityVoteStream: cross-batch tallies converge to the batch " +
    "face (a late relabel flips the consensus)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[(Long, Long)]
    val out = Labels.majorityVoteStream(
      ms.toDF().toDF("item", "label"))
    val q = out.writeStream.format("memory").queryName("mv_stream")
      .outputMode("update").start()
    try {
      // batch 1: item 1 leans label 5; item 2 ties 3-vs-9 (min wins)
      ms.addData((1L, 5L), (1L, 5L), (1L, 7L), (2L, 9L), (2L, 3L))
      q.processAllAvailable()
      val b1 = spark.table("mv_stream").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3)))).toMap
      assert(b1(1L) == ((5L, 2L, 3L)))
      assert(b1(2L) == ((3L, 1L, 2L))) // tie -> min label
      // batch 2: two late 7-votes flip item 1; item 2 untouched
      ms.addData((1L, 7L), (1L, 7L))
      q.processAllAvailable()
      val rows = spark.table("mv_stream").collect()
        .filter(_.getLong(0) == 1L)
      val latest = rows.maxBy(_.getLong(3)) // n_ann only grows
      assert((latest.getLong(1), latest.getLong(2), latest.getLong(3))
        == ((7L, 3L, 5L)))
      // convergence: the final changelog row per item equals the
      // batch face over the full annotation set
      val all = Seq((1L, 5L), (1L, 5L), (1L, 7L), (2L, 9L), (2L, 3L),
        (1L, 7L), (1L, 7L)).toDF("item", "label")
      val batch = Labels.majorityVote(all).collect()
        .map(r => r.getAs[Long]("item") ->
          ((r.getAs[Long]("label"), r.getAs[Long]("votes"),
            r.getAs[Long]("n_ann")))).toMap
      assert(batch(1L) == ((7L, 3L, 5L)))
      assert(batch(2L) == ((3L, 1L, 2L)))
    } finally q.stop()
  }
}
