package graft.queries

import graft.ext.{Dedup, Funnel, IntervalJoin, Layout, Multimodal, Pipeline, Similarity, Sketches, TextAnalysis, TimeSeries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import ExtShared._

/** Data-governance & statistics family: decontamination, corpus overlap,
  * URL dedup/blocklist, drift (PSI/embedding), record linkage, label
  * aggregation (majority/weighted/kappa/Krippendorff), Bradley-Terry,
  * DPO pairs, bootstrap CIs, chi-square, rank correlation.
  *
  * Gate queries with their DuckDB oracles CO-LOCATED (one file per
  * family, split from the former monolithic ExtQueries — VERDICT r8
  * #7); [[ExtQueries]] merges every family fail-loud on duplicate
  * keys. Shared fixtures/memos/SQL builders live in [[ExtShared]].
  */
private[queries] object ExtStatsQueries {
  private type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "ds_sorted_neighborhood" -> { (s, d) =>
      // sorted-neighborhood blocking on the text sort order (exact dups
      // land adjacent), scored by normalized edit distance
      Dedup.sortedNeighborhoodPairs(docs(s, d), "doc_id", "text",
          windowSize = 3)
        // Ukkonen banded DP: exact sim when reachable, null beyond the
        // threshold band — result-identical to the full-lev filter
        .select(col("id_a"), col("id_b"),
          Dedup.editSimilarityBounded(col("key_a"), col("key_b"), 0.9)
            .as("sim"))
        .where(col("sim").isNotNull && col("sim") >= 0.9)
        .orderBy(col("id_a"), col("id_b"))
    },
    "ds_record_linkage" -> { (s, d) =>
      // entity resolution: each document gets a perturbed variant record
      // (+1e6 id, name suffixed); linkage blocks on (lang, source) and
      // scores 0.75·word-Jaccard(name) + 0.25·[grp equal] — true
      // (orig, variant) pairs clear 0.8, and any same-block accidental
      // matches are deterministic and mirrored by the oracle
      val dd = docs(s, d)
      def side(rid: org.apache.spark.sql.Column,
               name: org.apache.spark.sql.Column) = dd.select(rid.as("rid"),
        name.as("name"), col("lang"), col("source"),
        pmod(col("doc_id"), lit(7)).as("grp"))
      val recs = side(col("doc_id"), col("text")).union(
        side(col("doc_id") + 1000000,
          concat(col("text"), lit(" zzvariant"))))
      Dedup.recordLinkage(recs, "rid", blockCols = Seq("lang", "source"),
          fuzzyFields = Seq("name" -> 0.75),
          exactFields = Seq("grp" -> 0.25), threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    },
    "ds_record_linkage_multi" -> { (s, d) =>
      // multi-pass blocking: the exact-key pass plus a sorted-
      // neighborhood pass over the name order; candidates union and
      // dedupe, then score once — same fixture and weights as
      // ds_record_linkage, so the single-pass rows must reappear
      val dd = docs(s, d)
      def side(rid: org.apache.spark.sql.Column,
               name: org.apache.spark.sql.Column) = dd.select(rid.as("rid"),
        name.as("name"), col("lang"), col("source"),
        pmod(col("doc_id"), lit(7)).as("grp"))
      val recs = side(col("doc_id"), col("text")).union(
        side(col("doc_id") + 1000000,
          concat(col("text"), lit(" zzvariant"))))
      Dedup.recordLinkageMultiPass(recs, "rid",
          Seq(Dedup.KeyBlocking(Seq("lang", "source")),
            Dedup.NeighborhoodBlocking("name", windowSize = 2)),
          fuzzyFields = Seq("name" -> 0.75),
          exactFields = Seq("grp" -> 0.25), threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    },
    "ds_decontam_semantic" -> { (s, d) =>
      // semantic decontamination with planted verbatim leakage: every
      // 97th embedding plays the eval set AND sits in the corpus — the
      // self-match at cos 1.0 must flag it; the synthetic table's
      // max cross-vector cosine is ~0.47, so at t=0.95 exactly the
      // leaked rows drop (wide margin, no float-boundary risk)
      val e = emb(s, d)
      Pipeline.decontaminateSemantic(e,
          e.where(pmod(col("vec_id"), lit(97)) === 0),
          "embedding", "vec_id", threshold = 0.95)
        .select(col("vec_id")).orderBy(col("vec_id"))
    },
    "ds_drift_psi" -> { (s, d) =>
      // PSI drift report between two corpus snapshots (here: the even-
      // vs odd-user halves of the events stream) — per-bin shares and
      // contributions; sum(psi_contrib) is the headline drift score.
      // One narrow scan per snapshot into a 20-row aggregate each.
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      Pipeline.driftPsi(
          ev.where(pmod(col("user_id"), lit(2)) === 0),
          ev.where(pmod(col("user_id"), lit(2)) === 1),
          "value", lo = 0.0, hi = 200.0, nBins = 20)
        .orderBy(col("bin"))
    },
    "ds_drift_psi_cat" -> { (s, d) =>
      // the categorical face: language-mix shift between the even- and
      // odd-id document halves
      Pipeline.driftPsiCategorical(
          docs(s, d).where(pmod(col("doc_id"), lit(2)) === 0),
          docs(s, d).where(pmod(col("doc_id"), lit(2)) === 1),
          "lang")
        .orderBy(col("key"))
    },
    "ds_kll_by_lang" -> { (s, d) =>
      // the groupBy face of the KLL sketch: per-language doc-length
      // quantiles via a typed Aggregator UDAF — ONE hash aggregation
      // with map-side partial sketches, no sort, no raw-value shuffle;
      // k=8192 >= every group so the estimates are exact (the gate mode)
      val agg = Sketches.kllQuantilesUdaf(8192, Seq(0.5, 0.9))
      docs(s, d).groupBy(col("lang"))
        .agg(agg(col("n_chars").cast("double")).as("qarr"))
        .select(col("lang"), element_at(col("qarr"), 1).as("p50"),
                element_at(col("qarr"), 2).as("p90"))
        .orderBy(col("lang"))
    },

    "ds_contamination_doc" -> { (s, d) =>
      // eval-leakage scan, per-doc-vs-UNION face (Pipeline.contamination):
      // docs sharing >=2 distinct 5-gram shingles with the "benchmark"
      // slice (doc_id < 10); the eval docs flag themselves. Complements
      // ds_contamination_report's per-(train, eval)-PAIR face
      val dd = docs(s, d)
      Pipeline.contamination(dd, dd.where(col("doc_id") < 10),
          "text", "doc_id", k = 5, minShared = 2)
        .select(col("doc_id"), col("shared_ngrams"))
        .orderBy(col("doc_id"))
    },
    "ds_contamination_suites" -> { (s, d) =>
      // multi-benchmark census in ONE corpus pass: two "suites" (two
      // disjoint doc slices) union their tagged 5-gram postings and the
      // training side explodes once — per (doc, suite): eval docs hit +
      // max/total distinct shared grams
      val dd = docs(s, d)
      Dedup.contaminationBySuite(dd,
          Seq("suite_a" -> dd.where(col("doc_id") < 10),
              "suite_b" -> dd.where(col("doc_id") >= 10 &&
                col("doc_id") < 20)),
          "text", "doc_id", n = 5)
        .orderBy(col("train_id"), col("suite"))
    },
    "ds_contamination_suites_stream" -> { (s, d) =>
      // the STREAMING census code path (driver postings map + stateless
      // narrow map — Dedup.contaminationBySuiteStream) run on a batch
      // frame: same semantics as ds_contamination_suites by
      // construction, oracle-checked here on its OWN code path (the
      // MemoryStream spec covers cross-batch behavior)
      val dd = docs(s, d)
      Dedup.contaminationBySuiteStream(dd,
          Seq("suite_a" -> dd.where(col("doc_id") < 10),
              "suite_b" -> dd.where(col("doc_id") >= 10 &&
                col("doc_id") < 20)),
          "text", "doc_id", n = 5)
        .orderBy(col("train_id"), col("suite"))
    },
    "ds_url_dedup" -> { (s, d) =>
      // doc_id % 40 collides every doc onto one of 40 shared pages; odd
      // ids carry a case/www/tracking variant of the even ids' URL — only
      // canonicalization merges the variants into one dedup key
      val base = concat(lit("example.com/p/"),
        pmod(col("doc_id"), lit(40)).cast("string"))
      val url = when(pmod(col("doc_id"), lit(2)) === 1,
          concat(lit("HTTP://WWW."), base, lit("?utm_source=x")))
        .otherwise(concat(lit("http://"), base))
      graft.ext.Urls.dedupByUrl(docs(s, d).withColumn("url", url),
          "url", "doc_id", col("n_chars"))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },
    "ds_contamination_report" -> { (s, d) =>
      // benchmark decontamination: every 97th doc plays the eval set; the
      // report ranks (train, eval) pairs by distinct shared 5-grams
      val dd = docs(s, d)
      graft.ext.Dedup.contaminationPairs(
          dd.where(pmod(col("doc_id"), lit(97)) =!= 0),
          dd.where(pmod(col("doc_id"), lit(97)) === 0),
          "text", "doc_id", n = 3)
        .orderBy(col("n_shared").desc, col("train_id"), col("eval_id"))
        .limit(100)
    },
    "ds_snapshot_diff" -> { (s, d) =>
      // corpus version delta: overlapping modulo slices play v_n/v_n+1,
      // with a planted edit on every 7th common doc; the 4-row report is
      // zero-filled so monitors key on a fixed shape
      val dd = docs(s, d)
      val before = dd.where(pmod(col("doc_id"), lit(10)) < 8)
      val after = dd.where(pmod(col("doc_id"), lit(10)) >= 2)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      Pipeline.snapshotDiffReport(before, after, "doc_id",
        Seq("text", "lang"))
    },
    "ds_corpus_overlap_indexed" -> { (s, d) =>
      // the ingest-loop face: same report as ds_corpus_overlap, but the
      // standing side is a prebuilt write-once gram index (identical
      // oracle — the two faces must agree exactly)
      Dedup.corpusOverlapIndexed(docs(s, d).where(col("doc_id") % 2 === 0),
        gramIdx(s, d), "text", k = 5)
    },
    "ds_corpus_overlap" -> { (s, d) =>
      // corpus-level governance signal: 5-gram overlap between the even-
      // and odd-doc_id halves; the oracle recomputes on gram STRINGS
      // (the engine uses 60-bit portable hashes — distinct counts agree
      // absent collisions, negligible at gate scale)
      val dd = docs(s, d)
      Dedup.corpusOverlap(dd.where(col("doc_id") % 2 === 0),
          dd.where(col("doc_id") % 2 === 1), "text", k = 5)
    },
    "ds_decontaminate" -> { (s, d) =>
      val dd = docs(s, d)
      graft.ext.Dedup.decontaminate(
          dd.where(pmod(col("doc_id"), lit(97)) =!= 0),
          dd.where(pmod(col("doc_id"), lit(97)) === 0),
          "text", "doc_id", n = 3)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
    "ds_url_blocklist" -> { (s, d) =>
      import s.implicits._
      val url = concat(lit("https://docs."), col("source"), lit(".com/"),
        col("doc_id").cast("string"))
      val blocked = Seq("src2.com", "src5.com", "src12.com").toDF("domain")
      graft.ext.Urls.filterBlocked(
          docs(s, d).withColumn("url", url), "url", blocked)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
    "ds_label_majority" -> { (s, d) =>
      // plurality consensus over the 5-annotator noisy fixture
      // (min-label tie-break; two partial-agg'd shuffles, no window)
      graft.ext.Labels.majorityVote(annFixture(s, d))
        .orderBy(col("item"))
    },
    "ds_label_weighted" -> { (s, d) =>
      // one Dawid-Skene round: majority init -> annotator-accuracy
      // M-step -> accuracy-weighted E-step relabel (exact ppm weights)
      graft.ext.Labels.weightedVote(annFixture(s, d))
        .orderBy(col("item"))
    },
    "ds_annotator_report" -> { (s, d) =>
      // per-annotator reliability: observed/chance agreement + Cohen's
      // kappa vs consensus, exact ppm (negative kappa representable)
      graft.ext.Labels.annotatorReport(annFixture(s, d))
        .orderBy(col("annotator"))
    },
    "ds_dawid_skene" -> { (s, d) =>
      // full confusion-matrix EM (2 rounds, exact integer ppm, linear
      // pooling): the oracle unrolls majority init + both M/E rounds
      graft.ext.Labels.dawidSkene(annFixture(s, d), iters = 2)
        .orderBy(col("item"))
    },
    "ds_dawid_skene_deep" -> { (s, d) =>
      // the SAME EM at iters=4 — oracle-checks the per-iteration
      // localCheckpoint barrier's CORRECTNESS at depth (r10 next #6:
      // the barrier was previously only timed by the iters=8 ScaleSpec
      // row, never hash-checked beyond 2 rounds)
      graft.ext.Labels.dawidSkene(annFixture(s, d), iters = 4)
        .orderBy(col("item"))
    },
    "ds_bradley_terry" -> { (s, d) =>
      // Bradley-Terry preference strengths, 3 MM iterations in exact
      // Long ppm — the oracle replays all iterations in DuckDB
      graft.ext.Labels.bradleyTerry(prefFixture(s, d), iters = 3)
        .orderBy(col("player"))
    },
    "ds_embedding_drift" -> { (s, d) =>
      // per-label centroid drift between the even/odd vec_id halves
      // (two crawls of one distribution): exact quantized Long sums,
      // IEEE-deterministic cosine rounded to 6
      val e = emb(s, d)
      Similarity.centroidDrift(
          e.where(pmod(col("vec_id"), lit(2)) === 0),
          e.where(pmod(col("vec_id"), lit(2)) === 1),
          "embedding", "label", quant = 1000)
        .orderBy(col("label"))
    },
    "ds_dpo_pairs" -> { (s, d) =>
      // DPO pair prep: docs as candidate responses to prompt doc_id % 40
      // with an integer hash score; best-vs-worst with margin >= 100
      val scored = docs(s, d).select(
        pmod(col("doc_id"), lit(40L)).as("prompt"),
        col("doc_id"),
        pmod(col("doc_id") * 37 + 11, lit(1000L)).as("score"))
      Pipeline.preferencePairs(scored, "prompt", "doc_id", "score",
          minMargin = 100L)
        .orderBy(col("group"))
    },
    "ds_bootstrap_ci" -> { (s, d) =>
      // Poisson-bootstrap 95% CI for the corpus English share — exact
      // hash-drawn Poisson(1) weights, rank-statistic bounds, 64 reps
      Pipeline.bootstrapCi(
        docs(s, d).select(col("doc_id"),
          (col("lang") === "en").cast("long").as("is_en")),
        "doc_id", "is_en", b = 64)
    },
    "ds_winsorized_mean" -> { (s, d) =>
      // robust per-language doc-length statistic: clip at exact
      // [p05, p95], mean in exact micro-units
      Pipeline.winsorizedMean(docs(s, d), "n_chars", "lang")
        .orderBy(col("lang"))
    },
    "ds_chi_square" -> { (s, d) =>
      // lang-mix homogeneity between the even/odd doc_id halves —
      // the single-statistic companion to the PSI report
      Pipeline.chiSquareHomogeneity(
        docs(s, d).select(pmod(col("doc_id"), lit(2L)).as("version"),
          col("lang")),
        "version", "lang")
    },
    "ds_rank_correlation" -> { (s, d) =>
      // Kendall tau-a between doc length and a hash score over a
      // 64-item rank list — exact signed ppm
      Pipeline.kendallTau(
        docs(s, d).where(col("doc_id") < 64)
          .select(col("doc_id"), col("n_chars"),
            pmod(col("doc_id") * 37 + 11, lit(1000L)).as("score")),
        "doc_id", "n_chars", "score")
    },
    "ds_bootstrap_ci_lang" -> { (s, d) =>
      // per-language doc-length CI in one pass — error bars per slice
      Pipeline.bootstrapCiByGroup(docs(s, d), "lang", "doc_id",
          "n_chars", b = 64)
        .orderBy(col("lang"))
    },
    "ds_krippendorff" -> { (s, d) =>
      // corpus-level reliability over the noisy-annotation fixture with
      // 10% hash-dropped annotations (varying n_i exercises the
      // per-item pairable weighting)
      graft.ext.Labels.krippendorffAlpha(
        annFixture(s, d).where(
          pmod(col("item") * 7 + col("annotator") * 13, lit(10L)) =!= 0))
    },
    "ds_ks_test" -> { (s, d) =>
      // two-sample KS over doc length between the even/odd doc_id
      // halves — the numeric-column companion to ds_chi_square; exact
      // ppm D plus the smallest value attaining the max gap
      graft.ext.Stats.ksTest(
        docs(s, d).select(col("n_chars"),
          pmod(col("doc_id"), lit(2L)).as("half")),
        "n_chars", "half", 0L, 1L)
    },
    "ds_mwu" -> { (s, d) =>
      // Mann-Whitney U over doc length, same halves fixture — exact
      // tie-averaged doubled-unit U stats + common-language effect size
      graft.ext.Stats.mannWhitneyU(
        docs(s, d).select(col("n_chars"),
          pmod(col("doc_id"), lit(2L)).as("half")),
        "n_chars", "half", 0L, 1L)
    },
    "ds_ks_by_group" -> { (s, d) =>
      // the per-language drift table: one KS row per language between
      // the even/odd halves — where exactly did this language's length
      // distribution move
      graft.ext.Stats.ksTestByGroup(
        docs(s, d).select(col("lang"), col("n_chars"),
          pmod(col("doc_id"), lit(2L)).as("half")),
        "n_chars", "lang", "half", 0L, 1L)
        .orderBy(col("lang"))
    },
    "ds_ks_census_stream" -> { (s, d) =>
      // the ALWAYS-ON face of ds_ks_by_group: the ingest-monitor kernel
      // (flatMapGroupsWithState side-count census, two Longs of state
      // per (group, value) cell) run in batch mode, finished by the
      // shared ksByGroupFromCounts arithmetic — same statistic, same
      // oracle, proving the streaming monitor's census is exact
      graft.ext.Stats.ksByGroupFromCounts(
        graft.ext.Stats.ksCensusStream(
          docs(s, d).select(col("lang"), col("n_chars"),
            pmod(col("doc_id"), lit(2L)).as("half")),
          "n_chars", "lang", "half", 0L, 1L))
        .withColumnRenamed("g", "lang")
        .orderBy(col("lang"))
    },
    "ds_robust_scale" -> { (s, d) =>
      // per-language median/MAD z-scores of doc length — the
      // outlier-immune standardization for heavy-tailed signals
      graft.ext.Stats.robustScale(
          docs(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
          "n_chars", "lang")
        .select(col("doc_id"), col("lang"), col("med_milli"),
          col("mad_milli"), col("z_milli"), col("mad_zero"))
        .orderBy(col("doc_id"))
    },
    "ds_js_divergence" -> { (s, d) =>
      // Jensen-Shannon divergence between the language mixes of the
      // even/odd halves, milli-nats — the symmetric bounded drift
      // scalar next to PSI/chi-square
      graft.ext.Stats.jsDivergence(
        docs(s, d).select(col("lang"),
          pmod(col("doc_id"), lit(2L)).as("half")),
        "lang", "half", 0L, 1L)
    },
    "ds_js_census_stream" -> { (s, d) =>
      // the ALWAYS-ON face of ds_js_divergence (the ds_ks_census_stream
      // pattern): the categorical side-count census kernel — two Longs
      // of state per category in flatMapGroupsWithState — run in batch
      // mode, priced by the shared jsDivergenceFromCounts finisher.
      // Same statistic, same oracle, proving the streaming mix-drift
      // monitor's census is exact.
      graft.ext.Stats.jsDivergenceFromCounts(
        graft.ext.Stats.jsCensusStream(
          docs(s, d).select(col("lang"),
            pmod(col("doc_id"), lit(2L)).as("half")),
          "lang", "half", 0L, 1L))
    },
    "ds_robust_scale_stream" -> { (s, d) =>
      // the ALWAYS-ON face of ds_robust_scale's location/scale census:
      // one KLL sketch of state per group (flatMapGroupsWithState) run in
      // batch mode (the ds_ks_census_stream pattern). Gate mode sizes k
      // from the DATA (max group count + 1, the ds_quantile_norm_sketch /
      // ev_kmv sf1-sweep precedent) so the sketch is exact and every
      // quantile is the ceil-rank order statistic DuckDB can replay;
      // production callers size k for the accuracy target instead.
      val dd = docs(s, d).select(col("lang"), col("n_chars"))
      val maxGroup = dd.groupBy(col("lang")).count()
        .agg(max("count")).collect()(0).getLong(0)
      graft.ext.Stats.robustScaleStream(dd, "n_chars", "lang",
          k = math.max(2048L, maxGroup + 1L).toInt)
        .withColumnRenamed("g", "lang").orderBy(col("lang"))
    }
  )

  /** Full DuckDB replay of [[graft.ext.Labels.dawidSkene]]: majority
    * init, then `iters` unrolled M/E rounds in exact BIGINT ppm (the
    * ev_stationary / ds_bradley_terry unrolled-CTE pattern).
    */
  private def dawidSkeneSql(iters: Int): String = {
    val sb = new StringBuilder(
      s"""WITH $annSql,
         alphabet AS (SELECT DISTINCT label AS t FROM ann),
         vc AS (SELECT item, label, count(*) AS votes FROM ann
                GROUP BY item, label),
         as0 AS (SELECT item, label FROM (
             SELECT item, label, row_number() OVER (PARTITION BY item
               ORDER BY votes DESC, label ASC) AS rk FROM vc)
           WHERE rk = 1)""")
    for (i <- 1 to iters) {
      val p = i - 1
      sb.append(s""",
         tr$i AS (SELECT a.item, a.annotator, a.label, s.label AS t
           FROM ann a JOIN as$p s USING (item)),
         cells$i AS (SELECT annotator, t, label, count(*) AS n
           FROM tr$i GROUP BY annotator, t, label),
         tots$i AS (SELECT annotator, t, count(*) AS tot
           FROM tr$i GROUP BY annotator, t),
         conf$i AS (SELECT c.annotator, c.t, c.label,
             (c.n * 1000000) // tt.tot AS w
           FROM cells$i c JOIN tots$i tt USING (annotator, t)),
         sc$i AS (SELECT a.item, al.t, sum(COALESCE(cf.w, 0)) AS s
           FROM ann a CROSS JOIN alphabet al
           LEFT JOIN conf$i cf ON cf.annotator = a.annotator
             AND cf.t = al.t AND cf.label = a.label
           GROUP BY a.item, al.t),
         as$i AS (SELECT item, label, s FROM (
             SELECT item, t AS label, s,
               row_number() OVER (PARTITION BY item
                 ORDER BY s DESC, t ASC) AS rk FROM sc$i)
           WHERE rk = 1)""")
    }
    sb.append(s""",
         fin AS (SELECT item, t, s,
             row_number() OVER (PARTITION BY item
               ORDER BY s DESC, t ASC) AS rk FROM sc$iters)
         SELECT f1.item, CAST(f1.t AS BIGINT) AS label,
           CAST(f1.s AS BIGINT) AS score_ppm,
           CAST(f1.s - COALESCE(f2.s, 0) AS BIGINT) AS margin_ppm
         FROM fin f1 LEFT JOIN fin f2
           ON f1.item = f2.item AND f2.rk = 2
         WHERE f1.rk = 1 ORDER BY f1.item""")
    sb.toString
  }

  /** One oracle for BOTH census code paths: the batch broadcast-join
    * face (`ds_contamination_suites`) and the streaming driver-map face
    * (`ds_contamination_suites_stream`) must produce identical censuses.
    */
  private val contaminationSuitesSql: String = {
    val gram5 = (1 to 5).map(j => s"toks[i + $j]").mkString(" || ' ' || ")
    s"""WITH t AS (SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
       g AS (SELECT doc_id, list_distinct(list_transform(
               range(len(toks) - 4),
               i -> CAST('0x' || substr(md5($gram5), 1, 15) AS BIGINT)))
               AS gs
             FROM t WHERE len(toks) >= 5),
       tr AS (SELECT doc_id AS train_id, unnest(gs) AS g FROM g),
       ev AS (SELECT 'suite_a' AS suite, doc_id AS eval_id,
                unnest(gs) AS g FROM g WHERE doc_id < 10
              UNION ALL
              SELECT 'suite_b', doc_id, unnest(gs) FROM g
              WHERE doc_id >= 10 AND doc_id < 20),
       pairs AS (SELECT tr.train_id, ev.suite, ev.eval_id,
                   count(*) AS s
                 FROM tr JOIN ev USING (g)
                 GROUP BY tr.train_id, ev.suite, ev.eval_id)
       SELECT train_id, suite,
         CAST(count(*) AS BIGINT) AS n_eval_docs,
         CAST(max(s) AS BIGINT) AS n_shared_max,
         CAST(sum(s) AS BIGINT) AS n_shared_total
       FROM pairs GROUP BY train_id, suite
       ORDER BY train_id, suite"""
  }

  val oracle: Map[String, String] = Map(
    "ds_dawid_skene" -> dawidSkeneSql(2),
    "ds_dawid_skene_deep" -> dawidSkeneSql(4),
    "ds_sorted_neighborhood" ->
      """WITH r AS (SELECT doc_id, text,
           row_number() OVER (ORDER BY text, doc_id) - 1 AS rk
         FROM documents),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 round(1.0 - levenshtein(a.text, b.text) * 1.0 /
                   greatest(length(a.text), length(b.text), 1), 6) AS sim
               FROM r a JOIN r b
                 ON b.rk > a.rk AND b.rk <= a.rk + 3
                 AND 1.0 - abs(length(a.text) - length(b.text)) * 1.0 /
                   greatest(length(a.text), length(b.text), 1) >= 0.9)
         SELECT id_a, id_b, sim FROM p WHERE sim >= 0.9
         ORDER BY id_a, id_b""",
    "ds_record_linkage" ->
      """WITH recs AS (
           SELECT doc_id AS rid, text AS name, lang, source,
                  doc_id % 7 AS grp FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text || ' zzvariant', lang, source,
                  doc_id % 7 FROM documents),
         t AS (SELECT rid, lang, source, grp,
                 list_distinct(list_filter(string_split(name, ' '),
                   x -> x <> '')) AS toks
               FROM recs),
         blk AS (SELECT lang, source, count(*) AS bn, min(rid) AS bmin
               FROM t GROUP BY lang, source),
         p0 AS (SELECT a.rid AS id_a, b.rid AS id_b
               FROM t a JOIN t b ON a.lang = b.lang
                 AND a.source = b.source AND a.rid < b.rid
                 JOIN blk k ON k.lang = a.lang AND k.source = a.source
               WHERE k.bn <= 1000
               UNION
               SELECT k.bmin, a.rid
               FROM t a JOIN blk k ON k.lang = a.lang
                 AND k.source = a.source
               WHERE k.bn > 1000 AND a.rid <> k.bmin),
         p AS (SELECT p0.id_a, p0.id_b, ta.toks AS ta, tb.toks AS tb,
                 ta.grp AS ga, tb.grp AS gb
               FROM p0 JOIN t ta ON ta.rid = p0.id_a
                 JOIN t tb ON tb.rid = p0.id_b),
         i AS (SELECT id_a, id_b, ga, gb, ta, tb,
                 len(list_filter(ta, x -> list_contains(tb, x))) AS inter
               FROM p),
         sc AS (SELECT id_a, id_b,
                 round(0.75 * (inter * 1.0
                     / (len(ta) + len(tb) - inter)) +
                   CASE WHEN ga = gb THEN 0.25 ELSE 0.0 END, 6) AS score
               FROM i)
         SELECT id_a, id_b, score FROM sc WHERE score >= 0.8
         ORDER BY id_a, id_b""",
    "ds_record_linkage_multi" ->
      """WITH recs AS (
           SELECT doc_id AS rid, text AS name, lang, source,
                  doc_id % 7 AS grp FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text || ' zzvariant', lang, source,
                  doc_id % 7 FROM documents),
         t AS (SELECT rid, name, lang, source, grp,
                 list_distinct(list_filter(string_split(name, ' '),
                   x -> x <> '')) AS toks
               FROM recs),
         rk AS (SELECT rid,
                 row_number() OVER (ORDER BY name, rid) AS rk
               FROM t),
         blk AS (SELECT lang, source, count(*) AS bn, min(rid) AS bmin
               FROM t GROUP BY lang, source),
         cand AS (
           SELECT a.rid AS id_a, b.rid AS id_b
           FROM t a JOIN t b ON a.lang = b.lang
             AND a.source = b.source AND a.rid < b.rid
             JOIN blk k ON k.lang = a.lang AND k.source = a.source
           WHERE k.bn <= 1000
           UNION
           SELECT k.bmin, a.rid
           FROM t a JOIN blk k ON k.lang = a.lang AND k.source = a.source
           WHERE k.bn > 1000 AND a.rid <> k.bmin
           UNION
           SELECT least(r1.rid, r2.rid), greatest(r1.rid, r2.rid)
           FROM rk r1 JOIN rk r2
             ON r2.rk BETWEEN r1.rk + 1 AND r1.rk + 2),
         i AS (SELECT c.id_a, c.id_b, a.grp AS ga, b.grp AS gb,
                 a.toks AS ta, b.toks AS tb,
                 len(list_filter(a.toks, x -> list_contains(b.toks, x)))
                   AS inter
               FROM cand c JOIN t a ON a.rid = c.id_a
                 JOIN t b ON b.rid = c.id_b),
         sc AS (SELECT id_a, id_b,
                 round(0.75 * (inter * 1.0
                     / (len(ta) + len(tb) - inter)) +
                   CASE WHEN ga = gb THEN 0.25 ELSE 0.0 END, 6) AS score
               FROM i)
         SELECT id_a, id_b, score FROM sc WHERE score >= 0.8
         ORDER BY id_a, id_b""",
    "ds_decontam_semantic" ->
      """WITH ev AS (SELECT CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id % 97 = 0),
         tr AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         bad AS (SELECT DISTINCT tr.vec_id FROM tr, ev
           WHERE list_cosine_similarity(tr.v, ev.v) >= 0.95)
         SELECT vec_id FROM embeddings
         WHERE vec_id NOT IN (SELECT vec_id FROM bad)
         ORDER BY vec_id""",
    "ds_drift_psi" ->
      """WITH r AS (SELECT CAST(least(19, greatest(0,
             floor((value - 0.0) / 200.0 * 20))) AS INT) AS bin,
             count(*) AS n FROM events
           WHERE value IS NOT NULL AND user_id % 2 = 0 GROUP BY 1),
         c AS (SELECT CAST(least(19, greatest(0,
             floor((value - 0.0) / 200.0 * 20))) AS INT) AS bin,
             count(*) AS n FROM events
           WHERE value IS NOT NULL AND user_id % 2 = 1 GROUP BY 1),
         rs AS (SELECT bin,
             n / CAST((SELECT sum(n) FROM r) AS DOUBLE) AS p FROM r),
         cs AS (SELECT bin,
             n / CAST((SELECT sum(n) FROM c) AS DOUBLE) AS p FROM c),
         j AS (SELECT coalesce(rs.bin, cs.bin) AS bin,
                      coalesce(rs.p, 0.0) AS p_ref,
                      coalesce(cs.p, 0.0) AS p_cur
               FROM rs FULL OUTER JOIN cs ON rs.bin = cs.bin)
         SELECT bin, CAST(round(p_ref, 9) AS DOUBLE) AS p_ref,
                CAST(round(p_cur, 9) AS DOUBLE) AS p_cur,
                CAST(round((greatest(p_cur, 0.000001)
                  - greatest(p_ref, 0.000001))
                  * ln(greatest(p_cur, 0.000001)
                  / greatest(p_ref, 0.000001)), 9) AS DOUBLE)
                  AS psi_contrib
         FROM j ORDER BY bin""",
    "ds_drift_psi_cat" ->
      """WITH r AS (SELECT lang AS key, count(*) AS n FROM documents
           WHERE lang IS NOT NULL AND doc_id % 2 = 0 GROUP BY 1),
         c AS (SELECT lang AS key, count(*) AS n FROM documents
           WHERE lang IS NOT NULL AND doc_id % 2 = 1 GROUP BY 1),
         rs AS (SELECT key,
             n / CAST((SELECT sum(n) FROM r) AS DOUBLE) AS p FROM r),
         cs AS (SELECT key,
             n / CAST((SELECT sum(n) FROM c) AS DOUBLE) AS p FROM c),
         j AS (SELECT coalesce(rs.key, cs.key) AS key,
                      coalesce(rs.p, 0.0) AS p_ref,
                      coalesce(cs.p, 0.0) AS p_cur
               FROM rs FULL OUTER JOIN cs ON rs.key = cs.key)
         SELECT key, CAST(round(p_ref, 9) AS DOUBLE) AS p_ref,
                CAST(round(p_cur, 9) AS DOUBLE) AS p_cur,
                CAST(round((greatest(p_cur, 0.000001)
                  - greatest(p_ref, 0.000001))
                  * ln(greatest(p_cur, 0.000001)
                  / greatest(p_ref, 0.000001)), 9) AS DOUBLE)
                  AS psi_contrib
         FROM j ORDER BY key""",
    "ds_kll_by_lang" ->
      """WITH s AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rk,
             count(*) OVER (PARTITION BY lang) AS n
           FROM documents)
         SELECT lang,
           CAST(min(CASE WHEN rk >= greatest(1,
                CAST(ceil(0.5 * n) AS BIGINT)) THEN v END) AS DOUBLE)
             AS p50,
           CAST(min(CASE WHEN rk >= greatest(1,
                CAST(ceil(0.9 * n) AS BIGINT)) THEN v END) AS DOUBLE)
             AS p90
         FROM s GROUP BY lang ORDER BY lang""",
    "ds_contamination_doc" -> {
      val k = 5
      val grams = (1 to k).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
      s"""WITH t AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
             FROM documents),
         sh AS (SELECT doc_id,
             CASE WHEN len(toks) < $k THEN [coalesce(array_to_string(toks, ' '), '')]
                  ELSE list_distinct(list_transform(range(len(toks) - ${k - 1}),
                         i -> $grams)) END AS sh
             FROM t),
         ev AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id < 10),
         c AS (SELECT doc_id, unnest(sh) AS s FROM sh)
         SELECT c.doc_id, CAST(count(DISTINCT c.s) AS BIGINT) AS shared_ngrams
         FROM c JOIN ev ON c.s = ev.s
         GROUP BY c.doc_id HAVING count(DISTINCT c.s) >= 2
         ORDER BY c.doc_id"""
    },
    "ds_url_dedup" ->
      """WITH u AS (SELECT doc_id, lang, source, n_chars,
           'http://example.com/p/' || (doc_id % 40) AS canon
         FROM documents),
         r AS (SELECT doc_id, lang, source, row_number() OVER (
             PARTITION BY canon ORDER BY n_chars DESC, doc_id) AS rk
         FROM u)
         SELECT doc_id, lang, source FROM r WHERE rk = 1 ORDER BY doc_id""",
    "ds_contamination_suites" -> contaminationSuitesSql,
    "ds_contamination_suites_stream" -> contaminationSuitesSql,
    "ds_contamination_report" -> contaminationSql(
      """SELECT train_id, eval_id, CAST(count(*) AS BIGINT) AS n_shared
         FROM tr JOIN ev USING (g)
         GROUP BY train_id, eval_id
         ORDER BY n_shared DESC, train_id, eval_id LIMIT 100"""),
    "ds_snapshot_diff" ->
      """WITH b AS (SELECT doc_id, text, lang FROM documents
           WHERE doc_id % 10 < 8),
         a AS (SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END
               AS text, lang
           FROM documents WHERE doc_id % 10 >= 2),
         j AS (SELECT
             CASE WHEN b.doc_id IS NULL THEN 'added'
                  WHEN a.doc_id IS NULL THEN 'removed'
                  WHEN a.text = b.text AND a.lang = b.lang
                    THEN 'unchanged'
                  ELSE 'changed' END AS status
           FROM b FULL OUTER JOIN a ON a.doc_id = b.doc_id),
         c AS (SELECT status, count(*) AS n FROM j GROUP BY status)
         SELECT s.status, CAST(coalesce(c.n, 0) AS BIGINT) AS n
         FROM (VALUES ('added'), ('changed'), ('removed'), ('unchanged'))
           s(status)
         LEFT JOIN c USING (status) ORDER BY s.status""",
    "ds_corpus_overlap_indexed" -> corpusOverlapSql,
    "ds_corpus_overlap" -> corpusOverlapSql,
    "ds_decontaminate" -> contaminationSql(
      """SELECT d.doc_id, d.lang FROM documents d
         WHERE d.doc_id % 97 <> 0
           AND d.doc_id NOT IN (SELECT DISTINCT tr.train_id
                                FROM tr JOIN ev USING (g))
         ORDER BY d.doc_id"""),
    "ds_url_blocklist" ->
      """SELECT doc_id, source FROM documents
         WHERE source || '.com' NOT IN ('src2.com', 'src5.com', 'src12.com')
         ORDER BY doc_id""",
    "ds_label_majority" ->
      s"""WITH $annSql,
         vc AS (SELECT item, label, count(*) AS votes FROM ann
                GROUP BY item, label),
         best AS (SELECT item, label, votes,
             row_number() OVER (PARTITION BY item
               ORDER BY votes DESC, label ASC) AS rk,
             sum(votes) OVER (PARTITION BY item) AS n_ann
           FROM vc)
         SELECT item, CAST(label AS BIGINT) AS label,
           CAST(votes AS BIGINT) AS votes, CAST(n_ann AS BIGINT) AS n_ann
         FROM best WHERE rk = 1 ORDER BY item""",
    "ds_label_weighted" ->
      s"""WITH $annSql,
         vc AS (SELECT item, label, count(*) AS votes FROM ann
                GROUP BY item, label),
         best AS (SELECT item, label, row_number() OVER (PARTITION BY item
             ORDER BY votes DESC, label ASC) AS rk FROM vc),
         cons AS (SELECT item, label FROM best WHERE rk = 1),
         acc AS (SELECT a.annotator,
             (sum(CASE WHEN a.label = c.label THEN 1 ELSE 0 END) * 1000000)
               // count(*) AS acc_ppm
           FROM ann a JOIN cons c USING (item) GROUP BY a.annotator),
         wv AS (SELECT a.item, a.label, sum(acc.acc_ppm) AS w
           FROM ann a JOIN acc USING (annotator) GROUP BY a.item, a.label),
         bw AS (SELECT item, label, w, row_number() OVER (PARTITION BY item
             ORDER BY w DESC, label ASC) AS rk FROM wv)
         SELECT item, CAST(label AS BIGINT) AS label,
           CAST(w AS BIGINT) AS weight_ppm
         FROM bw WHERE rk = 1 ORDER BY item""",
    "ds_annotator_report" ->
      s"""WITH $annSql,
         vc AS (SELECT item, label, count(*) AS votes FROM ann
                GROUP BY item, label),
         best AS (SELECT item, label, row_number() OVER (PARTITION BY item
             ORDER BY votes DESC, label ASC) AS rk FROM vc),
         cons AS (SELECT item, label AS cons FROM best WHERE rk = 1),
         j AS (SELECT a.item, a.annotator, a.label, c.cons
           FROM ann a JOIN cons c USING (item)),
         b AS (SELECT annotator, count(*) AS n,
             sum(CASE WHEN label = cons THEN 1 ELSE 0 END) AS agree
           FROM j GROUP BY annotator),
         pa AS (SELECT annotator, label AS c, count(*) AS na FROM j
                GROUP BY annotator, label),
         pc AS (SELECT annotator, cons AS c, count(*) AS nc FROM j
                GROUP BY annotator, cons),
         pe AS (SELECT pa.annotator,
             sum((((pa.na * 1000000) // b.n) * ((pc.nc * 1000000) // b.n))
                 // 1000000) AS pe_ppm
           FROM pa JOIN pc USING (annotator, c) JOIN b USING (annotator)
           GROUP BY pa.annotator)
         SELECT b.annotator, CAST(b.n AS BIGINT) AS n_items,
           CAST((b.agree * 1000000) // b.n AS BIGINT) AS po_ppm,
           CAST(pe.pe_ppm AS BIGINT) AS pe_ppm,
           CAST(CASE WHEN pe.pe_ppm >= 1000000 THEN 1000000
             ELSE (((b.agree * 1000000) // b.n) - pe.pe_ppm) * 1000000
                  // (1000000 - pe.pe_ppm) END AS BIGINT) AS kappa_ppm
         FROM b JOIN pe USING (annotator) ORDER BY b.annotator""",
    "ds_bradley_terry" -> {
      // replay ALL 3 MM iterations in exact BIGINT ppm (the
      // graph_pagerank unrolled-CTE pattern); DuckDB's `//` truncates
      // toward zero exactly like the operator's Long division
      val iters = 3
      val sb = new StringBuilder(
        """WITH base AS (SELECT doc_id, doc_id % 64 AS i,
               (doc_id*7 + 13) % 64 AS j FROM documents),
           comp AS (SELECT
               CASE WHEN (doc_id*31 + 7) % (i + j + 2) < i + 1
                    THEN i ELSE j END AS w,
               CASE WHEN (doc_id*31 + 7) % (i + j + 2) < i + 1
                    THEN j ELSE i END AS l
             FROM base WHERE i <> j),
           directed AS (SELECT w, l, count(*) AS n FROM comp GROUP BY w, l),
           sym AS (SELECT i, j, sum(n) AS n FROM (
               SELECT w AS i, l AS j, n FROM directed
               UNION ALL SELECT l AS i, w AS j, n FROM directed) u
             GROUP BY i, j),
           players AS (SELECT DISTINCT i AS player FROM sym),
           wins AS (SELECT p.player, COALESCE(sum(d.n), 0) AS wins
             FROM players p LEFT JOIN directed d ON d.w = p.player
             GROUP BY p.player),
           ncomp AS (SELECT i AS player, sum(n) AS n_comps FROM sym
                     GROUP BY i),
           kk AS (SELECT count(*) AS k FROM players),
           r0 AS (SELECT player, CAST(1000000 AS BIGINT) AS r FROM players)""")
      for (t <- 1 to iters) {
        val p = t - 1
        sb.append(s""",
           d$t AS (SELECT s.i AS player,
               sum(s.n * 1000000 * 1000000 // (pi.r + pj.r)) AS dd
             FROM sym s JOIN r$p pi ON pi.player = s.i
                        JOIN r$p pj ON pj.player = s.j
             GROUP BY s.i),
           pr$t AS (SELECT w.player,
               (w.wins * 1000000 * 1000000) // d.dd AS pr
             FROM wins w JOIN d$t d USING (player)),
           r$t AS (SELECT player,
               pr * (SELECT k FROM kk) * 1000000 // (sum(pr) OVER ())
                 AS r
             FROM pr$t)""")
      }
      sb.append(s"""
         SELECT w.player, CAST(w.wins AS BIGINT) AS wins,
           CAST(n.n_comps AS BIGINT) AS n_comps,
           CAST(r.r AS BIGINT) AS rank_ppm
         FROM wins w JOIN ncomp n USING (player)
                     JOIN r$iters r USING (player)
         ORDER BY w.player""")
      sb.toString
    },
    "ds_embedding_drift" ->
      """WITH x1 AS (SELECT label AS g,
             unnest(range(len(embedding))) AS dim,
             unnest(CAST(embedding AS DOUBLE[])) AS x
           FROM embeddings WHERE vec_id % 2 = 0),
         x2 AS (SELECT label AS g,
             unnest(range(len(embedding))) AS dim,
             unnest(CAST(embedding AS DOUBLE[])) AS x
           FROM embeddings WHERE vec_id % 2 = 1),
         s1 AS (SELECT g, dim,
             CAST(sum(CAST(round(x * 1000) AS BIGINT)) AS BIGINT) AS s1,
             CAST(count(*) AS BIGINT) AS n1
           FROM x1 GROUP BY g, dim),
         s2 AS (SELECT g, dim,
             CAST(sum(CAST(round(x * 1000) AS BIGINT)) AS BIGINT) AS s2,
             CAST(count(*) AS BIGINT) AS n2
           FROM x2 GROUP BY g, dim),
         j AS (SELECT COALESCE(s1.g, s2.g) AS g, s1.s1, s2.s2,
               s1.n1, s2.n2
           FROM s1 FULL OUTER JOIN s2
             ON s1.g = s2.g AND s1.dim = s2.dim),
         r AS (SELECT g, max(n1) AS n1, max(n2) AS n2,
             CAST(sum(s1 * s2) AS BIGINT) AS dot,
             CAST(sum(s1 * s1) AS BIGINT) AS q1,
             CAST(sum(s2 * s2) AS BIGINT) AS q2
           FROM j GROUP BY g)
         SELECT g AS label, coalesce(n1, 0) AS n_v1,
           coalesce(n2, 0) AS n_v2,
           CASE WHEN q1 > 0 AND q2 > 0 THEN
             round(dot / (sqrt(CAST(q1 AS DOUBLE)) *
                          sqrt(CAST(q2 AS DOUBLE))), 6) END
             AS centroid_cos
         FROM r ORDER BY label""",
    "ds_dpo_pairs" ->
      """WITH sc AS (SELECT doc_id % 40 AS grp, doc_id,
             (doc_id * 37 + 11) % 1000 AS score
           FROM documents),
         hi AS (SELECT grp, doc_id AS chosen, score AS shi,
             row_number() OVER (PARTITION BY grp
               ORDER BY score DESC, doc_id ASC) AS rk,
             count(*) OVER (PARTITION BY grp) AS n
           FROM sc),
         lo AS (SELECT grp, doc_id AS rejected, score AS slo,
             row_number() OVER (PARTITION BY grp
               ORDER BY score ASC, doc_id DESC) AS rk
           FROM sc)
         SELECT hi.grp AS "group", CAST(hi.chosen AS BIGINT) AS chosen,
           CAST(lo.rejected AS BIGINT) AS rejected,
           CAST(hi.shi - lo.slo AS BIGINT) AS margin
         FROM hi JOIN lo ON hi.grp = lo.grp AND lo.rk = 1
         WHERE hi.rk = 1 AND hi.n >= 2 AND hi.shi - lo.slo >= 100
         ORDER BY hi.grp""",
    "ds_bootstrap_ci" ->
      """WITH base AS (SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS v
           FROM documents),
         e AS (SELECT doc_id, v, r.rep FROM base, range(64) r(rep)),
         hw AS (SELECT v,
             CASE WHEN h < 367879 THEN 0 WHEN h < 735759 THEN 1
                  WHEN h < 919699 THEN 2 WHEN h < 981012 THEN 3
                  WHEN h < 996340 THEN 4 WHEN h < 999406 THEN 5
                  WHEN h < 999917 THEN 6 WHEN h < 999990 THEN 7
                  ELSE 8 END AS w, rep
           FROM (SELECT v, rep,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                 || CAST(rep AS VARCHAR) || ':bs:'), 1, 15) AS BIGINT)
                 % 1000000 AS h
             FROM e)),
         m AS (SELECT rep, (sum(w * v) * 1000000) // sum(w) AS m
           FROM hw GROUP BY rep HAVING sum(w) > 0),
         rk AS (SELECT m, row_number() OVER (ORDER BY m, rep) AS rk
           FROM m),
         bounds AS (SELECT
             CAST(max(CASE WHEN rk = 2 THEN m END) AS BIGINT)
               AS ci_lo_micro,
             CAST(max(CASE WHEN rk = 63 THEN m END) AS BIGINT)
               AS ci_hi_micro,
             CAST(count(*) AS BIGINT) AS n_replicates
           FROM rk),
         pt AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
             CAST((sum(v) * 1000000) // count(*) AS BIGINT)
               AS point_micro
           FROM base)
         SELECT pt.n_items, pt.point_micro, bounds.ci_lo_micro,
           bounds.ci_hi_micro, bounds.n_replicates
         FROM pt, bounds""",
    "ds_winsorized_mean" ->
      """WITH b AS (SELECT lang,
             quantile_cont(n_chars, 0.05) AS lo,
             quantile_cont(n_chars, 0.95) AS hi
           FROM documents GROUP BY lang),
         c AS (SELECT d.lang, b.lo, b.hi,
             CAST(round(least(greatest(CAST(d.n_chars AS DOUBLE), b.lo),
               b.hi) * 1000) AS BIGINT) AS cm
           FROM documents d JOIN b USING (lang))
         SELECT lang, CAST(count(*) AS BIGINT) AS n,
           round(lo, 6) AS lo, round(hi, 6) AS hi,
           CAST((sum(cm) * 1000) // count(*) AS BIGINT)
             AS wins_mean_micro
         FROM c GROUP BY lang, lo, hi ORDER BY lang""",
    "ds_chi_square" ->
      """WITH base AS (SELECT doc_id % 2 AS r, lang AS c FROM documents),
         cells AS (SELECT r, c, CAST(count(*) AS BIGINT) AS o FROM base
           GROUP BY r, c),
         rt AS (SELECT r, CAST(sum(o) AS BIGINT) AS rt FROM cells
           GROUP BY r),
         ct AS (SELECT c, CAST(sum(o) AS BIGINT) AS ct FROM cells
           GROUP BY c),
         tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
             CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT c) AS BIGINT) AS n_cols
           FROM cells),
         grid AS (SELECT rt.r, ct.c, rt.rt, ct.ct,
             COALESCE(cells.o, 0) AS o
           FROM rt CROSS JOIN ct
           LEFT JOIN cells ON cells.r = rt.r AND cells.c = ct.c),
         terms AS (SELECT
             ((o * (SELECT n FROM tot) - rt * ct)
              * (o * (SELECT n FROM tot) - rt * ct) * 1000)
             // ((SELECT n FROM tot) * rt * ct) AS term
           FROM grid)
         SELECT (SELECT n FROM tot) AS n,
           (SELECT n_rows FROM tot) AS n_rows,
           (SELECT n_cols FROM tot) AS n_cols,
           CAST(((SELECT n_rows FROM tot) - 1)
             * ((SELECT n_cols FROM tot) - 1) AS BIGINT) AS dof,
           CAST(sum(term) AS BIGINT) AS chi2_milli
         FROM terms""",
    "ds_rank_correlation" ->
      """WITH base AS (SELECT doc_id AS id, n_chars AS x,
             (doc_id * 37 + 11) % 1000 AS y
           FROM documents WHERE doc_id < 64),
         p AS (SELECT CAST(sign(a.x - b.x) * sign(a.y - b.y) AS BIGINT)
               AS s
           FROM base a JOIN base b ON a.id < b.id),
         agg AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS concordant,
             CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS discordant
           FROM p),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base)
         SELECT nn.n, agg.n_pairs, agg.concordant, agg.discordant,
           CAST((agg.concordant - agg.discordant) * 1000000
                // agg.n_pairs AS BIGINT) AS tau_ppm
         FROM agg, nn""",
    "ds_bootstrap_ci_lang" ->
      """WITH base AS (SELECT lang, doc_id, n_chars AS v FROM documents),
         e AS (SELECT lang, doc_id, v, r.rep FROM base, range(64) r(rep)),
         hw AS (SELECT lang, v,
             CASE WHEN h < 367879 THEN 0 WHEN h < 735759 THEN 1
                  WHEN h < 919699 THEN 2 WHEN h < 981012 THEN 3
                  WHEN h < 996340 THEN 4 WHEN h < 999406 THEN 5
                  WHEN h < 999917 THEN 6 WHEN h < 999990 THEN 7
                  ELSE 8 END AS w, rep
           FROM (SELECT lang, v, rep,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                 || CAST(rep AS VARCHAR) || ':bs:'), 1, 15) AS BIGINT)
                 % 1000000 AS h
             FROM e)),
         m AS (SELECT lang, rep,
             (sum(w * v) * 1000000) // sum(w) AS m
           FROM hw GROUP BY lang, rep HAVING sum(w) > 0),
         rk AS (SELECT lang, m, row_number() OVER (PARTITION BY lang
             ORDER BY m, rep) AS rk FROM m),
         bounds AS (SELECT lang,
             CAST(max(CASE WHEN rk = 2 THEN m END) AS BIGINT)
               AS ci_lo_micro,
             CAST(max(CASE WHEN rk = 63 THEN m END) AS BIGINT)
               AS ci_hi_micro,
             CAST(count(*) AS BIGINT) AS n_replicates
           FROM rk GROUP BY lang),
         pt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_items,
             CAST((sum(v) * 1000000) // count(*) AS BIGINT)
               AS point_micro
           FROM base GROUP BY lang)
         SELECT pt.lang, pt.n_items, pt.point_micro, bounds.ci_lo_micro,
           bounds.ci_hi_micro, bounds.n_replicates
         FROM pt JOIN bounds USING (lang) ORDER BY pt.lang""",
    "ds_krippendorff" ->
      s"""WITH $annSql,
         ann2 AS (SELECT * FROM ann
           WHERE (item * 7 + annotator * 13) % 10 <> 0),
         nic AS (SELECT item, label, CAST(count(*) AS BIGINT) AS nic
           FROM ann2 GROUP BY item, label),
         pi AS (SELECT item, CAST(sum(nic) AS BIGINT) AS ni,
             CAST(sum(nic * (nic - 1)) AS BIGINT) AS ap
           FROM nic GROUP BY item HAVING sum(nic) >= 2),
         it AS (SELECT item, ni,
             ((ni * (ni - 1) - ap) * 1000) // (ni - 1) AS dom
           FROM pi),
         lt AS (SELECT label, CAST(sum(nic) AS BIGINT) AS nc
           FROM nic JOIN it USING (item) GROUP BY label),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS nip,
             CAST(sum(ni) AS BIGINT) AS nn,
             CAST(sum(dom) AS BIGINT) AS dos FROM it),
         de AS (SELECT CAST(sum(nc * nc) AS BIGINT) AS sq FROM lt),
         r AS (SELECT tot.nip, tot.nn,
             CAST((tot.dos * 1000000) // (tot.nn * 1000) AS BIGINT)
               AS do_ppm,
             CAST(((tot.nn * tot.nn - de.sq) * 1000000)
                  // (tot.nn * (tot.nn - 1)) AS BIGINT) AS de_ppm
           FROM tot, de)
         SELECT nip AS n_items_paired, nn AS n_annotations, do_ppm,
           de_ppm,
           CAST(CASE WHEN de_ppm = 0 THEN
               (CASE WHEN do_ppm = 0 THEN 1000000 END)
             ELSE ((de_ppm - do_ppm) * 1000000) // de_ppm END AS BIGINT)
             AS alpha_ppm
         FROM r""",
    "ds_ks_test" ->
      """WITH base AS (SELECT n_chars AS v, doc_id % 2 AS half
           FROM documents),
         per AS (SELECT v,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS ca,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS cb
           FROM base GROUP BY v),
         cum AS (SELECT v,
             sum(ca) OVER (ORDER BY v) AS cuma,
             sum(cb) OVER (ORDER BY v) AS cumb
           FROM per),
         tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
             CAST(sum(cb) AS BIGINT) AS n_b FROM per),
         gaps AS (SELECT v,
             abs(cuma * (SELECT n_b FROM tot)
                 - cumb * (SELECT n_a FROM tot)) AS gap
           FROM cum),
         mx AS (SELECT max(gap) AS g FROM gaps)
         SELECT tot.n_a, tot.n_b,
           CAST(mx.g * 1000000 // (tot.n_a * tot.n_b) AS BIGINT)
             AS d_ppm,
           CAST((SELECT min(v) FROM gaps WHERE gap = mx.g) AS BIGINT)
             AS at_v
         FROM tot, mx""",
    "ds_mwu" ->
      """WITH base AS (SELECT n_chars AS v, doc_id % 2 AS half
           FROM documents),
         per AS (SELECT v,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS ca,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS cb
           FROM base GROUP BY v),
         cum AS (SELECT v, ca, cb,
             sum(ca + cb) OVER (ORDER BY v) - (ca + cb) AS before
           FROM per),
         agg AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
             CAST(sum(cb) AS BIGINT) AS n_b,
             CAST(sum(ca * (before * 2 + ca + cb + 1)) AS BIGINT)
               AS r_a_x2
           FROM cum)
         SELECT n_a, n_b,
           CAST(r_a_x2 - n_a * (n_a + 1) AS BIGINT) AS u_a_x2,
           CAST(n_a * n_b * 2 - (r_a_x2 - n_a * (n_a + 1)) AS BIGINT)
             AS u_b_x2,
           CAST((r_a_x2 - n_a * (n_a + 1)) * 1000000
                // (n_a * n_b * 2) AS BIGINT) AS cles_ppm
         FROM agg""",
    "ds_ks_census_stream" ->
      """WITH base AS (SELECT lang AS g, n_chars AS v, doc_id % 2 AS half
           FROM documents),
         per AS (SELECT g, v,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS ca,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS cb
           FROM base GROUP BY g, v),
         cum AS (SELECT g, v,
             sum(ca) OVER (PARTITION BY g ORDER BY v) AS cuma,
             sum(cb) OVER (PARTITION BY g ORDER BY v) AS cumb
           FROM per),
         tot AS (SELECT g, CAST(sum(ca) AS BIGINT) AS n_a,
             CAST(sum(cb) AS BIGINT) AS n_b FROM per GROUP BY g),
         gaps AS (SELECT cum.g, cum.v, tot.n_a, tot.n_b,
             abs(cum.cuma * tot.n_b - cum.cumb * tot.n_a) AS gap
           FROM cum JOIN tot USING (g)),
         mx AS (SELECT g, max(gap) AS mg FROM gaps GROUP BY g)
         SELECT gaps.g AS lang, gaps.n_a, gaps.n_b,
           CAST(mx.mg * 1000000 // (gaps.n_a * gaps.n_b) AS BIGINT)
             AS d_ppm,
           CAST(min(gaps.v) AS BIGINT) AS at_v
         FROM gaps JOIN mx ON mx.g = gaps.g AND gaps.gap = mx.mg
         GROUP BY gaps.g, gaps.n_a, gaps.n_b, mx.mg
         ORDER BY lang""",
    "ds_ks_by_group" ->
      """WITH base AS (SELECT lang AS g, n_chars AS v, doc_id % 2 AS half
           FROM documents),
         per AS (SELECT g, v,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS ca,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS cb
           FROM base GROUP BY g, v),
         cum AS (SELECT g, v,
             sum(ca) OVER (PARTITION BY g ORDER BY v) AS cuma,
             sum(cb) OVER (PARTITION BY g ORDER BY v) AS cumb
           FROM per),
         tot AS (SELECT g, CAST(sum(ca) AS BIGINT) AS n_a,
             CAST(sum(cb) AS BIGINT) AS n_b FROM per GROUP BY g),
         gaps AS (SELECT cum.g, cum.v, tot.n_a, tot.n_b,
             abs(cum.cuma * tot.n_b - cum.cumb * tot.n_a) AS gap
           FROM cum JOIN tot USING (g)),
         mx AS (SELECT g, max(gap) AS mg FROM gaps GROUP BY g)
         SELECT gaps.g AS lang, gaps.n_a, gaps.n_b,
           CAST(mx.mg * 1000000 // (gaps.n_a * gaps.n_b) AS BIGINT)
             AS d_ppm,
           CAST(min(gaps.v) AS BIGINT) AS at_v
         FROM gaps JOIN mx ON mx.g = gaps.g AND gaps.gap = mx.mg
         GROUP BY gaps.g, gaps.n_a, gaps.n_b, mx.mg
         ORDER BY lang""",
    "ds_robust_scale" ->
      """WITH vm AS (SELECT doc_id, lang,
             CAST(round(CAST(n_chars AS DOUBLE) * 1000) AS BIGINT) AS vm
           FROM documents),
         med AS (SELECT lang,
             CAST(round(quantile_cont(vm, 0.5)) AS BIGINT) AS med_milli
           FROM vm GROUP BY lang),
         mad AS (SELECT vm.lang,
             CAST(round(quantile_cont(abs(vm.vm - med.med_milli), 0.5))
               AS BIGINT) AS mad_milli
           FROM vm JOIN med USING (lang) GROUP BY vm.lang)
         SELECT vm.doc_id, vm.lang, med.med_milli, mad.mad_milli,
           CAST((vm.vm - med.med_milli) * 1000
             // greatest(mad.mad_milli, 1) AS BIGINT) AS z_milli,
           mad.mad_milli = 0 AS mad_zero
         FROM vm JOIN med USING (lang) JOIN mad USING (lang)
         ORDER BY doc_id""",
    "ds_js_divergence" ->
      """WITH base AS (SELECT lang AS cat, doc_id % 2 AS half
           FROM documents),
         cells AS (SELECT cat,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS c,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS d
           FROM base GROUP BY cat),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_p,
             CAST(sum(d) AS BIGINT) AS n_q,
             CAST(count(*) AS BIGINT) AS n_cats FROM cells),
         terms AS (SELECT
             CASE WHEN c > 0 THEN c * CAST(round(ln(
                 CAST(c * (SELECT n_q FROM tot) * 2 AS DOUBLE)
                 / (c * (SELECT n_q FROM tot)
                    + d * (SELECT n_p FROM tot))) * 1000) AS BIGINT)
               ELSE 0 END AS tp,
             CASE WHEN d > 0 THEN d * CAST(round(ln(
                 CAST(d * (SELECT n_p FROM tot) * 2 AS DOUBLE)
                 / (c * (SELECT n_q FROM tot)
                    + d * (SELECT n_p FROM tot))) * 1000) AS BIGINT)
               ELSE 0 END AS tq
           FROM cells),
         sums AS (SELECT CAST(sum(tp) AS BIGINT) AS sp,
             CAST(sum(tq) AS BIGINT) AS sq FROM terms)
         SELECT tot.n_p, tot.n_q, tot.n_cats,
           CAST(sums.sp // tot.n_p AS BIGINT) AS kl_p_milli,
           CAST(sums.sq // tot.n_q AS BIGINT) AS kl_q_milli,
           CAST((sums.sp // tot.n_p + sums.sq // tot.n_q) // 2
             AS BIGINT) AS jsd_milli
         FROM tot, sums""",
    // census → finisher == the batch statistic: same replay as
    // ds_js_divergence (counts are commutative, so the census is the
    // plain GROUP BY)
    "ds_js_census_stream" ->
      """WITH base AS (SELECT lang AS cat, doc_id % 2 AS half
           FROM documents),
         cells AS (SELECT cat,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS c,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS d
           FROM base GROUP BY cat),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_p,
             CAST(sum(d) AS BIGINT) AS n_q,
             CAST(count(*) AS BIGINT) AS n_cats FROM cells),
         terms AS (SELECT
             CASE WHEN c > 0 THEN c * CAST(round(ln(
                 CAST(c * (SELECT n_q FROM tot) * 2 AS DOUBLE)
                 / (c * (SELECT n_q FROM tot)
                    + d * (SELECT n_p FROM tot))) * 1000) AS BIGINT)
               ELSE 0 END AS tp,
             CASE WHEN d > 0 THEN d * CAST(round(ln(
                 CAST(d * (SELECT n_p FROM tot) * 2 AS DOUBLE)
                 / (c * (SELECT n_q FROM tot)
                    + d * (SELECT n_p FROM tot))) * 1000) AS BIGINT)
               ELSE 0 END AS tq
           FROM cells),
         sums AS (SELECT CAST(sum(tp) AS BIGINT) AS sp,
             CAST(sum(tq) AS BIGINT) AS sq FROM terms)
         SELECT tot.n_p, tot.n_q, tot.n_cats,
           CAST(sums.sp // tot.n_p AS BIGINT) AS kl_p_milli,
           CAST(sums.sq // tot.n_q AS BIGINT) AS kl_q_milli,
           CAST((sums.sp // tot.n_p + sums.sq // tot.n_q) // 2
             AS BIGINT) AS jsd_milli
         FROM tot, sums""",
    // exact-mode (k > group count) sketch quantiles are ceil-rank order
    // statistics on the milli grid: value at 1-based rank
    // max(1, ceil(q*n)) of the group's sorted values
    "ds_robust_scale_stream" ->
      """WITH base AS (SELECT lang AS g,
             CAST(n_chars AS BIGINT) * 1000 AS vm FROM documents),
         ranked AS (SELECT g, vm,
             row_number() OVER (PARTITION BY g ORDER BY vm) AS rn,
             count(*) OVER (PARTITION BY g) AS n FROM base),
         qs AS (SELECT g, CAST(max(n) AS BIGINT) AS n,
             max(CASE WHEN rn = greatest(1,
               CAST(ceil(0.25 * n) AS BIGINT)) THEN vm END) AS p25_milli,
             max(CASE WHEN rn = greatest(1,
               CAST(ceil(0.5 * n) AS BIGINT)) THEN vm END) AS med_milli,
             max(CASE WHEN rn = greatest(1,
               CAST(ceil(0.75 * n) AS BIGINT)) THEN vm END) AS p75_milli
           FROM ranked GROUP BY g)
         SELECT g AS lang, n, p25_milli, med_milli, p75_milli,
           p75_milli - p25_milli AS iqr_milli
         FROM qs ORDER BY lang"""
  )
}
