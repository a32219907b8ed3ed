package graft.queries

import graft.ext.{Dedup, Funnel, IntervalJoin, Layout, Multimodal, Pipeline, Similarity, Sketches, TextAnalysis, TimeSeries}
import graft.compile.ParquetEnv
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import ExtShared._

/** Training-data pipeline family (mechanics): sampling (exact/weighted/
  * stratified/per-key), splits, packing, chunking, mixture weights,
  * epoch shuffle/interleave/curriculum, token budgets, profile, layout.
  *
  * Gate queries with their DuckDB oracles CO-LOCATED (one file per
  * family, split from the former monolithic ExtQueries — VERDICT r8
  * #7); [[ExtQueries]] merges every family fail-loud on duplicate
  * keys. Shared fixtures/memos/SQL builders live in [[ExtShared]].
  */
private[queries] object ExtDataQueries {
  private type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "ds_zorder" -> { (s, d) =>
      // Morton key over a 1024×1024 (partkey, suppkey) grid; per-tile
      // stats prove the interleave (the write path is spec-checked —
      // file bounding boxes shrink vs a single-column sort)
      val li = ParquetEnv.read(s, s"$d/lineitem.parquet")
      li.select(Layout.zorderKey(
            Seq(pmod(col("l_partkey"), lit(1024L)),
                pmod(col("l_suppkey"), lit(1024L))), 10).as("z"))
        .groupBy(shiftright(col("z"), 12).as("tile"))
        .agg(count(lit(1)).cast("long").as("n"),
             min(col("z")).as("min_z"), max(col("z")).as("max_z"))
        .orderBy(col("tile"))
    },

    "ds_bloom_roundtrip" -> { (s, d) =>
      // bloom-indexed write path, end to end: write the documents table
      // with blooms on doc_id, read back, prove data integrity (the
      // bloom bytes themselves are footer metadata — spec-checked; this
      // gate pins the write→read lane under the bloom options).
      // Written ONCE per fixture dir (the bpeCerts memo pattern): bench
      // repetitions re-read the same copy instead of leaking one table
      // copy per rep in a fresh temp dir.
      val out = bloomGateDirs.computeIfAbsent(d, _ => {
        val dir = java.nio.file.Files.createTempDirectory("graft_bloom_gate")
        Layout.writeBloomIndexed(
          docs(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
          s"$dir/t", Seq("doc_id"), expectedNdv = 100000L, numFiles = 4)
        dir
      })
      s.read.parquet(s"$out/t").orderBy(col("doc_id"))
    },
    "ds_negative_samples" -> { (s, d) =>
      // uniform hash-deterministic negatives: queries = first 20 docs,
      // positive = the next doc id; 4 negatives each from the corpus
      val dd = docs(s, d)
      val pos = dd.where(col("doc_id") < 20)
        .select(col("doc_id").as("query_id"),
          (col("doc_id") + 1).as("pos_id"))
      Pipeline.negativeSamples(pos, dd, "doc_id", k = 4, margin = 8)
        .orderBy(col("query_id"), col("neg_rank"))
    },

    // ---- corpus management ----
    "ds_split" -> { (s, d) =>
      // deterministic 80/10/10 split by id hash — stable across engines
      Pipeline.splitByHash(docs(s, d), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"))
        .agg(count(lit(1)).cast("long").as("n"),
             min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("split"))
    },
    "ds_kfold" -> { (s, d) =>
      // deterministic 5-fold CV assignment by id hash: folds are
      // disjoint, exhaustive, and stable under corpus growth
      Pipeline.foldsByHash(docs(s, d), "doc_id", k = 5)
        .groupBy(col("fold"))
        .agg(count(lit(1)).cast("long").as("n"),
             min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("fold"))
    },
    "ds_kfold_safe" -> { (s, d) =>
      // leakage-safe 5-fold: near-dup docs (ngram-jaccard pairs) share a
      // fold via their cluster representative's hash
      val dd = docs(s, d)
      Pipeline.foldsByCluster(dd,
          Dedup.ngramJaccardPairs(dd, "text", "doc_id",
            maxDf = Long.MaxValue), "doc_id", k = 5)
        .select(col("doc_id"), col("fold"))
        .orderBy(col("doc_id"))
    },
    "ds_k_anonymity" -> { (s, d) =>
      // privacy release gate: population of every (nation, segment)
      // quasi-identifier combination, flagged where fewer than k=30
      // customers share it (re-identifiable)
      Pipeline.kAnonymity(ParquetEnv.read(s, s"$d/customer.parquet"),
          Seq("c_nationkey", "c_mktsegment"), k = 30L)
        .orderBy(col("c_nationkey"), col("c_mktsegment"))
    },
    "ds_l_diversity" -> { (s, d) =>
      // l-diversity: a nation bucket is re-identifying if its customers
      // span fewer than l=5 market segments — the sensitive-value
      // concentration leak k-anonymity alone misses
      Pipeline.lDiversity(ParquetEnv.read(s, s"$d/customer.parquet"),
          Seq("c_nationkey"), "c_mktsegment", l = 5L)
        .orderBy(col("c_nationkey"))
    },
    "ds_neyman" -> { (s, d) =>
      // Neyman-optimal stratified allocation of a 100-sample budget
      // across languages by N_h·sigma_h of doc length — exact integer
      // sqrt weights, largest-remainder rounding (sums to the budget)
      Pipeline.neymanAllocation(docs(s, d), "lang", "n_chars",
          budget = 100L)
        .orderBy(col("stratum"))
    },
    "ds_span_corrupt" -> { (s, d) =>
      // T5 span corruption, gated by CERTIFICATES (the hash-drawn span
      // walk is an in-doc sequential loop DuckDB can't replay):
      // splicing targets back into input must reconstruct the cleaned
      // text exactly, and the sentinel bookkeeping must be consistent;
      // n_tokens keys the content
      val clean = array_join(filter(split(
        regexp_replace(lower(col("text")), "[^a-z ]", ""), " "),
        w => w =!= ""), " ")
      val base = docs(s, d).select(col("doc_id"), clean.as("t"))
      val sc = Pipeline.spanCorrupt(base, "doc_id", "t",
        maskRate = 0.15, meanSpan = 3, salt = "r10")
      sc.join(base, sc("id") === base("doc_id"))
        .select(col("doc_id"), col("n_tokens"),
          (Pipeline.spanUncorrupt(col("input"), col("targets")) ===
            col("t")).as("roundtrip_ok"),
          (size(filter(split(col("input"), " "),
            w => w.startsWith("<extra_id_"))).cast("long") ===
            col("n_spans") &&
            // whole-token anchor: endsWith would also accept an
            // off-by-10x terminal sentinel (<extra_id_13> for n=3)
            element_at(split(col("targets"), " "), -1) ===
              concat(lit("<extra_id_"), col("n_spans"), lit(">")))
            .as("sentinels_ok"))
        .orderBy(col("doc_id"))
    },
    "ds_dp_counts" -> { (s, d) =>
      // DP release of per-language counts: Laplace(1/0.5) noise from
      // the salted portable hash — reproducible, engine-portable, and
      // the true count never leaves the operator
      Pipeline.dpNoisyCounts(docs(s, d), Seq("lang"),
          epsilon = 0.5, salt = "r10-release-1")
        .orderBy(col("lang"))
    },
    "ds_chat_audit" -> { (s, d) =>
      // SFT chat-transcript ingest gate over a 5-variant JSON fixture:
      // system-led valid, plain valid, broken alternation, empty
      // assistant content, malformed JSON — flags + flattened text
      val c1 = concat(lit("c"), substring(
        regexp_replace(lower(col("text")), "[^a-z ]", ""), 1, 20))
      val c2 = reverse(c1)
      val v = pmod(col("doc_id"), lit(5L))
      def turn(role: String, c: org.apache.spark.sql.Column) = concat(
        lit("{\"role\":\"" + role + "\",\"content\":\""), c, lit("\"}"))
      val j = when(v === 0, concat(lit("["), turn("system", lit("sys")),
          lit(","), turn("user", c1), lit(","), turn("assistant", c2),
          lit("]")))
        .when(v === 1, concat(lit("["), turn("user", c1), lit(","),
          turn("assistant", c2), lit("]")))
        .when(v === 2, concat(lit("["), turn("user", c1), lit(","),
          turn("user", c2), lit("]")))
        .when(v === 3, concat(lit("["), turn("user", c1), lit(","),
          turn("assistant", lit("")), lit("]")))
        .otherwise(lit("not json"))
      Pipeline.chatAudit(
          docs(s, d).select(col("doc_id"), j.as("chat")),
          "doc_id", "chat")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    "ds_quantile_norm" -> { (s, d) =>
      // cross-source score equalizer: document length mapped to its
      // percent rank WITHIN the language (min rank for ties — no
      // tie-break ordering leaks); q rounded for the cross-engine hash
      Pipeline.quantileNormalize(
          docs(s, d).withColumn("len", length(col("text")).cast("long")),
          "lang", "len")
        .select(col("doc_id"), col("lang"), col("len"),
                round(col("q"), 9).as("q"))
        .orderBy(col("doc_id"))
    },
    "ds_quantile_norm_sketch" -> { (s, d) =>
      // window-free rank normalization: per-lang KLL models fit in one
      // hash agg, probed as a pure narrow map (no sort — the extreme-
      // skew path). k >= any group size -> the sketch is exact and q is
      // exactly cume_dist (count-<=-v / n; max rank for ties)
      val dd = docs(s, d).withColumn("len",
        length(col("text")).cast("long"))
      // gate mode sizes k from the DATA (max group count + 1), not a
      // constant — a fixed 8192 stopped being exact the first time the
      // fixture scaled past it (caught by the sf1 sweep). Production
      // callers size k for the accuracy target instead; this keeps the
      // gate a true cume_dist cross-check at any SF.
      val maxGroup = dd.groupBy(col("lang"))
        .count().agg(max("count")).collect()(0).getLong(0)
      val models = graft.ext.Sketches.kllFitByKey(dd, "lang", "len",
        k = math.max(8192L, maxGroup + 1L).toInt)
      require(models.values.forall(_.exact),
        "gate mode requires exact sketches (k >= group size)")
      Pipeline.quantileNormalizeBySketch(dd, "lang", "len", models)
        .select(col("doc_id"), col("lang"), col("len"),
                round(col("q"), 9).as("q"))
        .orderBy(col("doc_id"))
    },
    "ds_chunk" -> { (s, d) =>
      // overlapping char-window chunking (512/64): training context prep
      Pipeline.chunkByChars(docs(s, d), chunkChars = 512, overlapChars = 64)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
                col("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    "ds_chunk_words" -> { (s, d) =>
      // token-window chunking (128/16): tokenizer-aligned context prep
      Pipeline.chunkByWords(docs(s, d), chunkWords = 128, overlapWords = 16)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
                col("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    "ds_sample_exact" -> { (s, d) =>
      // exact-n stratified sample: 3 docs per lang by portable id hash —
      // deterministic across runs/engines/partitionings (the eval-set draw)
      Pipeline.sampleExactPerKey(docs(s, d), Seq("lang"), 3, "doc_id")
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    },
    "ds_mixture" -> { (s, d) =>
      // deterministic data-mixture sampling: keep 50% of en, 25% of de,
      // all of everything else — by portable id hash, reproducible
      Pipeline.sampleByMixture(docs(s, d), "lang", "doc_id",
          Map("en" -> 0.5, "de" -> 0.25))
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n"), min(col("doc_id")).as("min_id"))
        .orderBy(col("lang"))
    },
    "ds_mixture_temp" -> { (s, d) =>
      // temperature-scaled resample (α=0.5) to a 400-row budget: head
      // languages downsample, tail languages upsample with epoch-tagged
      // copies — the multilingual mixing recipe, deterministic end to end
      Pipeline.sampleToTemperature(docs(s, d), "lang", "doc_id",
          alpha = 0.5, target = 400L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n_rows"),
             countDistinct(col("doc_id")).cast("long").as("n_docs"),
             sum(col("epoch")).cast("long").as("epoch_mass"))
        .orderBy(col("lang"))
    },
    "ds_interleave" -> { (s, d) =>
      // round-robin source rotation: within-source deterministic shuffle
      // rank x nSources + source index; the oracle replays rank, source
      // index and position arithmetic
      Pipeline.interleaveBySources(
          docs(s, d).select(col("doc_id"), col("source")), "source")
        .select(col("doc_id"), col("source"), col("interleave_pos"))
        .orderBy(col("doc_id"))
    },
    "ds_curriculum" -> { (s, d) =>
      // 4-stage curriculum by doc length (exact quantile cut + within-
      // stage deterministic shuffle key); oracle replays the rank/stage
      // arithmetic and the portable hash
      Pipeline.curriculumStages(
          docs(s, d).select(col("doc_id"), col("n_chars")), "n_chars", 4)
        .select(col("doc_id"), col("stage"), col("curriculum_key"))
        .orderBy(col("doc_id"))
    },
    "ds_epoch_shuffle" -> { (s, d) =>
      // first 50 docs of epoch 1's deterministic training order — the
      // sorted shuffle_key prefix proves the order itself hash-exactly
      Pipeline.epochShuffle(docs(s, d), "doc_id", epoch = 1)
        .select(col("doc_id"), col("shuffle_key"))
        .limit(50)
    },
    "ds_budget_alloc" -> { (s, d) =>
      // waterfilled token-budget allocation: fill half the corpus's tokens
      // at 60% zh / 10% each of the rest — zh has ~20% of the tokens, so
      // it saturates and its unused share redistributes (integer ppm
      // arithmetic; the oracle replays the waterfill rounds exactly)
      val dd = docs(s, d)
      Pipeline.allocateBudget(dd, "lang", budgetWeights,
          budgetOf(dd), budgetMass)
        .orderBy(col("lang"))
    },
    "ds_budget_sample" -> { (s, d) =>
      val dd = docs(s, d)
      Pipeline.sampleToBudget(dd, "lang", "doc_id", budgetWeights,
          budgetOf(dd), budgetMass)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
    "ds_profile" -> { (s, d) =>
      // one-scan ingest profiling over every documents column
      Pipeline.profile(docs(s, d),
          Seq("doc_id", "lang", "source", "n_chars", "text"))
        .orderBy(col("col_name"))
    },
    "ds_corpus_digest" -> { (s, d) =>
      // order-independent reproducibility digest: count + bit-XOR +
      // exact decimal sum of the portable row hash — equal digests <=>
      // identical row multisets, under ANY partitioning/ordering
      Pipeline.corpusDigest(docs(s, d), Seq("doc_id", "lang", "text"))
    },
    "ds_corpus_digest_by" -> { (s, d) =>
      // per-partition promote gate: one digest row per lang, so a
      // regenerated partitioned table republishes only moved partitions
      Pipeline.corpusDigestBy(docs(s, d), Seq("doc_id", "lang", "text"),
          "lang")
        .orderBy(col("lang"))
    },
    "ds_digest_diff" -> { (s, d) =>
      // the promote decision: diff two per-source digest tables of a
      // "regenerated" corpus (src2 newly appears, src5 vanishes, src1's
      // text changed, everything else byte-identical) — all four
      // statuses exercised without re-reading corpus rows
      val dd = docs(s, d)
      val prev = Pipeline.corpusDigestBy(
        dd.where(col("source") =!= "src2"), Seq("doc_id", "text"),
        "source")
      val next = Pipeline.corpusDigestBy(
        dd.where(col("source") =!= "src5")
          .withColumn("text", when(col("source") === "src1",
            concat(col("text"), lit("!"))).otherwise(col("text"))),
        Seq("doc_id", "text"), "source")
      Pipeline.digestDiff(prev, next, "source").orderBy(col("source"))
    },
    "ds_filter_funnel" -> { (s, d) =>
      // curation-ablation funnel: five cleaning stages counted in
      // isolation AND cumulatively in ONE scan (stack unpivot of the
      // single aggregated row); null predicate values count as fail
      Pipeline.filterFunnel(docs(s, d), Seq(
          "nonempty" -> (col("text").isNotNull && length(col("text")) > 0),
          "min_len" -> (length(col("text")) >= 50),
          "has_period" -> col("text").contains("."),
          "lang_known" -> col("lang").isin("en", "fr", "es", "de", "zh"),
          "max_len" -> (length(col("text")) <= 5000)))
        .orderBy(col("stage_idx"))
    },
    "ds_pack" -> { (s, d) =>
      // sequence packing into 1024-token bins via the distributed
      // prefix-sum (no single-partition global window)
      Pipeline.packSequences(docs(s, d), "doc_id",
          TextAnalysis.tokenCount(col("text")), budget = 1024)
        .select(col("id").as("doc_id"), col("tok"), col("start"),
                col("first_bin"), col("last_bin"))
        .orderBy(col("doc_id"))
    },
    "ds_cap_per_key" -> { (s, d) =>
      // at most 3 docs per language (the per-source crawl cap)
      Pipeline.capPerKey(docs(s, d), Seq("lang"), 3, Seq(col("doc_id")))
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    },
    "ds_token_budget" -> { (s, d) =>
      // keep each source's longest docs up to a 1000-token budget
      // (deterministic order: n_chars desc, doc_id asc)
      Pipeline.selectToBudget(docs(s, d), "source",
          TextAnalysis.tokenCount(col("text")), budget = 1000L,
          orderCols = Seq(col("n_chars").desc, col("doc_id")))
        .select(col("source"), col("doc_id"), col("cum_tokens"))
        .orderBy(col("source"), col("doc_id"))
    },
    "ds_check_constraints" -> { (s, d) =>
      // Deequ-shaped ingest gate: four named row-level rules in ONE
      // aggregate scan — two hold on the fixture, min-length-200
      // genuinely fails (mixed pass/fail exercises both report states)
      Pipeline.checkConstraints(docs(s, d), Seq(
          "text_nonnull" -> col("text").isNotNull,
          "n_chars_consistent" -> (col("n_chars") === length(col("text"))),
          "lang_known" -> col("lang").isin("de", "en", "es", "fr", "zh"),
          "text_min_200" -> (length(col("text")) >= 200)))
        .orderBy(col("rule"))
    },
    "ds_temporal_split" -> { (s, d) =>
      // time-ordered split with a 1-day embargo after the cutoff
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      Pipeline.splitByTime(ev, "ts", "2024-01-05 00:00:00",
          embargoSeconds = 86400L)
        .select(col("event_id"), col("split"))
        .orderBy(col("event_id"))
    },
    "ds_sample_exact_weighted" -> { (s, d) =>
      // Efraimidis-Spirakis exact-k weighted draw: 50 docs, weight =
      // n_chars (longer docs likelier), deterministic hash keys
      Pipeline.sampleExactWeighted(docs(s, d), col("n_chars"), k = 50,
          "doc_id")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },
    "ds_scd2" -> { (s, d) =>
      // SCD2 dimension build: per-user event_type version history with
      // validity intervals (no-change rows collapsed, one shuffle)
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      Pipeline.scd2(ev, keyCols = Seq("user_id"), tsCol = "ts",
          attrCols = Seq("event_type"), tieBreak = Seq("event_id"))
        .select(col("user_id"), col("effective_from"), col("effective_to"),
                col("event_type"), col("is_current"))
        .orderBy(col("user_id"), col("effective_from"), col("event_type"))
    },
    "ds_chunk_sentences" -> { (s, d) =>
      // sentence-aware chunking: fixture text gains sentence boundaries
      // (every word terminated), then whole sentences bin at 64 chars
      val sd = docs(s, d).select(col("doc_id"),
        regexp_replace(col("text"), " ", ". ").as("text"))
      Pipeline.chunkBySentences(sd, chunkChars = 64)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    "ds_skew_report" -> { (s, d) =>
      // hottest event keys with integer-ppm share — the pre-flight skew
      // diagnostic for salting decisions
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      Pipeline.skewReport(ev, Seq("user_id"), topN = 10)
    },
    "ds_histogram" -> { (s, d) =>
      // 20-bin value histogram over events, clamped edges
      val ev = new graft.compile.ParquetEnv(s, d).load("events")
      Pipeline.histogram(ev, "value", lo = 0.0, hi = 200.0, nBins = 20)
        .orderBy(col("bin"))
    },
    "ds_sample_weighted" -> { (s, d) =>
      // quality-weighted subsample: longer docs more likely to survive
      // (weight = n_chars/1000 clamped to 1), deterministic by id hash
      Pipeline.sampleByWeight(docs(s, d),
          least(col("n_chars").cast("double") / lit(1000.0), lit(1.0)),
          "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n"),
             min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))
    },
    "ds_sample_stratified" -> { (s, d) =>
      // exactly 5 docs per language, hash-ordered: deterministic across
      // runs/engines/partitionings, uniform in distribution
      Pipeline.sampleExactPerKey(docs(s, d), Seq("lang"), 5, "doc_id")
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    },
    "ds_sample_weighted_perkey" -> { (s, d) =>
      // per-language quality-weighted budget: exactly 5 docs per lang,
      // weighted by n_chars within each stratum (Efraimidis-Spirakis
      // keys, deterministic) — one window shuffle on lang
      Pipeline.sampleExactWeightedPerKey(docs(s, d), Seq("lang"), 5,
          col("n_chars"), "doc_id")
        .select(col("lang"), col("doc_id"))
        .orderBy(col("lang"), col("doc_id"))
    },
    "ds_split_safe" -> { (s, d) =>
      // leakage-safe 80/10/10: near-dup docs (ngram-jaccard pairs) land in
      // the same split via their cluster representative's hash
      val dd = docs(s, d)
      Pipeline.splitByCluster(dd,
          Dedup.ngramJaccardPairs(dd, "text", "doc_id",
            maxDf = Long.MaxValue), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    },
    "ds_length_batches" -> { (s, d) =>
      // length-bucketed batching: buckets at <=8/<=16/<=32 tokens plus
      // overflow, deterministic hash order within bucket, batches of 16
      Pipeline.lengthBucketBatches(docs(s, d), "text", "doc_id",
          boundaries = Seq(8L, 16L, 32L), batchSize = 16)
        .orderBy(col("doc_id"))
    },
    "ds_dsir_weights" -> { (s, d) =>
      // DSIR importance weights toward the English slice as the target
      // distribution (integer micro-nat weights — exact sums)
      val dd = docs(s, d)
      Pipeline.dsirWeights(dd, dd.where(col("lang") === "en"),
          "text", "doc_id", buckets = 4096)
        .orderBy(col("doc_id"))
    }
  )

  val oracle: Map[String, String] = Map(
    "ds_zorder" -> zorderSql,
    "ds_bloom_roundtrip" ->
      """SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id""",
    "ds_negative_samples" ->
      """WITH ids AS (SELECT doc_id,
             row_number() OVER (ORDER BY doc_id) - 1 AS pos
           FROM documents),
         n AS (SELECT count(*) AS n FROM documents),
         q AS (SELECT doc_id AS query_id FROM documents WHERE doc_id < 20),
         draws AS (SELECT q.query_id, s.slot,
             CAST('0x' || substr(md5(CAST(q.query_id AS VARCHAR) || ':'
               || CAST(s.slot AS VARCHAR) || ':'), 1, 15) AS BIGINT)
               % (SELECT n FROM n) AS p
           FROM q, (SELECT unnest(range(12)) AS slot) s),
         cand AS (SELECT d.query_id, i.doc_id AS neg_id,
             min(d.slot) AS slot
           FROM draws d JOIN ids i ON i.pos = d.p
           GROUP BY d.query_id, i.doc_id),
         blocked AS (SELECT doc_id AS query_id, doc_id + 1 AS neg_id
                     FROM documents WHERE doc_id < 20
                     UNION
                     SELECT doc_id, doc_id FROM documents
                     WHERE doc_id < 20),
         kept AS (SELECT c.query_id, c.neg_id, c.slot,
             row_number() OVER (PARTITION BY c.query_id
               ORDER BY c.slot) AS rk
           FROM cand c LEFT JOIN blocked b ON b.query_id = c.query_id
             AND b.neg_id = c.neg_id
           WHERE b.query_id IS NULL)
         SELECT query_id, CAST(rk - 1 AS BIGINT) AS neg_rank, neg_id
         FROM kept WHERE rk <= 4 ORDER BY query_id, neg_rank""",
    "ds_split" ->
      """WITH h AS (SELECT doc_id,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
             % 1000000 AS b
           FROM documents),
         s AS (SELECT doc_id,
           CASE WHEN b < 800000 THEN 'train'
                WHEN b < 900000 THEN 'val' ELSE 'test' END AS split
           FROM h)
         SELECT split, CAST(count(*) AS BIGINT) AS n,
                min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM s GROUP BY split ORDER BY split""",
    "ds_chunk" ->
      """WITH n AS (SELECT doc_id, text,
                greatest(1, CAST(ceil((length(text) - 64) / 448.0) AS BIGINT)) AS nc
              FROM documents),
              s AS (SELECT unnest(range(0, (SELECT CAST(max(nc) AS BIGINT) FROM n))) AS i)
         SELECT n.doc_id, CAST(s.i AS BIGINT) AS chunk_idx,
                substr(n.text, CAST(s.i * 448 + 1 AS INT), 512) AS chunk_text
         FROM n, s WHERE s.i < n.nc
         ORDER BY n.doc_id, s.i""",
    // exact-recall parameterizations of the ANN plans ≡ brute force
    "ds_chunk_words" ->
      """WITH n AS (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents),
              m AS (SELECT doc_id, toks,
                greatest(1, CAST(ceil((len(toks) - 16) / 112.0) AS BIGINT)) AS nc
              FROM n),
              s AS (SELECT unnest(range(0, (SELECT CAST(max(nc) AS BIGINT) FROM m))) AS i)
         SELECT m.doc_id, CAST(s.i AS BIGINT) AS chunk_idx,
                array_to_string(list_slice(m.toks, CAST(s.i*112+1 AS BIGINT),
                                           CAST(s.i*112+128 AS BIGINT)), ' ') AS chunk_text
         FROM m, s WHERE s.i < m.nc
         ORDER BY m.doc_id, s.i""",
    "ds_sample_exact" ->
      """WITH h AS (SELECT lang, doc_id,
           row_number() OVER (PARTITION BY lang ORDER BY
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT),
             doc_id) AS rk
           FROM documents)
         SELECT lang, doc_id FROM h WHERE rk <= 3
         ORDER BY lang, doc_id""",
    "ds_mixture" ->
      """WITH h AS (SELECT lang, doc_id,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
             % 1000000 AS b
           FROM documents),
         k AS (SELECT lang, doc_id FROM h
               WHERE b < CASE lang WHEN 'en' THEN 500000
                                   WHEN 'de' THEN 250000
                                   ELSE 1000000 END)
         SELECT lang, CAST(count(*) AS BIGINT) AS n, min(doc_id) AS min_id
         FROM k GROUP BY lang ORDER BY lang""",
    "ds_mixture_temp" ->
      """WITH n AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n
                    FROM documents GROUP BY lang),
         q AS (SELECT lang, n, pow(n, 0.5) AS qnum FROM n),
         tot AS (SELECT sum(qnum) AS qden FROM q),
         r AS (SELECT lang, (400.0 * (qnum / qden)) / n AS rate FROM q, tot),
         x AS (SELECT d.doc_id, d.lang, r.rate,
                 generate_series(0, CAST(ceil(r.rate) AS BIGINT) - 1) AS epochs
               FROM documents d JOIN r USING (lang)),
         e AS (SELECT doc_id, lang, rate, unnest(epochs) AS epoch FROM x),
         k AS (SELECT doc_id, lang, epoch FROM e
               WHERE epoch < floor(rate)
                  OR (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                        CAST(epoch AS VARCHAR)), 1, 15) AS BIGINT) % 1000000)
                     < round((rate - floor(rate)) * 1000000))
         SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                CAST(sum(epoch) AS BIGINT) AS epoch_mass
         FROM k GROUP BY lang ORDER BY lang""",
    "ds_interleave" ->
      """WITH h AS (SELECT doc_id, source,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':il:'),
                1, 15) AS BIGINT) AS hk
         FROM documents),
         r AS (SELECT doc_id, source, row_number() OVER
             (PARTITION BY source ORDER BY hk, doc_id) - 1 AS rr
           FROM h),
         s AS (SELECT source, row_number() OVER (ORDER BY source) - 1
             AS sidx
           FROM (SELECT DISTINCT source FROM documents))
         SELECT r.doc_id, r.source,
                CAST(rr * (SELECT count(*) FROM s) + sidx AS BIGINT)
                  AS interleave_pos
         FROM r JOIN s USING (source) ORDER BY doc_id""",
    "ds_curriculum" ->
      """WITH r AS (SELECT doc_id,
           row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rk,
           count(*) OVER () AS n
         FROM documents)
         SELECT doc_id, CAST((rk * 4) // n + 1 AS INT) AS stage,
                CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':cur:'),
                     1, 15) AS BIGINT) AS curriculum_key
         FROM r ORDER BY doc_id""",
    "ds_epoch_shuffle" ->
      """SELECT doc_id,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':1:'), 1, 15)
                AS BIGINT) AS shuffle_key
         FROM documents
         ORDER BY shuffle_key, doc_id LIMIT 50""",
    "ds_budget_alloc" -> {
      val last = s"a${budgetWeights.size}"
      s"""$budgetCtes
         SELECT k AS lang, CAST(avail AS BIGINT) AS avail,
                CAST(coalesce(alloc, 0) AS BIGINT) AS alloc,
                CAST(${budgetFinalPpm(last)} AS BIGINT) AS keep_ppm
         FROM $last ORDER BY lang"""
    },
    "ds_budget_sample" -> {
      val last = s"a${budgetWeights.size}"
      s"""$budgetCtes
         SELECT d.doc_id, d.lang
         FROM documents d JOIN $last ON $last.k = d.lang
         WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % 1000000 < ${budgetFinalPpm(last)}
         ORDER BY d.doc_id"""
    },
    "ds_profile" -> {
      val cols = Seq("doc_id", "lang", "source", "n_chars", "text")
      cols.map(c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
            count($c) AS n_nonnull, count(DISTINCT $c) AS n_distinct,
            CAST(min($c) AS VARCHAR) AS min_value,
            CAST(max($c) AS VARCHAR) AS max_value FROM documents""")
        .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_name")
    },
    // length-prefixed cell encoding (`<n_chars>:<value>`, NULL -> bare
    // '␀') mirrors Pipeline.digestRowEncoding; sum splits into BIGINT
    // hi/lo at 2^62 to stay out of >2^63 wide-decimal territory
    "ds_corpus_digest" ->
      """WITH h AS (SELECT CAST('0x' || substr(md5(
             CASE WHEN doc_id IS NULL THEN '␀' ELSE
               CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR) || ':' ||
               CAST(doc_id AS VARCHAR) END || chr(31) ||
             CASE WHEN lang IS NULL THEN '␀' ELSE
               CAST(length(lang) AS VARCHAR) || ':' || lang END ||
             chr(31) ||
             CASE WHEN text IS NULL THEN '␀' ELSE
               CAST(length(text) AS VARCHAR) || ':' || text END),
             1, 15) AS BIGINT) AS h
           FROM documents)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(COALESCE(bit_xor(h), 0) AS BIGINT) AS xor_h,
           CAST(COALESCE(sum(h), 0) // 4611686018427387904 AS BIGINT)
             AS sum_h_hi,
           CAST(COALESCE(sum(h), 0) % 4611686018427387904 AS BIGINT)
             AS sum_h_lo
         FROM h""",
    "ds_corpus_digest_by" ->
      """WITH h AS (SELECT lang, CAST('0x' || substr(md5(
             CASE WHEN doc_id IS NULL THEN '␀' ELSE
               CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR) || ':' ||
               CAST(doc_id AS VARCHAR) END || chr(31) ||
             CASE WHEN lang IS NULL THEN '␀' ELSE
               CAST(length(lang) AS VARCHAR) || ':' || lang END ||
             chr(31) ||
             CASE WHEN text IS NULL THEN '␀' ELSE
               CAST(length(text) AS VARCHAR) || ':' || text END),
             1, 15) AS BIGINT) AS h
           FROM documents)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(h) AS BIGINT) AS xor_h,
           CAST(sum(h) // 4611686018427387904 AS BIGINT) AS sum_h_hi,
           CAST(sum(h) % 4611686018427387904 AS BIGINT) AS sum_h_lo
         FROM h GROUP BY lang ORDER BY lang""",
    "ds_digest_diff" ->
      """WITH hp AS (SELECT source, CAST('0x' || substr(md5(
             CASE WHEN doc_id IS NULL THEN '␀' ELSE
               CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR) || ':' ||
               CAST(doc_id AS VARCHAR) END || chr(31) ||
             CASE WHEN text IS NULL THEN '␀' ELSE
               CAST(length(text) AS VARCHAR) || ':' || text END),
             1, 15) AS BIGINT) AS h
           FROM documents WHERE source <> 'src2'),
         pd AS (SELECT source, count(*) AS n, bit_xor(h) AS x,
                sum(h) AS s
                FROM hp GROUP BY source),
         hn AS (SELECT source, CAST('0x' || substr(md5(
             CASE WHEN doc_id IS NULL THEN '␀' ELSE
               CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR) || ':' ||
               CAST(doc_id AS VARCHAR) END || chr(31) ||
             CASE WHEN t2 IS NULL THEN '␀' ELSE
               CAST(length(t2) AS VARCHAR) || ':' || t2 END),
             1, 15) AS BIGINT) AS h
           FROM (SELECT doc_id, source,
                   CASE WHEN source = 'src1' THEN text || '!'
                        ELSE text END AS t2
                 FROM documents WHERE source <> 'src5')),
         nd AS (SELECT source, count(*) AS n, bit_xor(h) AS x,
                sum(h) AS s
                FROM hn GROUP BY source)
         SELECT COALESCE(pd.source, nd.source) AS source,
           CASE WHEN pd.n IS NULL THEN 'added'
                WHEN nd.n IS NULL THEN 'removed'
                WHEN pd.n = nd.n AND pd.x = nd.x AND pd.s = nd.s
                  THEN 'same'
                ELSE 'changed' END AS status,
           CAST(COALESCE(pd.n, -1) AS BIGINT) AS n_rows_prev,
           CAST(COALESCE(nd.n, -1) AS BIGINT) AS n_rows_next
         FROM pd FULL OUTER JOIN nd ON pd.source = nd.source
         ORDER BY source""",
    "ds_filter_funnel" ->
      """WITH p AS (SELECT
             COALESCE(text IS NOT NULL AND length(text) > 0, FALSE) AS p1,
             COALESCE(length(text) >= 50, FALSE) AS p2,
             COALESCE(position('.' IN text) > 0, FALSE) AS p3,
             COALESCE(lang IN ('en','fr','es','de','zh'), FALSE) AS p4,
             COALESCE(length(text) <= 5000, FALSE) AS p5
           FROM documents),
         a AS (SELECT count(*) AS n,
             sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS i1,
             sum(CASE WHEN p2 THEN 1 ELSE 0 END) AS i2,
             sum(CASE WHEN p3 THEN 1 ELSE 0 END) AS i3,
             sum(CASE WHEN p4 THEN 1 ELSE 0 END) AS i4,
             sum(CASE WHEN p5 THEN 1 ELSE 0 END) AS i5,
             sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END) AS c2,
             sum(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END) AS c3,
             sum(CASE WHEN p1 AND p2 AND p3 AND p4 THEN 1 ELSE 0 END) AS c4,
             sum(CASE WHEN p1 AND p2 AND p3 AND p4 AND p5 THEN 1 ELSE 0 END)
               AS c5
           FROM p),
         u AS (
           SELECT 'nonempty' AS stage, 1 AS si, n, i1 AS pn, c1 AS sv FROM a
           UNION ALL
           SELECT 'min_len', 2, n, i2, c2 FROM a
           UNION ALL
           SELECT 'has_period', 3, n, i3, c3 FROM a
           UNION ALL
           SELECT 'lang_known', 4, n, i4, c4 FROM a
           UNION ALL
           SELECT 'max_len', 5, n, i5, c5 FROM a)
         SELECT stage, CAST(si AS INT) AS stage_idx,
           CAST(n AS BIGINT) AS n_total, CAST(pn AS BIGINT) AS pass_n,
           CAST(sv AS BIGINT) AS survivors,
           CAST(round(sv * 1.0 / greatest(n, 1), 6) AS DOUBLE)
             AS survival_rate
         FROM u ORDER BY stage_idx""",
    "ds_pack" ->
      """WITH c AS (SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
             AS BIGINT) AS tok
           FROM documents),
         s AS (SELECT doc_id, tok,
           COALESCE(SUM(tok) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
           FROM c)
         SELECT doc_id, tok, CAST(start AS BIGINT) AS start,
                CAST(start // 1024 AS BIGINT) AS first_bin,
                CAST((start + greatest(tok, 1) - 1) // 1024 AS BIGINT)
                  AS last_bin
         FROM s ORDER BY doc_id""",
    "ds_cap_per_key" ->
      """SELECT lang, doc_id FROM (
           SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rk
           FROM documents)
         WHERE rk <= 3 ORDER BY lang, doc_id""",
    "ds_token_budget" ->
      """WITH c AS (SELECT source, doc_id, n_chars,
           CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
             AS BIGINT) AS tok
           FROM documents),
         s AS (SELECT source, doc_id,
           sum(tok) OVER (PARTITION BY source
             ORDER BY n_chars DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
           FROM c)
         SELECT source, doc_id, CAST(cum_tokens AS BIGINT) AS cum_tokens
         FROM s WHERE cum_tokens <= 1000 ORDER BY source, doc_id""",
    "ds_check_constraints" ->
      """WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN text IS NOT NULL THEN 0 ELSE 1 END)
             AS BIGINT) AS v_nn,
           CAST(sum(CASE WHEN n_chars = length(text) THEN 0 ELSE 1 END)
             AS BIGINT) AS v_nc,
           CAST(sum(CASE WHEN lang IN ('de','en','es','fr','zh')
             THEN 0 ELSE 1 END) AS BIGINT) AS v_lang,
           CAST(sum(CASE WHEN length(text) >= 200 THEN 0 ELSE 1 END)
             AS BIGINT) AS v_len
         FROM documents)
         SELECT 'text_nonnull' AS rule, n AS n_rows,
                v_nn AS n_violations, v_nn = 0 AS pass FROM t
         UNION ALL SELECT 'n_chars_consistent', n, v_nc, v_nc = 0 FROM t
         UNION ALL SELECT 'lang_known', n, v_lang, v_lang = 0 FROM t
         UNION ALL SELECT 'text_min_200', n, v_len, v_len = 0 FROM t
         ORDER BY rule""",
    "ds_temporal_split" ->
      """SELECT event_id,
           CASE WHEN ts < TIMESTAMP '2024-01-05 00:00:00' THEN 'train'
                WHEN ts < TIMESTAMP '2024-01-06 00:00:00' THEN 'embargo'
                ELSE 'test' END AS split
         FROM events ORDER BY event_id""",
    "ds_sample_exact_weighted" ->
      """WITH w AS (SELECT doc_id, lang, source, n_chars,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
             AS BIGINT) AS h
         FROM documents WHERE n_chars > 0),
         k AS (SELECT doc_id, lang, source,
           round(-ln((h + 1) / 1152921504606846977.0) / n_chars, 9) AS ek
         FROM w),
         t AS (SELECT doc_id, lang, source FROM k
               ORDER BY ek, doc_id LIMIT 50)
         SELECT doc_id, lang, source FROM t ORDER BY doc_id""",
    "ds_scd2" ->
      """WITH o AS (SELECT user_id, ts, event_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev
         FROM events),
         c AS (SELECT user_id, ts, event_id, event_type FROM o
               WHERE prev IS DISTINCT FROM event_type),
         f AS (SELECT user_id, ts AS effective_from,
                 lead(ts) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS effective_to,
                 event_type FROM c)
         SELECT user_id, effective_from, effective_to, event_type,
                effective_to IS NULL AS is_current
         FROM f ORDER BY user_id, effective_from, event_type""",
    "ds_chunk_sentences" ->
      """WITH t AS (SELECT doc_id,
           regexp_replace(text, ' ', '. ', 'g') AS text FROM documents),
         s AS (SELECT doc_id,
           unnest(regexp_extract_all(text, '[^.!?]+[.!?]*')) AS sent,
           generate_subscripts(regexp_extract_all(text, '[^.!?]+[.!?]*'), 1)
             - 1 AS pos
         FROM t),
         c AS (SELECT doc_id, pos, sent,
           sum(length(sent)) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS UNBOUNDED PRECEDING) - length(sent) AS cb
         FROM s)
         SELECT doc_id, CAST(cb // 64 AS BIGINT) AS chunk_idx,
           string_agg(sent, '' ORDER BY pos) AS chunk_text,
           CAST(count(*) AS BIGINT) AS n_sentences
         FROM c GROUP BY doc_id, cb // 64
         ORDER BY doc_id, chunk_idx""",
    "ds_skew_report" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events
                    GROUP BY user_id),
         t AS (SELECT sum(n) AS total FROM c)
         SELECT user_id, n,
           CAST((n * 1000000) // (SELECT total FROM t) AS BIGINT)
           AS share_ppm
         FROM c ORDER BY n DESC, user_id LIMIT 10""",
    "ds_histogram" ->
      """WITH b AS (SELECT CAST(least(19, greatest(0,
             floor((value - 0.0) / 200.0 * 20))) AS INT) AS bin
           FROM events WHERE value IS NOT NULL)
         SELECT bin, CAST(0.0 + bin * 10.0 AS DOUBLE) AS lo_edge,
                CAST(0.0 + (bin + 1) * 10.0 AS DOUBLE) AS hi_edge,
                CAST(count(*) AS BIGINT) AS n
         FROM b GROUP BY bin ORDER BY bin""",
    "ds_sample_weighted" ->
      """WITH h AS (SELECT lang, doc_id,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
             % 1000000 AS b,
           least(n_chars / 1000.0, 1.0) AS w
           FROM documents)
         SELECT lang, CAST(count(*) AS BIGINT) AS n,
                min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM h WHERE b < round(w * 1000000)
         GROUP BY lang ORDER BY lang""",
    "ds_sample_stratified" ->
      """SELECT lang, doc_id FROM (
           SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
             ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                        AS BIGINT), doc_id) AS rk
           FROM documents)
         WHERE rk <= 5 ORDER BY lang, doc_id""",
    "ds_sample_weighted_perkey" ->
      """WITH w AS (SELECT lang, doc_id, n_chars,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
             AS BIGINT) AS h
         FROM documents WHERE n_chars > 0)
         SELECT lang, doc_id FROM (
           SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
             ORDER BY round(-ln((h + 1) / 1152921504606846977.0)
                        / n_chars, 9), doc_id) AS rk
           FROM w)
         WHERE rk <= 5 ORDER BY lang, doc_id""",
    "ds_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           count(*) < 30 AS violates
         FROM customer GROUP BY c_nationkey, c_mktsegment
         ORDER BY c_nationkey, c_mktsegment""",
    "ds_l_diversity" ->
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT c_mktsegment)
             + max(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_sensitive,
           (count(DISTINCT c_mktsegment)
             + max(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END))
             < 5 AS violates
         FROM customer GROUP BY c_nationkey
         ORDER BY c_nationkey""",
    "ds_neyman" ->
      """WITH sums AS (SELECT lang AS stratum,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS s,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS ssq
           FROM documents GROUP BY lang),
         wt AS (SELECT stratum, n,
             CAST(floor(sqrt(CAST(n * ssq - s * s AS DOUBLE)))
               AS BIGINT) AS w
           FROM sums),
         tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM wt),
         b AS (SELECT stratum, n, w,
             CASE WHEN tot.tw > 0 THEN w * 100 // tot.tw
               ELSE 100 // (SELECT count(*) FROM wt) END AS q,
             CASE WHEN tot.tw > 0 THEN (w * 100) % tot.tw ELSE 0 END
               AS r
           FROM wt, tot),
         lft AS (SELECT 100 - CAST(sum(q) AS BIGINT) AS lf FROM b),
         rk AS (SELECT b.*, row_number() OVER (ORDER BY r DESC,
             stratum ASC) AS rk FROM b)
         SELECT stratum, n, w,
           CAST(q + CASE WHEN rk <= (SELECT lf FROM lft) THEN 1
             ELSE 0 END AS BIGINT) AS alloc,
           CAST(least(q + CASE WHEN rk <= (SELECT lf FROM lft) THEN 1
             ELSE 0 END, n) AS BIGINT) AS alloc_capped
         FROM rk ORDER BY stratum""",
    "ds_span_corrupt" ->
      """SELECT doc_id,
           CAST(len(list_filter(string_split(
             regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
             x -> x <> '')) AS BIGINT) AS n_tokens,
           TRUE AS roundtrip_ok, TRUE AS sentinels_ok
         FROM documents ORDER BY doc_id""",
    "ds_dp_counts" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
           FROM documents GROUP BY lang),
         enc AS (SELECT lang, n,
             (CASE WHEN lang IS NULL THEN '␀'
               ELSE length(lang) || ':' || lang END) || chr(31) || 'dp:r10-release-1'
               AS e
           FROM c),
         hh AS (SELECT lang, n,
             CAST('0x' || substr(md5(e), 1, 15) AS BIGINT) % 1000000
               AS h
           FROM enc),
         lap AS (SELECT lang, n,
             (CAST(h AS DOUBLE) + 0.5) / 1000000.0 - 0.5 AS d
           FROM hh)
         SELECT lang, CAST(n * 1000 + round(
             -(1.0 / 0.5) * sign(d) * ln(1.0 - 2.0 * abs(d)) * 1000)
             AS BIGINT) AS noisy_milli
         FROM lap ORDER BY lang""",
    "ds_chat_audit" ->
      """WITH fx AS (SELECT doc_id,
           'c' || substring(regexp_replace(lower(text), '[^a-z ]', '',
             'g'), 1, 20) AS c1,
           reverse('c' || substring(regexp_replace(lower(text),
             '[^a-z ]', '', 'g'), 1, 20)) AS c2,
           doc_id % 5 AS v
           FROM documents),
         ch AS (SELECT doc_id, CASE
             WHEN v = 0 THEN '[{"role":"system","content":"sys"},'
               || '{"role":"user","content":"' || c1
               || '"},{"role":"assistant","content":"' || c2 || '"}]'
             WHEN v = 1 THEN '[{"role":"user","content":"' || c1
               || '"},{"role":"assistant","content":"' || c2 || '"}]'
             WHEN v = 2 THEN '[{"role":"user","content":"' || c1
               || '"},{"role":"user","content":"' || c2 || '"}]'
             WHEN v = 3 THEN '[{"role":"user","content":"' || c1
               || '"},{"role":"assistant","content":""}]'
             ELSE 'not json' END AS j
           FROM fx),
         p AS (SELECT doc_id, j, CASE WHEN json_valid(j)
             THEN json_type(j) = 'ARRAY' ELSE FALSE END AS is_arr
           FROM ch),
         r AS (SELECT doc_id, j, is_arr,
             CASE WHEN is_arr THEN CAST(json_array_length(j) AS BIGINT)
               ELSE 0 END AS n,
             CASE WHEN is_arr THEN list_transform(
               range(CAST(json_array_length(j) AS BIGINT)),
               i -> json_extract_string(j, '$[' || i || '].role'))
               END AS roles,
             CASE WHEN is_arr THEN list_transform(
               range(CAST(json_array_length(j) AS BIGINT)),
               i -> json_extract_string(j, '$[' || i || '].content'))
               END AS contents
           FROM p),
         f AS (SELECT doc_id, j, n, is_arr AND n > 0 AS parse_ok,
             coalesce(roles[1] = 'system', FALSE) AS has_system,
             CASE WHEN is_arr AND n > 0 THEN coalesce(list_aggregate(
               list_transform(range(n - (CASE WHEN roles[1] = 'system'
                   THEN 1 ELSE 0 END)),
                 i -> coalesce(roles[i + 1 + (CASE WHEN
                     roles[1] = 'system' THEN 1 ELSE 0 END)]
                   = CASE WHEN i % 2 = 0 THEN 'user'
                     ELSE 'assistant' END, FALSE)), 'bool_and'), TRUE)
               ELSE FALSE END AS alternates,
             CASE WHEN is_arr AND n > 0
               THEN coalesce(roles[-1] = 'assistant', FALSE)
               ELSE FALSE END AS ends_assistant,
             CASE WHEN is_arr AND n > 0 THEN coalesce(list_aggregate(
               list_transform(contents,
                 c -> c IS NOT NULL AND length(c) > 0), 'bool_and'),
               TRUE) ELSE FALSE END AS no_empty
           FROM r),
         g AS (SELECT doc_id, j, n, parse_ok, has_system, alternates,
             ends_assistant, no_empty,
             parse_ok AND n >= 2 AND alternates AND ends_assistant
               AND no_empty AS valid
           FROM f)
         SELECT doc_id, n AS n_turns, parse_ok, has_system, alternates,
           ends_assistant, no_empty, valid,
           CASE WHEN valid THEN array_to_string(list_transform(range(n),
             i -> '<|' || json_extract_string(j, '$[' || i || '].role')
               || '|>' || chr(10)
               || json_extract_string(j, '$[' || i || '].content')),
             chr(10)) END AS flat
         FROM g ORDER BY doc_id""",
    "ds_quantile_norm" ->
      """SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS len,
           round(percent_rank() OVER (PARTITION BY lang
             ORDER BY length(text)), 9) AS q
         FROM documents ORDER BY doc_id""",
    "ds_quantile_norm_sketch" ->
      """SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS len,
           round(cume_dist() OVER (PARTITION BY lang
             ORDER BY length(text)), 9) AS q
         FROM documents ORDER BY doc_id""",
    "ds_kfold" ->
      """WITH h AS (SELECT doc_id,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
             % 5 AS fold
           FROM documents)
         SELECT CAST(fold AS INTEGER) AS fold,
                CAST(count(*) AS BIGINT) AS n,
                min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM h GROUP BY fold ORDER BY fold""",
    "ds_kfold_safe" ->
      s"""WITH RECURSIVE ${jaccardPairsCte(3, 0.8)},
         e AS (SELECT id_a AS src, id_b AS dst FROM pr
               UNION SELECT id_b, id_a FROM pr),
         reach AS (SELECT src, dst FROM e
                   UNION
                   SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
         lab AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
                 FROM reach GROUP BY src),
         rep AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS r
                 FROM documents d LEFT JOIN lab l ON d.doc_id = l.id)
         SELECT doc_id,
           CAST(CAST('0x' || substr(md5(CAST(r AS VARCHAR)), 1, 15)
             AS BIGINT) % 5 AS INTEGER) AS fold
         FROM rep ORDER BY doc_id""",
    "ds_split_safe" ->
      s"""WITH RECURSIVE ${jaccardPairsCte(3, 0.8)},
         e AS (SELECT id_a AS src, id_b AS dst FROM pr
               UNION SELECT id_b, id_a FROM pr),
         reach AS (SELECT src, dst FROM e
                   UNION
                   SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
         lab AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
                 FROM reach GROUP BY src),
         rep AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS r
                 FROM documents d LEFT JOIN lab l ON d.doc_id = l.id),
         h AS (SELECT doc_id,
           CAST('0x' || substr(md5(CAST(r AS VARCHAR)), 1, 15) AS BIGINT)
             % 1000000 AS b
           FROM rep)
         SELECT doc_id,
           CASE WHEN b < 800000 THEN 'train'
                WHEN b < 900000 THEN 'val' ELSE 'test' END AS split
         FROM h ORDER BY doc_id""",
    "ds_length_batches" ->
      """WITH t AS (SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                AS BIGINT) AS n_tokens,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                AS BIGINT) AS h
         FROM documents),
         b AS (SELECT doc_id, n_tokens, h,
           CAST(CASE WHEN n_tokens <= 8 THEN 0
                     WHEN n_tokens <= 16 THEN 1
                     WHEN n_tokens <= 32 THEN 2 ELSE 3 END AS INT)
             AS bucket
         FROM t),
         r AS (SELECT doc_id, n_tokens, bucket,
           row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) - 1
             AS rk
         FROM b)
         SELECT doc_id, n_tokens, bucket,
           CAST(rk // 16 AS BIGINT) AS batch_in_bucket,
           CAST(rk % 16 AS BIGINT) AS pos_in_batch
         FROM r ORDER BY doc_id""",
    "ds_dsir_weights" ->
      """WITH t AS (SELECT doc_id, lang,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         f AS (SELECT doc_id, lang, unnest(toks) AS feat FROM t
               UNION ALL
               SELECT doc_id, lang,
                 unnest(list_transform(range(len(toks) - 1),
                   i -> toks[i + 1] || ' ' || toks[i + 2])) AS feat
               FROM t WHERE len(toks) >= 2),
         fb AS (SELECT doc_id, lang,
             CAST('0x' || substr(md5(feat), 1, 15) AS BIGINT) % 4096 AS b
           FROM f),
         rc AS (SELECT b, count(*) AS cr FROM fb GROUP BY b),
         tc AS (SELECT b, count(*) AS ct FROM fb WHERE lang = 'en'
                GROUP BY b),
         nr AS (SELECT count(*) AS n FROM fb),
         nt AS (SELECT count(*) AS n FROM fb WHERE lang = 'en'),
         lr AS (SELECT r.b,
             CAST(round(ln(
               ((coalesce(tc.ct, 0) + 1.0) / ((SELECT n FROM nt) + 4096))
               / ((coalesce(rc.cr, 0) + 1.0) / ((SELECT n FROM nr) + 4096)))
               * 1e6) AS BIGINT) AS lr_unats
           FROM range(4096) r(b)
           LEFT JOIN rc ON rc.b = r.b LEFT JOIN tc ON tc.b = r.b),
         s AS (SELECT fb.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
                 CAST(sum(lr.lr_unats) AS BIGINT) AS weight_unats
               FROM fb JOIN lr ON lr.b = fb.b GROUP BY fb.doc_id)
         SELECT d.doc_id, coalesce(s.n_feats, 0) AS n_feats,
           coalesce(s.weight_unats, 0) AS weight_unats
         FROM documents d LEFT JOIN s USING (doc_id)
         ORDER BY d.doc_id"""
  )
}
