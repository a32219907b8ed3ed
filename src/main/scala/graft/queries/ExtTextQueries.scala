package graft.queries

import graft.ext.{Dedup, Funnel, IntervalJoin, Layout, Multimodal, Pipeline, Similarity, Sketches, TextAnalysis, TimeSeries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.floorDiv
import ExtShared._

/** Text-analysis family: quality battery, language-ID, tokenizers
  * (BPE/unigram), BM25/RRF, keyphrases, collocations, corpus-health
  * scalars, fingerprinting, filters (C4/Gopher/CCNet).
  *
  * Gate queries with their DuckDB oracles CO-LOCATED (one file per
  * family, split from the former monolithic ExtQueries — VERDICT r8
  * #7); [[ExtQueries]] merges every family fail-loud on duplicate
  * keys. Shared fixtures/memos/SQL builders live in [[ExtShared]].
  */
private[queries] object ExtTextQueries {
  private type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(

    // ---- text analysis ----
    "text_langid" -> { (s, d) =>
      docs(s, d)
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    },
    "text_quality" -> { (s, d) =>
      docs(s, d)
        .select(col("doc_id"), TextAnalysis.qualityFeatures(col("text")).as("q"))
        .select(col("doc_id"), col("q.n_tokens").as("n_tokens"),
                col("q.mean_token_len").as("mean_token_len"),
                col("q.stopword_ratio").as("stopword_ratio"),
                col("q.non_alnum_ratio").as("non_alnum_ratio"),
                col("q.quality").as("quality"))
        .orderBy(col("doc_id"))
    },
    "text_tokens" -> { (s, d) =>
      docs(s, d)
        .select(col("lang"), TextAnalysis.tokenCount(col("text")).as("n_tok"),
                TextAnalysis.subwordEstimate(col("text")).as("n_sub"))
        .groupBy(col("lang"))
        .agg(sum(col("n_tok")).cast("long").as("total_tokens"),
             sum(col("n_sub")).cast("long").as("total_subwords"))
        .orderBy(col("lang"))
    },
    "text_fertility" -> { (s, d) =>
      // per-language tokenizer fertility (pre-tokens/word, chars/
      // pre-token in exact integer ppm) — the mixing-decision report
      TextAnalysis.fertilityByGroup(docs(s, d), "text", "lang")
        .orderBy(col("lang"))
    },
    "text_ngram_freq" -> { (s, d) =>
      // top character trigrams per labeled language — the n-gram profile
      // table language identifiers train on
      import org.apache.spark.sql.expressions.Window
      val grams = docs(s, d)
        .select(col("lang"),
          explode(TextAnalysis.charNgrams(col("text"), 3)).as("gram"))
        .groupBy(col("lang"), col("gram"))
        .agg(count(lit(1)).cast("long").as("n"))
      grams
        .withColumn("rk", row_number().over(
          Window.partitionBy("lang").orderBy(col("n").desc, col("gram"))))
        .where(col("rk") <= 10)
        .select(col("lang"), col("rk").cast("long").as("rk"), col("gram"), col("n"))
        .orderBy(col("lang"), col("rk"))
    },
    "text_repetition" -> { (s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          round(TextAnalysis.repetitionRatio(col("text")), 4).as("rep_ratio"))
        .orderBy(col("doc_id"))
    },
    "text_len_quantiles" -> { (s, d) =>
      // exact interpolated length quantiles per language (§2.9 superset —
      // Spark percentile ≡ DuckDB quantile_cont)
      docs(s, d)
        .groupBy(col("lang"))
        .agg(percentile(length(col("text")), lit(0.5)).as("p50"),
             percentile(length(col("text")), lit(0.9)).as("p90"))
        .orderBy(col("lang"))
    },
    "text_tokens_bpe" -> { (s, d) =>
      // regex pre-tokenizer budget per language (the BPE segmentation
      // count, vs text_tokens' whitespace + len/4 estimates)
      docs(s, d)
        .select(col("lang"), TextAnalysis.bpeTokenCount(col("text")).as("n"))
        .groupBy(col("lang"))
        .agg(sum(col("n")).cast("long").as("total_bpe_tokens"))
        .orderBy(col("lang"))
    },
    "text_decode_roundtrip" -> { (s, d) =>
      // decode ∘ encode collapses to the pre-tokenizer normalization for
      // BOTH tokenizer families regardless of the learned artifact (every
      // pre-token character survives into exactly one piece, in order),
      // so this is a FULL-equality oracle, not a certificate: DuckDB
      // mirrors the normalization directly. The third column drives the
      // id lane (pieces → artifact ids → pieces → text) end to end.
      val uniVocab = learnedUnigram(s, d)
      docs(s, d).select(col("doc_id"),
          TextAnalysis.decodeBpe(TextAnalysis.bpeEncode(col("text"),
            learnedBpe(s, d))).as("dec_bpe"),
          TextAnalysis.decodeUnigram(TextAnalysis.unigramEncode(col("text"),
            uniVocab)).as("dec_uni"),
          TextAnalysis.decodeIds(
            TextAnalysis.piecesToIds(
              TextAnalysis.unigramEncode(col("text"), uniVocab),
              uniVocab.map(_._1)),
            uniVocab.map(_._1)).as("dec_uni_ids"))
        .orderBy(col("doc_id"))
    },
    "text_entropy" -> { (s, d) =>
      TextAnalysis.charEntropy(docs(s, d), "text", "doc_id")
        .select(col("id").as("doc_id"), col("n_distinct_chars"),
                col("entropy"))
        .orderBy(col("doc_id"))
    },
    "text_tfidf" -> { (s, d) =>
      // top-3 corpus-weighted keywords per doc; hapax terms dropped
      TextAnalysis.tfidfTopTerms(docs(s, d), "text", "doc_id", k = 3, minDf = 2)
        .select(col("id").as("doc_id"), col("rk"), col("term"), col("score"))
        .orderBy(col("doc_id"), col("rk"))
    },
    "text_fingerprint" -> { (s, d) =>
      docs(s, d)
        .select(col("doc_id"),
                TextAnalysis.fingerprints(col("text")).as("fp"))
        .select(col("doc_id"), size(col("fp")).cast("long").as("n_fp"),
                element_at(col("fp"), 1).as("fp_min"))
        .orderBy(col("doc_id"))
    },
    "text_bpe_learn" -> { (s, d) =>
      // BPE tokenizer TRAINING: 30 merge rounds over the fixture corpus.
      // Each round's argmax feeds the next round's segmentation, so the
      // whole fit is not SQL-expressible; the hashed output is a
      // CERTIFICATE per learned merge, every column computed honestly
      // from the fit + corpus (the spec suite separately proves the fit
      // against an in-memory reference implementation):
      //  - in_corpus_ok: the merged token's character string occurs in
      //    some corpus pre-token (a merge can only fuse adjacent symbols
      //    that exist) — one distributed vocab scan, 30 max-aggregates;
      //  - parts_formed_ok (driver): each side of merge r is a single
      //    char or a token formed by an earlier rank — structural
      //    validity of the merge table as an inductive construction;
      //  - first_argmax_ok: rank 0 equals an independently recomputed
      //    argmax over the initial char segmentation (the one round that
      //    IS SQL-expressible, recomputed here engine-side);
      //  - encode_shrinks: encoding the corpus with the learned table
      //    yields strictly fewer tokens than the char baseline.
      import s.implicits._
      bpeCerts.computeIfAbsent(d, _ => {
      val m = learnedBpe(s, d)
      val dd = docs(s, d)
      val words = dd.select(explode(regexp_extract_all(col("text"),
          lit(TextAnalysis.bpePattern), lit(0))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).cast("long").as("c"))
      val inCorpus: Map[Int, Boolean] = {
        val aggs = m.zipWithIndex.map { case ((a, b), r) =>
          max(col("w").contains(a + b)).as(s"m$r") }
        val row = words.agg(aggs.head, aggs.tail: _*).first()
        m.indices.map(r => r -> row.getBoolean(r)).toMap
      }
      val partsFormed: Map[Int, Boolean] = {
        val formed = scala.collection.mutable.Set[String]()
        m.zipWithIndex.map { case ((a, b), r) =>
          val ok = Seq(a, b).forall(sym =>
            sym.codePointCount(0, sym.length) == 1 || formed.contains(sym))
          formed += (a + b)
          r -> ok
        }.toMap
      }
      val firstArgmaxOk = {
        val seg = TextAnalysis.bpeEncode(col("w"), Nil)
        val top = words
          .select(col("c"), seg.as("syms"))
          .where(size(col("syms")) >= 2)
          .select(col("c"), explode(transform(
              sequence(lit(0), size(col("syms")) - 2),
              i => struct(element_at(col("syms"), i + 1).as("a"),
                          element_at(col("syms"), i + 2).as("b")))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("c")).as("n"))
          .orderBy(col("n").desc, col("a").asc, col("b").asc)
          .limit(1).collect()
        top.nonEmpty && (top(0).getString(0), top(0).getString(1)) == m.head
      }
      val encodeShrinks = {
        val r = dd.agg(
          sum(TextAnalysis.bpeTokenCountExact(col("text"), m)).as("fit"),
          sum(TextAnalysis.bpeTokenCountExact(col("text"), Nil)).as("base"))
          .first()
        r.getLong(0) < r.getLong(1)
      }
      m.indices.map { r =>
        (r.toLong, inCorpus(r), partsFormed(r), firstArgmaxOk, encodeShrinks)
      }
      }).toDF("rank", "in_corpus_ok", "parts_formed_ok", "first_argmax_ok",
        "encode_shrinks").orderBy("rank")
    },
    "text_classifier" -> { (s, d) =>
      // model-based quality filter: fastText-style linear inference with a
      // fixed trained-weight table (binary-exact 1/64 multiples, so the
      // double sums are exact in any order → cross-engine hashable)
      docs(s, d).select(col("doc_id"),
          TextAnalysis.classifierScore(col("text"), classifierW,
            bias = 0.03125).as("score"))
        .withColumn("keep", col("score") > 0)
        .orderBy(col("doc_id"))
    },
    "text_classifier_hashed" -> { (s, d) =>
      // hashing-trick inference: 16 buckets over the portable 60-bit hash,
      // every token votes — the fixed-memory form of the linear model
      docs(s, d).select(col("doc_id"),
          TextAnalysis.classifierScoreHashed(col("text"), classifierBuckets,
            bias = -0.0625).as("score"))
        .orderBy(col("doc_id"))
    },
    "text_classifier_train" -> { (s, d) =>
      // the TRAINED weight vector itself: 4 distributed GD iterations,
      // bit-reproduced by the unrolled-SQL oracle (see trainCtes)
      val w = trainedW(s, d)
      import s.implicits._
      w.zipWithIndex.map { case (wt, b) => (b.toLong, wt) }.toSeq
        .toDF("bucket", "w").orderBy("bucket")
    },
    "text_classifier_train_score" -> { (s, d) =>
      // train → infer composition: the trained model applied by the same
      // codegen'd inference kernel the fixed-weight gates use
      docs(s, d).select(col("doc_id"),
          TextAnalysis.classifierScoreHashed(col("text"),
            trainedW(s, d).toSeq).as("score"))
        .orderBy(col("doc_id"))
    },
    "text_rep_bigram" -> { (s, d) =>
      TextAnalysis.topBigramStats(docs(s, d), "text", "doc_id")
        .select(col("id").as("doc_id"), col("n_distinct_bigrams"),
                col("top_bigram_count"))
        .orderBy(col("doc_id"))
    },
    "text_familiarity" -> { (s, d) =>
      TextAnalysis.bigramFamiliarity(docs(s, d), "text", "doc_id")
        .select(col("id").as("doc_id"), col("n_bigrams"),
                col("familiarity"), col("n_known"))
        .orderBy(col("doc_id"))
    },
    "text_html_extract" -> { (s, d) =>
      // web-crawl main-content extraction: each doc is wrapped in a full
      // raw-HTML page (script/style/comment/nav/header/footer noise +
      // entity-encoded head) and stripHtml must recover the clean text
      // byte-exactly — the oracle is the raw documents table itself
      val w = docs(s, d).select(col("doc_id"),
        TextAnalysis.htmlFixture(col("text"), col("doc_id")).as("html"))
      w.select(col("doc_id"), TextAnalysis.stripHtml(col("html")).as("text"))
        .orderBy(col("doc_id"))
    },
    "text_bm25" -> { (s, d) =>
      // BM25 retrieval over the corpus inverted statistics: 4 literal
      // queries (one with an unseen term -> empty), top-10 each; scores
      // rounded to 6 before ranking (ties -> doc asc)
      TextAnalysis.bm25TopK(docs(s, d), "text", "doc_id", bm25Queries,
          k = 10)
        .orderBy(col("qid"), col("rk"))
    },
    "text_rrf_fusion" -> { (s, d) =>
      // hybrid retrieval: BM25 lexical top-10 ⊕ dense cosine top-10 per
      // query, fused by integer-exact reciprocal rank (qid spaces align:
      // bm25Queries 0-3 ↔ embedding queries vec_id < 4)
      val bm = TextAnalysis.bm25TopKIndexed(bm25Idx(s, d), bm25Queries,
          k = 10)
        .select(col("qid").as("query_id"), col("doc").as("doc_id"),
                col("rk").as("rank"))
      val e = emb(s, d)
      val vec = Similarity.bruteForceTopK(e, e.where(col("vec_id") < 4),
          k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
                col("rank"))
      TextAnalysis.rrfFuse(Seq(bm, vec), k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
    "text_bm25_indexed" -> { (s, d) =>
      // same retrieval over the prebuilt parquet inverted index: probes
      // semi-filter the postings scan; no corpus tokenization at query
      // time — must hash-match the inline face's oracle bit-for-bit
      TextAnalysis.bm25TopKIndexed(bm25Idx(s, d), bm25Queries, k = 10)
        .orderBy(col("qid"), col("rk"))
    },
    "text_lm_counts" -> { (s, d) =>
      // bigram LM TRAINING: the corpus count table itself, top 200 by
      // frequency (ties -> bigram asc) — exact longs, trivially portable
      TextAnalysis.bigramLmFit(docs(s, d), "text")
        .orderBy(col("c").desc, col("bigram"))
        .limit(200)
    },
    "text_perplexity" -> { (s, d) =>
      // the CCNet-style LM quality filter: per-doc perplexity under the
      // add-k bigram model fit on the same corpus (join face — the model
      // stays distributed; k=0.5 binary-exact)
      TextAnalysis.perplexity(docs(s, d),
          TextAnalysis.bigramLmFit(docs(s, d), "text"), "text", "doc_id")
        .select(col("id").as("doc_id"), col("n_bigrams"), col("ppl"))
        .orderBy(col("doc_id"))
    },
    "text_perplexity_lang" -> { (s, d) =>
      // the grouped CCNet form: one LM per language, each doc scored
      // under its OWN language's model (per-language context totals and
      // vocabulary)
      TextAnalysis.perplexityBy(docs(s, d),
          TextAnalysis.bigramLmFitBy(docs(s, d), "text", "lang"),
          "text", "doc_id", "lang")
        .select(col("id").as("doc_id"), col("lang"), col("n_bigrams"),
                col("ppl"))
        .orderBy(col("doc_id"))
    },
    "text_ccnet_buckets" -> { (s, d) =>
      // CCNet head/middle/tail cut: per-language equal-population tiers
      // by own-language perplexity, integer-rank bucket arithmetic
      TextAnalysis.perplexityBuckets(docs(s, d),
          TextAnalysis.bigramLmFitBy(docs(s, d), "text", "lang"),
          "text", "doc_id", "lang")
        .select(col("id").as("doc_id"), col("lang"), col("ppl"),
                col("bucket"), col("tier"))
        .orderBy(col("doc_id"))
    },
    "text_dup_fraction" -> { (s, d) =>
      // corpus duplication diagnostic: per-doc share of 3-shingles that
      // appear in >= 2 documents (the decision input for span/doc dedup)
      TextAnalysis.dupShingleStats(docs(s, d), "text", "doc_id")
        .select(col("id").as("doc_id"), col("n_shingles"),
                col("n_dup_shingles"), col("dup_fraction"))
        .orderBy(col("doc_id"))
    },
    "text_normalize" -> { (s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          Pipeline.redactPii(Pipeline.normalize(col("text"))).as("norm"))
        .select(col("doc_id"), col("norm"),
                length(col("norm")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    },
    "text_c4_filter" -> { (s, d) =>
      // the C4/Gopher rule battery; thresholds chosen so each rule both
      // passes and fails on the corpus (minWords=20, stop≥0.02, rep≤0.6)
      docs(s, d)
        .select(col("doc_id"), TextAnalysis.c4Rules(col("text")).as("c4"))
        .select(col("doc_id"), col("c4.n_words"), col("c4.mean_word_len"),
                col("c4.stop_ratio"), col("c4.rep_ratio"),
                col("c4.max_word_len"), col("c4.keep"))
        .orderBy(col("doc_id"))
    },
    "text_gopher_filter" -> { (s, d) =>
      // Gopher/MassiveText layout+symbol rule battery (complementary to
      // the C4 battery): word-count and stop-hit rules discriminate on
      // this corpus; the layout ratios (bullet/ellipsis/symbol) are
      // exercised by the spec's synthetic docs
      docs(s, d)
        .select(col("doc_id"), TextAnalysis.gopherRules(col("text")).as("g"))
        .select(col("doc_id"), col("g.n_words"), col("g.mean_word_len"),
                col("g.symbol_ratio"), col("g.bullet_ratio"),
                col("g.ellipsis_ratio"), col("g.alpha_word_ratio"),
                col("g.stop_hits"), col("g.keep"))
        .orderBy(col("doc_id"))
    },
    "text_dedup_lines" -> { (s, d) =>
      // within-doc segment dedup over the space-separated fixture text
      // (word-level exercises the same first-occurrence kernel the
      // newline form runs on crawl text)
      docs(s, d).select(col("doc_id"),
          TextAnalysis.dedupSegments(col("text"), " ").as("deduped"))
        .withColumn("n_kept",
          size(split(col("deduped"), " ")).cast("long"))
        .orderBy(col("doc_id"))
    },
    "text_heavy_terms" -> { (s, d) =>
      // hot-terms over the exploded token stream (the corpus-vocabulary
      // face of the same sketch; capacity 256 >> 31-term vocab -> exact)
      val toks = docs(s, d).select(
        explode(org.apache.spark.sql.functions.filter(
          split(col("text"), " "), t => t =!= "")).as("term"))
      Sketches.heavyHitters(toks, "term", k = 10, capacity = 256)
    },
    "text_unigram_learn" -> { (s, d) =>
      // unigram-LM (SentencePiece) TRAINING certificate gate, keyed on
      // the SQL-computable row set (distinct pre-token codepoints):
      //  - covered: every corpus codepoint is a vocabulary piece (the
      //    coverage guarantee — computed against the actual fit);
      //  - probs_ok: piece probabilities sum to 1 (driver check on the
      //    fit); has_multi: multi-codepoint pieces were learned;
      //  - encode_shrinks: encoding the corpus with the learned
      //    vocabulary beats the char baseline (distributed aggregate).
      // The fit itself (Viterbi-EM, each round's segmentation feeding
      // the next round's probabilities) is not SQL-expressible; the
      // spec suite proves kernel exactness and partition invariance.
      val v = learnedUnigram(s, d)
      val charPieces = v.map(_._1)
        .filter(p => p.codePointCount(0, p.length) == 1)
      val probsOk = math.abs(v.map(p => math.exp(p._2)).sum - 1.0) < 1e-9
      val hasMulti = v.exists(p => p._1.codePointCount(0, p._1.length) >= 2)
      val dd = docs(s, d)
      val shrinks = {
        val r = dd.agg(
          sum(TextAnalysis.unigramTokenCountExact(col("text"), v)),
          sum(TextAnalysis.bpeTokenCountExact(col("text"), Nil))).first()
        r.getLong(0) < r.getLong(1)
      }
      dd.select(explode(regexp_extract_all(col("text"),
          lit(TextAnalysis.bpePattern), lit(0))).as("w"))
        .select(explode(graft.functions.VectorFunctions
          .char_ngrams(col("w"), 1)).as("cp"))
        .distinct()
        .select(col("cp"),
          col("cp").isInCollection(charPieces).as("covered"),
          lit(probsOk).as("probs_ok"), lit(hasMulti).as("has_multi"),
          lit(shrinks).as("encode_shrinks"))
        .orderBy(col("cp"))
    },
    "text_nfc_normalize" -> { (s, d) =>
      // unicode canonical composition over a crafted decomposed suffix
      // (combining acute + diaeresis) — the dedup-key normalization;
      // DuckDB nfc_normalize is the exact mirror
      // decomposed on purpose (e + combining acute, u + combining
      // diaeresis — the same bytes the oracle builds with chr(769)/
      // chr(776)); NFC must compose them
      val crafted = concat(col("text"),
        lit(" cafee\u0301 nat u\u0308rlich"))
      docs(s, d).select(col("doc_id"),
          graft.functions.VectorFunctions.nfc_normalize(crafted).as("norm"))
        .select(col("doc_id"), col("norm"),
          length(col("norm")).cast("long").as("n_chars_nfc"))
        .orderBy(col("doc_id"))
    },
    "text_collocations" -> { (s, d) =>
      // top-20 PMI collocations at min pair count 5; ranked on the
      // rounded pmi (ln is libm-transcendental — not a portable raw key)
      TextAnalysis.pmiCollocations(docs(s, d), "text", topN = 20,
        minCount = 5)
    },
    "text_boilerplate_lines" -> { (s, d) =>
      // cross-doc boilerplate removal at word level (the dedupSegments
      // fixture convention): words in >= 30% of docs are "banners" and
      // cut everywhere; rare words survive in order
      val dd = docs(s, d)
      val minDocs = math.max(2L, dd.count() * 3 / 10)
      TextAnalysis.removeBoilerplateSegments(dd, "text", "doc_id",
          minDocs, sep = " ")
        .orderBy(col("doc_id"))
    },
    "text_vocab_coverage" -> { (s, d) =>
      // OOV-rate per language vs the corpus's own top-40 words; the
      // oracle replays the deterministic (count desc, word) vocab cut
      TextAnalysis.vocabCoverage(docs(s, d), "text", "lang", topN = 40)
    },
    "text_scripts" -> { (s, d) =>
      // Unicode script routing profile: every doc gets a planted
      // multiscript suffix (Han, Cyrillic, Arabic, digits) so all
      // classes count nonzero on every row; dominant ties resolve by
      // the fixed scriptRules order
      val planted = concat(col("text"), lit(" 中文测试 русский عربي 42"))
      val p = TextAnalysis.scriptProfile(planted)
      docs(s, d).select((col("doc_id") +: (TextAnalysis.scriptRules.map {
          case (name, _, _) => p.getField(name).as(s"n_$name") } :+
          p.getField("dominant").as("dominant"))): _*)
        .orderBy(col("doc_id"))
    },
    "text_keyphrases" -> { (s, d) =>
      // RAKE keyword extraction, top-3 per doc; the oracle replays the
      // full relational pipeline (islands, degree/frequency, ranking)
      TextAnalysis.rakeKeyphrases(docs(s, d), "text", "doc_id",
          stopwords = rakeStops, topK = 3)
        .orderBy(col("doc_id"), col("rank"))
    },
    "text_blocklist_phrases" -> { (s, d) =>
      // Multi-phrase blocklist audit via ONE Aho-Corasick pass: the list
      // mixes common, rare and never-matching phrases plus a nested pair
      // ("scan join" is a proper suffix of "hash scan join") so the
      // automaton's suffix-output emission is exercised, not just leaf
      // hits. Oracle recomputes per-phrase membership with strpos.
      TextAnalysis.blocklistPhrases(docs(s, d), "text", blocklist)
        .select(col("doc_id"),
          array_join(col("blocked_phrases"), ",").as("matched_csv"),
          col("n_blocked").cast("long").as("n_blocked"))
        .orderBy(col("doc_id"))
    },
    "text_pii_redact" -> { (s, d) =>
      // PII scrub gate: every doc gets a planted contact-info suffix
      // (two emails incl. a +tag local part, two IPs — one with >255
      // octets exercising the documented conservative over-match, an
      // SSN-shaped id, an international phone) so every rule fires on
      // every row; counts follow redaction precedence (categories count
      // AFTER prior categories redacted)
      val planted = concat(col("text"),
        lit(" contact bob.smith+x@mail-host.example.com or jane@ex.org" +
          " via 10.0.0.1 or 999.456.1.300 id 123-45-6789 tel" +
          " +14155550123 end"))
      val c = TextAnalysis.piiCounts(planted)
      docs(s, d).select(col("doc_id"),
          TextAnalysis.redactPii(planted).as("redacted"),
          c.getField("emails").as("n_emails"),
          c.getField("ips").as("n_ips"),
          c.getField("ids").as("n_ids"),
          c.getField("phones").as("n_phones"))
        .orderBy(col("doc_id"))
    },
    "text_cc_redact" -> { (s, d) =>
      // Luhn-checked credit-card scrub gate: three digit runs plant per
      // doc — a 16-digit id-derived run (mixed validity), a
      // variable-length run sweeping 10..21 digits across the 13-19
      // candidate boundary, and a known-valid card (4111111111111111,
      // always redacted). Fixture text carries no 4+-digit runs
      // (verified at all three SFs), so the planted runs are the only
      // candidates; the oracle Luhn-checks each with its own
      // list-lambda checksum and reconstructs the redacted text.
      val d1 = lpad(pmod(col("doc_id") * 2654435761L,
        lit(10000000000000000L)).cast("string"), 16, "0")
      val len2 = (lit(10) + pmod(col("doc_id"), lit(12))).cast("int")
      val d2 = lpad(pmod(col("doc_id") * 7919L + 13L,
        lit(1000000000000000000L)).cast("string"), 21, "3")
        .substr(lit(1), len2)
      val base = docs(s, d).select(col("doc_id"),
        concat(col("text"), lit(" pay "), d1, lit(" or "), d2,
          lit(" ref 4111111111111111 end")).as("t"))
      val cand = base.select(col("doc_id"),
          explode(regexp_extract_all(col("t"), lit("\\d+"), lit(0)))
            .as("run"))
        .where(length(col("run")).between(13, 19))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(TextAnalysis.luhnValid(col("run")), 1L)
            .otherwise(0L)).as("n_valid"))
      base.join(cand, Seq("doc_id"))
        .select(col("doc_id"),
          TextAnalysis.redactCreditCards(col("t")).as("redacted"),
          col("n_candidates"), col("n_valid"))
        .orderBy(col("doc_id"))
    },
    "text_compress_gate" -> { (s, d) =>
      // Deflate certificate gate (VERDICT r7 #3 — the last non-probe
      // bench-only row): the ratio VALUE is deterministic per zlib build
      // but not engine-portable, so the gate asserts per-doc behavioral
      // invariants that only a real compressor satisfies — positivity,
      // the raw-deflate stored-block upper bound (≤ 1 + 5/len, asserted
      // loosely at 1.2 for len ≥ 64), repetition compresses strictly
      // better (text×4 ratio < text ratio: LZ77 matches the repeat),
      // run-collapse (1000×'a' below 0.05), and pseudo-random hex stays
      // incompressible (128 md5 hex chars ≥ 0.3: 4 bits/char entropy
      // floor). A constant- or hash-faking kernel fails at least two.
      val r = TextAnalysis.compressionRatio(col("text"))
      val r4 = TextAnalysis.compressionRatio(
        concat(col("text"), col("text"), col("text"), col("text")))
      val randHex = concat(md5(col("text")),
        md5(concat(col("text"), lit("1"))),
        md5(concat(col("text"), lit("2"))),
        md5(concat(col("text"), lit("3"))))
      docs(s, d).select(col("doc_id"),
          (r > 0.0).as("ratio_pos"),
          (r <= 1.2 || length(col("text")) < 64).as("ratio_bounded"),
          (r4 < r || length(col("text")) < 64).as("repeat_compresses"),
          (TextAnalysis.compressionRatio(repeat(lit("a"), 1000)) < 0.05)
            .as("run_collapses"),
          (TextAnalysis.compressionRatio(randHex) > 0.3)
            .as("rand_incompressible"))
        .orderBy(col("doc_id"))
    },
    "text_url_parse" -> { (s, d) =>
      // URL fixture derived deterministically from the documents table
      // (the text_html_extract wrap-in-noise pattern): mixed-case scheme
      // and host, default port, tracking params and fragment — every
      // normalization rule fires
      val url = concat(lit("HTTPS://WWW.Docs."), col("source"),
        lit(".Com:443/"), col("lang"), lit("/doc/"),
        col("doc_id").cast("string"), lit("?utm_source=feed&id="),
        col("doc_id").cast("string"), lit("&utm_campaign=x&ref=rss#frag"))
      docs(s, d).select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), graft.ext.Urls.host(col("url")).as("host"),
          graft.ext.Urls.registeredDomain(col("url")).as("domain"),
          graft.ext.Urls.normalize(col("url")).as("canon"))
        .orderBy(col("doc_id"))
    },
    "text_ngram_novelty" -> { (s, d) =>
      // first-owner attribution of every distinct 5-gram; per-doc
      // novelty = fraction of its grams first seen in it
      Dedup.ngramNovelty(docs(s, d), "text", "doc_id", k = 5)
        .orderBy(col("doc_id"))
    },
    "text_zipf" -> { (s, d) =>
      // per-language Zipf rank-frequency slope in exact milli-nat OLS
      // (negative slope -> the trunc-division branch, DuckDB `//`)
      TextAnalysis.zipfSlope(docs(s, d), "text", "lang", topN = 64)
        .orderBy(col("lang"))
    },
    "text_burstiness" -> { (s, d) =>
      // index of dispersion (VMR, zeros included) for the corpus top-16
      // terms, exact ppm
      TextAnalysis.burstiness(docs(s, d), "text", "doc_id", topN = 16)
        .orderBy(col("w"))
    },
    "text_calibration" -> { (s, d) =>
      // reliability diagram + ECE for the linear classifier's margin
      // rescaled to [0,1) ((s+2)/4 — exact binary arithmetic), weak
      // truth = lang='en'; 8 bins, exact ppm
      val scored = docs(s, d).select(
        ((TextAnalysis.classifierScore(col("text"), classifierW,
          bias = 0.03125) + 2.0) / 4.0).as("p"),
        (col("lang") === "en").as("y"))
      TextAnalysis.calibrationReport(scored, "p", "y", bins = 8)
        .orderBy(col("bin"))
    },
    "text_readability" -> { (s, d) =>
      // Flesch reading ease (vowel-group syllable proxy) over text with
      // planted sentence punctuation — exact integer milli-points
      val t = concat(col("text"), lit(". Read twice! ok?"))
      val r = TextAnalysis.readability(t)
      docs(s, d).select(col("doc_id"), r.getField("words").as("words"),
          r.getField("sentences").as("sentences"),
          r.getField("syllables").as("syllables"),
          r.getField("flesch_milli").as("flesch_milli"))
        .orderBy(col("doc_id"))
    },
    "text_distinct_ngrams" -> { (s, d) =>
      // Distinct-2 diversity per language — the mode-collapse scalar
      TextAnalysis.distinctNgrams(docs(s, d), "text", "lang", n = 2)
        .orderBy(col("lang"))
    },
    "text_gini" -> { (s, d) =>
      // word-frequency concentration per language, exact ppm
      TextAnalysis.giniConcentration(docs(s, d), "text", "lang")
        .orderBy(col("lang"))
    },
    "text_rouge" -> { (s, d) =>
      // per-pair ROUGE-2 against a synthetic "model output": the text
      // truncated to ⌊4/5⌋ of its words with every 7th word replaced by
      // 'the' — deterministic, mirrored token-for-token by the oracle;
      // exact ppm P/R/F1 from clipped bigram overlap
      graft.ext.EvalMetrics.rougeN(
          evalPairFixture(docs(s, d)), "doc_id", "ref", "cand", n = 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    "text_bleu" -> { (s, d) =>
      // corpus BLEU-4 components over the same fixture: clipped match /
      // total counts per order (exact Longs), log brevity penalty and
      // log-BLEU in milli-nats — sum-then-divide corpus form
      graft.ext.EvalMetrics.bleuCorpus(
        evalPairFixture(docs(s, d)), "ref", "cand", maxN = 4)
    },
    "text_sb_trigram" -> { (s, d) =>
      // Stupid-Backoff trigram scoring (Brants 2007): fit on the clean
      // corpus, score a perturbed candidate corpus (every 7th word →
      // the OOV token 'zzunk') — the substitutions drive every backoff
      // branch: trigram hit, bigram backoff, unigram backoff, OOV floor
      val dd = docs(s, d)
      val lm = TextAnalysis.sbTrigramFit(dd, "text")
      val toks = filter(split(col("text"), " "), w => w =!= "")
      val cand = array_join(
        transform(toks,
          (w, i) => when(pmod(i, lit(7)) === 0, lit("zzunk"))
            .otherwise(w)), " ")
      TextAnalysis.sbScore(
          dd.select(col("doc_id"), cand.as("text")), lm, "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    "text_wordpiece" -> { (s, d) =>
      // WordPiece greedy encode, gated by CERTIFICATES (the
      // text_unigram_learn pattern — greedy longest-match is an
      // in-word loop DuckDB can't replay): full a-z char coverage makes
      // every cleaned word encodable, so the engine-computed
      // decode-roundtrip, word-segmentation and greedy-maximality
      // booleans must all be TRUE; n_words keys the content
      val clean = regexp_replace(lower(col("text")), "[^a-z ]", "")
      val staged = docs(s, d).select(col("doc_id"), clean.as("clean"),
        TextAnalysis.wordpieceEncode(clean, wpVocab).as("ps"))
      val words = filter(split(col("clean"), " "), w => w =!= "")
      val vlit = typedlit(wpVocab)
      val greedy = forall(transform(col("ps"), (p, i) => {
        val nxt = get(col("ps"), i + 1)
        when(nxt.isNull || !nxt.startsWith("##"), lit(true))
          .otherwise(!array_contains(vlit,
            concat(p, substring(nxt, 3, 1))))
      }), b => b)
      staged.select(col("doc_id"),
          size(words).cast("long").as("n_words"),
          (TextAnalysis.decodeWordpiece(col("ps")) ===
            array_join(words, " ")).as("roundtrip_ok"),
          (size(filter(col("ps"), p => !p.startsWith("##")))
            .cast("long") === size(words).cast("long"))
            .as("segmentation_ok"),
          coalesce(greedy, lit(true)).as("greedy_maximal_ok"))
        .orderBy(col("doc_id"))
    }
  )

  /** Fixed WordPiece gate vocabulary: full a-z coverage at both word
    * start and continuation (so nothing UNKs), plus multi-char pieces
    * that force real greedy decisions.
    */
  private lazy val wpVocab: Seq[String] = {
    val chars = ('a' to 'z').map(_.toString)
    chars ++ chars.map("##" + _) ++
      Seq("the", "an", "in", "re", "on", "wh", "##ing", "##ed", "##er",
        "##es", "##ly", "##nd", "##at", "##ich", "##he")
  }

  /** Deterministic (reference, candidate) eval fixture: cand = the text
    * truncated to max(len·4 // 5, min(len, 1)) words, every 7th surviving
    * word replaced by 'the' — enough deletion for a brevity penalty and
    * enough substitution for sub-1 precisions at every gram order.
    */
  private def evalPairFixture(dd: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val toks = filter(split(col("text"), " "), w => w =!= "")
    val n = size(toks).cast("long")
    val k = greatest(floorDiv(n * 4L, lit(5L)), least(n, lit(1L)))
    val cand = array_join(
      transform(slice(toks, lit(1), k.cast("int")),
        (w, i) => when(pmod(i, lit(7)) === 0, lit("the")).otherwise(w)),
      " ")
    dd.select(col("doc_id"), col("text").as("ref"), cand.as("cand"))
  }

  val oracle: Map[String, String] = Map(
    "text_langid" -> langScoreSql,
    "text_quality" ->
      """WITH t AS (SELECT doc_id, text,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         f AS (SELECT doc_id, text, toks,
           CAST(len(toks) AS DOUBLE) AS n,
           list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE)))
             / greatest(CAST(len(toks) AS DOUBLE), 1.0) AS mean_len,
           list_sum(list_transform(toks, x -> CASE WHEN lower(x) IN
             ('the','a','and','of','to','in','is','it') THEN 1.0 ELSE 0.0 END))
             / greatest(CAST(len(toks) AS DOUBLE), 1.0) AS stop_ratio,
           CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
             AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0) AS na_ratio
           FROM t)
         SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           round(mean_len, 4) AS mean_token_len,
           round(stop_ratio, 4) AS stopword_ratio,
           round(na_ratio, 4) AS non_alnum_ratio,
           round(CAST(CASE WHEN n < 5 THEN 0.0 ELSE
             (CASE WHEN mean_len BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END)
             * (CASE WHEN stop_ratio BETWEEN 0.01 AND 0.5 THEN 1.0 ELSE 0.7 END)
             * (CASE WHEN na_ratio < 0.2 THEN 1.0 ELSE 0.5 END) END AS DOUBLE), 4)
             AS quality
         FROM f ORDER BY doc_id""",
    "text_tokens" ->
      """SELECT lang,
         CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT)
           AS total_tokens,
         CAST(sum(list_sum(list_transform(
           list_filter(string_split(text, ' '), x -> x <> ''),
           x -> CAST(ceil(length(x) / 4.0) AS BIGINT)))) AS BIGINT)
           AS total_subwords
         FROM documents GROUP BY lang ORDER BY lang""",
    "text_fertility" ->
      s"""WITH t AS (SELECT lang,
             CAST(length(text) AS BIGINT) AS ch,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS w,
             CAST(len(regexp_extract_all(text,
                  '${TextAnalysis.bpePattern}')) AS BIGINT) AS p
           FROM documents),
         g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(ch) AS BIGINT) AS n_chars,
             CAST(sum(w) AS BIGINT) AS n_words,
             CAST(sum(p) AS BIGINT) AS n_pretokens
           FROM t GROUP BY lang)
         SELECT lang, n_docs, n_chars, n_words, n_pretokens,
           CAST((n_pretokens * 1000000) // greatest(1, n_words) AS BIGINT)
             AS fertility_ppm,
           CAST((n_chars * 1000000) // greatest(1, n_pretokens) AS BIGINT)
             AS chars_per_tok_ppm
         FROM g ORDER BY lang""",
    "text_ngram_freq" ->
      """WITH g AS (SELECT lang,
           unnest(list_transform(range(length(text) - 2),
                                 i -> substr(text, CAST(i + 1 AS INT), 3))) AS gram
           FROM documents WHERE length(text) >= 3
           UNION ALL
           SELECT lang, text AS gram FROM documents WHERE length(text) < 3),
         c AS (SELECT lang, gram, count(*) AS n FROM g GROUP BY lang, gram),
         r AS (SELECT lang, gram, n,
                 row_number() OVER (PARTITION BY lang ORDER BY n DESC, gram) AS rk
               FROM c)
         SELECT lang, CAST(rk AS BIGINT) AS rk, gram, CAST(n AS BIGINT) AS n
         FROM r WHERE rk <= 10 ORDER BY lang, rk""",
    "text_repetition" ->
      """SELECT doc_id,
         CASE WHEN len(list_filter(string_split(text, ' '),
             x -> x <> '')) = 0 THEN 0.0
           ELSE round(1.0
             - CAST(len(list_distinct(list_filter(string_split(text, ' '),
                 x -> x <> ''))) AS DOUBLE)
             / CAST(len(list_filter(string_split(text, ' '),
                 x -> x <> '')) AS DOUBLE), 4) END AS rep_ratio
         FROM documents ORDER BY doc_id""",
    "text_len_quantiles" ->
      """SELECT lang,
         quantile_cont(length(text), 0.5) AS p50,
         quantile_cont(length(text), 0.9) AS p90
         FROM documents GROUP BY lang ORDER BY lang""",
    "text_tokens_bpe" ->
      s"""SELECT lang,
         CAST(sum(len(regexp_extract_all(text, '${TextAnalysis.bpePattern}')))
           AS BIGINT) AS total_bpe_tokens
         FROM documents GROUP BY lang ORDER BY lang""",
    "text_decode_roundtrip" ->
      s"""SELECT doc_id,
         array_to_string(regexp_extract_all(text,
           '${TextAnalysis.bpePattern}'), '') AS dec_bpe,
         array_to_string(regexp_extract_all(text,
           '${TextAnalysis.bpePattern}'), '') AS dec_uni,
         array_to_string(regexp_extract_all(text,
           '${TextAnalysis.bpePattern}'), '') AS dec_uni_ids
         FROM documents ORDER BY doc_id""",
    "text_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
           FROM documents),
         c AS (SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c
               FROM ch GROUP BY doc_id, ch)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct_chars,
                round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS entropy
         FROM c GROUP BY doc_id ORDER BY doc_id""",
    "text_tfidf" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         u AS (SELECT doc_id, unnest(toks) AS term FROM t),
         tf AS (SELECT doc_id, term, count(*) AS tf
                FROM u GROUP BY doc_id, term),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term
                 HAVING count(*) >= 2),
         n AS (SELECT count(*) AS n FROM documents),
         sc AS (SELECT tf.doc_id, tf.term,
                  round(tf.tf * ln(CAST(n.n AS DOUBLE) / dfq.df), 4) AS score
                FROM tf JOIN dfq USING (term) CROSS JOIN n),
         r AS (SELECT doc_id, term, score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, term) AS rk
               FROM sc)
         SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, score
         FROM r WHERE rk <= 3 ORDER BY doc_id, rk""",
    "text_fingerprint" -> fingerprintSql,
    "text_bpe_learn" ->
      """SELECT CAST(r AS BIGINT) AS rank, TRUE AS in_corpus_ok,
           TRUE AS parts_formed_ok, TRUE AS first_argmax_ok,
           TRUE AS encode_shrinks
         FROM range(30) t(r) ORDER BY rank""",
    "text_classifier" ->
      """WITH t AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
             x -> x <> '')) AS tok FROM documents),
         w(tok, wt) AS (VALUES ('data', CAST(0.5 AS DOUBLE)),
             ('query', 0.25), ('fast', 0.375), ('slow', -0.5),
             ('the', -0.125), ('scan', 0.0625), ('zzznope', 1.0)),
         m AS (SELECT t.doc_id, sum(w.wt) AS s
               FROM t JOIN w USING (tok) GROUP BY t.doc_id)
         SELECT d.doc_id, coalesce(m.s, 0.0) + 0.03125 AS score,
                (coalesce(m.s, 0.0) + 0.03125) > 0 AS keep
         FROM documents d LEFT JOIN m USING (doc_id) ORDER BY d.doc_id""",
    "text_classifier_hashed" ->
      """WITH t AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
             x -> x <> '')) AS tok FROM documents),
         b AS (SELECT doc_id,
                 CAST(CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 16
                   AS INTEGER) AS bucket FROM t),
         w AS (SELECT [0.5, -0.25, 0.125, -0.5, 0.375, -0.125, 0.0625,
                       -0.375, 0.25, -0.0625, 0.4375, -0.4375, 0.1875,
                       -0.1875, 0.3125, -0.3125]::DOUBLE[] AS arr),
         m AS (SELECT b.doc_id, sum(w.arr[b.bucket + 1]) AS s
               FROM b, w GROUP BY b.doc_id)
         SELECT d.doc_id, coalesce(m.s, 0.0) - 0.0625 AS score
         FROM documents d LEFT JOIN m USING (doc_id) ORDER BY d.doc_id""",
    "text_classifier_train" ->
      s"""${trainCtes(trainBuckets, trainIters, trainLr, trainClamp)}
         SELECT CAST(b AS BIGINT) AS bucket, w FROM w$trainIters
         ORDER BY bucket""",
    "text_classifier_train_score" ->
      s"""${trainCtes(trainBuckets, trainIters, trainLr, trainClamp)}
         SELECT d.doc_id, coalesce(t.s, 0.0) AS score
         FROM d LEFT JOIN (SELECT tok.doc_id, sum(w.w) AS s
                           FROM tok JOIN w$trainIters w ON w.b = tok.b
                           GROUP BY tok.doc_id) t ON t.doc_id = d.doc_id
         ORDER BY d.doc_id""",
    "text_rep_bigram" ->
      """WITH t AS (SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         bg AS (SELECT doc_id,
           unnest(list_transform(range(len(toks) - 1),
                                 i -> toks[i + 1] || ' ' || toks[i + 2])) AS bg
           FROM t WHERE len(toks) >= 2),
         c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
                CAST(max(c) AS BIGINT) AS top_bigram_count
         FROM c GROUP BY doc_id ORDER BY doc_id""",
    "text_familiarity" ->
      """WITH t AS (SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         bg AS (SELECT doc_id,
           unnest(list_transform(range(len(toks) - 1),
                                 i -> toks[i + 1] || ' ' || toks[i + 2])) AS bigram
           FROM t WHERE len(toks) >= 2),
         c AS (SELECT bigram, count(*) AS c FROM bg GROUP BY bigram)
         SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                CAST(sum(c.c) AS BIGINT) AS familiarity,
                CAST(sum(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_known
         FROM bg JOIN c USING (bigram)
         GROUP BY bg.doc_id ORDER BY bg.doc_id""",
    "text_html_extract" ->
      """SELECT doc_id, text FROM documents ORDER BY doc_id""",
    "text_bm25" -> bm25OracleSql,
    "text_rrf_fusion" -> rrfOracleSql,
    "text_bm25_indexed" -> bm25OracleSql,
    "text_lm_counts" ->
      """WITH t AS (SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         bg AS (SELECT doc_id,
           unnest(list_transform(range(len(toks) - 1),
                                 i -> toks[i + 1] || ' ' || toks[i + 2])) AS bigram
           FROM t WHERE len(toks) >= 2)
         SELECT bigram, CAST(count(*) AS BIGINT) AS c
         FROM bg GROUP BY bigram
         ORDER BY c DESC, bigram LIMIT 200""",
    "text_perplexity" ->
      """WITH t AS (SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         bg AS (SELECT doc_id,
           unnest(list_transform(range(len(toks) - 1),
                                 i -> toks[i + 1] || ' ' || toks[i + 2])) AS bigram
           FROM t WHERE len(toks) >= 2),
         c AS (SELECT bigram, count(*) AS c FROM bg GROUP BY bigram),
         ctx AS (SELECT split_part(bigram, ' ', 1) AS w1, sum(c) AS cu
                 FROM c GROUP BY 1),
         v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
               FROM (SELECT unnest(toks) AS tok FROM t)),
         s AS (SELECT bg.doc_id,
                 ln((c.c + 0.5) / (ctx.cu + 0.5 * v.v)) AS lp
               FROM bg JOIN c USING (bigram)
               JOIN ctx ON ctx.w1 = split_part(bg.bigram, ' ', 1), v)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                round(exp(-sum(lp) / count(*)), 4) AS ppl
         FROM s GROUP BY doc_id ORDER BY doc_id""",
    "text_perplexity_lang" ->
      """WITH t AS (SELECT doc_id, lang,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         bg AS (SELECT doc_id, lang,
           unnest(list_transform(range(len(toks) - 1),
                                 i -> toks[i + 1] || ' ' || toks[i + 2])) AS bigram
           FROM t WHERE len(toks) >= 2),
         c AS (SELECT lang, bigram, count(*) AS c
               FROM bg GROUP BY lang, bigram),
         ctx AS (SELECT lang, split_part(bigram, ' ', 1) AS w1, sum(c) AS cu
                 FROM c GROUP BY 1, 2),
         v AS (SELECT lang, CAST(count(DISTINCT tok) AS DOUBLE) AS v
               FROM (SELECT lang, unnest(toks) AS tok FROM t)
               GROUP BY lang),
         s AS (SELECT bg.doc_id, bg.lang,
                 ln((c.c + 0.5) / (ctx.cu + 0.5 * v.v)) AS lp
               FROM bg
               JOIN c ON c.lang = bg.lang AND c.bigram = bg.bigram
               JOIN ctx ON ctx.lang = bg.lang
                 AND ctx.w1 = split_part(bg.bigram, ' ', 1)
               JOIN v ON v.lang = bg.lang)
         SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
                round(exp(-sum(lp) / count(*)), 4) AS ppl
         FROM s GROUP BY doc_id, lang ORDER BY doc_id""",
    "text_ccnet_buckets" ->
      """WITH t AS (SELECT doc_id, lang,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         bg AS (SELECT doc_id, lang,
           unnest(list_transform(range(len(toks) - 1),
                                 i -> toks[i + 1] || ' ' || toks[i + 2])) AS bigram
           FROM t WHERE len(toks) >= 2),
         c AS (SELECT lang, bigram, count(*) AS c
               FROM bg GROUP BY lang, bigram),
         ctx AS (SELECT lang, split_part(bigram, ' ', 1) AS w1, sum(c) AS cu
                 FROM c GROUP BY 1, 2),
         v AS (SELECT lang, CAST(count(DISTINCT tok) AS DOUBLE) AS v
               FROM (SELECT lang, unnest(toks) AS tok FROM t)
               GROUP BY lang),
         s AS (SELECT bg.doc_id, bg.lang,
                 ln((c.c + 0.5) / (ctx.cu + 0.5 * v.v)) AS lp
               FROM bg
               JOIN c ON c.lang = bg.lang AND c.bigram = bg.bigram
               JOIN ctx ON ctx.lang = bg.lang
                 AND ctx.w1 = split_part(bg.bigram, ' ', 1)
               JOIN v ON v.lang = bg.lang),
         p AS (SELECT doc_id, lang,
                 round(exp(-sum(lp) / count(*)), 4) AS ppl
               FROM s GROUP BY doc_id, lang),
         r AS (SELECT doc_id, lang, ppl,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY ppl, doc_id) AS rk,
                 count(*) OVER (PARTITION BY lang) AS n
               FROM p)
         SELECT doc_id, lang, ppl,
           CAST(floor(3 * (rk - 1) / n) AS INT) AS bucket,
           CASE CAST(floor(3 * (rk - 1) / n) AS INT)
             WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS tier
         FROM r ORDER BY doc_id""",
    "text_dup_fraction" ->
      """WITH t AS (SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         sh AS (SELECT doc_id,
           CASE WHEN len(toks) < 3
                THEN [coalesce(array_to_string(toks, ' '), '')]
                ELSE list_distinct(list_transform(range(len(toks) - 2),
                       i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
           END AS sh FROM t),
         u AS (SELECT doc_id, unnest(sh) AS s FROM sh),
         fr AS (SELECT s, count(*) AS df FROM u GROUP BY s)
         SELECT u.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
                CAST(sum(CASE WHEN fr.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dup_shingles,
                round(CAST(sum(CASE WHEN fr.df > 1 THEN 1 ELSE 0 END)
                        AS DOUBLE) / count(*), 6) AS dup_fraction
         FROM u JOIN fr USING (s)
         GROUP BY u.doc_id ORDER BY u.doc_id""",
    "text_normalize" ->
      """WITH n AS (SELECT doc_id,
           regexp_replace(
             regexp_replace(
               trim(regexp_replace(lower(text), '[ \t\n\r]+', ' ', 'g')),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]+', '<EMAIL>', 'g'),
             '[0-9]{7,}', '<NUM>', 'g') AS norm
           FROM documents)
         SELECT doc_id, norm, CAST(length(norm) AS BIGINT) AS n_chars
         FROM n ORDER BY doc_id""",
    "text_c4_filter" ->
      """WITH t AS (SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         f AS (SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           round(list_sum(list_transform(toks, w -> length(w))) * 1.0
             / greatest(len(toks), 1), 4) AS mean_word_len,
           round(len(list_filter(toks, w -> lower(w) IN
               ('the','a','and','of','to','in','is','it'))) * 1.0
             / greatest(len(toks), 1), 4) AS stop_ratio,
           round(1.0 - len(list_distinct(toks)) * 1.0
             / greatest(len(toks), 1), 4) AS rep_ratio,
           CAST(list_max(list_transform(toks, w -> length(w))) AS BIGINT)
             AS max_word_len
           FROM t)
         SELECT doc_id, n_words, mean_word_len, stop_ratio, rep_ratio,
                max_word_len,
                (n_words BETWEEN 20 AND 100000)
                AND (mean_word_len BETWEEN 3.0 AND 10.0)
                AND stop_ratio >= 0.02 AND rep_ratio <= 0.6
                AND max_word_len <= 20 AS keep
         FROM f ORDER BY doc_id""",
    "text_gopher_filter" ->
      """WITH t AS (SELECT doc_id, text,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks,
           list_filter(string_split(text, chr(10)), x -> x <> '') AS lns
           FROM documents),
         f AS (SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           round(list_sum(list_transform(toks, w -> length(w))) * 1.0
             / greatest(len(toks), 1), 4) AS mean_word_len,
           round(((length(text) - length(replace(text, '#', '')))
                  + (length(text) - length(replace(text, '...', ''))) // 3)
                 * 1.0 / greatest(len(toks), 1), 4) AS symbol_ratio,
           round(len(list_filter(lns, l ->
               starts_with(ltrim(l), '-') OR starts_with(ltrim(l), '*')
               OR starts_with(ltrim(l), '•'))) * 1.0
             / greatest(len(lns), 1), 4) AS bullet_ratio,
           round(len(list_filter(lns, l -> ends_with(rtrim(l), '...')))
                 * 1.0 / greatest(len(lns), 1), 4) AS ellipsis_ratio,
           round(len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]')))
                 * 1.0 / greatest(len(toks), 1), 4) AS alpha_word_ratio,
           CAST(len(list_filter(['the','be','to','of','and','that','have',
                                 'with'], s -> list_contains(
                 list_transform(toks, w -> lower(w)), s))) AS BIGINT)
             AS stop_hits
           FROM t)
         SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
                ellipsis_ratio, alpha_word_ratio, stop_hits,
                (n_words BETWEEN 50 AND 100000)
                AND (mean_word_len BETWEEN 3.0 AND 10.0)
                AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
                AND ellipsis_ratio <= 0.3 AND alpha_word_ratio >= 0.8
                AND stop_hits >= 2 AS keep
         FROM f ORDER BY doc_id""",
    "text_dedup_lines" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         d AS (SELECT doc_id,
           list_filter(toks, (x, i) -> list_position(toks, x) = i) AS kept
           FROM t)
         SELECT doc_id, array_to_string(kept, ' ') AS deduped,
                CAST(len(kept) AS BIGINT) AS n_kept
         FROM d ORDER BY doc_id""",
    "text_heavy_terms" ->
      """WITH tok AS (SELECT
           unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
           FROM documents)
         SELECT term AS key, CAST(count(*) AS BIGINT) AS est
         FROM tok GROUP BY 1 ORDER BY est DESC, key LIMIT 10""",
    "text_unigram_learn" -> {
      s"""WITH tok AS (SELECT unnest(regexp_extract_all(text,
             '${TextAnalysis.bpePattern}')) AS w FROM documents),
         cp AS (SELECT DISTINCT unnest(regexp_extract_all(w, '[\\s\\S]'))
                  AS cp FROM tok)
         SELECT cp, TRUE AS covered, TRUE AS probs_ok,
           TRUE AS has_multi, TRUE AS encode_shrinks
         FROM cp ORDER BY cp"""
    },
    "text_nfc_normalize" ->
      """WITH n AS (SELECT doc_id,
           nfc_normalize(text || ' cafee' || chr(769) || ' nat u'
             || chr(776) || 'rlich') AS norm
         FROM documents)
         SELECT doc_id, norm, CAST(length(norm) AS BIGINT) AS n_chars_nfc
         FROM n ORDER BY doc_id""",
    "text_collocations" ->
      """WITH t AS (SELECT list_filter(string_split(text, ' '),
             x -> x <> '') AS ws FROM documents),
         w AS (SELECT unnest(ws) AS w FROM t),
         wc AS (SELECT w, count(*) AS c FROM w GROUP BY w),
         nw AS (SELECT CAST(count(*) AS DOUBLE) AS nw FROM w),
         bg AS (SELECT unnest(list_transform(range(len(ws) - 1),
             i -> array_to_string(ws[i+1:i+2], ' '))) AS b
           FROM t WHERE len(ws) >= 2),
         bc AS (SELECT b, count(*) AS cab FROM bg GROUP BY b
           HAVING count(*) >= 5),
         nb AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM bg),
         j AS (SELECT bc.b AS bigram, CAST(bc.cab AS BIGINT) AS n_pair,
             round(ln((bc.cab / nb.nb) /
               ((ca.c / nw.nw) * (cb.c / nw.nw))), 6) AS pmi
           FROM bc
           JOIN wc ca ON ca.w = string_split(bc.b, ' ')[1]
           JOIN wc cb ON cb.w = string_split(bc.b, ' ')[2],
           nw, nb)
         SELECT bigram, n_pair, pmi FROM j
         ORDER BY pmi DESC, bigram LIMIT 20""",
    "text_boilerplate_lines" ->
      """WITH th AS (SELECT greatest(2, count(*) * 3 // 10) AS md
           FROM documents),
         sp AS (SELECT doc_id, string_split(text, ' ') AS ws
           FROM documents),
         segs AS (SELECT doc_id,
             CAST(unnest(range(len(ws))) AS BIGINT) AS pos,
             unnest(ws) AS seg
           FROM sp),
         nz AS (SELECT * FROM segs WHERE seg <> ''),
         bp AS (SELECT seg FROM
           (SELECT seg, count(DISTINCT doc_id) AS df FROM nz GROUP BY seg)
           WHERE df >= (SELECT md FROM th)),
         k AS (SELECT doc_id, pos, seg,
             CASE WHEN seg IN (SELECT seg FROM bp) THEN 1 ELSE 0 END AS b
           FROM nz),
         agg AS (SELECT doc_id,
             coalesce(string_agg(CASE WHEN b = 0 THEN seg END, ' '
               ORDER BY pos), '') AS clean_text,
             CAST(sum(b) AS BIGINT) AS n_removed
           FROM k GROUP BY doc_id)
         SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
                CAST(coalesce(a.n_removed, 0) AS BIGINT) AS n_removed
         FROM (SELECT DISTINCT doc_id FROM documents) d
         LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""",
    "text_vocab_coverage" ->
      """WITH w AS (SELECT lang, unnest(list_filter(
             string_split(text, ' '), x -> x <> '')) AS w
           FROM documents),
         v AS (SELECT w FROM (SELECT w, count(*) AS c FROM w GROUP BY w)
           ORDER BY c DESC, w LIMIT 40)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(sum(CASE WHEN w IN (SELECT w FROM v) THEN 1
                              ELSE 0 END) AS BIGINT) AS n_covered,
                round(1.0 - sum(CASE WHEN w IN (SELECT w FROM v) THEN 1
                                     ELSE 0 END)
                  / CAST(count(*) AS DOUBLE), 6) AS oov_rate
         FROM w GROUP BY lang ORDER BY lang""",
    "text_scripts" -> {
      val counts = TextAnalysis.scriptRules.map { case (name, _, re2) =>
        s"CAST(len(regexp_extract_all(t, '$re2')) AS BIGINT) AS n_$name"
      }.mkString(",\n           ")
      val names = TextAnalysis.scriptRules.map(_._1)
      val mx = s"greatest(${names.map(n => s"n_$n").mkString(", ")})"
      val domCases = names.map(n =>
        s"WHEN n_$n = $mx THEN '$n'").mkString(" ")
      s"""WITH p AS (SELECT doc_id,
           text || ' 中文测试 русский عربي 42' AS t
         FROM documents),
         c AS (SELECT doc_id,
           $counts
         FROM p)
         SELECT doc_id, ${names.map(n => s"n_$n").mkString(", ")},
                CASE WHEN $mx = 0 THEN 'none' $domCases END AS dominant
         FROM c ORDER BY doc_id"""
    },
    "text_keyphrases" -> {
      val stops = rakeStops.map(s => s"'$s'").mkString(", ")
      s"""WITH sp AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
           FROM documents),
         toks AS (SELECT doc_id,
             CAST(unnest(range(len(ws))) AS BIGINT) AS pos,
             unnest(ws) AS tok
           FROM sp),
         ct AS (SELECT doc_id, pos, tok FROM toks
           WHERE tok <> '' AND tok NOT IN ($stops)),
         isl AS (SELECT doc_id, pos, tok,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS g
           FROM ct),
         ph AS (SELECT doc_id, g,
             string_agg(tok, ' ' ORDER BY pos) AS phrase,
             CAST(count(*) AS BIGINT) AS len
           FROM isl GROUP BY doc_id, g),
         wrd AS (SELECT i.doc_id, i.g, i.tok, p.len, p.phrase
           FROM isl i JOIN ph p ON p.doc_id = i.doc_id AND p.g = i.g),
         st AS (SELECT doc_id, tok, count(*) AS freq,
             CAST(sum(len) AS BIGINT) AS deg
           FROM wrd GROUP BY doc_id, tok),
         sc0 AS (SELECT w.doc_id, w.g, w.phrase,
             sum(CAST(s.deg AS DOUBLE) / s.freq) AS score
           FROM wrd w JOIN st s ON s.doc_id = w.doc_id AND s.tok = w.tok
           GROUP BY w.doc_id, w.g, w.phrase),
         sc AS (SELECT doc_id, phrase, round(max(score), 6) AS score
           FROM sc0 GROUP BY doc_id, phrase),
         rk AS (SELECT doc_id, phrase, score, row_number() OVER
             (PARTITION BY doc_id ORDER BY score DESC, phrase) AS rank
           FROM sc)
         SELECT doc_id, CAST(rank AS BIGINT) AS rank, phrase, score
         FROM rk WHERE rank <= 3 ORDER BY doc_id, rank"""
    },
    "text_blocklist_phrases" -> {
      // one CASE per phrase (the oracle may be O(phrases); the engine
      // side is the one-pass automaton)
      val cases = blocklist.map(p =>
        s"CASE WHEN strpos(text, '$p') > 0 THEN '$p' END").mkString(", ")
      s"""WITH h AS (SELECT doc_id,
           list_sort(list_filter([$cases], x -> x IS NOT NULL)) AS m
         FROM documents)
         SELECT doc_id,
                coalesce(array_to_string(m, ','), '') AS matched_csv,
                CAST(len(m) AS BIGINT) AS n_blocked
         FROM h ORDER BY doc_id"""
    },
    // Luhn lambda inlined twice (one-statement oracle, no macros): the
    // counts mirror the extraction independently (regexp + checksum);
    // the redacted text reconstructs by construction (fixture text has
    // no 4+-digit runs at any SF, so only planted runs can redact)
    "text_cc_redact" ->
      """WITH p AS (SELECT doc_id, text,
           lpad(CAST((doc_id * 2654435761) % 10000000000000000
                AS VARCHAR), 16, '0') AS d1,
           substr(lpad(CAST((doc_id * 7919 + 13) % 1000000000000000000
                  AS VARCHAR), 21, '3'), 1,
                  CAST(10 + doc_id % 12 AS INT)) AS d2
           FROM documents),
         t AS (SELECT doc_id, text, d1, d2,
           text || ' pay ' || d1 || ' or ' || d2 ||
             ' ref 4111111111111111 end' AS t0
           FROM p),
         runs AS (SELECT doc_id, unnest(regexp_extract_all(t0, '\d+'))
             AS run FROM t),
         cand AS (SELECT doc_id, run,
             list_sum(list_transform(range(length(run)), i ->
               CASE WHEN (length(run) - 1 - i) % 2 = 1
                 THEN CASE WHEN 2 * CAST(substr(run, CAST(i + 1 AS INT),
                        1) AS INT) > 9
                   THEN 2 * CAST(substr(run, CAST(i + 1 AS INT), 1)
                        AS INT) - 9
                   ELSE 2 * CAST(substr(run, CAST(i + 1 AS INT), 1)
                        AS INT) END
                 ELSE CAST(substr(run, CAST(i + 1 AS INT), 1) AS INT)
               END)) % 10 = 0 AS ok
           FROM runs WHERE length(run) BETWEEN 13 AND 19),
         agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_candidates,
             CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
               AS n_valid
           FROM cand GROUP BY doc_id),
         red AS (SELECT doc_id,
           text || ' pay ' ||
           CASE WHEN list_sum(list_transform(range(length(d1)), i ->
               CASE WHEN (length(d1) - 1 - i) % 2 = 1
                 THEN CASE WHEN 2 * CAST(substr(d1, CAST(i + 1 AS INT),
                        1) AS INT) > 9
                   THEN 2 * CAST(substr(d1, CAST(i + 1 AS INT), 1)
                        AS INT) - 9
                   ELSE 2 * CAST(substr(d1, CAST(i + 1 AS INT), 1)
                        AS INT) END
                 ELSE CAST(substr(d1, CAST(i + 1 AS INT), 1) AS INT)
               END)) % 10 = 0 THEN '<CC>' ELSE d1 END ||
           ' or ' ||
           CASE WHEN length(d2) BETWEEN 13 AND 19 AND
             list_sum(list_transform(range(length(d2)), i ->
               CASE WHEN (length(d2) - 1 - i) % 2 = 1
                 THEN CASE WHEN 2 * CAST(substr(d2, CAST(i + 1 AS INT),
                        1) AS INT) > 9
                   THEN 2 * CAST(substr(d2, CAST(i + 1 AS INT), 1)
                        AS INT) - 9
                   ELSE 2 * CAST(substr(d2, CAST(i + 1 AS INT), 1)
                        AS INT) END
                 ELSE CAST(substr(d2, CAST(i + 1 AS INT), 1) AS INT)
               END)) % 10 = 0 THEN '<CC>' ELSE d2 END ||
           ' ref <CC> end' AS redacted
           FROM t)
         SELECT red.doc_id, red.redacted, agg.n_candidates, agg.n_valid
         FROM red JOIN agg ON red.doc_id = agg.doc_id
         ORDER BY red.doc_id""",
    "text_pii_redact" ->
      """WITH p AS (SELECT doc_id,
           text || ' contact bob.smith+x@mail-host.example.com or '
             || 'jane@ex.org via 10.0.0.1 or 999.456.1.300 id '
             || '123-45-6789 tel +14155550123 end' AS t0
         FROM documents),
         s1 AS (SELECT doc_id,
           len(regexp_extract_all(t0,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             AS n_emails,
           regexp_replace(t0,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g') AS t1
         FROM p),
         s2 AS (SELECT doc_id, n_emails,
           len(regexp_extract_all(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b'))
             AS n_ips,
           regexp_replace(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g')
             AS t2
         FROM s1),
         s3 AS (SELECT doc_id, n_emails, n_ips,
           len(regexp_extract_all(t2, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ids,
           regexp_replace(t2, '\b\d{3}-\d{2}-\d{4}\b', '<ID>', 'g') AS t3
         FROM s2),
         s4 AS (SELECT doc_id, n_emails, n_ips, n_ids,
           len(regexp_extract_all(t3, '\+\d{9,15}\b')) AS n_phones,
           regexp_replace(t3, '\+\d{9,15}\b', '<PHONE>', 'g') AS t4
         FROM s3)
         SELECT doc_id, t4 AS redacted,
           CAST(n_emails AS BIGINT) AS n_emails,
           CAST(n_ips AS BIGINT) AS n_ips,
           CAST(n_ids AS BIGINT) AS n_ids,
           CAST(n_phones AS BIGINT) AS n_phones
         FROM s4 ORDER BY doc_id""",
    "text_compress_gate" ->
      """SELECT doc_id, TRUE AS ratio_pos, TRUE AS ratio_bounded,
           TRUE AS repeat_compresses, TRUE AS run_collapses,
           TRUE AS rand_incompressible
         FROM documents ORDER BY doc_id""",
    "text_url_parse" ->
      """WITH u AS (SELECT doc_id,
           'HTTPS://WWW.Docs.' || source || '.Com:443/' || lang || '/doc/'
             || doc_id || '?utm_source=feed&id=' || doc_id
             || '&utm_campaign=x&ref=rss#frag' AS url
         FROM documents),
         p AS (SELECT doc_id, url,
           lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
             AS scheme,
           lower(regexp_extract(url,
             '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1))
             AS host,
           regexp_extract(url,
             '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*?(:[0-9]+)(?:[/?#]|$)', 1)
             AS port,
           regexp_extract(url,
             '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)?', 1) AS path,
           regexp_extract(url,
             '^[A-Za-z][A-Za-z0-9+.-]*://[^?#]*\?([^#]*)', 1) AS query
         FROM u),
         q AS (SELECT doc_id, host, path,
           regexp_replace(host, '^www\.', '') AS h, scheme,
           CASE WHEN port IN (':80', ':443') THEN '' ELSE port END
             AS kept_port,
           regexp_replace(regexp_replace('&' || query,
             '&(utm_[A-Za-z]+|gclid|fbclid|msclkid|ref|ref_src)=[^&]*',
             '', 'g'), '^&', '') AS q_clean
         FROM p)
         SELECT doc_id, host,
           CASE WHEN regexp_matches(host, '\.')
                THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
                ELSE host END AS domain,
           scheme || '://' || h || kept_port ||
             (CASE WHEN path = '/' AND q_clean = '' THEN '' ELSE path END) ||
             (CASE WHEN q_clean = '' THEN '' ELSE '?' || q_clean END) AS canon
         FROM q ORDER BY doc_id""",
    "text_ngram_novelty" ->
      """WITH sp AS (SELECT doc_id, list_filter(string_split(text, ' '),
             x -> x <> '') AS w FROM documents),
         g AS (SELECT DISTINCT doc_id,
             unnest(list_transform(range(len(w) - 4),
               i -> array_to_string(w[i+1:i+5], ' '))) AS gram
           FROM sp WHERE len(w) >= 5),
         own AS (SELECT gram, min(doc_id) AS owner FROM g GROUP BY gram),
         per AS (SELECT g.doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN own.owner = g.doc_id THEN 1 ELSE 0 END)
               AS BIGINT) AS n_novel
           FROM g JOIN own USING (gram) GROUP BY g.doc_id)
         SELECT d.doc_id,
                CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
                CAST(coalesce(p.n_novel, 0) AS BIGINT) AS n_novel,
                round(coalesce(p.n_novel, 0)
                  / CAST(nullif(coalesce(p.n_grams, 0), 0) AS DOUBLE), 6)
                  AS novelty
         FROM (SELECT DISTINCT doc_id FROM documents) d
         LEFT JOIN per p USING (doc_id) ORDER BY d.doc_id""",
    "text_zipf" ->
      """WITH t AS (SELECT lang, unnest(list_filter(
             string_split(text, ' '), x -> x <> '')) AS w
           FROM documents),
         c AS (SELECT lang, w, count(*) AS c FROM t GROUP BY lang, w),
         r AS (SELECT lang, c, row_number() OVER (PARTITION BY lang
             ORDER BY c DESC, w ASC) AS rk FROM c),
         xy AS (SELECT lang,
             CAST(round(ln(rk) * 1000) AS BIGINT) AS x,
             CAST(round(ln(c) * 1000) AS BIGINT) AS y
           FROM r WHERE rk <= 64),
         s AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x*y) AS BIGINT) AS sxy,
             CAST(sum(x*x) AS BIGINT) AS sxx
           FROM xy GROUP BY lang)
         SELECT lang, n AS n_terms,
           CAST((n*sxy - sx*sy) * 1000000 // (n*sxx - sx*sx) AS BIGINT)
             AS slope_ppm
         FROM s WHERE n >= 2 ORDER BY lang""",
    "text_burstiness" ->
      """WITH t AS (SELECT doc_id, unnest(list_filter(
             string_split(text, ' '), x -> x <> '')) AS w
           FROM documents),
         dtc AS (SELECT doc_id, w, count(*) AS c FROM t
                 GROUP BY doc_id, w),
         top AS (SELECT w, CAST(sum(c) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_docs
           FROM dtc GROUP BY w ORDER BY total DESC, w LIMIT 16),
         nn AS (SELECT count(*) AS n FROM documents),
         s AS (SELECT t.w, t.total, t.n_docs,
             CAST(sum(d.c * d.c) AS BIGINT) AS sc2
           FROM top t JOIN dtc d ON d.w = t.w
           GROUP BY t.w, t.total, t.n_docs)
         SELECT w, n_docs, total,
           CAST(((SELECT n FROM nn) * sc2 - total * total) * 1000000
                // ((SELECT n FROM nn) * total) AS BIGINT) AS vmr_ppm
         FROM s ORDER BY w""",
    "text_calibration" ->
      """WITH t AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
             x -> x <> '')) AS tok FROM documents),
         w(tok, wt) AS (VALUES ('data', CAST(0.5 AS DOUBLE)),
             ('query', 0.25), ('fast', 0.375), ('slow', -0.5),
             ('the', -0.125), ('scan', 0.0625), ('zzznope', 1.0)),
         m AS (SELECT t.doc_id, sum(w.wt) AS s
               FROM t JOIN w USING (tok) GROUP BY t.doc_id),
         sc AS (SELECT d.doc_id,
             (coalesce(m.s, 0.0) + 0.03125 + 2.0) / 4.0 AS p,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
           FROM documents d LEFT JOIN m USING (doc_id)),
         bb AS (SELECT
             CAST(least(greatest(floor((p - 0.0) * 8 / 1.0), 0), 7)
               AS BIGINT) AS bin,
             CAST(round(p * 1000000) AS BIGINT) AS sp, y
           FROM sc),
         g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(sum(sp) AS BIGINT) AS ssp
           FROM bb GROUP BY bin),
         r AS (SELECT bin, n, n_pos,
             CAST(ssp // n AS BIGINT) AS conf_ppm,
             CAST((n_pos * 1000000) // n AS BIGINT) AS acc_ppm
           FROM g),
         r2 AS (SELECT *, abs(conf_ppm - acc_ppm) AS gap_ppm FROM r),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(n * gap_ppm) AS BIGINT) AS wg FROM r2)
         SELECT bin, n, n_pos, conf_ppm, acc_ppm,
           CAST(gap_ppm AS BIGINT) AS gap_ppm,
           CAST((SELECT wg FROM tot) // (SELECT nn FROM tot) AS BIGINT)
             AS ece_ppm
         FROM r2 ORDER BY bin""",
    "text_readability" ->
      """WITH t AS (SELECT doc_id, text || '. Read twice! ok?' AS tx
           FROM documents),
         c AS (SELECT doc_id,
             CAST(len(regexp_extract_all(tx, '[^ ]+')) AS BIGINT)
               AS words,
             greatest(CAST(len(regexp_extract_all(tx, '[.!?]+'))
               AS BIGINT), 1) AS sentences,
             CAST(len(regexp_extract_all(tx, '[aeiouyAEIOUY]+'))
               AS BIGINT) AS syllables
           FROM t)
         SELECT doc_id, words, sentences, syllables,
           CASE WHEN words > 0 THEN CAST(206835
             - (1015 * words) // sentences
             - (84600 * syllables) // words AS BIGINT) END
             AS flesch_milli
         FROM c ORDER BY doc_id""",
    "text_distinct_ngrams" ->
      """WITH t AS (SELECT lang, string_split(text, ' ') AS toks
           FROM documents),
         g AS (SELECT lang, unnest(list_transform(
             range(0, len(toks) - 1),
             i -> array_to_string(toks[i + 1 : i + 2], ' '))) AS gram
           FROM t),
         c AS (SELECT lang, gram, count(*) AS c FROM g
           WHERE gram <> '' GROUP BY lang, gram)
         SELECT lang, CAST(sum(c) AS BIGINT) AS total,
           CAST(count(*) AS BIGINT) AS "distinct",
           CAST((count(*) * 1000000) // sum(c) AS BIGINT) AS distinct_ppm
         FROM c GROUP BY lang ORDER BY lang""",
    "text_gini" ->
      """WITH t AS (SELECT lang, unnest(list_filter(
             string_split(text, ' '), x -> x <> '')) AS w
           FROM documents),
         c AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c FROM t
           GROUP BY lang, w),
         r AS (SELECT lang, c, CAST(row_number() OVER (
             PARTITION BY lang ORDER BY c ASC, w ASC) AS BIGINT) AS rk
           FROM c)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST((2 * CAST(sum(rk * c) AS BIGINT)
                 - (count(*) + 1) * CAST(sum(c) AS BIGINT)) * 1000000
                // (count(*) * CAST(sum(c) AS BIGINT)) AS BIGINT)
             AS gini_ppm
         FROM r GROUP BY lang ORDER BY lang""",
    "text_rouge" -> rougeSql,
    "text_bleu" -> bleuSql,
    "text_sb_trigram" -> sbTrigramSql,
    "text_wordpiece" ->
      """SELECT doc_id,
           CAST(len(list_filter(string_split(
             regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
             x -> x <> '')) AS BIGINT) AS n_words,
           TRUE AS roundtrip_ok, TRUE AS segmentation_ok,
           TRUE AS greedy_maximal_ok
         FROM documents ORDER BY doc_id"""
  )

  /** Full DuckDB replay of the Stupid-Backoff gate: clean-corpus count
    * tables at all three orders, perturbed candidate trigrams, the
    * backoff CASE with literal `0.4 * 0.4 *` (left-assoc — bit-matches
    * Scala's `alpha * alpha`), and the OOV pseudo-count 0.5.
    */
  private lazy val sbTrigramSql: String =
    s"""WITH t AS (SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS tk
         FROM documents),
       cnd AS (SELECT doc_id, list_transform(range(len(tk)),
           i -> CASE WHEN i % 7 = 0 THEN 'zzunk' ELSE tk[i + 1] END)
           AS ck
         FROM t),
       c1 AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM
           (SELECT unnest(tk) AS g FROM t) GROUP BY g),
       nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c1),
       c2t AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM
           (SELECT unnest(${gramsOf("tk", 2)}) AS g FROM t) GROUP BY g),
       c3t AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM
           (SELECT unnest(${gramsOf("tk", 3)}) AS g FROM t) GROUP BY g),
       dt AS (SELECT doc_id, ck,
           unnest(range(greatest(len(ck) - 2, 0))) AS i FROM cnd),
       dg AS (SELECT doc_id, i, ck[i + 1] AS w1, ck[i + 2] AS w2,
           ck[i + 3] AS w3 FROM dt),
       sc AS (SELECT dg.doc_id, dg.i, t3.c AS c123, b12.c AS c12,
           b23.c AS c23, u2.c AS c2, u3.c AS c3
         FROM dg
         LEFT JOIN c3t t3 ON t3.g = dg.w1 || ' ' || dg.w2 || ' ' || dg.w3
         LEFT JOIN c2t b12 ON b12.g = dg.w1 || ' ' || dg.w2
         LEFT JOIN c2t b23 ON b23.g = dg.w2 || ' ' || dg.w3
         LEFT JOIN c1 u2 ON u2.g = dg.w2
         LEFT JOIN c1 u3 ON u3.g = dg.w3),
       lp AS (SELECT doc_id, CASE
           WHEN coalesce(c123, 0) > 0
             THEN ln(CAST(c123 AS DOUBLE) / c12)
           WHEN coalesce(c23, 0) > 0
             THEN ln(0.4 * (CAST(c23 AS DOUBLE) / c2))
           ELSE ln(0.4 * 0.4 * (coalesce(CAST(c3 AS DOUBLE), 0.5)
                / (SELECT n FROM nn))) END AS lp
         FROM sc)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
         round(exp(-sum(lp) / count(*)), 4) AS sb_ppl
       FROM lp GROUP BY doc_id ORDER BY doc_id"""

  /** The (ref, cand) eval fixture in DuckDB — token-for-token mirror of
    * the Spark-side `evalPairFixture`.
    */
  private lazy val evalFixtureSql: String =
    """t AS (SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS rt
         FROM documents),
       f AS (SELECT doc_id, rt,
         list_transform(range(greatest(len(rt) * 4 // 5,
             least(len(rt), 1))),
           i -> CASE WHEN i % 7 = 0 THEN 'the' ELSE rt[i + 1] END) AS ct
         FROM t)"""

  /** n-gram list over DuckDB list `l` for order `n` (1-based indexing,
    * empty below n tokens).
    */
  private def gramsOf(l: String, n: Int): String = {
    val parts = (1 to n).map(j => s"$l[i + $j]").mkString(" || ' ' || ")
    s"list_transform(range(greatest(len($l) - ${n - 1}, 0)), i -> $parts)"
  }

  private lazy val rougeSql: String =
    s"""WITH $evalFixtureSql,
       rg AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM (
           SELECT doc_id, unnest(${gramsOf("rt", 2)}) AS g FROM f)
         GROUP BY doc_id, g),
       cg AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM (
           SELECT doc_id, unnest(${gramsOf("ct", 2)}) AS g FROM f)
         GROUP BY doc_id, g),
       mt AS (SELECT doc_id, CAST(sum(least(rg.c, cg.c)) AS BIGINT) AS m
         FROM rg JOIN cg USING (doc_id, g) GROUP BY doc_id),
       base AS (SELECT doc_id, CAST(len(rt) AS BIGINT) AS n_ref,
           CAST(len(ct) AS BIGINT) AS n_cand,
           CAST(greatest(len(rt) - 1, 0) AS BIGINT) AS tr,
           CAST(greatest(len(ct) - 1, 0) AS BIGINT) AS tc
         FROM f)
       SELECT b.doc_id, b.n_ref, b.n_cand,
         coalesce(mt.m, 0) AS overlap,
         CAST(CASE WHEN b.tc > 0
           THEN coalesce(mt.m, 0) * 1000000 // b.tc ELSE 0 END AS BIGINT)
           AS p_ppm,
         CAST(CASE WHEN b.tr > 0
           THEN coalesce(mt.m, 0) * 1000000 // b.tr ELSE 0 END AS BIGINT)
           AS r_ppm,
         CAST(CASE WHEN b.tr + b.tc > 0
           THEN coalesce(mt.m, 0) * 2 * 1000000 // (b.tr + b.tc)
           ELSE 0 END AS BIGINT) AS f1_ppm
       FROM base b LEFT JOIN mt USING (doc_id) ORDER BY doc_id"""

  private lazy val bleuSql: String = {
    val orders = 1 to 4
    val gramCtes = orders.map { n =>
      s"""rg$n AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM (
             SELECT doc_id, unnest(${gramsOf("rt", n)}) AS g FROM f)
           GROUP BY doc_id, g),
         cg$n AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM (
             SELECT doc_id, unnest(${gramsOf("ct", n)}) AS g FROM f)
           GROUP BY doc_id, g),
         mt$n AS (SELECT CAST(coalesce(sum(least(rg$n.c, cg$n.c)), 0)
             AS BIGINT) AS m
           FROM rg$n JOIN cg$n USING (doc_id, g))"""
    }.mkString(",\n")
    val totals = orders.map(n =>
      s"CAST(coalesce(sum(greatest(len(ct) - ${n - 1}, 0)), 0) AS BIGINT)" +
        s" AS t_$n").mkString(", ")
    val mCols = orders.map(n => s"(SELECT m FROM mt$n) AS m_$n")
      .mkString(", ")
    val logTerms = orders.map(n =>
      s"""CASE WHEN m_$n > 0 THEN CAST(round(ln(
           CAST(m_$n AS DOUBLE) / t_$n) * 1000) AS BIGINT) END""")
      .mkString(" + ")
    s"""WITH $evalFixtureSql,
       $gramCtes,
       agg AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(len(rt)) AS BIGINT) AS ref_len,
           CAST(sum(len(ct)) AS BIGINT) AS cand_len, $totals
         FROM f),
       c AS (SELECT agg.*, $mCols FROM agg),
       bp AS (SELECT c.*,
           CAST(CASE WHEN c.cand_len >= c.ref_len OR c.cand_len = 0
             THEN 0
             ELSE (c.cand_len - c.ref_len) * 1000 // c.cand_len END
             AS BIGINT) AS bp_milli
         FROM c)
       SELECT n_pairs, ref_len, cand_len,
         ${orders.map(n => s"m_$n, t_$n").mkString(", ")},
         bp_milli,
         CAST(bp_milli + ($logTerms) // 4 AS BIGINT) AS log_bleu_milli
       FROM bp"""
  }
}
