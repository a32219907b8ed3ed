package graft.ast

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, OpCaches, Similarity, Stats, TextAnalysis}

/** Named [[TransformOp]] wrappers for the pipeline-shaped graft.ext
  * operators — the stages a training-data topology threads between source
  * and sink. The reference's identity is "topology as data"
  * (`README.md:25-37`, `core.clj:43-53`); these make the LLM-pipeline
  * surface part of that data: `stream("documents").dedupExact().
  * qualityFilter().piiRedact().langFilter(Set("en"))` is one AST value —
  * inspectable, composable, compiled batch or streaming.
  *
  * Mode dispatch: every wrapper is streaming-valid. Narrow maps/filters
  * (quality, langid, redaction, token count, classifier) run identically in
  * both modes; [[PipelineOps.dedupExact]] dispatches — batch keeps the
  * min-id representative per identical text via a left-semi join, streaming
  * keys state on the 8-byte text hash inside the watermark horizon
  * (`dropDuplicatesWithinWatermark` — state bounded by the delay, never the
  * corpus).
  */
object pipeline {

  implicit final class PipelineOps(private val n: KNode) extends AnyVal {

    /** Exact-duplicate removal stage. Batch: one doc survives per distinct
      * `textCol` (smallest `idCol` — deterministic), via [[Dedup.exact]]'s
      * hash-grouped keep set and a left-semi join (8-byte shuffle keys, the
      * documents never shuffle twice). Streaming: first record per text
      * hash within `watermarkDelay` of `tsCol` survives
      * ([[Dedup.exactStream]] shape — state per distinct hash, evicted at
      * the horizon). `tsCol`/`watermarkDelay` are only read in streaming
      * mode.
      *
      * Both faces key on the 64-bit text hash ALONE (same contract as
      * [[Dedup.exact]]): a 64-bit collision between two distinct texts
      * silently drops one of them with no equality verification — at
      * 10⁹ documents the birthday bound puts the expected number of
      * colliding pairs near 0.03; acceptable for corpus dedup, not for
      * exactly-once ledgers. Verify equality downstream if a collision
      * is unacceptable.
      */
    def dedupExact(textCol: String = "text", idCol: String = "doc_id",
                   tsCol: String = "ts",
                   watermarkDelay: String = "10 minutes"): TransformOp =
      TransformOp(n, "dedup_exact", { df =>
        if (df.isStreaming)
          df.withColumn("__text_hash", xxhash64(col(textCol)))
            .withWatermark(tsCol, watermarkDelay)
            .dropDuplicatesWithinWatermark("__text_hash")
            .drop("__text_hash")
        else {
          // r14 (§2.4): keep the min-id row per text hash in ONE
          // aggregation — `min_by` over the whole row, grouped by the
          // 8-byte hash — instead of the r13 shape (hash groupBy to a
          // keep set + a LEFT SEMI join back), which cost a second scan
          // of the documents, an extra exchange, and a join. Survivor
          // set is identical (smallest idCol per identical text; ids
          // are unique so min_by has no ties). At 100 TB this is also
          // strictly fewer payload moves: partial aggregation keeps one
          // candidate row per (hash, map task), so duplicate documents
          // collapse map-side BEFORE the single full shuffle, where the
          // old shape shuffled every surviving document through the
          // semi join anyway.
          val cols = df.columns.toSeq
          df.groupBy(xxhash64(col(textCol)).as("__text_hash"))
            .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__r"))
            .select(cols.map(c => col("__r").getField(c).as(c)): _*)
        }
      })

    /** C4-rule quality gate ([[TextAnalysis.c4Rules]]): drop documents
      * failing the published heuristics (length band, mean word length,
      * stopword floor, repetition ceiling). Pure codegen'd filter — rides
      * the scan in either mode.
      */
    def qualityFilter(textCol: String = "text", minWords: Int = 20,
                      maxRepetition: Double = 0.6): TransformOp =
      TransformOp(n, "quality_filter", df => df.filter(
        TextAnalysis.c4Rules(col(textCol), minWords = minWords,
          maxRepetition = maxRepetition).getField("keep")))

    /** Gopher-rule quality gate ([[TextAnalysis.gopherRules]]) — the layout
      * /symbol-spam complement to [[qualityFilter]].
      */
    def gopherFilter(textCol: String = "text",
                     minWords: Int = 50): TransformOp =
      TransformOp(n, "gopher_filter", df => df.filter(
        TextAnalysis.gopherRules(col(textCol), minWords = minWords)
          .getField("keep")))

    /** Keep only documents whose n-gram language ID lands in `langs`. */
    def langFilter(langs: Set[String],
                   textCol: String = "text"): TransformOp =
      TransformOp(n, "lang_filter", df => df.filter(
        TextAnalysis.langId(col(textCol))
          .isin(langs.toSeq.map(x => x: Any): _*)))

    /** PII scrub stage: pattern redaction ([[TextAnalysis.redactPii]]) plus
      * Luhn-checked credit-card redaction — replaces `textCol` in place.
      * Narrow codegen'd map.
      */
    def piiRedact(textCol: String = "text"): TransformOp =
      TransformOp(n, "pii_redact", df => df.withColumn(textCol,
        TextAnalysis.redactCreditCards(
          TextAnalysis.redactPii(col(textCol)))))

    /** Append a whitespace token count column — the budget currency every
      * downstream mixture/packing stage reads.
      */
    def tokenCount(textCol: String = "text",
                   as: String = "n_tokens"): TransformOp =
      TransformOp(n, "token_count", df => df.withColumn(as,
        TextAnalysis.tokenCount(col(textCol))))

    /** Band-pass filter on whitespace token count — the cheap length gate
      * that runs before any scoring.
      */
    def lengthFilter(minTokens: Long, maxTokens: Long,
                     textCol: String = "text"): TransformOp =
      TransformOp(n, "length_filter", df => df.filter(
        TextAnalysis.tokenCount(col(textCol))
          .between(minTokens, maxTokens)))

    /** Quality-classifier gate: keep documents whose hashed-feature linear
      * model probability ≥ `minProb` ([[TextAnalysis.classifierProb]] over
      * explicit word weights — fit upstream with fitLinearHashed).
      */
    def classifierFilter(weights: Seq[(String, Double)], bias: Double,
                         minProb: Double,
                         textCol: String = "text"): TransformOp =
      TransformOp(n, "classifier_filter", df => df.filter(
        TextAnalysis.classifierProb(col(textCol), weights, bias)
          >= minProb))

    /** Append the winnowing document fingerprint array
      * ([[TextAnalysis.fingerprints]]) — the near-dup pre-key later stages
      * band on.
      */
    def fingerprint(textCol: String = "text", k: Int = 5, w: Int = 4,
                    as: String = "fingerprints"): TransformOp =
      TransformOp(n, "fingerprint", df => df.withColumn(as,
        TextAnalysis.fingerprints(col(textCol), k, w)))

    /** MinHash near-duplicate removal stage (batch only — banding needs the
      * corpus): drop the non-minimal side of every detected near-dup pair
      * ([[Dedup.minhashPairs]] → [[Dedup.survivors]]).
      */
    def dedupNearMinhash(textCol: String = "text",
                         idCol: String = "doc_id",
                         threshold: Double = 0.8): TransformOp =
      TransformOp(n, "dedup_near_minhash", { df =>
        require(!df.isStreaming,
          "dedup_near_minhash is a batch stage (banding needs the corpus);" +
            " use dedupExact or incremental dedup faces in streaming mode")
        // barrier: the pair kernel and the survivor anti-join both read
        // the input — persist so the upstream pipeline executes once
        // (minhashPairs' internal persist covers only its shingle frame)
        val cached = OpCaches.persist(df)
        Dedup.survivors(cached,
          Dedup.minhashPairs(cached, textCol, idCol,
            threshold = threshold),
          idCol)
      })

    /** SemDeDup semantic near-duplicate removal stage (batch only — the
      * cell fit and within-cell pairing need the corpus): fit a
      * corpus-sized coarse quantizer ([[Similarity.fitIvfAuto]] —
      * SemDeDup scales its cluster count with the corpus for exactly
      * the reason [[Similarity.autoNlist]] documents: within-cell pair
      * volume is n²/nlist, quadratic under any fixed cell count), then
      * drop the non-minimal side of every within-cell pair with cosine
      * ≥ `threshold` ([[Dedup.semanticPairs]] → [[Dedup.survivors]]).
      *
      * `cap` is the hot-cell star-pair guard ([[Dedup.bucketPairs]]): a
      * Voronoi cell larger than `cap` emits only star pairs to its min
      * id, so dedup within that cell degrades to the star's reach — the
      * fixed-cap recall trade every near-dup kernel documents. Gate /
      * exact-recall consumers pass `Int.MaxValue` (the simhashPairs
      * cap-off precedent); production keeps the default and relies on
      * corpus-sized cells (`targetCellSize` ≪ `cap`) to stay under it.
      */
    def semanticDedup(vecCol: String = "embedding",
                      idCol: String = "doc_id",
                      threshold: Double = 0.95,
                      targetCellSize: Int = 128,
                      minNlist: Int = 16,
                      cap: Int = Dedup.maxBucketFanout): TransformOp =
      TransformOp(n, "semantic_dedup", { df =>
        require(!df.isStreaming,
          "semantic_dedup is a batch stage (the cell fit and within-cell" +
            " pairing need the corpus); use dedupExact or incremental" +
            " dedup faces in streaming mode")
        // barrier: the stage fans its input out three ways (both sides
        // of the pair verify + the survivor anti-join) — without the
        // persist the whole upstream pipeline lineage re-executes per
        // reference (and the fit's sample/count add two more)
        val cached = OpCaches.persist(df)
        Dedup.survivors(cached,
          Dedup.semanticPairs(cached,
            Similarity.fitIvfAuto(cached, targetCellSize, vecCol,
              minNlist = minNlist),
            vecCol, idCol, threshold, cap),
          idCol)
      })

    /** Sequence-packing stage (batch only — bin offsets are a corpus
      * prefix-sum): append each document's token count `tok`, its global
      * token offset `start` (id-ordered cumulative sum via
      * [[graft.ext.Pipeline.packSequences]]' distributed two-pass
      * prefix-sum — no single-partition window), and the `budget`-sized
      * bins it lands in (`first_bin`/`last_bin`).
      *
      * Output columns `tok`/`start`/`first_bin`/`last_bin` are RESERVED:
      * the stage fails loud if the flowing frame already carries one
      * (e.g. an upstream `tokenCount(as = "tok")`) rather than silently
      * emitting ambiguous duplicates through the join. A null `textCol`
      * packs as 0 tokens (the row still occupies its id-ordered slot).
      */
    def pack(budget: Long, idCol: String = "doc_id",
             textCol: String = "text"): TransformOp =
      TransformOp(n, "pack", { df =>
        require(!df.isStreaming,
          "pack is a batch stage (bin offsets are a corpus prefix-sum);" +
            " pack per micro-batch via foreachBatch in streaming" +
            " topologies")
        val reserved = Seq("tok", "start", "first_bin", "last_bin")
        val clash = reserved.filter(df.columns.contains)
        require(clash.isEmpty,
          s"pack appends reserved columns ${reserved.mkString(", ")};" +
            s" the input already carries ${clash.mkString(", ")} —" +
            " rename the upstream column(s) before packing")
        // barrier: df feeds the two-pass prefix-sum AND the join back
        val cached = OpCaches.persist(df)
        val packed = graft.ext.Pipeline.packSequences(cached, idCol,
            coalesce(TextAnalysis.tokenCount(col(textCol)), lit(0L)),
            budget)
          .withColumnRenamed("id", idCol)
        cached.join(packed, Seq(idCol))
      })

    /** ANN top-k enrichment stage (batch only — the per-query top-k is a
      * corpus-wide reduce; run per micro-batch via foreachBatch in a
      * streaming topology): append each row's `k` nearest `corpus`
      * neighbors as a sorted struct array `(rank, neighbor_id, cos)` in
      * column `as` (null when no probed cell held a neighbor). The
      * retrieval plan is the no-broadcast [[Similarity.ivfKnnJoin]]
      * shape — corpus-sized nlist ([[Similarity.fitIvfAuto]]), both
      * sides shuffled once by cell id, bounded CollectTopK heaps —
      * against a corpus encoded inline here; a steady-state pipeline
      * materializes [[Similarity.ivfIndex]] once and queries that.
      *
      * `excludeSelf` defaults from the id-column NAMES: `None` resolves
      * to `corpusIdCol == idCol` — a shared column name implies a shared
      * id namespace (self-enrichment, drop the trivial self-match);
      * distinct names imply unrelated namespaces (equal values are a
      * coincidence, keep the neighbor). Override with `Some(...)` when
      * the names lie about the namespaces.
      */
    def annTopK(corpus: DataFrame, k: Int = 10, nprobe: Int = 3,
                targetCellSize: Int = 128,
                vecCol: String = "embedding", idCol: String = "doc_id",
                corpusIdCol: String = "vec_id",
                excludeSelf: Option[Boolean] = None,
                as: String = "neighbors"): TransformOp =
      TransformOp(n, "ann_top_k", { df =>
        require(!df.isStreaming,
          "ann_top_k is a batch stage (the per-query top-k reduce is a" +
            " corpus aggregation); run it per micro-batch via" +
            " foreachBatch in streaming topologies")
        // barrier: df feeds both the probe side of the knn join and
        // the enrichment join back onto itself
        val cached = OpCaches.persist(df)
        val model = Similarity.fitIvfAuto(corpus, targetCellSize, vecCol)
        // excludeSelf treats equal id VALUES as the same entity — right
        // when the corpus IS the flowing table (self-enrichment), a
        // silent recall hole when `corpusIdCol` is an unrelated
        // namespace (a row would lose the corpus neighbor that happens
        // to carry its own id value). The default therefore derives
        // from the column names — self-exclusion iff corpusIdCol ==
        // idCol; pass Some(...) to override when the NAMES differ but
        // the namespaces coincide (or vice versa).
        val exSelf = excludeSelf.getOrElse(corpusIdCol == idCol)
        val index = Similarity
          .ivfIndex(corpus, model, vecCol, corpusIdCol)
          .withColumnRenamed(corpusIdCol, idCol)
        val hits = Similarity.ivfKnnJoin(index, cached, k,
            model, nprobe, salt = 1, vecCol = vecCol, idCol = idCol,
            excludeSelf = exSelf)
          .groupBy(col("query_id").as(idCol))
          .agg(sort_array(collect_list(struct(col("rank"),
            col("neighbor_id"), col("cos")))).as(as))
        cached.join(hits, Seq(idCol), "left")
      })

    /** Always-on KS drift-monitor node ([[Stats.ksCensusStream]]): the
      * topology branch that turns the flowing records into the KS
      * side-count census changelog — two Longs of state per (group,
      * quantized value) cell, identical kernel batch or streaming.
      * Point it at a side sink and price it with
      * [[Stats.ksByGroupFromCounts]] over the sink's per-cell latest
      * rows; the main flow continues from the upstream node (declare
      * the monitor as its own branch of the topology).
      */
    def monitorKsDrift(valueCol: String, byCol: String, groupCol: String,
                       a: Any, b: Any): TransformOp =
      TransformOp(n, "monitor_ks_drift",
        df => Stats.ksCensusStream(df, valueCol, byCol, groupCol, a, b),
        keys = Seq("g", "v"))

    /** Always-on mix-drift monitor node ([[Stats.jsCensusStream]]): the
      * categorical side-count census for the Jensen-Shannon divergence
      * — two Longs of state per category; price the sink's per-cat
      * latest rows with [[Stats.jsDivergenceFromCounts]].
      */
    def monitorJsDrift(catCol: String, groupCol: String, p: Any,
                       q: Any): TransformOp =
      TransformOp(n, "monitor_js_drift",
        df => Stats.jsCensusStream(df, catCol, groupCol, p, q),
        keys = Seq("cat"))

    /** Always-on location/scale monitor node
      * ([[Stats.robustScaleStream]]): one KLL sketch of state per
      * group, emitting each touched group's updated (n, p25, median,
      * p75, IQR) summary every micro-batch — the per-language/-source
      * length and quality-score monitor of an ingest topology.
      */
    def monitorRobustScale(valueCol: String, groupCol: String,
                           k: Int = 2048): TransformOp =
      TransformOp(n, "monitor_robust_scale",
        df => Stats.robustScaleStream(df, valueCol, groupCol, k),
        keys = Seq("g"))
  }
}
