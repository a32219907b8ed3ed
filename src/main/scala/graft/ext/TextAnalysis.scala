package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{div, floorDiv}

/** Text-analysis operators for LLM-data pipelines: language ID, quality
  * scoring, token counting, document fingerprinting. All pure Column
  * expressions (codegen'd, pushdown-friendly) — no UDFs in these paths.
  */
object TextAnalysis {

  /** Marker vocabularies for the n-gram-heuristic language identifier.
    * Deliberately tiny and deterministic: production systems plug in real
    * profiles; the operator shape (score-per-language argmax) is the point.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq(" der ", " und ", " die ", " nicht "),
    "en" -> Seq(" the ", " and ", " of ", " to "),
    "es" -> Seq(" el ", " los ", " que ", " y "),
    "fr" -> Seq(" le ", " les ", " et ", " une "),
    "zh" -> Seq("的", "是", "了", "在")
  )

  /** Occurrences of `needle` in `haystack` via length arithmetic (portable
    * across engines, no regex dialects).
    */
  def countOccurrences(haystack: Column, needle: String): Column =
    ((length(haystack) - length(replace(haystack, lit(needle), lit("")))) /
      needle.length).cast("int")

  /** Heuristic language ID: argmax over marker-hit counts; ties and
    * zero-evidence fall back to the alphabetically-first candidate ("und"
    * when no marker hits at all).
    */
  def langId(textCol: Column): Column = {
    val padded = concat(lit(" "), lower(textCol), lit(" "))
    val scores = langMarkers.map { case (lang, markers) =>
      val score = markers.map(m => countOccurrences(padded, m)).reduce(_ + _)
      struct(score.as("score"), lit(lang).as("lang"))
    }
    val best = aggregate(array(scores: _*),
      struct(lit(-1).as("score"), lit("").as("lang")),
      (acc, s) => when(s.getField("score") > acc.getField("score"), s)
                    .otherwise(acc))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  private def toks(textCol: Column): Column =
    filter(split(textCol, " "), t => t =!= "")

  /** Quality features: token count, mean token length, stopword ratio,
    * non-alphanumeric character ratio, and a composite score in [0,1] —
    * the length/punct/stopword heuristics gate from C4-style pipelines.
    */
  def qualityFeatures(textCol: Column): Column = {
    val t = toks(textCol)
    val nTok = size(t).cast("double")
    val meanLen = aggregate(t, lit(0.0), (a, w) => a + length(w)) /
      greatest(nTok, lit(1.0))
    val stop = Seq("the", "a", "and", "of", "to", "in", "is", "it")
    val stopHits = aggregate(t, lit(0.0),
      (a, w) => a + when(lower(w).isin(stop.map(x => x: Any): _*), 1.0).otherwise(0.0))
    val stopRatio = stopHits / greatest(nTok, lit(1.0))
    val nonAlnum = (length(textCol) -
      length(regexp_replace(textCol, lit("[^A-Za-z0-9 ]"), lit("")))).cast("double") /
      greatest(length(textCol).cast("double"), lit(1.0))
    val score =
      when(nTok < 5, 0.0).otherwise(
        lit(1.0)
          * when(meanLen.between(3, 12), 1.0).otherwise(0.5)
          * when(stopRatio.between(0.01, 0.5), 1.0).otherwise(0.7)
          * when(nonAlnum < 0.2, 1.0).otherwise(0.5))
    struct(nTok.cast("long").as("n_tokens"),
           round(meanLen, 4).as("mean_token_len"),
           round(stopRatio, 4).as("stopword_ratio"),
           round(nonAlnum, 4).as("non_alnum_ratio"),
           round(score, 4).as("quality"))
  }

  /** C4/Gopher-style composite document filter: the standard rule battery
    * every web-scale pretraining pipeline gates on, as one struct of
    * per-rule features plus the conjunctive `keep` verdict. Rules (each a
    * pure codegen'd expression over one pass of the token array):
    *   - word count within [minWords, maxWords]     (too short / too long)
    *   - mean word length within [minMeanWordLen, maxMeanWordLen]
    *     (gibberish / concatenated-junk detector)
    *   - stopword ratio ≥ minStopRatio              (natural-language check)
    *   - repetition ratio ≤ maxRepetition           (boilerplate / spam)
    *   - longest word ≤ maxWordLen                  (URL / base64 blobs)
    * Ratios are rounded to 4 dp so the verdict is engine-portable
    * (DuckDB-oracle-checkable). Downstream: `.where($"c4.keep")` — at
    * 100 TB this is a narrow map the optimizer pushes right above the
    * scan, no shuffle at all.
    */
  def c4Rules(textCol: Column,
              minWords: Int = 20, maxWords: Int = 100000,
              minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
              minStopRatio: Double = 0.02,
              maxRepetition: Double = 0.6,
              maxWordLen: Int = 20): Column = {
    val t = toks(textCol)
    val n = size(t)
    val nd = greatest(n.cast("double"), lit(1.0))
    val meanWl = round(
      aggregate(t, lit(0.0), (a, w) => a + length(w)) / nd, 4)
    val stop = Seq("the", "a", "and", "of", "to", "in", "is", "it")
    val stopRatio = round(aggregate(t, lit(0.0),
      (a, w) => a + when(lower(w).isin(stop.map(x => x: Any): _*), 1.0)
                      .otherwise(0.0)) / nd, 4)
    val rep = round(
      lit(1.0) - size(array_distinct(t)).cast("double") / nd, 4)
    val maxWl = aggregate(t, lit(0), (a, w) => greatest(a, length(w)))
    val keep = n.between(minWords, maxWords) &&
      meanWl.between(minMeanWordLen, maxMeanWordLen) &&
      (stopRatio >= minStopRatio) &&
      (rep <= maxRepetition) &&
      (maxWl <= maxWordLen)
    struct(n.cast("long").as("n_words"),
           meanWl.as("mean_word_len"),
           stopRatio.as("stop_ratio"),
           rep.as("rep_ratio"),
           maxWl.cast("long").as("max_word_len"),
           keep.as("keep"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021, appendix A —
    * the public MassiveText filter set), complementary to [[c4Rules]]:
    * where C4 gates on token statistics, Gopher adds layout signals
    * (bullet/ellipsis line ratios), symbol spam, and a required-stopword
    * floor. Pure Column expression (single pass over the split arrays,
    * codegen'd); emits the signals plus the keep verdict so pipelines can
    * audit WHY a document was dropped — at 100 TB you cannot re-derive
    * the reason post-hoc.
    *
    * Signals:
    *  - `n_words`, `mean_word_len` (words = space-split non-empties)
    *  - `symbol_ratio`: (#'#' + #'...') / n_words (symbol spam)
    *  - `bullet_ratio`: fraction of non-empty lines starting with a
    *    bullet (`-`, `*`, `•`) after left-trim
    *  - `ellipsis_ratio`: fraction of non-empty lines ending in `...`
    *    after right-trim
    *  - `alpha_word_ratio`: fraction of words containing a letter
    *  - `stop_hits`: how many of the 8 required stopwords appear
    *
    * keep = words∈[minWords,maxWords] ∧ meanWordLen∈[3,10] ∧
    * symbolRatio≤0.1 ∧ bulletRatio≤0.9 ∧ ellipsisRatio≤0.3 ∧
    * alphaWordRatio≥0.8 ∧ stopHits≥2 (the published thresholds).
    */
  def gopherRules(textCol: Column,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1,
                  maxBulletRatio: Double = 0.9,
                  maxEllipsisRatio: Double = 0.3,
                  minAlphaWordRatio: Double = 0.8,
                  minStopHits: Int = 2): Column = {
    val t = toks(textCol)
    val n = size(t)
    val nd = greatest(n.cast("double"), lit(1.0))
    val lines = filter(split(textCol, "\n"), l => l =!= "")
    val nl = greatest(size(lines).cast("double"), lit(1.0))
    val meanWl = round(
      aggregate(t, lit(0.0), (a, w) => a + length(w)) / nd, 4)
    val symbolRatio = round(
      (countOccurrences(textCol, "#") + countOccurrences(textCol, "..."))
        .cast("double") / nd, 4)
    val bulletRatio = round(size(filter(lines, l => {
      val lt = ltrim(l)
      lt.startsWith("-") || lt.startsWith("*") || lt.startsWith("•")
    })).cast("double") / nl, 4)
    val ellipsisRatio = round(size(filter(lines,
      l => rtrim(l).endsWith("..."))).cast("double") / nl, 4)
    val alphaRatio = round(size(filter(t,
      w => w.rlike("[a-zA-Z]"))).cast("double") / nd, 4)
    val required = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val lowered = transform(t, w => lower(w))
    val stopHits = required.map(s =>
      when(array_contains(lowered, s), 1).otherwise(0)).reduce(_ + _)
    val keep = n.between(minWords, maxWords) &&
      meanWl.between(minMeanWordLen, maxMeanWordLen) &&
      (symbolRatio <= maxSymbolRatio) &&
      (bulletRatio <= maxBulletRatio) &&
      (ellipsisRatio <= maxEllipsisRatio) &&
      (alphaRatio >= minAlphaWordRatio) &&
      (stopHits >= minStopHits)
    struct(n.cast("long").as("n_words"),
           meanWl.as("mean_word_len"),
           symbolRatio.as("symbol_ratio"),
           bulletRatio.as("bullet_ratio"),
           ellipsisRatio.as("ellipsis_ratio"),
           alphaRatio.as("alpha_word_ratio"),
           stopHits.cast("long").as("stop_hits"),
           keep.as("keep"))
  }

  /** Character n-grams of the text (positional, with repeats) — the raw
    * material of n-gram language profiles. Short texts yield the text
    * itself. Native single-loop expression (graftfn.CharNgrams); the
    * equivalent `transform(sequence, substr)` HOF chain is interpreted and
    * was round 1's slowest query.
    */
  def charNgrams(textCol: Column, n: Int): Column =
    graft.functions.VectorFunctions.char_ngrams(textCol, n)

  /** Token repetition ratio (Gopher-style quality signal):
    * 1 - |distinct tokens| / |tokens|; 0 for empty text. High values mean
    * boilerplate/spam repetition.
    */
  def repetitionRatio(textCol: Column): Column = {
    val t = toks(textCol)
    // empty doc = 0 repetition, not 1: with no tokens the distinct/total
    // ratio degenerates and the bare formula scored "fully repetitious"
    when(size(t) === 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(t)).cast("double") /
        size(t).cast("double"))
  }

  /** Whitespace token count (exact) — the cheap budget estimator. */
  def tokenCount(textCol: Column): Column = size(toks(textCol)).cast("long")

  /** BPE-ish subword count estimate: words are charged ceil(len/4) pieces —
    * the "~4 chars per token" rule — as a pure expression.
    */
  def subwordEstimate(textCol: Column): Column =
    aggregate(toks(textCol), lit(0L),
      (a, w) => a + ceil(length(w) / lit(4.0)).cast("long"))

  /** GPT-style pre-tokenizer count: alternating letter runs / digit runs /
    * punctuation runs, each with an optional leading space — the regex
    * segmentation BPE vocabularies are trained over (minus the lookahead
    * forms RE2 lacks, so the same pattern runs identically in DuckDB).
    */
  val bpePattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"
  def bpeTokenCount(textCol: Column): Column =
    size(regexp_extract_all(textCol, lit(bpePattern), lit(0))).cast("long")

  /** Full BPE tokenization against a ranked merge table (merges.txt
    * convention: earlier pair = higher priority) — the EXACT per-document
    * token count a trained vocabulary produces, where [[bpeTokenCount]]
    * and [[subwordEstimate]] are budget approximations. A codegen'd
    * single-pass expression (graftfn.BpeEncode); the merge table rides
    * into the generated code as one shared HashMap, so at 100 TB the
    * encode is a pure map over the scan, no join and no shuffle.
    */
  def bpeEncode(textCol: Column, merges: Seq[(String, String)]): Column =
    graft.functions.VectorFunctions.bpe_encode(textCol, merges)

  def bpeTokenCountExact(textCol: Column,
                         merges: Seq[(String, String)]): Column =
    size(bpeEncode(textCol, merges)).cast("long")

  /** TRAIN a BPE merge table over a corpus (Sennrich et al. 2016) — the
    * learn side of [[bpeEncode]]. Each round counts adjacent symbol pairs
    * across the corpus's segmentations under the merges learned so far and
    * adopts the most frequent pair (ties → lexicographically smallest, by
    * Spark's UTF8 binary string order — deterministic across runs and
    * partitionings, since pair counts are exact long sums).
    *
    * Distributed shape: the corpus reduces ONCE to a (pre-token, count)
    * vocabulary table — all subsequent rounds run over the vocabulary,
    * which is orders of magnitude smaller than the corpus and is persisted
    * across rounds (released before returning). Per round: one vocabulary
    * scan where the segmentation is re-derived by the codegen'd
    * [[bpeEncode]] kernel with the current merge list (re-encoding from
    * scratch ≡ replaying the training merges — the standard BPE
    * equivalence; this keeps the loop STATELESS, no chained cached
    * segmentation frames), a pair-explode, a partial-agg shuffle on the
    * pair, and a bounded top-1 collect. At 100 TB the vocabulary for a
    * web-scale corpus is ~100M rows — comfortably a Spark table, never
    * driver state; the driver holds only the merge list.
    *
    * Stops early when no pair reaches `minCount` (vocabulary saturated).
    */
  def learnBpe(docs: DataFrame, textCol: String, numMerges: Int,
               minCount: Long = 2L): Seq[(String, String)] = {
    require(numMerges >= 1 && numMerges <= 65536,
      s"numMerges must be in [1, 65536], got $numMerges")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val words = docs
      .select(explode(regexp_extract_all(col(textCol), lit(bpePattern),
                                         lit(0))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).cast("long").as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
      var done = false
      while (!done && merges.size < numMerges) {
        val seg = bpeEncode(col("w"), merges.toSeq)
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
          .limit(1).collect() // bounded: exactly one row
        if (top.isEmpty || top(0).getLong(2) < minCount) done = true
        else merges += ((top(0).getString(0), top(0).getString(1)))
      }
      merges.toList
    } finally words.unpersist(blocking = false)
  }

  /** Unigram-LM Viterbi tokenization against a (piece, logProb)
    * vocabulary — the SentencePiece encode. A codegen'd single-pass
    * expression (graftfn.UnigramEncode); the vocabulary rides the
    * generated code as one shared HashMap, so the encode is a pure map
    * over the scan.
    */
  def unigramEncode(textCol: Column, vocab: Seq[(String, Double)]): Column =
    graft.functions.VectorFunctions.unigram_encode(textCol, vocab)

  def unigramTokenCountExact(textCol: Column,
                             vocab: Seq[(String, Double)]): Column =
    size(unigramEncode(textCol, vocab)).cast("long")

  /** TRAIN a unigram-LM tokenizer (the SentencePiece model, Kudo 2018)
    * with hard (Viterbi) EM — the second real-world tokenizer family
    * next to [[learnBpe]]. Deterministic by construction, so the fit is
    * partition-invariant and replayable:
    *  - seeding: every ≤ `maxPieceLen`-codepoint substring of the
    *    pre-token vocabulary weighted by word frequency, top `seedSize`
    *    by (count desc, piece asc), plus EVERY single codepoint
    *    (coverage guarantee — encode totality);
    *  - E-step: Viterbi segmentation of the pre-token VOCABULARY (not
    *    the corpus — the [[learnBpe]] vocabulary-table shape) under the
    *    current piece log-probs, exact-tie rules in the kernel;
    *  - M-step: piece counts are exact Long sums weighted by word
    *    frequency; probabilities re-estimated as count/total (single
    *    codepoints floored at count 1 so coverage never drops);
    *  - pruning: after `emIters` rounds keep all single codepoints plus
    *    the top multi-codepoint pieces by (count desc, piece asc) up to
    *    `vocabSize`, renormalized.
    *
    * Distributed shape: one corpus reduce to the (word, count)
    * vocabulary; per round one vocabulary scan (codegen'd Viterbi) into
    * a piece-keyed partial-agg shuffle; the driver holds only the
    * vocabulary-sized (piece, count) list (capped, loud failure) — at
    * 100 TB the word vocabulary is a Spark table, the PIECE vocabulary
    * (≤ a few hundred k) is the only driver state, exactly the
    * tokenizer-artifact size a trainer ships anyway.
    */
  def learnUnigram(docs: DataFrame, textCol: String, vocabSize: Int,
                   seedSize: Int = 4000, maxPieceLen: Int = 8,
                   emIters: Int = 3, minCount: Long = 2L,
                   maxVocabCollect: Int = 1 << 20): Seq[(String, Double)] = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(seedSize >= vocabSize,
      s"seedSize ($seedSize) must be >= vocabSize ($vocabSize)")
    require(maxPieceLen >= 2 && maxPieceLen <= 64,
      s"maxPieceLen must be in [2, 64], got $maxPieceLen")
    require(emIters >= 1, s"emIters must be >= 1, got $emIters")
    val words = docs
      .select(explode(regexp_extract_all(col(textCol), lit(bpePattern),
                                         lit(0))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).cast("long").as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def gramCounts(n: Int) = words
        .select(col("c"), explode(graft.functions.VectorFunctions
          .char_ngrams(col("w"), n)).as("p"))
        .where(length(col("p")) === n)
        .groupBy(col("p")).agg(sum(col("c")).as("n"))
      val chars = gramCounts(1).collect()
        .map(r => r.getString(0) -> r.getLong(1))
      require(chars.length <= 65536,
        s"learnUnigram: ${chars.length} distinct codepoints exceed the " +
          "65536 driver cap — not a text corpus?")
      val multis = (2 to maxPieceLen).map(gramCounts).reduce(_ union _)
        .where(col("n") >= minCount)
        .orderBy(col("n").desc, col("p").asc)
        .limit(seedSize)
        .collect().map(r => r.getString(0) -> r.getLong(1))
      def normalize(counts: Seq[(String, Long)]): Seq[(String, Double)] = {
        val total = counts.iterator.map(_._2).sum.toDouble
        counts.map { case (p, n) => p -> math.log(n / total) }
      }
      var vocab = normalize((chars ++ multis).toSeq)
      val charSet = chars.map(_._1).toSet
      var it = 0
      while (it < emIters) {
        val seg = unigramEncode(col("w"), vocab)
        val counts = words
          .select(col("c"), explode(seg).as("p"))
          .groupBy(col("p")).agg(sum(col("c")).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1))
        require(counts.length <= maxVocabCollect,
          s"learnUnigram: E-step emitted ${counts.length} distinct " +
            s"pieces > maxVocabCollect=$maxVocabCollect")
        val counted = counts.toMap
        // coverage floor: single codepoints survive at count >= 1 even
        // when Viterbi never picks them this round
        val kept = vocab.map(_._1).filter(p =>
            charSet(p) || counted.getOrElse(p, 0L) > 0L)
          .map(p => p -> math.max(counted.getOrElse(p, 0L), 1L))
        vocab = normalize(kept)
        it += 1
      }
      val byCount = vocab.map { case (p, lp) => p -> lp }
      val chosenMulti = byCount.filterNot(p => charSet(p._1))
        .sortBy { case (p, lp) => (-lp, p) }
        .take(math.max(0, vocabSize - charSet.size))
      require(charSet.size <= vocabSize,
        s"vocabSize=$vocabSize below the ${charSet.size} single " +
          "codepoints the coverage guarantee must keep")
      val chosen = byCount.filter(p => charSet(p._1)) ++ chosenMulti
      // final renormalization over the pruned set, in count space
      // (probs are count-proportional, so exp-renormalizing is exact up
      // to the shared total): re-count once under the pruned vocabulary
      val pruned = normalize {
        val seg = unigramEncode(col("w"), chosen)
        val counts = words.select(col("c"), explode(seg).as("p"))
          .groupBy(col("p")).agg(sum(col("c")).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        chosen.map { case (p, _) =>
          p -> math.max(counts.getOrElse(p, 0L), 1L) }
      }
      pruned.sortBy { case (p, lp) => (-lp, p) }
    } finally words.unpersist(blocking = false)
  }

  /** Model-based quality scoring: the inference side of a fastText-style
    * linear classifier (Joulin et al. 2016) — `bias + Σ weight(token)`
    * over an explicit token array, so callers choose the token space
    * (whitespace words here; [[charNgrams]] / [[bpeEncode]] outputs
    * compose). This is the classifier-filter stage pipelines run AFTER
    * the heuristic rule batteries ([[c4Rules]], [[gopherRules]]):
    * heuristics gate on surface statistics; a trained linear model gates
    * on learned token evidence. Training is out of scope (the iterative
    * global fit), as everywhere — pass the trained weights in.
    *
    * A codegen'd single-pass expression (graftfn.LinearScore): the weight
    * table rides into generated code as one shared UTF8String-keyed
    * HashMap, so at 100 TB inference is a pure map riding the scan — no
    * join, no shuffle, no driver loop. Left-to-right summation makes the
    * score a pure function of the token sequence (engine-reproducible).
    */
  def classifierScoreTokens(tokensCol: Column,
                            weights: Seq[(String, Double)],
                            bias: Double = 0.0): Column =
    graft.functions.VectorFunctions.linear_score(tokensCol, weights, bias)

  /** [[classifierScoreTokens]] over whitespace words of raw text. Uses
    * the codegen'd `split` (NOT [[toks]]'s `filter` HOF, whose
    * CodegenFallback would knock the projection out of whole-stage
    * codegen); the kernel skips the empty split-padding tokens itself,
    * so the score matches the filtered token set exactly.
    */
  def classifierScore(textCol: Column, weights: Seq[(String, Double)],
                      bias: Double = 0.0): Column =
    classifierScoreTokens(split(textCol, " "), weights, bias)

  /** Sigmoid of [[classifierScore]] — the calibrated keep-probability of
    * a binary logistic quality model (threshold at e.g. 0.5 to filter).
    */
  def classifierProb(textCol: Column, weights: Seq[(String, Double)],
                     bias: Double = 0.0): Column =
    lit(1.0) / (lit(1.0) + exp(-classifierScore(textCol, weights, bias)))

  /** Hashing-trick variant of [[classifierScore]] (Weinberger et al.
    * 2009; fastText's bucket mechanism): each token contributes
    * `bucketWeights(h60(token) mod buckets)` — no explicit vocabulary, so
    * model memory is fixed at any vocab size; collisions are a training-
    * time concern, not an inference-time one. The engine-portable
    * md5-derived hash keeps hashed-model scores oracle-checkable.
    */
  def classifierScoreHashed(textCol: Column, bucketWeights: Seq[Double],
                            bias: Double = 0.0): Column =
    graft.functions.VectorFunctions.linear_score_hashed(
      split(textCol, " "), bucketWeights, bias)

  /** Weight grid for [[fitLinearHashed]]: weights live on multiples of
    * 2^-16, residuals on multiples of 2^-8. With counts ≤ 2^10 tokens/doc
    * and |w| ≤ clamp, every product and partial sum in the fit is exactly
    * representable in a double, so aggregation order cannot change results.
    */
  private val WGrid = 65536.0 // 2^16
  private val RGrid = 256.0   // 2^8

  /** Round to the nearest 1/`grid` multiple, ties away from zero — the
    * semantics both Spark's `round` (BigDecimal HALF_UP) and DuckDB's
    * `round` (C `std::round`) apply, so quantization is engine-portable.
    */
  private def quantize(v: Double, grid: Double): Double =
    new java.math.BigDecimal(v * grid)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue() / grid

  /** TRAIN the hashing-trick linear model that [[classifierScoreHashed]]
    * applies: full-batch gradient descent on squared loss over hashed
    * token-count features — the data-parallel "parameter server on the
    * driver" shape. Each iteration is ONE distributed pass: score every
    * doc with the current weights (the same codegen'd kernel inference
    * uses, riding the scan), quantize the residual `y - s`, and partial-
    * aggregate per-bucket residual sums through a `buckets`-group shuffle;
    * the driver holds only the B-double weight vector and applies
    * `w += lr·g/n`, clamped to ±`clamp`. At 100 TB each iteration shuffles
    * B × partitions partial rows — model size, not data size.
    *
    * Deterministic and ENGINE-PORTABLE by construction, not by luck: `lr`
    * must be a power of two, weights stay on the 2^-16 grid, residuals are
    * quantized to the 2^-8 grid, and every product/sum of grid values fits
    * a double's 53-bit mantissa (needs Σ|r|·len < 2^45 token occurrences —
    * far past any single training corpus shard), so floating-point
    * rounding never occurs inside an aggregation and the fit is exactly
    * reproducible by unrolled SQL in any engine with IEEE doubles
    * (`text_classifier_train` hash-matches DuckDB). Squared loss rather
    * than logistic keeps the arithmetic rational: `exp` is not correctly
    * rounded and differs across engines' libm. Apply the trained weights
    * with [[classifierScoreHashed]] / [[classifierProb]] (the sigmoid link
    * at inference time is monotone, so thresholds transfer).
    *
    * The tokenized projection is persisted across iterations and released
    * before returning (terminal actions are internal — no caller cache
    * obligation).
    */
  def fitLinearHashed(docs: DataFrame, textCol: String, labelCol: Column,
                      buckets: Int = 256, iters: Int = 8,
                      lr: Double = 0.015625, clamp: Double = 8.0)
      : Array[Double] = {
    require(buckets >= 1 && buckets <= 4096,
      s"buckets must be in [1, 4096], got $buckets")
    require(iters >= 1 && iters <= 64, s"iters must be in [1, 64], got $iters")
    require(lr > 0 && java.lang.Double.isFinite(lr) &&
        (java.lang.Double.doubleToLongBits(lr) & 0xfffffffffffffL) == 0L,
      s"lr must be a positive power of two (exact-arithmetic contract), got $lr")
    require(clamp > 0 && clamp * WGrid == math.rint(clamp * WGrid),
      s"clamp must sit on the 1/65536 weight grid, got $clamp")
    // hash each token ONCE: the token → bucket assignment is
    // iteration-invariant, so the persisted projection carries the
    // bucket-id array and every iteration is pure int/double arithmetic
    // (previously the md5 ran per token per iteration — it dominated
    // the 10× data-scale sweep). Assignment (h60 % buckets, empty
    // tokens skipped) and accumulation order are unchanged, so the fit
    // is bit-identical to the unrolled-SQL oracle.
    val base = docs
      .select(labelCol.cast("double").as("y"),
              graft.functions.VectorFunctions.token_buckets(
                split(col(textCol), " "), buckets).as("bk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = base.count().toDouble
      require(n > 0, "fitLinearHashed needs a non-empty training corpus")
      var w = Array.fill(buckets)(0.0)
      for (_ <- 1 to iters) {
        val s = graft.functions.VectorFunctions.linear_score_buckets(
          col("bk"), w.toSeq, 0.0)
        val grad = base
          .select((round((col("y") - s) * RGrid) / RGrid).as("r"),
                  explode(col("bk")).as("bucket"))
          .groupBy(col("bucket"))
          .agg(sum(col("r")).as("g"))
          .collect() // bounded: ≤ `buckets` rows
        val g = Array.fill(buckets)(0.0)
        grad.foreach(r => g(r.getInt(0)) = r.getDouble(1))
        w = Array.tabulate(buckets) { b =>
          val upd = w(b) + quantize(lr * g(b) / n, WGrid)
          math.min(clamp, math.max(-clamp, upd))
        }
      }
      w
    } finally base.unpersist(blocking = false)
  }

  /** Winnowing-style document fingerprint: positional word k-shingles,
    * engine-portable 60-bit hashes, minimum per sliding window of w — the
    * classic MOSS selection. Returns the distinct fingerprint array (sorted,
    * deterministic). Native single-pass expression
    * (graftfn.WinnowFingerprint); the md5-derived hash makes the output
    * DuckDB-oracle checkable, unlike round 1's xxhash64 form.
    */
  def fingerprints(textCol: Column, k: Int = 5, w: Int = 4): Column =
    graft.functions.VectorFunctions.winnow_fingerprint(textCol, k, w)

  /** Ordered word bigrams, repeats kept (unlike the shingle SET ops —
    * frequency statistics need every occurrence). Docs under 2 tokens
    * yield an empty array. Native single-pass expression
    * (graftfn.WordBigrams) — the `transform(sequence(...))` HOF this
    * replaces was CodegenFallback and made the LM-fit explode the
    * slowest map stage in the bench.
    */
  def bigrams(textCol: Column): Column =
    graft.functions.VectorFunctions.word_bigrams(textCol)

  /** Corpus-LM familiarity: per doc, integer statistics of how often its
    * word bigrams occur across the whole corpus — the cheap stand-in for a
    * KenLM-style quality filter (gibberish and boilerplate-free rare text
    * score low; templated/duplicated text scores high). Integer-valued by
    * design so the signal is deterministic and engine-portable (log-prob
    * sums differ in last-ulp across libm implementations).
    *
    * Returns (id, n_bigrams, familiarity = Σ corpus-count of each bigram
    * occurrence, n_known = occurrences with corpus count ≥ minCount).
    * Docs with < 2 tokens have no bigrams and are absent.
    *
    * At 100 TB: bigrams shuffle as xxhash64 longs (never strings); the
    * count aggregation map-side combines; the working set is persisted
    * once and reused by the count build and the scoring join.
    */
  def bigramFamiliarity(docs: DataFrame, textCol: String, idCol: String,
                        minCount: Long = 2): DataFrame = {
    // native one-pass bigram hashing (WordBigramHashes): the HOF chain in
    // [[bigrams]] walks interpreted nodes per bigram and dominated the op
    val hashed = OpCaches.persist(docs
      .select(col(idCol).as("id"),
        explode(graft.functions.VectorFunctions.word_bigram_hashes(
          col(textCol))).as("bh")))
    val counts = hashed.groupBy("bh").agg(count(lit(1)).as("c"))
    hashed.join(counts, Seq("bh"))
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
           sum(col("c")).cast("long").as("familiarity"),
           sum(when(col("c") >= minCount, 1L).otherwise(0L))
             .cast("long").as("n_known"))
  }

  /** Per-document character-distribution entropy — the classic
    * gibberish/compression-quality signal: natural prose sits near the
    * language's ~4-bit/char entropy, repeated-character spam near 0,
    * random bytes near ln(alphabet). Computed as
    * `H = ln(n) − Σ cᵢ·ln(cᵢ) / n` over per-char counts, ROUNDED to 4
    * decimals (ln is not bit-specified; same determinism rule as tf-idf).
    *
    * Shuffle shape at 100 TB: (id, char) rows partial-agg to at most
    * |alphabet| rows per doc before the exchange, then one per-doc
    * aggregate — both map-side combined. A native single-pass expression
    * (256-slot histogram, the CharNgrams pattern) is the headroom if this
    * ever dominates a profile; the two-shuffle form needs no new codegen.
    */
  def charEntropy(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(charNgrams(col(textCol), 1)).as("ch"))
      .groupBy(col("id"), col("ch"))
      .agg(count(lit(1)).cast("double").as("c"))
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("long").as("n_distinct_chars"),
           round(log(sum(col("c"))) -
             sum(col("c") * log(col("c"))) / sum(col("c")), 4).as("entropy"))

  /** TF-IDF keyword extraction: the top-`k` terms of each document by
    * `tf × ln(N/df)`, the standard corpus-weighted relevance score (topic
    * signals, index keywords, quality features). `minDf` drops hapax
    * noise before the join. Ranking and output use the score ROUNDED to 4
    * decimals (ties → term asc) so the ordering is reproducible across
    * engines — `ln` is not bit-specified IEEE, raw doubles are.
    *
    * Shuffle shape at 100 TB: ONE token-volume (id, term) partial-agg
    * shuffle builds tf, persisted and shared by the df aggregation and the
    * score join (plan-spec-checked: the explode runs once — column pruning
    * rewrites the df branch into a distinct, so ReuseExchange alone would
    * NOT dedupe it). df aggregates by term with map-side combine, so a
    * celebrity term ("the") stays a partial-agg shuffle, never one window
    * partition; the document count N broadcasts as a single row; the final
    * top-k window shuffles one row per distinct (doc, term). No collects,
    * no vocabulary on the driver.
    */
  def tfidfTopTerms(docs: DataFrame, textCol: String, idCol: String,
                    k: Int = 5, minDf: Long = 1): DataFrame = {
    val tf = OpCaches.persist(docs.select(col(idCol).as("id"),
        explode(toks(col(textCol))).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
    val n = docs.select(count(lit(1)).as("__n"))
    // bounded per-doc top-k (CollectTopK heap, partial-aggregated): the
    // final shuffle carries ≤ k (score, term) pairs per doc per map task,
    // not every scored (doc, term) row as the row_number window did.
    // Ordering (score desc, term asc); double negation is exact, so ranks
    // match the window form bit-for-bit.
    tf.join(df_, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("__n").cast("double") / col("df")), 4))
      .groupBy(col("id"))
      .agg(graft.functions.VectorFunctions.collect_top_k(
        struct((-col("score")).as("ns"), col("term").as("t")), k,
        reverse = true).as("top"))
      .select(col("id"), posexplode(array_sort(col("top"))))
      .select(col("id"), (col("pos") + 1).cast("long").as("rk"),
              col("col.t").as("term"), (-col("col.ns")).as("score"))
  }

  /** Gopher-style duplicate-n-gram signal (the "rep-2gram" rule): per doc,
    * the occurrence count of its most frequent bigram and its distinct
    * bigram count. Boilerplate and keyword-stuffed spam have a dominant
    * repeated bigram; natural prose does not. Integer-valued for
    * deterministic cross-engine comparison; docs with < 2 tokens have no
    * bigrams and are absent.
    *
    * Shuffle rows are (id, 8-byte bigram hash) via the native one-pass
    * WordBigramHashes expression; both aggregations map-side combine, so
    * the 100 TB shape is two partial-agg shuffles on longs.
    */
  def topBigramStats(docs: DataFrame, textCol: String,
                     idCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"),
        explode(graft.functions.VectorFunctions.word_bigram_hashes(
          col(textCol))).as("bh"))
      .groupBy(col("id"), col("bh")).agg(count(lit(1)).as("c"))
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("long").as("n_distinct_bigrams"),
           max(col("c")).cast("long").as("top_bigram_count"))

  /** Cross-document duplicate-text fraction: for each document, the share
    * of its distinct word k-shingles that also occur in at least one other
    * document. The per-corpus histogram of this statistic is the standard
    * "how much of my corpus is duplicated text" diagnostic that motivates
    * span- and document-level dedup (the decision input, where `Dedup.*`
    * are the actions).
    *
    * 100 TB shape: shuffle rows are (8-byte shingle hash, id) — the
    * one-pass `word_shingle_hashes` signature expression, never shingle
    * strings; document frequency is a map-side-combined count per hash;
    * the join back to re-attach df is hash-partitioned on the same key the
    * aggregation just produced (no second wide exchange of the big side);
    * the final per-doc rollup partial-aggs again. Set sizes equal the
    * string-shingle sets modulo 60-bit collisions (~1e-5 at 10⁸ shingles).
    */
  def dupShingleStats(docs: DataFrame, textCol: String, idCol: String,
                      k: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
      explode(graft.functions.VectorFunctions.word_shingle_hashes(
        col(textCol), k)).as("h"))
    val df = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    sh.join(df, Seq("h"))
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("long").as("n_shingles"),
           sum(when(col("df") > 1, 1L).otherwise(0L)).cast("long")
             .as("n_dup_shingles"))
      .withColumn("dup_fraction",
        round(col("n_dup_shingles").cast("double") / col("n_shingles"), 6))
  }

  /** Compression-ratio quality signal (deflate bytes / raw bytes): the
    * cheap one-number gibberish-and-boilerplate detector — heavily
    * templated or repeated text compresses far below natural prose,
    * random noise above it. A codegen'd native expression
    * (graftfn.DeflateRatio, fixed level-6 raw deflate), narrow map, no
    * shuffle, streaming-safe. Deterministic per zlib build but NOT
    * engine-portable → spec-checked + bench-tracked, not DuckDB-oracled.
    */
  def compressionRatio(textCol: Column): Column =
    graft.functions.VectorFunctions.deflate_ratio(textCol)

  // --------------------------------------------------------------------
  // PII redaction (the pre-training scrub pass)
  // --------------------------------------------------------------------

  /** Redaction rules, applied IN ORDER — order defines precedence (an
    * email is redacted before its digits could feed a later pattern).
    * Patterns stay inside the Java-regex ∩ RE2 common subset (no
    * lookaround, no backrefs) so the DuckDB oracle mirrors them
    * verbatim: conservative, recall-leaning forms (an IPv4 match allows
    * octets > 255; a phone is strictly +international) — the standard
    * scrubber trade of a few over-redactions for no silent leaks.
    */
  private[graft] val piiRules: Seq[(String, String, String)] = Seq(
    ("emails", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
      "<EMAIL>"),
    ("ips", "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>"),
    ("ids", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<ID>"),
    ("phones", "\\+\\d{9,15}\\b", "<PHONE>"))

  /** PII-scrubbed text: emails, IPv4 addresses, SSN-shaped ids and
    * +international phone numbers replace with typed placeholder tokens
    * (`<EMAIL>`/`<IP>`/`<ID>`/`<PHONE>` — the convention downstream
    * tokenizers keep as single pieces). A chain of codegen'd
    * `regexp_replace` built-ins: a pure narrow map riding the scan, no
    * shuffle, streaming-safe — the same class as [[c4Rules]]'
    * normalization. Run BEFORE dedup/indexing so placeholder-equal
    * documents collapse (two pages differing only in contact addresses
    * are duplicates after the scrub).
    */
  def redactPii(textCol: Column): Column =
    piiRules.foldLeft(textCol) { case (c, (_, pat, repl)) =>
      regexp_replace(c, pat, repl) }

  /** Credit-card redaction with Luhn validation — the scrubber piece a
    * plain regex cannot express: a 13-19-digit run replaces with `<CC>`
    * ONLY if it checksums like a real card number (ISO/IEC 7812), so
    * ordinary long numbers (order ids, unix-nanos timestamps) survive.
    * This checked redaction is the C4/Dolma-style refinement over
    * [[redactPii]]'s recall-leaning patterns: the other categories
    * over-redact safely, but a digits-only rule without the checksum
    * would eat every long number in a technical corpus. Codegen'd
    * single-pass kernel (graftfn.RedactLuhnRuns) — a pure narrow map
    * riding the scan, streaming-safe. Run together with [[redactPii]]
    * (order immaterial: their match domains are disjoint — every
    * [[piiRules]] replacement token is non-numeric).
    */
  def redactCreditCards(textCol: Column): Column =
    graft.functions.VectorFunctions.redact_luhn_runs(textCol, 13, 19, "<CC>")

  /** Luhn checksum validity of a digit-string column (the
    * [[redactCreditCards]] predicate, exposed for candidate auditing).
    */
  def luhnValid(digits: Column): Column =
    graft.functions.VectorFunctions.luhn_valid(digits)

  /** Top collocations by pointwise mutual information (Church & Hanks
    * 1990): word bigrams whose joint probability beats independence,
    * `pmi = ln( (c_ab/N_bi) / ((c_a/N_w)·(c_b/N_w)) )`, with a minimum
    * pair count so hapax pairs don't dominate (the standard PMI
    * failure). The collocation-mining readout corpus analysis starts
    * from — multi-word-expression discovery, tokenizer merge
    * candidates, domain vocabulary cards. Ranked on the ROUNDED pmi
    * (ties by bigram) — ln is a libm transcendental, so the raw double
    * is not a portable sort key; counts are exact, so 6 decimals is
    * far inside both engines' ln accuracy.
    *
    * Shape: one token shuffle for word counts, one bigram shuffle for
    * pair counts (both partial-agg), two broadcast-sized scalar totals,
    * a join of pair counts against the word-count table (shuffle on the
    * word — pair-table-sized, not corpus-sized), TakeOrdered top-N.
    */
  def pmiCollocations(df: DataFrame, textCol: String, topN: Int,
                      minCount: Long = 5L): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    // the scalar totals derive from the count tables (Σc ≡ token count,
    // Σcab ≡ bigram count BEFORE the minCount cut), so the corpus scans
    // once per granularity instead of twice; the count tables are
    // vocabulary-sized — persisted so their two consumers don't re-run
    // the corpus aggregation (OpCaches lifecycle)
    val words = df.select(explode(split(col(textCol), " ")).as("w"))
      .where(col("w") =!= "")
    val wc = OpCaches.persist(
      words.groupBy(col("w")).agg(count(lit(1)).as("c")))
    val nw = wc.agg(sum(col("c")).cast("double").as("nw"))
    val bcAll = OpCaches.persist(
      df.select(explode(graft.functions.VectorFunctions
          .word_bigrams(col(textCol))).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as("cab")))
    val nb = bcAll.agg(sum(col("cab")).cast("double").as("nb"))
    val bc = bcAll.where(col("cab") >= minCount)
    bc.withColumn("wa", split(col("b"), " ")(0))
      .withColumn("wb", split(col("b"), " ")(1))
      .join(wc.select(col("w").as("wa"), col("c").as("ca")), Seq("wa"))
      .join(wc.select(col("w").as("wb"), col("c").as("cb")), Seq("wb"))
      .crossJoin(broadcast(nw)).crossJoin(broadcast(nb))
      .select(col("b").as("bigram"), col("cab").cast("long").as("n_pair"),
        round(log((col("cab") / col("nb")) /
          ((col("ca") / col("nw")) * (col("cb") / col("nw")))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("bigram")).limit(topN)
  }

  /** CROSS-document boilerplate segment removal (the RefinedWeb/CCNet
    * corpus-level line dedup): segments occurring in ≥ `minDocs`
    * DISTINCT documents are boilerplate — cookie banners, nav bars,
    * footers — and are cut from every document, preserving the order of
    * what remains. The corpus-level complement of [[dedupSegments]]
    * (within-doc first-occurrence dedup): a header repeated across ten
    * thousand pages is invisible within any one page.
    *
    * Shape: one segment-volume shuffle for the distinct-doc frequency,
    * one join of the segment stream against the flagged set, one
    * per-doc rebuild (bounded collect_list per doc). Crawl text uses
    * sep="\n"; the gate runs word-level (fixture convention, same
    * kernel). Returns every input id: (id, clean_text, n_removed) —
    * fully-boilerplate docs come back with empty text, not dropped.
    */
  def removeBoilerplateSegments(df: DataFrame, textCol: String,
                                idCol: String, minDocs: Long,
                                sep: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val segs = df
      .select(col(idCol), posexplode(split(col(textCol), sep)))
      .toDF(idCol, "pos", "seg")
      .where(col("seg") =!= "")
    val boiler = segs.groupBy(col("seg"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .where(col("__df") >= minDocs)
      .select(col("seg"), lit(1).as("__bp"))
    val rebuilt = segs.join(boiler, Seq("seg"), "left")
      .groupBy(col(idCol))
      .agg(
        array_sort(collect_list(when(col("__bp").isNull,
          struct(col("pos"), col("seg"))))).as("kept"),
        count(when(col("__bp") === 1, 1)).cast("long").as("n_removed"))
      .select(col(idCol),
        array_join(transform(col("kept"), x => x.getField("seg")), sep)
          .as("clean_text"),
        col("n_removed"))
    df.select(col(idCol)).distinct()
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** Per-language vocabulary coverage against the corpus's own top-N
    * word list: token counts, covered counts, and the OOV rate — the
    * tokenizer-governance readout ("a 32k vocab covers 99.2% of en but
    * 91% of zh — rebalance or grow") read before committing a
    * vocabulary size, and the drift alarm when a new crawl's OOV rate
    * jumps. Vocabulary = global top-N words by count (ties by word —
    * total order, so the N-boundary is deterministic in both engines).
    *
    * Shape: one token-volume shuffle for the global count, a
    * driver-free top-N (TakeOrdered — no single-partition window), a
    * broadcast membership join, one per-language aggregate. The corpus
    * scans twice (count pass + coverage pass) — both narrow.
    */
  def vocabCoverage(df: DataFrame, textCol: String, langCol: String,
                    topN: Int): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    // ONE corpus scan into a (lang, word) count table; the global vocab
    // cut AND the per-language coverage sums both derive from it (the
    // table is language×vocabulary-sized — persisted for its two
    // consumers, OpCaches lifecycle)
    val lw = OpCaches.persist(df
      .select(col(langCol).as("lang"),
        explode(split(col(textCol), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c")))
    val vocab = lw.groupBy(col("w")).agg(sum(col("c")).as("cw"))
      .orderBy(col("cw").desc, col("w")).limit(topN)
      .select(col("w"), lit(1L).as("__inv"))
    lw.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("lang"))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
           coalesce(sum(col("c") * col("__inv")), lit(0L)).cast("long")
             .as("n_covered"))
      .select(col("lang"), col("n_tokens"), col("n_covered"),
        round(lit(1.0) - col("n_covered") / col("n_tokens"), 6)
          .as("oov_rate"))
      .orderBy(col("lang"))
  }

  /** Per-language Zipf rank-frequency slope — the corpus-health
    * diagnostic behind "does this slice look like natural language?":
    * natural text follows freq ∝ rank^s with s ≈ −1 (Zipf 1949);
    * template/boilerplate-heavy slices flatten toward 0 and
    * deduplicated-to-death or synthetic slices steepen. Fit is ordinary
    * least squares on (ln rank, ln count) over each language's top-N
    * words (ties broken by word — a total order, so the N-boundary is
    * deterministic), with both logs rounded to integer MILLI-nats
    * first, so the regression runs in exact Long sums and the slope is
    * engine-portable (the DSIR micro-nat precedent, 1000× coarser for
    * headroom: n·Σxy stays far from Long range). slope_ppm uses
    * truncating division — the slope is NEGATIVE, and DuckDB's `//`
    * truncates toward zero like Java, where a pmod-floor would diverge.
    *
    * Shape: ONE token-volume shuffle into (lang, word) counts; the
    * rank window partitions by language over the language×vocabulary-
    * sized count table (never the token volume); one small aggregate.
    * Languages with fewer than 2 distinct words are dropped (no
    * variance to fit).
    */
  def zipfSlope(df: DataFrame, textCol: String, langCol: String,
                topN: Int = 64): DataFrame = {
    require(topN >= 2, s"topN must be >= 2, got $topN")
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(col(langCol).as("lang"),
        explode(split(col(textCol), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
    val ranked = counts
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(col("c").desc, col("w").asc)))
      .where(col("rk") <= topN)
      .select(col("lang"),
        round(log(col("rk")) * 1000).cast("long").as("x"),
        round(log(col("c")) * 1000).cast("long").as("y"))
    ranked.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .where(col("n") >= 2)
      .select(col("lang"), col("n").as("n_terms"),
        div((col("n") * col("sxy") - col("sx") * col("sy")) * 1000000L,
          col("n") * col("sxx") - col("sx") * col("sx")).as("slope_ppm"))
  }

  /** Per-language Gini coefficient of the word-frequency distribution —
    * the inequality scalar that pairs with [[zipfSlope]]: how
    * concentrated is the token mass on few types? ~0.4-0.7 is natural
    * text; → 1 means a handful of types own the corpus (template spam),
    * → 0 means near-uniform usage (synthetic/shuffled text). Exact
    * integer ppm via the rank formula over counts sorted ascending
    * (ties broken by word — total order):
    * G = (2·Σ rank·c − (n+1)·Σc) / (n·Σc). The rank window partitions
    * per language over the lang×vocabulary count table, never the token
    * volume (the zipfSlope shape).
    */
  def giniConcentration(df: DataFrame, textCol: String,
                        langCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df
      .select(col(langCol).as("lang"),
        explode(split(col(textCol), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
    counts
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(col("c").asc, col("w").asc)).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_tokens"),
        sum(col("rk") * col("c")).as("rc"))
      .select(col("lang"), col("n_types"), col("n_tokens"),
        floorDiv(
          (lit(2L) * col("rc") - (col("n_types") + 1) * col("n_tokens")) *
            1000000L,
          col("n_types") * col("n_tokens")).as("gini_ppm"))
  }

  /** Per-term burstiness over the corpus's top-N terms: the
    * variance-to-mean ratio (index of dispersion) of the term's per-
    * document counts, zeros included — VMR ≈ 1 is Poisson scatter
    * (function words), VMR ≫ 1 is bursty (topical content words —
    * Church & Gale 1995), and a term whose VMR explodes relative to the
    * corpus norm marks keyword-stuffed spam. Exact integer ppm:
    * vmr_ppm = (N·Σc² − (Σc)²)·10⁶ // (N·Σc) over N = corpus size —
    * non-negative by Cauchy-Schwarz, so floor division is exact and
    * engine-portable.
    *
    * Shape: ONE token-volume shuffle into (doc, term) counts (partial-
    * agg'd), a global top-N cut (TakeOrdered, ties by term — total
    * order), broadcast membership join back, one per-term aggregate.
    * The only driver-side value is the corpus row count.
    */
  def burstiness(df: DataFrame, textCol: String, idCol: String,
                 topN: Int = 32): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val nDocs = df.count() // bounded meta-collect (one scalar)
    val dtc = OpCaches.persist(df
      .select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("id"), col("w")).agg(count(lit(1)).as("c")))
    val top = dtc.groupBy(col("w"))
      .agg(sum(col("c")).as("total"), count(lit(1)).as("n_docs"))
      .orderBy(col("total").desc, col("w").asc).limit(topN)
    dtc.join(broadcast(top), Seq("w"))
      .groupBy(col("w"), col("total"), col("n_docs"))
      .agg(sum(col("c") * col("c")).as("sc2"))
      .select(col("w"), col("n_docs"), col("total"),
        floorDiv(
          (lit(nDocs) * col("sc2") - col("total") * col("total")) *
            1000000L,
          lit(nDocs) * col("total")).as("vmr_ppm"))
  }

  /** Distinct-n generation diversity (Li et al. 2016): per group, the
    * ratio of distinct to total word n-grams in integer ppm — THE
    * standard scalar for "is the model (or corpus slice) collapsing
    * onto boilerplate?": near 10⁶ = every n-gram fresh; low = heavy
    * repetition. Reads on model-response pools per prompt (diversity
    * eval), corpus slices per source (template detection), and synthetic
    * data per generator (mode-collapse alarm). N-grams are WITHIN-text
    * (no cross-document grams; a text shorter than n contributes
    * nothing).
    *
    * Shape — per-doc dedup, ONE gram build, ONE gram exchange, no join
    * (r13 rework; results identical):
    *  - grams dedup at the DOCUMENT level first (`array_distinct` per
    *    text), so the exchange carries per-partition-distinct (group,
    *    gram) pairs, never token volume — the r11 sf1 sweep measured the
    *    naive one-exchange (group, gram) occurrence count at 22× wall for
    *    10× data once distinct-gram cardinality outgrew the partial-agg
    *    hash budget and the exchange fell back to sorting raw gram
    *    volume; per-doc dedup is what fixed it (r12) and it stays.
    *  - each doc's TOTAL gram count rides the same exchange attached to
    *    the doc's first exploded gram (0 elsewhere), so `total` = Σ of
    *    that column and `distinct` = the row count fall out of one
    *    (group) aggregation — where the r12 two-level form built the gram
    *    arrays twice (narrow totals + distinct'd explode) and joined two
    *    aggregates.
    * Exact integers throughout; a group whose texts yield zero grams
    * explodes to no rows and is absent (the old inner-join semantics).
    */
  def distinctNgrams(df: DataFrame, textCol: String, groupCol: String,
                     n: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val toks = split(col("__t"), " ")
    // guard short texts explicitly: Spark's sequence(0, -1) would emit a
    // DESCENDING [0, -1], not an empty list
    val idx = when(size(toks) >= n, sequence(lit(0), size(toks) - n))
      .otherwise(array().cast("array<int>"))
    val gramsArr =
      if (n == 1) filter(toks, x => x =!= "")
      else filter(transform(idx,
        i => array_join(slice(toks, i + 1, lit(n)), " ")), g => g =!= "")
    // ONE pass (see the scaladoc shape note): per-doc dedup stays (the
    // r12 sf1 fix), each doc's total count rides its first exploded
    // distinct gram, and both group statistics fall out of one (g, gram)
    // partial agg + one tiny (g) aggregation — no second gram build, no
    // join. Fan-out first: gram building is the amplified per-row work
    // (Par.fanOut is a no-op on already-parallel inputs).
    graft.ext.Par.fanOut(
        df.select(col(groupCol).as("g"), col(textCol).as("__t")))
      .select(col("g"), size(gramsArr).cast("long").as("cnt"),
        posexplode(array_distinct(gramsArr)))
      .select(col("g"), col("col").as("gram"),
        when(col("pos") === 0, col("cnt")).otherwise(0L).as("c"))
      .groupBy(col("g"), col("gram")).agg(sum(col("c")).as("c"))
      .groupBy(col("g"))
      .agg(sum(col("c")).as("total"), count(lit(1)).as("distinct"))
      .select(col("g").as(groupCol), col("total"), col("distinct"),
        floorDiv(col("distinct") * 1000000L, col("total"))
          .as("distinct_ppm"))
  }

  /** Flesch reading-ease readability, integer milli-points:
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words), with
    * the classic cheap syllable proxy — vowel-group runs
    * ([aeiouyAEIOUY]+), the standard approximation when no
    * pronunciation lexicon ships with the engine (stated bias: slightly
    * undercounts hiatus, overcounts silent-e; consistent across a
    * corpus, which is what a quality FILTER needs). Sentences count
    * [.!?]+ runs floored at 1 (fragments are one sentence); empty texts
    * (0 words) report null. Everything is regexp_count integers +
    * exact floor division — a pure codegen'd map riding the scan, no
    * shuffle, streaming-safe; the score itself can go negative on
    * dense jargon (longs subtract, divisions stay non-negative).
    */
  def readability(textCol: Column): Column = {
    val words = regexp_count(textCol, lit("[^ ]+")).cast("long")
    val sentences = greatest(
      regexp_count(textCol, lit("[.!?]+")).cast("long"), lit(1L))
    val syl = regexp_count(textCol, lit("[aeiouyAEIOUY]+")).cast("long")
    val score = lit(206835L) - floorDiv(lit(1015L) * words, sentences) -
      floorDiv(lit(84600L) * syl, words)
    struct(words.as("words"), sentences.as("sentences"),
      syl.as("syllables"),
      when(words > 0, score).as("flesch_milli"))
  }

  /** Always-on streaming face of [[calibrationReport]] (the
    * psiDriftStream monitor pattern): scores and labels arrive in
    * micro-batches, each batch folds into the running per-bin cells
    * (n, positives, Σ score_ppm) and emits the UPDATED reliability row
    * for every bin it touched, with the batch face's exact arithmetic
    * (trunc-toward-zero confidence) — an Update-mode changelog whose
    * latest row per bin is the cumulative diagram. Cross-bin ECE is a
    * consumer-side fold over the latest row per bin (state is keyed by
    * bin, so no cross-bin total lives in it — the per-shard KMV-sum
    * adjudication). State: one Long triple per bin, forever — bounded
    * by the bin count by construction.
    */
  def calibrationStream(scored: DataFrame, scoreCol: String,
                        labelCol: String, bins: Int = 8, lo: Double = 0.0,
                        hi: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    require(bins >= 1, s"bins must be >= 1, got $bins")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    val spark = scored.sparkSession
    import spark.implicits._
    val binCol = least(greatest(
      floor((col(scoreCol) - lo) * bins / (hi - lo)), lit(0.0)),
      lit((bins - 1).toDouble)).cast("long")
    scored.select(binCol.as("bin"),
        round(col(scoreCol) * 1000000).cast("long").as("sp"),
        when(col(labelCol), 1L).otherwise(0L).as("y"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (bin: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[(Long, Long, Long)]) =>
          var (n, pos, ssp) = state.getOption.getOrElse((0L, 0L, 0L))
          rows.foreach { case (_, sp, y) => n += 1; pos += y; ssp += sp }
          state.update((n, pos, ssp))
          val conf = ssp / n // JVM Long division truncates toward zero —
                             // exactly the batch face's div
          val acc = (pos * 1000000L) / n
          Iterator.single((bin, n, pos, conf, acc, Math.abs(conf - acc)))
      }
      .toDF("bin", "n", "n_pos", "conf_ppm", "acc_ppm", "gap_ppm")
  }

  /** Classifier calibration report — the reliability diagram + expected
    * calibration error behind "can I trust this quality score as a
    * probability?", read before using a model score as a sampling weight
    * or an accept threshold (an over-confident filter silently skews the
    * corpus). Scores bucket into `bins` equal-width bins over [lo, hi)
    * (clamped); per bin: count, positives, mean score (confidence) and
    * observed positive rate, plus the |conf − acc| gap and the overall
    * ECE = Σ n_b·gap_b / N repeated on every row (the report is
    * self-contained). `scoreCol` is a probability-like score in
    * [lo, hi) = [0, 1) by default — map a raw margin into that range
    * first (the gate rescales the linear classifier's ±2 margin as
    * (s+2)/4; with binary-fraction scores and power-of-two constants
    * every double step is exact, so round(p·10⁶) is engine-portable
    * with no boundary hazard). All values integer ppm, sums Long; mean
    * confidence uses truncating division so out-of-convention negative
    * scores still match DuckDB's `//`.
    *
    * Shape: one projection + ONE bins-keyed partial-agg'd shuffle (the
    * bin cardinality is tiny); the ECE totals are a broadcast one-row
    * scalar joined back. Streaming-safe shape (a windowed variant is a
    * trivial groupBy extension).
    */
  def calibrationReport(df: DataFrame, scoreCol: String, labelCol: String,
                        bins: Int = 8, lo: Double = 0.0,
                        hi: Double = 1.0): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    val binCol = least(greatest(
      floor((col(scoreCol) - lo) * bins / (hi - lo)), lit(0.0)),
      lit((bins - 1).toDouble)).cast("long")
    val g = df.select(binCol.as("bin"),
        round(col(scoreCol) * 1000000).cast("long").as("sp"),
        when(col(labelCol), 1L).otherwise(0L).as("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        sum(col("sp")).as("ssp"))
      .select(col("bin"), col("n"), col("n_pos"),
        div(col("ssp"), col("n")).as("conf_ppm"),
        floorDiv(col("n_pos") * 1000000L, col("n")).as("acc_ppm"))
      .withColumn("gap_ppm", abs(col("conf_ppm") - col("acc_ppm")))
    val tot = g.agg(sum(col("n")).as("nn"),
      sum(col("n") * col("gap_ppm")).as("wg"))
    g.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("n_pos"), col("conf_ppm"),
        col("acc_ppm"), col("gap_ppm"),
        floorDiv(col("wg"), col("nn")).as("ece_ppm"))
  }

  /** Script classes for [[scriptProfile]], in the FIXED priority order
    * dominant-script tie-breaking uses (first listed wins a count tie) —
    * (name, Java regex, DuckDB/RE2 regex). The char classes are
    * identical; only the property syntax differs per engine.
    */
  val scriptRules: Seq[(String, String, String)] = Seq(
    ("arabic", "\\p{IsArabic}", "\\p{Arabic}"),
    ("cyrillic", "\\p{IsCyrillic}", "\\p{Cyrillic}"),
    ("digit", "[0-9]", "[0-9]"),
    ("han", "\\p{IsHan}", "\\p{Han}"),
    ("latin", "[A-Za-z]", "[A-Za-z]"))

  /** Per-document Unicode script profile: counts per script class plus
    * the dominant script — the routing signal multilingual pipelines
    * branch on BEFORE language ID (script is cheap and unambiguous;
    * Cyrillic text never needs the Romance-language models) and the
    * mixed-script spam/obfuscation flag (Latin text salted with
    * lookalike Cyrillic). Pure codegen'd `regexp_count` maps riding the
    * scan — no shuffle, streaming-safe. Returns a struct of per-script
    * counts plus `dominant` (max count; ties resolve by [[scriptRules]]
    * order; all-zero → "none").
    */
  def scriptProfile(textCol: Column): Column = {
    val cByName = scriptRules.map { case (name, javaRe, _) =>
      name -> regexp_count(textCol, lit(javaRe)).cast("long") }
    val mx = greatest(cByName.map(_._2): _*)
    val dom = cByName.foldRight(lit("none"): Column) {
      case ((name, c), acc) => when(c === mx && mx > 0, lit(name))
        .otherwise(acc)
    }
    struct((cByName.map { case (name, c) => c.as(name) } :+
      dom.as("dominant")): _*)
  }

  /** RAKE keyphrase extraction (Rose et al. 2010): candidate phrases are
    * maximal stopword-free token runs; each word scores
    * `deg(w)/freq(w)` over the document's candidates (deg = Σ length of
    * candidates containing w, counting repeats — co-occurrence degree;
    * freq = occurrence count), and a phrase scores the sum of its words.
    * The standard cheap keyword extractor for corpus labeling, dataset
    * cards, and search facets — no model, no fit, fully deterministic.
    *
    * Deliberately RELATIONAL (per-doc windows + group-bys, no kernel):
    * every window partitions by the doc id, so parallelism is per-doc
    * and nothing global shuffles beyond the token stream — the same
    * volume class as tokenize-and-count. Ties rank by phrase text.
    * Returns (idCol, rank, phrase, score), topK per doc.
    */
  def rakeKeyphrases(df: DataFrame, textCol: String, idCol: String,
                     stopwords: Seq[String], topK: Int = 5): DataFrame = {
    require(stopwords.nonEmpty, "rake needs a stopword list")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    import org.apache.spark.sql.expressions.Window
    val toks = df
      .select(col(idCol), posexplode(split(lower(col(textCol)), " ")))
      .toDF(idCol, "pos", "w")
      .where(col("w") =!= "")
    val content = toks.where(!col("w").isInCollection(stopwords))
    // gaps-and-islands: consecutive content positions share one island
    val islands = content.withColumn("isl",
      col("pos") - row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("pos"))))
    val phrases = islands.groupBy(col(idCol), col("isl"))
      .agg(array_sort(collect_list(struct(col("pos"), col("w")))).as("pw"))
      .select(col(idCol), col("isl"),
        transform(col("pw"), x => x.getField("w")).as("ws"))
      .select(col(idCol), col("isl"),
        array_join(col("ws"), " ").as("phrase"),
        size(col("ws")).cast("long").as("len"), col("ws"))
    // r14 (§2.4): per-word stats as WINDOW functions over (doc, word)
    // instead of the r13 shape (a separate groupBy aggregate joined back
    // onto a persisted copy of the island-member rows). freq/deg per
    // (doc, word) are the same counts either way — a window computes the
    // group statistic and keeps the member rows in one pass, which is
    // exactly the join's 1:n re-attach — but the join, its second
    // aggregate, one exchange and the MEMORY persist of the exploded
    // word rows (token-volume state at corpus scale) all disappear.
    val words = phrases
      .select(col(idCol), col("isl"), col("phrase"), col("len"),
        explode(col("ws")).as("w"))
    val wStats = Window.partitionBy(col(idCol), col("w"))
    val scored = words
      .withColumn("freq", count(lit(1)).over(wStats))
      .withColumn("deg", sum(col("len")).over(wStats))
      .groupBy(col(idCol), col("isl"), col("phrase"))
      .agg(sum(col("deg") / col("freq")).as("score"))
      // same phrase text recurring as several islands scores identically
      // (word stats are doc-level) — keep one row per (doc, phrase)
      .groupBy(col(idCol), col("phrase"))
      .agg(max(col("score")).as("score"))
    // rank on the ROUNDED score: an analytic tie can land on either side
    // of the last ulp depending on summation order, so the raw double is
    // not a portable sort key — the 6-decimal form is
    scored.select(col(idCol), col("phrase"),
        round(col("score"), 6).as("score"))
      .withColumn("rank",
        row_number().over(Window.partitionBy(col(idCol))
          .orderBy(col("score").desc, col("phrase"))).cast("long"))
      .where(col("rank") <= topK)
      .select(col(idCol), col("rank"), col("phrase"), col("score"))
  }

  /** Blocklist-phrase audit: `blocked_phrases` (distinct matched phrases,
    * sorted) and `n_blocked` against a fixed multi-phrase blocklist —
    * the scrub complement of [[redactPii]] for bad-word / boilerplate /
    * spam-template lists, which run to 10⁴–10⁵ phrases in production.
    * One Aho-Corasick pass per document (a codegen'd expression carrying
    * the automaton as a plan reference object), so cost is
    * O(|text| + matches) independent of list size; a `contains` chain or
    * alternation regex is O(|text| × phrases). Pure narrow map riding
    * the scan — no shuffle, streaming-safe; filter `n_blocked === 0` to
    * drop flagged docs, or keep the audit columns for reporting.
    * Substring semantics: pad phrases with spaces for token boundaries.
    */
  def blocklistPhrases(df: DataFrame, textCol: String,
                       phrases: Seq[String]): DataFrame = {
    val hits = org.apache.spark.sql.graftfn.PhraseFunctions
      .multi_phrase_hits(col(textCol), phrases)
    df.withColumn("blocked_phrases", hits)
      .withColumn("n_blocked", size(col("blocked_phrases")))
  }

  /** Per-category PII hit counts under [[redactPii]]'s precedence: each
    * category counts on the text AFTER the prior categories redacted
    * (so an email's digits never double-count as a phone). Returns a
    * struct (emails, ips, ids, phones) of longs — the audit signal a
    * corpus owner reads before deciding whether a source is shippable
    * at all.
    */
  def piiCounts(textCol: Column): Column = {
    val (fields, _) = piiRules.foldLeft(
      (Seq.empty[Column], textCol)) {
      case ((acc, cur), (name, pat, repl)) =>
        (acc :+ regexp_count(cur, lit(pat)).cast("long").as(name),
          regexp_replace(cur, pat, repl))
    }
    struct(fields: _*)
  }

  // --------------------------------------------------------------------
  // HTML main-content extraction (the web-crawl boilerplate stripper)
  // --------------------------------------------------------------------

  /** Main-content extraction from raw HTML — the first transform every
    * web-crawl pipeline runs before any quality/dedup stage. Heuristic,
    * trafilatura-family semantics:
    *  1. drop `<script>`/`<style>` with their contents (code, not prose),
    *  2. drop HTML comments,
    *  3. drop boilerplate containers with their contents: `<nav>`,
    *     `<header>`, `<footer>`, `<aside>`, and the whole `<head>`,
    *  4. replace every remaining tag with a space (block boundaries must
    *     not glue words together),
    *  5. decode the common entities (`&lt; &gt; &quot; &#39; &nbsp;`,
    *     and `&amp;` LAST — standard decode order),
    *  6. collapse whitespace runs to single spaces and trim.
    *
    * Pure `regexp_replace` chain — codegen'd, streaming-safe, a narrow
    * map with zero shuffle at any scale. Regex-based extraction is the
    * documented approximation (CCNet/C4 lineage); a DOM parser is
    * pluggable behind the same Column signature if tag-soup edge cases
    * ever dominate.
    */
  def stripHtml(html: Column): Column = {
    var c = html
    for (t <- Seq("script", "style"))
      c = regexp_replace(c, s"(?is)<$t\\b[^>]*>.*?</$t>", " ")
    c = regexp_replace(c, "(?s)<!--.*?-->", " ")
    for (t <- Seq("head", "nav", "header", "footer", "aside"))
      c = regexp_replace(c, s"(?is)<$t\\b[^>]*>.*?</$t>", " ")
    c = regexp_replace(c, "(?s)<[^>]+>", " ")
    c = regexp_replace(c, "&nbsp;", " ")
    c = regexp_replace(c, "&lt;", "<")
    c = regexp_replace(c, "&gt;", ">")
    c = regexp_replace(c, "&quot;", "\"")
    c = regexp_replace(c, "&#39;", "'")
    c = regexp_replace(c, "&amp;", "&")
    trim(regexp_replace(c, "\\s+", " "))
  }

  /** Deterministic raw-HTML fixture: wraps a clean text in a full page —
    * head/title, script, style, comment, nav and footer boilerplate, the
    * text split across two `<p>` blocks. [[stripHtml]] of this wrapper
    * recovers the input exactly (for whitespace-normalized text), which
    * is what makes the extraction lane oracle-checkable end to end
    * against the raw documents table.
    */
  def htmlFixture(textCol: Column, idCol: Column): Column = {
    val t = toks(textCol)
    val firstWord = when(size(t) >= 1, element_at(t, 1)).otherwise(lit(""))
    val rest = when(size(t) >= 2,
      concat_ws(" ", slice(t, 2, 1000000))).otherwise(lit(""))
    concat(
      lit("<!DOCTYPE html><html><head><title>Doc "), idCol,
      lit("</title><script type=\"text/javascript\">if(1<2){x=\"<p>\";}" +
        "</script><style>.m{a:&amp;}</style></head>" +
        "<body><!-- crawler noise: <div> unclosed --><nav>Home | " +
        "About</nav><header>site &copy; banner</header><h1></h1><p>"),
      firstWord, lit("</p>\n<p>"), rest,
      lit("</p><footer>&amp; legal</footer></body></html>"))
  }

  // --------------------------------------------------------------------
  // Bigram language model: fit + perplexity (the CCNet-style LM filter)
  // --------------------------------------------------------------------

  /** Bigram language-model TRAINING: corpus bigram counts, the sufficient
    * statistic of an add-k-smoothed bigram LM (the CCNet/KenLM-style
    * perplexity filter's model, at order 2). `minCount` prunes the long
    * tail for a broadcastable model; the default keeps everything so the
    * fit is exactly the corpus statistic.
    *
    * 100 TB shape: one partial-agg shuffle of (bigram, 1) rows — a
    * celebrity bigram ("of the") map-side combines before the exchange.
    * Word strings shuffle here because the MODEL must be keyed by words
    * (scoring joins on them); the read-only statistics ops
    * ([[bigramFamiliarity]], [[topBigramStats]]) shuffle 8-byte hashes
    * instead.
    */
  def bigramLmFit(docs: DataFrame, textCol: String,
                  minCount: Long = 1): DataFrame =
    docs.select(explode(bigrams(col(textCol))).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).cast("long").as("c"))
      .where(col("c") >= minCount)

  /** Per-document perplexity under an add-k bigram LM whose counts came
    * from [[bigramLmFit]] — the scale face: the model stays distributed
    * and scoring is a join, so a 10⁹-entry web-corpus LM never has to fit
    * anywhere.
    *
    * For each consecutive word pair the smoothed probability is
    * `P(w₂|w₁) = (c(w₁w₂) + k) / (c(w₁·) + k·V)` with `c(w₁·)` the
    * context total (Σ over following words) and `V` the corpus vocabulary
    * size; perplexity is `exp(−Σ ln P / n)`, ROUNDED to 4 decimals (`ln`
    * is not bit-specified; the [[charEntropy]] determinism rule). Docs
    * with < 2 tokens have no bigrams and are absent.
    *
    * 100 TB shape: doc bigrams shuffle once to meet the model (left join
    * on the bigram string — unseen pairs score k/(c+kV)); context totals
    * derive from the model by a map-side-combined re-aggregation (no
    * second corpus scan); V broadcasts as a single row. The per-doc
    * rollup partial-aggs. With a pruned model, Catalyst's size estimate
    * turns both model joins into broadcasts automatically.
    */
  def perplexity(docs: DataFrame, lm0: DataFrame, textCol: String,
                 idCol: String, k: Double = 0.5): DataFrame = {
    // the model feeds BOTH the scoring join and the context-total
    // re-aggregation; persist it so the bigram-count shuffle runs once
    // (plan-audited: unpersisted, Catalyst re-derived the whole fit for
    // the ctx branch — a full second corpus explode)
    val lm = OpCaches.persist(lm0)
    val bg = docs.select(col(idCol).as("id"),
      explode(bigrams(col(textCol))).as("bigram"))
    val ctx = lm.groupBy(split(col("bigram"), " ").getItem(0).as("w1"))
      .agg(sum(col("c")).as("cu"))
    // explode the raw split and drop empties AFTER (a WHERE on the
    // exploded rows codegens; a filter() HOF on the array does not)
    val v = docs.select(explode(split(col(textCol), " ")).as("t"))
      .where(col("t") =!= "")
      .agg(countDistinct(col("t")).cast("double").as("__v"))
    bg.join(lm, Seq("bigram"), "left")
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .join(ctx, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .withColumn("lp",
        log((coalesce(col("c"), lit(0L)).cast("double") + k) /
            (coalesce(col("cu"), lit(0L)).cast("double") + lit(k) * col("__v"))))
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
           round(exp(-sum(col("lp")) / count(lit(1))), 4).as("ppl"))
  }

  /** Per-group bigram LM fit: one model per value of `byCol` (language,
    * source, domain) in a single shuffle — the CCNet recipe fits one LM
    * per language, scores each doc under its OWN language's model, and
    * filters on per-language perplexity bands. Returns
    * (byCol, bigram, c).
    */
  def bigramLmFitBy(docs: DataFrame, textCol: String, byCol: String,
                    minCount: Long = 1): DataFrame =
    docs.select(col(byCol), explode(bigrams(col(textCol))).as("bigram"))
      .groupBy(col(byCol), col("bigram"))
      .agg(count(lit(1)).cast("long").as("c"))
      .where(col("c") >= minCount)

  /** Stupid-Backoff trigram LM fit (Brants et al. 2007, "Large Language
    * Models in Machine Translation" — the web-scale distributed LM
    * recipe: raw relative frequencies with a fixed backoff multiplier
    * instead of normalized discounting, chosen precisely because it fits
    * AND scores with nothing but distributed count tables). All three
    * gram orders count in ONE union'd partial-agg'd shuffle — rows
    * (g, o, c) with o ∈ {1, 2, 3}; repeated grams collapse map-side.
    * `minCount` prunes per gram (the count-cutoff entropy pruning the
    * paper applies at the 10¹²-token scale); keep 1 for exact scoring.
    */
  def sbTrigramFit(docs: DataFrame, textCol: String,
                   minCount: Long = 1): DataFrame = {
    def order(n: Int): DataFrame =
      docs.select(explode(graft.functions.VectorFunctions
          .word_ngrams(col(textCol), n)).as("g"))
        .select(col("g"), lit(n).as("o"))
    order(1).union(order(2)).union(order(3))
      .groupBy(col("g"), col("o"))
      .agg(count(lit(1)).cast("long").as("c"))
      .where(col("c") >= minCount)
  }

  /** Per-document Stupid-Backoff trigram score against a [[sbTrigramFit]]
    * count table: per trigram
    * `S(w₃|w₁w₂) = c₁₂₃/c₁₂` when the trigram is attested, else
    * `α·c₂₃/c₂` when the bigram is, else `α²·c₃/N` (OOV words take a
    * documented `oovPseudo` pseudo-count — stupid backoff itself has no
    * OOV mass). The per-doc rollup reports
    * `sb_ppl = exp(−mean ln S)` rounded to 4 decimals (the
    * [[perplexity]] determinism convention — S is not a normalized
    * probability, but the geometric-mean inverse score ranks fluency the
    * same way). Returns (id, n_trigrams, sb_ppl); docs under 3 tokens
    * have no trigram and are absent.
    *
    * 100 TB shape: each doc trigram explodes into its FIVE count probes
    * (trigram, both bigrams, both unigrams) which meet the model in ONE
    * equi-join on (g, o) — not five separate joins over the trigram
    * volume; the model stays distributed (a 10⁹-row web LM never
    * fit-collects) and persists across its single consumer. N derives
    * from the unigram rows by re-aggregation, broadcast as one row.
    */
  def sbScore(docs: DataFrame, lm0: DataFrame, textCol: String,
              idCol: String, alpha: Double = 0.4,
              oovPseudo: Double = 0.5): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0,1], got $alpha")
    val lm = OpCaches.persist(lm0)
    val nTotal = lm.where(col("o") === 1)
      .agg(sum(col("c")).cast("double").as("__n"))
    val w = split(col("g3"), " ")
    val probes = docs
      .select(col(idCol).as("id"),
        posexplode(graft.functions.VectorFunctions
          .word_ngrams(col(textCol), 3)).as(Seq("pos", "g3")))
      .select(col("id"), col("pos"), explode(array(
        struct(lit(0).as("k"), col("g3").as("g"), lit(3).as("o")),
        struct(lit(1).as("k"),
          concat(w.getItem(0), lit(" "), w.getItem(1)).as("g"),
          lit(2).as("o")),
        struct(lit(2).as("k"),
          concat(w.getItem(1), lit(" "), w.getItem(2)).as("g"),
          lit(2).as("o")),
        struct(lit(3).as("k"), w.getItem(1).as("g"), lit(1).as("o")),
        struct(lit(4).as("k"), w.getItem(2).as("g"), lit(1).as("o"))
      )).as("p"))
      .select(col("id"), col("pos"), col("p.k").as("k"),
        col("p.g").as("g"), col("p.o").as("o"))
    def cOf(k: Int): Column =
      coalesce(max(when(col("k") === k, col("c"))), lit(0L))
    val perTrigram = probes
      .join(lm, Seq("g", "o"), "left")
      .groupBy(col("id"), col("pos"))
      .agg(cOf(0).as("c123"), cOf(1).as("c12"), cOf(2).as("c23"),
        cOf(3).as("c2"), cOf(4).as("c3"))
    val s =
      when(col("c123") > 0,
        col("c123").cast("double") / col("c12"))
      .when(col("c23") > 0,
        lit(alpha) * (col("c23").cast("double") / col("c2")))
      .otherwise(lit(alpha * alpha) *
        (when(col("c3") > 0, col("c3").cast("double"))
          .otherwise(lit(oovPseudo)) / col("__n")))
    perTrigram
      .crossJoin(broadcast(nTotal))
      .select(col("id"), log(s).as("lp"))
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("long").as("n_trigrams"),
        round(exp(-sum(col("lp")) / count(lit(1))), 4).as("sb_ppl"))
  }

  /** Per-document perplexity under the document's own `byCol`-group model
    * from [[bigramLmFitBy]] — grouped add-k smoothing: context totals and
    * vocabulary size are PER GROUP, so a Spanish doc is never judged by
    * the English model. Join shape identical to [[perplexity]] with the
    * group key added to every equi-join; the per-group vocab is a tiny
    * aggregate that broadcasts. Returns (id, byCol, n_bigrams, ppl).
    */
  def perplexityBy(docs: DataFrame, lm0: DataFrame, textCol: String,
                   idCol: String, byCol: String,
                   k: Double = 0.5): DataFrame = {
    val lm = OpCaches.persist(lm0)
    val bg = docs.select(col(idCol).as("id"), col(byCol),
      explode(bigrams(col(textCol))).as("bigram"))
    val ctx = lm.groupBy(col(byCol),
        split(col("bigram"), " ").getItem(0).as("w1"))
      .agg(sum(col("c")).as("cu"))
    val v = docs.select(col(byCol),
        explode(split(col(textCol), " ")).as("t"))
      .where(col("t") =!= "")
      .groupBy(col(byCol))
      .agg(countDistinct(col("t")).cast("double").as("__v"))
    bg.join(lm, Seq(byCol, "bigram"), "left")
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .join(ctx, Seq(byCol, "w1"), "left")
      .join(broadcast(v), Seq(byCol))
      .withColumn("lp",
        log((coalesce(col("c"), lit(0L)).cast("double") + k) /
            (coalesce(col("cu"), lit(0L)).cast("double") +
              lit(k) * col("__v"))))
      .groupBy(col("id"), col(byCol))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
           round(exp(-sum(col("lp")) / count(lit(1))), 4).as("ppl"))
  }

  /** CCNet-style per-language perplexity bucketing: score every document
    * with its OWN language's LM ([[perplexityBy]]), then split each
    * language into `nBuckets` equal-population quality tiers (the CCNet
    * head/middle/tail cut — head = lowest perplexity = most LM-familiar).
    *
    * Bucket assignment is pure integer arithmetic over the per-language
    * rank — `bucket = ⌊nBuckets·(rank−1)/n⌋` with (rounded-ppl, id) as a
    * deterministic total order — so the cut is engine-portable and
    * reproducible, unlike interpolated-percentile thresholds whose last-ulp
    * placement can differ across engines.
    *
    * Scale shape: one shuffle keyed on the language for the rank window,
    * carrying only (id, lang, ppl) — never document bodies. Languages are
    * few and internally large; at 100 TB the same cut runs as a
    * range-partitioned sort per language (or sampled thresholds via
    * [[perplexityBy]] + a quantile pass, trading exactness for one fewer
    * sort — CCNet itself uses sampled thresholds).
    */
  def perplexityBuckets(docs: DataFrame, lm: DataFrame, textCol: String,
                        idCol: String, byCol: String, k: Double = 0.5,
                        nBuckets: Int = 3): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    import org.apache.spark.sql.expressions.Window
    val names = Seq("head", "middle", "tail")
    val ppl = perplexityBy(docs, lm, textCol, idCol, byCol, k)
    val w = Window.partitionBy(col(byCol))
      .orderBy(col("ppl").asc, col("id").asc)
    val n = Window.partitionBy(col(byCol))
    val bucket = floor(lit(nBuckets) * (col("__rk") - 1) / col("__n"))
      .cast("int")
    ppl.withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(n))
      .withColumn("bucket", bucket)
      .withColumn("tier",
        if (nBuckets == 3)
          element_at(typedLit(names), col("bucket") + 1)
        else concat(lit("q"), col("bucket").cast("string")))
      .drop("__rk", "__n")
  }

  /** A collected bigram LM for the projection face: bigram counts,
    * context totals, vocabulary size. Collected driver-side under an
    * explicit cap — the pruned-model path (real pipelines ship a
    * frequency-cut model of ~10⁶ entries; the full web-scale model uses
    * the join face).
    */
  final case class BigramLmModel(bigram: Map[String, Long],
                                 context: Map[String, Long], vocab: Long)

  /** Collect a [[bigramLmFit]] result into a [[BigramLmModel]], failing
    * fast if the (pruned) model exceeds `maxEntries` — the
    * GlobalKTable-style size guard, not a silent truncation.
    */
  def bigramLmCollect(lm: DataFrame, vocabSize: Long,
                      maxEntries: Int = 2000000): BigramLmModel = {
    val rows = lm.select(col("bigram"), col("c")).limit(maxEntries + 1)
      .collect()
    require(rows.length <= maxEntries,
      s"bigram LM exceeds $maxEntries entries; raise minCount in " +
        "bigramLmFit or use the perplexity join face")
    val bg = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val ctx = bg.toSeq
      .groupBy { case (b, _) => b.substring(0, b.indexOf(' ')) }
      .map { case (w1, es) => w1 -> es.map(_._2).sum }
    BigramLmModel(bg, ctx, vocabSize)
  }

  /** BM25 full-text retrieval: for each query (a bag of terms), the top-k
    * documents by the Robertson/Sparck-Jones BM25 score over the corpus
    * inverted statistics — retrieval-based decontamination, curated-set
    * expansion, and eval-set leakage hunts all reduce to this operator.
    *
    * `score(d,q) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1 − b +
    * b·|d|/avgdl))` with `idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)`
    * (the Lucene non-negative form). Scores are ROUNDED to 6 decimals
    * before ranking (ties → doc asc) — `ln` is not bit-specified; the
    * tf-idf determinism rule. Returns (qid, rk, doc, score).
    *
    * 100 TB shape: the token explode SEMI-FILTERS to the query terms
    * BEFORE its aggregation exchange (guide §2.3 / §3.2 — the shuffle
    * carries query-term hits only, never the corpus vocabulary), so tf,
    * df and the scores all derive from the pruned posting volume. Doc
    * length is a NARROW tokenCount map over the same scan (Σ_t tf(t,d)
    * ≡ the whitespace token count — one extra codegen'd pass instead of
    * persisting the full (id, term) aggregate, which at corpus scale is
    * a token-volume cache). N and avgdl come from ONE scalar aggregate
    * over the documents scan and broadcast as a single row. The final
    * ranking is the bounded CollectTopK heap: each map task ships ≤ k
    * (score, doc) pairs per query, not every matching posting.
    * (r13 rework: the previous shape shuffled and persisted the FULL
    * vocabulary tf and re-aggregated it for dl/avgdl — 21 sequential
    * stage-jobs at bench scale, and a token-volume persist at 100 TB.)
    */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
               queries: Seq[(Long, Seq[String])], k: Int = 10,
               k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // "" is excluded up front (ADVICE r13): the pre-r13 full-vocab tf
    // carried a `term =!= ""` guard, so empty tokens from consecutive
    // spaces never scored — a query list containing "" must not start
    // matching them now that the filter is isin(qterms).
    val qterms = queries.flatMap(_._2).filter(_.nonEmpty).distinct
    val tfq = docs.select(col(idCol).as("doc"),
        explode(split(col(textCol), " ")).as("term"))
      .where(col("term").isin(qterms.map(x => x: Any): _*))
      .groupBy(col("doc"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dl = docs.select(col(idCol).as("doc"),
      tokenCount(col(textCol)).cast("double").as("dl"))
    val stats = docs.agg(count(lit(1)).cast("double").as("__n"),
        sum(tokenCount(col(textCol))).cast("double").as("__toks"))
      .withColumn("__avgdl", col("__toks") / col("__n"))
    val qdf = broadcast(
      queries.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) }
        .toDF("qid", "term"))
    val df_ = tfq.groupBy(col("term")).agg(count(lit(1)).cast("double")
      .as("df"))
    bm25Rank(tfq.join(broadcast(df_), Seq("term"))
      .join(dl, Seq("doc"))
      .join(qdf, Seq("term"))
      .crossJoin(broadcast(stats)), k, k1, b)
  }

  /** Shared BM25 scoring + bounded ranking tail: input carries
    * (qid, doc, tf, df, dl, __n, __avgdl); output (qid, rk, doc, score).
    * Ranking goes through the CollectTopK partial agg — map tasks forward
    * ≤ k rows per query.
    */
  private def bm25Rank(scored: DataFrame, k: Int,
                       k1: Double, b: Double): DataFrame =
    scored
      .withColumn("s",
        log((col("__n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl") / col("__avgdl"))))
      .groupBy(col("qid"), col("doc"))
      .agg(round(sum(col("s")), 6).as("score"))
      .groupBy(col("qid"))
      .agg(graft.functions.VectorFunctions.collect_top_k(
        struct((-col("score")).as("ns"), col("doc").as("d")), k,
        reverse = true).as("top"))
      .select(col("qid"), posexplode(array_sort(col("top"))))
      .select(col("qid"), (col("pos") + 1).cast("long").as("rk"),
              col("col.d").as("doc"), (-col("col.ns")).as("score"))

  /** Persist a learned BPE merge table as the tokenizer ARTIFACT (rank,
    * left, right) — rank is the merge priority ([[learnBpe]] emits merges
    * in rank order, [[bpeEncode]] consumes them the same way). A trained
    * tokenizer that cannot ship with the dataset is not a tokenizer; this
    * is the ship face.
    */
  def saveBpe(spark: org.apache.spark.sql.SparkSession,
              merges: Seq[(String, String)], path: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveBpe]] artifact back into the in-memory merge table,
    * restoring rank order; fails loud on a malformed table.
    */
  def loadBpe(spark: org.apache.spark.sql.SparkSession,
              path: String): Seq[(String, String)] = {
    val rows = spark.read.parquet(path)
      .select(col("rank").cast("int"), col("left"), col("right"))
      .collect()
    require(rows.nonEmpty, s"empty BPE artifact at $path")
    val sorted = rows.sortBy(_.getInt(0))
    require(sorted.zipWithIndex.forall { case (r, i) => r.getInt(0) == i },
      s"BPE artifact at $path has gaps or duplicate ranks")
    sorted.map(r => (r.getString(1), r.getString(2))).toSeq
  }

  /** Per-group tokenizer FERTILITY report: chars, whitespace words, and
    * regex pre-tokens per group, with the two ratios every mixing
    * decision reads — pre-tokens per word and chars per pre-token — in
    * exact integer ppm (floor'd, engine-replayable). High fertility
    * (many pieces per word) marks languages/scripts the tokenizer
    * serves poorly; corpora get re-weighted or the tokenizer re-fit.
    * One partial-agg shuffle on the group key.
    */
  def fertilityByGroup(docs: DataFrame, textCol: String,
                       byCol: String): DataFrame = {
    docs.groupBy(col(byCol))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(length(col(textCol))).cast("long").as("n_chars"),
        sum(tokenCount(col(textCol))).cast("long").as("n_words"),
        sum(bpeTokenCount(col(textCol))).cast("long").as("n_pretokens"))
      .select(col(byCol), col("n_docs"), col("n_chars"), col("n_words"),
        col("n_pretokens"),
        floorDiv(col("n_pretokens") * 1000000L,
          greatest(lit(1L), col("n_words"))).as("fertility_ppm"),
        floorDiv(col("n_chars") * 1000000L,
          greatest(lit(1L), col("n_pretokens"))).as("chars_per_tok_ppm"))
  }

  // ---- tokenizer DECODE faces (loader round-trip: pieces/ids → text) --

  /** Decode tokenizer pieces back to text. Both encoders ([[bpeEncode]],
    * [[unigramEncode]]) partition the pre-token stream — every character
    * of every pre-token survives into exactly one piece, in order — so
    * decode is pure concatenation, and
    * `decode ∘ encode ≡ [[pretokNormalize]]` (the pre-tokenizer's
    * whitespace convention), spec-pinned for both families. A narrow
    * codegen'd map (`concat_ws` on the piece array): no join, no shuffle.
    */
  def decodePieces(pieces: Column): Column = concat_ws("", pieces)

  /** [[decodePieces]] under its per-family names (the loader-facing API
    * mirrors encode's: saveBpe/loadBpe/bpeEncode/decodeBpe).
    */
  def decodeBpe(pieces: Column): Column = decodePieces(pieces)
  def decodeUnigram(pieces: Column): Column = decodePieces(pieces)

  /** WordPiece greedy longest-match encoding over a fixed vocabulary —
    * the THIRD tokenizer family (the BERT lineage) next to BPE and
    * Unigram. Whitespace words encode independently; continuation
    * pieces carry `##`; unmatchable or over-long words become `unk`
    * whole. A codegen'd narrow map (the vocabulary is a reference-object
    * HashSet), streaming-safe.
    */
  def wordpieceEncode(textCol: Column, vocab: Seq[String],
                      unk: String = "[UNK]",
                      maxWordChars: Int = 200): Column =
    graft.functions.VectorFunctions.wordpiece_encode(textCol, vocab,
      unk, maxWordChars)

  /** [[wordpieceEncode]]'s inverse on UNK-free output: strip `##` and
    * glue continuations, join words with single spaces. (UNK pieces
    * decode as the literal unk token — the original word is gone.)
    */
  def decodeWordpiece(pieces: Column): Column =
    ltrim(concat_ws("", // each piece renders " word-start" or "##-glue"
      // (array_join skips nothing here: pieces are non-null strings)
      transformPiecesForDecode(pieces)))

  private def transformPiecesForDecode(pieces: Column): Column =
    transform(pieces, p =>
      when(p.startsWith("##"), substring(p, 3, Int.MaxValue))
        .otherwise(concat(lit(" "), p)))

  /** What `decode ∘ encode` returns: the pre-tokenizer's normalization
    * of `text` — runs of spaces collapse into the single leading space a
    * pre-token may carry, and orphan (trailing) spaces drop. Identity on
    * text that is already single-spaced without a trailing space.
    */
  def pretokNormalize(textCol: Column): Column =
    concat_ws("", regexp_extract_all(textCol, lit(bpePattern), lit(0)))

  /** Piece-string array → piece-id array against a canonical vocabulary
    * (id = position in `vocab`, the artifact's row order). Pieces absent
    * from `vocab` map to -1 (the caller's unk convention — unigram's
    * single-codepoint UNK fallback can emit pieces outside the trained
    * vocabulary). The vocab rides the plan as a constant-folded map
    * literal: O(1) per piece, no join.
    */
  def piecesToIds(pieces: Column, vocab: Seq[String]): Column = {
    val idOf = map_from_arrays(
      lit(vocab.toArray),
      lit(vocab.indices.toArray))
    transform(pieces, p => coalesce(element_at(idOf, p), lit(-1)))
  }

  /** Piece-id array → piece-string array ([[piecesToIds]] inverse for
    * in-vocabulary ids). Ids outside [0, |vocab|) fail loud — a decode
    * against the wrong artifact must not fabricate text.
    */
  def idsToPieces(ids: Column, vocab: Seq[String]): Column = {
    val v = lit(vocab.toArray)
    transform(ids, i =>
      when(i >= 0 && i < vocab.size, element_at(v, i + 1))
        .otherwise(raise_error(concat(lit("piece id out of range: "), i))))
  }

  /** Full id-level decode: piece ids → text via the artifact vocabulary
    * ([[idsToPieces]] then [[decodePieces]]).
    */
  def decodeIds(ids: Column, vocab: Seq[String]): Column =
    decodePieces(idsToPieces(ids, vocab))

  /** Persist a learned unigram vocabulary as the tokenizer ARTIFACT
    * (piece, log_prob) — the [[saveBpe]] ship face for the unigram
    * family.
    */
  def saveUnigram(spark: org.apache.spark.sql.SparkSession,
                  vocab: Seq[(String, Double)], path: String): Unit = {
    import spark.implicits._
    vocab.toDF("piece", "log_prob")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveUnigram]] artifact; fails loud on an empty or
    * duplicate-piece table. Restores the canonical (prob desc, piece
    * asc) order [[learnUnigram]] emits.
    */
  def loadUnigram(spark: org.apache.spark.sql.SparkSession,
                  path: String): Seq[(String, Double)] = {
    val rows = spark.read.parquet(path)
      .select(col("piece"), col("log_prob").cast("double"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    require(rows.nonEmpty, s"empty unigram artifact at $path")
    require(rows.map(_._1).distinct.length == rows.length,
      s"unigram artifact at $path has duplicate pieces")
    rows.sortBy { case (p, lp) => (-lp, p) }.toSeq
  }

  /** Within-document segment dedup (RefinedWeb/MassiveText line dedup
    * applied inside one document): repeated lines — nav menus, cookie
    * banners, boilerplate — collapse to their first occurrence, order
    * preserved. A codegen'd narrow map over the native
    * [[org.apache.spark.sql.graftfn.DedupSegments]] expression (linear
    * time; streaming-safe). `sep` is a literal separator, default
    * newline; segments re-join with the same separator.
    */
  def dedupSegments(textCol: Column, sep: String = "\n"): Column =
    graft.functions.VectorFunctions.dedup_segments(textCol, sep, sep)

  /** A materialized BM25 inverted index: `postings` (term, doc, tf, dl,
    * df — document length AND term document-frequency denormalized onto
    * every posting so the query path neither joins a lengths table nor
    * re-counts df; plus `tbucket`, the term's partition bucket) and
    * `meta` (one row: __n docs, __avgdl).
    * The encode-once face of [[bm25TopK]] (the ANN-index precedent):
    * build runs the corpus tokenize/aggregate ONCE and lands as parquet
    * `partitionBy("tbucket")`; probes prune to the queried terms' buckets
    * (PartitionFilters — the [[Similarity.ivfTopKPruned]] pattern), then
    * semi-filter to the exact terms.
    */
  final case class Bm25Index(postings: DataFrame, meta: DataFrame)

  /** Fixed term-bucket fan-out for [[bm25Index]]: 256 md5-byte values
    * fold uniformly onto 64 directories, and a probe's q distinct terms
    * touch ≤ q of them — ≥ 98% of the postings files skipped for a
    * 4-query probe at any corpus size.
    */
  val bm25TermBuckets: Int = 64

  /** Deterministic term → bucket, identically computable on the driver
    * (planning a probe's partition filter from plain-string query terms,
    * no Spark job) and in the engine (writing the index): first byte of
    * md5(term), mod [[bm25TermBuckets]]. Engine-portable — any system
    * with md5 can route a term to its postings partition.
    */
  def bm25TermBucket(term: String): Int = {
    val b = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))(0)
    (b & 0xff) % bm25TermBuckets
  }

  private def bm25TermBucketCol(term: Column): Column =
    pmod(conv(substring(md5(term), 1, 2), 16, 10).cast("int"),
      lit(bm25TermBuckets))

  def bm25Index(docs: DataFrame, textCol: String, idCol: String): Bm25Index = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(col(idCol).as("doc"),
        explode(split(col(textCol), " ")).as("term"))
      .where(col("term") =!= "")
      .groupBy(col("doc"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val postings = tf.withColumn("dl",
        sum(col("tf")).over(Window.partitionBy(col("doc"))))
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("term"))).cast("double"))
      .withColumn("tbucket", bm25TermBucketCol(col("term")))
      // co-locate each bucket in one write task: partitionBy("tbucket")
      // then emits one file per (task, bucket-it-owns) instead of
      // tasks × buckets splinters
      .repartition(col("tbucket"))
    val meta = docs.agg(count(lit(1)).cast("double").as("__n"))
      .crossJoin(postings.agg(sum(col("tf")).as("__toks")))
      .select(col("__n"), (col("__toks") / col("__n")).as("__avgdl"))
    Bm25Index(postings, meta)
  }

  /** [[bm25TopK]] over a prebuilt [[Bm25Index]]: the probe's term set
    * first PRUNES the postings scan to its [[bm25TermBucket]] buckets —
    * with the index written `partitionBy("tbucket")` this is a
    * PartitionFilter, so a 4-query probe reads a sliver of the files
    * instead of every posting — then the broadcast query-term set
    * semi-filters to the exact terms (a term's postings live entirely in
    * its one bucket, so per-term df over the pruned scan is exact).
    * Scoring + CollectTopK ranking run with no corpus tokenization at
    * all — the steady-state retrieval shape a decontamination service
    * runs. Results ≡ [[bm25TopK]] (spec-checked).
    */
  def bm25TopKIndexed(index: Bm25Index,
                      queries: Seq[(Long, Seq[String])], k: Int = 10,
                      k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    val spark = index.postings.sparkSession
    import spark.implicits._
    val qdf = broadcast(
      queries.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) }
        .toDF("qid", "term"))
    val postings =
      if (index.postings.columns.contains("tbucket")) {
        val buckets = queries.flatMap(_._2).distinct
          .map(bm25TermBucket).distinct
        index.postings
          .where(col("tbucket").isin(buckets: _*)).drop("tbucket")
      } else index.postings // pre-bucketing index layout
    val p = postings.join(
      broadcast(qdf.select(col("term")).distinct()), Seq("term"))
    // df rides on the postings (build-time denormalization, like dl);
    // a pre-df index layout falls back to a one-pass window re-count —
    // identical values, since a term's postings are never split
    val withDf =
      if (postings.columns.contains("df")) p
      else p.withColumn("df", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("term"))).cast("double"))
    bm25Rank(withDf
      .join(qdf, Seq("term"))
      .crossJoin(broadcast(index.meta)), k, k1, b)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) of ranked
    * retrieval lists — the standard hybrid-retrieval combiner (BM25 ⊕
    * dense vectors): a document's fused score is Σ over lists of
    * `1/(c + rank)`, computed here as the integer `⌊scale/(c + rank)⌋`
    * so the sum is aggregation-order-independent and engine-exact (no
    * float addition order). Inputs need (query_id, doc_id, rank) columns;
    * output (query_id, rank, doc_id, rrf) with ties broken by doc_id.
    *
    * Scale shape: input lists are already per-query top-k (bounded), so
    * the union + groupBy shuffles ≤ Σ kᵢ rows per query; final ranking
    * runs through the bounded CollectTopK heap.
    */
  def rrfFuse(lists: Seq[DataFrame], k: Int, c: Long = 60L,
              scale: Long = 1000000000000L): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(c >= 0 && scale > 0, "c >= 0 and scale > 0")
    val u = lists.map(_.select(col("query_id"), col("doc_id"),
      col("rank").cast("long").as("rank"))).reduce(_ unionAll _)
    val denom = col("rank") + c
    val contrib = floorDiv(lit(scale), denom)
    u.withColumn("__c", contrib)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__c")).as("rrf"))
      .groupBy(col("query_id"))
      .agg(graft.functions.VectorFunctions.collect_top_k(
        struct((-col("rrf")).as("ns"), col("doc_id").as("d")), k,
        reverse = true).as("top"))
      .select(col("query_id"), posexplode(array_sort(col("top"))))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
              col("col.d").as("doc_id"), (-col("col.ns")).as("rrf"))
  }

  /** Perplexity as a pure Column over a literal [[BigramLmModel]] — the
    * projection face: no join, no shuffle, streaming-safe (the
    * classifierScore pattern). Equals the join face wherever the model is
    * unpruned; with a pruned model, dropped bigrams score as unseen.
    * Docs with < 2 tokens yield null.
    */
  def perplexityColumn(textCol: Column, model: BigramLmModel,
                       k: Double = 0.5): Column = {
    val bmap = typedlit(model.bigram)
    val cmap = typedlit(model.context)
    val kv = k * model.vocab
    val t = toks(textCol)
    val n = size(t) - 1
    val lpSum = aggregate(sequence(lit(0), n - 1), lit(0.0).cast("double"),
      (acc, i) => {
        val b = concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2))
        val w1 = element_at(t, i + 1)
        acc + log((coalesce(element_at(bmap, b), lit(0L)).cast("double") + k) /
          (coalesce(element_at(cmap, w1), lit(0L)).cast("double") + kv))
      })
    when(n >= 1, round(exp(-lpSum / n), 4)).otherwise(lit(null).cast("double"))
  }
}
