package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{div, floorDiv}

/** Corpus-management operators every large-scale training-data pipeline
  * needs around the dedup/quality core: deterministic dataset splits,
  * per-source capping, and text normalization. All pure Column expressions
  * (codegen'd, no UDFs) and engine-portable, so each is DuckDB-oracle
  * checkable.
  *
  * At 100 TB: splits and normalization are narrow maps (no shuffle);
  * capPerKey shuffles once on the cap key like any windowed ranking —
  * skewed sources are the classic top-N-per-group problem, bounded here by
  * the cap itself (partial ranking never materializes more than the
  * group's rows, and AQE splits oversized partitions).
  */
object Pipeline {

  /** Engine-portable 60-bit hash of a column's string form: the top 15 hex
    * digits of md5, as a non-negative BIGINT. DuckDB computes the identical
    * value: CAST('0x' || substr(md5(CAST(x AS VARCHAR)), 1, 15) AS BIGINT).
    * Salting: pass concat(x, lit(":salt")) — any string expression works.
    */
  def portableHash60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** Order-independent corpus reproducibility digest — the promote gate
    * a 100 TB pipeline runs before swapping a regenerated table in: did
    * the rerun produce EXACTLY the same rows? Returns ONE row
    * (n_rows, xor_h, sum_h_hi, sum_h_lo): the count, bit-XOR, and exact
    * sum of the portable 60-bit row hash over `cols` (length-prefixed
    * cell encoding — see [[digestRowEncoding]] — so distinct rows can
    * never alias, and NULL ≠ '' ≠ "␀"; the sum is exact DECIMAL(38,0)
    * internally, emitted as BIGINT hi/lo divmod 2^62). All aggregates are commutative+associative, so
    * the digest is independent of row order, partitioning, and
    * parallelism — byte-identical corpora give equal digests regardless
    * of how they were computed, and any added/dropped/changed row moves
    * at least one component (XOR alone cancels even-multiplicity
    * duplicate rows; the exact sum catches exactly those).
    *
    * 100 TB shape: one narrow hash map + ONE partial-agg'd scalar
    * aggregate — map-side combine reduces every partition to four
    * numbers, nothing else shuffles. Engine-portability note: restrict
    * `cols` to string/integer columns when the digest must be replayed
    * in another engine (float/timestamp STRING renderings are
    * engine-specific); within Spark any type digests reproducibly.
    *
    * STREAMING-SAFE as-is (spec-asserted): handed a streaming frame, the
    * same plan runs as an always-on ingest-integrity monitor — Spark
    * keeps the commutative partials as state (a handful of numbers,
    * forever, no watermark), and in complete/update mode the latest row
    * is the digest of everything ingested so far, equal to the batch
    * digest of the union of all micro-batches.
    */
  /** Row encoding for the digest family: each cell is length-prefixed
    * (`<n_chars>:<value>`; NULL is the bare `␀` token, which cannot
    * collide with a prefixed value because those start with a digit),
    * then cells join on a unit separator. Length prefixes make the
    * joined string uniquely decodable, so distinct row tuples can never
    * concatenate to the same string — ("ab","c") and ("a","bc") now
    * encode differently even under separator injection, and a literal
    * "␀" cell encodes as "1:␀" ≠ NULL's bare "␀". Both Spark and
    * DuckDB `length` count Unicode code points, so the encoding replays
    * byte-identically in the oracle engine.
    */
  private[graft] def digestRowEncoding(cols: Seq[String]): Column = {
    val parts = cols.map { c =>
      val s = col(c).cast("string")
      when(s.isNull, lit("␀"))
        .otherwise(concat(length(s).cast("string"), lit(":"), s))
    }
    parts.reduce((a, b) => concat(a, lit("\u001f"), b))
  }

  /** 2^62 — the hi/lo split base for the digest sum. The exact sum of
    * 60-bit row hashes exceeds 2^63 at corpus scale (DECIMAL(38,0)
    * internally), but downstream consumers (row hashers, other engines)
    * are BIGINT-safe, so the digest emits the sum as two BIGINTs:
    * `sum_h_hi = sum div 2^62`, `sum_h_lo = sum mod 2^62`. Lossless
    * (hi·2^62 + lo reconstructs the exact sum for any corpus under
    * ~2^63 rows) and still order-independent.
    */
  private[graft] val DigestSplitBase = 4611686018427387904L // 2^62

  def corpusDigest(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "corpusDigest needs at least one column")
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    df.select(portableHash60(digestRowEncoding(cols)).as("h"))
      .agg(count(lit(1)).as("n_rows"),
        // empty input: aggregates over zero rows are NULL — report the
        // identity elements instead (the checkConstraints convention)
        coalesce(expr("bit_xor(h)"), lit(0L)).as("xor_h"),
        coalesce(sum(col("h").cast(dec38)), lit(0L).cast(dec38))
          .as("s"))
      .select(col("n_rows"), col("xor_h"),
        expr(s"s div ${DigestSplitBase}L").as("sum_h_hi"),
        pmod(col("s"), lit(DigestSplitBase)).cast("long").as("sum_h_lo"))
  }

  /** Per-group face of [[corpusDigest]] — one digest row per `byCol`
    * value, so a partitioned 100 TB table promotes incrementally: only
    * partitions whose (n_rows, xor_h, sum_h) moved need re-validation or
    * re-publication, and a partition-level diff of two table versions is
    * a join of two digest tables instead of a row-level anti-join over
    * the corpus. NULL group keys digest as their own group (they are
    * data, not absence of a group). Same one-scan partial-agg'd shape,
    * keyed by the group column.
    */
  def corpusDigestBy(df: DataFrame, cols: Seq[String],
                     byCol: String): DataFrame = {
    require(cols.nonEmpty, "corpusDigestBy needs at least one column")
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    df.select(col(byCol), portableHash60(digestRowEncoding(cols)).as("h"))
      .groupBy(col(byCol))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("xor_h"),
        sum(col("h").cast(dec38)).as("s"))
      .select(col(byCol), col("n_rows"), col("xor_h"),
        expr(s"s div ${DigestSplitBase}L").as("sum_h_hi"),
        pmod(col("s"), lit(DigestSplitBase)).cast("long").as("sum_h_lo"))
  }

  /** Partition-level diff of two [[corpusDigestBy]] tables — the
    * promote decision itself: which partitions of a regenerated table
    * changed, appeared, or vanished, WITHOUT touching corpus rows. One
    * row per group key with `status` ∈ 'same' | 'changed' | 'added' |
    * 'removed' ('added' = present only in `next`) and both sides' row
    * counts (−1 for the absent side, so the report stays integer-typed
    * and engine-portable). Two digest tables join full-outer on the
    * group key — group-cardinality-sized, trivially broadcastable; the
    * 100 TB corpora behind them are never re-read.
    */
  def digestDiff(prev: DataFrame, next: DataFrame,
                 byCol: String): DataFrame = {
    def side(df: DataFrame, tag: String) = df.select(col(byCol),
      col("n_rows").as(s"${tag}_n"), col("xor_h").as(s"${tag}_x"),
      col("sum_h_hi").as(s"${tag}_sh"), col("sum_h_lo").as(s"${tag}_sl"))
    side(prev, "p").join(side(next, "n"), Seq(byCol), "full_outer")
      .select(col(byCol),
        when(col("p_n").isNull, lit("added"))
          .when(col("n_n").isNull, lit("removed"))
          .when(col("p_n") === col("n_n") && col("p_x") === col("n_x") &&
                col("p_sh") === col("n_sh") && col("p_sl") === col("n_sl"),
            lit("same"))
          .otherwise(lit("changed")).as("status"),
        coalesce(col("p_n"), lit(-1L)).as("n_rows_prev"),
        coalesce(col("n_n"), lit(-1L)).as("n_rows_next"))
  }

  /** Deterministic train/val/test split by id hash: stable across runs,
    * machines, and engines (no RNG, no zipWithIndex). `fractions` are
    * cumulative-bucket widths over 1e6 buckets; rows hash into the first
    * label whose cumulative range contains them.
    */
  /** Ops that add or consume working columns fail fast on a name
    * collision instead of silently replacing or dropping caller data
    * (`withColumn`/`drop` would, with no warning).
    */
  private def requireFresh(df: DataFrame, op: String, cols: String*): Unit =
    cols.foreach(c => require(!df.columns.contains(c),
      s"$op adds or consumes a '$c' column; rename the input's '$c' first"))

  def splitByHash(df: DataFrame, idCol: String,
                  fractions: Seq[(String, Double)],
                  salt: String = ""): DataFrame = {
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got ${fractions.map(_._2).sum}")
    requireFresh(df, "splitByHash", "split")
    val buckets = 1000000L
    val h = pmod(portableHash60(concat(col(idCol).cast("string"), lit(salt))),
                 lit(buckets))
    val cums = fractions.scanLeft(0.0)(_ + _._2).tail.map(f =>
      math.round(f * buckets))
    val expr0 = fractions.zip(cums).reverse
      .foldLeft(lit(fractions.last._1)) { case (acc, ((label, _), cum)) =>
        when(h < cum, lit(label)).otherwise(acc)
      }
    df.withColumn("split", expr0)
  }

  /** Deterministic mixture sampling: downsample each source to its target
    * fraction (the data-mixture step every pretraining pipeline runs —
    * "keep 100% of books, 30% of web, 5% of logs"). A row survives iff
    * pmod(h60(id:salt), 1e6) < frac(source)·1e6 — pure narrow map, no
    * shuffle, no RNG state; reproducible across runs, engines, and
    * partitionings, and a superset-corpus rerun keeps a SUBSET property
    * per id (the same ids survive). Sources absent from `fractions` keep
    * `defaultFraction`.
    */
  def sampleByMixture(df: DataFrame, sourceCol: String, idCol: String,
                      fractions: Map[String, Double],
                      defaultFraction: Double = 1.0,
                      salt: String = ""): DataFrame = {
    require((fractions.values ++ Seq(defaultFraction)).forall(f =>
      f >= 0 && f <= 1), "fractions must be in [0, 1]")
    val buckets = 1000000L
    val h = pmod(portableHash60(concat(col(idCol).cast("string"), lit(salt))),
                 lit(buckets))
    val thresh = fractions.toSeq.sortBy(_._1)
      .foldLeft(lit(math.round(defaultFraction * buckets))) {
        case (acc, (src, f)) =>
          when(col(sourceCol) === src, lit(math.round(f * buckets)))
            .otherwise(acc)
      }
    df.where(h < thresh)
  }

  /** Deterministic per-ROW weighted sampling: each row survives with
    * probability `weight` (clamped to [0, 1]) — quality-weighted
    * subsampling, "keep documents in proportion to their quality score",
    * the per-row generalization of [[sampleByMixture]]'s per-source
    * constants. Same hash-threshold construction: survive iff
    * pmod(h60(id:salt), 1e6) < round(weight·1e6). Pure narrow map — no
    * shuffle, no RNG state — reproducible across runs/engines/
    * partitionings, and MONOTONE per id: raising a row's weight can only
    * keep it (the hash draw is fixed by the id), so threshold sweeps nest.
    */
  def sampleByWeight(df: DataFrame, weight: Column, idCol: String,
                     salt: String = ""): DataFrame = {
    val buckets = 1000000L
    val h = pmod(portableHash60(concat(col(idCol).cast("string"), lit(salt))),
                 lit(buckets))
    df.where(h < round(greatest(lit(0.0), least(weight, lit(1.0))) * buckets))
  }

  /** Temporal train/test split with an embargo gap — the leakage control
    * for time-ordered data ([[splitByHash]] is wrong there: a random split
    * lets the model train on the future). Rows before `cutoff` are
    * `train`; rows inside `[cutoff, cutoff + embargoSeconds)` are
    * `embargo` (dropped from both sides — features computed over trailing
    * windows straddle the boundary); the rest are `test`. Pure narrow
    * predicate on exact integer micros; timestamp-type tolerant.
    */
  def splitByTime(df: DataFrame, tsCol: String, cutoff: String,
                  embargoSeconds: Long = 0L): DataFrame = {
    require(embargoSeconds >= 0, s"embargoSeconds must be >= 0")
    val us = unix_micros(col(tsCol).cast("timestamp"))
    val cutUs = unix_micros(to_timestamp(lit(cutoff)))
    val label = when(us < cutUs, "train")
      .when(us < cutUs + embargoSeconds * 1000000L, "embargo")
      .otherwise("test")
    df.withColumn("split", label)
  }

  /** Exact-k WEIGHTED sampling without replacement (Efraimidis-Spirakis
    * A-ES): each row draws a deterministic uniform u from the portable
    * id hash and ranks by the exponential key `-ln(u) / w` ascending —
    * the k smallest keys are a weighted-without-replacement draw
    * (P(row first) = wᵢ/Σw, then recursively). [[sampleByWeight]] is the
    * Bernoulli face (expected rate, unbounded count); this is the
    * fixed-budget face (exactly k rows, heavier rows likelier).
    *
    * Deterministic and engine-portable: u = (hash+1)/(2^60+1) ∈ (0,1],
    * keys round to 9 decimals with `idCol` as the total-order tie-break
    * (the perplexity/BM25 transcendental-rounding contract). Rows with
    * weight ≤ 0 never sample. ONE TopK pass — map tasks forward ≤ k rows
    * (TakeOrderedAndProject), no full sort.
    */
  def sampleExactWeighted(df: DataFrame, weight: Column, k: Int,
                          idCol: String, salt: String = ""): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val buckets = 1152921504606846976L // 2^60
    val h = portableHash60(concat(col(idCol).cast("string"), lit(salt)))
    val u = (h + 1).cast("double") / lit(buckets + 1).cast("double")
    val key = round(-log(u) / weight, 9)
    df.where(weight > 0)
      .withColumn("__es_key", key)
      .orderBy(col("__es_key").asc, col(idCol).asc)
      .limit(k)
      .drop("__es_key")
  }

  /** Per-key face of [[sampleExactWeighted]]: exactly `n` rows per key
    * (fewer in smaller strata), weighted-without-replacement WITHIN each
    * stratum via the same deterministic exponential keys — the
    * per-language / per-domain quality-weighted budget allocator
    * ([[sampleExactPerKey]] is its uniform twin). ONE window shuffle on
    * the key columns, no global sort; rows with weight ≤ 0 never sample.
    */
  def sampleExactWeightedPerKey(df: DataFrame, keyCols: Seq[String],
                                n: Int, weight: Column, idCol: String,
                                salt: String = ""): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val buckets = 1152921504606846976L // 2^60
    val h = portableHash60(concat(col(idCol).cast("string"), lit(salt)))
    val u = (h + 1).cast("double") / lit(buckets + 1).cast("double")
    capPerKey(df.where(weight > 0), keyCols, n,
      Seq(round(-log(u) / weight, 9), col(idCol)))
  }

  /** Temperature-scaled mixture weights over a key (the multilingual /
    * multi-domain mixing recipe: sampling probability ∝ mass^α, α ∈ (0,1]
    * — α=1 keeps the natural distribution, α→0 approaches uniform,
    * flattening head languages/domains without discarding the tail).
    * Returns one row per key: (key, mass, p = natural share, q =
    * temperature share). `mass` defaults to row count; pass a column
    * (e.g. token counts) to weight by corpus mass instead.
    *
    * At 100 TB: ONE scan + one partial-agg shuffle on the key; the
    * normalizing sums run as a global window over the #keys-row aggregate
    * (languages/domains — dozens), so the single-partition window frame is
    * tiny by construction (a crossJoin against `stats.agg(...)` would
    * re-evaluate the aggregate's lineage and scan the corpus twice).
    */
  def mixtureWeights(df: DataFrame, keyCol: String, alpha: Double,
                     mass: Column = lit(1L)): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    df.groupBy(col(keyCol))
      .agg(sum(mass).cast("double").as("mass"))
      .withColumn("qnum", pow(col("mass"), lit(alpha)))
      .select(col(keyCol), col("mass"),
              (col("mass") / sum(col("mass")).over(all)).as("p"),
              (col("qnum") / sum(col("qnum")).over(all)).as("q"))
  }

  /** Deterministic temperature RESAMPLING to a target budget: per-key rate
    * r_k = target · q_k / mass_k (q from [[mixtureWeights]]), then each row
    * is replicated floor(r_k) times plus one more with probability
    * frac(r_k) — so tail keys UPSAMPLE (epochs 0,1,… mark the copies, the
    * "seen n times per training epoch" convention) and head keys
    * downsample, landing the output within one row per key of target in
    * expectation. The fractional survivor draw is the same portable
    * hash-threshold as [[sampleByWeight]] (salted with the epoch so
    * each copy draws independently): no RNG state, reproducible across
    * runs, engines, and partitionings.
    *
    * At 100 TB: the rate table is one tiny broadcast join; replication is
    * a narrow explode (output size = the budget, by construction — the
    * explode cannot blow up past target + #keys rows).
    */
  def sampleToTemperature(df: DataFrame, keyCol: String, idCol: String,
                          alpha: Double, target: Long,
                          mass: Column = lit(1L),
                          salt: String = ""): DataFrame = {
    require(target > 0, s"target must be positive, got $target")
    requireFresh(df, "sampleToTemperature", "epoch", "rate")
    val buckets = 1000000L
    val rates = mixtureWeights(df, keyCol, alpha, mass)
      .select(col(keyCol),
              (lit(target.toDouble) * col("q") / col("mass")).as("rate"))
    val h = pmod(portableHash60(concat(col(idCol).cast("string"), lit(":"),
                 col("epoch").cast("string"), lit(salt))), lit(buckets))
    df.join(broadcast(rates), Seq(keyCol))
      .withColumn("epoch",
        explode(sequence(lit(0), ceil(col("rate")).cast("int") - 1)))
      .where(col("epoch") < floor(col("rate")) ||
             h < round((col("rate") - floor(col("rate"))) * buckets))
      .drop("rate")
  }

  /** Deterministic EPOCH SHUFFLE: a total pseudo-random training order,
    * re-drawn per epoch — `ORDER BY h60(id:epoch:salt), id`. No RNG
    * state: the order is a pure function of (id, epoch, salt), so it is
    * identical across runs, partitionings, and engines, and two epochs
    * give independent-looking orders. At 100 TB this is Spark's
    * range-partitioned global sort (sampling pass + sorted write — the
    * shape `writeZOrdered` also uses); a pipeline writes each epoch's
    * order once and streams it sequentially.
    */
  def epochShuffle(df: DataFrame, idCol: String, epoch: Int,
                   salt: String = ""): DataFrame = {
    requireFresh(df, "epochShuffle", "shuffle_key")
    df.withColumn("shuffle_key",
        portableHash60(concat(col(idCol).cast("string"),
                              lit(s":$epoch:$salt"))))
      .orderBy(col("shuffle_key"), col(idCol))
  }

  /** Materialize one epoch's training order as deterministic parquet
    * shards — the artifact a data loader actually consumes. The
    * [[epochShuffle]] key range-partitions into `numShards` files
    * (shard s holds a contiguous slice of the shuffled order) and each
    * file is sorted by the key, so "read shard 0, then 1, …" replays
    * the exact global order with no further sort anywhere. Deterministic
    * end to end: same corpus + epoch + salt → byte-identical shard
    * contents, and successive epochs re-draw independent orders.
    *
    * 100 TB shape: one range-partitioned sort shuffle (sampled range
    * bounds), numShards writer tasks, no driver involvement; shard
    * count = loader parallelism.
    */
  def writeTrainingShards(df: DataFrame, idCol: String, epoch: Int,
                          outDir: String, numShards: Int,
                          salt: String = ""): Unit = {
    require(numShards >= 1, "numShards must be >= 1")
    epochShuffle(df, idCol, epoch, salt)
      .repartitionByRange(numShards, col("shuffle_key"), col(idCol))
      .sortWithinPartitions(col("shuffle_key"), col(idCol))
      .write.mode("overwrite").parquet(outDir)
  }

  /** Source-balanced interleaving: a training order where consecutive
    * examples ROTATE across sources (round-robin over each source's
    * deterministically-shuffled stream) instead of arriving in
    * source-correlated runs — long single-source stretches bias
    * gradient batches the same way unshuffled data does, and a plain
    * hash shuffle only mixes proportionally in expectation. Position
    * `(within-source rank) · nSources + sourceIndex` interleaves
    * exactly; exhausted (smaller) sources leave gaps that preserve the
    * rotation among the rest. Sort by `interleave_pos` to read.
    *
    * 100 TB shape: ONE range-partitioned total sort by (source, hash)
    * + the deterministic sorted-RDD zipWithIndex (the [[epochShuffle]]
    * rank pattern — per-source window ranks would put each whole source
    * in one partition), a source-count aggregate COLLECTED to the
    * driver (bounded by the number of sources, not rows), and narrow
    * maps. Within-source order is the portable id hash: deterministic
    * across runs and engines.
    */
  def interleaveBySources(df: DataFrame, sourceCol: String,
                          idCol: String = "doc_id",
                          salt: String = ""): DataFrame = {
    requireFresh(df, "interleaveBySources", "interleave_pos", "__h", "__rank")
    val spark = df.sparkSession
    val withH = df.withColumn("__h",
      portableHash60(concat(col(idCol).cast("string"), lit(s":il:$salt"))))
    // sources sort in STRING form so the global sort agrees with the
    // string-keyed offset table below for any source type
    val sorted = withH.orderBy(col(sourceCol).cast("string"), col("__h"),
      col(idCol))
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        "__rank", org.apache.spark.sql.types.LongType, nullable = false))
    val ranked = OpCaches.persist(spark.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) }, schema))
    // per-source offsets/indices: bounded by the source cardinality.
    // Ordered by SPARK's own orderBy on the casted column (ADVICE r8) so
    // the offset table agrees byte-for-byte with the global sort above —
    // a driver-side Scala sortBy compares UTF-16 code units, which
    // disagrees with Spark's UTF8-binary order for supplementary
    // characters. NULL sources keep their own bucket (null-first, same
    // as the global sort) and match via null-safe <=> rather than
    // falling through to offset 0.
    val counts = ranked.groupBy(col(sourceCol).cast("string").as("__src"))
      .agg(count(lit(1)).as("__c"))
      .orderBy(col("__src"))
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1))
    val nSources = counts.length.toLong
    val offsets = counts.map(_._2).scanLeft(0L)(_ + _)
    def srcLit(src: Option[String]): Column =
      src.map(lit(_)).getOrElse(lit(null).cast("string"))
    val offExpr = counts.zipWithIndex.foldLeft(lit(0L)) {
      case (acc, ((src, _), i)) =>
        when(col(sourceCol).cast("string") <=> srcLit(src), lit(offsets(i)))
          .otherwise(acc)
    }
    val idxExpr = counts.zipWithIndex.foldLeft(lit(0L)) {
      case (acc, ((src, _), i)) =>
        when(col(sourceCol).cast("string") <=> srcLit(src), lit(i.toLong))
          .otherwise(acc)
    }
    ranked
      .withColumn("interleave_pos",
        (col("__rank") - offExpr) * nSources + idxExpr)
      .drop("__h", "__rank")
  }

  /** Curriculum staging (Bengio et al. 2009): rank every row by a
    * difficulty/quality score (ties broken by id — total, deterministic)
    * and cut the ranking into `nStages` EXACT quantile stages,
    * `stage = rank·nStages // n + 1` ∈ [1, nStages] (exact integer
    * division in both engines). `curriculum_key` is the
    * [[epochShuffle]] portable hash, so training reads stages in order
    * but shuffled WITHIN each stage — sort by (stage, curriculum_key,
    * id). Early stages = lowest scores; pass a negated score column for
    * hardest-first.
    *
    * 100 TB shape: one range-partitioned total sort + the deterministic
    * sorted-RDD zipWithIndex (the [[epochShuffle]]/negativeSamples rank
    * pattern — no single-partition window), one count, then pure narrow
    * maps. The ranked frame persists once (OpCaches lifecycle) because
    * the count and the projection both read it.
    */
  def curriculumStages(df: DataFrame, scoreCol: String, nStages: Int,
                       idCol: String = "doc_id",
                       salt: String = ""): DataFrame = {
    require(nStages >= 1, s"nStages must be >= 1, got $nStages")
    requireFresh(df, "curriculumStages", "stage", "curriculum_key", "__rank")
    val spark = df.sparkSession
    val sorted = df.orderBy(col(scoreCol), col(idCol))
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        "__rank", org.apache.spark.sql.types.LongType, nullable = false))
    val ranked = OpCaches.persist(spark.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) }, schema))
    val n = math.max(1L, ranked.count())
    ranked
      .withColumn("stage",
        (floorDiv(col("__rank") * nStages, lit(n)) + 1).cast("int"))
      .withColumn("curriculum_key",
        portableHash60(concat(col(idCol).cast("string"), lit(s":cur:$salt"))))
      .drop("__rank")
  }

  /** Pure integer waterfill: distribute `budget` across `items` of
    * `(key, weightPpm, avail)` proportionally to weight, capping each key
    * at its available mass and redistributing the unused share of
    * saturated keys to the rest — the standard budget-allocation loop of
    * a data-mixing recipe ("fill 1T tokens at 60% web / 20% code / …" when
    * some domain has fewer tokens than its share). All arithmetic is Long
    * (floor division), so the result is exactly reproducible in any
    * engine's integer SQL; each round saturates ≥ 1 key or finishes, so
    * ≤ items.size rounds. Flooring may leave up to ~#keys tokens of the
    * budget unassigned (documented, deterministic).
    */
  private[graft] def waterfill(items: Seq[(String, Long, Long)],
                               budget: Long): Seq[(String, Long)] = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(budget <= Long.MaxValue / 1000000L,
      s"budget too large for exact ppm arithmetic, got $budget")
    require(items.forall { case (_, w, a) => w >= 0 && a >= 0 },
      "weights and avail masses must be >= 0")
    val alloc = scala.collection.mutable.Map[String, Long]()
    var pending = items
    var rem = budget
    while (pending.nonEmpty) {
      val wsum = pending.map(_._2).sum
      if (wsum == 0L) {
        pending.foreach { case (k, _, _) => alloc(k) = 0L }
        pending = Nil
      } else {
        val want = pending.map { case (k, w, a) => (k, w, a, rem * w / wsum) }
        val (sat, unsat) = want.partition { case (_, _, a, wt) => a <= wt }
        if (sat.nonEmpty) {
          sat.foreach { case (k, _, a, _) => alloc(k) = a; rem -= a }
          pending = unsat.map { case (k, w, a, _) => (k, w, a) }
        } else {
          want.foreach { case (k, _, _, wt) => alloc(k) = wt }
          pending = Nil
        }
      }
    }
    items.map { case (k, _, _) => k -> alloc(k) }
  }

  /** Budget-driven mixture allocation over a key column: per-key available
    * mass (Σ `mass`, e.g. token counts), then [[waterfill]]s `budget`
    * across the keys in `weightsPpm` (parts-per-million, must sum to 1e6).
    * Returns one row per weighted key: (key, avail, alloc, keep_ppm) where
    * keep_ppm = alloc·1e6 / avail is the integer survival threshold
    * [[sampleToBudget]] applies. Keys in the data but not in `weightsPpm`
    * get nothing; weighted keys absent from the data get avail = 0.
    *
    * At 100 TB: one partial-agg shuffle to #keys rows, a #keys-row collect
    * (domains/languages — dozens), and the driver loop — the allocation
    * table is model-sized, never data-sized. ppm integers rather than
    * double fractions keep every division a floor division, so the DuckDB
    * oracle reproduces the allocation bit-for-bit (`ds_budget_alloc`).
    */
  def allocateBudget(df: DataFrame, keyCol: String,
                     weightsPpm: Seq[(String, Long)], budget: Long,
                     mass: Column = lit(1L)): DataFrame = {
    require(weightsPpm.nonEmpty && weightsPpm.map(_._2).sum == 1000000L,
      s"weightsPpm must sum to 1000000, got ${weightsPpm.map(_._2).sum}")
    require(weightsPpm.map(_._1).distinct.size == weightsPpm.size,
      "duplicate keys in weightsPpm")
    val spark = df.sparkSession
    val avail = df.groupBy(col(keyCol).cast("string").as("k"))
      .agg(sum(mass.cast("long")).as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val items = weightsPpm.map { case (k, w) =>
      (k, w, math.max(0L, avail.getOrElse(k, 0L)))
    }
    val alloc = waterfill(items, budget).toMap
    import spark.implicits._
    items.map { case (k, _, a) =>
      val al = alloc(k)
      (k, a, al, if (a > 0) al * 1000000L / a else 0L)
    }.toSeq.toDF(keyCol, "avail", "alloc", "keep_ppm")
  }

  /** Neyman-optimal stratified sample allocation: split a total sample
    * `budget` across strata proportionally to `N_h·σ_h` — the
    * allocation minimizing the stratified-mean variance (vs
    * proportional allocation, which ignores within-stratum spread; a
    * high-variance stratum earns more of the budget). Exact integer
    * derivation: `N_h·σ_h = √(N_h·Σv² − (Σv)²)` — the sums and the
    * radicand are computed in DECIMAL(38,0) so `N_h·Σv²` and `(Σv)²`
    * cannot wrap a Long silently (a decimal overflow nulls, which the
    * range check turns into a loud raise); the integer √ is
    * `floor(sqrt(·))`, identical in any engine while the radicand
    * stays in [0, 2⁵³] (quantize values upstream if `N_h·Σv²`
    * approaches it — checked loud). Budget splits by
    * LARGEST-REMAINDER rounding (exact: `alloc_h = budget·w_h // Σw`,
    * leftovers to the biggest remainders, stratum-name tie-break), so
    * `Σ alloc = budget` always. `alloc_capped = min(alloc, N_h)` —
    * Neyman can demand more than a stratum holds; route the surplus
    * through [[waterfill]] when the cap binds. Returns one row per
    * stratum: (stratum, n, w, alloc, alloc_capped). Zero-variance
    * strata get w = 0 (they need ONE sample in theory — take
    * alloc_capped ∨ 1 by policy). When EVERY stratum has zero variance
    * (Σw = 0 — Neyman provides no signal) the budget splits evenly:
    * `budget // k` each plus the remainder round-robin by stratum
    * name, so `Σ alloc = budget` holds in that case too.
    *
    * Shape: one partial-agg'd groupBy to strata-sized sums, then
    * strata-sized windows — nothing corpus-sized.
    */
  def neymanAllocation(df: DataFrame, strataCol: String, valueCol: String,
                       budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    import org.apache.spark.sql.expressions.Window
    // DECIMAL(38,0) end-to-end: v² for any Long v fits (≤ ~8.5e37),
    // the sums widen without wrapping, and a true decimal overflow
    // yields null — which the range check below raises on loudly
    // instead of letting a wrapped Long masquerade as a valid radicand.
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val sums = df
      .select(col(strataCol).cast("string").as("stratum"),
        col(valueCol).cast("long").cast(dec).as("v"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum(col("v") * col("v")).as("ssq"))
    val rad = col("n").cast(dec) * col("ssq") - col("s") * col("s")
    val guarded = sums.select(col("stratum"), col("n"),
      when(rad >= 0 && rad <= lit(1L << 53).cast(dec),
        rad.cast("long")).otherwise(
        raise_error(concat(lit("neymanAllocation: radicand outside " +
          "[0, 2^53] for stratum "), col("stratum"),
          lit(" - quantize values upstream")))).as("rad"))
    val w = floor(sqrt(col("rad").cast("double"))).cast("long")
    val weighted = guarded.select(col("stratum"), col("n"), w.as("w"))
    val wAll = Window
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val base = weighted
      .withColumn("__tw", sum(col("w")).over(wAll))
      .withColumn("__k", count(lit(1)).over(wAll))
      // Σw = 0 fallback: even split; the leftover pass below hands the
      // remainder to the first (budget mod k) strata by name — so the
      // Σ alloc = budget invariant holds with or without signal.
      .withColumn("__q", when(col("__tw") > 0,
        floorDiv(col("w") * budget, col("__tw")))
        .otherwise(floorDiv(lit(budget), col("__k"))))
      .withColumn("__r", when(col("__tw") > 0,
        pmod(col("w") * budget, col("__tw"))).otherwise(0L))
      .withColumn("__left",
        lit(budget) - sum(col("__q")).over(wAll))
      .withColumn("__rk", row_number().over(Window
        .orderBy(col("__r").desc, col("stratum").asc)).cast("long"))
    base.select(col("stratum"), col("n"), col("w"),
        (col("__q") + when(col("__rk") <= col("__left"), 1L)
          .otherwise(0L)).as("alloc"))
      .withColumn("alloc_capped", least(col("alloc"), col("n")))
  }

  /** Downsample to a token budget: rows of each weighted key survive at
    * the integer ppm rate [[allocateBudget]] derived, by the same
    * portable hash-threshold draw as [[sampleByMixture]] — so the kept
    * mass per key lands at `alloc` in expectation, deterministically,
    * with no RNG state. The allocation table broadcasts; the filter is a
    * narrow map over the corpus scan.
    */
  def sampleToBudget(df: DataFrame, keyCol: String, idCol: String,
                     weightsPpm: Seq[(String, Long)], budget: Long,
                     mass: Column = lit(1L), salt: String = ""): DataFrame = {
    requireFresh(df, "sampleToBudget", "avail", "alloc", "keep_ppm")
    val rates = allocateBudget(df, keyCol, weightsPpm, budget, mass)
    val h = pmod(portableHash60(concat(col(idCol).cast("string"), lit(salt))),
                 lit(1000000L))
    df.join(broadcast(rates), Seq(keyCol))
      .where(h < col("keep_ppm"))
      .drop("avail", "alloc", "keep_ppm")
  }

  /** Keep at most `n` rows per key, by `orderCol` ascending (ties broken by
    * the order column set) — the per-domain / per-source cap that keeps a
    * crawl from being dominated by one site.
    */
  def capPerKey(df: DataFrame, keyCols: Seq[String], n: Int,
                orderCols: Seq[Column]): DataFrame = {
    requireFresh(df, "capPerKey", "__rk")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= n)
      .drop("__rk")
  }

  /** Deterministic exact-size stratified sample: exactly `n` rows per key
    * (fewer if the stratum is smaller), chosen by the engine-portable hash
    * of the id — "random" in distribution yet stable across runs, engines,
    * and partitionings, with none of `sample()`'s approximate row counts.
    * The per-stratum eval-set / inspection-sample builder.
    *
    * At 100 TB: the windowed-ranking shape of [[capPerKey]] — one shuffle
    * on the stratum key; the hash order costs one extra expression column.
    */
  def sampleExactPerKey(df: DataFrame, keyCols: Seq[String], n: Int,
                        idCol: String, salt: String = ""): DataFrame =
    capPerKey(df, keyCols, n,
      Seq(portableHash60(concat(col(idCol).cast("string"), lit(salt))),
          col(idCol)))

  /** Streaming face of [[sampleExactPerKey]]: maintain, per key, the n rows
    * with the smallest (portable-hash, id) priority as an incrementally
    * updated changelog. A hash-priority reservoir is order-independent —
    * after any prefix of the stream, the sample equals the batch operator
    * run on the same rows — which is what makes a *deterministic* exact-n
    * sample possible on an infinite stream (classic reservoir sampling is
    * arrival-order dependent and needs RNG state).
    *
    * Emissions are changelog events (`in_sample` true = the id entered the
    * sample, false = it was displaced by a smaller priority). Displacement
    * is permanent for a given id — the key's n-th-smallest threshold only
    * ever decreases — so the live sample at any point is simply
    * adds − evictions, no ordering needed.
    *
    * 100 TB shape: state is EXACTLY n (priority, id) pairs per key — no
    * growth with stream length, no watermark required; one shuffle on the
    * key columns, like every keyed stateful op.
    */
  def sampleExactPerKeyStream(df: DataFrame, keyCols: Seq[String], n: Int,
                              idCol: String, salt: String = ""): DataFrame = {
    import org.apache.spark.sql.types.LongType
    require(n >= 1, s"sampleExactPerKeyStream needs n >= 1, got $n")
    samplePriorityStream(df, keyCols, n, idCol,
      portableHash60(concat(col(idCol).cast("string"), lit(salt))),
      LongType,
      (a, b) => java.lang.Long.compare(a.getLong(0), b.getLong(0)))
  }

  /** Streaming face of [[sampleExactWeightedPerKey]]: the same
    * changelog reservoir kernel with the deterministic Efraimidis-
    * Spirakis exponential key as the priority — heavier rows draw
    * smaller keys, so the per-key live sample after any stream prefix
    * equals the batch weighted draw over the same rows (priority
    * reservoirs are arrival-order independent; this is Efraimidis &
    * Spirakis's own streaming formulation). Weight must be computable
    * from the row (a column expression); rows with weight ≤ 0 never
    * enter. State: exactly n (priority, id) pairs per key.
    */
  def sampleExactWeightedPerKeyStream(df: DataFrame, keyCols: Seq[String],
                                      n: Int, weight: Column, idCol: String,
                                      salt: String = ""): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    require(n >= 1, s"sampleExactWeightedPerKeyStream needs n >= 1, got $n")
    val buckets = 1152921504606846976L // 2^60
    val h = portableHash60(concat(col(idCol).cast("string"), lit(salt)))
    val u = (h + 1).cast("double") / lit(buckets + 1).cast("double")
    samplePriorityStream(df.where(weight > 0), keyCols, n, idCol,
      round(-log(u) / weight, 9), DoubleType,
      (a, b) => java.lang.Double.compare(a.getDouble(0), b.getDouble(0)))
  }

  /** The shared changelog-reservoir kernel: per key, keep the n rows
    * with the smallest (priority, id); emit adds and evictions.
    */
  private def samplePriorityStream(df: DataFrame, keyCols: Seq[String],
      n: Int, idCol: String, pri: Column,
      priType: org.apache.spark.sql.types.DataType,
      priCompare: (org.apache.spark.sql.Row,
                   org.apache.spark.sql.Row) => Int): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.types._
    val idType = df.schema(idCol).dataType
    val prepared = df.select(
      (keyCols.map(col) :+ col(idCol).as("__id") :+ pri.as("__pri")): _*)
    val keySchema = StructType(keyCols.map(prepared.schema(_)))
    val kEnc = Encoders.row(keySchema)
    val rowEnc = Encoders.row(prepared.schema)
    // state: the current sample, sorted by (priority, id)
    val entrySchema = StructType(Seq(
      StructField("pri", priType), StructField("id", idType)))
    val sEnc = Encoders.row(StructType(Seq(
      StructField("entries", ArrayType(entrySchema)))))
    val outSchema = StructType(keySchema.fields ++ Seq(
      StructField("id", idType), StructField("in_sample", BooleanType)))
    val oEnc = Encoders.row(outSchema)
    val nKeys = keyCols.length
    implicit val entryOrd: Ordering[Row] = new Ordering[Row] {
      def compare(a: Row, b: Row): Int = {
        val c = priCompare(a, b)
        if (c != 0) c
        else a.get(1).asInstanceOf[Comparable[Any]].compareTo(b.get(1))
      }
    }
    prepared
      .groupByKey(r => Row.fromSeq(keyCols.indices.map(r.get)))(kEnc)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Row, it: Iterator[Row], state: GroupState[Row]) =>
          val prev: Seq[Row] = state.getOption
            .map(_.getSeq[Row](0)).getOrElse(Seq.empty)
          val incoming = it.map(r =>
            Row(r.get(nKeys + 1), r.get(nKeys))).toArray
          val merged = (prev ++ incoming).distinct.sorted.take(n)
          if (merged != prev) state.update(Row(merged))
          val prevIds = prev.map(_.get(1)).toSet
          val nowIds = merged.map(_.get(1)).toSet
          val added = merged.iterator.filterNot(e => prevIds(e.get(1)))
            .map(e => Row.fromSeq(key.toSeq :+ e.get(1) :+ true))
          val evicted = prev.iterator.filterNot(e => nowIds(e.get(1)))
            .map(e => Row.fromSeq(key.toSeq :+ e.get(1) :+ false))
          added ++ evicted
      }(sEnc, oEnc)
      .toDF()
  }

  /** Sequence packing for training batches: concatenate documents in id
    * order and assign each its byte/token span — (start offset, first bin,
    * last bin) against a fixed `budget`-token bin width. The global
    * cumulative sum is computed WITHOUT a single-partition window (the
    * naive `Window.orderBy(id)` collapses 100 TB onto one task): range-
    * partition by id, per-partition sorted prefix sums, then an exclusive
    * scan of the per-partition totals (a driver-side array of
    * #partitions longs) broadcast back as offsets. The result is
    * partitioning-independent — each doc's offset is exactly the token
    * count of all lower-id docs.
    */
  def packSequences(df: DataFrame, idCol: String, tokenCol: Column,
                    budget: Long): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val base = df.select(col(idCol).as("id"), tokenCol.cast("long").as("tok"))
      .repartitionByRange(col("id"))
      .sortWithinPartitions("id")
      // pin the (sampled) range boundaries: the totals pass and the offset
      // pass must see the identical partitioning
      .transform(OpCaches.persist)
    val pidTotals = base
      .groupBy(spark_partition_id().as("__pid"))
      .agg(sum(col("tok")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // size by the ACTUAL partition count, not the highest pid with data —
    // empty partitions still evaluate offsets(pid) eagerly in mapPartitions
    val nParts = base.rdd.getNumPartitions
    val offsets = new Array[Long](nParts + 1)
    (0 until nParts).foreach { p =>
      offsets(p + 1) = offsets(p) + pidTotals.getOrElse(p, 0L)
    }
    val bc = spark.sparkContext.broadcast(offsets)
    val outSchema = StructType(Seq(
      base.schema("id"),
      StructField("tok", LongType, nullable = false),
      StructField("start", LongType, nullable = false),
      StructField("first_bin", LongType, nullable = false),
      StructField("last_bin", LongType, nullable = false)))
    implicit val enc = Encoders.row(outSchema)
    base.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var cum = bc.value(pid)
      it.map { r =>
        val tok = r.getLong(1)
        val start = cum
        cum += tok
        val span = math.max(tok, 1L)
        Row(r.get(0), tok, start, start / budget, (start + span - 1) / budget)
      }
    }.toDF()
  }

  /** Token-budget selection: per key (source/domain), take documents in
    * `orderCols` order (highest-value first — quality score, length,
    * recency) until the running token total exceeds `budget`; the rest are
    * cut. The mixture step when targets are TOKEN counts, not fractions —
    * "2B tokens of web, 500M of code" — returning every kept row plus its
    * `cum_tokens` position.
    *
    * At 100 TB: one shuffle on the key (the windowed-ranking shape, like
    * capPerKey). A skewed source pays a full per-key sort even though the
    * budget keeps only a prefix — when one key dominates, pre-filter with
    * an approximate score threshold (percentile_approx at budget/total
    * tokens) so the sort sees a small multiple of the kept prefix, then
    * apply this operator exactly.
    */
  def selectToBudget(df: DataFrame, keyCol: String, tokenCol: Column,
                     budget: Long, orderCols: Seq[Column]): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    requireFresh(df, "selectToBudget", "cum_tokens")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_tokens", sum(tokenCol.cast("long")).over(w))
      .where(col("cum_tokens") <= budget)
  }

  /** Leakage-safe dataset split: near-duplicate documents must land in the
    * SAME train/val/test split, or held-out evaluation leaks through
    * paraphrases the model saw in training. Documents are hashed by their
    * near-dup CLUSTER representative (from [[Dedup.clusters]] over any
    * pair detector's output) instead of their own id; unclustered
    * documents hash by their own id as usual.
    *
    * At 100 TB: the cluster map covers only documents with a near-dup
    * (a small fraction of the corpus) — size-based planning broadcasts the
    * left join, and the split itself stays the narrow hash map of
    * [[splitByHash]].
    */
  def splitByCluster(docs: DataFrame, pairs: DataFrame, idCol: String,
                     fractions: Seq[(String, Double)],
                     salt: String = ""): DataFrame = {
    // No broadcast HINT: the cluster map covers only documents with a
    // near-dup — normally a small fraction that size-based planning
    // broadcasts anyway — but it is not hard-bounded, and a massively
    // duplicated corpus should shuffle-join rather than force a
    // corpus-scale broadcast.
    requireFresh(docs, "splitByCluster", "__rep", "cluster_id")
    val cl = Dedup.clusters(pairs).withColumnRenamed("id", idCol)
    val withRep = docs
      .join(cl, Seq(idCol), "left")
      .withColumn("__rep", coalesce(col("cluster_id"), col(idCol)))
    splitByHash(withRep, "__rep", fractions, salt)
      .drop("__rep", "cluster_id")
  }

  /** Deterministic k-fold assignment for cross-validation:
    * `fold = pmod(h60(id:salt), k)` — the k-way generalization of
    * [[splitByHash]] (which carves named fractions; CV needs k
    * interchangeable, exhaustive, disjoint folds). Pure narrow map —
    * no shuffle, no RNG state — reproducible across runs, engines, and
    * partitionings, and stable under corpus growth: an id keeps its
    * fold when rows are added or dropped around it, so fold-wise
    * metrics stay comparable across corpus versions.
    */
  def foldsByHash(df: DataFrame, idCol: String, k: Int,
                  salt: String = ""): DataFrame = {
    require(k > 1, s"k-fold needs k > 1, got $k")
    requireFresh(df, "foldsByHash", "fold")
    df.withColumn("fold",
      pmod(portableHash60(concat(col(idCol).cast("string"), lit(salt))),
        lit(k.toLong)).cast("int"))
  }

  /** Leakage-safe k-fold: near-duplicate documents (an edge list, e.g.
    * [[Dedup.ngramJaccardPairs]]) land in the SAME fold via their
    * cluster representative's hash — otherwise every near-dup pair that
    * straddles a fold boundary leaks its twin into the held-out fold
    * and inflates CV scores, exactly the [[splitByCluster]] failure
    * mode k-fold inherits. Same shape: cluster min-label propagation,
    * a left join (size-based planning decides broadcast — the cluster
    * map covers only docs WITH a near-dup), then the narrow fold hash
    * on the representative.
    */
  def foldsByCluster(docs: DataFrame, pairs: DataFrame, idCol: String,
                     k: Int, salt: String = ""): DataFrame = {
    requireFresh(docs, "foldsByCluster", "__rep", "cluster_id")
    val cl = Dedup.clusters(pairs).withColumnRenamed("id", idCol)
    val withRep = docs
      .join(cl, Seq(idCol), "left")
      .withColumn("__rep", coalesce(col("cluster_id"), col(idCol)))
    foldsByHash(withRep, "__rep", k, salt)
      .drop("__rep", "cluster_id")
  }

  /** K-anonymity audit over quasi-identifier columns: for each distinct
    * quasi-identifier combination, its population `n` and whether it
    * violates the k threshold (`n < k` — fewer than k individuals share
    * the combination, so any of them is re-identifiable from it). The
    * privacy gate a dataset passes before release: zero violating rows,
    * or the violating combinations get generalized/suppressed. NULL is
    * a value here (an absent ZIP code still narrows a person down), so
    * the grouping keeps NULL groups.
    *
    * Scale shape: one map-side-combined groupBy on the quasi columns —
    * output is combination-count-sized, not corpus-sized; no joins, no
    * windows. Skewed combinations (millions share one) combine map-side
    * by construction.
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String],
                 k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymity needs quasi-identifier columns")
    require(k >= 2, s"k must be >= 2, got $k")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).cast("long").as("n"))
      .withColumn("violates", col("n") < k)
  }

  /** L-diversity audit — [[kAnonymity]]'s stronger sibling: a
    * quasi-identifier group can be large (k-anonymous) yet still leak if
    * everyone in it shares the SAME sensitive value ("all 50 patients in
    * this ZIP+age bucket have the same diagnosis" — membership alone
    * reveals it). For each distinct quasi combination: its population
    * `n`, the number of DISTINCT sensitive values `n_sensitive` (NULL
    * counts as a value — an absent diagnosis is itself informative), and
    * the violation flag `n_sensitive < l`. Release gate: zero violating
    * rows, or generalize/suppress the flagged combinations.
    *
    * Scale shape: one partial-agg'd groupBy on the quasi columns — the
    * distinct-sensitive count is per-group exact (Spark plans the
    * two-phase distinct aggregation via Expand); output is
    * combination-count-sized, never corpus-sized.
    */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String, l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "lDiversity needs quasi-identifier columns")
    require(l >= 2, s"l must be >= 2, got $l")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).cast("long").as("n"),
        (count_distinct(col(sensitiveCol)) +
          max(col(sensitiveCol).isNull.cast("long"))).as("n_sensitive"))
      .withColumn("violates", col("n_sensitive") < l)
  }

  /** T5-style span corruption (Raffel et al. 2020 §3.1.4) — the
    * pretraining-objective rewrite: each document's whitespace tokens
    * get deterministic hash-drawn mask spans (start probability
    * `maskRate/meanSpan` per out-of-span position, span length
    * `1 + h % (2·meanSpan−1)`, mean `meanSpan`); spans collapse to
    * `<extra_id_k>` sentinels in `input` and are listed in `targets`
    * in the exact T5 target format. RNG-free (the epochShuffle
    * convention): the draw hashes (id, position, salt), so the output
    * is partition/engine-invariant and re-drawable per epoch by
    * changing the salt. Returns (id, input, targets, n_tokens,
    * n_masked, n_spans). Caveat: text already containing `<extra_id_`
    * tokens aliases the sentinel namespace — clean first.
    *
    * Scale shape: one codegen'd NARROW map riding the corpus scan —
    * zero shuffle, streaming-safe.
    */
  def spanCorrupt(df: DataFrame, idCol: String, textCol: String,
                  maskRate: Double = 0.15, meanSpan: Int = 3,
                  salt: String = ""): DataFrame = {
    require(maskRate > 0 && maskRate <= 1,
      s"maskRate in (0,1], got $maskRate")
    val startPpm = math.round(maskRate / meanSpan * 1000000).toInt
    val arr = graft.functions.VectorFunctions.span_corrupt(
      col(idCol).cast("string"), col(textCol), startPpm, meanSpan, salt)
    df.select(col(idCol).as("id"), arr.as("__a"))
      .select(col("id"),
        col("__a").getItem(0).as("input"),
        col("__a").getItem(1).as("targets"),
        col("__a").getItem(2).cast("long").as("n_tokens"),
        col("__a").getItem(3).cast("long").as("n_masked"),
        col("__a").getItem(4).cast("long").as("n_spans"))
  }

  /** [[spanCorrupt]] reconstruction: splice targets back into input —
    * the roundtrip certificate face.
    */
  def spanUncorrupt(input: Column, targets: Column): Column =
    graft.functions.VectorFunctions.span_uncorrupt(input, targets)

  /** Differentially-private noisy group counts — the Laplace mechanism
    * for count queries (L1 sensitivity 1): per group combination,
    * release `noisy_milli = 1000·c + round(1000·Lap(1/ε))` and NOT the
    * true count. The Laplace draw is the inverse CDF
    * `−(1/ε)·sign(u−½)·ln(1−2|u−½|)` over `u = (h + ½)/10⁶` with `h`
    * the portable 60-bit hash of the (length-prefixed) group key and
    * the release salt — deterministic, so a release is reproducible and
    * engine-portable (the bootstrapCi hash-draw convention).
    *
    * PRIVACY CAVEAT (enforced loud): determinism makes the salt the
    * entire entropy source — the mechanism is ε-DP only if the salt is
    * secret and FRESH per release; reusing a salt across two releases
    * of overlapping data composes the budgets, and publishing it
    * destroys the guarantee entirely. `salt` is therefore required.
    * Groups absent from the data are absent from the release (standard
    * for known-domain count queries; enumerate the domain upstream and
    * left-join if absent groups must also be noised).
    *
    * Scale shape: one partial-agg'd groupBy; the noise is a narrow map
    * over the combination-sized aggregate.
    */
  def dpNoisyCounts(df: DataFrame, groupCols: Seq[String],
                    epsilon: Double, salt: String): DataFrame = {
    require(groupCols.nonEmpty, "dpNoisyCounts needs group columns")
    require(epsilon > 0, s"epsilon must be > 0, got $epsilon")
    require(salt.nonEmpty,
      "dpNoisyCounts requires a fresh secret salt: the deterministic " +
        "draw is only DP if the salt is never reused or published")
    val counts = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__c"))
    val h = pmod(portableHash60(concat(digestRowEncoding(groupCols),
      lit("\u001fdp:" + salt))), lit(1000000L))
    val u = (h.cast("double") + 0.5) / 1000000.0
    val d = u - 0.5
    val lap = -lit(1.0 / epsilon) * signum(d) *
      log(lit(1.0) - lit(2.0) * abs(d))
    counts.select(groupCols.map(col) :+
      (col("__c") * 1000L + round(lap * 1000).cast("long"))
        .as("noisy_milli"): _*)
  }

  /** Chat-transcript audit + flattening — the SFT-data ingest gate: each
    * row carries a JSON conversation (`[{"role": …, "content": …}, …]`);
    * emit per-row schema/shape flags and, for valid rows, the flattened
    * training text. Flags (each honest on malformed input — a parse
    * failure is `parse_ok = false`, never an exception):
    *
    *  - `parse_ok`: parses as a non-empty JSON array of objects
    *  - `has_system`: first message is a `system` turn (allowed, not
    *    required)
    *  - `alternates`: after the optional system turn, roles strictly
    *    alternate user/assistant starting with user
    *  - `ends_assistant`: last turn is the assistant's (a training
    *    example needs a completion)
    *  - `no_empty`: every content is present and non-empty
    *  - `valid` = parse_ok ∧ n_turns ≥ 2 ∧ alternates ∧ ends_assistant
    *    ∧ no_empty
    *
    * `flat` renders valid rows as `<|role|>\ncontent` turns joined by
    * newlines (the template is fixed — swap downstream if a tokenizer
    * needs special tokens); invalid rows get NULL. Returns (id, n_turns,
    * parse_ok, has_system, alternates, ends_assistant, no_empty, valid,
    * flat).
    *
    * Scale shape: a pure narrow map (from_json + array HOFs) — no
    * shuffle, streaming-safe as-is. Note Spark's `from_json` wraps a
    * bare top-level JSON OBJECT as a one-element array (legacy behavior)
    * — such rows parse but fail `n_turns ≥ 2`.
    */
  def chatAudit(df: DataFrame, idCol: String, jsonCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = ArrayType(StructType(Seq(
      StructField("role", StringType), StructField("content", StringType))))
    val msgs = from_json(col(jsonCol), schema)
    val base = df.select(col(idCol).as("id"), msgs.as("__m"))
      .withColumn("__n", coalesce(size(col("__m")).cast("long"), lit(0L)))
    val roles = transform(col("__m"), m => m.getField("role"))
    val parseOk = col("__m").isNotNull && col("__n") > 0
    val off = when(coalesce(get(roles, lit(0)) === "system", lit(false)),
      lit(1)).otherwise(lit(0))
    val altList = transform(roles, (r, i) =>
      when(i < off, lit(true)).otherwise(coalesce(
        r === when(pmod(i - off, lit(2)) === 0, "user")
          .otherwise("assistant"), lit(false))))
    val contentOk = transform(col("__m"), m =>
      m.getField("content").isNotNull &&
        length(m.getField("content")) > 0)
    val flags = base.select(col("id"), col("__m"), col("__n"),
      parseOk.as("parse_ok"),
      coalesce(get(roles, lit(0)) === "system", lit(false))
        .as("has_system"),
      (parseOk && coalesce(forall(altList, b => b), lit(true)))
        .as("alternates"),
      (parseOk && coalesce(
        get(roles, (col("__n") - 1L).cast("int")) === "assistant",
        lit(false))).as("ends_assistant"),
      (parseOk && coalesce(forall(contentOk, b => b), lit(true)))
        .as("no_empty"))
    val valid = col("parse_ok") && col("__n") >= 2 && col("alternates") &&
      col("ends_assistant") && col("no_empty")
    flags.select(col("id"), col("__n").as("n_turns"), col("parse_ok"),
      col("has_system"), col("alternates"), col("ends_assistant"),
      col("no_empty"), valid.as("valid"),
      when(valid, array_join(transform(col("__m"), m =>
        concat(lit("<|"), m.getField("role"), lit("|>\n"),
          m.getField("content"))), "\n")).as("flat"))
  }

  /** Per-group quantile normalization: map each row's `valueCol` to its
    * percent rank WITHIN `groupCol` — `q = (rank − 1)/(n − 1)`, min rank
    * for ties, 0 for single-row groups (SQL `percent_rank` semantics in
    * any engine). The cross-source score equalizer: quality scores from
    * different sources/models live on incomparable scales, and mixing
    * policies ("keep the top 30% of EACH source") need the within-source
    * quantile, not the raw score. Deterministic — ties share a rank, so
    * no tie-break ordering leaks into the result.
    *
    * Scale shape: one window (hash exchange on the group + sort by
    * value). Heavy-tailed group sizes bound the sort per group; a single
    * runaway group is the [[TimeSeries]] mega-key shape — linear, one
    * task. For rank-free normalization at extreme skew, bucket against a
    * KLL sketch instead ([[Sketches]]).
    */
  def quantileNormalize(df: DataFrame, groupCol: String, valueCol: String,
                        outCol: String = "q"): DataFrame = {
    requireFresh(df, "quantileNormalize", outCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(valueCol))
    df.where(col(valueCol).isNotNull)
      .withColumn(outCol, percent_rank().over(w))
  }

  /** Window-free quantile normalization against fitted per-group KLL
    * sketches — the extreme-skew path [[quantileNormalize]]'s docstring
    * points at: `q = rankOf(v) / n` (estimated CDF, count-≤-v over
    * group size — SQL `cume_dist` semantics, max rank for ties; note
    * [[quantileNormalize]] is `percent_rank`, min rank — different tie
    * convention by construction). With `k ≥` the group size the sketch
    * is EXACT (`compactions == 0`) and q is the exact cume_dist; at
    * scale the sketch bounds rank error by the KLL contract while the
    * plan stays a PURE NARROW MAP over a broadcast model map — no
    * window, no sort, no shuffle; a runaway group costs nothing extra.
    * Rows whose group has no fitted sketch get NULL q.
    */
  def quantileNormalizeBySketch(df: DataFrame, groupCol: String,
                                valueCol: String,
                                models: Map[String, Sketches.KllModel],
                                outCol: String = "q"): DataFrame = {
    requireFresh(df, "quantileNormalizeBySketch", outCol)
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(models)
    val probe = udf { (g: String, v: java.lang.Double) =>
      val out: java.lang.Double =
        if (g == null || v == null) null
        else bc.value.get(g) match {
          case Some(m) if m.n > 0L =>
            java.lang.Double.valueOf(
              m.rankOf(v.doubleValue()).toDouble / m.n)
          case _ => null
        }
      out
    }
    df.withColumn(outCol,
      probe(col(groupCol).cast("string"), col(valueCol).cast("double")))
  }

  /** Text normalization for training corpora: lowercase, collapse runs of
    * whitespace to single spaces, trim. Portable regex subset (identical
    * semantics in Java regex and RE2/DuckDB).
    */
  /** Overlapping fixed-width character chunks — the context-window prep
    * step of a training/RAG pipeline (long documents split into
    * `chunkChars` windows advancing by `chunkChars - overlapChars`, so
    * consecutive chunks share `overlapChars` characters and no content
    * falls on a hard boundary). Returns (idCol, chunk_idx, chunk_text),
    * one row per chunk, chunk_idx 0-based.
    *
    * At 100 TB this is a pure narrow flatMap — sequence + substr inside
    * one codegen'd generator projection, no shuffle, no UDF; output rows
    * are ~chunk-sized regardless of document length, so downstream
    * partitions stay balanced even on heavy-tailed corpora.
    */
  def chunkByChars(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id",
                   chunkChars: Int = 512, overlapChars: Int = 64): DataFrame = {
    require(overlapChars >= 0 && chunkChars > overlapChars,
      s"need 0 <= overlap ($overlapChars) < chunk size ($chunkChars)")
    val stride = chunkChars - overlapChars
    // null text is treated as empty: length(null) would null the chunk
    // count and posexplode zero rows — silently losing the doc id
    val txt = coalesce(col(textCol), lit(""))
    // chunk grid: starts every `stride` code points, width chunkChars,
    // count max(1, ceil((len - overlap) / stride)) — no suffix orphaned,
    // a short (or null) doc yields exactly one chunk. ONE pass via the
    // char_chunks kernel: the previous transform(sequence)+substr form
    // re-walked the string per chunk (substr offsets are code-point
    // counts — O(start) each on multibyte text), turning a 10 MB
    // document into minutes; the kernel is linear in output size
    // (pinned by AdversarialTextSpec's 10 MB row; grid identical, the
    // ds_chunk DuckDB oracle is unchanged).
    docs.select(col(idCol),
        posexplode(graft.functions.VectorFunctions
          .char_chunks(txt, chunkChars, stride)))
      .toDF(idCol, "chunk_idx", "chunk_text")
  }

  /** Token-window sibling of [[chunkByChars]]: chunks of `chunkWords`
    * whitespace tokens advancing by `chunkWords - overlapWords` — the
    * form a tokenizer-aligned training pipeline uses (a char window can
    * split mid-word; a token window cannot). Same narrow-flatMap shape:
    * split once, slice per window, no shuffle.
    */
  def chunkByWords(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id",
                   chunkWords: Int = 128, overlapWords: Int = 16): DataFrame = {
    require(overlapWords >= 0 && chunkWords > overlapWords,
      s"need 0 <= overlap ($overlapWords) < chunk size ($chunkWords)")
    val stride = chunkWords - overlapWords
    // null → empty, same contract as chunkByChars: one empty chunk.
    // ONE pass via the word_chunks kernel: the previous transform +
    // array_join(slice(split(...))) form re-evaluated the split() for
    // every window (interpreted HOF lambdas get no CSE) — quadratic on
    // long documents (AdversarialTextSpec's 10 MB row hung it); grid and
    // split semantics unchanged, the ds_chunk_words oracle pins them.
    docs.select(col(idCol),
        posexplode(graft.functions.VectorFunctions
          .word_chunks(coalesce(col(textCol), lit("")),
            chunkWords, stride)))
      .toDF(idCol, "chunk_idx", "chunk_text")
  }

  def normalize(textCol: Column): Column =
    trim(regexp_replace(lower(textCol), "[ \\t\\n\\r]+", " "))

  /** Coarse PII mask for the normalization stage: email addresses and
    * long digit runs (phone/account numbers) — deliberately blunt, runs
    * inside [[normalize]]'s cleanup chain. For the TYPED category scrub
    * with per-category audit counts (emails/IPs/ids/phones → typed
    * placeholders), use [[TextAnalysis.redactPii]]/`piiCounts` — the
    * gated pre-training pass. Pattern subset chosen to behave
    * identically in Java regex and RE2.
    */
  def redactPii(textCol: Column): Column = {
    val noEmail = regexp_replace(textCol,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]+", "<EMAIL>")
    regexp_replace(noEmail, "[0-9]{7,}", "<NUM>")
  }

  /** Benchmark decontamination: count, per corpus document, the distinct
    * word k-shingles it shares with an evaluation set — documents at or
    * over `minShared` should be dropped from training data (eval leakage).
    *
    * The eval side is collapsed to its distinct shingle set and the join is
    * broadcast (eval benchmarks are tiny next to a 100 TB corpus); the
    * corpus side explodes to (id, shingle) pairs — a narrow map off the
    * scan — and aggregates back with map-side combine. Returns
    * (idCol, shared_ngrams) for flagged documents only.
    */
  def contamination(corpus: DataFrame, eval: DataFrame,
                    textCol: String, idCol: String,
                    k: Int = 5, minShared: Long = 1): DataFrame = {
    def sh(df: DataFrame, cols: Column*): DataFrame =
      df.select(cols :+
        explode(graft.functions.VectorFunctions.word_shingles(
          col(textCol), k)).as("s"): _*)
    val evalShingles = broadcast(sh(eval).select(col("s")).distinct())
    sh(corpus, col(idCol))
      .join(evalShingles, Seq("s")) // broadcast hash join, no corpus shuffle
      .groupBy(col(idCol))
      .agg(count_distinct(col("s")).as("shared_ngrams"))
      .where(col("shared_ngrams") >= minShared)
  }

  /** Semantic (embedding-space) decontamination — the companion of the
    * n-gram [[contamination]] for PARAPHRASED eval leakage: a training
    * document whose embedding sits within `threshold` cosine of any
    * eval-set embedding is flagged even when no k-shingle survives the
    * rewording. Returns (corpus id, eval_id, cos) pairs at or above
    * `threshold` — the audit face; route through
    * [[decontaminateSemantic]] to drop flagged rows.
    *
    * Scale shape mirrors [[contamination]]: eval benchmarks are tiny
    * next to a 100 TB corpus, so the eval embedding table BROADCASTS and
    * the corpus streams once through a narrow broadcast loop — no corpus
    * shuffle, no pairwise blow-up (output is bounded by flagged pairs).
    * For an eval set too large to broadcast, fit an IVF quantizer and
    * route through [[Similarity.ivfKnnJoin]] (same contract, salted cell
    * equi-join) — the gated broadcast face is exact by construction.
    */
  def contaminationSemantic(corpus: DataFrame, eval: DataFrame,
                            embCol: String = "embedding",
                            idCol: String = "vec_id",
                            threshold: Double = 0.95): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val evB = broadcast(eval.select(col(idCol).as("eval_id"),
      col(embCol).as("__ev")))
    corpus.select(col(idCol), col(embCol).as("__cv"))
      .crossJoin(evB)
      .select(col(idCol), col("eval_id"),
        Similarity.cosine(col("__cv"), col("__ev")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Drop from `corpus` every row [[contaminationSemantic]] flags —
    * survivors pass through unchanged (anti join on the flagged id set,
    * which is bounded by the contaminated population, not the corpus).
    */
  def decontaminateSemantic(corpus: DataFrame, eval: DataFrame,
                            embCol: String = "embedding",
                            idCol: String = "vec_id",
                            threshold: Double = 0.95): DataFrame =
    corpus.join(
      contaminationSemantic(corpus, eval, embCol, idCol, threshold)
        .select(col(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Declarative data-quality gate (the Deequ-shaped ingest check a
    * pipeline runs before committing a 100 TB batch): each rule is a
    * named row-level predicate; the report is one row per rule —
    * (rule, n_rows, n_violations, pass) — computed in ONE scan: every
    * rule compiles to a conditional count inside a single Aggregate
    * (map-side partial aggregation; no per-rule jobs, no shuffle beyond
    * one counter row per partition). A null predicate value counts as a
    * VIOLATION — an unexpected null never passes silently.
    *
    * Row-level rules only, by design: cross-row invariants (key
    * uniqueness, referential integrity) have different plan shapes —
    * express uniqueness as `capPerKey`/groupBy audits and profile-level
    * drift via [[profile]].
    */
  def checkConstraints(df: DataFrame,
                       rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "checkConstraints needs at least one rule")
    require(rules.map(_._1).distinct.size == rules.size,
      "duplicate rule names would collapse report rows")
    // coalesce (ADVICE r8): sum over ZERO rows is NULL, so an empty input
    // must still report 0 violations / pass=true, matching filterFunnel.
    val aggs = count(lit(1)).as("__n") +: rules.map { case (name, pred) =>
      coalesce(sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)),
        lit(0L)).as(s"__v_$name")
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = rules.map { case (name, _) =>
      struct(lit(name).as("rule"), col("__n").as("n_rows"),
        col(s"__v_$name").as("n_violations"))
    }
    one.select(explode(array(stacked: _*)).as("r"))
      .select(col("r.rule"), col("r.n_rows"), col("r.n_violations"),
        (col("r.n_violations") === 0L).as("pass"))
  }

  /** Column profiling in ONE scan: per column — non-null count, distinct
    * count, min and max (rendered as strings so heterogeneous column types
    * stack into one result). The ingest-side sanity report a pipeline runs
    * before committing a 100 TB batch: null spikes, cardinality collapse,
    * and range drift all surface here.
    *
    * Plan shape: a single Aggregate carrying every per-column statistic at
    * once — the multiple exact `count_distinct`s compile to one Expand
    * (row-multiplying, factor ≈ #cols) feeding one partial-agged shuffle of
    * counters, NOT #cols scans of the table. min/max are computed on the
    * native type (so numerics order numerically) and cast to string after.
    * The driver-side `stack` unpivot runs on the single aggregated row.
    * For trillion-row profiling swap `count_distinct` for
    * `approx_count_distinct` via `exact = false` — same single-scan plan,
    * HLL sketches instead of Expand.
    */
  def profile(df: DataFrame, cols: Seq[String],
              exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val nd: Column => Column =
      if (exact) count_distinct(_) else approx_count_distinct(_)
    val aggs = cols.flatMap { c =>
      val qc = col(c)
      Seq(count(qc).as(s"${c}__nn"), nd(qc).as(s"${c}__nd"),
          min(qc).cast("string").as(s"${c}__mn"),
          max(qc).cast("string").as(s"${c}__mx"))
    } :+ count(lit(1)).as("__n")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c =>
      s"'$c', `${c}__nn`, `${c}__nd`, `${c}__mn`, `${c}__mx`").mkString(", ")
    one.selectExpr(
      "`__n` AS n_rows",
      s"stack(${cols.size}, $stackArgs) AS " +
        "(col_name, n_nonnull, n_distinct, min_value, max_value)")
      .select(col("col_name"), col("n_rows"), col("n_nonnull"),
              col("n_distinct"), col("min_value"), col("max_value"))
  }

  /** Filter-funnel survivorship audit: for an ordered list of named
    * predicates (the C4/Gopher/langid/dedup-flag chain of a cleaning
    * pipeline), report per stage how many rows pass it in ISOLATION
    * (`pass_n`) and how many survive the pipeline UP TO it
    * (`survivors` — the conjunction of stages 1..i), plus the survival
    * rate. This is the ablation table a curation run publishes (which
    * stage is doing the cutting, which is dead weight) and the tripwire
    * that catches a filter suddenly dropping half the corpus.
    *
    * ONE scan: every stage's isolated AND cumulative counter rides a
    * single conditional aggregation (no per-stage passes, no
    * materialized intermediates); the `stack` unpivot runs on the one
    * aggregated row. A null predicate value counts as fail (a filter
    * that cannot evaluate a row must not pass it). Scale shape: the scan
    * is embarrassingly parallel, the shuffle is one row of 2·stages+1
    * counters.
    */
  def filterFunnel(df: DataFrame,
                   stages: Seq[(String, Column)]): DataFrame = {
    require(stages.nonEmpty, "filterFunnel needs at least one stage")
    val names = stages.map(_._1)
    require(names.distinct.size == names.size,
      s"stage names must be unique, got $names")
    // cumulative conjunction: survivors at stage i = AND of stages 1..i
    val cums = stages.scanLeft(lit(true)) { (acc, st) =>
      acc && coalesce(st._2, lit(false))
    }.tail
    val aggs = stages.zip(cums).zipWithIndex.flatMap {
      case (((_, pred), cum), i) =>
        Seq(sum(when(coalesce(pred, lit(false)), 1L).otherwise(0L))
              .as(s"__p_$i"),
            sum(when(cum, 1L).otherwise(0L)).as(s"__c_$i"))
    } :+ count(lit(1)).as("__n")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = stages.zipWithIndex.map { case ((name, _), i) =>
      val esc = name.replace("'", "''")
      s"'$esc', ${i + 1}, `__p_$i`, `__c_$i`"
    }.mkString(", ")
    one.selectExpr(
        "`__n` AS n_total",
        s"stack(${stages.size}, $stackArgs) AS " +
          "(stage, stage_idx, pass_n, survivors)")
      .select(col("stage"), col("stage_idx").cast("int").as("stage_idx"),
        col("n_total"),
        coalesce(col("pass_n"), lit(0L)).as("pass_n"),
        coalesce(col("survivors"), lit(0L)).as("survivors"))
      .select(col("stage"), col("stage_idx"), col("n_total"),
        col("pass_n"), col("survivors"),
        round(col("survivors").cast("double") /
          greatest(col("n_total"), lit(1L)), 6).as("survival_rate"))
  }

  /** Sentence-aware context chunking: split on sentence boundaries
    * (`sentRegex` — RE2/Java-portable, default `[^.!?]+[.!?]*`), then bin
    * whole sentences by cumulative character offset: a sentence starting
    * before offset `k·chunkChars` belongs to chunk k. Sentences are NEVER
    * split mid-way (the RAG retrieval-window contract [[chunkByChars]]
    * cannot give); chunks are therefore a SOFT budget — one long sentence
    * may overflow its bin.
    *
    * Shape: a narrow extract+explode off the scan, ONE window shuffle
    * keyed on the doc for the running offset, and the re-assembly
    * aggregate reuses that partitioning (order restored via sorted
    * (pos, sentence) structs — collect_list order is not deterministic).
    * Null/empty documents have no sentences and yield no chunks (unlike
    * [[chunkByChars]]' one-empty-chunk contract — a retrieval window over
    * nothing retrieves nothing).
    */
  def chunkBySentences(docs: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id", chunkChars: Int = 512,
                       sentRegex: String = "[^.!?]+[.!?]*"): DataFrame = {
    require(chunkChars >= 1, s"chunkChars must be >= 1, got $chunkChars")
    import org.apache.spark.sql.expressions.Window
    val sents = docs.select(col(idCol),
        posexplode(regexp_extract_all(coalesce(col(textCol), lit("")),
          lit(sentRegex), lit(0))))
      .toDF(idCol, "pos", "sent")
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withBin = sents
      .withColumn("__cb",
        sum(length(col("sent")).cast("long")).over(w) -
          length(col("sent")).cast("long"))
      .withColumn("chunk_idx", floorDiv(col("__cb"), lit(chunkChars.toLong)))
    withBin.groupBy(col(idCol), col("chunk_idx"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("sent")))),
          x => x.getField("sent")), "").as("chunk_text"),
        count(lit(1)).as("n_sentences"))
  }

  /** Key-skew diagnostic: the `topN` heaviest keys with row counts and
    * integer-ppm share of the table — the report that decides whether a
    * key needs [[Skew.saltedJoin]]/salted aggregation before the real job
    * runs. One partial-agg'd shuffle; the total rides a single-row window
    * over the aggregate (not a second scan).
    */
  def skewReport(df: DataFrame, keyCols: Seq[String],
                 topN: Int = 10): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val counts = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy()
    counts
      .withColumn("__total", sum(col("n")).over(all))
      .withColumn("share_ppm",
        floorDiv(col("n") * 1000000L, col("__total")))
      .drop("__total")
      .orderBy(col("n").desc +: keyCols.map(col(_).asc): _*)
      .limit(topN)
  }

  /** Fixed-range histogram: `nBins` equal-width bins over [lo, hi), with
    * under/overflow clamped into the edge bins and nulls dropped. One
    * partial-agg'd shuffle of ≤ nBins counter rows — the profiling
    * companion to [[profile]] for value DISTRIBUTIONS (null/distinct/
    * min-max alone miss bimodality, spikes, and drift). Bin arithmetic is
    * plain IEEE double ops, identical across engines.
    */
  def histogram(df: DataFrame, valueCol: String,
                lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    val x = col(valueCol).cast("double")
    val bin = least(lit(nBins - 1), greatest(lit(0),
      floor((x - lit(lo)) / lit(hi - lo) * nBins))).cast("int")
    df.where(x.isNotNull)
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("bin"),
        (lit(lo) + col("bin") * lit((hi - lo) / nBins)).as("lo_edge"),
        (lit(lo) + (col("bin") + 1) * lit((hi - lo) / nBins)).as("hi_edge"),
        col("n"))
  }

  /** Population Stability Index drift report between a reference and a
    * current corpus snapshot over `valueCol`, on the shared fixed-width
    * bins of [[histogram]]: per bin, shares `p_ref`/`p_cur` (zero-filled
    * via full-outer join, floored at `eps` before the log so one-sided
    * bins contribute finitely) and the PSI contribution
    * `(p_cur − p_ref) · ln(p_cur / p_ref)` — sum the column for the
    * headline PSI (rule of thumb: < 0.1 stable, > 0.25 drifted; every
    * contribution is ≥ 0 so per-bin values localize the shift). The
    * monitoring complement of [[checkConstraints]]: constraints catch
    * hard violations at ingest; PSI catches the soft distribution shift
    * between two crawls/snapshots that individually pass every rule.
    *
    * Shares and contributions round to 9 decimals (the transcendental-
    * rounding contract — `ln` can differ in the last ulp across engines).
    *
    * 100 TB shape: ONE narrow scan per snapshot into an `nBins`-row
    * partial aggregate each; everything downstream is arithmetic over
    * ≤ nBins rows (normalizing sums run as global windows over those
    * tiny frames — never a rescan, same trade as [[mixtureWeights]]).
    */
  def driftPsi(ref: DataFrame, cur: DataFrame, valueCol: String,
               lo: Double, hi: Double, nBins: Int = 20,
               eps: Double = 1e-6): DataFrame = {
    require(eps > 0 && eps < 1, s"eps must be in (0,1), got $eps")
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    def shares(df: DataFrame, outCol: String) =
      histogram(df, valueCol, lo, hi, nBins)
        .select(col("bin"),
          (col("n").cast("double") / sum(col("n")).over(all)).as(outCol))
    psiSelect(shares(ref, "p_ref").join(shares(cur, "p_cur"),
      Seq("bin"), "full_outer"), "bin", eps)
  }

  /** The categorical face of [[driftPsi]]: shares per distinct `keyCol`
    * value (language, domain, event type) instead of numeric bins —
    * keys absent on one side get share 0 and the `eps` floor. The key
    * set is expected report-sized (languages/domains/buckets); for
    * unbounded key spaces pre-bucket first (the global normalizing
    * window collapses the AGGREGATE, not the corpus, to one partition).
    */
  def driftPsiCategorical(ref: DataFrame, cur: DataFrame, keyCol: String,
                          eps: Double = 1e-6): DataFrame = {
    require(eps > 0 && eps < 1, s"eps must be in (0,1), got $eps")
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    def shares(df: DataFrame, outCol: String) =
      df.where(col(keyCol).isNotNull)
        .groupBy(col(keyCol).as("key"))
        .agg(count(lit(1)).as("n"))
        .select(col("key"),
          (col("n").cast("double") / sum(col("n")).over(all)).as(outCol))
    psiSelect(shares(ref, "p_ref").join(shares(cur, "p_cur"),
      Seq("key"), "full_outer"), "key", eps)
  }

  private def psiSelect(joined: DataFrame, binCol: String,
                        eps: Double): DataFrame = {
    val j = joined.na.fill(0.0, Seq("p_ref", "p_cur"))
    val pr = greatest(col("p_ref"), lit(eps))
    val pc = greatest(col("p_cur"), lit(eps))
    j.select(col(binCol),
      round(col("p_ref"), 9).as("p_ref"),
      round(col("p_cur"), 9).as("p_cur"),
      round((pc - pr) * log(pc / pr), 9).as("psi_contrib"))
  }

  /** The streaming face of [[driftPsi]] — the always-on corpus monitor:
    * the reference snapshot's bin shares are computed ONCE driver-side
    * (an nBins-row collect over its histogram) and ride the kernel; the
    * stream folds each micro-batch's values into a running bin-count
    * array (one fixed-size state cell) and emits the updated `(n, psi)`
    * row per batch — an Update-mode changelog where the latest row is
    * the drift of EVERYTHING ingested so far against the reference. PSI
    * is recomputed from counts on emit with the batch face's arithmetic
    * (shares, eps floor, 9-decimal rounding), so the row equals the
    * batch [[driftPsi]] of (reference, all rows so far) summed, which is
    * exactly what the spec asserts. State is `nBins` longs, forever, no
    * watermark.
    */
  def driftPsiStream(events: DataFrame, valueCol: String, ref: DataFrame,
                     lo: Double, hi: Double, nBins: Int = 20,
                     eps: Double = 1e-6): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    require(eps > 0 && eps < 1, s"eps must be in (0,1), got $eps")
    val refShares = new Array[Double](nBins)
    val refRows = histogram(ref, valueCol, lo, hi, nBins)
      .select(col("bin"), col("n")).collect()
    val refTotal = refRows.map(_.getLong(1)).sum.toDouble
    require(refTotal > 0, "reference snapshot has no non-null values")
    refRows.foreach(r => refShares(r.getInt(0)) = r.getLong(1) / refTotal)
    val spark = events.sparkSession
    import spark.implicits._
    val x = col(valueCol).cast("double")
    val bin = least(lit(nBins - 1), greatest(lit(0),
      floor((x - lit(lo)) / lit(hi - lo) * nBins))).cast("int")
    events.where(x.isNotNull)
      .select(lit(0L).as("shard"), bin.as("bin"))
      .as[(Long, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[(Long, Int)],
         state: GroupState[Array[Long]]) =>
          val arr = state.getOption.getOrElse(new Array[Long](nBins))
          rows.foreach { case (_, b) => arr(b) += 1L }
          state.update(arr)
          val total = arr.sum.toDouble
          def r9(x: Double): Double = BigDecimal(x)
            .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
          var psi = 0.0
          var i = 0
          while (i < nBins) {
            val pr = math.max(refShares(i), eps)
            val pc = math.max(arr(i) / total, eps)
            psi += r9((pc - pr) * math.log(pc / pr))
            i += 1
          }
          Iterator.single((total.toLong, r9(psi)))
      }
      .toDF("n", "psi")
  }

  /** Slowly-changing-dimension (type 2) build from an append-only
    * changelog: per entity key, collapse consecutive rows whose tracked
    * attributes did not change, then stamp each surviving version with its
    * validity interval — `effective_from` (its own timestamp),
    * `effective_to` (the next version's timestamp, open for the current
    * version) and `is_current`. The standard warehouse dimension shape an
    * as-of join ([[AsOfJoin]]) then consumes.
    *
    * Attribute comparison is null-safe (`<=>` on a struct of `attrCols`).
    * `tieBreak` columns make same-timestamp changes deterministic.
    *
    * Scale shape: ONE shuffle keyed on the entity key; the no-change
    * filter and the interval stamp are two Window passes over the same
    * (partitioning, ordering), so the second pass reuses the first's
    * exchange and sort — `.explain` shows a single Exchange.
    */
  /** Per-id delta between two corpus snapshots: `added` (only in
    * `after`), `removed` (only in `before`), `changed` (both, compared
    * columns differ) or `unchanged` — the release-note primitive for
    * dataset versioning ("crawl v12 vs v11: +2.1M docs, 40k edited,
    * 300k dropped") and the regression tripwire before a version ships
    * (a 'changed' count that should be zero). Comparison is null-safe
    * over `compareCols` as a struct; ids must be unique per snapshot
    * (enforce upstream — this is a version diff, not a changelog:
    * [[scd2]] handles histories).
    *
    * 100 TB shape: ONE full-outer equi-join on the id (bucketed
    * snapshot layouts make it shuffle-free) and narrow maps; the
    * [[snapshotDiffReport]] face adds a partial-agg count.
    */
  def snapshotDiff(before: DataFrame, after: DataFrame, idCol: String,
                   compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "snapshotDiff needs compare columns")
    def packed(df: DataFrame, out: String) = df.select(col(idCol),
      struct(compareCols.map(col): _*).as(out))
    packed(before, "__vb").join(packed(after, "__va"), Seq(idCol),
        "full_outer")
      .select(col(idCol),
        when(col("__vb").isNull, lit("added"))
          .when(col("__va").isNull, lit("removed"))
          .when(col("__va") <=> col("__vb"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Count face of [[snapshotDiff]]: (status, n), every status present
    * (zero-filled) so downstream monitors key on a fixed 4-row shape.
    */
  def snapshotDiffReport(before: DataFrame, after: DataFrame,
                         idCol: String,
                         compareCols: Seq[String]): DataFrame = {
    val spark = before.sparkSession
    import spark.implicits._
    val counts = snapshotDiff(before, after, idCol, compareCols)
      .groupBy(col("status")).agg(count(lit(1)).cast("long").as("n"))
    Seq("added", "changed", "removed", "unchanged").toDF("status")
      .join(counts, Seq("status"), "left")
      .select(col("status"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("status"))
  }

  def scd2(changelog: DataFrame, keyCols: Seq[String], tsCol: String,
           attrCols: Seq[String], tieBreak: Seq[String] = Nil): DataFrame = {
    require(keyCols.nonEmpty && attrCols.nonEmpty,
      "scd2 needs key and attribute columns")
    import org.apache.spark.sql.expressions.Window
    val ord = (col(tsCol) +: tieBreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(ord: _*)
    val attrs = struct(attrCols.map(col): _*)
    changelog
      .withColumn("__prev", lag(attrs, 1).over(w))
      .where(col("__prev").isNull || !(col("__prev") <=> attrs))
      .drop("__prev")
      .withColumn("effective_from", col(tsCol))
      .withColumn("effective_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("effective_to").isNull)
  }

  /** Deterministic random negatives for contrastive training: for every
    * distinct query in `positives` (query_id, pos_id), draw `k` corpus
    * ids pseudo-randomly — slot s of query q picks the corpus row at
    * position h60(q:s:salt) mod N in the id order — excluding the
    * query's own positives (and the query itself when it is a corpus
    * id). RNG-free: same inputs → same negatives, across partitionings
    * and engines.
    *
    * Scale shape: the corpus reduces ONCE to a ranked (pos, id) frame
    * (range-partitioned sort + zipWithIndex); queries explode to
    * k + margin slots and equi-join on the computed position — no
    * query × corpus product anywhere. Collisions with positives or
    * duplicate draws are dropped and the first `k` survivors per query
    * (slot order) emit; `margin` oversamples to keep k reachable (loud
    * underfill is visible as < k rows for a query).
    */
  def negativeSamples(positives: DataFrame, corpus: DataFrame,
                      idCol: String, queryCol: String = "query_id",
                      posCol: String = "pos_id", k: Int = 4,
                      margin: Int = 8, salt: String = ""): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(margin >= 0, s"margin must be >= 0, got $margin")
    val spark = positives.sparkSession
    val sorted = corpus.select(col(idCol)).distinct().orderBy(col(idCol))
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        "__pos", org.apache.spark.sql.types.LongType, nullable = false))
    val ranked = OpCaches.persist(spark.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) }, schema))
    val n = ranked.count()
    require(n > 0, "negativeSamples needs a non-empty corpus")
    val draws = positives.select(col(queryCol)).distinct()
      .select(col(queryCol), explode(sequence(lit(0),
        lit(k + margin - 1))).as("__slot"))
      .withColumn("__pos", pmod(portableHash60(
        concat(col(queryCol).cast("string"), lit(":"),
          col("__slot").cast("string"), lit(s":$salt"))), lit(n)))
    val cand = draws.join(ranked, Seq("__pos"))
      .select(col(queryCol), col("__slot"), col(idCol).as("neg_id"))
      // a position can be drawn twice for one query: keep first slot
      .groupBy(col(queryCol), col("neg_id"))
      .agg(min(col("__slot")).as("__slot"))
    val blocked = positives
      .select(col(queryCol), col(posCol).as("neg_id")).distinct()
      .unionByName(positives.select(col(queryCol),
        col(queryCol).cast(corpus.schema(idCol).dataType).as("neg_id"))
        .distinct())
    import org.apache.spark.sql.expressions.Window
    cand.join(blocked, Seq(queryCol, "neg_id"), "left_anti")
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col(queryCol)).orderBy(col("__slot"))))
      .where(col("__rk") <= k)
      .select(col(queryCol), (col("__rk") - 1).cast("long").as("neg_rank"),
        col("neg_id"))
  }

  /** Length-bucketed training batches — the padding-waste reducer: docs
    * bucket by token count (`boundaries` are inclusive upper bounds;
    * one overflow bucket above the last), take a DETERMINISTIC
    * pseudo-random order within each bucket (portable hash of the id,
    * id tie-break — RNG-free, engine-replayable), and chop into
    * `batchSize`-row batches. A loader that consumes (bucket,
    * batch_in_bucket) groups gets near-uniform sequence lengths per
    * batch, so padding-to-max waste collapses without biasing content
    * (the hash order is independent of length within the bucket).
    *
    * Returns (idCol, n_tokens, bucket, batch_in_bucket, pos_in_batch).
    * Scale shape: ONE range-partitioned global sort on (bucket, hash,
    * id) ranked by `zipWithIndex` (no single-partition window), plus a
    * tiny per-bucket offset aggregate broadcast back — buckets are few
    * but each bucket's rows stay spread across ALL partitions of the
    * range sort, so a mega-bucket never lands on one task.
    */
  def lengthBucketBatches(docs: DataFrame, textCol: String, idCol: String,
                          boundaries: Seq[Long],
                          batchSize: Int): DataFrame = {
    require(boundaries.nonEmpty && boundaries == boundaries.sorted &&
      boundaries.distinct == boundaries,
      s"boundaries must be non-empty, sorted, distinct: $boundaries")
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val spark = docs.sparkSession
    val nTok = size(filter(split(col(textCol), " "), t => t =!= ""))
      .cast("long")
    val bucket = boundaries.zipWithIndex.foldRight(
        lit(boundaries.size).cast("int")) { case ((b, i), acc) =>
      when(col("n_tokens") <= b, lit(i).cast("int")).otherwise(acc)
    }
    val base = docs.select(col(idCol), nTok.as("n_tokens"))
      .withColumn("bucket", bucket)
      .withColumn("__h", portableHash60(col(idCol)))
    val sorted = base.orderBy(col("bucket"), col("__h"), col(idCol))
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        "__grk", org.apache.spark.sql.types.LongType, nullable = false))
    val ranked = OpCaches.persist(spark.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) }, schema))
    val offsets = ranked.groupBy(col("bucket"))
      .agg(min(col("__grk")).as("__off"))
    ranked.join(broadcast(offsets), Seq("bucket"))
      .select(col(idCol), col("n_tokens"), col("bucket"),
        floorDiv(col("__grk") - col("__off"), lit(batchSize.toLong))
          .as("batch_in_bucket"),
        pmod(col("__grk") - col("__off"), lit(batchSize.toLong))
          .as("pos_in_batch"))
  }

  // ------------------------------------------------------------------ //
  // DSIR-style importance weights (Xie et al. 2023, "Data Selection for
  // Language Models via Importance Resampling"): score every raw-corpus
  // document by how target-like its hashed n-gram feature distribution
  // is; downstream selection resamples/top-ks by the weight (compose
  // with sampleExactWeighted / topK).
  // ------------------------------------------------------------------ //

  /** Per-occurrence hashed features of a text column: word unigrams and
    * bigrams, portable-hashed into `buckets` (the DSIR hashed n-gram
    * feature space). One narrow generate per form — repeats KEPT
    * (importance weights are per-occurrence sums, unlike dedup's sets).
    */
  private def dsirFeatures(df: DataFrame, textCol: String, idCol: String,
                           buckets: Int): DataFrame = {
    val uni = df.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("t"))
      .where(col("t") =!= "")
    val bi = df.select(col(idCol).as("id"),
      explode(graft.functions.VectorFunctions.word_bigrams(col(textCol)))
        .as("t"))
    uni.union(bi)
      .select(col("id"), pmod(portableHash60(col("t")), lit(buckets))
        .cast("int").as("b"))
  }

  /** Importance weight of every `raw` document toward the `target`
    * distribution: w(doc) = Σ over feature occurrences of
    * log(p_target(bucket) / p_raw(bucket)), add-1 smoothed over the
    * hashed unigram+bigram feature space. Returns
    * (idCol, n_feats, weight_unats) with the weight in integer
    * MICRO-NATS: each bucket's log-ratio quantizes once to
    * round(ln·1e6) as a Long, so the per-doc sum is exact integer
    * arithmetic — aggregation-order-independent and engine-replayable
    * (the pageRank/waterfill determinism contract), with the only float
    * op being one `ln` per BUCKET, not per occurrence. Raw docs with no
    * tokens weigh 0 over 0 features.
    *
    * Scale shape: both corpus passes are narrow explodes into a
    * partial-agg'd shuffle on ≤ `buckets` keys; the log-ratio table
    * (≤ `buckets` rows) BROADCASTS into the scoring join; scoring is one
    * groupBy(id) of (id, bucket-hash) rows — document text never
    * shuffles. The target corpus is typically small (a quality seed
    * set); nothing here assumes it fits anywhere but the bucket table.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, textCol: String,
                  idCol: String, buckets: Int = 8192): DataFrame =
    dsirScore(raw, dsirFit(raw, target, textCol, idCol, buckets),
      textCol, idCol, buckets)

  /** FIT face of [[dsirWeights]]: the per-bucket log-ratio table
    * (b, lr_unats) — ≤ `buckets` rows, the whole "model". Fit once over
    * the raw/target corpora, persist to a table, then [[dsirScore]]
    * every batch — or every STREAMING micro-batch — against it. Totals
    * ride the plan as broadcast one-row frames (no driver action).
    */
  def dsirFit(raw: DataFrame, target: DataFrame, textCol: String,
              idCol: String, buckets: Int = 8192): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 24),
      s"buckets must be in [2, 2^24], got $buckets")
    val spark = raw.sparkSession
    def bucketCounts(df: DataFrame) =
      dsirFeatures(df, textCol, idCol, buckets)
        .groupBy(col("b")).agg(count(lit(1)).cast("long").as("c"))
    val rawC = bucketCounts(raw)
    val tgtC = bucketCounts(target)
    val rawN = rawC.agg((coalesce(sum(col("c")), lit(0L)) + buckets)
      .cast("double").as("__dr"))
    val tgtN = tgtC.agg((coalesce(sum(col("c")), lit(0L)) + buckets)
      .cast("double").as("__dt"))
    spark.range(buckets).select(col("id").cast("int").as("b"))
      .join(rawC.withColumnRenamed("c", "cr"), Seq("b"), "left")
      .join(tgtC.withColumnRenamed("c", "ct"), Seq("b"), "left")
      .crossJoin(broadcast(rawN))
      .crossJoin(broadcast(tgtN))
      .select(col("b"),
        round(log(((coalesce(col("ct"), lit(0L)).cast("double") + 1.0)
            / col("__dt"))
          / ((coalesce(col("cr"), lit(0L)).cast("double") + 1.0)
            / col("__dr")))
          * 1e6).cast("long").as("lr_unats"))
  }

  /** Poisson-bootstrap confidence interval for a mean metric — the
    * distributed bootstrap (Chamandy et al., "Estimating Uncertainty
    * for Massive Data Streams"): classic resampling needs n draws per
    * replicate from a global ordering, but for large n the multinomial
    * resample count per item converges to Poisson(1), which is
    * PER-ITEM INDEPENDENT — so every item mints its own weight for
    * every replicate from a portable hash, one pass, no global state.
    * The error bar an eval report needs before "model A beats model B
    * by 0.4 points" means anything.
    *
    * Deterministic and engine-portable: weights come from the 60-bit
    * md5-derived hash of (id, replicate, salt) mod 10⁶ against the
    * fixed integer Poisson(1) CDF grid (367879, 735759, …, capped at
    * 8); replicate means are exact Long sums with floor division;
    * CI bounds are rank statistics over the B replicate means (indices
    * ⌊B·25/1000⌋ and ⌊B·975/1000⌋, 0-based) — no interpolation, no
    * doubles anywhere. Returns ONE row: (n_items, point_micro,
    * ci_lo_micro, ci_hi_micro, n_replicates) where *_micro = mean·10⁶
    * in the metric's own units (a 0/1 indicator reads as ppm).
    *
    * Shape: ONE pass over n×B exploded rows into a B-keyed partial
    * agg (B is the knob that prices the error bar; weights ≤ 8 keep
    * Σw·v within Long for |v| ≤ ~10⁸ at a billion rows), then rank
    * statistics over the B-row frame (bounded — global window is
    * fine). Streaming-safe per micro-batch inside foreachBatch.
    */
  def bootstrapCi(df: DataFrame, idCol: String, metricCol: String,
                  b: Int = 64, salt: String = ""): DataFrame = {
    require(b >= 4, s"need b >= 4 replicates, got $b")
    // negative metrics are legal (a margin, a log-ratio): `div` truncates
    // toward zero like DuckDB's `//`, never floors
    // Poisson(1) CDF · 1e6, floored — the fixed grid both engines share
    val cdf = Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L,
      999917L, 999990L)
    // fan out BEFORE the ×b replicate explode: the b hash draws per row
    // run where the input sits, and a single-row-group scan would price
    // all b·n md5s on one core (Par.fanOut is a no-op on already-parallel
    // inputs)
    val rep = Par.fanOut(df.select(col(idCol).cast("string").as("id"),
        col(metricCol).cast("long").as("v")))
      .select(col("id"), col("v"),
        explode(sequence(lit(0), lit(b - 1))).as("rep"))
    val h = pmod(portableHash60(concat(col("id"), lit(":"),
      col("rep").cast("string"), lit(s":bs:$salt"))), lit(1000000L))
    val w = cdf.zipWithIndex.foldRight(lit(8L): Column) {
      case ((t, k), acc) => when(h < t, k.toLong).otherwise(acc)
    }
    val means = rep.select(col("rep"), (w * col("v")).as("wv"), w.as("w"))
      .groupBy(col("rep"))
      .agg(sum(col("wv")).as("swv"), sum(col("w")).as("sw"))
      .where(col("sw") > 0) // an all-zero replicate (P ~ e^-n) drops
      .select(col("rep"),
        div(col("swv") * 1000000L, col("sw")).as("m"))
    // rank statistics over the B-row replicate frame (bounded by
    // contract — the global window is over n_replicates rows, never n)
    val ranked = means.withColumn("rk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy().orderBy(col("m"), col("rep"))))
    val loIdx = (b * 25) / 1000 + 1  // 1-based row_number
    val hiIdx = (b * 975) / 1000 + 1
    val bounds = ranked
      .agg(max(when(col("rk") === math.min(loIdx, b), col("m")))
             .as("ci_lo_micro"),
           max(when(col("rk") === math.min(hiIdx, b), col("m")))
             .as("ci_hi_micro"),
           count(lit(1)).as("n_replicates"))
    val point = df.agg(count(lit(1)).as("n_items"),
      sum(col(metricCol).cast("long")).as("sv"))
      .select(col("n_items"),
        div(col("sv") * 1000000L, col("n_items")).as("point_micro"))
    point.crossJoin(broadcast(bounds))
      .select(col("n_items"), col("point_micro"), col("ci_lo_micro"),
        col("ci_hi_micro"), col("n_replicates"))
  }

  /** Per-group face of [[bootstrapCi]] — one CI row per group in the
    * same single pass (the per-group KMV/KLL face convention): the
    * eval-report shape "accuracy per language, WITH error bars", where
    * a 400-item slice's ±5% band and a 40k-item slice's ±0.5% band
    * must not be read as the same confidence. Identical arithmetic to
    * the global face; replicate means key on (group, rep) and the rank
    * statistics run per group over B-row partitions (bounded windows).
    * A tiny group can lose replicates to all-zero weights (P ≈ e^-n);
    * the rank indices stay pinned to the nominal `b`, so such a group
    * honestly reports a null bound rather than a narrower fake CI.
    */
  def bootstrapCiByGroup(df: DataFrame, groupCol: String, idCol: String,
                         metricCol: String, b: Int = 64,
                         salt: String = ""): DataFrame = {
    require(b >= 4, s"need b >= 4 replicates, got $b")
    val cdf = Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L,
      999917L, 999990L)
    // same pre-explode fan-out as the global face
    val rep = Par.fanOut(df.select(col(groupCol).as("g"),
        col(idCol).cast("string").as("id"),
        col(metricCol).cast("long").as("v")))
      .select(col("g"), col("id"), col("v"),
        explode(sequence(lit(0), lit(b - 1))).as("rep"))
    val h = pmod(portableHash60(concat(col("id"), lit(":"),
      col("rep").cast("string"), lit(s":bs:$salt"))), lit(1000000L))
    val w = cdf.zipWithIndex.foldRight(lit(8L): Column) {
      case ((t, k), acc) => when(h < t, k.toLong).otherwise(acc)
    }
    val means = rep.select(col("g"), col("rep"), (w * col("v")).as("wv"),
        w.as("w"))
      .groupBy(col("g"), col("rep"))
      .agg(sum(col("wv")).as("swv"), sum(col("w")).as("sw"))
      .where(col("sw") > 0)
      .select(col("g"), col("rep"),
        div(col("swv") * 1000000L, col("sw")).as("m"))
    val ranked = means.withColumn("rk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("m"), col("rep"))))
    val loIdx = math.min((b * 25) / 1000 + 1, b)
    val hiIdx = math.min((b * 975) / 1000 + 1, b)
    val bounds = ranked.groupBy(col("g"))
      .agg(max(when(col("rk") === loIdx, col("m"))).as("ci_lo_micro"),
           max(when(col("rk") === hiIdx, col("m"))).as("ci_hi_micro"),
           count(lit(1)).as("n_replicates"))
    val point = df.groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("n_items"),
        sum(col(metricCol).cast("long")).as("sv"))
      .select(col("g"), col("n_items"),
        div(col("sv") * 1000000L, col("n_items")).as("point_micro"))
    point.join(bounds, Seq("g"))
      .select(col("g").as(groupCol), col("n_items"), col("point_micro"),
        col("ci_lo_micro"), col("ci_hi_micro"), col("n_replicates"))
  }

  /** Kendall rank correlation (τ-a) between two numeric columns — the
    * eval-ops agreement scalar: does the expensive ranking (human
    * preference, BT strength) order items the same way as the cheap one
    * (win rate, classifier score)? τ-a = (C − D) / (n(n−1)/2) in exact
    * integer ppm with truncating division (τ is signed — DuckDB `//`
    * match); pairs tied on EITHER column count as neither concordant
    * nor discordant (the τ-a convention; the difference from τ-b is the
    * denominator only, documented rather than hidden behind a sqrt of
    * doubles).
    *
    * Shape: an id-ordered pair self-join — O(n²) pairs BY DESIGN, for
    * rank LISTS (models, systems, sources: n in the hundreds), not item
    * corpora; the contract bound is the same as [[Labels.bradleyTerry]]'s
    * player dimension. Returns one row
    * (n, n_pairs, concordant, discordant, tau_ppm).
    */
  def kendallTau(df: DataFrame, idCol: String, xCol: String,
                 yCol: String): DataFrame = {
    val base = OpCaches.persist(df.select(col(idCol).as("id"),
        col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y")))
    val a = base.select(col("id").as("ia"), col("x").as("xa"),
      col("y").as("ya"))
    val b = base.select(col("id").as("ib"), col("x").as("xb"),
      col("y").as("yb"))
    val sgn = (signum(col("xa") - col("xb")) *
      signum(col("ya") - col("yb"))).cast("long")
    a.join(b, col("ia") < col("ib"))
      .select(sgn.as("s"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("s") === 1L, 1L).otherwise(0L)).as("concordant"),
        sum(when(col("s") === -1L, 1L).otherwise(0L)).as("discordant"))
      .crossJoin(broadcast(base.agg(count(lit(1)).as("n"))))
      .select(col("n"), col("n_pairs"), col("concordant"),
        col("discordant"),
        div((col("concordant") - col("discordant")) * 1000000L,
          col("n_pairs")).as("tau_ppm"))
  }

  /** Winsorized mean per group — the robust central-tendency statistic
    * for heavy-tailed quality features (doc length, link counts, token
    * budgets), where a handful of mega-documents drag the plain mean:
    * values clip at the group's exact [loQ, hiQ] percentiles, then the
    * clipped mean reports in exact micro-units (clipped values quantize
    * to milli first — percentile interpolation on integer inputs is
    * exact binary arithmetic (the text_len_quantiles precedent), and
    * round(x·1000) of such values is engine-portable — so the mean is
    * Long sums + floor division, no order-dependent double
    * accumulation). Returns (group, n, lo, hi, wins_mean_micro).
    *
    * Shape: one exact-percentile aggregation (group-keyed) + one clip
    * pass with the tiny bounds table broadcast back. Two scans of the
    * input by design; at streaming/100 TB scale substitute the KLL
    * sketch face (`ds_kll_by_lang`) for the bounds pass.
    */
  def winsorizedMean(df: DataFrame, valueCol: String, groupCol: String,
                     loQ: Double = 0.05, hiQ: Double = 0.95): DataFrame = {
    require(loQ >= 0 && hiQ <= 1 && loQ < hiQ,
      s"need 0 <= loQ < hiQ <= 1, got [$loQ, $hiQ]")
    val bounds = df.groupBy(col(groupCol).as("g"))
      .agg(percentile(col(valueCol), lit(loQ)).as("lo"),
           percentile(col(valueCol), lit(hiQ)).as("hi"))
    df.select(col(groupCol).as("g"), col(valueCol).cast("double").as("v"))
      .join(broadcast(bounds), Seq("g"))
      .select(col("g"), col("lo"), col("hi"),
        round(least(greatest(col("v"), col("lo")), col("hi")) * 1000)
          .cast("long").as("cm"))
      .groupBy(col("g"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n"), sum(col("cm")).as("scm"))
      .select(col("g").as(groupCol), col("n"),
        round(col("lo"), 6).as("lo"), round(col("hi"), 6).as("hi"),
        floorDiv(col("scm") * 1000L, col("n")).as("wins_mean_micro"))
  }

  /** Pearson chi-square homogeneity test over a two-way categorical
    * contingency table — the single-number companion to the per-bucket
    * PSI report: "did the language mix change between snapshot v1 and
    * v2" with a test statistic a significance table can price. Exact
    * integer milli-units: per cell, (O·N − rT·cT)²·1000 // (N·rT·cT)
    * — identical in any engine; the statistic is a sum of exact Longs
    * (no double accumulation across cells). Returns one row
    * (n, n_rows, n_cols, dof, chi2_milli).
    *
    * Bounds: exact while |O·N − rT·cT|²·1000 fits a Long — cell counts
    * to ~2·10⁶ at table totals to ~10⁶-scale. Beyond that, χ² is
    * scale-linear: divide all counts by a common factor first (the
    * statistic of the scaled table times the factor bounds the
    * original), or test on a deterministic hash sample.
    *
    * Shape: ONE (row, col) count aggregation over the input volume;
    * everything after runs on the category-cardinality table.
    */
  def chiSquareHomogeneity(df: DataFrame, rowCol: String,
                           colCol: String): DataFrame = {
    val cells = OpCaches.persist(df
      .groupBy(col(rowCol).as("r"), col(colCol).as("c"))
      .agg(count(lit(1)).as("o")))
    val rt = cells.groupBy(col("r")).agg(sum(col("o")).as("rt"))
    val ct = cells.groupBy(col("c")).agg(sum(col("o")).as("ct"))
    val tot = cells.agg(sum(col("o")).as("n"),
      count_distinct(col("r")).as("n_rows"),
      count_distinct(col("c")).as("n_cols"))
    // the FULL r×c grid: an unobserved cell (O = 0) still contributes
    // E = rT·cT/N to the statistic — dropping it understates χ²; the
    // grid is category-cardinality-sized, so the cross join is tiny
    rt.crossJoin(ct)
      .join(cells, Seq("r", "c"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("n"), col("n_rows"), col("n_cols"),
        floorDiv(
          (col("o") * col("n") - col("rt") * col("ct")) *
          (col("o") * col("n") - col("rt") * col("ct")) * 1000L,
          col("n") * col("rt") * col("ct")).as("term"))
      .groupBy(col("n"), col("n_rows"), col("n_cols"))
      .agg(sum(col("term")).as("chi2_milli"))
      .select(col("n"), col("n_rows"), col("n_cols"),
        ((col("n_rows") - 1) * (col("n_cols") - 1)).as("dof"),
        col("chi2_milli"))
  }

  /** Preference-pair construction for DPO/reward-model training: given
    * scored candidate responses grouped by prompt, emit one
    * (group, chosen, rejected, margin) row per group — the best-scored
    * candidate vs the worst — keeping only pairs whose score margin
    * meets `minMargin` (a low-margin pair is label noise; the DPO loss
    * gets nothing from "both mediocre"). Scores are integer (the ppm
    * convention), so selection and margin are exact and engine-
    * portable. Deterministic tie-breaks: chosen = highest score then
    * LOWEST id; rejected = lowest score then HIGHEST id — an all-tied
    * group still yields distinct ids (then margin 0, filtered unless
    * minMargin == 0 is requested explicitly). Groups with a single
    * candidate cannot form a pair and are dropped.
    *
    * Shape: ONE group-keyed partial-agg'd shuffle — both extremes come
    * from min/max over the same (score, -id) struct, so the hot-prompt
    * case (10⁶ candidates for one viral prompt) collapses map-side.
    */
  def preferencePairs(scored: DataFrame, groupCol: String, idCol: String,
                      scoreCol: String, minMargin: Long = 1L): DataFrame = {
    require(minMargin >= 0, s"minMargin must be >= 0, got $minMargin")
    val st = struct(col(scoreCol).as("s"), (-col(idCol)).as("ni"))
    scored.groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n"), max(st).as("hi"), min(st).as("lo"))
      .where(col("n") >= 2)
      .select(col("group"),
        (-col("hi.ni")).cast("long").as("chosen"),
        (-col("lo.ni")).cast("long").as("rejected"),
        (col("hi.s") - col("lo.s")).cast("long").as("margin"))
      .where(col("margin") >= minMargin)
  }

  /** SCORE face of [[dsirWeights]]: weigh `docs` against a prefit
    * [[dsirFit]] table. The lr table BROADCASTS and the doc side is one
    * narrow explode + one groupBy(id). The model is fixed, so a
    * continuous ingest scores each micro-batch with this same call
    * inside `foreachBatch` (the per-doc aggregation is within-batch;
    * no cross-batch state).
    */
  def dsirScore(docs: DataFrame, lrTable: DataFrame, textCol: String,
                idCol: String, buckets: Int = 8192): DataFrame = {
    val scored = dsirFeatures(docs, textCol, idCol, buckets)
      .join(broadcast(lrTable), Seq("b"))
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("long").as("n_feats"),
           sum(col("lr_unats")).cast("long").as("weight_unats"))
    docs.select(col(idCol).as("id")).distinct()
      .join(scored, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("weight_unats"), lit(0L)).as("weight_unats"))
  }
}
