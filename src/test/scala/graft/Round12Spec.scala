package graft

import graft.ast._
import graft.ast.dsl._
import graft.ast.pipeline._
import graft.compile.{Compiler, ParquetEnv, StreamEnv}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Round 12: drift monitors as topology nodes (VERDICT r11 next #5), the
  * flagship LLM pipeline — source → dedup → quality → PII → semantic
  * dedup → pack — as ONE AST value (next #6), and the corpus-sized IVF
  * nlist policy that fixes the knn-join quadratic-candidates trend
  * (next #1).
  */
class Round12Spec extends SparkSpecBase {

  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("autoNlist: floor at small corpora, linear growth, explicit clamp") {
    import graft.ext.Similarity
    assert(Similarity.autoNlist(500) == 16)   // under the floor
    assert(Similarity.autoNlist(2000) == 16)  // the sf0.1 corpus → floor
    // 10× data: cells scale with the corpus instead of cells growing 10×
    assert(Similarity.autoNlist(20000) == 157)
    assert(Similarity.autoNlist(10000000L) == (1 << 14)) // clamp is loud
    assert(Similarity.autoNlist(0) == 16)
    assert(Similarity.autoNlist(128, minNlist = 1) == 1) // gate mode
    // end-to-end: the fixture corpus (500 vectors) fits at the floor
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    assert(Similarity.fitIvfAuto(emb).nlist == 16)
  }

  test("flagship pipeline AST: source → dedup → quality → PII → semantic " +
    "dedup → pack composes batch; survivors and prefix-sum offsets exact") {
    val env = new ParquetEnv(spark, sfDir)
    val emb = env.load("embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val cleaned = stream(Seq("documents"), Consumed(keys = Seq("doc_id")))
      .dedupExact(textCol = "text", idCol = "doc_id")
      .qualityFilter()
      .piiRedact()
    val enriched = TransformOp(cleaned, "join_embeddings",
      df => df.join(broadcast(emb), Seq("doc_id")))
    val ast = enriched
      .semanticDedup(vecCol = "embedding", idCol = "doc_id",
        threshold = 0.95, targetCellSize = Int.MaxValue, minNlist = 1,
        cap = Int.MaxValue)
      .pack(budget = 512)
    val compiled = Compiler.compile(ast, env)
    assert(compiled.keys == Seq("doc_id"))
    val out = compiled.df
      .select("doc_id", "tok", "start", "first_bin", "last_bin")
      .orderBy("doc_id").collect()
    assert(out.nonEmpty)

    // the semantic stage dropped exactly semanticPairs' id_b side of the
    // pre-stage frame (single cell = exact all-pairs in gate mode)
    val pre = Compiler.compile(enriched, env).df
    val dropExpected = graft.ext.Dedup
      .semanticPairs(pre, "embedding", "doc_id", nclusters = 1,
        threshold = 0.95, cap = Int.MaxValue)
      .select("id_b").distinct().collect().map(_.getLong(0)).toSet
    val preIds = pre.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.map(_.getAs[Long]("doc_id")).toSet == preIds -- dropExpected)

    // pack: start is the id-ordered prefix sum; bins follow exactly
    var expectStart = 0L
    out.foreach { r =>
      assert(r.getAs[Long]("start") == expectStart, s"start@$r")
      assert(r.getAs[Long]("first_bin") == expectStart / 512)
      val tok = r.getAs[Long]("tok")
      assert(r.getAs[Long]("last_bin") ==
        (expectStart + math.max(tok, 1L) - 1L) / 512)
      expectStart += tok
    }
  }

  test("corpus-bound stages are loud under a streaming frame") {
    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val env = new StreamEnv(spark,
      Map("docs_live" -> ms.toDF().toDF("doc_id", "text", "ts")))
    val src = stream(Seq("docs_live"), Consumed(keys = Seq("doc_id")))
    for ((name, ast) <- Seq(
        "semantic_dedup" -> src.semanticDedup(),
        "ann_top_k" -> src.annTopK(
          spark.read.parquet(s"$sfDir/embeddings.parquet"),
          idCol = "doc_id"),
        "pack" -> src.pack(budget = 512))) {
      val e = intercept[IllegalArgumentException] {
        Compiler.compile(ast, env)
      }
      assert(e.getMessage.contains(name), s"$name: ${e.getMessage}")
    }
  }

  test("annTopK enrichment stage: row cardinality preserved, neighbors " +
    "rank-sorted, exact-probe mode matches brute force top-1") {
    val env = new ParquetEnv(spark, sfDir)
    val emb = env.load("embeddings")
    val queries = emb.where(col("vec_id") < 20)
      .withColumnRenamed("vec_id", "doc_id")
    val ast = stream(Seq("embeddings"), Consumed(keys = Seq("vec_id")))
      .filter(col("vec_id") < 20)
      .transform("as_docs",
        df => df.withColumnRenamed("vec_id", "doc_id"),
        keys = Seq("doc_id"))
      // the query ids ARE corpus vec_ids under a renamed column, so the
      // name-derived default (distinct names → keep self matches) must
      // be overridden explicitly — the exact contract ADVICE r12 asked
      // the stage to enforce
      .annTopK(emb, k = 5, nprobe = 16, idCol = "doc_id",
        excludeSelf = Some(true))
    val out = Compiler.compile(ast, env).df
    assert(out.count() == 20)
    val rows = out.select(col("doc_id"), col("neighbors")).collect()
    rows.foreach { r =>
      val ns = r.getSeq[org.apache.spark.sql.Row](1)
      assert(ns.nonEmpty && ns.size <= 5)
      assert(ns.map(_.getInt(0)) == (1 to ns.size), s"ranks: $ns")
    }
    // nprobe = nlist (fixture corpus sits at the 16-cell floor) makes the
    // probe candidate-complete: top-1 neighbor == brute force top-1
    val brute = graft.ext.Similarity.bruteForceTopK(
        emb, queries.withColumnRenamed("doc_id", "vec_id"), 1)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val top = r.getSeq[org.apache.spark.sql.Row](1).head
      assert(top.getLong(1) == brute(r.getLong(0)),
        s"doc ${r.getLong(0)}: ${top.getLong(1)} != ${brute(r.getLong(0))}")
    }
  }

  test("monitor nodes: KS + JS census topologies compile batch and their " +
    "finishers equal the batch statistics") {
    val env = new ParquetEnv(spark, sfDir)
    val withHalf = stream(Seq("documents"), Consumed(keys = Seq("doc_id")))
      .transform("derive_half",
        df => df.withColumn("half", pmod(col("doc_id"), lit(2L))),
        keys = Seq("doc_id"))

    val ksAst = withHalf.monitorKsDrift("n_chars", "lang", "half", 0L, 1L)
    val ksFrame = Compiler.compile(ksAst, env)
    assert(ksFrame.keys == Seq("g", "v"))
    val ksLive = graft.ext.Stats.ksByGroupFromCounts(ksFrame.df)
      .orderBy("g").collect()
    val docs = env.load("documents")
      .withColumn("half", pmod(col("doc_id"), lit(2L)))
    val ksBatch = graft.ext.Stats.ksTestByGroup(
        docs, "n_chars", "lang", "half", 0L, 1L)
      .orderBy("lang").collect()
    assert(ksLive.length == ksBatch.length && ksLive.nonEmpty)
    ksLive.zip(ksBatch).foreach { case (l, b) =>
      assert(l.getAs[String]("g") == b.getAs[String]("lang"))
      assert(l.getAs[Long]("d_ppm") == b.getAs[Long]("d_ppm"),
        s"KS ${l.getAs[String]("g")}")
    }

    val jsAst = withHalf.monitorJsDrift("lang", "half", 0L, 1L)
    val jsFrame = Compiler.compile(jsAst, env)
    assert(jsFrame.keys == Seq("cat"))
    val jsLive = graft.ext.Stats.jsDivergenceFromCounts(jsFrame.df)
      .collect()(0)
    val jsBatch = graft.ext.Stats.jsDivergence(docs, "lang", "half", 0L, 1L)
      .collect()(0)
    assert(jsLive == jsBatch)
  }

  test("monitor node streaming: the SAME JS-census AST value runs over a " +
    "MemoryStream; latest cells across two batches equal the batch census " +
    "on the union") {
    val ms = MemoryStream[(Long, String, Long)]
    val env = new StreamEnv(spark,
      Map("docs_live" -> ms.toDF().toDF("doc_id", "lang", "half")))
    val ast = stream(Seq("docs_live"), Consumed(keys = Seq("doc_id")))
      .monitorJsDrift("lang", "half", 0L, 1L)
    val q = Compiler.compile(ast, env).df
      .writeStream.format("memory").queryName("r12_js_census")
      .outputMode("append").start()
    val b1 = Seq((1L, "en", 0L), (2L, "en", 1L), (3L, "de", 0L))
    val b2 = Seq((4L, "en", 0L), (5L, "fr", 1L), (6L, "de", 1L))
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // per-cat LATEST census row (counts are monotone → max)
    val live = spark.table("r12_js_census")
      .groupBy("cat").agg(max("c").as("c"), max("d").as("d"))
    val got = graft.ext.Stats.jsDivergenceFromCounts(live).collect()(0)
    val union = (b1 ++ b2).toDF("doc_id", "lang", "half")
    val want = graft.ext.Stats.jsDivergence(union, "lang", "half", 0L, 1L)
      .collect()(0)
    assert(got == want, s"streaming census $got != batch $want")
  }

  test("monitor node streaming: robust-scale (per-group KLL) topology " +
    "node over a MemoryStream; latest summary across two batches equals " +
    "the batch robustScale median on the union") {
    val ms = MemoryStream[(Long, String, Double)]
    val env = new StreamEnv(spark,
      Map("scores_live" -> ms.toDF().toDF("doc_id", "lang", "score")))
    val ast = stream(Seq("scores_live"), Consumed(keys = Seq("doc_id")))
      .monitorRobustScale("score", "lang", k = 4096)
    val frame = Compiler.compile(ast, env)
    assert(frame.keys == Seq("g"))
    val q = frame.df.writeStream.format("memory")
      .queryName("r12_rs_census").outputMode("update").start()
    // odd count per group so the ceil-rank median is interpolation-free
    def mk(lo: Int, n: Int, g: String): Seq[(Long, String, Double)] =
      (0 until n).map(i => (i.toLong, g, (lo + (i * 37) % 101).toDouble))
    val b1 = mk(10, 101, "en") ++ mk(500, 51, "de")
    val b2 = mk(40, 100, "en") ++ mk(520, 50, "de")
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val live = spark.table("r12_rs_census").collect()
      .groupBy(_.getString(0))
      .map { case (g, rs) =>
        val last = rs.maxBy(_.getLong(1))
        g -> (last.getLong(1), last.getAs[Long]("med_milli"))
      }
    val union = (b1 ++ b2).map(t => (t._2, t._3)).toDF("lang", "score")
    val batch = graft.ext.Stats.robustScale(union, "score", "lang")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), max(col("med_milli")).as("m"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(live.keySet == Set("en", "de"))
    live.foreach { case (g, (n, med)) =>
      assert(n == batch(g)._1 && med == batch(g)._2,
        s"$g: node census ($n, $med) != batch ${batch(g)}")
    }
  }
}
