package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Round-5 hardening specs, from the round-4 ADVICE findings: malformed
  * WAV payloads must decode to None (not hang or throw inside a task),
  * streaming funnels must keep a null user id distinct from the string
  * "null" and skip null event times, the table-join kernels must resolve
  * the right side's event-time column when it is also a join key, and the
  * chunkers must not silently drop null-text rows.
  */
class Round5Spec extends SparkSpecBase {

  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  // ---- ADVICE #1: decodeWav rejects malformed chunk walks ----

  private def riffHeader(totalLen: Int): java.nio.ByteBuffer = {
    val bb = java.nio.ByteBuffer.allocate(totalLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(totalLen - 8)
      .put("WAVE".getBytes("US-ASCII"))
    bb
  }

  test("decodeWav: negative chunk size returns None instead of looping") {
    // chunk size -8 makes the old walk advance by 0 bytes -> infinite loop
    val bb = riffHeader(64)
    bb.put("fmt ".getBytes("US-ASCII")).putInt(-8)
    val media = Seq((1L, bb.array())).toDF("media_id", "payload")
    assert(graft.ext.Multimodal.decodeAudio(media).count() == 0L)
  }

  test("decodeWav: fmt chunk size past end of buffer returns None") {
    // claims a 100-byte fmt chunk in a 44-byte payload: the old code read
    // le16 past the array end (ArrayIndexOutOfBounds inside a task)
    val bb = riffHeader(44)
    bb.put("fmt ".getBytes("US-ASCII")).putInt(100)
    val media = Seq((2L, bb.array())).toDF("media_id", "payload")
    assert(graft.ext.Multimodal.decodeAudio(media).count() == 0L)
  }

  test("decodeWav: negative data size returns None") {
    val bb = riffHeader(72)
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(-4)
    val media = Seq((3L, bb.array())).toDF("media_id", "payload")
    assert(graft.ext.Multimodal.decodeAudio(media).count() == 0L)
  }

  test("decodeWav: well-formed payload still decodes after the hardening") {
    val n = 16
    val bb = riffHeader(44 + n * 2)
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(n * 2)
    (0 until n).foreach(i => bb.putShort(i.toShort))
    val media = Seq((4L, bb.array())).toDF("media_id", "payload")
    val got = graft.ext.Multimodal.decodeAudio(media).collect()
    assert(got.length == 1 && got.head.getLong(3) == n.toLong)
  }

  // ---- ADVICE #2/#3: funnel null user id and null event time ----

  test("windowFunnelStream: null user id stays distinct from \"null\"") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ms = MemoryStream[(String, java.sql.Timestamp, String)]
    val out = graft.ext.Funnel.windowFunnelStream(
      ms.toDF().toDF("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", Seq("A", "B"), withinSeconds = 100L)
    val q = out.writeStream.format("memory").queryName("funnel_null_user")
      .outputMode("append").start()
    try {
      // a null-id user and a user literally named "null", interleaved;
      // String.valueOf keying merged them into one funnel state
      ms.addData((null, ts(0), "A"), ("null", ts(1), "A"))
      q.processAllAvailable()
      ms.addData((null, ts(2), "B"), ("null", ts(3), "B"))
      q.processAllAvailable()
      val depth2 = spark.table("funnel_null_user").collect()
        .filter(_.getLong(1) == 2L).map(_.getString(0))
      assert(depth2.length == 2, s"want two depth-2 users, got ${depth2.mkString(",")}")
      assert(depth2.contains(null) && depth2.contains("null"))
    } finally q.stop()
  }

  test("windowFunnelStream: null event-time rows are skipped, not fatal") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ms = MemoryStream[(String, java.sql.Timestamp, String)]
    val out = graft.ext.Funnel.windowFunnelStream(
      ms.toDF().toDF("user_id", "ts", "event_type"),
      "user_id", "ts", "event_type", Seq("A", "B"), withinSeconds = 100L)
    val q = out.writeStream.format("memory").queryName("funnel_null_ts")
      .outputMode("append").start()
    try {
      // the null-ts B must not advance u1's funnel or kill the query
      ms.addData(("u1", ts(0), "A"), ("u1", null, "B"))
      q.processAllAvailable()
      val rows = spark.table("funnel_null_ts").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows == Set(("u1", 1L)), s"got $rows")
    } finally q.stop()
  }

  // ---- ADVICE #4: right event-time column that is also a join key ----

  test("streamTableJoin: table's event time doubling as its join key resolves") {
    import graft.compile.KFrame
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val sms = MemoryStream[(java.sql.Timestamp, java.sql.Timestamp, Long)]
    val tms = MemoryStream[(java.sql.Timestamp, String)]
    val sf = KFrame(sms.toDF().toDF("k", "sts", "v"),
      keys = Seq("k"), eventTime = Some("sts"))
    // the table is keyed BY its event-time column: the old rTsName lookup
    // asked for "rts_r" after the key rename had produced "k" -> unresolved
    val rf = KFrame(tms.toDF().toDF("rts", "name"),
      keys = Seq("rts"), eventTime = Some("rts"), isTable = true)
    val out = graft.state.TableKernels.streamTableJoin(
      sf, rf, graft.ast.JoinHow.Left, retention = Some("1 hour"))
    val q = out.writeStream.format("memory").queryName("stj_ts_key")
      .outputMode("append").start()
    try {
      tms.addData((ts(100), "dim-100"))
      q.processAllAvailable()
      sms.addData((ts(100), ts(101), 7L))
      q.processAllAvailable()
      val got = spark.table("stj_ts_key").collect()
        .map(r => (r.getAs[Long]("v"), r.getAs[String]("name"))).toSet
      assert(got == Set((7L, "dim-100")), s"got $got")
    } finally q.stop()
  }

  test("tableTableJoin: right event time as join key resolves (batch-free kernel check)") {
    import graft.compile.KFrame
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val lms = MemoryStream[(java.sql.Timestamp, java.sql.Timestamp, Long)]
    val rms = MemoryStream[(java.sql.Timestamp, String)]
    val lf = KFrame(lms.toDF().toDF("k", "lts", "lv"),
      keys = Seq("k"), eventTime = Some("lts"), isTable = true)
    val rf = KFrame(rms.toDF().toDF("rts", "name"),
      keys = Seq("rts"), eventTime = Some("rts"), isTable = true)
    val out = graft.state.TableKernels.tableTableJoin(
      lf, rf, graft.ast.JoinHow.Inner, retention = Some("1 hour"))
    val q = out.writeStream.format("memory").queryName("ttj_ts_key")
      .outputMode("append").start()
    try {
      lms.addData((ts(100), ts(50), 1L))
      rms.addData((ts(100), "r-100"))
      q.processAllAvailable()
      val got = spark.table("ttj_ts_key").collect()
        .map(r => (r.getAs[Long]("lv"), r.getAs[String]("name"))).toSet
      assert(got == Set((1L, "r-100")), s"got $got")
    } finally q.stop()
  }

  // ---- real JPEG/PNG lane via javax.imageio ----

  test("imageStats: real PNG decode recovers exact dims and fill color") {
    val docs = Seq(5L, 37L, 254L).toDF("doc_id")
    val got = graft.ext.Multimodal.imageStats(
        graft.ext.Multimodal.synthesizeImages(docs, "png"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3),
         r.getInt(4), r.getInt(5), r.getInt(6))).toMap
    for (id <- Seq(5L, 37L, 254L)) {
      val want = ((id % 30).toInt + 2, (id % 19).toInt + 2, 3,
        ((id * 7) % 256).toInt, ((id * 13) % 256).toInt,
        ((id * 29) % 256).toInt)
      assert(got(id) == want, s"id=$id got=${got(id)} want=$want")
    }
  }

  test("decode: JPEG/PNG/BMP payloads route to the real ImageIO lane") {
    import graft.ext.Multimodal
    val img = new java.awt.image.BufferedImage(
      17, 9, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val media = Seq(
      (1L, Multimodal.encodeImage(img, "jpeg")),
      (2L, Multimodal.encodeImage(img, "png")),
      (3L, Multimodal.encodeImage(img, "bmp")),
      (4L, "plain text payload".getBytes("UTF-8"))) // stub lane
      .toDF("media_id", "payload")
    val metas = Multimodal.decode(media)
      .select(col("media_id"), col("meta.width"), col("meta.height"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    for (id <- Seq(1L, 2L, 3L))
      assert(metas(id) == (17, 9), s"id=$id got=${metas(id)}")
    // the text payload keeps the deterministic stub's length-derived shape
    assert(metas(4L) == (19, 1))
  }

  test("transcodeImage: decode→resize→re-encode→decode round-trip") {
    import graft.ext.Multimodal
    val img = new java.awt.image.BufferedImage(
      100, 50, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    (0 until 50).foreach(y => (0 until 100).foreach(x =>
      img.setRGB(x, y, 0x336699)))
    val media = Seq(
      (1L, Multimodal.encodeImage(img, "png")),
      (2L, Multimodal.encodeImage(img, "jpeg")),
      (3L, "not an image".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val out = Multimodal.imageStats(Multimodal.transcodeImage(media, 10))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    // 100x50 fit into 10 -> 10x5; both formats re-encode decodably
    assert(out(1L) == (10, 5, 3), s"png: ${out(1L)}")
    assert(out(2L) == (10, 5, 3), s"jpeg: ${out(2L)}")
    assert(!out.contains(3L), "non-image rows pass through, not decodable")
    // small targets never upscale
    val noUp = Multimodal.imageStats(Multimodal.transcodeImage(media, 500))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(noUp(1L) == (100, 50))
  }

  // ---- ADVICE #5: chunkers keep null-text rows ----

  test("chunkByChars/chunkByWords: null text yields one empty chunk, id kept") {
    val docs = Seq((1L, null: String), (2L, "hello world"))
      .toDF("doc_id", "text")
    for (chunked <- Seq(
        graft.ext.Pipeline.chunkByChars(docs, chunkChars = 5, overlapChars = 1),
        graft.ext.Pipeline.chunkByWords(docs, chunkWords = 2, overlapWords = 0))) {
      val byDoc = chunked.collect().groupBy(_.getLong(0))
      assert(byDoc.contains(1L), "null-text doc id must not be dropped")
      assert(byDoc(1L).length == 1 && byDoc(1L).head.getString(2) == "",
        s"null text -> exactly one empty chunk, got ${byDoc(1L).mkString(",")}")
      assert(byDoc(2L).nonEmpty)
    }
  }

  // ---- VERDICT r4 #2: encode-once ANN index faces ----

  test("ANN index faces: parquet round-trip index ≡ inline, all four tiers") {
    import graft.ext.Similarity
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = e.where(col("vec_id") < 5)
    val ivfM = Similarity.fitIvf(e, nlist = 8)
    val sqM = Similarity.fitSq(e)
    val pqM = Similarity.fitPq(e, m = 4, ks = 16)
    val tmp = java.nio.file.Files.createTempDirectory("graft_idx_spec").toString
    def disk(df: org.apache.spark.sql.DataFrame, name: String) = {
      df.write.mode("overwrite").parquet(s"$tmp/$name")
      spark.read.parquet(s"$tmp/$name")
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("rank"), col("neighbor_id"),
                round(col("cos"), 9).as("c")).collect().toSet
    // APPROXIMATE parameters on purpose: the probe path is what the
    // prebuilt index serves in production, and approximate candidate sets
    // are the sensitive part (a schema/typing drift through parquet would
    // change buckets/cells/codes and surface here).
    val ivf = disk(Similarity.ivfIndex(e, ivfM), "ivf")
    assert(rows(Similarity.ivfTopKIndexed(ivf, q, 10, ivfM, nprobe = 2)) ==
           rows(Similarity.ivfTopK(e, q, 10, ivfM, 2, "embedding", "vec_id")))
    // pruned face over a cell-partitioned index: same rows, and the scan
    // itself prunes — the probed-cell filter must reach PartitionFilters
    // (reading 2-3 of 8 cell directories, not all of them)
    Similarity.ivfIndex(e, ivfM).write.mode("overwrite")
      .partitionBy("cell").parquet(s"$tmp/ivf_part")
    val ivfPart = spark.read.parquet(s"$tmp/ivf_part")
    val pruned = Similarity.ivfTopKPruned(ivfPart, q, 10, ivfM, nprobe = 2)
    assert(rows(pruned) ==
           rows(Similarity.ivfTopK(e, q, 10, ivfM, 2, "embedding", "vec_id")))
    val scan = pruned.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(scan.contains("PartitionFilters: [") &&
           scan.replaceAll(".*PartitionFilters", "").contains("cell"),
      s"probed-cell filter did not reach the partitioned scan: $scan")
    val probedCells = Similarity.ivfProbeCells(q, ivfM, nprobe = 2)
    assert(probedCells.length < ivfM.nlist,
      "fixture queries should probe a strict subset of cells")
    val lsh = disk(Similarity.lshIndex(e), "lsh")
    assert(rows(Similarity.lshTopKIndexed(lsh, q, 10)) ==
           rows(Similarity.lshTopK(e, q, 10)))
    val sq = disk(Similarity.sqIndex(e, sqM), "sq")
    assert(rows(Similarity.sqTopKIndexed(sq, q, 10, sqM, shortlist = 20)) ==
           rows(Similarity.sqTopK(e, q, 10, sqM, 20, "embedding", "vec_id")))
    val pq = disk(Similarity.pqIndex(e, pqM), "pq")
    assert(rows(Similarity.pqTopKIndexed(pq, q, 10, pqM, shortlist = 20)) ==
           rows(Similarity.pqTopK(e, q, 10, pqM, 20, "embedding", "vec_id")))
  }

  test("minhashIndex: parquet round-trip ingest ≡ inline; width mismatch is loud") {
    import graft.ext.Dedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val inc = docs.where(col("doc_id") < 15)
    val inline = Dedup.incrementalMinhash(inc, docs)
      .collect().map(r => (r.get(0), r.get(1), r.getDouble(2))).toSet
    assert(inline.nonEmpty, "fixture should contain near-dups of the batch")
    val tmp = java.nio.file.Files.createTempDirectory("graft_mh_idx").toString
    Dedup.minhashIndex(docs).write.mode("overwrite").parquet(tmp)
    val indexed = Dedup.incrementalMinhashIndexed(inc, spark.read.parquet(tmp))
      .collect().map(r => (r.get(0), r.get(1), r.getDouble(2))).toSet
    assert(indexed == inline, "prebuilt corpus index diverged from inline")
    // a 24-lane index queried at 16×2=32 lanes must fail loud, not band garbage
    val narrow = Dedup.minhashIndex(docs.limit(5), numHashes = 24)
    val e = intercept[Exception] {
      Dedup.incrementalMinhashIndexed(inc.limit(5), narrow).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("minhash index width")),
      s"want the width-mismatch error, got ${msgs(e).mkString(" | ")}")
    graft.ext.OpCaches.releaseAll()
  }

  // ---- VERDICT r4 #4: element-type-independent vector math ----

  test("ANN tiers: float and double corpora, identical gate-mode results") {
    import graft.ext.Similarity
    val raw = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val ed = raw.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    // float32 lane: quantize the SAME values to float so both corpora
    // represent identical real numbers after the up-cast to double —
    // any difference between lanes is then a typing bug, not rounding
    val ef = ed.select(col("vec_id"),
      col("embedding").cast("array<float>").cast("array<double>")
        .cast("array<float>").as("embedding"))
    val edq = ef.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val ivfM = Similarity.fitIvf(edq, nlist = 8)
    val sqM = Similarity.fitSq(edq)
    val pqM = Similarity.fitPq(edq, m = 4, ks = 16)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("rank"), col("neighbor_id"),
                round(col("cos"), 9).as("c")).collect().toSet
    def q(df: org.apache.spark.sql.DataFrame) = df.where(col("vec_id") < 5)
    for ((name, run) <- Seq[(String,
        org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "ivf" -> (c => Similarity.ivfTopK(c, q(c), 10, ivfM, 8, "embedding", "vec_id")),
      "lsh" -> (c => Similarity.lshTopK(c, q(c), 10, probeAll = true)),
      "sq" -> (c => Similarity.sqTopK(c, q(c), 10, sqM, 0, "embedding", "vec_id")),
      "pq" -> (c => Similarity.pqTopK(c, q(c), 10, pqM, 0, "embedding", "vec_id")),
      "brute" -> (c => Similarity.bruteForceTopK(c, q(c), 10))
    )) assert(rows(run(ef)) == rows(run(edq)),
        s"$name: float corpus diverged from double corpus")
  }

  // ---- bounded per-query ranking replaces the row_number window ----

  test("rankTopK: heap ranking ≡ window ranking; partial-aggregated plan") {
    import graft.ext.Similarity
    import org.apache.spark.sql.expressions.Window
    // adversarial scores: exact duplicates across neighbors (tie-break on
    // id must decide), ±0.0, and negatives — 40 queries × 50 neighbors
    val scored = spark.range(2000).select(
      (col("id") % 40).as("query_id"),
      (col("id") / 40).cast("long").as("neighbor_id"),
      (when(col("id") % 7 === 0, lit(0.0))
        .when(col("id") % 7 === 1, lit(-0.0))
        .otherwise((col("id") % 13).cast("double") / 13.0 - 0.4)).as("cos"))
    val viaWindow = scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("neighbor_id"))))
      .where(col("rank") <= 5)
      .select("query_id", "neighbor_id", "cos", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val viaHeap = Similarity.rankTopK(scored, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(viaHeap == viaWindow)
    // the plan must be a partial-aggregating heap, not a window: every
    // map task forwards ≤ k rows per query into the shuffle
    val plan = Similarity.rankTopK(scored, 5).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "rankTopK fell back to a window")
    assert(plan.contains("partial_collect_top_k") ||
           plan.contains("partial_collecttopk"),
      s"collect_top_k lost partial aggregation:\n$plan")
  }

  // ---- VERDICT r4 #5: PQ ADC scoring is a codegen'd kernel ----

  test("pq_adc_score: codegen'd Kernels call, matches reference arithmetic") {
    import graft.functions.VectorFunctions
    val centNorm2 = Seq(Seq(1.0, 4.0), Seq(9.0, 16.0))
    // spark.range source keeps the projection out of ConvertToLocalRelation
    val df = spark.range(2).select(
      VectorFunctions.pq_adc_score(
        typedLit(Seq(Seq(0.5, 1.5), Seq(2.5, 3.5))),
        lit(2.0),
        array(col("id").cast("int"), lit(1).cast("int")),
        centNorm2).as("s"),
      col("id"))
    val gen = org.apache.spark.sql.execution.debug
      .codegenString(df.queryExecution.executedPlan)
    assert(gen.contains("Kernels.pqAdcScore"),
      "pq_adc_score missing from generated code — fell out of codegen")
    val got = df.collect().map(r => r.getLong(1) -> r.getDouble(0)).toMap
    // id=0: codes (0,1) → dot 0.5+3.5=4, n2 1+16=17, denom 2*sqrt(17)
    // id=1: codes (1,1) → dot 1.5+3.5=5, n2 4+16=20, denom 2*sqrt(20)
    assert(math.abs(got(0L) - 4.0 / (2.0 * math.sqrt(17))) < 1e-12)
    assert(math.abs(got(1L) - 5.0 / (2.0 * math.sqrt(20))) < 1e-12)
  }

  // ---- VERDICT r4 #3: operator persists flow through OpCaches ----

  test("OpCaches: every operator-internal persist releases; zero survivors") {
    import graft.ext.{Dedup, OpCaches, Pipeline, TextAnalysis}
    // isolate from earlier suites sharing the session
    OpCaches.releaseAll()
    spark.catalog.clearCache()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(60)
    Dedup.minhashPairs(docs, "text", "doc_id").count()
    Dedup.simhashPairs(docs, "text", "doc_id").count()
    Dedup.ngramJaccardPairs(docs, "text", "doc_id").count()
    Dedup.dedupSpans(docs).count()
    Dedup.incrementalMinhash(docs.where(col("doc_id") < 10), docs).count()
    Dedup.clusters(
      Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")).count()
    TextAnalysis.bigramFamiliarity(docs, "text", "doc_id").count()
    TextAnalysis.tfidfTopTerms(docs, "text", "doc_id").count()
    Pipeline.packSequences(docs, "doc_id",
      TextAnalysis.tokenCount(col("text")), budget = 512).count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "expected the operators to have cached working sets before release")
    OpCaches.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "an operator persist bypassed the OpCaches registry")
  }

  test("every oracle belongs to a registered gate query") {
    assert(SparkEntry.oracleSql.keySet subsetOf SparkEntry.queries.keySet)
  }

  // ---- VERDICT r4 #6: TPC-H anchor plan shapes locked by spec ----

  test("q1/q3/q5 plans: broadcast dims, no nested-loop join, no cartesian") {
    val qs = graft.SparkEntry.queries
    def plan(name: String) =
      qs(name)(spark, sfDir).queryExecution.executedPlan.toString
    for (name <- Seq("q1_pricing", "q3_revenue", "q5_region_revenue")) {
      val p = plan(name)
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name: BroadcastNestedLoopJoin in plan")
      assert(!p.contains("CartesianProduct"), s"$name: cartesian in plan")
    }
    // q3: customer dimension broadcasts; q5: the 3-dim chain broadcasts
    assert(plan("q3_revenue").contains("BroadcastHashJoin"),
      "q3: no broadcast join for the customer dimension")
    val q5 = plan("q5_region_revenue")
    assert(q5.sliding("BroadcastHashJoin".length)
             .count(_ == "BroadcastHashJoin") >= 3,
      "q5: customer/nation/region dimension chain should broadcast-join")
    // q1 is a single-agg scan: one group-by exchange plus the presentation
    // sort's range exchange (over 4 grouped rows — free), and the
    // aggregation must map-side combine before it shuffles
    val q1 = plan("q1_pricing")
    val q1Exchanges = "(?<!Reused)Exchange".r.findAllIn(q1).length
    assert(q1Exchanges <= 2, s"q1: expected agg+sort shuffles only, got $q1Exchanges")
    assert(q1.contains("partial_"), "q1: aggregation lost map-side combine")
  }

  // ---- VERDICT r4 #7: the full quality-filter battery streams ----

  test("quality gate composite streams: keep set identical to batch") {
    import graft.ext.TextAnalysis
    val w = Seq("good" -> 1.5, "spam" -> -2.0)
    val good = ("the quick brown fox jumps over the lazy dog and then " +
      "it runs far away to find some good food for the long winter " +
      "season with many friends that have come to visit from the north " +
      "and they all share stories of the road under a bright evening " +
      "sky be that as it may") // 54 words: passes both batteries
    val texts = Seq(
      (1L, good),
      (2L, "spam spam spam spam"),                    // fails c4 minWords
      (3L, good + " ###### ##### #### ### ## # ### ## # ## ###"), // symbol spam
      (4L, ""))
    def gate(df: org.apache.spark.sql.DataFrame) = df.select(
      col("id"),
      (TextAnalysis.c4Rules(col("text")).getField("keep") &&
       TextAnalysis.gopherRules(col("text")).getField("keep") &&
       (TextAnalysis.classifierScore(col("text"), w) > lit(0.0)))
        .as("keep"))
    val batch = gate(texts.toDF("id", "text")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(batch(1L), "fixture doc 1 must pass the full battery")
    assert(!batch(2L) && !batch(3L) && !batch(4L))
    val ms = MemoryStream[(Long, String)]
    val q = gate(ms.toDF().toDF("id", "text"))
      .writeStream.format("memory").queryName("quality_gate_stream")
      .outputMode("append").start()
    try {
      ms.addData(texts.take(2): _*)
      q.processAllAvailable()
      ms.addData(texts.drop(2): _*) // cross-batch: stateless gate, same result
      q.processAllAvailable()
      val streamed = spark.table("quality_gate_stream").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(streamed == batch, s"streamed $streamed vs batch $batch")
    } finally q.stop()
  }

  // ---- corpus×corpus KNN join (semantic pair mining) ----

  test("ivfKnnJoin: exact mode ≡ brute force; salt-invariant; shuffle join") {
    import graft.ext.Similarity
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val model = Similarity.fitIvf(e, nlist = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("rank"), col("neighbor_id"),
                round(col("cos"), 9).as("c")).collect().toSet
    // nprobe = nlist ⇒ every (query, neighbor) pair scored ⇒ ≡ brute force
    // with the whole corpus as the query side
    val brute = rows(Similarity.bruteForceTopK(e, e, k = 5))
    val exact = Similarity.knnSelfJoin(e, k = 5, model, nprobe = 8)
    assert(rows(exact) == brute, "exact-mode knn self-join != brute force")
    // salting only re-buckets the corpus side; results must be identical
    assert(rows(Similarity.knnSelfJoin(e, 5, model, 8, salt = 3)) == brute,
      "salt=3 changed the result set")
    // the query side must NOT broadcast (it is corpus-sized): with the
    // auto-broadcast estimator off, the candidate meet is a shuffle join on
    // (cell, __salt) — no BroadcastNestedLoop, no cartesian
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Similarity.knnSelfJoin(e, 5, model, 8, salt = 2)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
             !plan.contains("CartesianProduct"),
        s"knn join fell back to an unbounded join shape:\n$plan")
      assert(plan.contains("SortMergeJoin") ||
             plan.contains("ShuffledHashJoin"),
        s"expected a shuffled equi-join on (cell, __salt):\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    // approximate probe: recall vs brute force is high at nprobe=3/8 on the
    // clustered fixture, and every returned pair must be a real pair
    val approx = rows(Similarity.knnSelfJoin(e, 5, model, nprobe = 3))
    val bruteKeys = brute.map(r => (r.getLong(0), r.getLong(2)))
    val approxKeys = approx.map(r => (r.getLong(0), r.getLong(2)))
    val recall = approxKeys.count(bruteKeys.contains).toDouble / bruteKeys.size
    assert(recall > 0.6, s"nprobe=3 recall collapsed: $recall")
  }

  // ---- distributed classifier training (exact full-batch GD) ----

  test("fitLinearHashed: partition-invariant bit-exact fit; loss drops; separates") {
    import graft.ext.TextAnalysis
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val label = when(col("lang") === "en", 1.0).otherwise(0.0)
    val w = TextAnalysis.fitLinearHashed(docs, "text", label)
    // the exact-arithmetic contract's observable: aggregation ORDER cannot
    // change the fit — different partitionings give bit-identical weights
    val w7 = TextAnalysis.fitLinearHashed(docs.repartition(7), "text", label)
    val w1 = TextAnalysis.fitLinearHashed(docs.coalesce(1), "text", label)
    assert(w.toSeq == w7.toSeq && w.toSeq == w1.toSeq,
      "fit is partition-order dependent — exactness contract broken")
    // every weight sits on the 2^-16 grid
    assert(w.forall(x => x * 65536.0 == math.rint(x * 65536.0)),
      "weights left the 1/65536 grid")
    // training actually learns: squared loss below the all-zero model's,
    // and the trained score separates the labeled classes
    def mse(weights: Seq[Double]) = docs.select(
        pow(label - TextAnalysis.classifierScoreHashed(col("text"), weights),
            2).as("e"))
      .agg(avg(col("e"))).head.getDouble(0)
    val lossTrained = mse(w.toSeq)
    val lossZero = mse(Seq.fill(w.length)(0.0))
    assert(lossTrained < lossZero,
      s"training did not reduce loss: $lossTrained vs zero-model $lossZero")
    val sep = docs.select(label.as("y"),
        TextAnalysis.classifierScoreHashed(col("text"), w.toSeq).as("s"))
      .groupBy(col("y")).agg(avg(col("s")).as("m"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(sep(1.0) > sep(0.0),
      s"trained scores do not separate classes: $sep")
    // contract guards fire with named errors
    val e1 = intercept[IllegalArgumentException] {
      TextAnalysis.fitLinearHashed(docs, "text", label, lr = 0.1)
    }
    assert(e1.getMessage.contains("power of two"))
    val e2 = intercept[IllegalArgumentException] {
      TextAnalysis.fitLinearHashed(docs, "text", label, clamp = 0.30000001)
    }
    assert(e2.getMessage.contains("grid"))
    // no cache residue: the tokenized projection is released internally
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "fitLinearHashed leaked its persisted training projection")
  }

  // ---- waterfilled token-budget allocation ----

  test("waterfill: caps, redistributes, terminates; sampleToBudget lands near alloc") {
    import graft.ext.Pipeline
    // hand-computed: budget 100, weights 50/30/20 ppm-style over avail
    // 10/1000/1000 — key a saturates (want 50 > avail 10), its share
    // redistributes 60/40 across b and c: b = 90*30/50 = 54, c = 36
    def wf(items: Seq[(String, Long, Long)], budget: Long) =
      Pipeline.waterfill(items, budget).toMap
    val r = wf(Seq(("a", 500000L, 10L), ("b", 300000L, 1000L),
                   ("c", 200000L, 1000L)), 100L)
    assert(r == Map("a" -> 10L, "b" -> 54L, "c" -> 36L), s"got $r")
    // budget exceeding total avail: everyone capped
    val r2 = wf(Seq(("a", 500000L, 10L), ("b", 500000L, 20L)), 1000L)
    assert(r2 == Map("a" -> 10L, "b" -> 20L), s"got $r2")
    // zero-weight keys get nothing even with avail
    val r3 = wf(Seq(("a", 1000000L, 50L), ("b", 0L, 999L)), 60L)
    assert(r3 == Map("a" -> 50L, "b" -> 0L), s"got $r3")
    // chained saturation: two rounds of redistribution
    val r4 = wf(Seq(("a", 400000L, 5L), ("b", 400000L, 20L),
                    ("c", 200000L, 1000L)), 100L)
    // round 1: wants 40/40/20 → a caps at 5; round 2: rem 95, wants
    // b: 95*4/6 = 63 > 20 → b caps; round 3: c gets 75*2/2 = 75
    assert(r4 == Map("a" -> 5L, "b" -> 20L, "c" -> 75L), s"got $r4")
    // end-to-end: sampled token mass per key lands near the allocation
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val mass = size(filter(split(col("text"), " "), t => t =!= ""))
      .cast("long")
    val weights = Seq("de" -> 100000L, "en" -> 100000L, "es" -> 100000L,
                      "fr" -> 100000L, "zh" -> 600000L)
    val total = docs.select(sum(mass)).head.getLong(0)
    val alloc = Pipeline.allocateBudget(docs, "lang", weights, total / 2, mass)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(alloc("zh")._2 == alloc("zh")._1,
      "zh must saturate at its available mass under a 60% share")
    val kept = Pipeline.sampleToBudget(docs, "lang", "doc_id", weights,
        total / 2, mass)
      .groupBy("lang").agg(sum(mass).as("kept")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((k, (_, a)) <- alloc if a > 0) {
      val got = kept.getOrElse(k, 0L)
      assert(math.abs(got - a) <= math.max(200L, a / 3),
        s"$k: kept token mass $got far from allocation $a")
    }
    // sampling is a pure function of ids: same rows on any partitioning
    val n1 = Pipeline.sampleToBudget(docs, "lang", "doc_id", weights,
        total / 2, mass).count()
    val n2 = Pipeline.sampleToBudget(docs.repartition(7), "lang", "doc_id",
        weights, total / 2, mass).count()
    assert(n1 == n2, s"partitioning changed the sample: $n1 vs $n2")
  }

  // ---- mainstream animated-format frame sampling (GIF via ImageIO) ----

  test("sampleGifFrames: stride over a real animated GIF; non-GIF yields nothing") {
    import graft.ext.Multimodal
    import javax.imageio.ImageIO
    // author a real 5-frame animated GIF with distinct solid fills
    val colors = Seq(0xff0000, 0x00ff00, 0x0000ff, 0xffff00, 0x00ffff)
    val frames = colors.map { c =>
      val img = new java.awt.image.BufferedImage(8, 6,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(c)); g.fillRect(0, 0, 8, 6); g.dispose()
      img
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    val w = ImageIO.getImageWritersByFormatName("gif").next()
    w.setOutput(ios)
    w.prepareWriteSequence(null)
    frames.foreach(f =>
      w.writeToSequence(new javax.imageio.IIOImage(f, null, null), null))
    w.endWriteSequence(); w.dispose(); ios.close()
    val gif = bos.toByteArray
    assert(new String(gif.take(4), "US-ASCII").startsWith("GIF8"))
    import spark.implicits._
    val media = Seq((1L, gif), (2L, Array[Byte](1, 2, 3, 4)))
      .toDF("media_id", "payload")
    val out = Multimodal.sampleGifFrames(media, stride = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getAs[Array[Byte]](2)))
      .sortBy(_._2)
    assert(out.map(o => (o._1, o._2)).toSeq == Seq((1L, 0), (1L, 2), (1L, 4)),
      s"expected frames 0/2/4 of media 1, got ${out.map(o => (o._1, o._2)).toSeq}")
    // each sampled frame is a standalone decodable image with the frame's
    // dimensions and (palette-exact for solid fills) color
    for (((_, fno, png), want) <- out.zip(Seq(colors(0), colors(2), colors(4)))) {
      val img = ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(img.getWidth == 8 && img.getHeight == 6, s"frame $fno dims")
      assert((img.getRGB(3, 3) & 0xffffff) == want,
        f"frame $fno color: got ${img.getRGB(3, 3) & 0xffffff}%06x want $want%06x")
    }
  }

  // ---- NTZ event-time tolerance (fixture ts type changed across rounds) ----

  test("session kernel reads TIMESTAMP_NTZ event time (micros fixture) and LTZ alike") {
    // unit: all three external timestamp types map to the same micros
    val us = 1723500000123456L
    val sqlTs = new java.sql.Timestamp(us / 1000L)
    sqlTs.setNanos(((us % 1000000L) * 1000L).toInt)
    val inst = java.time.Instant.ofEpochSecond(us / 1000000L,
      (us % 1000000L) * 1000L)
    val ldt = java.time.LocalDateTime.ofInstant(inst, java.time.ZoneOffset.UTC)
    assert(Intervals.micros(sqlTs) == us)
    assert(Intervals.micros(ldt) == us)
    assert(Intervals.micros(inst) == us)
    val bad = intercept[IllegalArgumentException] {
      Intervals.micros("not a time")
    }
    assert(bad.getMessage.contains("timestamp value"))
    // end-to-end: the user-merger session gate query over the raw fixture
    // (ts reads as TIMESTAMP_NTZ — LocalDateTime rows) must run and agree
    // with the declarative session_window count per (user, session_start)
    // output types differ on purpose (kernel emits LTZ; session_window
    // passes NTZ through) — compare on tolerant micros, like the oracle's
    // naive-UTC convention
    def rows3(q: String) = SparkEntry.queries(q)(spark, sfDir)
      .select(col("user_id"), col("session_start"), col("n")).collect()
      .map(r => (r.getLong(0), Intervals.micros(r.get(1)),
                 r.getLong(2))).toSet
    val userSess = rows3("agg_session_user")
    assert(userSess.nonEmpty, "session query returned nothing")
    val builtin = rows3("agg_session")
    assert(userSess == builtin,
      "custom session kernel diverged from session_window on the fixture")
  }

  // ---- deterministic epoch shuffle ----

  test("epochShuffle: total deterministic order; epochs independent; partition-stable") {
    import graft.ext.Pipeline
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def order(df: org.apache.spark.sql.DataFrame, epoch: Int) =
      Pipeline.epochShuffle(df, "doc_id", epoch)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val e1 = order(docs, 1)
    assert(e1.size == docs.count() && e1.distinct.size == e1.size,
      "shuffle must be a permutation of the corpus")
    assert(e1 != e1.sorted, "epoch order should not be id order")
    assert(order(docs, 2) != e1, "different epochs must re-draw the order")
    assert(order(docs.repartition(7), 1) == e1,
      "order must not depend on physical partitioning")
    val clash = intercept[IllegalArgumentException] {
      Pipeline.epochShuffle(docs.withColumn("shuffle_key", lit(1)),
        "doc_id", 1)
    }
    assert(clash.getMessage.contains("shuffle_key"))
  }

  // ---- BPE merge learning vs an in-memory reference implementation ----

  test("learnBpe: matches the classic in-memory trainer; compresses; stops dry") {
    import graft.ext.TextAnalysis
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    // reference trainer: same pre-tokenizer, same greedy lowest-rank
    // encode as the kernel, same (count desc, pair asc) adoption rule.
    // String order = UTF-8 BYTE order to mirror Spark's binary collation
    // (≡ code-point order; Java String compareTo would diverge on
    // supplementary planes).
    def utf8Lt(x: String, y: String): Boolean = {
      val (a, b) = (x.getBytes("UTF-8"), y.getBytes("UTF-8"))
      var i = 0
      while (i < a.length && i < b.length) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      a.length < b.length
    }
    def encodeRef(word: String, ranks: Map[(String, String), Int])
        : Vector[String] = {
      var syms = {
        val b = Vector.newBuilder[String]
        var i = 0
        while (i < word.length) {
          val n = Character.charCount(word.codePointAt(i))
          b += word.substring(i, i + n); i += n
        }
        b.result()
      }
      var done = syms.length < 2
      while (!done) {
        var bestRank = Int.MaxValue
        var bestAt = -1
        for (j <- 0 until syms.length - 1) {
          ranks.get((syms(j), syms(j + 1))).foreach { r =>
            if (r < bestRank) { bestRank = r; bestAt = j }
          }
        }
        if (bestAt < 0) done = true
        else {
          syms = (syms.take(bestAt) :+ (syms(bestAt) + syms(bestAt + 1))) ++
            syms.drop(bestAt + 2)
          done = syms.length < 2
        }
      }
      syms
    }
    def learnRef(wordCounts: Map[String, Long], numMerges: Int,
                 minCount: Long): Seq[(String, String)] = {
      val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
      var done = false
      while (!done && merges.size < numMerges) {
        val ranks = merges.zipWithIndex.map { case (p, r) => p -> r }.toMap
        val counts = scala.collection.mutable.Map[(String, String), Long]()
        for ((w, c) <- wordCounts) {
          val syms = encodeRef(w, ranks)
          for (j <- 0 until syms.length - 1)
            counts((syms(j), syms(j + 1))) =
              counts.getOrElse((syms(j), syms(j + 1)), 0L) + c
        }
        if (counts.isEmpty) done = true
        else {
          val best = counts.toSeq.sortWith { case ((p1, n1), (p2, n2)) =>
            if (n1 != n2) n1 > n2
            else if (p1._1 != p2._1) utf8Lt(p1._1, p2._1)
            else utf8Lt(p1._2, p2._2)
          }.head
          if (best._2 < minCount) done = true else merges += best._1
        }
      }
      merges.toList
    }

    val pat = java.util.regex.Pattern.compile(TextAnalysis.bpePattern)
    val wordCounts = docs.select(col("text")).collect()
      .flatMap { r =>
        val m = pat.matcher(r.getString(0))
        val b = scala.collection.mutable.ArrayBuffer[String]()
        while (m.find()) b += m.group()
        b
      }
      .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    val expected = learnRef(wordCounts, numMerges = 20, minCount = 2L)
    val got = TextAnalysis.learnBpe(docs, "text", numMerges = 20)
    assert(got == expected,
      s"distributed fit diverged from reference:\n got $got\n exp $expected")
    assert(got.size == 20, "fixture corpus should support 20 merges")
    // learned merges COMPRESS: strictly fewer symbols than char-level
    val nMerged = docs.select(
        sum(TextAnalysis.bpeTokenCountExact(col("text"), got))).head.getLong(0)
    val nChars = docs.select(
        sum(TextAnalysis.bpeTokenCountExact(col("text"), Nil))).head.getLong(0)
    assert(nMerged < nChars,
      s"learned merges failed to compress: $nMerged vs $nChars symbols")
    // dry corpus stops early instead of looping
    import spark.implicits._
    val tiny = Seq("a b", "a b").toDF("text")
    val tinyMerges = TextAnalysis.learnBpe(tiny, "text", numMerges = 50)
    assert(tinyMerges.size < 50,
      s"trainer did not stop on a saturated vocabulary: $tinyMerges")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "learnBpe leaked its persisted vocabulary")
  }

  // ---- bigram LM perplexity (the CCNet-style quality filter) ----

  test("perplexity: hand-checked add-k bigram model on a tiny corpus") {
    import graft.ext.TextAnalysis
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val lm = TextAnalysis.bigramLmFit(docs, "text")
    val counts = lm.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("a b" -> 3L, "b a" -> 1L, "b c" -> 1L))
    // V=3, k=0.5: P(b|a)=3.5/4.5, P(a|b)=1.5/3.5, P(c|b)=1.5/3.5
    val got = TextAnalysis.perplexity(docs, lm, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def ppl(lps: Seq[Double]): Double =
      BigDecimal(math.exp(-lps.sum / lps.size))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d1 = ppl(Seq(math.log(3.5 / 4.5), math.log(1.5 / 3.5),
                     math.log(3.5 / 4.5)))
    val d2 = ppl(Seq(math.log(3.5 / 4.5), math.log(1.5 / 3.5)))
    assert(got == Set((1L, 3L, d1), (2L, 2L, d2)), s"got $got")
    graft.ext.OpCaches.releaseAll()
  }

  test("perplexity: projection face equals the join face on the fixtures") {
    import graft.ext.TextAnalysis
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val lm = TextAnalysis.bigramLmFit(docs, "text")
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("t"))
      .where(col("t") =!= "").agg(countDistinct(col("t"))).head.getLong(0)
    val model = TextAnalysis.bigramLmCollect(lm, vocab)
    val joined = TextAnalysis.perplexity(docs, lm, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val projected = docs.select(col("doc_id"),
        TextAnalysis.perplexityColumn(col("text"), model).as("ppl"))
      .where(col("ppl").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(joined == projected,
      s"faces diverge on ${joined.keySet.union(projected.keySet)
        .count(k => joined.get(k) != projected.get(k))} docs")
    graft.ext.OpCaches.releaseAll()
  }

  test("perplexity: unseen bigrams score k/(kV) and stream identically") {
    import graft.ext.TextAnalysis
    val fitDocs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val model = TextAnalysis.bigramLmCollect(
      TextAnalysis.bigramLmFit(fitDocs, "text"), vocabSize = 3L)
    val pplCol = TextAnalysis.perplexityColumn(col("text"), model)
    // "z z": both context and bigram unseen -> P = 0.5/1.5 each step;
    // one-token and empty docs -> null
    val texts = Seq((10L, "z z z"), (11L, "a"), (12L, ""))
    val batch = texts.toDF("doc_id", "text")
      .select(col("doc_id"), pplCol.as("ppl"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
    val expectZ = BigDecimal(math.exp(-math.log(0.5 / 1.5)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(batch == Set((10L, Some(expectZ)), (11L, None), (12L, None)),
      s"got $batch")
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text")
      .select(col("doc_id"), pplCol.as("ppl"))
      .writeStream.format("memory").queryName("ppl_stream")
      .outputMode("append").start()
    try {
      ms.addData(texts: _*)
      q.processAllAvailable()
      val streamed = spark.table("ppl_stream").collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).toSet
      assert(streamed == batch, s"streamed $streamed vs batch $batch")
    } finally q.stop()
  }

  // ---- BM25 retrieval ----

  test("bm25TopK: matches a windowed reference ranking on the fixtures") {
    import graft.ext.TextAnalysis
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val qs = Seq(0L -> Seq("spark", "table"), 1L -> Seq("hash", "merge"))
    val got = TextAnalysis.bm25TopK(docs, "text", "doc_id", qs, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq.sortBy(t => (t._1, t._2))
    // reference: same per-(qid, doc) scores ranked with a window instead
    // of the bounded heap — identical output proves the heap agg ranks
    // (score desc, doc asc) like row_number does
    val scored = TextAnalysis.bm25TopK(docs, "text", "doc_id", qs,
      k = 100000)
    val ref = scored.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
        rows.sortBy(t => (-t._3, t._2)).take(5).zipWithIndex.map {
          case ((_, doc, s), i) => (qid, i + 1L, doc, s) }
      }.sortBy(t => (t._1, t._2))
    assert(got == ref, s"heap ranking diverged:\n got $got\n ref $ref")
    assert(got.count(_._1 == 0L) == 5 && got.count(_._1 == 1L) == 5)
    graft.ext.OpCaches.releaseAll()
  }

  test("bm25TopK: bounded heap in the plan, no cartesian on postings") {
    import graft.ext.TextAnalysis
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = TextAnalysis.bm25TopK(docs, "text", "doc_id",
        Seq(0L -> Seq("spark")), k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_collect_top_k"),
      s"ranking is not the partial-aggregated CollectTopK heap:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian product in the BM25 plan:\n$plan")
    graft.ext.OpCaches.releaseAll()
  }

  // ---- deflate compression-ratio signal ----

  test("compressionRatio: separates repeated text from noise, stays " +
       "codegen'd, streams, and handles empty/null") {
    import graft.ext.TextAnalysis
    val rnd = new scala.util.Random(3)
    val noisy = Array.fill(2000)((rnd.nextInt(90) + 33).toChar).mkString
    val df = Seq((1L, Some("spam " * 400)), (2L, Some(noisy)),
        (3L, Some("")), (4L, None))
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.compressionRatio(col("text")).as("r"))
    val got = df.collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Double]))
      .toMap
    assert(got(1).get < 0.05, s"templated text should crush: ${got(1)}")
    assert(got(2).get > 0.5, s"random noise should resist: ${got(2)}")
    assert(got(3).contains(1.0) && got(4).isEmpty)
    assert(got(1).get < got(2).get)
    // codegen assert needs a real scan (a literal local Seq evaluates at
    // plan time with no WholeStageCodegen subtree)
    val gen = org.apache.spark.sql.execution.debug.codegenString(
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(TextAnalysis.compressionRatio(col("text")))
        .queryExecution.executedPlan)
    assert(gen.contains("Kernels.deflateRatio"),
      "deflate_ratio fell out of whole-stage codegen")
    // deterministic: same input, same ratio (fresh deflater per call)
    val again = Seq(Tuple1("spam " * 400)).toDF("text")
      .select(TextAnalysis.compressionRatio(col("text"))).head.getDouble(0)
    assert(again == got(1).get)
    // SQL face through the extensions registry
    graft.functions.VectorFunctions.register(spark)
    val viaSql = spark.sql("SELECT deflate_ratio('aaaaaaaaaaaaaaaa') AS r")
      .head.getDouble(0)
    assert(viaSql > 0 && viaSql < 1.0)
    // streaming projection
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("id", "text")
      .select(col("id"), TextAnalysis.compressionRatio(col("text")).as("r"))
      .writeStream.format("memory").queryName("deflate_stream")
      .outputMode("append").start()
    try {
      ms.addData((9L, "spam " * 400))
      q.processAllAvailable()
      assert(spark.table("deflate_stream").head.getDouble(1) == got(1).get)
    } finally q.stop()
  }

  // ---- WET raw-record codec ----

  test("Wet: multibyte UTF-8 payloads round-trip byte-exactly") {
    import graft.sources.Wet
    val docs = Seq(
      (1L, "zh", "中文 текст emoji 😀 done"),
      (2L, "en", "plain ascii"),
      (3L, "de", ""), // empty payload
      (10L, "fr", "a\r\nb")) // CRLF inside a payload must not re-frame
      .toDF("doc_id", "lang", "text")
    val parsed = Wet.parseBlobs(
        Wet.toBlobs(docs, "doc_id", "lang", "text", nBlobs = 2))
      .select(Wet.docIdFromUri(col("uri")).as("doc_id"), col("lang"),
        col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    val expect = Set((1L, "zh", "中文 текст emoji 😀 done"),
      (2L, "en", "plain ascii"), (3L, "de", ""), (10L, "fr", "a\r\nb"))
    assert(parsed == expect, s"got $parsed")
  }

  test("Wet: malformed blobs keep prior records and never loop or throw") {
    import graft.sources.Wet
    def rec(id: Long, text: String): Array[Byte] = {
      val p = text.getBytes("UTF-8")
      (s"WARC/1.0\r\nWARC-Type: conversion\r\n" +
        s"WARC-Target-URI: https://example.org/doc/$id\r\n" +
        s"WARC-Language: en\r\nContent-Length: ${p.length}\r\n\r\n")
        .getBytes("UTF-8") ++ p ++ "\r\n\r\n".getBytes("UTF-8")
    }
    val good = rec(1, "ok")
    // declared length runs past the end of the blob
    val truncated = good ++ ("WARC/1.0\r\nContent-Length: 9999\r\n\r\nx")
      .getBytes("UTF-8")
    // negative length
    val negative = good ++ ("WARC/1.0\r\nContent-Length: -8\r\n\r\n")
      .getBytes("UTF-8")
    // garbage between records
    val garbage = good ++ "NOT A RECORD".getBytes("UTF-8")
    // header block never terminates
    val unterminated = good ++ "WARC/1.0\r\nContent-".getBytes("UTF-8")
    for (blob <- Seq(truncated, negative, garbage, unterminated)) {
      val got = Wet.parseWetBytes(blob).toSeq
      assert(got.map(_._3) == Seq("ok"),
        s"expected only the leading good record, got $got")
    }
    assert(Wet.parseWetBytes(Array.emptyByteArray).isEmpty)
  }

  // ---- HTML main-content extraction ----

  test("stripHtml: crafted tag soup extracts exactly the main content") {
    import graft.ext.TextAnalysis
    val cases = Seq(
      // script containing tags and comparisons must vanish entirely
      ("<body><script>if(a<b){document.write(\"<p>hi</p>\")}</script>" +
        "<p>kept text</p></body>", "kept text"),
      // style, comments, nav/header/footer/aside drop WITH contents
      ("<head><title>T</title></head><body><style>p{x:1}</style>" +
        "<!-- note --><nav>a|b</nav><header>hh</header><aside>ad</aside>" +
        "<p>real</p><footer>f</footer></body>", "real"),
      // entities decode in standard order; &amp; last so &amp;lt; -> &lt;
      ("<p>a &lt;b&gt; &quot;c&quot; &#39;d&#39; e&nbsp;f &amp;lt;</p>",
        "a <b> \"c\" 'd' e f &lt;"),
      // block tags become spaces: no word gluing across boundaries
      ("<div>one</div><div>two</div>", "one two"),
      // attributes with > inside quotes are out of (regex) scope; plain
      // attributes strip fine
      ("<p class=\"x\" id='y'>z</p>", "z"),
      ("", ""))
    val got = cases.map(_._1).zipWithIndex
      .map { case (h, i) => (i, h) }.toDF("id", "html")
      .select(col("id"), TextAnalysis.stripHtml(col("html")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((_, expect), i) =>
      assert(got(i) == expect, s"case $i: got '${got(i)}' want '$expect'")
    }
  }

  test("stripHtml(htmlFixture(text)) round-trips normalized text " +
       "and runs as a streaming projection") {
    import graft.ext.TextAnalysis
    val texts = Seq((1L, "alpha beta gamma"), (2L, "solo"), (3L, ""))
    val wrap = TextAnalysis.htmlFixture(col("text"), col("id"))
    val strip = TextAnalysis.stripHtml(wrap)
    val batch = texts.toDF("id", "text")
      .select(col("id"), strip.as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(batch == Set((1L, "alpha beta gamma"), (2L, "solo"), (3L, "")))
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("id", "text").select(col("id"), strip.as("t"))
      .writeStream.format("memory").queryName("html_stream")
      .outputMode("append").start()
    try {
      ms.addData(texts: _*)
      q.processAllAvailable()
      val streamed = spark.table("html_stream").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  // ---- PCA ----

  test("pcaFit: orthonormal components satisfying the eigen equation") {
    import graft.ext.Similarity
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val m = Similarity.pcaFit(emb, k = 8)
    val d = m.dim
    // orthonormal basis
    for (i <- 0 until m.k; j <- i until m.k) {
      val dot = (0 until d).map(t => m.components(i)(t) * m.components(j)(t)).sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-9, s"<c$i,c$j> = $dot")
    }
    // eigenvalues descending and non-negative (covariance is PSD)
    assert(m.eigenvalues.toSeq == m.eigenvalues.sorted(
      Ordering[Double].reverse).toSeq)
    assert(m.eigenvalues.forall(_ > -1e-10))
    // C c_i = lambda_i c_i against the independently computed covariance
    val g = Similarity.gramMatrix(emb)
    val n = emb.count().toDouble
    val mean = m.mean
    def cov(i: Int, j: Int) = g(i)(j) / n - mean(i) * mean(j)
    for (i <- 0 until m.k) {
      val c = m.components(i)
      var err = 0.0
      for (r <- 0 until d) {
        val cv = (0 until d).map(t => cov(r, t) * c(t)).sum
        err = math.max(err, math.abs(cv - m.eigenvalues(i) * c(r)))
      }
      assert(err < 1e-8, s"eigen equation residual $err for component $i")
    }
  }

  test("pcaProject: component variance equals the eigenvalue; whitening " +
       "normalizes it; the mean projects to zero") {
    import graft.ext.Similarity
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val m = Similarity.pcaFit(emb, k = 4)
    val proj = Similarity.pcaProject(emb, m)
      .select((0 until 4).map(i =>
        element_at(col("projected"), i + 1).as(s"p$i")): _*)
    val n = emb.count().toDouble
    val aggs = (0 until 4).flatMap(i => Seq(avg(col(s"p$i")).as(s"m$i"),
      sum(col(s"p$i") * col(s"p$i")).as(s"s$i")))
    val stats = proj.agg(aggs.head, aggs.tail: _*).head()
    for (i <- 0 until 4) {
      val mu = stats.getDouble(2 * i)
      val varPop = stats.getDouble(2 * i + 1) / n - mu * mu
      // centered projection: mean ~ 0, population variance ~ eigenvalue
      assert(math.abs(mu) < 1e-9, s"component $i mean $mu")
      assert(math.abs(varPop - m.eigenvalues(i)) < 1e-6 * (1 + m.eigenvalues(i)),
        s"component $i variance $varPop vs eigenvalue ${m.eigenvalues(i)}")
    }
    val white = Similarity.pcaProject(emb, m, whiten = true)
      .select(element_at(col("projected"), 1).as("p0"))
    val ws = white.agg(avg(col("p0")).as("m"),
      sum(col("p0") * col("p0")).as("s")).head()
    val wVar = ws.getDouble(1) / n - ws.getDouble(0) * ws.getDouble(0)
    assert(math.abs(wVar - 1.0) < 1e-6, s"whitened variance $wVar")
  }

  test("jacobiEig: recovers a crafted spectrum exactly") {
    import graft.ext.Similarity
    // A = Q diag(5,2,1) Q^T for a known rotation Q
    val q = Array(
      Array(math.sqrt(0.5), math.sqrt(0.5), 0.0),
      Array(-math.sqrt(0.5), math.sqrt(0.5), 0.0),
      Array(0.0, 0.0, 1.0))
    val lam = Array(5.0, 2.0, 1.0)
    val a = Array.tabulate(3, 3)((i, j) =>
      (0 until 3).map(t => q(t)(i) * lam(t) * q(t)(j)).sum)
    val (eigs, vecs) = Similarity.jacobiEig(a)
    for (i <- 0 until 3)
      assert(math.abs(eigs(i) - lam(i)) < 1e-12, eigs.mkString(","))
    for (i <- 0 until 3) {
      val dot = math.abs((0 until 3).map(t => vecs(i)(t) * q(i)(t)).sum)
      assert(math.abs(dot - 1.0) < 1e-12, s"eigenvector $i misaligned")
    }
  }

  // ---- top-k heavy hitters ----

  test("heavyHitters: exact when capacity covers the key space") {
    import graft.ext.Sketches
    val rng = new scala.util.Random(7)
    val rows = Seq.fill(5000)(rng.nextInt(40).toLong).map(Tuple1(_))
      .toDF("k").repartition(8)
    val got = Sketches.heavyHitters(rows, "k", k = 40, capacity = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = rows.groupBy("k").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == exact, "capacity >= distinct must be exact")
  }

  test("heavyHitters: frequent-items error bound at small capacity") {
    import graft.ext.Sketches
    val rng = new scala.util.Random(11)
    // zipf-ish: heavy mass on few keys, long tail forcing purges
    val data = Seq.fill(20000)(
      if (rng.nextDouble() < 0.6) rng.nextInt(5).toLong
      else 100L + rng.nextInt(2000)).map(Tuple1(_))
    val df = data.toDF("k").repartition(4)
    val n = data.size.toLong
    val cap = 50
    val est = Sketches.heavyHitters(df, "k", k = cap, capacity = cap)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = data.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    // DataSketches frequent items with map size M (the smallest power of
    // two >= cap / 0.75, 128 here): estimates never undercount and
    // overcount by at most 3.5·N/M
    val m = Integer.highestOneBit(math.ceil(cap / 0.75).toInt - 1) << 1
    assert(m == 128)
    val bound = 3.5 * n / m
    est.foreach { case (k, e) =>
      val t = truth(k)
      assert(e >= t, s"undercount for $k: $e < $t")
      assert(e <= t + bound, s"bound violated for $k: $e vs $t")
    }
    // every key heavier than twice the bound is guaranteed to surface
    val mustHave = truth.filter(_._2 > 2 * bound).keySet
    assert(mustHave.nonEmpty)
    assert(mustHave.subsetOf(est.keySet),
      s"missing guaranteed heavy keys: ${mustHave -- est.keySet}")
  }

  test("heavyHitters: a tie at the k-th key breaks by key ascending, and " +
    "the most frequent value, NULL, is never a key") {
    import graft.ext.Sketches
    // NULL is the most frequent value; c and d tie for the 3rd place
    val vals = Seq.fill(9)(None) ++ Seq.fill(5)(Some("a")) ++
      Seq.fill(4)(Some("b")) ++ Seq.fill(3)(Some("d")) ++
      Seq.fill(3)(Some("c")) ++ Seq(Some("e"))
    for (parts <- Seq(1, 3, 7)) {
      val df = new scala.util.Random(parts).shuffle(vals).toDF("k")
        .repartition(parts)
      val got = Sketches.heavyHitters(df, "k", k = 3, capacity = 8)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == Seq(("a", 5L), ("b", 4L), ("c", 3L)),
        s"$parts partitions: $got")
    }
  }

  test("heavyHittersStream: the per-shard summary is exact across " +
       "batches at covering capacity and stays capacity-bounded") {
    import graft.ext.Sketches
    val ms = MemoryStream[String]
    val out = Sketches.heavyHittersStream(ms.toDF().toDF("k"), "k",
      capacity = 16, nShards = 4)
    val q = out.writeStream.format("memory").queryName("mg_stream")
      .outputMode("update").start()
    try {
      ms.addData("a", "b", "a", "c", "a", "b")
      q.processAllAvailable()
      ms.addData("a", "c", "c", "d")
      q.processAllAvailable()
      // capacity >= distinct: estimates are exact counts; in update
      // mode the LATEST row per key is the state, and exact-mode
      // estimates only grow -> max per key
      val got = spark.table("mg_stream").collect()
        .map(r => (r.getString(1), r.getLong(2)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      assert(got == Map("a" -> 4L, "b" -> 2L, "c" -> 3L, "d" -> 1L),
        s"got $got")
    } finally q.stop()
    // bounded state: many distinct keys, tiny capacity -> each batch
    // emits at most capacity rows per shard
    val ms2 = MemoryStream[String]
    val out2 = Sketches.heavyHittersStream(ms2.toDF().toDF("k"), "k",
      capacity = 4, nShards = 2)
    val q2 = out2.writeStream.format("memory").queryName("mg_stream2")
      .outputMode("update").start()
    try {
      ms2.addData((1 to 500).map(i => s"k$i"): _*)
      q2.processAllAvailable()
      val perShard = spark.table("mg_stream2").collect()
        .groupBy(_.getLong(0)).map { case (s, rows) => s -> rows.length }
      assert(perShard.values.forall(_ <= 4),
        s"summary exceeded capacity: $perShard")
    } finally q2.stop()
  }

  test("heavyHitters: null keys are not tracked; key type is preserved") {
    import graft.ext.Sketches
    val df = Seq(Some("a"), Some("a"), None, Some("b"), None)
      .toDF("k")
    val got = Sketches.heavyHitters(df, "k", k = 5, capacity = 8)
    assert(got.schema("key").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(got.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 2L), ("b", 1L)))
  }

  test("perplexityBy: each doc is judged by its own group's model") {
    import graft.ext.TextAnalysis
    val docs = Seq((1L, "A", "a b a b"), (2L, "A", "a b c"),
        (3L, "B", "x y"))
      .toDF("doc_id", "lang", "text")
    val lm = TextAnalysis.bigramLmFitBy(docs, "text", "lang")
    val counts = lm.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(counts == Map(("A", "a b") -> 3L, ("A", "b a") -> 1L,
      ("A", "b c") -> 1L, ("B", "x y") -> 1L))
    val got = TextAnalysis.perplexityBy(docs, lm, "text", "doc_id", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(3)))
      .toSet
    def ppl(lps: Seq[Double]): Double =
      BigDecimal(math.exp(-lps.sum / lps.size))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // lang A: V=3 -> same numbers as the global hand test; lang B: V=2,
    // P(y|x) = 1.5/(1 + 0.5*2) = 0.75 under ITS OWN tiny model
    val a1 = ppl(Seq(math.log(3.5 / 4.5), math.log(1.5 / 3.5),
      math.log(3.5 / 4.5)))
    val a2 = ppl(Seq(math.log(3.5 / 4.5), math.log(1.5 / 3.5)))
    val b3 = ppl(Seq(math.log(0.75)))
    assert(got == Set((1L, "A", a1), (2L, "A", a2), (3L, "B", b3)),
      s"got $got")
    graft.ext.OpCaches.releaseAll()
  }

  test("writeTrainingShards: shards replay the exact epoch order") {
    import graft.ext.Pipeline
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("shards").toString
    Pipeline.writeTrainingShards(docs, "doc_id", epoch = 2, out,
      numShards = 4)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 4, s"expected 4 shard files, got ${files.length}")
    // reading shards in key order replays the global epoch order exactly
    val replayed = spark.read.parquet(out)
      .orderBy(col("shuffle_key"), col("doc_id"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val expected = Pipeline.epochShuffle(docs, "doc_id", epoch = 2)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    assert(replayed == expected)
    assert(replayed.sorted == (1L to 200L))
    // each shard is internally sorted and shards tile the key range
    val perFile = files.sortBy(_.getName).map { f =>
      spark.read.parquet(f.getPath).select(col("shuffle_key"))
        .collect().map(_.getLong(0)).toSeq
    }
    perFile.foreach(ks => assert(ks == ks.sorted, "shard not sorted"))
    val ranges = perFile.filter(_.nonEmpty).map(ks => (ks.head, ks.last))
      .sortBy(_._1).toSeq
    ranges.sliding(2).foreach { pair =>
      if (pair.size == 2)
        assert(pair(0)._2 <= pair(1)._1, "shard ranges overlap")
    }
  }

  test("bigramLmCollect: fails fast past maxEntries instead of truncating") {
    import graft.ext.TextAnalysis
    val docs = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val lm = TextAnalysis.bigramLmFit(docs, "text")
    val e = intercept[IllegalArgumentException](
      TextAnalysis.bigramLmCollect(lm, vocabSize = 6L, maxEntries = 3))
    assert(e.getMessage.contains("maxEntries") ||
           e.getMessage.contains("3"), e.getMessage)
  }
}
