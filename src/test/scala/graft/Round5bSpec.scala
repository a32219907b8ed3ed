package graft

import org.apache.spark.sql.functions._
import graft.ext.{Pipeline, Skew, TextAnalysis, Urls}

/** Round-5 continuation specs: URL toolkit, CCNet perplexity buckets,
  * salted skew join, SCD2 dimension build.
  */
class Round5bSpec extends SparkSpecBase {

  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  // ---- Urls ----

  private val urlCases = Seq(
    // (raw, host, domain, canon)
    ("HTTPS://WWW.src0.Example.com:443/es/doc/7?utm_source=feed&id=7&utm_campaign=x&ref=rss#frag",
      "www.src0.example.com", "example.com",
      "https://src0.example.com/es/doc/7?id=7"),
    ("http://User:pw@News.Site.org:8080/A/B?x=1&gclid=abc&y=2",
      "news.site.org", "site.org", "http://news.site.org:8080/A/B?x=1&y=2"),
    ("https://example.com/", "example.com", "example.com",
      "https://example.com"),
    ("https://sub.a.example.com:80/path?utm_medium=m",
      "sub.a.example.com", "example.com", "https://sub.a.example.com/path"),
    ("not a url", "", "", "not a url"),
    ("ftp://files.example.com/pub", "files.example.com", "example.com",
      "ftp://files.example.com/pub"),
    ("https://localhost/x", "localhost", "localhost", "https://localhost/x"),
    ("http://a.com/p?utm_source=x", "a.com", "a.com", "http://a.com/p"),
    // tracking names as SUBSTRINGS of longer params / inside the path
    // must survive untouched (the unanchored-regex corruption class)
    ("http://a.com/p?href=https://x.com/y", "a.com", "a.com",
      "http://a.com/p?href=https://x.com/y"),
    ("http://a.com/p?xref=12&b=2", "a.com", "a.com",
      "http://a.com/p?xref=12&b=2"),
    ("https://amz.com/dp/B01/ref=sr_1_1?k=v", "amz.com", "amz.com",
      "https://amz.com/dp/B01/ref=sr_1_1?k=v"),
    ("https://amz.com/dp/B01/ref=sr_1_1?k=v&ref=abc", "amz.com", "amz.com",
      "https://amz.com/dp/B01/ref=sr_1_1?k=v"))

  test("Urls.normalize/host/registeredDomain: crafted edge cases") {
    val got = urlCases.map(_._1).toDF("url")
      .select(col("url"), Urls.host(col("url")).as("h"),
        Urls.registeredDomain(col("url")).as("d"),
        Urls.normalize(col("url")).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3))).toSeq
    assert(got == urlCases)
  }

  test("Urls.normalize is idempotent on its own output") {
    val once = urlCases.map(_._4).toDF("url")
      .select(Urls.normalize(col("url"))).as[String].collect().toSeq
    assert(once == urlCases.map(_._4))
  }

  test("Urls.dedupByUrl: preference wins, id breaks ties, variants merge") {
    val docsDf = Seq(
      (1L, "http://a.com/p", 10L),
      (2L, "HTTP://WWW.A.com/p?utm_source=x", 50L), // same canon, best pref
      (3L, "http://a.com/p#frag", 50L),             // pref tie -> lower id
      (4L, "http://b.com/q", 1L)
    ).toDF("doc_id", "url", "quality")
    val kept = Urls.dedupByUrl(docsDf, "url", "doc_id", col("quality"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 4L))
  }

  test("Urls.filterBlocked drops blocked registrable domains via anti join") {
    val docsDf = Seq(
      (1L, "https://docs.good.com/a"),
      (2L, "https://sub.bad.com/b"),
      (3L, "https://bad.com/c"),
      (4L, "https://goodbad.com/d") // not bad.com — must survive
    ).toDF("doc_id", "url")
    val blocked = Seq("bad.com").toDF("domain")
    val kept = Urls.filterBlocked(docsDf, "url", blocked)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 4L))
    // and the plan broadcasts the blocklist, never shuffling the corpus
    val plan = Urls.filterBlocked(docsDf, "url", blocked)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti join, got:\n$plan")
  }

  // ---- perplexityBuckets ----

  test("perplexityBuckets: equal-population tiers per language, " +
    "head has the lowest perplexity") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val lm = TextAnalysis.bigramLmFitBy(docs, "text", "lang")
    val b = TextAnalysis.perplexityBuckets(docs, lm, "text", "doc_id", "lang")
      .select(col("lang"), col("ppl"), col("bucket")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getInt(2)))
    val byLang = b.groupBy(_._1)
    byLang.foreach { case (lang, rows) =>
      val sizes = rows.groupBy(_._3).view.mapValues(_.length).toMap
      val n = rows.length
      // integer-rank cut: every tier within one row of n/3
      (0 to 2).foreach { t =>
        val sz = sizes.getOrElse(t, 0)
        assert(math.abs(sz - n / 3.0) <= 1.0,
          s"$lang tier $t has $sz of $n rows")
      }
      // monotone: max ppl in head <= min ppl in tail
      val headMax = rows.filter(_._3 == 0).map(_._2).max
      val tailMin = rows.filter(_._3 == 2).map(_._2).min
      assert(headMax <= tailMin, s"$lang head $headMax > tail $tailMin")
    }
    assert(byLang.nonEmpty)
  }

  test("perplexityBuckets: nBuckets=4 uses generic tier names") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val lm = TextAnalysis.bigramLmFitBy(docs, "text", "lang")
    val tiers = TextAnalysis.perplexityBuckets(docs, lm, "text", "doc_id",
        "lang", nBuckets = 4)
      .select("tier").distinct().as[String].collect().sorted.toSeq
    assert(tiers == Seq("q0", "q1", "q2", "q3"))
  }

  // ---- saltedJoin ----

  test("saltedJoin ≡ plain equi-join on skewed keys, any salt count") {
    // 1000 rows of one hot key + a long tail
    val big = (0 until 1000).map(i => (if (i < 900) 1L else i.toLong, i))
      .toDF("k", "v")
    val small = Seq((1L, "hot"), (950L, "cold"), (999L, "tail"))
      .toDF("k", "name")
    val plain = big.join(small, Seq("k")).select("k", "v", "name")
      .collect().map(_.toSeq).toSet
    for (salts <- Seq(1, 4, 16)) {
      val salted = Skew.saltedJoin(big, small, Seq("k"), salts)
        .select("k", "v", "name").collect().map(_.toSeq).toSet
      assert(salted == plain, s"salts=$salts diverged")
    }
  }

  test("saltedJoin joins on the salt column (hot key spread over shards)") {
    // bit-IDENTICAL duplicate rows — the replayed-event hot key. A
    // content-derived salt maps them all to one shard (the straggler
    // survives exactly when it matters); the row-position salt must not.
    val big = (0 until 100).map(_ => (1L, 0)).toDF("k", "v")
    val small = Seq((1L, "x")).toDF("k", "name")
    val salted = Skew.saltedJoin(big, small, Seq("k"), salts = 8)
    val plan = salted.queryExecution.optimizedPlan.toString
    assert(plan.contains("__salt"), s"salt key missing from plan:\n$plan")
    assert(salted.count() == 100)
    val nSalts = big.withColumn("__salt",
        pmod(monotonically_increasing_id(), lit(8)))
      .select("__salt").distinct().count()
    assert(nSalts > 1)
  }

  test("saltedJoin tolerates unhashable column types (MapType) by default") {
    val big = (0 until 10).map(i => (1L, Map("a" -> i))).toDF("k", "m")
    val small = Seq((1L, "x")).toDF("k", "name")
    assert(Skew.saltedJoin(big, small, Seq("k"), salts = 4).count() == 10)
  }

  // ---- chunkBySentences / skewReport / BPE artifact ----

  test("chunkBySentences: sentences never split; bins follow cumulative " +
    "offsets; empty docs yield no chunks") {
    val docsDf = Seq(
      (1L, "aaaa. bb! cc? dddddddddd. ee."),
      (2L, ""), (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val chunks = graft.ext.Pipeline.chunkBySentences(docsDf, chunkChars = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getLong(3))).toMap
    // offsets: "aaaa." cb=0→chunk0; " bb!" cb=5→0; " cc?" cb=9→0;
    // " dddddddddd." cb=13→1; " ee." cb=25→2
    assert(chunks == Map(
      (1L, 0L) -> ("aaaa. bb! cc?", 3L),
      (1L, 1L) -> (" dddddddddd.", 1L),
      (1L, 2L) -> (" ee.", 1L)))
  }

  test("skewReport: counts, integer-ppm shares, hot keys first") {
    val df = (Seq.fill(70)("hot") ++ Seq.fill(20)("warm") ++
      Seq.fill(10)("cold")).toDF("k")
    val rep = graft.ext.Pipeline.skewReport(df, Seq("k"), topN = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rep.toSeq == Seq(("hot", 70L, 700000L), ("warm", 20L, 200000L)))
  }

  test("BPE artifact: save → load round-trips the merge table and the " +
    "encoding; malformed ranks fail loud") {
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
    val merges = TextAnalysis.learnBpe(docsDf, "text", numMerges = 12)
    val path = java.nio.file.Files
      .createTempDirectory("bpe_artifact").toString + "/m"
    TextAnalysis.saveBpe(spark, merges, path)
    val back = TextAnalysis.loadBpe(spark, path)
    assert(back == merges)
    val a = docsDf.limit(20).select(
      TextAnalysis.bpeEncode(col("text"), merges)).collect().map(_.toSeq)
    val b = docsDf.limit(20).select(
      TextAnalysis.bpeEncode(col("text"), back)).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
    // gap in ranks → loud failure
    import spark.implicits._
    Seq((0, "a", "b"), (2, "c", "d")).toDF("rank", "left", "right")
      .write.mode("overwrite").parquet(path + "_bad")
    assertThrows[IllegalArgumentException](
      TextAnalysis.loadBpe(spark, path + "_bad"))
  }

  // ---- temporal split / compaction / manifest ----

  test("splitByTime: cutoff and embargo boundaries are half-open") {
    import java.sql.Timestamp
    val cut = Timestamp.valueOf("2024-01-05 00:00:00")
    val rows = Seq(
      (1L, new Timestamp(cut.getTime - 1000)),           // train
      (2L, cut),                                          // embargo start
      (3L, new Timestamp(cut.getTime + 86399L * 1000)),   // embargo end
      (4L, new Timestamp(cut.getTime + 86400L * 1000))    // test start
    ).toDF("id", "ts")
    val got = graft.ext.Pipeline.splitByTime(rows, "ts",
        "2024-01-05 00:00:00", embargoSeconds = 86400L)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(1L -> "train", 2L -> "embargo", 3L -> "embargo",
      4L -> "test"))
  }

  test("Layout.compact melts small files to the byte target; manifest " +
    "accounts for every row and file") {
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("compact").toString
    docsDf.repartition(20).write.mode("overwrite").parquet(s"$tmp/small")
    val smallFiles = new java.io.File(s"$tmp/small")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(smallFiles == 20)
    val total = new java.io.File(s"$tmp/small").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val n = graft.ext.Layout.compact(spark, s"$tmp/small", s"$tmp/big",
      targetBytes = total / 3)
    val bigFiles = new java.io.File(s"$tmp/big")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(n <= 5 && bigFiles == n, s"wrote $bigFiles files, planned $n")
    assert(spark.read.parquet(s"$tmp/big").count() == docsDf.count())
    val man = graft.ext.Layout.manifest(spark, s"$tmp/big")
    assert(man.count() == n.toLong)
    assert(man.agg(sum(col("n_rows"))).collect()(0).getLong(0) ==
      docsDf.count())
    assert(man.where(col("n_bytes") <= 0).count() == 0)
  }

  // ---- RRF fusion ----

  test("rrfFuse: integer contributions, both-list docs beat single-list " +
    "docs, doc ties break low") {
    val a = Seq((0L, 10L, 1L), (0L, 11L, 2L), (0L, 12L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val b = Seq((0L, 11L, 1L), (0L, 13L, 2L))
      .toDF("query_id", "doc_id", "rank")
    val fused = TextAnalysis.rrfFuse(Seq(a, b), k = 10)
      .collect().map(r => (r.getLong(2), r.getLong(1), r.getLong(3)))
    def c(rank: Long) = 1000000000000L / (rank + 60L)
    // doc 11 appears in both lists → top
    assert(fused.head == (11L, 1L, c(2) + c(1)))
    assert(fused.map(_._1).toSeq == Seq(11L, 10L, 13L, 12L))
    // identical single-list contributions tie-break by doc id:
    // 10 (rank1 list a) vs 13 (... different ranks here) — check exact
    // scores are the integer floors
    val scores = fused.map(t => t._1 -> t._3).toMap
    assert(scores(10L) == c(1) && scores(13L) == c(2) &&
      scores(12L) == c(3))
  }

  // ---- binary quantization ANN ----

  test("bq: 64-dim corpus packs to one long; exact mode ≡ brute force; " +
    "probe shortlist keeps useful recall") {
    import graft.ext.Similarity
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val idx = Similarity.bqIndex(e)
    assert(idx.select(size(col("code"))).first().getInt(0) == 1)
    val qs = e.where(col("vec_id") < 3)
    val exact = Similarity.bruteForceTopK(e, qs, k = 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gateMode = Similarity.bqTopK(e, qs, k = 10, shortlist = 0)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gateMode == exact, "shortlist<=0 must equal brute force")
    val probe = Similarity.bqTopKIndexed(idx, qs, k = 10, shortlist = 100)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (probe & exact).size.toDouble / exact.size
    assert(recall >= 0.4, s"bq probe recall $recall collapsed")
    graft.ext.OpCaches.releaseAll()
  }

  test("bq: a query's own sign pattern is Hamming-0 from itself — an " +
    "identical vector under a different id ranks first") {
    import graft.ext.Similarity
    // splitmix-style mixing — a linear formula leaves every vector with
    // the SAME alternating sign pattern (Hamming 0 from everything)
    def mix(v: Long): Long = {
      var x = v * 0x9E3779B97F4A7C15L
      x ^= x >>> 31; x *= 0xBF58476D1CE4E5B9L; x ^= x >>> 27
      x
    }
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(64)(j =>
        ((mix(i * 64L + j) >>> 12) % 1000 / 500.0 - 1.0).toFloat)))
    // id 100 duplicates id 0 exactly
    val corpus = (vecs :+ (100L, vecs(0)._2)).toDF("vec_id", "embedding")
    val top = Similarity.bqTopK(corpus,
        corpus.where(col("vec_id") === 0), k = 1, shortlist = 5)
      .select("neighbor_id").collect()
    assert(top.length == 1 && top(0).getLong(0) == 100L,
      s"duplicate must rank first, got ${top.toSeq}")
  }

  // ---- streaming URL dedup (compose face) ----

  test("streaming URL dedup: canonicalize + exactStream drops later " +
    "variants of the same page across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    val ms = MemoryStream[(Long, String, Timestamp)]
    val in = ms.toDF().toDF("doc_id", "url", "ts")
      .withColumn("canon", Urls.normalize(col("url")))
    val out = graft.ext.Dedup.exactStream(in, Seq("canon"), "ts", "1 hour")
    val q = out.writeStream.format("memory").queryName("url_stream")
      .outputMode("append").start()
    try {
      def t(s: Long) = new Timestamp(s * 1000L)
      ms.addData((1L, "http://a.com/p", t(0)),
                 (2L, "HTTP://WWW.A.com/p?utm_source=x", t(10)))
      q.processAllAvailable()
      ms.addData((3L, "http://a.com/p#frag", t(20)), // still the same page
                 (4L, "http://b.com/q", t(30)))
      q.processAllAvailable()
      val kept = spark.table("url_stream").select("doc_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      // exactly ONE survivor for page a.com/p (within-batch pick is
      // unordered), doc 3's cross-batch variant dropped, b.com/q kept
      assert(kept.length == 2 && kept.contains(4L) &&
        (kept.contains(1L) ^ kept.contains(2L)) && !kept.contains(3L),
        s"got $kept")
    } finally q.stop()
  }

  // ---- robust anomaly windows ----

  test("anomalousWindowsRobust: median/MAD flags the burst, keeps the " +
    "baseline, and skips MAD=0 keys") {
    import java.sql.Timestamp
    def ev(hour: Int, i: Int) =
      (new Timestamp((hour * 3600L + i) * 1000L), "k")
    // per-hour counts 1,2,1,2,1,9 → med 1.5, MAD 0.5, burst rz = 15
    val bursty = Seq(0 -> 1, 1 -> 2, 2 -> 1, 3 -> 2, 4 -> 1, 5 -> 9)
      .flatMap { case (h, n) => (0 until n).map(i => ev(h, i)) }
    // constant series → MAD 0 → never flagged
    val flat = (0 until 6).flatMap(h => Seq(
      (new Timestamp((h * 3600L) * 1000L), "flat")))
    val events = (bursty ++ flat).toDF("ts", "key")
    val got = graft.ext.TimeSeries.anomalousWindowsRobust(
        events, "key", "ts", bucketSeconds = 3600L, zMin = 2.0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
    graft.ext.OpCaches.releaseAll()
    assert(got.length == 1, s"got ${got.toSeq}")
    val (k, start, rz) = got.head
    assert(k == "k" && start == 5 * 3600L && math.abs(rz - 15.0) < 1e-9)
  }

  // ---- record linkage ----

  test("recordLinkage: true entity pairs clear the threshold, distinct " +
    "entities do not; exact-field mismatch subtracts its weight") {
    val recs = Seq(
      (1L, "acme corp northern division", "NY", "b1"),
      (2L, "acme corp northern division llc", "NY", "b1"), // same entity
      (3L, "acme corp northern division llc", "CA", "b1"), // state differs
      (4L, "totally different trading house", "NY", "b1"),
      (5L, "isolated record", "TX", "b2")
    ).toDF("rid", "name", "state", "block")
    val pairs = graft.ext.Dedup.recordLinkage(recs, "rid",
        blockCols = Seq("block"),
        fuzzyFields = Seq("name" -> 0.8),
        exactFields = Seq("state" -> 0.2), threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    graft.ext.OpCaches.releaseAll()
    // (1,2): jaccard 4/5 = 0.8 → 0.8·0.8 + 0.2 = 0.84
    assert(math.abs(pairs((1L, 2L)) - 0.84) < 1e-9, s"$pairs")
    // (2,3): identical name (jac 1) but state differs → 0.8 exactly
    assert(math.abs(pairs((2L, 3L)) - 0.8) < 1e-9)
    // (1,3): 0.8·0.8 = 0.64 < 0.7 → absent; (x,4): tiny jaccard → absent
    assert(!pairs.contains((1L, 3L)))
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L))
    // blocking: record 5 never pairs (its block is a singleton)
    assert(!pairs.keys.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("recordLinkage: null exact fields match null-safely; pairs feed " +
    "clusters/canonicalize for the full entity merge") {
    val recs = Seq(
      (1L, "jane q public", None: Option[String], "b"),
      (2L, "jane q public jr", None: Option[String], "b"),
      (3L, "john doe", Some("x"), "b")
    ).toDF("rid", "name", "ssn", "block")
    val pairs = graft.ext.Dedup.recordLinkage(recs, "rid", Seq("block"),
      Seq("name" -> 0.5), Seq("ssn" -> 0.5), threshold = 0.8)
    // null <=> null → exact field contributes its full weight
    val p12 = pairs.where(col("id_a") === 1 && col("id_b") === 2)
      .select("score").collect()
    assert(p12.length == 1 && p12(0).getDouble(0) == 0.875) // 0.5·¾ + 0.5
    val canon = graft.ext.Dedup.canonicalize(recs.toDF(), pairs, "rid",
      prefer = Seq(length(col("name")).desc))
    graft.ext.OpCaches.releaseAll()
    assert(canon.select("rid").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L))
  }

  test("sortedNeighborhoodPairs: window bounds, typo-adjacency recall, " +
    "editSimilarity arithmetic") {
    val recs = Seq(
      (1L, "acme corp"), (2L, "acme corpx"), // adjacent after sort
      (3L, "zeta inc"), (4L, "acme corp")    // 4 duplicates 1
    ).toDF("rid", "name")
    val pairs = graft.ext.Dedup.sortedNeighborhoodPairs(recs, "rid",
        "name", windowSize = 1)
      .select(col("id_a"), col("id_b"),
        graft.ext.Dedup.editSimilarity(col("key_a"), col("key_b"))
          .as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // sort order: (acme corp,1) (acme corp,4) (acme corpx,2) (zeta,3);
    // window 1 pairs consecutive ranks only
    assert(pairs.keySet == Set((1L, 4L), (4L, 2L), (2L, 3L)))
    assert(pairs((1L, 4L)) == 1.0)                 // exact duplicate
    assert(pairs((4L, 2L)) == 0.9)                 // 1 edit over len 10
    assert(pairs((2L, 3L)) < 0.3)                  // unrelated
  }

  // ---- perceptual hash (image near-dup) ----

  private def ppm(w: Int, h: Int)(pix: Int => (Int, Int, Int)): Array[Byte] = {
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val px = new Array[Byte](w * h * 3)
    (0 until w * h).foreach { i =>
      val (r, g, b) = pix(i)
      px(i * 3) = r.toByte; px(i * 3 + 1) = g.toByte; px(i * 3 + 2) = b.toByte
    }
    header ++ px
  }

  test("phash: identical → 0 bits, perturbed → near, inverted → far, " +
    "undecodable → null") {
    import graft.ext.Multimodal
    val w = 64; val h = 64
    // deterministic texture: rich spectrum -> stable median (a smooth
    // gradient has near-zero AC energy and flips bits pathologically)
    def tex(i: Int): Int = ((i * 2654435761L >>> 8) & 0xff).toInt
    val base = ppm(w, h)(i => (tex(i), tex(i + 7919), tex(i + 15817)))
    // small local perturbation: one 4x4 patch brightened
    val noisy = ppm(w, h) { i =>
      val x = i % w; val y = i / w
      val bump = if (x < 4 && y < 4) 40 else 0
      (math.min(255, tex(i) + bump), tex(i + 7919), tex(i + 15817))
    }
    val inverted = ppm(w, h)(i =>
      (255 - tex(i), 255 - tex(i + 7919), 255 - tex(i + 15817)))
    val media = Seq((1L, base), (2L, base.clone()), (3L, noisy),
      (4L, inverted), (5L, "???????".getBytes("UTF-8")))
      .toDF("media_id", "payload")
    val hs = Multimodal.phash(media).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some(r.getLong(1)))).toMap
    assert(hs(5L).isEmpty, "stub-lane payloads must not hash")
    assert(hs(1L) == hs(2L), "identical images must hash identically")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val near = ham(hs(1L).get, hs(3L).get)
    val far = ham(hs(1L).get, hs(4L).get)
    assert(near <= 10, s"perturbed image drifted $near bits")
    assert(far > 16, s"inverted image only $far bits away")
    assert(far > near)
  }

  test("phashPairs finds the planted near-dup and skips distinct images") {
    import graft.ext.Multimodal
    val w = 64; val h = 64
    def tex(i: Int): Int = ((i * 2654435761L >>> 8) & 0xff).toInt
    val a = ppm(w, h)(i => (tex(i), tex(i + 101), tex(i + 211)))
    val aTweaked = ppm(w, h) { i =>
      val x = i % w; val y = i / w
      val bump = if (x < 3 && y < 3) 25 else 0
      (math.min(255, tex(i) + bump), tex(i + 101), tex(i + 211))
    }
    val other = ppm(w, h)(i => (tex(i * 3 + 5), tex(i * 5 + 7), tex(i * 7 + 11)))
    val media = Seq((1L, a), (2L, aTweaked), (3L, other))
      .toDF("media_id", "payload")
    val pairs = Multimodal.phashPairs(media, maxBits = 10)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.ext.OpCaches.releaseAll()
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  // ---- sampleExactWeighted ----

  test("sampleExactWeighted: exactly k rows, zero weights excluded, " +
    "heavy rows dominate, deterministic") {
    val df = (1L to 100L).map(i => (i, if (i == 7L) 1000000.0
      else if (i % 10 == 0) 0.0 else 1.0)).toDF("id", "w")
    val s1 = graft.ext.Pipeline.sampleExactWeighted(df, col("w"), 10, "id")
      .select("id").as[Long].collect().sorted.toSeq
    assert(s1.length == 10)
    assert(s1.contains(7L), "the 10^6-weight row must be drawn")
    assert(!s1.exists(_ % 10 == 0), "zero-weight rows can never sample")
    val s2 = graft.ext.Pipeline.sampleExactWeighted(
      df.repartition(7), col("w"), 10, "id")
      .select("id").as[Long].collect().sorted.toSeq
    assert(s2 == s1, "draw must not depend on partitioning")
    // different salt → different draw (salting works)
    val s3 = graft.ext.Pipeline.sampleExactWeighted(df, col("w"), 10, "id",
      salt = ":v2").select("id").as[Long].collect().sorted.toSeq
    assert(s3 != s1)
  }

  test("sampleExactWeighted: k larger than eligible rows returns them all") {
    val df = Seq((1L, 2.0), (2L, 0.0), (3L, 1.0)).toDF("id", "w")
    val got = graft.ext.Pipeline.sampleExactWeighted(df, col("w"), 10, "id")
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 3L))
  }

  // ---- pageRank ----

  test("pageRank: uniform ring keeps every rank at exactly 1.0") {
    val n = 10
    val edges = (0L until n).map(i => (i, (i + 1) % n)).toDF("src", "dst")
    val r = graft.ext.Graph.pageRank(edges, "src", "dst", iters = 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.size == n)
    assert(r.values.forall(_ == 1000000L),
      s"symmetric graph must stay uniform, got $r")
  }

  test("pageRank: star graph concentrates rank on the hub; leaves sit " +
    "at the damping base") {
    val edges = (1L to 9L).map(i => (i, 0L)).toDF("src", "dst")
    val r = graft.ext.Graph.pageRank(edges, "src", "dst", iters = 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // iter1: hub = 150000 + ⌊85·9e6/100⌋; leaves = base (no in-links).
    // iter2: hub = 150000 + ⌊85·(9·150000)/100⌋ = 1297500.
    assert(r(0L) == 1297500L, s"hub rank: ${r(0L)}")
    (1L to 9L).foreach(i => assert(r(i) == 150000L))
  }

  test("pageRank: partition count cannot change the ranks") {
    val e = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("src"),
        pmod(col("doc_id") * 7 + 3, lit(500)).as("dst"))
    val a = graft.ext.Graph.pageRank(e.repartition(1), "src", "dst", 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val b = graft.ext.Graph.pageRank(e.repartition(11), "src", "dst", 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(a == b)
  }

  // ---- sessionize ----

  test("sessionize: gap boundary is exclusive, sessions number per key") {
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000L)
    val ev = Seq(
      (1L, t(0), 1L), (1L, t(1800), 2L),   // gap == 1800 → SAME session
      (1L, t(3601), 3L),                   // gap 1801 → new session
      (1L, t(3601), 4L),                   // tie ts → same session (0 gap)
      (2L, t(50), 5L)
    ).toDF("user_id", "ts", "event_id")
    val got = graft.ext.Funnel.sessionize(ev, Seq("user_id"), "ts",
        gapSeconds = 1800, tieBreak = Seq("event_id"))
      .select("event_id", "session_idx")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L))
  }

  test("sessionize: one exchange serves both window passes; stats " +
    "conserve events") {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val sess = graft.ext.Funnel.sessionize(ev, Seq("user_id"), "ts",
      gapSeconds = 1800, tieBreak = Seq("event_id"))
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(sess.queryExecution.executedPlan.toString).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges")
    val stats = graft.ext.Funnel.sessionStats(sess, Seq("user_id"), "ts")
    assert(stats.agg(sum(col("n_events"))).collect()(0).getLong(0) ==
      ev.count())
    // durations are non-negative and every session starts before it ends
    assert(stats.where(col("dur_s") < 0 ||
      col("start_ts") > col("end_ts")).count() == 0)
  }

  // ---- distributed k-means (kmeansFitQ) ----

  test("kmeansFitQ: partition count cannot change the fit (exact " +
    "arithmetic contract)") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val a = graft.ext.Similarity.kmeansFitQ(e.repartition(1), k = 4, iters = 2)
    graft.ext.OpCaches.releaseAll()
    val b = graft.ext.Similarity.kmeansFitQ(e.repartition(13), k = 4, iters = 2)
    graft.ext.OpCaches.releaseAll()
    assert(a.centers.map(_.toSeq).toSeq == b.centers.map(_.toSeq).toSeq)
  }

  test("kmeansFitQ: crafted two-cluster data recovers the cluster means") {
    val pts = (0 until 50).map(i => (i.toLong, Array(1.0f, 1.0f))) ++
      (50 until 100).map(i => (i.toLong, Array(-1.0f, -1.0f)))
    val df = pts.toDF("vec_id", "embedding")
    val m = graft.ext.Similarity.kmeansFitQ(df, k = 2, iters = 3)
    graft.ext.OpCaches.releaseAll()
    // cluster means are exactly ±1.0 → grid value ±65536
    assert(m.centers.map(_.toSeq).toSet ==
      Set(Seq(65536L, 65536L), Seq(-65536L, -65536L)))
    val cells = graft.ext.Similarity.kmeansAssignQ(df, m)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells.filter(_._1 < 50).values.toSet.size == 1)
    assert(cells.filter(_._1 >= 50).values.toSet.size == 1)
    assert(cells(0L) != cells(99L))
  }

  test("kmeansFitQ: iterating reduces quantized within-cluster SSE") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def sse(iters: Int): Double = {
      val m = graft.ext.Similarity.kmeansFitQ(e, k = 4, iters = iters)
      graft.ext.OpCaches.releaseAll()
      val cells = graft.ext.Similarity.kmeansAssignQ(e, m)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val rows = e.select(col("vec_id"),
          transform(col("embedding"), x =>
            round(x.cast("double") * 256).cast("long")).as("q"))
        .collect()
      rows.map { r =>
        val q = r.getSeq[Long](1).toArray
        val c = m.centers(cells(r.getLong(0)))
        var acc = 0.0
        var j = 0
        while (j < q.length) {
          val t = ((q(j) << 8) - c(j)).toDouble; acc += t * t; j += 1
        }
        acc
      }.sum
    }
    assert(sse(3) <= sse(0))
  }

  test("kmeansFitQ fails loud when k exceeds the corpus") {
    val df = Seq((1L, Array(0.1f, 0.2f))).toDF("vec_id", "embedding")
    assertThrows[IllegalArgumentException](
      graft.ext.Similarity.kmeansFitQ(df, k = 4, iters = 1))
    graft.ext.OpCaches.releaseAll()
  }

  // ---- dedupSegments ----

  test("dedupSegments: first occurrence wins, order kept, blanks collapse") {
    val docsDf = Seq(
      (1L, "nav\nintro\nnav\nbody\nintro\nfooter"),
      (2L, "a\n\n\na"),       // blank run collapses to one blank segment
      (3L, "only"),
      (4L, "")
    ).toDF("doc_id", "text")
    val got = docsDf.select(col("doc_id"),
        TextAnalysis.dedupSegments(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "nav\nintro\nbody\nfooter")
    assert(got(2L) == "a\n")
    assert(got(3L) == "only")
    assert(got(4L) == "")
  }

  test("dedupSegments ≡ the HOF array_position formulation") {
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
    val t = split(col("text"), " ")
    val viaHof = docsDf.select(col("doc_id"),
        array_join(org.apache.spark.sql.functions.filter(t, (x, i) =>
          array_position(t, x) === i + 1), " ").as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaNative = docsDf.select(col("doc_id"),
        TextAnalysis.dedupSegments(col("text"), " ").as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaNative == viaHof)
  }

  test("dedupSegments participates in whole-stage codegen and has a " +
    "SQL face") {
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = docsDf.select(
      TextAnalysis.dedupSegments(col("text"), " ").as("t"))
    val gen = org.apache.spark.sql.execution.debug
      .codegenString(df.queryExecution.executedPlan)
    assert(gen.contains("dedupSegments"),
      "generated code must call the Kernels.dedupSegments kernel")
    graft.functions.VectorFunctions.register(spark)
    docsDf.createOrReplaceTempView("docs_r5b")
    val sqlRow = spark.sql(
      "SELECT dedup_segments(text, ' ', ' ') AS t FROM docs_r5b " +
        "WHERE doc_id = 0").collect()
    val colRow = docsDf.where(col("doc_id") === 0)
      .select(TextAnalysis.dedupSegments(col("text"), " ")).collect()
    assert(sqlRow.map(_.getString(0)).toSeq ==
      colRow.map(_.getString(0)).toSeq)
  }

  // ---- histogram ----

  test("histogram: clamped edges, nulls dropped, counts conserved") {
    val df = Seq(Some(-5.0), Some(0.0), Some(9.9), Some(10.0), Some(99.9),
      Some(100.0), Some(250.0), None).toDF("v")
    val h = graft.ext.Pipeline.histogram(df, "v", 0.0, 100.0, 10)
      .collect().map(r => r.getInt(0) -> r.getLong(3)).toMap
    // -5 clamps into bin 0; 100.0 and 250.0 clamp into bin 9; null dropped
    assert(h == Map(0 -> 3L, 1 -> 1L, 9 -> 3L))
    val total = graft.ext.Pipeline.histogram(df, "v", 0.0, 100.0, 10)
      .agg(sum(col("n"))).collect()(0).getLong(0)
    assert(total == 7L)
  }

  // ---- BM25 index face ----

  test("bm25TopKIndexed over a prebuilt index ≡ the inline bm25TopK") {
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
    val qs: Seq[(Long, Seq[String])] = Seq(
      0L -> Seq("spark", "table"), 1L -> Seq("hash", "join", "merge"),
      2L -> Seq("zzz_unseen"))
    val inline = TextAnalysis.bm25TopK(docsDf, "text", "doc_id", qs, k = 7)
      .collect().map(_.toSeq).toSet
    graft.ext.OpCaches.releaseAll()
    val idx = TextAnalysis.bm25Index(docsDf, "text", "doc_id")
    val viaIndex = TextAnalysis.bm25TopKIndexed(idx, qs, k = 7)
      .collect().map(_.toSeq).toSet
    assert(viaIndex == inline)
    assert(inline.nonEmpty)
  }

  test("bm25Index postings denormalize document length (no lengths join " +
    "at query time)") {
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
    val idx = TextAnalysis.bm25Index(docsDf, "text", "doc_id")
    assert(idx.postings.columns.toSet ==
      Set("term", "doc", "tf", "dl", "df", "tbucket"))
    // dl is constant per doc and equals the token count
    val bad = idx.postings.groupBy("doc")
      .agg(count_distinct(col("dl")).as("nd"), first(col("dl")).as("dl"),
        sum(col("tf")).as("sum_tf"))
      .where(col("nd") =!= 1 || col("dl") =!= col("sum_tf"))
    assert(bad.count() == 0)
    assert(idx.meta.count() == 1)
  }

  // ---- Count-Min sketch ----

  test("countMin: exact in collision-free width; never under the truth " +
    "under collisions; merge ≡ whole-fit; partition-invariant") {
    import graft.ext.Sketches
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val truth = ev.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    val wide = Sketches.countMinFit(ev, "event_type")
    assert(wide.width == 4096 && wide.depth == 4)
    truth.foreach { case (k, c) =>
      assert(wide.estimateCount(k) == c, s"wide sketch off for $k")
    }

    // crafted collisions: width 2, depth 1 — min-row estimate must still
    // dominate the true count for every key
    val narrow = Sketches.countMinFit(ev, "event_type", width = 2, depth = 1)
    assert(narrow.width == 2 && narrow.depth == 1)
    truth.foreach { case (k, c) =>
      assert(narrow.estimateCount(k) >= c, s"narrow sketch UNDER-counts $k")
      assert(narrow.estimateCount(k) <= narrow.totalCount)
    }
    // dimensions whose naive (eps, confidence) round trip rounds up
    val odd49 = Sketches.countMinFit(ev, "event_type", width = 49, depth = 29)
    assert(odd49.width == 49 && odd49.depth == 29)

    // merge of half-fits ≡ one whole fit (integer sums, order-free)
    val odd = Sketches.countMinFit(
      ev.where(pmod(col("event_id"), lit(2)) === 1), "event_type")
    val even = Sketches.countMinFit(
      ev.where(pmod(col("event_id"), lit(2)) === 0), "event_type")
    odd.mergeInPlace(even)
    assert(odd.totalCount == wide.totalCount)
    assert(odd == wide)

    // partitioning cannot change a sum-only sketch
    assert(Sketches.countMinFit(ev.repartition(7), "event_type") == wide)
  }

  test("countMinStream: running estimates are exact across batches at " +
    "collision-free width") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ext.Sketches
    val ms = MemoryStream[String]
    val out = Sketches.countMinStream(ms.toDF().toDF("k"), "k",
      width = 256, depth = 2, nShards = 4)
    val q = out.writeStream.format("memory").queryName("cms_stream")
      .outputMode("update").start()
    try {
      ms.addData("a", "b", "a", "c")
      q.processAllAvailable()
      ms.addData("a", "c", "c", "d")
      q.processAllAvailable()
      // update-mode changelog: estimates only grow; max per key is the
      // running count — exact at collision-free width
      val got = spark.table("cms_stream").collect()
        .map(r => (r.getString(1), r.getLong(2)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      assert(got == Map("a" -> 3L, "b" -> 1L, "c" -> 3L, "d" -> 1L),
        s"got $got")
    } finally q.stop()
  }

  test("kmv: exact below saturation, bounded error above, merge ≡ " +
    "whole-fit, partition-invariant") {
    import graft.ext.Sketches
    def hashes(m: Sketches.ThetaModel): Seq[Long] = {
      val it = m.sketch.iterator()
      val b = Seq.newBuilder[Long]
      while (it.next()) b += it.get()
      b.result().sorted
    }
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val exact = ev.select(count_distinct(col("user_id")))
      .collect()(0).getLong(0)
    val m = Sketches.kmvFit(ev, "user_id") // k=4096 >> distinct
    assert(!m.saturated && m.estimate == exact)
    assert(hashes(m).size == exact)

    // partitioning cannot change the retained hash set
    val m2 = Sketches.kmvFit(ev.repartition(7), "user_id")
    assert(hashes(m2) == hashes(m))

    // merge of half-fits ≡ one whole fit
    val odd = Sketches.kmvFit(
      ev.where(pmod(col("event_id"), lit(2)) === 1), "user_id")
    val even = Sketches.kmvFit(
      ev.where(pmod(col("event_id"), lit(2)) === 0), "user_id")
    val merged = odd.merge(even)
    assert(!merged.saturated && hashes(merged) == hashes(m))

    // saturated: 20000 distinct ids through k=256 — the truth lies inside
    // the sketch's own 3-sigma bounds, and the estimate within 25%
    // (RSE ≈ 1/√256 ≈ 6.3%)
    val big = (1 to 20000).map(i => s"id$i").toDF("k")
    val sat = Sketches.kmvFit(big, "k", k = 256)
    assert(sat.saturated)
    assert(sat.sketch.getLowerBound(3) <= 20000.0 &&
      20000.0 <= sat.sketch.getUpperBound(3))
    assert(math.abs(sat.estimate - 20000.0) / 20000.0 < 0.25,
      s"saturated estimate ${sat.estimate} too far from 20000")
    // k mismatch fails loud
    assertThrows[IllegalArgumentException](
      sat.merge(Sketches.kmvFit(big, "k", k = 128)))
  }

  test("kmvStream: summed per-shard rows give the exact cross-batch " +
    "distinct count below saturation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ext.Sketches
    val ms = MemoryStream[String]
    val out = Sketches.kmvStream(ms.toDF().toDF("k"), "k",
      k = 64, nShards = 4)
    val q = out.writeStream.format("memory").queryName("kmv_stream")
      .outputMode("update").start()
    try {
      ms.addData("a", "b", "a", "c")
      q.processAllAvailable()
      ms.addData("c", "d", "e", "a")
      q.processAllAvailable()
      // latest row per shard, summed = 5 distinct keys; none saturated
      // below saturation the per-shard count only grows → max = latest
      val latest = spark.table("kmv_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .groupBy(_._1).map { case (_, vs) => vs.maxBy(_._2) }
      assert(latest.forall(!_._3))
      assert(latest.map(_._2).sum == 5L, s"got $latest")
    } finally q.stop()
    // past 2^⌈log2 k⌉ distinct keys a shard reports saturation
    val sat = Sketches.kmvStream((1 to 100).map(i => s"k$i").toDF("k"), "k",
      k = 16, nShards = 1).collect()
    assert(sat.length == 1 && sat(0).getBoolean(2), s"got ${sat.toSeq}")
  }

  test("countMin: dimension mismatch fails loud on merge") {
    import graft.ext.Sketches
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val a = Sketches.countMinFit(ev, "event_type", width = 64, depth = 2)
    val b = Sketches.countMinFit(ev, "event_type", width = 32, depth = 2)
    assertThrows[org.apache.spark.util.sketch.IncompatibleMergeException](
      a.mergeInPlace(b))
  }

  // ---- scd2 ----

  test("scd2: collapses no-change rows and chains validity intervals") {
    val log = Seq(
      (1L, 100L, 1L, "bronze"),
      (1L, 200L, 2L, "bronze"), // no change — collapsed
      (1L, 300L, 3L, "silver"),
      (1L, 400L, 4L, "gold"),
      (2L, 150L, 5L, "silver")
    ).toDF("user_id", "ts", "event_id", "tier")
    val dim = Pipeline.scd2(log, Seq("user_id"), "ts", Seq("tier"),
        tieBreak = Seq("event_id"))
      .select("user_id", "effective_from", "effective_to", "tier",
        "is_current")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getString(3),
        r.getBoolean(4))).sortBy(t => (t._1, t._2)).toSeq
    assert(dim == Seq(
      (1L, 100L, 300L, "bronze", false),
      (1L, 300L, 400L, "silver", false),
      (1L, 400L, -1L, "gold", true),
      (2L, 150L, -1L, "silver", true)))
  }

  test("scd2: null-safe attribute compare (null == null collapses)") {
    val log = Seq(
      (1L, 100L, Some("a")),
      (1L, 200L, None),
      (1L, 300L, None), // null -> null: no change, collapsed
      (1L, 400L, Some("b"))
    ).toDF("user_id", "ts", "tier")
    val dim = Pipeline.scd2(log, Seq("user_id"), "ts", Seq("tier"))
    assert(dim.count() == 3)
  }

  test("scd2: single exchange — the two window passes share one shuffle") {
    val log = Seq((1L, 100L, "a"), (1L, 200L, "b"))
      .toDF("user_id", "ts", "tier")
    val plan = Pipeline.scd2(log, Seq("user_id"), "ts", Seq("tier"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }
}
