package graft

import graft.ast._
import graft.ast.dsl._
import graft.compile.{Compiler, ParquetEnv}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property-based operator laws (SURVEY §5d): branch totality, merge
  * additivity, filter-fusion equivalence, reduce≡declarative-agg for
  * monoids — randomized over predicate thresholds and key mappings.
  */
class PropertySpec extends SparkSpecBase {

  private def env = new ParquetEnv(spark, sfDir)
  private lazy val events = env.load("events")
  private lazy val total = events.count()
  private val consumed = Consumed(keys = Seq("user_id"), eventTime = Some("ts"))

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(5)
    .withWorkers(1)

  private def holds(p: Prop): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, r.status.toString)
  }

  test("branch partitions the stream for any predicate thresholds") {
    holds(Prop.forAll(Gen.choose(0.0, 200.0), Gen.choose(0.0, 200.0)) {
      (t1: Double, t2: Double) =>
        val branches = stream(Seq("events"), consumed)
          .branch(col("value") > t1, col("value") > t2, lit(true))
        val counts = branches.map(b => Compiler.compile(b, env).df.count())
        counts.sum == total && counts.forall(_ >= 0)
    })
  }

  test("merge is additive on counts for any predicate split") {
    holds(Prop.forAll(Gen.choose(0.0, 200.0)) { t: Double =>
      val ev = stream(Seq("events"), consumed)
      val a = ev.filter(col("value") > t)
      val b = ev.filterNot(col("value") > t)
      Compiler.compile(a.merge(b), env).df.count() == total
    })
  }

  test("normalized filter chain is equivalent to the fused conjunction") {
    holds(Prop.forAll(Gen.choose(0.0, 150.0), Gen.choose(50.0, 200.0)) {
      (lo: Double, hi: Double) =>
        val chain = stream(Seq("events"), consumed)
          .filter(col("value") > lo).filter(col("value") < hi)
        val fusedCount = Compiler.compile(chain, env).df.count()
        fusedCount ==
          events.where(col("value") > lo && col("value") < hi).count()
    })
  }

  test("typed reduce equals declarative sum for any re-keying modulus") {
    holds(Prop.forAll(Gen.choose(2, 23)) { m: Int =>
      val node = ReduceOp(
        stream(Seq("events"), consumed)
          .map(keys = Seq((col("user_id") % m).as("k")),
               values = Seq(round(col("value") * 100).cast("long").as("c")))
          .groupByKey,
        reducer = (a: Row, b: Row) => Row(a.getLong(0) + b.getLong(0)))
      val got = Compiler.compile(node, env).df
      val expected = events
        .groupBy((col("user_id") % m).as("k"))
        .agg(sum(round(col("value") * 100).cast("long")).as("c"))
      got.except(expected).isEmpty && expected.except(got).isEmpty
    })
  }

  test("normalize is idempotent for any text") {
    import graft.ext.Pipeline
    holds(Prop.forAll(Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr, Gen.const("  "), Gen.const("\t"), Gen.const("\n"),
      Gen.const("MiXeD Case"))).map(_.mkString)) { s: String =>
      val df = spark.createDataFrame(Seq(Tuple1(s))).toDF("text")
      val once = df.select(Pipeline.normalize(col("text"))).head.getString(0)
      val twice = df.select(Pipeline.normalize(Pipeline.normalize(col("text"))))
        .head.getString(0)
      once == twice
    })
  }

  test("splitByHash partitions exhaustively for any two-way fraction") {
    import graft.ext.Pipeline
    val docs = env.load("documents").limit(100)
    val n = docs.count()
    holds(Prop.forAll(Gen.choose(0.1, 0.9)) { f: Double =>
      val split = Pipeline.splitByHash(docs, "doc_id",
        Seq("a" -> f, "b" -> (1.0 - f)))
      val counts = split.groupBy("split").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      counts.values.sum == n && counts.keySet.subsetOf(Set("a", "b"))
    })
  }

  test("canonicalize keeps exactly one doc per cluster for any pair graph") {
    import spark.implicits._
    // random undirected pair graphs over 20 ids: survivors = singleton
    // docs + one representative per connected component, for ANY graph
    val pairGen = Gen.listOfN(8,
      Gen.zip(Gen.choose(1L, 20L), Gen.choose(1L, 20L))).map(
        _.filter { case (a, b) => a != b })
    holds(Prop.forAll(pairGen) { ps: List[(Long, Long)] =>
      val corpus = (1L to 20L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      val pairs = ps.toDF("id_a", "id_b")
      val kept = graft.ext.Dedup.canonicalize(corpus, pairs, "doc_id")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // expected: union-find over the pairs, keep each component's min
      val parent = scala.collection.mutable.Map((1L to 20L).map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      ps.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (1L to 20L).filter(i => find(i) == i).toSet
      kept == expected
    })
  }

  test("incrementalExact output is disjoint from the corpus for any batch") {
    import spark.implicits._
    val batchGen = Gen.listOfN(12, Gen.zip(
      Gen.choose(100L, 200L), Gen.oneOf("x", "y", "z", "w", "seen")))
    holds(Prop.forAll(batchGen) { rows: List[(Long, String)] =>
      val corpus = Seq((1L, "seen")).toDF("doc_id", "text")
      val incoming = rows.toDF("doc_id", "text")
      val kept = graft.ext.Dedup.incrementalExact(incoming, corpus)
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      // no corpus text survives, and surviving texts are unique
      kept.forall(_._2 != "seen") &&
        kept.map(_._2).distinct.length == kept.length &&
        kept.forall { case (id, t) =>
          // each survivor is the min id of its text within the batch
          id == rows.filter(_._2 == t).map(_._1).min
        }
    })
  }

  test("selectToBudget is monotone in the budget and respects the cutoff") {
    import spark.implicits._
    val gen = Gen.listOfN(20, Gen.zip(Gen.oneOf("a", "b"),
      Gen.choose(1L, 100L), Gen.choose(10L, 400L)))
    holds(Prop.forAll(gen, Gen.choose(100L, 600L)) {
      (rows: List[(String, Long, Long)], budget: Long) =>
        val df = rows.zipWithIndex
          .map { case ((s, _, t), i) => (s, i.toLong, t) }
          .toDF("source", "doc_id", "tok")
        def kept(b: Long) = graft.ext.Pipeline.selectToBudget(
            df, "source", col("tok"), b, Seq(col("tok").desc, col("doc_id")))
          .select(col("doc_id"), col("cum_tokens")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val small = kept(budget); val big = kept(budget * 2)
        small.keySet.subsetOf(big.keySet) &&   // larger budget only adds
          small.values.forall(_ <= budget) &&  // cutoff respected
          big.values.forall(_ <= budget * 2)
    })
  }

  test("windowFunnel depth is monotone in the window length") {
    import spark.implicits._
    val gen = Gen.listOfN(24, Gen.zip(Gen.choose(1L, 4L),
      Gen.choose(0L, 120L), Gen.oneOf("A", "B", "C")))
    holds(Prop.forAll(gen, Gen.choose(5L, 40L)) {
      (rows: List[(Long, Long, String)], within: Long) =>
        val ev = rows.map { case (u, s, t) =>
          (u, new java.sql.Timestamp(s * 1000L), t) }
          .toDF("user_id", "ts", "event_type")
        def depths(w: Long) = graft.ext.Funnel.windowFunnel(
            ev, "user_id", "ts", "event_type", Seq("A", "B", "C"), w)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val narrow = depths(within); val wide = depths(within * 3)
        narrow.forall { case (u, d) => wide(u) >= d }
    })
  }

  test("splitByCluster covers every doc once and respects cluster atomicity") {
    import spark.implicits._
    val edgeGen = Gen.listOfN(8, Gen.zip(Gen.choose(1L, 30L), Gen.choose(1L, 30L)))
      .map(_.filter { case (a, b) => a != b })
    holds(Prop.forAll(edgeGen) { edges: List[(Long, Long)] =>
      val docs = (1L to 30L).map(i => (i, s"d$i")).toDF("doc_id", "text")
      val out = graft.ext.Pipeline.splitByCluster(docs,
          (if (edges.nonEmpty) edges else List((1L, 2L))).toDF("id_a", "id_b"),
          "doc_id", Seq("train" -> 0.5, "test" -> 0.5))
        .select(col("doc_id"), col("split")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      out.size == 30 &&
        edges.forall { case (a, b) => out(a) == out(b) }
    })
  }

  test("resampleCounts grid is gap-free and mass-preserving for any events") {
    import spark.implicits._
    val evGen = Gen.listOfN(15, Gen.zip(
      Gen.choose(1L, 3L), Gen.choose(0L, 5000L)))
    holds(Prop.forAll(evGen) { rows: List[(Long, Long)] =>
      val ev = rows.map { case (u, s) =>
        (u, new java.sql.Timestamp(s * 1000L)) }.toDF("user_id", "ts")
      val grid = graft.ext.TimeSeries.resampleCounts(ev, "user_id", "ts", 60L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val byKey = grid.groupBy(_._1)
      // total mass preserved, and each key's buckets are consecutive
      grid.map(_._3).sum == rows.length &&
        byKey.forall { case (_, g) =>
          val b = g.map(_._2).sorted
          b.zip(b.tail).forall { case (x, y) => y - x == 60L }
        }
    })
  }

  test("pointInInterval ≡ brute-force theta join for any bin width") {
    import spark.implicits._
    val genIval = Gen.listOfN(12, for {
      s <- Gen.choose(-100L, 100L); len <- Gen.choose(0L, 60L)
    } yield (s, s + len))
    val genPts = Gen.listOfN(40, Gen.choose(-120L, 200L))
    holds(Prop.forAll(genIval, genPts, Gen.choose(1L, 80L)) {
      (ivals, pts, w) =>
        val iv = ivals.zipWithIndex.map { case ((s, e), i) => (i.toLong, s, e) }
          .toDF("iid", "s", "e")
        val p = pts.zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toDF("pid", "p")
        val got = graft.ext.IntervalJoin
          .pointInInterval(p, iv, "p", "s", "e", w)
          .select(col("iid"), col("pid"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val brute = iv.crossJoin(p)
          .where(col("p").between(col("s"), col("e")))
          .select(col("iid"), col("pid"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        got.length == got.toSet.size && got.toSet == brute
    })
  }

  test("avro serde round-trips arbitrary rows (strings, longs, doubles, arrays)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(
      StructField("s", StringType),
      StructField("l", LongType, nullable = false),
      StructField("d", DoubleType, nullable = false),
      StructField("arr", ArrayType(LongType, containsNull = false))))
    val serde = graft.serde.Serdes.avro(sch)
    // unicode strings (incl. surrogate-pair emoji), full-range longs,
    // special doubles, variable-length arrays
    val genRow = for {
      s <- Gen.oneOf(Gen.asciiPrintableStr, Gen.const("héllo 世界 🚀"),
                     Gen.const(""))
      l <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
      d <- Gen.oneOf(Gen.chooseNum(-1e18, 1e18),
                     Gen.oneOf(0.0, -0.0, Double.NaN,
                               Double.PositiveInfinity, Double.MinValue))
      arr <- Gen.listOfN(3, Gen.chooseNum(Long.MinValue, Long.MaxValue))
    } yield (s, l, d, arr)
    holds(Prop.forAll(Gen.listOfN(8, genRow)) { rows =>
      rows.nonEmpty && {
        val df = rows.toDF("s", "l", "d", "arr")
        val round = df
          .select(serde.decode(serde.encode(
            struct(col("s"), col("l"), col("d"), col("arr")))).as("v"))
          .select(col("v.*"))
        df.collect().map(_.toString).sorted
          .sameElements(round.collect().map(_.toString).sorted)
      }
    })
  }

  test("zorderKey round-trips: de-interleaving recovers every dimension") {
    import spark.implicits._
    val genDims = Gen.choose(1, 4)
    holds(Prop.forAll(genDims, Gen.listOfN(30, Gen.choose(0L, (1L << 12) - 1))) {
      (nDims, vals) =>
        val bits = 12
        val rows = vals.grouped(nDims).filter(_.size == nDims).toSeq
        rows.nonEmpty && {
          val df = rows.map(g => Tuple1(g)).toDF("dims")
          val dims = (0 until nDims)
            .map(i => element_at(col("dims"), i + 1))
          val zs = df.select(col("dims"),
              graft.ext.Layout.zorderKey(dims, bits).as("z"))
            .collect()
          zs.forall { r =>
            val ds = r.getSeq[Long](0)
            val z = r.getLong(1)
            (0 until nDims).forall { i =>
              val recovered = (0 until bits).foldLeft(0L) { (acc, b) =>
                acc | (((z >> (b * nDims + i)) & 1L) << b)
              }
              recovered == ds(i)
            }
          }
        }
    })
  }

  test("MMR laws: rank-1 relevance, distinctness, permutation invariance") {
    import spark.implicits._
    // random small corpora of 2-D float vectors (angles guarantee no
    // degenerate zero vectors); one query at a random angle
    val genAngles = Gen.listOfN(8, Gen.choose(0.0, math.Pi * 2))
    holds(Prop.forAll(genAngles, Gen.choose(0.0, math.Pi * 2),
                      Gen.choose(0.1, 0.9)) {
      (angles, qa, lam) =>
        val corpus = angles.zipWithIndex.map { case (a, i) =>
          (i.toLong + 10L, Array(math.cos(a).toFloat, math.sin(a).toFloat))
        }
        val queries = Seq((1L, Array(math.cos(qa).toFloat,
                                     math.sin(qa).toFloat)))
        def run(c: Seq[(Long, Array[Float])]) = graft.ext.Similarity
          .mmrSelect(c.toDF("vec_id", "embedding"),
            queries.toDF("vec_id", "embedding"),
            k = 4, shortlist = 8, lambda = lam)
          .orderBy("rank")
          .select("neighbor_id").as[Long].collect().toSeq
        val picks = run(corpus)
        val rel = graft.ext.Similarity.bruteForceTopK(
            corpus.toDF("vec_id", "embedding"),
            queries.toDF("vec_id", "embedding"), k = 1)
          .select("neighbor_id").as[Long].head()
        picks.length == 4 &&
          picks.distinct.length == 4 &&         // k distinct picks
          picks.head == rel &&                  // rank 1 = argmax relevance
          run(scala.util.Random.shuffle(corpus)) == picks // set function
    })
  }

  test("dupShingleStats: fraction bounds; disjoint texts share nothing") {
    import spark.implicits._
    // texts over disjoint token alphabets per doc → every shingle unique
    val genN = Gen.choose(2, 6)
    holds(Prop.forAll(genN, Gen.choose(3, 12)) { (nDocs, wordsPerDoc) =>
      val docs = (0 until nDocs).map { d =>
        (d.toLong, (0 until wordsPerDoc).map(w => s"w${d}_$w").mkString(" "))
      }
      val stats = graft.ext.TextAnalysis
        .dupShingleStats(docs.toDF("doc_id", "text"), "text", "doc_id")
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      stats.length == nDocs && stats.forall { case (n, dup, f) =>
        n > 0 && dup == 0 && f == 0.0 // disjoint alphabets: nothing shared
      } && {
        // duplicating one doc makes its fraction exactly 1.0
        val dup = docs ++ Seq((99L, docs.head._2))
        graft.ext.TextAnalysis
          .dupShingleStats(dup.toDF("doc_id", "text"), "text", "doc_id")
          .where(col("id").isin(0L, 99L))
          .collect().forall(_.getDouble(3) == 1.0)
      }
    })
  }

  test("linear classifier kernels equal a driver-side reference fold") {
    import graft.functions.VectorFunctions.{linear_score, linear_score_hashed}
    // weights are 1/64 multiples, so every partial sum is exact and the
    // equality below is == on doubles, not a tolerance check
    val vocab = Seq("a", "b", "cd", "efg", "zz", "q1")
    val tokGen = Gen.listOf(Gen.oneOf(vocab :+ ""))
    val wGen = Gen.nonEmptyMap(
      Gen.zip(Gen.oneOf(vocab), Gen.choose(-32, 32).map(_ / 64.0)))
    val buckets = Seq(0.5, -0.25, 0.125, -0.5, 0.375, -0.125, 0.0625, -0.375)
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      (0 until 8).foldLeft(0L)((v, i) => (v << 8) | (d(i) & 0xffL)) >>> 4
    }
    holds(Prop.forAll(tokGen, wGen) { (toks, w) =>
      val arr = lit(toks.toArray)
      val row = spark.range(1).select(
        linear_score(arr, w.toSeq, bias = 0.125).as("s"),
        linear_score_hashed(arr, buckets, bias = -0.25).as("sh")).head
      val nonEmpty = toks.filter(_.nonEmpty)
      row.getDouble(0) ==
        0.125 + nonEmpty.map(t => w.getOrElse(t, 0.0)).sum &&
      row.getDouble(1) ==
        -0.25 + nonEmpty.map(t => buckets((h60(t) % buckets.size).toInt)).sum
    })
  }
}
