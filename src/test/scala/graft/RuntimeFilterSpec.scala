package graft

import graft.ext.{Dedup, RuntimeFilter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ReusedSubqueryExec, SparkPlan, SubqueryExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Bloom-pruned join: result ≡ plain join for every accepted join type,
  * the prune measurably fires on a selective dim, string keys probe the
  * string lanes, the filter is built in the query (no construction job,
  * one build per filter), and unsupported types/joins are rejected
  * loudly.
  */
class RuntimeFilterSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private lazy val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
  private lazy val sup = spark.read.parquet(s"$sfDir/supplier.parquet")
    .where($"s_nationkey" === 3)

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("inner / left_semi / right_outer results ≡ the plain join") {
    Seq("inner", "left_semi", "right_outer").foreach { jt =>
      val got = RuntimeFilter.bloomPrunedJoin(li, sup,
        "l_suppkey", "s_suppkey", joinType = jt)
      val want = li.join(sup, li("l_suppkey") === sup("s_suppkey"), jt)
      assert(canon(got) == canon(want), s"joinType=$jt")
      assert(got.count() > 0, s"joinType=$jt produced no rows")
    }
  }

  test("the prune fires: a 1-key dim keeps ~1/|suppliers| of the fact") {
    val oneSup = spark.read.parquet(s"$sfDir/supplier.parquet").limit(1)
    val (total, kept, nKeys) =
      RuntimeFilter.bloomPruneStats(li, oneSup, "l_suppkey", "s_suppkey")
    assert(nKeys == 1)
    val exact = li.join(oneSup, li("l_suppkey") === oneSup("s_suppkey"),
      "left_semi").count()
    // no false negatives; false positives bounded well below the fact size
    assert(kept >= exact)
    assert(kept < total / 2, s"kept=$kept of total=$total — prune inert")
  }

  test("string keys probe the string lanes (no silent numeric coercion)") {
    val fact = Seq(("a", 1), ("b", 2), ("c", 3), ("d", 4)).toDF("k", "v")
    val dim = Seq(("b", 10), ("d", 20)).toDF("dk", "w")
    val got = RuntimeFilter.bloomPrunedJoin(fact, dim, "k", "dk")
      .select($"k", $"v", $"w").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).sorted.toSeq
    assert(got == Seq(("b", 2, 10), ("d", 4, 20)))
  }

  test("the probe is codegen'd: mightContain calls appear in generated code") {
    // assert on the scan-side filter alone (the join plan is AQE-wrapped
    // and reports no codegen subtrees until executed)
    val prunedScan = li.where(RuntimeFilter.mightContain(sup,
      $"s_suppkey".cast("long"), $"l_suppkey".cast("long"), 0.01))
    // string lane over a parquet-backed column (a local relation would
    // be constant-folded away before any codegen happens)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sScan = docs.where(RuntimeFilter.mightContain(docs.limit(50),
      xxhash64($"lang"), xxhash64($"lang"), 0.01))
    Seq("long" -> prunedScan, "string" -> sScan).foreach { case (lane, df) =>
      // run the frame itself: its AQE plan codegens once the filter
      // subquery has a value
      assert(df.collect().nonEmpty, s"$lane probe kept nothing")
      val gen = org.apache.spark.sql.execution.debug
        .codegenString(df.queryExecution.executedPlan)
      assert(gen.contains("mightContainLong"),
        s"$lane probe missing from generated code — fell out of codegen")
    }
  }

  test("keys of different type families are rejected, both directions") {
    // a string key against an integral one would probe text hashes
    // against raw longs and silently drop the matches
    val sFact = Seq(("1", 10), ("2", 20), ("3", 30)).toDF("k", "v")
    val iDim = Seq((1, "a"), (3, "c")).toDF("dk", "w")
    val iFact = Seq((1, 10), (2, 20), (3, 30)).toDF("k", "v")
    val sDim = Seq(("1", "a"), ("3", "c")).toDF("dk", "w")
    Seq(sFact -> iDim, iFact -> sDim).foreach { case (fact, dim) =>
      intercept[IllegalArgumentException](
        RuntimeFilter.bloomPrunedJoin(fact, dim, "k", "dk"))
      intercept[IllegalArgumentException](
        RuntimeFilter.bloomPruneStats(fact, dim, "k", "dk"))
    }
  }

  test("an empty build side probes false, not null") {
    // an empty build aggregates to a null filter; a null probe would drop
    // the clean side of the verified dedup along with the flagged one
    val empty = sup.where(lit(false))
    assert(RuntimeFilter.bloomPrunedJoin(li, empty, "l_suppkey", "s_suppkey")
      .count() == 0)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val got = Dedup.incrementalExactBloomVerified(docs, docs.where(lit(false)))
    assert(got.count() == Dedup.incrementalExact(docs, docs.where(lit(false)))
      .count())
  }

  test("building a Bloom-prefiltered query starts no Spark job") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val inc = docs.where(pmod($"doc_id", lit(2)) === 1)
    val corpus = docs.where(pmod($"doc_id", lit(2)) === 0)
    val idx = Dedup.substringIndex(corpus, "text", minTokens = 8)
    Seq[(String, () => DataFrame)](
      "bloomPrunedJoin" -> (() =>
        RuntimeFilter.bloomPrunedJoin(li, sup, "l_suppkey", "s_suppkey")),
      "incrementalExactBloomVerified" -> (() =>
        Dedup.incrementalExactBloomVerified(inc, corpus)),
      "dedupSubstringsIncrementalBloom" -> (() =>
        Dedup.dedupSubstringsIncrementalBloom(inc, idx, "text", "doc_id"))
    ).foreach { case (name, build) =>
      val (df, jobs) = jobsDuring(build())
      assert(jobs == 0, s"$name started $jobs jobs while being built")
      assert(df.queryExecution.analyzed.resolved, name)
    }
  }

  test("two probes of one filter share one build (ReusedSubquery)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = Dedup.incrementalExactBloomVerified(
      docs.where(pmod($"doc_id", lit(2)) === 1),
      docs.where(pmod($"doc_id", lit(2)) === 0))
    df.collect()
    val plan = df.queryExecution.executedPlan
    // AQE may prune a branch that ran empty, original build included:
    // count the distinct builds behind every probe, direct or reused
    val isBloom = (p: SparkPlan) => p.toString.contains("bloom_filter_agg")
    val direct = collectWithSubqueries(plan) {
      case s: SubqueryExec if isBloom(s.child) => s
    }
    val reused = collectWithSubqueries(plan) {
      case r: ReusedSubqueryExec if isBloom(r.child.child) => r
    }
    val builds = (direct ++ reused.map(_.child)).map(_.id).distinct
    assert(builds.size == 1, s"${builds.size} Bloom builds in\n$plan")
    assert(reused.nonEmpty, s"second probe is not a ReusedSubquery in\n$plan")
  }

  test("semantics-breaking join types and bad inputs are rejected") {
    intercept[IllegalArgumentException](
      RuntimeFilter.bloomPrunedJoin(li, sup, "l_suppkey", "s_suppkey",
        joinType = "left_outer"))
    intercept[IllegalArgumentException](
      RuntimeFilter.bloomPrunedJoin(li, sup, "l_suppkey", "s_suppkey",
        fpp = 1.5))
    // double keys: rejected, not coerced
    val dFact = Seq((1.5, 1)).toDF("k", "v")
    intercept[IllegalArgumentException](
      RuntimeFilter.bloomPrunedJoin(dFact, sup, "k", "s_suppkey"))
  }
}
