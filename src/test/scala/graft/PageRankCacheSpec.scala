package graft

import graft.ext.{Graph, OpCaches}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfn.ListenerDrain
import scala.collection.mutable

/** Adaptive execution gives every scan of a not-yet-built cache its own
  * building job, so a persisted frame that one plan scans N times is
  * built N times over (Spark logs "Block rdd_… already exists on this
  * machine"). `pageRank` must build each cached block with exactly one
  * task.
  */
class PageRankCacheSpec extends SparkSpecBase {
  import spark.implicits._

  test("pageRank builds every cached partition with exactly one task") {
    val n = 500L
    val docs = spark.range(n).toDF("doc_id")
    val edges = docs.select(col("doc_id").as("src"),
        pmod(col("doc_id") * 7 + 3, lit(n)).as("dst"))
      .union(docs.select(col("doc_id").as("src"),
        pmod(col("doc_id") * 13 + 1, lit(n)).as("dst")))
    // tasks of stages whose final RDD is a persisted one: those build it
    val builds = mutable.Map.empty[Int, (Int, Int)] // rdd -> (parts, tasks)
    val l = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        synchronized {
          val head = s.stageInfo.rddInfos.head
          if (head.storageLevel.isValid) {
            val (_, t) = builds.getOrElse(head.id, (head.numPartitions, 0))
            builds(head.id) = (head.numPartitions, t + s.stageInfo.numTasks)
          }
        }
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    val ranks = try {
      val r = Graph.pageRank(edges, "src", "dst", iters = 3)
        .as[(Long, Long)].collect()
      ListenerDrain(spark.sparkContext)
      r
    } finally {
      spark.sparkContext.removeSparkListener(l)
      OpCaches.releaseAll()
    }
    assert(ranks.length == n)
    val rebuilt = l.synchronized(builds.toMap).filter { case (_, (p, t)) => t != p }
    assert(rebuilt.isEmpty,
      s"cached RDDs built more than once (rdd -> (partitions, tasks)): $rebuilt")
  }
}
