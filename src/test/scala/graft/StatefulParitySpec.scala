package graft

import graft.ast._
import graft.ast.dsl._
import graft.ast.pipeline._
import graft.compile.{Compiler, Env, StreamEnv}
import graft.ext.{Labels, Pipeline, Sketches, Stats, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Every stateful monitor face runs one kernel in both modes: on a static
  * frame of b1 ∪ b2 (default state-store provider, no streaming query) it
  * returns exactly the latest row per key of a two-micro-batch streaming
  * run over b1 then b2. The parameters keep each estimate independent of
  * arrival order: a collision-free Count-Min width, a theta sketch below
  * saturation, covering top-k capacity and KLL with k ≥ n.
  */
class StatefulParitySpec extends SparkSpecBase {
  import spark.implicits._
  implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** (k, v, n, y): a nullable key, a score in [0, 1), an id, a flag. */
  private type Ev = (Option[String], Double, Long, Boolean)
  private val cols = Seq("k", "v", "n", "y")

  private def events(from: Int, until: Int, nKeys: Int): Seq[Ev] =
    (from until until).map { i =>
      (if (i % 19 == 0) None else Some(s"k${i % nKeys}"),
        ((i * 37) % 101) / 101.0, (i % 17).toLong, i % 3 == 0)
    }
  // b2 brings keys (k23..k28) that b1 never saw
  private val b1 = events(0, 150, 23)
  private val b2 = events(150, 320, 29)

  private val ref = (0 until 400).map(i => ((i * 13) % 97) / 97.0).toDF("v")

  /** The monitor node over topic "ev", compiled in whichever env matches
    * the frame: a batch env for a static frame, a StreamEnv otherwise.
    */
  private def monitorNode(df: DataFrame): DataFrame = {
    val env =
      if (df.isStreaming) new StreamEnv(spark, Map("ev" -> df))
      else new Env {
        val spark = StatefulParitySpec.this.spark
        def load(topic: String): DataFrame = df
        def topicNames: Seq[String] = Seq("ev")
        def isStreaming: Boolean = false
      }
    Compiler.compile(stream(Seq("ev"), Consumed(keys = Seq("n")))
      .monitorRobustScale("v", "k", k = 1024), env).df
  }

  /** (face, its output key columns) */
  private val cases: Seq[(String, DataFrame => DataFrame, Seq[String])] = Seq(
    ("countMinStream",
      Sketches.countMinStream(_, "k", width = 4096, depth = 4, nShards = 4),
      Seq("key")),
    ("kmvStream", Sketches.kmvStream(_, "k", k = 64, nShards = 4),
      Seq("shard")),
    ("heavyHittersStream",
      Sketches.heavyHittersStream(_, "k", capacity = 64, nShards = 4),
      Seq("shard", "key")),
    ("kllStream", Sketches.kllStream(_, "v", k = 1024), Seq("q")),
    ("robustScaleStream", Stats.robustScaleStream(_, "v", "k", k = 1024),
      Seq("g")),
    ("driftPsiStream",
      Pipeline.driftPsiStream(_, "v", ref, 0.0, 1.0, nBins = 10), Nil),
    ("majorityVoteStream", df => Labels.majorityVoteStream(
      df.select(col("n").as("item"), (col("v") * 4).cast("long")
        .as("label"))), Seq("item")),
    ("calibrationStream", TextAnalysis.calibrationStream(_, "v", "y"),
      Seq("bin")),
    ("monitorRobustScale", monitorNode, Seq("g")))

  private def sorted(rows: Iterable[Row]): Seq[Seq[Any]] =
    rows.map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  for ((name, face, keys) <- cases)
    test(s"$name: a static b1 ∪ b2 run equals the latest row per key of " +
      "a two-batch stream") {
      assert(spark.conf.getOption(
        "spark.sql.streaming.stateStore.providerClass")
        .forall(!_.contains("RocksDB")))
      val static = face((b1 ++ b2).toDF(cols: _*)).collect()

      val ms = MemoryStream[Ev]
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Row)]
      val q = face(ms.toDF().toDF(cols: _*)).writeStream
        .outputMode("update")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          seen ++= batch.collect().map(id -> _): Unit
        }
        .start()
      try {
        ms.addData(b1: _*); q.processAllAvailable()
        ms.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      assert(seen.map(_._1).distinct.size == 2, "both batches emit")
      val latest = seen.groupBy { case (_, r) => keys.map(r.getAs[Any](_)) }
        .values.flatMap { rs =>
          val last = rs.map(_._1).max
          rs.collect { case (`last`, r) => r }
        }
      assert(static.nonEmpty)
      assert(sorted(static) == sorted(latest))
    }
}
