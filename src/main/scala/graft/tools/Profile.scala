package graft.tools

import graft.ext.OpCaches
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution,
  SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.graftfn.ListenerDrain
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** Per-query execution profile (dev tool): timing, plan review and cache
  * leak hunting in one pass. Each named query (gate or bench-only) is
  * warmed once (codegen, fits, index builds), then on each rep built and
  * run to full results — every row computed, none collected — and one
  * line printed: wall seconds of the build (the query-builder call) and of
  * the run, Spark jobs started during the build, then over build and run
  * together Spark jobs, stages, tasks,
  * shuffle-write MB, shuffle exchanges in the executed plan, `cacheX`, and
  * the number of persisted RDDs that survive `OpCaches.releaseAllLeaks`,
  * each survivor followed by its lineage. `cacheX` reads "tasks/parts":
  * the tasks of stages whose final RDD is persisted, over those RDDs'
  * partitions ("-" when nothing is persisted). A persist built once reads
  * equal sides; more tasks than partitions means adaptive execution built
  * some cached partitions more than once. Job count is the hidden per-query
  * cost at bench scale: every eager action (persist materialization,
  * localCheckpoint, count, first) is a job with its own scheduling and
  * barrier. `--plans dir` writes the last rep's formatted executed plan
  * to `dir/<query>.txt`.
  *
  * Usage: runMain graft.tools.Profile <query…> [--reps n] [--plans dir]
  * Fixtures come from SPARK_GRAFT_SF_DIR (required).
  */
object Profile extends AdaptiveSparkPlanHelper {

  def main(args: Array[String]): Unit = {
    var reps = 3
    var plansDir: Option[String] = None
    val names = Seq.newBuilder[String]
    val it = args.iterator
    while (it.hasNext) it.next() match {
      case "--reps" => reps = it.next().toInt
      case "--plans" => plansDir = Some(it.next())
      case n => names += n
    }
    val queries = names.result()
    val all = graft.SparkEntry.queries ++ graft.queries.ExtQueries.benchOnly
    require(queries.nonEmpty && reps >= 1,
      "usage: Profile <query…> [--reps n] [--plans dir]")
    val unknown = queries.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    plansDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to a fixture directory"))

    val spark = graft.Sessions.local(defaultCpus = 32)
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val shufW = new AtomicLong
    // persisted RDD id -> (partitions, tasks of the stages that built it)
    val cacheBuilds = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Int)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val head = s.stageInfo.rddInfos.head
        if (head.storageLevel.isValid)
          cacheBuilds.merge(head.id, (head.numPartitions, s.stageInfo.numTasks),
            (a, b) => (a._1, a._2 + b._2))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null)
          shufW.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    })

    /** One build + full run: build seconds, run seconds, jobs started
      * during the build, and the executed plan.
      */
    def run(name: String): (Double, Double, Int, QueryExecution) = {
      jobs.set(0); stages.set(0); tasks.set(0); shufW.set(0)
      cacheBuilds.clear()
      val t0 = System.nanoTime()
      val qe = all(name)(spark, sfDir).queryExecution
      val t1 = System.nanoTime()
      ListenerDrain(spark.sparkContext)
      val buildJobs = jobs.get
      val t2 = System.nanoTime()
      SQLExecution.withNewExecutionId(qe, Some(s"profile $name")) {
        qe.toRdd.foreach(_ => ())
      }
      val t3 = System.nanoTime()
      ListenerDrain(spark.sparkContext)
      ((t1 - t0) / 1e9, (t3 - t2) / 1e9, buildJobs, qe)
    }
    def printLineage(leaked: Seq[RDD[_]]): Unit = leaked.foreach { r =>
      println(s"  leaked id=${r.id} ${r.getStorageLevel.description}")
      r.toDebugString.linesIterator.foreach(l => println(s"    $l"))
    }

    println(f"${"query"}%-28s ${"rep"}%4s ${"build"}%6s ${"run"}%6s " +
      f"${"bjobs"}%5s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s " +
      f"${"shufMB"}%7s ${"exch"}%4s ${"cacheX"}%9s leaked")
    var failed = Seq.empty[String]
    queries.foreach { n =>
      try {
        run(n)
        printLineage(OpCaches.releaseAllLeaks(spark))
        (1 to reps).foreach { rep =>
          val (buildS, runS, bjobs, qe) = run(n)
          val exch = collectWithSubqueries(qe.executedPlan) {
            case e: ShuffleExchangeLike => e
          }.size
          val leaked = OpCaches.releaseAllLeaks(spark)
          val builds = cacheBuilds.values.asScala
          val cacheX = if (builds.isEmpty) "-"
            else s"${builds.map(_._2).sum}/${builds.map(_._1).sum}"
          println(f"$n%-28s $rep%4d $buildS%6.2f $runS%6.2f $bjobs%5d " +
            f"${jobs.get}%5d ${stages.get}%6d ${tasks.get}%6d " +
            f"${shufW.get / 1e6}%7.2f $exch%4d $cacheX%9s ${leaked.size}%6d")
          printLineage(leaked)
          if (rep == reps) plansDir.foreach { d =>
            Files.writeString(Paths.get(d, s"$n.txt"),
              qe.explainString(FormattedMode))
          }
        }
      } catch { case e: Throwable =>
        println(s"$n FAILED: $e")
        failed :+= n
      }
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
