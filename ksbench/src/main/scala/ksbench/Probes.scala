package ksbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit, sum}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Raw record of one run, written as JSON when the run ends. Values are
  * numbers, strings, booleans, Scala maps and sequences of those.
  */
final class Record {
  private val fields = new java.util.concurrent.ConcurrentHashMap[String, Any]()
  private val lists =
    new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Any]]()

  def put(key: String, value: Any): Unit = fields.put(key, value)

  def add(list: String, value: Any): Unit =
    lists.computeIfAbsent(list, _ => new ConcurrentLinkedQueue[Any]()).add(value)

  def write(f: File): Unit = {
    val all = new java.util.LinkedHashMap[String, Any]()
    fields.asScala.foreach { case (k, v) => all.put(k, toJava(v)) }
    lists.asScala.foreach { case (k, q) => all.put(k, toJava(q.asScala.toSeq)) }
    val tmp = new File(f.getPath + ".tmp")
    new ObjectMapper().writeValue(tmp, all)
    require(tmp.renameTo(f), s"cannot write $f")
  }

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }
}

/** Process and host counters read from the JVM and `/proc`. */
object ProcStats {

  /** (steal, total) jiffies of all CPUs since boot, from `/proc/stat`. */
  def cpuJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } finally src.close()
  }

  /** CPU time of the whole process since it started, in seconds. On a
    * kernel with paravirtual steal accounting (`/proc/stat` reports steal)
    * this leaves out the time the host ran other guests on our CPUs.
    */
  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  private val threadBean =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU nanoseconds of every live Java thread, by thread id.
    *
    * The JIT compiler and GC threads are not Java threads, so the CPU the
    * JVM spends compiling and collecting is not in it; the clock is
    * per thread, with nanosecond resolution, and leaves out steal too.
    */
  def threadCpuNs(): Map[Long, Long] = {
    val ids = threadBean.getAllThreadIds
    val ns = threadBean.getThreadCpuTime(ids)
    ids.indices.iterator.filter(ns(_) >= 0).map(i => ids(i) -> ns(i)).toMap
  }

  /** Application CPU milliseconds between two [[threadCpuNs]] readings;
    * a thread that ended in between is left out.
    */
  def appCpuMs(from: Map[Long, Long], to: Map[Long, Long]): Double =
    to.iterator.map { case (id, ns) => ns - from.getOrElse(id, 0L) }.sum / 1e6

  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Counters at one instant; [[delta]] turns two into a window's figures. */
  final case class Snap(wallMs: Double, cpuS: Double, gcS: Double,
                        steal: Long, total: Long) {
    def delta(end: Snap): Map[String, Any] = Map(
      "wall_ms" -> (end.wallMs - wallMs),
      "cpu_s" -> (end.cpuS - cpuS),
      "gc_s" -> (end.gcS - gcS),
      "steal_jiffies" -> (end.steal - steal),
      "total_jiffies" -> (end.total - total))
  }

  def snap(): Snap = {
    val (st, tot) = cpuJiffies()
    Snap(Main.nowMs(), processCpuS(), gcS(), st, tot)
  }
}

/** A fixed Spark query that graft does not build: a range of rows
  * grouped and written to the `noop` sink. Its application CPU time says
  * how fast the host runs this engine at that moment; the host's clock
  * speed and other guests on its cores move it as they move the program,
  * so a run's figures are read relative to it.
  */
object ReferenceJob {
  private val Rows = 2000000L

  /** Runs the query once; returns its application CPU milliseconds. */
  def cpuMs(spark: SparkSession): Double = {
    val c0 = ProcStats.threadCpuNs()
    spark.range(0, Rows, 1, 2).selectExpr("id % 997 AS k", "id * 3 AS v")
      .groupBy("k").agg(sum("v"), count(lit(1)))
      .write.format("noop").mode("overwrite").save()
    ProcStats.appCpuMs(c0, ProcStats.threadCpuNs())
  }
}

/** Spark jobs, with the summed metrics of their tasks, seen from a
  * `SparkListener`. Times are the listener events' epoch milliseconds.
  */
final class JobRecorder extends SparkListener {
  private final class Job(val id: Int, val start: Long, val callSite: String,
                          val streaming: Boolean, val tag: String) {
    @volatile var end: Long = -1L
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
    val spill = new java.util.concurrent.atomic.AtomicLong
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  // SQL execution id -> (start, end) of the action, as the engine posts it
  private val executions = new java.util.concurrent.ConcurrentHashMap[Long, Array[Long]]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executions.put(s.executionId, Array(s.time, -1L))
    case x: SparkListenerSQLExecutionEnd =>
      Option(executions.get(x.executionId)).foreach(_(1) = x.time)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    // the result stage's name is the call site of the action
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    val j = new Job(e.jobId, e.time, site,
      prop("sql.streaming.queryId").isDefined, prop(JobRecorder.TagKey).getOrElse(""))
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for {
      jid <- Option(stageJob.get(e.stageId))
      j <- Option(jobs.get(jid))
      m <- Option(e.taskMetrics)
    } {
      j.tasks.incrementAndGet()
      j.cpuNs.addAndGet(m.executorCpuTime)
      j.gcMs.addAndGet(m.jvmGCTime)
      j.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      j.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }

  def snapshot(): Seq[Map[String, Any]] =
    jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Map("id" -> j.id, "start" -> j.start.toDouble, "end" -> j.end.toDouble,
        "call_site" -> j.callSite, "streaming" -> j.streaming, "tag" -> j.tag,
        "tasks" -> j.tasks.get, "cpu_s" -> j.cpuNs.get / 1e9,
        "gc_s" -> j.gcMs.get / 1e3,
        "shuffle_write_bytes" -> j.shuffleWrite.get, "spill_bytes" -> j.spill.get)
    }

  def executionSnapshot(): Seq[Map[String, Any]] =
    executions.asScala.toSeq.sortBy(_._1).map { case (id, se) =>
      Map("id" -> id, "start" -> se(0).toDouble, "end" -> se(1).toDouble)
    }
}

object JobRecorder {
  /** Local property naming the benchmark span a job was started from. */
  val TagKey = "ksbench.span"
}

/** Catalyst phase intervals of every action, from `QueryExecution.tracker`. */
final class PhaseRecorder extends QueryExecutionListener {
  private val phases = new ConcurrentLinkedQueue[Map[String, Any]]()

  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      phases.add(Map("phase" -> name, "start" -> p.startTimeMs.toDouble,
        "end" -> p.endTimeMs.toDouble))
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def snapshot(): Seq[Map[String, Any]] = phases.asScala.toSeq
}
