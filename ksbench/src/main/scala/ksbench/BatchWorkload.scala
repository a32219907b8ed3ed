package ksbench

import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.KsbenchBus
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `core_batch`: one closed-loop client builds, plans and runs each
  * topology to its full result, pass after pass.
  *
  * Set-up is the fixed warm-up: one untimed checked pass in a fixed order
  * (first-call code generation and class loading), which writes each
  * result as parquet for the DuckDB oracle together with its row count and
  * order-insensitive digest, then [[BatchWorkload.WarmPasses]] untimed
  * passes. Every later run writes its full result to the `noop` sink
  * through `Dataset.observe`, which yields the same count and digest; a
  * run whose count or digest differs from the checked pass counts as
  * failed. Each pass shuffles the order by the seed and always completes,
  * so every pass holds each topology once.
  *
  * Each run records its wall times and the application CPU time (see
  * [[ProcStats.threadCpuNs]]) from the builder call until the sink holds
  * the last row, and through the cache release; the CPU time leaves out
  * host CPU steal, which stretches wall times by tens of percent.
  *
  * In a traced run the passes alternate traced and untraced: traced passes
  * attach the job, SQL-execution and Catalyst-phase listeners, untraced
  * ones measure the same mix without them, which gives the tracing overhead.
  */
final class BatchWorkload(spark: SparkSession, o: Main.Opts, out: Record) {
  import BatchWorkload._

  private val builders: Map[String, Q] = graft.SparkEntry.queries

  private val names = CoreRows

  private val jobs = new JobRecorder
  private val phases = new PhaseRecorder
  private var attached = false

  private def setTraced(on: Boolean): Unit = if (on != attached) {
    KsbenchBus.drain(spark.sparkContext)
    if (on) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(phases)
    } else {
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(phases)
    }
    attached = on
  }

  def run(): Unit = {
    val missing = names.filterNot(builders.contains)
    require(missing.isEmpty, s"unknown topologies: ${missing.mkString(", ")}")
    out.put("topologies", names)

    val checkDir = new File(o.workDir, "check")
    val reference = names.map(n => n -> checkedRun(n, checkDir)).toMap
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(checkDir.getPath, "oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(
        scala.jdk.CollectionConverters.MapHasAsJava(oracle).asJava))
    out.put("oracle_checked", oracle.keys.toSeq.sorted)

    val rng = new scala.util.Random(o.seed)
    def runPass(pass: Int, traced: Boolean): Unit = {
      setTraced(traced)
      val p0 = Main.nowMs()
      rng.shuffle(names).foreach(n => timedRun(n, pass, traced, reference(n)))
      out.add("passes", Map("pass" -> pass, "traced" -> traced,
        "start" -> p0, "end" -> Main.nowMs()))
    }
    (0 until WarmPasses).foreach(runPass(_, traced = false))
    out.put("warm_passes", WarmPasses)
    val start = ProcStats.snap()
    out.put("first_timed_ms", start.wallMs)
    out.put("first_timed_cpu_s", start.cpuS)
    var pass = WarmPasses
    while (pass < WarmPasses + MinTimedPasses ||
        Main.nowMs() - start.wallMs < o.seconds * 1000) {
      runPass(pass, traced = o.trace && (pass - WarmPasses) % 2 == 0)
      pass += 1
    }
    out.put("timed_window", start.delta(ProcStats.snap()))
    setTraced(false)
    if (o.trace) {
      out.put("jobs", jobs.snapshot())
      out.put("phases", phases.snapshot())
      out.put("executions", jobs.executionSnapshot())
    }
  }

  /** Untimed run that writes the result for the oracle; returns (rows, digest). */
  private def checkedRun(name: String, dir: File): (Long, String) = {
    val obs = new Observation()
    val t0 = Main.nowMs()
    try {
      val df = builders(name)(spark, o.dataDir)
      observed(df, obs).coalesce(1).write.mode("overwrite")
        .parquet(new File(dir, name).getPath)
      val r = result(obs)
      out.add("checked", Map("name" -> name, "rows" -> r._1, "digest" -> r._2,
        "ms" -> (Main.nowMs() - t0)))
      r
    } catch {
      case e: Exception =>
        out.add("checked", Map("name" -> name, "error" -> String.valueOf(e.getMessage)))
        (-1L, "error")
    } finally graft.ext.OpCaches.releaseAll()
  }

  private def timedRun(name: String, pass: Int, traced: Boolean,
                       reference: (Long, String)): Unit = {
    // a host-speed reading before each untraced run, outside its times
    val refMs = if (traced) Double.NaN else ReferenceJob.cpuMs(spark)
    val (steal0, total0) = ProcStats.cpuJiffies()
    val obs = new Observation()
    val c0 = ProcStats.threadCpuNs()
    val t0 = Main.nowMs()
    var t1, t2 = Double.NaN
    var c2 = Map.empty[Long, Long]
    val outcome: Either[String, (Long, String)] =
      try {
        val df = builders(name)(spark, o.dataDir)
        t1 = Main.nowMs()
        observed(df, obs).write.format("noop").mode("overwrite").save()
        t2 = Main.nowMs()
        c2 = ProcStats.threadCpuNs()
        Right(result(obs))
      } catch {
        case e: Exception => Left(String.valueOf(e.getMessage))
      }
    graft.ext.OpCaches.releaseAll()
    val leaked = spark.sparkContext.getPersistentRDDs.size
    val t3 = Main.nowMs()
    val c3 = ProcStats.threadCpuNs()
    val (steal1, total1) = ProcStats.cpuJiffies()
    val ok = outcome == Right(reference)
    out.add("samples", Map(
      "name" -> name, "pass" -> pass, "traced" -> traced, "ok" -> ok,
      "t0" -> t0, "t1" -> t1, "t2" -> t2, "t3" -> t3, "cpu_ms" -> ProcStats.appCpuMs(c0, c2),
      "run_cpu_ms" -> ProcStats.appCpuMs(c0, c3),
      "rows" -> outcome.map(_._1).getOrElse(-1L),
      "error" -> outcome.left.getOrElse(
        if (ok) "" else s"result ${outcome.toOption.get} != checked pass $reference"),
      "leaked_blocks" -> leaked, "ref_cpu_ms" -> refMs,
      "steal_jiffies" -> (steal1 - steal0), "total_jiffies" -> (total1 - total0)))
  }
}

object BatchWorkload {
  type Q = (SparkSession, String) => DataFrame

  /** Untimed passes after the checked pass: runs two and three of each
    * topology were still 15% and 5% slower than later ones (JIT).
    */
  val WarmPasses = 2

  /** Timed passes per run at least, so every topology has two runs. */
  val MinTimedPasses = 2

  /** The `core_batch` topologies; DESIGN.md says why each was chosen. */
  val CoreRows: Seq[String] = Seq(
    "op_filter", "op_map", "op_flat_map_values", "op_branch",
    "agg_count_windowed", "join_stream_table", "join_bloom_prune",
    "q1_pricing", "q3_revenue")

  private def quoted(n: String): Column = col("`" + n.replace("`", "``") + "`")

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Per-row hash over every column. Top-level floating-point values are
    * rounded to 6 decimals, so summation order cannot flip the digest.
    */
  def rowHash(schema: StructType): Column = {
    val cols = schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(quoted(f.name).cast(DoubleType), 6)
        case _ => quoted(f.name)
      }
    }
    if (schema.fields.exists(f => hasMap(f.dataType))) xxhash64(to_json(struct(cols: _*)))
    else xxhash64(cols: _*)
  }

  /** `df` with an observation of its row count and order-insensitive digest. */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val h = rowHash(df.schema)
    df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("hsum"),
      coalesce(bit_xor(h), lit(0L)).as("hxor"))
  }

  def result(obs: Observation): (Long, String) = {
    val m = obs.get
    (m("rows").asInstanceOf[Long], s"${m("hsum")}:${m("hxor")}")
  }
}
