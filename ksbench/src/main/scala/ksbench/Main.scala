package ksbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** Benchmark driver process: one workload, one seed, one run.
  *
  * It drives the library only through its public entry points (the query
  * builders in `graft.queries`, `Compiler.compile`, `Runner.start`,
  * `InteractiveQueries` and `HttpStateServer`) and writes the raw samples,
  * spans and counters of the run to one JSON file. `ksbench/run.py` turns
  * that file into metrics.
  *
  * Usage: ksbench.Main key=value ... with the keys read in [[Opts.parse]].
  */
object Main {

  final case class Opts(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      dataDir: String,
      workDir: String,
      outFile: String,
      threads: Int,
      eventRate: Double,
      lookupRate: Double,
      drainRows: Int)

  object Opts {
    def parse(args: Array[String]): Opts = {
      val kv = args.map { a =>
        val i = a.indexOf('=')
        require(i > 0, s"expected key=value, got '$a'")
        a.substring(0, i) -> a.substring(i + 1)
      }.toMap
      def get(k: String): String =
        kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k="))
      Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
        get("trace") == "1", get("data"), get("work"), get("out"),
        get("threads").toInt, get("event_rate").toDouble,
        get("lookup_rate").toDouble, get("drain_rows").toInt)
    }
  }

  /** Wall-clock epoch milliseconds with sub-millisecond digits. */
  def nowMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(o)
    val out = new Record
    out.put("jvm_start_ms", jvmStartMs)
    try {
      o.workload match {
        case "core_batch" =>
          new BatchWorkload(spark, o, out).run()
        case "stream_serve" =>
          new StreamWorkload(spark, o, out).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally {
      out.put("peak_rss_mb", ProcStats.peakRssMb())
      out.write(new File(o.outFile))
      spark.stop()
    }
  }

  private def session(o: Opts): SparkSession = {
    def dir(name: String): String = {
      val d = new File(o.workDir, name)
      d.mkdirs()
      d.getAbsolutePath
    }
    val spark = SparkSession.builder()
      .master(s"local[${o.threads}]")
      .appName(s"ksbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
