package graft

import org.apache.spark.sql.SparkSession

/** The one session builder behind Bench, Verify and the tools: a local
  * session with UTC time, no UI, one shuffle partition per core, WARN
  * logging, and INT64 TIMESTAMP(NANOS) parquet columns read as longs (which
  * `ParquetEnv.read` converts to microsecond timestamps; Spark has no
  * per-read option for it). `SPARK_GRAFT_CPUS` overrides the caller's core
  * count, and `SPARK_GRAFT_MAX_PARTITION_BYTES` sets the scan split size
  * (big-SF fixtures carry 2 MB row groups; the 128 MB default packs a
  * whole sf1 table into one scan partition).
  */
object Sessions {

  def local(defaultCpus: Int, conf: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    sys.env.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
      .foreach(v => b.config("spark.sql.files.maxPartitionBytes", v))
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
