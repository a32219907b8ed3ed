package graft

import graft.ast._
import graft.ast.dsl._
import graft.compile.{Compiler, ParquetEnv}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.{Files, StandardCopyOption}

/** The parquet source-metadata cache: a warm build reads cached schemas
  * and footer counts (no Spark job), a changed file is re-inferred, and a
  * cached read plans exactly like an inferred one.
  */
class SourceCacheSpec extends SparkSpecBase {
  import spark.implicits._

  /** The `core_batch` benchmark topologies. */
  private val coreRows = Seq(
    "op_filter", "op_map", "op_flat_map_values", "op_branch",
    "agg_count_windowed", "join_stream_table", "join_bloom_prune",
    "q1_pricing", "q3_revenue")

  private def build(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)

  /** Writes `df` as the single parquet file `target`. */
  private def writeSingle(df: DataFrame, target: File): Unit = {
    val stage = Files.createTempDirectory("graft-stage").toFile
    df.coalesce(1).write.mode("overwrite").parquet(stage.getPath)
    val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, target.toPath, StandardCopyOption.REPLACE_EXISTING)
    stage.listFiles().foreach(_.delete()); stage.delete()
  }

  test("a rewritten parquet file is read with its new schema and row count") {
    val dir = Files.createTempDirectory("graft-srccache").toFile
    val file = new File(dir, "t.parquet")
    try {
      writeSingle(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"), file)
      val env = new ParquetEnv(spark, dir.getPath)
      assert(env.load("t").columns.toSeq == Seq("id", "name"))
      assert(env.load("t").count() == 3)
      assert(env.rowsUpperBound("t").contains(3L))
      val mtime = file.lastModified()
      writeSingle((1 to 5).map(i => (i, i * 1.5)).toDF("k", "v"), file)
      assert(file.setLastModified(mtime + 10000))
      val again = env.load("t")
      assert(again.columns.toSeq == Seq("k", "v"))
      assert(again.schema("k").dataType == org.apache.spark.sql.types.IntegerType)
      assert(again.count() == 5)
      assert(again.agg(sum("v")).head().getDouble(0) == 22.5)
      assert(env.rowsUpperBound("t").contains(5L))
    } finally {
      Option(dir.listFiles()).toSeq.flatten.foreach(_.delete()); dir.delete()
    }
  }

  test("an INT64 TIMESTAMP(NANOS) column reads as microsecond timestamps") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft-nanos").toFile
    val file = new File(dir, "ev.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message ev { required int64 id; optional int64 ts (TIMESTAMP(NANOS,true)); }")
    // id -> nanoseconds since the epoch; pre-1970 instants round down
    val nanos = Seq(1L -> Some(1700000000123456789L), 2L -> Some(-1500L),
      3L -> None, 4L -> Some(999L))
    try {
      val w = ExampleParquetWriter.builder(new Path(file.toURI))
        .withType(schema).build()
      try {
        val g = new SimpleGroupFactory(schema)
        nanos.foreach { case (id, ts) =>
          val row = g.newGroup().append("id", id)
          ts.foreach(row.append("ts", _))
          w.write(row)
        }
      } finally w.close()
      val df = ParquetEnv.read(spark, file.getPath)
      assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
      val got = df.select(col("id"), unix_micros(col("ts"))).collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
        .toMap
      assert(got == nanos.map { case (id, ts) =>
        id -> ts.map(Math.floorDiv(_, 1000L)) }.toMap, s"got $got")
    } finally {
      Option(dir.listFiles()).toSeq.flatten.foreach(_.delete()); dir.delete()
    }
  }

  test("a second build of op_filter and q3_revenue starts no Spark job") {
    Seq("op_filter", "q3_revenue").foreach { name =>
      build(name)
      val (_, jobs) = jobsDuring(build(name))
      assert(jobs == 0, s"$name started $jobs jobs during a warm build")
    }
  }

  test("a warm build of every core_batch topology plans like a cold build") {
    coreRows.foreach { name =>
      ParquetEnv.clearCache()
      val cold = build(name).queryExecution.executedPlan.canonicalized
      graft.ext.OpCaches.releaseAll()
      val warm = build(name).queryExecution.executedPlan.canonicalized
      graft.ext.OpCaches.releaseAll()
      assert(cold == warm, s"$name: warm plan differs from the cold plan")
    }
  }

  test("global-table guard: footer bound first, exact compacted count above it") {
    val env = new ParquetEnv(spark, sfDir)
    def guarded(topic: String, keys: Seq[String], unique: Boolean) =
      jobsDuring(Compiler.compile(
        globalTable(topic, Consumed(keys = keys), unique = unique), env).df)
    try {
      // unique and over the limit: the bound exceeds it, the exact count
      // confirms, and the message is unchanged
      spark.conf.set("graft.globalTable.maxRows", "10")
      val e = intercept[IllegalArgumentException] {
        guarded("customer", Seq("c_custkey"), unique = true)
      }
      assert(e.getMessage.contains("more than 10 compacted rows"))
      assert(e.getMessage.contains("broadcast guard"))
      // within the footer bound: no count job at all
      spark.conf.set("graft.globalTable.maxRows", "100")
      env.load("region")
      val (region, regionJobs) = guarded("region", Seq("r_regionkey"), unique = true)
      assert(regionJobs == 0)
      assert(region.count() == 5)
      // non-unique: the raw rows exceed the limit but the compacted table
      // does not, so the guard falls back to the exact count and passes
      val types = env.load("events").select("event_type").distinct().count()
      assert(env.rowsUpperBound("events").exists(_ > types))
      spark.conf.set("graft.globalTable.maxRows", types.toString)
      val (byType, jobs) = guarded("events", Seq("event_type"), unique = false)
      assert(jobs > 0, "the exact count must run when the bound is over the limit")
      assert(byType.count() == types)
    } finally spark.conf.unset("graft.globalTable.maxRows")
  }

  test("recordLinkage emits no self-pair when records repeat an id") {
    val recs = Seq(
      (1L, "b1", "john smith"), (1L, "b1", "john smith"),
      (2L, "b1", "john smyth"), (3L, "b2", "ann lee"), (3L, "b2", "ann lee"))
      .toDF("rid", "blk", "name")
    val pairs = graft.ext.Dedup.recordLinkage(recs, "rid",
      blockCols = Seq("blk"), fuzzyFields = Seq("name" -> 1.0),
      exactFields = Seq.empty, threshold = 0.0).collect()
    // one scored row per pair: neither a self-pair nor a copy per repeat
    assert(pairs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((1L, 2L, 0.333333)), pairs.mkString(", "))
  }
}
