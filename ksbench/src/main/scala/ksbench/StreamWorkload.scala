package ksbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.ast._
import graft.ast.dsl._
import graft.compile.StreamEnv
import graft.iq.{HttpStateServer, InteractiveQueries}
import graft.streaming.Runner
import java.io.File
import java.net.{HttpURLConnection, URI}
import java.sql.Timestamp
import java.util.concurrent.locks.LockSupport
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `stream_serve`: the reference's anomaly-detection topology (clicks →
  * groupByKey → 60 s tumbling count) started through `Runner.start` on a
  * `MemoryStream`, its memory-sink store served by `HttpStateServer`.
  *
  *  - Rate phase: an open-loop feeder thread adds the events due every
  *    100 ms at a fixed rate, with Zipf-skewed users and event time set
  *    from the due time; an open-loop lookup thread sends HTTP point lookups at a
  *    fixed rate for users already fed. Its first `RampS` seconds end the
  *    warm-up; the next `seconds` are measured.
  *  - Quiet lookups: with everything fed processed and the query idle,
  *    [[QuietLookups]] HTTP lookups one
  *    after another; the application CPU time of the phase and of each
  *    lookup is recorded. A traced run
  *    adds as many again, alternating: the traced ones run with the job
  *    listener attached and follow each HTTP lookup with a direct
  *    `InteractiveQueries.lookup`.
  *  - Drain: a fixed backlog is fed in [[DrainChunks]] equal chunks, each
  *    added at once and processed to completion; the application CPU time
  *    of each chunk is recorded, with a host-speed reading before the first
  *    chunk and after each.
  *
  * Every event is kept in a ledger. Each lookup during ingest must return,
  * per window, a count between the ledger as of the last commit seen before
  * the request and the ledger of everything fed before the response; each
  * quiet lookup, and after them the whole store, must equal the ledger.
  */
final class StreamWorkload(spark: SparkSession, o: Main.Opts, out: Record) {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val Store = "user_counts"
  private val WindowMs = 60000L
  private val Users = 10000
  private val ZipfExponent = 1.1
  // Each chunk costs two or three trigger ticks of wall time (its batch,
  // the first chunk's no-data batch that moves the watermark, the tick that
  // finds nothing).
  private val DrainChunks = 4
  // The first seconds at the fixed rate still run longer batches (JIT);
  // they are fed and served like the rest but not measured.
  private val RampS = 3
  // Event time runs on a fixed epoch (a minute boundary), not the wall
  // clock, so every run lays its events into the same windows: the rate
  // phase crosses one window boundary WindowSplitS seconds into its
  // measured part. An event's due time on the wall clock still dates it.
  private val WindowSplitS = 6
  private val EventEpochMs = 28333333L * WindowMs
  private val RateStartEventMs = EventEpochMs - (RampS + WindowSplitS) * 1000L
  // In a traced run, enough for a median with ten samples above it.
  private val QuietLookups = 20
  // The feeder adds what is due every 100 ms, as a producer with a linger
  // would: each MemoryStream block becomes one input partition, so adding
  // every few milliseconds would turn a micro-batch into hundreds of tasks.
  private val FeedTickNs = 100000000L

  private val ms = MemoryStream[(Long, Timestamp)]

  // --- ledger (guarded by `lock`) ---
  private val lock = new Object
  private val userEvents = new java.util.HashMap[Long, ArrayBuffer[(Long, Long)]]()
  private val fedUsers = ArrayBuffer.empty[Long]
  private val ledger = new java.util.HashMap[(Long, Long), Long]()
  @volatile private var lastCall = -1L
  @volatile private var committed = -1L

  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Users)(i => 1.0 / math.pow(i + 1, ZipfExponent))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def zipfUser(rng: java.util.Random): Long = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    (if (i >= 0) i else math.min(-i - 1, Users - 1)).toLong
  }

  /** Adds one block of events, all in the ledger before they are visible. */
  private def feed(phase: String, users: Array[Long], tsMs: Array[Long],
                   firstDueMs: Double, lastDueMs: Double): Unit = {
    val rows = users.indices.map(i => (users(i), new Timestamp(tsMs(i))))
    val addStart = Main.nowMs()
    lock.synchronized {
      val idx = ms.addData(rows).json().toLong
      users.indices.foreach { i =>
        val w = tsMs(i) - Math.floorMod(tsMs(i), WindowMs)
        userEvents.computeIfAbsent(users(i), _ => ArrayBuffer.empty) += ((idx, w))
        ledger.merge((users(i), w), 1L, (a: Long, b: Long) => a + b)
      }
      fedUsers ++= users
      lastCall = idx
      out.add("calls", Map("index" -> idx, "phase" -> phase, "n" -> users.length,
        "first_due_ms" -> firstDueMs, "last_due_ms" -> lastDueMs,
        "add_start_ms" -> addStart, "add_end_ms" -> Main.nowMs()))
    }
  }

  /** Ledger count of (user, window) over the events of calls up to `upTo`. */
  private def ledgerCount(user: Long, window: Long, upTo: Long): Long =
    lock.synchronized {
      Option(userEvents.get(user)).map(_.count { case (i, w) => w == window && i <= upTo })
        .getOrElse(0).toLong
    }

  private object Progress extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.name != Store) return
      val src = p.sources.headOption
      def off(s: String): Long = Option(s).filter(_ != "null").map(_.trim.toLong).getOrElse(-1L)
      val end = src.map(s => off(s.endOffset)).getOrElse(-1L)
      if (end > committed) committed = end
      val st = p.stateOperators.headOption
      out.add("progress", Map(
        "batch" -> p.batchId, "rows" -> p.numInputRows,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        "seen_ms" -> Main.nowMs(),
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.toLong }.toMap,
        "start_offset" -> src.map(s => off(s.startOffset)).getOrElse(-1L),
        "end_offset" -> end,
        "sink_rows" -> Option(p.sink).map(_.numOutputRows).getOrElse(-1L),
        "state_rows_total" -> st.map(_.numRowsTotal).getOrElse(0L),
        "state_rows_updated" -> st.map(_.numRowsUpdated).getOrElse(0L),
        "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L),
        "state_memory_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
        "state_dropped" -> st.map(_.numRowsDroppedByWatermark).getOrElse(0L)))
    }
  }

  private def get(port: Int, user: Long): String = {
    val c = URI.create(s"http://127.0.0.1:$port/store/$Store/user_id/$user").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    try {
      require(c.getResponseCode == 200, s"HTTP ${c.getResponseCode} for user $user")
      new String(c.getInputStream.readAllBytes(), "UTF-8")
    } finally c.disconnect()
  }

  /** Latest count per window start (epoch ms) in a lookup's JSON rows. */
  private def countsByWindow(json: String): Map[Long, Long] = {
    val mapper = new ObjectMapper()
    mapper.readTree(json).elements().asScala.toSeq.map { r =>
      java.time.OffsetDateTime.parse(r.get("window_start").asText()).toInstant.toEpochMilli ->
        r.get("clicks").asLong()
    }.groupBy(_._1).map { case (w, vs) => w -> vs.map(_._2).max }
  }

  def run(): Unit = {
    spark.streams.addListener(Progress)
    val env = new StreamEnv(spark, Map("clicks" -> ms.toDF().toDF("user_id", "ts")))
    val topology = stream(Seq("clicks"), Consumed(keys = Seq("user_id"), eventTime = Some("ts")))
      .groupByKey
      .windowedBy(WindowSpec.Tumbling("1 minute"))
      .count(as = "clicks")
    val cfg = Runner.StreamsCfg(queryName = Store,
      checkpointLocation = Some(new File(o.workDir, s"ckpt-${System.nanoTime()}").getPath))
    out.put("trigger_ms", cfg.triggerMs)
    val q = Runner.start(topology, env, SinkSpec.Memory(Store), cfg)
    val (server, port) = HttpStateServer.start(spark)
    try {
      val rng = new java.util.Random(o.seed)
      // fixed warm-up: two blocks the size of a drain chunk through the
      // query (the drain's batch shape is then compiled before it is
      // timed; smaller blocks left its CPU time 14% apart between runs),
      // then a few lookups
      val warmBlock = o.drainRows / DrainChunks
      (0 until 2).foreach { k =>
        val now = Main.nowMs()
        feed("warmup", Array.fill(warmBlock)(zipfUser(rng)),
          Array.fill(warmBlock)(RateStartEventMs - 2000L + k * 1000L), now, now)
        q.processAllAvailable()
      }
      (0 until 5).foreach(_ => get(port, lock.synchronized(fedUsers(rng.nextInt(fedUsers.size)))))
      if (!o.trace) (0 until 8).foreach(_ => ReferenceJob.cpuMs(spark))
      val start = ratePhase(port, rng)
      q.processAllAvailable()
      quietLookups(port, rng)
      drain(q, rng)
      val end = ProcStats.snap()
      out.put("timed_end_ms", end.wallMs)
      out.put("timed_window", start.delta(end))
      finalCheck()
    } finally {
      server.stop(0)
      q.stop()
      spark.streams.removeListener(Progress)
    }
  }

  /** Runs the ramp and the measured rate phase; returns the counters at
    * the start of the measured part.
    */
  private def ratePhase(port: Int, rng: java.util.Random): ProcStats.Snap = {
    val baseMs = Main.nowMs()
    val baseNs = System.nanoTime()
    val timedNs = baseNs + RampS * 1000000000L
    val endNs = timedNs + (o.seconds * 1e9).toLong
    val eventPeriodNs = 1e9 / o.eventRate
    val feedRng = new java.util.Random(rng.nextLong())
    val feeder = new Thread(() => {
      var emitted = 0L
      var now = System.nanoTime()
      while (now < endNs) {
        val due = ((now - baseNs) / eventPeriodNs).toLong
        if (due > emitted) {
          val n = (due - emitted).toInt
          val dueMs = Array.tabulate(n)(k => baseMs + (emitted + k) * eventPeriodNs / 1e6)
          val phase = if (dueMs.head < baseMs + RampS * 1000.0) "ramp" else "rate"
          val tsMs = Array.tabulate(n)(k =>
            RateStartEventMs + ((emitted + k) * eventPeriodNs / 1e6).toLong)
          feed(phase, Array.fill(n)(zipfUser(feedRng)), tsMs, dueMs.head, dueMs.last)
          emitted = due
        }
        LockSupport.parkNanos(FeedTickNs)
        now = System.nanoTime()
      }
    }, "ksbench-feeder")
    val lookupRng = new java.util.Random(rng.nextLong())
    val lookupPeriodNs = 1e9 / o.lookupRate
    val reader = new Thread(() => {
      var j = 0L
      var dueNs = baseNs
      while (dueNs < endNs) {
        val wait = dueNs - System.nanoTime()
        if (wait > 0) LockSupport.parkNanos(wait)
        lookup(port, lookupRng, baseMs + (dueNs - baseNs) / 1e6, warmup = dueNs < timedNs)
        j += 1
        dueNs = baseNs + (j * lookupPeriodNs).toLong
      }
    }, "ksbench-lookups")
    feeder.start(); reader.start()
    LockSupport.parkNanos(timedNs - System.nanoTime())
    val start = ProcStats.snap()
    out.put("first_timed_ms", baseMs + RampS * 1000.0)
    out.put("first_timed_cpu_s", start.cpuS)
    feeder.join(); reader.join()
    start
  }

  private def lookup(port: Int, rng: java.util.Random, dueMs: Double,
                     warmup: Boolean): Unit = {
    val user = lock.synchronized {
      if (fedUsers.isEmpty) None else Some(fedUsers(rng.nextInt(fedUsers.size)))
    }
    user.foreach { u =>
      val lower = committed
      val start = Main.nowMs()
      val (ok, rows, err) =
        try {
          val counts = countsByWindow(get(port, u))
          val upper = lastCall
          val windows = lock.synchronized {
            userEvents.get(u).iterator.collect { case (i, w) if i <= lower => w }.toSet
          } ++ counts.keySet
          val bad = windows.toSeq.filter { w =>
            val got = counts.getOrElse(w, 0L)
            got < ledgerCount(u, w, lower) || got > ledgerCount(u, w, upper)
          }
          (bad.isEmpty, counts.size, if (bad.isEmpty) "" else s"user $u windows $bad out of ledger bounds")
        } catch { case e: Exception => (false, 0, String.valueOf(e.getMessage)) }
      out.add("lookups", Map("due_ms" -> dueMs, "start_ms" -> start, "end_ms" -> Main.nowMs(),
        "ok" -> ok, "error" -> err, "windows" -> rows, "committed" -> lower,
        "warmup" -> warmup))
    }
  }

  /** One host-speed reading, outside every timed window (untraced runs). */
  private def reference(): Option[Double] =
    if (o.trace) None
    else {
      val ms = ReferenceJob.cpuMs(spark)
      out.add("ref_cpu_ms", ms)
      Some(ms)
    }

  /** Closed-loop lookups on the idle query, after everything fed so far
    * is processed: each count must equal the ledger.
    */
  private def quietLookups(port: Int, rng: java.util.Random): Unit = {
    val jobs = new JobRecorder
    val sc = spark.sparkContext
    val n = if (o.trace) 2 * QuietLookups else QuietLookups
    (0 until n).foreach { i =>
      reference()
      val traced = o.trace && i % 2 == 0
      if (traced) sc.addSparkListener(jobs)
      val u = lock.synchronized(fedUsers(rng.nextInt(fedUsers.size)))
      val c0 = ProcStats.threadCpuNs()
      val start = Main.nowMs()
      val (ok, rows, err) =
        try {
          val counts = countsByWindow(get(port, u))
          val want = lock.synchronized {
            userEvents.get(u).groupBy(_._2).map { case (w, es) => w -> es.size.toLong }
          }
          (counts == want, counts.size, if (counts == want) "" else s"user $u: $counts != ledger $want")
        } catch { case e: Exception => (false, 0, String.valueOf(e.getMessage)) }
      val end = Main.nowMs()
      val cpuMs = ProcStats.appCpuMs(c0, ProcStats.threadCpuNs())
      val (d0, d1) =
        if (!traced) (Double.NaN, Double.NaN)
        else {
          sc.setLocalProperty(JobRecorder.TagKey, "iq.direct")
          val d0 = Main.nowMs()
          InteractiveQueries.lookup(spark, Store, "user_id", u)
          val d1 = Main.nowMs()
          sc.setLocalProperty(JobRecorder.TagKey, null)
          org.apache.spark.KsbenchBus.drain(sc)
          sc.removeSparkListener(jobs)
          (d0, d1)
        }
      out.add("quiet_lookups", Map("start_ms" -> start, "end_ms" -> end, "cpu_ms" -> cpuMs,
        "ok" -> ok, "error" -> err, "windows" -> rows, "traced" -> traced,
        "direct_start_ms" -> d0, "direct_end_ms" -> d1))
    }
    if (o.trace) out.put("jobs", jobs.snapshot())
  }

  private def drain(q: org.apache.spark.sql.streaming.StreamingQuery,
                    rng: java.util.Random): Unit = {
    q.processAllAvailable()
    val per = o.drainRows / DrainChunks
    val chunks = (0 until DrainChunks).map(_ => Array.fill(per)(zipfUser(rng)))
    // after every event of the rate phase
    val tsMs = RateStartEventMs + ((RampS + o.seconds) * 1000).toLong + 1000L
    // The drain runs in one stretch of a few seconds, so it is read against
    // the host's speed in that stretch: a reading before it and after each
    // chunk, none inside a chunk's timing.
    val refs = ArrayBuffer.empty[Double] ++= reference()
    val t0 = Main.nowMs()
    var cpuMs = 0.0
    var wallMs = 0.0
    chunks.foreach { users =>
      val a0 = ProcStats.threadCpuNs()
      val w0 = Main.nowMs()
      feed("drain", users, Array.fill(users.length)(tsMs), w0, w0)
      q.processAllAvailable()
      wallMs += Main.nowMs() - w0
      cpuMs += ProcStats.appCpuMs(a0, ProcStats.threadCpuNs())
      refs ++= reference()
    }
    out.put("drain", Map("rows" -> per * DrainChunks, "start_ms" -> t0,
      "end_ms" -> Main.nowMs(), "wall_ms" -> wallMs, "app_cpu_ms" -> cpuMs,
      "ref_cpu_ms" -> refs.toSeq))
  }

  private def finalCheck(): Unit = {
    val got = spark.table(Store).groupBy("user_id", "window_start")
      .agg(max(col("clicks")).as("c"))
      .select(col("user_id"), col("window_start").cast("long"), col("c"))
      .as[(Long, Long, Long)].collect()
      .map { case (u, wS, c) => (u, wS * 1000L) -> c }.toMap
    val want = lock.synchronized(ledger.asScala.toMap)
    val wrong = (want.keySet ++ got.keySet).count(k => want.get(k) != got.get(k))
    out.put("final_check", Map("entries" -> want.size, "wrong" -> wrong,
      "store_rows" -> spark.table(Store).count()))
  }
}
