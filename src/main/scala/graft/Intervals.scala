package graft

/** Event time and intervals for the keyed-state kernels — the one home of
  * the interval parser (`:withRetention`, session gaps, near-dup bucket
  * retention), the tolerant event-time cell reader and its inverse.
  *
  * Intervals are the `"N unit"` subset of Spark's interval syntax that
  * `withWatermark` accepts. Event-time cells are read on the row VALUE,
  * never the plan, so watermark metadata on the column survives: a kernel
  * carries the raw watermarked attribute into its input and converts here.
  */
private[graft] object Intervals {
  def toMillis(interval: String): Long = {
    val parts = interval.trim.split("\\s+")
    require(parts.length == 2,
      s"interval must be 'N unit' (e.g. '10 minutes'): '$interval'")
    val base = parts(1).toLowerCase.stripSuffix("s") match {
      case "millisecond" => 1L
      case "second" => 1000L
      case "minute" => 60000L
      case "hour" => 3600000L
      case "day" => 86400000L
      case u => throw new IllegalArgumentException(s"unsupported interval unit $u")
    }
    parts(0).toLong * base
  }

  /** What [[micros]] and [[millis]] return for a null cell: "no event
    * time". It is below every real instant, so a running max ignores it
    * and it never moves an eviction clock.
    */
  val NoEventTime: Long = Long.MinValue

  /** Event-time cell → epoch microseconds, tolerant of the TIMESTAMP
    * (`Timestamp`, `Instant`) and TIMESTAMP_NTZ (`LocalDateTime`) external
    * types — parquet `isAdjustedToUTC=false` columns read as NTZ, and the
    * session timezone is UTC, so the NTZ wall clock IS the instant (the
    * DuckDB oracle's naive-timestamp convention). Null → [[NoEventTime]];
    * any other type throws.
    */
  def micros(v: Any): Long = v match {
    case null => NoEventTime
    case t: java.sql.Timestamp =>
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    case d: java.time.LocalDateTime =>
      d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + d.getNano / 1000L
    case i: java.time.Instant =>
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    case other => throw new IllegalArgumentException(
      s"event time must be a timestamp value, got ${other.getClass.getName}")
  }

  /** Event-time cell → epoch millis, floored (as `Timestamp.getTime` and
    * the watermark round a pre-1970 sub-millisecond instant).
    */
  def millis(v: Any): Long = {
    val us = micros(v)
    if (us == NoEventTime) NoEventTime else Math.floorDiv(us, 1000L)
  }

  def fromMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}
