package graft.stream

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Flow control: the reference's processing-time features
  * (`throttle`, `observe`, streamable/stream.py:413-477) re-grounded
  * for a distributed engine.
  *
  * A batch Spark job has no per-element yield cadence, so `throttle`
  * survives in two places: (a) a token-bucket used inside
  * `foreachPartition` when writing to rate-limited sinks/APIs, and
  * (b) streaming source rate configs + processing-time triggers (see
  * [[graft.streaming.Streams]]). The bucket math is deterministic and
  * unit-tested; wall-clock behavior is not asserted (SURVEY §7.3).
  */
object Flow {

  /** One token bucket per period bound (per-second / per-minute /
    * per-hour, reference `throttle(per_second, per_minute, per_hour)`
    * — one composed iterator per bound, streamable/functions.py:
    * 194-203) plus a minimum `intervalMs` between yields; the most
    * restrictive constraint wins (tests/test_stream.py:1248-1266).
    * `nowMs` is injectable for deterministic tests.
    */
  final class RateLimiter(perSecond: Double = 0, intervalMs: Long = 0,
      perMinute: Double = 0, perHour: Double = 0,
      nowMs: () => Long = () => System.currentTimeMillis()) {
    require(perSecond > 0 || perMinute > 0 || perHour > 0 || intervalMs > 0)

    private final class Bucket(count: Double, periodMs: Long) {
      private val rate = count / periodMs // permits per ms
      private var tokens = 1.0
      private var lastRefill = -1L
      /** ms to wait from `now` until a permit is available; consumes it. */
      def delayFrom(now: Long): Long = {
        if (lastRefill < 0) lastRefill = now
        tokens = math.min(1.0 + count, tokens + (now - lastRefill) * rate)
        lastRefill = now
        val d = if (tokens < 1.0) math.ceil((1.0 - tokens) / rate).toLong else 0L
        tokens = tokens + d * rate - 1.0
        lastRefill = now + d
        d
      }
    }

    private val buckets: Seq[Bucket] =
      Seq(perSecond -> 1000L, perMinute -> 60000L, perHour -> 3600000L)
        .collect { case (c, p) if c > 0 => new Bucket(c, p) }
    private var lastYield: Long = -1L

    /** Milliseconds the caller must wait before the next element may
      * pass; 0 if it may pass now. Calling this advances state as if
      * the caller waited exactly that long and then yielded. */
    def nextDelayMs(): Long = {
      val now = nowMs()
      var delay = 0L
      buckets.foreach { b => delay = math.max(delay, b.delayFrom(now)) }
      if (intervalMs > 0 && lastYield >= 0) {
        val gap = now + delay - lastYield
        if (gap < intervalMs) delay += intervalMs - gap
      }
      lastYield = now + delay
      delay
    }

    /** Blocking acquire (used in foreachPartition sinks). */
    def acquire(): Unit = {
      val d = nextDelayMs()
      if (d > 0) Thread.sleep(d)
    }
  }

  /** Per-partition rate share for [[throttledForeach]]: the global
    * rate divided by the number of partitions that can actually run
    * CONCURRENTLY — `min(parts, maxConcurrent)` — not by the raw
    * partition count. With 1000 partitions on 32 cores, dividing by
    * 1000 realizes ~32/1000 of the requested global rate (only 32
    * buckets are ever draining at once); dividing by the concurrent
    * slots keeps the realized rate ≈ global. Still an approximation:
    * uneven waves (a tail of fewer running partitions) transiently
    * undershoot, and task overlap at wave boundaries can transiently
    * overshoot by one wave's worth — the exact global rate would need
    * cross-executor coordination, which does not scale. */
  private[graft] def partitionShare(globalPerSecond: Double, parts: Int,
      maxConcurrent: Int): Double =
    globalPerSecond / math.max(1, math.min(parts, maxConcurrent))

  /** Rate-limited distributed side-effect: each partition gets its own
    * bucket with a [[partitionShare]] of the global rate — total
    * cluster-wide rate ≈ `globalPerSecond` without any coordination
    * (coordination-free = scales to 1000 executors; see
    * [[partitionShare]] for the accuracy envelope).
    *
    * `maxConcurrent` is the task-concurrency estimate the share
    * divides by; the default 0 means "snapshot
    * `sparkContext.defaultParallelism` now". CAUTION: that snapshot
    * can be STALE under dynamic allocation (executors still
    * registering report a tiny parallelism, and the job then scales
    * out — the cap would be divided by 2 but run 64-wide, OVERSHOOTING
    * the global rate ~32×). A rate cap protecting a fragile external
    * service must never overshoot: on elastic clusters pass
    * `maxConcurrent` = the dataset's partition count (the pre-r5 behavior —
    * undershoots when partitions exceed cores, but is a guaranteed
    * upper bound on concurrency). */
  def throttledForeach[T](ds: Dataset[T], globalPerSecond: Double,
      maxConcurrent: Int = 0, globalPerMinute: Double = 0,
      globalPerHour: Double = 0, globalIntervalMs: Long = 0)(
      effect: T => Unit): Unit = {
    require(globalPerSecond > 0 || globalPerMinute > 0 || globalPerHour > 0 ||
      globalIntervalMs > 0, "at least one rate bound required")
    val slots =
      if (maxConcurrent > 0) maxConcurrent else ds.sparkSession.sparkContext.defaultParallelism
    ds.foreachPartition { (it: Iterator[T]) =>
      // read from the running task, so `ds` needs no RDD view to
      // learn its partition count
      val parts = math.max(1, org.apache.spark.TaskContext.get().numPartitions())
      // every bound shares the same way: rates divide by the concurrent
      // slot count, a min-interval (an inverse rate) multiplies by it —
      // most-restrictive-wins then happens inside each partition's
      // RateLimiter, matching the reference's composed per-bound
      // iterators (streamable/functions.py:194-203)
      def share(global: Double) =
        if (global > 0) partitionShare(global, parts, slots) else 0.0
      val conc = math.max(1, math.min(parts, slots))
      val rl = new RateLimiter(share(globalPerSecond), globalIntervalMs * conc,
        share(globalPerMinute), share(globalPerHour))
      it.foreach { t => rl.acquire(); effect(t) }
    }
  }

  /** `observe(what)` analog (reference stream.py:413-430): named
    * metrics attached to the plan, surfaced post-action via
    * `df.collectResult`/QueryExecutionListener — no extra pass over
    * the data, unlike the reference's wrapping iterator. */
  def observed[T](ds: Dataset[T], name: String): Dataset[T] =
    ds.observe(name, count(lit(1)).as("count"))

  /** Error-aware `observe` over the [[Errors]] Attempt channel: the
    * reference's observe logs yields AND errors in one wrapper
    * (iterators.py:351-394); here one `observe` carries both counts —
    * a failed element encodes as a null `value` (see
    * [[graft.stream.Attempt]]'s non-null-success contract), so the
    * ok/error split is a column predicate, no extra pass and no
    * second action. */
  def observedAttempts[U](ds: Dataset[graft.stream.Attempt[U]],
      name: String): Dataset[graft.stream.Attempt[U]] =
    ds.observe(name,
      count(when(col("value").isNotNull, 1)).as("ok"),
      count(when(col("value").isNull, 1)).as("errors"))

  /** Exponential log cadence check (reference iterators.py:376-393:
    * log at 1, 2, 4, 8... yields to avoid flooding). Pure function for
    * driver-side progress loops. */
  def shouldLog(n: Long): Boolean = n > 0 && (n & (n - 1)) == 0
}
