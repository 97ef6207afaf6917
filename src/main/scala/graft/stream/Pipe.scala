package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.functions.{col, struct}

/** Typed fluent pipeline mirroring the reference `Stream[T]` algebra
  * (reference: streamable/stream.py:51-511) as a thin wrapper over
  * `Dataset[T]`. Every operation is lazy and returns a new immutable
  * `Pipe` — exactly the reference's composite/linked-list contract
  * (streamable/stream.py:496-511) — but the "iterator onion" is
  * replaced by Catalyst logical plans + whole-stage codegen, and all
  * operator state (dedup sets, group buffers) lives in the shuffle,
  * not on the driver, which is what makes this hold at 100 TB.
  *
  * Order-dependent operators (skip/truncate/consecutive-distinct,
  * reference stream.py:432-493) need an explicit ordering and live in
  * [[graft.stream.Ordered]] at the DataFrame layer; the typed layer
  * here exposes only the order-free core.
  */
final case class Pipe[T](ds: Dataset[T], chain: List[String] = Nil) {

  private def derive[U](d: Dataset[U], op: String): Pipe[U] = Pipe(d, chain :+ op)

  /** 1→1 transform; reference `map` (streamable/stream.py:372-392). */
  def map[U: Encoder](f: T => U): Pipe[U] = derive(ds.map(f), "map(<function>)")

  /** `map(concurrency=n, via="thread")` analog
    * (streamable/stream.py:372-392, iterators.py:489-618): per-element
    * thread concurrency *inside* each partition with a bounded
    * in-flight window of exactly `concurrency`, FIFO when `ordered`,
    * first-done-first-out otherwise. Partition parallelism supplies
    * the `via="process"` axis. */
  def mapConcurrent[U: Encoder](f: T => U, concurrency: Int,
      ordered: Boolean = true): Pipe[U] = {
    require(concurrency >= 1, "concurrency must be >= 1")
    if (concurrency == 1) map(f)
    else derive(ds.mapPartitions(it =>
      new ConcurrentMapIterator(it, f, concurrency, ordered)),
      s"map(<function>, concurrency=$concurrency, ordered=$ordered)")
  }

  /** `amap` analog (streamable/stream.py:394-411, iterators.py:621-685):
    * `f` launches async work and returns a `Future`; at most
    * `concurrency` are in flight per partition. */
  def mapAsync[U: Encoder](f: T => scala.concurrent.Future[U],
      concurrency: Int, ordered: Boolean = true): Pipe[U] = {
    require(concurrency >= 1, "concurrency must be >= 1")
    derive(ds.mapPartitions(it =>
      new AsyncMapIterator(it, f, concurrency, ordered)),
      s"amap(<function>, concurrency=$concurrency, ordered=$ordered)")
  }

  /** Side effect per element, element passes through unchanged;
    * reference `foreach` = `map(sidify(effect))`
    * (streamable/stream.py:278-299, util/functiontools.py:32-42). */
  def tap(effect: T => Unit)(implicit e: Encoder[T]): Pipe[T] =
    derive(ds.map { t => effect(t); t }, "foreach(<function>)")

  /** Async side effect, element passes through; reference `aforeach`
    * = `amap(async_sidify(effect))` (streamable/stream.py:301-319,
    * util/functiontools.py:45-57). */
  def tapAsync(effect: T => scala.concurrent.Future[Unit], concurrency: Int,
      ordered: Boolean = true)(implicit e: Encoder[T]): Pipe[T] = {
    // resolve the ExecutionContext inside the task closure — capturing
    // it at call time would drag a non-serializable pool into the task
    val inner = mapAsync(
      t => effect(t).map(_ => t)(scala.concurrent.ExecutionContext.global),
      concurrency, ordered)
    // re-label: the user wrote aforeach, not the amap it desugars to
    Pipe(inner.ds,
      chain :+ s"aforeach(<function>, concurrency=$concurrency, ordered=$ordered)")
  }

  /** Pairwise zip by position in `ord`-free index order — the
    * reference defers to builtin `zip` (README.md:481-497); Spark has
    * no positional identity, so each side gets a [[PartitionPreview]]
    * row index in partition order (`zipWithIndex` semantics: one count
    * pass over all partitions but the last, none for a single
    * partition) and the two sides equi-join on it; the inner join
    * stops at the shorter side like builtin zip. For ordered zips,
    * index both sides with [[Ordered.withRowIndex]] first and join on
    * that. */
  def zipByIndex[U](other: Pipe[U])(implicit e: Encoder[(T, U)]): Pipe[(T, U)] = {
    val idx = "_zip_idx"
    // one column per side, shaped the way the tuple encoder reads it:
    // the single value column of a flat type, a struct otherwise
    def side(d: Dataset[_], name: String): DataFrame = {
      val cols = d.columns.map(c => col(s"`${c.replace("`", "``")}`"))
      val value =
        if (encoderFor(d.encoder).isSerializedAsStructForTopLevel) struct(cols: _*)
        else cols.head
      PartitionPreview.rowIndex(d.toDF(), Nil, idx).select(value.as(name), col(idx))
    }
    derive(side(ds, "_1").join(side(other.ds, "_2"), idx).select("_1", "_2").as[(T, U)],
      "zip(<pipe>)")
  }

  /** Keep elements satisfying `p`; reference `filter`
    * (streamable/stream.py:189-199). */
  def filter(p: T => Boolean): Pipe[T] =
    derive(ds.filter(p), "filter(<function>)")

  /** Map with the error channel open — the fluent entry to the
    * reference's `catch` chain (streamable/stream.py:112-131):
    * `pipe.mapAttempt(f).catchDrop()` ≈ `stream.map(f).catch()`. */
  def mapAttempt[U](f: T => U)(implicit e: Encoder[Attempt[U]]): Pipe[Attempt[U]] =
    derive(Errors.mapSafe(ds)(f), "map(<function>) # attempt channel open")

  /** Un-nest one level; reference `flatten`
    * (streamable/stream.py:201-276). The reference's concurrent
    * round-robin interleaving order is explicitly non-contractual
    * (tests/test_stream.py:613-617) — partition parallelism covers it. */
  def flatten[U: Encoder](implicit ev: T => IterableOnce[U]): Pipe[U] =
    derive(ds.flatMap(t => ev(t)), "flatten()")

  /** Generator-shaped 1→N (the reference idiom `map(g).flatten()`). */
  def flatMap[U: Encoder](f: T => IterableOnce[U]): Pipe[U] =
    derive(ds.flatMap(f), "map(<function>).flatten()")

  /** Ordered concat; reference `a + b` = `Stream((a,b)).flatten()`
    * (streamable/stream.py:85-89). */
  def ++(other: Pipe[T]): Pipe[T] = derive(ds.union(other.ds), "concat(<pipe>)")
  def concat(other: Pipe[T]): Pipe[T] = this ++ other

  /** Global dedup; reference `distinct()` (streamable/stream.py:166-187).
    * The reference holds the seen-set in driver memory (its documented
    * scalability ceiling, stream.py:176-178); here it is a shuffle.
    * Which occurrence survives is arbitrary without an order — for the
    * reference's first-wins contract use [[Ordered.firstWins]]. */
  def distinct: Pipe[T] = derive(ds.distinct(), "distinct()")

  /** Keyed dedup; reference `distinct(key=...)`. Keeps one arbitrary
    * element per key (first-wins needs an ordering column —
    * [[Ordered.firstWins]]). */
  def distinctBy[K: Encoder](key: T => K)(implicit e: Encoder[T]): Pipe[T] =
    derive(ds.groupByKey(key).reduceGroups((a, _) => a).map(_._2),
      "distinct(<function>)")

  /** Batch into fixed-size chunks; reference `group(size=n)`
    * (streamable/stream.py:321-346, iterators.py:183-210). Chunks are
    * per-partition (no global order without an ordering column — see
    * [[Ordered.groupBySize]] for the globally-ordered variant). */
  def grouped(size: Int)(implicit e: Encoder[Seq[T]]): Pipe[Seq[T]] = {
    require(size >= 1, "size must be >= 1")
    derive(ds.mapPartitions(_.grouped(size).map(_.toSeq)), s"group(size=$size)")
  }

  /** Co-group by key; reference `groupby(key)`
    * (streamable/stream.py:348-370): full-exhaustion mode yielding
    * `(key, all elements of that key)`. Shuffle-based, spill-aware —
    * the 100 TB replacement for the reference's in-driver buckets. */
  def groupByKey[K: Encoder](key: T => K)(
      implicit e: Encoder[(K, Seq[T])]): Pipe[(K, Seq[T])] =
    derive(ds.groupByKey(key).mapGroups((k, it) => (k, it.toSeq)),
      "groupby(<function>)")

  /** `group(by=key)` = groupby then drop keys
    * (streamable/functions.py:98-109). */
  def groupedBy[K: Encoder](key: T => K)(
      implicit e1: Encoder[(K, Seq[T])], e2: Encoder[Seq[T]]): Pipe[Seq[T]] =
    // re-label the desugared groupby+map as the single op the user wrote
    Pipe(groupByKey(key).map(_._2).ds, chain :+ "group(by=<function>)")

  /** First n elements (arbitrary order without an ordering column;
    * ordered variant in [[Ordered]]); reference `truncate(count=n)`
    * (streamable/stream.py:479-493). */
  def truncate(n: Int): Pipe[T] = derive(ds.limit(n), s"truncate(count=$n)")

  /** All but the first n elements (same arbitrary-order caveat as
    * [[truncate]]; ordered variant in [[Ordered.skip]]); reference
    * `skip(count=n)` (streamable/stream.py:432-446). */
  def skip(n: Int): Pipe[T] = derive(ds.offset(n), s"skip(count=$n)")

  /** Named progress metric attached to the plan — counted during the
    * next action, no extra pass; reference `observe(what)`
    * (streamable/stream.py:413-430, log-cadence analog in
    * [[Flow.shouldLog]]). Metrics surface via QueryExecutionListener
    * (see FlowSparkSpec). */
  def observe(name: String): Pipe[T] =
    derive(Flow.observed(ds, name), s"observe($name)")

  /** Terminal foreach under a cluster-wide rate cap; reference
    * `throttle(per_second, per_minute, per_hour, interval)` + `foreach`
    * composed (streamable/stream.py:448-477) — see
    * [[Flow.throttledForeach]]/[[Flow.partitionShare]] for the
    * coordination-free rate math. All four reference bounds are
    * reachable fluently; most restrictive wins. `maxConcurrent`
    * (default 0 = snapshot `defaultParallelism`) is forwarded
    * verbatim: on elastic clusters pass the partition count for the
    * guaranteed-no-overshoot mode Flow's scaladoc documents. */
  def runForeachThrottled(globalPerSecond: Double, maxConcurrent: Int = 0,
      globalPerMinute: Double = 0, globalPerHour: Double = 0,
      globalIntervalMs: Long = 0)(effect: T => Unit): Unit =
    Flow.throttledForeach(ds, globalPerSecond, maxConcurrent,
      globalPerMinute, globalPerHour, globalIntervalMs)(effect)

  /** Exhausts and counts; reference `count()` (stream.py:133-141). */
  def count(): Long = ds.count()

  /** Run for side effects; reference `stream()` i.e. `__call__`
    * (streamable/stream.py:143-151). */
  def run(): Pipe[T] = { ds.foreach(_ => ()); this }

  /** Terminal foreach (distributed side effects). */
  def runForeach(effect: T => Unit): Unit = ds.foreach(e => effect(e))

  /** Pull-based consumption preserving the reference's one-element-at-
    * a-time semantics (streamable/stream.py:91-94). */
  def iterator: Iterator[T] = {
    import scala.jdk.CollectionConverters._
    ds.toLocalIterator().asScala
  }

  /** Plan rendering; reference `repr/str/display`
    * (streamable/stream.py:96-104, visitors/representation.py:29-149).
    * Catalyst's explain is strictly richer than the reference's
    * pretty-printer. */
  def explain(): String = ds.queryExecution.toString()

  /** Log the chain rendering and return this pipe unchanged;
    * reference `display(level)` (streamable/stream.py:153-165). */
  def display(): Pipe[T] = {
    org.slf4j.LoggerFactory.getLogger(classOf[Pipe[_]]).info(describe)
    this
  }

  /** Reference-style chain rendering: `repr(stream)` prints
    * `Stream(source)` then one line per operator in source→sink order
    * with callables shortened to placeholders
    * (streamable/stream.py:96-104, visitors/representation.py:29-149,
    * golden test tests/test_stream.py:242-285). Catalyst's `explain`
    * shows the optimized truth; `describe` shows the user's fluent
    * chain — both views exist in the reference. */
  def describe: String =
    ("Pipe(source)" :: chain.map("  ." + _)).mkString("\n")
}

object Pipe {
  def apply[T](ds: Dataset[T]): Pipe[T] = new Pipe(ds)

  /** Fluent catch-chain on an attempt pipe (reference stream.py
    * `catch(kind, when, replacement, finally_raise)` split into the
    * three orthogonal consumption modes). */
  implicit final class AttemptPipe[U](private val p: Pipe[Attempt[U]]) extends AnyVal {
    /** Swallow matching errors (element dropped). */
    def catchDrop(kind: String => Boolean = _ => true)(
        implicit e: Encoder[U]): Pipe[U] =
      Pipe(Errors.catchDrop(p.ds, kind), p.chain :+ "catch(<function>)")
    /** Replace failed elements. */
    def catchReplace(replacement: U, kind: String => Boolean = _ => true)(
        implicit e: Encoder[U]): Pipe[U] =
      Pipe(Errors.catchReplace(p.ds, replacement, kind),
        p.chain :+ s"catch(<function>, replacement=$replacement)")
    /** Run, then raise the first error if any element failed. */
    def runFinallyRaise()(implicit e: Encoder[Attempt[U]],
        ct: scala.reflect.ClassTag[U]): Long =
      Errors.runFinallyRaise(p.ds.sparkSession, p.ds)
    /** Error-aware observe: ok + error counts in one named metric
      * (reference observe logs yields AND errors,
      * iterators.py:351-394). */
    def observeAttempts(name: String): Pipe[Attempt[U]] =
      Pipe(Flow.observedAttempts(p.ds, name), p.chain :+ s"observe($name)")
  }
}
