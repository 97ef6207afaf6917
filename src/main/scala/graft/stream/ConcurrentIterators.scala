package graft.stream

import java.util.concurrent.{ArrayBlockingQueue, ExecutorService, Executors}
import org.apache.spark.TaskContext
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.util.{Failure, Success, Try}

/** Per-partition bounded-window concurrent map.
  *
  * Reproduces the reference's `map(concurrency=n, via="thread")`
  * contract (reference: streamable/iterators.py:489-618) inside one
  * Spark partition: nothing is pulled from upstream before the first
  * `next()` (laziness contract, tests/test_stream.py:741-791), at most
  * `concurrency` elements are in flight, output is FIFO when `ordered`
  * and first-done-first-out otherwise.
  *
  * At cluster scale this runs once per task; partition parallelism
  * supplies the `via="process"` axis, this supplies the I/O-bound
  * per-element axis (e.g. an enrichment HTTP call per row).
  *
  * The thread pool lives as long as the task, not as long as the
  * consumer keeps reading: it is shut down when the iterator drains,
  * and, inside a Spark task, from a task-completion listener — so a
  * consumer that stops early (`truncate`, `limit`, `take`) or a task
  * that fails does not leave `concurrency` threads behind. This is
  * the reference's context-managed executor (iterators.py:489-618).
  * Outside a task, a consumer that stops early calls [[close]].
  */
final class ConcurrentMapIterator[T, U](
    upstream: Iterator[T],
    f: T => U,
    concurrency: Int,
    ordered: Boolean,
) extends Iterator[U] {
  require(concurrency >= 1)

  private var started = false
  private var closed = false
  private var threads: ExecutorService = null
  Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => close()))

  private def pool: ExecutorService = synchronized {
    if (threads == null) threads = Executors.newFixedThreadPool(
      concurrency,
      r => { val t = new Thread(r, "graft-cmap"); t.setDaemon(true); t })
    threads
  }

  /** Stops the pool, interrupting work still in flight; idempotent. */
  def close(): Unit = synchronized {
    if (!closed) {
      closed = true
      if (threads != null) threads.shutdownNow()
    }
  }

  // ordered: FIFO queue of futures. unordered: completion queue.
  private val fifo = new java.util.ArrayDeque[java.util.concurrent.Future[Try[U]]]()
  private val done = new ArrayBlockingQueue[Try[U]](concurrency)
  private var inFlight = 0

  private def submit(t: T): Unit = {
    if (ordered) fifo.add(pool.submit(() => Try(f(t))))
    else {
      pool.submit(new Runnable {
        def run(): Unit = done.put(Try(f(t)))
      })
      inFlight += 1
    }
  }

  private def fill(): Unit = {
    started = true
    val capacity = if (ordered) concurrency - fifo.size() else concurrency - inFlight
    var n = 0
    while (n < capacity && upstream.hasNext) { submit(upstream.next()); n += 1 }
  }

  override def hasNext: Boolean = {
    if (!started) fill()
    val more = if (ordered) !fifo.isEmpty else inFlight > 0
    if (!more) close()
    more
  }

  override def next(): U = {
    if (!hasNext) throw new NoSuchElementException
    val res = if (ordered) fifo.poll().get() else { inFlight -= 1; done.take() }
    fill() // top the window back up before surfacing the result
    res match {
      case Success(u) => u
      case Failure(e) => throw e
    }
  }
}

/** Per-partition bounded-window async map — the `amap` analog
  * (reference: streamable/stream.py:394-411, iterators.py:621-685).
  * `f` returns a `Future[U]`; at most `concurrency` futures are in
  * flight per partition. The JVM has no partition-local asyncio loop;
  * callers supply futures on their own ExecutionContext (or the
  * global one).
  */
final class AsyncMapIterator[T, U](
    upstream: Iterator[T],
    f: T => Future[U],
    concurrency: Int,
    ordered: Boolean,
) extends Iterator[U] {
  require(concurrency >= 1)
  private implicit val ec: ExecutionContext = ExecutionContext.global

  private var started = false
  private val fifo = new java.util.ArrayDeque[Future[U]]()
  private val done = new ArrayBlockingQueue[Try[U]](concurrency)
  private var inFlight = 0

  private def submit(t: T): Unit = {
    if (ordered) fifo.add(Future(t).flatMap(f))
    else {
      Future(t).flatMap(f).onComplete(r => done.put(r))
      inFlight += 1
    }
  }

  private def fill(): Unit = {
    started = true
    val capacity = if (ordered) concurrency - fifo.size() else concurrency - inFlight
    var n = 0
    while (n < capacity && upstream.hasNext) { submit(upstream.next()); n += 1 }
  }

  override def hasNext: Boolean = {
    if (!started) fill()
    if (ordered) !fifo.isEmpty else inFlight > 0
  }

  override def next(): U = {
    if (!hasNext) throw new NoSuchElementException
    val res: Try[U] =
      if (ordered) Try(Await.result(fifo.poll(), Duration.Inf))
      else { inFlight -= 1; done.take() }
    fill()
    res match {
      case Success(u) => u
      case Failure(e) => throw e
    }
  }
}
