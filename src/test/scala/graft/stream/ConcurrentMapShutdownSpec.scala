package graft.stream

import graft.SparkSpec
import org.apache.spark.SparkException
import scala.jdk.CollectionConverters._

/** The concurrent map's thread pool ends with its task: a consumer
  * that stops early (`truncate`) and a task that fails leave no
  * `graft-cmap` thread behind. */
class ConcurrentMapShutdownSpec extends SparkSpec {
  import spark.implicits._

  private def cmapThreads(): Int =
    Thread.getAllStackTraces.keySet.asScala
      .count(t => t.isAlive && t.getName == "graft-cmap")

  /** Live `graft-cmap` threads once the pools have had time to stop. */
  private def settled(limit: Int): Int = {
    val deadline = System.nanoTime + 10L * 1000 * 1000 * 1000
    while (cmapThreads() > limit && System.nanoTime < deadline) Thread.sleep(20)
    cmapThreads()
  }

  test("a truncated mapConcurrent run leaves no graft-cmap threads") {
    val before = cmapThreads()
    for (_ <- 1 to 3) {
      val out = Pipe(spark.range(0, 1000, 1, 2).as[Long])
        .mapConcurrent(x => { Thread.sleep(1); x + 1 }, concurrency = 8)
        .truncate(3).ds.collect()
      assert(out.length == 3)
    }
    assert(settled(before) <= before)
  }

  test("a failing mapConcurrent run leaves no graft-cmap threads") {
    val before = cmapThreads()
    val e = intercept[SparkException] {
      Pipe(spark.range(0, 1000, 1, 2).as[Long])
        .mapConcurrent(x => {
          if (x == 20) throw new IllegalStateException("boom")
          Thread.sleep(1); x
        }, concurrency = 8)
        .ds.collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom")))
    assert(settled(before) <= before)
  }

  test("close is idempotent and stops the pool outside a task") {
    val before = cmapThreads()
    val it = new ConcurrentMapIterator[Int, Int](
      (1 to 100).iterator, x => { Thread.sleep(1); x }, 4, ordered = true)
    assert(it.next() == 1)
    it.close(); it.close()
    assert(settled(before) <= before)
  }
}
