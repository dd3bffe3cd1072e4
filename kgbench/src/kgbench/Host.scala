package kgbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{Callable, Executors}
import scala.jdk.CollectionConverters._

/** Host readings taken by every invocation. */
object Host {

  /** A fixed string-building and hashing loop, close to the engine's own
    * per-row work (short strings, allocation-heavy). */
  private def kernel(): Long = {
    var acc = 0L
    var i = 0
    while (i < 300000) {
      acc += new StringBuilder("doc_").append(i * 2654435761L).append('/').append(i)
        .toString.hashCode
      i += 1
    }
    acc
  }

  /** Throughput of `threads` copies of the kernel relative to one copy:
    * `threads` on a host that scales perfectly, less where cores share
    * execution units, memory bandwidth or allocation. */
  def cpuScaling(threads: Int): Double = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      def wall(n: Int): Double = {
        val t0 = System.nanoTime()
        pool.invokeAll((1 to n).map(_ => (() => kernel()): Callable[Long]).asJava)
          .asScala.foreach(_.get())
        (System.nanoTime() - t0) / 1e9
      }
      wall(threads); wall(threads) // JIT warm-up
      val pairs = (1 to 3).map(_ => (wall(1), wall(threads)))
      threads * Bench.median(pairs.map(_._1)) / Bench.median(pairs.map(_._2))
    } finally pool.shutdownNow()
  }

  /** Driver heap in use after a full collection, in MB (10^6 bytes). In
    * local mode the driver is also the only executor. The first collection
    * lets Spark's ContextCleaner drop the blocks of unreachable RDDs and
    * broadcasts; the second collects what that freed. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}
