package graft.perfbench

import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

/** The host's speed, read off a fixed kernel run while Spark is idle.
  *
  * On a shared host the same code runs at different speeds from one minute
  * to the next (neighbours load the cores, caches and memory the guest
  * sees), and every op time follows. The kernel does the kinds of work a
  * Spark task does (hash-map building, sorting, number formatting and
  * parsing) in a fixed amount, on as many threads as Spark has task slots,
  * so its time moves with the host and never with graft. The end-to-end
  * times are reported scaled by `RefS` / (median kernel time): seconds on a
  * host where one kernel round takes `RefS`. The raw times and the kernel
  * samples are kept in the run record. */
final class Calib(threads: Int) {
  private val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "perfbench-calib")
    t.setDaemon(true)
    t
  })
  private val tasks = java.util.Collections.nCopies(threads, new Callable[Long] {
    def call(): Long = Calib.kernel()
  })

  /** One kernel round, a kernel on every thread at once; its wall seconds. */
  def once(): Double = {
    val t0 = System.nanoTime()
    pool.invokeAll(tasks).asScala.foreach(_.get())
    (System.nanoTime() - t0) / 1e9
  }

  /** `n` round times, after `warm` untimed rounds. */
  def sample(n: Int, warm: Int = 0): Seq[Double] = {
    (1 to warm).foreach(_ => once())
    (1 to n).map(_ => once())
  }

  def close(): Unit = {
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object Calib {
  /** one round's seconds on the reference host (4-core cloud VM, 2 threads) */
  val RefS = 0.03

  private val keys: Array[Long] = {
    val rng = new SplittableRandom(1L)
    Array.fill(1 << 17)(rng.nextLong())
  }

  def kernel(): Long = {
    val counts = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    var acc = 0L
    var i = 0
    while (i < keys.length) {
      val k = java.lang.Long.valueOf(keys(i) & 0xffff)
      val n = counts.get(k)
      counts.put(k, if (n == null) 1L else n + 1L)
      i += 1
    }
    val sorted = keys.clone()
    java.util.Arrays.sort(sorted)
    i = 0
    while (i < sorted.length) {
      acc += java.lang.Long.parseLong(java.lang.Long.toString(sorted(i) >>> 8))
      i += 4
    }
    acc + counts.size
  }
}
