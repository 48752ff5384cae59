package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

/** A fixed piece of work, run on every core at once, whose CPU time says
  * how fast this machine's cores and memory are serving it right now. On a
  * shared host a busy neighbour slows the cores, caches and memory this
  * machine uses, and that inflates every thread's CPU clock for the same
  * work. The probe sees the same slowdown, while it shares no code with
  * graft, so a change to graft's code does not move it.
  *
  * The work is a pointer chase: each core follows a scattered cycle
  * through 64 MiB outside the heap, one dependent load per step, almost
  * every one a miss in the core's own caches. Its data lives outside the
  * heap; a reading allocates only a few task objects, so it adds no
  * garbage collection to the pass it runs in. */
final class HostProbe(cores: Int) {
  private val threads = ManagementFactory.getThreadMXBean
  private val pool = Executors.newFixedThreadPool(cores)

  // slot i holds (a * i + c) mod n. With n a power of two, c odd and
  // a = 1 (mod 4) that map is one cycle through every slot (Hull-Dobell),
  // and its strides defeat the hardware prefetchers
  private val ring: java.nio.IntBuffer = {
    val n = HostProbe.RingInts
    val b = java.nio.ByteBuffer.allocateDirect(n * 4).asIntBuffer()
    var i = 0
    while (i < n) { b.put(i, ((0x5DEECE66DL * i + 11L) & (n - 1)).toInt); i += 1 }
    b
  }

  private def chase(start: Int): Int = {
    var at = start
    var s = 0
    while (s < HostProbe.Steps) { at = ring.get(at); s += 1 }
    at
  }

  /** CPU nanoseconds of one chase on every core, summed over the cores. */
  def measure(): Long = {
    val tasks = (0 until cores).map { t =>
      new Callable[Long] {
        def call(): Long = {
          val c0 = threads.getCurrentThreadCpuTime
          // the end point is printed never, but read, so the chase stays
          if (chase(t * 7919) < 0) System.err.print("")
          threads.getCurrentThreadCpuTime - c0
        }
      }
    }
    pool.invokeAll(tasks.asJava).asScala.map(_.get).sum
  }

  def close(): Unit = {
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object HostProbe {
  val RingInts: Int = 1 << 24
  /** About 20 ms per core on the baseline VM. */
  val Steps: Int = 100000
  /** What one `measure()` reads per core on the baseline VM when its host
    * is quiet, in ns. `cpu_norm_s` scales CPU time by this over the run's
    * own reading, so its unit stays the baseline VM's second. */
  val RefNsPerCore: Double = 20e6
}
