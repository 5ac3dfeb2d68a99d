package pizzabench

import java.util.concurrent.locks.LockSupport

/** Open-loop load generator: a thread of its own that releases item i at
  * `dueNs(i)` whether or not the system has kept up, and records how
  * late it released anything. Items are released in index order. */
final class OpenLoop(dueNs: Int => Long, limit: Int, release: Int => Unit)
    extends Thread("pizzabench-open-loop") {
  setDaemon(true)
  @volatile private var stopped = false
  @volatile var next = 0
  @volatile var lateMaxNs = 0L

  override def run(): Unit =
    while (!stopped && next < limit) {
      val d = dueNs(next)
      val now = System.nanoTime()
      if (now < d) LockSupport.parkNanos(d - now)
      else {
        release(next)
        lateMaxNs = math.max(lateMaxNs, System.nanoTime() - d)
        next += 1
      }
    }

  /** Stop releasing and wait for the thread to end. */
  def halt(): Unit = { stopped = true; join() }
}
