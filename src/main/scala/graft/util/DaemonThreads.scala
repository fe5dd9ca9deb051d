package graft.util

import java.util.concurrent.ThreadFactory
import java.util.concurrent.atomic.AtomicInteger

/** Daemon threads named `prefix-1`, `prefix-2`, ...: a pool its owner
  * forgets to shut down does not keep the JVM alive. */
object DaemonThreads {
  def apply(prefix: String): ThreadFactory = new ThreadFactory {
    private val n = new AtomicInteger
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"$prefix-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }
}
