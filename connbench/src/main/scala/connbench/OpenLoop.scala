package connbench

/** Open-loop load generator: runs `action(i)` due at `startMs + i *
  * periodMs` on its own thread, whatever the system under test is doing.
  * A slow action makes later ones late (they then run back to back, never
  * skipped), and the lateness is recorded so a late generator is not
  * mistaken for a slow system. */
final class OpenLoop(periodMs: Long, capacity: Int, action: Int => Unit) {
  private val dueMs = new Array[Long](capacity)
  private val lateMs = new Array[Double](capacity)
  @volatile private var count = 0
  @volatile private var failure: Throwable = null
  private var thread: Thread = _

  /** Start issuing at wall time `startMs`; issue nothing due at or after
    * `untilMs`. */
  def start(startMs: Long, untilMs: Long): Unit = {
    val nanoAtStart = System.nanoTime() + (startMs - System.currentTimeMillis()) * 1000000L
    thread = new Thread(() => {
      try {
        var i = 0
        while (i < capacity && startMs + i * periodMs < untilMs) {
          val dueNs = nanoAtStart + i * periodMs * 1000000L
          var wait = dueNs - System.nanoTime()
          while (wait > 0) {
            Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
            wait = dueNs - System.nanoTime()
          }
          dueMs(i) = startMs + i * periodMs
          lateMs(i) = -wait / 1e6
          action(i)
          i += 1
          count = i
        }
      } catch { case t: Throwable => failure = t }
    }, "connbench-generator")
    thread.setDaemon(true)
    thread.start()
  }

  def join(): Unit = {
    thread.join()
    if (failure != null) throw new IllegalStateException("generator failed", failure)
  }

  def issued: Int = count
  def due(i: Int): Long = dueMs(i)
  def lateness: Seq[Double] = lateMs.take(count).toSeq
}
