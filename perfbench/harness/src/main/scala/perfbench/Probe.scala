package perfbench

/** Host-noise probes: the xorshift kernel of `graft.Bench`, timed on one
  * thread and on one thread per available processor. A stalled or
  * oversubscribed box inflates them in proportion; they are context for
  * the run's other numbers, not a metric of the engine. */
object Probe {
  private val Iterations = 100000000

  private def kernel(seed: Long): Long = {
    var x = seed
    var i = 0
    while (i < Iterations) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  private def timeMs(body: => Unit): Double = {
    val t = System.nanoTime()
    body
    (System.nanoTime() - t) / 1e6
  }

  @volatile private var sink = 0L

  def single(): Double = timeMs { sink ^= kernel(0x9E3779B97F4A7C15L) }

  def parallel(): Double = {
    val n = Runtime.getRuntime.availableProcessors()
    timeMs {
      val threads = (0 until n).map { t =>
        val th = new Thread(() => sink ^= kernel(0x9E3779B97F4A7C15L + t))
        th.start(); th
      }
      threads.foreach(_.join())
    }
  }

  /** (single, parallel) in ms, each after one unmeasured warm-up. */
  def run(): (Double, Double) = {
    single(); val s = single()
    parallel(); val p = parallel()
    (s, p)
  }
}
