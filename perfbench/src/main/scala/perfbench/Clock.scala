package perfbench

/** Rep timing on a shared host. A rep's wall time grows with the hypervisor
  * steal its neighbours cause; the benchmark reports rep seconds net of that
  * steal, so that runs at different times of a busy host stay comparable.
  */
object Clock {

  /** CPU seconds the hypervisor has taken from this machine, summed over its
    * CPUs (the `steal` column of /proc/stat, in USER_HZ = 100 ticks), and the
    * CPU count. Zero where /proc/stat is unavailable.
    */
  def stolen(): (Double, Int) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val lines = src.getLines().filter(_.startsWith("cpu")).toVector
        val total = lines.find(_.startsWith("cpu ")).map(_.trim.split("\\s+")(8).toDouble / 100)
        (total.getOrElse(0.0), math.max(1, lines.count(l => l.length > 3 && l(3).isDigit)))
      } finally src.close()
    } catch { case _: Exception => (0.0, 1) }

  /** Runs `f`; returns its result, its wall seconds, and its wall seconds
    * minus the steal of the interval averaged over the machine's CPUs.
    */
  def time[T](f: => T): (T, Double, Double) = {
    val (s0, _) = stolen()
    val t0 = System.nanoTime()
    val r = f
    val wall = (System.nanoTime() - t0) / 1e9
    val (s1, cpus) = stolen()
    (r, wall, math.max(wall - (s1 - s0) / cpus, 1e-3))
  }
}
