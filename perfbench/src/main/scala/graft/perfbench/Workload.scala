package graft.perfbench

/** One benchmark workload. `stage` writes its inputs and computes the
  * expected answers, returning the latency (ms) of each staging write;
  * `warmup` runs whole passes until they stop getting faster, checking
  * answers into `rec`; `run` is the measured closed loop. */
trait Workload {
  /** Ops in one pass of the workload's fixed op cycle. */
  def passSize: Int
  /** Most warm-up passes the run's time budget allows. */
  def maxWarmup: Int
  def stage(): Seq[Double]
  def warmup(rec: Recorder): Int
  def run(seconds: Double, rec: Recorder): Unit
}

object Workload {
  /** Runs the thunks on `nproc` threads; results in order. */
  def parallel[T](fs: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors)
    try fs.map(f => pool.submit(() => f())).map(_.get())
    finally pool.shutdown()
  }

  /** Runs `pass` (returns its wall seconds) until one pass is no more than
    * 10% faster than the one before; at least 2 passes, at most `max`.
    * Returns the number of passes run. */
  def warmToPlateau(max: Int)(pass: () => Double): Int = {
    val cap = if (Main.training) 1 else max
    var prev = pass()
    Main.log(f"warm-up pass 1: $prev%.2f s")
    var n = 1
    var done = false
    while (!done && n < cap) {
      val cur = pass()
      Main.log(f"warm-up pass ${n + 1}: $cur%.2f s")
      n += 1
      done = cur > 0.9 * prev
      prev = cur
    }
    n
  }
}
