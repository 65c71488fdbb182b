package graft

/** Measurement-weather probes shared with the benchmark (perfbench): the
  * host's 1-minute load average and a fixed CPU-bound calibration wall,
  * recorded next to each timed sample so its noise is documented.
  */
object Bench {
  def loadavg1m(): Double =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Fixed CPU-bound calibration: `threads` Java threads each run the same
    * deterministic xorshift64* loop; the wall time measures how much
    * parallel CPU the host is ACTUALLY giving this JVM right now. On a
    * quiet host this is a constant; under neighbor load it inflates
    * roughly in proportion to the contention, so each benchmark sample
    * can carry its own noise normalizer (this sandbox shares a host whose
    * load average swings 2-15 with nothing running locally, and single
    * measurements of identical code swing 3-4x with it).
    */
  def calibrationSecs(threads: Int, stepsPerThread: Long = 60000000L): Double = {
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + t
        var i = 0L
        while (i < stepsPerThread) {
          x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
          i += 1
        }
        sink.addAndGet(x * 0x2545F4914F6CDD1DL)
      })
      th.start(); th
    }
    ts.foreach(_.join())
    if (sink.get == 42L) println("") // defeat dead-code elimination
    (System.nanoTime() - t0) / 1e9
  }
}
