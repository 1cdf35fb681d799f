package perfbench

/** How fast the host runs right now: the wall time of a fixed amount of
  * work on four threads, one per core of the `local[4]` session.
  *
  * On a shared host the speed a run gets drifts by a fifth or more over
  * minutes (stolen time, busy sibling hyperthreads), and every timing of a
  * run moves with it. The benchmark measures this work between its
  * repetitions and reports its timings scaled to [[ReferenceS]], so two
  * runs compare the program, not the host's load at the time. The program
  * under test never runs during a calibration. */
object Calibration {

  /** Calibration seconds the reported timings are scaled to. */
  val ReferenceS = 0.3

  private val Threads = 4
  private val Slots = 1 << 20 // 4 MB of ints a thread
  private val Steps = 48000000
  private val arrays = Array.fill(Threads)(Array.tabulate(Slots)(identity))
  @volatile private var sink = 0L

  /** Wall seconds of one calibration. */
  def once(): Double = {
    val threads = (0 until Threads).map { t =>
      new Thread(() => {
        val a = arrays(t)
        var x = t * 7919 + 1
        var s = 0L
        var k = 0
        while (k < Steps) {
          x ^= x << 13; x ^= x >>> 17; x ^= x << 5
          val j = x & (Slots - 1)
          s += a(j)
          a(j) = s.toInt
          k += 1
        }
        sink += s
      })
    }
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
