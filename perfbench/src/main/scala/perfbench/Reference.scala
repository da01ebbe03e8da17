package perfbench

import java.security.MessageDigest

/** A fixed CPU-bound reference loop: `threads` threads each MD5-hash the
  * same 64 MiB at once. It touches no engine code, so its time tracks
  * only how fast the host runs right now (CPU frequency, steal by other
  * tenants). It is reported beside the timings (`host_ref_ms`), which
  * stay raw wall clock, so runs on a slowed host can be told apart. The
  * result is the median thread's time: one core stolen away for a while
  * slows one thread, not the host as the workload sees it. */
object Reference {
  private val block = Array.tabulate[Byte](1 << 20)(i => (i * 31 + 7).toByte)
  val MiB = 64

  def ms(threads: Int): Double = {
    val took = new Array[Double](threads)
    val ts = (0 until threads).map { i =>
      new Thread(() => {
        val t0 = System.nanoTime()
        val md = MessageDigest.getInstance("MD5")
        (1 to MiB).foreach(_ => md.update(block))
        md.digest()
        took(i) = (System.nanoTime() - t0) / 1e6
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    Stats.median(took.toSeq)
  }
}
