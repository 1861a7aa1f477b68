package perfbench

import scala.io.Source
import scala.util.Try

/** What the machine did around a timed window. A window that saw other
  * processes or the hypervisor take cores names itself in the sidecar,
  * the same evidence `graft.Bench` records per query.
  */
final case class Weather(foreignCores: Double, stealCores: Double)

object Box {
  private def firstLine(path: String): String = {
    val s = Source.fromFile(path)
    try s.getLines().next() finally s.close()
  }

  /** (busy jiffies of the whole box, jiffies of this process including
    * reaped children, steal jiffies).
    */
  private def jiffies(): (Long, Long, Long) = Try {
    val f = firstLine("/proc/stat").split("\\s+").drop(1).take(8).map(_.toLong)
    val self = {
      val s = firstLine("/proc/self/stat")
      val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
      rest(11).toLong + rest(12).toLong + rest(13).toLong + rest(14).toLong
    }
    (f.sum - f(3) - f(4), self, f(7))
  }.getOrElse((0L, 0L, 0L))

  /** Starts a window; the returned function closes it. */
  def window(): () => Weather = {
    val (box0, self0, steal0) = jiffies()
    val t0 = System.nanoTime()
    () => {
      val (box1, self1, steal1) = jiffies()
      val sec = (System.nanoTime() - t0) / 1e9
      // USER_HZ is 100 on Linux
      val foreign = ((box1 - box0) - (self1 - self0)) / 100.0
      val steal = (steal1 - steal0) / 100.0
      if (sec <= 0) Weather(0, 0)
      else Weather(math.max(foreign, 0) / sec, math.max(steal, 0) / sec)
    }
  }

  /** Peak resident memory of this process (VmHWM), in MB. */
  def peakRssMb(): Double = Try {
    val s = Source.fromFile("/proc/self/status")
    try s.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0) finally s.close()
  }.getOrElse(0.0)
}
