package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Host readings taken beside every timed pass, so a contaminated window is
  * flagged by numbers rather than by eye. None of them depend on the
  * program under test. */
object Host {

  /** Wall seconds of a fixed single-threaded integer loop (~30 ms on an
    * idle core). Slower readings mean the host took CPU away. */
  def probeSeconds(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 40000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42) println("") // keeps the loop live
    (System.nanoTime() - t0) / 1e9
  }

  /** Calibrated baseline: the fastest of a few probes taken at set-up. */
  def calibrate(): Double = (1 to 5).map(_ => probeSeconds()).min

  /** Cumulative steal time of all CPUs in seconds (USER_HZ = 100). */
  def stealSeconds(): Double =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).asScala.find(_.startsWith("cpu "))
      cpu.map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toDouble / 100.0).getOrElse(0.0)
    } catch { case _: Exception => 0.0 }

  /** VmHWM of this process in MB (peak resident set since start). */
  def rssPeakMb(): Double = statusKb("VmHWM") / 1024.0

  private def statusKb(key: String): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith(key + ":"))
        .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    } catch { case _: Exception => 0.0 }
}
