package perfbench

import java.nio.file.{Files, Paths}

import scala.util.Try

/** Readings of the host and of this JVM from /proc: resident memory, and
  * the per-run validity record (foreign CPU over the run's own window and
  * the 1-minute load average at its start and end). Diagnostics only;
  * nothing here gates a result. */
object Host {

  private def read(path: String): Option[String] =
    Try(new String(Files.readAllBytes(Paths.get(path)))).toOption

  def cpus: Int = Runtime.getRuntime.availableProcessors()

  def loadAvg1: Double =
    read("/proc/loadavg").flatMap(_.split(' ').headOption)
      .flatMap(_.toDoubleOption).getOrElse(Double.NaN)

  /** Clock ticks per second for /proc/stat and /proc/self/stat. */
  private val hz = 100.0

  /** Busy ticks of the whole machine (everything but idle and iowait). */
  private def machineBusyTicks: Long =
    read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
      .map { l =>
        val f = l.split("\\s+").drop(1).map(_.toLong)
        f.sum - f(3) - (if (f.length > 4) f(4) else 0L)
      }.getOrElse(0L)

  /** utime + stime of this process, threads included. */
  private def ownTicks: Long =
    read("/proc/self/stat").map { s =>
      val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
      f(11).toLong + f(12).toLong
    }.getOrElse(0L)

  private def statusKb(key: String): Long =
    read("/proc/self/status").flatMap(_.linesIterator.find(_.startsWith(key)))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  /** Reset the kernel's peak-RSS mark so the next [[peakRssMb]] covers
    * only what follows. Returns false where the kernel refuses. */
  def resetPeakRss(): Boolean =
    Try(Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes)).isSuccess

  def peakRssMb: Double = statusKb("VmHWM:") / 1024.0
  def rssMb: Double = statusKb("VmRSS:") / 1024.0

  /** A window over which foreign CPU is measured. */
  final class Window {
    private val wall0 = System.nanoTime()
    private val busy0 = machineBusyTicks
    private val own0 = ownTicks
    val load1Start: Double = loadAvg1

    def close(): Json.Obj = {
      val wallS = (System.nanoTime() - wall0) / 1e9
      val busyS = (machineBusyTicks - busy0) / hz
      val ownS = (ownTicks - own0) / hz
      val foreignS = math.max(0.0, busyS - ownS)
      Json.obj(
        "window_s" -> wallS,
        "own_cpu_s" -> ownS,
        "foreign_cpu_s" -> foreignS,
        "foreign_cpu_share" -> foreignS / math.max(1e-9, wallS * cpus),
        "load1_start" -> load1Start,
        "load1_end" -> loadAvg1)
    }
  }
}
