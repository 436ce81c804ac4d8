package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The contention record: how busy the host was around a run (the load
  * average comes from graft.BenchScale.loadAvg).
  */
object Host {

  /** (busy jiffies of the whole host, jiffies of this process). Busy is
    * every /proc/stat column except idle and iowait.
    */
  def cpuTicks(): (Long, Long) =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).asScala.head
        .split("\\s+").drop(1).map(_.toLong)
      val busy = cpu.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 && i < 8 => v }.sum
      // fields after the parenthesised command name; utime and stime are 14 and 15
      val self = Files.readString(Paths.get("/proc/self/stat"))
      val rest = self.substring(self.lastIndexOf(')') + 2).split(" ")
      (busy, rest(11).toLong + rest(12).toLong)
    } catch { case _: Throwable => (0L, 0L) }

  /** Clock ticks per second of /proc (USER_HZ, 100 on Linux). */
  val Hz = 100.0
}
