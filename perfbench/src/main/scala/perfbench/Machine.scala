package perfbench

import scala.jdk.CollectionConverters._

/** Machine state stamped into every result, before and after each
  * workload: the 1-minute load average, the number of other JVMs alive,
  * and a fixed-work CPU canary run on the benchmark's own thread count.
  * A slow canary or a busy machine does not stop a run; it is recorded
  * so that a noisy figure can be told from a regression.
  */
object Machine {

  final case class Stamp(loadavg1: Double, siblingJvms: Int, canaryMs: Double) {
    def fields: Seq[(String, Any)] = Seq(
      "loadavg1" -> loadavg1, "sibling_jvms" -> siblingJvms,
      "canary_ms" -> canaryMs)
  }

  def loadAvg1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** Alive JVMs other than this process and its ancestors. */
  def siblingJvms(): Int = {
    var own = Set(ProcessHandle.current().pid())
    var cur = ProcessHandle.current().parent()
    while (cur.isPresent) { own += cur.get.pid(); cur = cur.get.parent() }
    ProcessHandle.allProcesses().iterator().asScala.count { p =>
      val cmd = p.info().command()
      !own.contains(p.pid()) && cmd.isPresent &&
        (cmd.get.endsWith("/java") || cmd.get == "java")
    }
  }

  /** Wall milliseconds for `threads` threads to each finish the same
    * fixed integer workload (median of three rounds).
    */
  def canaryMs(threads: Int): Double = {
    def work(seed: Long): Long = {
      var x = seed
      var i = 0
      while (i < 20000000) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= x >>> 29; i += 1 }
      x
    }
    val rounds = (0 until 3).map { r =>
      val t0 = System.nanoTime()
      val ts = (0 until threads).map { t =>
        val th = new Thread(() => { if (work(t + r) == 42) print("") })
        th.start(); th
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }.sorted
    rounds(1)
  }

  def stamp(threads: Int): Stamp = Stamp(loadAvg1(), siblingJvms(), canaryMs(threads))
}
