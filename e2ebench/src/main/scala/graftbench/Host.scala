package graftbench

/** CPU time the hypervisor gave to other guests (`steal` in /proc/stat),
  * sampled around a measured interval.
  */
object Host {
  final case class Cpu(steal: Long, total: Long)
  def sample(): Cpu = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      Cpu(if (v.length > 7) v(7) else 0L, v.take(8).sum)
    } finally f.close()
  }
  /** Share of all CPU time stolen between two samples. */
  def stolen(a: Cpu, b: Cpu): Double =
    if (b.total == a.total) 0.0 else (b.steal - a.steal).toDouble / (b.total - a.total)
}
