package graft.util

/** Host-supply telemetry sampled from /proc — the in-artifact evidence
  * that a benchmark row was (or was not) taken under co-tenant load.
  * Extracted from Bench's round-12 inline version so the satellite
  * harnesses (ProbeBench, RecallBench) stamp the same fields: VERDICT
  * r12 flagged the probe A/B row as unadjudicatable precisely because
  * it carried no host evidence of its own.
  */
object HostTelemetry {
  /** 1/5/15-minute load averages (empty if /proc is unreadable). */
  def loadavg(): Seq[Double] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case _: Throwable => Seq.empty }

  /** The aggregate `cpu ` jiffy counters from /proc/stat. */
  def cpuLine(): Seq[Long] =
    try scala.io.Source.fromFile("/proc/stat").getLines()
      .find(_.startsWith("cpu ")).map(_.trim.split("\\s+").drop(1)
        .toSeq.map(_.toLong)).getOrElse(Seq.empty)
    catch { case _: Throwable => Seq.empty }

  /** Steal percentage between two [[cpuLine]] samples (field 8 of the
    * aggregate line: user nice system idle iowait irq softirq STEAL);
    * -1 when either sample is unusable. */
  def stealPct(cpu0: Seq[Long], cpu1: Seq[Long]): Double =
    if (cpu0.length >= 8 && cpu1.length >= 8 && cpu1.sum > cpu0.sum)
      (cpu1(7) - cpu0(7)).toDouble / (cpu1.sum - cpu0.sum) * 100
    else -1.0

  private def loadArr(l: Seq[Double]) =
    l.map(v => f"$v%.2f").mkString("[", ",", "]")

  /** One JSON object covering a sweep bracketed by the two samples;
    * `loadEntry`, when given, is the load sampled at process entry. */
  def json(load0: Seq[Double], cpu0: Seq[Long],
           load1: Seq[Double], cpu1: Seq[Long],
           loadEntry: Option[Seq[Double]] = None): String =
    s"""{"cpus":${Runtime.getRuntime.availableProcessors()},""" +
      loadEntry.fold("")(l => s""""loadavg_entry":${loadArr(l)},""") +
      s""""loadavg_start":${loadArr(load0)},"loadavg_end":${loadArr(load1)},""" +
      s""""steal_pct":${f"${stealPct(cpu0, cpu1)}%.3f"}}"""
}
