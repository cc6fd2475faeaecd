package graft

/** The timing/rounding helpers every benchmark main shares. ONE
  * definition for the same reason [[StreamBench.median]] is shared: four
  * private copies of the artifact-feeding rounding (and two of the
  * wall-clock helper) had accreted across the bench mains, and a drifted
  * copy would change published JSON depending on which main produced it.
  */
private[graft] object BenchUtil {
  /** Round to 3 decimals — the artifact-wide seconds precision. */
  def r3(x: Double): Double = math.rint(x * 1000) / 1000

  /** Calm-window anchor for the single-thread FP spin probe (seconds,
    * idle 32-cpu host, 2026-08-16). `cpu_factor` ≈ 1 means the timed
    * window had a full core to itself; sustained ≳ 1.5 means an external
    * CPU load was stealing cycles from the CPU-bound rows — the r14
    * contamination class the shuffle-bound x6 anchor cannot see
    * (SUITEDECOMP_r15). ONE definition: `graft.Bench`, the scale
    * sweeps, and the scaled streaming sections all publish the
    * factor against the same anchor, so readings are comparable across
    * artifacts.
    */
  val CpuAnchorSec = 0.40

  // written by the spin loop so the JIT cannot dead-code it
  @volatile private var spinSink = 0.0

  /** Single-thread FP spin: a fixed count of serial multiply-adds on the
    * driver thread. Wall time is pure available-CPU signal — no Spark,
    * no IO, no allocation — so an external load shows up here exactly in
    * proportion to what it steals from CPU-bound bench rows.
    */
  def cpuSpin(): Double = {
    val t0 = System.nanoTime()
    var x = 1.0
    var i = 0
    while (i < 150000000) { x = x * 1.0000001 + 1e-9; i += 1 }
    spinSink = x
    (System.nanoTime() - t0) / 1e9
  }

  /** The `"cpu_ref":…,"cpu_factor":…` JSON fragment every bench main
    * appends from its spin readings (no leading comma).
    */
  def cpuJson(readings: Seq[Double]): String = {
    val med = StreamBench.median(readings)
    s""""cpu_ref":{"anchor_sec":$CpuAnchorSec,"runs":[${
      readings.map(r3).mkString(",")}]},"cpu_factor":${
      r3(med / CpuAnchorSec)}"""
  }
}
