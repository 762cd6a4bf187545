package graft

/** Opt-in phase timings for development: with `GRAFT_TIMING` set in the
  * environment (read once, here), [[timed]] prints each phase's wall time
  * to stderr. `perfbench/run.py` parses the `[folder-timing]` lines, so
  * their format stays fixed.
  */
object Timing {
  val enabled: Boolean = sys.env.contains("GRAFT_TIMING")

  /** Run `f`; when timing is on, print `[tag] <label> <secs>s` to stderr. */
  def timed[T](tag: String, label: String)(f: => T): T =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[$tag] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
}
