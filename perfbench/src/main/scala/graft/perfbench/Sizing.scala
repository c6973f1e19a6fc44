package graft.perfbench

/** Input sizes per workload: the measured scale, and `tiny` for the
  * self-test. Sized so one run (JVM start, set-up, the timed loop and the
  * checks) stays within about half a minute on a 4-core host. */
object Sizing {
  def serve(tiny: Boolean): Serve.Sizes =
    if (tiny) Serve.Sizes(convs = 300, rare = 4, hot = 6)
    else Serve.Sizes(convs = 500, rare = 4, hot = 6)

  def catalog(tiny: Boolean): Catalog.Sizes =
    Catalog.Sizes(scale = if (tiny) 0.001 else 0.002)
}
