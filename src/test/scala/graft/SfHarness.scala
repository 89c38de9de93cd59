package graft

/** Timing helpers shared by the sf1 scaling harnesses. */
object SfHarness {
  /** Wall seconds of `f` and its result. */
  def timeS[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def f3(v: Double): Double = math.rint(v * 1000) / 1000
}
