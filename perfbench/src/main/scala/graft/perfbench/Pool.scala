package graft.perfbench

/** The program's overlap pool, which `graft` keeps package-private, so
  * traced chains run the same pool as `Pipelines`. */
object Pool {
  def inParallel[A, B](items: Seq[A], maxInFlight: Int = 3)(f: A => B): Seq[B] =
    graft.Overlap.inParallel(items, maxInFlight)(f)
}
