package graft.tables

/** Test-only bridge to the `private[tables]` fault-injection hook, for
  * specs that live outside this package. */
object TestHooks {
  def onStep(t: BucketedSnapshotTable, f: String => Unit): Unit = t.onStep = f
  // curried, so a lambda handed to the bucketed form above still types
  // against its expected `String => Unit`
  def onStep(t: SnapshotTable)(f: String => Unit): Unit = t.onStep = f
  def onMvStep(v: MaterializedAggView, f: String => Unit): Unit = v.onStep = f
  def onMsvStep(v: MaterializedStarAggView, f: String => Unit): Unit = v.onStep = f
}
