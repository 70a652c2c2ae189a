package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("wall_outlier takes the median over steal-clean reps") {
    val clean = Seq(1.0, 1.0, 1.1).map(w => Bench.Rep(w, 0.0, stealClean = true))
    val dirty = Seq.fill(4)(Bench.Rep(5.0, 2.0, stealClean = false))
    // a median over all seven reps would be 5.0 and flag nothing
    assert(Bench.wallOutliers(clean ++ dirty) == Seq(false, false, false, true, true, true, true))
    // no clean rep: the median falls back to all reps
    val allDirty = Seq(1.0, 1.0, 3.0).map(w => Bench.Rep(w, 2.0, stealClean = false))
    assert(Bench.wallOutliers(allDirty) == Seq(false, false, true))
    assert(Bench.wallOutliers(Nil).isEmpty)
  }
}
