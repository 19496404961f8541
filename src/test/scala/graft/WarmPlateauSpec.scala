package graft

/** `Serve.warmToPlateau`, the one plateau rule the server's startup warms
  * its plans and its HTTP stack with, driven by a scripted clock: each
  * burst advances the clock by its scripted duration, so no Spark session
  * and no real waiting is involved.
  */
class WarmPlateauSpec extends org.scalatest.funsuite.AnyFunSuite {

  /** Run the plateau loop over bursts of the given durations (ms);
    * returns (bursts the loop counted, bursts actually run).
    */
  private def drive(budgetMs: Long, burstsMs: Double*): (Int, Int) = {
    var now = 0L
    var ran = 0
    val n = Serve.warmToPlateau(budgetMs, () => now) { () =>
      now += (burstsMs(ran) * 1e6).toLong
      ran += 1
    }
    (n, ran)
  }

  test("stops after at least 3 bursts, at the first one within 23% of the best") {
    // the second burst already matches the first, but 3 is the minimum
    assert(drive(10000L, 100, 100, 100, 100) == ((3, 3)))
    // 50 and 30 each improve by more than 23%; 25 is within 23% of 30
    assert(drive(10000L, 100, 50, 30, 25, 1) == ((4, 4)))
    // a slower burst is "no better than the best" and ends the warm-up
    assert(drive(10000L, 100, 60, 90, 1) == ((3, 3)))
  }

  test("stops at the budget even while bursts keep improving") {
    // each burst beats the best by more than 23%; after 450 ms the fourth
    // burst starts inside the 500 ms budget, and no fifth burst starts
    assert(drive(500L, 200, 150, 100, 70, 40) == ((4, 4)))
    // a budget spent by the first burst allows no second one
    assert(drive(50L, 80, 1, 1) == ((1, 1)))
  }
}
