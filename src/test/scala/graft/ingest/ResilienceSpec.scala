package graft.ingest

import org.scalatest.funsuite.AnyFunSuite

class ResilienceSpec extends AnyFunSuite {

  test("MissedDataManager dedups contained requests within the TTL") {
    var clock = 0L
    val m = new Resilience.MissedDataManager(ttlMillis = 1000, now = () => clock)
    assert(m.addIfNew(10, 50))
    assert(!m.addIfNew(20, 30), "contained request must be deduped")
    assert(!m.addIfNew(10, 50), "identical request must be deduped")
    assert(m.addIfNew(40, 60), "overlapping-but-not-contained is a new request")
    assert(m.pendingCount == 2)
    clock = 1500 // past the TTL — both expire
    assert(m.addIfNew(20, 30), "expired requests no longer dedup")
    assert(m.pendingCount == 1)
  }
}
