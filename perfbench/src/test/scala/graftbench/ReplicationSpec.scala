package graftbench

import org.scalatest.funsuite.AnyFunSuite

class ReplicationSpec extends AnyFunSuite {

  test("every seed gives record ids whose timestamps fit in a long") {
    for (seed <- Seq(0L, 7L, 3141592653L, -1L, Long.MaxValue, Long.MinValue)) {
      val first = Replication.firstId(seed)
      assert(first >= 0, seed)
      // the largest id a run generates, times the generator's ts step
      Math.addExact(1704067200000000L, Math.multiplyExact(first + 100000000L, 259000L))
    }
    assert(Replication.firstId(7L) != Replication.firstId(8L))
  }
}
