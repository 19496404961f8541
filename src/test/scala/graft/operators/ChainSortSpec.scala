package graft.operators

import graft.SparkSpec

class ChainSortSpec extends SparkSpec {

  private def n(key: String, prev: String, chained: Boolean = true, hint: Long = 0) =
    ChainNode(key, "g", prev, chained, hint)

  test("sorts a linked chain into causal order") {
    val nodes = Seq(n("c", "b"), n("a", null), n("b", "a"))
    assert(ChainSort.sortGroup(nodes).get.map(_.key) == Seq("a", "b", "c"))
  }

  test("head may point outside the group") {
    val nodes = Seq(n("b", "a"), n("a", "external"))
    assert(ChainSort.sortGroup(nodes).get.map(_.key) == Seq("a", "b"))
  }

  test("non-chained records pass through after the chain, by order hint") {
    val nodes = Seq(n("r2", null, chained = false, hint = 2),
      n("b", "a"), n("r1", null, chained = false, hint = 1), n("a", null))
    assert(ChainSort.sortGroup(nodes).get.map(_.key) == Seq("a", "b", "r1", "r2"))
  }

  test("broken groups are dropped: no head") {
    // a -> b -> a cycle, no head
    assert(ChainSort.sortGroup(Seq(n("a", "b"), n("b", "a"))).isEmpty)
  }

  test("broken groups are dropped: forked chain (two heads)") {
    assert(ChainSort.sortGroup(Seq(n("a", null), n("b", null), n("c", "a"))).isEmpty)
  }

  test("broken groups are dropped: two records share a prev") {
    assert(ChainSort.sortGroup(Seq(n("a", null), n("b", "a"), n("c", "a"))).isEmpty)
  }

  test("broken groups are dropped: unreachable tail (cycle off the chain)") {
    assert(ChainSort.sortGroup(
      Seq(n("a", null), n("x", "y"), n("y", "x"))).isEmpty)
  }

  test("property: a shuffled valid chain always sorts back to causal order") {
    for (seed <- 0 until 200) {
      val rnd = new scala.util.Random(seed)
      val size = 1 + rnd.nextInt(30)
      val keys = (0 until size).map(i => s"k$i")
      val nodes = keys.zipWithIndex.map { case (k, i) =>
        n(k, if (i == 0) null else keys(i - 1))
      }
      val sorted = ChainSort.sortGroup(rnd.shuffle(nodes))
      assert(sorted.get.map(_.key) == keys, s"seed=$seed")
    }
  }
}
