package graft.operators

/** A node in a per-group linked chain. `prevKey == null` (or pointing
  * outside the group) marks the head. `chained=false` rows (the reference's
  * non-state records) pass through after the chain, ordered by `orderHint`.
  */
final case class ChainNode(
    key: String,
    groupKey: String,
    prevKey: String,
    chained: Boolean,
    orderHint: Long
)

/** J6 — per-object topological chain sort.
  *
  * Within one group (reference: the state records of one object inside one
  * jet drop, `etl/transformer/transformer.go:86-159`), records form a singly
  * linked list via `prev_record_reference`. The head is the record whose
  * prev pointer is absent or points outside the group; the causal order is
  * obtained by following the chain. Non-state records pass through after the
  * chain in `orderHint` order. Error semantics mirror the reference
  * (transformer.go:59-63, 108-125): a group with no head, more than one
  * head, a cycle/broken link, or a length mismatch is DROPPED whole (the
  * reference logs and skips the jet drop).
  *
  * Not expressible as SQL (arbitrary-depth pointer chasing), so this is
  * plain driver code. Scale: groups are the records of ONE object in ONE
  * ~10s pulse — tiny by construction — and a pulse's record set is bounded
  * by the pulse cadence, so [[graft.ingest.Spine]] sorts a whole pulse's
  * groups where the pulse already is, as the reference's transformer does
  * in one process's memory.
  */
object ChainSort {

  /** Sort one group; None = broken group (dropped by the caller). */
  def sortGroup(nodes: Seq[ChainNode]): Option[Seq[ChainNode]] = {
    val (states, others) = nodes.partition(_.chained)
    val sortedOthers = others.sortBy(n => (n.orderHint, n.key))
    if (states.isEmpty) return Some(sortedOthers)

    val keys = states.map(_.key).toSet
    if (keys.size != states.size) return None // duplicate keys
    val byPrev = new scala.collection.mutable.HashMap[String, ChainNode]
    val heads = scala.collection.mutable.ArrayBuffer.empty[ChainNode]
    states.foreach { n =>
      if (n.prevKey == null || n.prevKey.isEmpty || !keys.contains(n.prevKey)) heads += n
      else if (byPrev.put(n.prevKey, n).isDefined) return None // two records share a prev
    }
    if (heads.size != 1) return None // no head or forked chain
    val out = scala.collection.mutable.ArrayBuffer.empty[ChainNode]
    var cur: ChainNode = heads.head
    while (cur != null && out.size <= states.size) {
      out += cur
      cur = byPrev.getOrElse(cur.key, null)
    }
    if (out.size != states.size) None // cycle or unreachable tail
    else Some(out.toSeq ++ sortedOthers)
  }
}
