package graft.operators

/** The ONE windowed-funnel fold shared by batch q44/q48 and streaming
  * st26/st29 (ClickHouse `windowFunnel`'s semantics — see the q44
  * Scaladoc for the max-first dominance argument that makes the greedy
  * EXACT).
  *
  * The fold is K-GENERIC (ClickHouse's windowFunnel takes an arbitrary
  * event chain, not a fixed triple): the state per user is K longs —
  * per level, the MAX first-event time over chains reaching it
  * (Long.MinValue = unreached). [[stepK]] advances the state by ONE
  * event; dominance is inductive in K: among chains reaching level j,
  * the one with the max FIRST time is extendable whenever any is,
  * because the only constraints on the next event are arrival order
  * (it is processed later) and ts ≤ first + W. Everything else is
  * iteration order:
  *
  *  - batch q44/q48 cluster events by user (repartition) and
  *    secondary-sort (sortWithinPartitions), then [[levelsByUserK]]
  *    streams the partition iterator — NO per-user buffering, so a hot
  *    user with 10^8 events costs K longs of state, never a multi-GB
  *    array (the round-9 `sort_array(collect_list)` spelling OOMs
  *    exactly there);
  *  - streaming st26/st29 receive each micro-batch's per-user group,
  *    sort the BATCH slice (batch-bounded, not history-bounded) and fold
  *    it into the carried K-long state via [[foldFunnelK]] — the same
  *    [[stepK]] transition, so batch and stream cannot drift.
  */
object Funnel {
  final case class FEv(user_id: Long, event_id: Long, ts_us: Long,
    y: String)
  final case class UserFunnel(user_id: Long, funnel_level: Long)

  /** q44/st26's classic 3-step chain. */
  val chain3: Seq[String] = Seq("view", "click", "purchase")

  def unreachedK(k: Int): Array[Long] = Array.fill(k)(Long.MinValue)

  /** One event against the K-long greedy state, IN PLACE: a level-0
    * event raises slot 0 to its own ts; a level-j event extends when a
    * chain reaches j-1 and the event sits inside the W window measured
    * from that chain's FIRST event — the new slot-j value is the
    * extended chain's first time (slot j-1), max-folded. Events MUST
    * arrive in (ts_us, event_id) order. */
  def stepK(wUs: Long, levelOf: Map[String, Int], st: Array[Long],
      e: FEv): Unit =
    levelOf.get(e.y) match {
      case Some(0) => st(0) = math.max(st(0), e.ts_us)
      case Some(j) if st(j - 1) != Long.MinValue &&
          e.ts_us - st(j - 1) <= wUs =>
        st(j) = math.max(st(j), st(j - 1))
      case _ => ()
    }

  /** Deepest reached level of a K-long state. */
  def levelK(st: Array[Long]): Long = {
    var k = st.length - 1
    while (k >= 0 && st(k) == Long.MinValue) k -= 1
    (k + 1).toLong
  }

  /** The micro-batch fold (st26/st29's transition): sort ONE batch's
    * per-user slice and advance the carried K-long state in place.
    * Bounded by one batch's events for one user — the
    * mapGroupsWithState contract — never by the user's history. Returns
    * the same array for re-storage as stream state. */
  def foldFunnelK(wUs: Long, levelOf: Map[String, Int], st: Array[Long],
      evs: Iterator[FEv]): Array[Long] = {
    evs.toIndexedSeq.sortBy(e => (e.ts_us, e.event_id))
      .foreach(e => stepK(wUs, levelOf, st, e))
    st
  }

  /** The batch funnel kernel, K-generic: one pass over a partition
    * iterator that is clustered by user_id and secondary-sorted by
    * (ts_us, event_id) within each user. Emits one (user, level) row
    * per user, holding only the CURRENT user's K-long state — the
    * mapPartitions form of a secondary-sort reduce, the scale-safe
    * plan for hot users. */
  def levelsByUserK(wUs: Long, chain: Seq[String],
      rows: Iterator[FEv]): Iterator[UserFunnel] = {
    val levelOf = chain.zipWithIndex.toMap
    new Iterator[UserFunnel] {
      private val it = rows.buffered
      override def hasNext: Boolean = it.hasNext
      override def next(): UserFunnel = {
        val uid = it.head.user_id
        val st = unreachedK(chain.length)
        while (it.hasNext && it.head.user_id == uid)
          stepK(wUs, levelOf, st, it.next())
        UserFunnel(uid, levelK(st))
      }
    }
  }
}
