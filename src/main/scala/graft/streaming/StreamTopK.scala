package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One heavy-hitter counter: estimate and its maximum overestimate. */
case class TokenEstimate(grp: Int, token: String, est: Long, err: Long)

/** Per-group SpaceSaving sketch: token → (est, err). */
case class SpaceSavingSketch(counters: Map[String, (Long, Long)])

/** st11_stream_topk — streaming heavy hitters: the most frequent tokens
  * over an unbounded token stream with bounded state, via the
  * SpaceSaving algorithm (Metwally, Agrawal, El Abbadi, ICDT 2005)
  * inside `flatMapGroupsWithState`. Batch twins: t11 (Count-Min heavy
  * hitters) and exact t6 — this is their "what's trending in the feed
  * RIGHT NOW" form, the last §2.H sketch the streaming surface lacked.
  *
  * Tokens hash-partition into `groups` independent sketches (a token
  * lives in exactly one group, so the global top-k is a union + sort of
  * the per-group emissions — no cross-group double counting). Each
  * group's state is ≤ `capacity` counters carrying SpaceSaving's
  * guarantee true ≤ est ≤ true + err; every true heavy hitter above
  * stream_len/capacity is retained. State is O(groups × capacity)
  * TOTAL — independent of vocabulary and stream length — and groups
  * spread update work across executors (the same key-salting lever as
  * everywhere else: groups ≥ cores ⇒ full parallelism).
  *
  * Each micro-batch emits the refreshed sketch snapshot of every group
  * that saw data (Update mode — the st7 dashboard-feed contract; a
  * token's est is monotone across emissions, so "latest per token" is
  * well-defined downstream).
  */
object StreamTopK {

  /** Pure SpaceSaving step: hit an existing counter, fill a free slot,
    * or displace the minimum counter (inheriting its estimate as the
    * new token's overestimate bound). Deterministic min-tie-break on
    * the token so replays are bit-stable. */
  private[streaming] def update(counters: Map[String, (Long, Long)],
      token: String, capacity: Int): Map[String, (Long, Long)] =
    counters.get(token) match {
      case Some((est, err)) => counters.updated(token, (est + 1, err))
      case None if counters.size < capacity => counters.updated(token, (1L, 0L))
      case None =>
        val (mTok, (mEst, _)) = counters.minBy { case (t, (e, _)) => (e, t) }
        (counters - mTok).updated(token, (mEst + 1, mEst))
    }

  /** Run the sketch over a streaming Dataset of tokens. */
  def topK(tokens: Dataset[String], groups: Int = 8,
      capacity: Int = 64): Dataset[TokenEstimate] = {
    import tokens.sparkSession.implicits._
    tokens.groupByKey(t => math.floorMod(t.hashCode, groups))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (grp: Int, toks: Iterator[String], state: GroupState[SpaceSavingSketch]) =>
          var counters = state.getOption.map(_.counters).getOrElse(
            Map.empty[String, (Long, Long)])
          toks.foreach { t => counters = update(counters, t, capacity) }
          state.update(SpaceSavingSketch(counters))
          counters.iterator.map { case (t, (est, err)) =>
            TokenEstimate(grp, t, est, err)
          }
      }
  }
}
