package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftPlanBridge.rebase

/** The state of an iterative operator's loop between rounds.
  *
  * Every round's frame is persisted and materialized, and the superseded
  * round is released only AFTER its successor is materialized — the
  * successor's plan reads it. [[step]] also rebases the new round onto its
  * cached rows, so the analyzer never walks a depth-`rounds` plan chain.
  * When the loop ends, [[survivor]] hands only the surviving round to the
  * caller's [[CacheScope]]; superseded rounds are already released.
  */
final class RoundState private (private var held: Option[DataFrame],
                                private var cur: DataFrame) {

  /** The frame the next round reads. */
  def current: DataFrame = cur

  /** Advance to `next`: persist it, materialize it with one `count()`,
    * release the superseded round and rebase the plan. Returns the count.
    */
  def step(next: DataFrame): Long = {
    val n = advance(next)(_.count())
    cur = rebase(cur)
    n
  }

  /** [[step]] without the rebase, materializing with `materialize` (one
    * action over the persisted `next`, such as the count of a derived
    * frame) and returning its value. The current frame is the persisted
    * `next` itself, for loops that rebase only on some rounds.
    */
  def advance(next: DataFrame)(materialize: DataFrame => Long): Long = {
    val p = next.persist()
    val n = materialize(p)
    held.foreach(_.unpersist(blocking = false))
    held = Some(p)
    cur = p
    n
  }

  /** Register the surviving round in `scope` and return the current frame. */
  def survivor(scope: CacheScope): DataFrame = {
    held.foreach(scope.track(_))
    held = None
    cur
  }
}

object RoundState {

  /** Start from a frame the loop owns: persisted here, it is
    * materialized by the first round (or by the loop's own action on
    * [[RoundState.current]]) and released like any superseded round. The
    * start is not rebased: its plan is still shallow, and the cached
    * frame keeps its output partitioning for the first round's joins.
    */
  def apply(start: DataFrame): RoundState = {
    val p = start.persist()
    new RoundState(Some(p), p)
  }

  /** Start from a frame the loop does not own, such as its caller's
    * input: it is never persisted or released here.
    */
  def borrowed(start: DataFrame): RoundState = new RoundState(None, start)
}
