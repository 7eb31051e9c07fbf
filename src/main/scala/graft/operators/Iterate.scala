package graft.operators

import org.apache.spark.sql.DataFrame
import scala.annotation.tailrec

/** The driver loop of every iterative DataFrame query (Pregel's superstep
  * loop with `maxIterations`, without the RDD API): a round maps the loop
  * state to the next state, and the helper truncates each round's lineage.
  *
  * Truncation. Each round's state is `localCheckpoint`ed, or round r's plan
  * would embed the whole input pipeline plus r-1 rounds of joins: analysis
  * and planning grow every round, and a partial evaluation replays it all
  * (this took q55 from 20 s to about 2 s at sf0.1, LSH aside). A checkpoint,
  * not a `persist`: nested `InMemoryRelation`s are re-planned every round,
  * which dominated q297 (13.8 s → 3.9 s at sf0.1). Whether the checkpoint is
  * eager or lazy follows from the loop kind:
  *   - [[fixed]] has no probe to materialize its state, so it checkpoints
  *     eagerly (q203 measured this faster at sf0.1 than a lazy or no
  *     checkpoint).
  *   - [[untilFixpoint]] checkpoints lazily, and the probe job materializes
  *     the state; an eager checkpoint would run one more job per round to
  *     write the blocks the probe then reads (about 15 % of q55 at sf0.1).
  *     A step that reads an intermediate twice checkpoints it eagerly
  *     itself (q194's large-star edges): a lazy one would be computed by
  *     both branches of the probe job, which measured 8–24 % slower.
  *
  * Under adaptive execution a checkpoint runs its shuffle stages when it is
  * taken, eager or lazy; only the final stage waits for the first action.
  */
object Iterate {

  /** Runs `step` exactly `n` times from `init` and returns the last state. */
  def fixed(n: Int, init: DataFrame)(step: DataFrame => DataFrame): DataFrame =
    (1 to n).foldLeft(init)((state, _) => step(state).localCheckpoint())

  /** Runs `step` from `init` until `stable(previous, next)` holds, and
    * returns that state. The probe runs on every `probeEvery`-th round and
    * at round `cap`: each probe is a driver-side barrier, and a round run
    * past the fixpoint leaves the state as it is, so skipping probes
    * changes no result. Throws `IllegalStateException` if the state still
    * changes at round `cap`. */
  def untilFixpoint(cap: Int, probeEvery: Int, init: DataFrame)(
      step: DataFrame => DataFrame)(stable: (DataFrame, DataFrame) => Boolean): DataFrame = {
    @tailrec def round(r: Int, state: DataFrame): DataFrame = {
      val next = step(state).localCheckpoint(false)
      val probed = r % probeEvery == 0 || r == cap
      if (probed && stable(state, next)) next
      else if (r == cap) throw new IllegalStateException(
        s"no fixpoint after $r rounds: the state still changed at the cap of $cap rounds")
      else round(r + 1, next)
    }
    round(1, init)
  }
}
