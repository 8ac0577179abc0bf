package graft.operators

import org.apache.spark.sql.DataFrame

/** The fixed-round loop the k-means, PageRank, k-hop and BPE operators
  * run on, and the one place its lineage policy lives: each round's output
  * is cut with an eager `localCheckpoint`. Without the cut, round i's plan
  * nests all i−1 prior round plans — the geometric lineage that hung the
  * driver in the round-4 dedup_semantic incident (PERF.md). The states are
  * small (centroids, node masses, a frontier, the BPE vocabulary), so the
  * cut is one SQL execution per round (under AQE its query stages run as
  * separate Spark jobs), and it cannot change a value.
  *
  * [[Components]] keeps its own loop: it is bounded by convergence, not by
  * a round count, and its parquet spill carries the fused convergence probe
  * and leaves no cached blocks behind, which a localCheckpoint cannot. */
object Iterate {

  /** Runs `n` rounds from `init`; returns states 0..n (state 0 is `init`
    * as given, states 1..n are checkpointed). `step` receives every state
    * so far, oldest first, and returns the next one — loops whose round
    * reads more than the last state (a BFS visited set) read it off the
    * sequence instead of threading it separately. */
  def rounds(init: DataFrame, n: Int)(
      step: IndexedSeq[DataFrame] => DataFrame): IndexedSeq[DataFrame] = {
    require(n >= 0, s"round count must be non-negative, got $n")
    (1 to n).foldLeft(IndexedSeq(init))((states, _) =>
      states :+ step(states).localCheckpoint())
  }
}
