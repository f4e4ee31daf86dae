package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{Ckpt, CkptState}
import graft.graph.Adjacency
import graft.runtime.IterationCheckpointer

/** The shared loop of the one-state iterative algorithms.
  *
  * Each round's plan is materialized via Ckpt (flat plan, O(1) planning cost
  * and O(1) storage in the iteration count) with its convergence metric
  * summed in the SAME job, and the previous round's blocks are released at
  * once. LP, SSSP and MinReach (SCC, BowTie and Boruvka's coloring) run on
  * [[converge]]; PageRank, personalized PageRank and Katz on [[linear]].
  * Loops with two states per round (FastSV), alternating roles (HITS, BFS,
  * MIS, Coloring) or no convergence metric (Eigenvector) keep their own
  * loops.
  */
object Fixpoint {

  /** Run `round` from `init` until `maxIter` rounds have run or the sum of
    * the round's `metric` column is `<= tol`. Returns the final
    * materialized state (the caller releases it; its columns are whatever
    * `round` produced, metric included) and the number of rounds run. */
  def converge(init: DataFrame, maxIter: Int, tol: Double, metric: String)
              (round: DataFrame => DataFrame): (CkptState, Int) =
    loop(Ckpt.materialize(init), 0, maxIter, tol, metric, (_, _, _) => ())(round)

  private def loop(init: CkptState, start: Int, maxIter: Int, tol: Double,
                   metric: String, save: (DataFrame, Int, Double) => Unit)
                  (round: DataFrame => DataFrame): (CkptState, Int) = {
    var state = init
    var iter = start
    var m = Double.PositiveInfinity
    while (iter < maxIter && m > tol) {
      val (next, s) = Ckpt.materializeWithSum(round(state.df), metric)
      state.release()
      state = next
      m = s
      iter += 1
      save(state.df, iter, m)
    }
    (state, iter)
  }

  /** The linear fixpoint x ← base + Aᵀ·factor(x) over the dense state
    * (id, v, carried...) — PageRank, personalized PageRank and Katz. `base`
    * and `factor` are columns over the state (`factor` may also read the
    * adjacency's `deg`); state columns other than id and v are carried
    * through every round unchanged. Stops after `maxIter` rounds or when
    * the L1 change Σ|x' − x| is `<= tol`; a checkpointer resumes from its
    * latest snapshot and saves every round with that change as `rdiff`.
    * Returns the final (id, v) and the iteration count.
    *
    * With tol = 0 and no checkpointer the caller asked for exactly maxIter
    * rounds, so no per-round metric is needed: TWO chained steps run per
    * materialized job. Scores are identical to the single-step loop, but
    * the state write+read and the job/planning round-trip — the
    * parallelism-independent per-iteration cost that depresses the
    * high-core scaling legs (BENCH/BASELINE.md 8→32) — are paid half as
    * often. An odd remaining round runs through the metric loop. */
  def linear(adj: Adjacency, init: DataFrame, base: Column, factor: Column,
             tol: Double, maxIter: Int,
             checkpointer: Option[IterationCheckpointer]): (DataFrame, Int) = {
    val (start, first) = checkpointer.flatMap(_.latest(init.sparkSession)) match {
      case Some((it, df)) => (it, df.repartition(adj.numPartitions, col("id")))
      case None => (0, init)
    }

    // One step as a PLAN over the cached state `t`: gather from `prev`, then
    // dense completion against t's ids (exactly 0..n-1 every round) and
    // carried columns. `prev` is referenced exactly once, so steps chain
    // into a linear plan; referencing it twice would recompute its whole
    // subtree into both branches (the measured MinReach double-step failure
    // mode). `_d` is the round's L1 change; for a single step prev == t.
    // t is deliberately NOT aliased: a qualified output id no longer matches
    // the rewrap's output attribute, so the next state would lose its hash
    // partitioning on id and every later round would re-shuffle t.
    def step(t: DataFrame)(prev: DataFrame): DataFrame = {
      val carried = t.columns.filterNot(Set("id", "v", "_d")).map(col).toSeq
      val v = base + coalesce(col("g"), lit(0.0))
      t.select(col("id") +: carried :+ col("v").as("_ov"): _*)
        .join(adj.gather(prev, factor), col("id") === col("dst"), "left_outer")
        .select(col("id") +: v.as("v") +: carried :+ abs(v - col("_ov")).as("_d"): _*)
    }

    var state = Ckpt.materialize(first)
    var iter = start
    val exactIters = tol == 0.0 && checkpointer.isEmpty
    while (exactIters && maxIter - iter >= 2) {
      val t = state.df
      // `_d` selected away: Catalyst prunes its expression from the job
      val next = Ckpt.materialize(step(t)(step(t)(t)).drop("_d"))
      state.release()
      state = next
      iter += 2
    }
    val save = (df: DataFrame, it: Int, d: Double) =>
      checkpointer.foreach(_.save(df.drop("_d"), it, Map("rdiff" -> d.toString)))
    val (last, iters) = loop(state, iter, maxIter, tol, "_d", save)(t => step(t)(t))
    (last.df.select(col("id"), col("v")), iters)
  }
}
