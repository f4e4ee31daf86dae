package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Ckpt
import graft.graph.Adjacency

final case class EigenvectorResult(scores: DataFrame, iterations: Int)

/** Eigenvector centrality by power iteration on (I + Aᵀ): per round
  * x(v) ← x(v) + Σ_{u→v} x(u), the NetworkX/graphblas-algorithms update
  * (an in-edge confers centrality on its target; the +I shift damps the
  * period-2 oscillation a bipartite component would feed pure power
  * iteration). In reference terms this is the same `plus_times` mxv the
  * PageRank demo loops (`/root/reference/graphblas/core/matrix.py` mxv;
  * cf. Katz — identical recurrence with the β floor replaced by the +x(v)
  * shift), accumulated with `plus`.
  *
  * Normalization: the recurrence is LINEAR, so the per-round L2 rescale the
  * textbook loop applies only changes the vector's length, never its
  * direction — x_k/.‖x_k‖ = (I+Aᵀ)^k x₀ / ‖(I+Aᵀ)^k x₀‖ exactly. The loop
  * therefore runs unnormalized (one fused materialization per round, no
  * extra norm job) and divides by the L2 norm ONCE at the end, via a 1×1
  * cross join — not a driver collect, not a global window. FP64 headroom:
  * the unnormalized magnitude grows like (1+λ_max)^k ≤ (1+Δ)^k; for the
  * default 5 rounds that overflows only past Δ ≈ 10^61 — unreachable.
  *
  * Spark-first shape: `Adjacency.gather` with factor x(u), as in [[Katz]].
  * The step reads `prev` twice (gather and the +x(v) shift), so rounds
  * cannot chain two per job and the loop stays its own.
  *
  * Fixed `maxIter` rounds (the oracle-unroll discipline shared with
  * `pagerank_iter5`/`katz_centrality`). Output (id, v), ‖v‖₂ = 1.
  */
object Eigenvector {

  def run(spark: SparkSession, adj: Adjacency,
          maxIter: Int = 5): EigenvectorResult = {
    val n = adj.numVertices
    val p = adj.numPartitions

    var state = Ckpt.materialize(
      spark.range(n).repartition(p, col("id"))
        .select(col("id"), lit(1.0 / n).as("v")))
    var iter = 0
    while (iter < maxIter) {
      val t = state.df
      val gathered = adj.gather(t, col("v"))
      val stepped = t
        .join(gathered, t("id") === gathered("dst"), "left_outer")
        .select(col("id"), (col("v") + coalesce(col("g"), lit(0.0))).as("v"))
      val newState = Ckpt.materialize(stepped)
      state.release()
      state = newState
      iter += 1
    }
    val norm = state.df.agg(sqrt(sum(col("v") * col("v"))).as("_n"))
    val scores = state.df.crossJoin(norm)
      .select(col("id"), (col("v") / col("_n")).as("v"))
    EigenvectorResult(scores, iter)
  }
}
