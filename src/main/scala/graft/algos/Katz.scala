package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.Adjacency

final case class KatzResult(scores: DataFrame, iterations: Int)

/** Katz centrality: x(v) = β + α·Σ_{u→v} x(u), iterated to a fixed point —
  * the attenuated-path-count centrality (x = Σ_k α^k (Aᵀ)^k β·1). In
  * reference terms this is the same `plus_times` mxv recurrence PageRank
  * runs (`vector << semiring(A.T @ x)` with a scalar accumulate), just
  * without the out-degree prescale — the reference expresses it with the
  * identical kernels (cf. `/root/reference/graphblas/core/matrix.py` mxv
  * and the Pagerank demo notebook's loop shape).
  *
  * Spark-first shape: `Fixpoint.linear` with `base = β` and per-source
  * factor α·x(u).
  *
  * Convergence requires α < 1/λ_max(A); with tol = 0 the loop runs exactly
  * `maxIter` rounds of the recurrence (the oracle-unroll discipline shared
  * with `pagerank_iter5`).
  */
object Katz {

  def run(spark: SparkSession, adj: Adjacency, alpha: Double = 0.01,
          beta: Double = 1.0, tol: Double = 1e-9,
          maxIter: Int = 50): KatzResult = {
    val init = spark.range(adj.numVertices).repartition(adj.numPartitions, col("id"))
      .select(col("id"), lit(beta).as("v"))
    val (scores, iters) = Fixpoint.linear(adj, init, lit(beta), col("v") * alpha,
      tol, maxIter, checkpointer = None)
    KatzResult(scores, iters)
  }
}
