package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.Adjacency
import graft.runtime.IterationCheckpointer

final case class PageRankResult(scores: DataFrame, iterations: Int,
                                edgesTraversed: Long)

/** PageRank with the reference's exact `pagerank_3f` semantics
  * (`/root/reference/notebooks/Pagerank Demo.ipynb`):
  *
  *   teleport = (1-damping)/n ; r = 1/n
  *   d = d_out / damping                       (prescale, once)
  *   loop: w = t / d                           (ewise_mult truediv — sinks,
  *                                              having no d entry, drop out:
  *                                              NO sink redistribution)
  *         r = teleport ; r += A'w (plus_second semiring)
  *         rdiff = sum |t - r| ; stop when rdiff <= tol
  *
  * Spark-first shape: the `A'w` gather is `Adjacency.gather` on the
  * persisted CSR-bucket adjacency with per-source factor `score*damping/deg`,
  * driven by `Fixpoint.linear` with `base = teleport` — each iteration
  * shuffles only the small score vector plus the map-side-combined per-dst
  * partial sums; the adjacency is never reshuffled after build.
  *
  * We compute in FP64 rather than the notebook's FP32 (documented
  * divergence: FP64 is strictly closer to the true recurrence, and the
  * 1e-6 allclose parity gate is checked against the exact recurrence).
  */
object PageRank {

  def run(spark: SparkSession, adj: Adjacency, damping: Double = 0.85,
          tol: Double = 1e-4, maxIter: Int = 100,
          checkpointer: Option[IterationCheckpointer] = None): PageRankResult = {
    val n = adj.numVertices
    // hash-partitioned like every later state: the rewrap preserves it, so
    // even iteration 1 joins the adjacency with zero score shuffle
    val init = spark.range(n).repartition(adj.numPartitions, col("id"))
      .select(col("id"), lit(1.0 / n).as("v"))
    val (scores, iters) = Fixpoint.linear(adj, init, lit((1.0 - damping) / n),
      col("v") * damping / col("deg"), tol, maxIter, checkpointer)
    PageRankResult(scores, iters, adj.numEdges * iters.toLong)
  }
}
