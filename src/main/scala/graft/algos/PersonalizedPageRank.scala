package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.Adjacency

/** Personalized (topic-sensitive) PageRank: identical recurrence to
  * `PageRank.run` (the reference's `pagerank_3f`,
  * `/root/reference/notebooks/Pagerank Demo.ipynb` — sinks drop out, no
  * redistribution), except the uniform teleport scalar becomes a teleport
  * VECTOR concentrated on a seed set S:
  *
  *   r0 = e_S / |S| ;  tp = (1-damping) · e_S / |S|
  *   loop: r = tp + damping · Aᵀ(r/d_out)
  *
  * Spark-first shape: the per-vertex teleport is carried as a third state
  * column (`tp`) and used as `Fixpoint.linear`'s base — the seed set is
  * broadcast-joined exactly ONCE at init, after which each iteration is
  * plain PageRank's plan with `col("tp")` in place of `lit(teleport)`. No
  * extra join, shuffle, or job per iteration.
  */
object PersonalizedPageRank {

  /** @param seeds single-column (`id`) DataFrame of teleport targets;
    *              assumed small (broadcast) and within [0, numVertices). */
  def run(spark: SparkSession, adj: Adjacency, seeds: DataFrame,
          damping: Double = 0.85, tol: Double = 1e-4,
          maxIter: Int = 100): PageRankResult = {
    val sd = seeds.select(col("id").as("_sid")).distinct()
    val nSeeds = sd.count()
    require(nSeeds > 0, "personalized PageRank needs a non-empty seed set")

    val init = spark.range(adj.numVertices).repartition(adj.numPartitions, col("id"))
      .join(broadcast(sd), col("id") === col("_sid"), "left_outer")
      .select(col("id"),
        when(col("_sid").isNotNull, lit(1.0 / nSeeds)).otherwise(lit(0.0)).as("v"),
        when(col("_sid").isNotNull, lit((1.0 - damping) / nSeeds))
          .otherwise(lit(0.0)).as("tp"))
    val (scores, iters) = Fixpoint.linear(adj, init, col("tp"),
      col("v") * damping / col("deg"), tol, maxIter, checkpointer = None)
    PageRankResult(scores, iters, adj.numEdges * iters.toLong)
  }
}
