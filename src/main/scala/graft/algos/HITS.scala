package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Ckpt
import graft.graph.Adjacency

final case class HitsResult(scores: DataFrame, iterations: Int)

/** Kleinberg HITS over the semiring substrate: per iteration
  *
  *   a = normalize₂(Aᵀ h)   (authority: plus_second gather over IN-edges)
  *   h = normalize₂(A a)    (hub:       plus_second gather over OUT-edges)
  *
  * — two `plus_second`-semiring mxv products (the same kernel family the
  * reference expresses them with) plus an L2 scalar reduction each.
  *
  * Spark-first shape: BOTH gathers are `Adjacency.gather`, each against its
  * own persisted CSR-bucket adjacency — the forward adjacency for the
  * authority step and the REVERSED (in-edge) adjacency for the hub step.
  * Building the transpose layout once at graph build (its own single
  * shuffle) is what keeps every iteration free of edge-scale shuffles in
  * both directions; per iteration only the two small score vectors and
  * their map-side-combined partials move.
  *
  * The L2 normalization never materializes a scaled vector: each gather's
  * sum-of-squares rides the SAME job that materializes the raw sums
  * (Ckpt.materializeWithSum), and the resulting norm is applied as a
  * driver-side constant divisor inside the NEXT gather's projection — two
  * jobs per iteration total, the same count as a PageRank step pair.
  *
  * Missing = absent throughout: a vertex with no in-edges has NO authority
  * entry (not an explicit 0), and a sink has no hub entry — GraphBLAS
  * sparsity semantics, which the full-outer final join preserves.
  */
object HITS {

  /** @param adjOut adjacency of (src → dst) edges, as built by `Adjacency`
    * @param adjIn  adjacency of the REVERSED edges (dst → src) */
  def run(spark: SparkSession, adjOut: Adjacency, adjIn: Adjacency,
          maxIter: Int = 20): HitsResult = {
    val n = adjOut.numVertices
    val p = adjOut.numPartitions

    /** one UNNORMALIZED gather of `scores/divisor`: raw per-neighbor sums
      * plus their sum-of-squares in a single materialization pass. */
    def gather(adj: Adjacency, scores: DataFrame, divisor: Double) = {
      val raw = adj.gather(scores, col("v") / divisor)
        .select(col("dst").as("id"), col("g").as("v"), (col("g") * col("g")).as("_sq"))
      val (st, sumSq) = Ckpt.materializeWithSum(raw, "_sq")
      (st, math.sqrt(sumSq))
    }

    // h0 = uniform unit-L2 vector over the full universe (raw, norm 1)
    var hState = Ckpt.materialize(
      spark.range(n).repartition(p, col("id"))
        .select(col("id"), lit(1.0 / math.sqrt(n.toDouble)).as("v")))
    var hNorm = 1.0
    var aState = hState // replaced on first iteration
    var aNorm = 1.0
    var iter = 0
    while (iter < maxIter) {
      val (aNew, an) = gather(adjOut, hState.df, hNorm)
      if (iter > 0) aState.release()
      aState = aNew; aNorm = an
      val (hNew, hn) = gather(adjIn, aState.df, aNorm)
      hState.release()
      hState = hNew; hNorm = hn
      iter += 1
    }

    val out = hState.df.select(col("id"), (col("v") / hNorm).as("hub"))
      .join(aState.df.select(col("id"), (col("v") / aNorm).as("authority")),
        Seq("id"), "full_outer")
    HitsResult(out, iter)
  }
}
