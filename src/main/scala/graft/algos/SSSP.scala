package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Single-source shortest paths over the min_plus semiring — the reference's
  * introductory algorithm (`/root/reference/notebooks/Intro to GraphBLAS +
  * SSSP example.ipynb`): Bellman-Ford relaxation
  *
  *   d(0) = {source → 0}
  *   loop: d(min) << min_plus(Aᵀ @ d)   — relax every edge
  *   stop when d unchanged (or n-1 rounds)
  *
  * Weighted edges (src, dst, w). Each round is one gather join + min
  * aggregation + a min accumulate merge; change detection is fused into the
  * state materialization.
  */
object SSSP {

  def run(spark: SparkSession, edges: DataFrame, source: Long, numPartitions: Int,
          maxIter: Int = 64): DataFrame = {
    import spark.implicits._
    val e = edges.repartition(numPartitions, col("src"))
      .sortWithinPartitions("src").persist() // sorted once: SMJ reuses it per round
    e.count()
    val (dist, _) = Fixpoint.converge(Seq((source, 0.0)).toDF("id", "v"), maxIter,
        0.0, "_chg") { d =>
      // relax: cand(j) = min over in-edges (i,j) of d(i) + w(i,j)
      val dl = d.select(col("id").as("_i"), col("v").as("_dv"))
      val cand = e.join(dl, col("src") === col("_i"))
        .groupBy(col("dst").as("id")).agg(min(col("_dv") + col("w")).as("v"))
      // ONE full-outer join does the min-accumulate merge AND the change
      // flag (the old shape re-joined the merged result against the prior
      // state — a second join + exchange per round carrying no new
      // information: both operands are already present in the merge)
      d.select(col("id"), col("v").as("_pv"))
        .join(cand.select(col("id"), col("v").as("_cv")), Seq("id"), "full_outer")
        .select(col("id"),
          least(col("_pv"), coalesce(col("_cv"), col("_pv"))).as("v"),
          when(col("_pv").isNull || col("_cv") < col("_pv"), 1.0)
            .otherwise(0.0).as("_chg"))
    }
    e.unpersist()
    dist.df.select(col("id"), col("v").as("dist"))
  }
}
