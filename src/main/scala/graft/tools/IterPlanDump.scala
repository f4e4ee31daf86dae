package graft.tools

import org.apache.spark.sql.GraftSqlShims
import graft.SparkEntry
import graft.graph.Adjacency
import graft.algos.PageRank

/** Dev tool: dump the MATERIALIZED per-iteration plan of the PageRank loop
  * (the final result's explain only shows the flat Ckpt rewrap, so the loop
  * body's physical plan is invisible to PlanDump). Captures via the same
  * GraftSqlShims hook PlanSpec pins, on [[BenchSession]], for both
  * loop paths:
  *   - convergence path (tol > 0): one step per materialization
  *   - exact-iteration path (tol == 0): two chained steps per materialization
  * Usage: IterPlanDump <sfDir>
  */
object IterPlanDump {
  def main(args: Array[String]): Unit = {
    val spark = BenchSession()
    val dir = args(0)
    val adj = Adjacency.build(SparkEntry.edgesG(spark, dir),
      SparkEntry.gmod(dir), SparkEntry.gparts(spark, dir))
    GraftSqlShims.captureMaterializedPlans = true
    try {
      PageRank.run(spark, adj, damping = 0.85, tol = 1e-300, maxIter = 2)
      println("===== PLAN pagerank iteration (convergence path, 1 step/job) =====")
      GraftSqlShims.lastMaterializedPlan.foreach(println)
      println("===== END =====")
      PageRank.run(spark, adj, damping = 0.85, tol = 0.0, maxIter = 2)
      println("===== PLAN pagerank iteration (exact-iteration path, 2 steps/job) =====")
      GraftSqlShims.lastMaterializedPlan.foreach(println)
      println("===== END =====")
    } finally {
      GraftSqlShims.captureMaterializedPlans = false
      GraftSqlShims.lastMaterializedPlan = None
      adj.unpersist()
    }
    spark.stop()
  }
}
