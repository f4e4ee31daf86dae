package graft.tools

/** Dev tool: dump `.explain("formatted")` for named SparkEntry queries to
  * stdout (delimited per query) — feeds the plans/r06 before/after
  * artifacts. Runs on [[BenchSession]] so plan shapes match what the bench
  * executes. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = BenchSession()
    val dir = args(0)
    args.drop(1).foreach { n =>
      println(s"===== PLAN $n =====")
      try {
        val df = graft.SparkEntry.queries(n)(spark, dir)
        // queryExecution.explainString == df.explain("formatted") content
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch { case e: Throwable =>
        println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
      println(s"===== END $n =====")
    }
    spark.stop()
  }
}
