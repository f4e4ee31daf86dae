package graft

/** Smoke runner: exercises the flagship entry pipeline end-to-end and prints
  * a few scores — mirrors the driver's rows>0 check. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.tools.BenchSession()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows=$n")
    df.orderBy(org.apache.spark.sql.functions.desc("v")).show(5, false)
    val sum = df.agg(org.apache.spark.sql.functions.sum("v")).collect()(0).getDouble(0)
    println(f"[smoke] score mass=$sum%.6f (should be <= 1, < 1 when sinks exist)")
    spark.stop()
  }
}
