package graft.tools

/** Extra benchmark (guide §1.4): times named SparkEntry queries with the
  * NOOP SINK (`format("noop")`), which computes every column of every row —
  * unlike Bench's frozen `count()` action, which can let Catalyst prune
  * projection-heavy work. Reports min-of-N per query as one JSON line.
  * Bench.scala itself is frozen for measurement; this main exists so
  * OPTIMIZATION_r06.md can cite sink-independent computation times.
  *
  *   SPARK_GRAFT_CPUS=32 tools/run_verify.sh graft.tools.BenchExtra \
  *     /root/testdata/sf0.1 2 pagerank coloring ...
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val spark = BenchSession()
    val dir = args(0)
    val reps = args(1).toInt
    val out = args.drop(2).map { n =>
      val times = (1 to reps).map { _ =>
        spark.sparkContext.setJobDescription(s"benchextra: $n")
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      spark.sparkContext.setJobDescription(null)
      n -> times.min
    }
    val qJson = out.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"noop_min_of_$reps","unit":"sec","queries":$qJson,"sf":"$dir"}""")
    spark.stop()
  }
}
