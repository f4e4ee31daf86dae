package graft.tools

import org.apache.spark.sql.functions._

/** Memory-headroom stress leg (VERDICT r5 item 4): run the three
  * representative heavy operators — pagerank, connected_components,
  * dedup_exact — on a 10× bench-scale input (sf1-shaped: 6M lineitem rows,
  * 50k documents) through [[JobProbe]]'s per-query loop (one rep), which
  * records wall time, PEAK task execution memory, memory/disk spill and
  * shuffle write. This is a separate dev main (Bench.scala is frozen); its
  * numbers are cited in BENCH/BASELINE.md.
  *
  * The input is synthesized DETERMINISTICALLY from the sf0.1 fixtures: ten
  * copies, copy i with its join keys shifted by i·10⁷ (lineitem) / doc_id
  * shifted by i·10⁶ and text prefixed "c<i>|" (documents) — so the derived
  * graph keeps the fixture's degree shape at 10× the rows and the dedup
  * corpus keeps the intra-copy duplicate structure. The dir is named
  * `.../sf1` so SparkEntry's scale parsing derives the sf1 vertex modulus
  * (31536) and input-sized partition counts, exactly as a real sf1 input
  * would. Synthesized under target/ and reused if present (fixture data,
  * not result caching — every measured query recomputes from parquet).
  *
  * The fixture keeps only the columns these three queries read (lineitem
  * l_orderkey/l_partkey, documents doc_id/text), so it supports ONLY
  * pagerank, connected_components and dedup_exact; extending the leg to
  * another query means replicating that query's columns too.
  *
  * Usage: StressLeg [baseSfDir] [outDir]
  */
object StressLeg {

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/root/repo/target/stress/sf1"
    val spark = BenchSession()

    if (!new java.io.File(out + "/_DONE").exists()) {
      val li = spark.read.parquet(s"$base/lineitem.parquet")
      val docs = spark.read.parquet(s"$base/documents.parquet")
      val li10 = (0 until 10).map { i =>
        li.select((col("l_orderkey") + lit(i * 10000000L)).as("l_orderkey"),
          (col("l_partkey") + lit(i * 10000000L)).as("l_partkey"),
          col("l_suppkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"),
          col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      }.reduce(_ union _)
      li10.repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      val docs10 = (0 until 10).map { i =>
        docs.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
          concat(lit(s"c$i|"), col("text")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ union _)
      docs10.repartition(8).write.mode("overwrite").parquet(s"$out/documents.parquet")
      new java.io.File(out + "/_DONE").createNewFile()
    }

    val heapMax = Runtime.getRuntime.maxMemory() / 1e9
    println(f"[stress] input=$out cpus=${BenchSession.cpus} heapMax=$heapMax%.1fGB")
    JobProbe.run(spark, out, Seq("pagerank", "connected_components", "dedup_exact"), reps = 1)
    spark.stop()
  }
}
