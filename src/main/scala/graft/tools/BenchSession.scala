package graft.tools

import org.apache.spark.sql.SparkSession

/** The one session conf of the dev tools: Bench.scala's query-phase conf
  * exactly, so times and plan shapes transfer to the bench — local[cpus],
  * shuffle partitions = cpus, UTC, UI off, tmpfs shuffle dirs, 2g result
  * size, ERROR logging. `cpus` is SPARK_GRAFT_CPUS, else every core of the
  * machine. GRAFT_PROBE_CONF adds comma-separated confs for A/B probing,
  * e.g. GRAFT_PROBE_CONF="spark.sql.adaptive.enabled=false".
  */
object BenchSession {
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(): SparkSession = {
    new java.io.File("/dev/shm/graft-spark").mkdirs()
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .config("spark.driver.maxResultSize", "2g")
    sys.env.get("GRAFT_PROBE_CONF").foreach(_.split(',').filter(_.nonEmpty)
      .foreach { kv => val Array(k, v) = kv.split("=", 2); b.config(k, v) })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
