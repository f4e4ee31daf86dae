package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** JVM side of the benchmark: one closed loop with one client. The driver
  * thread makes one call at a time into the engine's public entry points;
  * nothing else generates load. Launched by `perfbench/run.py`, which owns
  * the command line contract; this program writes `result.json` (and, when
  * traced, `spans.json`) into its run directory.
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1> --run-dir <dir>
  */
object Main {
  val Cores = 4
  val MB: Double = 1 << 20

  final class Pass(val traced: Boolean) {
    val calls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val extra = mutable.LinkedHashMap.empty[String, Double]
  }

  final class CheckFailed(msg: String) extends Exception(msg)

  def check(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)

  /** Counts attempts and failures of timed calls; spans are recorded only
    * while a tracer is set. */
  final class Harness(val spark: SparkSession, val runDir: String) {
    var tracer: Option[Tracer] = None
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    val reference = mutable.LinkedHashMap.empty[String, Double]

    def span[T](name: String)(body: Tracer.Span => T): T = tracer match {
      case Some(t) => t.span(name)(body)
      case None => body(Tracer.Span(-1, -1, name, 0.0))
    }

    /** Time `body` as one call; `verify` runs outside the timed region. A
      * thrown exception or failed check counts the call as failed. With a
      * null pass the call is a warm-up: verified, but neither timed nor
      * counted. */
    def timed[T](pass: Pass, metric: String)(body: => T)(verify: T => Unit): Option[T] = {
      if (pass != null) attempted += 1
      try {
        val t0 = System.nanoTime()
        val v = body
        val dt = (System.nanoTime() - t0) / 1e9
        if (pass != null) pass.calls.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += dt
        verify(v)
        Some(v)
      } catch {
        case e: Exception =>
          if (pass != null) failed += 1
          errors += s"$metric: ${e.getClass.getSimpleName}: ${e.getMessage}"
          if (pass == null) throw e
          None
      }
    }

    val setupPhases = mutable.LinkedHashMap.empty[String, Double]

    private def timeInto[T](into: mutable.Map[String, Double], name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val v = body
      into(name) = into.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
      v
    }

    /** A reference implementation's own single-threaded time, as context. */
    def referenceTimed[T](name: String)(body: => T): T = timeInto(reference, name)(body)

    /** A named part of setup, reported as context beside `setup_s`. */
    def setupPhase[T](name: String)(body: => T): T = timeInto(setupPhases, name)(body)

    /** Unpersist every cached RDD created since `keep` was taken. */
    def releaseExcept(keep: Set[Int]): Unit =
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!keep(id)) rdd.unpersist(blocking = true)
      }

    def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

    def cachedMb(except: Set[Int]): Double =
      spark.sparkContext.getRDDStorageInfo.filterNot(i => except(i.id))
        .map(i => i.memSize + i.diskSize).sum / MB
  }

  trait Workload {
    def setup(): Unit
    def pass(p: Pass): Unit
    /** Work after the last pass, outside every timed region. */
    def finish(): Map[String, Any] = Map.empty
  }

  def session(runDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$runDir/tmp")
      .config("spark.driver.maxResultSize", "2g")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0 = System.nanoTime()
    val bootS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val runDir = opts("run-dir")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    if (opts("workload") == "small-graph-queries") SmallGraphQueries.writeOracleSql(runDir)
    val sessionT0 = System.nanoTime()
    val spark = session(runDir)
    val h = new Harness(spark, runDir)
    h.setupPhases("jvm_boot_s") = bootS
    h.setupPhases("session_s") = (System.nanoTime() - sessionT0) / 1e9
    val workload: Workload = opts("workload") match {
      case "webgraph" => new Webgraph(h, opts("seed").toLong)
      case "small-graph-queries" => new SmallGraphQueries(h)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    workload.setup()
    val setupS = bootS + (System.nanoTime() - t0) / 1e9

    // Closed loop: whole passes until the measuring time is spent. A traced
    // run alternates traced and untraced passes, so the difference between
    // the two is the tracing overhead; the traced pass goes first, so any
    // warm-up left over counts against tracing, not for it.
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val passes = mutable.ArrayBuffer.empty[Pass]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (passes.isEmpty || System.nanoTime() < deadline || (traced && passes.size < 2)) {
      val p = new Pass(traced && passes.size % 2 == 0)
      if (p.traced) { tracer.foreach(_.attach()); h.tracer = tracer }
      try h.span("pass")(_ => workload.pass(p))
      finally if (p.traced) { h.tracer = None; tracer.foreach(_.detach()) }
      passes += p
    }
    val finished = workload.finish()
    tracer.foreach(t => Files.write(Paths.get(runDir, "spans.json"), t.json.getBytes("UTF-8")))

    val record = Map(
      "setup_s" -> setupS,
      "peak_rss_mb" -> peakRssMb(),
      "attempted" -> h.attempted,
      "failed" -> h.failed,
      "errors" -> h.errors.toSeq,
      "reference" -> h.reference.toMap,
      "setup_phases" -> h.setupPhases.toMap,
      "passes" -> passes.map(p => Map("traced" -> p.traced, "calls" -> p.calls.view.mapValues(_.toSeq).toMap,
        "extra" -> p.extra.toMap)).toSeq) ++ finished
    Files.write(Paths.get(runDir, "result.json"), Json.write(record).getBytes("UTF-8"))
    spark.stop()
  }
}

/** Webgraph workload: a seeded power-law page table goes through ingest,
  * CSR build and PageRank (the paper's headline); a seeded site-local page
  * table, ingested in setup into a symmetric edge table, feeds connected
  * components, label propagation and triangle count. */
final class Webgraph(h: Main.Harness, seed: Long) extends Main.Workload {
  import Main._
  import graft.ingest.Pages
  import graft.graph.Adjacency
  import graft.algos._

  private val spark = h.spark
  private val nPowerLaw = 20000
  private val nSiteLocal = 12000

  private var powerLaw: DataFrame = _
  private var plEdges = 0L
  private var refRank: Array[Double] = _
  private var refIters = 0
  private var sym: DataFrame = _
  private var symEdges = 0L
  private var refComponents: Array[Long] = _
  private var refLabels: Array[Long] = _
  private var refLpIters = 0
  private var refTriangles = 0L
  private var keep = Set.empty[Int]

  private def writePages(ps: PageSet, name: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("url", StringType), StructField("warc_ts", TimestampType),
      StructField("html", BinaryType), StructField("text", StringType), StructField("lang", StringType)))
    val rows = (0 until ps.size).map(i => Row(ps.urls(i), new java.sql.Timestamp(ps.warcTs(i) * 1000),
      ps.html(i), ps.texts(i), ps.langs(i)))
    val path = s"${h.runDir}/data/$name"
    spark.createDataFrame(rows.asJava, schema).write.parquet(path)
    val df = spark.read.parquet(path)
    // BASELINE input_hint: the text the engine extracts from html is
    // byte-identical, per url, to the text the generator embedded
    val byUrl = ps.urls.zip(ps.texts).toMap
    val extracted = Pages.extractText(df).collect()
    check(extracted.length == ps.size, s"$name: ${extracted.length} extracted rows, want ${ps.size}")
    val bad = extracted.count(r => !java.util.Arrays.equals(
      Option(r.getString(1)).map(_.getBytes("UTF-8")).orNull, byUrl(r.getString(0)).getBytes("UTF-8")))
    check(bad == 0, s"$name: extracted text differs for $bad urls")
    df
  }

  def setup(): Unit = {
    val (pl, sl) = h.setupPhase("generate_s")(
      (PageGen.powerLaw(nPowerLaw, seed), PageGen.siteLocal(nSiteLocal, seed)))
    powerLaw = h.setupPhase("write_check_s")(writePages(pl, "powerlaw"))
    val siteLocal = h.setupPhase("write_check_s")(writePages(sl, "sitelocal"))

    h.setupPhase("reference_s")(references(pl, sl))

    // fixture: the site-local symmetric edge table, built by the engine's
    // own ingest and cached, so no ingest runs inside the timed calls
    h.setupPhase("fixture_s") {
      val ids = Pages.idMap(siteLocal)
      val e = Pages.edges(siteLocal, ids)
      sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct().persist()
      check(sym.count() == symEdges, "site-local symmetric edge count differs from the generator's")
    }
    keep = h.persistedIds
    h.setupPhase("warmup_s")(pass(null))
  }

  private def references(pl: PageSet, sl: PageSet): Unit = {
    val (ps, pd) = pl.edges()
    plEdges = ps.length
    val (rank, iters) = h.referenceTimed("pagerank_s")(
      Reference.pagerank(Reference.csr(nPowerLaw, ps, pd), 0.85, 1e-6, 50))
    refRank = rank
    refIters = iters
    val (ss0, sd0) = sl.edges()
    val (ss, sd) = Reference.symmetric(ss0, sd0)
    symEdges = ss.length
    val g = Reference.csr(nSiteLocal, ss, sd)
    refComponents = h.referenceTimed("cc_s")(Reference.components(g))
    val (labels, lpIters) = h.referenceTimed("lp_s")(Reference.labelPropagation(g, 4))
    refLabels = labels
    refLpIters = lpIters
    refTriangles = h.referenceTimed("triangles_s")(Reference.triangles(g))
  }

  private def sameIds(rows: Array[Row], n: Int, what: String): Unit = {
    check(rows.length == n, s"$what: ${rows.length} rows, want $n")
    check(rows.map(_.getLong(0)).sorted.sameElements(0L until n), s"$what: ids are not 0..n-1")
  }

  /** The calls of one pass. The warm-up pass (null) runs the same plans
    * with at most two loop rounds: every plan shape is compiled and JIT-warm
    * without paying for whole loops in setup. */
  def pass(p: Pass): Unit = {
    val warm = p == null
    def rounds(max: Int) = if (warm) 2 else max
    var buildSpan: Tracer.Span = null
    val adj = h.timed(p, "build_s") {
      val ids = h.span("ingest.idmap")(_ => Pages.idMap(powerLaw))
      h.span("graph.build") { s =>
        buildSpan = s
        Adjacency.build(Pages.edges(powerLaw, ids), nPowerLaw, Cores)
      }
    } { a =>
      check(a.numEdges == plEdges, s"adjacency has ${a.numEdges} edges, want $plEdges")
      buildSpan.attrs("cached_mb") = h.cachedMb(keep)
    }
    try adj.foreach { a =>
      h.timed(p, "pagerank_s") {
        h.span("algos.pagerank") { s =>
          val r = PageRank.run(spark, a, damping = 0.85, tol = 1e-6, maxIter = rounds(50))
          s.attrs("iters") = r.iterations
          s.attrs("edges_traversed") = r.edgesTraversed.toDouble
          (r, r.scores.collect())
        }
      } { case (r, rows) => if (!warm) {
        p.extra("pagerank_edges") = r.edgesTraversed.toDouble
        p.extra("pagerank_iters") = r.iterations
        check(r.iterations == refIters, s"pagerank ran ${r.iterations} iterations, reference $refIters")
        sameIds(rows, nPowerLaw, "pagerank")
        val worst = rows.map { row =>
          val want = refRank(row.getLong(0).toInt)
          math.abs(row.getDouble(1) - want) / math.abs(want)
        }.max
        check(worst <= 1e-6, s"pagerank relative error $worst > 1e-6")
      }}
    } finally adj.foreach(_.unpersist())

    h.timed(p, "cc_s") {
      h.span("algos.cc") { s =>
        val r = ConnectedComponents.run(spark, sym, nSiteLocal, Cores, maxIter = rounds(64))
        s.attrs("rounds") = r.iterations
        (r.iterations, r.components.collect())
      }
    } { case (iters, rows) => if (!warm) {
      p.extra("cc_rounds") = iters
      sameIds(rows, nSiteLocal, "components")
      check(rows.forall(r => r.getLong(1) == refComponents(r.getLong(0).toInt)),
        "component labels differ from the reference")
    }}

    h.timed(p, "lp_s") {
      h.span("algos.lp") { s =>
        val r = LabelPropagation.run(spark, sym, nSiteLocal, Cores, maxIter = rounds(4))
        s.attrs("rounds") = r.iterations
        (r.iterations, r.labels.collect())
      }
    } { case (iters, rows) => if (!warm) {
      check(iters == refLpIters, s"label propagation ran $iters rounds, reference $refLpIters")
      sameIds(rows, nSiteLocal, "labels")
      check(rows.forall(r => r.getLong(1) == refLabels(r.getLong(0).toInt)),
        "labels differ from the reference")
    }}

    // the shortest call runs three times a pass, so its median is steady
    for (_ <- 1 to 3) h.timed(p, "triangles_s") {
      h.span("algos.triangles") { s =>
        val t = TriangleCount.count(sym)
        s.attrs("triangles") = t.toDouble
        t
      }
    } { t => check(t == refTriangles, s"$t triangles, reference $refTriangles") }

    h.releaseExcept(keep)
  }
}

/** Small-graph queries: five `SparkEntry.queries` on a seeded sf0.01-shaped
  * lineitem table (937 vertices), where per-job and per-round driver cost
  * dominates. Rows are collected in the timed call and checked against the
  * DuckDB oracle by run.py; the oracle runs while this side sets up, and
  * setup waits for it so it never overlaps a timed call. */
final class SmallGraphQueries(h: Main.Harness) extends Main.Workload {
  import Main._
  import SmallGraphQueries.Queries
  import graft.SparkEntry
  import graft.graph.Adjacency

  private val spark = h.spark
  /** Queries that stand for an algorithm's end-to-end time. */
  private val metricOf = Map("pagerank" -> "pagerank_s", "connected_components" -> "cc_s",
    "label_propagation" -> "lp_s", "triangle_count" -> "triangles_s")
  private val n = 937L
  /** Iterations the `pagerank` query runs (fixed, tol = 0, in SparkEntry). */
  private val pagerankIters = 15
  private val dir = s"${h.runDir}/data/sf0.01"
  private val tmp = new File(System.getProperty("java.io.tmpdir"))

  private var edges: DataFrame = _
  private var refEdges = 0L
  private var keep = Set.empty[Int]
  private val collected = mutable.ArrayBuffer.empty[(Int, String, Array[Row], org.apache.spark.sql.types.StructType)]
  private var passNo = 0

  def setup(): Unit = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    edges = li.select((col("l_orderkey") % n).as("src"), (col("l_partkey") % n).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    refEdges = li.select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0) % n, r.getLong(1) % n)).filter { case (a, b) => a != b }
      .distinct.length
    keep = h.persistedIds
    h.setupPhase("warmup_s")(pass(null))
    val ready = new File(h.runDir, "oracle.ready")
    val until = System.nanoTime() + 150e9.toLong
    h.setupPhase("oracle_wait_s")(
      while (!ready.exists() && System.nanoTime() < until) Thread.sleep(20))
    check(ready.exists(), "oracle did not finish")
  }

  private def resumeDirs: Set[File] =
    Option(tmp.listFiles()).map(_.filter(_.getName.startsWith("graft-resume")).toSet).getOrElse(Set.empty)

  private def sizeOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L) else f.length

  private def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  def pass(p: Pass): Unit = {
    // the build is short here: three a pass, so its median is steady
    for (_ <- 1 to 3) {
      var buildSpan: Tracer.Span = null
      h.timed(p, "build_s") {
        h.span("graph.build") { s => buildSpan = s; Adjacency.build(edges, n, Cores) }
      } { a =>
        try {
          check(a.numEdges == refEdges, s"adjacency has ${a.numEdges} edges, want $refEdges")
          buildSpan.attrs("cached_mb") = h.cachedMb(keep)
        } finally a.unpersist()
      }
    }
    for (q <- Queries) {
      val before = resumeDirs
      var qSpan: Tracer.Span = null
      h.timed(p, metricOf.getOrElse(q, s"query.$q")) {
        h.span(s"entry.$q") { s =>
          qSpan = s
          val df = SparkEntry.queries(q)(spark, dir)
          (df.collect(), df.schema)
        }
      } { case (rows, schema) =>
        check(rows.nonEmpty, s"$q returned no rows")
        if (p != null) {
          collected += ((passNo, q, rows, schema))
          if (q == "pagerank") p.extra("pagerank_edges") = refEdges.toDouble * pagerankIters
        }
        val written = resumeDirs -- before
        qSpan.attrs("output_mb") = written.toSeq.map(sizeOf).sum / MB
        written.foreach(delete)
      }
    }
    h.releaseExcept(keep)
    if (p != null) passNo += 1
  }

  /** Write the collected rows for run.py's oracle comparison. */
  override def finish(): Map[String, Any] = {
    val files = collected.map { case (i, q, rows, schema) =>
      val path = s"${h.runDir}/rows/p$i/$q"
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.parquet(path)
      Map("pass" -> i, "query" -> q, "path" -> path)
    }
    Map("rows" -> files.toSeq)
  }
}

object SmallGraphQueries {
  val Queries = Seq("pagerank", "pagerank_resume", "connected_components",
    "label_propagation", "triangle_count")

  /** The oracle SQL of every query, for run.py's DuckDB check; renamed
    * into place so the reader never sees a partly written file. */
  def writeOracleSql(runDir: String): Unit = {
    val part = Paths.get(runDir, "oracle_sql.json.part")
    Files.write(part, Json.write(Queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap)
      .getBytes("UTF-8"))
    Files.move(part, Paths.get(runDir, "oracle_sql.json"), StandardCopyOption.ATOMIC_MOVE)
  }
}
