package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Ckpt, CkptState}

final case class BowTieResult(classes: DataFrame, coreId: Option[Long], rounds: Int)

/** Bow-tie decomposition of a directed web graph (Broder et al., "Graph
  * structure in the Web", WWW 2000): pick the giant SCC as the CORE, then
  * classify every other vertex as IN (reaches the core), OUT (reached from
  * the core), or OTHER (tendrils, tubes, disconnected — the full five-way
  * refinement needs two more reachability passes and is rarely reported).
  *
  * CORE = the largest SCC from [[SCC.run]] (ties broken by smaller scc id,
  * so the choice is deterministic). The two reachability passes reuse
  * [[MinReach]] with a SENTINEL seed label: core vertices start at -1
  * (smaller than every id), everything else at its own id; after the
  * accelerated fixpoint, label -1 marks exactly the vertices with a path
  * to (respectively from) the core — the sentinel propagates like any
  * other minimum and pointer jumps keep both passes at ~log-iteration
  * counts instead of graph-diameter ones.
  *
  * Output: (id, cls) with cls ∈ {'core','in','out','other'}; `coreId` is
  * the core's scc id, None on an empty edge set.
  */
object BowTie {

  def run(spark: SparkSession, edges: DataFrame,
          numPartitions: Int): BowTieResult = {
    val sccRes = SCC.run(spark, edges, numPartitions)
    val comp = sccRes.components // already a flat materialized Ckpt plan

    // giant SCC, deterministic tie-break on the smaller scc id. headOption:
    // an empty edge set yields an empty SCC relation, and the result is
    // then an empty classification, not a NoSuchElementException on the
    // driver.
    val coreId = comp.groupBy("scc").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("scc"))
      .select(col("scc")).limit(1).collect()
      .headOption.map(_.getLong(0))
    val isCore = coreId.fold(lit(false))(col("scc") === _)

    val seed = comp.select(col("id"),
      when(isCore, lit(-1L)).otherwise(col("id")).as("c"))

    // The IN and OUT reachability passes are INDEPENDENT — overlap them
    // from two driver threads (guide §2.6: actions are only sequential
    // because the driver calls them sequentially). Each pass's tiny
    // per-iteration stages leave most executors idle, so the other pass's
    // tasks back-fill them; results are unchanged (no shared state beyond
    // the immutable seed/edge plans).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      // IN: v reaches the core — propagate the sentinel AGAINST edge
      // direction, i.e. along the reversed edge set
      val fIn = pool.submit(new java.util.concurrent.Callable[(CkptState, CkptState)] {
        def call() = {
          val revState = Ckpt.materialize(edges
            .select(col("dst").as("src"), col("src").as("dst"))
            .repartition(numPartitions, col("src")).sortWithinPartitions("src"))
          val (inState, _) = MinReach.minReachColor(seed, revState.df, numPartitions)
          (revState, inState)
        }
      })
      // OUT: the core reaches v — propagate along the forward edges
      val fOut = pool.submit(new java.util.concurrent.Callable[(CkptState, CkptState)] {
        def call() = {
          val fwdState = Ckpt.materialize(edges.select(col("src"), col("dst"))
            .repartition(numPartitions, col("src")).sortWithinPartitions("src"))
          val (outState, _) = MinReach.minReachColor(seed, fwdState.df, numPartitions)
          (fwdState, outState)
        }
      })
      val (revState, inState) = fIn.get()
      val (fwdState, outState) = fOut.get()

      val inSet = inState.df.filter(col("c") === -1L)
        .select(col("id"), lit(true).as("_in"))
      val outSet = outState.df.filter(col("c") === -1L)
        .select(col("id"), lit(true).as("_out"))
      val classes = comp
        .join(inSet, Seq("id"), "left")
        .join(outSet, Seq("id"), "left")
        .select(col("id"),
          when(isCore, "core")
            .when(col("_in").isNotNull, "in")
            .when(col("_out").isNotNull, "out")
            .otherwise("other").as("cls"))
      val out = Ckpt.materialize(classes).df
      Seq(fwdState, revState, inState, outState).foreach(_.release())
      BowTieResult(out, coreId, sccRes.rounds)
    } finally pool.shutdown()
  }
}
